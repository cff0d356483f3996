package graft.vcf

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter, UnsafeWriter}
import org.apache.spark.sql.types.{ArrayType, StructType}
import org.apache.spark.unsafe.Platform

/** VCF data-line bytes → `UnsafeRow` of a scan's required schema, the
  * decode-side twin of [[VcfRowEncoder]]: the tab, ';', ',' and ':'
  * boundaries are found once and the row is written with Spark's unsafe
  * writers — no per-line `String`, `Variant`, `Genotype` or Scala `Map`.
  * The row is reused across lines.
  *
  * Rows are byte-identical to `VcfCodec.fromLine(line, samples, mask)`
  * copied through the test-scope `VariantRowBuilder` and projected to
  * `UnsafeRow` (VcfRowDecoderSpec), and [[parse]] throws exactly when
  * `fromLine` does under the same mask. The hazards that identity rests on:
  *   - Java `split`: trailing empty fields/tokens are dropped, except that
  *     a column with no separator is one token (an empty sample is `""`).
  *   - Numbers: plain ASCII shapes are parsed here; anything else ('+',
  *     ten digits, exponents, whitespace, NaN, non-ASCII digits) goes
  *     through `Integer.parseInt` / `Double.parseDouble` on the field's text.
  *   - Malformed UTF-8: a line with a non-ASCII byte in the part decoded
  *     is first replaced by its `String` round trip.
  *   - Map order: the spec's maps are Scala immutable `Map`s — insertion
  *     order up to 4 keys, hash order above (and after `- "GT"` of a
  *     5-key FORMAT map). The order is taken from the spec's own `Map`
  *     built once per key sequence and cached.
  */
final class VcfRowDecoder(required: StructType, samples: Seq[String], mask: VcfFormatMask) {
  import VcfRowDecoder._

  private val needG = mask.genotypes && samples.nonEmpty
  private val fullInfo = mask.info && mask.infoKeys.isEmpty
  private val readInfo = fullInfo || mask.info || mask.end
  private val useEnd = fullInfo || mask.end
  private val wantedInfo: Array[Array[Byte]] =
    if (mask.info) mask.infoKeys.map(_.map(_.getBytes(UTF_8)).toArray).getOrElse(Array.empty)
    else Array.empty
  private val fullFormat = mask.fields && mask.fieldKeys.isEmpty
  private val wantedFormat: Array[String] =
    if (mask.fields && !fullFormat) mask.fieldKeys.get.filterNot(_ == "GT").toArray else Array.empty
  // a pruned struct with neither gt nor selected FORMAT keys reads nothing
  // of the FORMAT/sample columns: names come from the header
  private val readFormat = fullFormat || mask.gt || wantedFormat.nonEmpty
  private val sampleBytes: Array[Array[Byte]] = samples.map(_.getBytes(UTF_8)).toArray

  private val cols: Array[Int] = required.fieldNames.map {
    case "contig" => CContig
    case "start" => CStart
    case "end" => CEnd
    case "id" => CId
    case "ref" => CRef
    case "alt" => CAlt
    case "qual" => CQual
    case "filters" => CFilters
    case "info" => CInfo
    case "genotypes" => CGenotypes
    case other => throw new IllegalArgumentException(s"unknown column $other")
  }
  // Catalyst may hand a pruned genotype struct with any subset of
  // {sample, gt, fields} in any order; consumers read it positionally
  private val gCols: Array[Int] = required.fields.find(_.name == "genotypes") match {
    case Some(f) =>
      f.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType].fieldNames.map {
        case "sample" => GSample
        case "gt" => GGt
        case "fields" => GFields
        case other => throw new IllegalArgumentException(s"unknown genotype field $other")
      }
    case None => Array.empty
  }

  private val out = new UnsafeRowWriter(cols.length, 1024)
  private val strings = new UnsafeArrayWriter(out, 8)
  private val structs = new UnsafeArrayWriter(out, 8)
  private val struct = new UnsafeRowWriter(structs, gCols.length)

  // ---- the parsed line ----------------------------------------------------

  private var line: Array[Byte] = Array.emptyByteArray
  private var ascii = true
  // token boundaries: fields of the line, then scratch for sub-splits
  private var fs = new Array[Int](16)
  private var fe = new Array[Int](16)
  /** The spec's field count (`f.length`). */
  private var nf = 0
  private var ts = new Array[Int](16)
  private var te = new Array[Int](16)

  /** POS and the END-aware end of the last parsed line. */
  var start: Int = 0
  var end: Int = 0
  private var qual = 0.0
  private var qualNull = true
  // INFO tokens that make the info map: key [iks, ike), value [ivs, ive)
  private var iks = new Array[Int](8)
  private var ike = new Array[Int](8)
  private var ivs = new Array[Int](8)
  private var ive = new Array[Int](8)
  private var nInfo = 0

  /** Parses the line `b(off until off + len)` (no '\n', no trailing '\r'):
    * everything `fromLine` validates — field count, POS, END, QUAL — is
    * checked here, so this throws iff the spec does. [[row]] then writes it.
    */
  def parse(b: Array[Byte], off: Int, len: Int): Unit = {
    line = b
    ascii = true
    split(off, off + len)
    if (!ascii) {
      line = new String(b, off, len, UTF_8).getBytes(UTF_8)
      split(0, line.length)
    }
    require(nf >= 8, s"bad VCF line ($nf fields)")
    start = parseInt(1)
    nInfo = 0
    var hasEnd = false // value of the last INFO token keyed END: [endVs, endVe)
    var endVs = 0
    var endVe = 0
    if (readInfo && !(fe(7) - fs(7) == 1 && line(fs(7)) == '.')) {
      var p = fs(7)
      val lim = fe(7)
      while (p < lim) {
        var q = p
        while (q < lim && line(q) != ';') q += 1
        if (q > p) { // empty tokens dropped
          var eq = p
          while (eq < q && line(eq) != '=') eq += 1
          val vs = if (eq < q) eq + 1 else q
          if (useEnd && eq - p == 3 && line(p) == 'E' && line(p + 1) == 'N' && line(p + 2) == 'D') {
            hasEnd = true; endVs = vs; endVe = q
          }
          if (fullInfo || isWanted(p, eq)) {
            if (nInfo == iks.length) growInfo()
            iks(nInfo) = p; ike(nInfo) = eq; ivs(nInfo) = vs; ive(nInfo) = q
            nInfo += 1
          }
        }
        p = q + 1
      }
    }
    end =
      if (hasEnd) parseInt(endVs, endVe)
      else start + textLength(fs(3), fe(3)) - 1
    qualNull = fe(5) - fs(5) == 1 && line(fs(5)) == '.'
    if (!qualNull) qual = parseDouble(fs(5), fe(5))
  }

  /** True iff the parsed line's contig is `c` (UTF-8 bytes). */
  def contigIs(c: Array[Byte]): Boolean = {
    val n = fe(0) - fs(0)
    if (n != c.length) return false
    var i = 0
    while (i < n) { if (line(fs(0) + i) != c(i)) return false; i += 1 }
    true
  }

  /** The parsed line's contig. */
  def contig: String = new String(line, fs(0), fe(0) - fs(0), UTF_8)

  /** Writes the parsed line as a row of the required schema. */
  def row(): UnsafeRow = {
    out.reset()
    out.zeroOutNullBytes()
    var i = 0
    while (i < cols.length) {
      cols(i) match {
        case CContig => writeField(i, 0)
        case CStart => out.write(i, start)
        case CEnd => out.write(i, end)
        case CId => if (isDot(2)) out.setNullAt(i) else writeField(i, 2)
        case CRef => writeField(i, 3)
        case CAlt => writeSplit(i, 4, ',')
        case CQual => if (qualNull) out.setNullAt(i) else out.write(i, qual)
        case CFilters => writeSplit(i, 6, ';')
        case CInfo => writeInfo(i)
        case CGenotypes => writeGenotypes(i)
      }
      i += 1
    }
    out.getRow
  }

  // ---- fields -------------------------------------------------------------

  /** Tab boundaries of `line(from until until)` and the spec's field
    * count: the full split (trailing empty fields dropped) when genotypes
    * are decoded, else `split("\t", 9)` with its fall back to the full
    * split when the 9th element is empty. `ascii` covers the bytes read.
    */
  private def split(from: Int, until: Int): Unit = {
    val cap = if (needG) Int.MaxValue else 9
    var n = 0
    var p = from
    var s = from
    var high = 0
    while (p < until && n < cap - 1) {
      val c = line(p)
      if (c == '\t') { addField(n, s, p); n += 1; s = p + 1 }
      else high |= c
      p += 1
    }
    addField(n, s, until) // the last field (capped: the rest of the line)
    n += 1
    ascii = high >= 0
    // trailing-empty rule: the full split always; the capped split only
    // when its last element is empty
    nf = n
    if (needG || fe(n - 1) == fs(n - 1)) while (nf > 0 && fe(nf - 1) == fs(nf - 1)) nf -= 1
  }

  private def addField(n: Int, s: Int, e: Int): Unit = {
    if (n == fs.length) { fs = java.util.Arrays.copyOf(fs, n * 2); fe = java.util.Arrays.copyOf(fe, n * 2) }
    fs(n) = s; fe(n) = e
  }

  private def isDot(f: Int): Boolean = fe(f) - fs(f) == 1 && line(fs(f)) == '.'

  private def isWanted(s: Int, e: Int): Boolean = {
    var w = 0
    while (w < wantedInfo.length) {
      val k = wantedInfo(w)
      if (k.length == e - s && {
        var i = 0
        while (i < k.length && line(s + i) == k(i)) i += 1
        i == k.length
      }) return true
      w += 1
    }
    false
  }

  private def growInfo(): Unit = {
    val n = iks.length * 2
    iks = java.util.Arrays.copyOf(iks, n); ike = java.util.Arrays.copyOf(ike, n)
    ivs = java.util.Arrays.copyOf(ivs, n); ive = java.util.Arrays.copyOf(ive, n)
  }

  /** `String.length` of `line(s until e)`: bytes when ASCII, else UTF-16
    * units of the (valid, round-tripped) UTF-8.
    */
  private def textLength(s: Int, e: Int): Int =
    if (ascii) e - s
    else {
      var n = 0
      var i = s
      while (i < e) {
        val c = line(i)
        if ((c & 0xc0) != 0x80) n += (if ((c & 0xf8) == 0xf0) 2 else 1)
        i += 1
      }
      n
    }

  private def parseInt(f: Int): Int = parseInt(fs(f), fe(f))

  /** `Integer.parseInt` of `line(s until e)`: plain 1-9 digit values here,
    * every other shape (and every failure) through the JDK.
    */
  private def parseInt(s: Int, e: Int): Int = {
    val neg = e > s && line(s) == '-'
    val d0 = if (neg) s + 1 else s
    if (e - d0 >= 1 && e - d0 <= 9) {
      var v = 0
      var i = d0
      while (i < e && line(i) >= '0' && line(i) <= '9') { v = v * 10 + (line(i) - '0'); i += 1 }
      if (i == e) return if (neg) -v else v
    }
    Integer.parseInt(new String(line, s, e - s, UTF_8))
  }

  /** `Double.parseDouble` of `line(s until e)`: `[-]digits[.digits]` with
    * at most 15 significant digits is one correctly rounded division of
    * two exact doubles; every other shape goes through the JDK.
    */
  private def parseDouble(s: Int, e: Int): Double = {
    val neg = e > s && line(s) == '-'
    var i = if (neg) s + 1 else s
    var m = 0L
    var digits = 0
    var scale = 0
    var dot = false
    var ok = i < e
    while (ok && i < e) {
      val c = line(i)
      if (c >= '0' && c <= '9') {
        m = m * 10 + (c - '0'); digits += 1
        if (dot) scale += 1
      } else if (c == '.' && !dot) dot = true
      else ok = false
      i += 1
    }
    // a dot needs digits on both sides, as in "37.5"
    if (ok && digits <= 15 && !(dot && (scale == 0 || scale == digits))) {
      val v = if (scale == 0) m.toDouble else m.toDouble / Pow10(scale)
      if (neg) -v else v
    } else java.lang.Double.parseDouble(new String(line, s, e - s, UTF_8))
  }

  // ---- writers ------------------------------------------------------------

  private def writeField(ord: Int, f: Int): Unit = out.write(ord, line, fs(f), fe(f) - fs(f))

  /** `field.split(sep)`: one token when the separator is absent, else the
    * tokens with trailing empty ones dropped; "." is the empty array.
    */
  private def writeSplit(ord: Int, f: Int, sep: Byte): Unit = {
    val prev = out.cursor()
    var n = 0
    if (!isDot(f)) {
      var s = fs(f)
      var p = s
      val lim = fe(f)
      while (p < lim) {
        if (line(p) == sep) { addTok(n, s, p); n += 1; s = p + 1 }
        p += 1
      }
      if (n == 0) { addTok(0, s, lim); n = 1 }
      else {
        addTok(n, s, lim); n += 1
        while (n > 0 && te(n - 1) == ts(n - 1)) n -= 1
      }
    }
    strings.initialize(n)
    var j = 0
    while (j < n) { strings.write(j, line, ts(j), te(j) - ts(j)); j += 1 }
    out.setOffsetAndSizeFromPreviousCursor(ord, prev)
  }

  private def addTok(n: Int, s: Int, e: Int): Unit = {
    if (n == ts.length) { ts = java.util.Arrays.copyOf(ts, n * 2); te = java.util.Arrays.copyOf(te, n * 2) }
    ts(n) = s; te(n) = e
  }

  private def writeInfo(ord: Int): Unit = {
    val o = infoOrders.order(line, iks, ike, nInfo, viaPlus = !fullInfo)
    val prev = out.cursor()
    beginMap(out)
    val keysAt = out.cursor()
    strings.initialize(o.size)
    var j = 0
    while (j < o.size) { val t = o.keyAt(j); strings.write(j, line, iks(t), ike(t) - iks(t)); j += 1 }
    Platform.putLong(out.getBuffer, keysAt - 8, out.cursor() - keysAt)
    strings.initialize(o.size)
    j = 0
    while (j < o.size) { val t = o.valueAt(j); strings.write(j, line, ivs(t), ive(t) - ivs(t)); j += 1 }
    out.setOffsetAndSizeFromPreviousCursor(ord, prev)
  }

  private def beginMap(w: UnsafeWriter): Unit = { w.grow(8); w.increaseCursor(8) }

  // ---- genotypes ----------------------------------------------------------

  private var format: FormatPlan = _
  private val formats = new java.util.HashMap[String, FormatPlan]()

  private def writeGenotypes(ord: Int): Unit = {
    val prev = out.cursor()
    if (!needG || nf <= 9) structs.initialize(0)
    else {
      val plan = if (readFormat) formatPlan() else null
      structs.initialize(sampleBytes.length)
      var si = 0
      while (si < sampleBytes.length) {
        val at = structs.cursor()
        writeGenotype(si, plan)
        structs.setOffsetAndSizeFromPreviousCursor(si, at)
        si += 1
      }
    }
    out.setOffsetAndSizeFromPreviousCursor(ord, prev)
  }

  private def writeGenotype(si: Int, plan: FormatPlan): Unit = {
    // the sample column's tokens (Java split), up to the last one the plan reads
    var c = 0
    if (plan != null && plan.limit > 0 && 9 + si < nf) {
      val s = fs(9 + si)
      val e = fe(9 + si)
      if (s == e) { addTok(0, s, s); c = 1 }
      else {
        var eff = e
        while (eff > s && line(eff - 1) == ':') eff -= 1
        var p = s
        var ts0 = s
        while (p < eff && c < plan.limit) {
          if (line(p) == ':') { addTok(c, ts0, p); c += 1; ts0 = p + 1 }
          p += 1
        }
        if (eff > s && c < plan.limit) { addTok(c, ts0, eff); c += 1 }
      }
    }
    val o = if (plan == null) NoKeys else plan.order(c)
    struct.resetRowWriter()
    var j = 0
    while (j < gCols.length) {
      gCols(j) match {
        case GSample => struct.write(j, sampleBytes(si))
        case GGt =>
          if (o.gt < 0) struct.setNullAt(j)
          else struct.write(j, line, ts(o.gt), te(o.gt) - ts(o.gt))
        case GFields =>
          val prev = struct.cursor()
          beginMap(struct)
          val keysAt = struct.cursor()
          strings.initialize(o.size)
          var k = 0
          while (k < o.size) { strings.write(k, plan.keyBytes(o.keyAt(k))); k += 1 }
          Platform.putLong(struct.getBuffer, keysAt - 8, struct.cursor() - keysAt)
          strings.initialize(o.size)
          k = 0
          while (k < o.size) { val t = o.valueAt(k); strings.write(k, line, ts(t), te(t) - ts(t)); k += 1 }
          struct.setOffsetAndSizeFromPreviousCursor(j, prev)
      }
      j += 1
    }
  }

  /** The plan of this line's FORMAT column, cached by its bytes. */
  private def formatPlan(): FormatPlan = {
    val s = fs(8)
    val n = fe(8) - s
    if (format != null && format.matches(line, s, n)) return format
    val key = new String(line, s, n, ISO_8859_1)
    format = formats.get(key)
    if (format == null) {
      if (formats.size >= MaxCached) formats.clear()
      format = new FormatPlan(java.util.Arrays.copyOfRange(line, s, s + n), fullFormat, mask.gt, wantedFormat)
      formats.put(key, format)
    }
    format
  }

  private val infoOrders = new OrderCache
}

object VcfRowDecoder {
  private final val CContig = 0
  private final val CStart = 1
  private final val CEnd = 2
  private final val CId = 3
  private final val CRef = 4
  private final val CAlt = 5
  private final val CQual = 6
  private final val CFilters = 7
  private final val CInfo = 8
  private final val CGenotypes = 9
  private final val GSample = 0
  private final val GGt = 1
  private final val GFields = 2

  private val MaxCached = 4096
  private val Pow10: Array[Double] = Array.tabulate(23)(i => math.pow(10, i))

  /** A spec map's entry order: entry `j` takes its key from token
    * `keyAt(j)` (first occurrence) and its value from token `valueAt(j)`
    * (last occurrence); `gt` is the GT token, -1 for none.
    */
  private final class Order(val keyAt: Array[Int], val valueAt: Array[Int], val gt: Int) {
    def size: Int = keyAt.length
  }
  private val NoKeys = new Order(Array.empty, Array.empty, -1)

  /** The order Scala's immutable `Map` gives the key sequence `keys` —
    * built the spec's way: `toMap` (then `- "GT"` when `dropGt`), or one
    * `+` per key (`viaPlus`).
    */
  private def specOrder(keys: Array[String], dropGt: Boolean, viaPlus: Boolean, gt: Int): Order = {
    var m: Map[String, Int] =
      if (viaPlus) keys.indices.foldLeft(Map.empty[String, Int])((acc, i) => acc + (keys(i) -> i))
      else keys.zipWithIndex.toMap
    if (dropGt) m -= "GT"
    val ks = new Array[Int](m.size)
    val vs = new Array[Int](m.size)
    var j = 0
    m.foreach { case (k, last) => ks(j) = keys.indexOf(k); vs(j) = last; j += 1 }
    new Order(ks, vs, gt)
  }

  /** Orders of INFO key sequences, cached by the keys' bytes. */
  private final class OrderCache {
    private var sig = new Array[Byte](64)
    private var sigLen = 0
    private var last: Order = NoKeys
    private var lastSig = new Array[Byte](64)
    private var lastLen = -1
    private val cache = new java.util.HashMap[String, Order]()

    def order(line: Array[Byte], ks: Array[Int], ke: Array[Int], n: Int, viaPlus: Boolean): Order = {
      // ';' can be in no key: the joined keys identify the sequence
      sigLen = 0
      var t = 0
      while (t < n) {
        val kl = ke(t) - ks(t)
        if (sigLen + kl + 1 > sig.length) sig = java.util.Arrays.copyOf(sig, (sigLen + kl + 1) * 2)
        System.arraycopy(line, ks(t), sig, sigLen, kl)
        sigLen += kl
        sig(sigLen) = ';'
        sigLen += 1
        t += 1
      }
      if (sigLen == lastLen && java.util.Arrays.equals(sig, 0, sigLen, lastSig, 0, lastLen)) return last
      val key = new String(sig, 0, sigLen, ISO_8859_1)
      var o = cache.get(key)
      if (o == null) {
        val keys = Array.tabulate(n)(t => new String(line, ks(t), ke(t) - ks(t), UTF_8))
        o = specOrder(keys, dropGt = false, viaPlus, -1)
        if (cache.size >= MaxCached) cache.clear()
        cache.put(key, o)
      }
      if (lastSig.length < sigLen) lastSig = new Array[Byte](sigLen * 2)
      System.arraycopy(sig, 0, lastSig, 0, sigLen)
      lastLen = sigLen
      last = o
      o
    }
  }

  /** One FORMAT column's decode plan: its keys (`split(':')` of the
    * column), how many of a sample's tokens are read (`limit`), and the
    * map order for each count of tokens a sample has, built lazily.
    *   - full FORMAT map: every key, `toMap - "GT"`, the GT token apart;
    *   - selected keys (`formatFields`) and/or GT: the listed keys in
    *     token order, one `+` per key, tokens read up to the last wanted.
    */
  private final class FormatPlan(bytes: Array[Byte], full: Boolean, gt: Boolean, wanted: Array[String]) {
    private val keys: Array[String] = new String(bytes, UTF_8).split(':')
    val keyBytes: Array[Array[Byte]] = keys.map(_.getBytes(UTF_8))
    // per token: 1 map key, 2 GT, 0 skipped
    private val kind: Array[Int] = keys.map { k =>
      if (k == "GT" && (full || gt)) 2
      else if (full || wanted.contains(k)) 1
      else 0
    }
    val limit: Int = if (full) keys.length else kind.lastIndexWhere(_ != 0) + 1
    private val orders = new Array[Order](limit + 1)

    def matches(b: Array[Byte], s: Int, n: Int): Boolean =
      n == bytes.length && java.util.Arrays.equals(bytes, 0, n, b, s, s + n)

    /** The order for a sample with `c` tokens read. */
    def order(c: Int): Order = {
      var o = orders(c)
      if (o == null) {
        val gtTok = (0 until c).lastIndexWhere(kind(_) == 2)
        o =
          if (full) specOrder(keys.take(c), dropGt = true, viaPlus = false, gtTok)
          else {
            val toks = (0 until c).filter(kind(_) == 1).toArray
            val sub = specOrder(toks.map(keys(_)), dropGt = false, viaPlus = true, gtTok)
            new Order(sub.keyAt.map(toks(_)), sub.valueAt.map(toks(_)), gtTok)
          }
        orders(c) = o
      }
      o
    }
  }
}
