package graft.vcf

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.types.{ArrayType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{RowBytes, RowText, SortedKeys}

/** InternalRow → VCF line bytes (trailing '\n' included): the VCF sink's
  * only write path. Byte for byte the line the test-scope object-model
  * writer (`VcfSpecWriter` over the row converted to a `Variant`) renders,
  * and it throws where that writer throws, with the same exception class
  * (VcfRowEncoderSpec and RowEncoderSweepSpec).
  *
  * ASCII text is copied from the row's bytes; non-ASCII text is written as
  * its `String` round trip (malformed UTF-8 becomes U+FFFD) and map keys sort
  * in `String` order. A null CHROM or REF is written as the text `null`, as
  * the writer's `StringBuilder` does. No per-row allocation on the ASCII
  * GT-only cohort shape (the hot write path, VcfWriteCostSpec).
  */
final class VcfRowEncoder(schema: StructType) extends RowBytes(1 << 12) {
  import VcfRowEncoder._

  private val idx = indices(schema)
  private val keys = new SortedKeys
  /** FORMAT keys of the row being encoded, in their `String` forms. */
  private val fmtKeys = new java.util.ArrayList[UTF8String]()
  /** The row's genotype structs and FORMAT maps, fetched once per row. */
  private var gRows = new Array[InternalRow](16)
  private var gMaps = new Array[MapData](16)

  // coordinates of the row just encoded, for writer-side index bookkeeping
  var lastContig: String = _
  var lastStart: Int = 0
  var lastEnd: Int = 0
  var lastHasGenotypes: Boolean = false

  // contig UTF8String → String memo (records arrive in contig runs); the
  // incoming bytes are writer-reused, so the key must be cloned
  private var memoContig: UTF8String = _

  private def putInt(v0: Int): Unit =
    if (v0 < 0) putAscii(v0.toString) // rare; Int.MinValue-safe
    else {
      var v = v0
      ensure(10)
      var digits = 1
      var p = 10
      while (p <= v && p < 1000000000) { digits += 1; p *= 10 }
      if (p <= v) digits = 10
      var i = pos + digits - 1
      while (i >= pos) { buf(i) = ('0' + v % 10).toByte; v /= 10; i -= 1 }
      pos += digits
    }

  /** Sample names of this row's genotypes (writer header bootstrap — called
    * until the first genotyped row is seen, then never again).
    */
  def samplesOf(row: InternalRow): Seq[String] = {
    val x = idx
    if (x.genotypes < 0 || row.isNullAt(x.genotypes)) return Nil
    val a = row.getArray(x.genotypes)
    (0 until a.numElements()).map { j =>
      val g = a.getStruct(j, x.gArity)
      if (x.gSample < 0 || g.isNullAt(x.gSample)) null else g.getUTF8String(x.gSample).toString
    }
  }

  /** Encode one row into `buf` (line + '\n'); returns the length. Checks run
    * in the converter's order: per genotype a null struct or a null FORMAT
    * value, then a null ALT or FILTER element, then a null INFO value, then
    * a null CHROM or REF.
    */
  def encode(row: InternalRow): Int = {
    pos = 0
    val x = idx
    lastStart = if (row.isNullAt(x.start)) 0 else row.getInt(x.start)
    lastEnd = if (x.end < 0 || row.isNullAt(x.end)) 0 else row.getInt(x.end)

    // the converter builds the genotypes before the site fields: a null
    // genotype or FORMAT value fails first
    val gts = if (x.genotypes < 0 || row.isNullAt(x.genotypes)) null else row.getArray(x.genotypes)
    val nG = if (gts == null) 0 else gts.numElements()
    lastHasGenotypes = nG > 0
    if (gRows.length < nG) { gRows = new Array[InternalRow](nG); gMaps = new Array[MapData](nG) }
    var noFields = true
    var j = 0
    while (j < nG) {
      val g = gts.getStruct(j, x.gArity)
      if (g == null && (x.gFields >= 0 || x.gSample >= 0 || x.gGt >= 0))
        throw new NullPointerException(s"null genotype $j")
      val m = fields(g)
      gRows(j) = g
      gMaps(j) = m
      if (m != null && m.numElements() > 0) {
        RowText.requireValues(m, "null value for FORMAT key '", "' in VCF write (use '.' for missing)")
        noFields = false
      }
      j += 1
    }

    val contig = str(row, x.contig)
    if (contig == null) { memoContig = null; lastContig = null }
    else if (memoContig == null || !memoContig.equals(contig)) {
      memoContig = contig.clone()
      lastContig = memoContig.toString
    }
    // a null CHROM or REF fails below, after the values the converter checks
    if (contig != null) putUtf8(RowText.text(contig))
    putByte('\t')
    putInt(lastStart); putByte('\t')
    val id = str(row, x.id)
    if (id == null) putByte('.') else putUtf8(RowText.text(id))
    putByte('\t')
    val ref = str(row, x.ref)
    if (ref != null) putUtf8(RowText.text(ref))
    putByte('\t')
    putList(row, x.alt, ',')
    putByte('\t')

    // qual: integral & |d| < 1e15 → Long text
    if (x.qual < 0 || row.isNullAt(x.qual)) putByte('.')
    else {
      val d = row.getDouble(x.qual)
      putAscii(if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString)
    }
    putByte('\t')
    putList(row, x.filters, ';')
    putByte('\t')

    // info: sorted by key, dup keys last-wins; flag values ("") emit bare key
    val info = if (x.info < 0 || row.isNullAt(x.info)) null else row.getMap(x.info)
    if (info == null || info.numElements() == 0) putByte('.')
    else {
      RowText.requireValues(info, "null value for map key '",
        "' in VCF write (INFO/FORMAT values cannot be null)")
      val ks = info.keyArray(); val vs = info.valueArray()
      val n = keys.sort(ks, info.numElements())
      var i = 0
      while (i < n) {
        val e = keys.order(i)
        if (i > 0) putByte(';')
        putUtf8(RowText.text(keys.key(e)))
        val v = vs.getUTF8String(e)
        if (v.numBytes() > 0) { putByte('='); putUtf8(RowText.text(v)) }
        i += 1
      }
    }
    VcfRowEncoder.requireSiteFields(contig, ref)

    if (nG > 0) {
      // the converter substitutes "./." for a null gt, so GT is always first
      putByte('\t'); putByte('G'); putByte('T')
      if (noFields) {
        j = 0
        while (j < nG) { putByte('\t'); putGt(gRows(j)); j += 1 }
      } else putGenotypesWithFields(nG)
    }
    putByte('\n')
    pos
  }

  private def fields(g: InternalRow): MapData =
    if (idx.gFields < 0 || g.isNullAt(idx.gFields)) null else g.getMap(idx.gFields)

  private def putGt(g: InternalRow): Unit =
    if (idx.gGt < 0 || g.isNullAt(idx.gGt)) { putByte('.'); putByte('/'); putByte('.') }
    else putUtf8(RowText.text(g.getUTF8String(idx.gGt)))

  /** ALT / FILTER: '.' when absent or empty, else `sep`-joined; a null
    * element is the converter's `NullPointerException`.
    */
  private def putList(row: InternalRow, col: Int, sep: Char): Unit =
    if (col < 0 || row.isNullAt(col)) putByte('.')
    else {
      val a = row.getArray(col)
      val n = a.numElements()
      if (n == 0) putByte('.')
      var j = 0
      while (j < n) {
        if (a.isNullAt(j)) throw new NullPointerException(s"null element $j of ${schema(col).name}")
        if (j > 0) putByte(sep)
        putUtf8(RowText.text(a.getUTF8String(j)))
        j += 1
      }
    }

  /** FORMAT columns with per-sample fields: the union of field keys (distinct
    * and sorted as `String`s) after "GT", then per sample the gt and each
    * key's last value or ".".
    */
  private def putGenotypesWithFields(n: Int): Unit = {
    fmtKeys.clear()
    var allAscii = true
    var j = 0
    while (j < n) {
      val m = gMaps(j)
      if (m != null) {
        val ks = m.keyArray()
        var t = 0
        while (t < m.numElements()) {
          val k = RowText.text(ks.getUTF8String(t))
          if (!fmtKeys.contains(k)) {
            fmtKeys.add(k)
            if (allAscii && !RowText.ascii(k)) allAscii = false
          }
          t += 1
        }
      }
      j += 1
    }
    fmtKeys.sort(if (allAscii) ByteOrder else StringOrder)
    var q = 0
    while (q < fmtKeys.size) { putByte(':'); putUtf8(fmtKeys.get(q)); q += 1 }
    j = 0
    while (j < n) {
      putByte('\t')
      putGt(gRows(j))
      val m = gMaps(j)
      q = 0
      while (q < fmtKeys.size) {
        putByte(':')
        val k = fmtKeys.get(q)
        var vi = -1
        if (m != null) {
          val ks = m.keyArray()
          var t = 0
          while (t < m.numElements()) { // last match wins (Map + semantics)
            val kt = ks.getUTF8String(t)
            if ((if (allAscii) kt else RowText.text(kt)).equals(k)) vi = t
            t += 1
          }
        }
        if (vi < 0) putByte('.') else putUtf8(RowText.text(m.valueArray().getUTF8String(vi)))
        q += 1
      }
      j += 1
    }
  }
}

object VcfRowEncoder {
  /** CHROM and REF have no missing value: a null one fails the write with
    * its column named (the encoder and the spec writer both raise this).
    */
  def requireSiteFields(contig: AnyRef, ref: AnyRef): Unit =
    if (contig == null || ref == null) throw new IllegalArgumentException(
      s"null ${if (contig == null) "contig" else "ref"} in VCF write (CHROM and REF have no missing value)")

  /** Column positions of the variant schema in a sink's input (-1 = absent);
    * the genotype subfields resolve by name inside the struct.
    */
  final case class Idx(contig: Int, start: Int, end: Int, id: Int, ref: Int, alt: Int,
                       qual: Int, filters: Int, info: Int, genotypes: Int,
                       gSample: Int, gGt: Int, gFields: Int, gArity: Int) extends Serializable

  def indices(schema: StructType): Idx = {
    def i(n: String) = schema.fieldNames.indexOf(n)
    // genotype SUBFIELDS resolve by name too: a user df built as
    // struct(gt, sample, fields) — legal, same names — must not have its
    // sample written as the GT call (the read side has the mirror rule)
    val gi = i("genotypes")
    val (gs, gg, gf, ga) =
      if (gi < 0) (-1, -1, -1, 0)
      else schema(gi).dataType match {
        case ArrayType(st: StructType, _) =>
          (st.fieldNames.indexOf("sample"), st.fieldNames.indexOf("gt"),
            st.fieldNames.indexOf("fields"), st.length)
        case _ => (-1, -1, -1, 0)
      }
    Idx(i("contig"), i("start"), i("end"), i("id"), i("ref"), i("alt"), i("qual"),
      i("filters"), i("info"), gi, gs, gg, gf, ga)
  }

  private def str(row: InternalRow, i: Int): UTF8String =
    if (i < 0 || row.isNullAt(i)) null else row.getUTF8String(i)

  private val ByteOrder: java.util.Comparator[UTF8String] = (p, q) => p.binaryCompare(q)
  private val StringOrder: java.util.Comparator[UTF8String] = (p, q) => p.toString.compareTo(q.toString)
}
