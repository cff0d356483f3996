package graft.bam

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.index.BaiIndex
import graft.sources.{RowBytes, RowText, SortedKeys}

/** InternalRow → BAM wire bytes (block_size + record): the BAM sink's only
  * write path. It renders every row shape in place, byte for byte as the
  * test-scope object-model writer (`BamSpecWriter` over the row converted
  * to an `AlignmentRecord`) does, and throws where that writer throws, with
  * the same exception class (BamRowEncoderSpec and RowEncoderSweepSpec).
  *
  * ASCII text is rendered from the row's bytes. Non-ASCII text takes the
  * writer's `String` semantics: a malformed UTF-8 sequence becomes U+FFFD,
  * seq/qual lengths count UTF-16 units, tag keys sort in `String` order.
  * A cigar of more than 65,535 ops spills to `CG:B,I` behind the kSmN
  * sentinel (SAMv1 §4.2.2).
  */
final class BamRowEncoder(schema: StructType, header: SamHeader) extends RowBytes(1 << 16) {
  import BamRowEncoder._

  private val idx = indices(schema)
  private val keys = new SortedKeys
  /** Parsed cigar ops (len << 4 | op) of the row being encoded. */
  private var ops = new Array[Int](64)

  // coordinates of the record just encoded, for writer-side index bookkeeping
  var lastRefId: Int = -1
  var lastStart: Int = 0 // row `start` column (1-based, 0 = unplaced)
  var lastEnd: Int = 0 // row `end` column
  var lastFlags: Int = 0

  // contig → refId memo for the run-heavy case (records arrive grouped by
  // contig); UTF8String keys must be cloned — the incoming row's backing
  // bytes are writer-reused
  private var lastContig: UTF8String = _
  private var lastContigRefId: Int = -1
  private var lastMateContig: UTF8String = _
  private var lastMateRefId: Int = -1

  private def putShortLE(v: Int): Unit = {
    ensure(2)
    buf(pos) = v.toByte; buf(pos + 1) = (v >> 8).toByte; pos += 2
  }
  private def putIntLE(v: Int): Unit = {
    ensure(4)
    buf(pos) = v.toByte; buf(pos + 1) = (v >> 8).toByte
    buf(pos + 2) = (v >> 16).toByte; buf(pos + 3) = (v >> 24).toByte
    pos += 4
  }
  private def putIntLEAt(at: Int, v: Int): Unit = {
    buf(at) = v.toByte; buf(at + 1) = (v >> 8).toByte
    buf(at + 2) = (v >> 16).toByte; buf(at + 3) = (v >> 24).toByte
  }

  private def refIdOfContig(s: UTF8String): Int =
    if (s == null) -1
    else if (lastContig != null && lastContig.equals(s)) lastContigRefId
    else {
      val id = header.refId(s.toString)
      lastContig = s.clone()
      lastContigRefId = id
      id
    }

  private def refIdOfMate(s: UTF8String): Int =
    if (s == null) -1
    else if (lastMateContig != null && lastMateContig.equals(s)) lastMateRefId
    else {
      val id = header.refId(s.toString)
      lastMateContig = s.clone()
      lastMateRefId = id
      id
    }

  /** Encode one row into `buf`; returns the total length (block_size field +
    * record). Checks run in the object-model writer's order: null tag
    * values, name length, cigar, seq/qual lengths, tags, then contig, mapq
    * and flags.
    */
  def encode(row: InternalRow): Int = {
    pos = 0
    val x = idx
    lastStart = if (x.start < 0 || row.isNullAt(x.start)) 0 else row.getInt(x.start)
    lastEnd = if (x.end < 0 || row.isNullAt(x.end)) 0 else row.getInt(x.end)
    lastFlags = if (x.flags < 0 || row.isNullAt(x.flags)) 0 else row.getInt(x.flags)

    val attrs: MapData =
      if (x.attributes < 0 || row.isNullAt(x.attributes)) null else row.getMap(x.attributes)
    if (attrs != null)
      RowText.requireValues(attrs, "null value for attributes key '", "' (SAM tag values cannot be null)")

    val name = RowText.text(str(row, x.readName))
    val contig = str(row, x.contig)
    val cigar = str(row, x.cigar)
    val mateContig = str(row, x.mateContig)
    val seq = str(row, x.seq)
    val qual = str(row, x.qual)
    val mapq = if (x.mapq < 0 || row.isNullAt(x.mapq)) 0 else row.getInt(x.mapq)
    val tlen = if (x.tlen < 0 || row.isNullAt(x.tlen)) 0 else row.getInt(x.tlen)
    val mateStart = if (x.mateStart < 0 || row.isNullAt(x.mateStart)) 0 else row.getInt(x.mateStart)

    // name: null/empty → "*"
    val starName = name == null || name.numBytes() == 0
    val nameLen = if (starName) 1 else name.numBytes()
    if (nameLen > 254) throw new IllegalArgumentException(s"requirement failed: read name too long: $name")

    val nOps = if (cigar == null || isStar(cigar)) 0 else parseCigar(cigar)
    // BAM's n_cigar_op is uint16: past it the ops move to a CG:B,I tag and
    // the cigar holds the kSmN sentinel (k = query, m = reference length)
    val spill = nOps > 0xFFFF
    var sentinelS = 0
    var sentinelN = 0
    if (spill) {
      var qlen = 0
      var i = 0
      while (i < nOps) {
        val op = ops(i) & 0xf // M I S = X consume query
        if (op == 0 || op == 1 || op == 4 || op == 7 || op == 8) qlen += ops(i) >>> 4
        i += 1
      }
      sentinelS = (qlen << 4) | 4
      sentinelN = (refLength(ops, nOps) << 4) | 3
    }
    val refLen = if (spill) sentinelN >>> 4 else refLength(ops, nOps)

    // seq/qual: the writer counts and maps UTF-16 units
    val seqStr = if (seq == null || RowText.ascii(seq)) null else seq.toString
    val lSeq =
      if (seq == null || isStar(seq)) 0 else if (seqStr == null) seq.numBytes() else seqStr.length
    val qualStar = qual == null || isStar(qual)
    val qualStr = if (qualStar || RowText.ascii(qual)) null else qual.toString
    if (!qualStar && (if (qualStr == null) qual.numBytes() else qualStr.length) != lSeq)
      throw new IllegalArgumentException("requirement failed: qual/seq length mismatch")

    val refId = refIdOfContig(contig)
    lastRefId = refId
    val mateRefId = refIdOfMate(mateContig)

    val sizeAt = pos
    putIntLE(0) // block_size placeholder
    val recStart = pos
    putIntLE(refId)
    putIntLE(lastStart - 1)
    putByte(nameLen + 1)
    putByte(mapq)
    val bin =
      if (lastStart - 1 >= 0)
        BaiIndex.reg2bin(lastStart - 1, if (refLen > 0) lastStart - 1 + refLen else lastStart)
      else 4680
    putShortLE(bin)
    putShortLE(if (spill) 2 else nOps)
    putShortLE(lastFlags)
    putIntLE(lSeq)
    putIntLE(mateRefId)
    putIntLE(mateStart - 1)
    putIntLE(tlen)
    if (starName) putByte('*') else putUtf8(name)
    putByte(0)
    if (spill) { putIntLE(sentinelS); putIntLE(sentinelN) }
    else {
      var i = 0
      while (i < nOps) { putIntLE(ops(i)); i += 1 }
    }
    if (lSeq > 0) {
      ensure((lSeq + 1) / 2)
      var i = 0
      while (i < lSeq) {
        val hi = if (seqStr == null) nibble(seq.getByte(i)) else nibbleOf(seqStr.charAt(i))
        val lo =
          if (i + 1 >= lSeq) 0
          else if (seqStr == null) nibble(seq.getByte(i + 1)) else nibbleOf(seqStr.charAt(i + 1))
        buf(pos) = ((hi << 4) | lo).toByte
        pos += 1
        i += 2
      }
    }
    ensure(lSeq)
    if (qualStar) java.util.Arrays.fill(buf, pos, pos + lSeq, 0xff.toByte)
    else {
      var i = 0
      while (i < lSeq) {
        val q = if (qualStr == null) qual.getByte(i).toInt else qualStr.charAt(i).toInt
        buf(pos + i) = (q - 33).toByte
        i += 1
      }
    }
    pos += lSeq
    if ((attrs != null && attrs.numElements() > 0) || spill) putTags(attrs, if (spill) nOps else 0)

    // a contig absent from the dictionary must fail, not silently become
    // unmapped — a wrong `refs` option would otherwise corrupt every record
    if (contig != null && refId < 0)
      throw new IllegalArgumentException(
        s"contig '$contig' not in reference dictionary (refs option / header @SQ lines)")
    // uint8 / uint16 wire fields — out-of-range inputs must not wrap
    if (mapq < 0 || mapq > 255)
      throw new IllegalArgumentException(s"requirement failed: mapq $mapq outside uint8")
    if (lastFlags < 0 || lastFlags > 0xFFFF)
      throw new IllegalArgumentException(s"requirement failed: flags $lastFlags outside uint16")
    putIntLEAt(sizeAt, pos - recStart)
    pos
  }

  /** "10M2I3D" → `ops`; returns the op count. Digits are `Character.isDigit`
    * and the length is an Int that may wrap, as in the object-model writer.
    */
  private def parseCigar(cigar: UTF8String): Int = {
    val s = if (RowText.ascii(cigar)) null else cigar.toString
    val n = if (s == null) cigar.numBytes() else s.length
    def ch(i: Int): Char = if (s == null) cigar.getByte(i).toChar else s.charAt(i)
    var nOps = 0
    var i = 0
    while (i < n) {
      var len = 0L
      while (i < n && isDigit(ch(i))) {
        len = len * 10 + (ch(i) - '0'); i += 1
        // BAM packs the length into 28 bits; a larger value would wrap into
        // the op nibble silently. Checked per digit, as BamCodec.parseCigar.
        if (len > 0xFFFFFFF) throw new IllegalArgumentException(
          s"requirement failed: cigar op length exceeds BAM's 28-bit field in $cigar")
      }
      if (i >= n) throw new IllegalArgumentException(s"requirement failed: bad cigar: $cigar")
      val op = BamCodec.CigarOps.indexOf(ch(i))
      if (op < 0) throw new IllegalArgumentException(
        s"requirement failed: bad cigar op '${ch(i)}' in $cigar")
      if (nOps == ops.length) ops = java.util.Arrays.copyOf(ops, nOps * 2)
      ops(nOps) = (len.toInt << 4) | op
      nOps += 1
      i += 1
    }
    nOps
  }

  /** Tags sorted by key, duplicate keys last-wins; a spilled cigar's
    * `CG:B,I` (its `nSpill` real ops) takes CG's place, replacing a user CG.
    */
  private def putTags(m: MapData, nSpill: Int): Unit = {
    val n = if (m == null) 0 else m.numElements()
    val c = if (n == 0) 0 else keys.sort(m.keyArray(), n)
    var cgDone = nSpill == 0
    var i = 0
    while (i < c) {
      val e = keys.order(i)
      val k = keys.key(e)
      val vsCg = if (cgDone) -1 else compareToCg(k)
      if (vsCg >= 0) {
        putCg(nSpill)
        cgDone = true
      }
      if (vsCg != 0) putTag(k, m.valueArray().getUTF8String(e))
      i += 1
    }
    if (!cgDone) putCg(nSpill)
  }

  private def compareToCg(k: UTF8String): Int =
    if (RowText.ascii(k)) k.binaryCompare(CgKey) else k.toString.compareTo("CG")

  private def putCg(n: Int): Unit = {
    putByte('C'); putByte('G'); putByte('B'); putByte('I')
    putIntLE(n)
    var i = 0
    while (i < n) { putIntLE(ops(i)); i += 1 }
  }

  private def putTag(k: UTF8String, v: UTF8String): Unit =
    if (!(RowText.ascii(k) && RowText.ascii(v) && putAsciiTag(k, v))) putTextTag(k.toString, v.toString)

  /** The common ASCII shapes straight from bytes: Z/H, one-character A and
    * canonical integers (optional '-', at most 18 digits, in range). False,
    * with nothing written, for every other shape.
    */
  private def putAsciiTag(k: UTF8String, v: UTF8String): Boolean = {
    val vn = v.numBytes()
    if (k.numBytes() != 2 || vn < 2 || v.getByte(1) != ':') return false
    val t = v.getByte(0).toChar
    t match {
      case 'Z' | 'H' =>
        putByte(k.getByte(0)); putByte(k.getByte(1)); putByte(t)
        ensure(vn - 2)
        var i = 2
        while (i < vn) { buf(pos) = v.getByte(i); pos += 1; i += 1 }
        putByte(0)
        true
      case 'A' =>
        if (vn != 3) return false
        putByte(k.getByte(0)); putByte(k.getByte(1)); putByte('A'); putByte(v.getByte(2))
        true
      case 'c' | 'C' | 's' | 'S' | 'i' | 'I' =>
        var i = 2
        var neg = false
        if (i < vn && v.getByte(i) == '-') { neg = true; i += 1 }
        if (i >= vn || vn - i > 18) return false
        var num = 0L
        while (i < vn) {
          val b = v.getByte(i)
          if (b < '0' || b > '9') return false
          num = num * 10 + (b - '0')
          i += 1
        }
        if (neg) num = -num
        // I: the writer parses a Long and truncates; the rest parse an Int
        if (t != 'I' && (num < Int.MinValue || num > Int.MaxValue)) return false
        putByte(k.getByte(0)); putByte(k.getByte(1)); putByte(t)
        t match {
          case 'c' | 'C' => putByte(num.toInt)
          case 's' | 'S' => putShortLE(num.toInt)
          case _ => putIntLE(num.toInt)
        }
        true
      case _ => false
    }
  }

  /** Any tag, with the object-model writer's `String` semantics and
    * exceptions ([[TagText.check]], `toInt`/`toLong`/`toFloat`, the
    * `IOException` for an unknown type or B subtype).
    */
  private def putTextTag(tag: String, typed: String): Unit = {
    TagText.check(tag, typed)
    putByte(tag.charAt(0)); putByte(tag.charAt(1))
    val t = typed.charAt(0)
    val v = typed.substring(2)
    putByte(t)
    t match {
      case 'A' => putByte(v.charAt(0))
      case 'c' | 'C' => putByte(v.toInt)
      case 's' | 'S' => putShortLE(v.toInt)
      case 'i' => putIntLE(v.toInt)
      case 'I' => putIntLE(v.toLong.toInt)
      case 'f' => putIntLE(java.lang.Float.floatToRawIntBits(v.toFloat))
      case 'Z' | 'H' =>
        val b = v.getBytes("UTF-8")
        ensure(b.length)
        System.arraycopy(b, 0, buf, pos, b.length)
        pos += b.length
        putByte(0)
      case 'B' =>
        val parts = v.split(',')
        val sub = parts(0).charAt(0)
        putByte(sub)
        putIntLE(parts.length - 1)
        var i = 1
        while (i < parts.length) {
          val p = parts(i)
          sub match {
            case 'c' | 'C' => putByte(p.toInt)
            case 's' | 'S' => putShortLE(p.toInt)
            case 'i' => putIntLE(p.toInt)
            case 'I' => putIntLE(p.toLong.toInt)
            case 'f' => putIntLE(java.lang.Float.floatToRawIntBits(p.toFloat))
            case x => throw new java.io.IOException(s"bad B subtype $x")
          }
          i += 1
        }
      case x => throw new java.io.IOException(s"bad tag type $x")
    }
  }
}

object BamRowEncoder {
  /** Column positions of the read schema in a sink's input (-1 = absent). */
  final case class Idx(readName: Int, flags: Int, contig: Int, start: Int, end: Int, mapq: Int,
                       cigar: Int, mateContig: Int, mateStart: Int, tlen: Int, seq: Int, qual: Int,
                       attributes: Int) extends Serializable

  def indices(schema: StructType): Idx = {
    def i(n: String) = schema.fieldNames.indexOf(n)
    Idx(i("readName"), i("flags"), i("contig"), i("start"), i("end"), i("mapq"), i("cigar"),
      i("mateContig"), i("mateStart"), i("tlen"), i("seq"), i("qual"), i("attributes"))
  }

  private val SeqNibbles = "=ACMGRSVTWYHKDBN"
  private val CgKey = UTF8String.fromString("CG")

  private def str(row: InternalRow, i: Int): UTF8String =
    if (i < 0 || row.isNullAt(i)) null else row.getUTF8String(i)

  private def isStar(s: UTF8String): Boolean = s.numBytes() == 1 && s.getByte(0) == '*'

  private def isDigit(c: Char): Boolean =
    if (c < 128) c >= '0' && c <= '9' else Character.isDigit(c)

  /** Sum of the reference-consuming (M D N = X) op lengths, wrapping as Int. */
  private def refLength(ops: Array[Int], n: Int): Int = {
    var r = 0
    var i = 0
    while (i < n) {
      val op = ops(i) & 0xf
      if (op == 0 || op == 2 || op == 3 || op == 7 || op == 8) r += ops(i) >>> 4
      i += 1
    }
    r
  }

  /** The seq nibble of one UTF-16 unit: its upper case's place in
    * `=ACMGRSVTWYHKDBN`, or 15 (N).
    */
  private def nibbleOf(c: Char): Int = {
    val i = SeqNibbles.indexOf(Character.toUpperCase(c))
    if (i < 0) 15 else i
  }

  /** [[nibbleOf]] for every ASCII byte. */
  private val NibbleTable: Array[Byte] = Array.tabulate[Byte](128)(c => nibbleOf(c.toChar).toByte)

  private def nibble(b: Byte): Int = NibbleTable(b & 0x7f)
}
