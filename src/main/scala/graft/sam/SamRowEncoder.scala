package graft.sam

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.bam.RowToRecord

/** Direct InternalRow → SAM text line bytes (trailing '\n' included),
  * bypassing the AlignmentRecord/String/Map materialization. Byte-compatible
  * with `(SamCodec.toLine(RowToRecord.convert(row, idx)) + "\n").getBytes` —
  * proven by SamRowEncoderSpec; shapes outside the fast path (non-ASCII
  * mandatory fields or attribute keys/values — the spec path's String
  * round-trip rewrites malformed UTF-8) fall back to that spec path.
  */
final class SamRowEncoder(schema: StructType) {
  private val idx = RowToRecord.indices(schema)

  var buf: Array[Byte] = new Array[Byte](1 << 12)
  private var pos = 0

  private def ensure(n: Int): Unit =
    if (pos + n > buf.length) {
      var cap = buf.length
      while (cap < pos + n) cap <<= 1
      buf = java.util.Arrays.copyOf(buf, cap)
    }
  private def putByte(b: Int): Unit = { ensure(1); buf(pos) = b.toByte; pos += 1 }
  private def putUtf8(s: UTF8String): Unit = {
    val n = s.numBytes()
    ensure(n)
    s.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos)
    pos += n
  }
  private def putAsciiString(s: String): Unit = {
    ensure(s.length)
    var i = 0
    while (i < s.length) { buf(pos + i) = s.charAt(i).toByte; i += 1 }
    pos += s.length
  }
  private def putInt(v: Int): Unit = putAsciiString(Integer.toString(v))

  private def ascii(s: UTF8String): Boolean = s == null || {
    val n = s.numBytes()
    var i = 0
    while (i < n) { if (s.getByte(i) < 0) return false; i += 1 }
    true
  }

  def encode(row: InternalRow): Int = {
    pos = 0
    val x = idx
    def str(i: Int): UTF8String =
      if (i < 0 || row.isNullAt(i)) null else row.getUTF8String(i)
    def int(i: Int): Int = if (i < 0 || row.isNullAt(i)) 0 else row.getInt(i)
    val name = str(x.readName)
    val contig = str(x.contig)
    val cigar = str(x.cigar)
    val mateContig = str(x.mateContig)
    val seq = str(x.seq)
    val qual = str(x.qual)
    if (!ascii(name) || !ascii(contig) || !ascii(cigar) || !ascii(mateContig) ||
        !ascii(seq) || !ascii(qual)) return fallback(row)
    if (name == null) putByte('*') else putUtf8(name)
    putByte('\t'); putInt(int(x.flags)); putByte('\t')
    if (contig == null) putByte('*') else putUtf8(contig)
    putByte('\t'); putInt(int(x.start)); putByte('\t')
    putInt(int(x.mapq)); putByte('\t')
    if (cigar == null) putByte('*') else putUtf8(cigar)
    putByte('\t')
    // mate rname: '=' when equal to contig (String == of the spec path is
    // byte equality for the ASCII strings the gate above admits)
    if (mateContig == null) putByte('*')
    else if (contig != null && mateContig.equals(contig)) putByte('=')
    else putUtf8(mateContig)
    putByte('\t'); putInt(int(x.mateStart)); putByte('\t')
    putInt(int(x.tlen)); putByte('\t')
    if (seq == null) putByte('*') else putUtf8(seq)
    putByte('\t')
    if (qual == null) putByte('*') else putUtf8(qual)
    // attributes: sorted by key, dup keys last-value-wins, "tag:typed"
    if (x.attributes >= 0 && !row.isNullAt(x.attributes)) {
      val m = row.getMap(x.attributes)
      val n = m.numElements()
      if (n > 0) {
        val ks = m.keyArray(); val vs = m.valueArray()
        val order = new Array[Int](n)
        var i = 0
        while (i < n) { order(i) = i; i += 1 }
        i = 1
        while (i < n) {
          val v = order(i)
          val kv = ks.getUTF8String(v)
          var j = i - 1
          while (j >= 0 && ks.getUTF8String(order(j)).binaryCompare(kv) > 0) {
            order(j + 1) = order(j); j -= 1
          }
          order(j + 1) = v
          i += 1
        }
        i = 0
        while (i < n) {
          val ki = ks.getUTF8String(order(i))
          if (!ascii(ki)) { pos = 0; return fallback(row) }
          var bestIdx = order(i)
          var j = i + 1
          while (j < n && ks.getUTF8String(order(j)).binaryCompare(ki) == 0) {
            if (order(j) > bestIdx) bestIdx = order(j)
            j += 1
          }
          if (vs.isNullAt(bestIdx)) { pos = 0; return fallback(row) } // spec NPEs
          val v = vs.getUTF8String(bestIdx)
          if (!ascii(v)) { pos = 0; return fallback(row) }
          putByte('\t'); putUtf8(ks.getUTF8String(bestIdx)); putByte(':'); putUtf8(v)
          i = j
        }
      }
    }
    putByte('\n')
    pos
  }

  private def fallback(row: InternalRow): Int = {
    pos = 0
    val bytes = SamCodec.toLine(RowToRecord.convert(row, idx)).getBytes("UTF-8")
    ensure(bytes.length + 1)
    System.arraycopy(bytes, 0, buf, 0, bytes.length)
    pos = bytes.length
    buf(pos) = '\n'
    pos += 1
    pos
  }
}
