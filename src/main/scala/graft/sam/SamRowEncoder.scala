package graft.sam

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.bam.BamRowEncoder
import graft.sources.{RowBytes, RowText, SortedKeys}

/** InternalRow → SAM text line bytes (trailing '\n' included): the SAM
  * sink's only write path. Byte for byte the line the test-scope
  * object-model writer (`SamSpecWriter`) renders, proven by
  * SamRowEncoderSpec and RowEncoderSweepSpec: non-ASCII text is written as its `String` round trip (malformed
  * UTF-8 becomes U+FFFD), tag keys sort in `String` order, and a null tag
  * value throws the converter's `IllegalArgumentException`.
  */
final class SamRowEncoder(schema: StructType) extends RowBytes(1 << 12) {
  private val idx = BamRowEncoder.indices(schema)
  private val keys = new SortedKeys

  private def putInt(v: Int): Unit = putAscii(Integer.toString(v))
  private def putText(s: UTF8String): Unit = if (s == null) putByte('*') else putUtf8(s)

  def encode(row: InternalRow): Int = {
    pos = 0
    val x = idx
    def str(i: Int): UTF8String =
      if (i < 0 || row.isNullAt(i)) null else RowText.text(row.getUTF8String(i))
    def int(i: Int): Int = if (i < 0 || row.isNullAt(i)) 0 else row.getInt(i)
    val attrs = if (x.attributes < 0 || row.isNullAt(x.attributes)) null else row.getMap(x.attributes)
    if (attrs != null)
      RowText.requireValues(attrs, "null value for attributes key '", "' (SAM tag values cannot be null)")
    val contig = str(x.contig)
    val mateContig = str(x.mateContig)
    putText(str(x.readName))
    putByte('\t'); putInt(int(x.flags)); putByte('\t')
    putText(contig)
    putByte('\t'); putInt(int(x.start)); putByte('\t')
    putInt(int(x.mapq)); putByte('\t')
    putText(str(x.cigar))
    putByte('\t')
    // mate rname: '=' when equal to contig (bytes of the `String` forms)
    if (mateContig != null && contig != null && mateContig.equals(contig)) putByte('=')
    else putText(mateContig)
    putByte('\t'); putInt(int(x.mateStart)); putByte('\t')
    putInt(int(x.tlen)); putByte('\t')
    putText(str(x.seq))
    putByte('\t')
    putText(str(x.qual))
    // attributes: sorted by key, dup keys last-value-wins, "tag:typed"
    if (attrs != null && attrs.numElements() > 0) {
      val ks = attrs.keyArray(); val vs = attrs.valueArray()
      val n = keys.sort(ks, attrs.numElements())
      var i = 0
      while (i < n) {
        val e = keys.order(i)
        putByte('\t'); putUtf8(RowText.text(keys.key(e)))
        putByte(':'); putUtf8(RowText.text(vs.getUTF8String(e)))
        i += 1
      }
    }
    putByte('\n')
    pos
  }
}
