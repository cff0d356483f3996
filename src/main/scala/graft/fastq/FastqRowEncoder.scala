package graft.fastq

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{RowBytes, RowText}
import graft.sources.fastq.RowToFastq

/** InternalRow → FASTQ wire bytes ('@name[ comment]\nseq\n+\nqual\n'): the
  * FASTQ sink's only write path. Byte for byte the record the test-scope
  * object-model writer (`FastqSpecWriter`) renders, proven by
  * FastqRowEncoderSpec and RowEncoderSweepSpec: non-ASCII
  * text is written as its `String` round trip (malformed UTF-8 becomes
  * U+FFFD), and a null name, seq or qual is the converter's
  * `NullPointerException`.
  */
final class FastqRowEncoder(idx: RowToFastq.Idx) extends RowBytes(1 << 12) {

  private def required(row: InternalRow, i: Int, what: String): UTF8String =
    if (row.isNullAt(i)) throw new NullPointerException(s"null FASTQ $what")
    else RowText.text(row.getUTF8String(i))

  def encode(row: InternalRow): Int = {
    pos = 0
    val name = required(row, idx.readName, "readName")
    val comment =
      if (idx.comment < 0 || row.isNullAt(idx.comment)) null else row.getUTF8String(idx.comment)
    val seq = required(row, idx.seq, "seq")
    val qual = required(row, idx.qual, "qual")
    putByte('@')
    putUtf8(name)
    if (comment != null && comment.numBytes() > 0) { putByte(' '); putUtf8(RowText.text(comment)) }
    putByte('\n')
    putUtf8(seq)
    putByte('\n'); putByte('+'); putByte('\n')
    putUtf8(qual)
    putByte('\n')
    pos
  }
}
