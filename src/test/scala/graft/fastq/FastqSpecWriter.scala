package graft.fastq

import org.apache.spark.sql.catalyst.InternalRow

import graft.sources.fastq.RowToFastq.Idx

/** The object-model FASTQ writer: InternalRow → FastqRecord → the four wire
  * lines. The executable spec `FastqRowEncoder` is proven against
  * (FastqRowEncoderSpec, RowEncoderSweepSpec).
  */
object FastqSpecWriter {

  /** Record → the four wire lines (bare '+' separator). */
  def toLines(r: FastqRecord, sb: StringBuilder): Unit = {
    sb.append('@').append(r.readName)
    if (r.comment != null && r.comment.nonEmpty) sb.append(' ').append(r.comment)
    sb.append('\n').append(r.seq).append('\n').append('+').append('\n')
      .append(r.qual).append('\n')
  }

  /** InternalRow → FastqRecord against the sink's input schema. */
  def convert(row: InternalRow, i: Idx): FastqRecord = FastqRecord(
    readName = row.getUTF8String(i.readName).toString,
    comment = if (i.comment < 0 || row.isNullAt(i.comment)) null
      else row.getUTF8String(i.comment).toString,
    seq = row.getUTF8String(i.seq).toString,
    qual = row.getUTF8String(i.qual).toString)
}
