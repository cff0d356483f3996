package graft.sam

import graft.bam.AlignmentRecord

/** The object-model SAM writer: AlignmentRecord → tab-separated SAM line
  * (spec §1.4/§1.5; the reference's SAMRecord.getSAMString,
  * SamSink.java:37-45). The executable spec `SamRowEncoder` is proven
  * against (SamRowEncoderSpec, RowEncoderSweepSpec).
  */
object SamSpecWriter {

  def toLine(r: AlignmentRecord): String = {
    val sb = new StringBuilder(128)
    sb.append(if (r.readName == null) "*" else r.readName).append('\t')
    sb.append(r.flags).append('\t')
    sb.append(if (r.contig == null) "*" else r.contig).append('\t')
    sb.append(r.start).append('\t')
    sb.append(r.mapq).append('\t')
    sb.append(if (r.cigar == null) "*" else r.cigar).append('\t')
    val mate =
      if (r.mateContig == null) "*"
      else if (r.contig != null && r.mateContig == r.contig) "="
      else r.mateContig
    sb.append(mate).append('\t')
    sb.append(r.mateStart).append('\t')
    sb.append(r.tlen).append('\t')
    sb.append(if (r.seq == null) "*" else r.seq).append('\t')
    sb.append(if (r.qual == null) "*" else r.qual)
    if (r.attributes != null) r.attributes.toSeq.sortBy(_._1).foreach { case (tag, typed) =>
      // "XO" -> "i:5"  ⇒  XO:i:5
      sb.append('\t').append(tag).append(':').append(typed)
    }
    sb.toString
  }
}
