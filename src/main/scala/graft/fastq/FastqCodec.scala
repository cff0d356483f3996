package graft.fastq

import org.apache.spark.sql.types._

/** A FASTQ record: `@name[ comment]` / sequence / `+[repeat]` / quality.
  * Raw (unaligned) reads — the lake stage BEFORE alignment; the reference
  * has no FASTQ surface (it starts at htsjdk-aligned formats), so this
  * source extends the same splittable-text machinery (SplitTextReader)
  * one format earlier in the pipeline.
  */
case class FastqRecord(readName: String, comment: String, seq: String, qual: String)

object FastqRecord {
  val schema: StructType = StructType(Seq(
    StructField("readName", StringType, nullable = false),
    StructField("comment", StringType, nullable = true),
    StructField("seq", StringType, nullable = false),
    StructField("qual", StringType, nullable = false)))
}

object FastqCodec {

  /** Could `l` be a record's sequence line? Used only by the split-phase
    * guesser — IUPAC letters, digits (color-space reads encode bases as
    * 0–3), and the gap/wildcard characters seen in the wild; the EMPTY
    * line is allowed too (zero-length reads exist after aggressive
    * trimming). Deliberately permissive, and consistent with what
    * [[parse]] accepts: a record that parses mid-split must also be
    * phase-detectable when a split boundary lands ON it, or behavior
    * becomes split-size-dependent (round-11 advice). The primary phase
    * signals are the '@'/'+' markers, the seq/qual length equality, and
    * the second-record confirmation.
    */
  private def plausibleSeq(l: String): Boolean =
    l.forall(c => Character.isLetterOrDigit(c) || c == '.' || c == '*' ||
      c == '=' || c == '-')

  /** Do four consecutive lines form a structurally valid record start? */
  def isRecordStart(l0: String, l1: String, l2: String, l3: String): Boolean =
    l0.length > 1 && l0.charAt(0) == '@' &&
      l2.nonEmpty && l2.charAt(0) == '+' &&
      l1.length == l3.length && plausibleSeq(l1)

  /** Find the record phase in a lookahead window of lines: the smallest
    * p in 0..3 such that lines(p..p+3) form a record start AND, when a
    * second record is visible, lines(p+4..p+7) also do (partial second
    * records are confirmed as far as they go). Returns -1 when no phase
    * fits — a split that lands in garbage, or fewer than 4 usable lines.
    *
    * This is the FASTQ analog of the BAM record guesser
    * (graft.bam.BamRecordGuesser): a quality line can itself start with
    * '@' or '+', so single-line sniffing is ambiguous — the 4-line
    * structure check chained across TWO records disambiguates (same
    * double-confirmation philosophy; reference BgzfBlockGuesser confirms
    * chained block headers the same way).
    */
  def detectPhase(look: IndexedSeq[String]): Int = {
    var p = 0
    while (p <= 3) {
      if (look.length >= p + 4 &&
          isRecordStart(look(p), look(p + 1), look(p + 2), look(p + 3))) {
        val confirmed =
          if (look.length >= p + 8)
            isRecordStart(look(p + 4), look(p + 5), look(p + 6), look(p + 7))
          else if (look.length >= p + 5)
            look(p + 4).length > 1 && look(p + 4).charAt(0) == '@'
          else true // record ends the window: nothing more to confirm
        if (confirmed) return p
      }
      p += 1
    }
    -1
  }

  /** Parse 4 validated lines into a record (header split into name +
    * optional comment at the first space, htsjdk/BioPython convention).
    */
  def parse(l0: String, l1: String, l2: String, l3: String): FastqRecord = {
    if (l0.isEmpty || l0.charAt(0) != '@')
      throw new java.io.IOException("FASTQ header must start with '@'")
    if (l2.isEmpty || l2.charAt(0) != '+')
      throw new java.io.IOException("FASTQ separator must start with '+'")
    if (l1.length != l3.length)
      throw new java.io.IOException(
        s"FASTQ seq/qual length mismatch: ${l1.length} vs ${l3.length}")
    val sp = l0.indexOf(' ')
    val name = if (sp < 0) l0.substring(1) else l0.substring(1, sp)
    val comment = if (sp < 0 || sp == l0.length - 1) null else l0.substring(sp + 1)
    FastqRecord(name, comment, l1, l3)
  }
}
