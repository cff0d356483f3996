package graft.bam

import graft.bgzf.{BgzfInputStream, SeekableInput}

/** Whole-file BAM read helpers: the sequential, single-threaded path.
  * The DSv2 source builds on the same codec; this is also the
  * differential-count oracle for tests (reference test strategy SURVEY.md §5:
  * engine count vs plain sequential decode).
  */
object BamIO {

  def readHeader(in: SeekableInput): (SamHeader, Long) = {
    val s = new BgzfInputStream(in)
    s.seekBlock(0L)
    val h = BamCodec.readHeader(s)
    (h, s.virtualOffset) // virtual offset of the first record
  }

  /** Sequential scan of all records (oracle path; does not close `in`). */
  def readAll(in: SeekableInput): (SamHeader, Iterator[AlignmentRecord]) = {
    val s = new BgzfInputStream(in)
    s.seekBlock(0L)
    val header = BamCodec.readHeader(s)
    val it = new Iterator[AlignmentRecord] {
      private var nextRec: AlignmentRecord = BamCodec.readRecord(s, header)
      def hasNext: Boolean = nextRec != null
      def next(): AlignmentRecord = {
        val r = nextRec
        nextRec = BamCodec.readRecord(s, header)
        r
      }
    }
    (header, it)
  }

  def readAllFile(path: java.nio.file.Path): (SamHeader, Seq[AlignmentRecord]) = {
    val in = SeekableInput.ofFile(path)
    try { val (h, it) = readAll(in); (h, it.toVector) } finally in.close()
  }
}
