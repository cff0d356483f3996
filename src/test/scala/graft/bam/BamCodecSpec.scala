package graft.bam

import org.scalatest.funsuite.AnyFunSuite
import java.io.ByteArrayOutputStream
import graft.bgzf.{Bgzf, BgzfInputStream, BgzfOutputStream, SeekableInput}

/** Deterministic synthetic reads, mirroring the reference test generator
  * (AnySamTestUtil.writeAnySamFile:37-105 — pairs, unmapped-with-position
  * fragments, unplaced-unmapped tail).
  */
object TestReads {
  // chr21 long enough for pairs(1200) (max start 1_200_100): records beyond
  // the declared contig length are invalid BAM, and the guesser correctly
  // rejects them when probing split boundaries
  val refs = IndexedSeq(BamRef("chr20", 1000000), BamRef("chr21", 2000135))
  val header: SamHeader = SamHeader(refs)

  def pairs(n: Int, contig: String = "chr21"): Seq[AlignmentRecord] = {
    val recs = Seq.newBuilder[AlignmentRecord]
    for (i <- 0 until n) {
      val s1 = (i + 1) * 1000
      val s2 = s1 + 100
      def rec(start: Int, mate: Int, firstOf: Boolean) = AlignmentRecord(
        readName = f"test-read-$i%03d", flags = 0x1 | 0x2 | (if (firstOf) 0x40 else 0x80),
        contig = contig, start = start, end = start + 35, mapq = 60, cigar = "36M",
        mateContig = contig, mateStart = mate, tlen = if (firstOf) 136 else -136,
        seq = "ACGT" * 9, qual = "I" * 36,
        attributes = Map("RG" -> "Z:rg1", "NM" -> "i:0"))
      recs += rec(s1, s2, firstOf = true)
      recs += rec(s2, s1, firstOf = false)
    }
    recs.result()
  }

  def unplacedUnmapped(n: Int): Seq[AlignmentRecord] =
    (0 until n).map(i => AlignmentRecord(
      readName = f"unplaced-$i%03d", flags = 0x4, contig = null, start = 0, end = 0,
      mapq = 0, cigar = "*", mateContig = null, mateStart = 0, tlen = 0,
      seq = "ACGT" * 9, qual = "I" * 36, attributes = Map("RG" -> "Z:rg1")))

  def mixed(nPairs: Int): Seq[AlignmentRecord] = pairs(nPairs) ++ unplacedUnmapped(2)
}

class BamCodecSpec extends AnyFunSuite {
  private val header = TestReads.header

  private def roundTrip(r: AlignmentRecord): AlignmentRecord = {
    val bytes = BamSpecWriter.encodeRecord(r, header)
    BamCodec.decodeRecord(java.util.Arrays.copyOfRange(bytes, 4, bytes.length), bytes.length - 4, header)
  }

  test("record round-trip: mapped pair member") {
    val r = TestReads.pairs(1).head
    assert(roundTrip(r) == r)
  }

  test("name-pruned decode: readName null, every other field identical") {
    val r = TestReads.pairs(1).head
    val bytes = BamSpecWriter.encodeRecord(r, header)
    val m = BamFieldMask.All.copy(name = false)
    val got = BamCodec.decodeRecord(
      java.util.Arrays.copyOfRange(bytes, 4, bytes.length), bytes.length - 4, header, m)
    assert(got.readName == null)
    assert(got.copy(readName = r.readName) == r)
  }

  test("record round-trip: unplaced unmapped, no cigar, null contig") {
    val r = TestReads.unplacedUnmapped(1).head
    assert(roundTrip(r) == r)
  }

  test("record round-trip: all tag types") {
    val r = TestReads.pairs(1).head.copy(attributes = Map(
      "XA" -> "A:x", "Xc" -> "c:-5", "XC" -> "C:200", "Xs" -> "s:-30000",
      "XS" -> "S:60000", "Xi" -> "i:-100000", "XI" -> "I:3000000000",
      "Xf" -> "f:1.5", "XZ" -> "Z:hello world", "XH" -> "H:1AFF",
      "XB" -> "B:i,1,-2,3", "XF" -> "B:f,1.5,2.5", "XE" -> "B:c"))
    assert(roundTrip(r) == r)
  }

  test("record round-trip: missing qual, star seq") {
    val r = TestReads.pairs(1).head.copy(qual = "*")
    assert(roundTrip(r) == r)
    val r2 = TestReads.unplacedUnmapped(1).head.copy(seq = "*", qual = "*")
    assert(roundTrip(r2) == r2)
  }

  test("record round-trip: odd-length sequence (nibble padding)") {
    val r = TestReads.pairs(1).head.copy(seq = "ACGTN", qual = "IIIII", cigar = "5M", end = 1004 + 0)
      .copy(start = 1000, end = 1004)
    assert(roundTrip(r) == r)
  }

  test("cigar reference-length arithmetic") {
    val ops = BamCodec.parseCigar("10M2I3D5N4S6=1X")
    assert(BamCodec.cigarRefLength(ops) == 10 + 3 + 5 + 6 + 1)
  }

  test("header round-trip through BGZF") {
    val bos = new ByteArrayOutputStream()
    val bgzf = new BgzfOutputStream(bos)
    BamCodec.writeHeader(bgzf, header)
    bgzf.close()
    val in = new BgzfInputStream(SeekableInput.ofBytes(bos.toByteArray))
    in.seekBlock(0L)
    val h2 = BamCodec.readHeader(in)
    assert(h2 == header)
  }

  test("whole-file round-trip: 1000 pairs + unmapped tail, multi-block") {
    val recs = TestReads.mixed(1000)
    val bos = new ByteArrayOutputStream()
    BamSpecWriter.write(bos, header, recs.iterator)
    val file = bos.toByteArray
    // multi-block: ~2002 records × ~90 B uncompressed spans several 64 KiB blocks
    var nBlocks = 0; var off = 0
    while (off < file.length) { val l = Bgzf.parseBlockLength(file, off, file.length - off); assert(l > 0); nBlocks += 1; off += l }
    assert(nBlocks > 3, s"want a multi-block file, got $nBlocks blocks")
    assert(file.takeRight(28).sameElements(Bgzf.EofBlock))
    val (h2, it) = BamIO.readAll(SeekableInput.ofBytes(file))
    assert(h2 == header)
    assert(it.toVector == recs)
  }

  test("record guesser: zero false negatives and zero false positives") {
    // granularity-1 ground truth: track every record-start virtual offset at
    // write time (the reference's BamRecordGuesserChecker oracle,
    // BamRecordGuesserChecker.java:75-139)
    val recs = TestReads.mixed(300)
    val bos = new ByteArrayOutputStream()
    val bgzf = new BgzfOutputStream(bos)
    BamCodec.writeHeader(bgzf, header)
    val headerEnd = bgzf.virtualOffset
    val truth = scala.collection.mutable.Set[Long]()
    recs.foreach { r =>
      truth += bgzf.virtualOffset
      bgzf.write(BamSpecWriter.encodeRecord(r, header))
    }
    bgzf.close()
    val file = bos.toByteArray
    val si = SeekableInput.ofBytes(file)
    val guesser = new BamRecordGuesser(si, header.refs, headerEnd)
    // enumerate every valid virtual offset in the file
    var blockOff = 0L
    var checkedTrue = 0
    var falsePos = 0
    while (blockOff < file.length - 28) {
      val blockLen = Bgzf.parseBlockLength(file, blockOff.toInt, file.length - blockOff.toInt)
      assert(blockLen > 0)
      val ucomp = new Array[Byte](Bgzf.MaxBlockSize)
      val un = Bgzf.inflateBlock(file, blockOff.toInt, blockLen, ucomp)
      for (intra <- 0 until un) {
        val voff = Bgzf.makeVirtualOffset(blockOff, intra)
        val got = guesser.checkRecordStart(voff)
        if (truth.contains(voff)) { assert(got, s"false negative at $voff"); checkedTrue += 1 }
        else if (got && voff >= headerEnd) falsePos += 1
      }
      blockOff += blockLen
    }
    assert(checkedTrue == recs.size)
    assert(falsePos == 0, s"$falsePos false positives")
  }

  test("firstRecordAtOrAfter: every split start maps to the correct record") {
    val recs = TestReads.mixed(300)
    val bos = new ByteArrayOutputStream()
    val bgzf = new BgzfOutputStream(bos)
    BamCodec.writeHeader(bgzf, header)
    val headerEnd = bgzf.virtualOffset
    val starts = Seq.newBuilder[Long]
    recs.foreach { r => starts += bgzf.virtualOffset; bgzf.write(BamSpecWriter.encodeRecord(r, header)) }
    bgzf.close()
    val file = bos.toByteArray
    val truth = starts.result()
    val si = SeekableInput.ofBytes(file)
    val guesser = new BamRecordGuesser(si, header.refs, headerEnd)
    // for a sample of byte offsets: result must equal the first true record
    // start in a block starting at/after that offset
    for (splitStart <- 0L until file.length.toLong by 997L) {
      val got = guesser.firstRecordAtOrAfter(splitStart, file.length.toLong)
      val expected = truth.find(v => Bgzf.blockStart(v) >= splitStart).getOrElse(-1L)
      assert(got == expected, s"splitStart=$splitStart got=$got expected=$expected")
    }
  }
}
