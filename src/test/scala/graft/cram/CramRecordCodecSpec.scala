package graft.cram

import org.scalatest.funsuite.AnyFunSuite
import graft.bam.{AlignmentRecord, BamRef, SamHeader}
import graft.bgzf.SeekableInput

/** Record-layer codec against a REAL htsjdk-written CRAM (v2.1, gzip
  * profile, core-Huffman series, detached mates, substitution features) —
  * the strongest available decode oracle without htsjdk in the sandbox —
  * plus self-roundtrip through the v3 writer profile (RR=false, external
  * series, rANS/gzip blocks) with field-level equality.
  */
class CramRecordCodecSpec extends AnyFunSuite {

  private val refDir = java.nio.file.Paths.get("/root/reference/src/test/resources")
  private def haveRefData = java.nio.file.Files.exists(refDir.resolve("valid.cram"))

  private def decodeValid(): (SamHeader, IndexedSeq[AlignmentRecord]) = {
    val fasta = SeekableInput.ofFile(refDir.resolve("valid.fasta"))
    val fai = Fasta.parseFai(new String(
      java.nio.file.Files.readAllBytes(refDir.resolve("valid.fasta.fai")), "UTF-8"))
    val in = SeekableInput.ofFile(refDir.resolve("valid.cram"))
    try {
      val header = CramRecordCodec.readSamHeader(in)
      val refs = new FastaRefSource(fasta, fai, header.refName)
      CramRecordCodec.decodeFile(in, refs)
    } finally { in.close(); fasta.close() }
  }

  test("decodes an htsjdk-written CRAM 2.1 file record-exactly") {
    assume(haveRefData)
    val (header, recs) = decodeValid()
    assert(recs.length == 8)
    assert(header.refs.nonEmpty && header.refs(6).name == "chr7")

    // the picard ValidateSamFile fixture's pair structure
    assert(recs.map(_.readName) == IndexedSeq(
      "both_reads_align_clip_marked", "both_reads_present_only_first_aligns",
      "read_2_too_many_gaps", "both_reads_align_clip_adapter",
      "both_reads_align_clip_adapter", "both_reads_align_clip_marked",
      "read_2_too_many_gaps", "both_reads_present_only_first_aligns"))
    assert(recs.map(_.flags) == IndexedSeq(1107, 89, 83, 147, 99, 163, 163, 165))
    assert(recs.map(_.start) == IndexedSeq(1, 1, 1, 16, 21, 302, 302, 0))
    assert(recs.map(_.cigar) == IndexedSeq(
      "101M", "101M", "101M", "101M", "101M", "101M", "10M1D10M5I76M", "*"))
    // detached mate info round-tripped from MF/NS/NP/TS
    assert(recs(0).mateContig == "chr7" && recs(0).mateStart == 302 && recs(0).tlen == 201)
    assert(recs(5).tlen == -201)
    assert(recs(1).mateContig == null && recs(1).mateStart == 0)
    // every record carries 101 bases with qualities
    assert(recs.filter(_.cigar == "101M").forall(r => r.seq.length == 101 && r.qual.length == 101))
    // substitution features were applied against the real reference:
    // read 0 differs from chr7[1..101] at specific positions but matches
    // its own first base reconstruction
    assert(recs(0).seq.startsWith("CAACAGAAGC"))
    assert(recs(6).end == recs(6).start + 101 + 1 - 5 - 1) // 10M1D10M5I76M: ref len = 97
    // tags decoded through the canonical-Huffman/external/byte-array codecs
    assert(recs(0).attributes("MQ") == "C:255")
    assert(recs(0).attributes("XT") == "Z:foo")
    assert(recs(0).attributes("PG") == "Z:1")
    assert(recs(0).attributes("OQ").startsWith("Z:1111"))
    assert(recs(7).attributes.get("XT").isEmpty)
    // read groups resolved to @RG IDs
    assert(recs.forall(_.attributes.contains("RG")))
    // unmapped tail record
    assert((recs(7).flags & 0x4) != 0 && recs(7).cigar == "*" && recs(7).end == 0)
    assert(recs(7).seq.length == 101)
  }

  test("decoded records survive the v3 writer roundtrip field-identically") {
    assume(haveRefData)
    val (header, recs) = decodeValid()
    val enc = CramRecordWriter.encodeContainer(recs, header, recordCounter = 0L)
    assert(enc.nRecords == 8)
    // frame it as a complete v3 file and decode through the public path
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(CramContainers.encodeFileDefinition())
    bos.write(CramRecordWriter.encodeHeaderContainer(header))
    bos.write(enc.bytes)
    bos.write(CramContainers.encodeEofContainer())
    val in = SeekableInput.ofBytes(bos.toByteArray)
    val (header2, back) = CramRecordCodec.decodeFile(in, NoRefSource)
    assert(header2.text == header.text)
    assert(back.length == recs.length)
    recs.zip(back).foreach { case (a, b) => assert(b == a, s"record ${a.readName}") }
  }

  test("multi-ref and unmapped-only containers roundtrip") {
    val header = SamHeader(IndexedSeq(BamRef("chr1", 1000), BamRef("chr2", 1000)))
    def mk(name: String, flags: Int, contig: String, start: Int, cigar: String,
           seq: String, mapq: Int): AlignmentRecord =
      AlignmentRecord(name, flags, contig, start,
        end = 0, mapq = mapq, cigar = cigar, mateContig = null, mateStart = 0, tlen = 0,
        seq = seq, qual = if (seq == "*") "*" else "I" * seq.length,
        attributes = Map("NM" -> "i:2"))
    val recs = IndexedSeq(
      mk("r1", 0, "chr1", 10, "4M", "ACGT", 30).copy(end = 13),
      mk("r2", 0, "chr2", 20, "2M1I1M", "GGTT", 30).copy(end = 22),
      mk("r3", 4, null, 0, "*", "AACC", 0), // CRAM stores no MAPQ for unmapped reads
      mk("r4", 0, "chr1", 50, "2S2M", "TTAA", 30).copy(end = 51))
    val enc = CramRecordWriter.encodeContainer(recs, header, 0L)
    assert(enc.refSeqId == -2) // mixed refs → multi-ref slice
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(CramContainers.encodeFileDefinition())
    bos.write(CramRecordWriter.encodeHeaderContainer(header))
    bos.write(enc.bytes)
    bos.write(CramContainers.encodeEofContainer())
    val (_, back) = CramRecordCodec.decodeFile(SeekableInput.ofBytes(bos.toByteArray), NoRefSource)
    assert(back == recs)
  }

  test("the records writer parses cigars with BAM's parser: no wrap, no dropped digits") {
    assert(CramRecordWriter.cigarOps("3M2D5M") == Seq((3, 'M'), (2, 'D'), (5, 'M')))
    for (bad <- Seq("4294967297M", "268435456M", "4M3", "4Q"))
      intercept[IllegalArgumentException](CramRecordWriter.cigarOps(bad))
  }

  test("unknown-sequence mapped records keep their CIGAR shape") {
    val header = SamHeader(IndexedSeq(BamRef("chr1", 1000)))
    val r = AlignmentRecord("q", 0, "chr1", 5, end = 14, mapq = 7, cigar = "3M2D5M1N2M",
      mateContig = null, mateStart = 0, tlen = 0, seq = "*", qual = "*",
      attributes = Map.empty)
    val rl = CramRecordWriter.cigarQueryLen("3M2D5M1N2M")
    assert(rl == 10)
    val enc = CramRecordWriter.encodeContainer(IndexedSeq(r), header, 0L)
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(CramContainers.encodeFileDefinition())
    bos.write(CramRecordWriter.encodeHeaderContainer(header))
    bos.write(enc.bytes)
    bos.write(CramContainers.encodeEofContainer())
    val (_, back) = CramRecordCodec.decodeFile(SeekableInput.ofBytes(bos.toByteArray), NoRefSource)
    assert(back.head.cigar == "3M2D5M1N2M")
    assert(back.head.seq == "*")
    assert(back.head.end == 5 + (3 + 2 + 5 + 1 + 2) - 1)
  }
}
