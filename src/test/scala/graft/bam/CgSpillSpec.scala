package graft.bam

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import org.apache.spark.sql.functions._

/** Ultralong-read CIGARs past BAM's uint16 n_cigar_op ceiling (nanopore
  * reality): the encoder must spill the real ops to the CG:B,I tag behind
  * the kSmN sentinel (SAMv1 §4.2.2), and the decoder must reconstitute —
  * INCLUDING under column pruning where the scan never asked for
  * attributes. Before this, `putShort(nOps.toShort)` silently wrapped and
  * corrupted every byte after the cigar array.
  */
class CgSpillSpec extends AnyFunSuite with SparkFixture {

  private def longRead(nOps: Int): AlignmentRecord = {
    // alternating 1M1I so query/ref lengths differ and both matter
    val cigar = new StringBuilder
    var i = 0
    while (i < nOps) { cigar.append(if (i % 2 == 0) "1M" else "1I"); i += 1 }
    val qlen = nOps // every op consumes one query base
    AlignmentRecord(
      readName = "ultra-1", flags = 0, contig = "chr20", start = 100,
      end = 0, mapq = 60, cigar = cigar.toString,
      mateContig = null, mateStart = 0, tlen = 0,
      seq = "A" * qlen, qual = "I" * qlen,
      attributes = Map("XO" -> "i:7"))
  }

  test("70k-op CIGAR round-trips the record codec via the CG spill") {
    val rec = longRead(70000)
    val bytes = BamSpecWriter.encodeRecord(rec, TestReads.header)
    // the wire form holds the sentinel + a CG tag
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.getInt; bb.getInt; bb.getInt; bb.get; bb.get; bb.getShort
    val nOpsWire = bb.getShort & 0xffff
    assert(nOpsWire == 2, "wire cigar must be the 2-op kSmN sentinel")
    val rec2 = java.util.Arrays.copyOfRange(bytes, 4, bytes.length)
    val back = BamCodec.decodeRecord(rec2, rec2.length, TestReads.header, BamFieldMask.All)
    assert(back.cigar == rec.cigar, "reconstituted cigar differs")
    assert(!back.attributes.contains("CG"), "CG must be transparent")
    assert(back.attributes("XO") == "i:7")
    // end = start + refLen - 1; refLen = 35000 M ops
    assert(back.end == 100 + 35000 - 1)
  }

  test("CG spill reconstitutes under column pruning (cigar without attrs)") {
    val rec = longRead(70000)
    val bytes = BamSpecWriter.encodeRecord(rec, TestReads.header)
    val mask = BamFieldMask(cigarAndEnd = true, seq = false, qual = false, attrs = false)
    val rec2 = java.util.Arrays.copyOfRange(bytes, 4, bytes.length)
    val back = BamCodec.decodeRecord(rec2, rec2.length, TestReads.header, mask)
    assert(back.cigar == rec.cigar)
    assert(back.attributes == null, "pruned attrs stay pruned")
    assert(back.end == 100 + 35000 - 1)
  }

  test("CG spill strips the internal tag under attrs-only pruning (no cigar)") {
    // the attribute set must be the same whether or not the cigar column is
    // projected — an attrs-only scan leaking CG:B,I would make the record
    // expose different attribute maps depending on column pruning
    val rec = longRead(70000)
    val bytes = BamSpecWriter.encodeRecord(rec, TestReads.header)
    val mask = BamFieldMask(cigarAndEnd = false, seq = false, qual = false, attrs = true)
    val rec2 = java.util.Arrays.copyOfRange(bytes, 4, bytes.length)
    val back = BamCodec.decodeRecord(rec2, rec2.length, TestReads.header, mask)
    assert(back.cigar == null, "pruned cigar stays pruned")
    assert(!back.attributes.contains("CG"), "CG must not leak into an attrs-only projection")
    assert(back.attributes("XO") == "i:7")
  }

  test("lenient salvage SKIPS a CG-spilled record whose tag region is broken") {
    // corrupt the tag region of a spilled record: the authoritative ops
    // lived there, so a salvage that returns the kSmN sentinel as the real
    // cigar would be silent corruption — the codec must throw on the
    // attrs-less re-decode too (reconstitution needs the tags), so the
    // reader skips the record
    val rec = longRead(70000)
    val bytes = BamSpecWriter.encodeRecord(rec, TestReads.header)
    val body = java.util.Arrays.copyOfRange(bytes, 4, bytes.length)
    // find the tag region start: 32 fixed + name+1 + 4*2 sentinel ops +
    // (lSeq+1)/2 + lSeq
    val nameLen = "ultra-1".length + 1
    val lSeq = 70000
    val tagStart = 32 + nameLen + 8 + (lSeq + 1) / 2 + lSeq
    body(tagStart + 2) = 'q'.toByte // invalid tag value type → decodeTags throws
    val full = BamFieldMask.All
    intercept[Exception](BamCodec.decodeRecord(body, body.length, TestReads.header, full))
    // the salvage re-decode (attrs = false) must ALSO throw when the cigar
    // is projected: silent sentinel-as-cigar is worse than a skip
    intercept[Exception](BamCodec.decodeRecord(body, body.length, TestReads.header,
      full.copy(attrs = false)))
  }

  test("a genuine 2-op kSmN alignment WITHOUT a CG tag is untouched") {
    val rec = AlignmentRecord(
      readName = "r1", flags = 0, contig = "chr20", start = 500, end = 0,
      mapq = 60, cigar = "10S90N", mateContig = null, mateStart = 0, tlen = 0,
      seq = "*", qual = "*", attributes = Map("XO" -> "i:1"))
    val bytes = BamSpecWriter.encodeRecord(rec, TestReads.header)
    val rec2 = java.util.Arrays.copyOfRange(bytes, 4, bytes.length)
    val back = BamCodec.decodeRecord(rec2, rec2.length, TestReads.header, BamFieldMask.All)
    assert(back.cigar == "10S90N")
    assert(back.attributes("XO") == "i:1")
  }

  test("fuzz: random CIGARs round-trip exactly on both sides of the spill threshold") {
    val rnd = new scala.util.Random(42)
    val opChars = "MIDNSX" // query/ref-consuming mix; no H/P to keep seq len simple
    for (trial <- 0 until 20) {
      val nOps = if (trial % 2 == 0) 1 + rnd.nextInt(200) else 65530 + rnd.nextInt(20)
      val sb = new StringBuilder
      var qlen = 0
      var i = 0
      while (i < nOps) {
        val c = opChars.charAt(rnd.nextInt(opChars.length))
        val len = 1 + rnd.nextInt(3)
        sb.append(len).append(c)
        if (c == 'M' || c == 'I' || c == 'S' || c == 'X') qlen += len
        i += 1
      }
      val rec = AlignmentRecord(
        readName = s"fz$trial", flags = 0, contig = "chr21", start = 1000,
        end = 0, mapq = 60, cigar = sb.toString,
        mateContig = null, mateStart = 0, tlen = 0,
        seq = if (qlen == 0) "*" else "A" * qlen, qual = "*",
        attributes = Map("XO" -> s"i:$trial"))
      val bytes = BamSpecWriter.encodeRecord(rec, TestReads.header)
      val body = java.util.Arrays.copyOfRange(bytes, 4, bytes.length)
      val back = BamCodec.decodeRecord(body, body.length, TestReads.header, BamFieldMask.All)
      assert(back.cigar == rec.cigar, s"trial $trial (nOps=$nOps)")
      assert(back.attributes("XO") == s"i:$trial")
      assert(!back.attributes.contains("CG"))
    }
  }

  test("ultralong record survives the full sink + splittable-source path") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cgspill").toString
    val path = s"$dir/ultra.bam"
    val n = 70000
    val recs = Seq(longRead(n)) ++ TestReads.pairs(50, "chr20").map(_.copy(
      contig = "chr20", mateContig = "chr20"))
    spark.createDataset(recs).write.format("bam").mode("overwrite")
      .option("refs", "chr20:1000000,chr21:2000135").save(path)
    val back = spark.read.format("bam").option("splitSize", 64 * 1024).load(path)
    assert(back.count() == 101) // 1 ultra + 50 pairs (2 records each)
    val ultra = back.filter($"readName" === "ultra-1")
      .select($"cigar", $"end", $"attributes").head
    assert(ultra.getString(0).length == n * 2) // "1M"/"1I" pairs
    assert(ultra.getInt(1) == 100 + n / 2 - 1)
    assert(!ultra.getMap[String, String](2).contains("CG"))
  }
}
