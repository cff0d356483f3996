package graft.cram

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** `format("cram").option("records", true)` — RECORD-level scan/sink through
  * the native codec: single-file roundtrip over both planning routes
  * (`.crai`-indexed offsets, unindexed boundary-snapped ranges), sharded
  * standalone shards, record-level interval exactness, and a decode check
  * against the htsjdk-written reference fixture via the DataFrame API.
  */
class CramRecordsSourceSpec extends AnyFunSuite with SparkFixture {

  private def tmpDir(): java.nio.file.Path = {
    val d = Files.createTempDirectory("cramrecspec")
    d.toFile.deleteOnExit()
    d
  }

  private val Refs = "chrA:1000000,chrB:1000000"

  /** Deterministic reads: mapped on chrA/chrB with seq+qual, plus every 7th
    * an unplaced-unmapped fragment (the traversal corner).
    */
  private def reads(n: Int): DataFrame = {
    val s = spark
    import s.implicits._
    val unm = col("id") % 7 === 6
    spark.range(n.toLong).select(
      concat(lit("q"), col("id")).as("readName"),
      when(unm, 4).otherwise(0).cast("int").as("flags"),
      when(unm, lit(null).cast("string"))
        .otherwise(when(col("id") % 2 === 0, "chrA").otherwise("chrB")).as("contig"),
      when(unm, 0).otherwise((col("id") * 13 % 9000 + 1)).cast("int").as("start"),
      // 4M2I2M consumes 6 reference bases → end = start + 5 (the decode
      // side recomputes end from the cigar, so the input must agree)
      when(unm, 0).otherwise((col("id") * 13 % 9000 + 6)).cast("int").as("end"),
      lit(30).cast("int").as("mapq"),
      when(unm, "*").otherwise("4M2I2M").as("cigar"),
      lit(null).cast("string").as("mateContig"),
      lit(0).cast("int").as("mateStart"),
      lit(0).cast("int").as("tlen"),
      lit("ACGTACGT").as("seq"),
      lit("FFFFFFFF").as("qual"),
      map(lit("NM"), concat(lit("i:"), (col("id") % 5).cast("string"))).as("attributes"))
  }

  private def checksum(df: DataFrame): Seq[org.apache.spark.sql.Row] =
    df.groupBy(coalesce(col("contig"), lit("*")).as("c"))
      .agg(count(lit(1)).as("n"), sum(col("start").cast("long")).as("ss"),
        sum(col("end").cast("long")).as("se"),
        sum(substring(element_at(col("attributes"), "NM"), 3, 10).cast("long")).as("st"))
      .orderBy(col("c")).collect().toSeq

  test("single-file records roundtrip over the .crai-indexed route") {
    val dir = tmpDir()
    val out = dir.resolve("r.cram")
    val df = reads(5000)
    val want = checksum(df)
    df.repartition(4).write.format("cram").mode("overwrite")
      .option("records", "true").option("refs", Refs)
      .option("recordsPerContainer", "500")
      .option("writeCrai", "true").save(out.toString)
    assert(Files.exists(dir.resolve("r.cram.crai")))
    val back = spark.read.format("cram")
      .option("records", "true").option("splitSize", 16 * 1024).load(out.toString)
    assert(back.rdd.getNumPartitions > 1, "want a split scan")
    assert(checksum(back) == want)
    // field-identity spot check (not just sums): exact row match on a slice
    val one = back.filter(col("readName") === "q12").collect()
    assert(one.length == 1)
    val r = one.head
    assert(r.getAs[String]("contig") == "chrA" && r.getAs[Int]("start") == (12 * 13 % 9000 + 1)
      && r.getAs[String]("cigar") == "4M2I2M" && r.getAs[String]("seq") == "ACGTACGT"
      && r.getAs[String]("qual") == "FFFFFFFF"
      && r.getAs[Map[String, String]]("attributes") == Map("NM" -> "i:2"))
  }

  test("unindexed route: boundary-snapped range splits decode the same records") {
    val dir = tmpDir()
    val out = dir.resolve("u.cram")
    val df = reads(4000)
    val want = checksum(df)
    // opt OUT of the default .crai co-write: this test pins the unindexed
    // (external-file) route, where readers snap byte ranges to boundaries
    df.repartition(3).write.format("cram").mode("overwrite")
      .option("records", "true").option("refs", Refs)
      .option("writeCrai", "false")
      .option("recordsPerContainer", "250").save(out.toString)
    assert(!Files.exists(dir.resolve("u.cram.crai")))
    val back = spark.read.format("cram")
      .option("records", "true").option("splitSize", 8 * 1024).load(out.toString)
    assert(back.rdd.getNumPartitions > 1, "want multiple range splits")
    assert(checksum(back) == want)
  }

  test("sharded records sink: standalone shards, per-shard crai, dir scan") {
    val dir = tmpDir()
    val out = dir.resolve("shards")
    val df = reads(3000)
    val want = checksum(df)
    df.repartition(5).write.format("cram").mode("overwrite")
      .option("records", "true").option("refs", Refs)
      .option("recordsPerContainer", "400")
      .option("writeCrai", "true").save(out.toString)
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(Files.list(out).iterator())
      .asScala.map(_.getFileName.toString).toSeq.sorted
    assert(names.count(_.endsWith(".cram")) == 5, names)
    assert(names.count(_.endsWith(".crai")) == 5, names)
    names.filter(_.endsWith(".cram")).foreach { n =>
      val in = graft.bgzf.SeekableInput.ofFile(out.resolve(n))
      val cs = try CramContainers.containers(in) finally in.close()
      assert(cs.last.isEof, n)
    }
    val back = spark.read.format("cram").option("records", "true").load(out.toString)
    assert(checksum(back) == want)
  }

  test("record-level intervals: exact residual over pruned containers, both routes") {
    val dir = tmpDir()
    val df = reads(6000)
    val s = spark
    import s.implicits._
    val expect = df.filter(
      ($"contig" === "chrA" && $"start" <= 3000 && greatest($"end", $"start") >= 1) ||
        ($"contig" === "chrB" && $"start" <= 7000 && greatest($"end", $"start") >= 5000))
    val want = checksum(expect)
    assert(want.nonEmpty)
    for ((withCrai, name) <- Seq((true, "iv1.cram"), (false, "iv2.cram"))) {
      val out = dir.resolve(name)
      val w = df.repartitionByRange(6, $"contig", $"start")
        .sortWithinPartitions($"contig", $"start")
        .write.format("cram").mode("overwrite")
        .option("records", "true").option("refs", Refs)
        .option("recordsPerContainer", "200")
      (if (withCrai) w.option("writeCrai", "true") else w).save(out.toString)
      val back = spark.read.format("cram")
        .option("records", "true").option("splitSize", 8 * 1024)
        .option("intervals", "chrA:1-3000,chrB:5000-7000")
        .load(out.toString)
      assert(checksum(back) == want, s"route withCrai=$withCrai")
    }
  }

  test("catalyst contig/start filters prune containers without an intervals option") {
    val dir = tmpDir()
    val out = dir.resolve("pf.cram")
    val df = reads(8000)
    val s = spark
    import s.implicits._
    df.repartitionByRange(1, $"contig", $"start").sortWithinPartitions($"contig", $"start")
      .write.format("cram").mode("overwrite")
      .option("records", "true").option("refs", Refs)
      .option("recordsPerContainer", "200").option("writeCrai", "true").save(out.toString)
    val all = spark.read.format("cram")
      .option("records", "true").option("splitSize", 8 * 1024).load(out.toString)
    val filtered = all.filter($"contig" === "chrA" && $"start" <= 2000)
    val (nAll, nF) = (all.rdd.getNumPartitions, filtered.rdd.getNumPartitions)
    assert(nAll > 4, s"want many unfiltered partitions, got $nAll")
    assert(nF < nAll, s"records-mode filter pushdown did not prune: $nF vs $nAll")
    // Catalyst re-applies the exact predicate: rows match the plain filter
    val want = df.filter($"contig" === "chrA" && $"start" <= 2000).count()
    assert(want > 0 && filtered.count() == want)
  }

  test("unplacedUnmapped traversal keeps the unmapped fragments alongside intervals") {
    val dir = tmpDir()
    val out = dir.resolve("unm.cram")
    val df = reads(4000)
    val s = spark
    import s.implicits._
    val expect = df.filter(
      ($"contig" === "chrA" && $"start" <= 2000 && greatest($"end", $"start") >= 1) ||
        $"contig".isNull)
    val want = checksum(expect)
    df.repartitionByRange(4, $"contig", $"start").sortWithinPartitions($"contig", $"start")
      .write.format("cram").mode("overwrite")
      .option("records", "true").option("refs", Refs)
      .option("recordsPerContainer", "200").option("writeCrai", "true").save(out.toString)
    val back = spark.read.format("cram")
      .option("records", "true").option("splitSize", 8 * 1024)
      .option("intervals", "chrA:1-2000").option("unplacedUnmapped", "true")
      .load(out.toString)
    assert(checksum(back) == want)
  }

  // deterministic base at 0-based position p of the synthetic contig
  private def refBase(p: Int): Char = "ACGT".charAt(p * 7 % 4)

  /** Write a 60-col indexed FASTA with one contig of deterministic bases. */
  private def writeFasta(dir: java.nio.file.Path, name: String, len: Int): String = {
    val fa = dir.resolve("ref.fasta")
    val sb = new StringBuilder(s">$name\n")
    val offset = sb.length.toLong
    var i = 0
    while (i < len) {
      val lineLen = math.min(60, len - i)
      var j = 0
      while (j < lineLen) { sb.append(refBase(i + j)); j += 1 }
      sb.append('\n')
      i += lineLen
    }
    Files.write(fa, sb.toString.getBytes("UTF-8"))
    Files.write(dir.resolve("ref.fasta.fai"),
      s"$name\t$len\t$offset\t60\t61\n".getBytes("UTF-8"))
    fa.toString
  }

  test("reference-based encode: fasta write option, field-identical roundtrip, smaller file") {
    val dir = tmpDir()
    val fasta = writeFasta(dir, "chrR", 200000)
    val rl = 40
    val recs = (0 until 3000).map { i =>
      val start = i * 31 % 99000 + 1
      val base = (0 until rl).map(j => refBase(start - 1 + j)).mkString
      // every 3rd read carries one planted SNP so X substitution codes are
      // actually exercised (not just implicit matches)
      val seq =
        if (i % 3 == 0) {
          val at = i % rl
          val orig = base.charAt(at)
          val sub = "ACGT".charAt(("ACGT".indexOf(orig) + 1) % 4)
          base.updated(at, sub)
        } else base
      graft.bam.AlignmentRecord(s"r$i", 0, "chrR", start, start + rl - 1, 60, s"${rl}M",
        null, 0, 0, seq, "F" * rl, Map("XO" -> s"i:${i % 50}"))
    }
    val s = spark
    import s.implicits._
    val df = s.createDataset(recs).toDF()
    val refOut = dir.resolve("refbased.cram")
    df.repartition(4).write.format("cram").mode("overwrite")
      .option("records", "true").option("refs", "chrR:200000")
      .option("recordsPerContainer", "500")
      .option("fasta", fasta).option("writeCrai", "true").save(refOut.toString)
    val freeOut = dir.resolve("reffree.cram")
    df.repartition(4).write.format("cram").mode("overwrite")
      .option("records", "true").option("refs", "chrR:200000")
      .option("recordsPerContainer", "500")
      .option("writeCrai", "true").save(freeOut.toString)
    // high-identity reads: implicit matches must beat literal base runs
    val (szRef, szFree) = (Files.size(refOut), Files.size(freeOut))
    assert(szRef < szFree, s"reference-based $szRef not smaller than reference-free $szFree")

    // the first data container advertises RR=1
    val in = graft.bgzf.SeekableInput.ofFile(refOut)
    try {
      val cs = CramContainers.containers(in).filterNot(_.isEof)
      val payload = CramRecordCodec.containerPayload(in, cs(1)) // 0 = SAM header
      val (chBlock, _) = CramRecordCodec.readBlock(payload, 0, 3)
      assert(CramRecordCodec.parseCompHeader(chBlock.data).refRequired)
    } finally in.close()

    // field-identical roundtrip through the DataFrame API with the fasta
    val back = spark.read.format("cram").option("records", "true")
      .option("fasta", fasta).option("splitSize", 16 * 1024)
      .load(refOut.toString)
      .collect().map(r => (r.getAs[String]("readName"), r.getAs[Int]("start"),
        r.getAs[String]("cigar"), r.getAs[String]("seq"), r.getAs[String]("qual")))
      .sortBy(_._1)
    val want = recs.map(r => (r.readName, r.start, r.cigar, r.seq, r.qual)).sortBy(_._1)
    assert(back.length == want.length)
    back.zip(want).foreach { case (g, w) => assert(g == w) }

    // RR=1 without a fasta is a clear error, not silent N-sequences — in
    // every stringency: a missing reference is not a malformed container
    def rootMsg(t: Throwable): String =
      if (t.getCause == null) String.valueOf(t.getMessage) else rootMsg(t.getCause)
    for (mode <- Seq("strict", "lenient")) {
      val ex = intercept[org.apache.spark.SparkException] {
        spark.read.format("cram").option("records", "true").option("mode", mode)
          .load(refOut.toString).collect()
      }
      assert(rootMsg(ex).contains("requires reference bases"), mode)
    }

    // a truncated fasta fails the read in every stringency too: a broken
    // reference is a bad input, not a malformed container to drop
    val cut = tmpDir()
    val cutFasta = cut.resolve("ref.fasta")
    val full = Files.readAllBytes(java.nio.file.Paths.get(fasta))
    Files.write(cutFasta, java.util.Arrays.copyOf(full, full.length / 4))
    Files.copy(java.nio.file.Paths.get(fasta + ".fai"), cut.resolve("ref.fasta.fai"))
    def msgs(t: Throwable): List[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) :: msgs(t.getCause)
    for (mode <- Seq("strict", "lenient")) {
      val ex = intercept[org.apache.spark.SparkException] {
        spark.read.format("cram").option("records", "true").option("mode", mode)
          .option("fasta", cutFasta.toString).load(refOut.toString).collect()
      }
      assert(msgs(ex).exists(_.contains("from the fasta failed")), mode)
      assert(!msgs(ex).exists(_.contains("undecodable CRAM container")), mode)
    }
  }

  test("reads the htsjdk-written reference fixture through the DataFrame API") {
    val refDir = java.nio.file.Paths.get("/root/reference/src/test/resources")
    assume(Files.exists(refDir.resolve("valid.cram")))
    val back = spark.read.format("cram").option("records", "true")
      .option("fasta", refDir.resolve("valid.fasta").toString)
      .load(refDir.resolve("valid.cram").toString)
    val rows = back.orderBy(col("readName"), col("flags"), col("start")).collect()
    // the same file decoded by the one-shot codec path
    val in = graft.bgzf.SeekableInput.ofFile(refDir.resolve("valid.cram"))
    val fasta = graft.bgzf.SeekableInput.ofFile(refDir.resolve("valid.fasta"))
    val (header, recs) =
      try {
        val h = CramRecordCodec.readSamHeader(in)
        val fai = Fasta.parseFai(new String(
          Files.readAllBytes(refDir.resolve("valid.fasta.fai")), "UTF-8"))
        CramRecordCodec.decodeFile(in, new FastaRefSource(fasta, fai, h.refName))
      } finally { in.close(); fasta.close() }
    assert(rows.length == recs.length && rows.nonEmpty)
    val wantSorted = recs.sortBy(r => (r.readName, r.flags, r.start))
    rows.zip(wantSorted).foreach { case (row, r) =>
      assert(row.getAs[String]("readName") == r.readName)
      assert(row.getAs[Int]("flags") == r.flags)
      assert(row.getAs[String]("contig") == r.contig)
      assert(row.getAs[Int]("start") == r.start)
      assert(row.getAs[String]("cigar") == r.cigar)
      assert(row.getAs[String]("seq") == r.seq)
      assert(row.getAs[String]("qual") == r.qual)
      assert(row.getAs[Map[String, String]]("attributes") == r.attributes)
    }
  }
}
