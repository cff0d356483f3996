package graft.cram

import java.nio.file.Files
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.sources.PlanMetrics

/** `format("cram")` scan/sink behavior: single-file geometry (file
  * definition + containers + EOF terminator + rebased `.crai`), sharded
  * complete shards with per-shard `.crai`, and unindexed interval scans
  * pruning on container-header coordinates.
  */
class CramDataSourceSpec extends AnyFunSuite with SparkFixture with AdaptiveSparkPlanHelper {

  private def tmpDir(): java.nio.file.Path = {
    val d = Files.createTempDirectory("cramspec")
    d.toFile.deleteOnExit()
    d
  }

  private def containers(n: Int) = {
    val s = spark
    import s.implicits._
    spark.range(n.toLong).select(
      (col("id") % 3).cast("int").as("ref_seq_id"),
      (col("id") * 100 + 1).cast("int").as("start_pos"),
      lit(90).as("span"),
      (col("id") % 10 + 1).cast("int").as("n_records"),
      ((col("id") % 5) * 8).cast("int").as("data_length"))
  }

  test("single-file sink: definition + EOF geometry, scan round-trips") {
    val dir = tmpDir()
    val out = dir.resolve("t.cram")
    containers(200).repartition(4).write.format("cram").mode("overwrite")
      .option("writeCrai", "true").save(out.toString)
    val bytes = Files.readAllBytes(out)
    assert(bytes.take(4).map(_.toChar).mkString == "CRAM")
    // trailing EOF container: refSeqId -1, 0 records
    val in = graft.bgzf.SeekableInput.ofFile(out)
    val cs = try CramContainers.containers(in) finally in.close()
    assert(cs.last.isEof && cs.count(!_.isEof) == 200)
    assert(Files.exists(dir.resolve("t.cram.crai")))
    val back = spark.read.format("cram").load(out.toString)
    assert(back.count() == 200)
    assert(back.agg(sum("n_records")).head.getLong(0) ==
      (0 until 200).map(i => i % 10 + 1).sum)
  }

  test("sharded sink: complete standalone shards with per-shard crai, dir scan") {
    val dir = tmpDir()
    val out = dir.resolve("shards")
    containers(300).repartition(5).write.format("cram").mode("overwrite")
      .option("writeCrai", "true").save(out.toString)
    val shards = Files.list(out).iterator()
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(shards).asScala
      .map(_.getFileName.toString).toSeq.sorted
    assert(names.count(_.endsWith(".cram")) == 5, names)
    assert(names.count(_.endsWith(".crai")) == 5, names)
    // every shard is a standalone CRAM: magic + EOF terminator
    names.filter(_.endsWith(".cram")).foreach { n =>
      val in = graft.bgzf.SeekableInput.ofFile(out.resolve(n))
      val cs = try CramContainers.containers(in) finally in.close()
      assert(cs.last.isEof, n)
    }
    val back = spark.read.format("cram").load(out.toString)
    assert(back.count() == 300)
  }

  test("catalyst filter pushdown prunes containers without the intervals option") {
    val dir = tmpDir()
    val out = dir.resolve("pf.cram")
    containers(2000).coalesce(1).sortWithinPartitions(col("ref_seq_id"), col("start_pos"))
      .write.format("cram").mode("overwrite").option("writeCrai", "true").save(out.toString)
    val all = spark.read.format("cram").option("splitSize", 8192).load(out.toString)
    val filtered = all.filter(col("ref_seq_id") === 1 && col("start_pos") <= 60000)
    val (nAll, nF) = (all.rdd.getNumPartitions, filtered.rdd.getNumPartitions)
    assert(nAll > 4, s"want many unfiltered partitions, got $nAll")
    assert(nF < nAll, s"filter pushdown did not prune: $nF vs $nAll")
    // Catalyst re-applies the exact predicate: rows match the plain filter
    val want = (0 until 2000).count(i => i % 3 == 1 && i * 100 + 1 <= 60000)
    assert(filtered.count() == want)
  }

  test("multi-ref (-2) containers survive crai-indexed interval pruning") {
    val dir = tmpDir()
    val out = dir.resolve("multi.cram")
    val s = spark
    import s.implicits._
    // 50 mapped ref-0 containers plus one multi-ref container (-2): the
    // crai route must keep it (its members can't be judged without decode),
    // exactly like the unindexed walk and the reader's residual filter
    val rows = (0 until 50).map(i => (0, i * 100 + 1, 90, 5, 16)) :+ ((-2, 0, 0, 7, 16))
    rows.toDF("ref_seq_id", "start_pos", "span", "n_records", "data_length")
      .coalesce(1).write.format("cram").mode("overwrite")
      .option("writeCrai", "true").save(out.toString)
    val got = spark.read.format("cram")
      .option("intervals", "0:1-1000").load(out.toString)
      .select("ref_seq_id").collect().map(_.getInt(0)).sorted
    val gotNoIdx = {
      java.nio.file.Files.delete(dir.resolve("multi.cram.crai"))
      spark.read.format("cram")
        .option("intervals", "0:1-1000").load(out.toString)
        .select("ref_seq_id").collect().map(_.getInt(0)).sorted
    }
    assert(got.toSeq == gotNoIdx.toSeq, "indexed and unindexed scans must agree")
    assert(got.count(_ == -2) == 1 && got.count(_ == 0) == 10)
  }

  test("filter pushdown keeps span-0 and negative-ref containers (point semantics)") {
    val dir = tmpDir()
    val out = dir.resolve("edge.cram")
    val s = spark
    import s.implicits._
    // the two rows a span-OVERLAP translation of the pushed filters would
    // wrongly prune: a span-0 container at start_pos=1 (1 + 0 - 1 = 0 < lo=1)
    // and unmapped containers (ref_seq_id -1 never passes a coordinate test)
    val rows = Seq(
      (0, 1, 0, 3, 8),      // span-0 at start_pos=1
      (0, 500, 90, 4, 8),   // ordinary mapped
      (-1, 0, 0, 5, 8),     // unmapped
      (-1, 0, 0, 6, 8),     // unmapped
      (1, 42, 10, 7, 8))
    rows.toDF("ref_seq_id", "start_pos", "span", "n_records", "data_length")
      .coalesce(1).write.format("cram").mode("overwrite")
      .option("writeCrai", "true").save(out.toString)

    def check(): Unit = {
      val df = spark.read.format("cram").load(out.toString)
      // plain equality filter: the span-0 container at start_pos=1 must survive
      assert(df.filter($"ref_seq_id" === 0).count() == 2)
      // negative ref_seq_id: unmapped containers must be returned
      assert(df.filter($"ref_seq_id" === -1).count() == 2)
      assert(df.filter($"ref_seq_id" === -1).agg(sum("n_records")).head.getLong(0) == 11)
      // bound at exactly the span-0 container's position
      assert(df.filter($"ref_seq_id" === 0 && $"start_pos" >= 1 && $"start_pos" <= 1).count() == 1)
      // unmapped containers sit at start_pos 0 — no implicit lo=1 floor
      assert(df.filter($"ref_seq_id" === -1 && $"start_pos" <= 0).count() == 2)
    }
    check() // `.crai` route
    Files.delete(dir.resolve("edge.cram.crai"))
    check() // header-walk route
  }

  test("bad column type is rejected by the cram sink, not truncated") {
    val dir = tmpDir()
    val s = spark
    import s.implicits._
    val e = intercept[Exception] {
      spark.range(3).select(
        col("id").as("ref_seq_id"), // bigint, not int
        lit(1).as("start_pos"), lit(10).as("span"),
        lit(1).as("n_records"), lit(0).as("data_length"))
        .write.format("cram").mode("overwrite")
        .save(dir.resolve("bad.cram").toString)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).mkString(" | ").contains("must be INT"))
  }

  test("unindexed planning is byte-range splits; discovery happens in the reader") {
    val dir = tmpDir()
    val out = dir.resolve("noidx2.cram")
    containers(500).coalesce(1).write.format("cram").mode("overwrite").save(out.toString)
    assert(!Files.exists(dir.resolve("noidx2.cram.crai")))
    val size = Files.size(out)
    val splitSize = 4096L
    // plan directly: every partition must be a raw byte range (the driver
    // never walks container headers — O(splits) planning, not O(file bytes))
    val scan = new graft.sources.cram.CramScan(
      Map("path" -> out.toString, "splitsize" -> splitSize.toString),
      graft.sources.cram.CramTable.schema)
    val parts = scan.planInputPartitions()
    assert(parts.nonEmpty && parts.forall(_.isInstanceOf[graft.sources.cram.CramRangePartition]),
      parts.take(3).mkString(","))
    val dataBytes = size - 26 // file definition
    assert(parts.length == ((dataBytes + splitSize - 1) / splitSize).toInt)
    // executor-side discovery recovers exactly the rows the crai route sees
    val gotNoIdx = spark.read.format("cram").option("splitSize", splitSize)
      .load(out.toString).orderBy(col("offset")).collect().map(_.toSeq)
    containers(500).coalesce(1).write.format("cram").mode("overwrite")
      .option("writeCrai", "true").save(dir.resolve("idx.cram").toString)
    val gotIdx = spark.read.format("cram").option("splitSize", splitSize)
      .load(dir.resolve("idx.cram").toString).orderBy(col("offset")).collect().map(_.toSeq)
    assert(gotNoIdx.length == 500)
    assert(gotNoIdx.toSeq == gotIdx.toSeq)
  }

  test("stringency matrix: corrupt header fails strict, lenient/permissive skip and re-sync") {
    val dir = tmpDir()
    val out = dir.resolve("corrupt.cram")
    containers(30).coalesce(1).write.format("cram").mode("overwrite")
      .option("writeCrai", "true").save(out.toString)
    // locate container 10 and flip one header byte (breaks its CRC)
    val in = graft.bgzf.SeekableInput.ofFile(out)
    val victim = try CramContainers.containers(in)(10).offset finally in.close()
    val raf = new java.io.RandomAccessFile(out.toFile, "rw")
    try {
      raf.seek(victim + 5)
      val b = raf.read()
      raf.seek(victim + 5)
      raf.write(b ^ 0x40)
    } finally raf.close()
    // drop Hadoop LocalFileSystem's own .crc sidecar — the out-of-band edit
    // invalidated it and we want OUR validation to see the corrupt bytes
    Files.deleteIfExists(dir.resolve(".corrupt.cram.crc"))

    def count(mode: Option[String]): Long = {
      var r = spark.read.format("cram")
      mode.foreach(m => r = r.option("mode", m))
      r.load(out.toString).count()
    }
    // both routes: `.crai`-listed offsets first, then byte-range discovery
    for (route <- Seq("crai", "range")) {
      if (route == "range") Files.delete(dir.resolve("corrupt.cram.crai"))
      val ex = intercept[Exception](count(None)) // strict default
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(ex).mkString(" | ").contains("malformed CRAM container header"), s"$route: $ex")
      assert(count(Some("lenient")) == 29, route)    // the corrupt container is dropped
      assert(count(Some("permissive")) == 29, route) // same, silently
    }
  }

  test("a corrupt .crai only costs the index: records and container scans fall back to byte ranges") {
    val s = spark
    import s.implicits._
    val dir = tmpDir()
    val rec = dir.resolve("rec.cram")
    spark.createDataset(graft.bam.TestReads.mixed(600)).toDF().coalesce(1)
      .write.format("cram").mode("overwrite").option("records", "true")
      .option("refs", "chr20:1000000,chr21:2000135").option("recordsPerContainer", "100")
      .option("writeCrai", "true").save(rec.toString)
    val con = dir.resolve("con.cram")
    containers(300).coalesce(1).sortWithinPartitions(col("ref_seq_id"), col("start_pos"))
      .write.format("cram").mode("overwrite").option("writeCrai", "true").save(con.toString)
    val scans = Seq((rec, true, None), (rec, true, Some("chr21:100000-150000")),
      (con, false, None), (con, false, Some("1:5001-9000")))
    def rows(): Seq[Seq[String]] = scans.map { case (p, records, ivs) =>
      var r = spark.read.format("cram").option("splitSize", 4096)
      if (records) r = r.option("records", "true")
      ivs.foreach(iv => r = r.option("intervals", iv))
      r.load(p.toString).collect().map(_.toString).sorted.toSeq
    }
    val indexed = rows()
    assert(indexed.forall(_.nonEmpty))
    // a fresh `.crai` overwritten with text (and Hadoop's checksum of it dropped)
    Seq(rec, con).foreach { p =>
      Files.write(dir.resolve(s"${p.getFileName}.crai"), "not a crai index\n".getBytes("UTF-8"))
      Files.deleteIfExists(dir.resolve(s".${p.getFileName}.crai.crc"))
    }
    val corrupt = rows()
    Seq(rec, con).foreach(p => Files.delete(dir.resolve(s"${p.getFileName}.crai")))
    val unindexed = rows()
    assert(corrupt == unindexed)
    assert(unindexed == indexed)
  }

  test("unindexed interval scan prunes on container-header coordinates") {
    val dir = tmpDir()
    val out = dir.resolve("noidx.cram")
    containers(2000).coalesce(1).sortWithinPartitions(col("ref_seq_id"), col("start_pos"))
      .write.format("cram").mode("overwrite").save(out.toString) // no .crai
    assert(!Files.exists(dir.resolve("noidx.cram.crai")))
    val iv = spark.read.format("cram").option("splitSize", 8192)
      .option("intervals", "1:50001-60000").load(out.toString)
    val want = (0 until 2000).count { i =>
      i % 3 == 1 && i * 100 + 1 <= 60000 && i * 100 + 1 + 89 >= 50001
    }
    assert(iv.count() == want)
  }

  test(".crai plan: a partition's plannedBytes cover only the containers it reads") {
    val s = spark
    import s.implicits._
    val dir = tmpDir()
    val out = dir.resolve("gaps.cram")
    spark.createDataset(graft.bam.TestReads.mixed(1202)).toDF().coalesce(1)
      .write.format("cram").mode("overwrite").option("records", "true")
      .option("refs", "chr20:1000000,chr21:2000135").option("recordsPerContainer", "100")
      .option("writeCrai", "true").save(out.toString)
    // two intervals whose containers are not adjacent, one 1 MiB split
    val ivs = "chr21:100000-101000,chr21:500000-501000"
    def scan() = spark.read.format("cram").option("records", "true").option("splitSize", 1 << 20)
      .option("intervals", ivs).load(out.toString)
    val df = scan()
    val plan = df.queryExecution.executedPlan
    val rows = plan.executeCollect().map(_.toString).sorted.toSeq
    val m = collect(plan) { case b: BatchScanExec => b }.head.metrics
    assert(m(PlanMetrics.Partitions).value == 1)
    assert(m(PlanMetrics.IndexSpanBytes).value > 0)
    assert(m(PlanMetrics.Bytes).value == m(PlanMetrics.IndexSpanBytes).value,
      s"plannedBytes ${m(PlanMetrics.Bytes).value} vs indexSpanBytes ${m(PlanMetrics.IndexSpanBytes).value}")
    // the byte-range route reads the same rows
    Files.delete(dir.resolve("gaps.cram.crai"))
    Files.deleteIfExists(dir.resolve(".gaps.cram.crai.crc"))
    assert(rows.nonEmpty)
    assert(scan().queryExecution.executedPlan.executeCollect().map(_.toString).sorted.toSeq == rows)
  }
}
