package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.bam.{BamSpecWriter, TestReads}

/** Pins the pushed-limit plan shape on all five format sources: `.limit(n)`
  * directly over a scan must plan ONE whole-file partition per file (not one
  * per split) and still return n correct rows — the single most common first
  * query a user types on a lake must not plan or read the world. A filter
  * between the limit and the scan keeps full split planning (the limit is
  * then not pushable), which is also asserted so the fast path can never
  * leak under a predicate.
  */
class LimitPushdownSpec extends AnyFunSuite with SparkFixture {

  private def tmpDir(): java.nio.file.Path = {
    val d = Files.createTempDirectory("limitspec")
    d.toFile.deleteOnExit()
    d
  }

  /** Per-scan planned-partition counts of the FINAL (adaptive) plan. */
  private def scanPartCounts(df: DataFrame): Seq[Int] = {
    df.collect()
    def walk(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case b: BatchScanExec => Seq(b)
      case other => other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).map(_.inputPartitions.length)
  }

  test("BAM: .limit(5) plans one partition per file and returns the head records") {
    val recs = TestReads.mixed(1000) // 2002 records
    val dir = tmpDir()
    val bam = dir.resolve("t.bam")
    BamSpecWriter.writeFile(bam, TestReads.header, recs.iterator)

    def read() = spark.read.format("bam").option("splitSize", 4096).load(bam.toString)
    // without a limit: many splits
    assert(scanPartCounts(read()).head > 1, "fixture must be multi-split")
    val limited = read().limit(5)
    assert(scanPartCounts(limited) == Seq(1))
    val got = limited.collect().map(r => (r.getString(0), r.getInt(3)))
    assert(got.toSeq == recs.take(5).map(r => (r.readName, r.start)))
    // a residual filter between limit and scan keeps full split planning
    val filtered = read().filter(col("contig") === "chr21").limit(5)
    assert(scanPartCounts(filtered).head > 1,
      "limit must not be pushed below a residual filter")
    assert(filtered.count() == 5)
  }

  test("BAM: sharded directory input plans one partition per shard") {
    import spark.implicits._
    val recs = TestReads.mixed(500)
    val dir = tmpDir().resolve("sharded")
    spark.createDataset(recs).toDF().repartition(5)
      .write.format("bam").mode("overwrite")
      .option("refs", "chr20:1000000,chr21:1000135").save(dir.toString)
    val limited = spark.read.format("bam").option("splitSize", 4096)
      .load(dir.toString).limit(5)
    assert(scanPartCounts(limited) == Seq(5)) // one per shard, not per split
    assert(limited.count() == 5)
  }

  test("SAM: .limit(5) plans one partition and returns the head records") {
    import spark.implicits._
    val recs = TestReads.mixed(800)
    val dir = tmpDir()
    val out = dir.resolve("t.sam")
    spark.createDataset(recs).toDF()
      .write.format("sam").mode("overwrite")
      .option("refs", "chr20:1000000,chr21:1000135").save(out.toString)
    def read() = spark.read.format("sam").option("splitSize", 8192).load(out.toString)
    assert(scanPartCounts(read()).head > 1, "fixture must be multi-split")
    val limited = read().limit(5)
    assert(scanPartCounts(limited) == Seq(1))
    assert(limited.collect().map(_.getString(0)).toSeq ==
      recs.take(5).map(_.readName))
  }

  test("VCF: .limit(5) plans one partition on a BGZF multi-split file") {
    import spark.implicits._
    val dir = tmpDir()
    val out = dir.resolve("t.vcf.bgz")
    val vars = spark.range(3000).select(
      lit("chr1").as("contig"),
      (col("id") * 10 + 1).cast("int").as("start"),
      (col("id") * 10 + 1).cast("int").as("end"),
      lit(null).cast("string").as("id"),
      lit("A").as("ref"), array(lit("G")).as("alt"),
      lit(30.0).as("qual"), array(lit("PASS")).as("filters"),
      map().cast("map<string,string>").as("info"),
      array().cast("array<struct<sample:string,gt:string,fields:map<string,string>>>")
        .as("genotypes"))
    vars.coalesce(1).write.format("vcf").mode("overwrite").save(out.toString)
    def read() = spark.read.format("vcf").option("splitSize", 4096).load(out.toString)
    assert(scanPartCounts(read()).head > 1, "fixture must be multi-split")
    val limited = read().limit(5)
    assert(scanPartCounts(limited) == Seq(1))
    assert(limited.collect().map(_.getInt(1)).toSeq == Seq(1, 11, 21, 31, 41))
  }

  test("CRAM records: .limit(5) plans one range partition per file") {
    import spark.implicits._
    val recs = TestReads.mixed(600)
    val dir = tmpDir()
    val out = dir.resolve("t.cram")
    // small containers so the default .crai-indexed route still yields a
    // multi-partition unlimited scan (one 10k-record container would not)
    spark.createDataset(recs).toDF().coalesce(1)
      .write.format("cram").mode("overwrite")
      .option("records", "true").option("refs", "chr20:1000000,chr21:1000135")
      .option("recordsPerContainer", "100")
      .save(out.toString)
    def read() = spark.read.format("cram").option("records", "true")
      .option("splitSize", 4096).load(out.toString)
    assert(scanPartCounts(read()).head > 1, "fixture must be multi-split")
    val limited = read().limit(5)
    assert(scanPartCounts(limited) == Seq(1))
    assert(limited.collect().map(_.getString(0)).toSeq ==
      recs.take(5).map(_.readName))
  }

  test("CRAM containers: .limit(5) plans one range partition and returns the head containers") {
    val dir = tmpDir()
    val out = dir.resolve("c.cram")
    spark.range(400).select(
      (col("id") % 3).cast("int").as("ref_seq_id"),
      (col("id") * 100 + 1).cast("int").as("start_pos"),
      lit(90).as("span"),
      (col("id") % 10 + 1).cast("int").as("n_records"),
      ((col("id") % 5) * 8).cast("int").as("data_length"))
      .coalesce(1).write.format("cram").mode("overwrite").option("writeCrai", "true").save(out.toString)
    def read() = spark.read.format("cram").option("splitSize", 4096).load(out.toString)
    assert(scanPartCounts(read()).head > 1, "fixture must be multi-split")
    val limited = read().limit(5)
    assert(scanPartCounts(limited) == Seq(1))
    assert(limited.collect().map(_.getLong(0)).toSeq ==
      read().orderBy("offset").collect().map(_.getLong(0)).take(5).toSeq)
  }

  test("FASTQ: .limit(5) plans one partition per multi-split file and returns the head records") {
    import spark.implicits._
    val dir = tmpDir()
    val recs = (0 until 1000).map(i => graft.fastq.FastqRecord(f"r$i%04d", null, "ACGTACGTAC", "IIIIIIIIII"))
    Seq("a", "b").foreach { n =>
      spark.createDataset(recs).toDF().coalesce(1).write.format("fastq").mode("overwrite")
        .save(dir.resolve(s"$n.fastq").toString)
    }
    def read(p: String) = spark.read.format("fastq").option("splitSize", 4096).load(p)
    val one = dir.resolve("a.fastq").toString
    assert(scanPartCounts(read(one)).head > 1, "fixture must be multi-split")
    val limited = read(one).limit(5)
    assert(scanPartCounts(limited) == Seq(1))
    assert(limited.collect().map(_.getString(0)).toSeq == recs.take(5).map(_.readName))
    // a directory of two such files: one partition per file
    assert(scanPartCounts(read(dir.toString).limit(5)) == Seq(2))
  }
}
