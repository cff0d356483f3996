package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.bam.TestReads
import graft.bgzf.{Bgzf, SeekableInput}

/** The plan metrics every scan reports (`plannedPartitions`,
  * `plannedBytes`, `indexSpanBytes`), checked for exact values on the
  * formats beside BAM: a multi-split SAM, FASTQ, a VCF.bgz interval scan
  * narrowed by its `.tbi`, and a CRAM on its `.crai` route.
  */
class ScanPlanMetricsSpec extends AnyFunSuite with SparkFixture with AdaptiveSparkPlanHelper {

  private def tmpDir(): Path = {
    val d = Files.createTempDirectory("planmetrics")
    d.toFile.deleteOnExit()
    d
  }

  /** Runs the very plan instance whose metrics are read. */
  private def metrics(df: DataFrame): Map[String, Long] = {
    val plan = df.queryExecution.executedPlan
    plan.executeCollect()
    val b = collect(plan) { case b: BatchScanExec => b }.head
    Seq(PlanMetrics.Partitions, PlanMetrics.Bytes, PlanMetrics.IndexSpanBytes).map(n => n -> b.metrics(n).value).toMap
  }

  private def expect(partitions: Long, bytes: Long, spanBytes: Long): Map[String, Long] =
    Map(PlanMetrics.Partitions -> partitions, PlanMetrics.Bytes -> bytes, PlanMetrics.IndexSpanBytes -> spanBytes)

  private def splits(size: Long, splitSize: Long): Long = (size + splitSize - 1) / splitSize

  test("SAM: a multi-split scan plans the whole file, no index spans") {
    val s = spark
    import s.implicits._
    val out = tmpDir().resolve("t.sam")
    spark.createDataset(TestReads.mixed(800)).toDF()
      .write.format("sam").mode("overwrite").option("refs", "chr20:1000000,chr21:2000135").save(out.toString)
    val size = Files.size(out)
    assert(splits(size, 8192) > 1)
    val got = metrics(spark.read.format("sam").option("splitSize", 8192).load(out.toString))
    assert(got == expect(splits(size, 8192), size, 0L))
  }

  test("FASTQ: a multi-split scan plans the whole file, no index spans") {
    val s = spark
    import s.implicits._
    val out = tmpDir().resolve("t.fastq")
    spark.createDataset((0 until 2000).map(i =>
      graft.fastq.FastqRecord(f"r$i%05d", null, "ACGTACGTAC", "IIIIIIIIII"))).toDF()
      .coalesce(1).write.format("fastq").mode("overwrite").save(out.toString)
    val size = Files.size(out)
    assert(splits(size, 4096) > 1)
    val got = metrics(spark.read.format("fastq").option("splitSize", 4096).load(out.toString))
    assert(got == expect(splits(size, 4096), size, 0L))
  }

  test("VCF.bgz: an interval scan reports the .tbi spans that narrowed it") {
    val out = tmpDir().resolve("t.vcf.bgz")
    spark.range(20000).select(
      when(col("id") < 10000, lit("chr1")).otherwise(lit("chr2")).as("contig"),
      ((col("id") % 10000) * 10 + 1).cast("int").as("start"),
      ((col("id") % 10000) * 10 + 1).cast("int").as("end"),
      lit(null).cast("string").as("id"),
      lit("A").as("ref"), array(lit("G")).as("alt"),
      lit(30.0).as("qual"), array(lit("PASS")).as("filters"),
      map().cast("map<string,string>").as("info"),
      array().cast("array<struct<sample:string,gt:string,fields:map<string,string>>>").as("genotypes"))
      .coalesce(1).write.format("vcf").mode("overwrite").option("writeTbi", "true").save(out.toString)
    val size = Files.size(out)
    val ivs = "chr1:20001-30000,chr2:50001-50100"
    val opts = Map("path" -> out.toString, "splitsize" -> "4096", "intervals" -> ivs)
    val parts = new vcf.VcfScan(opts, graft.vcf.Variant.schema, Array.empty).planInputPartitions()
      .map(_.asInstanceOf[vcf.VcfInputPartition])
    val tbi = graft.index.TbiIndex.read(SeekableInput.ofFile(Path.of(out.toString + ".tbi")))
    val spanBytes = GenomicInterval.parseList(ivs).flatMap(iv => tbi.spans(iv.contig, iv.start - 1, iv.end - 1))
      .map { case (b, e) => math.min(size, Bgzf.blockStart(e) + 1) - Bgzf.blockStart(b) }.filter(_ > 0).sum
    val got = metrics(spark.read.format("vcf").option("splitSize", 4096).option("intervals", ivs)
      .load(out.toString))
    assert(got == expect(parts.length, parts.map(p => p.splitEnd - p.splitStart).sum, spanBytes))
    assert(spanBytes > 0 && got(PlanMetrics.Bytes) < size / 2, s"$got of $size bytes")
  }

  test("CRAM: the .crai route plans every container, or the interval's containers") {
    val s = spark
    import s.implicits._
    val out = tmpDir().resolve("t.cram")
    spark.createDataset(TestReads.mixed(600)).toDF().coalesce(1)
      .write.format("cram").mode("overwrite").option("records", "true")
      .option("refs", "chr20:1000000,chr21:2000135").option("recordsPerContainer", "100")
      .save(out.toString)
    val size = Files.size(out)
    val crai = graft.cram.CraiIndex.read(SeekableInput.ofFile(Path.of(out.toString + ".crai")))
    val offsets = crai.entries.map(_.containerOffset).distinct.sorted
    def plan(extra: Map[String, String]) =
      new cram.CramScan(Map("path" -> out.toString, "splitsize" -> "4096", "records" -> "true") ++ extra,
        graft.bam.AlignmentRecord.schema).planInputPartitions()
    def read() = spark.read.format("cram").option("records", "true").option("splitSize", 4096)

    val all = plan(Map.empty)
    assert(all.length > 1 && all.forall(_.isInstanceOf[cram.CramInputPartition]))
    assert(metrics(read().load(out.toString)) == expect(all.length, size - offsets.head, 0L))

    // the containers whose slices overlap the interval, each counted up to
    // the next container
    val ivs = "chr21:100000-150000"
    val want = crai.containerOffsets(1, 100000, 150000)
    val spanBytes = offsets.zip(offsets.drop(1) :+ size).collect { case (o, e) if want(o) => e - o }.sum
    val narrowed = plan(Map("intervals" -> ivs)).map(_.asInstanceOf[cram.CramInputPartition])
    val got = metrics(read().option("intervals", ivs).load(out.toString))
    assert(got(PlanMetrics.Partitions) == narrowed.length && got(PlanMetrics.IndexSpanBytes) == spanBytes)
    assert(spanBytes > 0 && got(PlanMetrics.Bytes) >= spanBytes && got(PlanMetrics.Bytes) < size / 2, s"$got")
  }
}
