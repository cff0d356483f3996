package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.bam.TestReads

/** What a scan reports about the records it could not read as they are:
  * lenient and permissive reads count them as the `recordsSkipped` /
  * `recordsSalvaged` task metrics (exact values read from
  * `executedPlan.metrics`), and a strict VCF read names the file and the
  * bad line's offset without echoing the whole line.
  *
  * A VCF line is never salvaged in practice: the genotype columns never
  * fail the decode, and the mandatory-fields re-decode checks a superset
  * of what the first decode checks; SAM carries the salvaged count here.
  */
class StringencyReportingSpec extends AnyFunSuite with SparkFixture with AdaptiveSparkPlanHelper {

  private def tmpDir(): Path = {
    val d = Files.createTempDirectory("stringency-report")
    d.toFile.deleteOnExit()
    d
  }

  private def write(name: String, lines: Seq[String]): String = {
    val p = tmpDir().resolve(name)
    Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    p.toString
  }

  /** (rows, skipped, salvaged) of the very plan instance whose metrics are read. */
  private def counts(df: DataFrame): (Int, Long, Long) = {
    val plan = df.queryExecution.executedPlan
    val rows = plan.executeCollect().length
    val b = collect(plan) { case b: BatchScanExec => b }.head
    (rows, b.metrics(StringencyLog.Skipped).value, b.metrics(StringencyLog.Salvaged).value)
  }

  private val vcfHeader = Seq("##fileformat=VCFv4.2",
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1")

  private val vcfLines = vcfHeader ++ Seq(
    "chr20\t100\t.\tA\tC\t50\tPASS\tDP=10\tGT:DP\t0/1:3",
    "chr20\t200\t.\tA\tC\tbogus\tPASS\tDP=11\tGT:DP\t0/1:4", // QUAL: unrecoverable
    "chr20\t300\t.\tA\tC\t70\tPASS\tDP=12\tGT:DP\t::1:x:\t", // odd genotypes decode whole
    "chr20\t400\t.\tA\tC\t80\tPASS\tDP=13\tGT:DP\t1/1:5")

  test("lenient and permissive VCF: the unrecoverable line counts as skipped") {
    val path = write("t.vcf", vcfLines)
    for (mode <- Seq("lenient", "permissive")) {
      val df = spark.read.format("vcf").option("mode", mode).load(path).selectExpr("start", "genotypes")
      assert(counts(df) == ((3, 1L, 0L)), mode)
    }
    // a pushed limit keeps the reader's counts
    val capped = spark.read.format("vcf").option("mode", "lenient").load(path).limit(10)
    assert(counts(capped) == ((3, 1L, 0L)))
  }

  test("lenient SAM: a malformed optional tag counts as salvaged") {
    val header = Seq("@HD\tVN:1.6", "@SQ\tSN:chr20\tLN:1000000")
    def line(name: String, start: Int, extra: String = "") =
      s"$name\t0\tchr20\t$start\t60\t4M\t*\t0\t0\tACGT\tIIII$extra"
    val path = write("t.sam", header ++ Seq(line("r1", 100), line("r2", 200, "\tX"), line("r3", 300)))
    assert(counts(spark.read.format("sam").option("mode", "lenient").load(path)) == ((3, 0L, 1L)))
  }

  test("a clean BAM read leniently reports 0 skipped, 0 salvaged") {
    val s = spark
    import s.implicits._
    val p = tmpDir().resolve("clean.bam").toString
    spark.createDataset(TestReads.mixed(200)).toDF().write.format("bam").mode("overwrite")
      .option("refs", "chr20:1000000,chr21:2000135").save(p)
    val (rows, skipped, salvaged) = counts(spark.read.format("bam").option("mode", "lenient").load(p))
    assert(rows == 402 && skipped == 0 && salvaged == 0)
  }

  test("strict VCF: the error names the file and the line's offset, not the whole line") {
    val bad = "chr20\t200\t.\tA\tC\tbogus\tPASS\tCSQ=" + ("x" * 10000)
    val lines = vcfHeader.take(1) :+ "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO" :+
      "chr20\t100\t.\tA\tC\t50\tPASS\tDP=10" :+ bad
    val path = write("strict.vcf", lines)
    val offset = lines.takeWhile(_ != bad).map(_.getBytes("UTF-8").length + 1).sum
    val ex = intercept[org.apache.spark.SparkException](
      spark.read.format("vcf").load(path).selectExpr("start").collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val msg = messages(ex).find(_.contains("bad VCF line")).getOrElse(fail(s"no VCF error in $ex"))
    assert(msg.contains(path) && msg.contains(s"offset $offset"), msg)
    assert(msg.contains(bad.take(150)) && !msg.contains(bad.take(201)), msg.length)
  }
}
