package graft.sources.bam

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.bam._

/** Traversal-parameter parity with the reference's negative tests
  * (HtsjdkReadsRddTest.java:307-326, AbstractBinarySamSource.java:50-54):
  *  - explicit unplacedUnmapped=false with no intervals = "mapped reads only"
  *    → rejected at planning;
  *  - unplacedUnmapped=true with no intervals = unplaced-unmapped-ONLY
  *    traversal (not read-everything);
  *  - both hold for BAM, SAM and CRAM records mode alike;
  *  - a sink path with no format signal and no refs dictionary fails fast.
  */
class TraversalParitySpec extends AnyFunSuite with SparkFixture {

  private def writeMixed(n: Int): String = {
    val dir = Files.createTempDirectory("traversal")
    dir.toFile.deleteOnExit()
    val bam = dir.resolve("t.bam")
    BamSpecWriter.writeFile(bam, TestReads.header, TestReads.mixed(n).iterator)
    bam.toString
  }

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  test("mapped-only traversal is rejected (bam)") {
    val path = writeMixed(50)
    val e = intercept[Exception] {
      spark.read.format("bam").option("unplacedUnmapped", "false").load(path).count()
    }
    assert(messages(e).mkString(" | ").contains("mapped reads only is not supported"))
  }

  test("mapped-only traversal is rejected (sam)") {
    val dir = Files.createTempDirectory("traversal-sam")
    dir.toFile.deleteOnExit()
    val sam = dir.resolve("t.sam")
    import spark.implicits._
    val df = spark.createDataset(TestReads.pairs(20)).toDF()
    df.write.format("sam").mode("overwrite")
      .option("refs", "chr20:1000000,chr21:2000135").save(sam.toString)
    val e = intercept[Exception] {
      spark.read.format("sam").option("unplacedUnmapped", "false").load(sam.toString).count()
    }
    assert(messages(e).mkString(" | ").contains("mapped reads only is not supported"))
  }

  test("unplaced-unmapped-only traversal returns only the unmapped tail") {
    val path = writeMixed(200) // 402 records, last 2 unplaced-unmapped
    val rows = spark.read.format("bam").option("unplacedUnmapped", "true")
      .load(path).selectExpr("readName", "contig", "start").collect()
    assert(rows.length == 2)
    assert(rows.forall(r => r.isNullAt(1) && r.getInt(2) == 0))
    // and still composes with small splits
    val n = spark.read.format("bam").option("unplacedUnmapped", "true")
      .option("splitSize", 4096).load(path).count()
    assert(n == 2)
  }

  /** A records-mode CRAM of `TestReads.mixed(n)` in small containers, with
    * or without its `.crai`.
    */
  private def writeCram(n: Int, crai: Boolean): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("traversal-cram")
    dir.toFile.deleteOnExit()
    val out = dir.resolve("t.cram").toString
    spark.createDataset(TestReads.mixed(n)).toDF().coalesce(1)
      .write.format("cram").mode("overwrite").option("records", "true")
      .option("refs", "chr20:1000000,chr21:1000135").option("recordsPerContainer", "50")
      .option("writeCrai", crai.toString).save(out)
    assert(Files.exists(dir.resolve("t.cram.crai")) == crai)
    out
  }

  for (crai <- Seq(true, false)) {
    test(s"cram records: unplaced-unmapped-only traversal returns only the unmapped tail (crai=$crai)") {
      val path = writeCram(200, crai) // 402 records, last 2 unplaced-unmapped
      def read(splitSize: Int) = spark.read.format("cram").option("records", "true")
        .option("unplacedUnmapped", "true").option("splitSize", splitSize).load(path)
      val rows = read(1 << 20).selectExpr("readName", "contig", "start").collect()
      assert(rows.map(_.getString(0)).sorted.toSeq == Seq("unplaced-000", "unplaced-001"))
      assert(rows.forall(r => r.isNullAt(1) && r.getInt(2) == 0))
      assert(read(4096).count() == 2)
    }

    test(s"cram records: mapped-only traversal is rejected (crai=$crai)") {
      val path = writeCram(50, crai)
      val e = intercept[Exception] {
        spark.read.format("cram").option("records", "true")
          .option("unplacedUnmapped", "false").load(path).count()
      }
      assert(messages(e).mkString(" | ").contains("mapped reads only is not supported"))
    }
  }

  test("bam sink without a refs dictionary fails fast") {
    import spark.implicits._
    val df = spark.createDataset(TestReads.pairs(5)).toDF()
    val dir = Files.createTempDirectory("norefs")
    dir.toFile.deleteOnExit()
    val e = intercept[Exception] {
      df.write.format("bam").mode("overwrite").save(dir.resolve("x.bam").toString)
    }
    assert(messages(e).mkString(" | ").contains("requires option refs"))
  }

  test("reads facade cannot infer a format from an extension-less path") {
    val dir = Files.createTempDirectory("noext")
    dir.toFile.deleteOnExit()
    val p = dir.resolve("data")
    Files.write(p, "x".getBytes)
    val e = intercept[IllegalArgumentException] {
      graft.api.Reads.read(spark, p.toString)
    }
    assert(e.getMessage.contains("cannot infer reads format"))
  }
}
