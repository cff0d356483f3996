package graft.sources.bam

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.bam.{BamSpecWriter, TestReads}

class PairIntegritySpec extends AnyFunSuite with SparkFixture {

  test("keepPairsTogether: no read name spans two partitions, counts exact") {
    // queryname-grouped file: mates adjacent (TestReads.pairs emits r1,r2
    // consecutively per name)
    val recs = TestReads.pairs(1200) // 2400 records, names test-read-0000…
      .sortBy(_.readName)
    val dir = Files.createTempDirectory("pairs")
    dir.toFile.deleteOnExit()
    val bam = dir.resolve("qn.bam")
    BamSpecWriter.writeFile(bam, TestReads.header, recs.iterator)

    for (splitSize <- Seq(2048, 8192, 64 * 1024)) {
      val df = spark.read.format("bam")
        .option("splitSize", splitSize)
        .option("keepPairsTogether", "true")
        .load(bam.toString)
        .select(col("readName"), spark_partition_id().as("pid"))
      val n = df.count()
      assert(n == recs.size, s"splitSize=$splitSize lost/duplicated records")
      val split = df.groupBy("readName").agg(countDistinct("pid").as("nparts"))
        .filter(col("nparts") > 1).count()
      assert(split == 0, s"splitSize=$splitSize: $split names span partitions")
      // sanity: actually multi-partition
      if (splitSize <= 8192)
        assert(df.select("pid").distinct().count() > 1, s"splitSize=$splitSize single partition")
    }
  }

  test("keepPairsTogether off: tiny splits do split some name across partitions") {
    // (negative control — proves the option changes behavior)
    val recs = TestReads.pairs(1200).sortBy(_.readName)
    val dir = Files.createTempDirectory("pairs2")
    dir.toFile.deleteOnExit()
    val bam = dir.resolve("qn.bam")
    BamSpecWriter.writeFile(bam, TestReads.header, recs.iterator)
    val df = spark.read.format("bam").option("splitSize", 2048).load(bam.toString)
      .select(col("readName"), spark_partition_id().as("pid"))
    assert(df.count() == recs.size)
    val split = df.groupBy("readName").agg(countDistinct("pid").as("nparts"))
      .filter(col("nparts") > 1).count()
    assert(split > 0, "expected at least one boundary to split a pair without the option")
  }

  test("keepPairsTogether composes with SBI planning") {
    import spark.implicits._
    val recs = TestReads.pairs(800).sortBy(_.readName)
    val dir = Files.createTempDirectory("pairs3")
    dir.toFile.deleteOnExit()
    val out = dir.resolve("qn.bam")
    spark.createDataset(recs).toDF().coalesce(1)
      .write.format("bam").mode("overwrite")
      .option("refs", "chr20:1000000,chr21:1000135")
      .option("writeSbi", "true").option("sbiGranularity", "3")
      .save(out.toString)
    val df = spark.read.format("bam")
      .option("splitSize", 4096).option("keepPairsTogether", "true")
      .load(out.toString)
      .select(col("readName"), spark_partition_id().as("pid"))
    assert(df.count() == recs.size)
    assert(df.groupBy("readName").agg(countDistinct("pid").as("n"))
      .filter(col("n") > 1).count() == 0)
  }
}
