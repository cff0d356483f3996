package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.bam.TestReads
import graft.vcf.{Genotype, Variant}

/** DSv2 locality hints: every planned InputPartition must carry the block
  * hosts of its byte range (the reference gets this for free from Hadoop
  * `getSplits`, FileSplitInputFormat.java:14-62; DSv2 sources must override
  * `preferredLocations()`). On the local filesystem Hadoop reports
  * `localhost` for every block, so non-empty hints here prove the plumbing
  * end to end: planning fetched the block list and attached the ranked
  * hosts to each partition. Without the override, a 1000-executor HDFS
  * cluster schedules every read node-random — invisible at local[4], a
  * first-order cost at 100 TB.
  */
class LocalitySpec extends AnyFunSuite with SparkFixture {

  private def tmpDir(): java.nio.file.Path = {
    val d = Files.createTempDirectory("locality")
    d.toFile.deleteOnExit()
    d
  }

  private val refsOpt = "chr20:1000000,chr21:2000135"

  private def assertHosts(parts: Array[org.apache.spark.sql.connector.read.InputPartition],
                          what: String): Unit = {
    assert(parts.nonEmpty, s"$what: no partitions planned")
    parts.foreach { p =>
      val hosts = p.preferredLocations()
      assert(hosts.nonEmpty, s"$what: partition $p has no locality hints")
      assert(hosts.contains("localhost"),
        s"$what: local-FS blocks should report localhost, got ${hosts.mkString(",")}")
    }
  }

  test("BAM partitions carry block hosts (heuristic, SBI, and BAI routes)") {
    val s = spark
    import s.implicits._
    val dir = tmpDir()
    val out = dir.resolve("t.bam")
    spark.createDataset(TestReads.mixed(500)).toDF()
      .write.format("bam").mode("overwrite").option("refs", refsOpt).save(out.toString)
    // heuristic route (no sidecar)
    val scan = new graft.sources.bam.BamScan(
      Map("path" -> out.toString, "splitsize" -> "4096"),
      graft.bam.AlignmentRecord.schema, Array.empty)
    assertHosts(scan.planInputPartitions(), "bam-heuristic")
    // SBI route: re-write with the sidecar
    spark.createDataset(TestReads.mixed(500)).toDF()
      .write.format("bam").mode("overwrite").option("refs", refsOpt)
      .option("writeSbi", "true").save(out.toString)
    assert(Files.exists(dir.resolve("t.bam.sbi")))
    val scanSbi = new graft.sources.bam.BamScan(
      Map("path" -> out.toString, "splitsize" -> "4096"),
      graft.bam.AlignmentRecord.schema, Array.empty)
    assertHosts(scanSbi.planInputPartitions(), "bam-sbi")
    // BAI route: an interval scan over a .bai-indexed write plans
    // record-exact index spans
    spark.createDataset(TestReads.mixed(500)).toDF()
      .write.format("bam").mode("overwrite").option("refs", refsOpt)
      .option("writeBai", "true").save(out.toString)
    assert(Files.exists(dir.resolve("t.bam.bai")))
    val baiParts = new graft.sources.bam.BamScan(
      Map("path" -> out.toString, "splitsize" -> "4096", "intervals" -> "chr21:100000-300000"),
      graft.bam.AlignmentRecord.schema, Array.empty).planInputPartitions()
    assertHosts(baiParts, "bam-bai")
    baiParts.foreach { case p: graft.sources.bam.BamInputPartition =>
      assert(p.chunkStartVoff >= 0 && p.chunkEndVoff > p.chunkStartVoff, s"bam-bai: not voff-exact: $p")
    }
  }

  test("SAM partitions carry block hosts") {
    val s = spark
    import s.implicits._
    val dir = tmpDir()
    val out = dir.resolve("t.sam")
    spark.createDataset(TestReads.mixed(300)).toDF()
      .write.format("sam").mode("overwrite").option("refs", refsOpt).save(out.toString)
    val scan = new graft.sources.sam.SamScan(
      Map("path" -> out.toString, "splitsize" -> "8192"),
      graft.bam.AlignmentRecord.schema, Array.empty)
    assertHosts(scan.planInputPartitions(), "sam")
  }

  test("VCF partitions carry block hosts (plain and BGZF)") {
    val s = spark
    import s.implicits._
    val vs = (0 until 300).map { i =>
      Variant("chr20", i * 10 + 1, i * 10 + 1, null, "A", Seq("T"), null,
        Seq("PASS"), Map.empty, Seq(Genotype("s1", "0/1", Map.empty)))
    }
    val dir = tmpDir()
    for (name <- Seq("t.vcf", "t.vcf.bgz")) {
      val out = dir.resolve(name)
      spark.createDataset(vs).toDF()
        .write.format("vcf").mode("overwrite").save(out.toString)
      val scan = new graft.sources.vcf.VcfScan(
        Map("path" -> out.toString, "splitsize" -> "4096"),
        Variant.schema, Array.empty)
      assertHosts(scan.planInputPartitions(), name)
    }
  }

  test("CRAM partitions carry block hosts (crai and byte-range routes)") {
    val dir = tmpDir()
    val out = dir.resolve("t.cram")
    val df = spark.range(200).select(
      (col("id") % 3).cast("int").as("ref_seq_id"),
      (col("id") * 100 + 1).cast("int").as("start_pos"),
      lit(90).as("span"),
      (col("id") % 10 + 1).cast("int").as("n_records"),
      ((col("id") % 5) * 8).cast("int").as("data_length"))
    df.coalesce(1).write.format("cram").mode("overwrite")
      .option("writeCrai", "true").save(out.toString)
    val scanIdx = new graft.sources.cram.CramScan(
      Map("path" -> out.toString, "splitsize" -> "4096"),
      graft.sources.cram.CramTable.schema)
    assertHosts(scanIdx.planInputPartitions(), "cram-crai")
    Files.delete(dir.resolve("t.cram.crai"))
    val scanRange = new graft.sources.cram.CramScan(
      Map("path" -> out.toString, "splitsize" -> "4096"),
      graft.sources.cram.CramTable.schema)
    assertHosts(scanRange.planInputPartitions(), "cram-range")
  }
}
