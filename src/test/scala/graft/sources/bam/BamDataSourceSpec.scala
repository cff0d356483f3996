package graft.sources.bam

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.bam._

class BamDataSourceSpec extends AnyFunSuite with SparkFixture {

  private def tmpDir(): java.nio.file.Path = {
    val d = Files.createTempDirectory("bamspec")
    d.toFile.deleteOnExit()
    d
  }

  private val refsOpt = "chr20:1000000,chr21:2000135"

  test("read a BamIO-written file: counts, content, multiple split sizes") {
    val recs = TestReads.mixed(1000) // 2002 records
    val dir = tmpDir()
    val bam = dir.resolve("t.bam")
    BamSpecWriter.writeFile(bam, TestReads.header, recs.iterator)

    for (splitSize <- Seq(4096, 64 * 1024, 64 * 1024 * 1024)) {
      val df = spark.read.format("bam").option("splitSize", splitSize).load(bam.toString)
      assert(df.count() == recs.size, s"splitSize=$splitSize")
    }
    // content equality, full schema
    val got = spark.read.format("bam").option("splitSize", 4096).load(bam.toString)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getInt(3), r.getInt(4),
        r.getInt(5), r.getString(6), r.getString(7), r.getInt(8), r.getInt(9),
        r.getString(10), r.getString(11), r.getMap[String, String](12).size))
    val want = recs.map(r => (r.readName, r.flags, r.contig, r.start, r.end, r.mapq, r.cigar,
      r.mateContig, r.mateStart, r.tlen, r.seq, r.qual, r.attributes.size))
    assert(got.toSeq == want) // file order preserved across partitions
  }

  test("write single-file BAM, read back with independent sequential decoder") {
    val recs = TestReads.mixed(500)
    import spark.implicits._
    val df = spark.createDataset(recs).repartition(7).sortWithinPartitions($"start").toDF()
    val dir = tmpDir()
    val out = dir.resolve("out.bam")
    df.write.format("bam").mode("overwrite").option("refs", refsOpt).save(out.toString)
    // oracle: our sequential reader
    val (h2, got) = BamIO.readAllFile(out)
    assert(h2.refs == TestReads.refs)
    assert(got.size == recs.size)
    // ends with EOF terminator; starts with BGZF magic
    val bytes = Files.readAllBytes(out)
    assert(bytes.takeRight(28).sameElements(graft.bgzf.Bgzf.EofBlock))
    assert((bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b)
    // no temp dir left behind
    assert(!Files.exists(dir.resolve("out.bam.parts")))
  }

  test("write sharded directory, read back as one dataset") {
    val recs = TestReads.mixed(500)
    import spark.implicits._
    val df = spark.createDataset(recs).repartition(5).toDF()
    val dir = tmpDir().resolve("sharded")
    df.write.format("bam").mode("overwrite").option("refs", refsOpt).save(dir.toString)
    val files = Files.list(dir).iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    var n = 0
    files.forEachRemaining(p => if (p.getFileName.toString.endsWith(".bam")) n += 1)
    assert(n == 5)
    val back = spark.read.format("bam").load(dir.toString)
    assert(back.count() == recs.size)
  }

  test("spark round-trip preserves every field") {
    val recs = TestReads.mixed(200)
    import spark.implicits._
    val dir = tmpDir()
    val out = dir.resolve("rt.bam")
    spark.createDataset(recs).toDF()
      .write.format("bam").mode("overwrite").option("refs", refsOpt).save(out.toString)
    val back = spark.read.format("bam").load(out.toString).as[AlignmentRecord].collect()
    assert(back.sortBy(r => (r.readName, r.flags)).toSeq ==
      recs.sortBy(r => (r.readName, r.flags)))
  }

  test("intervals option filters records; unplacedUnmapped appends tail") {
    val recs = TestReads.mixed(1000)
    val dir = tmpDir()
    val bam = dir.resolve("iv.bam")
    BamSpecWriter.writeFile(bam, TestReads.header, recs.iterator)

    def readIv(iv: String, uu: Boolean): Long =
      spark.read.format("bam").option("splitSize", 32 * 1024)
        .option("intervals", iv).option("unplacedUnmapped", uu.toString)
        .load(bam.toString).count()

    val oracle = recs.count(r => r.contig == "chr21" && r.start <= 9999 && math.max(r.end, r.start) >= 5000)
    assert(readIv("chr21:5000-9999", uu = false) == oracle)
    val oracleUu = recs.count(r => (r.flags & 4) != 0 && r.start == 0)
    assert(readIv("", uu = true) == oracleUu)
    assert(readIv("chr21:5000-9999", uu = true) == oracle + oracleUu)
    // whole-chromosome interval = all placed chr21 records
    val all21 = recs.count(r => r.contig == "chr21")
    assert(readIv("chr21:1-2000135", uu = false) == all21)
  }

  test("column pruning: projected scan still correct (pruned decode path)") {
    val recs = TestReads.mixed(300)
    val dir = tmpDir()
    val bam = dir.resolve("prune.bam")
    BamSpecWriter.writeFile(bam, TestReads.header, recs.iterator)
    val df = spark.read.format("bam").load(bam.toString).select("contig", "start")
    assert(df.count() == recs.size)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft-bam") || plan.contains("BatchScan"))
    // groupBy over pruned columns matches oracle
    val got = df.groupBy("contig").count().collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val want = recs.groupBy(_.contig).view.mapValues(_.size.toLong).toMap
    assert(got == want)
  }

  test("filter pushdown shows in scan description and results are exact") {
    val recs = TestReads.mixed(300)
    val dir = tmpDir()
    val bam = dir.resolve("push.bam")
    BamSpecWriter.writeFile(bam, TestReads.header, recs.iterator)
    val df = spark.read.format("bam").load(bam.toString)
      .filter(col("contig") === "chr21" && col("start") >= 5000 && col("start") <= 9999)
    val want = recs.count(r => r.contig == "chr21" && r.start >= 5000 && r.start <= 9999)
    assert(df.count() == want)
  }

  test("empty BAM (header only) reads as empty dataset") {
    val dir = tmpDir()
    val bam = dir.resolve("empty.bam")
    BamSpecWriter.writeFile(bam, TestReads.header, Iterator.empty)
    assert(spark.read.format("bam").load(bam.toString).count() == 0)
  }
}
