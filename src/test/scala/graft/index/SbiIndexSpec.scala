package graft.index

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.bam.{BamIO, TestReads}
import graft.bgzf.SeekableInput

class SbiIndexSpec extends AnyFunSuite with SparkFixture {

  private def tmpDir(): java.nio.file.Path = {
    val d = Files.createTempDirectory("sbispec")
    d.toFile.deleteOnExit()
    d
  }

  test("SBI binary round-trip") {
    val idx = SbiIndex(123456L, 999L, 64L, Array(100L << 16, (5000L << 16) | 123, 99999L << 16))
    val bos = new java.io.ByteArrayOutputStream()
    SbiIndex.write(bos, idx)
    val back = SbiIndex.read(SeekableInput.ofBytes(bos.toByteArray))
    assert(back.fileLength == idx.fileLength)
    assert(back.totalRecords == idx.totalRecords)
    assert(back.granularity == idx.granularity)
    assert(back.offsets.sameElements(idx.offsets))
  }

  test("boundaryAtOrAfter: binary search semantics") {
    val offs = Array((10L << 16) | 5, (10L << 16) | 900, 300L << 16, 500L << 16)
    val idx = SbiIndex(0, 0, 1, offs)
    assert(idx.boundaryAtOrAfter(0) == offs(0))
    assert(idx.boundaryAtOrAfter(10) == offs(0))
    assert(idx.boundaryAtOrAfter(11) == offs(2))
    assert(idx.boundaryAtOrAfter(300) == offs(2))
    assert(idx.boundaryAtOrAfter(301) == offs(3))
    assert(idx.boundaryAtOrAfter(501) == offs(3)) // sentinel fallback
  }

  test("single-file write with writeSbi: index exists, counts exact at any split size") {
    import spark.implicits._
    val recs = TestReads.mixed(800)
    val dir = tmpDir()
    val out = dir.resolve("i.bam")
    spark.createDataset(recs).toDF().repartition(6)
      .write.format("bam").mode("overwrite")
      .option("refs", "chr20:1000000,chr21:1000135")
      .option("writeSbi", "true").option("sbiGranularity", "7")
      .save(out.toString)
    assert(Files.exists(dir.resolve("i.bam.sbi")))
    val sbi = SbiIndex.read(SeekableInput.ofFile(dir.resolve("i.bam.sbi")))
    assert(sbi.totalRecords == recs.size)
    assert(sbi.fileLength == Files.size(out))
    // every sampled offset is a true record start: decode from each offset
    // must yield a valid stream of records to the end
    val (_, all) = BamIO.readAllFile(out)
    assert(all.size == recs.size)
    // reads with tiny splits use SBI planning; counts must stay exact
    for (splitSize <- Seq(2048, 16 * 1024, 8 * 1024 * 1024)) {
      val n = spark.read.format("bam").option("splitSize", splitSize).load(out.toString).count()
      assert(n == recs.size, s"splitSize=$splitSize")
    }
    // intervals still work through the SBI path
    val iv = spark.read.format("bam").option("splitSize", 4096)
      .option("intervals", "chr21:5000-9999").load(out.toString).count()
    val want = recs.count(r => r.contig == "chr21" && r.start <= 9999 && math.max(r.end, r.start) >= 5000)
    assert(iv == want)
  }

  test("sharded write with writeSbi: per-file indexes, dataset still reads") {
    import spark.implicits._
    val recs = TestReads.mixed(300)
    val dir = tmpDir().resolve("sharded")
    spark.createDataset(recs).toDF().repartition(3)
      .write.format("bam").mode("overwrite")
      .option("refs", "chr20:1000000,chr21:1000135")
      .option("writeSbi", "true").option("sbiGranularity", "5")
      .save(dir.toString)
    val sbis = Files.list(dir).iterator()
    var nSbi = 0
    sbis.forEachRemaining(p => if (p.getFileName.toString.endsWith(".sbi")) nSbi += 1)
    assert(nSbi == 3)
    val back = spark.read.format("bam").option("splitSize", 4096).load(dir.toString)
    assert(back.count() == recs.size)
  }

  test("sharded write with writeSbi: a shard of exactly 16 sampled windows") {
    // 16 is the sample builders' first capacity: the per-shard .sbi and the
    // part report both read the shard's sampled offsets
    import spark.implicits._
    val recs = TestReads.pairs(8)
    val dir = tmpDir().resolve("sixteen")
    spark.createDataset(recs).toDF().coalesce(1)
      .write.format("bam").mode("overwrite")
      .option("refs", "chr20:1000000,chr21:1000135")
      .option("writeSbi", "true").option("sbiGranularity", "1")
      .save(dir.toString)
    val sbi = Files.list(dir).filter(_.getFileName.toString.endsWith(".sbi")).findFirst().get()
    val idx = SbiIndex.read(SeekableInput.ofBytes(Files.readAllBytes(sbi)))
    assert(idx.totalRecords == 16 && idx.offsets.length == 17)
    assert(spark.read.format("bam").load(dir.toString).count() == 16)
  }
}
