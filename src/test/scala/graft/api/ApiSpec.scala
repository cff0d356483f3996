package graft.api

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.bam.TestReads

class ApiSpec extends AnyFunSuite with SparkFixture {

  private def tmpDir(): java.nio.file.Path = {
    val d = Files.createTempDirectory("apispec")
    d.toFile.deleteOnExit()
    d
  }

  private val refs = "chr20:1000000,chr21:1000135"

  test("Reads facade: extension dispatch bam vs sam, write-then-read") {
    import spark.implicits._
    val recs = TestReads.mixed(100)
    val df = spark.createDataset(recs).toDF()
    val dir = tmpDir()

    Reads.write(df, dir.resolve("a.bam").toString, refs, writeSbi = true)
    Reads.write(df, dir.resolve("a.sam").toString, refs, format = Some("sam"))
    assert(Reads.read(spark, dir.resolve("a.bam").toString).count() == recs.size)
    assert(Reads.read(spark, dir.resolve("a.sam").toString).count() == recs.size)
    // dispatch from a sharded directory's first file
    Reads.write(df.repartition(2), dir.resolve("shard").toString, refs)
    assert(Reads.read(spark, dir.resolve("shard").toString).count() == recs.size)
    // interval passthrough
    val n = Reads.read(spark, dir.resolve("a.bam").toString,
      intervals = Some("chr21:5000-9999")).count()
    assert(n == recs.count(r => r.contig == "chr21" && r.start <= 9999 && math.max(r.end, r.start) >= 5000))
  }

  test("format(htsjdk) facade auto-dispatches bam/sam/cram by extension") {
    import spark.implicits._
    val recs = TestReads.mixed(60)
    val df = spark.createDataset(recs).toDF()
    val dir = tmpDir()
    Reads.write(df, dir.resolve("x.bam").toString, refs)
    Reads.write(df, dir.resolve("x.sam").toString, refs, format = Some("sam"))
    // one registered source, three container formats
    assert(spark.read.format("htsjdk").load(dir.resolve("x.bam").toString).count() == recs.size)
    assert(spark.read.format("htsjdk").load(dir.resolve("x.sam").toString).count() == recs.size)
    // cram: container specs in, container rows out
    Seq((0, 100, 50, 7, 16), (1, 500, 90, 3, 8))
      .toDF("ref_seq_id", "start_pos", "span", "n_records", "data_length")
      .coalesce(1).write.format("cram").mode("overwrite")
      .save(dir.resolve("x.cram").toString)
    assert(spark.read.format("htsjdk").load(dir.resolve("x.cram").toString).count() == 2)
    // directory dispatch: first file's extension decides
    Reads.write(df.repartition(2), dir.resolve("shard2").toString, refs)
    assert(spark.read.format("htsjdk").load(dir.resolve("shard2").toString).count() == recs.size)
    // options pass through to the resolved source
    val n = spark.read.format("htsjdk").option("intervals", "chr21:5000-9999")
      .load(dir.resolve("x.bam").toString).count()
    assert(n == recs.count(r => r.contig == "chr21" && r.start <= 9999 && math.max(r.end, r.start) >= 5000))
    // records option passes through to the cram source: the SAME reads
    // written through the facade come back as records, not container rows
    df.coalesce(1).write.format("cram").mode("overwrite")
      .option("records", "true").option("refs", refs)
      .save(dir.resolve("rec.cram").toString)
    val backRec = spark.read.format("htsjdk").option("records", "true")
      .load(dir.resolve("rec.cram").toString)
    assert(backRec.columns.contains("readName"))
    assert(backRec.count() == recs.size)
    // unknown extension: a clear error, not a misparse
    Files.write(dir.resolve("x.unknown"), "not a reads file".getBytes("UTF-8"))
    val ex = intercept[IllegalArgumentException] {
      spark.read.format("htsjdk").load(dir.resolve("x.unknown").toString).count()
    }
    assert(ex.getMessage.contains("cannot infer reads format"))
  }

  test("permissive mode skips malformed lines; default mode fails fast") {
    val dir = tmpDir()
    val sam = dir.resolve("bad.sam")
    val good = TestReads.pairs(3).map(graft.sam.SamSpecWriter.toLine)
    val content = ("@HD\tVN:1.6" +: good.take(2)) ++ Seq("this is \t not a sam line") ++ good.drop(2)
    Files.write(sam, String.join("\n", content: _*).getBytes("UTF-8"))

    val ok = spark.read.format("sam").option("mode", "permissive").load(sam.toString).count()
    assert(ok == good.size)
    val ex = intercept[org.apache.spark.SparkException] {
      spark.read.format("sam").load(sam.toString).count()
    }
    assert(ex.getMessage != null)
  }
}
