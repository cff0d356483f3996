package graft.sources

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.bam.TestReads

/** Failure-injection for the sink commit protocol: a write job that dies
  * mid-flight must leave NO partial output — no half-written target, no
  * orphaned temp parts. On a 1000-executor cluster task and job failures
  * are routine; a sink whose abort path leaks partial single-file output
  * would poison every downstream lexicographic directory scan (which
  * would pick up temp parts as inputs).
  */
class WriteAbortSpec extends AnyFunSuite with SparkFixture {

  private def tmpDir(): Path = {
    val d = Files.createTempDirectory("abort")
    d.toFile.deleteOnExit()
    d
  }

  private val refsOpt = "chr20:1000000,chr21:2000135"

  /** Poison one record so exactly one task throws mid-write. The rows come
    * from an RDD, not a local collection: over a LocalRelation the optimizer
    * would evaluate `raise_error` at planning time and the write would never
    * start. Several partitions, so sibling tasks may still be writing parts
    * when the job aborts.
    */
  private def poisoned(n: Int) = {
    val s = spark
    import s.implicits._
    spark.createDataset(spark.sparkContext.parallelize(TestReads.mixed(n), 4)).toDF()
      .withColumn("start",
        when($"readName" === f"test-read-${n / 2}%03d",
          raise_error(lit("injected task failure")).cast("int"))
          .otherwise($"start"))
  }

  test("failed single-file BAM write leaves neither target nor temp parts") {
    val dir = tmpDir()
    val out = dir.resolve("dead.bam")
    intercept[Exception] {
      poisoned(600).write.format("bam").mode("overwrite")
        .option("refs", refsOpt).save(out.toString)
    }
    val leftovers = Files.list(dir).toArray.map(_.toString)
    assert(leftovers.isEmpty, s"abort leaked: ${leftovers.mkString(", ")}")
  }

  test("failed sharded BAM write leaves no committed shards behind") {
    val dir = tmpDir()
    val out = dir.resolve("shards")
    intercept[Exception] {
      poisoned(600).repartition(8).write.format("bam").mode("overwrite")
        .option("refs", refsOpt).save(out.toString)
    }
    // the shard directory may exist, but no complete .bam shard may have
    // survived the job abort
    val survivors =
      if (Files.exists(out)) Files.list(out).toArray.map(_.toString).filter(_.endsWith(".bam"))
      else Array.empty[String]
    assert(survivors.isEmpty, s"job abort left shards: ${survivors.mkString(", ")}")
    assert(!Files.exists(dir.resolve("shards.parts")), "abort left the staging directory")
  }

  test("sharded write and overwrite to a path with a trailing slash") {
    val s = spark
    import s.implicits._
    val dir = tmpDir()
    val out = dir.resolve("shards")
    val reads = spark.createDataset(TestReads.mixed(300)).toDF()
    def writeAndCheck(n: Int): Unit = {
      reads.limit(n).repartition(3).write.format("bam").mode("overwrite")
        .option("refs", refsOpt).save(out.toString + "/")
      val names = Files.list(out).toArray.map(_.asInstanceOf[Path].getFileName.toString)
      assert(names.count(_.endsWith(".bam")) == 3, names.mkString(", "))
      assert(spark.read.format("bam").load(out.toString).count() == n)
      assert(Files.list(dir).toArray.map(_.toString).toSeq == Seq(out.toString),
        "the commit left the staging directory")
    }
    writeAndCheck(300)
    writeAndCheck(120) // overwrite replaces the previous shards
  }

  test("a failed overwrite does not destroy readable prior output") {
    val s = spark
    import s.implicits._
    val dir = tmpDir()
    val out = dir.resolve("keep.bam")
    val opts = Map("refs" -> refsOpt, "writeSbi" -> "true", "writeBai" -> "true")
    val good = spark.createDataset(TestReads.mixed(200)).toDF()
    good.write.format("bam").mode("overwrite").options(opts).save(out.toString)
    val files = Seq("keep.bam", "keep.bam.bai", "keep.bam.sbi", "keep.bam.gci").map(dir.resolve(_))
    val before = files.map(f => f -> Files.readAllBytes(f))
    val rowsBefore = spark.read.format("bam").load(out.toString).count()
    intercept[Exception] {
      poisoned(600).write.format("bam").mode("overwrite").options(opts).save(out.toString)
    }
    // the old target is replaced only at job commit, so a failed job leaves
    // the previous output and every sidecar byte-identical
    before.foreach { case (f, bytes) =>
      assert(Files.exists(f), s"failed overwrite removed $f")
      assert(java.util.Arrays.equals(Files.readAllBytes(f), bytes), s"failed overwrite changed $f")
    }
    assert(spark.read.format("bam").load(out.toString).count() == rowsBefore)
    assert(!Files.exists(dir.resolve("keep.bam.parts")), "abort left the staging directory")
  }

  test("commit merges only committed parts, never a stray file in the staging directory") {
    val s = spark
    import s.implicits._
    val dir = tmpDir()
    val clean = dir.resolve("clean.bam")
    val out = dir.resolve("out.bam")
    val reads = spark.createDataset(TestReads.mixed(300)).coalesce(1).toDF()
    reads.write.format("bam").mode("overwrite").option("refs", refsOpt).save(clean.toString)
    val staging = out.toString + ".parts"
    // a task drops a stray file (named like a part) into the staging
    // directory while the job runs
    val strayReads = spark.createDataset(TestReads.mixed(300)).coalesce(1).mapPartitions { it =>
      java.nio.file.Files.write(java.nio.file.Paths.get(staging, "part-000000099"),
        "not a BGZF block".getBytes("UTF-8"))
      it
    }.toDF()
    strayReads.write.format("bam").mode("overwrite").option("refs", refsOpt).save(out.toString)
    assert(java.util.Arrays.equals(Files.readAllBytes(out), Files.readAllBytes(clean)),
      "the merged BAM differs from a clean write")
    val rows = spark.read.format("bam").load(out.toString).collect().map(_.toString).sorted
    val expected = spark.read.format("bam").load(clean.toString).collect().map(_.toString).sorted
    assert(rows.sameElements(expected))
  }

  test("two attempts of one sharded partition: the aborted one leaves the committed shard intact") {
    val s = spark
    import s.implicits._
    val out = tmpDir().resolve("shards")
    val df = spark.createDataset(TestReads.mixed(100)).toDF()
    val rows = df.queryExecution.toRdd.map(_.copy()).collect()
    val sink = graft.sources.bam.BamFormat.sink(out.toString, -1,
      Map("refs" -> refsOpt, "writesbi" -> "true"), df.schema)
    val write = new StagedBatchWrite(sink, out.toString,
      new SerializableConf(spark.sessionState.newHadoopConf()))
    val factory = write.createBatchWriterFactory(new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    })
    val winner = factory.createWriter(0, 1L)
    val loser = factory.createWriter(0, 2L)
    rows.foreach { r => winner.write(r); loser.write(r) }
    val committed = winner.commit()
    winner.close()
    loser.abort()
    loser.close()
    Files.write(Path.of(out.toString + ".parts", "part-000000007.bam"), "stray".getBytes("UTF-8"))
    write.commit(Array(committed))
    val names = Files.list(out).toArray.map(_.asInstanceOf[Path].getFileName.toString)
      .filterNot(_.startsWith(".")).sorted.toSeq
    assert(names == Seq("part-000000000.bam", "part-000000000.bam.sbi"), names.mkString(", "))
    assert(spark.read.format("bam").load(out.toString).count() == rows.length)
  }
}
