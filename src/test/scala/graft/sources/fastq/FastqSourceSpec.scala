package graft.sources.fastq

import java.nio.file.{Files, Path => JPath}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkFixture
import graft.fastq.{FastqCodec, FastqRecord, FastqSpecWriter}

/** FASTQ splittable source: record ownership by header-line position key,
  * phase detection across split boundaries (quality lines legally start
  * with '@' or '+' — the adversarial case every split size must survive),
  * plain/BGZF/gzip codecs, sinks, limit pushdown, stringency.
  */
class FastqSourceSpec extends AnyFunSuite with SparkFixture {

  /** Deterministic records; quality strings deliberately include '@' and
    * '+' as FIRST characters (phred 31 and 10) so naive line sniffing
    * would misframe.
    */
  private def mkRecords(n: Int): IndexedSeq[FastqRecord] =
    (0 until n).map { i =>
      val len = 10 + i % 23
      val seq = (0 until len).map(j => "ACGT".charAt((i + j) % 4)).mkString
      val qual = (0 until len).map { j =>
        if (j == 0 && i % 3 == 0) '@'
        else if (j == 0 && i % 3 == 1) '+'
        else (33 + (i * 5 + j) % 40).toChar
      }.mkString
      FastqRecord(s"read$i", if (i % 4 == 0) s"c=$i" else null, seq, qual)
    }

  private def writePlain(recs: Seq[FastqRecord], dir: JPath, name: String): String = {
    val sb = new StringBuilder
    recs.foreach(FastqSpecWriter.toLines(_, sb))
    val p = dir.resolve(name)
    Files.write(p, sb.toString.getBytes("UTF-8"))
    p.toString
  }

  private def writeBgzf(recs: Seq[FastqRecord], dir: JPath, name: String): String = {
    val p = dir.resolve(name)
    val out = new graft.bgzf.BgzfOutputStream(
      Files.newOutputStream(p), writeEof = true)
    val sb = new StringBuilder
    recs.foreach { r => sb.setLength(0); FastqSpecWriter.toLines(r, sb); out.write(sb.toString.getBytes("UTF-8")) }
    out.close()
    p.toString
  }

  private def readAll(path: String, splitSize: Long): Seq[(String, String, String, String)] =
    spark.read.format("fastq").option("splitSize", splitSize.toString).load(path)
      .collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getString(1),
        r.getString(2), r.getString(3))).toSeq

  private def asTuples(recs: Seq[FastqRecord]) =
    recs.map(r => (r.readName, r.comment, r.seq, r.qual))

  test("plain text: every split size yields exactly the file's records") {
    val dir = Files.createTempDirectory("fastq")
    val recs = mkRecords(500)
    val p = writePlain(recs, dir, "r.fastq")
    val want = asTuples(recs).sortBy(_._1)
    for (ss <- Seq(256L, 1024L, 4096L, 1L << 20)) {
      val got = readAll(p, ss).sortBy(_._1)
      assert(got == want, s"splitSize $ss")
    }
  }

  test("BGZF: every split size yields exactly the file's records") {
    val dir = Files.createTempDirectory("fastq")
    val recs = mkRecords(800)
    val p = writeBgzf(recs, dir, "r.fastq.bgz")
    val want = asTuples(recs).sortBy(_._1)
    for (ss <- Seq(512L, 2048L, 1L << 20)) {
      val got = readAll(p, ss).sortBy(_._1)
      assert(got == want, s"splitSize $ss")
    }
  }

  test("plain gzip: readable single-split") {
    val dir = Files.createTempDirectory("fastq")
    val recs = mkRecords(120)
    val sb = new StringBuilder
    recs.foreach(FastqSpecWriter.toLines(_, sb))
    val p = dir.resolve("r.fastq.gz")
    val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(p))
    gz.write(sb.toString.getBytes("UTF-8")); gz.close()
    assert(readAll(p.toString, 1024).sortBy(_._1) == asTuples(recs).sortBy(_._1))
  }

  test("single-file sink round-trips (plain and BGZF), multi-partition concat") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fastq")
    val recs = mkRecords(300)
    val df = spark.createDataset(recs).toDF().repartition(4)
    for (name <- Seq("w.fastq", "w.fastq.bgz")) {
      val p = dir.resolve(name).toString
      df.write.format("fastq").mode("overwrite").save(p)
      assert(readAll(p, 2048).sortBy(_._1) == asTuples(recs).sortBy(_._1), name)
    }
  }

  test("sharded sink: complete per-partition files, directory read") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fastq").resolve("sharded")
    val recs = mkRecords(200)
    spark.createDataset(recs).toDF().repartition(3)
      .write.format("fastq").mode("overwrite").save(dir.toString)
    assert(readAll(dir.toString, 4096).sortBy(_._1) == asTuples(recs).sortBy(_._1))
  }

  test("limit pushdown: one partition per file, emit cap honored") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fastq")
    val recs = mkRecords(400)
    val p = dir.resolve("l.fastq").toString
    spark.createDataset(recs).toDF().coalesce(1).write.format("fastq").mode("overwrite").save(p)
    val limited = spark.read.format("fastq").load(p).limit(5)
    assert(limited.count() == 5)
    assert(limited.queryExecution.executedPlan.toString.contains("limit=5"))
  }

  test("column pruning: seq-only projection still exact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fastq")
    val recs = mkRecords(100)
    val p = writePlain(recs, dir, "c.fastq")
    val got = spark.read.format("fastq").option("splitSize", "512").load(p)
      .select(sum(length($"seq"))).head().getLong(0)
    assert(got == recs.map(_.seq.length).sum)
  }

  test("truncated trailing record: strict throws, lenient skips") {
    val dir = Files.createTempDirectory("fastq")
    val recs = mkRecords(50)
    val sb = new StringBuilder
    recs.foreach(FastqSpecWriter.toLines(_, sb))
    sb.append("@truncated\nACGT\n") // header + seq, no '+' / qual
    val p = dir.resolve("t.fastq")
    Files.write(p, sb.toString.getBytes("UTF-8"))
    intercept[org.apache.spark.SparkException] {
      spark.read.format("fastq").load(p.toString).count()
    }
    val n = spark.read.format("fastq").option("mode", "lenient").load(p.toString).count()
    assert(n == 50)
  }

  test("htsjdk facade dispatches .fastq") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fastq")
    val recs = mkRecords(60)
    val p = writePlain(recs, dir, "h.fastq")
    assert(spark.read.format("htsjdk").load(p).count() == 60)
  }

  test(".fq.bgz is a single BGZF file for the sink and dispatches via the facade") {
    // round-11 advice: .fq.bgz silently became a sharded DIRECTORY of
    // uncompressed shards; pin single-file + BGZF magic + facade dispatch
    import spark.implicits._
    val dir = Files.createTempDirectory("fastq")
    val recs = mkRecords(120)
    val out = dir.resolve("s.fq.bgz")
    spark.createDataset(recs).toDF().repartition(3)
      .write.format("fastq").mode("overwrite").save(out.toString)
    assert(Files.isRegularFile(out), ".fq.bgz must be a single file, not a shard directory")
    val head = new Array[Byte](4)
    val in = Files.newInputStream(out)
    try in.read(head) finally in.close()
    assert((head(0) & 0xff) == 0x1f && (head(1) & 0xff) == 0x8b, "must be gzip-framed (BGZF)")
    assert(spark.read.format("htsjdk").load(out.toString).count() == 120)
    assert(readAll(out.toString, 4096L).sortBy(_._1) == asTuples(recs).sortBy(_._1))
  }

  test("zero-length and color-space reads parse identically at every split size") {
    // round-11 advice: plausibleSeq rejected empty/digit sequence lines
    // that parse() accepts, making the SAME file succeed or fail depending
    // on where a split boundary lands. Pin split-size invariance for both.
    val dir = Files.createTempDirectory("fastq")
    val recs = (0 until 300).map { i =>
      if (i % 5 == 0) FastqRecord(s"empty$i", null, "", "")
      else if (i % 5 == 1) {
        val len = 8 + i % 11
        // SOLiD color-space: primer base + digit colors
        FastqRecord(s"cs$i", null,
          "T" + (0 until len).map(j => ('0' + (i + j) % 4).toChar).mkString,
          (0 to len).map(j => (33 + (i + j) % 40).toChar).mkString)
      } else mkRecords(i + 1).last
    }
    val p = writePlain(recs, dir, "z.fastq")
    val want = asTuples(recs).sortBy(_._1)
    for (ss <- Seq(128L, 512L, 2048L, 1L << 20)) {
      val got = readAll(p, ss).sortBy(_._1)
      assert(got == want, s"splitSize $ss")
    }
  }

  test("detectPhase: adversarial quality lines never misframe") {
    // a window landing on each of the 4 phases of a stream whose qual
    // lines start with '@'/'+'
    val recs = mkRecords(6)
    val lines = {
      val sb = new StringBuilder
      recs.foreach(FastqSpecWriter.toLines(_, sb))
      sb.toString.split('\n').toIndexedSeq
    }
    for (off <- 0 until 8) {
      val window = lines.drop(off).take(8)
      val p = FastqCodec.detectPhase(window)
      assert(p == (4 - off % 4) % 4, s"offset $off got phase $p")
    }
  }
}
