package graft.sources

import java.nio.file.{Files, Path}

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.bam.{BamCodec, BamSpecWriter, TestReads}
import graft.bgzf.BgzfOutputStream
import graft.cram.{CramContainers, CramRecordCodec}

/** What a scan reports about the records it could not read as they are:
  * lenient and permissive reads count them as the `recordsSkipped` /
  * `recordsSalvaged` task metrics (exact values read from
  * `executedPlan.metrics`), and a strict read names the file and the bad
  * record's offset without echoing the whole line. Every partition reader
  * (BAM, SAM, VCF, FASTQ, CRAM containers, CRAM records) applies the same
  * policy: lenient warns per record, permissive does not.
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

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  /** Byte offset of `line` in the file written from `lines`. */
  private def offsetOf(lines: Seq[String], line: String): Int =
    lines.takeWhile(_ != line).map(_.getBytes("UTF-8").length + 1).sum

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
    val msg = messages(ex).find(_.contains("bad VCF line")).getOrElse(fail(s"no VCF error in $ex"))
    assert(msg.contains(path) && msg.contains(s"offset $offset"), msg)
    assert(msg.contains(bad.take(150)) && !msg.contains(bad.take(201)), msg.length)
  }

  // ---- one policy for every reader -----------------------------------------

  /** The per-record stringency warnings logged while `body` runs. */
  private def warningsDuring[T](body: => T): (T, Seq[String]) = {
    val logger = LogManager.getLogger(classOf[StringencyLog]).asInstanceOf[CoreLogger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("stringency-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName == logger.getName) seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val level = logger.getLevel
    logger.addAppender(capture)
    logger.setLevel(Level.WARN)
    try {
      val out = body
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq.filter(_.startsWith("lenient:")))
    } finally {
      logger.removeAppender(capture)
      logger.setLevel(level)
      capture.stop()
    }
  }

  /** One malformed input of one reader: its scan in a given mode, the rows
    * and skipped records a lenient or permissive read reports, and the
    * file-and-offset text a strict read's error carries.
    */
  private case class Malformed(reader: String, read: String => DataFrame, rows: Int, skipped: Long,
                               names: String)

  /** One partition per file, so each reader instance sees the whole input. */
  private def load(format: String, path: String, mode: String, opts: (String, String)*): DataFrame =
    spark.read.format(format).option("mode", mode).option("splitSize", 64L << 20).options(opts.toMap).load(path)

  /** 40 BAM records; the 18th has l_read_name = 255, so its name overruns
    * the record however few columns are decoded (its framing is intact).
    */
  private def malformedBam(): Malformed = {
    val path = tmpDir().resolve("bad.bam")
    val out = new BgzfOutputStream(Files.newOutputStream(path))
    BamCodec.writeHeader(out, TestReads.header)
    var badVoff = -1L
    TestReads.pairs(20).zipWithIndex.foreach { case (r, i) =>
      val bytes = BamSpecWriter.encodeRecord(r, TestReads.header)
      if (i == 17) { badVoff = out.virtualOffset; bytes(4 + 8) = 0xff.toByte }
      out.write(bytes)
    }
    out.close()
    Malformed("BAM", load("bam", path.toString, _).selectExpr("readName", "start"), 39, 1L,
      s"undecodable BAM record at voff $badVoff in $path")
  }

  private def malformedSam(): Malformed = {
    def line(name: String, flags: String) = s"$name\t$flags\tchr20\t100\t60\t4M\t*\t0\t0\tACGT\tIIII"
    val lines = Seq("@HD\tVN:1.6", "@SQ\tSN:chr20\tLN:1000000") ++
      Seq(line("r1", "0"), line("r2", "0"), line("r3", "x"), line("r4", "0"), line("r5", "0"))
    val path = write("bad.sam", lines)
    Malformed("SAM", load("sam", path, _).selectExpr("readName"), 4, 1L,
      s"bad SAM line in $path at offset ${offsetOf(lines, line("r3", "x"))}")
  }

  private def malformedVcf(): Malformed = {
    val path = write("bad.vcf", vcfLines)
    Malformed("VCF", load("vcf", path, _).selectExpr("start"), 3, 1L,
      s"bad VCF line in $path at offset ${offsetOf(vcfLines, vcfLines(3))}")
  }

  /** 21 records, the 8th with a qual shorter than its seq, then a truncated
    * trailing record: two skipped records.
    */
  private def malformedFastq(): Malformed = {
    val recs = (0 until 21).map(i => Seq(s"@r$i", "ACGT", "+", if (i == 7) "III" else "IIII"))
    val lines = recs.flatten ++ Seq("@truncated", "ACGT")
    val path = write("bad.fastq", lines)
    Malformed("FASTQ", load("fastq", path, _).selectExpr("readName"), 20, 2L,
      s"bad FASTQ record in $path at offset ${offsetOf(lines, "@r7")}")
  }

  /** Flips `bit` of byte `at` of a Spark-written file and drops the local
    * filesystem's checksum, so the reader itself sees the corrupt byte.
    */
  private def corrupt(path: Path, at: Long, bit: Int): Unit = {
    val raf = new java.io.RandomAccessFile(path.toFile, "rw")
    try {
      raf.seek(at)
      val b = raf.read()
      raf.seek(at)
      raf.write(b ^ bit)
    } finally raf.close()
    Files.deleteIfExists(path.resolveSibling(s".${path.getFileName}.crc"))
  }

  private def containerOffsets(path: Path): Seq[(Long, Long)] = {
    val in = graft.bgzf.SeekableInput.ofFile(path)
    try CramContainers.containers(in).map(c => (c.offset, c.totalLength - c.dataLength))
    finally in.close()
  }

  /** 30 container specs; the 11th container's header fails its CRC. */
  private def malformedCramContainers(): Malformed = {
    val path = tmpDir().resolve("bad.cram")
    spark.range(30L).selectExpr("cast(id % 3 as int) as ref_seq_id", "cast(id * 100 + 1 as int) as start_pos",
      "90 as span", "cast(id % 10 + 1 as int) as n_records", "cast(id % 5 * 8 as int) as data_length")
      .coalesce(1).write.format("cram").mode("overwrite").save(path.toString)
    val victim = containerOffsets(path)(10)._1
    corrupt(path, victim + 5, 0x40)
    Malformed("CRAM containers", load("cram", path.toString, _).selectExpr("offset"), 29, 1L,
      s"malformed CRAM container header at $victim in $path")
  }

  /** 100 reads in containers of 10; the payload of the third data
    * container names a compression method that does not exist.
    */
  private def malformedCramRecords(): Malformed = {
    val s = spark
    import s.implicits._
    val path = tmpDir().resolve("bad-records.cram")
    spark.createDataset(TestReads.pairs(50)).toDF().coalesce(1).write.format("cram").mode("overwrite")
      .option("records", "true").option("refs", "chr20:1000000,chr21:2000135")
      .option("recordsPerContainer", "10").save(path.toString)
    // container 0 holds the SAM header; the payload starts with the
    // compression header block's method byte
    val (victim, headerLen) = containerOffsets(path)(3)
    corrupt(path, victim + headerLen, 0xe0)
    Malformed("CRAM records", load("cram", path.toString, _, "records" -> "true").selectExpr("readName"),
      90, 1L, s"undecodable CRAM container payload at $victim in $path")
  }

  /** The same 100 reads; the first external block of the third data
    * container names a compression method that does not exist, so the
    * container's compression header decodes and its slice does not.
    */
  private def malformedCramSlice(): Malformed = {
    val s = spark
    import s.implicits._
    val path = tmpDir().resolve("bad-slice.cram")
    spark.createDataset(TestReads.pairs(50)).toDF().coalesce(1).write.format("cram").mode("overwrite")
      .option("records", "true").option("refs", "chr20:1000000,chr21:2000135")
      .option("recordsPerContainer", "10").save(path.toString)
    val (victim, headerLen) = containerOffsets(path)(3)
    val in = graft.bgzf.SeekableInput.ofFile(path)
    val (major, payload) =
      try (CramContainers.readFileDefinition(in)._1, CramRecordCodec.containerPayload(in, CramContainers.containers(in)(3)))
      finally in.close()
    val blockStarts = Iterator.iterate(0)(p => CramRecordCodec.readBlockLazy(payload, p, major)._2)
    val ext = blockStarts.find(p => CramRecordCodec.readBlockLazy(payload, p, major)._1.ctype == 4).get
    corrupt(path, victim + headerLen + ext, 0xe0)
    Malformed("CRAM records slice", load("cram", path.toString, _, "records" -> "true"),
      90, 1L, s"undecodable CRAM container payload at $victim in $path")
  }

  private def check(c: Malformed): Unit = {
    val ex = intercept[org.apache.spark.SparkException](c.read("strict").collect())
    assert(messages(ex).exists(_.contains(c.names)), s"${c.reader}: ${messages(ex).mkString(" | ")}")
    for (mode <- Seq("lenient", "permissive"); limit <- Seq(None, Some(100000))) {
      val df = limit.fold(c.read(mode))(c.read(mode).limit)
      val (got, warned) = warningsDuring(counts(df))
      val clue = s"${c.reader} $mode limit=$limit"
      assert(got == ((c.rows, c.skipped, 0L)), clue)
      if (mode == "lenient") assert(warned.nonEmpty, clue) else assert(warned.isEmpty, s"$clue: $warned")
    }
  }

  test("every reader: strict names the file and offset, lenient warns and counts, permissive counts silently") {
    Seq(malformedBam(), malformedSam(), malformedVcf(), malformedFastq(), malformedCramContainers(),
      malformedCramRecords()).foreach(check)
  }

  test("CRAM records: a slice block that fails to decode drops its container under the same policy") {
    check(malformedCramSlice())
  }
}
