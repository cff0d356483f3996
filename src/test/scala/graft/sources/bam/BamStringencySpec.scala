package graft.sources.bam

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.bam.{BamCodec, BamSpecWriter, TestReads}
import graft.bgzf.BgzfOutputStream

/** Validation stringency on the BINARY path: a record whose framing is sane
  * but whose payload is undecodable (here: cigar op 15) is skipped+counted
  * under mode=permissive and fails loudly with file/voff context by default
  * (reference plumbing HtsjdkReadsRddStorage.java:97-100).
  */
class BamStringencySpec extends AnyFunSuite with SparkFixture {

  /** A BAM with `n` records where record `corruptAt` has an invalid cigar op. */
  private def corruptBam(n: Int, corruptAt: Int): java.nio.file.Path = {
    val recs = TestReads.pairs(n / 2 + 1).take(n)
    val dir = Files.createTempDirectory("stringency")
    dir.toFile.deleteOnExit()
    val path = dir.resolve("corrupt.bam")
    val out = new BgzfOutputStream(Files.newOutputStream(path))
    BamCodec.writeHeader(out, TestReads.header)
    recs.zipWithIndex.foreach { case (r, i) =>
      val bytes = BamSpecWriter.encodeRecord(r, TestReads.header)
      if (i == corruptAt) {
        // l_read_name := 255 — name read overruns the record buffer however
        // few columns the scan decodes; framing (block_size) untouched
        bytes(4 + 8) = 0xff.toByte
      }
      out.write(bytes)
    }
    out.close()
    path
  }

  test("default stringency: undecodable record fails with voff context") {
    val path = corruptBam(40, corruptAt = 17)
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("bam").load(path.toString).count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val all = messages(e).mkString(" | ")
    assert(all.contains("undecodable BAM record at voff"), all.take(500))
  }

  test("permissive: corrupt record skipped, every other record read") {
    val path = corruptBam(40, corruptAt = 17)
    val got = spark.read.format("bam").option("mode", "permissive")
      .load(path.toString).count()
    assert(got == 39)
  }

  test("permissive composes with split reading") {
    val path = corruptBam(400, corruptAt = 123)
    val got = spark.read.format("bam")
      .option("mode", "permissive").option("splitSize", 4096)
      .load(path.toString).count()
    assert(got == 399)
  }

  /** A BAM where record `corruptAt`'s LAST optional tag has an invalid type
    * byte — core fields stay decodable, only the tag region is broken
    * (both TestReads tags encode to 7 bytes, so the type byte of the last
    * one sits at length-5 regardless of map order).
    */
  private def tagCorruptBam(n: Int, corruptAt: Int): java.nio.file.Path = {
    val recs = TestReads.pairs(n / 2 + 1).take(n)
    val dir = Files.createTempDirectory("stringency-tag")
    dir.toFile.deleteOnExit()
    val path = dir.resolve("tagcorrupt.bam")
    val out = new BgzfOutputStream(Files.newOutputStream(path))
    BamCodec.writeHeader(out, TestReads.header)
    recs.zipWithIndex.foreach { case (r, i) =>
      val bytes = BamSpecWriter.encodeRecord(r, TestReads.header)
      if (i == corruptAt) bytes(bytes.length - 5) = 'q'.toByte // bad tag type
      out.write(bytes)
    }
    out.close()
    path
  }

  // --- three-tier matrix (strict | lenient | permissive) ------------------

  test("strict: tag-region corruption fails when tags are decoded") {
    val path = tagCorruptBam(40, corruptAt = 11)
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("bam").load(path.toString)
        .selectExpr("readName", "attributes").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).mkString(" | ").contains("undecodable BAM record at voff"))
  }

  test("lenient: tag-corrupt record salvaged without attributes, none dropped") {
    val path = tagCorruptBam(40, corruptAt = 11)
    val rows = spark.read.format("bam").option("mode", "lenient")
      .load(path.toString)
      .selectExpr("readName", "attributes").collect()
    assert(rows.length == 40) // the record survives, minus its tag map
    assert(rows.count(_.isNullAt(1)) == 1)
  }

  test("permissive: tag-corrupt record dropped whole") {
    val path = tagCorruptBam(40, corruptAt = 11)
    val rows = spark.read.format("bam").option("mode", "permissive")
      .load(path.toString)
      .selectExpr("readName", "attributes").collect()
    assert(rows.length == 39)
  }

  test("lenient: core-field corruption skips the record, keeps the rest") {
    val path = corruptBam(40, corruptAt = 17)
    val got = spark.read.format("bam").option("mode", "lenient")
      .load(path.toString).count()
    assert(got == 39)
  }

  test("unknown mode fails fast at planning") {
    val path = corruptBam(4, corruptAt = 1)
    val e = intercept[Exception] {
      spark.read.format("bam").option("mode", "bogus").load(path.toString).count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).mkString(" | ").contains("unknown mode 'bogus'"))
  }
}
