package graft.sources

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Validation stringency on the TEXT paths (SAM/VCF): the three-tier matrix
  * of [[Stringency]] — strict fails fast, lenient salvages failures confined
  * to optional columns (and warns+counts), permissive skips silently.
  */
class TextStringencySpec extends AnyFunSuite with SparkFixture {

  private def writeLines(suffix: String, lines: Seq[String]): String = {
    val dir = Files.createTempDirectory("text-stringency")
    dir.toFile.deleteOnExit()
    val p = dir.resolve(s"f$suffix")
    Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    p.toString
  }

  private val samHeader = Seq("@HD\tVN:1.6", "@SQ\tSN:chr20\tLN:1000000")
  private def samLine(name: String, start: Int, extra: String = ""): String =
    s"$name\t0\tchr20\t$start\t60\t4M\t*\t0\t0\tACGT\tIIII$extra"

  test("sam lenient: malformed optional tag salvaged, mandatory fields kept") {
    // fourth line carries a 1-char optional field — tag parse fails, the 11
    // mandatory columns don't
    val path = writeLines(".sam", samHeader ++ Seq(
      samLine("r1", 100, "\tXO:i:5"), samLine("r2", 200), samLine("r3", 300, "\tX")))
    val rows = spark.read.format("sam").option("mode", "lenient").load(path)
      .selectExpr("readName", "attributes").collect()
    assert(rows.length == 3)
    val r3 = rows.find(_.getString(0) == "r3").get
    assert(r3.getMap[String, String](1).size == 0) // salvaged minus tags
  }

  test("sam strict fails / permissive drops the whole line") {
    val path = writeLines(".sam", samHeader ++ Seq(
      samLine("r1", 100), samLine("r2", 200, "\tX")))
    intercept[org.apache.spark.SparkException] {
      spark.read.format("sam").load(path).selectExpr("attributes").collect()
    }
    val kept = spark.read.format("sam").option("mode", "permissive").load(path)
      .selectExpr("readName", "attributes").collect()
    assert(kept.map(_.getString(0)).toSeq == Seq("r1"))
  }

  /** Every message of `t` and its causes. */
  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  /** Byte offset of `line` in the file written from `lines`. */
  private def offsetOf(lines: Seq[String], line: String): Int =
    lines.takeWhile(_ != line).map(_.getBytes("UTF-8").length + 1).sum

  test("sam strict: the error names the file and the line's offset, not the whole line") {
    val bad = samLine("r2", 200).replace("\t200\t", "\tbogus\t") + "\tXC:Z:" + ("y" * 10000)
    val lines = samHeader ++ Seq(samLine("r1", 100), bad)
    val path = writeLines(".sam", lines)
    val ex = intercept[org.apache.spark.SparkException](
      spark.read.format("sam").load(path).selectExpr("readName").collect())
    val msg = messages(ex).find(_.contains("bad SAM line")).getOrElse(fail(s"no SAM error in $ex"))
    assert(msg.contains(path) && msg.contains(s"offset ${offsetOf(lines, bad)}"), msg)
    assert(msg.contains(bad.take(150)) && !msg.contains(bad.take(201)), msg.length)
  }

  test("fastq strict: the error names the file and the record's offset, not the whole line") {
    val badHeader = "@r2 " + ("z" * 10000)
    val lines = Seq("@r1", "ACGT", "+", "IIII", badHeader, "ACGT", "+", "III")
    val path = writeLines(".fastq", lines)
    val ex = intercept[org.apache.spark.SparkException](
      spark.read.format("fastq").load(path).selectExpr("readName").collect())
    val msg = messages(ex).find(_.contains("bad FASTQ record")).getOrElse(fail(s"no FASTQ error in $ex"))
    assert(msg.contains(path) && msg.contains(s"offset ${offsetOf(lines, badHeader)}"), msg)
    assert(msg.contains(badHeader.take(150)) && !msg.contains(badHeader.take(201)), msg.length)
  }

  private val vcfHeader = Seq("##fileformat=VCFv4.2",
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO")

  test("vcf lenient: unrecoverable line warned+skipped, rest kept") {
    // 'bogus' QUAL is inside the 8 mandatory fields — not salvageable
    val path = writeLines(".vcf", vcfHeader ++ Seq(
      "chr20\t100\t.\tA\tC\t50\tPASS\tDP=10",
      "chr20\t200\t.\tA\tC\tbogus\tPASS\tDP=11",
      "chr20\t300\t.\tA\tC\t70\tPASS\tDP=12"))
    val rows = spark.read.format("vcf").option("mode", "lenient").load(path)
      .selectExpr("start").collect()
    assert(rows.map(_.getInt(0)).toSeq.sorted == Seq(100, 300))
    intercept[org.apache.spark.SparkException] {
      spark.read.format("vcf").load(path).selectExpr("start").collect()
    }
  }

  test("a cigar op length past 28 bits fails the BAM write and the strict SAM read") {
    val s = spark
    import s.implicits._
    // 4294967297 = 2^32 + 1: an Int accumulator wraps it to a 1-base op
    val cigar = "4294967297M"
    val path = writeLines(".sam", samHeader :+ samLine("r1", 100).replace("\t4M\t", s"\t$cigar\t"))
    val readEx = intercept[org.apache.spark.SparkException](spark.read.format("sam").load(path).collect())
    assert(messages(readEx).exists(m => m.contains("bad SAM line") && m.contains(path)), readEx)
    assert(messages(readEx).exists(_.contains("28-bit")), readEx)
    val rec = graft.bam.TestReads.pairs(1).head.copy(cigar = cigar)
    val out = Files.createTempDirectory("cigar-wrap").resolve("w.bam").toString
    val writeEx = intercept[org.apache.spark.SparkException](
      spark.createDataset(Seq(rec)).toDF().write.format("bam").mode("overwrite")
        .option("refs", "chr20:1000000,chr21:2000135").save(out))
    assert(messages(writeEx).exists(_.contains("28-bit")), writeEx)
  }
}
