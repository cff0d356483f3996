package graft.sources.sam

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.bam._
import graft.sam.SamCodec

/** SAM-text typed-tag projection — parity with the BAM `tagColumns` walk.
  * Pins (1) end-to-end values + coercion + nulls through `format("sam")`,
  * (2) the SKIP property: with only tag columns projected, a malformed
  * chunk among the UNREQUESTED tags is tolerated where a full attributes
  * decode fails the line, and unrequested values are never materialized
  * (boundary scan only), (3) duplicate-tag last-wins parity with the full
  * decode's Map, (4) values identical across split sizes.
  */
class SamTagProjectionSpec extends AnyFunSuite with SparkFixture {

  private val refsOpt = "chr20:1000000,chr21:2000135"
  private val header = SamHeader(SamHeader.parseRefsOption(refsOpt))

  private def tmp(): String = {
    val d = Files.createTempDirectory("samtagproj")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def rec(name: String, attrs: Map[String, String]): AlignmentRecord =
    AlignmentRecord(name, 0, "chr20", 100, 0, 60, "4M", null, 0, 0, "ACGT", "IIII", attrs)

  test("end-to-end: typed values, coercion, absent tags -> null") {
    import spark.implicits._
    val recs = Seq(
      rec("r1", Map("NM" -> "i:7", "RG" -> "Z:rgA", "XF" -> "f:1.5")),
      rec("r2", Map("NM" -> "i:-2", "RG" -> "Z:rgB", "XB" -> "B:i,1,2,3")),
      rec("r3", Map("RG" -> "Z:rgA")), // no NM -> null
      rec("r4", Map("NM" -> "Z:oops"))) // wire type Z under int decl -> null
    val path = s"${tmp()}/t.sam"
    spark.createDataset(recs).toDF().write.format("sam").mode("overwrite")
      .option("refs", refsOpt).save(path)

    val df = spark.read.format("sam")
      .option("tagColumns", "NM:int,RG:string,XF:float,XB")
      .load(path)
    assert(df.schema("tag_NM").dataType == org.apache.spark.sql.types.LongType)
    val got = df.select($"readName", $"tag_NM", $"tag_RG", $"tag_XF", $"tag_XB")
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) null else r.getLong(1).toString,
        r.getString(2),
        if (r.isNullAt(3)) null else r.getDouble(3).toString,
        r.getString(4))).sortBy(_._1)
    assert(got.toSeq == Seq(
      ("r1", "7", "rgA", "1.5", null),
      ("r2", "-2", "rgB", null, "i,1,2,3"),
      ("r3", null, "rgA", null, null),
      ("r4", null, null, null, null)))
  }

  test("skip property: malformed unrequested chunk tolerated, wanted-only decode") {
    // line with a junk chunk ("Q" — too short for tag:type:value) between
    // two real tags: a full attributes decode must fail it, a tag-only
    // projection never parses it
    val line = "r1\t0\tchr20\t100\t60\t4M\t*\t0\t0\tACGT\tIIII\tNM:i:5\tQ\tRG:Z:rgA"
    assertThrows[Exception](SamCodec.fromLine(line, header))
    val mask = BamFieldMask(cigarAndEnd = true, seq = false, qual = false, attrs = false,
      tagCols = Vector("NM", "RG"))
    val r = SamCodec.fromLine(line, header, mask)
    assert(r.attributes == Map("NM" -> "i:5", "RG" -> "Z:rgA"))
  }

  test("strictTail: strict validation is projection-independent") {
    val bad = "r1\t0\tchr20\t100\t60\t4M\t*\t0\t0\tACGT\tIIII\tNM:i:5\tQ\tRG:Z:rgA"
    val mask = BamFieldMask(cigarAndEnd = true, seq = false, qual = false, attrs = false,
      tagCols = Vector("NM"))
    // default (lenient/permissive surface): tolerated on the masked path
    assert(SamCodec.fromLine(bad, header, mask).attributes("NM") == "i:5")
    // strict: the masked path now fails EXACTLY where the full decode does
    assertThrows[Exception](SamCodec.fromLine(bad, header, mask, strictTail = true))
    assertThrows[Exception](SamCodec.fromLine(bad, header))
    // trailing tabs are invisible to the full decode (split drops trailing
    // empties) — strictTail must not invent a failure there
    val trailing = "r1\t0\tchr20\t100\t60\t4M\t*\t0\t0\tACGT\tIIII\tNM:i:5\t\t"
    assert(SamCodec.fromLine(trailing, header, mask, strictTail = true).attributes("NM") == "i:5")
    val fullTrailing = SamCodec.fromLine(trailing, header)
    assert(fullTrailing.attributes == Map("NM" -> "i:5"))
    // an EMPTY chunk between real tags fails both paths under strict
    val midEmpty = "r1\t0\tchr20\t100\t60\t4M\t*\t0\t0\tACGT\tIIII\tNM:i:5\t\tRG:Z:rgA"
    assertThrows[Exception](SamCodec.fromLine(midEmpty, header, mask, strictTail = true))
    assertThrows[Exception](SamCodec.fromLine(midEmpty, header))
  }

  test("duplicate tag resolves to last occurrence (full-decode Map parity)") {
    val line = "r1\t0\tchr20\t100\t60\t4M\t*\t0\t0\tACGT\tIIII\tNM:i:5\tRG:Z:a\tNM:i:9"
    val full = SamCodec.fromLine(line, header)
    assert(full.attributes("NM") == "i:9")
    val mask = BamFieldMask(cigarAndEnd = true, seq = false, qual = false, attrs = false,
      tagCols = Vector("NM"))
    assert(SamCodec.fromLine(line, header, mask).attributes == Map("NM" -> "i:9"))
  }

  test("values identical across split sizes") {
    import spark.implicits._
    val recs = (1 to 500).map(i => rec(f"r$i%04d", Map("NM" -> s"i:${i % 37}", "RG" -> s"Z:rg${i % 3}")))
    val path = s"${tmp()}/m.sam"
    spark.createDataset(recs).toDF().write.format("sam").mode("overwrite")
      .option("refs", refsOpt).save(path)
    def sums(splitSize: Int) = spark.read.format("sam")
      .option("tagColumns", "NM:int,RG:string").option("splitSize", splitSize)
      .load(path)
      .groupBy($"tag_RG").agg(org.apache.spark.sql.functions.sum($"tag_NM").as("s"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val whole = sums(1 << 26)
    assert(whole == sums(4096))
    assert(whole == sums(1024))
    assert(whole.map(_._3).sum == 500)
  }
}
