package graft.sources.bam

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.bam._

/** Typed-tag projection (`.option("tagColumns", "NM:int,RG:string")`):
  * tag_XX columns decode ONLY the requested tags in the self-describing
  * tag walk. Pins (1) end-to-end values + declared-type coercion + nulls,
  * (2) the SKIP property — bytes of unrequested tags are never parsed, so
  * corruption beyond the last requested tag is tolerated where a full
  * attribute decode throws, (3) schema/option validation.
  */
class TagProjectionSpec extends AnyFunSuite with SparkFixture {

  private val refsOpt = "chr20:1000000,chr21:2000135"
  private val header = SamHeader(SamHeader.parseRefsOption(refsOpt))

  private def tmp(): String = {
    val d = Files.createTempDirectory("tagproj")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def rec(name: String, attrs: Map[String, String]): AlignmentRecord =
    AlignmentRecord(name, 0, "chr20", 100, 0, 60, "4M", null, 0, 0, "ACGT", "IIII", attrs)

  test("end-to-end: typed values, declared-type coercion, absent tags -> null") {
    import spark.implicits._
    val recs = Seq(
      rec("r1", Map("NM" -> "i:7", "RG" -> "Z:rgA", "XF" -> "f:1.5",
        "XB" -> "B:I,1,2,3")),
      rec("r2", Map("NM" -> "c:-2", "RG" -> "Z:rgB")),
      rec("r3", Map("RG" -> "Z:rgA", "XS" -> "S:65535")), // no NM -> null
      rec("r4", Map("NM" -> "Z:oops"))) // wire type Z under int decl -> null
    val path = s"${tmp()}/t.bam"
    spark.createDataset(recs).toDF().write.format("bam").mode("overwrite")
      .option("refs", refsOpt).save(path)

    val df = spark.read.format("bam")
      .option("tagColumns", "NM:int,RG:string,XF:float,XS:int,XB")
      .load(path)
    // schema: base columns + typed tag columns
    assert(df.schema.fieldNames.takeRight(5).toSeq ==
      Seq("tag_NM", "tag_RG", "tag_XF", "tag_XS", "tag_XB"))
    assert(df.schema("tag_NM").dataType == org.apache.spark.sql.types.LongType)
    assert(df.schema("tag_XF").dataType == org.apache.spark.sql.types.DoubleType)
    assert(df.schema("tag_XB").dataType == org.apache.spark.sql.types.StringType)

    val got = df.select($"readName", $"tag_NM", $"tag_RG", $"tag_XF", $"tag_XS", $"tag_XB")
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) null else r.getLong(1).toString,
        r.getString(2),
        if (r.isNullAt(3)) null else r.getDouble(3).toString,
        if (r.isNullAt(4)) null else r.getLong(4).toString,
        r.getString(5))).sortBy(_._1)
    assert(got.toSeq == Seq(
      ("r1", "7", "rgA", "1.5", null, "I,1,2,3"),
      ("r2", "-2", "rgB", null, null, null),
      ("r3", null, "rgA", null, "65535", null),
      ("r4", null, null, null, null, null)))
  }

  test("typed projection agrees with the attributes map on every record") {
    import spark.implicits._
    val recs = (0 until 500).map(i => rec(f"q$i%04d", Map(
      "NM" -> s"i:${i % 9}", "RG" -> s"Z:rg${i % 4}",
      "AS" -> s"s:${i - 250}", "XJ" -> s"Z:junk$i")))
    val path = s"${tmp()}/m.bam"
    spark.createDataset(recs).toDF().write.format("bam").mode("overwrite")
      .option("refs", refsOpt).save(path)

    val typed = spark.read.format("bam").option("splitSize", 4096)
      .option("tagColumns", "NM:int,AS:int,RG:string").load(path)
      .select($"readName", $"tag_NM", $"tag_AS", $"tag_RG")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    val viaMap = spark.read.format("bam").option("splitSize", 4096).load(path)
      .select($"readName",
        expr("cast(substring(element_at(attributes,'NM'),3,10) as bigint)"),
        expr("cast(substring(element_at(attributes,'AS'),3,10) as bigint)"),
        substring(element_at($"attributes", "RG"), 3, 10))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(typed.sortBy(_._1) == viaMap.sortBy(_._1))
  }

  test("unrequested tag bytes are skipped: corruption beyond the last wanted tag is tolerated") {
    // encode a record whose tag region is NM first, then a junk tag; corrupt
    // the junk tag's TYPE byte. The full attribute decode must throw; the
    // selective decode must return NM untroubled (it stops once found).
    val r = rec("r1", scala.collection.immutable.ListMap(
      "NM" -> "i:5", "ZZ" -> "Z:junkvalue"))
    val enc = BamSpecWriter.encodeRecord(r, header) // 4-byte size prefix + record
    val blockSize = enc.length - 4
    val body = java.util.Arrays.copyOfRange(enc, 4, enc.length)
    // the junk tag's type byte is the 3rd byte of the last 2+1+10 tag bytes
    val zzOff = body.length - ("ZZ".length + 1 + "junkvalue".length + 1)
    assert(body(zzOff) == 'Z'.toByte && body(zzOff + 1) == 'Z'.toByte)
    body(zzOff + 2) = 'q'.toByte // invalid SAM tag type

    // full decode (attributes requested) -> throws
    val full = BamFieldMask(cigarAndEnd = true, seq = true, qual = true, attrs = true)
    assertThrows[java.io.IOException](BamCodec.decodeRecord(body, blockSize, header, full))
    // selective decode (only tag_NM requested) -> succeeds, value intact
    val sel = BamFieldMask(cigarAndEnd = false, seq = false, qual = false, attrs = false,
      tagCols = Vector("NM"))
    val holder = new Array[String](1)
    val got = BamCodec.decodeRecord(body, blockSize, header, sel, holder)
    assert(holder.toSeq == Seq("i:5"))
    assert(got.attributes == null)
    // but a wanted tag BEYOND the corruption still fails loudly (the walk
    // cannot skip a tag whose type it cannot size)
    val selBeyond = sel.copy(tagCols = Vector("ZZ"))
    assertThrows[java.io.IOException](
      BamCodec.decodeRecord(body, blockSize, header, selBeyond, new Array[String](1)))
  }

  test("corrupt B-array count in a WANTED tag fails with IOException") {
    // the decode branch must carry the same bounds guard as the skip
    // branch: a crafted element count would otherwise surface as
    // BufferUnderflowException after allocating up to n strings
    val r = rec("r1", scala.collection.immutable.ListMap("XB" -> "B:i,1,2,3"))
    val enc = BamSpecWriter.encodeRecord(r, header)
    val body = java.util.Arrays.copyOfRange(enc, 4, enc.length)
    // tag layout at tail: 'X','B','B',subtype,count(int32 LE),3×int32
    val countOff = body.length - 12 - 4
    body(countOff) = 0xff.toByte; body(countOff + 1) = 0xff.toByte
    body(countOff + 2) = 0xff.toByte; body(countOff + 3) = 0x7f.toByte
    val sel = BamFieldMask(cigarAndEnd = false, seq = false, qual = false, attrs = false,
      tagCols = Vector("XB"))
    assertThrows[java.io.IOException](
      BamCodec.decodeRecord(body, enc.length - 4, header, sel, new Array[String](1)))
  }

  test("skip arithmetic walks every wire type without parsing") {
    // record with one of each skippable type BEFORE the wanted tag: the
    // selective walk must skip them all by length and still find the target
    val attrs = scala.collection.immutable.ListMap(
      "XA" -> "A:F", "XC" -> "c:-3", "XS" -> "S:40000", "XI" -> "I:4000000000",
      "XF" -> "f:2.5", "XZ" -> "Z:some text", "XB" -> "B:s,1,-2,3",
      "NM" -> "i:9")
    val r = rec("r1", attrs)
    val enc = BamSpecWriter.encodeRecord(r, header)
    val sel = BamFieldMask(cigarAndEnd = false, seq = false, qual = false, attrs = false,
      tagCols = Vector("NM"))
    val holder = new Array[String](1)
    BamCodec.decodeRecord(
      java.util.Arrays.copyOfRange(enc, 4, enc.length), enc.length - 4, header, sel, holder)
    assert(holder.toSeq == Seq("i:9"))
  }

  test("typed tags dispatch through the htsjdk facade") {
    import spark.implicits._
    val recs = Seq(rec("r1", Map("NM" -> "i:3", "RG" -> "Z:rgZ")))
    val path = s"${tmp()}/f.bam"
    spark.createDataset(recs).toDF().write.format("bam").mode("overwrite")
      .option("refs", refsOpt).save(path)
    val got = spark.read.format("htsjdk").option("tagColumns", "NM:int,RG:string")
      .load(path).select($"tag_NM", $"tag_RG").head
    assert(got.getLong(0) == 3L && got.getString(1) == "rgZ")
  }

  test("option validation fails loudly") {
    val ex1 = intercept[Exception](spark.read.format("bam")
      .option("tagColumns", "NMX:int").load("/nonexistent.bam").schema)
    assert(ex1.getMessage.contains("two-character"))
    val ex2 = intercept[Exception](spark.read.format("bam")
      .option("tagColumns", "NM:decimal").load("/nonexistent.bam").schema)
    assert(ex2.getMessage.contains("unsupported type"))
  }
}
