package graft.sources.bam

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
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
    val got = BamCodec.decodeRecord(body, blockSize, header, sel)
    assert(got.attributes == Map("NM" -> "i:5"))
    // but a wanted tag BEYOND the corruption still fails loudly (the walk
    // cannot skip a tag whose type it cannot size)
    val selBeyond = sel.copy(tagCols = Vector("ZZ"))
    assertThrows[java.io.IOException](
      BamCodec.decodeRecord(body, blockSize, header, selBeyond))
  }

  test("a repeated wanted tag does not hide a later wanted tag") {
    // NM:i:1 NM:i:2 RG:Z:grp. No sink writes a repeated key, so the record
    // is patched: its NN tag becomes a second NM
    val enc = BamSpecWriter.encodeRecord(rec("r1", Map("NM" -> "i:1", "NN" -> "i:2", "RG" -> "Z:grp")), header)
    val nn = enc.indices.find(i => enc(i) == 'N' && enc(i + 1) == 'N' && enc(i + 2) == 'i').get
    enc(nn + 1) = 'M'
    val body = java.util.Arrays.copyOfRange(enc, 4, enc.length)
    val want = Map("NM" -> "i:2", "RG" -> "Z:grp")
    assert(BamCodec.decodeRecord(body, body.length, header).attributes == want)
    val keyMasked = BamFieldMask.All.copy(attrKeys = Some(Vector("NM", "RG")))
    assert(BamCodec.decodeRecord(body, body.length, header, keyMasked).attributes == want)
    val tagOnly = BamFieldMask(cigarAndEnd = false, seq = false, qual = false, attrs = false,
      tagCols = Vector("NM", "RG"))
    assert(BamCodec.decodeRecord(body, body.length, header, tagOnly).attributes == want)
    // through the reader: tag columns plus the AutoProjection key mask
    val path = java.nio.file.Paths.get(s"${tmp()}/dup.bam")
    val out = new graft.bgzf.BgzfOutputStream(Files.newOutputStream(path))
    BamCodec.writeHeader(out, header)
    out.write(enc)
    out.close()
    val got = spark.read.format("bam").option("tagColumns", "NM:int,RG:string").load(path.toString)
      .select(col("tag_NM"), col("tag_RG"), element_at(col("attributes"), "RG")).head
    assert((got.getLong(0), got.getString(1), got.getString(2)) == ((2L, "grp", "Z:grp")))
  }

  test("tag_XX is the typed attributes['XX'] of the full-row read: BAM, SAM, CRAM, four projections") {
    import spark.implicits._
    // r6's 70,000-op cigar rides BAM's internal CG:B,I tag behind the kSmN
    // sentinel; SAM and CRAM carry it as the cigar. r3 has a user CG tag.
    val spilled = (0 until 70000).map(i => if (i % 2 == 0) "1M" else "1I").mkString
    val recs = Seq(
      rec("r1", Map("NM" -> "i:3", "RG" -> "Z:rgA", "XO" -> "i:7", "XF" -> "f:1.5")),
      rec("r2", Map("NM" -> "c:-2", "RG" -> "Z:rgB", "XF" -> "i:4")),
      rec("r3", Map("RG" -> "Z:rgA", "CG" -> "Z:user")),
      rec("r4", Map("NM" -> "Z:oops", "XO" -> "A:x")),
      rec("r5", Map.empty[String, String]),
      AlignmentRecord("r6", 0, "chr20", 100, 0, 60, spilled, null, 0, 0, "A" * 70000, "I" * 70000,
        Map("NM" -> "i:0", "XO" -> "i:9")))
    val tags = Seq("NM" -> "int", "RG" -> "string", "CG" -> "string", "XO" -> "int", "XF" -> "float")
    val tagOpt = tags.map { case (k, t) => s"$k:$t" }.mkString(",")
    val tagCols = tags.map { case (k, _) => col(s"tag_$k") }
    // the tagColumns coercion of a "T:value" wire rendering
    def typed(wire: Option[String], t: String): Any = wire.flatMap { v =>
      val body = v.substring(2)
      t match {
        case "int" if "cCsSiI".contains(v.charAt(0)) => Some(body.toLong)
        case "float" if "cCsSiIf".contains(v.charAt(0)) => Some(body.toDouble)
        case "string" => Some(body)
        case _ => None
      }
    }.orNull
    val dir = tmp()
    for (fmt <- Seq("bam", "sam", "cram")) {
      val path = s"$dir/inv.$fmt"
      val mode = if (fmt == "cram") Map("records" -> "true") else Map.empty[String, String]
      spark.createDataset(recs).toDF().write.format(fmt).mode("overwrite").options(mode)
        .option("refs", refsOpt).save(path)
      def read(opts: (String, String)*): DataFrame =
        spark.read.format(fmt).options(mode ++ opts).option("tagColumns", tagOpt).load(path)
      val full = read().select($"readName", $"attributes").collect()
        .map(r => r.getString(0) -> r.getMap[String, String](1).toMap).toMap
      assert(full.keySet == recs.map(_.readName).toSet, fmt)
      assert(!full("r6").contains("CG") && full("r3")("CG") == "Z:user", fmt)
      // projection, and the value its extra column must hold for a read's full map
      val cases = Seq[(String, DataFrame, Map[String, String] => Any)](
        ("tag only", read().select($"readName" +: tagCols: _*), null),
        ("tag + attributes", read().select(($"readName" +: tagCols) :+ $"attributes": _*), m => m),
        ("tag + attrKeys", read("attrKeys" -> "NM,XO").select(($"readName" +: tagCols) :+ $"attributes": _*),
          m => m.view.filterKeys(Set("NM", "XO")).toMap),
        ("tag + element_at", read().select(($"readName" +: tagCols) :+ element_at($"attributes", "XO"): _*),
          m => m.get("XO").orNull))
      for ((name, df, extra) <- cases) {
        val clue = s"$fmt $name"
        if (name == "tag + element_at") {
          val desc = df.queryExecution.optimizedPlan.collect {
            case s: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => s.scan.description()
          }.mkString
          assert(desc.contains("attrKeys=[XO]"), s"$clue: $desc")
        }
        val got = df.collect().map { r =>
          val last = if (extra == null) Nil else Seq(r.get(tags.length + 1) match {
            case m: scala.collection.Map[_, _] => m.toMap
            case v => v
          })
          r.getString(0) -> ((1 to tags.length).map(r.get) ++ last)
        }.toMap
        val want = full.map { case (n, m) =>
          n -> (tags.map { case (k, t) => typed(m.get(k), t) } ++ (if (extra == null) Nil else Seq(extra(m))))
        }
        assert(got == want, clue)
      }
    }
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
      BamCodec.decodeRecord(body, enc.length - 4, header, sel))
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
    val got = BamCodec.decodeRecord(
      java.util.Arrays.copyOfRange(enc, 4, enc.length), enc.length - 4, header, sel)
    assert(got.attributes == Map("NM" -> "i:9"))
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
