package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.bam._

/** Key-masked `attributes` projection (`.option("attrKeys", "NM,RG")`, the
  * schema-invisible sibling of `tagColumns`): the map column keeps its type
  * but only the requested tags populate it — BAM byte-skips unrequested
  * values, SAM boundary-scans the raw tail, CRAM leaves exclusive tag
  * blocks compressed. Values of requested keys must be IDENTICAL to the
  * full decode; this is what the auto-projection rule derives option-free.
  */
class AttrKeysSpec extends AnyFunSuite with SparkFixture {

  private val refsOpt = "chr20:1000000,chr21:2000135"
  private val header = SamHeader(SamHeader.parseRefsOption(refsOpt))

  private def tmp(): String = {
    val d = Files.createTempDirectory("attrkeys")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def rec(name: String, attrs: Map[String, String]): AlignmentRecord =
    AlignmentRecord(name, 0, "chr20", 100, 0, 60, "4M", null, 0, 0, "ACGT", "IIII", attrs)

  private def recs(n: Int): Seq[AlignmentRecord] = (0 until n).map { i =>
    val base = Map(
      "NM" -> s"i:${i % 9}", "RG" -> s"Z:rg${i % 4}", "AS" -> s"s:${i - n / 2}",
      "XJ" -> s"Z:junk-payload-$i", "XB" -> s"B:i,$i,${i + 1}")
    // some records miss a requested tag entirely
    rec(f"q$i%05d", if (i % 7 == 0) base - "NM" else base)
  }

  private def mapOf(r: org.apache.spark.sql.Row, i: Int): Map[String, String] =
    if (r.isNullAt(i)) null else r.getMap[String, String](i).toMap

  test("bam: masked map == full map restricted to the keys, across splits") {
    import spark.implicits._
    val path = s"${tmp()}/a.bam"
    spark.createDataset(recs(500)).toDF().write.format("bam").mode("overwrite")
      .option("refs", refsOpt).save(path)

    val full = spark.read.format("bam").option("splitSize", 4096).load(path)
      .select($"readName", $"attributes").collect()
      .map(r => r.getString(0) -> mapOf(r, 1)).toMap
    val masked = spark.read.format("bam").option("splitSize", 4096)
      .option("attrKeys", "NM,RG").load(path)
      .select($"readName", $"attributes").collect()
      .map(r => r.getString(0) -> mapOf(r, 1)).toMap
    assert(masked.keySet == full.keySet)
    masked.foreach { case (name, m) =>
      assert(m == full(name).view.filterKeys(Set("NM", "RG")).toMap, s"record $name")
    }
    // and the schema is unchanged (map stays a map; no tag_ columns appear)
    assert(spark.read.format("bam").option("attrKeys", "NM").load(path).schema ==
      spark.read.format("bam").load(path).schema)
  }

  test("bam: element_at over the masked map matches the full decode") {
    import spark.implicits._
    val path = s"${tmp()}/b.bam"
    spark.createDataset(recs(300)).toDF().write.format("bam").mode("overwrite")
      .option("refs", refsOpt).save(path)
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .agg(sum(expr("cast(substring(element_at(attributes,'NM'),3,10) as bigint)")),
        count(element_at($"attributes", "RG"))).head
    val f = agg(spark.read.format("bam").load(path))
    val m = agg(spark.read.format("bam").option("attrKeys", "NM,RG").load(path))
    assert(f == m)
  }

  test("bam codec: CG-spilled ultralong cigar reconstructs under a key mask, CG stays internal") {
    // >65535 cigar ops force the encoder's CG spill (kSmN sentinel + CG:B,I tag)
    val ops = 40000
    val cigar = "1M1I" * ops // 80k ops
    val seq = "A" * (2 * ops)
    val r = AlignmentRecord("ul1", 0, "chr20", 100, 0, 60, cigar, null, 0, 0,
      seq, "I" * (2 * ops), Map("NM" -> "i:3"))
    val enc = BamSpecWriter.encodeRecord(r, header)
    val body = java.util.Arrays.copyOfRange(enc, 4, enc.length)

    val masked = BamFieldMask(cigarAndEnd = true, seq = false, qual = false, attrs = true,
      attrKeys = Some(Vector("NM")))
    val got = BamCodec.decodeRecord(body, enc.length - 4, header, masked)
    assert(got.cigar == cigar, "spilled cigar not reconstructed under key mask")
    assert(got.attributes == Map("NM" -> "i:3"))

    // requesting CG explicitly on a SPILLED record still strips it (parity
    // with the full decode, which never surfaces the internal CG)
    val withCg = BamCodec.decodeRecord(body, enc.length - 4, header,
      masked.copy(attrKeys = Some(Vector("CG", "NM"))))
    assert(withCg.attributes == Map("NM" -> "i:3"))

    // ... but a GENUINE CG tag on a non-spilled record is a normal tag
    val plain = rec("p1", Map("CG" -> "Z:custom", "NM" -> "i:1"))
    val encP = BamSpecWriter.encodeRecord(plain, header)
    val gotP = BamCodec.decodeRecord(java.util.Arrays.copyOfRange(encP, 4, encP.length),
      encP.length - 4, header, masked.copy(attrKeys = Some(Vector("CG"))))
    assert(gotP.attributes == Map("CG" -> "Z:custom"))
  }

  test("sam: masked map parity end-to-end; strict tail check is mask-independent") {
    import spark.implicits._
    val path = s"${tmp()}/c.sam"
    spark.createDataset(recs(200)).toDF().write.format("sam").mode("overwrite")
      .option("refs", refsOpt).save(path)
    val full = spark.read.format("sam").load(path)
      .select($"readName", $"attributes").collect()
      .map(r => r.getString(0) -> mapOf(r, 1)).toMap
    val masked = spark.read.format("sam").option("attrKeys", "AS,RG").load(path)
      .select($"readName", $"attributes").collect()
      .map(r => r.getString(0) -> mapOf(r, 1)).toMap
    assert(masked.keySet == full.keySet)
    masked.foreach { case (name, m) =>
      assert(m == full(name).view.filterKeys(Set("AS", "RG")).toMap, s"record $name")
    }

    // strict stringency must reject a malformed optional field whether the
    // map is full or key-masked (the masked path validates the raw tail)
    val bad = "r1\t0\tchr20\t100\t60\t4M\t*\t0\t0\tACGT\tIIII\tZZ"
    val fullMask = BamFieldMask(cigarAndEnd = true, seq = true, qual = true, attrs = true)
    intercept[Exception](graft.sam.SamCodec.fromLine(bad, header, fullMask))
    intercept[Exception](graft.sam.SamCodec.fromLine(bad, header,
      fullMask.copy(attrKeys = Some(Vector("NM"))), strictTail = true))
  }

  test("cram: masked map decodes only wanted tag blocks; values exact") {
    val dir = tmp()
    val out = s"$dir/k.cram"
    val s = spark
    import s.implicits._
    s.createDataset(recs(3000)).toDF().write.format("cram").mode("overwrite")
      .option("records", "true").option("refs", refsOpt)
      .option("recordsPerContainer", "1000").save(out)
    def countInflations[T](body: => T): (T, Long) = {
      val before = graft.cram.CramRecordCodec.blocksInflated.get()
      val r = body
      (r, graft.cram.CramRecordCodec.blocksInflated.get() - before)
    }
    def rollup(df: org.apache.spark.sql.DataFrame) = df
      .agg(sum(expr("cast(substring(element_at(attributes,'NM'),3,10) as bigint)")).as("snm"),
        count(element_at($"attributes", "RG")).as("nrg"),
        count(lit(1)).as("n")).head
    val (fullRow, fullInfl) = countInflations {
      // force the full map out (collect the map itself so Catalyst cannot
      // prune it down to the two keys)
      val rows = s.read.format("cram").option("records", "true").load(out)
        .select($"attributes").collect()
      (rows.map(r => mapOf(r, 0).get("NM")).count(_.exists(_.startsWith("i:"))),
        rows.length)
    }
    val (maskedRow, maskedInfl) = countInflations {
      rollup(s.read.format("cram").option("records", "true")
        .option("attrKeys", "NM,RG").load(out))
    }
    assert(maskedRow.getLong(2) == 3000 && fullRow._2 == 3000)
    assert(maskedInfl < fullInfl,
      s"unwanted tag blocks inflated under attrKeys: masked=$maskedInfl full=$fullInfl")
    // value parity vs the full decode's map
    val wantNm = (0 until 3000).filterNot(_ % 7 == 0).map(_ % 9).sum.toLong
    assert(maskedRow.getLong(0) == wantNm)
    assert(maskedRow.getLong(1) == 3000) // RG present on every record
  }

  test("tagColumns and attrKeys compose: typed columns intact, map filtered") {
    import spark.implicits._
    val path = s"${tmp()}/d.bam"
    spark.createDataset(recs(100)).toDF().write.format("bam").mode("overwrite")
      .option("refs", refsOpt).save(path)
    val df = spark.read.format("bam")
      .option("tagColumns", "AS:int").option("attrKeys", "RG").load(path)
      .select($"readName", $"tag_AS", $"attributes").collect()
    df.foreach { r =>
      val m = mapOf(r, 2)
      assert(m.keySet == Set("RG"), s"map leaked non-attrKeys tags: ${m.keySet}")
      assert(!r.isNullAt(1)) // AS present on every record
    }
  }

  test("option validation fails loudly") {
    import spark.implicits._
    val ex0 = intercept[Exception](
      graft.sources.bam.TagCols.attrKeys(Map("attrkeys" -> "NMX")))
    assert(ex0.getMessage.contains("two-character"))
    // and end-to-end on a real file (validation happens at read planning)
    val path = s"${tmp()}/v.bam"
    spark.createDataset(recs(3)).toDF().write.format("bam").mode("overwrite")
      .option("refs", refsOpt).save(path)
    val ex = intercept[Exception](spark.read.format("bam")
      .option("attrKeys", "N;").load(path)
      .select(col("attributes")).collect())
    assert(ex.getMessage != null && ex.getMessage.contains("two-character"))
  }
}
