package graft.queries

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.bam.AlignmentRecord
import graft.vcf.Variant

/** The typed read and variant builders of [[FormatQueries]] against the
  * inline 13- and 10-column selects they replaced: the same column names and
  * order as the sinks' schemas, and, for a representative call per builder,
  * the same types, nullability and rows as the select it replaced (the
  * `reference*` methods below are those selects, copied unchanged).
  *
  * The base table is a 6,000-row stand-in for `lineitem`: its four key
  * columns with the TPC-H parquet types (nullable bigint `l_orderkey`,
  * `l_partkey`, `l_suppkey` and nullable int `l_linenumber`), written as
  * `lineitem.parquet` so the queries' own `Tables.lineitem` reads it.
  */
class FixtureShapeSpec extends AnyFunSuite with SparkFixture {

  private val dir = Files.createTempDirectory("fixture-shape")

  override def afterAll(): Unit =
    try {
      val tree = Files.walk(dir)
      try tree.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally tree.close()
    } finally super.afterAll()

  private lazy val sf: String = {
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType)))
    val rows = (0 until 6000).map { i =>
      Row(i / 4L + 1, (i * 7919L) % 200 + 1, i % 10L + 1, i % 7 + 1)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.parquet(s"$dir/lineitem.parquet")
    dir.toString
  }

  private def lineitem: DataFrame = Tables.lineitem(spark, sf)

  /** Same names, order, types and nullability, and the same rows in order. */
  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema)
    val g = got.collect().toSeq
    assert(g == want.collect().toSeq)
    assert(g.nonEmpty)
  }

  test("default builder output has the sink schemas' column names and order") {
    val reads = FormatQueries.readRows(lineitem, contig = lit("chr0"), start = lit(1))
    assert(reads.schema.fieldNames.toSeq == AlignmentRecord.schema.fieldNames.toSeq)
    val vars = FormatQueries.variantRows(lineitem, contig = lit("chr0"), start = lit(1))
    assert(vars.schema.fieldNames.toSeq == Variant.schema.fieldNames.toSeq)
  }

  test("syntheticReads equals its inline select") {
    assertSame(FormatQueries.syntheticReads(spark, sf), referenceSyntheticReads)
  }

  test("rgTagReads equals its inline select") {
    assertSame(FormatQueries.rgTagReads(spark, sf), referenceRgTagReads)
  }

  test("syntheticReadsWithUnmapped equals its inline select") {
    assertSame(FormatQueries.syntheticReadsWithUnmapped(spark, sf), referenceReadsWithUnmapped)
  }

  test("q_bam_markdup's reads equal its inline select") {
    val s = spark
    import s.implicits._
    val reads = FormatQueries.readRows(lineitem,
      flags = when($"l_linenumber" % 2 === 0, 16).otherwise(0),
      contig = concat(lit("chr"), ($"l_partkey" % 3).cast("string")),
      start = (($"l_partkey" * 13) % 5000) + 1,
      end = (($"l_partkey" * 13) % 5000) + 151,
      mapq = ($"l_orderkey" * 7 + $"l_linenumber") % 61,
      attributes = map(lit("XO"), concat(lit("i:"), ($"l_orderkey" % 100).cast("string"))))
    assertSame(reads, referenceMarkdupReads)
  }

  test("syntheticVariants equals its inline select") {
    assertSame(FormatQueries.syntheticVariants(spark, sf), referenceSyntheticVariants)
  }

  test("a variant call with defaulted columns equals its inline select") {
    val s = spark
    import s.implicits._
    val vars = FormatQueries.variantRows(lineitem,
      contig = concat(lit("chr"), ($"l_orderkey" % 24).cast("string")),
      start = (($"l_partkey" * 37) % 999000) + 1)
    assertSame(vars, referenceDefaultVariants)
  }

  private def referenceSyntheticReads: DataFrame = {
    val s = spark
    import s.implicits._
    Tables.lineitem(s, sf).select(
      concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
      lit(0).cast("int").as("flags"),
      concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
      ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
      ((($"l_partkey" * 37) % 999000) + 151).cast("int").as("end"),
      lit(60).cast("int").as("mapq"),
      lit("151M").as("cigar"),
      lit(null).cast("string").as("mateContig"),
      lit(0).cast("int").as("mateStart"),
      lit(0).cast("int").as("tlen"),
      lit("*").as("seq"),
      lit("*").as("qual"),
      map(lit("XO"), concat(lit("i:"), ($"l_orderkey" % 100).cast("string")))
        .as("attributes"))
  }

  private def referenceRgTagReads: DataFrame = {
    val s = spark
    import s.implicits._
    Tables.lineitem(s, sf).select(
      concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
      lit(0).cast("int").as("flags"),
      concat(lit("chr"), ($"l_partkey" % 3).cast("string")).as("contig"),
      ((($"l_partkey" * 13) % 5000) + 1).cast("int").as("start"),
      lit(0).cast("int").as("end"),
      lit(60).cast("int").as("mapq"),
      lit("151M").as("cigar"),
      lit(null).cast("string").as("mateContig"),
      lit(0).cast("int").as("mateStart"),
      lit(0).cast("int").as("tlen"),
      lit("*").as("seq"),
      lit("*").as("qual"),
      map(
        lit("RG"), concat(lit("Z:rg"), ($"l_orderkey" % 4).cast("string")),
        lit("NM"), concat(lit("i:"), (($"l_partkey" + $"l_linenumber") % 9).cast("string")),
        lit("XC"), when($"l_suppkey" % 2 === 0, "A:F").otherwise("A:R"),
        lit("AS"), concat(lit("i:"), ($"l_linenumber" + 140).cast("string")),
        lit("XS"), concat(lit("i:"), ($"l_suppkey" % 100).cast("string")),
        lit("MC"), lit("Z:151M"),
        lit("MD"), concat(lit("Z:"), ($"l_partkey" % 8).cast("string"),
          lit("A21C9T2G33A11C5T17A9G12C8T"), ($"l_partkey" % 50).cast("string")),
        lit("ms"), concat(lit("i:"), ($"l_orderkey" % 2000 + 4000).cast("string")))
        .as("attributes"))
  }

  private def referenceReadsWithUnmapped: DataFrame = {
    val s = spark
    import s.implicits._
    val unm = $"l_linenumber" === 1
    Tables.lineitem(s, sf).select(
      concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
      when(unm, 4).otherwise(0).cast("int").as("flags"),
      when(unm, lit(null).cast("string"))
        .otherwise(concat(lit("chr"), ($"l_orderkey" % 3).cast("string"))).as("contig"),
      when(unm, 0).otherwise((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
      when(unm, 0).otherwise((($"l_partkey" * 37) % 999000) + 151).cast("int").as("end"),
      lit(60).cast("int").as("mapq"),
      when(unm, "*").otherwise("151M").as("cigar"),
      lit(null).cast("string").as("mateContig"),
      lit(0).cast("int").as("mateStart"),
      lit(0).cast("int").as("tlen"),
      lit("*").as("seq"),
      lit("*").as("qual"),
      map(lit("XO"), concat(lit("i:"), ($"l_orderkey" % 100).cast("string")))
        .as("attributes"))
  }

  private def referenceMarkdupReads: DataFrame = {
    val s = spark
    import s.implicits._
    Tables.lineitem(s, sf).select(
      concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
      when($"l_linenumber" % 2 === 0, 16).otherwise(0).cast("int").as("flags"),
      concat(lit("chr"), ($"l_partkey" % 3).cast("string")).as("contig"),
      ((($"l_partkey" * 13) % 5000) + 1).cast("int").as("start"),
      ((($"l_partkey" * 13) % 5000) + 151).cast("int").as("end"),
      (($"l_orderkey" * 7 + $"l_linenumber") % 61).cast("int").as("mapq"),
      lit("151M").as("cigar"),
      lit(null).cast("string").as("mateContig"),
      lit(0).cast("int").as("mateStart"),
      lit(0).cast("int").as("tlen"),
      lit("*").as("seq"),
      lit("*").as("qual"),
      map(lit("XO"), concat(lit("i:"), ($"l_orderkey" % 100).cast("string")))
        .as("attributes"))
  }

  private def referenceSyntheticVariants: DataFrame = {
    val s = spark
    import s.implicits._
    Tables.lineitem(s, sf).select(
      concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
      ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
      ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("end"),
      lit(null).cast("string").as("id"),
      lit("A").as("ref"),
      array(substring(lit("CGTA"), ($"l_linenumber" % 4).cast("int") + 1, lit(1))).as("alt"),
      ($"l_orderkey" % 100).cast("double").as("qual"),
      array(lit("PASS")).as("filters"),
      map(lit("DP"), $"l_suppkey".cast("string")).as("info"),
      array().cast(ArrayType(Variant.genotypeType, containsNull = false)).as("genotypes"))
  }

  /** `q_vcf_region_annotate`'s variants. */
  private def referenceDefaultVariants: DataFrame = {
    val s = spark
    import s.implicits._
    Tables.lineitem(s, sf).select(
      concat(lit("chr"), ($"l_orderkey" % 24).cast("string")).as("contig"),
      ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
      ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("end"),
      lit(null).cast("string").as("id"),
      lit("A").as("ref"),
      array(lit("G")).as("alt"),
      lit(30.0).as("qual"),
      array(lit("PASS")).as("filters"),
      map().cast(MapType(StringType, StringType, valueContainsNull = false)).as("info"),
      array().cast(ArrayType(Variant.genotypeType, containsNull = false)).as("genotypes"))
  }
}
