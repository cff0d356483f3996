package graft.vcf

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.vcf.RowToVariant

/** Byte-identity proof for the direct VCF row→line encoder: for every row
  * shape, `VcfRowEncoder.encode(row)` must produce EXACTLY
  * `(VcfSpecWriter.toLine(RowToVariant.convert(row, idx)) + "\n").getBytes` —
  * the object path is the executable spec. Covers the GT-only cohort fast
  * shape, per-sample FORMAT fields, INFO flag/dup keys, "." sentinels, qual
  * formatting edges, and the non-ASCII shapes that must route through the
  * fallback.
  */
class VcfRowEncoderSpec extends AnyFunSuite {
  private val schema = Variant.schema
  private val idx = RowToVariant.indices(schema)

  private def u(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)

  private def arr(xs: Seq[String]): GenericArrayData =
    if (xs == null) null else new GenericArrayData(xs.map(u).toArray[Any])

  private def mapData(pairs: Seq[(String, String)]): ArrayBasedMapData =
    if (pairs == null) null
    else new ArrayBasedMapData(
      new GenericArrayData(pairs.map(p => u(p._1)).toArray[Any]),
      new GenericArrayData(pairs.map(p => u(p._2)).toArray[Any]))

  private def geno(sample: String, gt: String, fields: Seq[(String, String)]): GenericInternalRow =
    new GenericInternalRow(Array[Any](u(sample), u(gt), mapData(fields)))

  private def row(contig: String, start: Int, end: Int, id: String, ref: String,
                  alt: Seq[String], qual: java.lang.Double, filters: Seq[String],
                  info: Seq[(String, String)],
                  genotypes: Seq[GenericInternalRow]): GenericInternalRow =
    new GenericInternalRow(Array[Any](u(contig), start, end, u(id), u(ref), arr(alt),
      if (qual == null) null else qual.doubleValue(), arr(filters), mapData(info),
      if (genotypes == null) null else new GenericArrayData(genotypes.toArray[Any])))

  private def specBytes(r: GenericInternalRow): Array[Byte] =
    (VcfSpecWriter.toLine(RowToVariant.convert(r, idx)) + "\n").getBytes("UTF-8")

  private def assertIdentical(r: GenericInternalRow, clue: String): Unit = {
    val enc = new VcfRowEncoder(schema)
    val len = enc.encode(r)
    val fast = java.util.Arrays.copyOf(enc.buf, len)
    val spec = specBytes(r)
    assert(fast.sameElements(spec),
      s"$clue:\n fast: ${new String(fast, "UTF-8")} spec: ${new String(spec, "UTF-8")}")
  }

  test("a null contig or ref fails the write with the column named, as the spec writer does") {
    val enc = new VcfRowEncoder(schema)
    for ((contig, ref, column) <- Seq((null, "A", "contig"), ("chr1", null, "ref"), (null, null, "contig"))) {
      val r = row(contig, 100, 100, null, ref, Seq("C"), null, Nil, Seq("DP" -> "3"),
        Seq(geno("s1", "0/1", Seq("DP" -> "2"))))
      val fast = intercept[IllegalArgumentException](enc.encode(r))
      val spec = intercept[IllegalArgumentException](specBytes(r))
      assert(fast.getMessage.startsWith(s"null $column in VCF write"), fast.getMessage)
      assert(fast.getMessage == spec.getMessage)
    }
  }

  test("production sweep: cohort GT-only lines are byte-identical") {
    val rnd = new scala.util.Random(7)
    for (i <- 0 until 1500) {
      val nSamples = rnd.nextInt(13)
      val gts = Array("0/0", "0/1", "1/1", "./.", "1|0")
      val genos = (0 until nSamples).map(s => geno(f"s$s%02d", gts(rnd.nextInt(5)), Nil))
      val r = row(s"chr${rnd.nextInt(3)}", rnd.nextInt(100000) + 1, 0, null, "A",
        Seq(Seq("T", "C", "G")(rnd.nextInt(3))),
        if (rnd.nextInt(5) == 0) null else java.lang.Double.valueOf(rnd.nextInt(1000) / 10.0),
        if (rnd.nextInt(3) == 0) Nil else Seq("PASS"),
        if (rnd.nextInt(4) == 0) Nil else Seq("DP" -> s"${rnd.nextInt(100)}", "AF" -> "0.5"),
        genos)
      assertIdentical(r, s"sweep $i")
    }
  }

  test("per-sample FORMAT fields: union keys, missing values, dup keys") {
    assertIdentical(row("chr1", 100, 100, "rs1", "A", Seq("T"), 99.0, Seq("PASS"),
      Seq("DP" -> "30"),
      Seq(geno("s0", "0/1", Seq("DP" -> "10", "GQ" -> "99")),
        geno("s1", "1/1", Seq("AD" -> "3,4")),
        geno("s2", "0/0", Nil))), "union keys")
    assertIdentical(row("chr1", 5, 5, null, "C", Seq("G"), null, Nil,
      Seq("X" -> "", "DP" -> "7", "X" -> "2"),
      Seq(geno("a", "0/1", Seq("K" -> "v1", "K" -> "v2")))), "dup keys")
  }

  test("sentinels: empty alt/filters/info, null id/qual, no genotypes") {
    assertIdentical(row("1", 42, 42, null, "AT", Nil, null, Nil, Nil, Nil), "all empty")
    assertIdentical(row("1", 42, 42, ".", "AT", Nil, null, Nil, Nil, null), "dot id, null genos")
    assertIdentical(row("1", 1, 1, "id;x", "N", Seq("<DEL>", "T"), 0.0,
      Seq("q10", "s50"), Seq("END" -> "100", "SVTYPE" -> "DEL"), Nil), "multi alt+filters")
  }

  test("qual formatting edges match formatQual") {
    for (q <- Seq(0.0, -0.0, 1.0, -1.0, 3.14159, 1e14, 9.99999999999999e14, 1e15, 1e16,
      123456.0, 0.1, 60.77, -5.25))
      assertIdentical(row("1", 10, 10, null, "A", Seq("T"),
        java.lang.Double.valueOf(q), Nil, Nil, Nil), s"qual $q")
  }

  test("fallback shapes: non-ASCII text routes through the spec path") {
    assertIdentical(row("chrµ", 9, 9, null, "A", Seq("T"), null, Nil, Nil, Nil), "non-ASCII contig")
    assertIdentical(row("1", 9, 9, "rsÄ", "A", Seq("T"), null, Nil, Nil, Nil), "non-ASCII id")
    assertIdentical(row("1", 9, 9, null, "A", Seq("Tñ"), null, Nil, Nil, Nil), "non-ASCII alt")
    assertIdentical(row("1", 9, 9, null, "A", Seq("T"), null, Nil,
      Seq("K" -> "vàl"), Nil), "non-ASCII info value")
    assertIdentical(row("1", 9, 9, null, "A", Seq("T"), null, Nil, Nil,
      Seq(geno("s", "0/1", Seq("K" -> "ü")))), "non-ASCII field value")
  }

  test("writer-facing coordinates and samples match the converted variant") {
    val r = row("chr2", 123, 456, null, "A", Seq("T"), null, Nil, Nil,
      Seq(geno("sampleA", "0/1", Nil), geno("sampleB", "1/1", Nil)))
    val enc = new VcfRowEncoder(schema)
    enc.encode(r)
    val v = RowToVariant.convert(r, idx)
    assert(enc.lastContig == v.contig && enc.lastStart == v.start && enc.lastEnd == v.end)
    assert(enc.lastHasGenotypes == v.genotypes.nonEmpty)
    assert(enc.samplesOf(r) == v.genotypes.map(_.sample))
  }
}
