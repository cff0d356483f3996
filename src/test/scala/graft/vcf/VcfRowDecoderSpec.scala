package graft.vcf

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.{Random, Try}

import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.vcf.VariantRowBuilder

/** [[VcfRowDecoder]] against its executable spec — `VcfCodec.fromLine`
  * copied through `VariantRowBuilder` and projected to `UnsafeRow` — on
  * seeded random lines and hand-written edge lines, under every mask
  * shape a scan can hand it: the rows must be byte-identical, and the
  * decoder must throw iff the spec throws.
  */
class VcfRowDecoderSpec extends AnyFunSuite {

  private val samples3 = Seq("S1", "sB", "Ñ3")

  private def genos(names: String*): StructField = StructField("genotypes",
    ArrayType(StructType(names.map(n => Variant.genotypeType(n)))), nullable = true)
  private def cols(names: String*): Seq[StructField] = names.map(n => Variant.schema(n))
  private val siteCols = cols("contig", "start", "end", "id", "ref", "alt", "qual", "filters", "info")

  /** (label, required schema, formatFields, infoFields, force `end`). */
  private val shapes: Seq[(String, StructType, Option[Seq[String]], Option[Seq[String]], Boolean)] = Seq(
    ("all", Variant.schema, None, None, false),
    ("all, end forced", Variant.schema, None, None, true),
    ("formatFields GT,DP", Variant.schema, Some(Seq("GT", "DP")), None, false),
    ("formatFields DP,DP", Variant.schema, Some(Seq("DP", "DP")), None, false),
    ("formatFields 6 keys", Variant.schema, Some(Seq("PL", "DP", "GQ", "AD", "HQ", "FT")), None, false),
    ("infoFields DP,END,AC", Variant.schema, None, Some(Seq("DP", "END", "AC")), false),
    ("infoFields 6 keys", Variant.schema, None, Some(Seq("E", "D", "C", "B", "A", "DP")), false),
    ("infoFields, end pruned", StructType(cols("contig", "start", "info")), None, Some(Seq("DP")), false),
    ("genotypes off", StructType(siteCols), None, None, false),
    ("start only", StructType(cols("start")), None, None, false),
    ("contig+start, end forced", StructType(cols("contig", "start")), None, None, true),
    ("end without info", StructType(cols("contig", "start", "end")), None, None, false),
    ("gt only", StructType(cols("start") :+ genos("gt")), None, None, false),
    ("sample only", StructType(Seq(genos("sample"))), None, None, false),
    ("fields,gt reversed", StructType(cols("contig") :+ genos("fields", "gt")), None, None, false),
    ("fields,sample + GT key", StructType(Seq(genos("fields", "sample"))), Some(Seq("GT")), None, false),
    ("gt,sample + DP,GQ", StructType(Seq(genos("gt", "sample"))), Some(Seq("DP", "GQ")), None, false),
    ("columns reordered", StructType(genos("sample", "gt", "fields") +: cols("info", "alt", "start")),
      None, Some(Seq("AC", "DP")), false))

  private def stripCr(s: String): String = if (s.endsWith("\r")) s.dropRight(1) else s

  private final class Pair(shape: String, required: StructType, val samples: Seq[String], mask: VcfFormatMask) {
    private val getters = VariantRowBuilder.getters(required)
    private val proj = UnsafeProjection.create(required)
    val decoder = new VcfRowDecoder(required, samples, mask)
    var rows, throws = 0

    def spec(line: String, samples: Seq[String] = samples, m: VcfFormatMask = mask): Try[UnsafeRow] =
      Try(proj(VariantRowBuilder.build(VcfCodec.fromLine(line, samples, m, null), getters)).copy())

    def check(b: Array[Byte]): Unit = {
      val line = stripCr(new String(b, UTF_8))
      val n = if (b.nonEmpty && b.last == '\r') b.length - 1 else b.length
      val want = spec(line)
      val got = Try { decoder.parse(b, 0, n); decoder.row().copy() }
      def show = s"[$shape, ${samples.size} samples] ${line.replace("\t", "\\t")}"
      (want, got) match {
        case (scala.util.Success(w), scala.util.Success(g)) =>
          assert(g == w, s"row differs: $show\n  spec ${w.getBytes.toSeq}\n  got  ${g.getBytes.toSeq}")
          rows += 1
        case (scala.util.Failure(_), scala.util.Failure(_)) => throws += 1
        case _ => fail(s"spec ${want.isSuccess} vs decoder ${got.isSuccess} (${got.failed.toOption}): $show")
      }
    }
  }

  private def pairs(): Seq[Pair] = for {
    (label, req, ff, inf, forceEnd) <- shapes
    s <- Seq(samples3, Nil)
  } yield {
    val m0 = VcfFormatMask.from(req, ff.map(_.toIndexedSeq), inf.map(_.toIndexedSeq))
    new Pair(label, req, s, if (forceEnd) m0.copy(end = true) else m0)
  }

  // ---- lines ---------------------------------------------------------------

  private val edgeLines: Seq[String] = Seq(
    "chr1\t100\t.\tA\tG\t30\tPASS\tDP=5\tGT:DP\t0/1:3\t1/1:4\t0/0:5",
    // trailing tabs, missing and empty sample columns, trailing ':'
    "chr1\t100\t.\tA\tG\t30\tPASS\tDP=5\tGT:DP\t0/1:3\t\t",
    "chr1\t100\t.\tA\tG\t30\tPASS\tDP=5\tGT:DP\t\t1/1:4",
    "chr1\t100\t.\tA\tG\t30\tPASS\tDP=5\tGT:DP\t0/1:",
    "chr1\t100\t.\tA\tG\t30\tPASS\tDP=5\tGT:DP:\t0/1::\t:::\t:",
    "chr1\t100\t.\tA\tG\t30\tPASS\tDP=5\tGT:DP",
    "chr1\t100\t.\tA\tG\t30\tPASS\tDP=5\t",
    "chr1\t100\t.\tA\tG\t30\tPASS\t\t",
    "chr1\t100\t.\tA\tG\t30\tPASS\t",
    "chr1\t100\t.\tA\tG\t30\tPASS",
    "chr1\t100\t.\tA\tG\t30\tPASS\tDP=5\t\t\t\t\t",
    "\t100\t.\tA\tG\t30\tPASS\tDP=5",
    "\t\t\t\t\t\t\t\t\t",
    "chr1\t100\t.\tA\tG\t30\tPASS\tDP=5\t\t0/1\t1/1",
    "chr1\t100\t.\tA\tG\t30\tPASS\tDP=5\t:\t0/1\t1/1",
    "chr1\t100\t.\tA\tG\t30\tPASS\tDP=5\tDP:GQ\t3:4\t5:6\t7:8",
    // duplicate and flag keys, more than 4 keys
    "chr1\t100\t.\tA\tG\t30\tPASS\tDP=5;DP=7;DB;AC=1;;\tGT:DP:DP:GT\t0/1:1:2:1/1\t0/0:9",
    "chr1\t100\t.\tA\tG\t30\tPASS\tA=1;B=2;C=3;D=4;E=5;DP=6;H2\tGT:AD:DP:GQ:PL\t0/1:1,2:3:4:5,0,6\t1/1:0,7:7:20:90,9,0",
    "chr1\t100\t.\tA\tG\t30\tPASS\tE;D;C;B;A;=;X=\tGT:AD:DP:GQ:PL:HQ:FT\t0/1:1,2:3:4:5,0,6:1:PASS\t./.",
    "chr1\t100\t.\tA\tG\t30\tPASS\tAa=1;BB=2;C=3;D=4;E=5\tAa:BB:GT:DP:GQ:PL\t1:2:0/1:3:4:5\t",
    "chr1\t100\t.\tA\tG\t30\tPASS\t.\tAD:DP:GQ:PL:HQ\t1:2:3:4:5\t6:7",
    // END, '.' fields, multi-ALT
    "chr1\t100\t.\tA\t<DEL>\t.\t.\tEND=500;SVTYPE=DEL\tGT\t0/1",
    "chr1\t100\t.\tA\t.\t.\t.\tEND=500;END=600\tGT\t0/1",
    "chr1\t100\t.\tA\tC\t.\t.\tEND\tGT\t0/1",
    "chr1\t100\t.\tA\tC\t.\t.\tEND=x\tGT\t0/1",
    "chr1\t100\t.\tA\tC\t.\t.\tEND=\tGT\t0/1",
    "chr1\t100\t.\tA\tC\t.\t.\tXEND=5;ENDX=3;end=4\tGT\t0/1",
    "chr1\t100\trs1;rs2\tACGT\tC,G,T\t.\tq10;s50\t.",
    "chr1\t100\t.\tA\tC,,\t.\tq10;;\t.",
    "chr1\t100\t.\tA\t,\t.\t;\t.",
    "chr1\t100\t.\t\t\t.\t\t.",
    // CRLF and an inner CR
    "chr1\t100\t.\tA\tG\t30\tPASS\tDP=5\tGT\t0/1\r",
    "chr1\t100\t.\tA\tG\t30\tPA\rSS\tDP=5\tGT\t0/1",
    // non-ASCII
    "chrÄ\t100\tïd\tÄCG\tG\t30\tPASS\tDÉ=ü;DP=5\tGT:DÉ\t0/1:é\t1/1:ß",
    "chr1\t100\t.\t\uD83D\uDE00A\tG\t30\tPASS\tDP=5\tGT\t0/1",
    // number parsing
    "chr1\t+5\t.\tA\tG\t30\tPASS\tDP=5",
    "chr1\t2147483647\t.\tA\tG\t30\tPASS\tDP=5",
    "chr1\t2147483647\t.\tAC\tG\t30\tPASS\tDP=5",
    "chr1\t2147483648\t.\tA\tG\t30\tPASS\tDP=5",
    "chr1\t-2147483648\t.\tA\tG\t30\tPASS\tDP=5",
    "chr1\t0000000012\t.\tA\tG\t30\tPASS\tDP=5",
    "chr1\t 5\t.\tA\tG\t30\tPASS\tDP=5",
    "chr1\t-\t.\tA\tG\t30\tPASS\tDP=5",
    "chr1\t\u0665\u0660\t.\tA\tG\t30\tPASS\tDP=5",
    "chr1\t100\t.\tA\tG\t 5.5 \tPASS\tDP=5",
    "chr1\t100\t.\tA\tG\t+5\tPASS\tDP=5",
    "chr1\t100\t.\tA\tG\tNaN\tPASS\tDP=5",
    "chr1\t100\t.\tA\tG\t-Infinity\tPASS\tDP=5",
    "chr1\t100\t.\tA\tG\t1e3\tPASS\tDP=5",
    "chr1\t100\t.\tA\tG\t5.\tPASS\tDP=5",
    "chr1\t100\t.\tA\tG\t.5\tPASS\tDP=5",
    "chr1\t100\t.\tA\tG\t-0\tPASS\tDP=5",
    "chr1\t100\t.\tA\tG\t-0.0\tPASS\tDP=5",
    "chr1\t100\t.\tA\tG\t1.0f\tPASS\tDP=5",
    "chr1\t100\t.\tA\tG\t0x1p3\tPASS\tDP=5",
    "chr1\t100\t.\tA\tG\t123456789012345678.25\tPASS\tDP=5",
    "chr1\t100\t.\tA\tG\t0.1234567890123456789\tPASS\tDP=5",
    "chr1\t100\t.\tA\tG\t999.9\tPASS\tDP=5",
    "chr1\t100\t.\tA\tG\t1.2.3\tPASS\tDP=5",
    "chr1\t100\t.\tA\tG\t\tPASS\tDP=5",
    "chr1\t100\t.\tA\tG\tbogus\tPASS\tDP=5\tGT\t0/1")

  /** Raw byte lines: edge lines plus malformed UTF-8 spliced into them. */
  private def edgeBytes: Seq[Array[Byte]] = {
    val bad = Seq(Array(0xff), Array(0xc3), Array(0xe2, 0x82), Array(0xed, 0xa0, 0x80), Array(0xf0, 0x9f, 0x98))
      .map(_.map(_.toByte))
    val base = edgeLines.map(_.getBytes(UTF_8))
    base ++ (for {
      (b, i) <- base.zipWithIndex.take(24)
      m = bad(i % bad.length)
      at <- Seq(0, 2, b.indexOf('\t'.toByte) + 1, b.length - 1).distinct.filter(a => a >= 0 && a <= b.length)
    } yield b.take(at) ++ m ++ b.drop(at))
  }

  private def randomLine(r: Random): Array[Byte] = {
    def pick(xs: String*): String = xs(r.nextInt(xs.length))
    def some(pool: Seq[String], max: Int, sep: String): String =
      Seq.fill(r.nextInt(max + 1))(pool(r.nextInt(pool.length))).mkString(sep)
    val infoPool = Seq("DP=5", "DP=9", "AC=1", "AN=4", "DB", "END=300", "END", "A=1", "B=2", "C=3",
      "D=4", "E=5", "H2", "=", "X=", "", "AF=0.5,0.25", "DÉ=ü")
    val fmtPool = Seq("GT", "AD", "DP", "GQ", "PL", "HQ", "FT", "")
    val valPool = Seq("0/1", "./.", "1|1", "", "5", "1,2", "é", ".", "12,0,40")
    val fmt = some(fmtPool, 7, ":") + pick("", "", ":")
    val nSamples = r.nextInt(5)
    val fields = Seq(
      pick("chr1", "chr2", "chrÄ", "", "1"),
      pick("100", "1", "+5", "2147483647", "2147483648", "-3", "007", " 5", "x", "", "99999"),
      pick(".", "rs1", "", "rs;2"),
      pick("A", "ACGT", "", "Ä", "N"),
      pick(".", "C", "C,G", "C,,", ",", "", "C,G,T", "<DEL>"),
      pick(".", "50", "37.5", "-0", "+5", " 5.5 ", "NaN", "1e3", "0.001", "", "5.", "9999.9"),
      pick(".", "PASS", "q10;s50", "q10;;", "", ";"),
      if (r.nextInt(6) == 0) "." else some(infoPool, 7, ";")) ++
      (if (r.nextInt(5) == 0) Nil
       else fmt +: Seq.fill(nSamples)(some(valPool, 6, ":") + pick("", "", ":", "::")))
    val text = fields.take(if (r.nextInt(8) == 0) r.nextInt(fields.length + 1) else fields.length)
      .mkString("\t") + pick("", "", "", "\t", "\t\t", "\r")
    val b = text.getBytes(UTF_8)
    if (r.nextInt(10) != 0 || b.isEmpty) b
    else {
      val at = r.nextInt(b.length)
      b.take(at) ++ Array.fill(1 + r.nextInt(2))((0x80 + r.nextInt(0x80)).toByte) ++ b.drop(at)
    }
  }

  private def checkAll(lines: Seq[Array[Byte]]): Unit = {
    val ps = pairs()
    for (b <- lines) ps.foreach(_.check(b))
    // both outcomes are exercised under every shape
    ps.foreach(p => assert(p.rows > lines.size / 5 && p.throws > 0, (p.rows, p.throws)))
  }

  test("edge lines: rows byte-identical to the spec path, throws iff it throws, every mask") {
    checkAll(edgeBytes)
  }

  test("seeded random lines: rows byte-identical to the spec path, every mask") {
    val r = new Random(20261018)
    checkAll(Seq.fill(3000)(randomLine(r)))
  }

  test("the bench shape: hash-ordered FORMAT maps after - GT, repeated across lines") {
    // {GT, AD, DP, GQ, PL} is a 5-key HashMap; minus GT it stays hash-ordered
    val m = (Seq("GT", "AD", "DP", "GQ", "PL").map(_ -> "").toMap - "GT").keys.toSeq
    assert(m != Seq("AD", "DP", "GQ", "PL"), "shape no longer exercises hash order")
    val p = pairs().head
    for (i <- 0 until 50) p.check((
      s"chr1\t${100 + i}\t.\tA\tG\t${i}.5\tPASS\tAC=$i;AN=32;DP=${i * 3}\tGT:AD:DP:GQ:PL" +
        (0 until 3).map(s => s"\t0/1:$s,$i:${s + i}:99:$i,0,$s").mkString).getBytes(UTF_8))
  }

  test("the row is reused: each line overwrites the last") {
    val d = new VcfRowDecoder(Variant.schema, Nil, VcfFormatMask.All)
    d.parse("c\t1\t.\tA\tG\t1\t.\t.".getBytes(UTF_8), 0, 15)
    val first = d.row()
    d.parse("c\t2\t.\tA\tG\t1\t.\t.".getBytes(UTF_8), 0, 15)
    assert((d.row() eq first) && first.getInt(1) == 2)
  }
}
