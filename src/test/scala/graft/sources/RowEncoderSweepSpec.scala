package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.{Random, Try}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.bam.{AlignmentRecord, BamRef, BamRowEncoder, BamSpecWriter, SamHeader}
import graft.fastq.{FastqRecord, FastqRowEncoder, FastqSpecWriter}
import graft.sam.{SamRowEncoder, SamSpecWriter}
import graft.sources.cram.RowToRecord
import graft.sources.fastq.RowToFastq
import graft.sources.vcf.RowToVariant
import graft.vcf.{Variant, VcfRowEncoder, VcfSpecWriter}

/** Seeded adversarial sweep of the four row encoders against their
  * test-scope object-model writers: on every row the encoder writes exactly
  * the writer's bytes, or throws exactly when the writer throws, with the
  * same exception class (and message, except for a `NullPointerException`).
  * Rows splice malformed UTF-8, supplementary characters and U+E000–U+FFFF
  * characters into every text field, key and value, repeat keys, put nulls
  * in arrays and maps, and (BAM) draw every tag type, `B` subtype, integer
  * spelling, `A` length and a CG spill at 65,535 and 65,536 ops. Each shape
  * family must reach both outcomes (the nulls family counts null map and
  * array columns and null genotype members, which write, with the null map
  * values and array elements, which throw). Every row is encoded both as a
  * `GenericInternalRow` and as the `UnsafeRow` a sink receives, by one
  * reused encoder.
  */
class RowEncoderSweepSpec extends AnyFunSuite {

  private def u(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)
  private def bytes(b: Int*): Array[Byte] = b.map(_.toByte).toArray

  /** Byte sequences a `String` decode replaces or keeps: lone continuation,
    * truncated and overlong forms, an encoded surrogate, valid 2/3/4-byte
    * characters, U+E000–U+FFFF and a supplementary character.
    */
  private val splices: Array[Array[Byte]] = Array(
    bytes(0xff), bytes(0xc3), bytes(0x80), bytes(0xc0, 0xaf), bytes(0xed, 0xa0, 0x80),
    bytes(0xf0, 0x9f, 0x98), bytes(0xfe, 0xfe),
    "é".getBytes(UTF_8), "ſ".getBytes(UTF_8), "٣".getBytes(UTF_8), "".getBytes(UTF_8),
    "Ａ".getBytes(UTF_8), "�".getBytes(UTF_8), "😀".getBytes(UTF_8),
    "𐀀".getBytes(UTF_8))

  /** `base` as is, or with 1–3 splices at random places; families record
    * that a non-ASCII splice happened.
    */
  private final class Gen(seed: Long) {
    val rnd = new Random(seed)
    var families: Set[String] = Set.empty
    def chance(n: Int): Boolean = rnd.nextInt(n) == 0
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.length))
    def text(base: String, p: Int = 4): UTF8String = {
      if (base == null || !chance(p)) return u(base)
      val b = base.getBytes(UTF_8)
      val out = new java.io.ByteArrayOutputStream()
      var cut = 0
      val at = Array.fill(1 + rnd.nextInt(3))(rnd.nextInt(b.length + 1)).sorted
      at.foreach { a =>
        out.write(b, cut, a - cut); cut = a
        val s = splices(rnd.nextInt(splices.length))
        out.write(s)
        families += (if (s.length == 4 || s.sameElements("".getBytes(UTF_8)) ||
          s.sameElements("Ａ".getBytes(UTF_8))) "supplementary/E000" else "malformed or non-ASCII")
      }
      out.write(b, cut, b.length - cut)
      UTF8String.fromBytes(out.toByteArray)
    }
    /** Keys that sort differently as UTF-16 and as UTF-8, ASCII keys, and
      * distinct malformed keys that decode to the same `String`.
      */
    def key(ascii: Seq[String]): UTF8String = rnd.nextInt(12) match {
      case 0 => families += "supplementary/E000"; u(pick("😀", "𐀀", "A", "ＡB", "�Z"))
      case 1 => families += "malformed or non-ASCII"
        UTF8String.fromBytes(pick(bytes(0xff, 'A'), bytes(0xfe, 'A'), bytes(0xc3, 'A'), bytes('é'.toByte, 'A')))
      case 2 => text(pick(ascii: _*), 1)
      case _ => u(pick(ascii: _*))
    }
    def map(keys: Seq[UTF8String], values: Seq[UTF8String]): ArrayBasedMapData = {
      if (keys.map(_.toString).distinct.length < keys.length)
        families += "dup keys"
      if (values.contains(null)) families += "nulls"
      new ArrayBasedMapData(new GenericArrayData(keys.toArray[Any]), new GenericArrayData(values.toArray[Any]))
    }
  }

  private final class Tally(encoder: String) {
    private val seen = scala.collection.mutable.Map.empty[String, Set[Boolean]]
    var rows, throws = 0
    def apply(g: Gen, threw: Boolean): Unit = {
      rows += 1
      if (threw) throws += 1
      g.families.foreach(f => seen(f) = seen.getOrElse(f, Set.empty) + threw)
    }
    def check(families: Seq[String]): Unit = families.foreach { f =>
      assert(seen.getOrElse(f, Set.empty) == Set(true, false), s"$encoder: family '$f' reached ${seen.get(f)}")
    }
  }

  /** Encoder result vs writer result on the generic row and its UnsafeRow. */
  private def compare(clue: => String, row: InternalRow, proj: UnsafeProjection,
                      enc: InternalRow => Array[Byte], spec: InternalRow => Array[Byte]): Boolean = {
    val want = Try(spec(row))
    for ((r, shape) <- Seq(row -> "generic", proj(row) -> "unsafe")) {
      val got = Try(enc(r))
      (got.toEither, want.toEither) match {
        case (Right(a), Right(b)) =>
          assert(java.util.Arrays.equals(a, b), s"$clue ($shape): bytes differ\n encoder: " +
            s"${new String(a, UTF_8).take(400)}\n writer:  ${new String(b, UTF_8).take(400)}")
        case (Left(a), Left(b)) =>
          assert(a.getClass == b.getClass, s"$clue ($shape): encoder threw $a, writer threw $b")
          if (!a.isInstanceOf[NullPointerException])
            assert(a.getMessage == b.getMessage, s"$clue ($shape): messages differ")
        case (a, b) => fail(s"$clue ($shape): encoder $a, writer $b")
      }
    }
    want.isFailure
  }

  private def encoded(len: Int, buf: => Array[Byte]): Array[Byte] = java.util.Arrays.copyOf(buf, len)

  // ---- BAM and SAM --------------------------------------------------------

  private val header = SamHeader(IndexedSeq(BamRef("chr1", 1000000), BamRef("chr2", 900000),
    BamRef("chré", 5000), BamRef("chr�", 5000)))
  private val readIdx = RowToRecord.indices(AlignmentRecord.schema)
  private val readProj = UnsafeProjection.create(AlignmentRecord.schema)
  private val tagKeys = Seq("NM", "RG", "XA", "ZZ", "AA", "CG", "MD", "xa", "X", "XYZ")

  private def intText(g: Gen): String = g.rnd.nextInt(14) match {
    case 0 => "+" + g.rnd.nextInt(100)
    case 1 => "00" + g.rnd.nextInt(100)
    case 2 => g.pick("99999999999", "-2147483649", "2147483648", "4294967295", "-9223372036854775809",
      "1234567890123456789")
    case 3 => g.pick("", "-", "1.5", "x", " 1", "٣")
    case 4 => (g.rnd.nextInt(70000) - 35000).toString
    case _ => (g.rnd.nextInt(300) - 100).toString
  }

  private def tagValue(g: Gen): UTF8String = g.rnd.nextInt(16) match {
    case 0 | 1 | 2 => g.text("Z:" + g.pick("rg1", "", "a b", "tail-value"))
    case 3 => g.families += "ints"; u(g.pick("c", "C", "s", "S", "i", "I") + ":" + intText(g))
    case 4 | 5 => g.families += "ints"; u(g.pick("c", "C", "s", "S", "i", "I") + ":" + g.rnd.nextInt(200))
    case 6 => g.families += "A values"; g.text("A:" + g.pick("x", "", "xy", "é", "😀", "Q"), 2)
    case 7 => u("f:" + g.pick("1.5", "NaN", "-0.0", "1e3", "abc", " 2.0 ", "0x1p3", "1.5f", ""))
    case 8 | 9 =>
      g.families += "B arrays"
      val sub = g.pick("c", "C", "s", "S", "i", "I", "f", "x", "")
      val n = g.rnd.nextInt(4)
      val vals = (0 until n).map(_ => if (g.chance(6)) intText(g) else (g.rnd.nextInt(400) - 200).toString)
      u("B:" + sub + (if (n == 0 && g.chance(2)) "," else "") + vals.map("," + _).mkString +
        (if (g.chance(8)) ",," else ""))
    case 10 => g.text("H:" + g.pick("1AE3", "", "ff"), 2)
    case 11 => u(g.pick("q:1", "Z", "Zabc", "", ":", "é:x"))
    case _ => u("i:" + g.rnd.nextInt(1000))
  }

  private def cigarText(g: Gen, lSeq: Int): String = g.rnd.nextInt(12) match {
    case 0 => null
    case 1 => "*"
    case 2 => g.pick("10", "M", "10Q", "", "**", "3M2", "٣M", "2Mé", "268435455M", "268435456M",
      "4294967297M", "99999999999M")
    case 3 => s"${g.rnd.nextInt(9) + 1}S${math.max(1, lSeq)}M${g.rnd.nextInt(9)}D"
    case _ => s"${math.max(1, lSeq)}M"
  }

  private def readRow(g: Gen, i: Int): GenericInternalRow = {
    val lSeq = if (g.chance(12)) 0 else g.rnd.nextInt(40)
    val bases = "ACGTNacgtn=."
    var seq: UTF8String =
      if (g.chance(10)) g.pick(null, u("*")) else g.text((0 until lSeq).map(_ => bases(g.rnd.nextInt(12))).mkString, 6)
    var qual: UTF8String =
      if (g.chance(10)) g.pick(null, u("*"))
      else g.text((0 until lSeq + (if (g.chance(15)) 1 else 0)).map(_ => (33 + g.rnd.nextInt(60)).toChar).mkString, 6)
    if ((seq != null && !RowText.ascii(seq)) || (qual != null && !RowText.ascii(qual))) g.families += "non-ASCII seq/qual"
    var cigar = u(cigarText(g, lSeq))
    if (g.chance(5)) cigar = g.text(if (cigar == null) "5M" else cigar.toString, 2)
    val nTags = g.pick(0, 0, 1, 2, 3, 5)
    val keys = (0 until nTags).map(_ => g.key(tagKeys))
    val values = keys.map(_ => if (g.chance(40)) null else tagValue(g))
    var tags = if (nTags == 0 && g.chance(3)) { g.families += "nulls"; null } else g.map(keys, values)
    // ultra-long reads: a cigar at the uint16 edge, with and without a CG tag
    if (i % 150 == 7) {
      g.families += "CG spill"
      val nOps = g.pick(65535, 65536, 65537)
      cigar = u("1M1I" * (nOps / 2) + (if (nOps % 2 == 1) "1M" else ""))
      seq = u("A" * nOps); qual = u("I" * nOps)
      if (g.chance(2)) tags = g.map(keys :+ u("CG"), values :+ u(g.pick("Z:user", "B:I,1,2", "bogus")))
    }
    val name = g.rnd.nextInt(30) match {
      case 0 => null
      case 1 => u("")
      case 2 => g.text("r" * (120 + g.rnd.nextInt(140)), 2)
      case _ => g.text(s"read-$i")
    }
    new GenericInternalRow(Array[Any](name, g.rnd.nextInt(0x10000) + (if (g.chance(60)) 0x10000 else 0),
      g.text(g.pick(null, "chr1", "chr2", "chr1", "chrNOPE", "chré"), 5), g.rnd.nextInt(999999) + g.pick(0, 1, 1),
      g.rnd.nextInt(100), g.rnd.nextInt(256) + (if (g.chance(60)) g.pick(-1, 1) else 0), cigar,
      g.text(g.pick(null, "chr1", "chr2", "chrNOPE"), 5), g.rnd.nextInt(1000), g.rnd.nextInt(2001) - 1000,
      seq, qual, tags))
  }

  test("BAM: encoder bytes and exceptions equal the object-model writer's") {
    val enc = new BamRowEncoder(AlignmentRecord.schema, header)
    val tally = new Tally("BAM")
    for (i <- 0 until 3000) {
      val g = new Gen(1000L + i)
      val row = readRow(g, i)
      tally(g, compare(s"BAM row $i", row, readProj, r => encoded(enc.encode(r), enc.buf),
        r => BamSpecWriter.encodeRecord(RowToRecord.convert(r, readIdx), header)))
    }
    tally.check(Seq("malformed or non-ASCII", "supplementary/E000", "dup keys", "nulls", "B arrays", "ints",
      "A values", "CG spill", "non-ASCII seq/qual"))
  }

  test("SAM: encoder bytes and exceptions equal the object-model writer's") {
    val enc = new SamRowEncoder(AlignmentRecord.schema)
    val tally = new Tally("SAM")
    for (i <- 0 until 3000) {
      val g = new Gen(5000L + i)
      val row = readRow(g, i)
      tally(g, compare(s"SAM row $i", row, readProj, r => encoded(enc.encode(r), enc.buf),
        r => (SamSpecWriter.toLine(RowToRecord.convert(r, readIdx)) + "\n").getBytes(UTF_8)))
    }
    tally.check(Seq("malformed or non-ASCII", "supplementary/E000", "dup keys", "nulls", "non-ASCII seq/qual"))
  }

  // ---- VCF ------------------------------------------------------------------

  private val varIdx = RowToVariant.indices(Variant.schema)
  private val varProj = UnsafeProjection.create(Variant.schema)
  private val infoKeys = Seq("DP", "AF", "END", "SVTYPE", "DB", "AC")
  private val fmtKeys = Seq("DP", "GQ", "AD", "PL", "FT")

  private def list(g: Gen, base: Seq[String]): GenericArrayData = g.rnd.nextInt(8) match {
    case 0 => g.families += "nulls"; null
    case 1 => new GenericArrayData(Array.empty[Any])
    case _ =>
      val xs = (0 until 1 + g.rnd.nextInt(3)).map(_ =>
        if (g.chance(40)) { g.families += "nulls"; null } else g.text(g.pick(base: _*), 6))
      new GenericArrayData(xs.toArray[Any])
  }

  private def variantRow(g: Gen, i: Int): GenericInternalRow = {
    val info =
      if (g.chance(6)) { g.families += "nulls"; null }
      else {
        val keys = (0 until g.rnd.nextInt(5)).map(_ => g.key(infoKeys))
        g.map(keys, keys.map(_ => if (g.chance(60)) null else g.text(g.pick("", "12", "0.5", "a,b"), 5)))
      }
    val genotypes =
      if (g.chance(6)) { g.families += "nulls"; null }
      else new GenericArrayData((0 until g.rnd.nextInt(5)).map { s =>
        if (g.chance(80)) { g.families += "nulls"; null }
        else {
          val fields =
            if (g.chance(2)) { g.families += "nulls"; g.pick(null, g.map(Nil, Nil)) }
            else {
              val keys = (0 until 1 + g.rnd.nextInt(3)).map(_ => g.key(fmtKeys))
              g.map(keys, keys.map(_ => if (g.chance(80)) null else g.text(g.pick("10", ".", "3,4"), 6)))
            }
          new GenericInternalRow(Array[Any](g.text(s"s$s", 8), g.pick(null, g.text("0/1", 6), u("1|1")), fields))
        }
      }.toArray[Any])
    new GenericInternalRow(Array[Any](
      g.text(g.pick("chr1", "chr2", "1", null), 5),
      g.pick(g.rnd.nextInt(100000) + 1, 999999999, 1000000000, Int.MaxValue, 1234567890, 0, -5),
      g.rnd.nextInt(100000), g.text(g.pick(null, "rs1", ".", "id;x"), 5), g.text(g.pick("A", "ACGT", "N", null), 6),
      list(g, Seq("T", "<DEL>", "C", "")),
      if (g.chance(4)) null else g.pick(0.0, -0.0, 1.5, 60.77, 1e15, 1e16, 3.0, Double.NaN),
      list(g, Seq("PASS", "q10", "s50")), info, genotypes))
  }

  test("VCF: encoder bytes and exceptions equal the object-model writer's") {
    val enc = new VcfRowEncoder(Variant.schema)
    val tally = new Tally("VCF")
    for (i <- 0 until 3000) {
      val g = new Gen(9000L + i)
      val row = variantRow(g, i)
      tally(g, compare(s"VCF row $i", row, varProj, r => encoded(enc.encode(r), enc.buf),
        r => (VcfSpecWriter.toLine(RowToVariant.convert(r, varIdx)) + "\n").getBytes(UTF_8)))
    }
    tally.check(Seq("malformed or non-ASCII", "supplementary/E000", "dup keys", "nulls"))
  }

  // ---- FASTQ ----------------------------------------------------------------

  private val fqSchema = StructType(FastqRecord.schema.fields.map(_.copy(nullable = true)))
  private val fqIdx = RowToFastq.indices(fqSchema)
  private val fqProj = UnsafeProjection.create(fqSchema)

  test("FASTQ: encoder bytes and exceptions equal the object-model writer's") {
    val enc = new FastqRowEncoder(fqIdx)
    val tally = new Tally("FASTQ")
    for (i <- 0 until 3000) {
      val g = new Gen(13000L + i)
      def field(base: String): UTF8String =
        if (g.chance(30)) { g.families += "nulls"; null } else g.text(base, 3)
      val n = g.rnd.nextInt(30)
      val comment = g.pick(null, u(""), g.text(s"len=$n", 3))
      if (comment == null) g.families += "nulls"
      val row = new GenericInternalRow(Array[Any](field(s"read/$i"), comment,
        field("ACGTN" * 6 take n), field("IJ#" * 10 take n)))
      tally(g, compare(s"FASTQ row $i", row, fqProj, r => encoded(enc.encode(r), enc.buf), { r =>
        val sb = new StringBuilder
        FastqSpecWriter.toLines(FastqSpecWriter.convert(r, fqIdx), sb)
        sb.toString.getBytes(UTF_8)
      }))
    }
    tally.check(Seq("malformed or non-ASCII", "supplementary/E000", "nulls"))
  }

  test("VCF: a ten-digit POS keeps its leading digit") {
    val enc = new VcfRowEncoder(Variant.schema)
    for (pos <- Seq(999999999, 1000000000, 1234567890, Int.MaxValue)) {
      val row = new GenericInternalRow(Array[Any](u("chr1"), pos, pos, null, u("A"), null, null, null, null, null))
      val line = new String(encoded(enc.encode(row), enc.buf), UTF_8)
      assert(line == s"chr1\t$pos\t.\tA\t.\t.\t.\t.\n")
    }
  }
}
