package graft.bam

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.cram.RowToRecord

/** Byte-identity proof for the direct row→wire encoder: for every row shape,
  * `BamRowEncoder.encode(row)` must produce EXACTLY the bytes of the object
  * path `BamSpecWriter.encodeRecord(RowToRecord.convert(row, idx), header)` — the
  * object path is the executable spec. Coverage spans the production shapes
  * (ASCII names/cigars/seq/qual, int/string tags) and the adversarial ones
  * that must route through the fallback (non-ASCII text, CG-spill cigars,
  * B-array/float tags, dup map keys, unplaced reads, "*" sentinels).
  */
class BamRowEncoderSpec extends AnyFunSuite {
  private val header = SamHeader(IndexedSeq(BamRef("chr1", 1000000), BamRef("chr2", 900000),
    BamRef("chrX", 800000)))
  private val schema = AlignmentRecord.schema
  private val idx = RowToRecord.indices(schema)

  private def u(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)

  private def mapData(pairs: Seq[(String, String)]): ArrayBasedMapData =
    new ArrayBasedMapData(
      new GenericArrayData(pairs.map(p => u(p._1)).toArray[Any]),
      new GenericArrayData(pairs.map(p => u(p._2)).toArray[Any]))

  private def row(readName: String, flags: Int, contig: String, start: Int, end: Int,
                  mapq: Int, cigar: String, mateContig: String, mateStart: Int, tlen: Int,
                  seq: String, qual: String, attrs: Seq[(String, String)]): GenericInternalRow =
    new GenericInternalRow(Array[Any](u(readName), flags, u(contig), start, end, mapq,
      u(cigar), u(mateContig), mateStart, tlen, u(seq), u(qual),
      if (attrs == null) null else mapData(attrs)))

  private def specBytes(r: GenericInternalRow): Array[Byte] = {
    val rec = RowToRecord.convert(r, idx)
    val body = BamSpecWriter.encodeRecord(rec, header)
    body
  }

  private def assertIdentical(r: GenericInternalRow, clue: String): Unit = {
    val enc = new BamRowEncoder(schema, header)
    val len = enc.encode(r)
    val fast = java.util.Arrays.copyOf(enc.buf, len)
    val spec = specBytes(r)
    assert(fast.sameElements(spec), s"$clue: direct bytes != spec bytes " +
      s"(fast ${fast.length}B vs spec ${spec.length}B)")
  }

  test("production shapes: deterministic pseudo-random sweep is byte-identical") {
    val rnd = new scala.util.Random(42)
    val bases = "ACGTN"
    val contigs = Array("chr1", "chr2", "chrX", null)
    for (i <- 0 until 2000) {
      val sl = rnd.nextInt(60)
      val seq = if (rnd.nextInt(10) == 0) "*" else (0 until sl).map(_ => bases(rnd.nextInt(5))).mkString
      val lSeq = if (seq == "*") 0 else seq.length
      val qual =
        if (rnd.nextInt(10) == 0) "*"
        else (0 until lSeq).map(_ => (33 + rnd.nextInt(60)).toChar).mkString
      val cigar = rnd.nextInt(4) match {
        case 0 => "*"
        case 1 => s"${math.max(1, lSeq)}M"
        case 2 => s"${rnd.nextInt(20) + 1}S${rnd.nextInt(30) + 1}M${rnd.nextInt(5)}I${rnd.nextInt(9) + 1}D"
        case _ => null
      }
      val attrs: Seq[(String, String)] = rnd.nextInt(5) match {
        case 0 => Nil
        case 1 => Seq("NM" -> s"i:${rnd.nextInt(100)}")
        case 2 => Seq("RG" -> s"Z:rg${rnd.nextInt(4)}", "NM" -> s"i:${rnd.nextInt(9)}",
          "AS" -> s"i:${rnd.nextInt(200)}")
        case 3 => Seq("XO" -> s"i:${rnd.nextInt(100)}", "MD" -> s"Z:${rnd.nextInt(8)}A${rnd.nextInt(3)}")
        case _ => Seq("xa" -> s"c:${rnd.nextInt(200) - 100}", "xb" -> s"S:${rnd.nextInt(60000)}",
          "xc" -> s"s:${rnd.nextInt(60000) - 30000}", "xd" -> s"C:${rnd.nextInt(250)}",
          "xe" -> s"I:${rnd.nextInt(Int.MaxValue)}", "xf" -> s"A:${('a' + rnd.nextInt(26)).toChar}")
      }
      val contig = contigs(rnd.nextInt(4))
      val start = if (contig == null) 0 else rnd.nextInt(999999) + 1
      val r = row(s"r$i-${rnd.nextInt(1000)}", rnd.nextInt(0x10000), contig, start,
        start + rnd.nextInt(100), rnd.nextInt(256), cigar,
        contigs(rnd.nextInt(4)), rnd.nextInt(1000), rnd.nextInt(2001) - 1000, seq, qual, attrs)
      assertIdentical(r, s"sweep row $i")
    }
  }

  test("sentinels and nulls: *, empty, null name/seq/qual/cigar/attrs") {
    assertIdentical(row(null, 0, null, 0, 0, 0, null, null, 0, 0, null, null, null), "all null")
    assertIdentical(row("", 4, null, 0, 0, 0, "*", null, 0, 0, "*", "*", Nil), "stars")
    assertIdentical(row("*", 0, "chr1", 5, 10, 60, "6M", "chr1", 5, 0, "ACGTAC", "IIIIII", Nil),
      "star name")
    assertIdentical(row("r", 0, "chr1", 1, 1, 0, "1M", null, 0, 0, "A", null, Nil), "null qual")
  }

  test("dup map keys keep the LAST value (Map + semantics)") {
    assertIdentical(row("r", 0, "chr1", 10, 12, 60, "3M", null, 0, 0, "ACG", "III",
      Seq("NM" -> "i:1", "RG" -> "Z:a", "NM" -> "i:7")), "dup keys")
  }

  test("unsorted map keys are emitted in sorted order") {
    assertIdentical(row("r", 0, "chr1", 10, 12, 60, "3M", null, 0, 0, "ACG", "III",
      Seq("ZZ" -> "Z:last", "AA" -> "Z:first", "MM" -> "i:5")), "unsorted keys")
  }

  test("fallback shapes: B arrays, floats, lowercase seq, non-ASCII, CG spill") {
    assertIdentical(row("r", 0, "chr1", 10, 14, 60, "5M", null, 0, 0, "acgtn", "IIIII",
      Seq("ZB" -> "B:I,1,2,3", "XF" -> "f:1.5")), "B+f tags")
    assertIdentical(row("rïñ", 0, "chr1", 10, 12, 60, "3M", null, 0, 0, "ACG", "III", Nil),
      "non-ASCII name")
    assertIdentical(row("r", 0, "chr1", 10, 12, 60, "3M", null, 0, 0, "ACG", "III",
      Seq("XN" -> "Z:vàl")), "non-ASCII tag value")
    // CG spill: 70000 one-base ops exceed the uint16 op count
    val ops = (0 until 70000).map(i => if (i % 2 == 0) "1M" else "1I").mkString
    val qlen = 70000 / 2 + 70000 / 2 // M and I both consume query here
    val seq = "A" * qlen
    assertIdentical(row("r", 0, "chr1", 10, 10 + 35000, 60, ops, null, 0, 0, seq, "I" * qlen, Nil),
      "CG spill")
  }

  test("unknown contig fails identically (dictionary error, not silent unmapped)") {
    val r = row("r", 0, "chrNOPE", 10, 12, 60, "3M", null, 0, 0, "ACG", "III", Nil)
    val enc = new BamRowEncoder(schema, header)
    val eFast = intercept[IllegalArgumentException](enc.encode(r))
    val eSpec = intercept[IllegalArgumentException](specBytes(r))
    assert(eFast.getMessage == eSpec.getMessage)
  }

  test("a tag key or A value outside one byte per character is refused, naming the tag") {
    // each would otherwise reach the wire cut to its low bytes: a key of two
    // UTF-16 units that is one supplementary character, a non-ASCII key or
    // A value, and an A value longer or shorter than one character
    val bad = Seq("😀" -> "i:1", "éA" -> "Z:x", "XA" -> "A:é", "XA" -> "A:xy", "XA" -> "A:")
    for ((k, v) <- bad) {
      val r = row("r", 0, "chr1", 10, 12, 60, "3M", null, 0, 0, "ACG", "III", Seq("NM" -> "i:0", k -> v))
      val eFast = intercept[IllegalArgumentException](new BamRowEncoder(schema, header).encode(r))
      val eSpec = intercept[IllegalArgumentException](specBytes(r))
      val eCram = intercept[IllegalArgumentException](graft.cram.CramRecordWriter.encodeContainer(
        IndexedSeq(RowToRecord.convert(r, idx)), header, 0L))
      assert(eFast.getMessage == eSpec.getMessage && eCram.getMessage == eSpec.getMessage, s"$k -> $v")
      assert(eSpec.getMessage.contains(k), eSpec.getMessage)
    }
  }

  test("writer-facing coordinates match the converted record") {
    val r = row("r", 16, "chr2", 123, 456, 60, "334M", "chr1", 99, -5, "A" * 334, "I" * 334, Nil)
    val enc = new BamRowEncoder(schema, header)
    enc.encode(r)
    val rec = RowToRecord.convert(r, idx)
    assert(enc.lastRefId == header.refId(rec.contig))
    assert(enc.lastStart == rec.start && enc.lastEnd == rec.end && enc.lastFlags == rec.flags)
  }
}
