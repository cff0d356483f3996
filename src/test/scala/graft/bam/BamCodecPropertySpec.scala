package graft.bam

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests: encode→decode identity over randomized records —
  * the reference checks this surface only by differential counting
  * (SURVEY.md §5); field-level identity is strictly stronger.
  */
class BamCodecPropertySpec extends AnyFunSuite {

  private def checkProp(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  private val header = TestReads.header

  private val genName: Gen[String] =
    Gen.chooseNum(1, 40).flatMap(n => Gen.listOfN(n, Gen.choose(33.toChar, 126.toChar))
      .map(_.mkString).suchThat(s => s != "*" && !s.contains('@')))

  private val genCigarOp: Gen[(Int, Char)] = for {
    len <- Gen.chooseNum(1, 1000)
    op <- Gen.oneOf("MIDNSHP=X".toSeq)
  } yield (len, op)

  private val genSeqQual: Gen[(String, String)] = for {
    n <- Gen.chooseNum(0, 80)
    seq <- Gen.listOfN(n, Gen.oneOf("ACGTN".toSeq)).map(_.mkString)
    hasQual <- Gen.oneOf(true, false)
    qual <- Gen.listOfN(n, Gen.choose(33.toChar, 120.toChar)).map(_.mkString)
  } yield if (n == 0) ("*", "*") else (seq, if (hasQual) qual else "*")

  private val genTag: Gen[(String, String)] = for {
    t1 <- Gen.alphaUpperChar; t2 <- Gen.alphaUpperChar
    typed <- Gen.oneOf(
      Gen.const("A:x"),
      Gen.chooseNum(-128, 127).map(v => s"c:$v"),
      Gen.chooseNum(0, 255).map(v => s"C:$v"),
      Gen.chooseNum(-32768, 32767).map(v => s"s:$v"),
      Gen.chooseNum(0, 65535).map(v => s"S:$v"),
      Gen.chooseNum(Int.MinValue, Int.MaxValue).map(v => s"i:$v"),
      Gen.chooseNum(0L, 4294967295L).map(v => s"I:$v"),
      Gen.const("f:1.25"),
      Gen.alphaNumStr.map(s => s"Z:$s"),
      Gen.listOfN(3, Gen.chooseNum(-100, 100)).map(vs => "B:i," + vs.mkString(",")))
  } yield (s"$t1$t2", typed)

  private val genRecord: Gen[AlignmentRecord] = for {
    name <- genName
    flags <- Gen.chooseNum(0, 0xffff)
    mapped <- Gen.oneOf(true, false)
    contig <- if (mapped) Gen.oneOf(header.refs.map(_.name)) else Gen.const(null: String)
    start <- if (mapped) Gen.chooseNum(1, 900000) else Gen.const(0)
    nCigar <- if (mapped) Gen.chooseNum(0, 5) else Gen.const(0)
    cigarOps <- Gen.listOfN(nCigar, genCigarOp)
    (seq, qual) <- genSeqQual
    mapq <- Gen.chooseNum(0, 255)
    tlen <- Gen.chooseNum(-100000, 100000)
    nTags <- Gen.chooseNum(0, 4)
    tags <- Gen.listOfN(nTags, genTag)
  } yield {
    val cigar = if (cigarOps.isEmpty) "*" else cigarOps.map { case (l, o) => s"$l$o" }.mkString
    val refLen =
      if (cigar == "*") 0
      else BamCodec.cigarRefLength(BamCodec.parseCigar(cigar))
    AlignmentRecord(name, flags, contig, start,
      if (start > 0 && refLen > 0) start + refLen - 1 else 0,
      mapq, cigar, null, 0, tlen, seq, qual, tags.toMap)
  }

  test("property: encode → decode is identity") {
    checkProp(Prop.forAll(genRecord) { r =>
      val bytes = BamSpecWriter.encodeRecord(r, header)
      val back = BamCodec.decodeRecord(
        java.util.Arrays.copyOfRange(bytes, 4, bytes.length), bytes.length - 4, header)
      back == r
    })
  }

  test("property: SAM line round-trip is identity") {
    checkProp(Prop.forAll(genRecord) { r =>
      val line = graft.sam.SamSpecWriter.toLine(r)
      val back = graft.sam.SamCodec.fromLine(line, header)
      back == r
    })
  }
}
