package graft.sam

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.bam.AlignmentRecord
import graft.sources.cram.RowToRecord

/** Byte-identity proof for the direct SAM row→line encoder against the
  * object path (`SamSpecWriter.toLine(RowToRecord.convert(row, idx)) + "\n"`).
  */
class SamRowEncoderSpec extends AnyFunSuite {
  private val schema = AlignmentRecord.schema
  private val idx = RowToRecord.indices(schema)

  private def u(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)

  private def row(readName: String, flags: Int, contig: String, start: Int, end: Int,
                  mapq: Int, cigar: String, mateContig: String, mateStart: Int, tlen: Int,
                  seq: String, qual: String, attrs: Seq[(String, String)]): GenericInternalRow =
    new GenericInternalRow(Array[Any](u(readName), flags, u(contig), start, end, mapq,
      u(cigar), u(mateContig), mateStart, tlen, u(seq), u(qual),
      if (attrs == null) null
      else new ArrayBasedMapData(
        new GenericArrayData(attrs.map(p => u(p._1)).toArray[Any]),
        new GenericArrayData(attrs.map(p => u(p._2)).toArray[Any]))))

  private def assertIdentical(r: GenericInternalRow, clue: String): Unit = {
    val enc = new SamRowEncoder(schema)
    val len = enc.encode(r)
    val fast = java.util.Arrays.copyOf(enc.buf, len)
    val spec = (SamSpecWriter.toLine(RowToRecord.convert(r, idx)) + "\n").getBytes("UTF-8")
    assert(fast.sameElements(spec),
      s"$clue:\n fast: ${new String(fast, "UTF-8")} spec: ${new String(spec, "UTF-8")}")
  }

  test("production sweep is byte-identical") {
    val rnd = new scala.util.Random(11)
    val contigs = Array("chr0", "chr1", "chr2", null)
    for (i <- 0 until 1500) {
      val len = 10 + rnd.nextInt(40)
      val c = contigs(rnd.nextInt(4))
      val mc = contigs(rnd.nextInt(4))
      assertIdentical(row(s"r$i", rnd.nextInt(4096), c, rnd.nextInt(100000), 0,
        rnd.nextInt(255), if (rnd.nextInt(5) == 0) null else s"${len}M", mc,
        rnd.nextInt(1000), rnd.nextInt(2001) - 1000,
        "ACGT" * 16 take len, "I" * len,
        rnd.nextInt(3) match {
          case 0 => Nil
          case 1 => Seq("XO" -> s"i:${rnd.nextInt(100)}")
          case _ => Seq("ZZ" -> "Z:tail", "AA" -> "Z:head", "NM" -> s"i:${rnd.nextInt(9)}")
        }), s"sweep $i")
    }
  }

  test("mate '=' substitution and sentinels") {
    assertIdentical(row("r", 0, "chr1", 5, 0, 60, "3M", "chr1", 5, 0, "ACG", "III", Nil), "mate eq")
    assertIdentical(row("r", 0, "chr1", 5, 0, 60, "3M", "chr2", 5, 0, "ACG", "III", Nil), "mate ne")
    assertIdentical(row(null, 0, null, 0, 0, 0, null, null, 0, 0, null, null, null), "all null")
    assertIdentical(row("r", 0, null, 0, 0, 0, null, "chr1", 0, 0, null, null, Nil), "null contig, mate set")
  }

  test("dup keys last-wins; non-ASCII falls back identically") {
    assertIdentical(row("r", 0, "chr1", 5, 0, 60, "3M", null, 0, 0, "ACG", "III",
      Seq("NM" -> "i:1", "NM" -> "i:9")), "dup keys")
    assertIdentical(row("r", 0, "chr1", 5, 0, 60, "3M", null, 0, 0, "ACG", "III",
      Seq("XN" -> "Z:vàl")), "non-ASCII value")
  }

  test("malformed UTF-8 in mandatory fields falls back identically") {
    val bad = UTF8String.fromBytes(Array[Byte]('r', 0xff.toByte, 0xc3.toByte))
    // readName, contig (+ equal mate contig), cigar, seq, qual
    for ((fields, clue) <- Seq(Seq(0) -> "name", Seq(2, 7) -> "contig", Seq(6) -> "cigar",
                               Seq(10) -> "seq", Seq(11) -> "qual")) {
      val r = row("r", 0, "chr1", 5, 0, 60, "3M", null, 0, 0, "ACG", "III", Nil)
      fields.foreach(r.update(_, bad))
      assertIdentical(r, s"malformed $clue")
    }
  }
}
