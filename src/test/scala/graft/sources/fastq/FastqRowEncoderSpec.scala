package graft.sources.fastq

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.fastq.{FastqRowEncoder, FastqSpecWriter}

/** Byte-identity proof for the direct FASTQ row encoder against the object
  * path (`FastqSpecWriter.toLines(FastqSpecWriter.convert(row, idx), sb)`).
  */
class FastqRowEncoderSpec extends AnyFunSuite {
  private val schema = StructType(Seq(
    StructField("readName", StringType), StructField("comment", StringType),
    StructField("seq", StringType), StructField("qual", StringType)))
  private val idx = RowToFastq.indices(schema)

  private def u(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)

  private def row(name: String, comment: String, seq: String, qual: String) =
    new GenericInternalRow(Array[Any](u(name), u(comment), u(seq), u(qual)))

  private def assertIdentical(r: GenericInternalRow, clue: String): Unit = {
    val enc = new FastqRowEncoder(idx)
    val len = enc.encode(r)
    val fast = java.util.Arrays.copyOf(enc.buf, len)
    val sb = new StringBuilder
    FastqSpecWriter.toLines(FastqSpecWriter.convert(r, idx), sb)
    val spec = sb.toString.getBytes("UTF-8")
    assert(fast.sameElements(spec), s"$clue: ${new String(fast, "UTF-8")} vs ${sb.toString}")
  }

  test("shapes: comment present/empty/null, unicode text passes through") {
    assertIdentical(row("r1", "len=5", "ACGTA", "IIIII"), "with comment")
    assertIdentical(row("r2", null, "ACGT", "IIII"), "null comment")
    assertIdentical(row("r3", "", "A", "I"), "empty comment")
    assertIdentical(row("rñ", "cømment", "ACGT", "IIII"), "non-ASCII")
    val rnd = new scala.util.Random(3)
    for (i <- 0 until 500) {
      val n = 1 + rnd.nextInt(80)
      assertIdentical(row(s"read-$i/1", if (rnd.nextBoolean()) s"c$i" else null,
        "ACGTN" * 16 take n, "JIHG" * 20 take n), s"sweep $i")
    }
  }

  test("null mandatory fields fail like the spec path") {
    val enc = new FastqRowEncoder(idx)
    intercept[NullPointerException](enc.encode(row(null, null, "A", "I")))
    intercept[NullPointerException](enc.encode(row("r", null, null, "I")))
  }
}
