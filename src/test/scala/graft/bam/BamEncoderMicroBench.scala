package graft.bam

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.cram.RowToRecord

/** Throughput sanity for the direct encoder vs the object path — not a
  * correctness gate (times printed, no assertion on them): run manually with
  * `testOnly graft.bam.BamEncoderMicroBench -- -z micro`.
  */
class BamEncoderMicroBench extends AnyFunSuite {
  private val header = SamHeader((0 until 24).map(i => BamRef(s"chr$i", 1000000)).toIndexedSeq)
  private val schema = AlignmentRecord.schema
  private val idx = RowToRecord.indices(schema)

  private def u(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)

  test("micro: bam2fq-shaped rows, old vs new encode CPU") {
    val n = 200000
    val rows = (0 until n).map { i =>
      val len = 20 + i % 31
      new GenericInternalRow(Array[Any](
        u(s"b$i-${i % 7}"), 0, u(s"chr${i % 24}"), (i * 37) % 999000 + 1,
        (i * 37) % 999000 + len, 60, u(s"${len}M"), null, 0, 0,
        u("ACGT" * 16 take len), u(("IJKLMNOP@+FGH" * 5).substring(i % 7, i % 7 + len)),
        new ArrayBasedMapData(new GenericArrayData(Array.empty[Any]),
          new GenericArrayData(Array.empty[Any]))))
    }.toArray
    def timeIt(tag: String)(f: => Long): Unit = {
      (0 until 2).foreach(_ => f) // warm
      val t0 = System.nanoTime()
      val acc = f
      println(f"$tag: ${(System.nanoTime() - t0) / 1e6}%.1f ms (acc $acc)")
    }
    val enc = new BamRowEncoder(schema, header)
    timeIt("new-direct") {
      var acc = 0L; var i = 0
      while (i < n) { val l = enc.encode(rows(i)); acc += l + enc.buf(l - 1); i += 1 }
      acc
    }
    timeIt("old-object") {
      var acc = 0L; var i = 0
      while (i < n) {
        val b = BamSpecWriter.encodeRecord(RowToRecord.convert(rows(i), idx), header)
        acc += b.length + b(b.length - 1)
        i += 1
      }
      acc
    }
  }
}
