package graft.vcf

import org.scalatest.funsuite.AnyFunSuite

/** Attribution of the VCF sink's write cost (round-10 verdict follow-up):
  * after the per-block Deflater allocation was removed, what remains is
  * row→text ENCODE (Variant → tab line) vs BGZF DEFLATE. This spec times
  * the two phases on the same 100k-site 12-genotype batch and prints the
  * split; the assertions pin only the stable facts (both phases complete,
  * deflate at level 1 is not slower than level 6 on this data).
  */
class VcfWriteCostSpec extends AnyFunSuite {

  private def mkVariants(n: Int, width: Int): IndexedSeq[Variant] =
    (0 until n).map { i =>
      Variant(
        contig = "chr" + (i % 24),
        start = (i * 37) % 999000 + 1,
        end = (i * 37) % 999000 + 1,
        id = null, ref = "A", alt = Seq("G"),
        qual = 30.0, filters = Seq("PASS"), info = Map.empty,
        genotypes = (1 to width).map { j =>
          Genotype(f"s$j%02d", if ((i + j) % 24 < 21) "0/0" else if ((i + j) % 24 < 23) "0/1" else "1/1", Map.empty)
        })
    }

  /** OutputStream that counts and discards — isolates CPU from disk. */
  private final class NullOut extends java.io.OutputStream {
    var n = 0L
    override def write(b: Int): Unit = n += 1
    override def write(b: Array[Byte], off: Int, len: Int): Unit = n += len
  }

  test("write-cost attribution: encode vs deflate (printed split)") {
    val vs = mkVariants(100000, 12)
    // warm-up both paths (JIT)
    vs.take(5000).foreach(v => VcfSpecWriter.toLine(v))
    def timeEncode(): (Double, Long) = {
      val t0 = System.nanoTime()
      var bytes = 0L
      vs.foreach { v => bytes += VcfSpecWriter.toLine(v).getBytes("UTF-8").length + 1 }
      ((System.nanoTime() - t0) / 1e9, bytes)
    }
    val (encS, totalBytes) = timeEncode()
    // pre-encode once so the deflate phase times ONLY compression
    val blob = {
      val bos = new java.io.ByteArrayOutputStream(totalBytes.toInt + 16)
      vs.foreach { v => bos.write(VcfSpecWriter.toLine(v).getBytes("UTF-8")); bos.write('\n') }
      bos.toByteArray
    }
    def timeDeflate(level: Int): Double = {
      val sink = new NullOut
      val out = new graft.bgzf.BgzfOutputStream(sink, writeEof = true, level = level)
      val t0 = System.nanoTime()
      out.write(blob); out.close()
      (System.nanoTime() - t0) / 1e9
    }
    val defS6 = timeDeflate(6)
    val defS1 = timeDeflate(1)
    info(f"encode ${encS}%.3f s (${blob.length / encS / 1e6}%.0f MB/s) vs " +
      f"deflate-6 ${defS6}%.3f s (${blob.length / defS6 / 1e6}%.0f MB/s), " +
      f"deflate-1 ${defS1}%.3f s (${blob.length / defS1 / 1e6}%.0f MB/s) on ${blob.length / 1048576} MiB")
    println(f"[vcf-write-cost] encode=${encS}%.3f s deflate6=${defS6}%.3f s deflate1=${defS1}%.3f s bytes=${blob.length}")
    assert(blob.length > 0 && encS > 0 && defS6 > 0)
    assert(defS1 <= defS6 * 1.25, "level 1 must not be slower than level 6")
  }
}
