package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Manual probe: what does the single-file sink's part merge cost on this
  * host? (Not a correctness gate — prints timings.)
  */
class MergePartsBench extends AnyFunSuite {
  test("merge 32 x 1MB parts, local fs") {
    val conf = new Configuration()
    val base = java.nio.file.Files.createTempDirectory("merge-bench").toFile
    val tempDir = new java.io.File(base, "out.bam.parts")
    tempDir.mkdirs()
    val rnd = new java.util.Random(1)
    val block = new Array[Byte](1 << 20)
    for (i <- 0 until 32) {
      rnd.nextBytes(block)
      val f = new java.io.FileOutputStream(new java.io.File(tempDir, f"part-$i%09d"))
      f.write(block); f.close()
    }
    for (round <- 0 until 3) {
      val t0 = System.nanoTime()
      val parts = (0 until 32).map(i => new Path(tempDir.getAbsolutePath, f"part-$i%09d"))
      HadoopIO.mergeParts(parts, new Path(base.getAbsolutePath, "out.bam"), conf)
      println(f"[merge-bench] round $round: ${(System.nanoTime() - t0) / 1e6}%.1f ms")
      // recreate parts for next round
      tempDir.mkdirs()
      for (i <- 0 until 32) {
        rnd.nextBytes(block)
        val f = new java.io.FileOutputStream(new java.io.File(tempDir, f"part-$i%09d"))
        f.write(block); f.close()
      }
    }
  }
}
