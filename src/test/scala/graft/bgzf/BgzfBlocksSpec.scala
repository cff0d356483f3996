package graft.bgzf

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.bam.{BamSpecWriter, TestReads}

class BgzfBlocksSpec extends AnyFunSuite with SparkFixture {

  test("distributed block inventory equals sequential header walk") {
    val recs = TestReads.mixed(1500)
    val dir = Files.createTempDirectory("blocks")
    dir.toFile.deleteOnExit()
    val bam = dir.resolve("b.bam")
    BamSpecWriter.writeFile(bam, TestReads.header, recs.iterator)
    val bytes = Files.readAllBytes(bam)
    // sequential truth
    val truth = Seq.newBuilder[(Long, Int)]
    var off = 0
    while (off < bytes.length) {
      val len = Bgzf.parseBlockLength(bytes, off, bytes.length - off)
      assert(len > 0)
      truth += ((off.toLong, len))
      off += len
    }
    val want = truth.result()
    for (splitSize <- Seq(4096L, 64L * 1024 * 1024)) {
      val got = BgzfBlocks.scan(spark, bam.toString, splitSize)
        .collect().map(r => (r.getLong(1), r.getInt(2))).sortBy(_._1).toSeq
      assert(got == want, s"splitSize=$splitSize")
    }
  }
}
