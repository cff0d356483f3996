package graft.index

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.bam.TestReads

class BaiIndexSpec extends AnyFunSuite with SparkFixture {

  test("reg2bin / reg2bins match the spec hierarchy") {
    assert(BaiIndex.reg2bin(0, 1) == 4681)            // first 16 kbp leaf
    assert(BaiIndex.reg2bin(0, 16384) == 4681)
    assert(BaiIndex.reg2bin(0, 16385) == 585)         // spans two leaves
    assert(BaiIndex.reg2bin(16384, 32768) == 4682)
    assert(BaiIndex.reg2bin(0, 1 << 29) == 0)         // whole axis
    val bins = BaiIndex.reg2bins(100000, 110000)
    assert(bins.contains(0))
    assert(bins.contains(4681 + (100000 >> 14)))
    assert(bins.contains(4681 + (109999 >> 14)))
    // a record's own bin is always among the bins its region queries
    assert(bins.contains(BaiIndex.reg2bin(100000, 110000)))
  }

  test("builder + merge + write + read round-trips and spans cover records") {
    val b = new BaiBuilder
    // fake voffs: record i at block i*1000, intra 0..99
    val recs = (0 until 500).map { i =>
      val start = i * 300
      (0, start, start + 50, (i.toLong * 1000) << 16, ((i.toLong * 1000) << 16) + 80)
    }
    recs.foreach { case (r, s, e, vb, ve) => b.add(r, s, e, vb, ve) }
    b.add(-1, 0, 0, 0L, 0L) // one unplaced record → noCoor
    val idx = BaiPartData.merge(Seq(b.result()), Seq(0L), nRef = 2)
    assert(idx.noCoor == 1)
    val bos = new java.io.ByteArrayOutputStream()
    BaiIndex.write(bos, idx)
    val back = BaiIndex.read(graft.bgzf.SeekableInput.ofBytes(bos.toByteArray))
    assert(back.refs.length == 2)
    assert(back.noCoor == 1)
    // every record overlapping [60000, 62000] must fall inside some span
    val spans = back.spans(0, 60000, 62000)
    assert(spans.nonEmpty)
    recs.filter { case (_, s, e, _, _) => s <= 62000 && e >= 60000 }.foreach {
      case (_, _, _, vb, _) =>
        assert(spans.exists { case (b0, e0) => vb >= b0 && vb < e0 }, s"voff $vb not covered")
    }
    // ref 1 has no records: no spans
    assert(back.spans(1, 0, 1000000).isEmpty)
  }

  test("pseudo-bin stats survive part merge, rebase, write and read") {
    val b1 = new BaiBuilder
    b1.add(0, 100, 150, 0L << 16, (0L << 16) + 40, mapped = true)
    b1.add(0, 400, 450, 1000L << 16, (1000L << 16) + 40, mapped = false)
    b1.add(-1, 0, 0, 0L, 0L) // unplaced
    val b2 = new BaiBuilder
    b2.add(0, 900, 950, 0L << 16, (0L << 16) + 40, mapped = true)
    b2.add(1, 10, 60, 500L << 16, (500L << 16) + 40, mapped = true)
    // part 2 sits 5000 compressed bytes into the concatenated file
    val idx = BaiPartData.merge(Seq(b1.result(), b2.result()), Seq(0L, 5000L), nRef = 3)
    val bos = new java.io.ByteArrayOutputStream()
    BaiIndex.write(bos, idx)
    val back = BaiIndex.read(graft.bgzf.SeekableInput.ofBytes(bos.toByteArray))
    assert(back.refs(0).mapped == 2 && back.refs(0).unmapped == 1)
    assert(back.refs(0).offBeg == (0L << 16))
    assert(back.refs(0).offEnd == (5000L << 16) + 40) // rebased part-2 voff
    assert(back.refs(1).mapped == 1 && back.refs(1).unmapped == 0)
    assert(back.refs(2).mapped == -1, "refs with no records carry no pseudo-bin")
    assert(back.noCoor == 1)
    // stats never leak into the real-bin span machinery
    assert(back.spans(0, 0, 1000000).nonEmpty)
    assert(back.refs(0).binIds.forall(_ != BaiIndex.PseudoBin))
  }

  test("mappedEnd: pseudo-bin off_end when every ref with bins has one, else the largest chunk end") {
    val b = new BaiBuilder
    b.add(0, 100, 150, 10L << 16, (10L << 16) + 40)
    b.add(0, 90000, 90050, 2000L << 16, (2000L << 16) + 77) // far bin, last chunk end
    b.add(1, 10, 60, 3000L << 16, (3000L << 16) + 12)
    b.add(-1, 0, 0, 4000L << 16, (4000L << 16) + 5) // unplaced: past the mapped end
    val idx = BaiPartData.merge(Seq(b.result()), Seq(0L), nRef = 3) // ref 2 is empty
    assert(idx.refs.take(2).forall(_.mapped >= 0) && idx.refs(2).mapped == -1)
    assert(idx.mappedEnd == (3000L << 16) + 12)
    // a ref with bins but no pseudo-bin (e.g. an index written without
    // samtools metadata): the chunks decide
    val bare = idx.copy(refs = idx.refs.updated(0, idx.refs(0).copy(mapped = -1L, offEnd = 0L)))
    assert(bare.mappedEnd == (3000L << 16) + 12)
    val onlyFirst = bare.copy(refs = bare.refs.take(1))
    assert(onlyFirst.mappedEnd == (2000L << 16) + 77)
    // pseudo-bin metadata wins when present everywhere
    val meta = idx.copy(refs = idx.refs.take(1).map(_.copy(offEnd = (2500L << 16) + 1)))
    assert(meta.mappedEnd == (2500L << 16) + 1)
    assert(BaiIndex(IndexedSeq.empty, 0L).mappedEnd == 0L)
  }

  test("bai co-write prunes interval-scan partitions on an indexed BAM, results exact") {
    import spark.implicits._
    val recs = (0 until 4000).map { i =>
      TestReads.pairs(1).head.copy(
        readName = f"r$i%06d", start = 1 + i * 250, end = 1 + i * 250 + 35)
    }
    val dir = Files.createTempDirectory("bai")
    dir.toFile.deleteOnExit()
    val out = dir.resolve("sorted.bam")
    // 4 range-partitioned sorted parts; writeBai only (no .sbi/.gci) so the
    // scan exercises the external-index path, not the sidecar path
    spark.createDataset(recs).toDF()
      .repartitionByRange(4, $"start").sortWithinPartitions($"start")
      .write.format("bam").mode("overwrite")
      .option("refs", "chr20:1000000,chr21:1000135")
      .option("writeBai", "true")
      .save(out.toString)
    assert(Files.exists(dir.resolve("sorted.bam.bai")))
    assert(!Files.exists(dir.resolve("sorted.bam.sbi")))

    val all = spark.read.format("bam").option("splitSize", 2048).load(out.toString)
    val nPartsAll = all.rdd.getNumPartitions
    assert(nPartsAll > 4, s"want many partitions, got $nPartsAll")

    val iv = spark.read.format("bam").option("splitSize", 2048)
      .option("intervals", "chr21:100000-110000").load(out.toString)
    val nPartsIv = iv.rdd.getNumPartitions
    assert(nPartsIv < nPartsAll, s"no pruning: $nPartsIv vs $nPartsAll")
    val want = recs.count(r => r.start <= 110000 && r.end >= 100000)
    assert(iv.count() == want)

    // unmapped tail traversal composes with the index path
    val ivu = spark.read.format("bam").option("splitSize", 2048)
      .option("intervals", "chr21:100000-110000").option("unplacedUnmapped", "true")
      .load(out.toString)
    assert(ivu.count() == want) // no unmapped records in this fixture
  }

  test("bai prunes SBI-planned chunks when the .gci sidecar is absent") {
    import spark.implicits._
    val recs = (0 until 4000).map { i =>
      TestReads.pairs(1).head.copy(
        readName = f"r$i%06d", start = 1 + i * 250, end = 1 + i * 250 + 35)
    }
    val dir = Files.createTempDirectory("baisbi")
    dir.toFile.deleteOnExit()
    val out = dir.resolve("sorted.bam")
    spark.createDataset(recs).toDF()
      .repartitionByRange(4, $"start").sortWithinPartitions($"start")
      .write.format("bam").mode("overwrite")
      .option("refs", "chr20:1000000,chr21:1000135")
      .option("writeSbi", "true").option("sbiGranularity", "50")
      .option("writeBai", "true")
      .save(out.toString)
    Files.delete(dir.resolve("sorted.bam.gci")) // force the .bai fallback
    val all = spark.read.format("bam").option("splitSize", 2048).load(out.toString)
    val nPartsAll = all.rdd.getNumPartitions
    val iv = spark.read.format("bam").option("splitSize", 2048)
      .option("intervals", "chr21:100000-110000").load(out.toString)
    val nPartsIv = iv.rdd.getNumPartitions
    assert(nPartsIv < nPartsAll, s"no pruning: $nPartsIv vs $nPartsAll")
    val want = recs.count(r => r.start <= 110000 && r.end >= 100000)
    assert(iv.count() == want)
  }

  test("unsorted input skips .bai, scan stays exact") {
    import spark.implicits._
    val recs = (0 until 1000).map { i =>
      TestReads.pairs(1).head.copy(
        readName = f"r$i%06d", start = 1 + ((i * 131) % 1000) * 400,
        end = 1 + ((i * 131) % 1000) * 400 + 35)
    }
    val dir = Files.createTempDirectory("bai2")
    dir.toFile.deleteOnExit()
    val out = dir.resolve("unsorted.bam")
    spark.createDataset(recs).toDF().coalesce(1)
      .write.format("bam").mode("overwrite")
      .option("refs", "chr20:1000000,chr21:1000135")
      .option("writeBai", "true")
      .save(out.toString)
    assert(!Files.exists(dir.resolve("unsorted.bam.bai")))
    val iv = spark.read.format("bam").option("splitSize", 2048)
      .option("intervals", "chr21:100000-110000").load(out.toString)
    val want = recs.count(r => r.start <= 110000 && r.end >= 100000)
    assert(iv.count() == want)
  }
}
