package graft.sources.bam

import java.nio.file.{Files, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.bam._
import graft.bgzf.{Bgzf, SeekableInput}
import graft.index.{BaiIndex, SbiIndex}
import graft.sources.{GenomicInterval, PlanMetrics, ReadContext, SerializableConf, Stringency}

/** Exactness of interval planning over every index route: a `.bai` (exact
  * virtual-offset spans, cut at `.sbi` or linear-index record starts), a
  * sorted `.gci` with no `.bai` (matching sampled windows), and no index at
  * all (whole-file plan, reader-side filter). Each planned partition is read
  * directly, so a record owned by two partitions or by none fails the row
  * multiset check against a brute-force filter over a full scan.
  */
class BamIntervalPlanSpec extends AnyFunSuite with SparkFixture with AdaptiveSparkPlanHelper {

  private val refsOpt = "c1:600000,c2:300000,c3:150000"
  private val refs = SamHeader.parseRefsOption(refsOpt)

  private def read(name: String, flags: Int, contig: String, start: Int, cigar: String,
                   refLen: Int, seqLen: Int, rnd: scala.util.Random): AlignmentRecord =
    AlignmentRecord(name, flags, contig, start, if (refLen > 0) start + refLen - 1 else 0, 60, cigar,
      null, 0, 0, Seq.fill(seqLen)("ACGT"(rnd.nextInt(4))).mkString, "I" * seqLen, Map("RG" -> "Z:rg1"))

  /** Seeded, coordinate-sorted reads on three contigs: leading, middle and
    * trailing coverage gaps, reads across 16 kb and 128 kb bin edges, long
    * and spliced reads, adjacent same-name pairs, placed-unmapped mates and
    * an unplaced-unmapped tail.
    */
  private lazy val records: Seq[AlignmentRecord] = {
    val rnd = new scala.util.Random(20261017L)
    val out = Seq.newBuilder[AlignmentRecord]
    refs.foreach { ref =>
      val (c, len) = (ref.name, ref.length)
      val (covBeg, covEnd) = (20000, len - 30000)
      val (gapBeg, gapEnd) = (len / 2, len / 2 + 40000)
      var p = covBeg
      var i = 0
      while (p < covEnd) {
        if (p < gapBeg || p >= gapEnd) {
          out += read(s"$c-r$i", if (rnd.nextBoolean()) 16 else 0, c, p, "50M", 50, 50, rnd)
          if (i % 97 == 0) // adjacent same-name pair
            Seq(0x41, 0x81).foreach(f => out += read(s"$c-t$i", f | 0x2, c, p, "50M", 50, 50, rnd))
          if (i % 131 == 0) // placed-unmapped mate
            out += read(s"$c-u$i", 0x4 | 0x1, c, p, "*", 0, 50, rnd)
        }
        p += 40 + rnd.nextInt(120)
        i += 1
      }
      (16384 until covEnd by 16384).filter(_ > covBeg).foreach { e =>
        out += read(s"$c-e16-$e", 0, c, e - 25, "50M", 50, 50, rnd)
      }
      (131072 until covEnd by 131072).filter(_ > covBeg).foreach { e =>
        out += read(s"$c-e128-$e", 0, c, e - 150, "300M", 300, 300, rnd)
      }
      (0 until 3).foreach { k =>
        val s = covBeg + rnd.nextInt(covEnd - covBeg - 50000)
        out += read(s"$c-splice$k", 0, c, s, "25M40000N25M", 40050, 50, rnd)
        out += read(s"$c-long$k", 0, c, s + 7, "3000M", 3000, 3000, rnd)
      }
    }
    (0 until 25).foreach { k =>
      out += read(s"unplaced$k", 0x4, null, 0, "*", 0, 50, rnd)
    }
    val order = refs.map(_.name).zipWithIndex.toMap
    out.result().sortBy(r => (order.getOrElse(r.contig, Int.MaxValue), r.start))
  }

  private val sidecarSets: Seq[Set[String]] =
    Seq(Set(), Set(".bai"), Set(".sbi", ".bai"), Set(".sbi", ".gci"), Set(".sbi", ".gci", ".bai"))

  /** One directory per sidecar set, each holding a copy of one written BAM
    * (data copied before its sidecars, so a copied `.bai` stays fresh).
    */
  private lazy val fixtures: Map[Set[String], String] = {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("ivplan")
    dir.toFile.deleteOnExit()
    val src = dir.resolve("src.bam")
    spark.sparkContext.parallelize(records, 3).toDS().toDF()
      .write.format("bam").mode("overwrite").option("refs", refsOpt)
      .option("writeSbi", "true").option("sbiGranularity", "64").option("writeBai", "true")
      .save(src.toString)
    sidecarSets.map { set =>
      val d = Files.createDirectory(dir.resolve(if (set.isEmpty) "none" else set.toSeq.sorted.mkString))
      val bam = d.resolve("t.bam")
      Files.copy(src, bam)
      set.foreach(ext => Files.copy(Path.of(src.toString + ext), Path.of(bam.toString + ext)))
      set -> bam.toString
    }.toMap
  }

  private type Row = (String, Int, String, Int)
  private case class Full(row: Row, end: Int)

  /** Every record of the file, from an unfiltered scan. */
  private lazy val fullScan: Seq[Full] =
    spark.read.format("bam").load(fixtures(Set())).collect().toSeq.map { r =>
      Full((r.getString(0), r.getInt(1), r.getString(2), r.getInt(3)), r.getInt(4))
    }

  /** The reader's residual rule, applied to the full scan. */
  private def bruteForce(ivs: Seq[GenomicInterval], unplaced: Boolean): Seq[Row] =
    fullScan.filter { case Full((_, flags, contig, start), end) =>
      (unplaced && (flags & 0x4) != 0 && start == 0) ||
        ivs.exists(_.overlaps(contig, start, math.max(end, start)))
    }.map(_.row)

  private def scan(path: String, opts: Map[String, String]): BamScan =
    new BamScan(opts + ("path" -> path), AlignmentRecord.schema, Array.empty)

  private def readAll(p: BamInputPartition): Seq[(Row, InternalRow)] = {
    val conf = new SerializableConf(spark.sessionState.newHadoopConf())
    val r = new BamPartitionReaderFactory(ReadContext(conf, Stringency.Strict, -1), AlignmentRecord.schema)
      .createReader(p)
    try Iterator.continually(r).takeWhile(_.next()).map(_.get()).map { row =>
      val contig = if (row.isNullAt(2)) null else row.getUTF8String(2).toString
      ((row.getUTF8String(0).toString, row.getInt(1), contig, row.getInt(3)), row.copy())
    }.toVector
    finally r.close()
  }

  private def multiset(rows: Seq[Row]): Map[Row, Int] = rows.groupBy(identity).map { case (k, v) => k -> v.size }

  /** Seeded lists plus fixed edge cases: nearby intervals sharing one 16 kb
    * window, several contigs at once, contig edges, past the contig end,
    * gap-only, a 128 kb bin edge and a wide multi-block interval.
    */
  private val intervalLists: Seq[String] = {
    val rnd = new scala.util.Random(11L)
    val seeded = (0 until 3).map { _ =>
      (0 until 1 + rnd.nextInt(4)).map { _ =>
        val ref = refs(rnd.nextInt(refs.length))
        val s = 1 + rnd.nextInt(ref.length)
        s"${ref.name}:$s-${s + rnd.nextInt(150000)}"
      }.mkString(",")
    }
    seeded ++ Seq(
      "c1:50001-50100,c1:50300-50400",
      "c1:100000-101000,c2:200000-210000,c3:60000-61000",
      "c1:1-20000,c2:290000-300000,c3:1-1",
      "c3:150001-400000,c2:260000-900000",
      "c2:1-15000,c2:150000-180000",
      "c1:131000-131200",
      "c1:20000-400000")
  }

  test("interval plans over every index route return exactly the overlapping records") {
    val cases = for {
      set <- sidecarSets
      split <- Seq(Some("2048"), None)
      ivs <- intervalLists.map(Some(_)) :+ None
      unplaced <- Seq(false, true)
      if ivs.isDefined || unplaced // unplacedUnmapped alone reads just the tail
    } yield (set, split, ivs, unplaced)
    var cutSpans = Set.empty[Set[String]]
    cases.foreach { case (set, split, ivs, unplaced) =>
      val opts = Map.empty[String, String] ++ split.map("splitsize" -> _) ++ ivs.map("intervals" -> _) ++
        (if (unplaced) Map("unplacedunmapped" -> "true") else Map.empty)
      val what = s"sidecars=${set.mkString(",")} $opts"
      val path = fixtures(set)
      val parts = scan(path, opts).planInputPartitions().map(_.asInstanceOf[BamInputPartition])
      val got = parts.toSeq.flatMap(p => readAll(p).map(_._1))
      val want = bruteForce(ivs.toSeq.flatMap(GenomicInterval.parseList), unplaced)
      assert(got.size == want.size && multiset(got) == multiset(want),
        s"$what: ${got.size} rows, want ${want.size}; missing ${multiset(want).keySet -- multiset(got).keySet}")
      if (set.contains(".bai")) {
        val bai = BaiIndex.read(SeekableInput.ofFile(Path.of(path + ".bai")))
        val ivList = GenomicInterval.optimize(ivs.toSeq.flatMap(GenomicInterval.parseList))
        val spans = ivList.flatMap { iv =>
          refs.indexWhere(_.name == iv.contig) match {
            case -1 => Nil
            case r => bai.spans(r, iv.start - 1, math.min(iv.end, BaiIndex.MaxPos) - 1)
          }
        }
        val size = Files.size(Path.of(path))
        val tail = if (!unplaced) Nil else
          Seq((math.max(parts.headOption.fold(0L)(_.headerEndVoff), bai.mappedEnd), size << 16))
        val merged = BaiIndex.mergeSpans((spans ++ tail).filter(s => s._1 < s._2))
        parts.foreach { p =>
          assert(p.chunkStartVoff >= 0, s"$what: partition without an exact chunk: $p")
          assert(merged.exists { case (b, e) => b <= p.chunkStartVoff && p.chunkEndVoff <= e },
            s"$what: [${p.chunkStartVoff}, ${p.chunkEndVoff}) lies in no merged span of $merged")
        }
        if (parts.length > merged.length) cutSpans += set
      }
    }
    // long spans were cut at .sbi offsets and at linear-index entries
    assert(cutSpans.contains(Set(".sbi", ".bai")) && cutSpans.contains(Set(".bai")), s"cut: $cutSpans")
  }

  test("the .gci route narrows to sampled windows, not whole splits") {
    val path = fixtures(Set(".sbi", ".gci"))
    val gci = graft.index.GciIndex.read(SeekableInput.ofFile(Path.of(path + ".gci")))
    def windows(opts: Map[String, String]): Seq[Int] =
      scan(path, opts + ("splitsize" -> "65536")).planInputPartitions().toSeq.map {
        case p: BamInputPartition => gci.voffs.count(v => v >= p.chunkStartVoff && v < p.chunkEndVoff)
      }
    val whole = windows(Map.empty)
    val narrowed = windows(Map("intervals" -> "c1:50001-50100"))
    assert(whole.length > 2 && narrowed.nonEmpty)
    assert(narrowed.sum < whole.sum / whole.length / 2, s"windows $narrowed vs splits of $whole")
  }

  test("keepPairsTogether interval plans stay exact and keep same-name runs in one partition") {
    val ivs = "c1:20000-400000,c2:100000-250000"
    val opts = Map("splitsize" -> "2048", "intervals" -> ivs, "keeppairstogether" -> "true")
    def plan(o: Map[String, String]): Seq[BamInputPartition] =
      scan(fixtures(Set(".sbi", ".gci", ".bai")), o).planInputPartitions().toSeq
        .map(_.asInstanceOf[BamInputPartition])
    val parts = plan(opts)
    // long spans are cut exactly as without keepPairsTogether
    assert(parts.map(p => (p.chunkStartVoff, p.chunkEndVoff)) ==
      plan(opts - "keeppairstogether").map(p => (p.chunkStartVoff, p.chunkEndVoff)))
    parts.foreach(p => assert(p.pairSpan.exists { case (b, e) => b <= p.chunkStartVoff && p.chunkEndVoff <= e }))
    assert(parts.length > parts.flatMap(_.pairSpan).distinct.length, "no span was cut")
    val perPart = parts.toSeq.map(p => readAll(p).map(_._1))
    val got = perPart.flatten
    val want = bruteForce(GenomicInterval.parseList(ivs), unplaced = false)
    assert(got.size == want.size && multiset(got) == multiset(want))
    val names = perPart.map(_.map(_._1).toSet)
    val twins = want.map(_._1).filter(_.contains("-t")).distinct
    assert(twins.nonEmpty)
    twins.foreach(n => assert(names.count(_.contains(n)) == 1, s"$n split across partitions"))
  }

  test("keepPairsTogether hands a name-run over between pieces of one span, never past its end") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("ivpairs")
    dir.toFile.deleteOnExit()
    val path = dir.resolve("g1.bam").toString
    spark.sparkContext.parallelize(records, 3).toDS().toDF()
      .write.format("bam").mode("overwrite").option("refs", refsOpt)
      .option("writeSbi", "true").option("sbiGranularity", "1").save(path)
    // granularity 1: one offset per record, in file order, then the data end
    val voffs = SbiIndex.read(SeekableInput.ofFile(Path.of(path + ".sbi"))).offsets
    val names = spark.read.format("bam").load(path).collect().map(_.getString(0))
    assert(voffs.length == names.length + 1)
    // k: the second record of a same-name pair
    val k = (10 until names.length - 10).find(i => names(i) == names(i - 1)).get
    val proto = scan(path, Map.empty).planInputPartitions().head.asInstanceOf[BamInputPartition]
    def piece(b: Int, e: Int, span: (Int, Int)): Seq[String] =
      readAll(proto.copy(splitStart = Bgzf.blockStart(voffs(b)), splitEnd = Bgzf.blockStart(voffs(e)) + 1,
        chunkStartVoff = voffs(b), chunkEndVoff = voffs(e), pairAware = true,
        pairSpan = Some((voffs(span._1), voffs(span._2))))).map(_._1._1)
    val span = (k - 5, k + 5)
    // a cut inside the run: the first piece finishes it, the second skips it
    assert(piece(k - 5, k, span) == names.slice(k - 5, k + 1).toSeq)
    assert(piece(k, k + 5, span) == names.slice(k + 1, k + 5).toSeq)
    // at a span's edges: no run extension past its end, no skip at its start
    assert(piece(k - 5, k, (k - 5, k)) == names.slice(k - 5, k).toSeq)
    assert(piece(k, k + 5, (k, k + 5)) == names.slice(k, k + 5).toSeq)
  }

  test("filter-derived intervals take the index route; scan metrics report the plan exactly") {
    val s = spark
    import s.implicits._
    val path = fixtures(Set(".bai"))
    // runs the very plan instance whose metrics are read (an action on the
    // Dataset may execute a fresh copy of it)
    def scanExec(df: org.apache.spark.sql.DataFrame): BatchScanExec = {
      val plan = df.queryExecution.executedPlan
      plan.executeCollect()
      collect(plan) { case b: BatchScanExec => b }.head
    }
    def metrics(b: BatchScanExec): Map[String, Long] =
      Seq(PlanMetrics.Partitions, PlanMetrics.Bytes, PlanMetrics.IndexSpanBytes).map(n => n -> b.metrics(n).value).toMap
    val size = Files.size(Path.of(path))

    // SQL coordinate predicates: exact rows, planned through the .bai
    val df = spark.read.format("bam").option("splitSize", 2048).load(path)
      .filter($"contig" === "c2" && $"start" >= 100000 && $"start" <= 160000)
    val rows = df.collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getInt(3))).toSeq
    val want = fullScan.map(_.row).filter { case (_, _, c, st) => c == "c2" && st >= 100000 && st <= 160000 }
    assert(multiset(rows) == multiset(want))
    val m = metrics(scanExec(df))
    assert(m(PlanMetrics.IndexSpanBytes) > 0 && m(PlanMetrics.Bytes) < size / 4, s"$m")

    // exact values on an explicit interval list
    val ivs = "c1:50001-50100,c1:50300-50400,c2:100000-160000"
    val opts = Map("splitsize" -> "2048", "intervals" -> ivs)
    val parts = scan(path, opts).planInputPartitions().map(_.asInstanceOf[BamInputPartition])
    val bai = BaiIndex.read(SeekableInput.ofFile(Path.of(path + ".bai")))
    // a span counts from its first block through the first byte of its end block
    val spanBytes = GenomicInterval.parseList(ivs).flatMap { iv =>
      bai.spans(refs.indexWhere(_.name == iv.contig), iv.start - 1, iv.end - 1)
    }.map { case (b, e) => math.min(size, Bgzf.blockStart(e) + 1) - Bgzf.blockStart(b) }.sum
    val got = metrics(scanExec(spark.read.format("bam").option("splitSize", 2048)
      .option("intervals", ivs).load(path)))
    assert(got == Map(
      PlanMetrics.Partitions -> parts.length.toLong,
      PlanMetrics.Bytes -> parts.map(p => p.splitEnd - p.splitStart).sum,
      PlanMetrics.IndexSpanBytes -> spanBytes))

    // no intervals: the heuristic plan tiles the whole file, no index spans
    val nAll = scan(path, Map("splitsize" -> "2048")).planInputPartitions().length
    assert(metrics(scanExec(spark.read.format("bam").option("splitSize", 2048).load(path))) == Map(
      PlanMetrics.Partitions -> nAll.toLong, PlanMetrics.Bytes -> size, PlanMetrics.IndexSpanBytes -> 0L))
  }
}
