package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.bam.TestReads

/** `.option("deriveIndex", true)`: the first unindexed query runs the
  * discovery the readers would do anyway as one distributed pass, writes
  * the sidecar back, and every later query plans through the indexed
  * route — asserted here via partition types/fields on a second scan.
  */
class DeriveIndexSpec extends AnyFunSuite with SparkFixture {

  private def tmpDir(): java.nio.file.Path = {
    val d = Files.createTempDirectory("derive")
    d.toFile.deleteOnExit()
    d
  }

  private val refsOpt = "chr20:1000000,chr21:2000135"

  /** A sink-written BAM of `recs` with no sidecars. */
  private def writeBam(out: java.nio.file.Path, recs: Seq[graft.bam.AlignmentRecord]): Unit = {
    val s = spark
    import s.implicits._
    spark.createDataset(recs).toDF()
      .write.format("bam").mode("overwrite").option("refs", refsOpt).save(out.toString)
    assert(!Files.exists(java.nio.file.Paths.get(out.toString + ".sbi")))
  }

  private def readSbi(bam: java.nio.file.Path): graft.index.SbiIndex =
    graft.index.SbiIndex.read(graft.bgzf.SeekableInput.ofBytes(
      Files.readAllBytes(java.nio.file.Paths.get(bam.toString + ".sbi"))))

  /** Reads `bam` once with deriveIndex at a small split size. */
  private def derive(bam: java.nio.file.Path, cols: String*): Unit =
    spark.read.format("bam").option("splitSize", 4096).option("deriveIndex", "true")
      .load(bam.toString).selectExpr(cols: _*).collect()

  /** The executed plan of a plain COUNT(*) over `bam`. */
  private def countPlan(bam: java.nio.file.Path): String =
    spark.read.format("bam").load(bam.toString).groupBy().count().queryExecution.executedPlan.toString

  /** `bam`'s BGZF payload inflated, edited, and re-deflated into `out`. */
  private def rewriteBam(bam: java.nio.file.Path, out: java.nio.file.Path)(edit: Array[Byte] => Unit): Unit = {
    val in = new graft.bgzf.BgzfInputStream(graft.bgzf.SeekableInput.ofBytes(Files.readAllBytes(bam)))
    val raw = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](65536)
    var n = in.read(buf, 0, buf.length)
    while (n >= 0) { raw.write(buf, 0, n); n = in.read(buf, 0, buf.length) }
    val bytes = raw.toByteArray
    edit(bytes)
    val o = new graft.bgzf.BgzfOutputStream(Files.newOutputStream(out))
    o.write(bytes); o.close()
  }

  private def le32(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)

  test("BAM: COUNT(*) after derivation is the exact record count") {
    val dir = tmpDir()
    val out = dir.resolve("c.bam")
    writeBam(out, TestReads.mixed(800)) // 1,602 records
    derive(out, "readName")
    assert(readSbi(out).totalRecords == 1602)
    assert(countPlan(out).contains("indexCount=1602"))
    val df = spark.read.format("bam").load(out.toString)
    assert(df.count() == 1602)
    assert(df.collect().length == 1602)
  }

  test("BAM: a file without the EOF block derives an .sbi the stale guard accepts") {
    val dir = tmpDir()
    val full = dir.resolve("full.bam")
    writeBam(full, TestReads.mixed(800))
    val bytes = Files.readAllBytes(full)
    val eof = graft.bgzf.Bgzf.EofBlock
    assert(bytes.takeRight(eof.length).sameElements(eof))
    val out = dir.resolve("noeof.bam")
    Files.write(out, bytes.dropRight(eof.length))
    val base = spark.read.format("bam").option("splitSize", 4096).load(out.toString).collect().map(_.toSeq)
    derive(out, "readName")
    val sbi = readSbi(out)
    assert(sbi.fileLength == Files.size(out) && sbi.totalRecords == 1602)
    assert(sbi.offsets.last == Files.size(out) << 16, "sentinel past the last record")
    val parts = new graft.sources.bam.BamScan(Map("path" -> out.toString, "splitsize" -> "4096"),
      graft.bam.AlignmentRecord.schema, Array.empty).planInputPartitions()
    assert(parts.forall(_.asInstanceOf[graft.sources.bam.BamInputPartition].chunkStartVoff >= 0),
      "the stale guard rejected the derived .sbi")
    val again = spark.read.format("bam").option("splitSize", 4096).load(out.toString).collect().map(_.toSeq)
    assert(again.toSeq == base.toSeq)
  }

  test("BAM: a corrupt mid-file record derives no record count and no .gci") {
    val dir = tmpDir()
    val good = dir.resolve("good.bam")
    writeBam(good, TestReads.mixed(800))
    val out = dir.resolve("bad.bam")
    rewriteBam(good, out) { b =>
      // header: magic, l_text, text, n_ref, refs (l_name, name, l_ref)
      var p = 8 + le32(b, 4)
      val nRef = le32(b, p); p += 4
      (0 until nRef).foreach(_ => p += 4 + le32(b, p) + 4)
      // record 800: give its first cigar op the undefined code 9
      (0 until 800).foreach(_ => p += 4 + le32(b, p))
      assert(le32(b, p + 4) >= 0 && ((b(p + 16) & 0xff) | ((b(p + 17) & 0xff) << 8)) > 0, "want a mapped record")
      val cigar = p + 4 + 32 + (b(p + 12) & 0xff)
      b(cigar) = ((b(cigar) & 0xf0) | 9).toByte
    }
    derive(out, "readName")
    assert(Files.exists(dir.resolve("bad.bam.sbi")))
    assert(readSbi(out).totalRecords == -1)
    assert(!Files.exists(dir.resolve("bad.bam.gci")))
    assert(!countPlan(out).contains("indexCount"))
    // the record still frames, so a scan that does not decode its cigar counts it
    assert(spark.read.format("bam").load(out.toString).count() == 1602)
  }

  test("BAM: first deriveIndex read writes .sbi; second scan plans the SBI route") {
    val s = spark
    import s.implicits._
    val dir = tmpDir()
    val out = dir.resolve("t.bam")
    val recs = TestReads.mixed(800)
    spark.createDataset(recs).toDF()
      .write.format("bam").mode("overwrite").option("refs", refsOpt).save(out.toString)
    assert(!Files.exists(dir.resolve("t.bam.sbi")))
    // heuristic baseline (no derivation)
    val base = spark.read.format("bam").option("splitSize", 4096)
      .load(out.toString).collect().map(_.toSeq)
    assert(!Files.exists(dir.resolve("t.bam.sbi")))
    // first contact with deriveIndex: same rows, sidecar appears
    val derived = spark.read.format("bam").option("splitSize", 4096)
      .option("deriveIndex", "true").load(out.toString).collect().map(_.toSeq)
    assert(derived.toSeq == base.toSeq)
    assert(Files.exists(dir.resolve("t.bam.sbi")), "deriveIndex did not write the .sbi")
    // second scan (no option needed): SBI route — exact chunk voffs, no
    // heuristic boundary guessing in any partition
    val scan = new graft.sources.bam.BamScan(
      Map("path" -> out.toString, "splitsize" -> "4096"),
      graft.bam.AlignmentRecord.schema, Array.empty)
    val parts = scan.planInputPartitions()
    assert(parts.nonEmpty)
    parts.foreach { p =>
      val bp = p.asInstanceOf[graft.sources.bam.BamInputPartition]
      assert(bp.chunkStartVoff >= 0, s"partition still heuristic: $bp")
    }
    // and the indexed read returns the same rows
    val again = spark.read.format("bam").option("splitSize", 4096)
      .load(out.toString).collect().map(_.toSeq)
    assert(again.toSeq == base.toSeq)
  }

  test("BAM: derivation on a sorted file also writes .gci; interval plans prune partitions") {
    val s = spark
    import s.implicits._
    val dir = tmpDir()
    val out = dir.resolve("sorted.bam")
    // coordinate-sorted (pairs ascend, unmapped tail last) — a foreign
    // sorted BAM with no sidecars at all. 1200 pairs = the largest sorted
    // set chr21's declared length admits (TestReads doc), ~2400 records
    val recs = TestReads.pairs(1200) ++ TestReads.unplacedUnmapped(2)
    spark.createDataset(recs).toDF()
      .write.format("bam").mode("overwrite").option("refs", refsOpt).save(out.toString)
    assert(!Files.exists(dir.resolve("sorted.bam.sbi")))
    assert(!Files.exists(dir.resolve("sorted.bam.gci")))
    // unindexed baseline rows for the interval
    val iv = "chr21:100000-110000"
    val base = spark.read.format("bam").option("splitSize", 4096)
      .option("intervals", iv).load(out.toString).collect().map(_.toSeq)
    assert(base.nonEmpty)
    // first contact with deriveIndex: same rows, BOTH sidecars appear
    val derived = spark.read.format("bam").option("splitSize", 4096)
      .option("deriveIndex", "true").option("intervals", iv)
      .load(out.toString).collect().map(_.toSeq)
    assert(derived.toSeq == base.toSeq)
    assert(Files.exists(dir.resolve("sorted.bam.sbi")), "deriveIndex did not write the .sbi")
    assert(Files.exists(dir.resolve("sorted.bam.gci")), "deriveIndex did not write the .gci")
    // second contact: the derived .gci prunes interval plans to fewer
    // partitions than the full scan (pre-fix: split snapping only,
    // mayOverlap=true everywhere)
    def nParts(opts: Map[String, String]): Int =
      new graft.sources.bam.BamScan(
        opts ++ Map("path" -> out.toString, "splitsize" -> "4096"),
        graft.bam.AlignmentRecord.schema, Array.empty).planInputPartitions().length
    val nAll = nParts(Map.empty)
    val nIv = nParts(Map("intervals" -> iv))
    assert(nAll > 4, s"want many unpruned partitions, got $nAll")
    assert(nIv < nAll, s"derived .gci pruning lost: $nIv vs $nAll")
    // and the pruned read still returns the exact rows
    val again = spark.read.format("bam").option("splitSize", 4096)
      .option("intervals", iv).load(out.toString).collect().map(_.toSeq)
    assert(again.toSeq == base.toSeq)
  }

  test("VCF: first deriveIndex interval read writes .tbi; second scan prunes") {
    val s = spark
    import s.implicits._
    val vs = (0 until 6000).map { i =>
      graft.vcf.Variant("chr1", 1000 + i * 150, 1000 + i * 150, null, "A", Seq("G"),
        java.lang.Double.valueOf(30.0), Seq("PASS"), Map("DP" -> i.toString), Nil)
    }
    val dir = tmpDir()
    val out = dir.resolve("d.vcf.bgz")
    spark.createDataset(vs).toDF().coalesce(1).sortWithinPartitions($"start")
      .write.format("vcf").mode("overwrite").save(out.toString) // no writeTbi
    assert(!Files.exists(dir.resolve("d.vcf.bgz.tbi")))
    val want = vs.count(v => v.start <= 220000 && v.end >= 200000)
    // first contact: derivation runs, rows exact
    val first = spark.read.format("vcf").option("splitSize", 4096)
      .option("deriveIndex", "true")
      .option("intervals", "chr1:200000-220000").load(out.toString)
    assert(first.count() == want)
    assert(Files.exists(dir.resolve("d.vcf.bgz.tbi")), "deriveIndex did not write the .tbi")
    // later scans need no option: the derived .tbi prunes like a co-written one
    val all = spark.read.format("vcf").option("splitSize", 4096).load(out.toString)
    val iv = spark.read.format("vcf").option("splitSize", 4096)
      .option("intervals", "chr1:200000-220000").load(out.toString)
    val (nAll, nIv) = (all.rdd.getNumPartitions, iv.rdd.getNumPartitions)
    assert(nAll > 4, s"want many unfiltered partitions, got $nAll")
    assert(nIv < nAll, s"derived tbi pruning lost: $nIv vs $nAll")
    assert(iv.count() == want)
  }

  test("VCF: derived .tbi honors INFO END spans (symbolic SV not pruned away)") {
    val s = spark
    import s.implicits._
    // one long symbolic deletion spanning [1000, 900000] + dense SNPs; a
    // derived index that binned the SV only at its start would prune the
    // block for a query deep inside the span and silently lose the row
    val sv = graft.vcf.Variant("chr1", 1000, 900000, "sv1", "N", Seq("<DEL>"),
      java.lang.Double.valueOf(60.0), Seq("PASS"), Map("END" -> "900000", "SVTYPE" -> "DEL"), Nil)
    val snps = (0 until 6000).map { i =>
      graft.vcf.Variant("chr1", 1000 + i * 150, 1000 + i * 150, null, "A", Seq("G"),
        java.lang.Double.valueOf(30.0), Seq("PASS"), Map("DP" -> i.toString), Nil)
    }
    val dir = tmpDir()
    val out = dir.resolve("sv.vcf.bgz")
    spark.createDataset(sv +: snps).toDF().coalesce(1).sortWithinPartitions($"start")
      .write.format("vcf").mode("overwrite").save(out.toString)
    val got = spark.read.format("vcf").option("splitSize", 4096)
      .option("deriveIndex", "true")
      .option("intervals", "chr1:899000-899500").load(out.toString)
    val ids = got.select($"id").collect().map(_.getString(0))
    assert(Files.exists(dir.resolve("sv.vcf.bgz.tbi")))
    assert(ids.contains("sv1"), s"SV lost under derived-index pruning: ${ids.toSeq}")
  }

  /** `lines` (after a minimal header) as a BGZF VCF with no sidecars. */
  private def writeBgzfVcf(out: java.nio.file.Path, lines: Seq[String]): Unit = {
    val o = new graft.bgzf.BgzfOutputStream(Files.newOutputStream(out))
    o.write((Seq("##fileformat=VCFv4.2", "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO") ++ lines)
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    o.close()
  }

  private def snpLines(n: Int): Seq[String] =
    (0 until n).map(i => s"chr1\t${1000 + i * 150}\t.\tA\tG\t30\tPASS\tDP=$i")

  test("VCF: a derived .tbi keeps the scan's last-END rule") {
    val dir = tmpDir()
    val out = dir.resolve("dup.vcf.bgz")
    // the scan reads the site's end as 900000 (the last END wins)
    writeBgzfVcf(out, "chr1\t100\tdup\tN\t<DEL>\t60\tPASS\tEND=150;END=900000" +: snpLines(6000))
    def ids(derive: Boolean) = spark.read.format("vcf").option("splitSize", 4096)
      .option("deriveIndex", derive.toString).option("intervals", "chr1:899000-899500")
      .load(out.toString).selectExpr("id").collect().map(_.getString(0)).toSeq
    val base = ids(derive = false)
    assert(base.length == 5 && base.contains("dup"), base)
    assert(ids(derive = true) == base)
    assert(Files.exists(dir.resolve("dup.vcf.bgz.tbi")))
    assert(ids(derive = false) == base)
  }

  test("VCF: a line the strict decoder rejects refuses derivation") {
    val dir = tmpDir()
    val out = dir.resolve("badqual.vcf.bgz")
    writeBgzfVcf(out, snpLines(3000) ++ Seq("chr1\t500000\tbad\tA\tG\tbogus\tPASS\tDP=1") ++
      snpLines(6000).drop(3330))
    val n = spark.read.format("vcf").option("splitSize", 4096).option("mode", "lenient")
      .option("deriveIndex", "true").option("intervals", "chr1:200000-220000").load(out.toString).count()
    assert(n == 134)
    assert(!Files.exists(dir.resolve("badqual.vcf.bgz.tbi")))
  }

  test("CRAM: first deriveIndex read writes .crai; second scan plans the indexed route") {
    val dir = tmpDir()
    val out = dir.resolve("t.cram")
    val df = spark.range(300).select(
      (col("id") % 3).cast("int").as("ref_seq_id"),
      (col("id") * 100 + 1).cast("int").as("start_pos"),
      lit(90).as("span"),
      (col("id") % 10 + 1).cast("int").as("n_records"),
      ((col("id") % 5) * 8).cast("int").as("data_length"))
    df.coalesce(1).write.format("cram").mode("overwrite").save(out.toString)
    assert(!Files.exists(dir.resolve("t.cram.crai")))
    val base = spark.read.format("cram").option("splitSize", 4096)
      .load(out.toString).orderBy(col("offset")).collect().map(_.toSeq)
    val derived = spark.read.format("cram").option("splitSize", 4096)
      .option("deriveIndex", "true").load(out.toString).orderBy(col("offset")).collect().map(_.toSeq)
    assert(derived.toSeq == base.toSeq)
    assert(Files.exists(dir.resolve("t.cram.crai")), "deriveIndex did not write the .crai")
    val scan = new graft.sources.cram.CramScan(
      Map("path" -> out.toString, "splitsize" -> "4096"),
      graft.sources.cram.CramTable.schema)
    val parts = scan.planInputPartitions()
    assert(parts.nonEmpty && parts.forall(_.isInstanceOf[graft.sources.cram.CramInputPartition]),
      s"still range partitions: ${parts.take(3).mkString(",")}")
    val again = spark.read.format("cram").option("splitSize", 4096)
      .load(out.toString).orderBy(col("offset")).collect().map(_.toSeq)
    assert(again.toSeq == base.toSeq)
  }

  test("derived .crai equals the sink-written one in pruning behavior") {
    val dir = tmpDir()
    val df = spark.range(300).select(
      (col("id") % 3).cast("int").as("ref_seq_id"),
      (col("id") * 100 + 1).cast("int").as("start_pos"),
      lit(90).as("span"),
      (col("id") % 10 + 1).cast("int").as("n_records"),
      ((col("id") % 5) * 8).cast("int").as("data_length"))
    val derivedOut = dir.resolve("derived.cram")
    val sinkOut = dir.resolve("sink.cram")
    df.coalesce(1).write.format("cram").mode("overwrite").save(derivedOut.toString)
    df.coalesce(1).write.format("cram").mode("overwrite")
      .option("writeCrai", "true").save(sinkOut.toString)
    // derive, then compare interval pruning across both indexes
    spark.read.format("cram").option("splitSize", 4096)
      .option("deriveIndex", "true").load(derivedOut.toString).count()
    assert(Files.exists(dir.resolve("derived.cram.crai")))
    for (iv <- Seq("0:1-5000", "1:20000-29999", "2:1-200000")) {
      val a = spark.read.format("cram").option("intervals", iv)
        .load(derivedOut.toString).orderBy(col("offset")).collect().map(_.toSeq.drop(1))
      val b = spark.read.format("cram").option("intervals", iv)
        .load(sinkOut.toString).orderBy(col("offset")).collect().map(_.toSeq.drop(1))
      assert(a.toSeq == b.toSeq, s"interval $iv")
    }
  }
}
