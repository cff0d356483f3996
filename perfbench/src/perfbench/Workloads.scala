package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One timed call. `run` is timed; the check it returns is not, and yields
  * an error message when the output is wrong.
  */
final case class OpDef(kind: String, name: String, run: () => (() => Option[String]))

/** Set-up failed a correctness precondition (missing index, bad expected). */
final class SetupError(msg: String) extends Exception(msg)

trait Workload {
  /** Build the inputs under `dir` (the timed set-up); returns a digest of
    * the generated bytes, identical for identical seeds.
    */
  def setup(ctx: Ctx, dir: Path): String
  /** After the last set-up, untimed: expected results and input checks;
    * returns a digest of the expected results.
    */
  def prepare(ctx: Ctx): String
  /** The operations of pass `k`. */
  def pass(k: Int): Seq[OpDef]
  /** Bytes per record of the BAM and VCF files the graft sinks wrote. */
  def bytesPerRecord(ctx: Ctx): (Double, Double)
  /** Extra per-layer timings for the traced run, and wrong results. */
  def layerProbe(ctx: Ctx, dir: Path): (Map[String, Double], Seq[String]) = (Map.empty, Nil)
}

object Workloads {
  /** Input sizes. The files, their sidecars and the parquet inputs stay far
    * below the page cache, so runs measure the CPU path, not a disk.
    */
  val Reads = 72000L
  val Sites = 14400L
  val LookupWidth = 20000
  val LookupsPerFormat = 128
  val QueryLineitems = 12000L
  val QuerySeed = 42L

  def apply(name: String, seed: Long, expectedFile: Path, plantWrong: Boolean): Workload =
    name match {
      case "scan" => new ScanWorkload(seed, plantWrong, new QueryProbe(expectedFile, plantWrong))
      case "write" => new WriteWorkload(seed, plantWrong)
      case "region_lookup" => new LookupWorkload(seed, plantWrong)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

  def sha256(files: Seq[Path]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.foreach(f => md.update(Files.readAllBytes(f)))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def requireFiles(files: Seq[Path]): Unit = files.filterNot(Files.isRegularFile(_)) match {
    case Nil => ()
    case missing => throw new SetupError(s"missing outputs: ${missing.map(_.getFileName).mkString(", ")}")
  }

  def mismatch(what: String, got: Digest, want: Digest): Option[String] =
    if (got == want) None else Some(s"$what: got ${got.hex}, expected ${want.hex}")

  /** A timed scan's fold against the expected row count and the fold of the
    * same plan's verified read-back.
    */
  def foldMismatch(what: String, got: Fold, wantRows: Long, verified: Fold): Option[String] =
    if (got.rows != wantRows) Some(s"$what: ${got.rows} rows, expected $wantRows")
    else if (got != verified) Some(s"$what: fold ${got.hex}, the verified read-back's is ${verified.hex}")
    else None

  val BamSidecars = Seq(".sbi", ".gci", ".bai")
  val VcfSidecars = Seq(".tbi")
  val BamPruned = Seq("contig", "start", "flags")
  val VcfPruned = Seq("contig", "start", "info")
}

import Workloads._

/** What a generated row set should read back as: the full-row digest, the
  * digest of a pruned column set, and per-interval overlap counts (the
  * readers' rule: start <= iv.end and max(end, start) >= iv.start).
  */
final case class Expected(full: Digest, pruned: Digest, counts: IndexedSeq[Long])

object Expected {
  def of(df: DataFrame, pruned: Seq[String], lookups: IndexedSeq[(String, Int, Int)]): Expected = {
    val schema = df.schema
    val types = schema.fields.map(_.dataType)
    val ord = pruned.map(schema.fieldIndex).toArray
    val (ci, si, ei) = (schema.fieldIndex("contig"), schema.fieldIndex("start"), schema.fieldIndex("end"))
    val byContig = lookups.zipWithIndex.groupBy(_._1._1)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var full, prun = Digest(0, 0)
      val counts = new Array[Long](lookups.length)
      while (it.hasNext) {
        val r = it.next()
        full = full + Digest(1, RowHash.row(r, types))
        prun = prun + Digest(1, RowHash.row(r, ord, types))
        val (s, e) = (r.getInt(si), r.getInt(ei))
        byContig.getOrElse(r.getUTF8String(ci).toString, Nil).foreach { case ((_, ls, le), j) =>
          if (s <= le && math.max(e, s) >= ls) counts(j) += 1
        }
      }
      Iterator.single((full, prun, counts))
    }.collect()
    Expected(parts.map(_._1).reduce(_ + _), parts.map(_._2).reduce(_ + _),
      lookups.indices.map(j => parts.map(_._3(j)).sum))
  }
}

/** Seeded, coordinate-sorted BAM + VCF.bgz with every sidecar; the expected
  * results come straight from the generator's rows.
  */
class FormatFixtures(seed: Long) {
  var dir: Path = _
  def bam: String = dir.resolve("reads.bam").toString
  def vcf: String = dir.resolve("variants.vcf.bgz").toString
  var reads, variants: Expected = _
  /** Folds of the verified read-backs, by (format, pruned). */
  val folds = scala.collection.mutable.Map[(String, Boolean), Fold]()

  /** The DataFrame a scan of the fixture runs, full-row or pruned. */
  def load(s: org.apache.spark.sql.SparkSession, format: String, pruned: Boolean): DataFrame = {
    val df = s.read.format(format).load(if (format == "bam") bam else vcf)
    if (!pruned) df else df.select((if (format == "bam") BamPruned else VcfPruned).map(col): _*)
  }

  def build(ctx: Ctx, d: Path): String = {
    dir = d
    val s = ctx.spark
    val parts = s.sparkContext.defaultParallelism
    Gen.reads(s, seed, Reads, parts, scrambled = false).write.format("bam").mode("overwrite")
      .option("refs", Gen.Refs).option("writeSbi", "true").option("writeBai", "true").save(bam)
    Gen.variants(s, seed, Sites, parts, scrambled = false).write.format("vcf").mode("overwrite")
      .option("writeTbi", "true").save(vcf)
    // unsorted input only logs a warning and skips .bai/.tbi, which turns
    // every lookup into a full decode: refuse to measure that
    val files = Paths.get(bam) +: (BamSidecars.map(e => Paths.get(bam + e)) ++
      (Paths.get(vcf) +: VcfSidecars.map(e => Paths.get(vcf + e))))
    requireFiles(files)
    sha256(files)
  }

  /** Expected results from the generator's rows; the fixtures must read
    * back as those rows, full-row and pruned. The folds of those read-backs
    * are what the timed scans of the same plans must reproduce.
    */
  def expect(ctx: Ctx, bamLookups: IndexedSeq[(String, Int, Int)] = Vector.empty,
             vcfLookups: IndexedSeq[(String, Int, Int)] = Vector.empty): Unit = {
    val s = ctx.spark
    val parts = s.sparkContext.defaultParallelism
    reads = Expected.of(Gen.reads(s, seed, Reads, parts, scrambled = false), BamPruned, bamLookups)
    variants = Expected.of(Gen.variants(s, seed, Sites, parts, scrambled = false), VcfPruned, vcfLookups)
    for ((format, want) <- Seq("bam" -> reads, "vcf" -> variants); pruned <- Seq(false, true)) {
      val (got, fold) = Digest.verify(load(s, format, pruned).queryExecution.executedPlan)
      mismatch(s"$format fixture${if (pruned) " (pruned)" else ""}", got, if (pruned) want.pruned else want.full)
        .foreach(e => throw new SetupError(e))
      folds((format, pruned)) = fold
    }
  }

  def bytesPerRecord: (Double, Double) =
    (Files.size(Paths.get(bam)).toDouble / Reads, Files.size(Paths.get(vcf)).toDouble / Sites)
}

/** Full-row and pruned scans of each file; one BAM and one VCF op a pass. */
final class ScanWorkload(seed: Long, plantWrong: Boolean, queries: QueryProbe) extends Workload {
  private val fx = new FormatFixtures(seed)
  private var ctx: Ctx = _

  def setup(c: Ctx, dir: Path): String = {
    ctx = c
    fx.build(c, dir)
  }

  def prepare(c: Ctx): String = {
    fx.expect(c)
    if (plantWrong) fx.reads = fx.reads.copy(full = fx.reads.full.copy(rows = fx.reads.full.rows + 1))
    Seq(fx.reads.full, fx.reads.pruned, fx.variants.full, fx.variants.pruned).map(_.hex).mkString(",")
  }

  private def op(format: String, want: => Expected) =
    OpDef(format, s"${format}_scan", () => {
      val a = ctx.scan(fx.load(ctx.spark, format, pruned = false), wholeFile = true)
      val b = ctx.scan(fx.load(ctx.spark, format, pruned = true), wholeFile = true)
      () => foldMismatch(s"$format full scan", a, want.full.rows, fx.folds((format, false)))
        .orElse(foldMismatch(s"$format pruned scan", b, want.pruned.rows, fx.folds((format, true))))
    })

  def pass(k: Int): Seq[OpDef] = Seq(op("bam", fx.reads), op("vcf", fx.variants))

  def bytesPerRecord(c: Ctx): (Double, Double) = fx.bytesPerRecord

  override def layerProbe(c: Ctx, dir: Path): (Map[String, Double], Seq[String]) = {
    val (times, errors) = queries.run(c, dir)
    (times.map { case (q, sec) => s"queries.${q}_s" -> sec }, errors)
  }
}

/** Closed loop, one client: 20 kb lookups alternating BAM and VCF, each
  * count checked against a brute-force count over the generated rows.
  */
final class LookupWorkload(seed: Long, plantWrong: Boolean) extends Workload {
  private val fx = new FormatFixtures(seed)
  private var ctx: Ctx = _
  private case class Lookup(contig: String, start: Int, end: Int) {
    def spec = s"$contig:$start-$end"
  }
  private var bamLookups, vcfLookups: IndexedSeq[Lookup] = _
  private var bamCounts, vcfCounts: IndexedSeq[Long] = _

  private def lookups(salt: Int): IndexedSeq[Lookup] = (0 until LookupsPerFormat).map { j =>
    val r = Gen.rnd(seed, j, salt)
    val c = java.lang.Math.floorMod(r, Gen.Contigs.toLong).toInt
    val s = 1 + java.lang.Math.floorMod(r >>> 16, (Gen.ContigLen - LookupWidth).toLong).toInt
    Lookup(Gen.contigName(c), s, s + LookupWidth - 1)
  }

  def setup(c: Ctx, dir: Path): String = {
    ctx = c
    fx.build(c, dir)
  }

  def prepare(c: Ctx): String = {
    bamLookups = lookups(31)
    vcfLookups = lookups(32)
    fx.expect(c, bamLookups.map(l => (l.contig, l.start, l.end)), vcfLookups.map(l => (l.contig, l.start, l.end)))
    bamCounts = fx.reads.counts
    vcfCounts = fx.variants.counts
    if (plantWrong) bamCounts = bamCounts.updated(0, bamCounts(0) + 1)
    (bamCounts ++ vcfCounts).mkString(",")
  }

  private def op(kind: String, format: String, path: String, l: Lookup, want: Long) =
    OpDef(kind, s"${kind}_lookup", () => {
      if (ctx.tr.enabled) ctx.lookups(ctx.tr.op) = LookupFact(format, path, l.contig, l.start, l.end)
      val got = ctx.scan(ctx.spark.read.format(format).option("intervals", l.spec).load(path))
      () => if (got.rows == want) None else Some(s"$kind lookup ${l.spec}: ${got.rows} rows, expected $want")
    })

  def pass(k: Int): Seq[OpDef] = {
    val j = k % LookupsPerFormat
    Seq(op("bam", "bam", fx.bam, bamLookups(j), bamCounts(j)),
      op("vcf", "vcf", fx.vcf, vcfLookups(j), vcfCounts(j)))
  }

  def bytesPerRecord(c: Ctx): (Double, Double) = fx.bytesPerRecord
}

/** Parquet → coordinate sort → single indexed BAM / VCF.bgz at the default
  * deflate level; every output and its sidecars are checked.
  */
final class WriteWorkload(seed: Long, plantWrong: Boolean) extends Workload {
  private var ctx: Ctx = _
  private var dir: Path = _
  private var bamWant, vcfWant: Digest = _
  private val bpr = scala.collection.mutable.Map[String, Double]()
  def readsPq: String = dir.resolve("reads.parquet").toString
  def variantsPq: String = dir.resolve("variants.parquet").toString

  def setup(c: Ctx, d: Path): String = {
    ctx = c
    dir = d
    val parts = c.spark.sparkContext.defaultParallelism
    // scrambled row order, so the sort before the indexed write does work
    Gen.reads(c.spark, seed, Reads, parts, scrambled = true).write.mode("overwrite").parquet(readsPq)
    Gen.variants(c.spark, seed, Sites, parts, scrambled = true).write.mode("overwrite").parquet(variantsPq)
    "" // parquet bytes are Spark's, not graft's; prepare() checks the rows
  }

  def prepare(c: Ctx): String = {
    bamWant = Expected.of(c.spark.read.parquet(readsPq), BamPruned, Vector.empty).full
    vcfWant = Expected.of(c.spark.read.parquet(variantsPq), VcfPruned, Vector.empty).full
    if (plantWrong) bamWant = bamWant.copy(sum = bamWant.sum + 1)
    bamWant.hex + "," + vcfWant.hex
  }

  // digest of the uncompressed content of the first output that read back
  // correctly; a later output must carry the same records in the same order
  // (its BGZF block layout may differ: the sort's range bounds are sampled)
  private val verified = scala.collection.mutable.Map[String, String]()
  private def content(f: Path): String = {
    val b = Files.readAllBytes(f)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(Replay.inflate(b, 0, b.length.toLong).data)
    md.digest().map(x => f"${x & 0xff}%02x").mkString
  }

  private def op(kind: String, format: String, input: => String, file: String,
                 options: Map[String, String], sidecars: Seq[String], want: => Digest) =
    OpDef(kind, s"${kind}_write", () => {
      val out = dir.resolve("out").resolve(file).toString
      ctx.save(input, format, options, out)(_.orderBy("contig", "start"))
      () => {
        val files = Paths.get(out) +: sidecars.map(e => Paths.get(out + e))
        val missing = files.filterNot(Files.isRegularFile(_))
        if (missing.nonEmpty) Some(s"$kind write: missing ${missing.map(_.getFileName).mkString(", ")}")
        else verified.get(kind) match {
          case Some(h) => if (content(files.head) == h) None else Some(s"$kind write: records differ from the verified output")
          case None =>
            val got = Digest.of(ctx.spark.read.format(format).load(out))
            bpr(kind) = Files.size(files.head).toDouble / math.max(1L, got.rows)
            val err = mismatch(s"$kind write read-back", got, want)
            if (err.isEmpty) verified(kind) = content(files.head)
            err
        }
      }
    })

  def pass(k: Int): Seq[OpDef] = Seq(
    op("bam", "bam", readsPq, "reads.bam",
      Map("refs" -> Gen.Refs, "writeSbi" -> "true", "writeBai" -> "true"), BamSidecars, bamWant),
    op("vcf", "vcf", variantsPq, "variants.vcf.bgz", Map("writeTbi" -> "true"), VcfSidecars, vcfWant))

  def bytesPerRecord(c: Ctx): (Double, Double) = (bpr("bam"), bpr("vcf"))
}

/** Per-layer probe of the query library (`graft.queries`) and its native
  * expressions (`graft.functions`) over small tables generated with a fixed
  * seed. Each query runs once untimed (it writes its format fixtures, and
  * its result digest is checked against the expected file), then once timed,
  * consumed by the cheap fold, which must equal the untimed run's. It runs
  * in the traced run of `scan` only; the end-to-end budget has no room for a
  * query workload of its own.
  */
final class QueryProbe(expectedFile: Path, plantWrong: Boolean) {
  private def readExpected(): Map[String, Digest] = {
    val text = new String(Files.readAllBytes(expectedFile), "UTF-8")
    "\"(q_[a-z_]+)\"\\s*:\\s*\"([0-9]+:[0-9a-f]{16})\"".r.findAllMatchIn(text)
      .map(m => m.group(1) -> Digest.parse(m.group(2))).toMap
  }

  /** Seconds per query, and the queries whose result was wrong. */
  def run(ctx: Ctx, dir: Path): (Map[String, Double], Seq[String]) = {
    val s = ctx.spark
    graft.queries.Fixtures.reuseEnabled = true
    Gen.tpch(s, QuerySeed, dir.toString, QueryLineitems, s.sparkContext.defaultParallelism)
    def build(q: String): DataFrame = graft.queries.Registry.queries(q)(s, dir.toString)
    val expected = readExpected()
    val times = Metrics.Queries.map { q =>
      val (digest, verified) = Digest.verify(build(q).queryExecution.executedPlan)
      val want = expected.get(q).map(w => if (plantWrong) w.copy(rows = w.rows + 1) else w)
      val t0 = System.nanoTime()
      val got = ctx.tr.span(q, "queries")(ctx.consume(ctx.tr.span("build", "queries")(build(q))))
      val sec = (System.nanoTime() - t0) / 1e9
      (q, sec, mismatch(q, digest, want.getOrElse(Digest(-1, 0)))
        .orElse(foldMismatch(q, got, digest.rows, verified)))
    }
    (times.map(t => t._1 -> t._2).toMap, times.flatMap(_._3))
  }
}
