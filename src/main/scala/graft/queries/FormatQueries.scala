package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Fixtures.FixtureWriterOps

/** Format-layer queries that make the BAM source/sink DuckDB-verifiable:
  * deterministic alignment records are derived from `lineitem`, pushed
  * through a full write→read cycle of the connector, and aggregated; the
  * oracle computes the identical aggregate from `lineitem` directly. If any
  * stage of the binary codec, split planning, boundary guessing, or the
  * concat commit corrupted / dropped / duplicated a record, the aggregate
  * hashes diverge.
  *
  * This is the reference's differential-count oracle strategy (SURVEY.md §5)
  * strengthened to field-level sums.
  */
object FormatQueries {

  /** Scratch root for round-trip files — unique per JVM so concurrent
    * harness runs at the same SF (bench + verify overlapping) can never
    * clobber a file another JVM is mid-scan on.
    */
  private lazy val runId = java.util.UUID.randomUUID().toString.take(8)
  private[queries] lazy val tmpBase = {
    val b = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    val dir = s"$b/graft-run-$runId"
    // scratch hygiene: repeated bench/verify runs must not accumulate
    // ~100 MB of round-trip files per JVM in /tmp
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(new java.io.File(dir))))
    dir
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Single-file sinks inherit the input's partitioning, and the synthetic
    * reads come from one small parquet file (one partition) — so without an
    * explicit repartition ALL record encode + BGZF deflate would serialize
    * on one core. Spread the write stage across the cluster: the sink's
    * name-ordered concat commit makes parallel parts safe (same shape the
    * sharded sink uses).
    *
    * The repartition is inserted BELOW the fixture's final projection when
    * the plan ends in one: the projections here build wide nested rows
    * (genotype struct arrays, attribute maps, kilobyte INFO payloads), and
    * `project-then-shuffle` would (a) run all that row construction on the
    * scan's partitioning — ONE task on a one-row-group parquet input — and
    * (b) push the wide rows through the exchange. `shuffle-then-project`
    * ships only the pruned base columns (column pruning reaches through the
    * exchange to the scan) and builds rows post-exchange on every core —
    * guide §2.3 "project before the exchange" / §8 "move small rows, attach
    * payload work late". Row-for-row the projected output is identical;
    * only partition placement changes, which no oracle can observe.
    */
  private def spread(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val p = s.sparkContext.defaultParallelism
    import org.apache.spark.sql.catalyst.plans.logical.{Project, Repartition}
    df.queryExecution.logical match {
      case Project(exprs, child) if exprs.forall(_.deterministic) =>
        internalOfRows(s, Project(exprs, Repartition(p, shuffle = true, child)))
      case _ => df.repartition(p)
    }
  }

  private def internalOfRows(s: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.GraftInternals.ofRows(s, plan)

  /** Run INDEPENDENT write jobs concurrently (optimization guide §2.6
    * "overlap independent jobs"): Spark happily schedules several jobs at
    * once, so the tail of one write back-fills with the next one's tasks
    * instead of idling the cluster. Each job's output file is byte-identical
    * to the sequential run — only scheduling overlap changes. Exceptions
    * propagate after all jobs settle (a second failure is suppressed onto
    * the first). When the caller is interrupted (or its wait cancelled)
    * the siblings are cancelled — their threads interrupted and their Spark
    * jobs cancelled by tag — and awaited before the exception propagates,
    * so no sibling keeps writing after the query has failed.
    */
  private[queries] def inParallel(jobs: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(jobs.length)
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).map(_.sparkContext)
    val tag = s"graft-inParallel-${java.util.UUID.randomUUID()}"
    try {
      val futures = jobs.map(j => pool.submit(new Runnable {
        override def run(): Unit = { sc.foreach(_.addJobTag(tag)); j() }
      }))
      // await ALL jobs, rethrow the first failure's CAUSE (not the
      // ExecutionException wrapper) with later failures attached as suppressed
      var first: Throwable = null
      try futures.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            val cause = if (e.getCause != null) e.getCause else e
            if (first == null) first = cause else first.addSuppressed(cause)
        }
      } catch {
        case e @ (_: InterruptedException | _: java.util.concurrent.CancellationException) =>
          sc.foreach(_.cancelJobsWithTag(tag))
          pool.shutdownNow()
          while (!pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)) ()
          throw e
      }
      if (first != null) throw first
    } finally pool.shutdown()
  }

  // Construction writes below pass compressionLevel=1: the file is a
  // pipeline-intermediate (written, read back, analyzed, discarded), and
  // BGZF content is identical at every deflate level — only bytes differ.
  // The explicit round-trip queries (q_{bam,sam,vcf,cram}_roundtrip*,
  // q_bam_sort) keep the default level: there the writer itself is the
  // measured operator.

  /** Deterministic reads derived from lineitem (schema = AlignmentRecord). */
  private def syntheticReads(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d).select(
      concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
      lit(0).cast("int").as("flags"),
      concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
      ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
      ((($"l_partkey" * 37) % 999000) + 151).cast("int").as("end"),
      lit(60).cast("int").as("mapq"),
      lit("151M").as("cigar"),
      lit(null).cast("string").as("mateContig"),
      lit(0).cast("int").as("mateStart"),
      lit(0).cast("int").as("tlen"),
      lit("*").as("seq"),
      lit("*").as("qual"),
      map(lit("XO"), concat(lit("i:"), ($"l_orderkey" % 100).cast("string")))
        .as("attributes"))
  }

  private val Refs = "chr0:1000000,chr1:1000000,chr2:1000000"

  /** Shared aligner-shaped read generator for the typed-tag queries
    * (q_bam_rg_error_rate, q_bam_bqsr_covariates): a realistic bwa-style
    * 8-tag load — RG/NM/XC the queries read PLUS AS/XS/MC/ms they skip —
    * and a deterministic MD mismatch string whose leading matched run
    * varies per read (`p0 = l_partkey % 8`), so mismatch CYCLES differ
    * across reads and the BQSR covariate table is non-degenerate.
    */
  private def rgTagReads(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d).select(
      concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
      lit(0).cast("int").as("flags"),
      concat(lit("chr"), ($"l_partkey" % 3).cast("string")).as("contig"),
      ((($"l_partkey" * 13) % 5000) + 1).cast("int").as("start"),
      lit(0).cast("int").as("end"),
      lit(60).cast("int").as("mapq"),
      lit("151M").as("cigar"),
      lit(null).cast("string").as("mateContig"),
      lit(0).cast("int").as("mateStart"),
      lit(0).cast("int").as("tlen"),
      lit("*").as("seq"),
      lit("*").as("qual"),
      map(
        lit("RG"), concat(lit("Z:rg"), ($"l_orderkey" % 4).cast("string")),
        lit("NM"), concat(lit("i:"), (($"l_partkey" + $"l_linenumber") % 9).cast("string")),
        lit("XC"), when($"l_suppkey" % 2 === 0, "A:F").otherwise("A:R"),
        lit("AS"), concat(lit("i:"), ($"l_linenumber" + 140).cast("string")),
        lit("XS"), concat(lit("i:"), ($"l_suppkey" % 100).cast("string")),
        lit("MC"), lit("Z:151M"),
        lit("MD"), concat(lit("Z:"), ($"l_partkey" % 8).cast("string"),
          lit("A21C9T2G33A11C5T17A9G12C8T"), ($"l_partkey" % 50).cast("string")),
        lit("ms"), concat(lit("i:"), ($"l_orderkey" % 2000 + 4000).cast("string")))
        .as("attributes"))
  }

  /** 24-contig dictionary for the window-heavy queries (per-contig RUNNING
    * frames parallelize over contigs; 3 contigs on 32 cores is the measured
    * scale artifact the ROH widening fixed — a real genome has ~25).
    */
  private val Refs24 = (0 until 24).map(i => s"chr$i:1000000").mkString(",")

  /** Deterministic indexed FASTA matching [[Refs]]: every contig is the
    * 4-periodic "ATGC…" sequence, so a read starting at 1-based `p` agrees
    * with `substr(repeat('ATGC',…), (p-1)%4+1, 151)` — an expression both
    * the Spark query and the DuckDB oracle can state. Idempotent per
    * scratch dir (same bytes every time); the `.fai` is written before the
    * FASTA is renamed into place so a visible FASTA is always indexed.
    */
  private def writeRefFasta(dir: String): String = {
    val fa = new java.io.File(dir, "ref.fasta")
    if (!fa.exists()) {
      fa.getParentFile.mkdirs()
      val contigLen = 1000000
      val names = Seq("chr0", "chr1", "chr2")
      val lines = (contigLen + 59) / 60
      val block = 6 + contigLen + lines // ">chrN\n" + bases + one newline per line
      val fai = names.zipWithIndex.map { case (n, i) =>
        s"$n\t$contigLen\t${i.toLong * block + 6}\t60\t61\n"
      }.mkString
      java.nio.file.Files.write(new java.io.File(dir, "ref.fasta.fai").toPath,
        fai.getBytes("ASCII"))
      val body = ("ATGC" * (contigLen / 4)).grouped(60).mkString("\n")
      val tmp = new java.io.File(dir, "ref.fasta.tmp")
      java.nio.file.Files.write(tmp.toPath,
        names.map(n => s">$n\n$body\n").mkString.getBytes("ASCII"))
      tmp.renameTo(fa): Unit
    }
    fa.getPath
  }

  /** Deterministic variants derived from lineitem (schema = Variant) —
    * shared by the three VCF round-trip/interval queries.
    */
  private def syntheticVariants(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types._
    Tables.lineitem(s, d).select(
      concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
      ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
      ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("end"),
      lit(null).cast("string").as("id"),
      lit("A").as("ref"),
      array(substring(lit("CGTA"), ($"l_linenumber" % 4).cast("int") + 1, lit(1))).as("alt"),
      ($"l_orderkey" % 100).cast("double").as("qual"),
      array(lit("PASS")).as("filters"),
      map(lit("DP"), $"l_suppkey".cast("string")).as("info"),
      array().cast(ArrayType(graft.vcf.Variant.genotypeType, containsNull = false)).as("genotypes"))
  }

  /** Aggregate whose value pins down count, coordinates, cigar-derived end,
    * and the tag payload per contig.
    */
  private def readsAggregate(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.groupBy($"contig")
      .agg(
        count(lit(1)).as("n_reads"),
        sum($"start".cast("long")).as("sum_start"),
        sum($"end".cast("long")).as("sum_end"),
        min($"start").cast("int").as("min_start"),
        max($"end").cast("int").as("max_end"),
        sum(substring(element_at($"attributes", "XO"), 3, 10).cast("long")).as("sum_tag"))
      .orderBy($"contig")
  }

  private def oracleAggregate(where: String): String =
    s"""WITH reads AS (
       |  SELECT 'chr' || CAST(l_orderkey % 3 AS VARCHAR) AS contig,
       |    CAST((l_partkey * 37) % 999000 + 1 AS BIGINT) AS rstart,
       |    CAST((l_partkey * 37) % 999000 + 151 AS BIGINT) AS rend,
       |    l_orderkey % 100 AS tag
       |  FROM lineitem)
       |SELECT contig, COUNT(*) AS n_reads, CAST(SUM(rstart) AS BIGINT) AS sum_start,
       |  CAST(SUM(rend) AS BIGINT) AS sum_end, CAST(MIN(rstart) AS INTEGER) AS min_start,
       |  CAST(MAX(rend) AS INTEGER) AS max_end, CAST(SUM(tag) AS BIGINT) AS sum_tag
       |FROM reads $where
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Reads where every first-line item is an unplaced-unmapped fragment. */
  private def syntheticReadsWithUnmapped(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val unm = $"l_linenumber" === 1
    Tables.lineitem(s, d).select(
      concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
      when(unm, 4).otherwise(0).cast("int").as("flags"),
      when(unm, lit(null).cast("string"))
        .otherwise(concat(lit("chr"), ($"l_orderkey" % 3).cast("string"))).as("contig"),
      when(unm, 0).otherwise((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
      when(unm, 0).otherwise((($"l_partkey" * 37) % 999000) + 151).cast("int").as("end"),
      lit(60).cast("int").as("mapq"),
      when(unm, "*").otherwise("151M").as("cigar"),
      lit(null).cast("string").as("mateContig"),
      lit(0).cast("int").as("mateStart"),
      lit(0).cast("int").as("tlen"),
      lit("*").as("seq"),
      lit("*").as("qual"),
      map(lit("XO"), concat(lit("i:"), ($"l_orderkey" % 100).cast("string")))
        .as("attributes"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // unplaced-unmapped traversal: intervals + the unmapped tail together
    // (HtsjdkReadsTraversalParameters semantics, reference README.md:119-138)
    "q_bam_unmapped_traversal" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/unm.bam"
      spread(syntheticReadsWithUnmapped(s, d)).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).option("writeSbi", "true").saveFixture(path)
      val back = s.read.format("bam")
        .option("intervals", "chr0:1-5000").option("unplacedUnmapped", "true")
        .load(path)
      back.groupBy(coalesce($"contig", lit("*")).as("contig_k"))
        .agg(count(lit(1)).as("n_reads"), sum($"start".cast("long")).as("sum_start"))
        .orderBy($"contig_k")
    },

    // coverage-per-interval: the flagship domain query of SURVEY.md §2.5 —
    // reads from OUR bam source range-joined against a broadcast bin table,
    // depth per bin (format layer composing with the relational layer)
    "q_bam_coverage" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/cov.bam"
      spread(syntheticReads(s, d)).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).option("writeSbi", "true").saveFixture(path)
      // pruned scan: only contig/start/end decoded
      val reads = s.read.format("bam")
        .load(path).select($"contig", $"start", $"end")
      val bins = Tables.nation(s, d).select(
        concat(lit("chr"), ($"n_nationkey" % 3).cast("string")).as("icontig"),
        ($"n_nationkey".cast("long") * 4000).as("istart"))
        .withColumn("iend", $"istart" + 3999)
      reads.join(broadcast(bins),
          $"contig" === $"icontig" && $"start" <= $"iend" && $"end" >= $"istart")
        .groupBy($"icontig", $"istart", $"iend")
        .agg(count(lit(1)).as("depth"))
        .orderBy($"icontig", $"istart")
    },

    // duplicate marking — the operator the reference's flagship consumer
    // actually runs on it (GATK MarkDuplicatesSpark reads through Disq,
    // reference README.md). Picard semantics, single-end slice: reads
    // sharing (contig, unclipped 5' start, strand) are one duplicate set;
    // the highest-scoring member (mapq here; ties → read name) is kept,
    // the rest are marked. Scale shape: ONE shuffle on the position key,
    // per-key groups are sequencing-depth-sized (tiny), everything after
    // is a per-contig rollup — exactly how MarkDuplicatesSpark distributes.
    // The reads round-trip through OUR bam sink+source first, so the codec
    // and split planning sit inside the verified path.
    "q_bam_markdup" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/md.bam"
      val reads = Tables.lineitem(s, d).select(
        concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
        when($"l_linenumber" % 2 === 0, 16).otherwise(0).cast("int").as("flags"),
        concat(lit("chr"), ($"l_partkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 13) % 5000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 13) % 5000) + 151).cast("int").as("end"),
        (($"l_orderkey" * 7 + $"l_linenumber") % 61).cast("int").as("mapq"),
        lit("151M").as("cigar"),
        lit(null).cast("string").as("mateContig"),
        lit(0).cast("int").as("mateStart"),
        lit(0).cast("int").as("tlen"),
        lit("*").as("seq"),
        lit("*").as("qual"),
        map(lit("XO"), concat(lit("i:"), ($"l_orderkey" % 100).cast("string")))
          .as("attributes"))
      spread(reads).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).option("writeSbi", "true").saveFixture(path)
      val back = s.read.format("bam").load(path)
        .select($"readName", $"contig", $"start", $"mapq",
          ($"flags".bitwiseAND(16) =!= 0).cast("int").as("strand"))
      val w = Window.partitionBy($"contig", $"start", $"strand")
        .orderBy($"mapq".desc, $"readName")
      back.withColumn("rn", row_number().over(w))
        .withColumn("is_dup", ($"rn" > 1).cast("int"))
        .groupBy($"contig")
        .agg(count(lit(1)).as("n_reads"),
          sum($"is_dup".cast("long")).as("n_dups"),
          countDistinct($"start", $"strand").as("n_sites"),
          sum(when($"is_dup" === 0, $"mapq".cast("long")).otherwise(0L)).as("kept_mapq_sum"))
        .orderBy($"contig")
    },

    // samtools-flagstat equivalent: reads carry the full primary/secondary/
    // supplementary/dup/proper/read1/read2/reverse/qcfail flag vocabulary
    // (deterministically derived from lineitem), round-trip through the
    // single-file sink + SBI-planned splittable scan, and the flag-category
    // census is computed from what came BACK — so any flag byte the codec
    // mangles, any record a split boundary drops or duplicates, shifts a
    // count and the oracle (same arithmetic straight off lineitem) catches
    // it. Scale shape: one narrow scan + a single partial-aggregated
    // global sum — no shuffle payload beyond one row of counters per task.
    "q_bam_flagstat" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/fs.bam"
      val flags =
        (lit(1)
          + when($"l_linenumber" % 2 === 0, 2).otherwise(0)
          + when($"l_partkey" % 2 === 0, 16).otherwise(0)
          + when($"l_linenumber" % 2 === 1, 64).otherwise(128)
          + when($"l_orderkey" % 13 === 0, 256).otherwise(0)
          + when($"l_orderkey" % 17 === 0, 512).otherwise(0)
          + when($"l_orderkey" % 11 === 0, 1024).otherwise(0)
          + when($"l_partkey" % 23 === 0, 2048).otherwise(0)).cast("int")
      val reads = Tables.lineitem(s, d).select(
        concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
        flags.as("flags"),
        concat(lit("chr"), ($"l_partkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 13) % 5000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 13) % 5000) + 151).cast("int").as("end"),
        (($"l_orderkey" * 7 + $"l_linenumber") % 61).cast("int").as("mapq"),
        lit("151M").as("cigar"),
        lit(null).cast("string").as("mateContig"),
        lit(0).cast("int").as("mateStart"),
        lit(0).cast("int").as("tlen"),
        lit("*").as("seq"),
        lit("*").as("qual"),
        map(lit("XO"), concat(lit("i:"), ($"l_orderkey" % 100).cast("string")))
          .as("attributes"))
      spread(reads).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).option("writeSbi", "true").saveFixture(path)
      val back = s.read.format("bam").load(path)
      def bit(b: Int): org.apache.spark.sql.Column =
        back("flags").bitwiseAND(b) =!= 0
      def n(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        sum(when(c, 1L).otherwise(0L))
      back.agg(
        count(lit(1)).as("total"),
        n(!bit(256) && !bit(2048)).as("n_primary"),
        n(bit(256)).as("n_secondary"),
        n(bit(2048)).as("n_supplementary"),
        n(bit(1024)).as("n_dup"),
        n(bit(2)).as("n_proper"),
        n(bit(64)).as("n_read1"),
        n(bit(128)).as("n_read2"),
        n(bit(16)).as("n_reverse"),
        n(bit(512)).as("n_qcfail"))
    },

    // Windowed pileup — the classic per-base depth aggregation, composed
    // from the interval-pushed scan: only reads overlapping the window are
    // read (index-pruned splits + record residual), each explodes into its
    // in-window positions (explode factor bounded by the WINDOW, not the
    // read length), and depth is a map-side-combined count per position.
    // Whole-genome pileup is the same shape with per-region windows fanned
    // out — work stays reads × min(read_len, window) linear.
    "q_bam_pileup" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/pu.bam"
      val reads = Tables.lineitem(s, d).select(
        concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
        lit(0).cast("int").as("flags"),
        concat(lit("chr"), ($"l_partkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 13) % 5000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 13) % 5000) + 151).cast("int").as("end"),
        lit(60).cast("int").as("mapq"),
        lit("151M").as("cigar"),
        lit(null).cast("string").as("mateContig"),
        lit(0).cast("int").as("mateStart"),
        lit(0).cast("int").as("tlen"),
        lit("*").as("seq"),
        lit("*").as("qual"),
        map(lit("XO"), concat(lit("i:"), ($"l_orderkey" % 100).cast("string")))
          .as("attributes"))
      spread(reads).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).option("writeSbi", "true").saveFixture(path)
      val back = s.read.format("bam")
        .option("intervals", "chr0:1000-1299")
        .load(path)
      back
        // Explicit overlap guard: the interval reader already returns only
        // overlapping reads, but if one ever leaked past the residual
        // filter, sequence(greatest(start,1000), least(end,1299)) would
        // have start > stop and Spark silently generates a DESCENDING
        // sequence, corrupting depth counts — fail-safe, free when the
        // reader filters correctly.
        .filter($"start" <= 1299 && $"end" >= 1000)
        .select(explode(sequence(greatest($"start", lit(1000)),
          least($"end", lit(1299)))).as("p"))
        .select($"p".cast("long").as("pos"))
        .groupBy($"pos").agg(count(lit(1)).as("depth"))
        .orderBy($"pos")
    },

    // Insert-size histogram (the samtools-stats "IS" section): paired
    // reads carry a signed template length derived from lineitem,
    // round-trip through the sink + SBI-planned scan, and the histogram
    // is computed from what came back — 100-bp bins over |tlen| of the
    // leftward mate plus orientation counts, so a sign or magnitude the
    // codec mangles shifts a bin. One narrow scan + a bounded aggregate
    // (bins, not reads, cross the shuffle).
    "q_bam_isize" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/is.bam"
      // tlen: deterministic in [-1000, 1000], mate-symmetric sign from
      // the line number, zero for the unpaired minority (l_suppkey % 9)
      val mag = (($"l_partkey" * 7) % 1001).cast("int")
      val tlen = when($"l_suppkey" % 9 === 0, 0)
        .otherwise(when($"l_linenumber" % 2 === 0, mag).otherwise(-mag))
        .cast("int")
      val reads = Tables.lineitem(s, d).select(
        concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
        when($"l_suppkey" % 9 === 0, 0).otherwise(1).cast("int").as("flags"),
        concat(lit("chr"), ($"l_partkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 13) % 5000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 13) % 5000) + 151).cast("int").as("end"),
        lit(60).cast("int").as("mapq"),
        lit("151M").as("cigar"),
        lit(null).cast("string").as("mateContig"),
        lit(0).cast("int").as("mateStart"),
        tlen.as("tlen"),
        lit("*").as("seq"),
        lit("*").as("qual"),
        map(lit("XO"), concat(lit("i:"), ($"l_orderkey" % 100).cast("string")))
          .as("attributes"))
      spread(reads).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).option("writeSbi", "true").saveFixture(path)
      val back = s.read.format("bam").load(path)
      back
        .filter($"tlen" > 0) // the leftward mate counts each template once
        .select((expr("tlen div 100") * 100).cast("long").as("bin"))
        .groupBy($"bin")
        .agg(count(lit(1)).as("n_templates"))
        .orderBy($"bin")
    },

    // Variant-type census (the bcftools-stats shape): variants carrying
    // the full SNP/insertion/deletion allele vocabulary round-trip through
    // the VCF sink + scan, and the per-contig type/transition counts are
    // computed from what came back — any allele string the codec mangles
    // shifts a count against the oracle. One narrow scan + a tiny
    // per-contig aggregate.
    "q_vcf_stats" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/vs.vcf.bgz"
      val ref = when($"l_suppkey" % 7 === 0, "AT").otherwise("A")
      val alt = when($"l_suppkey" % 7 === 0, "A")
        .when($"l_suppkey" % 5 === 0, "AG")
        .otherwise(substring(lit("CGT"), ($"l_linenumber" % 3).cast("int") + 1, lit(1)))
      val vars = Tables.lineitem(s, d).select(
        concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 37) % 999000) + length(ref)).cast("int").as("end"),
        lit(null).cast("string").as("id"),
        ref.as("ref"),
        array(alt).as("alt"),
        ($"l_orderkey" % 100).cast("double").as("qual"),
        array(lit("PASS")).as("filters"),
        map(lit("DP"), $"l_suppkey".cast("string")).as("info"),
        array().cast(ArrayType(graft.vcf.Variant.genotypeType, containsNull = false)).as("genotypes"))
      spread(vars).write.format("vcf").mode("overwrite").option("compressionLevel", "1").saveFixture(path)
      val back = s.read.format("vcf").load(path)
      val a0 = element_at($"alt", 1)
      val isSnp = length($"ref") === 1 && length(a0) === 1
      def n(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        sum(when(c, 1L).otherwise(0L))
      back.groupBy($"contig")
        .agg(
          count(lit(1)).as("n_variants"),
          n(isSnp).as("n_snp"),
          n(length(a0) > length($"ref")).as("n_ins"),
          n(length($"ref") > length(a0)).as("n_del"),
          n(isSnp && a0 === "G").as("n_ts"),
          n(isSnp && (a0 === "C" || a0 === "T")).as("n_tv"),
          sum($"qual".cast("long")).as("sum_qual"))
        .orderBy($"contig")
    },

    // single-file sink (headerless parts + concat commit + .sbi co-write)
    // → splittable scan planned from the SBI index (binary search, no
    // heuristic boundary scan)
    "q_bam_roundtrip_single" -> { (s, d) =>
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/single.bam"
      spread(syntheticReads(s, d)).write.format("bam").mode("overwrite")
        .option("refs", Refs).option("writeSbi", "true").save(path)
      val back = s.read.format("bam").load(path)
      readsAggregate(back)
    },

    // BAM × VCF annotation compose: reads and variants each round-trip
    // through their own connector, then meet in the binned overlap
    // equi-join (the q_interval_join_binned shape — both sides corpus-
    // sized at 100 TB, so the join shuffles once on (contig, bin), never
    // nested-loops). Variants are points, so each lives in exactly ONE
    // bin and every overlapping pair appears exactly once — no dedup
    // rule, no distinct. This is the everyday genomics workload a
    // disq-style library exists for: annotate alignments with the
    // variants they cover, through real container formats end-to-end.
    "q_bam_vcf_annotate" -> { (s, d) =>
      import s.implicits._
      val base = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}"
      val bamPath = s"$base/anno.bam"
      val vcfPath = s"$base/anno.vcf.bgz"
      import org.apache.spark.sql.types._
      val vars = Tables.orders(s, d).filter($"o_orderkey" % 7 === 0).select(
        concat(lit("chr"), ($"o_orderkey" % 3).cast("string")).as("contig"),
        ((($"o_custkey" * 53) % 999000) + 1).cast("int").as("start"),
        ((($"o_custkey" * 53) % 999000) + 1).cast("int").as("end"),
        lit(null).cast("string").as("id"),
        lit("A").as("ref"),
        array(lit("T")).as("alt"),
        lit(50.0).as("qual"),
        array(lit("PASS")).as("filters"),
        map(lit("DP"), ($"o_orderkey" % 100).cast("string")).as("info"),
        array().cast(ArrayType(graft.vcf.Variant.genotypeType, containsNull = false))
          .as("genotypes"))
      inParallel( // independent fixtures: overlap the writes (guide §2.6)
        () => spread(syntheticReads(s, d)).write.format("bam").mode("overwrite")
          .option("compressionLevel", "1").option("refs", Refs)
          .option("writeSbi", "true").saveFixture(bamPath),
        () => spread(vars).write.format("vcf").mode("overwrite")
          .option("compressionLevel", "1").saveFixture(vcfPath))
      val reads = s.read.format("bam").load(bamPath)
        .select($"readName", $"contig", $"start".cast("long").as("rstart"),
          $"end".cast("long").as("rend"))
        .withColumn("bin", explode(expr("sequence(rstart div 250, rend div 250)")))
      val vcf = s.read.format("vcf").load(vcfPath)
        .select($"contig".as("vcontig"), $"start".cast("long").as("vstart"))
        .withColumn("vbin", expr("vstart div 250"))
      reads.join(vcf,
        $"contig" === $"vcontig" && $"bin" === $"vbin" &&
          $"vstart".between($"rstart", $"rend"))
        .groupBy($"contig")
        .agg(count(lit(1)).as("n_pairs"),
          sum($"vstart").as("sum_vstart"),
          countDistinct($"readName").as("n_reads_hit"))
        .orderBy($"contig")
    },

    // coordinate sort (the classic `samtools sort` operator — the
    // reference explicitly does NOT sort, README.md:139-141; every
    // downstream indexed/interval consumer requires it, so the engine
    // supplies it): range-repartition on (contig, start) gives globally
    // ordered partitions, each sorted locally — the standard distributed
    // total sort, no single-node bottleneck — and the name-ordered
    // single-file concat commit preserves that order on disk. The
    // read-back VERIFIES sortedness distributedly: within-split
    // inversions via a per-split window (parallel, split-bounded
    // memory), cross-split boundary inversions via a splits-sized rollup
    // — never one global window over the corpus.
    "q_bam_sort" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/sorted.bam"
      syntheticReads(s, d)
        .repartitionByRange(16, $"contig", $"start")
        .sortWithinPartitions($"contig", $"start")
        .write.format("bam").mode("overwrite")
        .option("refs", Refs).option("writeSbi", "true").save(path)
      val b = s.read.format("bam").load(path)
        .select($"contig", $"start".cast("long").as("start"))
        .withColumn("mid", monotonically_increasing_id())
        .withColumn("pid", shiftright($"mid", 33))
      val w = Window.partitionBy($"pid").orderBy($"mid")
      val within = b
        .withColumn("pc", lag($"contig", 1).over(w))
        .withColumn("ps", lag($"start", 1).over(w))
        .withColumn("inv",
          when($"pc".isNull, 0L)
            .when($"pc" > $"contig" || ($"pc" === $"contig" && $"ps" > $"start"), 1L)
            .otherwise(0L))
        .agg(count(lit(1)).as("n_records"), sum($"start").as("sum_start"),
          sum($"inv").as("inv_within"))
      // unpartitioned by design: input is the PER-TASK boundary rollup —
      // one row per read partition (#partitions, not #records), constant
      // at any data scale (PlanHygieneSpec allowlist: q_bam_sort)
      val wp = Window.orderBy($"pid")
      val bound = b.groupBy($"pid")
        .agg(min_by(struct($"contig", $"start"), $"mid").as("first"),
          max_by(struct($"contig", $"start"), $"mid").as("last"))
        .withColumn("prev_last", lag($"last", 1).over(wp))
        .withColumn("binv",
          when($"prev_last".isNull, 0L)
            .when($"prev_last.contig" > $"first.contig" ||
              ($"prev_last.contig" === $"first.contig" &&
                $"prev_last.start" > $"first.start"), 1L)
            .otherwise(0L))
        .agg(sum($"binv").as("inv_bound"))
      within.crossJoin(bound)
        .select($"n_records", $"sum_start",
          ($"inv_within" + $"inv_bound").as("n_inversions"))
    },

    // sharded sink (complete per-partition files) → multi-file scan
    "q_bam_roundtrip_sharded" -> { (s, d) =>
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/sharded"
      syntheticReads(s, d).repartition(8).write.format("bam").mode("overwrite")
        .option("refs", Refs).save(path)
      val back = s.read.format("bam").load(path)
      readsAggregate(back)
    },

    // SAM text sink/scan round-trip (same aggregate, text codec path)
    "q_sam_roundtrip" -> { (s, d) =>
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/single.sam"
      spread(syntheticReads(s, d)).write.format("sam").mode("overwrite")
        .option("refs", Refs).save(path)
      val back = s.read.format("sam").load(path)
      readsAggregate(back)
    },

    // VCF sink/scan round-trip through splittable BGZF text
    "q_vcf_roundtrip" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/single.vcf.bgz"
      spread(syntheticVariants(s, d)).write.format("vcf").mode("overwrite").save(path)
      val back = s.read.format("vcf").load(path)
      back.groupBy($"contig")
        .agg(
          count(lit(1)).as("n_variants"),
          sum($"start".cast("long")).as("sum_start"),
          sum($"qual").cast("long").as("sum_qual"),
          sum(element_at($"info", "DP").cast("long")).as("sum_dp"),
          sum(when(element_at($"alt", 1) === "G", 1L).otherwise(0L)).as("n_alt_g"))
        .orderBy($"contig")
    },

    // coordinate LIFTOVER: every read remapped to a target assembly
    // through a chain of fixed-width segments (the liftOver operator).
    // The chain is assembly-sized — KB, not corpus — so it BROADCASTS and
    // the remap is a narrow projection + broadcast join keyed on the
    // segment index ((start-1) div width): no range probe, no shuffle of
    // the reads. Reads whose segment has no chain entry are "unlifted"
    // and counted rather than dropped silently — the failure mode
    // liftOver pipelines must surface.
    "q_bam_liftover" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/lift.bam"
      spread(syntheticReads(s, d)).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).option("writeSbi", "true").saveFixture(path)
      // chain: 20 of the 25 segments per contig lift (nation 23,24 and
      // region keys drop segments deterministically)
      val chain = Tables.nation(s, d)
        .crossJoin(Tables.region(s, d).select($"r_regionkey").filter($"r_regionkey" < 3))
        .filter($"n_nationkey" < 20)
        .select(concat(lit("chr"), $"r_regionkey".cast("string")).as("ccontig"),
          $"n_nationkey".cast("long").as("cseg"),
          (($"n_nationkey" * 37 + $"r_regionkey" * 101) % 500000 + 1000000L).as("dst"))
      val back = s.read.format("bam").load(path)
        .select($"contig", $"start".cast("long").as("start"))
        .withColumn("seg", expr("(start - 1) div 40000"))
      back.join(broadcast(chain),
          $"contig" === $"ccontig" && $"seg" === $"cseg", "left")
        .select($"contig", $"start",
          when($"dst".isNotNull, $"dst" + ($"start" - 1) % 40000).as("new_start"))
        .groupBy($"contig")
        .agg(count(lit(1)).as("n_reads"),
          sum(when($"new_start".isNotNull, 1L).otherwise(0L)).as("n_lifted"),
          sum(coalesce($"new_start", lit(0L))).as("sum_new_start"))
        .orderBy($"contig")
    },

    // varied-CIGAR round-trip: five op shapes (pure match, soft clips,
    // deletion, spliced N-skip, hard clip) encode to binary BAM cigars and
    // decode back; the scan's `end` column is COMPUTED from the decoded
    // cigar's reference length (BamCodec.scala:161), so sum_end hash-
    // matching the oracle's closed-form CASE pins the cigar binary codec
    // (op nibbles + lengths) end-to-end through write→read, not just the
    // string field. Narrow pipeline either side of the connector.
    "q_bam_cigar_ops" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/cigar.bam"
      val cig = expr("""CASE CAST(l_linenumber % 8 AS INT)
        WHEN 0 THEN '151M' WHEN 1 THEN '10S131M10S' WHEN 2 THEN '75M2D74M'
        WHEN 3 THEN '50M1000N101M' WHEN 4 THEN '5H146M' WHEN 5 THEN '70M8I73M'
        WHEN 6 THEN '100=2X49=' ELSE '75M1P76M' END""")
      val reads = Tables.lineitem(s, d).select(
        concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
        lit(0).cast("int").as("flags"),
        concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 990000) + 1).cast("int").as("start"),
        lit(0).cast("int").as("end"), // writer recomputes from cigar
        lit(60).cast("int").as("mapq"),
        cig.as("cigar"),
        lit(null).cast("string").as("mateContig"),
        lit(0).cast("int").as("mateStart"),
        lit(0).cast("int").as("tlen"),
        lit("*").as("seq"),
        lit("*").as("qual"),
        map(lit("XO"), concat(lit("i:"), ($"l_orderkey" % 100).cast("string")))
          .as("attributes"))
      spread(reads).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).saveFixture(path)
      s.read.format("bam").load(path)
        .groupBy($"cigar")
        .agg(count(lit(1)).as("n_reads"),
          sum($"start".cast("long")).as("sum_start"),
          sum($"end".cast("long")).as("sum_end"))
        .orderBy($"cigar")
    },

    // BAM → LAKEHOUSE export: the connector's output lands as a
    // contig-PARTITIONED parquet lake (the standard "reads warehouse"
    // step), and the downstream contig query must prune to one
    // directory — PartitionFilters, zero row-level contig work. This is
    // the layout under which 100 TB of reads answers per-contig
    // questions without touching the other contigs' files; the map-typed
    // attributes column survives the parquet round-trip.
    "q_reads_lake" -> { (s, d) =>
      import s.implicits._
      val base = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}"
      val path = s"$base/lake_src.bam"
      val lake = s"$base/reads_lake"
      spread(syntheticReads(s, d)).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).saveFixture(path)
      s.read.format("bam").load(path)
        .write.partitionBy("contig").mode("overwrite").parquet(lake)
      s.read.parquet(lake)
        .filter($"contig" === "chr1")
        .groupBy($"contig")
        .agg(count(lit(1)).as("n_reads"),
          sum($"start".cast("long")).as("sum_start"),
          sum(substring(element_at($"attributes", "XO"), 3, 10).cast("long")).as("sum_tag"))
        .orderBy($"contig")
    },

    // multi-sample VCF MERGE (`bcftools merge` shape): two single-sample
    // cohort VCFs round-trip through the connector, then meet in a
    // FULL OUTER join on the site key — present-in-one sites keep their
    // genotype, present-in-both sites concatenate genotype arrays. The
    // join shuffles both sides once on (contig, start) — site-keyed, the
    // natural merge key at any cohort count — and the rollup pins which
    // sites matched and whose DP survived, so a join-type or
    // genotype-concat bug hash-mismatches.
    "q_vcf_merge" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      val base = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}"
      def cohort(parity: Int, sample: String): DataFrame = {
        val sites = Tables.orders(s, d).filter($"o_orderkey" % 2 === parity)
          .select(concat(lit("chr"), ($"o_orderkey" % 3).cast("string")).as("contig"),
            ((($"o_custkey" * 53) % 999000) + 1).cast("int").as("start"))
          .groupBy($"contig", $"start").agg(count(lit(1)).cast("int").as("dp"))
        sites.select($"contig", $"start", $"start".as("end"),
          lit(null).cast("string").as("id"), lit("A").as("ref"),
          array(lit("T")).as("alt"), lit(40.0).as("qual"),
          array(lit("PASS")).as("filters"),
          map().cast(MapType(StringType, StringType, valueContainsNull = false)).as("info"),
          array(struct(lit(sample).as("sample"), lit("0/1").as("gt"),
            map(lit("DP"), $"dp".cast("string")).as("fields"))).as("genotypes"))
      }
      val pa = s"$base/merge_a.vcf.bgz"; val pb = s"$base/merge_b.vcf.bgz"
      inParallel( // independent cohorts: overlap the writes (guide §2.6)
        () => spread(cohort(0, "sa")).write.format("vcf").mode("overwrite")
          .option("compressionLevel", "1").save(pa),
        () => spread(cohort(1, "sb")).write.format("vcf").mode("overwrite")
          .option("compressionLevel", "1").save(pb))
      val a = s.read.format("vcf").load(pa)
        .select($"contig", $"start", $"genotypes".as("ga"))
      val b = s.read.format("vcf").load(pb)
        .select($"contig".as("bcontig"), $"start".as("bstart"), $"genotypes".as("gb"))
      a.join(b, $"contig" === $"bcontig" && $"start" === $"bstart", "full_outer")
        .select(coalesce($"contig", $"bcontig").as("mcontig"),
          $"ga", $"gb",
          concat(coalesce($"ga", array()), coalesce($"gb", array())).as("merged"))
        .groupBy($"mcontig".as("contig"))
        .agg(
          sum(when($"ga".isNotNull && $"gb".isNotNull, 1L).otherwise(0L)).as("n_both"),
          sum(when($"ga".isNotNull && $"gb".isNull, 1L).otherwise(0L)).as("n_a_only"),
          sum(when($"ga".isNull && $"gb".isNotNull, 1L).otherwise(0L)).as("n_b_only"),
          sum(aggregate($"merged", lit(0L),
            (acc, g) => acc + element_at(g.getField("fields"), "DP").cast("long")))
            .as("sum_dp"))
        .orderBy($"contig")
    },

    // genotype-carrying VCF round-trip: three samples per site with
    // GT + per-sample DP fields, pushed through the FORMAT/genotype
    // serializer and the split-aware scan, then per-(contig, sample)
    // het/hom-alt counts — the population-genetics rollup that breaks if
    // FORMAT key ordering, sample labeling across shards, or the
    // genotype-column lazy decode mangles anything.
    "q_vcf_genotypes" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/gt.vcf.bgz"
      def geno(j: Int) = {
        val code = ($"l_orderkey" + lit(j) * $"l_linenumber") % 3
        struct(
          lit(s"s$j").as("sample"),
          when(code === 0, "0/0").when(code === 1, "0/1").otherwise("1/1").as("gt"),
          map(lit("DP"), (($"l_suppkey" + lit(j)) % 50).cast("string")).as("fields"))
      }
      val vars = Tables.lineitem(s, d).select(
        concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("end"),
        lit(null).cast("string").as("id"),
        lit("A").as("ref"),
        array(lit("G")).as("alt"),
        lit(30.0).as("qual"),
        array(lit("PASS")).as("filters"),
        map().cast(MapType(StringType, StringType, valueContainsNull = false)).as("info"),
        array(geno(1), geno(2), geno(3)).as("genotypes"))
      spread(vars).write.format("vcf").mode("overwrite").option("compressionLevel", "1").saveFixture(path)
      val back = s.read.format("vcf").load(path)
      back.select($"contig", explode($"genotypes").as("g"))
        .groupBy($"contig", $"g.sample".as("sample"))
        .agg(count(lit(1)).as("n"),
          sum(when($"g.gt" === "0/1", 1L).otherwise(0L)).as("n_het"),
          sum(when($"g.gt" === "1/1", 1L).otherwise(0L)).as("n_homalt"),
          sum(element_at($"g.fields", "DP").cast("long")).as("sum_dp"))
        .orderBy($"contig", $"sample")
    },

    // ANNOTATED-VCF projection read — the infoFields option end-to-end on
    // the shape that dominates real annotated callsets: every site carries
    // a ~600-byte CSQ/ANN payload (VEP-style pipe-delimited consequence
    // strings) plus the small DP/AF keys, and the query reads ONLY DP via
    // .option("infoFields", "DP") — the kilobyte annotations are boundary-
    // scanned, never materialized into strings or map entries, and no
    // per-site info map is built beyond the one requested key. The oracle
    // never sees CSQ (it replays DP from lineitem), so the hash pins that
    // skipping annotations cannot perturb what IS read.
    "q_vcf_info_projection" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/annotated.vcf.bgz"
      // deterministic ~600-char VEP-ish consequence string, varied per site
      val csq = concat(
        lit("G|missense_variant|MODERATE|GENE"),
        ($"l_partkey" % 997).cast("string"),
        lit("|ENSG"), (($"l_partkey" * 31) % 100000).cast("string"),
        lit("|Transcript|ENST"), (($"l_orderkey" * 17) % 100000).cast("string"),
        lit("|protein_coding|"),
        repeat(concat(lit("exon"), ($"l_linenumber" % 20).cast("string"),
          lit("/20|c."), (($"l_partkey" * 7) % 3000).cast("string"),
          lit("A>G|p.Lys"), (($"l_partkey" * 11) % 900).cast("string"),
          lit("Arg|tol(0."), ($"l_suppkey" % 99).cast("string"), lit(")|")), 8))
      val vars = Tables.lineitem(s, d).select(
        concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("end"),
        lit(null).cast("string").as("id"),
        lit("A").as("ref"),
        array(lit("G")).as("alt"),
        lit(30.0).as("qual"),
        array(lit("PASS")).as("filters"),
        map(
          lit("DP"), ($"l_suppkey" % 100).cast("string"),
          lit("AF"), concat(lit("0."), ($"l_partkey" % 1000).cast("string")),
          lit("CSQ"), csq).as("info"),
        array(struct(lit("s1").as("sample"), lit("0/1").as("gt"),
          map().cast(MapType(StringType, StringType, valueContainsNull = false))
            .as("fields"))).as("genotypes"))
      spread(vars).write.format("vcf").mode("overwrite").option("compressionLevel", "1").saveFixture(path)
      // no infoFields option: the AutoProjection rule derives it from the
      // literal element_at key below (option-free since round 14)
      val back = s.read.format("vcf").load(path)
      back
        .select($"contig", element_at($"info", "DP").cast("long").as("dp"))
        .groupBy($"contig")
        .agg(count(lit(1)).as("n_sites"), sum($"dp").as("sum_dp"),
          max($"dp").as("max_dp"))
        .orderBy($"contig")
    },

    // WIDE-FORMAT projection read — option-free FORMAT projection end-to-end
    // under the oracle: every genotype carries FIVE FORMAT keys
    // (GT:DP:GQ:AD:PL, the realistic caller payload) across 12 samples,
    // and the query reads only GT + DP; the AutoProjection rule derives
    // formatFields=DP from the literal element_at key, so the GQ/AD/PL
    // values of every sample column are boundary-scanned, never
    // materialized (VcfFormatProjectionSpec proves the skip at codec
    // level; VcfAutoProjectionSpec pins the derivation; this pins it
    // through the full scan + oracle).
    "q_vcf_format_projection" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/wideformat.vcf.bgz"
      def geno(j: Int) = {
        val code = ($"l_orderkey" + lit(j) * $"l_linenumber") % 3
        val dp = ($"l_suppkey" + lit(j)) % 50
        struct(
          lit(f"s$j%02d").as("sample"),
          when(code === 0, "0/0").when(code === 1, "0/1").otherwise("1/1").as("gt"),
          map(
            lit("DP"), dp.cast("string"),
            lit("GQ"), (($"l_partkey" + lit(j)) % 99).cast("string"),
            lit("AD"), concat((dp - dp % 3).cast("string"), lit(","), (dp % 3).cast("string")),
            lit("PL"), concat((($"l_partkey" * 3 + lit(j)) % 255).cast("string"),
              lit(",0,"), (($"l_partkey" * 7 + lit(j)) % 255).cast("string"))).as("fields"))
      }
      val vars = Tables.lineitem(s, d).select(
        concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("end"),
        lit(null).cast("string").as("id"),
        lit("A").as("ref"),
        array(lit("G")).as("alt"),
        lit(30.0).as("qual"),
        array(lit("PASS")).as("filters"),
        map().cast(MapType(StringType, StringType, valueContainsNull = false)).as("info"),
        array((1 to 12).map(geno): _*).as("genotypes"))
      spread(vars).write.format("vcf").mode("overwrite").option("compressionLevel", "1").saveFixture(path)
      // no formatFields option: the AutoProjection rule derives DP from
      // the literal element_at key below (GT rides the nested struct pruning)
      val back = s.read.format("vcf").load(path)
      back.select(explode($"genotypes").as("g"))
        .groupBy($"g.sample".as("sample"))
        .agg(count(lit(1)).as("n_sites"),
          sum(when($"g.gt" === "0/1", 1L).otherwise(0L)).as("n_het"),
          sum(element_at($"g.fields", "DP").cast("long")).as("sum_dp"))
        .orderBy($"sample")
    },

    // mate-pair recomputation (samtools `fixmate`): each source row emits
    // BOTH mates of one template (mate 2 at a row-derived gap); after the
    // connector round-trip the mates are re-united by ONE groupBy on
    // readName — the canonical fixmate shuffle, corpus-linear with
    // template-bounded groups — and each template's span/insert is
    // recomputed from both mates' coordinates. Template names derive from
    // the row's fields, so a fully-duplicated source row collides into a
    // 4-member group and is dropped by the exact-2 rule on BOTH sides
    // (the oracle groups the same synthesized mate set the same way).
    "q_bam_fixmate" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/fixmate.bam"
      val src = Tables.lineitem(s, d).select(
        concat_ws("-", lit("t"), $"l_orderkey", $"l_linenumber",
          $"l_partkey", $"l_suppkey").as("readName"),
        concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("rstart"),
        (($"l_suppkey" % 300) + 200).cast("int").as("gap"),
        ($"l_orderkey" % 100).cast("string").as("tag"))
      val paired = src
        .select($"readName", $"contig", $"tag",
          posexplode(array($"rstart", $"rstart" + $"gap")).as(Seq("mate", "start")))
        .select(
          $"readName",
          when($"mate" === 0, 67).otherwise(131).cast("int").as("flags"),
          $"contig",
          $"start",
          ($"start" + 150).as("end"),
          lit(60).cast("int").as("mapq"),
          lit("151M").as("cigar"),
          lit(null).cast("string").as("mateContig"),
          lit(0).cast("int").as("mateStart"),
          lit(0).cast("int").as("tlen"),
          lit("*").as("seq"),
          lit("*").as("qual"),
          map(lit("XO"), concat(lit("i:"), $"tag")).as("attributes"))
      spread(paired).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).option("writeSbi", "true").saveFixture(path)
      val back = s.read.format("bam").load(path)
      back.select($"readName", $"contig", $"start".cast("long").as("start"))
        .groupBy($"readName", $"contig")
        .agg(count(lit(1)).as("n"), min($"start").as("s1"), max($"start").as("s2"))
        .filter($"n" === 2)
        .groupBy($"contig")
        .agg(count(lit(1)).as("n_templates"),
          sum($"s1").as("sum_s1"), sum($"s2").as("sum_s2"),
          sum($"s2" + 151 - $"s1").as("sum_tlen"))
        .orderBy($"contig")
    },

    // deterministic pair-preserving subsample (samtools `view -s`
    // semantics): the keep decision hashes the READ NAME, so both mates
    // of a template always land together — the invariant naive
    // row-sampling breaks. Narrow filter over the scan (no shuffle, no
    // state); the fraction is exact-in-expectation and reproducible
    // across reruns and cluster sizes because the hash is content-keyed,
    // not partition-keyed.
    "q_bam_subsample" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/sub.bam"
      spread(syntheticReads(s, d)).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).option("writeSbi", "true").saveFixture(path)
      val back = s.read.format("bam").load(path)
        .filter(graft.functions.GraftFunctions.hash60(
          concat(lit("sub|"), $"readName")) % 100 < 25)
      readsAggregate(back)
    },

    // genomic interval predicate applied inside the scan (traversal params)
    "q_bam_intervals" -> { (s, d) =>
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/iv.bam"
      spread(syntheticReads(s, d)).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).option("writeSbi", "true").saveFixture(path)
      val back = s.read.format("bam")
        .option("intervals", "chr0:1-5000,chr1:2000-7000")
        .load(path)
      readsAggregate(back)
    },

    // indexed VCF interval scan: coordinate-sorted BGZF VCF with a tabix
    // .tbi co-write; the scan plans only byte ranges the index says can
    // overlap (split pruning), residual filter keeps exactness
    "q_vcf_intervals" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/iv.vcf.bgz"
      syntheticVariants(s, d)
        .repartitionByRange(8, $"contig", $"start")
        .sortWithinPartitions($"contig", $"start")
        .write.format("vcf").mode("overwrite").option("compressionLevel", "1").option("writeTbi", "true").saveFixture(path)
      val back = s.read.format("vcf").option("splitSize", 64 * 1024)
        .option("intervals", "chr0:1-5000,chr2:30000-40000")
        .load(path)
      back.groupBy($"contig")
        .agg(
          count(lit(1)).as("n_variants"),
          sum($"start".cast("long")).as("sum_start"),
          sum(element_at($"info", "DP").cast("long")).as("sum_dp"))
        .orderBy($"contig")
    },

    // interval scan over PLAIN-TEXT VCF pruned via the tribble `.idx`
    // linear index (the reference's other index route, IndexFactory-loaded
    // at VcfSource.java:157) — same aggregate as q_vcf_intervals so any
    // pruning loss would hash-mismatch
    "q_vcf_idx_intervals" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/idxiv.vcf"
      syntheticVariants(s, d)
        .repartitionByRange(8, $"contig", $"start")
        .sortWithinPartitions($"contig", $"start")
        .write.format("vcf").mode("overwrite").option("compressionLevel", "1").option("writeIdx", "true").saveFixture(path)
      val back = s.read.format("vcf").option("splitSize", 64 * 1024)
        .option("intervals", "chr0:1-5000,chr2:30000-40000")
        .load(path)
      back.groupBy($"contig")
        .agg(
          count(lit(1)).as("n_variants"),
          sum($"start".cast("long")).as("sum_start"),
          sum(element_at($"info", "DP").cast("long")).as("sum_dp"))
        .orderBy($"contig")
    },

    // CRAM container-level round-trip (reference CramSource.java:57-151 /
    // CramSink.java:35-85 planning semantics): deterministic container specs
    // are written through the single-file cram sink (file definition +
    // containers + EOF terminator + `.crai` co-write rebased through the
    // concat commit), then scanned back with an interval predicate — the
    // scan prunes whole containers via the `.crai` (never walking pruned
    // headers) with a residual header-coordinate filter for exactness.
    // Container geometry is what the reference's split planner computes;
    // the RECORD model has its own round-trips (q_cram_roundtrip,
    // q_cram_intervals below).
    "q_cram_containers" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/inv.cram"
      val containers = Tables.supplier(s, d).select(
        ($"s_suppkey" % 3).cast("int").as("ref_seq_id"),
        (($"s_suppkey" * 131) % 99000 + 1).cast("int").as("start_pos"),
        (($"s_suppkey" % 50) * 10 + 100).cast("int").as("span"),
        ($"s_suppkey" % 100 + 1).cast("int").as("n_records"),
        (($"s_suppkey" % 7) * 16).cast("int").as("data_length"))
      spread(containers).write.format("cram").mode("overwrite")
        .option("writeCrai", "true").saveFixture(path)
      val back = s.read.format("cram").option("splitSize", 4 * 1024)
        .option("intervals", "0:1-50000,2:60000-99999")
        .load(path)
      back.groupBy($"ref_seq_id")
        .agg(
          count(lit(1)).as("n_containers"),
          sum($"start_pos".cast("long")).as("sum_start"),
          sum($"span".cast("long")).as("sum_span"),
          sum($"n_records".cast("long")).as("sum_records"),
          sum($"data_length".cast("long")).as("sum_len"))
        .orderBy($"ref_seq_id")
    },

    // CRAM RECORD-level round-trip: the same synthetic reads as the BAM
    // round-trips pushed through the native record codec (CramRecordWriter
    // v3 profile encode → headerless parts + concat + rebased `.crai` →
    // CramRecordCodec decode over crai-planned container splits). Any codec
    // asymmetry, container framing error, or crai rebase bug hash-mismatches
    // against the SAME DuckDB oracle the BAM/SAM round-trips use.
    "q_cram_roundtrip" -> { (s, d) =>
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/rec.cram"
      spread(syntheticReads(s, d)).write.format("cram").mode("overwrite")
        .option("records", "true").option("refs", Refs)
        .option("writeCrai", "true").save(path)
      val back = s.read.format("cram").option("records", "true")
        .load(path)
      readsAggregate(back)
    },

    // CRAM 3.1 round-trip: same records, same aggregate, same oracle as
    // q_cram_roundtrip — but the file definition is (3,1) and the QS/BB
    // series blocks compress with rANS Nx16 (CRAM method 5, the codec
    // modern htslib emits by default). A codec or framing bug anywhere in
    // the Nx16 encode/decode pair hash-mismatches the DuckDB oracle.
    "q_cram_v31" -> { (s, d) =>
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/rec31.cram"
      spread(syntheticReads(s, d)).write.format("cram").mode("overwrite")
        .option("records", "true").option("refs", Refs).option("version", "3.1")
        .option("writeCrai", "true").saveFixture(path)
      val back = s.read.format("cram").option("records", "true")
        .load(path)
      readsAggregate(back)
    },

    // CRAM record-level interval scan: coordinate-sorted records, `.crai`
    // container pruning + record-level residual filter (the CRAM twin of
    // q_bam_intervals — identical oracle WHERE)
    "q_cram_intervals" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/iv.cram"
      syntheticReads(s, d)
        .repartitionByRange(8, $"contig", $"start")
        .sortWithinPartitions($"contig", $"start")
        .write.format("cram").mode("overwrite").option("compressionLevel", "1")
        .option("records", "true").option("refs", Refs)
        .option("recordsPerContainer", "2000")
        .option("writeCrai", "true").saveFixture(path)
      val back = s.read.format("cram").option("records", "true")
        .option("splitSize", 64 * 1024)
        .option("intervals", "chr0:1-5000,chr1:2000-7000")
        .load(path)
      readsAggregate(back)
    },

    // Reference-based CRAM round-trip (RR=1): reads carry REAL sequences
    // agreeing with a deterministic FASTA the query writes, plus a planted
    // SNP at read position 1 on every start%10==0 read — so the encode
    // exercises implicit-match elision AND X substitution codes, and the
    // decode reconstructs every base from reference preads
    // (FastaRefSource). The aggregate folds per-base composition (A/G
    // counts) of the RECONSTRUCTED sequence: one wrong base anywhere in
    // the corpus hash-mismatches against the analytic oracle.
    "q_cram_refbased" -> { (s, d) =>
      import s.implicits._
      val dir = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}"
      val fasta = writeRefFasta(dir)
      val path = s"$dir/refb.cram"
      val base = lit("ATGC" * 39).substr((($"start" - 1) % 4 + 1).cast("int"), lit(151))
      val snp = lit("ATGC").substr((($"start" + 1) % 4 + 1).cast("int"), lit(1))
      // qual stays "*" (CF bit): the 90 MB quality stream would just price
      // rANS twice more — the reference-based SEQ machinery is the measure
      syntheticReads(s, d)
        .withColumn("seq",
          when($"start" % 10 === 0, concat(snp, substring(base, 2, 150))).otherwise(base))
        .repartitionByRange(8, $"contig", $"start")
        .sortWithinPartitions($"contig", $"start")
        .write.format("cram").mode("overwrite").option("compressionLevel", "1")
        .option("records", "true").option("refs", Refs)
        .option("fasta", fasta)
        .option("writeCrai", "true").saveFixture(path)
      val back = s.read.format("cram").option("records", "true")
        .option("fasta", fasta).load(path)
      back.groupBy($"contig")
        .agg(
          count(lit(1)).as("n_reads"),
          sum($"start".cast("long")).as("sum_start"),
          sum((length($"seq") - length(replace($"seq", lit("A")))).cast("long")).as("sum_a"),
          sum((length($"seq") - length(replace($"seq", lit("G")))).cast("long")).as("sum_g"),
          sum(substring(element_at($"attributes", "XO"), 3, 10).cast("long")).as("sum_tag"))
        .orderBy($"contig")
    },

    // varied-CIGAR round-trip through the CRAM FEATURE codec — the CRAM
    // twin of q_bam_cigar_ops, exercising a different code path entirely:
    // cigars become read features (SC soft-clip bytes, DL deletions, RS
    // ref-skips, HC hard-clips) plus reference-based base reconstruction
    // across the feature boundaries. Sequences are PHASE-ALIGNED to the
    // 4-periodic FASTA (D/N lengths ≡ 0 mod 4, the S shape shifts its
    // phase by its clip length) so M-block bases match the reference and
    // the clip/insert bytes ride as literal features; the decoded seq,
    // cigar, and cigar-derived end must all reproduce the closed forms.
    "q_cram_cigar_ops" -> { (s, d) =>
      import s.implicits._
      val dir = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}"
      val fasta = writeRefFasta(dir)
      val path = s"$dir/cigar.cram"
      val shape = ($"l_linenumber" % 6).cast("int")
      val cig = when(shape === 0, "151M").when(shape === 1, "10S131M10S")
        .when(shape === 2, "75M4D72M").when(shape === 3, "50M1000N101M")
        .when(shape === 4, "5H146M").otherwise("70M8I73M")
      val rlen = when(shape === 0, 151).when(shape === 1, 151)
        .when(shape === 2, 147).when(shape === 3, 151)
        .when(shape === 4, 146).otherwise(151)
      val startCol = ((($"l_partkey" * 37) % 990000) + 1).cast("int")
      val phase2 = pmod(startCol - 1 - when(shape === 1, 10).otherwise(0), lit(4))
        .cast("int") + 1
      val reads = Tables.lineitem(s, d).select(
        concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
        lit(0).cast("int").as("flags"),
        concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
        startCol.as("start"),
        lit(0).cast("int").as("end"),
        lit(60).cast("int").as("mapq"),
        cig.as("cigar"),
        lit(null).cast("string").as("mateContig"),
        lit(0).cast("int").as("mateStart"),
        lit(0).cast("int").as("tlen"),
        lit("ATGC" * 40).substr(phase2, rlen).as("seq"),
        lit("*").as("qual"),
        map(lit("XO"), concat(lit("i:"), ($"l_orderkey" % 100).cast("string")))
          .as("attributes"))
      reads
        .repartitionByRange(8, $"contig", $"start")
        .sortWithinPartitions($"contig", $"start")
        .write.format("cram").mode("overwrite").option("compressionLevel", "1")
        .option("records", "true").option("refs", Refs)
        .option("fasta", fasta).saveFixture(path)
      s.read.format("cram").option("records", "true")
        .option("fasta", fasta).load(path)
        .groupBy($"cigar")
        .agg(count(lit(1)).as("n_reads"),
          sum($"start".cast("long")).as("sum_start"),
          sum($"end".cast("long")).as("sum_end"),
          sum((length($"seq") - length(replace($"seq", lit("A")))).cast("long")).as("sum_a"))
        .orderBy($"cigar")
    },

    // interval scan driven by the standard external `.bai` index: the file
    // is coordinate-sorted (range partition + sort, parts concat in range
    // order), indexed at write, and carries NO .sbi/.gci — the scan must
    // jump via BAI bins/linear index alone (external-BAM interop path)
    "q_bam_bai_intervals" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/bai.bam"
      syntheticReads(s, d)
        .repartitionByRange(8, $"contig", $"start")
        .sortWithinPartitions($"contig", $"start")
        .write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).option("writeBai", "true").saveFixture(path)
      val back = s.read.format("bam").option("splitSize", 64 * 1024)
        .option("intervals", "chr0:1-5000,chr1:2000-7000")
        .load(path)
      readsAggregate(back)
    },

    // K-MER SPECTRUM (k=8) over connector-read alignments — the classic
    // genomics distributed profile (jellyfish/KMC shape). Each read's
    // 32-base sequence is window-exploded into its 25 overlapping 8-mers
    // (a narrow Generate — no shuffle), counted per k-mer (ONE hash
    // aggregate whose key space is bounded by 4^k, not the corpus), then
    // rolled into the multiplicity histogram (tiny second shuffle over
    // distinct counts). At 100 TB the only wide exchange carries ≤65536
    // partial k-mer counts per partition — map-side combine does the rest.
    // Sequences round-trip through the BAM 4-bit base codec first, so a
    // corrupted base anywhere shifts the spectrum.
    "q_kmer_spectrum" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/kmer.bam"
      val reads = Tables.lineitem(s, d).select(
        concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
        lit(0).cast("int").as("flags"),
        concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
        lit(0).cast("int").as("end"), // writer recomputes from cigar
        lit(60).cast("int").as("mapq"),
        lit("32M").as("cigar"),
        lit(null).cast("string").as("mateContig"),
        lit(0).cast("int").as("mateStart"),
        lit(0).cast("int").as("tlen"),
        lit(KmerAlpha).substr((($"l_partkey" * 13) % 33).cast("int") + 1, lit(32))
          .as("seq"),
        lit("*").as("qual"),
        map(lit("XO"), concat(lit("i:"), ($"l_orderkey" % 100).cast("string")))
          .as("attributes"))
      spread(reads).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).saveFixture(path)
      s.read.format("bam").load(path)
        .select($"seq", explode(sequence(lit(1), lit(25))).as("p"))
        .select(expr("substring(seq, p, 8)").as("kmer"))
        .groupBy($"kmer").agg(count(lit(1)).as("n"))
        .groupBy($"n").agg(count(lit(1)).as("n_kmers"))
        .select($"n".as("multiplicity"), $"n_kmers")
        .orderBy($"multiplicity")
    },

    // GC CONTENT per contig (the fastqc staple): base composition of the
    // round-tripped sequences as exact integer ppm — one codegen'd pass
    // (length/replace counting, no explode), per-contig rollup.
    "q_gc_content" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/gc.bam"
      val reads = Tables.lineitem(s, d).select(
        concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
        lit(0).cast("int").as("flags"),
        concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
        lit(0).cast("int").as("end"),
        lit(60).cast("int").as("mapq"),
        lit("32M").as("cigar"),
        lit(null).cast("string").as("mateContig"),
        lit(0).cast("int").as("mateStart"),
        lit(0).cast("int").as("tlen"),
        lit(KmerAlpha).substr((($"l_partkey" * 13) % 33).cast("int") + 1, lit(32))
          .as("seq"),
        lit("*").as("qual"),
        map(lit("XO"), lit("i:1")).as("attributes"))
      spread(reads).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).saveFixture(path)
      s.read.format("bam").load(path)
        .select($"contig",
          (length($"seq") - length(replace($"seq", lit("G")))
            + length($"seq") - length(replace($"seq", lit("C")))).cast("long").as("gc"),
          length($"seq").cast("long").as("len"))
        .groupBy($"contig")
        .agg(count(lit(1)).as("n_reads"), sum($"gc").as("gc_bases"),
          sum($"len").as("total_bases"))
        .select($"contig", $"n_reads", $"gc_bases", $"total_bases",
          expr("gc_bases * 1000000 div total_bases").as("gc_ppm"))
        .orderBy($"contig")
    },

    // PAIRWISE RELATEDNESS (plink/KING IBS shape) over the trio VCF: for
    // each sample pair, sites are classed IBS0/1/2 by dosage distance —
    // three fixed pairs means the whole per-site classification is one
    // codegen'd projection (no pair explode), and the rollup shuffles nine
    // counters. At cohort scale the pair set grows but the discipline
    // holds: per-site narrow classify, pair-keyed bounded rollup.
    "q_vcf_relatedness" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/ibs.vcf.bgz"
      def geno(name: String, code: org.apache.spark.sql.Column) = struct(
        lit(name).as("sample"),
        when(code === 0, "0/0").when(code === 1, "0/1").otherwise("1/1").as("gt"),
        map().cast(MapType(StringType, StringType, valueContainsNull = false))
          .as("fields"))
      val vars = Tables.lineitem(s, d).select(
        concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("end"),
        lit(null).cast("string").as("id"),
        lit("A").as("ref"), array(lit("G")).as("alt"),
        lit(30.0).as("qual"), array(lit("PASS")).as("filters"),
        map().cast(MapType(StringType, StringType, valueContainsNull = false)).as("info"),
        array(
          geno("father", ($"l_orderkey" * 7 + $"l_linenumber") % 3),
          geno("mother", ($"l_orderkey" * 5 + $"l_linenumber" * 2) % 3),
          geno("child", ($"l_orderkey" * 11 + $"l_linenumber" * 3 + $"l_suppkey") % 3))
          .as("genotypes"))
      spread(vars).write.format("vcf").mode("overwrite").option("compressionLevel", "1").saveFixture(path)
      val back = s.read.format("vcf").load(path)
      def dose(i: Int) = {
        val gt = element_at($"genotypes", i).getField("gt")
        when(gt === "0/0", 0L).when(gt === "0/1", 1L).otherwise(2L)
      }
      val d3 = back.select(dose(1).as("df"), dose(2).as("dm"), dose(3).as("dc"))
      val pairs = Seq(("father", "mother", $"df", $"dm"),
        ("father", "child", $"df", $"dc"), ("mother", "child", $"dm", $"dc"))
      pairs.map { case (a, b, x, y) =>
        d3.select(lit(a).as("s1"), lit(b).as("s2"), abs(x - y).as("dd"))
      }.reduce(_ unionByName _)
        .groupBy($"s1", $"s2")
        .agg(sum(when($"dd" === 2, 1L).otherwise(0L)).as("ibs0"),
          sum(when($"dd" === 1, 1L).otherwise(0L)).as("ibs1"),
          sum(when($"dd" === 0, 1L).otherwise(0L)).as("ibs2"))
        .orderBy($"s1", $"s2")
    },

    // ALLELE BALANCE at het sites (GATK QC): per-genotype read depths ride
    // the FORMAT fields map as "AD=ref,alt"; the balance histogram parses
    // them back after the text round-trip — split + integer ppm, bucketed.
    // Exercises the genotype FIELDS map through the codec with real
    // content, not just presence.
    "q_vcf_allele_balance" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/ab.vcf.bgz"
      def geno(j: Int) = {
        val code = ($"l_orderkey" + lit(j) * $"l_linenumber") % 3
        val refD = ($"l_suppkey" + lit(j * 7)) % 60 + 10
        val altD = ($"l_partkey" + lit(j * 13)) % 60 + 10
        struct(
          lit(s"s$j").as("sample"),
          when(code === 0, "0/0").when(code === 1, "0/1").otherwise("1/1").as("gt"),
          map(lit("AD"), concat(refD.cast("string"), lit(","), altD.cast("string")))
            .as("fields"))
      }
      val vars = Tables.lineitem(s, d).select(
        concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("end"),
        lit(null).cast("string").as("id"),
        lit("A").as("ref"), array(lit("G")).as("alt"),
        lit(30.0).as("qual"), array(lit("PASS")).as("filters"),
        map().cast(MapType(StringType, StringType, valueContainsNull = false)).as("info"),
        array(geno(1), geno(2), geno(3)).as("genotypes"))
      spread(vars).write.format("vcf").mode("overwrite").option("compressionLevel", "1").saveFixture(path)
      val back = s.read.format("vcf").load(path)
      back.select(explode($"genotypes").as("g"))
        .filter($"g.gt" === "0/1")
        .select(
          split(element_at($"g.fields", "AD"), ",").getItem(0).cast("long").as("rd"),
          split(element_at($"g.fields", "AD"), ",").getItem(1).cast("long").as("ad"))
        .select(expr("ad * 1000000 div (rd + ad)").as("ab_ppm"))
        .select(expr("ab_ppm * 10 div 1000000").cast("long").as("ab_decile"))
        .groupBy($"ab_decile").agg(count(lit(1)).as("n_het"))
        .orderBy($"ab_decile")
    },

    // RNA-SEQ INTRON CENSUS: spliced alignments carry their introns as
    // CIGAR N runs; the census explodes every N run (regexp_extract_all —
    // codegen'd, matching DuckDB's regex semantics on this pattern) after
    // the cigar string survives the binary codec round-trip, and rolls up
    // intron count + length distribution per contig. Narrow extract, tiny
    // rollup.
    "q_intron_census" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/intron.bam"
      // 0, 1 or 2 introns per read; lengths keyed off suppkey
      val cig = expr("""CASE CAST(l_suppkey % 3 AS INT)
        WHEN 0 THEN '151M'
        WHEN 1 THEN CONCAT('50M', CAST(l_suppkey % 5000 + 100 AS STRING), 'N101M')
        ELSE CONCAT('40M', CAST(l_suppkey % 5000 + 100 AS STRING), 'N60M',
          CAST(l_suppkey % 900 + 50 AS STRING), 'N51M') END""")
      val reads = Tables.lineitem(s, d).select(
        concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
        lit(0).cast("int").as("flags"),
        concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 900000) + 1).cast("int").as("start"),
        lit(0).cast("int").as("end"), // writer recomputes from cigar
        lit(60).cast("int").as("mapq"),
        cig.as("cigar"),
        lit(null).cast("string").as("mateContig"),
        lit(0).cast("int").as("mateStart"),
        lit(0).cast("int").as("tlen"),
        lit("*").as("seq"),
        lit("*").as("qual"),
        map(lit("XO"), lit("i:1")).as("attributes"))
      spread(reads).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).saveFixture(path)
      s.read.format("bam").load(path)
        .select($"contig",
          explode(expr("regexp_extract_all(cigar, '(\\\\d+)N', 1)")).as("ilen_s"))
        .select($"contig", $"ilen_s".cast("long").as("ilen"))
        .groupBy($"contig")
        .agg(count(lit(1)).as("n_introns"),
          sum($"ilen").as("sum_intron_len"),
          max($"ilen").as("max_intron_len"),
          sum(when($"ilen" >= 1000, 1L).otherwise(0L)).as("n_long"))
        .orderBy($"contig")
    },

    // BEDTOOLS CLOSEST (nearest-feature join): each read finds its nearest
    // variant on the contig in BOTH directions WITHOUT a join — variants
    // and reads union into one position-ordered stream per contig, the
    // nearest-before is a running MAX over variant positions and the
    // nearest-after a running MIN from the other end (MAX/MIN skip the
    // read rows' nulls natively). One contig-keyed sort, zero pair space —
    // the genomic twin of the as-of trick, where a naive range join is
    // quadratic in feature density. Distances roll up into fixed decimal
    // bins.
    "q_genomic_closest" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val dir = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}"
      val bamPath = s"$dir/closest.bam"
      val vcfPath = s"$dir/closest.vcf.bgz"
      val reads24 = Tables.lineitem(s, d).select(
        concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
        lit(0).cast("int").as("flags"),
        concat(lit("chr"), ($"l_orderkey" % 24).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 37) % 999000) + 151).cast("int").as("end"),
        lit(60).cast("int").as("mapq"),
        lit("151M").as("cigar"),
        lit(null).cast("string").as("mateContig"),
        lit(0).cast("int").as("mateStart"),
        lit(0).cast("int").as("tlen"),
        lit("*").as("seq"),
        lit("*").as("qual"),
        map(lit("XO"), lit("i:1")).as("attributes"))
      import org.apache.spark.sql.types._
      val vars = Tables.orders(s, d).select(
        concat(lit("chr"), ($"o_custkey" % 24).cast("string")).as("contig"),
        ((($"o_orderkey" * 53) % 999000) + 1).cast("int").as("start"),
        ((($"o_orderkey" * 53) % 999000) + 1).cast("int").as("end"),
        lit(null).cast("string").as("id"),
        lit("A").as("ref"),
        array(lit("G")).as("alt"),
        lit(30.0).as("qual"),
        array(lit("PASS")).as("filters"),
        map().cast(MapType(StringType, StringType, valueContainsNull = false)).as("info"),
        array().cast(ArrayType(graft.vcf.Variant.genotypeType, containsNull = false))
          .as("genotypes"))
      inParallel( // independent fixtures: overlap the writes (guide §2.6)
        () => spread(reads24).write.format("bam").mode("overwrite")
          .option("compressionLevel", "1").option("refs", Refs24).saveFixture(bamPath),
        () => spread(vars).write.format("vcf").mode("overwrite")
          .option("compressionLevel", "1").saveFixture(vcfPath))
      val reads = s.read.format("bam").load(bamPath)
        .select($"contig", $"start".cast("long").as("pos"), lit(1).as("side"))
      val sites = s.read.format("vcf").load(vcfPath)
        .select($"contig", $"start".cast("long").as("pos"), lit(0).as("side"))
      // BOTH directions as RUNNING (unbounded-preceding) frames: Spark's
      // UnboundedFollowing frame re-scans to the partition end per row —
      // O(n²) per contig, measured as a 45-minute task at sf0.1 — so the
      // nearest-after is a running min over the REVERSED sort instead
      val back = Window.partitionBy($"contig").orderBy($"pos", $"side")
        .rowsBetween(Window.unboundedPreceding, 0)
      val fwdRev = Window.partitionBy($"contig").orderBy($"pos".desc, $"side".desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      sites.unionByName(reads)
        .withColumn("pv", max(when($"side" === 0, $"pos")).over(back))
        .withColumn("nv", min(when($"side" === 0, $"pos")).over(fwdRev))
        .filter($"side" === 1)
        .select($"contig",
          when($"pv".isNull, $"nv" - $"pos")
            .when($"nv".isNull, $"pos" - $"pv")
            .otherwise(least($"pos" - $"pv", $"nv" - $"pos")).as("dist"))
        .select($"contig",
          when($"dist" === 0, "d0")
            .when($"dist" <= 10, "d1_10")
            .when($"dist" <= 100, "d11_100")
            .when($"dist" <= 1000, "d101_1k")
            .otherwise("d_gt1k").as("dist_bin"),
          $"dist")
        .groupBy($"contig", $"dist_bin")
        .agg(count(lit(1)).as("n_reads"), sum($"dist").as("sum_dist"))
        .orderBy($"contig", $"dist_bin")
    },

    // SAMTOOLS IDXSTATS — the O(index) answer: per-contig mapped/unmapped
    // counts and the unplaced tail come from the `.bai` PSEUDO-BINS plus
    // the header, with ZERO data-scan — the shape that answers "what's in
    // this 100 TB lake" in milliseconds. The sink accumulates the counts
    // per part and the commit merges them across the concat (the same
    // rebase discipline as the chunk offsets), so the pseudo-bin is
    // samtools-layout: one span chunk + one count chunk, emitted last.
    "q_bam_idxstats" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/ixs.bam"
      val unp = $"l_suppkey" % 9 === 0                          // unplaced
      val pun = $"l_suppkey" % 9 =!= 0 && $"l_suppkey" % 5 === 0 // placed-unmapped
      val reads = Tables.lineitem(s, d).select(
        concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
        when(unp || pun, 4).otherwise(0).cast("int").as("flags"),
        when(unp, lit(null).cast("string"))
          .otherwise(concat(lit("chr"), ($"l_orderkey" % 3).cast("string"))).as("contig"),
        when(unp, 0).otherwise((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
        when(unp || pun, 0)
          .otherwise((($"l_partkey" * 37) % 999000) + 151).cast("int").as("end"),
        lit(60).cast("int").as("mapq"),
        when(unp || pun, "*").otherwise("151M").as("cigar"),
        lit(null).cast("string").as("mateContig"),
        lit(0).cast("int").as("mateStart"),
        lit(0).cast("int").as("tlen"),
        lit("*").as("seq"),
        lit("*").as("qual"),
        map(lit("XO"), lit("i:1")).as("attributes"))
      reads
        .repartitionByRange(8, $"contig".asc_nulls_last, $"start")
        .sortWithinPartitions($"contig".asc_nulls_last, $"start")
        .write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).option("writeBai", "true").saveFixture(path)
      // O(index) driver-side read: header (names/lengths) + .bai pseudo-bins
      val conf = s.sessionState.newHadoopConf()
      val header = {
        val in = graft.sources.HadoopIO.open(new org.apache.hadoop.fs.Path(path), conf)
        try graft.bam.BamIO.readHeader(in)._1 finally in.close()
      }
      val bai = {
        val in = graft.sources.HadoopIO.open(
          new org.apache.hadoop.fs.Path(path + ".bai"), conf)
        try graft.index.BaiIndex.read(in) finally in.close()
      }
      val rows = header.refs.zipWithIndex.map { case (r, i) =>
        val ref = bai.refs(i)
        (r.name, r.length.toLong,
          math.max(0L, ref.mapped), math.max(0L, ref.unmapped))
      } :+ (("*", 0L, 0L, bai.noCoor))
      rows.toDF("contig", "len", "n_mapped", "n_unmapped").orderBy($"contig")
    },

    // STRUCTURAL-VARIANT SIGNAL CENSUS (the samtools/manta discordant-pair
    // triage): templates are re-united by ONE readName shuffle (the fixmate
    // discipline), then classified by the evidence class SV callers key on
    // — inter-chromosomal mates, abnormally long inserts, orientation
    // anomalies (not exactly one mate reversed, from the FLAG bits), else
    // proper — with a fixed priority so overlapping anomalies classify
    // identically in both engines. Template-bounded groups, class-keyed
    // rollup.
    "q_sv_signals" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/sv.bam"
      val src = Tables.lineitem(s, d).select(
        concat_ws("-", lit("t"), $"l_orderkey", $"l_linenumber",
          $"l_partkey", $"l_suppkey").as("readName"),
        ($"l_orderkey" % 3).as("c1"),
        (($"l_orderkey" + when($"l_suppkey" % 11 === 0, 1).otherwise(0)) % 3).as("c2"),
        ((($"l_partkey" * 37) % 900000) + 1).cast("int").as("rstart"),
        when($"l_suppkey" % 7 === 0, lit(20000) + $"l_suppkey" % 1000)
          .otherwise(($"l_suppkey" % 300) + 200).cast("int").as("gap"),
        when($"l_suppkey" % 13 === 0, 131).otherwise(147).cast("int").as("f2"))
      val paired = src
        .select($"readName", $"c1", $"c2", $"f2", $"rstart", $"gap",
          posexplode(array($"rstart", $"rstart" + $"gap")).as(Seq("mate", "start")))
        .select(
          $"readName",
          when($"mate" === 0, 67).otherwise($"f2").cast("int").as("flags"),
          concat(lit("chr"), when($"mate" === 0, $"c1").otherwise($"c2")).as("contig"),
          $"start",
          ($"start" + 150).as("end"),
          lit(60).cast("int").as("mapq"),
          lit("151M").as("cigar"),
          lit(null).cast("string").as("mateContig"),
          lit(0).cast("int").as("mateStart"),
          lit(0).cast("int").as("tlen"),
          lit("*").as("seq"),
          lit("*").as("qual"),
          map(lit("XO"), lit("i:1")).as("attributes"))
      spread(paired).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).saveFixture(path)
      val back = s.read.format("bam").load(path)
      back
        .select($"readName", $"contig", $"start".cast("long").as("start"),
          (($"flags".cast("long") / 16).cast("long") % 2).as("rev"))
        .groupBy($"readName")
        .agg(countDistinct($"contig").as("n_contigs"), count(lit(1)).as("n"),
          (max($"start") - min($"start")).as("span"), sum($"rev").as("n_rev"))
        .filter($"n" === 2)
        .select(
          when($"n_contigs" > 1, "interchrom")
            .when($"span" > 5000, "long_insert")
            .when($"n_rev" =!= 1, "inverted")
            .otherwise("proper").as("sv_class"),
          when($"n_contigs" > 1, 0L).otherwise($"span").as("span"))
        .groupBy($"sv_class")
        .agg(count(lit(1)).as("n_templates"), sum($"span").as("sum_span"))
        .orderBy($"sv_class")
    },

    // MINIMIZER SKETCH (the minimap2/sourmash sampling scheme): per read,
    // each window of 5 consecutive 8-mers contributes its lexicographic
    // minimum; the sketch is the distinct minimizer set per read. Entirely
    // higher-order functions on the sequence column (sequence → transform →
    // array_min → array_distinct — one codegen'd narrow pass, the window
    // never materializes as rows), then one bounded-key count and the tiny
    // multiplicity rollup: the k-mer spectrum's shuffle discipline at a
    // fraction of the keys — which is the whole point of minimizers.
    "q_kmer_minimizers" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/minz.bam"
      val reads = Tables.lineitem(s, d).select(
        concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
        lit(0).cast("int").as("flags"),
        concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
        lit(0).cast("int").as("end"),
        lit(60).cast("int").as("mapq"),
        lit("32M").as("cigar"),
        lit(null).cast("string").as("mateContig"),
        lit(0).cast("int").as("mateStart"),
        lit(0).cast("int").as("tlen"),
        lit(KmerAlpha).substr((($"l_partkey" * 13) % 33).cast("int") + 1, lit(32))
          .as("seq"),
        lit("*").as("qual"),
        map(lit("XO"), lit("i:1")).as("attributes"))
      spread(reads).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).saveFixture(path)
      graft.functions.KmerMinimizersExpr.register(s)
      s.read.format("bam").load(path)
        // 25 k-mers (k=8, L=32) -> 21 windows of 5; winnowing emits a
        // minimizer when it DIFFERS from the previous window's (run-dedup,
        // minimap2's rule). The native expression computes the winnowed
        // list in ONE pass over the sequence bytes inside whole-stage
        // codegen — the previous composed form (explode(sequence(1,21)) +
        // two least(substring…) chains + run filter, kept as the executable
        // spec in KmerMinimizersSpec) evaluated ten substring allocations
        // per exploded window row, 21 rows per read. Values are pinned
        // identical (same clipped substrings, same binary string order,
        // same run-dedup rule).
        .select(explode(expr("graft_kmer_minimizers(seq)")).as("minimizer"))
        .groupBy($"minimizer").agg(count(lit(1)).as("n"))
        .groupBy($"n").agg(count(lit(1)).as("n_minimizers"))
        .select($"n".as("multiplicity"), $"n_minimizers")
        .orderBy($"multiplicity")
    },

    // MUTATIONAL-SIGNATURE CONTEXT (the SBS trinucleotide-class rollup):
    // every variant is annotated with the reference trinucleotide around
    // its position, read by RANDOM ACCESS from the `.fai`-indexed FASTA —
    // one file open per partition, one O(3-byte) pread per variant (the
    // same Fasta.region machinery CRAM reference-based decode uses), never
    // a genome in executor memory. The oracle states the closed form the
    // 4-periodic reference guarantees, so a wrong .fai seek, newline-skip
    // slip, or off-by-one in the flank moves the rollup.
    "q_mutation_context" -> { (s, d) =>
      import s.implicits._
      val dir = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}"
      val fasta = writeRefFasta(dir)
      val path = s"$dir/ctx.vcf.bgz"
      spread(syntheticVariants(s, d)).write.format("vcf").mode("overwrite").option("compressionLevel", "1").saveFixture(path)
      val back = s.read.format("vcf").load(path)
      val rows = back
        .select($"contig", $"start", element_at($"alt", 1).as("alt"))
        .filter($"start" >= 2) // a 5'-edge variant has no left flank
        .as[(String, Int, String)]
      rows.mapPartitions { it =>
        val in = graft.bgzf.SeekableInput.ofFile(java.nio.file.Paths.get(fasta))
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit](_ => in.close())
        val fai = graft.cram.Fasta.parseFai(new String(
          java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(fasta + ".fai")), "UTF-8"))
        val byName = fai.map(e => e.name -> e).toMap
        it.map { case (c, p, alt) =>
          (new String(graft.cram.Fasta.region(in, byName(c), p - 1, 3), "ASCII"), alt)
        }
      }.toDF("context", "alt")
        .groupBy($"context", $"alt").agg(count(lit(1)).as("n"))
        .orderBy($"context", $"alt")
    },

    // COVERAGE EVENNESS (Gini over per-position depth — the sequencing-QC
    // uniformity metric): depth at every position of a fixed window
    // (zero-depth positions included via a sequence spine), ranked
    // ascending per contig, then the exact integer Gini
    // (2·Σ rank·depth − (n+1)·Σ depth) · 1000 / (n · Σ depth). The rank
    // window partitions by contig — per-series state scales out over
    // contigs like the gap-fill op.
    "q_coverage_gini" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/gini.bam"
      val reads = Tables.lineitem(s, d).select(
        concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
        lit(0).cast("int").as("flags"),
        concat(lit("chr"), ($"l_partkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 13) % 5000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 13) % 5000) + 151).cast("int").as("end"),
        lit(60).cast("int").as("mapq"),
        lit("151M").as("cigar"),
        lit(null).cast("string").as("mateContig"),
        lit(0).cast("int").as("mateStart"),
        lit(0).cast("int").as("tlen"),
        lit("*").as("seq"),
        lit("*").as("qual"),
        map(lit("XO"), lit("i:1")).as("attributes"))
      spread(reads).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).saveFixture(path)
      val back = s.read.format("bam").load(path)
        .filter($"start" <= 1299 && $"end" >= 1000)
      val depth = back
        .select($"contig", explode(sequence(greatest($"start", lit(1000)),
          least($"end", lit(1299)))).as("p"))
        .groupBy($"contig", $"p").agg(count(lit(1)).as("dep"))
      val spine = s.range(3).select(concat(lit("chr"), $"id").as("contig"))
        .select($"contig", explode(sequence(lit(1000), lit(1299))).as("p"))
      val full = spine.join(depth, Seq("contig", "p"), "left")
        .select($"contig", $"p", coalesce($"dep", lit(0L)).as("dep"))
      val rk = Window.partitionBy($"contig").orderBy($"dep", $"p")
      full
        .withColumn("i", row_number().over(rk).cast("long"))
        .groupBy($"contig")
        .agg(count(lit(1)).as("n"), sum($"dep").as("total_depth"),
          sum($"i" * $"dep").as("wsum"))
        // a zero-coverage contig has no defined Gini (and DuckDB's // would
        // raise where Spark's div nulls) — excluded identically both sides
        .filter($"total_depth" > 0)
        .select($"contig", $"n", $"total_depth",
          expr("(2 * wsum - (n + 1) * total_depth) * 1000 div (n * total_depth)")
            .as("gini_milli"))
        .orderBy($"contig")
    },

    // HARDY-WEINBERG equilibrium spectrum (vcftools --hardy shape) over a
    // 12-sample cohort round-tripped through the VCF connector. The whole
    // per-site test is NARROW: genotype counts (a=hom-ref, b=het,
    // c=hom-alt) come from ONE native codegen array pass
    // (graft_gt_census — replacing three interpreted lambda filters,
    // which Catalyst runs 5–7× slower per row and which multiply by
    // cohort width on a real 1000-sample panel) — no explode, no
    // per-sample row blow-up — and the chi-square is exact fixed-point
    // integer math (×1000, integer div, identical order in the oracle),
    // so 100 TB of sites costs one codegen pass plus a rollup shuffle
    // whose key space is the handful of distinct (a,b,c) patterns.
    "q_vcf_hwe" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/hwe.vcf.bgz"
      def geno(j: Int) = {
        val code = ($"l_orderkey" + lit(j) * $"l_linenumber" +
          lit(j * j) * $"l_suppkey") % 3
        struct(
          lit(f"s$j%02d").as("sample"),
          when(code === 0, "0/0").when(code === 1, "0/1").otherwise("1/1").as("gt"),
          map().cast(MapType(StringType, StringType, valueContainsNull = false))
            .as("fields"))
      }
      val vars = Tables.lineitem(s, d).select(
        concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("end"),
        lit(null).cast("string").as("id"),
        lit("A").as("ref"),
        array(lit("G")).as("alt"),
        lit(30.0).as("qual"),
        array(lit("PASS")).as("filters"),
        map().cast(MapType(StringType, StringType, valueContainsNull = false)).as("info"),
        array((1 to 12).map(geno): _*).as("genotypes"))
      spread(vars).write.format("vcf").mode("overwrite").option("compressionLevel", "1").saveFixture(path)
      // formatFields=GT: the census consumes the whole genotype array, so
      // Catalyst cannot prune the map-typed FORMAT fields — opt in to the
      // selective decode (gt by token scan, no per-sample maps)
      val back = s.read.format("vcf")
        .option("formatFields", "GT").load(path)
      graft.functions.GtCensusExpr.register(s)
      // aggregate FIRST to the tiny (a,b,c) pattern space, then compute
      // the chi-square on the grouped handful: per-row work is exactly one
      // census pass + three array gets (project collapse would otherwise
      // inline the downstream arithmetic's uses of a/b/c back into per-row
      // expressions), and chi2 is a pure function of (a,b,c) so grouping
      // before or after it yields identical rows
      back
        .select(expr("graft_gt_census(genotypes)").as("cen"))
        .select($"cen".getItem(0).as("a"), $"cen".getItem(1).as("b"),
          $"cen".getItem(2).as("c"))
        .groupBy($"a", $"b", $"c")
        .agg(count(lit(1)).as("n_sites"))
        .withColumn("n", $"a" + $"b" + $"c")
        .withColumn("pr", lit(2L) * $"a" + $"b") // ref allele count
        .withColumn("pq", lit(2L) * $"c" + $"b") // alt allele count
        .withColumn("chi2_milli",
          when($"pr" === 0 || $"pq" === 0, 0L).otherwise(expr(
            "((4*n*a - pr*pr)*(4*n*a - pr*pr)*1000) div (4*n*pr*pr)" +
              " + ((2*n*b - pr*pq)*(2*n*b - pr*pq)*1000) div (2*n*pr*pq)" +
              " + ((4*n*c - pq*pq)*(4*n*c - pq*pq)*1000) div (4*n*pq*pq)")))
        .select($"a", $"b", $"c", $"chi2_milli", $"n_sites")
        .orderBy($"a", $"b", $"c")
    },

    // WIDE-COHORT site-frequency spectrum (64 samples) through the FULL
    // VCF write→read→native-census path: the rest of the oracled popgen
    // family runs 12-wide cohorts (GtCensusSpec proves the expression
    // alone at 256 samples); this pins the end-to-end pipeline at a
    // realistic panel width. Genotypes use a ref-skewed MULTIPLICATIVE
    // hash — anything linear in key residues mod 3 collapses to a handful
    // of site types with zero singletons: h = site·(17j+1) mod 1000003
    // mod 24, 0/0 below 21, 0/1 below 23, else 1/1 (rare-variant skew,
    // full MAC coverage). The shared site hash is HOISTED into its own
    // column before the 64-struct projection (inlining it into every
    // struct falls out of JIT range — measured 2.3× write). Read side is
    // ONE codegen census pass per site (no explode, row count independent
    // of cohort width) + a MAC rollup whose key space is ≤ 2·samples+1.
    "q_vcf_cohort64_sfs" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/cohort64.vcf.bgz"
      // the query pins cohort WIDTH, not site count — a 1/16 site sample
      // keeps the 64-wide write comparable to the 12-wide family's cost
      // while still covering the full MAC spectrum
      val base = Tables.lineitem(s, d)
        .filter($"l_orderkey" % 16 === 1)
        .withColumn("site",
          ($"l_orderkey" * 37 + $"l_linenumber" * 101 + $"l_suppkey").cast("long"))
      def geno(j: Int) = {
        val h = ($"site" * lit(17L * j + 1)) % 1000003L % 24L
        struct(
          lit(f"s$j%02d").as("sample"),
          when(h < 21, "0/0").when(h < 23, "0/1").otherwise("1/1").as("gt"),
          map().cast(MapType(StringType, StringType, valueContainsNull = false))
            .as("fields"))
      }
      val vars = base.select(
        concat(lit("chr"), ($"l_orderkey" % 24).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("end"),
        lit(null).cast("string").as("id"),
        lit("A").as("ref"),
        array(lit("G")).as("alt"),
        lit(30.0).as("qual"),
        array(lit("PASS")).as("filters"),
        map().cast(MapType(StringType, StringType, valueContainsNull = false)).as("info"),
        array((1 to 64).map(geno): _*).as("genotypes"))
      spread(vars).write.format("vcf").mode("overwrite")
        .option("compressionLevel", "1").saveFixture(path)
      // formatFields=GT: the census consumes the whole genotype array, so
      // Catalyst cannot prune the map-typed FORMAT fields — opt in to the
      // selective decode (gt by token scan, no per-sample maps)
      val back = s.read.format("vcf")
        .option("formatFields", "GT").load(path)
      graft.functions.GtCensusExpr.register(s)
      back
        .select(expr("graft_gt_census(genotypes)").as("cen"))
        .select($"cen".getItem(0).as("a"), $"cen".getItem(1).as("b"),
          $"cen".getItem(2).as("c"))
        .select(least(lit(2L) * $"a" + $"b", lit(2L) * $"c" + $"b").as("mac"), $"b")
        .groupBy($"mac")
        .agg(count(lit(1)).as("n_sites"), sum($"b").as("sum_het"))
        .orderBy($"mac")
    },

    // LINKAGE DISEQUILIBRIUM between consecutive sites (plink --r2 /
    // LD-decay shape): each site pairs with its successor per contig and
    // the dosage covariance across the 12-sample cohort gives r². The
    // pairing is ONE per-contig window (24 contigs, range-partitioned
    // sort — never a self-join on position); everything downstream is a
    // narrow per-row array pass (zip_with dot product over 12-wide dosage
    // vectors) and an 11-key decile rollup. Ordering is total on
    // (start, id) with id unique per synthetic site, so lead() is
    // deterministic on both engines.
    "q_vcf_ld_adjacent" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.expressions.Window
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/ld.vcf.bgz"
      val base = Tables.lineitem(s, d)
        .filter($"l_orderkey" % 8 === 3) // LD is pair work — sample the sites
        .withColumn("site",
          ($"l_orderkey" * 37 + $"l_linenumber" * 101 + $"l_suppkey").cast("long"))
      def geno(j: Int) = {
        val h = ($"site" * lit(17L * j + 1)) % 1000003L % 24L
        struct(
          lit(f"s$j%02d").as("sample"),
          when(h < 21, "0/0").when(h < 23, "0/1").otherwise("1/1").as("gt"),
          map().cast(MapType(StringType, StringType, valueContainsNull = false))
            .as("fields"))
      }
      val vars = base.select(
        concat(lit("chr"), ($"l_orderkey" % 24).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("end"),
        concat($"l_orderkey", lit("-"), $"l_linenumber", lit("-"), $"l_suppkey").as("id"),
        lit("A").as("ref"),
        array(lit("G")).as("alt"),
        lit(30.0).as("qual"),
        array(lit("PASS")).as("filters"),
        map().cast(MapType(StringType, StringType, valueContainsNull = false)).as("info"),
        array((1 to 12).map(geno): _*).as("genotypes"))
      spread(vars).write.format("vcf").mode("overwrite")
        .option("compressionLevel", "1").saveFixture(path)
      val back = s.read.format("vcf").load(path)
      val dosed = back.select($"contig", $"start", $"id",
        expr("transform(genotypes, g -> CASE WHEN g.gt = '0/0' THEN 0L" +
          " WHEN g.gt = '0/1' THEN 1L ELSE 2L END)").as("dx"))
      val w = Window.partitionBy($"contig").orderBy($"start", $"id")
      dosed
        .withColumn("dy", lead($"dx", 1).over(w))
        .filter($"dy".isNotNull)
        .select(
          expr("aggregate(dx, 0L, (a, x) -> a + x)").as("sx"),
          expr("aggregate(dy, 0L, (a, x) -> a + x)").as("sy"),
          expr("aggregate(zip_with(dx, dy, (a, b) -> a * b), 0L, (a, x) -> a + x)").as("sxy"),
          expr("aggregate(dx, 0L, (a, x) -> a + x * x)").as("sxx"),
          expr("aggregate(dy, 0L, (a, x) -> a + x * x)").as("syy"))
        .withColumn("cov", lit(12L) * $"sxy" - $"sx" * $"sy")
        .withColumn("vx", lit(12L) * $"sxx" - $"sx" * $"sx")
        .withColumn("vy", lit(12L) * $"syy" - $"sy" * $"sy")
        .filter($"vx" > 0 && $"vy" > 0) // monomorphic sites carry no LD signal
        .withColumn("r2_milli", expr("(cov * cov * 1000) div (vx * vy)"))
        .groupBy(expr("r2_milli div 100").as("r2_bin"))
        .agg(count(lit(1)).as("n_pairs"), sum($"r2_milli").as("sum_r2_milli"))
        .orderBy($"r2_bin")
    },

    // PAIRWISE KINSHIP COUNTS (the KING-robust estimator's sufficient
    // statistics, Manichaikul 2010 / plink2 --make-king inputs) over the
    // 12-sample cohort: per ordered pair, the joint het-het, IBS0, and
    // marginal het counts. The pair space is cohort-width² (66 pairs) —
    // INDEPENDENT of site count — so sites stream through one bounded
    // explode and the rollup key space is 66; no per-sample shuffle, no
    // site×site join.
    "q_vcf_kinship_pairs" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/kin.vcf.bgz"
      val base = Tables.lineitem(s, d)
        .filter($"l_orderkey" % 8 === 5) // pair work scales 66×: sample the sites
        .withColumn("site",
          ($"l_orderkey" * 37 + $"l_linenumber" * 101 + $"l_suppkey").cast("long"))
      def geno(j: Int) = {
        val h = ($"site" * lit(17L * j + 1)) % 1000003L % 24L
        struct(
          lit(f"s$j%02d").as("sample"),
          when(h < 21, "0/0").when(h < 23, "0/1").otherwise("1/1").as("gt"),
          map().cast(MapType(StringType, StringType, valueContainsNull = false))
            .as("fields"))
      }
      val vars = base.select(
        concat(lit("chr"), ($"l_orderkey" % 24).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("end"),
        lit(null).cast("string").as("id"),
        lit("A").as("ref"),
        array(lit("G")).as("alt"),
        lit(30.0).as("qual"),
        array(lit("PASS")).as("filters"),
        map().cast(MapType(StringType, StringType, valueContainsNull = false)).as("info"),
        array((1 to 12).map(geno): _*).as("genotypes"))
      spread(vars).write.format("vcf").mode("overwrite")
        .option("compressionLevel", "1").saveFixture(path)
      val back = s.read.format("vcf").load(path)
      val pairLits = for { i <- 1 to 12; j <- (i + 1) to 12 }
        yield struct(lit(i).as("i"), lit(j).as("j"))
      back
        .select(expr("transform(genotypes, g -> CASE WHEN g.gt = '0/1' THEN 1" +
          " WHEN g.gt = '1/1' THEN 2 ELSE 0 END)").as("gc"))
        .select(explode(array(pairLits: _*)).as("p"), $"gc")
        .select($"p.i".as("i"), $"p.j".as("j"),
          element_at($"gc", $"p.i").as("gi"), element_at($"gc", $"p.j").as("gj"))
        .groupBy($"i", $"j")
        .agg(
          sum(when($"gi" === 1 && $"gj" === 1, 1L).otherwise(0L)).as("n_hethet"),
          sum(when(($"gi" === 0 && $"gj" === 2) || ($"gi" === 2 && $"gj" === 0), 1L)
            .otherwise(0L)).as("n_ibs0"),
          sum(when($"gi" === 1, 1L).otherwise(0L)).as("n_het_i"),
          sum(when($"gj" === 1, 1L).otherwise(0L)).as("n_het_j"))
        .select(
          concat(lit("s"), lpad($"i".cast("string"), 2, "0")).as("s1"),
          concat(lit("s"), lpad($"j".cast("string"), 2, "0")).as("s2"),
          $"n_hethet", $"n_ibs0", $"n_het_i", $"n_het_j")
        .orderBy($"s1", $"s2")
    },

    // SEX INFERENCE from X/Y coverage by read group (plink --check-sex /
    // somalier shape): per-RG read counts on chrX vs chrY vs autosomes
    // through the BAM round-trip, the X-fraction in integer permille, and
    // the call. One narrow groupBy whose key space is the sample count.
    "q_bam_sex_infer" -> { (s, d) =>
      import s.implicits._
      val c = ($"l_orderkey" * 13 + $"l_linenumber" * 7 + $"l_suppkey" * 3) % 40
      val rgIdx = $"l_orderkey" % 4
      // even RGs are female-shaped (X reads, no Y), odd male-shaped (X≈Y)
      val contig = when(c < 32, concat(lit("chr"), (c % 24).cast("string")))
        .otherwise(when(rgIdx % 2 === 0, lit("chrX"))
          .otherwise(when(c < 36, lit("chrX")).otherwise(lit("chrY"))))
      val reads = Tables.lineitem(s, d).select(
        concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
        lit(0).cast("int").as("flags"),
        contig.as("contig"),
        ((($"l_partkey" * 13) % 5000) + 1).cast("int").as("start"),
        lit(0).cast("int").as("end"),
        lit(60).cast("int").as("mapq"),
        lit("100M").as("cigar"),
        lit(null).cast("string").as("mateContig"),
        lit(0).cast("int").as("mateStart"),
        lit(0).cast("int").as("tlen"),
        lit("*").as("seq"),
        lit("*").as("qual"),
        map(lit("RG"), concat(lit("Z:rg"), rgIdx.cast("string"))).as("attributes"))
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/sex.bam"
      spread(reads).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs24 + ",chrX:1000000,chrY:1000000")
        .option("writeSbi", "true").saveFixture(path)
      val back = s.read.format("bam").load(path)
      back
        .select(substring(element_at($"attributes", "RG"), 3, 10).as("sample_rg"),
          $"contig")
        .groupBy($"sample_rg")
        .agg(
          sum(when($"contig" === "chrX", 1L).otherwise(0L)).as("n_x"),
          sum(when($"contig" === "chrY", 1L).otherwise(0L)).as("n_y"),
          sum(when($"contig" =!= "chrX" && $"contig" =!= "chrY", 1L).otherwise(0L))
            .as("n_auto"))
        .withColumn("x_fraction_milli", expr("n_x * 1000 div (n_x + n_y)"))
        .withColumn("sex_call", when($"n_y" * 20 < $"n_x", "F").otherwise("M"))
        .orderBy($"sample_rg")
    },

    // FASTQ ROUND-TRIP (raw reads — the lake stage BEFORE alignment, a
    // surface the reference does not have): variable-length reads with
    // adversarial quality strings (qual lines can legally START with '@'
    // or '+', the case naive FASTQ splitting misframes) through the
    // splittable single-file BGZF sink and back, then a per-length GC
    // census. Record ownership is by header-line position key, so every
    // split size yields the same rows (FastqSourceSpec proves the matrix).
    "q_fastq_roundtrip" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/reads.fastq.bgz"
      val reads = Tables.lineitem(s, d).select(
        concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
        when($"l_orderkey" % 5 === 0,
          concat(lit("len="), (lit(20) + $"l_partkey" % 31).cast("string")))
          .otherwise(lit(null).cast("string")).as("comment"),
        expr("substring(repeat('ACGT', 16), CAST((l_orderkey + l_linenumber) % 4 AS INT) + 1," +
          " CAST(20 + l_partkey % 31 AS INT))").as("seq"),
        expr("substring(repeat('IJKLMNOP@+FGH', 5), CAST(l_suppkey % 7 AS INT) + 1," +
          " CAST(20 + l_partkey % 31 AS INT))").as("qual"))
      spread(reads).write.format("fastq").mode("overwrite")
        .option("compressionLevel", "1").save(path)
      val back = s.read.format("fastq").load(path)
      back
        .groupBy(length($"seq").as("len"))
        .agg(count(lit(1)).as("n_reads"),
          sum(length(regexp_replace($"seq", "[^GC]", ""))).cast("long").as("n_gc"),
          sum(when($"comment".isNotNull, 1L).otherwise(0L)).as("n_commented"))
        .orderBy($"len")
    },

    // FASTQ 3'-QUALITY TRIM census (the fastp/cutadapt pre-alignment
    // step): trailing low-quality run length per read (phred < 20 ⇔
    // qual char in [!-4]), trimmed-length decile histogram. One narrow
    // regexp pass over the round-tripped reads; rollup key space is the
    // read-length range.
    "q_fastq_trim" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/trim.fastq.bgz"
      val reads = Tables.lineitem(s, d).select(
        concat(lit("t"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
        lit(null).cast("string").as("comment"),
        expr("substring(repeat('ACGT', 16), CAST((l_orderkey + l_linenumber) % 4 AS INT) + 1," +
          " CAST(20 + l_partkey % 31 AS INT))").as("seq"),
        expr("substring(repeat('IJKLMNOP@+FGH', 5), CAST(l_suppkey % 7 AS INT) + 1," +
          " CAST(20 + l_partkey % 31 AS INT))").as("qual"))
      spread(reads).write.format("fastq").mode("overwrite")
        .option("compressionLevel", "1").saveFixture(path)
      val back = s.read.format("fastq").load(path)
      back
        .select((length($"qual") -
          length(regexp_extract($"qual", "[!-4]*$", 0))).as("trimmed_len"))
        .groupBy(expr("trimmed_len div 10").as("len_decade"))
        .agg(count(lit(1)).as("n_reads"), sum($"trimmed_len").as("sum_trimmed"))
        .orderBy($"len_decade")
    },

    // PAIRED-END FASTQ R1/R2 pairing (the mate-matching step every aligner
    // front-end runs on dual-file lanes): both mates written as separate
    // single-file FASTQs, read back, and name-joined. The join shuffles
    // BOTH sides on readName — the honest cost of dual-file pairing at any
    // scale (names are the only link) — then collapses to a length-delta
    // census whose key space is the read-length range. Names carry all
    // four derivation keys so the join is exactly 1:1.
    "q_fastq_pairs" -> { (s, d) =>
      import s.implicits._
      val base = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}"
      def mates(phase: String, lenSalt: Int) = Tables.lineitem(s, d).select(
        concat(lit("p"), $"l_orderkey", lit("-"), $"l_linenumber",
          lit("-"), $"l_suppkey", lit("-"), $"l_partkey").as("readName"),
        lit(null).cast("string").as("comment"),
        expr(s"substring(repeat('ACGT', 16), CAST((l_orderkey + l_linenumber + $lenSalt) % 4 AS INT) + 1," +
          s" CAST(20 + (l_partkey * ${1 + lenSalt}) % 31 AS INT))").as("seq"),
        expr(s"substring(repeat('IJKLMNOP@+FGH', 5), CAST(l_suppkey % 7 AS INT) + 1," +
          s" CAST(20 + (l_partkey * ${1 + lenSalt}) % 31 AS INT))").as("qual"))
        .dropDuplicates("readName")
      inParallel( // independent mate files: overlap the writes (guide §2.6)
        () => mates("r1", 0).write.format("fastq").mode("overwrite")
          .option("compressionLevel", "1").saveFixture(s"$base/r1.fastq.bgz"),
        () => mates("r2", 6).write.format("fastq").mode("overwrite")
          .option("compressionLevel", "1").saveFixture(s"$base/r2.fastq.bgz"))
      val r1 = s.read.format("fastq")
        .load(s"$base/r1.fastq.bgz").select($"readName", length($"seq").as("len1"))
      val r2 = s.read.format("fastq")
        .load(s"$base/r2.fastq.bgz").select($"readName", length($"seq").as("len2"))
      r1.join(r2, "readName")
        .groupBy(($"len1" - $"len2").as("len_delta"))
        .agg(count(lit(1)).as("n_pairs"), sum($"len1" + $"len2").as("sum_bases"))
        .orderBy($"len_delta")
    },

    // SPLICE-JUNCTION CENSUS (regtools junctions extract / STAR SJ.out
    // shape — the RNA-seq face of the cigar): spliced alignments carry
    // mMgNnM cigars; the junction is (start + m, gap). Junction geometry
    // crosses the BAM cigar codec round-trip, then one narrow regexp pass
    // and a gap-keyed rollup whose key space is the splice-size range.
    "q_bam_splice_junctions" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/splice.bam"
      val m1 = lit(20) + $"l_partkey" % 30
      val gap = lit(100) + ($"l_suppkey" % 50) * 20
      val reads = Tables.lineitem(s, d).select(
        concat(lit("j"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
        lit(0).cast("int").as("flags"),
        concat(lit("chr"), ($"l_orderkey" % 24).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 900000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 37) % 900000) + m1 + gap + lit(30)).cast("int").as("end"),
        lit(60).cast("int").as("mapq"),
        concat(m1.cast("string"), lit("M"), gap.cast("string"), lit("N"), lit("30M"))
          .as("cigar"),
        lit(null).cast("string").as("mateContig"),
        lit(0).cast("int").as("mateStart"),
        lit(0).cast("int").as("tlen"),
        lit("*").as("seq"), lit("*").as("qual"),
        map().cast(MapType(StringType, StringType, valueContainsNull = false))
          .as("attributes"))
      spread(reads).write.format("bam").mode("overwrite")
        .option("compressionLevel", "1").option("refs", Refs24).saveFixture(path)
      val back = s.read.format("bam").load(path)
      back
        .select($"start",
          expr("try_cast(regexp_extract(cigar, '^([0-9]+)M', 1) AS BIGINT)").as("m1"),
          expr("try_cast(regexp_extract(cigar, '([0-9]+)N', 1) AS BIGINT)").as("gap"))
        .filter($"gap".isNotNull && $"gap" > 0)
        .select($"gap", ($"start".cast("long") + $"m1").as("junc_start"))
        .groupBy($"gap")
        .agg(count(lit(1)).as("n_junctions"), sum($"junc_start").as("sum_junc_start"))
        .orderBy($"gap")
    },

    // PER-CYCLE BASE CONTENT from FASTQ (the FastQC per-base-sequence-
    // content panel): each read explodes into (cycle, base) — a read-
    // length-bounded fan-out — and the census keys on cycle × base
    // (≤ 4·max-read-length rows at any corpus size).
    "q_fastq_base_content" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/bc.fastq.bgz"
      val reads = Tables.lineitem(s, d).select(
        concat(lit("q"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
        lit(null).cast("string").as("comment"),
        expr("substring(repeat('ACGT', 16), CAST((l_orderkey + l_linenumber) % 4 AS INT) + 1," +
          " CAST(20 + l_partkey % 31 AS INT))").as("seq"),
        expr("substring(repeat('IJKLMNOP@+FGH', 5), CAST(l_suppkey % 7 AS INT) + 1," +
          " CAST(20 + l_partkey % 31 AS INT))").as("qual"))
      spread(reads).write.format("fastq").mode("overwrite")
        .option("compressionLevel", "1").saveFixture(path)
      val back = s.read.format("fastq").load(path)
      back
        .select(explode(expr("sequence(1, length(seq))")).as("cycle"), $"seq")
        .select($"cycle", expr("substring(seq, cycle, 1)").as("base"))
        .groupBy($"cycle", $"base")
        .agg(count(lit(1)).as("n"))
        .orderBy($"cycle", $"base")
    },

    // SAMPLE-SWAP CHECK (NGSCheckMate / Conpair shape — the cohort QC that
    // catches mislabeled columns before they poison an association study):
    // two VCF callsets over the same sites, where the second has samples
    // s05/s07 SWAPPED; per (sampleA, sampleB) genotype concordance across
    // the site-keyed join, then each A-sample's best B match. The pair
    // matrix is cohort-width² (144) — independent of site count — so
    // sites stream through one bounded explode; the site join is 1:1 on a
    // unique id; the argmax is a GROUP-BY + join-back (no window).
    "q_vcf_sample_swap" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      val base = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}"
      val perm: Map[Int, Int] = Map(5 -> 7, 7 -> 5).withDefault(identity)
      val src = Tables.lineitem(s, d)
        .filter($"l_orderkey" % 16 === 9) // pair matrix scales 144×: sample sites
        .withColumn("site",
          ($"l_orderkey" * 37 + $"l_linenumber" * 101 + $"l_suppkey").cast("long"))
        .dropDuplicates("site") // unique site key → the A/B join is exactly 1:1
      def geno(j: Int, hashIdx: Int) = {
        val h = ($"site" * lit(17L * hashIdx + 1)) % 1000003L % 24L
        struct(
          lit(f"s$j%02d").as("sample"),
          when(h < 21, "0/0").when(h < 23, "0/1").otherwise("1/1").as("gt"),
          map().cast(MapType(StringType, StringType, valueContainsNull = false))
            .as("fields"))
      }
      def callset(hashOf: Int => Int) = src.select(
        concat(lit("chr"), ($"l_orderkey" % 24).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("end"),
        $"site".cast("string").as("id"),
        lit("A").as("ref"), array(lit("G")).as("alt"),
        lit(30.0).as("qual"), array(lit("PASS")).as("filters"),
        map().cast(MapType(StringType, StringType, valueContainsNull = false)).as("info"),
        array((1 to 12).map(j => geno(j, hashOf(j))): _*).as("genotypes"))
      inParallel( // independent cohorts: overlap the writes (guide §2.6)
        () => callset(identity).write.format("vcf").mode("overwrite")
          .option("compressionLevel", "1").saveFixture(s"$base/swapA.vcf.bgz"),
        () => callset(perm).write.format("vcf").mode("overwrite")
          .option("compressionLevel", "1").saveFixture(s"$base/swapB.vcf.bgz"))
      def codes(p: String, as: String) =
        s.read.format("vcf").load(p)
          .select($"id", expr("transform(genotypes, g -> CASE WHEN g.gt = '0/1' THEN 1" +
            " WHEN g.gt = '1/1' THEN 2 ELSE 0 END)").as(as))
      val joined = codes(s"$base/swapA.vcf.bgz", "ga")
        .join(codes(s"$base/swapB.vcf.bgz", "gb"), "id")
      val pairLits = for { i <- 1 to 12; j <- 1 to 12 }
        yield struct(lit(i).as("i"), lit(j).as("j"))
      val conc = joined
        .select(explode(array(pairLits: _*)).as("p"), $"ga", $"gb")
        .select($"p.i".as("i"), $"p.j".as("j"),
          (element_at($"ga", $"p.i") === element_at($"gb", $"p.j")).as("eq"))
        .groupBy($"i", $"j")
        .agg(sum(when($"eq", 1L).otherwise(0L)).as("n_match"), count(lit(1)).as("n_sites"))
      val best = conc.groupBy($"i").agg(max($"n_match").as("best_m"))
      conc.join(best, "i").filter($"n_match" === $"best_m")
        .groupBy($"i", $"n_match", $"n_sites")
        .agg(min($"j").as("best_j")) // deterministic tie-break
        .select(
          concat(lit("s"), lpad($"i".cast("string"), 2, "0")).as("sample_a"),
          concat(lit("s"), lpad($"best_j".cast("string"), 2, "0")).as("best_match_b"),
          expr("n_match * 1000 div n_sites").as("conc_permille"),
          ($"i" =!= $"best_j").as("swapped"))
        .orderBy($"sample_a")
    },

    // BAM → FASTQ transcode (samtools fastq / Picard SamToFastq — the
    // realignment prep every reprocessing pipeline runs): aligned reads
    // with REAL base/quality strings through the BAM sink, projected back
    // to raw-read shape, through the FASTQ sink, and QC'd. Exercises the
    // 4-bit nibble seq codec against the text codec end to end; both
    // writes are pipeline-intermediates at level 1.
    "q_bam2fq" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      val base = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}"
      val reads = Tables.lineitem(s, d).select(
        concat(lit("b"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
        lit(0).cast("int").as("flags"),
        concat(lit("chr"), ($"l_orderkey" % 24).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 37) % 999000) + 20 + $"l_partkey" % 31).cast("int").as("end"),
        lit(60).cast("int").as("mapq"),
        concat((lit(20) + $"l_partkey" % 31).cast("string"), lit("M")).as("cigar"),
        lit(null).cast("string").as("mateContig"),
        lit(0).cast("int").as("mateStart"),
        lit(0).cast("int").as("tlen"),
        expr("substring(repeat('ACGT', 16), CAST((l_orderkey + l_linenumber) % 4 AS INT) + 1," +
          " CAST(20 + l_partkey % 31 AS INT))").as("seq"),
        expr("substring(repeat('IJKLMNOP@+FGH', 5), CAST(l_suppkey % 7 AS INT) + 1," +
          " CAST(20 + l_partkey % 31 AS INT))").as("qual"),
        map().cast(MapType(StringType, StringType, valueContainsNull = false))
          .as("attributes"))
      spread(reads).write.format("bam").mode("overwrite")
        .option("compressionLevel", "1").option("refs", Refs24).save(s"$base/b2f.bam")
      val aligned = s.read.format("bam")
        .load(s"$base/b2f.bam")
      aligned.select($"readName", lit(null).cast("string").as("comment"), $"seq", $"qual")
        .write.format("fastq").mode("overwrite")
        .option("compressionLevel", "1").save(s"$base/b2f.fastq.bgz")
      val raw = s.read.format("fastq")
        .load(s"$base/b2f.fastq.bgz")
      raw
        .groupBy(length($"seq").as("len"))
        .agg(count(lit(1)).as("n_reads"),
          sum(length(regexp_replace($"seq", "[^GC]", ""))).cast("long").as("n_gc"),
          sum(length(regexp_replace($"qual", "[^!-4]", ""))).cast("long").as("n_lowq"))
        .orderBy($"len")
    },

    // CRAM → BAM transcode (samtools view -b — archive-to-analysis
    // rehydration): records with real bases/quals written natively to
    // CRAM 3.0, read back, rewritten as BAM, and flagstat-shaped per
    // contig. Every byte crosses BOTH record codecs (CRAM series blocks →
    // BAM nibble/phred arrays); a drift anywhere hash-mismatches.
    "q_cram2bam" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      val base = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}"
      // transcode fidelity is per-record, not volume-bound: a 1/4 site
      // sample keeps the double-codec round-trip in the family cost band
      val reads = Tables.lineitem(s, d)
        .filter($"l_orderkey" % 4 === 1)
        .select(
        concat(lit("c"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
        lit(0).cast("int").as("flags"),
        concat(lit("chr"), ($"l_orderkey" % 24).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 37) % 999000) + 20 + $"l_partkey" % 31).cast("int").as("end"),
        lit(60).cast("int").as("mapq"),
        concat((lit(20) + $"l_partkey" % 31).cast("string"), lit("M")).as("cigar"),
        lit(null).cast("string").as("mateContig"),
        lit(0).cast("int").as("mateStart"),
        lit(0).cast("int").as("tlen"),
        expr("substring(repeat('ACGT', 16), CAST((l_orderkey + l_linenumber) % 4 AS INT) + 1," +
          " CAST(20 + l_partkey % 31 AS INT))").as("seq"),
        expr("substring(repeat('IJKLMNOP@+FGH', 5), CAST(l_suppkey % 7 AS INT) + 1," +
          " CAST(20 + l_partkey % 31 AS INT))").as("qual"),
        map().cast(MapType(StringType, StringType, valueContainsNull = false))
          .as("attributes"))
      spread(reads).write.format("cram").mode("overwrite").option("compressionLevel", "1")
        .option("records", "true").option("refs", Refs24).save(s"$base/c2b.cram")
      val archived = s.read.format("cram").option("records", "true")
        .load(s"$base/c2b.cram")
      archived.write.format("bam").mode("overwrite")
        .option("compressionLevel", "1").option("refs", Refs24).save(s"$base/c2b.bam")
      val analysis = s.read.format("bam")
        .load(s"$base/c2b.bam")
      analysis
        .groupBy($"contig")
        .agg(count(lit(1)).as("n_reads"),
          sum($"start".cast("long")).as("sum_start"),
          sum(length($"seq")).cast("long").as("n_bases"))
        .orderBy($"contig")
    },

    // MENDELIAN-VIOLATION census (bcftools +mendelian shape) over trio
    // VCFs: father/mother/child genotypes per site, child dosage checked
    // against the transmissible range [f_min+m_min, f_max+m_max]. Like
    // the HWE pass this is one narrow projection over the round-tripped
    // genotypes array (element_at, no explode) and a per-contig rollup.
    "q_vcf_mendel" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/trio.vcf.bgz"
      def geno(name: String, code: org.apache.spark.sql.Column) = struct(
        lit(name).as("sample"),
        when(code === 0, "0/0").when(code === 1, "0/1").otherwise("1/1").as("gt"),
        map().cast(MapType(StringType, StringType, valueContainsNull = false))
          .as("fields"))
      val vars = Tables.lineitem(s, d).select(
        concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("end"),
        lit(null).cast("string").as("id"),
        lit("A").as("ref"),
        array(lit("G")).as("alt"),
        lit(30.0).as("qual"),
        array(lit("PASS")).as("filters"),
        map().cast(MapType(StringType, StringType, valueContainsNull = false)).as("info"),
        array(
          geno("father", ($"l_orderkey" * 7 + $"l_linenumber") % 3),
          geno("mother", ($"l_orderkey" * 5 + $"l_linenumber" * 2) % 3),
          geno("child", ($"l_orderkey" * 11 + $"l_linenumber" * 3 + $"l_suppkey") % 3))
          .as("genotypes"))
      spread(vars).write.format("vcf").mode("overwrite").option("compressionLevel", "1").saveFixture(path)
      val back = s.read.format("vcf").load(path)
      def dose(i: Int) = {
        val gt = element_at($"genotypes", i).getField("gt")
        when(gt === "0/0", 0L).when(gt === "0/1", 1L).otherwise(2L)
      }
      back
        .select($"contig", dose(1).as("df"), dose(2).as("dm"), dose(3).as("dc"))
        .withColumn("lo",
          when($"df" === 2, 1L).otherwise(0L) + when($"dm" === 2, 1L).otherwise(0L))
        .withColumn("hi",
          when($"df" === 0, 0L).otherwise(1L) + when($"dm" === 0, 0L).otherwise(1L))
        .withColumn("viol", $"dc" < $"lo" || $"dc" > $"hi")
        .groupBy($"contig")
        .agg(count(lit(1)).as("n_sites"),
          sum(when($"viol", 1L).otherwise(0L)).as("n_viol"),
          sum(when($"viol" && $"dc" === 0, 1L).otherwise(0L)).as("n_viol_homref"),
          sum(when($"viol" && $"dc" === 1, 1L).otherwise(0L)).as("n_viol_het"),
          sum(when($"viol" && $"dc" === 2, 1L).otherwise(0L)).as("n_viol_homalt"))
        .orderBy($"contig")
    },

    // GENOTYPE CONCORDANCE (bcftools gtcheck shape): two callsets of the
    // SAME sites, written as two independent VCFs through the connector,
    // joined back on the genomic site key and rolled into the 4x4 GT
    // confusion matrix. Site positions are per-contig ROW_NUMBERs
    // (deterministic order; (l_orderkey,l_linenumber) is NOT unique in
    // lineitem) so the join is exactly 1:1. At 100 TB this is ONE
    // site-keyed equi-join between two position-sorted cohorts — the
    // shape a real caller-vs-caller QC runs per chromosome — plus a
    // 16-key rollup.
    "q_vcf_concordance" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types._
      val base = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}"
      val w = Window.partitionBy($"contig")
        .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
      val sites = Tables.lineitem(s, d)
        .withColumn("contig", concat(lit("chr"), ($"l_orderkey" % 24).cast("string")))
        .withColumn("pos", row_number().over(w))
        .select($"contig", $"pos",
          (($"l_orderkey" * 3 + $"l_linenumber") % 4).as("ca"),
          (($"l_orderkey" * 5 + $"l_linenumber" * 2 + $"l_suppkey") % 4).as("cb"))
      def gtOf(c: org.apache.spark.sql.Column) =
        when(c === 0, "0/0").when(c === 1, "0/1").when(c === 2, "1/1").otherwise("./.")
      def callset(code: org.apache.spark.sql.Column) = sites.select(
        $"contig", $"pos".cast("int").as("start"), $"pos".cast("int").as("end"),
        lit(null).cast("string").as("id"),
        lit("A").as("ref"), array(lit("G")).as("alt"),
        lit(30.0).as("qual"), array(lit("PASS")).as("filters"),
        map().cast(MapType(StringType, StringType, valueContainsNull = false)).as("info"),
        array(struct(lit("s1").as("sample"), gtOf(code).as("gt"),
          map().cast(MapType(StringType, StringType, valueContainsNull = false))
            .as("fields"))).as("genotypes"))
      inParallel( // independent callsets: overlap the writes (guide §2.6)
        () => spread(callset($"ca")).write.format("vcf").mode("overwrite")
          .option("compressionLevel", "1").saveFixture(s"$base/concA.vcf.bgz"),
        () => spread(callset($"cb")).write.format("vcf").mode("overwrite")
          .option("compressionLevel", "1").saveFixture(s"$base/concB.vcf.bgz"))
      def back(p: String, col: String) =
        s.read.format("vcf").load(p)
          .select($"contig", $"start",
            element_at($"genotypes", 1).getField("gt").as(col))
      back(s"$base/concA.vcf.bgz", "gt_a")
        .join(back(s"$base/concB.vcf.bgz", "gt_b"), Seq("contig", "start"))
        .groupBy($"gt_a", $"gt_b")
        .agg(count(lit(1)).as("n"), sum($"start".cast("long")).as("sum_pos"))
        .orderBy($"gt_a", $"gt_b")
    },

    // SOMATIC TUMOR/NORMAL TRIAGE (the Mutect2 contract): two
    // independently written callsets — the tumor one carrying a per-site
    // allele-fraction FORMAT field — full-outer joined on the site key and
    // classified: tumor-private with AF ≥ 5% → somatic candidate,
    // tumor-private below → low-AF artifact, shared → germline,
    // normal-private → normal_only (LOH/dropout review bucket). The AF
    // value round-trips through the FORMAT fields map, so a text-codec
    // drift moves the class boundaries. One site-keyed shuffle for the
    // join; rollup keyed by (contig, class) — 8 × 4 rows.
    "q_vcf_somatic" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types._
      val base = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}"
      val emptyMap = map().cast(MapType(StringType, StringType, valueContainsNull = false))
      val w = Window.partitionBy($"contig")
        .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
      val sites = Tables.lineitem(s, d)
        .withColumn("contig", concat(lit("chr"), ($"l_orderkey" % 8).cast("string")))
        .withColumn("pos", row_number().over(w))
        .select($"contig", $"pos",
          (($"l_orderkey" + $"l_partkey") % 5 =!= 0).as("in_normal"),
          (($"l_orderkey" * 3 + $"l_suppkey") % 7 =!= 0).as("in_tumor"),
          (($"l_partkey" * 13 + $"l_linenumber") % 1000).as("af_pm"))
      def callset(flag: org.apache.spark.sql.Column, sample: String,
                  fields: org.apache.spark.sql.Column) = sites.filter(flag).select(
        $"contig", $"pos".cast("int").as("start"), $"pos".cast("int").as("end"),
        lit(null).cast("string").as("id"),
        lit("A").as("ref"), array(lit("T")).as("alt"),
        lit(30.0).as("qual"), array(lit("PASS")).as("filters"),
        emptyMap.as("info"),
        array(struct(lit(sample).as("sample"), lit("0/1").as("gt"),
          fields.as("fields"))).as("genotypes"))
      inParallel( // independent tumor/normal callsets: overlap (guide §2.6)
        () => spread(callset($"in_normal", "normal", emptyMap))
          .write.format("vcf").mode("overwrite").option("compressionLevel", "1")
          .saveFixture(s"$base/somN.vcf.bgz"),
        () => spread(callset($"in_tumor", "tumor", map(lit("AF"), $"af_pm".cast("string"))))
          .write.format("vcf").mode("overwrite").option("compressionLevel", "1")
          .saveFixture(s"$base/somT.vcf.bgz"))
      val nb = s.read.format("vcf")
        .load(s"$base/somN.vcf.bgz")
        .select($"contig", $"start", lit(1).as("in_n"))
      val tb = s.read.format("vcf")
        .load(s"$base/somT.vcf.bgz")
        .select($"contig", $"start",
          element_at(element_at($"genotypes", 1).getField("fields"), "AF")
            .cast("long").as("af_pm"))
      tb.join(nb, Seq("contig", "start"), "full_outer")
        .withColumn("cls",
          when($"af_pm".isNotNull && $"in_n".isNull && $"af_pm" >= 50, "somatic")
            .when($"af_pm".isNotNull && $"in_n".isNull, "low_af_artifact")
            .when($"af_pm".isNotNull, "germline")
            .otherwise("normal_only"))
        .groupBy($"contig", $"cls")
        .agg(count(lit(1)).as("n_sites"),
          sum($"start".cast("long")).as("sum_pos"),
          sum(coalesce($"af_pm", lit(0L))).as("sum_af_pm"))
        .orderBy($"contig", $"cls")
    },

    // MULTIALLELIC SPLIT (bcftools norm -m- shape): sites carry 1-3 ALT
    // alleles and a diploid GT indexing into them; the split emits one
    // biallelic record per ALT, remapping each GT allele by the bcftools
    // rule (ref stays 0, the kept ALT becomes 1, any OTHER alt becomes
    // '.'). The alt array survives the text codec round-trip, the split
    // is one generator (posexplode) over the scan — row growth bounded by
    // max ALT count — and the rollup is a tiny (n_alts, gt) key space.
    "q_vcf_split_multiallelic" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/multi.vcf.bgz"
      val nalt = ($"l_suppkey" % 3 + 1).cast("int")
      val a1 = ($"l_orderkey" + $"l_linenumber") % ($"l_suppkey" % 3 + 2)
      val a2 = ($"l_orderkey" * 2 + $"l_suppkey") % ($"l_suppkey" % 3 + 2)
      val vars = Tables.lineitem(s, d).select(
        concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("end"),
        lit(null).cast("string").as("id"),
        lit("A").as("ref"),
        slice(array(lit("C"), lit("G"), lit("T")), lit(1), nalt).as("alt"),
        lit(30.0).as("qual"), array(lit("PASS")).as("filters"),
        map().cast(MapType(StringType, StringType, valueContainsNull = false)).as("info"),
        array(struct(lit("s1").as("sample"),
          concat(a1.cast("string"), lit("/"), a2.cast("string")).as("gt"),
          map().cast(MapType(StringType, StringType, valueContainsNull = false))
            .as("fields"))).as("genotypes"))
      spread(vars).write.format("vcf").mode("overwrite").option("compressionLevel", "1").saveFixture(path)
      val back = s.read.format("vcf").load(path)
      val g = element_at($"genotypes", 1).getField("gt")
      val exploded = back.select(
        $"start", size($"alt").as("n_alts"),
        org.apache.spark.sql.functions.split(g, "/").getItem(0).cast("int").as("a1"),
        org.apache.spark.sql.functions.split(g, "/").getItem(1).cast("int").as("a2"),
        posexplode($"alt").as(Seq("i0", "alt_allele")))
        .withColumn("ai", $"i0" + 1)
      def remap(a: org.apache.spark.sql.Column) =
        when(a === 0, "0").when(a === $"ai", "1").otherwise(".")
      exploded
        .withColumn("gt", concat(remap($"a1"), lit("/"), remap($"a2")))
        .groupBy($"n_alts".cast("long").as("n_alts"), $"gt")
        .agg(count(lit(1)).as("n"), sum($"start".cast("long")).as("sum_pos"))
        .orderBy($"n_alts", $"gt")
    },

    // RUNS OF HOMOZYGOSITY (bcftools roh shape): per contig, sites in
    // position order split into maximal runs of consecutive homozygous
    // genotypes; run id = RUNNING count of heterozygous breakers — one
    // RUNNING-frame window per contig (never UnboundedFollowing, the
    // O(n^2) frame the gapfill/closest queries banned), then a run-grain
    // group-by and a per-contig rollup. The per-chromosome sort is exactly
    // how bcftools streams it; positions are dense per-contig ROW_NUMBERs
    // so run length == site count.
    "q_vcf_roh" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/roh.vcf.bgz"
      val w = Window.partitionBy($"contig")
        .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
      val code = ($"l_orderkey" * 3 + $"l_linenumber" + $"l_suppkey") % 4
      // 24 contigs, not the 3 the other synthetic cohorts use: the run
      // windows are per-contig sequential (the bcftools streaming
      // semantic), so contig count IS the parallelism — a 3-way window
      // over 32 cores benchmarks an artifact, 24 approximates a genome
      val vars = Tables.lineitem(s, d)
        .withColumn("contig", concat(lit("chr"), ($"l_orderkey" % 24).cast("string")))
        .withColumn("pos", row_number().over(w))
        .select(
          $"contig", $"pos".cast("int").as("start"), $"pos".cast("int").as("end"),
          lit(null).cast("string").as("id"),
          lit("A").as("ref"), array(lit("G")).as("alt"),
          lit(30.0).as("qual"), array(lit("PASS")).as("filters"),
          map().cast(MapType(StringType, StringType, valueContainsNull = false)).as("info"),
          array(struct(lit("s1").as("sample"),
            when(code === 0, "0/0").when(code === 1, "0/1")
              .when(code === 2, "1/1").otherwise("0/1").as("gt"),
            map().cast(MapType(StringType, StringType, valueContainsNull = false))
              .as("fields"))).as("genotypes"))
      spread(vars).write.format("vcf").mode("overwrite").option("compressionLevel", "1").saveFixture(path)
      val back = s.read.format("vcf").load(path)
      val isHet = (element_at($"genotypes", 1).getField("gt") === "0/1").cast("long")
      val runW = Window.partitionBy($"contig").orderBy($"start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val runs = back
        .select($"contig", $"start", isHet.as("is_het"))
        .withColumn("run_id", sum($"is_het").over(runW))
        .filter($"is_het" === 0)
        .groupBy($"contig", $"run_id")
        .agg(count(lit(1)).as("len"))
      runs.groupBy($"contig")
        .agg(count(lit(1)).as("n_runs"),
          max($"len").as("max_run_len"),
          sum(when($"len" >= 5, 1L).otherwise(0L)).as("n_runs_ge5"),
          sum($"len").as("hom_total"))
        .orderBy($"contig")
    },

    // DUPLICATE MARKING on the UNCLIPPED 5' key — the full Picard/GATK
    // semantics (q_bam_markdup's plain-start key under-groups soft-clipped
    // reads: an aligner trims adapter as nS and shifts POS, so true PCR
    // duplicates land on different starts; MarkDuplicates re-derives the
    // fragment 5' end — start − leadingS on the forward strand, the
    // CIGAR-derived end + trailingS on the reverse — and keys on that).
    // The clipped CIGARs round-trip through the BAM codec, `end` comes
    // back CIGAR-DERIVED from the scan, and the soft-clip arithmetic is
    // two codegen regexp_extracts — no UDF, no explode — followed by the
    // standard ONE position-key shuffle with depth-sized groups.
    "q_bam_markdup_unclipped" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/mdu.bam"
      val clip = ($"l_suppkey" % 8).cast("int")
      val fwd = $"l_linenumber" % 2 === 1
      val cigar = when(clip === 0, lit("151M"))
        .when(fwd, concat(clip.cast("string"), lit("S"),
          (lit(151) - clip).cast("string"), lit("M")))
        .otherwise(concat((lit(151) - clip).cast("string"), lit("M"),
          clip.cast("string"), lit("S")))
      val reads = Tables.lineitem(s, d).select(
        concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
        when(fwd, 0).otherwise(16).cast("int").as("flags"),
        concat(lit("chr"), ($"l_partkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 13) % 5000) + 8).cast("int").as("start"),
        lit(0).cast("int").as("end"),
        (($"l_orderkey" * 7 + $"l_linenumber") % 61).cast("int").as("mapq"),
        cigar.as("cigar"),
        lit(null).cast("string").as("mateContig"),
        lit(0).cast("int").as("mateStart"),
        lit(0).cast("int").as("tlen"),
        lit("*").as("seq"),
        lit("*").as("qual"),
        map(lit("XO"), lit("i:1")).as("attributes"))
      spread(reads).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).option("writeSbi", "true").saveFixture(path)
      val back = s.read.format("bam").load(path)
        .select($"readName", $"contig", $"start", $"end", $"cigar", $"mapq",
          ($"flags".bitwiseAND(16) =!= 0).cast("int").as("strand"))
      // regexp_extract yields "" on no-match; ANSI cast would throw
      val leadS =
        expr("coalesce(try_cast(regexp_extract(cigar, '^([0-9]+)S', 1) as bigint), 0L)")
      val trailS =
        expr("coalesce(try_cast(regexp_extract(cigar, '([0-9]+)S$', 1) as bigint), 0L)")
      val w = Window.partitionBy($"contig", $"u5", $"strand")
        .orderBy($"mapq".desc, $"readName")
      back
        .withColumn("u5",
          when($"strand" === 0, $"start" - leadS).otherwise($"end" + trailS))
        .withColumn("rn", row_number().over(w))
        .withColumn("is_dup", ($"rn" > 1).cast("int"))
        .groupBy($"contig")
        .agg(count(lit(1)).as("n_reads"),
          sum($"is_dup".cast("long")).as("n_dups"),
          countDistinct($"u5", $"strand").as("n_sites"),
          sum(when($"is_dup" === 0, $"mapq".cast("long")).otherwise(0L)).as("kept_mapq_sum"))
        .orderBy($"contig")
    },

    // SOFT-CLIP PROFILE (samtools stats "bases clipped" shape): per
    // (contig, strand), how many reads carry any soft clip, total and max
    // clipped bases — leading AND trailing ops parsed back from the
    // round-tripped CIGAR with codegen regexp_extracts. One narrow scan,
    // one six-row rollup.
    "q_bam_softclip_profile" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/clip.bam"
      val clip = ($"l_suppkey" % 8).cast("int")
      val fwd = $"l_linenumber" % 2 === 1
      val cigar = when(clip === 0, lit("151M"))
        .when(fwd, concat(clip.cast("string"), lit("S"),
          (lit(151) - clip).cast("string"), lit("M")))
        .otherwise(concat((lit(151) - clip).cast("string"), lit("M"),
          clip.cast("string"), lit("S")))
      val reads = Tables.lineitem(s, d).select(
        concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
        when(fwd, 0).otherwise(16).cast("int").as("flags"),
        concat(lit("chr"), ($"l_partkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 13) % 5000) + 8).cast("int").as("start"),
        lit(0).cast("int").as("end"),
        lit(60).cast("int").as("mapq"),
        cigar.as("cigar"),
        lit(null).cast("string").as("mateContig"),
        lit(0).cast("int").as("mateStart"),
        lit(0).cast("int").as("tlen"),
        lit("*").as("seq"),
        lit("*").as("qual"),
        map(lit("XO"), lit("i:1")).as("attributes"))
      spread(reads).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).saveFixture(path)
      val back = s.read.format("bam").load(path)
        .select($"contig", $"cigar",
          ($"flags".bitwiseAND(16) =!= 0).cast("int").as("strand"))
      // regexp_extract yields "" on no-match; ANSI cast would throw
      val leadS =
        expr("coalesce(try_cast(regexp_extract(cigar, '^([0-9]+)S', 1) as bigint), 0L)")
      val trailS =
        expr("coalesce(try_cast(regexp_extract(cigar, '([0-9]+)S$', 1) as bigint), 0L)")
      back.select($"contig", $"strand", (leadS + trailS).as("clip"))
        .groupBy($"contig", $"strand")
        .agg(count(lit(1)).as("n_reads"),
          sum(when($"clip" > 0, 1L).otherwise(0L)).as("n_clipped"),
          sum($"clip").as("clip_bases"),
          max($"clip").as("max_clip"))
        .orderBy($"contig", $"strand")
    },

    // BASE QUALITY BY CYCLE (FastQC's per-cycle panel): reads carry a real
    // 36-cycle quality ladder derived from lineitem, round-trip through the
    // BAM codec's phred+33 ↔ raw-byte qual encoding, and the per-cycle
    // census is computed from what came BACK — a single-byte qual slip at
    // any cycle shifts that cycle's sum/min/max. The explode is a bounded
    // ×36 row fan-out (read length, not corpus), every expression inside
    // it codegen (ascii/substring), and the rollup key space is 36 rows.
    "q_bam_baseq_cycle" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/bq.bam"
      val reads = Tables.lineitem(s, d).select(
        concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
        lit(0).cast("int").as("flags"),
        concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
        lit(0).cast("int").as("end"),
        lit(60).cast("int").as("mapq"),
        lit("36M").as("cigar"),
        lit(null).cast("string").as("mateContig"),
        lit(0).cast("int").as("mateStart"),
        lit(0).cast("int").as("tlen"),
        lit(KmerAlpha).substr((($"l_partkey" * 13) % 29).cast("int") + 1, lit(36))
          .as("seq"),
        lit(QLadder).substr(($"l_partkey" % 40).cast("int") + 1, lit(36)).as("qual"),
        map(lit("XO"), lit("i:1")).as("attributes"))
      spread(reads).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).saveFixture(path)
      val back = s.read.format("bam").load(path)
        .select($"qual")
      back
        .select(explode(sequence(lit(1L), lit(36L))).as("cycle"), $"qual")
        .select($"cycle",
          (expr("ascii(substring(qual, cast(cycle as int), 1))") - lit(33))
            .cast("long").as("q"))
        .groupBy($"cycle")
        .agg(count(lit(1)).as("n_reads"), sum($"q").as("sum_q"),
          min($"q").as("min_q"), max($"q").as("max_q"))
        .withColumn("mean_q_milli", expr("sum_q * 1000 div n_reads"))
        .orderBy($"cycle")
    },

    // TRANSITION/TRANSVERSION RATIO (bcftools stats ts/tv — the classic
    // callset-quality signal): SNVs with all twelve ordered ref→alt pairs
    // round-trip through the VCF connector, the class test is one codegen
    // boolean over the returned ref/alt, and the rollup is three rows.
    "q_vcf_tstv" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/tstv.vcf.bgz"
      val refIdx = ($"l_partkey" % 4).cast("int")
      val altIdx = (refIdx + 1 + ($"l_linenumber" % 3).cast("int")) % 4
      val vars = Tables.lineitem(s, d).select(
        concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("end"),
        lit(null).cast("string").as("id"),
        lit("ACGT").substr(refIdx + 1, lit(1)).as("ref"),
        array(lit("ACGT").substr(altIdx + 1, lit(1))).as("alt"),
        lit(30.0).as("qual"),
        array(lit("PASS")).as("filters"),
        map().cast(MapType(StringType, StringType, valueContainsNull = false)).as("info"),
        array().cast(ArrayType(graft.vcf.Variant.genotypeType, containsNull = false))
          .as("genotypes"))
      spread(vars).write.format("vcf").mode("overwrite").option("compressionLevel", "1").saveFixture(path)
      val back = s.read.format("vcf").load(path)
      back.select($"contig", $"ref", element_at($"alt", 1).as("alt"))
        .withColumn("is_ts",
          (($"ref" === "A" && $"alt" === "G") || ($"ref" === "G" && $"alt" === "A") ||
            ($"ref" === "C" && $"alt" === "T") || ($"ref" === "T" && $"alt" === "C"))
            .cast("long"))
        .groupBy($"contig")
        .agg(count(lit(1)).as("n_sites"), sum($"is_ts").as("n_ts"),
          (count(lit(1)) - sum($"is_ts")).as("n_tv"))
        .withColumn("tstv_milli",
          when($"n_tv" === 0, lit(null).cast("long"))
            .otherwise(expr("n_ts * 1000 div n_tv")))
        .orderBy($"contig")
    },

    // PER-SAMPLE MISSINGNESS / CALL RATE (vcftools --missing-indv): the
    // cohort carries genuinely missing `./.` genotypes, round-trips, and
    // the per-sample census explodes the 12-wide genotype array — a
    // bounded ×cohort fan-out keyed by sample name, the exact shape
    // plink uses; the rollup key space is the sample list.
    "q_vcf_missingness" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/miss.vcf.bgz"
      def geno(j: Int) = {
        val code = ($"l_orderkey" + lit(j) * $"l_linenumber" +
          lit(j * j) * $"l_suppkey") % 5
        struct(
          lit(f"s$j%02d").as("sample"),
          when(code === 4, "./.")
            .when(code % 3 === 0, "0/0")
            .when(code % 3 === 1, "0/1").otherwise("1/1").as("gt"),
          map().cast(MapType(StringType, StringType, valueContainsNull = false))
            .as("fields"))
      }
      val vars = Tables.lineitem(s, d).select(
        concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("end"),
        lit(null).cast("string").as("id"),
        lit("A").as("ref"), array(lit("G")).as("alt"),
        lit(30.0).as("qual"), array(lit("PASS")).as("filters"),
        map().cast(MapType(StringType, StringType, valueContainsNull = false)).as("info"),
        array((1 to 12).map(geno): _*).as("genotypes"))
      spread(vars).write.format("vcf").mode("overwrite").option("compressionLevel", "1").saveFixture(path)
      val back = s.read.format("vcf").load(path)
      back.select(explode($"genotypes").as("g"))
        .select($"g.sample".as("sample"), $"g.gt".as("gt"))
        .groupBy($"sample")
        .agg(count(lit(1)).as("n_sites"),
          sum(when($"gt" === "./.", 1L).otherwise(0L)).as("n_missing"))
        .withColumn("call_rate_milli",
          expr("(n_sites - n_missing) * 1000 div n_sites"))
        .orderBy($"sample")
    },

    // PER-SAMPLE INBREEDING COEFFICIENT (vcftools --het / plink F): the
    // cohort-wide expected heterozygosity comes from the SAME native
    // graft_gt_census codegen pass as HWE (per-site allele counts, exact
    // fixed-point milli arithmetic, summed to ONE scalar and broadcast),
    // the per-sample observed-het counts come from the bounded ×cohort
    // explode, and F = 1 − O/E is computed per sample against the
    // broadcast scalar — no pair space, no second corpus shuffle.
    "q_vcf_inbreeding" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/inb.vcf.bgz"
      def geno(j: Int) = {
        val code = ($"l_orderkey" + lit(j) * $"l_linenumber" +
          lit(j * j) * $"l_suppkey") % 3
        struct(
          lit(f"s$j%02d").as("sample"),
          when(code === 0, "0/0").when(code === 1, "0/1").otherwise("1/1").as("gt"),
          map().cast(MapType(StringType, StringType, valueContainsNull = false))
            .as("fields"))
      }
      val vars = Tables.lineitem(s, d).select(
        concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("end"),
        lit(null).cast("string").as("id"),
        lit("A").as("ref"), array(lit("G")).as("alt"),
        lit(30.0).as("qual"), array(lit("PASS")).as("filters"),
        map().cast(MapType(StringType, StringType, valueContainsNull = false)).as("info"),
        array((1 to 12).map(geno): _*).as("genotypes"))
      spread(vars).write.format("vcf").mode("overwrite").option("compressionLevel", "1").saveFixture(path)
      // formatFields=GT: the census consumes the whole genotype array, so
      // Catalyst cannot prune the map-typed FORMAT fields — opt in to the
      // selective decode (gt by token scan, no per-sample maps)
      val back = s.read.format("vcf")
        .option("formatFields", "GT").load(path)
      graft.functions.GtCensusExpr.register(s)
      val eRow = back
        .select(expr("graft_gt_census(genotypes)").as("cen"))
        .select((lit(2L) * $"cen".getItem(0) + $"cen".getItem(1)).as("pr"),
          (lit(2L) * $"cen".getItem(2) + $"cen".getItem(1)).as("pq"))
        .agg(sum(expr("2 * pr * pq * 1000 div ((pr + pq) * (pr + pq))")).as("e_milli"))
      val obs = back.select(explode($"genotypes").as("g"))
        .select($"g.sample".as("sample"), $"g.gt".as("gt"))
        .groupBy($"sample")
        .agg(sum(when($"gt" === "0/1", 1L).otherwise(0L)).as("n_het"))
      obs.crossJoin(broadcast(eRow))
        .select($"sample", $"n_het", $"e_milli",
          (lit(1000L) - expr("n_het * 1000000 div e_milli")).as("f_milli"))
        .orderBy($"sample")
    },

    // FOLDED SITE-FREQUENCY SPECTRUM (the popgen summary everything from
    // Tajima's D to demographic inference reads off): per site the minor
    // allele count comes from the SAME native graft_gt_census pass as
    // HWE — one codegen array walk, no explode — and the spectrum is a
    // 13-bin rollup. sum_pos rides along so bin assignment (not just bin
    // size) is pinned.
    "q_vcf_af_spectrum" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/sfs.vcf.bgz"
      // NOT the HWE derivation: anything linear in the key residues mod 3
      // collapses to <=27 site types with zero singleton sites, and uniform
      // codes make singletons vanishingly rare (12/3^12). Real cohorts are
      // REF-SKEWED; this hash gives P(het)=2/24, P(homAlt)=1/24 — measured
      // on sf0.01: 13k singleton sites carried by all 12 samples (min 951)
      // and a full 13-bin folded spectrum.
      // the shared site hash is hoisted to ONE column: inlining it into all
      // 12 genotype structs (x2 when-branches) made the projection's
      // generated code fall out of JIT range — measured 2.3x slower write
      def geno(j: Int) = {
        val h = ($"gbase" * lit(17 * j + 1)) % 1000003 % 24
        struct(
          lit(f"s$j%02d").as("sample"),
          when(h < 21, "0/0").when(h < 23, "0/1").otherwise("1/1").as("gt"),
          map().cast(MapType(StringType, StringType, valueContainsNull = false))
            .as("fields"))
      }
      val vars = Tables.lineitem(s, d)
        .withColumn("gbase", $"l_orderkey" * 131 + $"l_partkey" * 37 +
          $"l_suppkey" * 11 + $"l_linenumber" * 5)
        .select(
        concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("end"),
        lit(null).cast("string").as("id"),
        lit("A").as("ref"), array(lit("G")).as("alt"),
        lit(30.0).as("qual"), array(lit("PASS")).as("filters"),
        map().cast(MapType(StringType, StringType, valueContainsNull = false)).as("info"),
        array((1 to 12).map(geno): _*).as("genotypes"))
      spread(vars).write.format("vcf").mode("overwrite").option("compressionLevel", "1").saveFixture(path)
      // formatFields=GT: the census consumes the whole genotype array, so
      // Catalyst cannot prune the map-typed FORMAT fields — opt in to the
      // selective decode (gt by token scan, no per-sample maps)
      val back = s.read.format("vcf")
        .option("formatFields", "GT").load(path)
      graft.functions.GtCensusExpr.register(s)
      back
        .select($"start".cast("long").as("pos"),
          expr("graft_gt_census(genotypes)").as("cen"))
        .select($"pos",
          (lit(2L) * $"cen".getItem(2) + $"cen".getItem(1)).as("pq"))
        .select($"pos", least($"pq", lit(24L) - $"pq").as("mac"))
        .groupBy($"mac")
        .agg(count(lit(1)).as("n_sites"), sum($"pos").as("sum_pos"))
        .orderBy($"mac")
    },

    // PER-SAMPLE SINGLETON LOAD (vcftools --singletons / plink --indiv
    // rare-variant burden): singleton sites (exactly one alt allele in
    // the cohort: one het, zero hom-alt) are found with the native census
    // FIRST, and only that filtered sliver explodes to find its carrier —
    // filter-before-explode, so the ×cohort fan-out touches the rare
    // subset, never the corpus.
    "q_vcf_singletons" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/sing.vcf.bgz"
      // NOT the HWE derivation: anything linear in the key residues mod 3
      // collapses to <=27 site types with zero singleton sites, and uniform
      // codes make singletons vanishingly rare (12/3^12). Real cohorts are
      // REF-SKEWED; this hash gives P(het)=2/24, P(homAlt)=1/24 — measured
      // on sf0.01: 13k singleton sites carried by all 12 samples (min 951)
      // and a full 13-bin folded spectrum.
      // the shared site hash is hoisted to ONE column: inlining it into all
      // 12 genotype structs (x2 when-branches) made the projection's
      // generated code fall out of JIT range — measured 2.3x slower write
      def geno(j: Int) = {
        val h = ($"gbase" * lit(17 * j + 1)) % 1000003 % 24
        struct(
          lit(f"s$j%02d").as("sample"),
          when(h < 21, "0/0").when(h < 23, "0/1").otherwise("1/1").as("gt"),
          map().cast(MapType(StringType, StringType, valueContainsNull = false))
            .as("fields"))
      }
      val vars = Tables.lineitem(s, d)
        .withColumn("gbase", $"l_orderkey" * 131 + $"l_partkey" * 37 +
          $"l_suppkey" * 11 + $"l_linenumber" * 5)
        .select(
        concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("end"),
        lit(null).cast("string").as("id"),
        lit("A").as("ref"), array(lit("G")).as("alt"),
        lit(30.0).as("qual"), array(lit("PASS")).as("filters"),
        map().cast(MapType(StringType, StringType, valueContainsNull = false)).as("info"),
        array((1 to 12).map(geno): _*).as("genotypes"))
      spread(vars).write.format("vcf").mode("overwrite").option("compressionLevel", "1").saveFixture(path)
      // formatFields=GT: the census consumes the whole genotype array, so
      // Catalyst cannot prune the map-typed FORMAT fields — opt in to the
      // selective decode (gt by token scan, no per-sample maps)
      val back = s.read.format("vcf")
        .option("formatFields", "GT").load(path)
      graft.functions.GtCensusExpr.register(s)
      back
        .select($"genotypes", expr("graft_gt_census(genotypes)").as("cen"))
        .filter($"cen".getItem(1) === 1L && $"cen".getItem(2) === 0L)
        .select(explode($"genotypes").as("g"))
        .filter($"g.gt" === "0/1")
        .select($"g.sample".as("sample"))
        .groupBy($"sample")
        .agg(count(lit(1)).as("n_singletons"))
        .orderBy($"sample")
    },

    // PAIR-ORIENTATION CENSUS (samtools stats "inward/outward/other
    // oriented pairs" — the library-prep QC signal that catches everted
    // inserts and tandem artifacts): each template's record carries BOTH
    // strand bits (0x10 self, 0x20 mate) and the mate coordinate; all
    // three round-trip through the codec (the first query to read
    // mateStart BACK), and the three-way classification is one codegen
    // projection + a per-contig rollup.
    "q_bam_insert_orientation" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/orient.bam"
      val flags =
        (lit(1)
          + when($"l_partkey" % 2 === 0, 16).otherwise(0)
          + when($"l_orderkey" % 2 === 0, 32).otherwise(0)).cast("int")
      val start = ((($"l_partkey" * 13) % 5000) + 400).cast("int")
      val reads = Tables.lineitem(s, d).select(
        concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
        flags.as("flags"),
        concat(lit("chr"), ($"l_partkey" % 3).cast("string")).as("contig"),
        start.as("start"),
        lit(0).cast("int").as("end"),
        lit(60).cast("int").as("mapq"),
        lit("151M").as("cigar"),
        concat(lit("chr"), ($"l_partkey" % 3).cast("string")).as("mateContig"),
        (start + ($"l_suppkey" % 1200).cast("int") - 300).as("mateStart"),
        lit(0).cast("int").as("tlen"),
        lit("*").as("seq"),
        lit("*").as("qual"),
        map(lit("XO"), lit("i:1")).as("attributes"))
      spread(reads).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).option("writeSbi", "true").saveFixture(path)
      val back = s.read.format("bam").load(path)
        .select($"contig", $"start", $"mateStart",
          ($"flags".bitwiseAND(16) =!= 0).as("selfRev"),
          ($"flags".bitwiseAND(32) =!= 0).as("mateRev"))
      back
        .withColumn("orientation",
          when($"selfRev" === $"mateRev", "tandem")
            .when((!$"selfRev" && $"start" <= $"mateStart") ||
              ($"selfRev" && $"mateStart" <= $"start"), "inward")
            .otherwise("outward"))
        .groupBy($"contig", $"orientation")
        .agg(count(lit(1)).as("n_pairs"),
          sum(abs($"mateStart" - $"start").cast("long")).as("sum_gap"))
        .orderBy($"contig", $"orientation")
    },

    // PER-READ-GROUP ERROR RATE (GATK CollectAlignmentSummaryMetrics /
    // samtools stats "error rate" grouped by RG — the lane/flow-cell QC
    // rollup): every read carries a THREE-TYPE tag payload (RG:Z string,
    // NM:i edit distance, XC:A class char) that round-trips through the
    // codec's typed-tag encoder; the rollup parses all three back from
    // the attributes map (codegen substring/element_at) and aggregates
    // per read group — the first query to pin Z and A tag bytes, not
    // just the i-typed XO the other queries carry.
    "q_bam_rg_error_rate" -> { (s, d) =>
      import s.implicits._
      val reads = rgTagReads(s, d)
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/rg.bam"
      spread(reads).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).option("writeSbi", "true").saveFixture(path)
      // OPTION-FREE tag projection: the literal element_at keys below make
      // the AutoProjection rule derive attrKeys=[NM,RG,XC] — the reader
      // decodes ONLY those three in the self-describing tag walk and
      // byte-skips the five other tags of the 8-tag aligner payload
      // (AS/XS/MC/MD/ms). The typed-column variant of the same projection
      // (.option("tagColumns", "RG:string,NM:int,XC:string")) remains the
      // q_bam_bqsr_covariates read path.
      val back = s.read.format("bam").load(path)
      back
        .select(
          substring(element_at($"attributes", "RG"), 3, 100).as("read_group"),
          expr("cast(substring(element_at(attributes,'NM'),3,10) as int)").as("nm"),
          substring(element_at($"attributes", "XC"), 3, 1).as("xc"))
        .groupBy($"read_group")
        .agg(count(lit(1)).as("n_reads"),
          sum($"nm").as("sum_nm"),
          sum(when($"xc" === "F", 1L).otherwise(0L)).as("n_fwd_class"))
        .withColumn("err_per_mb", expr("sum_nm * 1000000 div (n_reads * 151)"))
        .orderBy($"read_group")
    },

    // the SAME per-read-group rollup through the SAM TEXT path, also
    // option-free: the derived attrKeys=[NM,RG,XC] mask makes the raw
    // optional-column tail boundary-scan (SamCodec.scanSelectedTags) find
    // the three wanted tags and never materialize the five others.
    // Identical oracle to the BAM twin, so a divergence between the
    // binary tag walk and the text tag scan hash-mismatches here. (The
    // explicit typed-column projection for SAM stays spec-covered:
    // AttrKeysSpec / TagProjectionSpec.)
    "q_sam_rg_error_rate" -> { (s, d) =>
      import s.implicits._
      val reads = rgTagReads(s, d)
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/rg.sam"
      spread(reads).write.format("sam").mode("overwrite")
        .option("refs", Refs).saveFixture(path)
      val back = s.read.format("sam").load(path)
      back
        .select(
          substring(element_at($"attributes", "RG"), 3, 100).as("read_group"),
          expr("cast(substring(element_at(attributes,'NM'),3,10) as int)").as("nm"),
          substring(element_at($"attributes", "XC"), 3, 1).as("xc"))
        .groupBy($"read_group")
        .agg(count(lit(1)).as("n_reads"),
          sum($"nm").as("sum_nm"),
          sum(when($"xc" === "F", 1L).otherwise(0L)).as("n_fwd_class"))
        .withColumn("err_per_mb", expr("sum_nm * 1000000 div (n_reads * 151)"))
        .orderBy($"read_group")
    },

    // BQSR COVARIATE TABLE (the GATK BaseRecalibrator shape): per
    // (read group, machine-cycle bin) mismatch counts, with mismatch
    // CYCLES recovered by parsing the MD tag — the matched-run/mismatch
    // walk every recalibrator performs. The MD parse is a single
    // codegen-friendly higher-order aggregate over the regexp token
    // stream (runs advance the cursor, deletions don't consume read
    // positions, letters emit the current cycle); the read path is the
    // typed-tag projection (RG + MD only — six other tags byte-skipped).
    // Scale shape: narrow parse per read, explode bounded by mismatches
    // per read (11 here), rollup keyed by (rg, bin) ≤ rgs × ceil(151/16),
    // per-rg totals broadcast back.
    "q_bam_bqsr_covariates" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/bqsr.bam"
      spread(rgTagReads(s, d)).write.format("bam").mode("overwrite")
        .option("compressionLevel", "1").option("refs", Refs)
        .option("writeSbi", "true").saveFixture(path)
      graft.functions.MdCyclesExpr.register(s)
      val back = s.read.format("bam")
        .option("tagColumns", "RG:string,MD:string").load(path)
      val hits = back.select(
        $"tag_RG".as("read_group"),
        expr("graft_md_cycles(tag_MD)").as("mm"))
      val perRg = hits.groupBy($"read_group").agg(count(lit(1)).as("n_reads"))
      hits.select($"read_group", explode($"mm").as("cycle"))
        .groupBy($"read_group", expr("cycle div 16").as("cycle_bin"))
        .agg(count(lit(1)).as("n_mismatch"))
        .join(broadcast(perRg), "read_group")
        .withColumn("err_permille", expr("n_mismatch * 1000 div (n_reads * 16)"))
        .select($"read_group", $"cycle_bin".cast("long").as("cycle_bin"),
          $"n_mismatch", $"n_reads", $"err_permille")
        .orderBy($"read_group", $"cycle_bin")
    },

    // ALLELE-AWARE PILEUP (the bcftools-mpileup core, one step past
    // q_bam_pileup's depth-only column): per position of a fixed window,
    // per-base A/C/G/T counts read from the SEQUENCE CONTENT of the
    // overlapping reads (substring at the read-relative offset — 4-bit
    // nibble codec round-trip under every base), plus the deterministic
    // major-allele call. Scale shape: the window filter prunes the scan,
    // the explode fan-out is read-length-bounded, and the rollup key
    // space is |window| × 4.
    "q_bam_basecall_pileup" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/bp.bam"
      val reads = Tables.lineitem(s, d).select(
        concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
        lit(0).cast("int").as("flags"),
        concat(lit("chr"), ($"l_partkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 13) % 5000) + 1).cast("int").as("start"),
        lit(0).cast("int").as("end"),
        lit(60).cast("int").as("mapq"),
        lit("32M").as("cigar"),
        lit(null).cast("string").as("mateContig"),
        lit(0).cast("int").as("mateStart"),
        lit(0).cast("int").as("tlen"),
        lit(KmerAlpha).substr((($"l_partkey" * 13) % 33).cast("int") + 1, lit(32))
          .as("seq"),
        lit("*").as("qual"),
        map(lit("XO"), lit("i:1")).as("attributes"))
      spread(reads).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).saveFixture(path)
      val back = s.read.format("bam").load(path)
        .select($"contig", $"start", $"seq")
        .filter($"start" <= 1263 && $"start" + 31 >= 1200)
      back
        .select($"contig", $"start", $"seq",
          explode(expr("sequence(greatest(start, 1200), least(start + 31, 1263))"))
            .as("p"))
        .select($"contig", $"p",
          expr("substring(seq, p - start + 1, 1)").as("base"))
        .groupBy($"contig", $"p")
        .agg(
          sum(when($"base" === "A", 1L).otherwise(0L)).as("n_a"),
          sum(when($"base" === "C", 1L).otherwise(0L)).as("n_c"),
          sum(when($"base" === "G", 1L).otherwise(0L)).as("n_g"),
          sum(when($"base" === "T", 1L).otherwise(0L)).as("n_t"),
          count(lit(1)).as("depth"))
        .withColumn("major", expr(
          "CASE WHEN n_a >= n_c AND n_a >= n_g AND n_a >= n_t THEN 'A' " +
            "WHEN n_c >= n_g AND n_c >= n_t THEN 'C' " +
            "WHEN n_g >= n_t THEN 'G' ELSE 'T' END"))
        .orderBy($"contig", $"p")
    },

    // PHASE-SWITCH CENSUS (whatshap-compare shape): the first query to
    // round-trip PHASED genotypes ('0|1'/'1|0' — the pipe separator, not
    // the unphased slash every other cohort uses) and multi-entry FILTER
    // columns (the ';'-joined 'q10;s50' text form). Per (sample, contig)
    // the phased-het sites order by the deterministic site key and a lag()
    // window counts haplotype flips — the switch-error statistic. Bounded
    // ×2 explode, per-sample-contig window state, three-row rollup.
    "q_vcf_phase_switch" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/phase.vcf.bgz"
      val w = Window.partitionBy($"contig")
        .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
      def geno(name: String, code: org.apache.spark.sql.Column) = struct(
        lit(name).as("sample"),
        when(code === 0, "0|0").when(code === 1, "0|1")
          .when(code === 2, "1|0").otherwise("1|1").as("gt"),
        map().cast(MapType(StringType, StringType, valueContainsNull = false))
          .as("fields"))
      val vars = Tables.lineitem(s, d)
        .withColumn("contig", concat(lit("chr"), ($"l_orderkey" % 24).cast("string")))
        .withColumn("pos", row_number().over(w))
        .select(
          $"contig", $"pos".cast("int").as("start"), $"pos".cast("int").as("end"),
          lit(null).cast("string").as("id"),
          lit("A").as("ref"), array(lit("G")).as("alt"),
          lit(30.0).as("qual"),
          when(($"l_suppkey" + $"l_partkey") % 7 === 0,
            array(lit("q10"), lit("s50"))).otherwise(array(lit("PASS"))).as("filters"),
          map().cast(MapType(StringType, StringType, valueContainsNull = false)).as("info"),
          array(
            geno("s01", ($"l_orderkey" * 3 + $"l_linenumber" + $"l_partkey") % 4),
            geno("s02", ($"l_orderkey" * 7 + $"l_suppkey") % 4)).as("genotypes"))
      spread(vars).write.format("vcf").mode("overwrite").option("compressionLevel", "1").saveFixture(path)
      val back = s.read.format("vcf").load(path)
      val g = back
        .select($"contig", $"start", size($"filters").as("nfilt"),
          explode($"genotypes").as("g"))
        .select($"contig", $"start", $"nfilt",
          $"g.sample".as("sample"), $"g.gt".as("gt"))
        .filter($"gt" === "0|1" || $"gt" === "1|0")
      val ws = Window.partitionBy($"sample", $"contig").orderBy($"start")
      g.withColumn("prev", lag($"gt", 1).over(ws))
        .withColumn("switch",
          when($"prev".isNotNull && $"prev" =!= $"gt", 1L).otherwise(0L))
        .groupBy($"sample")
        .agg(count(lit(1)).as("n_het_sites"),
          sum($"switch").as("n_switches"),
          sum(when($"nfilt" > 1, 1L).otherwise(0L)).as("n_multifilter"))
        .orderBy($"sample")
    },

    // WGS COVERAGE METRICS (Picard CollectWgsMetrics shape): per-position
    // depth over a fixed window INCLUDING zero-depth positions (sequence
    // spine), rolled to mean depth (exact milli), max, and the ≥k
    // coverage-threshold fractions in permille — one explode bounded by
    // read length, one window-keyed count, one 3-row rollup.
    "q_bam_wgs_metrics" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/wgs.bam"
      val reads = Tables.lineitem(s, d)
        .filter($"l_partkey" % 5 === 0) // thin to ~120x so thresholds bite
        .select(
          concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
          lit(0).cast("int").as("flags"),
          concat(lit("chr"), ($"l_partkey" % 3).cast("string")).as("contig"),
          ((($"l_partkey" * 13) % 5000) + 1).cast("int").as("start"),
          lit(0).cast("int").as("end"),
          lit(60).cast("int").as("mapq"),
          lit("151M").as("cigar"),
          lit(null).cast("string").as("mateContig"),
          lit(0).cast("int").as("mateStart"),
          lit(0).cast("int").as("tlen"),
          lit("*").as("seq"),
          lit("*").as("qual"),
          map(lit("XO"), lit("i:1")).as("attributes"))
      spread(reads).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).saveFixture(path)
      val back = s.read.format("bam").load(path)
        .select($"contig", $"start", $"end")
        .filter($"start" <= 1999 && $"end" >= 1000)
      val depth = back
        .select($"contig", explode(sequence(greatest($"start", lit(1000)),
          least($"end", lit(1999)))).as("p"))
        .groupBy($"contig", $"p").agg(count(lit(1)).as("dep"))
      val spine = s.range(3).select(concat(lit("chr"), $"id").as("contig"))
        .select($"contig", explode(sequence(lit(1000), lit(1999))).as("p"))
      spine.join(depth, Seq("contig", "p"), "left")
        .select($"contig", coalesce($"dep", lit(0L)).as("dep"))
        .groupBy($"contig")
        .agg(count(lit(1)).as("n_pos"), sum($"dep").as("sum_dep"),
          max($"dep").as("max_depth"),
          sum(when($"dep" >= 50, 1L).otherwise(0L)).as("ge50"),
          sum(when($"dep" >= 150, 1L).otherwise(0L)).as("ge150"),
          sum(when($"dep" >= 300, 1L).otherwise(0L)).as("ge300"),
          sum(when($"dep" >= 600, 1L).otherwise(0L)).as("ge600"))
        .select($"contig",
          expr("sum_dep * 1000 div n_pos").as("mean_depth_milli"),
          $"max_depth",
          expr("ge50 * 1000 div n_pos").as("ge50_permille"),
          expr("ge150 * 1000 div n_pos").as("ge150_permille"),
          expr("ge300 * 1000 div n_pos").as("ge300_permille"),
          expr("ge600 * 1000 div n_pos").as("ge600_permille"))
        .orderBy($"contig")
    },

    // GENOTYPE-QUALITY MASKING (bcftools +setGT -t q: set low-GQ calls to
    // missing before downstream use — the standard joint-callset hygiene
    // pass): genotypes carry per-sample GQ in the FORMAT fields map, sites
    // carry a MULTI-KEY INFO map including a value-less FLAG key (DB) —
    // both map forms round-trip through the VCF text codec (flag keys
    // serialize bare, no '=') — and the per-sample call rates before/after
    // the GQ≥20 mask roll up from one bounded explode.
    "q_vcf_setgt_filter" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/setgt.vcf.bgz"
      def geno(j: Int) = {
        val code = ($"l_orderkey" + lit(j) * $"l_linenumber" +
          lit(j * j) * $"l_suppkey") % 4
        val gq = ($"l_partkey" + lit(j * 17)) % 60
        struct(
          lit(f"s$j%02d").as("sample"),
          when(code === 0, "0/0").when(code === 1, "0/1")
            .when(code === 2, "1/1").otherwise("./.").as("gt"),
          map(lit("GQ"), gq.cast("string")).as("fields"))
      }
      val vars = Tables.lineitem(s, d).select(
        concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("end"),
        lit(null).cast("string").as("id"),
        lit("A").as("ref"), array(lit("G")).as("alt"),
        lit(30.0).as("qual"), array(lit("PASS")).as("filters"),
        when($"l_orderkey" % 5 === 0,
          map(lit("DP"), $"l_suppkey".cast("string"), lit("DB"), lit("")))
          .otherwise(map(lit("DP"), $"l_suppkey".cast("string"))).as("info"),
        array((1 to 4).map(geno): _*).as("genotypes"))
      spread(vars).write.format("vcf").mode("overwrite").option("compressionLevel", "1").saveFixture(path)
      val back = s.read.format("vcf").load(path)
      back
        .select($"info", explode($"genotypes").as("g"))
        .select($"g.sample".as("sample"), $"g.gt".as("gt"),
          element_at($"g.fields", "GQ").cast("long").as("gq"),
          map_contains_key($"info", "DB").cast("long").as("has_db"))
        .groupBy($"sample")
        .agg(count(lit(1)).as("n_sites"),
          sum(when($"gt" =!= "./.", 1L).otherwise(0L)).as("called_before"),
          sum(when($"gt" =!= "./." && $"gq" >= 20, 1L).otherwise(0L)).as("called_after"),
          sum($"has_db").as("n_db_sites"))
        .withColumn("callrate_after_milli", expr("called_after * 1000 div n_sites"))
        .orderBy($"sample")
    },

    // DOWNSAMPLE TO TARGET COVERAGE (GATK downsampling / Picard
    // PositionBasedDownsampleSam shape, window-normalized): per-window
    // start counts are ONE aggregate, joined back on the window key (both
    // sides already window-keyed — no second corpus shuffle beyond the
    // join), and the keep decision is the deterministic shared hash60
    // (name-hash mod window-depth < target) so the SAME reads survive at
    // any parallelism — the property naive random sampling breaks.
    "q_bam_downsample_coverage" -> { (s, d) =>
      import s.implicits._
      import graft.functions.GraftFunctions.hash60
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/ds.bam"
      spread(syntheticReads(s, d)).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).saveFixture(path)
      val target = 100L
      val back = s.read.format("bam").load(path)
        .select($"readName", $"contig", $"start".cast("long").as("start"))
        .withColumn("w", expr("start div 1000"))
      val depth = back.groupBy($"contig", $"w").agg(count(lit(1)).as("dep"))
      back.join(depth, Seq("contig", "w"))
        .withColumn("keep",
          $"dep" <= target ||
            hash60(concat(lit("ds|"), $"readName")) % $"dep" < target)
        .groupBy($"contig")
        .agg(count(lit(1)).as("n_before"),
          sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
          countDistinct(when($"dep" > target, $"w")).as("n_windows_capped"),
          sum(when($"keep", $"start").otherwise(0L)).as("kept_start_sum"))
        .orderBy($"contig")
    },

    // CHIMERIC / SUPPLEMENTARY-ALIGNMENT CENSUS (the SA:Z tag SV callers
    // and samtools stats read): reads carry a STRUCTURED Z tag — the
    // ';'-terminated, ','-separated SA segment list — through the codec;
    // the census parses it back (split/explode, both codegen) and rolls
    // up split-alignment fan-out per (contig → mate-contig) pair with a
    // strand breakdown. Bounded explode (≤2 segments per read here;
    // segment count is aligner-bounded in the wild).
    "q_bam_chimeric_census" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/sa.bam"
      def seg(i: Int) = concat(
        lit("chr"), (($"l_partkey" + lit(i)) % 3).cast("string"), lit(","),
        (($"l_suppkey" * 31 + lit(i * 97)) % 9000 + 1).cast("string"), lit(","),
        when(($"l_orderkey" + lit(i)) % 2 === 0, "+").otherwise("-"), lit(","),
        lit("100M,60,"), ($"l_suppkey" % 5).cast("string"), lit(";"))
      val sa = concat(lit("Z:"), seg(1),
        when($"l_orderkey" % 2 === 1, seg(2)).otherwise(lit("")))
      val reads = Tables.lineitem(s, d).select(
        concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
        lit(0).cast("int").as("flags"),
        concat(lit("chr"), ($"l_partkey" % 3).cast("string")).as("contig"),
        ((($"l_partkey" * 13) % 5000) + 1).cast("int").as("start"),
        lit(0).cast("int").as("end"),
        lit(60).cast("int").as("mapq"),
        lit("151M").as("cigar"),
        lit(null).cast("string").as("mateContig"),
        lit(0).cast("int").as("mateStart"),
        lit(0).cast("int").as("tlen"),
        lit("*").as("seq"),
        lit("*").as("qual"),
        when($"l_orderkey" % 7 === 0, map(lit("SA"), sa, lit("XO"), lit("i:1")))
          .otherwise(map(lit("XO"), lit("i:1"))).as("attributes"))
      spread(reads).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).saveFixture(path)
      val back = s.read.format("bam").load(path)
        .select($"contig", element_at($"attributes", "SA").as("sa"))
        .filter($"sa".isNotNull)
      back
        .select($"contig",
          explode(expr("filter(split(substring(sa, 3, 10000), ';'), x -> length(x) > 0)"))
            .as("segstr"))
        .select($"contig",
          expr("split(segstr, ',')[0]").as("sa_contig"),
          expr("split(segstr, ',')[2]").as("sa_strand"))
        .groupBy($"contig", $"sa_contig")
        .agg(count(lit(1)).as("n_segments"),
          sum(when($"sa_strand" === "+", 1L).otherwise(0L)).as("n_fwd"),
          sum(when($"sa_strand" === "-", 1L).otherwise(0L)).as("n_rev"))
        .orderBy($"contig", $"sa_contig")
    },

    // BEDGRAPH COVERAGE (bedtools genomecov -bga): per-position depth over
    // a fixed window (zeros included) COLLAPSED to maximal equal-depth
    // runs — the run-length encoding every genome browser track uses. Run
    // detection is the lag()+cumulative-sum pattern (RUNNING frames only);
    // the rollup pins interval count, RLE checksum (Σ len·depth must equal
    // the raw depth mass), and the longest run.
    "q_bam_coverage_bedgraph" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/bedg.bam"
      val reads = Tables.lineitem(s, d)
        .filter($"l_partkey" % 5 === 0)
        .select(
          concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
          lit(0).cast("int").as("flags"),
          concat(lit("chr"), ($"l_partkey" % 3).cast("string")).as("contig"),
          ((($"l_partkey" * 13) % 5000) + 1).cast("int").as("start"),
          lit(0).cast("int").as("end"),
          lit(60).cast("int").as("mapq"),
          lit("151M").as("cigar"),
          lit(null).cast("string").as("mateContig"),
          lit(0).cast("int").as("mateStart"),
          lit(0).cast("int").as("tlen"),
          lit("*").as("seq"),
          lit("*").as("qual"),
          map(lit("XO"), lit("i:1")).as("attributes"))
      spread(reads).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs).saveFixture(path)
      val back = s.read.format("bam").load(path)
        .select($"contig", $"start", $"end")
        .filter($"start" <= 1999 && $"end" >= 1000)
      val depth = back
        .select($"contig", explode(sequence(greatest($"start", lit(1000)),
          least($"end", lit(1999)))).as("p"))
        .groupBy($"contig", $"p").agg(count(lit(1)).as("dep"))
      val spine = s.range(3).select(concat(lit("chr"), $"id").as("contig"))
        .select($"contig", explode(sequence(lit(1000), lit(1999))).as("p"))
      val full = spine.join(depth, Seq("contig", "p"), "left")
        .select($"contig", $"p", coalesce($"dep", lit(0L)).as("dep"))
      val wo = Window.partitionBy($"contig").orderBy($"p")
      val wc = Window.partitionBy($"contig").orderBy($"p")
        .rowsBetween(Window.unboundedPreceding, 0)
      full
        .withColumn("newrun",
          when(lag($"dep", 1).over(wo).isNull ||
            lag($"dep", 1).over(wo) =!= $"dep", 1L).otherwise(0L))
        .withColumn("run", sum($"newrun").over(wc))
        .groupBy($"contig", $"run")
        .agg(count(lit(1)).as("len"), min($"dep").as("dep"))
        .groupBy($"contig")
        .agg(count(lit(1)).as("n_intervals"),
          sum($"len" * $"dep").as("depth_mass"),
          max($"len").as("max_run"),
          sum(when($"dep" === 0, $"len").otherwise(0L)).as("zero_bp"))
        .orderBy($"contig")
    },

    // MULTI-CALLER CONSENSUS (ensemble variant calling — the bcbio/DREAM
    // majority-vote shape): three independently WRITTEN callsets vote per
    // site; the 2-of-3 majority genotype (ties broken by caller order
    // never arising: 3 voters, diploid classes) and the disagreement
    // census roll up from ONE site-keyed 3-way join of the round-tripped
    // files.
    "q_vcf_consensus" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types._
      val base = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}"
      val w = Window.partitionBy($"contig")
        .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
      val sites = Tables.lineitem(s, d)
        .withColumn("contig", concat(lit("chr"), ($"l_orderkey" % 24).cast("string")))
        .withColumn("pos", row_number().over(w))
        .select($"contig", $"pos",
          (($"l_orderkey" * 3 + $"l_linenumber") % 3).as("c1"),
          (($"l_orderkey" * 5 + $"l_suppkey") % 3).as("c2"),
          (($"l_orderkey" * 7 + $"l_linenumber" + $"l_suppkey") % 3).as("c3"))
      def gtOf(c: org.apache.spark.sql.Column) =
        when(c === 0, "0/0").when(c === 1, "0/1").otherwise("1/1")
      def callset(code: org.apache.spark.sql.Column) = sites.select(
        $"contig", $"pos".cast("int").as("start"), $"pos".cast("int").as("end"),
        lit(null).cast("string").as("id"),
        lit("A").as("ref"), array(lit("G")).as("alt"),
        lit(30.0).as("qual"), array(lit("PASS")).as("filters"),
        map().cast(MapType(StringType, StringType, valueContainsNull = false)).as("info"),
        array(struct(lit("s1").as("sample"), gtOf(code).as("gt"),
          map().cast(MapType(StringType, StringType, valueContainsNull = false))
            .as("fields"))).as("genotypes"))
      // OVERLAP the three independent writes (guide §2.6): each write's
      // tail would otherwise leave the cluster idle while the next waits.
      // Deliberately NOT persisting the shared windowed `sites`: caching the
      // wide genotype rows costs more in serialization than the window
      // recompute it saves (measured +10 cpu-s and +0.6 s wall at sf0.1).
      inParallel(Seq($"c1", $"c2", $"c3").zipWithIndex.map { case (c, i) => () =>
        spread(callset(c)).write.format("vcf").mode("overwrite")
          .option("compressionLevel", "1").save(s"$base/cons$i.vcf.bgz")
      }: _*)
      def back(i: Int, col: String) =
        s.read.format("vcf").load(s"$base/cons$i.vcf.bgz")
          .select($"contig", $"start",
            element_at($"genotypes", 1).getField("gt").as(col))
      val joined = back(0, "g1")
        .join(back(1, "g2"), Seq("contig", "start"))
        .join(back(2, "g3"), Seq("contig", "start"))
      joined
        .withColumn("consensus",
          when($"g1" === $"g2" || $"g1" === $"g3", $"g1")
            .when($"g2" === $"g3", $"g2")
            .otherwise("."))
        .withColumn("n_agree",
          when($"g1" === $"g2" && $"g2" === $"g3", 3L)
            .when($"g1" === $"g2" || $"g1" === $"g3" || $"g2" === $"g3", 2L)
            .otherwise(1L))
        .groupBy($"consensus", $"n_agree")
        .agg(count(lit(1)).as("n_sites"), sum($"start".cast("long")).as("sum_pos"))
        .orderBy($"consensus", $"n_agree")
    },

    // REGION ANNOTATION (VEP-lite / bedtools intersect -wa: classify every
    // variant exonic / intronic / intergenic against a gene model): genes
    // carry a periodic exon structure (300 bp exon every 800 bp), the
    // variant×gene candidate pairs come from the 4 KiB binned equi-join
    // (never variants×genes), the class is the max priority over a
    // variant's overlapping genes, and intergenic falls out of an
    // anti-join — no row ever fans out beyond its local gene density.
    "q_vcf_region_annotate" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/regann.vcf.bgz"
      val vars = Tables.lineitem(s, d).select(
        concat(lit("chr"), ($"l_orderkey" % 24).cast("string")).as("contig"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
        ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("end"),
        lit(null).cast("string").as("id"),
        lit("A").as("ref"), array(lit("G")).as("alt"),
        lit(30.0).as("qual"), array(lit("PASS")).as("filters"),
        map().cast(MapType(StringType, StringType, valueContainsNull = false)).as("info"),
        array().cast(ArrayType(graft.vcf.Variant.genotypeType, containsNull = false))
          .as("genotypes"))
      spread(vars).write.format("vcf").mode("overwrite").option("compressionLevel", "1").saveFixture(path)
      val v = s.read.format("vcf").load(path)
        .select($"contig", $"start".cast("long").as("pos"))
      val genes = Tables.part(s, d).select(
        concat(lit("chr"), ($"p_partkey" % 24).cast("string")).as("contig"),
        (($"p_partkey" * 311) % 999000 + 1).cast("long").as("gstart"),
        (lit(2000L) + ($"p_partkey" % 5) * 1000).as("glen"))
        .withColumn("gend", $"gstart" + $"glen" - 1)
        .distinct()
      val vBins = v.withColumn("bin", expr("pos div 4096"))
      val gBins = genes.withColumn("bin",
        explode(expr("sequence(gstart div 4096, gend div 4096)")))
      val ov = vBins.join(gBins, Seq("contig", "bin"))
        .filter($"pos" >= $"gstart" && $"pos" <= $"gend")
        .select($"contig", $"pos", (($"pos" - $"gstart") % 800 < 300).as("in_exon"))
        .groupBy($"contig", $"pos")
        .agg(max($"in_exon").as("exonic"))
      val annotated = v.join(ov, Seq("contig", "pos"), "left")
        .select($"contig",
          when($"exonic".isNull, "intergenic")
            .when($"exonic", "exonic").otherwise("intronic").as("klass"))
      annotated.groupBy($"contig", $"klass")
        .agg(count(lit(1)).as("n_sites"))
        .orderBy($"contig", $"klass")
    },

    // CASE/CONTROL ASSOCIATION (plink --assoc allelic chi-square): the
    // cohort splits samples 1–6 (cases) vs 7–12 (controls), each half's
    // allele counts come from the SAME native census expression over an
    // array SLICE (codegen end to end, no explode), sites aggregate to
    // the tiny (case-alt, control-alt) pattern space FIRST, and the exact
    // fixed-point chi-square is computed once per pattern.
    "q_vcf_gwas_assoc" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/gwas.vcf.bgz"
      // the ref-skewed multiplicative hash (see q_vcf_af_spectrum): any
      // mod-3-linear derivation collapses the pattern space
      def geno(j: Int) = {
        val h = ($"gbase" * lit(17 * j + 1)) % 1000003 % 24
        struct(
          lit(f"s$j%02d").as("sample"),
          when(h < 21, "0/0").when(h < 23, "0/1").otherwise("1/1").as("gt"),
          map().cast(MapType(StringType, StringType, valueContainsNull = false))
            .as("fields"))
      }
      val vars = Tables.lineitem(s, d)
        .withColumn("gbase", $"l_orderkey" * 131 + $"l_partkey" * 37 +
          $"l_suppkey" * 11 + $"l_linenumber" * 5)
        .select(
          concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
          ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("start"),
          ((($"l_partkey" * 37) % 999000) + 1).cast("int").as("end"),
          lit(null).cast("string").as("id"),
          lit("A").as("ref"), array(lit("G")).as("alt"),
          lit(30.0).as("qual"), array(lit("PASS")).as("filters"),
          map().cast(MapType(StringType, StringType, valueContainsNull = false)).as("info"),
          array((1 to 12).map(geno): _*).as("genotypes"))
      spread(vars).write.format("vcf").mode("overwrite").option("compressionLevel", "1").saveFixture(path)
      // formatFields=GT: the census consumes the whole genotype array, so
      // Catalyst cannot prune the map-typed FORMAT fields — opt in to the
      // selective decode (gt by token scan, no per-sample maps)
      val back = s.read.format("vcf")
        .option("formatFields", "GT").load(path)
      graft.functions.GtCensusExpr.register(s)
      back
        .select(
          expr("graft_gt_census(slice(genotypes, 1, 6))").as("cc"),
          expr("graft_gt_census(slice(genotypes, 7, 6))").as("ct"))
        .select((lit(2L) * $"cc".getItem(2) + $"cc".getItem(1)).as("a1"),
          (lit(2L) * $"ct".getItem(2) + $"ct".getItem(1)).as("a2"))
        .groupBy($"a1", $"a2")
        .agg(count(lit(1)).as("n_sites"))
        .withColumn("chi2_milli",
          when($"a1" + $"a2" === 0 || $"a1" + $"a2" === 24, 0L)
            .otherwise(expr(
              "24 * (a1 * (12 - a2) - a2 * (12 - a1)) * (a1 * (12 - a2) - a2 * (12 - a1)) * 1000" +
                " div (144 * (a1 + a2) * (24 - a1 - a2))")))
        .select($"a1", $"a2", $"chi2_milli", $"n_sites")
        .orderBy($"a1", $"a2")
    },

    // TEMPLATE-LENGTH MOMENTS (samtools stats "insert size average /
    // standard deviation"): the signed TLEN field round-trips, and the
    // per-contig mean and variance are EXACT fixed-point integers from one
    // (n, Σt, Σt²) partial aggregate — the order-independent,
    // any-parallelism form (Welford needs merge order; n·Σt²−(Σt)² does
    // not). ANSI mode turns a Σ overflow into a loud error, never a wrap;
    // operands are sized so sf10 stays in range.
    "q_bam_tlen_stats" -> { (s, d) =>
      import s.implicits._
      val path = s"$tmpBase/graft-fmt/${d.hashCode.toHexString}/tlen.bam"
      val mag = (($"l_partkey" * 7) % 300 + 100).cast("int")
      val reads = Tables.lineitem(s, d).select(
        concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
        lit(1).cast("int").as("flags"),
        concat(lit("chr"), ($"l_partkey" % 24).cast("string")).as("contig"),
        ((($"l_partkey" * 13) % 5000) + 1).cast("int").as("start"),
        lit(0).cast("int").as("end"),
        lit(60).cast("int").as("mapq"),
        lit("151M").as("cigar"),
        lit(null).cast("string").as("mateContig"),
        lit(0).cast("int").as("mateStart"),
        when($"l_linenumber" % 2 === 0, -mag).otherwise(mag).as("tlen"),
        lit("*").as("seq"),
        lit("*").as("qual"),
        map(lit("XO"), lit("i:1")).as("attributes"))
      spread(reads).write.format("bam").mode("overwrite").option("compressionLevel", "1")
        .option("refs", Refs24).saveFixture(path)
      val back = s.read.format("bam").load(path)
        .select($"contig", $"tlen".cast("long").as("t"))
        .filter($"t" > 0) // samtools convention: count each template once
      back.groupBy($"contig")
        .agg(count(lit(1)).as("n"), sum($"t").as("sum_t"),
          sum($"t" * $"t").as("sumsq_t"))
        .select($"contig", $"n",
          expr("sum_t * 1000 div n").as("mean_milli"),
          expr("(n * sumsq_t - sum_t * sum_t) * 1000 div (n * n)").as("var_milli"))
        .orderBy($"contig")
    }
  )

  /** 64-char ACGT alphabet for the k-mer reads — irregular content so
    * overlapping windows from the 33 possible offsets produce a varied
    * multiplicity histogram; shared verbatim with the DuckDB oracle.
    */
  private val KmerAlpha =
    "ACGTACGTTGCATGCA" + "GGATCCAATTGGCCTA" + "GCTAGGCCAATTAAGG" + "CCTTACGTGCATTGCA"

  /** 76-char phred+33 quality ladder: position j (1-based) carries quality
    * (j−1) mod 40, i.e. char code 33+((j−1) mod 40) — all printable. A read
    * with offset o ∈ [0,40) takes `substr(QLadder, o+1, 36)`, so cycle i has
    * quality (o+i−1) mod 40 — an expression the DuckDB oracle states
    * directly off lineitem.
    */
  private val QLadder: String = (0 until 76).map(j => (33 + (j % 40)).toChar).mkString

  def oracles: Map[String, String] = Map(
    "q_bam_unmapped_traversal" ->
      """WITH reads AS (
        |  SELECT CASE WHEN l_linenumber = 1 THEN NULL
        |           ELSE 'chr' || CAST(l_orderkey % 3 AS VARCHAR) END AS contig,
        |    CASE WHEN l_linenumber = 1 THEN 0
        |      ELSE (l_partkey * 37) % 999000 + 1 END AS rstart,
        |    CASE WHEN l_linenumber = 1 THEN 0
        |      ELSE (l_partkey * 37) % 999000 + 151 END AS rend
        |  FROM lineitem)
        |SELECT COALESCE(contig, '*') AS contig_k, COUNT(*) AS n_reads,
        |  CAST(SUM(rstart) AS BIGINT) AS sum_start
        |FROM reads
        |WHERE (contig = 'chr0' AND rstart <= 5000 AND rend >= 1) OR contig IS NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_bam_coverage" ->
      """WITH reads AS (
        |  SELECT 'chr' || CAST(l_orderkey % 3 AS VARCHAR) AS contig,
        |    CAST((l_partkey * 37) % 999000 + 1 AS BIGINT) AS rstart,
        |    CAST((l_partkey * 37) % 999000 + 151 AS BIGINT) AS rend
        |  FROM lineitem),
        |bins AS (
        |  SELECT 'chr' || CAST(n_nationkey % 3 AS VARCHAR) AS icontig,
        |    CAST(n_nationkey AS BIGINT) * 4000 AS istart,
        |    CAST(n_nationkey AS BIGINT) * 4000 + 3999 AS iend
        |  FROM nation)
        |SELECT icontig, istart, iend, COUNT(*) AS depth
        |FROM reads JOIN bins ON contig = icontig AND rstart <= iend AND rend >= istart
        |GROUP BY 1, 2, 3 ORDER BY icontig, istart""".stripMargin,
    "q_cram_containers" ->
      """WITH c AS (
        |  SELECT CAST(s_suppkey % 3 AS INTEGER) AS ref_seq_id,
        |    (s_suppkey * 131) % 99000 + 1 AS start_pos,
        |    (s_suppkey % 50) * 10 + 100 AS span,
        |    s_suppkey % 100 + 1 AS n_records,
        |    (s_suppkey % 7) * 16 AS data_length
        |  FROM supplier)
        |SELECT ref_seq_id, COUNT(*) AS n_containers,
        |  CAST(SUM(start_pos) AS BIGINT) AS sum_start,
        |  CAST(SUM(span) AS BIGINT) AS sum_span,
        |  CAST(SUM(n_records) AS BIGINT) AS sum_records,
        |  CAST(SUM(data_length) AS BIGINT) AS sum_len
        |FROM c
        |WHERE (ref_seq_id = 0 AND start_pos <= 50000 AND start_pos + span - 1 >= 1)
        |   OR (ref_seq_id = 2 AND start_pos <= 99999 AND start_pos + span - 1 >= 60000)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_bam_markdup" ->
      """WITH r AS (
        |  SELECT 'r' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS readName,
        |    CASE WHEN l_linenumber % 2 = 0 THEN 1 ELSE 0 END AS strand,
        |    'chr' || CAST(l_partkey % 3 AS VARCHAR) AS contig,
        |    (l_partkey * 13) % 5000 + 1 AS start,
        |    (l_orderkey * 7 + l_linenumber) % 61 AS mapq
        |  FROM lineitem),
        |k AS (SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY contig, start, strand ORDER BY mapq DESC, readName) AS rn
        |  FROM r)
        |SELECT contig, COUNT(*) AS n_reads,
        |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
        |  CAST(COUNT(DISTINCT (start, strand)) AS BIGINT) AS n_sites,
        |  CAST(SUM(CASE WHEN rn = 1 THEN mapq ELSE 0 END) AS BIGINT) AS kept_mapq_sum
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_bam_flagstat" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS total,
        |  CAST(SUM(CASE WHEN NOT (l_orderkey % 13 = 0) AND NOT (l_partkey % 23 = 0) THEN 1 ELSE 0 END) AS BIGINT) AS n_primary,
        |  CAST(SUM(CASE WHEN l_orderkey % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_secondary,
        |  CAST(SUM(CASE WHEN l_partkey % 23 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_supplementary,
        |  CAST(SUM(CASE WHEN l_orderkey % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  CAST(SUM(CASE WHEN l_linenumber % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_proper,
        |  CAST(SUM(CASE WHEN l_linenumber % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_read1,
        |  CAST(SUM(CASE WHEN l_linenumber % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_read2,
        |  CAST(SUM(CASE WHEN l_partkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_reverse,
        |  CAST(SUM(CASE WHEN l_orderkey % 17 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_qcfail
        |FROM lineitem""".stripMargin,
    "q_bam_pileup" ->
      """WITH r AS (
        |  SELECT (l_partkey * 13) % 5000 + 1 AS s, (l_partkey * 13) % 5000 + 151 AS e
        |  FROM lineitem WHERE l_partkey % 3 = 0),
        |w AS (SELECT unnest(range(1000, 1300)) AS pos)
        |SELECT pos, CAST(COUNT(*) AS BIGINT) AS depth
        |FROM w JOIN r ON r.s <= pos AND r.e >= pos
        |GROUP BY pos ORDER BY pos""".stripMargin,
    "q_bam_isize" ->
      """WITH r AS (
        |  SELECT (l_partkey * 7) % 1001 AS mag, l_suppkey, l_linenumber FROM lineitem)
        |SELECT CAST((mag // 100) * 100 AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_templates
        |FROM r
        |WHERE l_suppkey % 9 <> 0 AND l_linenumber % 2 = 0 AND mag > 0
        |GROUP BY bin ORDER BY bin""".stripMargin,
    "q_vcf_stats" ->
      """WITH v AS (
        |  SELECT 'chr' || CAST(l_orderkey % 3 AS VARCHAR) AS contig,
        |    CASE WHEN l_suppkey % 7 = 0 THEN 'AT' ELSE 'A' END AS ref,
        |    CASE WHEN l_suppkey % 7 = 0 THEN 'A'
        |         WHEN l_suppkey % 5 = 0 THEN 'AG'
        |         ELSE substring('CGT', CAST(l_linenumber % 3 AS INTEGER) + 1, 1) END AS alt,
        |    l_orderkey % 100 AS qual
        |  FROM lineitem)
        |SELECT contig, COUNT(*) AS n_variants,
        |  CAST(SUM(CASE WHEN len(ref) = 1 AND len(alt) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_snp,
        |  CAST(SUM(CASE WHEN len(alt) > len(ref) THEN 1 ELSE 0 END) AS BIGINT) AS n_ins,
        |  CAST(SUM(CASE WHEN len(ref) > len(alt) THEN 1 ELSE 0 END) AS BIGINT) AS n_del,
        |  CAST(SUM(CASE WHEN len(ref) = 1 AND alt = 'G' THEN 1 ELSE 0 END) AS BIGINT) AS n_ts,
        |  CAST(SUM(CASE WHEN len(ref) = 1 AND (alt = 'C' OR alt = 'T') THEN 1 ELSE 0 END) AS BIGINT) AS n_tv,
        |  CAST(SUM(qual) AS BIGINT) AS sum_qual
        |FROM v GROUP BY contig ORDER BY contig""".stripMargin,
    "q_bam_roundtrip_single" -> oracleAggregate(""),
    "q_bam_roundtrip_sharded" -> oracleAggregate(""),
    // the oracle states the SEMANTICS (plain overlap join over the
    // lineitem/orders-derived reads and variants); the Spark side is
    // graded on reaching it through two connector round-trips + the
    // binned equi-join
    "q_bam_vcf_annotate" ->
      """WITH reads AS (SELECT 'chr' || CAST(l_orderkey % 3 AS VARCHAR) AS contig,
        |    CAST((l_partkey * 37) % 999000 + 1 AS BIGINT) AS rstart,
        |    CAST((l_partkey * 37) % 999000 + 151 AS BIGINT) AS rend,
        |    'r' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS rname
        |  FROM lineitem),
        |vars AS (SELECT 'chr' || CAST(o_orderkey % 3 AS VARCHAR) AS vcontig,
        |    CAST((o_custkey * 53) % 999000 + 1 AS BIGINT) AS vstart
        |  FROM orders WHERE o_orderkey % 7 = 0)
        |SELECT contig, COUNT(*) AS n_pairs, CAST(SUM(vstart) AS BIGINT) AS sum_vstart,
        |  COUNT(DISTINCT rname) AS n_reads_hit
        |FROM reads JOIN vars ON contig = vcontig AND vstart BETWEEN rstart AND rend
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // n_inversions = 0 is the sort CONTRACT; the Spark side measures it
    // from the bytes the sink actually wrote, so a broken range
    // partitioner, local sort, or out-of-order concat commit all
    // hash-mismatch here
    "q_bam_sort" ->
      """SELECT COUNT(*) AS n_records,
        |  CAST(SUM((l_partkey * 37) % 999000 + 1) AS BIGINT) AS sum_start,
        |  CAST(0 AS BIGINT) AS n_inversions
        |FROM lineitem""".stripMargin,
    "q_sam_roundtrip" -> oracleAggregate(""),
    "q_cram_roundtrip" -> oracleAggregate(""),
    "q_cram_v31" -> oracleAggregate(""),
    "q_cram_intervals" -> oracleAggregate(
      """WHERE (contig = 'chr0' AND rstart <= 5000 AND rend >= 1)
        |   OR (contig = 'chr1' AND rstart <= 7000 AND rend >= 2000)""".stripMargin),
    "q_cram_cigar_ops" ->
      """WITH r AS (SELECT CAST(l_linenumber % 6 AS INT) AS shape,
        |    CAST((l_partkey * 37) % 990000 + 1 AS BIGINT) AS rstart FROM lineitem),
        |w AS (SELECT shape, rstart,
        |    CASE shape WHEN 0 THEN '151M' WHEN 1 THEN '10S131M10S' WHEN 2 THEN '75M4D72M'
        |      WHEN 3 THEN '50M1000N101M' WHEN 4 THEN '5H146M' ELSE '70M8I73M' END AS cigar,
        |    CASE shape WHEN 0 THEN 151 WHEN 1 THEN 151 WHEN 2 THEN 147 WHEN 3 THEN 151
        |      WHEN 4 THEN 146 ELSE 151 END AS rlen,
        |    CASE shape WHEN 0 THEN 151 WHEN 1 THEN 131 WHEN 2 THEN 151 WHEN 3 THEN 1151
        |      WHEN 4 THEN 146 ELSE 143 END AS reflen,
        |    ((rstart - 1 - CASE WHEN shape = 1 THEN 10 ELSE 0 END) % 4 + 4) % 4 + 1 AS phase
        |  FROM r),
        |q AS (SELECT cigar, rstart, reflen,
        |    substring(repeat('ATGC', 40), CAST(phase AS INTEGER), CAST(rlen AS INTEGER)) AS seq
        |  FROM w)
        |SELECT cigar, COUNT(*) AS n_reads, CAST(SUM(rstart) AS BIGINT) AS sum_start,
        |  CAST(SUM(rstart + reflen - 1) AS BIGINT) AS sum_end,
        |  CAST(SUM(length(seq) - length(replace(seq, 'A', ''))) AS BIGINT) AS sum_a
        |FROM q GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_cram_refbased" ->
      """WITH reads AS (
        |  SELECT 'chr' || CAST(l_orderkey % 3 AS VARCHAR) AS contig,
        |    CAST((l_partkey * 37) % 999000 + 1 AS BIGINT) AS rstart,
        |    l_orderkey % 100 AS tag
        |  FROM lineitem),
        |w AS (SELECT contig, rstart, tag,
        |  substring(repeat('ATGC', 39), CAST((rstart - 1) % 4 AS INTEGER) + 1, 151) AS base,
        |  substring('ATGC', CAST((rstart + 1) % 4 AS INTEGER) + 1, 1) AS snp
        |  FROM reads),
        |q AS (SELECT contig, rstart, tag,
        |  CASE WHEN rstart % 10 = 0 THEN snp || substring(base, 2, 150) ELSE base END AS seq
        |  FROM w)
        |SELECT contig, COUNT(*) AS n_reads, CAST(SUM(rstart) AS BIGINT) AS sum_start,
        |  CAST(SUM(len(seq) - len(replace(seq, 'A', ''))) AS BIGINT) AS sum_a,
        |  CAST(SUM(len(seq) - len(replace(seq, 'G', ''))) AS BIGINT) AS sum_g,
        |  CAST(SUM(tag) AS BIGINT) AS sum_tag
        |FROM q GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_vcf_roundtrip" ->
      """WITH v AS (
        |  SELECT 'chr' || CAST(l_orderkey % 3 AS VARCHAR) AS contig,
        |    CAST((l_partkey * 37) % 999000 + 1 AS BIGINT) AS vstart,
        |    l_orderkey % 100 AS q, l_suppkey AS dp,
        |    substr('CGTA', CAST(l_linenumber % 4 AS INTEGER) + 1, 1) AS alt1
        |  FROM lineitem)
        |SELECT contig, COUNT(*) AS n_variants, CAST(SUM(vstart) AS BIGINT) AS sum_start,
        |  CAST(SUM(q) AS BIGINT) AS sum_qual, CAST(SUM(dp) AS BIGINT) AS sum_dp,
        |  CAST(SUM(CASE WHEN alt1 = 'G' THEN 1 ELSE 0 END) AS BIGINT) AS n_alt_g
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_bam_intervals" -> oracleAggregate(
      """WHERE (contig = 'chr0' AND rstart <= 5000 AND rend >= 1)
        |   OR (contig = 'chr1' AND rstart <= 7000 AND rend >= 2000)""".stripMargin),
    "q_bam_bai_intervals" -> oracleAggregate(
      """WHERE (contig = 'chr0' AND rstart <= 5000 AND rend >= 1)
        |   OR (contig = 'chr1' AND rstart <= 7000 AND rend >= 2000)""".stripMargin),
    "q_bam_fixmate" ->
      """WITH r AS (SELECT
        |    't-' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
        |      || '-' || CAST(l_partkey AS VARCHAR) || '-' || CAST(l_suppkey AS VARCHAR) AS name,
        |    'chr' || CAST(l_orderkey % 3 AS VARCHAR) AS contig,
        |    CAST((l_partkey * 37) % 999000 + 1 AS BIGINT) AS rstart,
        |    CAST((l_suppkey % 300) + 200 AS BIGINT) AS gap
        |  FROM lineitem),
        |m AS (SELECT name, contig, rstart AS s FROM r
        |  UNION ALL SELECT name, contig, rstart + gap FROM r),
        |g AS (SELECT name, contig, COUNT(*) AS n, MIN(s) AS s1, MAX(s) AS s2
        |  FROM m GROUP BY 1, 2)
        |SELECT contig, COUNT(*) AS n_templates,
        |  CAST(SUM(s1) AS BIGINT) AS sum_s1, CAST(SUM(s2) AS BIGINT) AS sum_s2,
        |  CAST(SUM(s2 + 151 - s1) AS BIGINT) AS sum_tlen
        |FROM g WHERE n = 2 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_bam_subsample" ->
      """WITH reads AS (
        |  SELECT 'chr' || CAST(l_orderkey % 3 AS VARCHAR) AS contig,
        |    CAST((l_partkey * 37) % 999000 + 1 AS BIGINT) AS rstart,
        |    CAST((l_partkey * 37) % 999000 + 151 AS BIGINT) AS rend,
        |    l_orderkey % 100 AS tag,
        |    'r' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS rname
        |  FROM lineitem)
        |SELECT contig, COUNT(*) AS n_reads, CAST(SUM(rstart) AS BIGINT) AS sum_start,
        |  CAST(SUM(rend) AS BIGINT) AS sum_end, CAST(MIN(rstart) AS INTEGER) AS min_start,
        |  CAST(MAX(rend) AS INTEGER) AS max_end, CAST(SUM(tag) AS BIGINT) AS sum_tag
        |FROM reads
        |WHERE CAST('0x' || substr(md5('sub|' || rname), 1, 15) AS BIGINT) % 100 < 25
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_reads_lake" ->
      """SELECT 'chr' || CAST(l_orderkey % 3 AS VARCHAR) AS contig,
        |  COUNT(*) AS n_reads,
        |  CAST(SUM((l_partkey * 37) % 999000 + 1) AS BIGINT) AS sum_start,
        |  CAST(SUM(l_orderkey % 100) AS BIGINT) AS sum_tag
        |FROM lineitem WHERE l_orderkey % 3 = 1
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_bam_cigar_ops" ->
      """WITH r AS (SELECT
        |    CASE CAST(l_linenumber % 8 AS INT) WHEN 0 THEN '151M' WHEN 1 THEN '10S131M10S'
        |      WHEN 2 THEN '75M2D74M' WHEN 3 THEN '50M1000N101M' WHEN 4 THEN '5H146M'
        |      WHEN 5 THEN '70M8I73M' WHEN 6 THEN '100=2X49=' ELSE '75M1P76M' END AS cigar,
        |    CAST((l_partkey * 37) % 990000 + 1 AS BIGINT) AS rstart,
        |    CASE CAST(l_linenumber % 8 AS INT) WHEN 0 THEN 151 WHEN 1 THEN 131 WHEN 2 THEN 151
        |      WHEN 3 THEN 1151 WHEN 4 THEN 146 WHEN 5 THEN 143 ELSE 151 END AS reflen
        |  FROM lineitem)
        |SELECT cigar, COUNT(*) AS n_reads, CAST(SUM(rstart) AS BIGINT) AS sum_start,
        |  CAST(SUM(rstart + reflen - 1) AS BIGINT) AS sum_end
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_bam_liftover" ->
      """WITH reads AS (SELECT 'chr' || CAST(l_orderkey % 3 AS VARCHAR) AS contig,
        |    CAST((l_partkey * 37) % 999000 + 1 AS BIGINT) AS rstart
        |  FROM lineitem),
        |chain AS (SELECT 'chr' || CAST(r_regionkey AS VARCHAR) AS ccontig,
        |    CAST(n_nationkey AS BIGINT) AS cseg,
        |    CAST((n_nationkey * 37 + r_regionkey * 101) % 500000 + 1000000 AS BIGINT) AS dst
        |  FROM nation, region WHERE r_regionkey < 3 AND n_nationkey < 20),
        |j AS (SELECT r.contig, r.rstart,
        |    CASE WHEN c.dst IS NOT NULL THEN c.dst + (r.rstart - 1) % 40000 END AS new_start
        |  FROM reads r LEFT JOIN chain c
        |    ON r.contig = c.ccontig AND (r.rstart - 1) // 40000 = c.cseg)
        |SELECT contig, COUNT(*) AS n_reads,
        |  CAST(SUM(CASE WHEN new_start IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_lifted,
        |  CAST(SUM(COALESCE(new_start, 0)) AS BIGINT) AS sum_new_start
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_vcf_merge" ->
      """WITH sa AS (SELECT 'chr' || CAST(o_orderkey % 3 AS VARCHAR) AS contig,
        |    (o_custkey * 53) % 999000 + 1 AS start, COUNT(*) AS dp
        |  FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1, 2),
        |sb AS (SELECT 'chr' || CAST(o_orderkey % 3 AS VARCHAR) AS contig,
        |    (o_custkey * 53) % 999000 + 1 AS start, COUNT(*) AS dp
        |  FROM orders WHERE o_orderkey % 2 = 1 GROUP BY 1, 2),
        |m AS (SELECT COALESCE(sa.contig, sb.contig) AS contig,
        |    sa.dp AS dpa, sb.dp AS dpb
        |  FROM sa FULL OUTER JOIN sb
        |    ON sa.contig = sb.contig AND sa.start = sb.start)
        |SELECT contig,
        |  CAST(SUM(CASE WHEN dpa IS NOT NULL AND dpb IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |  CAST(SUM(CASE WHEN dpa IS NOT NULL AND dpb IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_a_only,
        |  CAST(SUM(CASE WHEN dpa IS NULL AND dpb IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_b_only,
        |  CAST(SUM(COALESCE(dpa, 0) + COALESCE(dpb, 0)) AS BIGINT) AS sum_dp
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_vcf_genotypes" ->
      """WITH v AS (SELECT 'chr' || CAST(l_orderkey % 3 AS VARCHAR) AS contig,
        |    l_orderkey AS ok, l_linenumber AS ln, l_suppkey AS sk FROM lineitem),
        |g AS (SELECT contig, j, (ok + j * ln) % 3 AS code, (sk + j) % 50 AS dp
        |  FROM v, (SELECT unnest([1, 2, 3]) AS j))
        |SELECT contig, 's' || CAST(j AS VARCHAR) AS sample, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN code = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_het,
        |  CAST(SUM(CASE WHEN code = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_homalt,
        |  CAST(SUM(dp) AS BIGINT) AS sum_dp
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // annotated-VCF projection: DP-only rollup, CSQ payload invisible
    "q_vcf_info_projection" ->
      """WITH v AS (SELECT 'chr' || CAST(l_orderkey % 3 AS VARCHAR) AS contig,
        |    l_suppkey % 100 AS dp FROM lineitem)
        |SELECT contig, COUNT(*) AS n_sites,
        |  CAST(SUM(dp) AS BIGINT) AS sum_dp,
        |  CAST(MAX(dp) AS BIGINT) AS max_dp
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,

    // projection-read rollup over the wide-FORMAT cohort: GT and DP only
    "q_vcf_format_projection" ->
      """WITH g AS (SELECT s.j AS j,
        |    (l_orderkey + s.j * l_linenumber) % 3 AS code,
        |    (l_suppkey + s.j) % 50 AS dp
        |  FROM lineitem, UNNEST(range(1, 13)) AS s(j))
        |SELECT 's' || lpad(CAST(j AS VARCHAR), 2, '0') AS sample,
        |  COUNT(*) AS n_sites,
        |  CAST(SUM(CASE WHEN code = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_het,
        |  CAST(SUM(dp) AS BIGINT) AS sum_dp
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_vcf_intervals" ->
      """WITH v AS (
        |  SELECT 'chr' || CAST(l_orderkey % 3 AS VARCHAR) AS contig,
        |    CAST((l_partkey * 37) % 999000 + 1 AS BIGINT) AS vstart,
        |    l_suppkey AS dp
        |  FROM lineitem)
        |SELECT contig, COUNT(*) AS n_variants, CAST(SUM(vstart) AS BIGINT) AS sum_start,
        |  CAST(SUM(dp) AS BIGINT) AS sum_dp
        |FROM v
        |WHERE (contig = 'chr0' AND vstart <= 5000 AND vstart >= 1)
        |   OR (contig = 'chr2' AND vstart <= 40000 AND vstart >= 30000)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_vcf_idx_intervals" ->
      """WITH v AS (
        |  SELECT 'chr' || CAST(l_orderkey % 3 AS VARCHAR) AS contig,
        |    CAST((l_partkey * 37) % 999000 + 1 AS BIGINT) AS vstart,
        |    l_suppkey AS dp
        |  FROM lineitem)
        |SELECT contig, COUNT(*) AS n_variants, CAST(SUM(vstart) AS BIGINT) AS sum_start,
        |  CAST(SUM(dp) AS BIGINT) AS sum_dp
        |FROM v
        |WHERE (contig = 'chr0' AND vstart <= 5000 AND vstart >= 1)
        |   OR (contig = 'chr2' AND vstart <= 40000 AND vstart >= 30000)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_kmer_spectrum" ->
      s"""WITH r AS (SELECT substring('$KmerAlpha',
        |    CAST((l_partkey * 13) % 33 AS INTEGER) + 1, 32) AS seq FROM lineitem),
        |k AS (SELECT substring(seq, CAST(p AS INTEGER), 8) AS kmer
        |  FROM r, generate_series(1, 25) t(p)),
        |c AS (SELECT kmer, COUNT(*) AS n FROM k GROUP BY 1)
        |SELECT n AS multiplicity, COUNT(*) AS n_kmers
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_gc_content" ->
      s"""WITH r AS (SELECT 'chr' || CAST(l_orderkey % 3 AS VARCHAR) AS contig,
        |    substring('$KmerAlpha',
        |      CAST((l_partkey * 13) % 33 AS INTEGER) + 1, 32) AS seq FROM lineitem),
        |b AS (SELECT contig,
        |    CAST(32 - length(replace(seq, 'G', ''))
        |       + 32 - length(replace(seq, 'C', '')) AS BIGINT) AS gc
        |  FROM r)
        |SELECT contig, COUNT(*) AS n_reads,
        |  CAST(SUM(gc) AS BIGINT) AS gc_bases,
        |  CAST(COUNT(*) * 32 AS BIGINT) AS total_bases,
        |  CAST(SUM(gc) * 1000000 // (COUNT(*) * 32) AS BIGINT) AS gc_ppm
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_vcf_relatedness" ->
      """WITH t AS (SELECT (l_orderkey * 7 + l_linenumber) % 3 AS df,
        |    (l_orderkey * 5 + l_linenumber * 2) % 3 AS dm,
        |    (l_orderkey * 11 + l_linenumber * 3 + l_suppkey) % 3 AS dc
        |  FROM lineitem),
        |p AS (SELECT 'father' AS s1, 'mother' AS s2, ABS(df - dm) AS dd FROM t
        |  UNION ALL SELECT 'father', 'child', ABS(df - dc) FROM t
        |  UNION ALL SELECT 'mother', 'child', ABS(dm - dc) FROM t)
        |SELECT s1, s2,
        |  CAST(SUM(CASE WHEN dd = 2 THEN 1 ELSE 0 END) AS BIGINT) AS ibs0,
        |  CAST(SUM(CASE WHEN dd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ibs1,
        |  CAST(SUM(CASE WHEN dd = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ibs2
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_vcf_allele_balance" ->
      """WITH g AS (SELECT j, (l_orderkey + j * l_linenumber) % 3 AS code,
        |    (l_suppkey + j * 7) % 60 + 10 AS rd,
        |    (l_partkey + j * 13) % 60 + 10 AS ad
        |  FROM lineitem, (SELECT unnest([1, 2, 3]) AS j) t),
        |h AS (SELECT (ad * 1000000 // (rd + ad)) AS ab_ppm FROM g WHERE code = 1)
        |SELECT CAST(ab_ppm * 10 // 1000000 AS BIGINT) AS ab_decile,
        |  COUNT(*) AS n_het
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,
    // closed form, not a regex mirror: a codec or regex slip on the Spark
    // side diverges from first-principles intron lists
    "q_intron_census" ->
      """WITH r AS (SELECT 'chr' || CAST(l_orderkey % 3 AS VARCHAR) AS contig,
        |    l_suppkey AS sk FROM lineitem),
        |i AS (
        |  SELECT contig, CAST(sk % 5000 + 100 AS BIGINT) AS ilen FROM r WHERE sk % 3 = 1
        |  UNION ALL SELECT contig, CAST(sk % 5000 + 100 AS BIGINT) FROM r WHERE sk % 3 = 2
        |  UNION ALL SELECT contig, CAST(sk % 900 + 50 AS BIGINT) FROM r WHERE sk % 3 = 2)
        |SELECT contig, COUNT(*) AS n_introns,
        |  CAST(SUM(ilen) AS BIGINT) AS sum_intron_len,
        |  CAST(MAX(ilen) AS BIGINT) AS max_intron_len,
        |  CAST(SUM(CASE WHEN ilen >= 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_long
        |FROM i GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_genomic_closest" ->
      """WITH rd AS (SELECT 'chr' || CAST(l_orderkey % 24 AS VARCHAR) AS c,
        |    CAST((l_partkey * 37) % 999000 + 1 AS BIGINT) AS pos, 1 AS side
        |  FROM lineitem),
        |vr AS (SELECT 'chr' || CAST(o_custkey % 24 AS VARCHAR) AS c,
        |    CAST((o_orderkey * 53) % 999000 + 1 AS BIGINT) AS pos, 0 AS side
        |  FROM orders),
        |t AS (SELECT * FROM vr UNION ALL SELECT * FROM rd),
        |w AS (SELECT *,
        |    MAX(CASE WHEN side = 0 THEN pos END) OVER
        |      (PARTITION BY c ORDER BY pos, side ROWS UNBOUNDED PRECEDING) AS pv,
        |    MIN(CASE WHEN side = 0 THEN pos END) OVER
        |      (PARTITION BY c ORDER BY pos, side
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
        |  FROM t),
        |ds AS (SELECT c AS contig,
        |    CASE WHEN pv IS NULL THEN nv - pos
        |         WHEN nv IS NULL THEN pos - pv
        |         ELSE LEAST(pos - pv, nv - pos) END AS dist
        |  FROM w WHERE side = 1)
        |SELECT contig,
        |  CASE WHEN dist = 0 THEN 'd0'
        |       WHEN dist <= 10 THEN 'd1_10'
        |       WHEN dist <= 100 THEN 'd11_100'
        |       WHEN dist <= 1000 THEN 'd101_1k'
        |       ELSE 'd_gt1k' END AS dist_bin,
        |  COUNT(*) AS n_reads, CAST(SUM(dist) AS BIGINT) AS sum_dist
        |FROM ds GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_bam_idxstats" ->
      """WITH r AS (SELECT
        |    CASE WHEN l_suppkey % 9 = 0 THEN NULL
        |      ELSE 'chr' || CAST(l_orderkey % 3 AS VARCHAR) END AS contig,
        |    CASE WHEN l_suppkey % 9 <> 0 AND l_suppkey % 5 = 0 THEN 1 ELSE 0 END AS unm
        |  FROM lineitem)
        |SELECT COALESCE(contig, '*') AS contig,
        |  CAST(CASE WHEN contig IS NULL THEN 0 ELSE 1000000 END AS BIGINT) AS len,
        |  CAST(SUM(CASE WHEN contig IS NOT NULL AND unm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_mapped,
        |  CAST(SUM(CASE WHEN contig IS NULL OR unm = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unmapped
        |FROM r GROUP BY contig ORDER BY 1""".stripMargin,
    "q_sv_signals" ->
      """WITH r AS (SELECT
        |    't-' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
        |      || '-' || CAST(l_partkey AS VARCHAR) || '-' || CAST(l_suppkey AS VARCHAR) AS name,
        |    l_orderkey % 3 AS c1,
        |    (l_orderkey + CASE WHEN l_suppkey % 11 = 0 THEN 1 ELSE 0 END) % 3 AS c2,
        |    CAST((l_partkey * 37) % 900000 + 1 AS BIGINT) AS rstart,
        |    CAST(CASE WHEN l_suppkey % 7 = 0 THEN 20000 + l_suppkey % 1000
        |         ELSE (l_suppkey % 300) + 200 END AS BIGINT) AS gap,
        |    CASE WHEN l_suppkey % 13 = 0 THEN 131 ELSE 147 END AS f2
        |  FROM lineitem),
        |m AS (SELECT name, c1 AS c, rstart AS s, 67 AS f FROM r
        |  UNION ALL SELECT name, c2, rstart + gap, f2 FROM r),
        |g AS (SELECT name, COUNT(DISTINCT c) AS n_contigs, COUNT(*) AS n,
        |    MAX(s) - MIN(s) AS span, SUM((f // 16) % 2) AS n_rev
        |  FROM m GROUP BY 1),
        |c AS (SELECT CASE WHEN n_contigs > 1 THEN 'interchrom'
        |       WHEN span > 5000 THEN 'long_insert'
        |       WHEN n_rev <> 1 THEN 'inverted'
        |       ELSE 'proper' END AS sv_class,
        |    CASE WHEN n_contigs > 1 THEN 0 ELSE span END AS span
        |  FROM g WHERE n = 2)
        |SELECT sv_class, COUNT(*) AS n_templates,
        |  CAST(SUM(span) AS BIGINT) AS sum_span
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_kmer_minimizers" ->
      s"""WITH r AS (SELECT substring('$KmerAlpha',
        |    CAST((l_partkey * 13) % 33 AS INTEGER) + 1, 32) AS seq FROM lineitem),
        |w AS (SELECT seq, CAST(p AS INTEGER) AS p,
        |    LEAST(substring(seq, CAST(p AS INTEGER), 8),
        |      substring(seq, CAST(p + 1 AS INTEGER), 8),
        |      substring(seq, CAST(p + 2 AS INTEGER), 8),
        |      substring(seq, CAST(p + 3 AS INTEGER), 8),
        |      substring(seq, CAST(p + 4 AS INTEGER), 8)) AS m
        |  FROM r, UNNEST(range(1, 22)) AS t(p)),
        |k AS (SELECT m FROM w
        |  WHERE p = 1 OR m <> LEAST(substring(seq, p - 1, 8), substring(seq, p, 8),
        |    substring(seq, p + 1, 8), substring(seq, p + 2, 8), substring(seq, p + 3, 8))),
        |c AS (SELECT m AS minimizer, COUNT(*) AS n FROM k GROUP BY 1)
        |SELECT n AS multiplicity, COUNT(*) AS n_minimizers
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_mutation_context" ->
      """WITH v AS (SELECT (l_partkey * 37) % 999000 + 1 AS p,
        |    substring('CGTA', CAST(l_linenumber % 4 AS INTEGER) + 1, 1) AS alt
        |  FROM lineitem)
        |SELECT substring('ATGCATG', CAST((p - 2) % 4 AS INTEGER) + 1, 3) AS context,
        |  alt, COUNT(*) AS n
        |FROM v WHERE p >= 2
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_coverage_gini" ->
      """WITH r AS (
        |  SELECT 'chr' || CAST(l_partkey % 3 AS VARCHAR) AS contig,
        |    (l_partkey * 13) % 5000 + 1 AS s, (l_partkey * 13) % 5000 + 151 AS e
        |  FROM lineitem),
        |w AS (SELECT 'chr' || CAST(c AS VARCHAR) AS contig, p
        |  FROM (SELECT unnest([0, 1, 2]) AS c), (SELECT unnest(range(1000, 1300)) AS p)),
        |dep AS (SELECT w.contig, w.p, CAST(COUNT(r.s) AS BIGINT) AS dep
        |  FROM w LEFT JOIN r ON r.contig = w.contig AND r.s <= w.p AND r.e >= w.p
        |  GROUP BY 1, 2),
        |rk AS (SELECT contig, dep,
        |    ROW_NUMBER() OVER (PARTITION BY contig ORDER BY dep, p) AS i
        |  FROM dep)
        |SELECT contig, COUNT(*) AS n,
        |  CAST(SUM(dep) AS BIGINT) AS total_depth,
        |  CAST((2 * SUM(i * dep) - (COUNT(*) + 1) * SUM(dep)) * 1000
        |    // (COUNT(*) * SUM(dep)) AS BIGINT) AS gini_milli
        |FROM rk GROUP BY 1 HAVING SUM(dep) > 0 ORDER BY 1""".stripMargin,
    // sites are keyed by ROW_NUMBER, not (l_orderkey, l_linenumber): the
    // generator emits duplicate lineitem rows, and each row IS one site
    "q_vcf_hwe" ->
      """WITH r AS (SELECT ROW_NUMBER() OVER () AS rid,
        |    l_orderkey AS ok, l_linenumber AS ln, l_suppkey AS sk FROM lineitem),
        |g AS (SELECT rid, (ok + j * ln + j * j * sk) % 3 AS code
        |  FROM r, (SELECT unnest(range(1, 13)) AS j) t),
        |s AS (SELECT rid,
        |    CAST(SUM(CASE WHEN code = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN code = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN code = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM g GROUP BY rid),
        |x AS (SELECT a, b, c, a + b + c AS n, 2*a + b AS pr, 2*c + b AS pq FROM s)
        |SELECT a, b, c,
        |  CASE WHEN pr = 0 OR pq = 0 THEN CAST(0 AS BIGINT) ELSE
        |    ((4*n*a - pr*pr)*(4*n*a - pr*pr)*1000) // (4*n*pr*pr)
        |  + ((2*n*b - pr*pq)*(2*n*b - pr*pq)*1000) // (2*n*pr*pq)
        |  + ((4*n*c - pq*pq)*(4*n*c - pq*pq)*1000) // (4*n*pq*pq) END AS chi2_milli,
        |  COUNT(*) AS n_sites
        |FROM x GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3""".stripMargin,
    "q_vcf_cohort64_sfs" ->
      """WITH r AS (SELECT ROW_NUMBER() OVER () AS rid,
        |    l_orderkey * 37 + l_linenumber * 101 + l_suppkey AS site
        |  FROM lineitem WHERE l_orderkey % 16 = 1),
        |g AS (SELECT rid, (site * (17 * j + 1)) % 1000003 % 24 AS h
        |  FROM r, (SELECT unnest(range(1, 65)) AS j) t),
        |s AS (SELECT rid,
        |    CAST(SUM(CASE WHEN h < 21 THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN h >= 21 AND h < 23 THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN h >= 23 THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM g GROUP BY rid),
        |m AS (SELECT LEAST(2*a + b, 2*c + b) AS mac, b FROM s)
        |SELECT CAST(mac AS BIGINT) AS mac, COUNT(*) AS n_sites,
        |  CAST(SUM(b) AS BIGINT) AS sum_het
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_vcf_ld_adjacent" -> {
      def hj(j: Int) = s"(site * ${17 * j + 1}) % 1000003 % 24"
      val ds = (1 to 12).map(j =>
        s"CASE WHEN ${hj(j)} < 21 THEN 0 WHEN ${hj(j)} < 23 THEN 1 ELSE 2 END AS d$j")
        .mkString(", ")
      val dall = (1 to 12).map("d" + _).mkString(", ")
      val es = (1 to 12).map(j => s"LEAD(d$j) OVER w AS e$j").mkString(", ")
      val sx = (1 to 12).map("d" + _).mkString(" + ")
      val sy = (1 to 12).map("e" + _).mkString(" + ")
      val sxy = (1 to 12).map(j => s"d$j * e$j").mkString(" + ")
      val sxx = (1 to 12).map(j => s"d$j * d$j").mkString(" + ")
      val syy = (1 to 12).map(j => s"e$j * e$j").mkString(" + ")
      s"""WITH r AS (SELECT 'chr' || CAST(l_orderkey % 24 AS VARCHAR) AS contig,
         |    (l_partkey * 37) % 999000 + 1 AS start,
         |    CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
         |      || '-' || CAST(l_suppkey AS VARCHAR) AS id,
         |    l_orderkey * 37 + l_linenumber * 101 + l_suppkey AS site
         |  FROM lineitem WHERE l_orderkey % 8 = 3),
         |g AS (SELECT contig, start, id, $ds FROM r),
         |p AS (SELECT contig, $dall, $es FROM g
         |  WINDOW w AS (PARTITION BY contig ORDER BY start, id)),
         |q AS (SELECT 12*($sxy) - ($sx)*($sy) AS cov,
         |    12*($sxx) - ($sx)*($sx) AS vx, 12*($syy) - ($sy)*($sy) AS vy
         |  FROM p WHERE e1 IS NOT NULL),
         |x AS (SELECT (cov*cov*1000) // (vx*vy) AS r2_milli FROM q
         |  WHERE vx > 0 AND vy > 0)
         |SELECT CAST(r2_milli // 100 AS BIGINT) AS r2_bin, COUNT(*) AS n_pairs,
         |  CAST(SUM(r2_milli) AS BIGINT) AS sum_r2_milli
         |FROM x GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q_vcf_kinship_pairs" -> {
      def hj(j: Int) = s"(site * ${17 * j + 1}) % 1000003 % 24"
      val cs = (1 to 12).map(j =>
        s"CASE WHEN ${hj(j)} < 21 THEN 0 WHEN ${hj(j)} < 23 THEN 1 ELSE 2 END AS c$j")
        .mkString(", ")
      val pairSel = (for { i <- 1 to 12; j <- (i + 1) to 12 } yield
        f"SELECT 's$i%02d' AS s1, 's$j%02d' AS s2, c$i AS gi, c$j AS gj FROM g")
        .mkString(" UNION ALL ")
      s"""WITH r AS (SELECT l_orderkey * 37 + l_linenumber * 101 + l_suppkey AS site
         |  FROM lineitem WHERE l_orderkey % 8 = 5),
         |g AS (SELECT $cs FROM r),
         |p AS ($pairSel)
         |SELECT s1, s2,
         |  CAST(SUM(CASE WHEN gi = 1 AND gj = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hethet,
         |  CAST(SUM(CASE WHEN (gi = 0 AND gj = 2) OR (gi = 2 AND gj = 0) THEN 1 ELSE 0 END) AS BIGINT) AS n_ibs0,
         |  CAST(SUM(CASE WHEN gi = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_het_i,
         |  CAST(SUM(CASE WHEN gj = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_het_j
         |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "q_bam_sex_infer" ->
      """WITH t AS (SELECT (l_orderkey * 13 + l_linenumber * 7 + l_suppkey * 3) % 40 AS c,
        |    l_orderkey % 4 AS rg FROM lineitem),
        |u AS (SELECT 'rg' || CAST(rg AS VARCHAR) AS sample_rg,
        |    CASE WHEN c < 32 THEN 'chr' || CAST(c % 24 AS VARCHAR)
        |         WHEN rg % 2 = 0 THEN 'chrX'
        |         WHEN c < 36 THEN 'chrX' ELSE 'chrY' END AS contig FROM t),
        |a AS (SELECT sample_rg,
        |    CAST(SUM(CASE WHEN contig = 'chrX' THEN 1 ELSE 0 END) AS BIGINT) AS n_x,
        |    CAST(SUM(CASE WHEN contig = 'chrY' THEN 1 ELSE 0 END) AS BIGINT) AS n_y,
        |    CAST(SUM(CASE WHEN contig NOT IN ('chrX', 'chrY') THEN 1 ELSE 0 END) AS BIGINT) AS n_auto
        |  FROM u GROUP BY 1)
        |SELECT sample_rg, n_x, n_y, n_auto,
        |  n_x * 1000 // (n_x + n_y) AS x_fraction_milli,
        |  CASE WHEN n_y * 20 < n_x THEN 'F' ELSE 'M' END AS sex_call
        |FROM a ORDER BY 1""".stripMargin,
    "q_fastq_roundtrip" ->
      """WITH t AS (SELECT 20 + l_partkey % 31 AS len,
        |    (l_orderkey + l_linenumber) % 4 AS ph,
        |    l_orderkey % 5 = 0 AS has_comment FROM lineitem),
        |u AS (SELECT len,
        |    substring(repeat('ACGT', 16), CAST(ph AS INT) + 1, CAST(len AS INT)) AS seq,
        |    has_comment FROM t)
        |SELECT CAST(len AS INT) AS len, COUNT(*) AS n_reads,
        |  CAST(SUM(length(regexp_replace(seq, '[^GC]', '', 'g'))) AS BIGINT) AS n_gc,
        |  CAST(SUM(CASE WHEN has_comment THEN 1 ELSE 0 END) AS BIGINT) AS n_commented
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_fastq_trim" ->
      """WITH t AS (SELECT 20 + l_partkey % 31 AS len, l_suppkey % 7 AS qph FROM lineitem),
        |u AS (SELECT substring(repeat('IJKLMNOP@+FGH', 5),
        |    CAST(qph AS INT) + 1, CAST(len AS INT)) AS qual FROM t),
        |v AS (SELECT CAST(length(qual) - length(regexp_extract(qual, '[!-4]*$', 0)) AS BIGINT)
        |    AS trimmed_len FROM u)
        |SELECT trimmed_len // 10 AS len_decade, COUNT(*) AS n_reads,
        |  CAST(SUM(trimmed_len) AS BIGINT) AS sum_trimmed
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_fastq_pairs" ->
      """WITH t AS (SELECT DISTINCT l_orderkey, l_linenumber, l_suppkey, l_partkey
        |  FROM lineitem),
        |u AS (SELECT 20 + l_partkey % 31 AS len1,
        |    20 + (l_partkey * 7) % 31 AS len2 FROM t)
        |SELECT CAST(len1 - len2 AS INT) AS len_delta, COUNT(*) AS n_pairs,
        |  CAST(SUM(len1 + len2) AS BIGINT) AS sum_bases
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_bam_splice_junctions" ->
      """WITH t AS (SELECT 20 + l_partkey % 30 AS m1,
        |    100 + (l_suppkey % 50) * 20 AS gap,
        |    (l_partkey * 37) % 900000 + 1 AS start FROM lineitem)
        |SELECT CAST(gap AS BIGINT) AS gap, COUNT(*) AS n_junctions,
        |  CAST(SUM(start + m1) AS BIGINT) AS sum_junc_start
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_fastq_base_content" ->
      """WITH t AS (SELECT (l_orderkey + l_linenumber) % 4 AS ph,
        |    20 + l_partkey % 31 AS len FROM lineitem),
        |u AS (SELECT substring(repeat('ACGT', 16), CAST(ph AS INT) + 1,
        |    CAST(len AS INT)) AS seq FROM t),
        |v AS (SELECT seq, unnest(range(1, length(seq) + 1)) AS cycle FROM u)
        |SELECT CAST(cycle AS INT) AS cycle, substring(seq, CAST(cycle AS INT), 1) AS base,
        |  COUNT(*) AS n
        |FROM v GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_vcf_sample_swap" -> {
      def hj(j: Int) = s"(site * ${17 * j + 1}) % 1000003 % 24"
      def code(j: Int) =
        s"CASE WHEN ${hj(j)} < 21 THEN 0 WHEN ${hj(j)} < 23 THEN 1 ELSE 2 END"
      val perm: Map[Int, Int] = Map(5 -> 7, 7 -> 5).withDefault(identity)
      val as = (1 to 12).map(j => s"${code(j)} AS a$j").mkString(", ")
      val bs = (1 to 12).map(j => s"${code(perm(j))} AS b$j").mkString(", ")
      val gaCase = "CASE ti.i " + (1 to 12).map(j => s"WHEN $j THEN a$j").mkString(" ") + " END"
      val gbCase = "CASE tj.j " + (1 to 12).map(j => s"WHEN $j THEN b$j").mkString(" ") + " END"
      s"""WITH r AS (SELECT DISTINCT l_orderkey * 37 + l_linenumber * 101 + l_suppkey AS site
         |  FROM lineitem WHERE l_orderkey % 16 = 9),
         |g AS (SELECT $as, $bs FROM r),
         |p AS (SELECT ti.i AS i, tj.j AS j, $gaCase AS ga, $gbCase AS gb
         |  FROM g, (SELECT unnest(range(1, 13)) AS i) ti,
         |       (SELECT unnest(range(1, 13)) AS j) tj),
         |c AS (SELECT i, j, CAST(SUM(CASE WHEN ga = gb THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
         |    COUNT(*) AS n_sites FROM p GROUP BY 1, 2),
         |b AS (SELECT i, MAX(n_match) AS best_m FROM c GROUP BY 1),
         |f AS (SELECT c.i, c.n_match, c.n_sites, MIN(c.j) AS best_j
         |  FROM c JOIN b ON c.i = b.i AND c.n_match = b.best_m GROUP BY 1, 2, 3)
         |SELECT 's' || lpad(CAST(i AS VARCHAR), 2, '0') AS sample_a,
         |  's' || lpad(CAST(best_j AS VARCHAR), 2, '0') AS best_match_b,
         |  n_match * 1000 // n_sites AS conc_permille,
         |  i <> best_j AS swapped
         |FROM f ORDER BY 1""".stripMargin
    },
    "q_bam2fq" ->
      """WITH t AS (SELECT 20 + l_partkey % 31 AS len,
        |    (l_orderkey + l_linenumber) % 4 AS ph, l_suppkey % 7 AS qph FROM lineitem),
        |u AS (SELECT len,
        |    substring(repeat('ACGT', 16), CAST(ph AS INT) + 1, CAST(len AS INT)) AS seq,
        |    substring(repeat('IJKLMNOP@+FGH', 5), CAST(qph AS INT) + 1, CAST(len AS INT)) AS qual
        |  FROM t)
        |SELECT CAST(len AS INT) AS len, COUNT(*) AS n_reads,
        |  CAST(SUM(length(regexp_replace(seq, '[^GC]', '', 'g'))) AS BIGINT) AS n_gc,
        |  CAST(SUM(length(regexp_replace(qual, '[^!-4]', '', 'g'))) AS BIGINT) AS n_lowq
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_cram2bam" ->
      """WITH t AS (SELECT 'chr' || CAST(l_orderkey % 24 AS VARCHAR) AS contig,
        |    (l_partkey * 37) % 999000 + 1 AS start, 20 + l_partkey % 31 AS len
        |  FROM lineitem WHERE l_orderkey % 4 = 1)
        |SELECT contig, COUNT(*) AS n_reads,
        |  CAST(SUM(start) AS BIGINT) AS sum_start,
        |  CAST(SUM(len) AS BIGINT) AS n_bases
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_vcf_mendel" ->
      """WITH t AS (SELECT 'chr' || CAST(l_orderkey % 3 AS VARCHAR) AS contig,
        |    (l_orderkey * 7 + l_linenumber) % 3 AS df,
        |    (l_orderkey * 5 + l_linenumber * 2) % 3 AS dm,
        |    (l_orderkey * 11 + l_linenumber * 3 + l_suppkey) % 3 AS dc
        |  FROM lineitem),
        |v AS (SELECT contig, dc,
        |    (CASE WHEN df = 2 THEN 1 ELSE 0 END + CASE WHEN dm = 2 THEN 1 ELSE 0 END) AS lo,
        |    (CASE WHEN df = 0 THEN 0 ELSE 1 END + CASE WHEN dm = 0 THEN 0 ELSE 1 END) AS hi
        |  FROM t)
        |SELECT contig, COUNT(*) AS n_sites,
        |  CAST(SUM(CASE WHEN dc < lo OR dc > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_viol,
        |  CAST(SUM(CASE WHEN (dc < lo OR dc > hi) AND dc = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_viol_homref,
        |  CAST(SUM(CASE WHEN (dc < lo OR dc > hi) AND dc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_viol_het,
        |  CAST(SUM(CASE WHEN (dc < lo OR dc > hi) AND dc = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_viol_homalt
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,
    // sites keyed by per-contig ROW_NUMBER ((l_orderkey,l_linenumber) is
    // not unique); ties order among fully-identical key rows are
    // arbitrary BUT the derived codes depend only on those key columns,
    // so the site set is deterministic either way
    "q_vcf_concordance" ->
      """WITH r AS (SELECT
        |    'chr' || CAST(l_orderkey % 24 AS VARCHAR) AS contig,
        |    ROW_NUMBER() OVER (PARTITION BY l_orderkey % 24
        |      ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) AS pos,
        |    (l_orderkey * 3 + l_linenumber) % 4 AS ca,
        |    (l_orderkey * 5 + l_linenumber * 2 + l_suppkey) % 4 AS cb
        |  FROM lineitem),
        |g AS (SELECT pos,
        |    CASE ca WHEN 0 THEN '0/0' WHEN 1 THEN '0/1' WHEN 2 THEN '1/1' ELSE './.' END AS gt_a,
        |    CASE cb WHEN 0 THEN '0/0' WHEN 1 THEN '0/1' WHEN 2 THEN '1/1' ELSE './.' END AS gt_b
        |  FROM r)
        |SELECT gt_a, gt_b, COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS sum_pos
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_vcf_somatic" ->
      """WITH r AS (SELECT
        |    'chr' || CAST(l_orderkey % 8 AS VARCHAR) AS contig,
        |    ROW_NUMBER() OVER (PARTITION BY l_orderkey % 8
        |      ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) AS pos,
        |    (l_orderkey + l_partkey) % 5 <> 0 AS in_normal,
        |    (l_orderkey * 3 + l_suppkey) % 7 <> 0 AS in_tumor,
        |    (l_partkey * 13 + l_linenumber) % 1000 AS af_pm
        |  FROM lineitem),
        |c AS (SELECT contig, pos,
        |    CASE WHEN in_tumor AND NOT in_normal AND af_pm >= 50 THEN 'somatic'
        |         WHEN in_tumor AND NOT in_normal THEN 'low_af_artifact'
        |         WHEN in_tumor THEN 'germline'
        |         ELSE 'normal_only' END AS cls,
        |    CASE WHEN in_tumor THEN af_pm ELSE 0 END AS af
        |  FROM r WHERE in_tumor OR in_normal)
        |SELECT contig, cls, COUNT(*) AS n_sites,
        |  CAST(SUM(pos) AS BIGINT) AS sum_pos,
        |  CAST(SUM(af) AS BIGINT) AS sum_af_pm
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_vcf_split_multiallelic" ->
      """WITH r AS (SELECT
        |    CAST((l_partkey * 37) % 999000 + 1 AS BIGINT) AS pos,
        |    l_suppkey % 3 + 1 AS nalt,
        |    (l_orderkey + l_linenumber) % (l_suppkey % 3 + 2) AS a1,
        |    (l_orderkey * 2 + l_suppkey) % (l_suppkey % 3 + 2) AS a2
        |  FROM lineitem),
        |e AS (SELECT pos, nalt, ai,
        |    (CASE WHEN a1 = 0 THEN '0' WHEN a1 = ai THEN '1' ELSE '.' END) || '/' ||
        |    (CASE WHEN a2 = 0 THEN '0' WHEN a2 = ai THEN '1' ELSE '.' END) AS gt
        |  FROM r, UNNEST(range(1, nalt + 1)) AS u(ai))
        |SELECT CAST(nalt AS BIGINT) AS n_alts, gt, COUNT(*) AS n,
        |  CAST(SUM(pos) AS BIGINT) AS sum_pos
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_vcf_roh" ->
      """WITH base AS (SELECT
        |    'chr' || CAST(l_orderkey % 24 AS VARCHAR) AS contig,
        |    l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |    (l_orderkey * 3 + l_linenumber + l_suppkey) % 4 AS code
        |  FROM lineitem),
        |p AS (SELECT contig,
        |    ROW_NUMBER() OVER (PARTITION BY contig
        |      ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) AS pos,
        |    CASE WHEN code = 1 OR code = 3 THEN 1 ELSE 0 END AS is_het
        |  FROM base),
        |q AS (SELECT contig, pos, is_het,
        |    SUM(is_het) OVER (PARTITION BY contig ORDER BY pos
        |      ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM p),
        |runs AS (SELECT contig, run_id, COUNT(*) AS len
        |  FROM q WHERE is_het = 0 GROUP BY 1, 2)
        |SELECT contig, COUNT(*) AS n_runs, CAST(MAX(len) AS BIGINT) AS max_run_len,
        |  CAST(SUM(CASE WHEN len >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_runs_ge5,
        |  CAST(SUM(len) AS BIGINT) AS hom_total
        |FROM runs GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_bam_markdup_unclipped" ->
      """WITH r AS (
        |  SELECT 'r' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS readName,
        |    CASE WHEN l_linenumber % 2 = 1 THEN 0 ELSE 1 END AS strand,
        |    'chr' || CAST(l_partkey % 3 AS VARCHAR) AS contig,
        |    (l_partkey * 13) % 5000 + 8 AS rstart,
        |    l_suppkey % 8 AS clip,
        |    (l_orderkey * 7 + l_linenumber) % 61 AS mapq
        |  FROM lineitem),
        |u AS (SELECT *, CASE WHEN strand = 0 THEN rstart - clip
        |    ELSE rstart + 150 END AS u5 FROM r),
        |k AS (SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY contig, u5, strand ORDER BY mapq DESC, readName) AS rn
        |  FROM u)
        |SELECT contig, COUNT(*) AS n_reads,
        |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
        |  CAST(COUNT(DISTINCT (u5, strand)) AS BIGINT) AS n_sites,
        |  CAST(SUM(CASE WHEN rn = 1 THEN mapq ELSE 0 END) AS BIGINT) AS kept_mapq_sum
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_bam_softclip_profile" ->
      """WITH r AS (
        |  SELECT 'chr' || CAST(l_partkey % 3 AS VARCHAR) AS contig,
        |    CASE WHEN l_linenumber % 2 = 1 THEN 0 ELSE 1 END AS strand,
        |    l_suppkey % 8 AS clip
        |  FROM lineitem)
        |SELECT contig, strand, COUNT(*) AS n_reads,
        |  CAST(SUM(CASE WHEN clip > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
        |  CAST(SUM(clip) AS BIGINT) AS clip_bases,
        |  CAST(MAX(clip) AS BIGINT) AS max_clip
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_bam_baseq_cycle" ->
      """WITH r AS (SELECT l_partkey % 40 AS o FROM lineitem),
        |c AS (SELECT unnest(range(1, 37)) AS cycle)
        |SELECT cycle, COUNT(*) AS n_reads,
        |  CAST(SUM((o + cycle - 1) % 40) AS BIGINT) AS sum_q,
        |  CAST(MIN((o + cycle - 1) % 40) AS BIGINT) AS min_q,
        |  CAST(MAX((o + cycle - 1) % 40) AS BIGINT) AS max_q,
        |  CAST(SUM((o + cycle - 1) % 40) * 1000 // COUNT(*) AS BIGINT) AS mean_q_milli
        |FROM c, r GROUP BY cycle ORDER BY cycle""".stripMargin,
    "q_vcf_tstv" ->
      """WITH v AS (
        |  SELECT 'chr' || CAST(l_orderkey % 3 AS VARCHAR) AS contig,
        |    substr('ACGT', CAST(l_partkey % 4 AS INTEGER) + 1, 1) AS ref,
        |    substr('ACGT', CAST((l_partkey % 4 + 1 + l_linenumber % 3) % 4 AS INTEGER) + 1, 1) AS alt
        |  FROM lineitem),
        |t AS (SELECT contig,
        |    CASE WHEN (ref = 'A' AND alt = 'G') OR (ref = 'G' AND alt = 'A')
        |      OR (ref = 'C' AND alt = 'T') OR (ref = 'T' AND alt = 'C')
        |      THEN 1 ELSE 0 END AS is_ts
        |  FROM v)
        |SELECT contig, COUNT(*) AS n_sites, CAST(SUM(is_ts) AS BIGINT) AS n_ts,
        |  CAST(COUNT(*) - SUM(is_ts) AS BIGINT) AS n_tv,
        |  CASE WHEN COUNT(*) - SUM(is_ts) = 0 THEN NULL
        |    ELSE CAST(SUM(is_ts) * 1000 // (COUNT(*) - SUM(is_ts)) AS BIGINT) END AS tstv_milli
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_vcf_missingness" ->
      """WITH g AS (
        |  SELECT 's' || lpad(CAST(j AS VARCHAR), 2, '0') AS sample,
        |    (l_orderkey + j * l_linenumber + j * j * l_suppkey) % 5 AS code
        |  FROM lineitem, (SELECT unnest(range(1, 13)) AS j) t)
        |SELECT sample, COUNT(*) AS n_sites,
        |  CAST(SUM(CASE WHEN code = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
        |  CAST((COUNT(*) - SUM(CASE WHEN code = 4 THEN 1 ELSE 0 END)) * 1000 // COUNT(*) AS BIGINT) AS call_rate_milli
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_vcf_inbreeding" ->
      """WITH r AS (SELECT ROW_NUMBER() OVER () AS rid,
        |    l_orderkey AS ok, l_linenumber AS ln, l_suppkey AS sk FROM lineitem),
        |g AS (SELECT rid, j, (ok + j * ln + j * j * sk) % 3 AS code
        |  FROM r, (SELECT unnest(range(1, 13)) AS j) t),
        |s AS (SELECT rid,
        |    CAST(2 * SUM(CASE WHEN code = 0 THEN 1 ELSE 0 END)
        |      + SUM(CASE WHEN code = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pr,
        |    CAST(2 * SUM(CASE WHEN code = 2 THEN 1 ELSE 0 END)
        |      + SUM(CASE WHEN code = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pq
        |  FROM g GROUP BY rid),
        |e AS (SELECT CAST(SUM(2 * pr * pq * 1000 // ((pr + pq) * (pr + pq))) AS BIGINT) AS e_milli
        |  FROM s),
        |o AS (SELECT 's' || lpad(CAST(j AS VARCHAR), 2, '0') AS sample,
        |    CAST(SUM(CASE WHEN code = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_het
        |  FROM g GROUP BY 1)
        |SELECT sample, n_het, e_milli,
        |  CAST(1000 - (n_het * 1000000 // e_milli) AS BIGINT) AS f_milli
        |FROM o, e ORDER BY sample""".stripMargin,
    "q_vcf_af_spectrum" ->
      """WITH r AS (SELECT ROW_NUMBER() OVER () AS rid,
        |    l_orderkey AS ok, l_partkey AS pk, l_linenumber AS ln, l_suppkey AS sk,
        |    CAST((l_partkey * 37) % 999000 + 1 AS BIGINT) AS pos FROM lineitem),
        |g AS (SELECT rid, pos, CASE WHEN ((ok*131 + pk*37 + sk*11 + ln*5) * (17*j + 1)) % 1000003 % 24 < 21 THEN 0
        |      WHEN ((ok*131 + pk*37 + sk*11 + ln*5) * (17*j + 1)) % 1000003 % 24 < 23 THEN 1
        |      ELSE 2 END AS code
        |  FROM r, (SELECT unnest(range(1, 13)) AS j) t),
        |s AS (SELECT rid, MIN(pos) AS pos,
        |    CAST(2 * SUM(CASE WHEN code = 2 THEN 1 ELSE 0 END)
        |      + SUM(CASE WHEN code = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pq
        |  FROM g GROUP BY rid),
        |m AS (SELECT LEAST(pq, 24 - pq) AS mac, pos FROM s)
        |SELECT mac, COUNT(*) AS n_sites, CAST(SUM(pos) AS BIGINT) AS sum_pos
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_vcf_singletons" ->
      """WITH r AS (SELECT ROW_NUMBER() OVER () AS rid,
        |    l_orderkey AS ok, l_partkey AS pk, l_linenumber AS ln, l_suppkey AS sk FROM lineitem),
        |g AS (SELECT rid, j, CASE WHEN ((ok*131 + pk*37 + sk*11 + ln*5) * (17*j + 1)) % 1000003 % 24 < 21 THEN 0
        |      WHEN ((ok*131 + pk*37 + sk*11 + ln*5) * (17*j + 1)) % 1000003 % 24 < 23 THEN 1
        |      ELSE 2 END AS code
        |  FROM r, (SELECT unnest(range(1, 13)) AS j) t),
        |s AS (SELECT rid FROM g GROUP BY rid
        |  HAVING SUM(CASE WHEN code = 1 THEN 1 ELSE 0 END) = 1
        |     AND SUM(CASE WHEN code = 2 THEN 1 ELSE 0 END) = 0)
        |SELECT 's' || lpad(CAST(j AS VARCHAR), 2, '0') AS sample,
        |  COUNT(*) AS n_singletons
        |FROM g JOIN s USING (rid) WHERE code = 1
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_bam_insert_orientation" ->
      """WITH r AS (SELECT 'chr' || CAST(l_partkey % 3 AS VARCHAR) AS contig,
        |    (l_partkey * 13) % 5000 + 400 AS rstart,
        |    (l_partkey * 13) % 5000 + 400 + (l_suppkey % 1200) - 300 AS mstart,
        |    CASE WHEN l_partkey % 2 = 0 THEN 1 ELSE 0 END AS selfrev,
        |    CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END AS materev
        |  FROM lineitem),
        |c AS (SELECT contig,
        |    CASE WHEN selfrev = materev THEN 'tandem'
        |      WHEN (selfrev = 0 AND rstart <= mstart)
        |        OR (selfrev = 1 AND mstart <= rstart) THEN 'inward'
        |      ELSE 'outward' END AS orientation,
        |    ABS(mstart - rstart) AS gap
        |  FROM r)
        |SELECT contig, orientation, COUNT(*) AS n_pairs,
        |  CAST(SUM(gap) AS BIGINT) AS sum_gap
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_bam_rg_error_rate" ->
      """WITH r AS (SELECT 'rg' || CAST(l_orderkey % 4 AS VARCHAR) AS read_group,
        |    (l_partkey + l_linenumber) % 9 AS nm,
        |    CASE WHEN l_suppkey % 2 = 0 THEN 1 ELSE 0 END AS fwd
        |  FROM lineitem)
        |SELECT read_group, COUNT(*) AS n_reads,
        |  CAST(SUM(nm) AS BIGINT) AS sum_nm,
        |  CAST(SUM(fwd) AS BIGINT) AS n_fwd_class,
        |  CAST(SUM(nm) * 1000000 // (COUNT(*) * 151) AS BIGINT) AS err_per_mb
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    // SAM-text twin of q_bam_rg_error_rate — same derivation, so the text
    // tag scan must agree with the binary tag walk bit-for-bit
    "q_sam_rg_error_rate" ->
      """WITH r AS (SELECT 'rg' || CAST(l_orderkey % 4 AS VARCHAR) AS read_group,
        |    (l_partkey + l_linenumber) % 9 AS nm,
        |    CASE WHEN l_suppkey % 2 = 0 THEN 1 ELSE 0 END AS fwd
        |  FROM lineitem)
        |SELECT read_group, COUNT(*) AS n_reads,
        |  CAST(SUM(nm) AS BIGINT) AS sum_nm,
        |  CAST(SUM(fwd) AS BIGINT) AS n_fwd_class,
        |  CAST(SUM(nm) * 1000000 // (COUNT(*) * 151) AS BIGINT) AS err_per_mb
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    // mismatch cycles re-derived from the MD generator formula: leading
    // matched run p0 = l_partkey % 8, then the fixed mismatch offsets of
    // the 'A21C9T2G33A11C5T17A9G12C8T' walk
    "q_bam_bqsr_covariates" ->
      """WITH r AS (SELECT 'rg' || CAST(l_orderkey % 4 AS VARCHAR) AS read_group,
        |    l_partkey % 8 AS p0 FROM lineitem),
        |m AS (SELECT read_group, p0 + o AS cycle
        |  FROM r, UNNEST([0,22,32,35,69,81,87,105,115,128,137]) AS t(o)),
        |pr AS (SELECT read_group, COUNT(*) AS n_reads FROM r GROUP BY 1),
        |g AS (SELECT read_group, cycle // 16 AS cycle_bin, COUNT(*) AS n_mismatch
        |  FROM m GROUP BY 1, 2)
        |SELECT g.read_group, CAST(cycle_bin AS BIGINT) AS cycle_bin,
        |  CAST(n_mismatch AS BIGINT) AS n_mismatch, pr.n_reads,
        |  CAST(n_mismatch * 1000 // (pr.n_reads * 16) AS BIGINT) AS err_permille
        |FROM g JOIN pr USING (read_group) ORDER BY read_group, cycle_bin""".stripMargin,
    "q_bam_basecall_pileup" ->
      s"""WITH r AS (SELECT 'chr' || CAST(l_partkey % 3 AS VARCHAR) AS contig,
        |    (l_partkey * 13) % 5000 + 1 AS rstart,
        |    substring('$KmerAlpha',
        |      CAST((l_partkey * 13) % 33 AS INTEGER) + 1, 32) AS seq
        |  FROM lineitem
        |  WHERE (l_partkey * 13) % 5000 + 1 <= 1263
        |    AND (l_partkey * 13) % 5000 + 32 >= 1200),
        |b AS (SELECT contig, p,
        |    substr(seq, CAST(p - rstart + 1 AS INTEGER), 1) AS base
        |  FROM r, UNNEST(range(GREATEST(rstart, 1200), LEAST(rstart + 31, 1263) + 1)) AS u(p)),
        |c AS (SELECT contig, p,
        |    CAST(SUM(CASE WHEN base = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN base = 'C' THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
        |    CAST(SUM(CASE WHEN base = 'G' THEN 1 ELSE 0 END) AS BIGINT) AS n_g,
        |    CAST(SUM(CASE WHEN base = 'T' THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |    COUNT(*) AS depth
        |  FROM b GROUP BY 1, 2)
        |SELECT contig, p, n_a, n_c, n_g, n_t, depth,
        |  CASE WHEN n_a >= n_c AND n_a >= n_g AND n_a >= n_t THEN 'A'
        |    WHEN n_c >= n_g AND n_c >= n_t THEN 'C'
        |    WHEN n_g >= n_t THEN 'G' ELSE 'T' END AS major
        |FROM c ORDER BY contig, p""".stripMargin,
    // sites keyed by per-contig ROW_NUMBER (same tie argument as
    // q_vcf_concordance: identical key tuples derive identical genotypes,
    // so adjacent-duplicate order can never change the flip count)
    "q_vcf_phase_switch" ->
      """WITH r AS (SELECT
        |    'chr' || CAST(l_orderkey % 24 AS VARCHAR) AS contig,
        |    ROW_NUMBER() OVER (PARTITION BY l_orderkey % 24
        |      ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) AS pos,
        |    (l_orderkey * 3 + l_linenumber + l_partkey) % 4 AS c1,
        |    (l_orderkey * 7 + l_suppkey) % 4 AS c2,
        |    CASE WHEN (l_suppkey + l_partkey) % 7 = 0 THEN 1 ELSE 0 END AS multi
        |  FROM lineitem),
        |g AS (
        |  SELECT contig, pos, multi, 's01' AS sample,
        |    CASE c1 WHEN 1 THEN '0|1' ELSE '1|0' END AS gt FROM r WHERE c1 IN (1, 2)
        |  UNION ALL
        |  SELECT contig, pos, multi, 's02' AS sample,
        |    CASE c2 WHEN 1 THEN '0|1' ELSE '1|0' END AS gt FROM r WHERE c2 IN (1, 2)),
        |k AS (SELECT sample, gt, multi,
        |    LAG(gt) OVER (PARTITION BY sample, contig ORDER BY pos) AS prev
        |  FROM g)
        |SELECT sample, COUNT(*) AS n_het_sites,
        |  CAST(SUM(CASE WHEN prev IS NOT NULL AND prev <> gt THEN 1 ELSE 0 END) AS BIGINT) AS n_switches,
        |  CAST(SUM(multi) AS BIGINT) AS n_multifilter
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_bam_wgs_metrics" ->
      """WITH reads AS (
        |  SELECT 'chr' || CAST(l_partkey % 3 AS VARCHAR) AS contig,
        |    (l_partkey * 13) % 5000 + 1 AS s,
        |    (l_partkey * 13) % 5000 + 151 AS e
        |  FROM lineitem WHERE l_partkey % 5 = 0),
        |w AS (SELECT 'chr' || CAST(c AS VARCHAR) AS contig, pos
        |  FROM (SELECT unnest(range(0, 3)) AS c) a,
        |       (SELECT unnest(range(1000, 2000)) AS pos) b),
        |d AS (SELECT w.contig, w.pos, COUNT(reads.s) AS dep
        |  FROM w LEFT JOIN reads
        |    ON reads.contig = w.contig AND reads.s <= w.pos AND reads.e >= w.pos
        |  GROUP BY 1, 2)
        |SELECT contig,
        |  CAST(SUM(dep) * 1000 // COUNT(*) AS BIGINT) AS mean_depth_milli,
        |  CAST(MAX(dep) AS BIGINT) AS max_depth,
        |  CAST(SUM(CASE WHEN dep >= 50 THEN 1 ELSE 0 END) * 1000 // COUNT(*) AS BIGINT) AS ge50_permille,
        |  CAST(SUM(CASE WHEN dep >= 150 THEN 1 ELSE 0 END) * 1000 // COUNT(*) AS BIGINT) AS ge150_permille,
        |  CAST(SUM(CASE WHEN dep >= 300 THEN 1 ELSE 0 END) * 1000 // COUNT(*) AS BIGINT) AS ge300_permille,
        |  CAST(SUM(CASE WHEN dep >= 600 THEN 1 ELSE 0 END) * 1000 // COUNT(*) AS BIGINT) AS ge600_permille
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_vcf_setgt_filter" ->
      """WITH g AS (SELECT 's' || lpad(CAST(j AS VARCHAR), 2, '0') AS sample,
        |    (l_orderkey + j * l_linenumber + j * j * l_suppkey) % 4 AS code,
        |    (l_partkey + j * 17) % 60 AS gq,
        |    CASE WHEN l_orderkey % 5 = 0 THEN 1 ELSE 0 END AS has_db
        |  FROM lineitem, (SELECT unnest(range(1, 5)) AS j) t)
        |SELECT sample, COUNT(*) AS n_sites,
        |  CAST(SUM(CASE WHEN code <> 3 THEN 1 ELSE 0 END) AS BIGINT) AS called_before,
        |  CAST(SUM(CASE WHEN code <> 3 AND gq >= 20 THEN 1 ELSE 0 END) AS BIGINT) AS called_after,
        |  CAST(SUM(has_db) AS BIGINT) AS n_db_sites,
        |  CAST(SUM(CASE WHEN code <> 3 AND gq >= 20 THEN 1 ELSE 0 END) * 1000 // COUNT(*) AS BIGINT) AS callrate_after_milli
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_bam_downsample_coverage" ->
      """WITH reads AS (SELECT 'chr' || CAST(l_orderkey % 3 AS VARCHAR) AS contig,
        |    CAST((l_partkey * 37) % 999000 + 1 AS BIGINT) AS rstart,
        |    'r' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS rname
        |  FROM lineitem),
        |w AS (SELECT *, rstart // 1000 AS win FROM reads),
        |dep AS (SELECT contig, win, COUNT(*) AS dep FROM w GROUP BY 1, 2),
        |k AS (SELECT w.contig, w.rstart, dep.dep, dep.win,
        |    CASE WHEN dep.dep <= 100 OR
        |      CAST('0x' || substr(md5('ds|' || w.rname), 1, 15) AS BIGINT) % dep.dep < 100
        |      THEN 1 ELSE 0 END AS keep
        |  FROM w JOIN dep ON w.contig = dep.contig AND w.win = dep.win)
        |SELECT contig, COUNT(*) AS n_before,
        |  CAST(SUM(keep) AS BIGINT) AS n_kept,
        |  CAST(COUNT(DISTINCT CASE WHEN dep > 100 THEN win END) AS BIGINT) AS n_windows_capped,
        |  CAST(SUM(CASE WHEN keep = 1 THEN rstart ELSE 0 END) AS BIGINT) AS kept_start_sum
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_bam_chimeric_census" ->
      """WITH r AS (SELECT l_orderkey AS ok, l_partkey AS pk, l_suppkey AS sk
        |  FROM lineitem WHERE l_orderkey % 7 = 0),
        |g AS (SELECT 'chr' || CAST(pk % 3 AS VARCHAR) AS contig,
        |    'chr' || CAST((pk + i) % 3 AS VARCHAR) AS sa_contig,
        |    CASE WHEN (ok + i) % 2 = 0 THEN '+' ELSE '-' END AS strand
        |  FROM r, UNNEST(range(1, 2 + ok % 2)) AS u(i))
        |SELECT contig, sa_contig, COUNT(*) AS n_segments,
        |  CAST(SUM(CASE WHEN strand = '+' THEN 1 ELSE 0 END) AS BIGINT) AS n_fwd,
        |  CAST(SUM(CASE WHEN strand = '-' THEN 1 ELSE 0 END) AS BIGINT) AS n_rev
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_bam_coverage_bedgraph" ->
      """WITH reads AS (
        |  SELECT 'chr' || CAST(l_partkey % 3 AS VARCHAR) AS contig,
        |    (l_partkey * 13) % 5000 + 1 AS s,
        |    (l_partkey * 13) % 5000 + 151 AS e
        |  FROM lineitem WHERE l_partkey % 5 = 0),
        |w AS (SELECT 'chr' || CAST(c AS VARCHAR) AS contig, pos
        |  FROM (SELECT unnest(range(0, 3)) AS c) a,
        |       (SELECT unnest(range(1000, 2000)) AS pos) b),
        |d AS (SELECT w.contig, w.pos, COUNT(reads.s) AS dep
        |  FROM w LEFT JOIN reads
        |    ON reads.contig = w.contig AND reads.s <= w.pos AND reads.e >= w.pos
        |  GROUP BY 1, 2),
        |f AS (SELECT contig, pos, dep,
        |    CASE WHEN LAG(dep) OVER (PARTITION BY contig ORDER BY pos) IS NULL
        |      OR LAG(dep) OVER (PARTITION BY contig ORDER BY pos) <> dep
        |      THEN 1 ELSE 0 END AS newrun
        |  FROM d),
        |g AS (SELECT contig, pos, dep,
        |    SUM(newrun) OVER (PARTITION BY contig ORDER BY pos
        |      ROWS UNBOUNDED PRECEDING) AS run
        |  FROM f),
        |runs AS (SELECT contig, run, COUNT(*) AS len, MIN(dep) AS dep
        |  FROM g GROUP BY 1, 2)
        |SELECT contig, COUNT(*) AS n_intervals,
        |  CAST(SUM(len * dep) AS BIGINT) AS depth_mass,
        |  CAST(MAX(len) AS BIGINT) AS max_run,
        |  CAST(SUM(CASE WHEN dep = 0 THEN len ELSE 0 END) AS BIGINT) AS zero_bp
        |FROM runs GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_vcf_consensus" ->
      """WITH r AS (SELECT
        |    'chr' || CAST(l_orderkey % 24 AS VARCHAR) AS contig,
        |    ROW_NUMBER() OVER (PARTITION BY l_orderkey % 24
        |      ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) AS pos,
        |    (l_orderkey * 3 + l_linenumber) % 3 AS c1,
        |    (l_orderkey * 5 + l_suppkey) % 3 AS c2,
        |    (l_orderkey * 7 + l_linenumber + l_suppkey) % 3 AS c3
        |  FROM lineitem),
        |g AS (SELECT pos,
        |    CASE c1 WHEN 0 THEN '0/0' WHEN 1 THEN '0/1' ELSE '1/1' END AS g1,
        |    CASE c2 WHEN 0 THEN '0/0' WHEN 1 THEN '0/1' ELSE '1/1' END AS g2,
        |    CASE c3 WHEN 0 THEN '0/0' WHEN 1 THEN '0/1' ELSE '1/1' END AS g3
        |  FROM r),
        |v AS (SELECT pos,
        |    CASE WHEN g1 = g2 OR g1 = g3 THEN g1
        |      WHEN g2 = g3 THEN g2 ELSE '.' END AS consensus,
        |    CASE WHEN g1 = g2 AND g2 = g3 THEN 3
        |      WHEN g1 = g2 OR g1 = g3 OR g2 = g3 THEN 2 ELSE 1 END AS n_agree
        |  FROM g)
        |SELECT consensus, CAST(n_agree AS BIGINT) AS n_agree,
        |  COUNT(*) AS n_sites, CAST(SUM(pos) AS BIGINT) AS sum_pos
        |FROM v GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_vcf_region_annotate" ->
      """WITH v AS (SELECT 'chr' || CAST(l_orderkey % 24 AS VARCHAR) AS contig,
        |    CAST((l_partkey * 37) % 999000 + 1 AS BIGINT) AS pos FROM lineitem),
        |g AS (SELECT DISTINCT 'chr' || CAST(p_partkey % 24 AS VARCHAR) AS contig,
        |    CAST((p_partkey * 311) % 999000 + 1 AS BIGINT) AS gstart,
        |    CAST(2000 + (p_partkey % 5) * 1000 AS BIGINT) AS glen
        |  FROM part),
        |g2 AS (SELECT contig, gstart, gstart + glen - 1 AS gend FROM g),
        |ov AS (SELECT v.contig, v.pos,
        |    MAX(CASE WHEN (v.pos - g2.gstart) % 800 < 300 THEN 1 ELSE 0 END) AS exonic
        |  FROM v JOIN g2 ON v.contig = g2.contig
        |    AND v.pos >= g2.gstart AND v.pos <= g2.gend
        |  GROUP BY 1, 2),
        |a AS (SELECT v.contig,
        |    CASE WHEN ov.pos IS NULL THEN 'intergenic'
        |      WHEN ov.exonic = 1 THEN 'exonic' ELSE 'intronic' END AS klass
        |  FROM v LEFT JOIN ov ON v.contig = ov.contig AND v.pos = ov.pos)
        |SELECT contig, klass, COUNT(*) AS n_sites
        |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_vcf_gwas_assoc" ->
      """WITH r AS (SELECT ROW_NUMBER() OVER () AS rid,
        |    l_orderkey*131 + l_partkey*37 + l_suppkey*11 + l_linenumber*5 AS gbase
        |  FROM lineitem),
        |g AS (SELECT rid, j,
        |    CASE WHEN (gbase * (17*j + 1)) % 1000003 % 24 < 21 THEN 0
        |      WHEN (gbase * (17*j + 1)) % 1000003 % 24 < 23 THEN 1
        |      ELSE 2 END AS code
        |  FROM r, (SELECT unnest(range(1, 13)) AS j) t),
        |s AS (SELECT rid,
        |    CAST(SUM(CASE WHEN j <= 6 THEN code ELSE 0 END) AS BIGINT) AS a1,
        |    CAST(SUM(CASE WHEN j > 6 THEN code ELSE 0 END) AS BIGINT) AS a2
        |  FROM g GROUP BY rid),
        |p AS (SELECT a1, a2, COUNT(*) AS n_sites FROM s GROUP BY 1, 2)
        |SELECT a1, a2,
        |  CASE WHEN a1 + a2 = 0 OR a1 + a2 = 24 THEN CAST(0 AS BIGINT)
        |    ELSE CAST(24 * (a1*(12-a2) - a2*(12-a1)) * (a1*(12-a2) - a2*(12-a1)) * 1000
        |      // (144 * (a1 + a2) * (24 - a1 - a2)) AS BIGINT) END AS chi2_milli,
        |  n_sites
        |FROM p ORDER BY 1, 2""".stripMargin,
    "q_bam_tlen_stats" ->
      """WITH r AS (SELECT 'chr' || CAST(l_partkey % 24 AS VARCHAR) AS contig,
        |    CAST((l_partkey * 7) % 300 + 100 AS BIGINT) AS t
        |  FROM lineitem WHERE l_linenumber % 2 = 1)
        |SELECT contig, COUNT(*) AS n,
        |  CAST(SUM(t) * 1000 // COUNT(*) AS BIGINT) AS mean_milli,
        |  CAST((COUNT(*) * SUM(t * t) - SUM(t) * SUM(t)) * 1000
        |    // (COUNT(*) * COUNT(*)) AS BIGINT) AS var_milli
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
