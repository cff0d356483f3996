package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** The metric catalogue (names and units as BENCHMARK.json lists them) and
  * the roll-ups that fill it.
  */
object Metrics {
  type M = Seq[(String, Double, String)]

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "pass_s" -> "s",
    "bam_p50_ms" -> "ms", "vcf_p50_ms" -> "ms",
    "bam_bytes_per_record" -> "B/record", "vcf_bytes_per_record" -> "B/record")

  /** The query mix: a BAM round trip with a shuffle and a window, a VCF
    * census through a native expression, a FORMAT-projected VCF read, and a
    * join/window interval query.
    */
  val Queries: Seq[String] = Seq("q_bam_markdup", "q_vcf_hwe", "q_vcf_format_projection", "q_interval_subtract")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.plan_ms" -> "ms", "sources.partitions" -> "count", "sources.planned_bytes" -> "bytes",
    "sources.write_job_ms" -> "ms", "sources.commit_ms" -> "ms",
    "index.load_ms" -> "ms", "index.query_us" -> "us", "index.span_bytes" -> "bytes",
    "lookup.useful_byte_ratio" -> "ratio",
    "bgzf.blocks" -> "count", "bgzf.uncompressed_bytes" -> "bytes", "bgzf.inflate_ms" -> "ms",
    "bgzf.deflate_ms" -> "ms",
    "bam.records" -> "count", "bam.decode_ms" -> "ms", "bam.decode_pruned_ms" -> "ms", "bam.encode_ms" -> "ms",
    "vcf.records" -> "count", "vcf.decode_ms" -> "ms", "vcf.decode_pruned_ms" -> "ms", "vcf.encode_ms" -> "ms",
    "plans.scan_columns" -> "count", "plans.optimize_ms" -> "ms") ++
    Queries.map(q => s"queries.${q}_s" -> "s") ++ Seq(
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_ms" -> "ms", "spark.cpu_ms" -> "ms",
    "spark.gc_ms" -> "ms", "spark.task_wait_ms" -> "ms", "spark.task_skew" -> "ratio",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes", "spark.failed_tasks" -> "count",
    "jvm.gc_ms" -> "ms",
    "self.bench_ms" -> "ms", "self.sources_ms" -> "ms", "self.plans_ms" -> "ms", "self.spark_ms" -> "ms",
    "share.sources" -> "ratio", "share.plans" -> "ratio", "share.spark" -> "ratio",
    "share.bgzf" -> "ratio", "share.codec" -> "ratio",
    "trace.overhead_ms" -> "ms", "trace.spans" -> "count")

  def zeros(trace: Boolean): M = (if (trace) PerLayer else EndToEnd).map { case (n, u) => (n, 0.0, u) }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  /** Wall time per pass, and per pass the time spent on ops of `kind`. */
  def passMs(runs: Seq[Main.OpRun], kind: Option[String]): Seq[Double] =
    runs.groupBy(_.pass).values.map(_.filter(r => kind.forall(_ == r.kind)).map(_.ms).sum).toSeq

  def endToEnd(runs: Seq[Main.OpRun], setupS: Seq[Double], bpr: (Double, Double)): M = {
    val v = Map(
      "setup_s" -> Stats.median(setupS),
      "peak_rss_mb" -> peakRssMb(),
      "pass_s" -> Stats.median(passMs(runs, None)) / 1000,
      "bam_p50_ms" -> Stats.median(passMs(runs, Some("bam"))),
      "vcf_p50_ms" -> Stats.median(passMs(runs, Some("vcf"))),
      "bam_bytes_per_record" -> bpr._1,
      "vcf_bytes_per_record" -> bpr._2)
    EndToEnd.map { case (n, u) => (n, v(n), u) }
  }

  /** Per-layer roll-up of the traced window. Counts and times are per pass
    * (the workload's unit of work); ratios are over the whole window. Also
    * returns the replays that disagreed with what the scans returned.
    */
  def perLayer(ctx: Ctx, stats: SparkStats, plain: Seq[Main.OpRun], traced: Seq[Main.OpRun],
               jvmGcMs: Long, epochToNano: Long => Long): (M, Seq[String]) = {
    val tr = ctx.tr
    val v = mutable.Map[String, Double]().withDefaultValue(0.0)
    val passes = traced.map(_.pass).distinct.size.max(1).toDouble
    val ops = traced.map(_.id).toSet
    val spans = tr.all.filter(s => ops.contains(s.op))

    // driver-side planning, from the spans around load/optimize/plan
    spans.foreach { s =>
      s.name match {
        case "load" | "optimize" | "physical" | "partitions" => v("sources.plan_ms") += s.ms
        case _ =>
      }
      if (s.name == "optimize") v("plans.optimize_ms") += s.ms
    }
    val scanFacts = traced.flatMap(r => ctx.scans.getOrElse(r.id, Nil))
    scanFacts.foreach { f =>
      v("sources.partitions") += f.parts.length
      v("sources.planned_bytes") += f.parts.map(Plans.plannedBytes).sum
      v("plans.scan_columns") += f.readSchema.length
    }

    // Spark's accounting, per operation through the job groups
    traced.foreach { r =>
      val a = stats.acc(r.id)
      v("spark.jobs") += a.jobs
      v("spark.tasks") += a.tasks
      v("spark.task_ms") += a.taskMs
      v("spark.cpu_ms") += a.cpuNs / 1e6
      v("spark.gc_ms") += a.gcMs
      v("spark.task_wait_ms") += a.waitMs
      v("spark.shuffle_write_bytes") += a.shuffleWrite
      v("spark.spill_bytes") += a.spill
      v("spark.failed_tasks") += a.failedTasks
      // the jobs a save() ran, and the driver-side commit after the last
      tr.all.find(s => s.op == r.id && s.name == "save").foreach { save =>
        val jobs = a.jobSpans.filter { case (s, _) => epochToNano(s) >= save.startNs - 2000000L }
        jobs.foreach { case (s, e) => tr.addChild(r.id, "save", "job", "spark", epochToNano(s), epochToNano(e)) }
        v("sources.write_job_ms") += jobs.map { case (s, e) => (e - s).toDouble }.sum
        if (jobs.nonEmpty)
          v("sources.commit_ms") += ((save.endNs - epochToNano(jobs.map(_._2).max)) / 1e6).max(0.0)
      }
    }
    val skews = traced.map(r => stats.acc(r.id)).filter(_.tasks > 0).map(_.skew)
    val taskCount = v("spark.tasks")
    val waitPerTask = if (taskCount > 0) v("spark.task_wait_ms") / taskCount else 0.0
    v("jvm.gc_ms") = jvmGcMs.toDouble

    // layer replays over what each op handled
    val replayErrors = replay(ctx, traced, v)

    // self time per layer and its share of the blocking path
    val self = tr.selfMsByLayer(ops)
    val opMs = traced.map(_.ms).sum.max(1e-9)
    Seq("bench", "sources", "plans", "spark").foreach { l =>
      v(s"self.${l}_ms") = self.getOrElse(l, 0.0)
      if (l != "bench") v(s"share.$l") = self.getOrElse(l, 0.0) / opMs
    }
    // executor-side layers: the replayed single-thread work as a share of
    // the tasks' CPU, applied to Spark's self share (an estimate: the
    // executor runs these inside its tasks, out of sight of driver spans)
    val cpu = v("spark.cpu_ms")
    if (cpu > 0) {
      val sparkShare = v("share.spark")
      v("share.bgzf") = math.min(1.0, (v("bgzf.inflate_ms") + v("bgzf.deflate_ms")) / cpu) * sparkShare
      v("share.codec") = math.min(1.0, (v("bam.decode_ms") + v("bam.decode_pruned_ms") + v("bam.encode_ms") +
        v("vcf.decode_ms") + v("vcf.decode_pruned_ms") + v("vcf.encode_ms")) / cpu) * sparkShare
    }
    val plainPass = Stats.median(passMs(plain, None))
    val tracedPass = Stats.median(passMs(traced, None))
    v("trace.overhead_ms") = (tracedPass - plainPass) * passes
    v("trace.spans") = tr.all.count(s => ops.contains(s.op)).toDouble

    v("spark.task_skew") = if (skews.isEmpty) 1.0 else Stats.mean(skews)
    v("spark.task_wait_ms") = waitPerTask
    // everything else is a total over the window: report it per pass
    val notPerPass = (n: String) => n.startsWith("share.") || n.startsWith("queries.") ||
      Set("lookup.useful_byte_ratio", "spark.task_skew", "spark.task_wait_ms").contains(n)
    (PerLayer.map { case (n, u) => (n, if (notPerPass(n)) v(n) else v(n) / passes, u) }, replayErrors)
  }

  private def localPath(uri: String): java.nio.file.Path =
    if (uri.startsWith("file:")) Paths.get(new java.net.URI(uri)) else Paths.get(uri)

  /** Inflate/decode replays of every planned scan, encode/deflate replays
    * of every write, index probes of every lookup; identical work is
    * replayed once and counted per occurrence. A whole-file scan's replay
    * must decode as many records as the scan returned rows; each one that
    * does not is returned as an error.
    */
  private def replay(ctx: Ctx, traced: Seq[Main.OpRun], v: mutable.Map[String, Double]): Seq[String] = {
    val tr = ctx.tr
    tr.op = -1
    val bytes = mutable.Map[String, Array[Byte]]()
    def fileBytes(f: String): Array[Byte] = bytes.getOrElseUpdate(f, Files.readAllBytes(localPath(f)))
    val scanCache = mutable.Map[(String, Seq[(Long, Long, Long, Long)], String), Replay.ScanReplay]()
    val errors = mutable.ArrayBuffer[String]()
    def checkRecords(f: ScanFact, rp: Replay.ScanReplay): Unit = f.wholeFileRows.foreach { rows =>
      if (rp.records != rows)
        errors += s"replay of a ${f.readSchema.length}-column scan decoded ${rp.records} records, the scan returned $rows rows"
    }
    val fullBam = graft.bam.AlignmentRecord.schema.length
    val fullVcf = graft.vcf.Variant.schema.length
    traced.foreach { r =>
      ctx.scans.getOrElse(r.id, Nil).foreach { f =>
        f.parts.headOption match {
          case Some(p0: graft.sources.bam.BamInputPartition) =>
            val full = f.readSchema.length >= fullBam
            val mask = graft.bam.BamFieldMask.fromColumns(f.readSchema.fieldNames.toSet)
            val key = (p0.file, f.parts.collect { case p: graft.sources.bam.BamInputPartition =>
              (p.splitStart, p.splitEnd, p.chunkStartVoff, p.chunkEndVoff) }, mask.toString)
            val rp = scanCache.getOrElseUpdate(key, tr.span("replay.bam_scan", "bam") {
              Replay.scanBam(fileBytes(p0.file), f.parts, mask)
            })
            addScan(v, rp)
            checkRecords(f, rp)
            v("bam.records") += rp.records
            v(if (full) "bam.decode_ms" else "bam.decode_pruned_ms") += rp.decodeMs
          case Some(p0: graft.sources.vcf.VcfInputPartition) if p0.bgzf =>
            val full = f.readSchema.length >= fullVcf
            val mask = graft.vcf.VcfFormatMask.from(f.readSchema, None)
            val key = (p0.file, f.parts.collect { case p: graft.sources.vcf.VcfInputPartition =>
              (p.splitStart, p.splitEnd, 0L, 0L) }, mask.toString)
            val rp = scanCache.getOrElseUpdate(key, tr.span("replay.vcf_scan", "vcf") {
              Replay.scanVcf(fileBytes(p0.file), f.parts, mask)
            })
            addScan(v, rp)
            checkRecords(f, rp)
            v("vcf.records") += rp.records
            v(if (full) "vcf.decode_ms" else "vcf.decode_pruned_ms") += rp.decodeMs
          case _ =>
        }
      }
    }

    // writes: encode the input rows, recompress the output's blocks
    val encodeCache = mutable.Map[(String, String), Double]()
    traced.flatMap(r => ctx.saves.get(r.id)).foreach { s =>
      val encMs = encodeCache.getOrElseUpdate((s.format, s.input), tr.span(s"replay.${s.format}_encode", s.format) {
        val df = ctx.spark.read.parquet(s.input)
        val rows = df.queryExecution.toRdd.map(_.copy()).collect()
        if (s.format == "bam")
          Replay.encodeBam(rows, df.schema, graft.bam.SamHeader(graft.bam.SamHeader.parseRefsOption(Gen.Refs)))
        else Replay.encodeVcf(rows, df.schema)
      })
      v(s"${s.format}.encode_ms") += encMs
      v("bgzf.deflate_ms") += tr.span("replay.deflate", "bgzf")(Replay.deflate(Files.readAllBytes(Paths.get(s.output)), s.level))._2
    }

    // lookups: what the standard index would have the scan read
    var spanBytes = 0L
    var plannedBytes = 0L
    traced.flatMap(r => ctx.lookups.get(r.id).map(r.id -> _)).foreach { case (id, l) =>
      val file = fileBytes(l.file)
      val probe = tr.span("replay.index", "index") {
        if (l.format == "bam") {
          val refId = Gen.Refs.split(',').indexWhere(_.startsWith(l.contig + ":"))
          Replay.baiProbe(l.file + ".bai", file, refId, l.start, l.end)
        } else Replay.tbiProbe(l.file + ".tbi", file, l.contig, l.start, l.end)
      }
      v("index.load_ms") += probe.loadMs
      v("index.query_us") += probe.queryUs
      v("index.span_bytes") += probe.spanBytes
      spanBytes += probe.spanBytes
      plannedBytes += ctx.scans.getOrElse(id, Nil).flatMap(_.parts).map(Plans.plannedBytes).sum
    }
    if (plannedBytes > 0) v("lookup.useful_byte_ratio") = spanBytes.toDouble / plannedBytes
    errors.toSeq
  }

  private def addScan(v: mutable.Map[String, Double], rp: Replay.ScanReplay): Unit = {
    v("bgzf.blocks") += rp.blocks
    v("bgzf.uncompressed_bytes") += rp.bytes
    v("bgzf.inflate_ms") += rp.inflateMs
  }
}
