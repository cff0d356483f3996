package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Format-layer benchmark runner: one workload per process.
  *
  * {{{
  * perfbench.Main --workload scan|write|region_lookup --seed N
  *   --seconds S --trace 0|1 --work DIR --expected FILE
  *   [--setups K] [--plant-wrong] [--digest-out FILE]
  * }}}
  *
  * Sets the workload up K times (median set-up time; the fixture digests of
  * the K set-ups must agree), warms up for at least 2 passes and 3 s, then
  * runs passes for S seconds. With `--trace 1` every second pass is traced
  * (spans, Spark listener), followed by the layer replays and probes. The
  * last stdout line is the result object.
  */
object Main {
  final case class Args(workload: String = "", seed: Long = 1, seconds: Int = 10, trace: Boolean = false,
                        work: Path = null, expected: Path = null, setups: Int = 3,
                        plantWrong: Boolean = false, digestOut: Option[Path] = None)

  def parse(args: List[String], a: Args = Args()): Args = args match {
    case Nil => a
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toInt))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--work" :: v :: rest => parse(rest, a.copy(work = Paths.get(v)))
    case "--expected" :: v :: rest => parse(rest, a.copy(expected = Paths.get(v)))
    case "--setups" :: v :: rest => parse(rest, a.copy(setups = v.toInt))
    case "--plant-wrong" :: rest => parse(rest, a.copy(plantWrong = true))
    case "--digest-out" :: v :: rest => parse(rest, a.copy(digestOut = Some(Paths.get(v))))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
  }

  val WarmupNs: Long = 3000000000L
  val WarmupPasses = 2

  final case class OpRun(id: Int, pass: Int, kind: String, name: String, ms: Double,
                         traced: Boolean, error: Option[String])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(a.work != null && a.expected != null, "--work and --expected are required")
    val cores = Runtime.getRuntime.availableProcessors()
    // Task threads are half the cores. A job ends with its slowest task, so
    // every busy task thread is exposed to its core being taken by the host;
    // at one thread per core the scan timings spread twice as much from run
    // to run. Splits and shuffle partitions stay one per core (the plans of
    // local[cores]), two tasks per thread.
    val threads = math.max(1, cores / 2)
    Files.createDirectories(a.work)
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try run(spark, a)
      catch {
        case e: SetupError =>
          System.err.println(s"[perfbench] set-up failed: ${e.getMessage}")
          println(result(correct = false, attempted = 1, failed = 1, Metrics.zeros(a.trace)))
          1
      } finally spark.stop()
    System.exit(code)
  }

  def result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String =
    Json.obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))

  def run(spark: SparkSession, a: Args): Int = {
    val sc = spark.sparkContext
    val startS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val tracer = new Tracer(false)
    val ctx = new Ctx(spark, tracer)
    val wl = Workloads(a.workload, a.seed, a.expected, a.plantWrong)

    // ---- set-up, K times; the inputs of the last one are measured -------
    val setupS = mutable.ArrayBuffer[Double]()
    val digests = mutable.ArrayBuffer[String]()
    for (rep <- 0 until a.setups) {
      val t0 = System.nanoTime()
      digests += wl.setup(ctx, a.work.resolve(s"setup-$rep"))
      setupS += (System.nanoTime() - t0) / 1e9
      if (rep > 0) deleteTree(a.work.resolve(s"setup-${rep - 1}"))
    }
    if (digests.distinct.size != 1)
      throw new SetupError(s"set-ups with seed ${a.seed} produced different fixtures")
    val prep0 = System.nanoTime()
    val expected = wl.prepare(ctx)
    val prepareS = (System.nanoTime() - prep0) / 1e9
    a.digestOut.foreach(p => Files.write(p, s"${digests.head}/$expected\n".getBytes("UTF-8")))

    // ---- passes ----------------------------------------------------------
    val stats = new SparkStats
    val runs = mutable.ArrayBuffer[OpRun]()
    var opId = 0
    // pass k runs the workload's op set number `set` (in the traced run an
    // untraced and a traced pass share each set, so they do the same work)
    def runPass(k: Int, set: Int): Unit = wl.pass(set).foreach { op =>
      opId += 1
      tracer.op = opId
      stats.currentOp = opId
      sc.setJobGroup(s"op-$opId", op.name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val check = tracer.span(op.name, "bench")(op.run())
      val ms = (System.nanoTime() - t0) / 1e6
      // every event of the op's jobs is delivered before the op changes;
      // the check's own jobs (read-backs) run in a group of no operation
      if (tracer.enabled) org.apache.spark.PerfbenchBus.drain(sc)
      stats.currentOp = -1
      sc.setJobGroup("check", "output check", interruptOnCancel = false)
      val err = check()
      sc.clearJobGroup()
      err.foreach(e => System.err.println(s"[perfbench] FAILED ${op.name}: $e"))
      runs += OpRun(opId, k, op.kind, op.name, ms, tracer.enabled, err)
    }
    // warm-up: JIT compilation of the scan, planning and sink paths and
    // first-job costs stay out of the window (op times settle after seconds
    // of work; a write pass takes longer than that, and its first one is
    // the slowest)
    val warm0 = System.nanoTime()
    var warmSet = 0
    while (warmSet < WarmupPasses || System.nanoTime() - warm0 < WarmupNs) { runPass(0, warmSet); warmSet += 1 }
    val warmS = (System.nanoTime() - warm0) / 1e9
    // measured window: whole passes until the time is up. The traced run
    // alternates untraced and traced passes, so their difference is the
    // tracing overhead and not drift across the window.
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs(): Long = gcBeans.map(_.getCollectionTime.max(0L)).sum
    var gcTraced = 0L
    val epochToNano: Long => Long = {
      val (n0, m0) = (System.nanoTime(), System.currentTimeMillis())
      ms => n0 + (ms - m0) * 1000000L
    }
    val w0 = System.nanoTime()
    var k = 1
    while (k <= 2 || System.nanoTime() - w0 < a.seconds * 1000000000L) {
      val set = if (a.trace) (k + 1) / 2 else k
      if (a.trace && k % 2 == 0) {
        sc.addSparkListener(stats)
        tracer.enabled = true
        val g0 = gcMs()
        runPass(k, set)
        gcTraced += gcMs() - g0
        tracer.enabled = false
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.removeSparkListener(stats)
      } else runPass(k, set)
      k += 1
    }

    val measured = runs.filter(_.pass > 0)
    var probeFailed = 0
    var probeAttempted = 0
    val metrics =
      if (!a.trace) Metrics.endToEnd(measured.toSeq, setupS.toSeq, wl.bytesPerRecord(ctx))
      else {
        val (traced, plain) = measured.toSeq.partition(_.traced)
        tracer.enabled = true
        tracer.op = -1
        val (probe, probeErrors) = wl.layerProbe(ctx, a.work.resolve("probe"))
        probeErrors.foreach(e => System.err.println(s"[perfbench] FAILED probe: $e"))
        probeFailed = probeErrors.size
        probeAttempted = probe.size
        val (layers, replayErrors) = Metrics.perLayer(ctx, stats, plain, traced, gcTraced, epochToNano)
        replayErrors.foreach(e => System.err.println(s"[perfbench] FAILED replay: $e"))
        probeFailed += replayErrors.size
        probeAttempted += traced.map(r => ctx.scans.getOrElse(r.id, Nil).count(_.wholeFileRows.nonEmpty)).sum
        val m = layers.map { case (n, v, u) => (n, probe.getOrElse(n, v), u) }
        tracer.enabled = false
        val spanFile = a.work.getParent.resolve("trace").resolve(s"${a.workload}-seed${a.seed}.spans.json")
        tracer.writeTo(spanFile)
        System.err.println(s"[perfbench] spans: $spanFile")
        m
      }
    val failed = runs.count(_.error.nonEmpty) + probeFailed
    System.err.println(s"[perfbench] ${a.workload}: ${measured.map(_.pass).distinct.size} passes, " +
      f"${runs.size} ops; JVM and Spark start $startS%.1f s, setups " + setupS.map(x => f"$x%.2f").mkString(" ") +
      f" s, expected results $prepareS%.1f s, warm-up $warmSet passes $warmS%.1f s; op ms: " +
      measured.map(r => f"${r.kind}:${r.ms}%.0f").mkString(" "))
    println(result(correct = failed == 0, attempted = runs.size + probeAttempted, failed = failed, metrics))
    if (failed == 0) 0 else 1
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
  }
}
