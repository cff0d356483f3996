package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed call into a layer. `op` is the operation the span belongs to
  * (-1 for the replay probes, which sit off the blocking path).
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, layer: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder for the single client thread. Disabled, `span`
  * only runs its body, so the untraced run executes the same calls.
  */
final class Tracer(var enabled: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 1
  var op: Int = -1

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, op, name, layer, t0, System.nanoTime())
      }
    }

  /** A child span whose interval was observed elsewhere (listener time
    * stamps), under the span `parent` of operation `op`.
    */
  def addChild(op: Int, parent: String, name: String, layer: String, startNs: Long, endNs: Long): Unit =
    spans.find(s => s.op == op && s.name == parent).foreach { p =>
      spans += Span(nextId, p.id, op, name, layer, startNs.max(p.startNs), endNs.min(p.endNs))
      nextId += 1
    }

  def all: Seq[Span] = spans.toSeq

  /** Self time (duration minus the part covered by child spans) per layer,
    * over the spans of the given operations.
    */
  def selfMsByLayer(ops: Set[Int]): Map[String, Double] = {
    val in = spans.filter(s => ops.contains(s.op))
    val kids = in.groupBy(_.parent)
    in.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map { c =>
        (math.min(c.endNs, s.endNs) - math.max(c.startNs, s.startNs)).max(0L)
      }.sum
      s.layer -> (s.endNs - s.startNs - covered).max(0L) / 1e6
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def writeTo(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
        "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}

/** Spark's own accounting per benchmark operation, from the listener API.
  * Jobs are attributed to an operation through their job group (`op-<id>`);
  * jobs in any other group (the output checks) belong to none (-1). Jobs
  * started without a group (helper threads that do not inherit it) fall to
  * the operation current when their start event is delivered. That is the
  * operation that ran them as long as the client runs one operation at a
  * time and drains the listener bus before it moves on, as `Main` does.
  */
final class SparkStats extends SparkListener {
  final class Acc {
    var jobs = 0
    var tasks = 0
    var failedTasks = 0
    var taskMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var waitMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    val jobSpans = mutable.ArrayBuffer[(Long, Long)]() // (start, end) epoch ms
    val stageDurations = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
    def skew: Double = {
      val r = stageDurations.values.filter(_.length >= 2).map { d =>
        val m = Stats.median(d.map(_.toDouble).toSeq)
        if (m > 0) d.max / m else 1.0
      }
      if (r.isEmpty) 1.0 else r.sum / r.size
    }
  }

  @volatile var currentOp: Int = -1
  private val accs = mutable.Map[Int, Acc]()
  private val stageOp = mutable.Map[Int, Int]()
  private val jobOp = mutable.Map[Int, Int]()
  private val jobStart = mutable.Map[Int, Long]()
  private val stageSubmit = mutable.Map[Int, Long]()

  def acc(op: Int): Acc = synchronized(accs.getOrElseUpdate(op, new Acc))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val op = group match {
      case None => currentOp
      case Some(g) if g.startsWith("op-") => g.stripPrefix("op-").toIntOption.getOrElse(-1)
      case Some(_) => -1
    }
    jobOp(e.jobId) = op
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageOp(_) = op)
    acc(op).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val op = jobOp.getOrElse(e.jobId, currentOp)
    acc(op).jobSpans += ((jobStart.getOrElse(e.jobId, e.time), e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageOp.getOrElse(e.stageId, currentOp))
    a.tasks += 1
    if (!e.taskInfo.successful) a.failedTasks += 1
    a.taskMs += e.taskInfo.duration
    a.waitMs += (e.taskInfo.launchTime - stageSubmit.getOrElse(e.stageId, e.taskInfo.launchTime)).max(0L)
    a.stageDurations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}
