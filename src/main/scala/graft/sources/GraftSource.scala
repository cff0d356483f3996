package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.bgzf.SeekableInput

/** What one record format (BAM, SAM, VCF, FASTQ, CRAM) contributes to the
  * shared DSv2 skeleton: its schema, which pushed filters it can use, its
  * scan (partition planner + readers) and its sink plug-in. Everything
  * else — option normalization, the table, limit/filter/column/COUNT(*)
  * pushdown and the staged commit — exists once, in [[GraftTable]],
  * [[GraftScanBuilder]] and [[StagedBatchWrite]] (the layering of the
  * reference's AbstractSamSource/AbstractBinarySamSource and its one
  * header + parts + terminator Merger).
  *
  * Every `options` map handed to a format has lowercased keys.
  */
trait RecordFormat {
  def name: String
  def schema(options: Map[String, String]): StructType
  /** Pushed filters the scan can use for pruning; all stay residual. */
  def acceptsFilter(options: Map[String, String]): Filter => Boolean = _ => false
  /** The sink resolves its input columns by name (no schema check by Spark). */
  def acceptAnySchema: Boolean = false
  /** COUNT(*) of the unrestricted traversal answered without a data scan:
    * the plan label and one input file's exact count (None: that file
    * cannot say, and the normal count plan runs). The shell sums it over
    * the scan's listing; None here never tries.
    */
  def fileCount(options: Map[String, String]): Option[(String, PlanInput => Option[Long])] = None
  def scan(options: Map[String, String], required: StructType, pushed: Array[Filter],
           limit: Int): Scan
  def sink(path: String, level: Int, options: Map[String, String], schema: StructType): SinkFormat[_]
}

object RecordFormat {
  /** Connector option keys arrive in user casing from some paths and
    * lowercased from others (CaseInsensitiveStringMap); lowercase once.
    */
  def normalize(m: util.Map[String, String]): Map[String, String] =
    m.asScala.iterator.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }.toMap
}

/** The registered `format(...)` entry point of a [[RecordFormat]]. */
abstract class GraftProvider(format: RecordFormat) extends TableProvider with DataSourceRegister {
  override def shortName(): String = format.name
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    format.schema(RecordFormat.normalize(options))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GraftTable(format, RecordFormat.normalize(properties))
}

class GraftTable(val format: RecordFormat, properties: Map[String, String])
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"${format.name}:${properties.getOrElse("path", "?")}"
  override def schema(): StructType = format.schema(properties)
  override def capabilities(): util.Set[TableCapability] = {
    val base = Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
    (if (format.acceptAnySchema) base + TableCapability.ACCEPT_ANY_SCHEMA else base).asJava
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(format, RecordFormat.normalize(options))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new StagedWriteBuilder(format, RecordFormat.normalize(info.options), info.schema())
}

/** Pushdown shared by every format:
  *   - `.limit(n)`: partial — the format plans one whole-file partition per
  *     file and each reader stops after n rows; Spark keeps its own limit.
  *   - filters: the format's acceptable ones are recorded for index pruning
  *     and reader-side filtering; every filter stays residual.
  *   - columns: the pruned schema drives the format's decode mask.
  *   - COUNT(*): complete-or-nothing, only for the unrestricted strict
  *     traversal (intervals / unplacedUnmapped / lenient salvage all change
  *     what a scan would count) and only when the format can answer it
  *     exactly from indexes or headers. Residual Catalyst filters already
  *     block the attempt (Spark pushes aggregates only with no Filter
  *     between).
  */
class GraftScanBuilder(format: RecordFormat, options: Map[String, String])
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownAggregates {
  private var required: StructType = format.schema(options)
  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = -1
  private var pushedCount: Option[(String, Long)] = None
  // a planning probe: a missing or unreadable input or sidecar means "no
  // pushdown", never a failed query
  private lazy val count: Option[(String, Long)] = format.fileCount(options).flatMap { case (label, perFile) =>
    try {
      val conf = SparkSession.active.sessionState.newHadoopConf()
      val files = HadoopIO.listInputFilesWithLen(options("path"), conf)
      val counts = PlanInput.each(files, conf, splitSize = 0L)(perFile)
      if (counts.nonEmpty && counts.forall(_.isDefined)) Some(label -> counts.iterator.flatten.sum) else None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  override def pushLimit(l: Int): Boolean = { limit = l; true }
  override def isPartiallyPushed(): Boolean = true

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(format.acceptsFilter(options))
    filters // all residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  private def countable(agg: Aggregation): Boolean =
    agg.groupByExpressions.isEmpty && agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions.head.isInstanceOf[CountStar] &&
      pushed.isEmpty && limit < 0 &&
      !options.contains("intervals") && !options.contains("unplacedunmapped") &&
      (Stringency.fromOptions(options) eq Stringency.Strict) && count.isDefined
  override def supportCompletePushDown(agg: Aggregation): Boolean = countable(agg)
  override def pushAggregation(agg: Aggregation): Boolean = {
    // a partial COUNT pushdown would only re-shape Spark's plan without
    // saving the scan
    val ok = countable(agg)
    if (ok) pushedCount = count
    ok
  }

  override def build(): Scan = pushedCount match {
    case Some((label, total)) =>
      new CountScan(s"graft-${format.name} ${options.getOrElse("path", "?")} " +
        s"PushedAggregates=[COUNT(*)] $label=$total", total)
    case None => format.scan(options, required, pushed, limit)
  }
}

/** The scan every format shares: Hadoop conf, input listing, split sizing,
  * the per-file planning fan-out, locality hints, plan metrics, the
  * directory header check, the stringency and the pushed-limit cap. A
  * format supplies its per-file planner, its reader factory and its
  * description tokens (the reference plans splits once for every format,
  * PathSplitSource.java:35-73).
  */
abstract class GraftScan(format: String, options: Map[String, String], required: StructType,
                         limit: Int) extends Scan with Batch {
  /** Plans one input file; `f.in` is closed by the shell. */
  protected def planFile(f: PlanInput): FilePlan
  /** The format's readers, each a [[GraftReader]] built with `ctx`. */
  protected def readerFactory(ctx: ReadContext): PartitionReaderFactory
  /** Description tokens after `graft-<format> <path>`. */
  protected def describe: String = ""
  /** What [[FilePlan.headerKey]] is, for the directory check's error. */
  protected def headerKind: String = "headers"

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-$format ${options.getOrElse("path", "")}$describe" + (if (limit >= 0) s" limit=$limit" else "")

  // an unknown mode fails when the scan is built, before any task
  private val mode = Stringency.fromOptions(options)

  // planning-time metrics of the last planInputPartitions call
  @volatile private var driverMetrics: Array[CustomTaskMetric] = Array.empty
  override def supportedCustomMetrics(): Array[CustomMetric] =
    PlanMetrics.supported ++ StringencyLog.supported
  override def reportDriverMetrics(): Array[CustomTaskMetric] = driverMetrics

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val pathStr = options.getOrElse("path",
      throw new IllegalArgumentException(s"$format source requires a path"))
    val filesWithLen = HadoopIO.listInputFilesWithLen(pathStr, conf)
    val splitSize = options.get("splitsize").map(_.toLong).getOrElse(
      SplitSizing.derive(filesWithLen.iterator.map(_._2).sum,
        SparkSession.active.sparkContext.defaultParallelism))
    val plans = PlanInput.each(filesWithLen, conf, splitSize) { f =>
      val plan = planFile(f)
      // locality hints: block hosts of each split's byte ranges (one
      // block-list fetch per file, shared by every split)
      val hostsOf = HadoopIO.blockHostsFor(f.fs, f.path, f.size)
      (f.path.toString, plan, plan.splits.map(s => s.partition(hostsOf(s.ranges))))
    }
    // header-compat across directory inputs (the reference silently uses
    // the first header): a file whose key differs would be decoded against
    // the wrong dictionary — fail at planning with the offending file named
    val keyed = plans.collect { case (file, p, parts) if parts.nonEmpty && p.headerKey.isDefined =>
      (file, p.headerKey.get) }
    keyed.headOption.foreach { case (first, key) =>
      keyed.find(_._2 != key).foreach { case (f, _) =>
        throw new IllegalArgumentException(
          s"incompatible $headerKind in directory input: $f does not match $first")
      }
    }
    val splits = plans.flatMap(_._2.splits)
    driverMetrics = PlanMetrics.report(splits.length, splits.iterator.map(_.bytes).sum,
      plans.iterator.map(_._2.indexSpanBytes).sum)
    plans.flatMap(_._3).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    readerFactory(ReadContext(new SerializableConf(SparkSession.active.sessionState.newHadoopConf()), mode, limit))
}

/** What the shell hands every reader of one scan: the Hadoop conf, the
  * stringency and the pushed-limit cap (-1: none).
  */
final case class ReadContext(conf: SerializableConf, mode: Stringency, limit: Int)

/** The partition reader every format shares (the reference's one
  * AbstractSamSource.createSamReader): it opens the partition's file once,
  * holds the current row, stops after the pushed limit (partial pushdown:
  * Spark keeps its own limit on top), decides each malformed record's fate
  * through one [[StringencyLog]] and reports its counts as task metrics. A
  * format implements [[advance]] only.
  */
abstract class GraftReader(file: String, ctx: ReadContext, where: String)
    extends PartitionReader[InternalRow] {
  protected final val input: SeekableInput = HadoopIO.open(new Path(file), ctx.conf.conf)
  protected final val slog = new StringencyLog(where, ctx.mode)
  private val limit = ctx.limit
  private var row: InternalRow = _
  private var emitted = 0L
  private var done = false

  /** The next row of the partition, or null at its end (then never called again). */
  protected def advance(): InternalRow
  /** Closes the format's own extra streams, after the stringency summary and
    * before the input.
    */
  protected def closeExtra(): Unit = ()

  final override def next(): Boolean = {
    if (done || (limit >= 0 && emitted >= limit)) return false
    row = advance()
    if (row == null) done = true else emitted += 1
    !done
  }
  final override def get(): InternalRow = row
  final override def currentMetricsValues(): Array[CustomTaskMetric] = slog.metrics
  final override def close(): Unit =
    try { slog.summarize(); closeExtra() } finally input.close()
}

/** One input file as a format's planner sees it: its listed length, the
  * scan's Hadoop conf and split size, and the file itself, opened on first
  * use (an index-only probe never opens it).
  */
final class PlanInput(val path: Path, val size: Long, val conf: Configuration, val splitSize: Long) {
  private var opened: SeekableInput = _
  def in: SeekableInput = {
    if (opened == null) opened = HadoopIO.open(path, conf)
    opened
  }
  lazy val fs: FileSystem = path.getFileSystem(conf)

  /** `<file><ext>` if it exists and is not older than the file. Tabix,
    * tribble, `.bai` and `.crai` indexes record no file length, so mtime
    * is their freshness proof: an index older than its data file (in-place
    * rewrite without re-indexing) must not steer seeks.
    */
  def freshSidecar(ext: String): Option[Path] = {
    val p = new Path(path.toString + ext)
    if (fs.exists(p) && fs.getFileStatus(p).getModificationTime >=
          fs.getFileStatus(path).getModificationTime) Some(p)
    else None
  }

  /** `<file><ext>` parsed, or None when it is absent (or stale, with
    * `fresh`) or unreadable: a corrupt sidecar only costs pruning.
    */
  def sidecar[T](ext: String, fresh: Boolean = false)(read: SeekableInput => T): Option[T] =
    (if (fresh) freshSidecar(ext) else Some(new Path(path.toString + ext)).filter(fs.exists)).flatMap { p =>
      val sin = HadoopIO.open(p, conf)
      try scala.util.Try(read(sin)).toOption finally sin.close()
    }

  /** `[start, end)` cut into consecutive `splitSize` splits, the last one
    * shorter; an empty range is one empty split.
    */
  def tiles(start: Long, end: Long): Seq[(Long, Long)] = {
    val n = math.max(1L, (end - start + splitSize - 1) / splitSize)
    (0L until n).map(i => (start + i * splitSize, math.min(end, start + (i + 1) * splitSize)))
  }
}

object PlanInput {
  /** `use` applied to every listed `(file, length)`, fanned out on
    * [[HadoopIO.planFiles]]' bounded pool in listing order; each file is
    * opened at most once and closed after.
    */
  def each[T](files: Seq[(Path, Long)], conf: Configuration, splitSize: Long)(use: PlanInput => T): Seq[T] = {
    val lengths = files.toMap
    HadoopIO.planFiles(files.map(_._1)) { file =>
      val f = new PlanInput(file, lengths(file), conf, splitSize)
      try Seq(use(f)) finally if (f.opened != null) f.opened.close()
    }
  }
}

/** One planned split: the byte ranges its reader covers (for locality
  * hints and plan metrics) and its partition, built from the ranges' hosts.
  */
final case class PlannedSplit(ranges: Seq[(Long, Long)], partition: Array[String] => InputPartition) {
  def bytes: Long = ranges.iterator.map { case (s, e) => e - s }.sum
}

object PlannedSplit {
  /** A split reading one contiguous range `[start, end)`. */
  def apply(start: Long, end: Long, partition: Array[String] => InputPartition): PlannedSplit =
    PlannedSplit(Seq((start, end)), partition)
}

/** One file's plan: its splits, the bytes of the index spans that
  * narrowed it (0 when no index did), and the header key every file of a
  * directory input must share (None: not checked).
  */
final case class FilePlan(splits: Seq[PlannedSplit], indexSpanBytes: Long = 0L,
                          headerKey: Option[Any] = None)

/** COUNT(*) answered at planning time: one partition, one row, zero data
  * scan — `df.count()` on an indexed lake costs O(files) small reads.
  */
class CountScan(desc: String, total: Long) extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(Seq(StructField("count", LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String = desc
  override def planInputPartitions(): Array[InputPartition] = Array(CountPartition(total))
  override def createReaderFactory(): PartitionReaderFactory = (p: InputPartition) =>
    new PartitionReader[InternalRow] {
      private var done = false
      override def next(): Boolean = if (done) false else { done = true; true }
      override def get(): InternalRow =
        new GenericInternalRow(Array[Any](p.asInstanceOf[CountPartition].total))
      override def close(): Unit = ()
    }
}

case class CountPartition(total: Long) extends InputPartition
