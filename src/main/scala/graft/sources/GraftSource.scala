package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

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
  /** Exact record count of the unrestricted traversal answered without a
    * data scan, as (plan label, count); None runs the normal count plan.
    */
  def exactCount(options: Map[String, String]): Option[(String, Long)] = None
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
  private lazy val count = format.exactCount(options)

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
