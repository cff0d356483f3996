package graft.sources

import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}

/** Three-level validation stringency (reference HtsjdkReadsRddStorage.java:97-100,
  * htsjdk ValidationStringency semantics):
  *
  *  - STRICT (default): fail on the first malformed record, with file/offset
  *    context.
  *  - LENIENT: warn + count per record; when the failure is confined to
  *    optional fields (BAM tag region, SAM optional columns, VCF
  *    FORMAT/genotype columns) the record is salvaged without them rather
  *    than dropped; unrecoverable records are skipped.
  *  - PERMISSIVE (alias SILENT): skip malformed records silently (count
  *    reported at reader close).
  *
  * Framing corruption (desynced BGZF/record stream) stays fatal in every
  * tier — skipping would emit garbage, not drop one record.
  */
sealed trait Stringency extends Serializable
object Stringency {
  case object Strict extends Stringency
  case object Lenient extends Stringency
  case object Permissive extends Stringency

  /** Parse the `mode` read option; unknown values fail fast at planning. */
  def fromOptions(options: Map[String, String]): Stringency =
    options.get("mode").map(_.toLowerCase(java.util.Locale.ROOT)) match {
      case None | Some("strict") => Strict
      case Some("lenient") => Lenient
      case Some("permissive") | Some("silent") => Permissive
      case Some(other) =>
        throw new IllegalArgumentException(
          s"unknown mode '$other' (want strict | lenient | permissive)")
    }
}

/** Per-reader malformed-record bookkeeping for LENIENT/PERMISSIVE readers:
  * warns per record up to a cap (then counts quietly) and emits one summary
  * at close.
  */
final class StringencyLog(where: String) {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val WarnCap = 10
  var skipped = 0L
  var salvaged = 0L

  def skip(detail: => String): Unit = {
    skipped += 1
    if (skipped + salvaged <= WarnCap) log.warn(s"lenient: skipped $detail")
  }
  def salvage(detail: => String): Unit = {
    salvaged += 1
    if (skipped + salvaged <= WarnCap) log.warn(s"lenient: salvaged $detail")
  }
  def skipSilently(): Unit = skipped += 1

  /** The counts as the reader's task metrics (`currentMetricsValues`). */
  def metrics: Array[CustomTaskMetric] =
    Array(StringencyLog.metric(StringencyLog.Skipped, skipped),
      StringencyLog.metric(StringencyLog.Salvaged, salvaged))

  def summarize(): Unit =
    if (skipped > 0 || salvaged > 0)
      log.warn(s"$where: $skipped malformed records skipped, $salvaged salvaged without optional fields")
}

/** Records a lenient or permissive scan dropped (`recordsSkipped`) or kept
  * without their optional fields (`recordsSalvaged`), summed over tasks
  * into the scan's plan metrics.
  */
object StringencyLog {
  val Skipped = "recordsSkipped"
  val Salvaged = "recordsSalvaged"

  def supported: Array[CustomMetric] = Array(new RecordsSkippedMetric, new RecordsSalvagedMetric)

  private[sources] def metric(n: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = n
    override def value(): Long = v
  }
}

// Spark re-instantiates metric classes by name: top-level, no-arg constructors
class RecordsSkippedMetric extends CustomSumMetric {
  override def name(): String = StringencyLog.Skipped
  override def description(): String = "malformed records skipped"
}

class RecordsSalvagedMetric extends CustomSumMetric {
  override def name(): String = StringencyLog.Salvaged
  override def description(): String = "records salvaged without optional fields"
}
