package graft.sources

import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}

/** Three-level validation stringency (reference HtsjdkReadsRddStorage.java:97-100,
  * htsjdk ValidationStringency semantics):
  *
  *  - STRICT (default): fail on the first malformed record, with file/offset
  *    context.
  *  - LENIENT: warn + count per record; when the failure is confined to
  *    optional fields (BAM tag region, SAM optional columns) the record is
  *    salvaged without them rather than dropped; unrecoverable records are
  *    skipped.
  *  - PERMISSIVE (alias SILENT): skip malformed records silently (count
  *    reported at reader close).
  *
  * [[StringencyLog]] applies it for every partition reader.
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

/** The one stringency policy every partition reader applies: what happens
  * to a record that cannot be read ([[reject]]) or can be read only without
  * its optional fields ([[salvage]]), with the counts reported as task
  * metrics and one summary at close. Warnings stop after a cap; the counts
  * do not.
  */
final class StringencyLog(where: String, mode: Stringency) {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val WarnCap = 10
  var skipped = 0L
  var salvaged = 0L

  /** Strict scans check what lenient ones would salvage (SAM's optional columns). */
  def strict: Boolean = mode eq Stringency.Strict

  /** The record `what` (its kind, file and offset) failed with `cause`
    * (null: no exception); `preview` is what the input held there. Strict
    * fails the scan, lenient warns and counts the record as skipped,
    * permissive counts it without a warning.
    */
  def reject(what: String, cause: Throwable, preview: => String): Unit = mode match {
    case Stringency.Strict => throw new java.io.IOException(s"$what: $preview", cause)
    case Stringency.Lenient =>
      skipped += 1
      if (skipped + salvaged <= WarnCap)
        log.warn(s"lenient: skipped $what" + (if (cause == null) "" else s": ${cause.getMessage}"))
    case Stringency.Permissive => skipped += 1
  }

  /** Lenient only: `attempt` re-reads a failed record without its optional
    * fields; a result counts as salvaged. Null when the mode does not
    * salvage or the attempt fails too (the caller then [[reject]]s it).
    */
  def salvage[T >: Null](detail: => String, attempt: => T): T =
    if (mode ne Stringency.Lenient) null
    else {
      val r = try attempt catch { case _: Exception => null }
      if (r != null) {
        salvaged += 1
        if (skipped + salvaged <= WarnCap) log.warn(s"lenient: salvaged $detail")
      }
      r
    }

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

  /** At most the first 32 of `len` bytes at `off` in hex: the preview of a
    * binary record.
    */
  def hex(b: Array[Byte], off: Int, len: Int): String =
    (off until off + math.min(len, 32)).map(i => f"${b(i) & 0xff}%02x").mkString(" ") +
      (if (len > 32) " …" else "")

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
