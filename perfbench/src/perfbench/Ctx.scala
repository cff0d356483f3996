package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.types.StructType

/** A graft scan an operation planned: the pruned schema, its splits and,
  * for a scan of every record of a file (no interval, no filter), the rows
  * it returned.
  */
final case class ScanFact(readSchema: StructType, parts: Seq[InputPartition], wholeFileRows: Option[Long])

/** A sink write an operation made: format, input parquet, output file. */
final case class SaveFact(format: String, input: String, output: String, level: Int)

/** An interval lookup an operation made. */
final case class LookupFact(format: String, file: String, contig: String, start: Int, end: Int)

/** What the workloads call into: the session, the tracer, and the facts
  * the traced run keeps per operation for the layer replays.
  */
final class Ctx(val spark: SparkSession, val tr: Tracer) {
  val scans = mutable.Map[Int, mutable.ArrayBuffer[ScanFact]]()
  val saves = mutable.Map[Int, SaveFact]()
  val lookups = mutable.Map[Int, LookupFact]()

  /** Plan and consume a query already built as a DataFrame. `wholeFile`:
    * the query reads every record of one file and returns each as a row.
    */
  def consume(df: DataFrame, wholeFile: Boolean = false): Fold = {
    val qe = df.queryExecution
    tr.span("optimize", "plans")(qe.optimizedPlan)
    val plan = tr.span("physical", "spark")(qe.executedPlan)
    val planned = tr.span("partitions", "sources") {
      Plans.scans(plan).map(b => (b.scan.readSchema(), b.inputPartitions))
    }
    val fold = tr.span("execute", "spark")(Fold.ofPlan(plan))
    if (tr.enabled) scans.getOrElseUpdate(tr.op, mutable.ArrayBuffer()) ++= planned.map { case (schema, parts) =>
      ScanFact(schema, parts, if (wholeFile && planned.size == 1) Some(fold.rows) else None)
    }
    fold
  }

  /** `load()` through to the last row consumed. */
  def scan(load: => DataFrame, wholeFile: Boolean = false): Fold =
    consume(tr.span("load", "sources")(load), wholeFile)

  /** `load()` of the input through to `save()` returning. */
  def save(input: String, format: String, options: Map[String, String], output: String)
          (prepare: DataFrame => DataFrame): Unit = {
    val df = tr.span("load", "sources")(prepare(spark.read.parquet(input)))
    tr.span("save", "sources") {
      df.write.format(format).mode("overwrite").options(options).save(output)
    }
    if (tr.enabled) saves(tr.op) = SaveFact(format, input, output,
      options.get("compressionLevel").map(_.toInt).getOrElse(java.util.zip.Deflater.DEFAULT_COMPRESSION))
  }
}
