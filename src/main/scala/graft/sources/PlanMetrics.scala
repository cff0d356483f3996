package graft.sources

import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}

/** Driver-side scan metrics computed while planning (no per-record cost),
  * reported by every [[GraftScan]] through the DSv2 custom-metric API:
  * `explain`, the SQL UI and `executedPlan.metrics` show what a scan
  * planned to read.
  *   - `plannedPartitions`: input partitions planned
  *   - `plannedBytes`: file bytes those partitions cover (each partition's
  *     planned byte range, the one its locality hints come from)
  *   - `indexSpanBytes`: bytes of the index spans that narrowed the plan,
  *     summed per span before spans are merged — `.bai`/`.gci` for BAM,
  *     `.tbi`/`.idx` for VCF, the selected `.crai` containers for CRAM; 0
  *     when no index narrowed it
  * A BGZF virtual-offset range counts from its first block through the
  * first byte of the block holding its end offset, so for index-planned
  * BAM and VCF partitions both byte counts are lower bounds, short by less
  * than one BGZF block per range.
  */
object PlanMetrics {
  val Partitions = "plannedPartitions"
  val Bytes = "plannedBytes"
  val IndexSpanBytes = "indexSpanBytes"

  def supported: Array[CustomMetric] =
    Array(new PlannedPartitionsMetric, new PlannedBytesMetric, new IndexSpanBytesMetric)

  def report(partitions: Long, bytes: Long, indexSpanBytes: Long): Array[CustomTaskMetric] =
    Array(metric(Partitions, partitions), metric(Bytes, bytes), metric(IndexSpanBytes, indexSpanBytes))

  private def metric(n: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = n
    override def value(): Long = v
  }
}

// Spark re-instantiates metric classes by name: top-level, no-arg constructors
class PlannedPartitionsMetric extends CustomSumMetric {
  override def name(): String = PlanMetrics.Partitions
  override def description(): String = "planned partitions"
}

class PlannedBytesMetric extends CustomSumMetric {
  override def name(): String = PlanMetrics.Bytes
  override def description(): String = "planned compressed bytes"
}

class IndexSpanBytesMetric extends CustomSumMetric {
  override def name(): String = PlanMetrics.IndexSpanBytes
  override def description(): String = "index span compressed bytes"
}
