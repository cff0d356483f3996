package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.metric.CustomTaskMetric
import org.apache.spark.sql.connector.read.PartitionReader

/** Emit-cap wrapper for pushed limits (`SupportsPushDownLimit`, partial
  * pushdown): stops the underlying reader after `limit` emitted rows so a
  * `.limit(n)` over a huge file costs a few blocks, not a full scan. Spark
  * keeps its own global limit on top, so per-partition over-emission across
  * files is fine and under-emission impossible.
  */
class LimitingReader(underlying: PartitionReader[InternalRow], limit: Int)
    extends PartitionReader[InternalRow] {
  private var emitted = 0
  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    val has = underlying.next()
    if (has) emitted += 1
    has
  }
  override def get(): InternalRow = underlying.get()
  override def currentMetricsValues(): Array[CustomTaskMetric] = underlying.currentMetricsValues()
  override def close(): Unit = underlying.close()
}
