package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeRow, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types._

/** Row count plus an order-independent content checksum: the 64-bit sum of
  * a structural hash of each row ([[RowHash]]). Two sources that deliver
  * the same values under the same schema give the same `Digest`, whatever
  * their row order, row classes or map entry order.
  */
final case class Digest(rows: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
  def hex: String = f"$rows%d:$sum%016x"
}

object Digest {
  def parse(s: String): Digest = {
    val i = s.indexOf(':')
    Digest(s.substring(0, i).toLong, java.lang.Long.parseUnsignedLong(s.substring(i + 1), 16))
  }

  /** Consume every row of an already-planned physical plan executor-side
    * (no extra operator Catalyst could optimise through, no driver collect
    * of rows) and fold it into a digest and a [[Fold]] of the same rows.
    * Untimed: this is how a plan's output is checked once against the
    * generator, after which the plan's cheap fold stands for it.
    */
  def verify(plan: SparkPlan): (Digest, Fold) = {
    val types = plan.output.map(_.dataType).toArray
    plan.execute().mapPartitions { it =>
      var n = 0L
      var sum = 0L
      var hashes = 0L
      while (it.hasNext) {
        val r = it.next()
        sum += RowHash.row(r, types)
        hashes += Fold.hash(r)
        n += 1
      }
      Iterator.single((Digest(n, sum), Fold(n, hashes)))
    }.collect().foldLeft((Digest(0, 0), Fold(0, 0))) { case ((d, f), (pd, pf)) => (d + pd, f + pf) }
  }

  def of(df: DataFrame): Digest = verify(df.queryExecution.executedPlan)._1
}

/** Row count plus the 64-bit sum of the rows' own `hashCode`s: the cheap
  * consumption fold of the timed operations (the fold of `graft.Bench`,
  * summed rather than XORed so that equal rows do not cancel). A physical
  * plan emits `UnsafeRow`s, whose hash covers their bytes, so two runs of
  * one plan over the same data give the same fold. Folds are not
  * comparable across plans or with the generator; [[Digest.verify]] ties a
  * plan's fold to a checked [[Digest]] once.
  */
final case class Fold(rows: Long, sum: Long) {
  def +(o: Fold): Fold = Fold(rows + o.rows, sum + o.sum)
  def hex: String = f"$rows%d:$sum%016x"
}

object Fold {
  def hash(r: InternalRow): Long = r match {
    case u: UnsafeRow => u.hashCode().toLong
    case other => throw new IllegalStateException(
      s"plan emitted ${other.getClass.getSimpleName}, not UnsafeRow: its hashCode need not cover its content")
  }

  /** Consume every row of an already-planned physical plan executor-side
    * and fold it (see [[Digest.verify]] for why the plan is executed as is).
    */
  def ofPlan(plan: SparkPlan): Fold =
    plan.execute().mapPartitions { it =>
      var n = 0L
      var sum = 0L
      while (it.hasNext) {
        sum += hash(it.next())
        n += 1
      }
      Iterator.single(Fold(n, sum))
    }.collect().foldLeft(Fold(0, 0))(_ + _)
}

/** Structural 64-bit hash of Catalyst values: positional for rows, structs
  * and arrays, order-insensitive for maps (the readers rebuild maps in
  * their own entry order).
  */
object RowHash {
  private def mix(h: Long, x: Long): Long = Gen.mix(h * 31 + x)
  private val Null = 0x5bd1e995L

  def row(r: InternalRow, types: Array[DataType]): Long = row(r, types.indices.toArray, types)

  /** Hash of the projection of `r` onto `ordinals` (equal to hashing the
    * projected row itself).
    */
  def row(r: InternalRow, ordinals: Array[Int], types: Array[DataType]): Long = {
    var h = 17L
    var i = 0
    while (i < ordinals.length) {
      val o = ordinals(i)
      h = mix(h, if (r.isNullAt(o)) Null else value(r.get(o, types(o)), types(o)))
      i += 1
    }
    h
  }

  def value(v: Any, t: DataType): Long = t match {
    case StringType =>
      val s = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
    case IntegerType => Gen.mix(v.asInstanceOf[Int].toLong)
    case LongType => Gen.mix(v.asInstanceOf[Long])
    case DoubleType => Gen.mix(java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]))
    case BooleanType => if (v.asInstanceOf[Boolean]) 1L else 2L
    case BinaryType => val b = v.asInstanceOf[Array[Byte]]; XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    case st: StructType => row(v.asInstanceOf[InternalRow], st.fields.map(_.dataType))
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      var h = 19L
      var i = 0
      while (i < a.numElements()) {
        h = mix(h, if (a.isNullAt(i)) Null else value(a.get(i, et), et))
        i += 1
      }
      h
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      val (ks, vs) = (m.keyArray(), m.valueArray())
      var h = 23L
      var i = 0
      while (i < m.numElements()) {
        h += Gen.mix(value(ks.get(i, kt), kt) * 31 + (if (vs.isNullAt(i)) Null else value(vs.get(i, vt), vt)))
        i += 1
      }
      h
    case _ => Gen.mix(v.hashCode().toLong)
  }
}

object Plans extends AdaptiveSparkPlanHelper {
  /** The graft (DSv2) scans of a physical plan, adaptive plans included. */
  def scans(plan: SparkPlan): Seq[BatchScanExec] = collect(plan) { case b: BatchScanExec => b }

  /** Compressed bytes a partition plans to read: the record-aligned
    * virtual-offset range for BAM splits that have one, else the byte split.
    */
  def plannedBytes(p: InputPartition): Long = p match {
    case b: graft.sources.bam.BamInputPartition if b.chunkStartVoff >= 0 =>
      graft.bgzf.Bgzf.blockStart(b.chunkEndVoff) - graft.bgzf.Bgzf.blockStart(b.chunkStartVoff)
    case b: graft.sources.bam.BamInputPartition => b.splitEnd - b.splitStart
    case v: graft.sources.vcf.VcfInputPartition => v.splitEnd - v.splitStart
    case _ => 0L
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
