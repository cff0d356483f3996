package graft.sources

import org.apache.spark.sql.sources._

import graft.bam.AlignmentRecord

/** Conservative filter→interval translation, used when no explicit
  * `intervals` option is given: a conjunction of `contig = c` with bounds on
  * `start` becomes the interval c:[lo,hi]. The overlap test the readers
  * apply (`r.start <= hi && r.end >= lo`) is a superset of the original
  * predicate, and every filter stays residual, so this only *prunes* rows
  * early — Catalyst re-applies the exact predicate above the scan
  * (the reference's coarse-index + residual-filter split,
  * AbstractBinarySamSource.java:86-113). Shared by the BAM, SAM, VCF and
  * CRAM-records scans; on indexed paths the derived interval also drives
  * split pruning (.gci/.bai for BAM, .tbi/.idx for VCF, .crai for CRAM).
  */
object PushedRegion {
  /** A scan's intervals: the `intervals` option, else the pushed filters'. */
  def intervals(options: Map[String, String], pushed: Array[Filter]): Option[Seq[GenomicInterval]] =
    options.get("intervals").map(s => GenomicInterval.optimize(GenomicInterval.parseList(s)))
      .orElse(toIntervals(pushed))

  def toIntervals(pushed: Array[Filter]): Option[Seq[GenomicInterval]] = {
    val contig = pushed.collectFirst { case EqualTo("contig", v: String) => v }
    contig.map { c =>
      var lo = 1
      var hi = Int.MaxValue
      pushed.foreach {
        case GreaterThan("start", v: Number) => lo = math.max(lo, v.intValue() + 1)
        case GreaterThanOrEqual("start", v: Number) => lo = math.max(lo, v.intValue())
        case LessThan("start", v: Number) => hi = math.min(hi, v.intValue() - 1)
        case LessThanOrEqual("start", v: Number) => hi = math.min(hi, v.intValue())
        case _ =>
      }
      Seq(GenomicInterval(c, lo, hi))
    }
  }

  /** The filters worth recording at the scan: interval-translatable bounds. */
  def accepts(f: Filter): Boolean = f match {
    case EqualTo("contig", _) => true
    case GreaterThan("start", _) | GreaterThanOrEqual("start", _) => true
    case LessThan("start", _) | LessThanOrEqual("start", _) => true
    case GreaterThan("end", _) | GreaterThanOrEqual("end", _) => true
    case LessThan("end", _) | LessThanOrEqual("end", _) => true
    case _ => false
  }
}

/** Which reads a BAM, SAM or CRAM-records scan returns. `intervals` None
  * reads everything; otherwise a read is kept if it overlaps an interval,
  * or if it is unplaced-unmapped and `unplacedUnmapped` is set.
  */
final case class ReadsTraversal(intervals: Option[Seq[GenomicInterval]], unplacedUnmapped: Boolean) {
  /** The residual record filter: index pruning may overclaim. */
  def keep(r: AlignmentRecord): Boolean = intervals match {
    case None => true
    case Some(ivs) =>
      val unplaced = (r.flags & AlignmentRecord.FlagUnmapped) != 0 && r.start == 0
      (unplacedUnmapped && unplaced) ||
        (r.contig != null && ivs.exists(_.overlaps(r.contig, r.start, math.max(r.end, r.start))))
  }
}

object ReadsTraversal {
  /** Traversal-parameter parity (reference AbstractBinarySamSource.java:50-54
    * and :95-118): an explicit `unplacedUnmapped` without intervals means
    * "mapped reads only" (false: rejected, as upstream) or "unplaced-unmapped
    * reads only" (true: an empty interval list, so only the unmapped tail
    * matches and index routes prune every mapped split).
    */
  def apply(options: Map[String, String], pushed: Array[Filter]): ReadsTraversal = {
    val unplacedUnmapped = options.get("unplacedunmapped").map(_.toBoolean)
    val intervals = PushedRegion.intervals(options, pushed) match {
      case None if unplacedUnmapped.isDefined =>
        if (!unplacedUnmapped.get)
          throw new IllegalArgumentException("traversing mapped reads only is not supported")
        Some(Nil)
      case ivs => ivs
    }
    ReadsTraversal(intervals, unplacedUnmapped.getOrElse(false))
  }
}
