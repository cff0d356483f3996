package graft.sources

import scala.reflect.ClassTag
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import graft.bam.SamHeader
import graft.bgzf.{Bgzf, SeekableInput}
import graft.cram.{CraiIndex, CramContainers}
import graft.index.{GciIndex, SbiIndex, TbiIndex, TbiPartData}
import graft.sources.bam.{BamScan, BamSink}
import graft.sources.cram.{CramScan, CramSink}
import graft.sources.vcf.VcfScan

/** First-contact index derivation (`.option("deriveIndex", true)`): the
  * unindexed read paths already discover executor-side exactly what a
  * splitting index would record. With the option set, planning runs that
  * discovery ONCE as a distributed job — one task per split-size tile, each
  * running its format reader's own walk and reporting what that format's
  * sink part writer reports — folds the reports with the sink's own index
  * code, writes the sidecar back next to the file (atomic
  * write-then-rename), and re-plans through the indexed route.
  *
  * Failure is never fatal: a read-only filesystem, a concurrent deriver, or
  * any discovery error just returns false and the caller stays on the
  * unindexed path for this query. Derivation only ever writes what a reader
  * would have computed anyway, so a half-written sidecar can't exist (the
  * rename is the commit point) and a concurrent winner's sidecar is
  * byte-equivalent.
  */
object DeriveIndex {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** `.sbi` (and `.gci`) for an unindexed BAM. Each tile walks the records
    * the heuristic reader of that split would read; its first record voff is
    * a valid SBI offset at tile granularity, so planning with ANY later
    * splitSize snaps to these offsets and still tiles the record space
    * exactly. `totalRecords` is the exact count when every tile's walk
    * completed, else -1 (no COUNT(*) answer). The `.gci` coordinate
    * sidecar (one window per tile, its span the max over ALL the window's
    * records — an under-estimate would mis-prune a long read) is written
    * only when every record passed the strict decode.
    */
  def deriveBamSbi(f: PlanInput, header: SamHeader, headerEndVoff: Long): Boolean =
    derive(".sbi", f) {
      val tiles = walk(f, 0L)(BamScan.indexTile(f.path.toString, header, headerEndVoff))
      if (tiles.forall(_._1.records == 0)) refuse(f, "has no records")
      else {
        val clean = tiles.forall(_._2)
        // the records end at the EOF terminator when present, else at the
        // end of the file, whose live length is the .sbi's stale guard
        val size = f.size
        val tail = new Array[Byte](Bgzf.EofBlock.length)
        val dataEnd =
          if (size >= tail.length && f.in.preadFully(size - tail.length, tail, 0, tail.length) == tail.length &&
              tail.sameElements(Bgzf.EofBlock)) size - tail.length
          else size
        val (sbi, gci) = BamSink.sampleIndexes(tiles.map(_._1 -> 0L), dataEnd, size, 0L,
          if (clean) tiles.map(_._1.records).sum else -1L)
        val ok = publish(f, ".sbi")(SbiIndex.write(_, sbi))
        if (clean) publish(f, ".gci")(GciIndex.write(_, gci))
        else log.warn(s"deriveIndex: ${f.path} has records the strict decode rejects; " +
          ".sbi written without a record count, .gci skipped (coordinate pruning needs verified spans)")
        ok
      }
    }

  /** `.crai` for an unindexed CRAM: each tile walks the containers starting
    * in it, as the range reader does. CRAM 2.x headers carry no CRC, so a
    * tile could not find its first container: refused, as the scan plans
    * such a file as one split.
    */
  def deriveCramCrai(f: PlanInput, major: Int): Boolean =
    derive(".crai", f) {
      if (major < 3) refuse(f, "is CRAM 2.x (no container CRC to find tile boundaries)")
      else {
        val tiles = walk(f, CramContainers.FileDefinitionLength.toLong)(CramScan.indexTile(f.path.toString, major))
        if (tiles.forall(_.isEmpty)) refuse(f, "has no containers")
        else publish(f, ".crai")(CraiIndex.write(_, CramSink.crai(tiles.map(_ -> 0L))))
      }
    }

  /** `.tbi` for an unindexed BGZF VCF: each tile walks the lines the reader
    * of that split owns, decoded by the reader's decoder (so with the
    * scan's END rule), and merges in file order with zero shifts. An
    * unsorted file refuses, as the sink's co-write does, and so does ANY
    * line the strict decoder rejects: an index that omitted it would lose
    * rows under pruning that the lenient unindexed scan still returns.
    */
  def deriveVcfTbi(f: PlanInput): Boolean =
    derive(".tbi", f) {
      val tiles = walk(f, 0L)(VcfScan.indexTile)
      if (tiles.exists(_.isEmpty)) refuse(f, "has lines the strict decoder rejects; not writing a lossy .tbi")
      else if (tiles.forall(_.get.firstName == null)) refuse(f, "has no records")
      else TbiPartData.mergeSorted(tiles.flatten, tiles.map(_ => 0L)) match {
        case None => refuse(f, "is not coordinate-sorted; not writing .tbi")
        case Some(tbi) => publish(f, ".tbi")(TbiIndex.write(_, tbi))
      }
    }

  /** `tile` run on every split-size tile of `[start, f.size)`, one Spark task
    * each, with the tiles' reports in file order.
    */
  private def walk[M: ClassTag](f: PlanInput, start: Long)(tile: (SeekableInput, Long, Long) => M): Seq[M] = {
    val file = f.path.toString
    val conf = new SerializableConf(f.conf)
    val ts = f.tiles(start, f.size)
    SparkSession.active.sparkContext.parallelize(ts, ts.size).map { case (s, e) =>
      val in = HadoopIO.open(new Path(file), conf.conf)
      try tile(in, s, e) finally in.close()
    }.collect().toSeq
  }

  private def refuse(f: PlanInput, why: String): Boolean = {
    log.warn(s"deriveIndex: ${f.path} $why")
    false
  }

  /** Atomic publish of `<file><ext>`: write to a task-unique temp name,
    * rename into place. Loses the race gracefully (any existing sidecar
    * wins — it records the same facts).
    */
  private def publish(f: PlanInput, ext: String)(write: java.io.OutputStream => Unit): Boolean = {
    val target = new Path(f.path.toString + ext)
    val fs = f.fs
    val tmp = new Path(target.getParent,
      s".${target.getName}.derive.${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      val out = fs.create(tmp, false)
      try write(out) finally out.close()
      if (fs.exists(target)) { fs.delete(tmp, false); true } // lost a benign race
      else fs.rename(tmp, target)
    } catch {
      case e: Exception =>
        log.warn(s"deriveIndex: could not publish $target: ${e.getMessage}")
        scala.util.Try(fs.delete(tmp, false))
        false
    }
  }

  private def derive(ext: String, f: PlanInput)(body: => Boolean): Boolean =
    once(s"$ext:${f.path}") {
      try body
      catch {
        case NonFatal(e) =>
          log.warn(s"deriveIndex: $ext derivation failed for ${f.path}: ${e.getMessage}")
          false
      }
    }

  /** Per-process negative cache: a file whose derivation REFUSED (unsorted,
    * malformed, read-only fs) would otherwise re-pay the full-file
    * distributed discovery job on every subsequent query before falling
    * back to the unindexed path — cache the refusal so the fallback is
    * immediate for the rest of the JVM. A successful derive needs no
    * cache: the sidecar itself short-circuits planning.
    */
  private val refused = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def once(key: String)(derive: => Boolean): Boolean = {
    if (refused.contains(key)) return false
    val ok = derive
    if (!ok) refused.add(key)
    ok
  }
}
