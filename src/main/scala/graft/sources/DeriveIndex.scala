package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import graft.bam.{BamRecordGuesser, BamRef}
import graft.bgzf.Bgzf
import graft.cram.{CraiEntry, CraiIndex, CramContainers}
import graft.index.SbiIndex

/** First-contact index derivation (`.option("deriveIndex", true)`): the
  * unindexed read paths already discover executor-side exactly what a
  * splitting index would record — the BAM heuristic finds each split's
  * first record voff, the CRAM boundary snap finds each range's container
  * chain. With the option set, planning runs that discovery ONCE as a tiny
  * distributed job (one task per byte tile, O(index) bytes collected to the
  * driver), writes the sidecar back next to the file (atomic
  * write-then-rename), and re-plans through the indexed route — so every
  * later query over the same file plans O(index) with zero heuristic work.
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

  private def tiles(start0: Long, size: Long, splitSize: Long): Seq[(Long, Long)] =
    Iterator.iterate(start0)(_ + splitSize).takeWhile(_ < size)
      .map(s => (s, math.min(s + splitSize, size))).toSeq

  /** Atomic publish: write to a task-unique temp name, rename into place.
    * Loses the race gracefully (any existing sidecar wins — it records the
    * same facts).
    */
  private def publish(conf: SerializableConf, target: Path)(write: java.io.OutputStream => Unit): Boolean = {
    val fs = target.getFileSystem(conf.conf)
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

  /** Derive a `.sbi` (and, for coordinate-sorted files, the `.gci`
    * coordinate sidecar) for an unindexed BAM: one task per `splitSize`
    * tile runs the record-boundary guesser a heuristic reader would run
    * anyway; the collected first-record voffs (plus the past-last-record
    * sentinel) ARE a valid SBI offset ladder at tile granularity —
    * planning with ANY later splitSize snaps to these offsets and still
    * tiles the record space exactly. totalRecords/granularity are recorded
    * as 0 (unknown — nothing in planning consumes them).
    *
    * Each tile then decodes its OWNED records (same territory rule as the
    * heuristic reader: records in blocks starting within the tile) with a
    * cigar-only field mask, sampling per window exactly what the sink
    * co-write records: first (refId, pos), max alignment span, and a
    * sortedness check. That is a full one-time decode of the file — the
    * same work the FIRST unindexed interval query would do anyway — and it
    * buys every later interval query `.gci` split pruning, which split
    * snapping alone cannot provide (pre-fix, a derived foreign sorted BAM
    * planned every partition with mayOverlap=true). Span is sampled over
    * ALL records in the window, not just the first: the recorded max span
    * is the pruning slack, and an under-estimate would mis-prune a long
    * read spanning into an interval from a chunk whose start positions lie
    * before it.
    */
  def deriveBamSbi(file: String, header: graft.bam.SamHeader, headerEndVoff: Long,
                   size: Long, splitSize: Long, conf: SerializableConf): Boolean =
    once(s"sbi:$file")(deriveBamSbiImpl(file, header, headerEndVoff, size, splitSize, conf))

  private def deriveBamSbiImpl(file: String, header: graft.bam.SamHeader, headerEndVoff: Long,
                               size: Long, splitSize: Long, conf: SerializableConf): Boolean = {
    val spark = SparkSession.active
    try {
      val ts = tiles(0L, size, splitSize)
      // per tile: (firstVoff, firstRef, firstPos0, maxSpan, tileSorted,
      // lastRef(order-space), lastPos0) — firstVoff = -1 when the tile owns
      // no records (then no other field is meaningful)
      val perTile = spark.sparkContext.parallelize(ts, ts.size)
        .map { case (s, e) =>
          val in = HadoopIO.open(new Path(file), conf.conf)
          try {
            val first = new BamRecordGuesser(in, header.refs, headerEndVoff)
              .firstRecordAtOrAfter(s, e)
            if (first < 0) (first, -1, -1, 0, true, Int.MinValue, Int.MinValue, -1, true)
            else {
              // coordinate sampling is best-effort: a record that only
              // decodes under lenient/permissive stringency must not fail
              // .sbi derivation (the reader path tolerates it) — it only
              // disqualifies the .gci, whose pruning slack may not claim
              // coordinates we could not verify
              var firstRef = -2; var firstPos = -2
              var prevRef = Int.MinValue; var prevPos = Int.MinValue
              var lastRaw = -1
              var maxSpan = 0
              var sorted = true
              var decodeOk = true
              try {
                val stream = new graft.bgzf.BgzfInputStream(in)
                stream.seekVirtual(first)
                val szb = new Array[Byte](4)
                while (!stream.atEof && stream.blockStartOffset < e) {
                  stream.readFully(szb, 0, 4)
                  val blockSize = (szb(0) & 0xff) | ((szb(1) & 0xff) << 8) |
                    ((szb(2) & 0xff) << 16) | ((szb(3) & 0xff) << 24)
                  if (blockSize < 32 || blockSize > (64 << 20))
                    throw new java.io.IOException(s"bad BAM record block_size $blockSize")
                  val rec = new Array[Byte](blockSize)
                  stream.readFully(rec, 0, blockSize)
                  // lean fixed-offset parse — this walk touches every record
                  // of the file once, so no contig string, read name, or
                  // cigar text is ever materialized; refId/pos/ref-span come
                  // straight from the spec layout (refID @0, pos @4,
                  // l_read_name @8, n_cigar_op @12, cigar after the name)
                  val refId = leInt(rec, 0)
                  if (refId < -1 || refId >= header.refs.length)
                    throw new java.io.IOException(s"bad refID $refId")
                  val pos0 = leInt(rec, 4)
                  if (firstRef == -2) { firstRef = refId; firstPos = pos0 }
                  val oRef = graft.index.GciIndex.orderRef(refId)
                  if (oRef < prevRef || (oRef == prevRef && pos0 < prevPos)) sorted = false
                  prevRef = oRef; prevPos = pos0; lastRaw = refId
                  val span = cigarRefSpan(rec, blockSize)
                  if (span > maxSpan) maxSpan = span
                }
              } catch { case _: Exception => decodeOk = false }
              (first, firstRef, firstPos, maxSpan, sorted, prevRef, prevPos, lastRaw, decodeOk)
            }
          } finally in.close()
        }
        .collect().filter(_._1 >= 0).distinctBy(_._1).sortBy(_._1)
      if (perTile.isEmpty) { log.warn(s"deriveIndex: no records found in $file"); return false }
      val voffs = perTile.map(_._1)
      // sentinel: just past the last record — the EOF terminator's block
      // start when present, else end-of-file
      val tail = new Array[Byte](Bgzf.EofBlock.length)
      val in = HadoopIO.open(new Path(file), conf.conf)
      val hasEof = try
        size >= Bgzf.EofBlock.length &&
          in.preadFully(size - Bgzf.EofBlock.length, tail, 0, tail.length) == tail.length &&
          tail.sameElements(Bgzf.EofBlock)
      finally in.close()
      val sentinel = (if (hasEof) size - Bgzf.EofBlock.length else size) << 16
      val sbiOk = publish(conf, new Path(file + ".sbi")) { out =>
        SbiIndex.write(out, SbiIndex(size, 0L, 0L, voffs :+ sentinel))
      }
      // coordinate sidecar: only when EVERY tile decoded cleanly (a record
      // needing lenient salvage means spans could be under-sampled, and an
      // under-estimated span mis-prunes); sorted iff every tile is
      // internally sorted and tile boundaries are non-decreasing (the sink
      // co-write's rule). The sentinel window mirrors the sink: last
      // record's coordinates, span 0.
      if (perTile.forall(_._9)) {
        var sorted = perTile.forall(_._5)
        var pr = Int.MinValue; var pp = Int.MinValue
        perTile.foreach { t =>
          val fr = graft.index.GciIndex.orderRef(t._2)
          if (fr < pr || (fr == pr && t._3 < pp)) sorted = false
          pr = t._6; pp = t._7
        }
        val last = perTile.last
        publish(conf, new Path(file + ".gci")) { out =>
          graft.index.GciIndex.write(out, graft.index.GciIndex(sorted, 0L,
            voffs :+ sentinel,
            perTile.map(_._2) :+ last._8,
            perTile.map(_._3) :+ last._7,
            perTile.map(_._4) :+ 0))
        }
      } else log.warn(s"deriveIndex: $file has records the strict decode rejects; " +
        ".sbi written, .gci skipped (coordinate pruning needs fully-verified spans)")
      sbiOk
    } catch {
      case e: Exception =>
        log.warn(s"deriveIndex: sbi derivation failed for $file: ${e.getMessage}")
        false
    }
  }

  /** Derive a `.crai` for an unindexed CRAM: one task per byte tile snaps
    * to the first CRC-confirmed container boundary (the range reader's
    * existing discovery) and walks the headers of the containers STARTING
    * in its tile — together the tiles see every container exactly once.
    */
  def deriveCramCrai(file: String, size: Long, splitSize: Long,
                     conf: SerializableConf): Boolean =
    once(s"crai:$file")(deriveCramCraiImpl(file, size, splitSize, conf))

  private def deriveCramCraiImpl(file: String, size: Long, splitSize: Long,
                                 conf: SerializableConf): Boolean = {
    val spark = SparkSession.active
    try {
      val start0 = CramContainers.FileDefinitionLength.toLong
      val ts = tiles(start0, size, splitSize)
      val perTile = spark.sparkContext.parallelize(ts, ts.size)
        .map { case (s, e) =>
          val in = HadoopIO.open(new Path(file), conf.conf)
          try {
            val out = Seq.newBuilder[CraiEntry]
            var off = CramContainers.findBoundary(in, s, size)
            var covered = off >= e // no container starts in this tile
            var c = if (off < e) CramContainers.readValidatedHeader(in, off, size) else None
            while (c.isDefined && c.get.offset < e) {
              val cc = c.get
              // skip record-less containers (the records-mode SAM-header
              // container): they are not slices, and an external consumer
              // iterating CRAI entries would try to seek a slice there
              if (!cc.isEof && cc.nRecords > 0)
                out += CraiEntry(cc.refSeqId, cc.startPos, cc.alignmentSpan,
                  cc.offset, 0, cc.dataLength)
              off = cc.offset + cc.totalLength
              covered = off >= e || off >= size
              c = if (off < size) CramContainers.readValidatedHeader(in, off, size) else None
            }
            // an unparseable mid-tile header means containers after it would
            // be silently MISSING from the index — a lenient unindexed read
            // re-syncs past corruption, an indexed read cannot. Mark the
            // tile incomplete so derivation aborts instead of writing an
            // index that loses data.
            (out.result(), covered || c.isDefined)
          } finally in.close()
        }
        .collect()
      if (perTile.exists(!_._2)) {
        log.warn(s"deriveIndex: $file has an unparseable region; not writing a lossy .crai")
        return false
      }
      val entries = perTile.flatMap(_._1).sortBy(_.containerOffset).toSeq
      if (entries.isEmpty) { log.warn(s"deriveIndex: no containers found in $file"); return false }
      publish(conf, new Path(file + ".crai")) { out =>
        CraiIndex.write(out, CraiIndex(entries))
      }
    } catch {
      case e: Exception =>
        log.warn(s"deriveIndex: crai derivation failed for $file: ${e.getMessage}")
        false
    }
  }

  private def leInt(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)

  /** max(0, end − start) for one raw BAM record, the sink co-write's span
    * convention (BamPartWriter): end = start + refLen − 1 when mapped with
    * a reference-consuming cigar, else 0 → span = refLen − 1 or 0. Walks
    * the binary cigar ops directly (M/D/N/=/X consume reference).
    */
  private def cigarRefSpan(rec: Array[Byte], blockSize: Int): Int = {
    val pos0 = leInt(rec, 4)
    if (pos0 < 0) return 0
    val lReadName = rec(8) & 0xff
    val nCigar = (rec(12) & 0xff) | ((rec(13) & 0xff) << 8)
    var p = 32 + lReadName
    var refLen = 0
    var i = 0
    while (i < nCigar) {
      if (p + 4 > blockSize) throw new java.io.IOException("cigar overruns BAM record")
      val v = leInt(rec, p)
      val op = v & 0xf
      if (op == 0 || op == 2 || op == 3 || op == 7 || op == 8) refLen += (v >>> 4)
      p += 4; i += 1
    }
    if (refLen > 0) refLen - 1 else 0
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

  /** Derive a tabix `.tbi` for an unindexed BGZF VCF: one task per byte
    * tile reads the lines its tile OWNS (the scan's exact ownership rule,
    * so together the tiles see every record exactly once) with their
    * virtual offsets, and accumulates tabix bins per contig — record end
    * honors INFO `END` exactly like the sink co-write, so symbolic
    * SV/gVCF spans prune identically. Tiles merge in file order with
    * zero shifts (derived voffs are already absolute); an unsorted file
    * refuses derivation — mergeSorted returns None — exactly like the
    * sinks' co-write path, and ANY malformed record refuses too (an
    * index that silently omitted it would lose rows under pruning that
    * the lenient unindexed scan still returns).
    */
  def deriveVcfTbi(file: String, size: Long, splitSize: Long,
                   conf: SerializableConf): Boolean =
    once(s"tbi:$file")(deriveVcfTbiImpl(file, size, splitSize, conf))

  private def deriveVcfTbiImpl(file: String, size: Long, splitSize: Long,
                               conf: SerializableConf): Boolean = {
    val spark = SparkSession.active
    try {
      val ts = tiles(0L, size, splitSize)
      val perTile = spark.sparkContext.parallelize(ts, ts.size)
        .map { case (s, e) =>
          val in = HadoopIO.open(new Path(file), conf.conf)
          try {
            val b = new graft.index.TbiBuilder
            var ok = true
            try {
              SplitTextReader.bgzfLinesWithVoff(in, s, e).foreach { case (line, vb, ve) =>
                if (line.nonEmpty && line.charAt(0) != '#') {
                  val f = line.split('\t')
                  if (f.length < 4) throw new NumberFormatException("short line")
                  val pos1 = f(1).toInt
                  // 1-based inclusive end: INFO END, else pos + len(REF) - 1
                  // (VcfCodec semantics); builder takes 0-based inclusive
                  val end1 =
                    if (f.length > 7) f(7).split(';').collectFirst {
                      case kv if kv.startsWith("END=") => kv.substring(4).toInt
                    }.getOrElse(pos1 + f(3).length - 1)
                    else pos1 + f(3).length - 1
                  b.add(f(0), pos1 - 1, math.max(pos1, end1) - 1, vb, ve)
                }
              }
            } catch { case _: NumberFormatException => ok = false }
            (b.result(), ok)
          } finally in.close()
        }
        .collect().toSeq
      if (perTile.exists(!_._2)) {
        log.warn(s"deriveIndex: $file has malformed records; not writing a lossy .tbi")
        return false
      }
      val parts = perTile.map(_._1)
      if (parts.forall(_.firstName == null)) {
        log.warn(s"deriveIndex: no records found in $file"); return false
      }
      graft.index.TbiPartData.mergeSorted(parts, Seq.fill(parts.size)(0L)) match {
        case None =>
          log.warn(s"deriveIndex: $file is not coordinate-sorted; not writing .tbi")
          false
        case Some(tbi) =>
          publish(conf, new Path(file + ".tbi")) { out =>
            graft.index.TbiIndex.write(out, tbi)
          }
      }
    } catch {
      case e: Exception =>
        log.warn(s"deriveIndex: tbi derivation failed for $file: ${e.getMessage}")
        false
    }
  }
}
