package graft.sources.bam

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import graft.bam._
import graft.bgzf.Bgzf
import graft.index.{BaiIndex, GciIndex, SbiIndex}
import graft.sources.{FilePlan, GenomicInterval, GraftProvider, GraftReader, GraftScan, PartEncoder, PlanInput,
  PlannedSplit, PushedRegion, ReadContext, ReadsTraversal, RecordFormat, SinkFormat, StringencyLog}

/** `spark.read.format("bam")` / `df.write.format("bam")` — the Spark-native
  * re-expression of the reference's HtsjdkReadsRddStorage BAM path
  * (HtsjdkReadsRddStorage.java:128-245, BamSource.java:60-188,
  * BamSink.java:31-69).
  *
  * Read options:
  *   - `splitSize` (bytes, default 64 MiB — reference default 128 MiB FileSystem
  *     block or SPLIT_MAXSIZE, PathSplitSource.java:56-58)
  *   - `intervals` = "chr21:5000-9999,…" genomic predicate (1-based closed)
  *   - `unplacedUnmapped` = true → ALSO emit unmapped reads without position
  *     (HtsjdkReadsTraversalParameters semantics, README.md:119-138)
  * Write options:
  *   - `refs` = "chr20:1000000,chr21:1000135" reference dictionary (required)
  *   - `headerText` optional literal SAM header text
  *   - path ending in ".bam" → single file via headerless parts + concat
  *     commit; otherwise a directory of complete per-partition BAMs
  *     (write-option inference as in HtsjdkReadsRddStorage.java:217-257)
  */
class BamDataSource extends GraftProvider(BamFormat)

object BamFormat extends RecordFormat {
  override def name: String = "bam"
  override def schema(options: Map[String, String]): StructType = TagCols.schemaWith(options)
  /** Interval-translatable filters (contig =, start/end bounds) drive index
    * pruning and reader-side filtering, mirroring the coarse-index +
    * residual-iterator split of the reference
    * (AbstractBinarySamSource.java:86-113).
    */
  override def acceptsFilter(options: Map[String, String]): Filter => Boolean = PushedRegion.accepts
  override def fileCount(options: Map[String, String]): Option[(String, PlanInput => Option[Long])] =
    Some("indexCount" -> indexCount)
  override def scan(options: Map[String, String], required: StructType, pushed: Array[Filter],
                    limit: Int): Scan = new BamScan(options, required, pushed, limit)

  override def sink(path: String, level: Int, options: Map[String, String],
                    schema: StructType): SinkFormat[_] = {
    val refs = SamHeader.parseRefsOption(options.getOrElse("refs",
      throw new IllegalArgumentException("bam sink requires option refs=name:length,…")))
    val header = options.get("headertext") match {
      case Some(t) => SamHeader(t, refs)
      case None => SamHeader(refs)
    }
    val singleFile = path.endsWith(".bam")
    val sbiGranularity =
      if (options.get("writesbi").exists(_.toBoolean))
        options.get("sbigranularity").map(_.toLong).getOrElse(SbiIndex.DefaultGranularity)
      else -1L
    BamSink(header, singleFile, schema, sbiGranularity,
      options.get("writebai").exists(_.toBoolean) && singleFile, level)
  }

  /** Exact record count of one file from its indexes, or None if it lacks
    * one — a tiny index read, zero data I/O: `.sbi` carries an exact
    * totalRecords; a samtools `.bai` carries per-ref pseudo-bin counts + the
    * unplaced tail (exact only when every ref has a pseudo-bin AND the
    * optional n_no_coor field is physically present).
    *
    * Staleness guard: an index answering a query the data never sees must
    * PROVE it describes this exact file, or the scan falls back to reading.
    * The `.sbi` carries the BAM's byte length for precisely this check
    * (compared against the listed length); a `.bai` carries no length, so
    * it must be fresh by mtime (a BAM rewritten in place after indexing is
    * newer than its index → rejected). A present `.sbi` decides alone.
    */
  private def indexCount(f: PlanInput): Option[Long] =
    if (f.fs.exists(new Path(f.path.toString + ".sbi")))
      f.sidecar(".sbi")(SbiIndex.read).filter(_.fileLength == f.size).map(_.totalRecords).filter(_ >= 0)
    else f.sidecar(".bai", fresh = true)(BaiIndex.read).flatMap(_.exactRecordCount)
}

/** Typed-tag projection (`.option("tagColumns", "NM:int,RG:string")`):
  * each entry adds a `tag_XX` column of the declared type (int → long,
  * float → double, string; bare `XX` defaults to string) to the scan
  * schema: the typed view of `attributes['XX']`. Unless the full
  * `attributes` column is read, the record's map is key-masked to the
  * requested tags — the walk decodes ONLY those and byte-skips the rest —
  * so tag-driven analytics (read-group rollups, NM error rates) never
  * parse the whole tag region. The reference exposes tags
  * only through htsjdk's eager SAMRecord attribute list; this projection
  * is a Spark-side extension in the spirit of its lazy record decode.
  */
private[sources] object TagCols {
  import org.apache.spark.sql.types._

  def parse(options: Map[String, String]): Seq[StructField] =
    options.get("tagcolumns").map(_.trim).filter(_.nonEmpty).toSeq.flatMap { spec =>
      spec.split(",").map(_.trim).filter(_.nonEmpty).map { ent =>
        val (tag, ty) = ent.split(":", 2) match {
          case Array(t) => (t, "string")
          case Array(t, ty0) => (t, ty0.trim.toLowerCase(java.util.Locale.ROOT))
        }
        require(tag.length == 2 && tag.forall(c => c.isLetterOrDigit),
          s"tagColumns: '$tag' is not a two-character SAM tag")
        val dt = ty match {
          case "int" | "long" => LongType
          case "float" | "double" => DoubleType
          case "string" => StringType
          case other => throw new IllegalArgumentException(
            s"tagColumns: unsupported type '$other' for tag $tag (int|float|string)")
        }
        StructField(s"tag_$tag", dt, nullable = true)
      }
    }

  /** Base alignment schema + any requested tag columns. */
  def schemaWith(options: Map[String, String]): StructType =
    StructType(AlignmentRecord.schema.fields.toSeq ++ parse(options))

  /** Key-masked `attributes` map (`.option("attrKeys", "NM,RG")`, or derived
    * by the auto-projection rule from literal `element_at` keys): the column
    * keeps its map type, but ONLY these tags populate it — the record's
    * self-describing tag walk decodes them selectively and byte-skips every
    * other value (and on CRAM, blocks exclusively backing unrequested tags
    * are never inflated). Schema-invisible, unlike `tagColumns`.
    */
  def attrKeys(options: Map[String, String]): Option[IndexedSeq[String]] =
    options.get("attrkeys").map { spec =>
      val keys = spec.split(",").iterator.map(_.trim).filter(_.nonEmpty).toVector.distinct.sorted
      keys.foreach(k => require(k.length == 2 && k.forall(_.isLetterOrDigit),
        s"attrKeys: '$k' is not a two-character SAM tag"))
      keys
    }
}

// ---------------------------------------------------------------------------
// Read path
// ---------------------------------------------------------------------------

class BamScan(options: Map[String, String], required: StructType, pushed: Array[Filter],
    limitHint: Int = -1)
    extends GraftScan("bam", options, required, limitHint) {

  override protected def describe: String =
    options.get("intervals").map(i => s" intervals=$i").getOrElse("") +
      s" pushed=[${pushed.mkString(",")}]" +
      TagCols.attrKeys(options).map(k => s" attrKeys=[${k.mkString(",")}]").getOrElse("")
  // a shard whose sequence dictionary differs would mislabel every refId
  override protected def headerKind: String = "sequence dictionaries"

  private val traversal = ReadsTraversal(options, pushed)
  private val pairAware = options.get("keeppairstogether").exists(_.toBoolean)

  override protected def planFile(f: PlanInput): FilePlan = {
    val (header, headerEnd) = BamIO.readHeader(f.in)
    val size = f.size
    val limitFastPath = limitHint >= 0 && traversal.intervals.isEmpty
    // Stale-index guard: an .sbi whose recorded fileLength differs from
    // the live file (BAM rewritten in place without re-indexing) is
    // ignored entirely — its record offsets would misalign every split
    // and silently corrupt the scan.
    lazy val sbiOpt: Option[SbiIndex] =
      if (limitFastPath) None else f.sidecar(".sbi")(SbiIndex.read).filter(_.fileLength == size)
    // Interval route: the index's virtual-offset spans that may hold an
    // overlapping record, plus the record-start offsets long spans may
    // be cut at (read only if a span needs cutting). A fresh .bai answers
    // exactly (candidate bins' chunks, linear-index floor — reference
    // AbstractBinarySamSource.java:86-113, BAMFileReader2.java:1002-1098);
    // without one, a sorted .gci narrows to its matching sampled windows.
    // The traversal's residual filter drops the non-overlapping records
    // inside a span, so results stay exact.
    val indexed: Option[(Seq[(Long, Long)], () => Array[Long])] = traversal.intervals.flatMap { ivs =>
      f.sidecar(".bai", fresh = true)(BaiIndex.read).map { bai =>
        val spans = ivs.flatMap { iv =>
          header.refIndex.get(iv.contig).toSeq.flatMap { r =>
            val (s0, e0) = (math.max(0, iv.start - 1), math.min(iv.end, BaiIndex.MaxPos) - 1)
            if (s0 > e0) Nil else bai.spans(r, s0, e0)
          }
        }
        // unplaced-unmapped records sit after the last placed record,
        // up to the file end; the BAI has no bins for them
        val tail =
          if (traversal.unplacedUnmapped) Seq((math.max(headerEnd, bai.mappedEnd), size << 16)) else Nil
        (spans ++ tail, () => sbiOpt.fold(bai.linearOffsets)(_.offsets))
      }.orElse(sbiOpt.flatMap { sbi =>
        // unknown/old .gci versions and unsorted files disable pruning,
        // never mis-prune
        f.sidecar(".gci")(GciIndex.read).filter(_.sorted).map { gci =>
          (BamIntervalPlan.gciWindows(gci, ivs, header.refIndex, traversal.unplacedUnmapped),
            () => sbi.offsets)
        }
      })
    }
    def split(start: Long, end: Long, cs: Long, ce: Long, pairSpan: Option[(Long, Long)] = None) =
      PlannedSplit(start, end, BamInputPartition(f.path.toString, start, end, header, headerEnd, traversal,
        cs, ce, pairAware, pairSpan, _))
    val splits: Seq[PlannedSplit] = indexed match {
      case Some((spans, cuts)) =>
        // keepPairsTogether hands name-runs over between the pieces of
        // one merged span only: the record before a span belongs to no
        // partition, and records past its end overlap no interval
        BamIntervalPlan.ranges(spans, cuts, f.splitSize).map { case ((b, e), span) =>
          val (start, end) = BamIntervalPlan.byteRange(b, e, size)
          split(start, end, b, e, Some(span))
        }
      case None if limitFastPath =>
        // limit fast path (no interval traversal): ONE whole-file
        // partition, zero sidecar/index I/O, no derive job — capped by the
        // shell, so `.limit(5)` on a lake costs one partition and a few
        // BGZF blocks per file
        Seq(split(0L, size, -1L, -1L))
      case None if sbiOpt.isDefined =>
        // SBI path: split edges snap to indexed record offsets via binary
        // search — no heuristic boundary scan in the readers (intended
        // reference semantics, BamSource.java:74-92)
        val sbi = sbiOpt.get
        val tiles = f.tiles(0L, size)
        val bounds = tiles.map(t => sbi.boundaryAtOrAfter(t._1)) :+ sbi.offsets.last
        tiles.indices.collect { case i if bounds(i) < bounds(i + 1) =>
          split(tiles(i)._1, tiles(i)._2, bounds(i), bounds(i + 1))
        }
      case None =>
        // first-contact derivation: run the guesser ONCE as a tiny
        // distributed job, write the .sbi back, re-plan O(index)
        if (options.get("deriveindex").exists(_.toBoolean) &&
            graft.sources.DeriveIndex.deriveBamSbi(f, header, headerEnd))
          return planFile(f) // .sbi now exists → SBI route
        // heuristic path: byte splits tile the file; each split owns
        // records whose start voff lies in a block starting within it
        f.tiles(0L, size).map { case (s0, e0) => split(s0, e0, -1L, -1L) }
    }
    FilePlan(splits,
      indexed.fold(0L)(_._1.iterator.map { case (b, e) =>
        val (start, end) = BamIntervalPlan.byteRange(b, e, size)
        end - start
      }.sum),
      Some(header.refs))
  }

  override protected def readerFactory(ctx: ReadContext): PartitionReaderFactory =
    new BamPartitionReaderFactory(ctx, required, TagCols.attrKeys(options))
}

object BamScan {
  private val SpanMask = BamFieldMask(cigarAndEnd = true, seq = false, qual = false, attrs = false, name = false)

  /** One index-derivation tile `[start, end)`: the heuristic reader's walk
    * (its first owned record, then every record whose block starts in the
    * tile) fed to a one-window [[BamIndexSampler]], so the tile reports
    * what a sink part writer reports. The flag is false when a record fails
    * the strict decode; the walk stops there, so count and span are partial.
    */
  def indexTile(file: String, header: SamHeader, headerEndVoff: Long)
               (in: graft.bgzf.SeekableInput, start: Long, end: Long): (BamPartMessage, Boolean) = {
    val sampler = new BamIndexSampler(Long.MaxValue)
    var clean = true
    val first = new BamRecordGuesser(in, header.refs, headerEndVoff).firstRecordAtOrAfter(start, end)
    if (first >= 0) {
      val stream = new graft.bgzf.BgzfInputStream(in)
      stream.seekVirtual(first)
      val frame = new BamFrame(file)
      try {
        while (clean && !stream.atEof && stream.blockStartOffset < end && frame.next(stream)) {
          val refId = frame.refId
          val span =
            try {
              if (refId < -1 || refId >= header.refs.length) throw new java.io.IOException(s"bad refID $refId")
              val r = BamCodec.decodeRecord(frame.bytes, frame.size, header, SpanMask)
              math.max(0, r.end - r.start)
            } catch { case scala.util.control.NonFatal(_) => clean = false; 0 }
          sampler.add(frame.voff, refId, frame.pos0, span)
        }
      } catch { case scala.util.control.NonFatal(_) => clean = false }
      // the tile's first record is its .sbi offset: without it the records
      // before the next offset would belong to no split
      if (sampler.records == 0) throw new java.io.IOException(s"unreadable BAM record at voff $first in $file")
    }
    (sampler.result(null), clean)
  }
}

/** Interval planning over an index's answer: virtual-offset spans that may
  * hold an overlapping record become record-exact partitions, read by the
  * readers' exact-chunk mode (no boundary guessing).
  */
private[bam] object BamIntervalPlan {
  /** The byte range `[start, end)` of a file of `size` bytes that holds the
    * voff range `[b, e)`: from `b`'s block to the first byte of `e`'s block
    * (that block counts as one byte, though the reader may inflate it).
    */
  def byteRange(b: Long, e: Long, size: Long): (Long, Long) =
    (Bgzf.blockStart(b), math.min(size, Bgzf.blockStart(e) + 1))

  /** Merges `spans` with the block-touch rule (so no record is owned twice)
    * and cuts every merged span longer than `splitSize` compressed bytes:
    * each piece ends at the first of the sorted record-start offsets
    * `cuts()` (called only when a span needs cutting) at least `splitSize`
    * bytes past its own start. Each piece comes with its merged span.
    */
  def ranges(spans: Seq[(Long, Long)], cuts: () => Array[Long], splitSize: Long)
      : Seq[((Long, Long), (Long, Long))] = {
    lazy val cs = cuts()
    BaiIndex.mergeSpans(spans.filter { case (b, e) => b < e }).flatMap { case span @ (b, e) =>
      val starts =
        if (Bgzf.blockStart(e) - Bgzf.blockStart(b) <= splitSize) Seq(b)
        else Iterator.iterate(b)(s => cutAtOrAfter(cs, (Bgzf.blockStart(s) + splitSize) << 16))
          .takeWhile(_ < e).toSeq
      starts.zip(starts.tail :+ e).map(_ -> span)
    }
  }

  private def cutAtOrAfter(cuts: Array[Long], voff: Long): Long = {
    val k = java.util.Arrays.binarySearch(cuts, voff)
    val i = if (k >= 0) k else -k - 1
    if (i < cuts.length) cuts(i) else Long.MaxValue
  }

  /** The sampled `.gci` windows `[voffs(j), voffs(j+1))` whose coordinate
    * range may overlap an interval. A window's records start between its two
    * sampled positions; the recorded max alignment span of its records
    * bounds how far before an interval an overlapping record can start —
    * exact, not a guessed slack (a spliced/long read spanning further than a
    * fixed slack would be mis-pruned).
    */
  def gciWindows(g: GciIndex, ivs: Seq[GenomicInterval], refIndex: Map[String, Int],
                 unplacedUnmapped: Boolean): Seq[(Long, Long)] =
    (0 until g.voffs.length - 1).filter { j =>
      val loR = GciIndex.orderRef(g.refs(j)); val loP = g.pos(j)
      val hiR = GciIndex.orderRef(g.refs(j + 1)); val hiP = g.pos(j + 1)
      (unplacedUnmapped && hiR == Int.MaxValue) ||
        ivs.exists { iv =>
          refIndex.get(iv.contig).exists { r =>
            // lexicographic overlap of [(loR,loP),(hiR,hiP)] with [(r,ivLoP),(r,ivHiP)]
            val below = hiR < r || (hiR == r && hiP < iv.start - 1 - g.spans(j))
            val above = loR > r || (loR == r && loP > iv.end - 1)
            !below && !above
          }
        }
    }.map(j => (g.voffs(j), g.voffs(j + 1)))
}

case class BamInputPartition(
    file: String, splitStart: Long, splitEnd: Long,
    header: SamHeader, headerEndVoff: Long, traversal: ReadsTraversal,
    chunkStartVoff: Long, chunkEndVoff: Long, // record-exact voff range; -1 when heuristic
    pairAware: Boolean = false, // name-runs never split across partitions
    pairSpan: Option[(Long, Long)] = None, // pairAware: voff span runs are handed over within (None = file)
    hosts: Array[String] = Array.empty) // block hosts of the split's range
  extends InputPartition {
  override def preferredLocations(): Array[String] = hosts
}

class BamPartitionReaderFactory(ctx: ReadContext, required: StructType,
                                attrKeys: Option[IndexedSeq[String]] = None)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new BamPartitionReader(partition.asInstanceOf[BamInputPartition], ctx, required, attrKeys)
}

/** Executor-side reader: boundary search then sequential decode, exactly the
  * reference's executor phases 4–5 (BamSource.getFirstReadInPartition:115-158,
  * AbstractBinarySamSource.getReads:61-135) with decode pruned to `required`.
  */
class BamPartitionReader(p: BamInputPartition, ctx: ReadContext, required: StructType,
                         attrKeys: Option[IndexedSeq[String]] = None)
    extends GraftReader(p.file, ctx, s"${p.file} [${p.splitStart}, ${p.splitEnd})") {

  private val needFilter = p.traversal.intervals.isDefined
  private val mask = {
    val m = BamFieldMask.fromColumns(required.fieldNames.toSet, attrKeys)
    val m1 = if (needFilter) m.copy(cigarAndEnd = true) else m // interval test needs end
    // pairAware run-tracking compares consecutive readNames, so the name
    // must decode even when the column is pruned from the projection
    if (p.pairAware) m1.copy(name = true) else m1
  }
  private val stream = new graft.bgzf.BgzfInputStream(input)
  private var exhausted = false
  private var lastReadName: String = _ // run tracking for pairAware
  private var prevName: String = _     // name of the record before our first

  private val exactChunk = p.chunkStartVoff >= 0
  private val frame = new BamFrame(p.file)

  // boundary: exact from the planned chunk (SBI split or index span), else
  // heuristic search (the guesser shares the pread-based input with the stream)
  locally {
    if (exactChunk) stream.seekVirtual(p.chunkStartVoff)
    else {
      val first = new BamRecordGuesser(input, p.header.refs, p.headerEndVoff)
        .firstRecordAtOrAfter(p.splitStart, p.splitEnd)
      if (first < 0) exhausted = true
      else stream.seekVirtual(first)
    }
    if (!exhausted && p.pairAware) prevName = findPrevName(stream.virtualOffset)
  }

  /** Pair-integrity (reference README.md:156-160, unimplemented upstream —
    * support-matrix ✗ at README.md:35): a contiguous run of records sharing
    * a read name is owned by the partition that owns the run's FIRST record.
    * We skip a leading run continuing from the previous partition (its name
    * = name of the record immediately before our first record) and read past
    * our boundary to finish a run we started. Queryname-grouped files thus
    * never split a pair across partitions. In an interval plan both stay
    * inside the partition's merged index span (`pairSpan`).
    */
  private def findPrevName(firstVoff: Long): String = {
    if (p.splitStart == 0 || p.pairSpan.exists(_._1 >= firstVoff)) return null
    val guesser = new BamRecordGuesser(input, p.header.refs, p.headerEndVoff)
    val firstBlock = Bgzf.blockStart(firstVoff)
    var backBlocks = 1L
    var found = -1L
    while (found < 0) {
      val pos = math.max(0L, firstBlock - backBlocks * Bgzf.MaxBlockSize)
      val cand = guesser.firstRecordAtOrAfter(pos, Long.MaxValue)
      if (cand >= 0 && cand < firstVoff) found = cand
      else if (pos == 0) return null // our first record is the file's first
      else backBlocks *= 2
      if (backBlocks > 512) {
        // >32 MB of recordless space before this partition: give up on
        // predecessor-run detection. Pathological files only — log it so a
        // split pair is diagnosable rather than silent.
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"pairAware: no predecessor record found within 32 MB before voff $firstVoff " +
            s"in ${p.file}; a name-run crossing this boundary would be split")
        return null
      }
    }
    val s2 = new graft.bgzf.BgzfInputStream(input)
    s2.seekVirtual(found)
    val m = BamFieldMask(cigarAndEnd = false, seq = false, qual = false, attrs = false)
    var name: String = null
    while (!s2.atEof && s2.virtualOffset < firstVoff && frame.next(s2))
      name = BamCodec.decodeRecord(frame.bytes, frame.size, p.header, m).readName
    name
  }

  private val fieldGetters: Array[AlignmentRecord => Any] =
    RecordToRow.getters(required, mask.attrKeys.map(_.toSet))

  override protected def advance(): InternalRow = {
    if (exhausted) return null
    while (true) {
      // territory: the next record start owned by this partition —
      // exact chunk end or block owned by this split (heuristic)
      val inTerritory = !stream.atEof &&
        (if (exactChunk) stream.virtualOffset < p.chunkEndVoff
         else stream.blockStartOffset < p.splitEnd)
      val rec =
        if (inTerritory) readOne()
        // pairAware: past the territory, finish a name-run we started
        else if (!p.pairAware || lastReadName == null || stream.atEof ||
                 p.pairSpan.exists(stream.virtualOffset >= _._2)) null
        else {
          val r = readOne()
          if (r != null && r.readName == lastReadName) r else null
        }
      if (rec == null) return null
      // pairAware: a leading run continuing from the previous partition
      // is owned by the predecessor
      if (prevName == null || rec.readName != prevName) {
        prevName = null
        lastReadName = rec.readName
        if (p.traversal.keep(rec)) return RecordToRow.toRow(rec, fieldGetters)
      }
    }
    null
  }

  private def readOne(): AlignmentRecord = {
    while (frame.next(stream)) {
      try return BamCodec.decodeRecord(frame.bytes, frame.size, p.header, mask)
      catch {
        case e: Exception =>
          // framing was sane, so the next record follows. Lenient: a failure
          // confined to the optional-tag region is recoverable — the record
          // re-decodes cleanly without the attribute map. CG-spilled records
          // (kSmN sentinel cigar) are NOT salvageable when the cigar is
          // projected: the authoritative ops live in the broken tag region,
          // so the re-decode's reconstitution attempt throws too and the
          // record is skipped, never emitted with the sentinel as its cigar
          // (the codec decodes tags whenever the raw ops show the sentinel
          // shape and the cigar is requested)
          val at = s"BAM record at voff ${frame.voff} in ${p.file}"
          val salvaged =
            if (!mask.attrs) null
            else slog.salvage(s"tag region of $at: ${e.getMessage}", BamCodec.decodeRecord(
              frame.bytes, frame.size, p.header, mask.copy(attrs = false, tagCols = Vector.empty)))
          if (salvaged != null) return salvaged
          slog.reject(s"undecodable $at", e, StringencyLog.hex(frame.bytes, 0, frame.size))
      }
    }
    null
  }

  override protected def closeExtra(): Unit = stream.close()
}

/** BAM record framing over a BGZF stream: the 4-byte `block_size`, then
  * the record into one reused buffer. Implausible framing means the stream
  * itself is desynced, which is fatal in every stringency (skipping would
  * emit garbage, not drop one record).
  */
private[sources] final class BamFrame(file: String) {
  /** The last record read is `bytes(0 until size)`, starting at `voff`. */
  var bytes: Array[Byte] = new Array[Byte](1024)
  var size: Int = 0
  var voff: Long = 0L

  /** Reads the next record; false at the end of the stream. */
  def next(stream: graft.bgzf.BgzfInputStream): Boolean = {
    voff = stream.virtualOffset
    if (stream.read(bytes, 0, 1) < 0) return false
    stream.readFully(bytes, 1, 3)
    size = BamFrame.leInt(bytes, 0)
    if (size < 32 || size > BamFrame.MaxRecordBytes)
      throw new java.io.IOException(s"bad BAM record block_size $size at voff $voff in $file")
    if (size > bytes.length) bytes = new Array[Byte](math.max(size, 2 * bytes.length))
    stream.readFully(bytes, 0, size)
    true
  }

  def refId: Int = BamFrame.leInt(bytes, 0)
  def pos0: Int = BamFrame.leInt(bytes, 4)
}

private[sources] object BamFrame {
  val MaxRecordBytes: Int = 64 << 20

  def leInt(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)
}

// ---------------------------------------------------------------------------
// Write path
// ---------------------------------------------------------------------------

/** What one BAM part reports to the commit: SBI voffs + genomic
  * coordinates of the sampled records, part order/sortedness, and its BAI
  * contribution (null unless writeBai).
  */
case class BamPartMessage(records: Long,
    sampledVoffs: Array[Long], sampledRefs: Array[Int], sampledPos: Array[Int],
    sampledSpans: Array[Int], // max (end−start) per sample window
    partSorted: Boolean, firstRef: Int, firstPos: Int, lastRef: Int, lastPos: Int,
    bai: graft.index.BaiPartData)

/** Single-file mode: headerless BGZF parts between the BGZF header and the
  * EOF block (BamSink.java:41-68); `.sbi`/`.gci`/`.bai` fold from the part
  * reports. Sharded mode: complete per-partition BAMs, each with its own
  * `.sbi` (AnySamSinkMultiple.java:39-73).
  */
case class BamSink(header: SamHeader, singleFile: Boolean, schema: StructType,
                   sbiGranularity: Long, writeBai: Boolean, level: Int)
    extends SinkFormat[BamPartMessage] {
  override def partSuffix: String = ".bam"
  override def openPart(out: java.io.OutputStream, sidecar: String => java.io.OutputStream)
      : PartEncoder[BamPartMessage] = new BamPartWriter(this, out, sidecar)

  override def headerBytes(parts: Seq[BamPartMessage]): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream()
    val hb = new graft.bgzf.BgzfOutputStream(bytes, writeEof = false, level = level)
    BamCodec.writeHeader(hb, header)
    hb.close()
    bytes.toByteArray
  }
  override def terminatorBytes: Array[Byte] = Bgzf.EofBlock

  override def indexes(target: Path, parts: Seq[(BamPartMessage, Long)], dataEnd: Long)
      : Seq[(String, java.io.OutputStream => Unit)] = {
    val sbi: Seq[(String, java.io.OutputStream => Unit)] = if (sbiGranularity <= 0) Nil else {
      val (s, g) = BamSink.sampleIndexes(parts, dataEnd, dataEnd + Bgzf.EofBlock.length, sbiGranularity,
        parts.map(_._1.records).sum)
      Seq(".sbi" -> (o => SbiIndex.write(o, s)), ".gci" -> (o => GciIndex.write(o, g)))
    }
    // a .bai is only meaningful for coordinate-sorted output
    val bai: Seq[(String, java.io.OutputStream => Unit)] =
      if (!writeBai) Nil
      else if (BamSink.sorted(parts.map(_._1))) Seq(".bai" -> (o => BaiIndex.write(o,
        graft.index.BaiPartData.merge(parts.map(_._1.bai), parts.map(_._2), header.refs.length))))
      else {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"writeBai: output $target is not coordinate-sorted; skipping .bai")
        Nil
      }
    sbi ++ bai
  }
}

object BamSink {
  /** True iff the parts, concatenated in order, are coordinate-sorted: every
    * part is internally sorted and part boundaries do not step back.
    */
  def sorted(parts: Seq[BamPartMessage]): Boolean = {
    var sorted = parts.forall(_.partSorted)
    var prevRef = Int.MinValue; var prevPos = Int.MinValue
    parts.foreach { m =>
      if (m.records > 0) {
        val fr = GciIndex.orderRef(m.firstRef)
        if (fr < prevRef || (fr == prevRef && m.firstPos < prevPos)) sorted = false
        prevRef = GciIndex.orderRef(m.lastRef); prevPos = m.lastPos
      }
    }
    sorted
  }

  /** The `.sbi` and `.gci` of a file made of `parts`, each at its `base`
    * byte offset (its sampled voffs shift by `base << 16`). The records end
    * at `dataEnd`, which is the sentinel offset; its `.gci` window holds the
    * last record's coordinates and span 0. `fileLength` is the `.sbi`'s
    * stale guard, `granularity` the header field and `total` the record
    * count (-1 when unknown).
    */
  def sampleIndexes(parts: Seq[(BamPartMessage, Long)], dataEnd: Long, fileLength: Long,
                    granularity: Long, total: Long): (SbiIndex, GciIndex) = {
    val offsets = (parts.iterator.flatMap { case (m, base) => m.sampledVoffs.iterator.map(_ + (base << 16)) } ++
      Iterator(dataEnd << 16)).toArray
    val last = parts.reverseIterator.map(_._1).find(_.records > 0)
    def all[T: scala.reflect.ClassTag](f: BamPartMessage => Array[T], sentinel: T): Array[T] =
      (parts.iterator.flatMap(p => f(p._1)) ++ Iterator(sentinel)).toArray
    (SbiIndex(fileLength, total, granularity, offsets),
      GciIndex(sorted(parts.map(_._1)), granularity, offsets,
        all(_.sampledRefs, last.fold(-1)(_.lastRef)), all(_.sampledPos, last.fold(-1)(_.lastPos)),
        all(_.sampledSpans, 0)))
  }
}

/** Per-record index sampling of one BAM part, fed by the sink's part
  * writer and by index derivation: every `granularity` records (≤ 0: none)
  * a `.sbi`/`.gci` window of the record's voff and coordinates with the max
  * alignment span of the window's records, plus the part's sortedness,
  * first/last coordinates and record count.
  */
private[sources] final class BamIndexSampler(granularity: Long) {
  private val voffs = Array.newBuilder[Long]
  private val refs = Array.newBuilder[Int]
  private val pos = Array.newBuilder[Int]
  private val spans = Array.newBuilder[Int]
  private var curSpan = 0
  private var sorted = true
  private var firstRef = -2; private var firstPos = -2
  private var prevRef = Int.MinValue; private var prevPos = Int.MinValue
  private var count = 0L

  def records: Long = count

  /** One record at `voff`: 0-based `pos0` and span `end - start`. */
  def add(voff: Long, refId: Int, pos0: Int, span: Int): Unit = {
    if (granularity > 0) {
      if (count % granularity == 0) {
        if (count > 0) { spans += curSpan; curSpan = 0 } // close previous window
        voffs += voff; refs += refId; pos += pos0
      }
      if (span > curSpan) curSpan = span
    }
    val oRef = GciIndex.orderRef(refId)
    if (oRef < prevRef || (oRef == prevRef && pos0 < prevPos)) sorted = false
    prevRef = oRef; prevPos = pos0
    if (firstRef == -2) { firstRef = refId; firstPos = pos0 }
    count += 1
  }

  /** The part's report; call once. */
  def result(bai: graft.index.BaiPartData): BamPartMessage = {
    if (granularity > 0 && count > 0) spans += curSpan // close the final (possibly partial) window
    BamPartMessage(count, voffs.result(), refs.result(), pos.result(), spans.result(),
      sorted, firstRef, firstPos, if (prevRef == Int.MinValue) -2 else prevRef, prevPos, bai)
  }
}

/** One BAM part: direct InternalRow → wire encoding (BamRowEncoder, no
  * per-record AlignmentRecord/String/Map), sampled by a [[BamIndexSampler]]
  * and building BAI bins.
  */
private final class BamPartWriter(s: BamSink, raw: java.io.OutputStream,
                                  sidecar: String => java.io.OutputStream)
    extends PartEncoder[BamPartMessage] {
  private val out = new graft.bgzf.BgzfOutputStream(raw, writeEof = !s.singleFile, level = s.level)
  private val enc = new graft.bam.BamRowEncoder(s.schema, s.header)
  private val sampler = new BamIndexSampler(s.sbiGranularity)

  if (!s.singleFile) BamCodec.writeHeader(out, s.header)

  private val bai = if (s.writeBai) new graft.index.BaiBuilder else null

  override def write(row: InternalRow): Unit = {
    val len = enc.encode(row)
    val refId = enc.lastRefId
    val pos0 = enc.lastStart - 1
    val vBeg = out.virtualOffset
    sampler.add(vBeg, refId, pos0, math.max(0, enc.lastEnd - enc.lastStart)) // span == end0 − pos0
    out.write(enc.buf, 0, len)
    if (bai != null) bai.add(refId, pos0, math.max(pos0, enc.lastEnd - 1), vBeg, out.virtualOffset,
      mapped = (enc.lastFlags & AlignmentRecord.FlagUnmapped) == 0)
  }
  override def finish(): BamPartMessage = {
    out.close()
    val m = sampler.result(if (bai != null) bai.result() else null)
    if (s.sbiGranularity > 0 && !s.singleFile) {
      // sharded mode: each complete file gets its own .sbi directly;
      // compressed bytes exclude the trailing EOF block
      val compressed = Bgzf.blockStart(out.virtualOffset)
      val so = sidecar(".sbi")
      try SbiIndex.write(so, SbiIndex(compressed + Bgzf.EofBlock.length, m.records,
        s.sbiGranularity, m.sampledVoffs :+ (compressed << 16)))
      finally so.close()
    }
    m
  }
  override def abort(): Unit = out.close()
}
