package graft.sources.cram

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._

import graft.bam.{AlignmentRecord, BamRowEncoder, RecordToRow, SamHeader}
import graft.cram.{CraiEntry, CraiIndex, CramContainer, CramContainers,
  CramRecordCodec, CramRecordWriter, CramRefSource, Fasta, FastaRefSource, NoRefSource}
import graft.sources.{FilePlan, GenomicInterval, GraftProvider, GraftReader, GraftScan, HadoopIO, PartEncoder,
  PlanInput, PlannedSplit, PushedRegion, ReadContext, ReadsTraversal, RecordFormat, SerializableConf, SinkFormat,
  Stringency, StringencyLog}

/** `format("cram")` — CRAM scan/sink (reference CramSource.java:57-151,
  * CramSink.java:35-85).
  *
  * Two row models, chosen by the `records` option:
  *   - default: CONTAINER-level — one row per data container (the file
  *     geometry + alignment span the reference's split planner computes,
  *     surfaced as a queryable DataFrame; payload bytes stay opaque).
  *   - `records=true`: RECORD-level — the full [[graft.bam.AlignmentRecord]]
  *     schema shared with the BAM/SAM sources, decoded by the native record
  *     codec ([[graft.cram.CramRecordCodec]]: v2.1/v3.0 entropy codecs,
  *     reference-based sequence reconstruction via the `fasta` option) and
  *     encoded by the reference-free v3 writer profile
  *     ([[graft.cram.CramRecordWriter]], `refs` option like the BAM sink).
  *
  * Both models share the planning/pruning machinery: splits snap to
  * container offsets; interval scans prune whole containers via the `.crai`
  * index when present (CramSource.java:96-120's NavigableSet shape) with a
  * residual coordinate filter for exactness (record-level in records mode).
  */
class CramDataSource extends GraftProvider(CramFormat)

object CramFormat extends RecordFormat {
  override def name: String = "cram"
  def records(options: Map[String, String]): Boolean = options.get("records").exists(_.toBoolean)
  override def schema(options: Map[String, String]): StructType =
    if (records(options)) graft.sources.bam.TagCols.schemaWith(options) else CramTable.schema
  /** Container mode accepts header-field filters (ref_seq_id/start_pos);
    * records mode accepts the genomic contig/start/end shape every record
    * source shares ([[graft.sources.PushedRegion]]), so a plain
    * `.filter($"contig" === c && $"start" <= x)` prunes containers via the
    * `.crai` exactly like an `intervals` option would.
    */
  override def acceptsFilter(options: Map[String, String]): Filter => Boolean =
    if (records(options)) PushedRegion.accepts else CramPushedRegion.accepts
  // ACCEPT_ANY_SCHEMA: the sink takes container SPECS (ref_seq_id, start_pos,
  // span, n_records, data_length) — offset/n_blocks are geometry the writer
  // computes, so the input never carries the full read schema; the writer
  // resolves its required columns by name and fails fast on what's missing
  override def acceptAnySchema: Boolean = true
  /** Records-mode COUNT(*) from container headers: every container header
    * carries its record count (ITF-8 `nRecords`), so the count is an
    * O(containers) header walk — seeks from header to header via each
    * container's length, ZERO block reads, zero record decode (the BAM
    * source's `.sbi`-answered count, re-expressed for CRAM's self-indexing
    * container framing).
    */
  override def fileCount(options: Map[String, String]): Option[(String, PlanInput => Option[Long])] =
    // the SAM-header container and EOF container both carry nRecords = 0
    if (!records(options)) None
    else Some("containerCount" -> (f => Some(CramContainers.containers(f.in).iterator.map(_.nRecords.toLong).sum)))
  override def scan(options: Map[String, String], required: StructType, pushed: Array[Filter],
                    limit: Int): Scan = new CramScan(options, required, pushed, limit)

  override def sink(path: String, level: Int, options: Map[String, String],
                    schema: StructType): SinkFormat[_] = {
    // records mode: rows are AlignmentRecords, encoded by the v3 record
    // writer; the header dictionary comes from `refs` like the BAM sink
    val recordsHeader: Option[SamHeader] =
      if (records(options)) {
        val refs = SamHeader.parseRefsOption(options.getOrElse("refs",
          throw new IllegalArgumentException(
            "cram records sink requires refs (name:length,…)")))
        Some(options.get("headertext") match {
          case Some(t) => SamHeader(t, refs)
          case None => SamHeader(refs)
        })
      } else None
    // CRAM version: 3.0 (default) or 3.1 (record blocks upgrade to rANS
    // Nx16, file definition minor = 1). codec=arith (3.1 only) swaps the
    // record-block entropy stage for the adaptive arithmetic coder
    // (CRAM method 6).
    val v31 = options.get("version") match {
      case None | Some("3.0") => false
      case Some("3.1") => true
      case Some(v) => throw new IllegalArgumentException(
        s"cram sink version must be 3.0 or 3.1, got $v")
    }
    val wire = options.get("codec") match {
      case None | Some("rans") => if (v31) 1 else 0
      case Some("arith") =>
        if (!v31) throw new IllegalArgumentException(
          "cram sink codec=arith requires version=3.1")
        2
      case Some(c) => throw new IllegalArgumentException(
        s"cram sink codec must be rans or arith, got $c")
    }
    // names=tok3 (3.1 only): RN blocks through the CRAM method-8 name
    // tokenizer; default keeps gzip'd RN, which every reader decodes
    val tok3 = options.get("names") match {
      case None | Some("default") => false
      case Some("tok3") =>
        if (!v31) throw new IllegalArgumentException(
          "cram sink names=tok3 requires version=3.1")
        true
      case Some(m) => throw new IllegalArgumentException(
        s"cram sink names must be default or tok3, got $m")
    }
    // quals=fqz (3.1 only): QS blocks through the CRAM method-7 quality
    // codec; default keeps the wire's rANS form
    val fqz = options.get("quals") match {
      case None | Some("default") => false
      case Some("fqz") =>
        if (!v31) throw new IllegalArgumentException(
          "cram sink quals=fqz requires version=3.1")
        true
      case Some(m) => throw new IllegalArgumentException(
        s"cram sink quals must be default or fqz, got $m")
    }
    // write-option inference (the BAM/VCF convention): a `.cram` path is a
    // single file; anything else is a sharded directory of COMPLETE
    // per-partition .cram files (AnySamSinkMultiple.java:39-73).
    // Records mode co-writes the `.crai` by DEFAULT (option still wins both
    // ways): the index is one text line per slice, and its presence turns
    // every downstream scan's planning into O(index) with zero executor-side
    // boundary discovery. Container-spec mode keeps the opt-in default (its
    // zero-payload containers produce no slice entries, and an empty `.crai`
    // would plan an empty scan).
    CramSink(path.endsWith(".cram"),
      options.get("writecrai").map(_.toBoolean).getOrElse(records(options)), schema,
      recordsHeader, options.get("recordspercontainer").map(_.toInt).getOrElse(10000),
      // reference-based encode: a fasta option on a records write switches
      // match positions to implicit/X-substitution form (CramRecordWriter)
      if (recordsHeader.isDefined) options.get("fasta") else None,
      wire, tok3, fqz, level, new SerializableConf(SparkSession.active.sessionState.newHadoopConf()))
  }
}

/** Opens the `fasta` option's indexed FASTA (`.fai` sidecar required) as a
  * [[graft.cram.CramRefSource]] — shared by the records reader (decode) and
  * records writer (reference-based encode). Caller closes the returned
  * input; region reads are preads, so an executor never holds a genome.
  */
object FastaRefs {
  def open(fastaPath: String, conf: org.apache.hadoop.conf.Configuration,
           names: Int => String): (graft.bgzf.SeekableInput, CramRefSource) = {
    val fin = HadoopIO.open(new Path(fastaPath), conf)
    val fai = {
      val fin2 = HadoopIO.open(new Path(fastaPath + ".fai"), conf)
      try {
        val b = new Array[Byte](fin2.size.toInt)
        require(fin2.preadFully(0, b, 0, b.length) == b.length, "truncated .fai")
        Fasta.parseFai(new String(b, "UTF-8"))
      } finally fin2.close()
    }
    (fin, new FastaRefSource(fin, fai, names))
  }
}

/** The container-level row model's schema. */
object CramTable {
  val schema: StructType = StructType(Seq(
    StructField("offset", LongType, nullable = false),
    StructField("data_length", IntegerType, nullable = false),
    StructField("ref_seq_id", IntegerType, nullable = false),
    StructField("start_pos", IntegerType, nullable = false),
    StructField("span", IntegerType, nullable = false),
    StructField("n_records", IntegerType, nullable = false),
    StructField("n_blocks", IntegerType, nullable = false)))
}

/** Conservative filter→predicate translation for the container schema (the
  * [[graft.sources.PushedRegion]] pattern): `ref_seq_id = r` plus bounds on
  * `start_pos` prune whole containers. Because the scan's rows ARE container
  * headers, the pushed predicate constrains the header fields themselves —
  * so the pruning test is POINT CONTAINMENT on `start_pos` and plain
  * equality on `ref_seq_id`, NOT the alignment-span overlap used for
  * genomic `intervals` (overlap semantics would wrongly prune a span-0
  * container at `start_pos = lo`, and any negative `ref_seq_id` — unmapped
  * −1, multi-ref −2 — can never pass a coordinate test). Every filter stays
  * residual, so pushdown only prunes, never changes results.
  */
object CramPushedRegion {
  import org.apache.spark.sql.sources._
  def toPredicate(pushed: Array[Filter]): Option[PushedContainerPred] = {
    val ref = pushed.collectFirst { case EqualTo("ref_seq_id", v: Number) => v.intValue() }
    ref.map { r =>
      var lo: Option[Int] = None
      var hi: Option[Int] = None
      // long arithmetic then clamp: `> Int.MaxValue` must not wrap to MinValue
      // (clamping widens the bound — a superset, which pruning requires)
      def tighterLo(b: Long): Unit =
        lo = Some(math.max(lo.getOrElse(Int.MinValue).toLong, math.min(b, Int.MaxValue)).toInt)
      def tighterHi(b: Long): Unit =
        hi = Some(math.min(hi.getOrElse(Int.MaxValue).toLong, math.max(b, Int.MinValue)).toInt)
      pushed.foreach {
        case GreaterThan("start_pos", v: Number) => tighterLo(v.intValue().toLong + 1)
        case GreaterThanOrEqual("start_pos", v: Number) => tighterLo(v.intValue().toLong)
        case LessThan("start_pos", v: Number) => tighterHi(v.intValue().toLong - 1)
        case LessThanOrEqual("start_pos", v: Number) => tighterHi(v.intValue().toLong)
        case _ =>
      }
      PushedContainerPred(r, lo, hi)
    }
  }
  def accepts(f: Filter): Boolean = f match {
    case EqualTo("ref_seq_id", _) => true
    case GreaterThan("start_pos", _) | GreaterThanOrEqual("start_pos", _) => true
    case LessThan("start_pos", _) | LessThanOrEqual("start_pos", _) => true
    case _ => false
  }
}

/** Interval predicate at container granularity: (refSeqId, 1-based range). */
private[cram] final case class RefInterval(refId: Int, start1: Int, end1: Int)

/** Which containers a scan must keep; planning may over-select (the reader
  * re-tests on the parsed header, and for filter-derived predicates Catalyst
  * additionally re-applies the exact residual), but must never under-select.
  */
private[cram] sealed trait ContainerPredicate extends Serializable {
  def keep(c: CramContainer): Boolean
}

/** Filter-derived pushdown: exact point test on the header fields the
  * pushed predicate constrains — `ref_seq_id == refId` (negative ids
  * included) and `start_pos` within the optional bounds. No span, no −2
  * special case: a multi-ref container's header field is −2 and simply
  * doesn't equal a non-negative pushed value.
  */
private[cram] final case class PushedContainerPred(refId: Int, lo: Option[Int], hi: Option[Int])
    extends ContainerPredicate {
  def keep(c: CramContainer): Boolean =
    c.refSeqId == refId && lo.forall(c.startPos >= _) && hi.forall(c.startPos <= _)
}

/** Container pruning for genomic `intervals`: alignment-span OVERLAP
  * semantics, multi-ref (−2) containers kept conservatively (members
  * unjudgeable without decode). Records mode adds unmapped (−1) containers
  * when the traversal asks for `unplacedUnmapped` (the record-level residual
  * filter restores exactness) and resolves refSeqIds from the FILE's own
  * header dictionary at planning; container mode never keeps −1 and
  * resolves them from the `refs` option.
  */
private[cram] final case class OverlapContainerPred(ivs: Seq[RefInterval], keepUnmapped: Boolean)
    extends ContainerPredicate {
  def keep(c: CramContainer): Boolean =
    c.refSeqId == -2 || (keepUnmapped && c.refSeqId == -1) ||
      ivs.exists(r => c.overlaps(r.refId, r.start1, r.end1))
}

class CramScan(options: Map[String, String], required: StructType,
               pushed: Array[Filter] = Array.empty,
               limitHint: Int = -1)
    extends GraftScan("cram", options, required, limitHint) {
  private val records = CramFormat.records(options)
  override protected def describe: String =
    (if (records) " records" else "") +
      options.get("intervals").map(i => s" intervals=$i").getOrElse("") +
      (if (pushed.nonEmpty) s" pushed=[${pushed.mkString(",")}]" else "") +
      graft.sources.bam.TagCols.attrKeys(options)
        .map(k => s" attrKeys=[${k.mkString(",")}]").getOrElse("")

  /** Records mode: the reads traversal BAM and SAM apply. */
  private val traversal: Option[ReadsTraversal] =
    if (records) Some(ReadsTraversal(options, pushed)) else None

  /** Container mode: contig-name intervals → refSeqId intervals via the
    * `refs` option (name:length,… — same format the BAM sink takes); bare
    * numeric contigs are accepted as refSeqIds directly.
    */
  private def containerPred: Option[ContainerPredicate] = options.get("intervals").map { s =>
    val names: Map[String, Int] = options.get("refs")
      .map(r => SamHeader.parseRefsOption(r).zipWithIndex.map { case (ref, i) => ref.name -> i }.toMap)
      .getOrElse(Map.empty)
    OverlapContainerPred(
      GenomicInterval.optimize(GenomicInterval.parseList(s)).flatMap { iv =>
        names.get(iv.contig).orElse(iv.contig.toIntOption)
          .map(id => RefInterval(id, iv.start, iv.end))
      }, keepUnmapped = false)
  }.orElse(CramPushedRegion.toPredicate(pushed)) // filter-derived pushdown

  override protected def planFile(f: PlanInput): FilePlan = {
    val file = f.path.toString
    val (major, _) = CramContainers.readFileDefinition(f.in)
    val size = f.size
    // records mode resolves interval contig names against the FILE's own
    // header dictionary (one O(1) container read per file at planning;
    // container mode keeps the refs-option/numeric resolution above)
    val pred: Option[ContainerPredicate] = traversal match {
      case None => containerPred
      case Some(ReadsTraversal(None, _)) => None
      case Some(ReadsTraversal(Some(ivs), keepUnmapped)) =>
        val hdr = CramRecordCodec.readSamHeader(f.in)
        Some(OverlapContainerPred(
          ivs.flatMap { iv =>
            val id = hdr.refId(iv.contig)
            if (id >= 0) Some(RefInterval(id, iv.start, iv.end)) else None
          }, keepUnmapped))
    }
    val start0 = CramContainers.FileDefinitionLength.toLong
    def range(s: Long, e: Long) = PlannedSplit(s, e, CramRangePartition(file, s, e, pred, _))
    if (limitHint >= 0 && pred.isEmpty)
      // limit fast path: one whole-file range partition, no `.crai` read,
      // no derive job — capped by the shell
      FilePlan(Seq(range(start0, size)))
    else f.sidecar(".crai", fresh = true)(CraiIndex.read) match {
      case Some(crai) =>
        // index route: container offsets come from `.crai` — O(index)
        // driver I/O, no header walk (the shape that matters at 100 TB).
        // A .crai older than its CRAM (in-place rewrite without
        // re-indexing) must not steer container seeks, and an unreadable
        // one only costs the index: the byte-range route below takes over
        val all = crai.entries.map(_.containerOffset).distinct.sorted
        val want: Set[Long] = pred match {
          case None => all.toSet
          case Some(OverlapContainerPred(rs, keepUnmapped)) =>
            // same slice-overlap selection; unmapped (−1) entries added
            // when the traversal wants the unplaced tail (−2 is already
            // kept by containerOffsets' multi-ref conservatism)
            rs.flatMap(r => crai.containerOffsets(r.refId, r.start1, r.end1)).toSet ++
              (if (keepUnmapped)
                crai.entries.filter(e => e.seqId == -1 || e.seqId == -2)
                  .map(_.containerOffset).toSet
               else Set.empty[Long])
          case Some(PushedContainerPred(refId, _, _)) if refId >= 0 =>
            // `.crai` entries record SLICE coordinates, not the header
            // start_pos the pushed predicate constrains, so prune on
            // seqId equality only (−2 kept defensively — superset) and
            // leave the start_pos bounds to the reader's header re-test
            crai.entries.filter(e => e.seqId == refId || e.seqId == -2)
              .map(_.containerOffset).toSet
          case Some(PushedContainerPred(_, _, _)) =>
            // negative pushed ids (unmapped −1, multi-ref −2): index
            // conventions vary (multi-ref containers may be indexed as
            // one entry PER reference with real seqIds; unmapped entries
            // may be absent), so seqId pruning could under-select — scan
            // all indexed containers and let the reader's header re-test
            // apply the predicate exactly
            all.toSet
        }
        // (offset, estimated container bytes) of the containers to scan
        val selected = all.zip(all.drop(1) :+ size).collect {
          case (o, next) if want.contains(o) => (o, next - o) // the tail includes the EOF container
        }
        // tile into partitions of ~splitSize, never splitting a container
        val groups = Seq.newBuilder[Seq[(Long, Long)]]
        var cur = Vector.empty[(Long, Long)]
        var bytes = 0L
        selected.foreach { case c @ (_, len) =>
          if (cur.nonEmpty && bytes + len > f.splitSize) { groups += cur; cur = Vector.empty; bytes = 0L }
          cur :+= c; bytes += len
        }
        if (cur.nonEmpty) groups += cur
        FilePlan(groups.result().map { g =>
          // the reader visits only the selected containers: hints and
          // plannedBytes cover those, not the containers between them
          PlannedSplit(g.map { case (o, len) => (o, o + len) }, CramInputPartition(file, g.map(_._1).toArray, pred, _))
        }, if (pred.isDefined) selected.iterator.map(_._2).sum else 0L)
      case None =>
        // no index: plain byte-range splits — container discovery happens
        // EXECUTOR-side (each reader snaps its range start to the first
        // CRC-confirmed container boundary, CramContainers.findBoundary).
        // The driver does O(1) I/O per file: file definition + size. The
        // reference walks every container header on the driver here
        // (CramSource.java:121-151) — O(file bytes) of driver I/O before
        // the first task, a scale-killer this path must not inherit.
        // Predicate pruning runs in the reader (it sees each header
        // anyway); each container belongs to the split containing its
        // START offset.
        // first-contact derivation: run the boundary snap + header walk
        // ONCE as a tiny distributed job, write the .crai back, re-plan
        // O(index)
        if (options.get("deriveindex").exists(_.toBoolean) && graft.sources.DeriveIndex.deriveCramCrai(f, major))
          return planFile(f) // .crai now exists → indexed route
        FilePlan(
          if (major < 3)
            // CRAM 2.x container headers carry no CRC32, so a mid-range
            // boundary snap can't be validated — one split per file (the
            // gzip-fallback convention; 2.x files wanting parallel scans
            // should carry a `.crai` or be rewritten as v3)
            Seq(range(start0, size))
          else f.tiles(start0, size).map { case (s, e) => range(s, e) })
    }
  }

  override protected def readerFactory(ctx: ReadContext): PartitionReaderFactory = {
    val req = required
    traversal match {
      case Some(t) =>
        val fasta = options.get("fasta")
        val ak = graft.sources.bam.TagCols.attrKeys(options)
        (p: InputPartition) =>
          new CramRecordsPartitionReader(p.asInstanceOf[CramPartition], t, fasta, ctx, req, ak)
      case None =>
        (p: InputPartition) => new CramPartitionReader(p.asInstanceOf[CramPartition], ctx, req)
    }
  }
}

object CramScan {
  /** One index-derivation tile `[start, end)`: the range reader's strict
    * [[ContainerWalk]] (a malformed header throws), each container holding
    * records kept as the [[CraiEntry]] a sink part writer reports for it —
    * record-less containers (the records-mode SAM-header container) are
    * not slices.
    */
  def indexTile(file: String, major: Int)(in: graft.bgzf.SeekableInput, start: Long, end: Long): Seq[CraiEntry] = {
    val walk = new ContainerWalk(in, CramRangePartition(file, start, end, None), major,
      CramContainers.FileDefinitionLength.toLong, new StringencyLog(file, Stringency.Strict))
    Iterator.continually(walk.next()).takeWhile(_ != null).filter(_.nRecords > 0)
      .map(c => CraiEntry(c.refSeqId, c.startPos, c.alignmentSpan, c.offset, 0, c.dataLength)).toVector
  }
}

/** The containers of one file a CRAM reader owns. */
sealed trait CramPartition extends InputPartition {
  def file: String
  def pred: Option[ContainerPredicate]
  def hosts: Array[String]
  override def preferredLocations(): Array[String] = hosts
}

/** Indexed route: the `.crai`-listed container offsets. */
case class CramInputPartition(file: String, offsets: Array[Long],
                              pred: Option[ContainerPredicate],
                              hosts: Array[String] = Array.empty) extends CramPartition

/** Unindexed route: a raw byte range; the READER discovers the first
  * container boundary at-or-after `start` and owns every container whose
  * start offset falls in `[start, end)`.
  */
case class CramRangePartition(file: String, start: Long, end: Long,
                              pred: Option[ContainerPredicate],
                              hosts: Array[String] = Array.empty) extends CramPartition

private[cram] object ContainerRow {
  def getters(required: StructType): Array[CramContainer => Any] =
    required.fieldNames.map[CramContainer => Any] {
      case "offset" => c => c.offset
      case "data_length" => c => c.dataLength
      case "ref_seq_id" => c => c.refSeqId
      case "start_pos" => c => c.startPos
      case "span" => c => c.alignmentSpan
      case "n_records" => c => c.nRecords
      case "n_blocks" => c => c.nBlocks
      case other => throw new IllegalArgumentException(s"unknown column $other")
    }

  def toRow(c: CramContainer, getters: Array[CramContainer => Any]): InternalRow = {
    val vals = new Array[Any](getters.length)
    var j = 0
    while (j < vals.length) { vals(j) = getters(j)(c); j += 1 }
    new GenericInternalRow(vals)
  }
}

/** The containers a partition owns, in file order, that pass its
  * predicate (a residual test: `.crai` pruning may overclaim). Indexed
  * partitions visit their listed offsets. Range partitions snap `start` to
  * the first CRC-confirmed container boundary (executor-side discovery —
  * the driver planned a bare byte range), starting at `dataStart` for the
  * file's first range, and follow the container chain while starts stay
  * inside the range: a container straddling `end` belongs to this split,
  * and the next split's own boundary search lands past it — exactly-once
  * ownership with zero coordination.
  *
  * A malformed header fails a strict scan. Lenient and permissive scans
  * drop it: a listed offset is independent of the next, and a range walk
  * re-syncs to the next CRC-confirmed boundary, so a skip never emits
  * garbage.
  */
private[cram] final class ContainerWalk(input: graft.bgzf.SeekableInput, p: CramPartition, major: Int,
                                        dataStart: Long, slog: StringencyLog) {
  private val size = input.size
  private var i = 0 // indexed: next position in the offsets
  private var off: Long = p match { // range: next container start
    case r: CramRangePartition =>
      if (r.start <= CramContainers.FileDefinitionLength) dataStart
      else CramContainers.findBoundary(input, r.start, size)
    case _ => 0L
  }

  /** The next owned container passing the predicate, or null. */
  def next(): CramContainer = {
    while (true) {
      val at = p match {
        case ip: CramInputPartition if i < ip.offsets.length => i += 1; ip.offsets(i - 1)
        case r: CramRangePartition if off < r.end && off < size => off
        case _ => return null
      }
      CramContainers.readHeaderOption(input, at, size, major) match {
        case Some(c) =>
          off += c.totalLength
          if (!c.isEof && c.offset >= dataStart && p.pred.forall(_.keep(c))) return c
        case None =>
          slog.reject(s"malformed CRAM container header at $at in ${p.file}", null, {
            val b = new Array[Byte](math.max(0L, math.min(32L, size - at)).toInt)
            StringencyLog.hex(b, 0, input.preadFully(at, b, 0, b.length))
          })
          // a range walk re-syncs to the next CRC-confirmed boundary
          if (p.isInstanceOf[CramRangePartition]) off = CramContainers.findBoundary(input, at + 1, size)
      }
    }
    null
  }
}

/** Container-level rows: one per owned container header. */
class CramPartitionReader(p: CramPartition, ctx: ReadContext, required: StructType)
    extends GraftReader(p.file, ctx, s"cram ${p.file}") {
  private val walk = new ContainerWalk(input, p, CramContainers.readFileDefinition(input)._1,
    CramContainers.FileDefinitionLength.toLong, slog)
  private val getters = ContainerRow.getters(required)

  override protected def advance(): InternalRow = walk.next() match {
    case null => null
    case c => ContainerRow.toRow(c, getters)
  }
}

/** Records-mode reader for both planning routes: each container the
  * [[ContainerWalk]] yields past the SAM-header container is decoded by the
  * native record codec, and the reads traversal is re-applied per RECORD
  * for exactness (container pruning may overclaim), as in the BAM reader.
  *
  * Per-partition setup cost is O(1): file definition + header container +
  * (for `fasta`) the `.fai`; reference bases are pread per slice span, so an
  * executor never holds a whole genome (reference CramSource.java:62-66
  * hands htsjdk a lazy ReferenceSource — same access pattern).
  */
class CramRecordsPartitionReader(
    p: CramPartition, traversal: ReadsTraversal, fastaPath: Option[String],
    ctx: ReadContext, required: StructType, attrKeys: Option[IndexedSeq[String]] = None)
    extends GraftReader(p.file, ctx, s"cram ${p.file}") {

  private val file = p.file
  private val size = input.size
  private val (major, _) = CramContainers.readFileDefinition(input)
  private val header = CramRecordCodec.readSamHeader(input)
  private val headerEnd: Long = {
    val hc = CramContainers.readContainerHeader(
      input, CramContainers.FileDefinitionLength.toLong, size, major)
    hc.offset + hc.totalLength
  }
  private val fastaOpened = fastaPath.map(FastaRefs.open(_, ctx.conf.conf, header.refName))
  private val fastaIn = fastaOpened.map(_._1)
  private val refSource: CramRefSource = fastaOpened.map(_._2).getOrElse(NoRefSource)
  // record-level field projection: pruned qualities/sequence/attributes are
  // not just left unparsed — blocks exclusively backing them are never
  // decompressed, and with seq pruned no reference window is fetched at all
  // (cigar/end always decode: the features that carry them are never gated).
  // tag_XX columns (tagColumns option) and a key-masked attributes map
  // (attrKeys) decode ONLY those tags — a wanted tag's block inflates,
  // every other tag block stays compressed; the row layer filters the
  // decoded superset back down to attrKeys
  private val fieldMask = graft.bam.BamFieldMask.fromColumns(required.fieldNames.toSet, attrKeys)
  private val getters = RecordToRow.getters(required, fieldMask.attrKeys.map(_.toSet))
  private val walk = new ContainerWalk(input, p, major, headerEnd, slog)

  private var recIt: Iterator[AlignmentRecord] = Iterator.empty

  /** Decode `c`'s payload into `recIt`; false = container rejected (the
    * NEXT container is independent, so a payload failure drops only this
    * one).
    */
  private def decodeInto(c: CramContainer): Boolean = {
    var payload = Array.emptyByteArray
    try {
      payload = CramRecordCodec.containerPayload(input, c)
      recIt = CramRecordCodec.decodeContainer(payload, major, header, refSource, fieldMask).iterator
      true
    } catch {
      case e: graft.cram.ReferenceRequiredException => throw e
      case e: Exception =>
        slog.reject(s"undecodable CRAM container payload at ${c.offset} in $file", e,
          StringencyLog.hex(payload, 0, payload.length))
        false
    }
  }

  /** Move to the next selected+decoded container; false when exhausted. */
  private def nextContainer(): Boolean = {
    var c = walk.next()
    while (c != null && !decodeInto(c)) c = walk.next()
    c != null
  }

  override protected def advance(): InternalRow = {
    while (true) {
      while (recIt.hasNext) {
        val r = recIt.next()
        if (traversal.keep(r)) return RecordToRow.toRow(r, getters)
      }
      if (!nextContainer()) return null
    }
    null
  }

  override protected def closeExtra(): Unit = fastaIn.foreach(_.close())
}

// ---- write path -----------------------------------------------------------

/** Single-file mode: file definition (+ SAM-header container in records
  * mode), headerless container parts, EOF container (the BamSink geometry,
  * reference CramSink.java:44-78); `.crai` entries collected per part and
  * rebased by the bytes that precede each part after the merge. Sharded
  * mode: each partition writes a COMPLETE standalone .cram, with a
  * per-shard `.crai` when requested. A part reports its `.crai` entries.
  */
case class CramSink(singleFile: Boolean, writeCrai: Boolean, schema: StructType,
                    recordsHeader: Option[SamHeader], perContainer: Int,
                    fastaPath: Option[String], wire: Int, tok3Names: Boolean,
                    fqzQuals: Boolean, gzipLevel: Int, conf: SerializableConf)
    extends SinkFormat[Seq[CraiEntry]] {
  override def partSuffix: String = ".cram"
  override def headerBytes(parts: Seq[Seq[CraiEntry]]): Array[Byte] = {
    val fd = CramContainers.encodeFileDefinition(minor = if (wire > 0) 1 else 0)
    recordsHeader.fold(fd)(fd ++ CramRecordWriter.encodeHeaderContainer(_))
  }
  override def terminatorBytes: Array[Byte] = CramContainers.encodeEofContainer()
  override def indexes(target: Path, parts: Seq[(Seq[CraiEntry], Long)], dataEnd: Long)
      : Seq[(String, java.io.OutputStream => Unit)] =
    if (!writeCrai) Nil
    else Seq(".crai" -> (o => CraiIndex.write(o, CramSink.crai(parts))))
  override def openPart(raw: java.io.OutputStream, sidecar: String => java.io.OutputStream)
      : PartEncoder[Seq[CraiEntry]] = recordsHeader match {
    case Some(h) => new CramRecordsPartWriter(this, h, raw, sidecar)
    case None => new CramSpecPartWriter(this, raw, sidecar)
  }
}

object CramSink {
  /** The `.crai` of a file made of `parts`, each at its `base` byte offset. */
  def crai(parts: Seq[(Seq[CraiEntry], Long)]): CraiIndex =
    CraiIndex(parts.flatMap { case (es, base) => es.map(e => e.copy(containerOffset = e.containerOffset + base)) })
}

/** Shared part framing: buffered container bytes with their offsets, the
  * EOF container and per-shard `.crai` in sharded mode.
  */
private abstract class CramPartWriter(s: CramSink, raw: java.io.OutputStream,
                                      sidecar: String => java.io.OutputStream)
    extends PartEncoder[Seq[CraiEntry]] {
  protected val out = new java.io.BufferedOutputStream(raw, 1 << 16)
  protected var written = 0L
  protected val entries = Seq.newBuilder[CraiEntry]
  protected def put(bytes: Array[Byte]): Unit = { out.write(bytes); written += bytes.length }
  protected def flush(): Unit = ()
  override def finish(): Seq[CraiEntry] = {
    flush()
    if (!s.singleFile) out.write(CramContainers.encodeEofContainer())
    out.close()
    val es = entries.result()
    if (s.writeCrai && !s.singleFile) {
      val co = sidecar(".crai")
      try CraiIndex.write(co, CraiIndex(es)) finally co.close()
    }
    es
  }
  override def abort(): Unit = out.close()
}

/** Container-spec writer (the default row model): rows are ref_seq_id,
  * start_pos, span, n_records, data_length with opaque zero payloads —
  * geometry without records; [[CramRecordsPartWriter]] is the record path.
  */
private final class CramSpecPartWriter(s: CramSink, raw: java.io.OutputStream,
                                       sidecar: String => java.io.OutputStream)
    extends CramPartWriter(s, raw, sidecar) {
  if (!s.singleFile) put(CramContainers.encodeFileDefinition())

  private def idx(n: String): Int = {
    val i = s.schema.fieldNames.indexOf(n)
    require(i >= 0, s"cram sink requires column $n")
    // ACCEPT_ANY_SCHEMA skips Spark's write-side validation, so enforce the
    // type here: reading an int from a non-int UnsafeRow field would
    // silently truncate (e.g. bigint 2^32 -> 0) into the container header
    require(s.schema.fields(i).dataType == IntegerType,
      s"cram sink column $n must be INT, got ${s.schema.fields(i).dataType.simpleString}")
    i
  }
  private val iRef = idx("ref_seq_id")
  private val iStart = idx("start_pos")
  private val iSpan = idx("span")
  private val iRecs = idx("n_records")
  private val iLen = idx("data_length")

  override def write(row: InternalRow): Unit = {
    val dataLength = row.getInt(iLen)
    require(dataLength >= 0, s"negative data_length $dataLength")
    val refSeqId = row.getInt(iRef)
    val startPos = row.getInt(iStart)
    val span = row.getInt(iSpan)
    entries += CraiEntry(refSeqId, startPos, span, written, 0, dataLength)
    put(CramContainers.encodeContainer(dataLength, refSeqId, startPos, span, row.getInt(iRecs)))
  }
}

/** Records-mode writer: rows are [[graft.bam.AlignmentRecord]]s, buffered
  * into containers of `perContainer` records and encoded by the v3 record
  * writer (one slice per container, the htsjdk-default slice size). The
  * slice record counters restart per part — headerless parts can't know
  * their predecessors' counts before the concat — which no CRAM reader
  * needs for correctness (counters exist for `.crai`-less seeking hints).
  */
private final class CramRecordsPartWriter(s: CramSink, header: SamHeader, raw: java.io.OutputStream,
                                          sidecar: String => java.io.OutputStream)
    extends CramPartWriter(s, raw, sidecar) {
  require(s.perContainer > 0, s"recordsPerContainer must be positive, got ${s.perContainer}")
  // ACCEPT_ANY_SCHEMA skips Spark's write-side validation; fail fast on a
  // record column bound to the wrong type (a silent getInt over a bigint
  // field would truncate into the container payload)
  AlignmentRecord.schema.fields.foreach { f =>
    val i = s.schema.fieldNames.indexOf(f.name)
    // catalogString comparison ignores nullability flags (valueContainsNull)
    // while still catching silent-truncation types (bigint vs int)
    require(i < 0 || s.schema.fields(i).dataType.catalogString == f.dataType.catalogString,
      s"cram records sink column ${f.name} must be ${f.dataType.simpleString}, " +
        s"got ${s.schema.fields(i).dataType.simpleString}")
  }
  if (!s.singleFile) {
    put(CramContainers.encodeFileDefinition(minor = if (s.wire > 0) 1 else 0))
    put(CramRecordWriter.encodeHeaderContainer(header))
  }
  private val idx = RowToRecord.indices(s.schema)
  private val buf = scala.collection.mutable.ArrayBuffer.empty[AlignmentRecord]
  private var recordCounter = 0L
  // reference-based encode when the write carries a fasta option
  private val fastaOpened = s.fastaPath.map(p => FastaRefs.open(p, s.conf.conf, header.refName))
  private val refSource: CramRefSource = fastaOpened.map(_._2).getOrElse(NoRefSource)

  override protected def flush(): Unit = if (buf.nonEmpty) {
    val enc = CramRecordWriter.encodeContainer(buf.toIndexedSeq, header, recordCounter, refSource,
      s.wire, s.tok3Names, s.fqzQuals, s.gzipLevel)
    entries += enc.craiEntry.copy(containerOffset = written)
    put(enc.bytes)
    recordCounter += buf.length
    buf.clear()
  }

  override def write(row: InternalRow): Unit = {
    buf += RowToRecord.convert(row, idx)
    if (buf.length >= s.perContainer) flush()
  }
  override def close(): Unit = fastaOpened.foreach(_._1.close())
}

/** InternalRow (in dataframe column order) → AlignmentRecord: the CRAM
  * records sink's converter (the v3 record writer takes records).
  */
object RowToRecord {
  def indices(schema: StructType): BamRowEncoder.Idx = BamRowEncoder.indices(schema)

  def convert(row: InternalRow, x: BamRowEncoder.Idx): AlignmentRecord = {
    def str(i: Int): String = if (i < 0 || row.isNullAt(i)) null else row.getUTF8String(i).toString
    def int(i: Int): Int = if (i < 0 || row.isNullAt(i)) 0 else row.getInt(i)
    val attrs: Map[String, String] =
      if (x.attributes < 0 || row.isNullAt(x.attributes)) Map.empty
      else {
        val m = row.getMap(x.attributes)
        val ks = m.keyArray(); val vs = m.valueArray()
        (0 until m.numElements()).map { i =>
          val v = vs.getUTF8String(i)
          // the permissive table schema (valueContainsNull=true, which keeps
          // the write plan in codegen) no longer guards this path — fail
          // with the field named instead of an opaque NPE in the encoder
          if (v == null) throw new IllegalArgumentException(
            s"null value for attributes key '${ks.getUTF8String(i)}' (SAM tag values cannot be null)")
          ks.getUTF8String(i).toString -> v.toString
        }.toMap
      }
    AlignmentRecord(str(x.readName), int(x.flags), str(x.contig), int(x.start), int(x.end),
      int(x.mapq), str(x.cigar), str(x.mateContig), int(x.mateStart), int(x.tlen),
      str(x.seq), str(x.qual), attrs)
  }
}
