package graft.sources.vcf

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import graft.sources.{CountingOutputStream, FilePlan, GenomicInterval, GraftProvider, GraftReader, GraftScan,
  LineCursor, PartEncoder, PlanInput, PlannedSplit, PushedRegion, ReadContext, RecordFormat, SinkFormat,
  SplitTextReader}
import graft.vcf.{Variant, VcfFormatMask, VcfHeader, VcfRowDecoder}

/** `format("vcf")` — VCF scan/sink over plain, BGZF (.vcf.bgz / BGZF .vcf.gz,
  * splittable), or plain-gzip (readable, single split) text, mirroring the
  * reference's VcfSource/VcfSink (VcfSource.java:88-129, VcfSink.java:27-68,
  * BGZFEnhancedGzipCodec.java:38-77).
  *
  * Read options: `splitSize`, `intervals` ("chr1:100-200,…"),
  * `formatFields` ("GT,DP" — decode only the listed FORMAT keys per sample;
  * the map-typed `fields` column then carries just those keys. Catalyst's
  * nested pruning already skips FORMAT parsing entirely when a query reads
  * only `genotypes[i].gt`; this option is for queries that consume the whole
  * genotype array, where map keys cannot be pruned automatically),
  * `infoFields` ("DP,AF" — the same contract for the INFO map: annotated
  * VCFs carry kilobyte CSQ/ANN payloads there, and unlisted values are
  * boundary-scanned, never materialized. A query that reads neither `info`
  * nor `end` skips INFO parsing entirely; `end` forces the END-key scan
  * back on, as does any interval predicate).
  * Write options: `vcfHeader` (literal ##-lines + #CHROM line) — else a
  * minimal header with sample names taken from the first record's genotypes;
  * path `.vcf` → single plain file, `.vcf.bgz`/`.vcf.gz` → single BGZF file
  * (with empty-block terminator), else sharded directory of complete .vcf.
  */
class VcfDataSource extends GraftProvider(VcfFormat)

object VcfFormat extends RecordFormat {
  override def name: String = "vcf"
  override def schema(options: Map[String, String]): StructType = Variant.schema
  /** Interval-translatable filters drive split pruning (via .tbi / .idx)
    * and reader-side filtering.
    */
  override def acceptsFilter(options: Map[String, String]): Filter => Boolean = PushedRegion.accepts
  override def scan(options: Map[String, String], required: StructType, pushed: Array[Filter],
                    limit: Int): Scan = new VcfScan(options, required, pushed, limit)
  override def sink(path: String, level: Int, options: Map[String, String],
                    schema: StructType): SinkFormat[_] = {
    val single = path.endsWith(".vcf") || path.endsWith(".vcf.bgz") || path.endsWith(".vcf.gz")
    val bgzf = path.endsWith(".bgz") || path.endsWith(".gz")
    // sharded mode: per-shard extension decides the shard codec (reference
    // VcfOutputFormat.java:24-71 — plain, gzip-named-BGZF, or BGZF shards)
    val shardSuffix = options.getOrElse("shardsuffix", ".vcf")
    require(Seq(".vcf", ".vcf.gz", ".vcf.bgz").contains(shardSuffix),
      s"unsupported shardSuffix $shardSuffix")
    VcfSink(options.get("vcfheader"), single, bgzf,
      options.get("writetbi").exists(_.toBoolean) && single && bgzf,
      // tribble `.idx` co-write: the plain-text counterpart of writeTbi
      options.get("writeidx").exists(_.toBoolean) && single && !bgzf,
      shardSuffix, level, schema)
  }
}

class VcfScan(options: Map[String, String], required: StructType,
              pushed: Array[Filter],
              limitHint: Int = -1) extends GraftScan("vcf", options, required, limitHint) {
  // FORMAT/INFO-field projection: validated at planning so a bad option
  // fails before any task launches
  private val formatKeys: Option[IndexedSeq[String]] =
    graft.vcf.VcfFormatMask.parseOption(options.get("formatfields"))
  private val infoKeys: Option[IndexedSeq[String]] =
    graft.vcf.VcfFormatMask.parseInfoOption(options.get("infofields"))
  override protected def describe: String =
    options.get("intervals").map(i => s" intervals=$i").getOrElse("") +
      s" pushed=[${pushed.mkString(",")}]" +
      formatKeys.map(k => s" formatFields=[${k.mkString(",")}]").getOrElse("") +
      infoKeys.map(k => s" infoFields=[${k.mkString(",")}]").getOrElse("")
  // genotype columns are decoded against the per-file sample list, so
  // shards with different sample sets would silently mislabel genotypes
  override protected def headerKind: String = "sample lists"

  private val intervals = PushedRegion.intervals(options, pushed)

  override protected def planFile(f: PlanInput): FilePlan = {
    val bgzf = SplitTextReader.isBgzf(f.in)
    val plainGzip = !bgzf && SplitTextReader.isPlainGzip(f.in)
    val header = VcfHeader.parse(SplitTextReader.allLines(f.in))
    def split(s0: Long, e0: Long) = PlannedSplit(s0, e0,
      VcfInputPartition(f.path.toString, s0, e0, header, bgzf, wholeGzip = false, intervals, _))
    // byte ranges whose blocks can hold overlapping records, sorted and
    // merged, plus their bytes before merging (the index span bytes)
    def pruned(ranges: Seq[(Long, Long)]): (Seq[(Long, Long)], Long) = {
      val rs = ranges.filter(r => r._1 < r._2).sortBy(_._1)
      (rs.foldLeft(List.empty[(Long, Long)]) {
        case ((ps, pe) :: rest, (s0, e0)) if s0 <= pe => (ps, math.max(pe, e0)) :: rest
        case (acc, r) => r :: acc
      }.reverse, rs.iterator.map(r => r._2 - r._1).sum)
    }
    def blockRange(b: Long, e: Long) =
      (graft.bgzf.Bgzf.blockStart(b), math.min(f.size, graft.bgzf.Bgzf.blockStart(e) + 1))
    // tabix split pruning: with intervals and a fresh `.tbi` next to a BGZF
    // file (reference TribbleIndexIntervalFilteringTextInputFormat
    // .java:33-73 / VcfSource.java:143-168); record-level residual filters
    // keep exactness
    def tbiRanges(): Option[(Seq[(Long, Long)], Long)] =
      if (!bgzf || intervals.isEmpty) None
      else f.sidecar(".tbi", fresh = true)(graft.index.TbiIndex.read).map { t =>
        pruned(intervals.get.flatMap(iv => t.spans(iv.contig, iv.start - 1, iv.end - 1))
          .map { case (bv, ev) => blockRange(bv, ev) })
      }
    // tribble `.idx` pruning — the plain-text counterpart of tabix
    // (reference loads either via IndexFactory, VcfSource.java:157). Index
    // positions are plain byte offsets for uncompressed text, BGZF virtual
    // offsets when htsjdk indexed a compressed file.
    def idxRanges(): Option[(Seq[(Long, Long)], Long)] =
      if (intervals.isEmpty) None
      else f.sidecar(".idx", fresh = true)(graft.index.TribbleIdx.read).map { t =>
        pruned(intervals.get.flatMap(iv => t.blocks(iv.contig, iv.start, iv.end))
          .map { case (s0, e0) => if (bgzf) blockRange(s0, e0) else (s0, math.min(f.size, e0)) })
      }
    // first-contact derivation (the VCF face of the BAM/CRAM deriveIndex
    // option): run the reader's line walk ONCE as a distributed job, write
    // the .tbi back, re-plan pruned
    def derived(): Option[(Seq[(Long, Long)], Long)] =
      if (bgzf && intervals.isDefined && !f.fs.exists(new Path(f.path.toString + ".tbi")) &&
          options.get("deriveindex").exists(_.toBoolean) && graft.sources.DeriveIndex.deriveVcfTbi(f))
        tbiRanges()
      else None
    val (splits, spanBytes) =
      if (plainGzip)
        // non-splittable: one whole-file partition (reference
        // BGZFEnhancedGzipCodec fallback semantics)
        (Seq(PlannedSplit(0L, f.size, VcfInputPartition(f.path.toString, 0L, Long.MaxValue, header,
          bgzf = false, wholeGzip = true, intervals, _))), 0L)
      else if (limitHint >= 0 && intervals.isEmpty)
        // limit fast path: one whole-file partition, no index I/O or split
        // tiling, capped by the shell
        (Seq(split(0L, f.size)), 0L)
      else tbiRanges().orElse(idxRanges()).orElse(derived()) match {
        case Some((ranges, bytes)) =>
          (ranges.flatMap { case (rs, re) => f.tiles(rs, re) }.map { case (s0, e0) => split(s0, e0) }, bytes)
        case None => (f.tiles(0L, f.size).map { case (s0, e0) => split(s0, e0) }, 0L)
      }
    FilePlan(splits, spanBytes, Some(header.samples))
  }

  override protected def readerFactory(ctx: ReadContext): PartitionReaderFactory = {
    val req = required
    val mask = graft.vcf.VcfFormatMask.from(req, formatKeys, infoKeys)
    (partition: InputPartition) => new VcfPartitionReader(
      partition.asInstanceOf[VcfInputPartition], ctx, req, mask)
  }
}

object VcfScan {
  // contig, POS and the END-aware end: no INFO map, no genotypes
  private val SpanMask = VcfFormatMask(genotypes = false, sample = false, gt = false, fields = false,
    fieldKeys = None, info = false, end = true)

  /** One index-derivation tile `[start, end)` of a BGZF VCF: the reader's
    * line walk and decoder (so the scan's END rule), each line added to a
    * [[graft.index.TbiBuilder]] exactly as the sink's part writer adds it.
    * None when the strict decoder rejects a line.
    */
  def indexTile(in: graft.bgzf.SeekableInput, start: Long, end: Long): Option[graft.index.TbiPartData] = {
    val lines = SplitTextReader.cursor(in, start, end, bgzf = true)
    val d = new VcfRowDecoder(new StructType(), Nil, SpanMask)
    val tbi = new graft.index.TbiBuilder
    var contig: String = null
    var contigBytes = Array.emptyByteArray
    try {
      while (lines.next()) {
        val b = lines.bytes
        if (lines.len > 0 && b(lines.off) != '#') {
          d.parse(b, lines.off, lines.len)
          if (contig == null || !d.contigIs(contigBytes)) { contig = d.contig; contigBytes = contig.getBytes(UTF_8) }
          tbi.add(contig, d.start - 1, math.max(d.start, d.end) - 1, lines.start, lines.end)
        }
      }
      Some(tbi.result())
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}

case class VcfInputPartition(file: String, splitStart: Long, splitEnd: Long,
    header: VcfHeader, bgzf: Boolean, wholeGzip: Boolean,
    intervals: Option[Seq[GenomicInterval]],
    hosts: Array[String] = Array.empty) extends InputPartition {
  override def preferredLocations(): Array[String] = hosts
}

class VcfPartitionReader(p: VcfInputPartition, ctx: ReadContext, required: StructType,
                         mask0: VcfFormatMask = VcfFormatMask.All)
    extends GraftReader(p.file, ctx, s"${p.file} [${p.splitStart}, ${p.splitEnd})") {
  // the interval residual filter compares against the record's END-aware
  // span, so a pruned-away `end` column is forced back on whenever an
  // interval predicate is present — projection must never change which
  // records an interval scan returns
  private val mask =
    if (p.intervals.isDefined) mask0.copy(end = true) else mask0
  private val lines: LineCursor =
    if (p.wholeGzip) SplitTextReader.gzipCursor(input)
    else SplitTextReader.cursor(input, p.splitStart, p.splitEnd, p.bgzf)
  private val decoder = new VcfRowDecoder(required, p.header.samples, mask)
  private val intervals: Array[(Array[Byte], Int, Int)] = p.intervals.toArray.flatten
    .map(iv => (iv.contig.getBytes(UTF_8), iv.start, iv.end))

  private def keep(d: VcfRowDecoder): Boolean = intervals.isEmpty || intervals.exists {
    case (c, s, e) => d.start <= e && d.end >= s && d.contigIs(c)
  }

  override protected def advance(): InternalRow = {
    while (lines.next()) {
      val b = lines.bytes
      if (lines.len > 0 && b(lines.off) != '#' && decode(b, lines.off, lines.len) && keep(decoder))
        return decoder.row()
    }
    null
  }

  /** Whether the decoder holds the parsed line; false when it is rejected. */
  private def decode(b: Array[Byte], off: Int, len: Int): Boolean =
    try { decoder.parse(b, off, len); true }
    catch {
      case e: Exception =>
        slog.reject(s"bad VCF line in ${p.file} at ${lines.where}", e, lines.preview)
        false
    }
}

// ---- write path -----------------------------------------------------------

/** What one VCF part reports: the sample names its rows carry (for a
  * synthesized header) and its `.tbi` / `.idx` contributions.
  */
case class VcfPartMessage(samples: Seq[String], tbi: graft.index.TbiPartData,
                          idx: graft.index.TribblePartData)

/** Single-file: headerless parts after the header (BGZF-compressed, plus
  * the BGZF terminator, for compressed output — VcfSink.java:27-68).
  * Sharded: a complete file per partition (VcfSinkMultiple.java:20-44).
  * The header is the `vcfHeader` option, else a minimal one with the
  * sample names of the first row that has genotypes.
  */
case class VcfSink(headerOpt: Option[String], singleFile: Boolean, bgzf: Boolean,
                   writeTbi: Boolean, writeIdx: Boolean, partSuffix: String, level: Int,
                   schema: StructType) extends SinkFormat[VcfPartMessage] {
  override def headerBytes(parts: Seq[VcfPartMessage]): Array[Byte] = {
    val samples = parts.collectFirst { case m if m.samples.nonEmpty => m.samples }.getOrElse(Seq.empty)
    val text = headerOpt.getOrElse(VcfHeader(Seq("##fileformat=VCFv4.2"), samples).headerText)
      .getBytes("UTF-8")
    if (!bgzf) text
    else {
      val bytes = new java.io.ByteArrayOutputStream()
      val b = new graft.bgzf.BgzfOutputStream(bytes, writeEof = false, level = level)
      b.write(text); b.close()
      bytes.toByteArray
    }
  }
  override def terminatorBytes: Array[Byte] =
    if (bgzf) graft.bgzf.Bgzf.EofBlock else Array.emptyByteArray

  /** Each part's index contribution rebases by the bytes that precede it
    * after the merge; a non-sorted result skips the index.
    */
  override def indexes(target: Path, parts: Seq[(VcfPartMessage, Long)], dataEnd: Long)
      : Seq[(String, java.io.OutputStream => Unit)] = {
    def skip(opt: String, ext: String) = {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$opt: output $target is not coordinate-sorted; skipping $ext")
      Nil
    }
    val shifts = parts.map(_._2)
    val tbi = if (!writeTbi) Nil
      else graft.index.TbiPartData.mergeSorted(parts.map(_._1.tbi), shifts) match {
        case Some(idx) => Seq(".tbi" -> ((o: java.io.OutputStream) => graft.index.TbiIndex.write(o, idx)))
        case None => skip("writeTbi", ".tbi")
      }
    val tribble = if (!writeIdx) Nil
      else graft.index.TribblePartData.mergeSorted(parts.map(_._1.idx), shifts) match {
        case Some(idx) => Seq(".idx" -> ((o: java.io.OutputStream) =>
          graft.index.TribbleIdx.write(o, idx, target.getName, dataEnd)))
        case None => skip("writeIdx", ".idx")
      }
    tbi ++ tribble
  }

  override def openPart(raw: java.io.OutputStream, sidecar: String => java.io.OutputStream)
      : PartEncoder[VcfPartMessage] = new VcfPartWriter(this, raw)
}

private final class VcfPartWriter(s: VcfSink, raw: java.io.OutputStream)
    extends PartEncoder[VcfPartMessage] {
  private val bgzfOut: graft.bgzf.BgzfOutputStream =
    if (s.singleFile && s.bgzf) new graft.bgzf.BgzfOutputStream(raw, writeEof = false, level = s.level)
    else if (!s.singleFile && (s.partSuffix.endsWith(".gz") || s.partSuffix.endsWith(".bgz")))
      new graft.bgzf.BgzfOutputStream(raw, writeEof = true, level = s.level) // complete standalone file
    else null
  // plain text: byte positions above the write buffer for `.idx` offsets
  private val counting: CountingOutputStream =
    if (bgzfOut == null) new CountingOutputStream(new java.io.BufferedOutputStream(raw, 1 << 16))
    else null
  private val out: java.io.OutputStream = if (bgzfOut != null) bgzfOut else counting
  // direct InternalRow → line-bytes encoder (VcfRowEncoder): no per-row
  // Variant/Genotype/String/Map materialization
  private val enc = new graft.vcf.VcfRowEncoder(s.schema)
  private var samples: Seq[String] = Seq.empty
  private var wroteShardHeader = false
  private val tbi = if (s.writeTbi && bgzfOut != null) new graft.index.TbiBuilder else null
  private val tidx =
    if (s.writeIdx && s.singleFile && bgzfOut == null) new graft.index.TribbleIdxBuilder() else null

  override def write(row: InternalRow): Unit = {
    val len = enc.encode(row)
    if (samples.isEmpty && enc.lastHasGenotypes) samples = enc.samplesOf(row)
    if (!s.singleFile && !wroteShardHeader) {
      val text = s.headerOpt.getOrElse(VcfHeader(Seq("##fileformat=VCFv4.2"), samples).headerText)
      out.write(text.getBytes("UTF-8"))
      wroteShardHeader = true
    }
    val vBeg = if (tbi != null) bgzfOut.virtualOffset else 0L
    val pBeg = if (tidx != null) counting.count else 0L
    out.write(enc.buf, 0, len)
    if (tbi != null)
      tbi.add(enc.lastContig, enc.lastStart - 1, math.max(enc.lastStart, enc.lastEnd) - 1,
        vBeg, bgzfOut.virtualOffset)
    if (tidx != null)
      tidx.add(enc.lastContig, enc.lastStart, math.max(enc.lastStart, enc.lastEnd),
        pBeg, counting.count)
  }
  override def finish(): VcfPartMessage = {
    if (!s.singleFile && !wroteShardHeader)
      out.write(s.headerOpt.getOrElse(VcfHeader.Minimal.headerText).getBytes("UTF-8"))
    out.close()
    VcfPartMessage(samples, if (tbi != null) tbi.result() else null,
      if (tidx != null) tidx.result() else null)
  }
  override def abort(): Unit = out.close()
}
