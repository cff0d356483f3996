package graft.sources.fastq

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.fastq.{FastqCodec, FastqRecord}
import graft.sources.{FilePlan, GraftProvider, GraftReader, GraftScan, LineCursor, PartEncoder, PlanInput,
  PlannedSplit, ReadContext, RecordFormat, SinkFormat, SplitTextReader}

/** `format("fastq")` — splittable raw-read scan/sink over plain, BGZF, or
  * single-split gzip text. Beyond the reference's surface (disq starts at
  * htsjdk-aligned formats): FASTQ is the lake stage BEFORE alignment, and
  * at 100 TB the raw reads dwarf everything downstream.
  *
  * Split semantics: a RECORD belongs to the split that owns its header
  * line's position key (byte offset / BGZF block start — the
  * SplitTextReader ownership rule lifted from lines to 4-line records).
  * A split consumes its last record's trailing lines past the boundary;
  * the successor split detects its record phase with the double-confirmed
  * 4-line structure check (FastqCodec.detectPhase) and skips the spilled
  * lines — no record lost or duplicated at any split size.
  */
class FastqDataSource extends GraftProvider(FastqFormat)

object FastqFormat extends RecordFormat {
  override def name: String = "fastq"
  private val Suffixes = Seq(".fastq", ".fq", ".fastq.gz", ".fastq.bgz", ".fq.gz", ".fq.bgz")
  /** A path with a FASTQ suffix is one FASTQ file (the sink's single-file
    * mode, the `htsjdk` facade's dispatch).
    */
  def isFastq(path: String): Boolean = Suffixes.exists(path.endsWith)

  override def schema(options: Map[String, String]): StructType = FastqRecord.schema
  override def scan(options: Map[String, String], required: StructType, pushed: Array[Filter],
                    limit: Int): Scan = new FastqScan(options, required, limit)
  override def sink(path: String, level: Int, options: Map[String, String],
                    schema: StructType): SinkFormat[_] = {
    val single = isFastq(path)
    val shardSuffix = options.getOrElse("shardsuffix", ".fastq")
    require(Seq(".fastq", ".fq", ".fastq.gz", ".fastq.bgz").contains(shardSuffix),
      s"unsupported shardSuffix $shardSuffix")
    FastqSink(single, path.endsWith(".gz") || path.endsWith(".bgz"), shardSuffix, level, schema)
  }
}

class FastqScan(options: Map[String, String], required: StructType, limitHint: Int)
    extends GraftScan("fastq", options, required, limitHint) {
  override protected def planFile(f: PlanInput): FilePlan = {
    val bgzf = SplitTextReader.isBgzf(f.in)
    val wholeGzip = !bgzf && SplitTextReader.isPlainGzip(f.in)
    FilePlan(
      if (wholeGzip || limitHint >= 0)
        // plain gzip is single-split; the limit fast path is one
        // whole-file partition, capped by the shell
        Seq(PlannedSplit(0L, f.size,
          FastqInputPartition(f.path.toString, 0L, Long.MaxValue, bgzf, wholeGzip, _)))
      else f.tiles(0L, f.size).map { case (s0, e0) =>
        PlannedSplit(s0, e0, FastqInputPartition(f.path.toString, s0, e0, bgzf, wholeGzip = false, _))
      })
  }

  override protected def readerFactory(ctx: ReadContext): PartitionReaderFactory = {
    val req = required
    (partition: InputPartition) => new FastqPartitionReader(
      partition.asInstanceOf[FastqInputPartition], ctx, req)
  }
}

case class FastqInputPartition(file: String, splitStart: Long, splitEnd: Long,
    bgzf: Boolean, wholeGzip: Boolean,
    hosts: Array[String] = Array.empty) extends InputPartition {
  override def preferredLocations(): Array[String] = hosts
}

class FastqPartitionReader(p: FastqInputPartition, ctx: ReadContext, required: StructType)
    extends GraftReader(p.file, ctx, s"${p.file} [${p.splitStart}, ${p.splitEnd})") {
  // read UNBOUNDED from the split start: the cut is on the RECORD key
  // (header-line position), and a record whose header this split owns may
  // trail lines into the next split's byte range
  private val lines: Iterator[(Long, String)] = SplitTextReader.linesWithKeys(
    if (p.wholeGzip) SplitTextReader.gzipCursor(input)
    else SplitTextReader.cursor(input, p.splitStart, Long.MaxValue, p.bgzf))
  private val getters = FastqRowBuilder.getters(required)

  private val look = scala.collection.mutable.ArrayDeque.empty[(Long, String)]
  private def fill(n: Int): Unit = while (look.size < n && lines.hasNext) look += lines.next()

  // phase alignment: skip the tail lines of a record owned by the
  // predecessor split (count = detected phase). File start must be phase 0.
  private var aligned = false
  private def align(): Unit = {
    fill(8)
    if (look.isEmpty) { aligned = true; return }
    val phase =
      if (p.splitStart == 0 || p.wholeGzip) 0
      else FastqCodec.detectPhase(look.toIndexedSeq.map(_._2))
    if (phase < 0) {
      // no record starts in this window: with ≤3 lines they are the
      // spilled tail of the predecessor's last record (normal operation,
      // not an error); with more, the split landed in garbage, which
      // stringency arbitrates
      if (look.size > 3)
        slog.reject(s"cannot find FASTQ record phase at split ${p.splitStart} of ${p.file} at " +
          where(look.head._1), null, LineCursor.preview(look.head._2))
      look.clear()
    } else {
      var i = 0
      while (i < phase) { look.removeHead(); i += 1 }
    }
    aligned = true
  }

  override protected def advance(): InternalRow = {
    if (!aligned) align()
    while (true) {
      fill(4)
      if (look.isEmpty) return null
      if (look.head._1 >= p.splitEnd) return null // next split owns it
      if (look.size < 4) {
        slog.reject(s"truncated FASTQ record at end of ${p.file} at ${where(look.head._1)}", null,
          LineCursor.preview(look.head._2))
        return null
      }
      val (key, l0) = look.removeHead(); val l1 = look.removeHead()._2
      val l2 = look.removeHead()._2; val l3 = look.removeHead()._2
      try return FastqRowBuilder.build(FastqCodec.parse(l0, l1, l2, l3), getters)
      catch {
        case e: Exception =>
          slog.reject(s"bad FASTQ record in ${p.file} at ${where(key)}", e, LineCursor.preview(l0))
      }
    }
    null
  }

  /** Where the record with header-line key `key` starts, for error messages. */
  private def where(key: Long): String =
    if (p.wholeGzip) s"line $key" else if (p.bgzf) s"BGZF block at offset $key" else s"offset $key"
}

object FastqRowBuilder {
  type Getter = FastqRecord => Any
  def getters(required: StructType): Array[Getter] =
    required.fieldNames.map[Getter] {
      case "readName" => r => UTF8String.fromString(r.readName)
      case "comment" => r => if (r.comment == null) null else UTF8String.fromString(r.comment)
      case "seq" => r => UTF8String.fromString(r.seq)
      case "qual" => r => UTF8String.fromString(r.qual)
      case other => throw new IllegalArgumentException(s"unknown column $other")
    }
  def build(r: FastqRecord, getters: Array[Getter]): InternalRow = {
    val vals = new Array[Any](getters.length)
    var i = 0
    while (i < vals.length) { vals(i) = getters(i)(r); i += 1 }
    new GenericInternalRow(vals)
  }
}

// ---- write path -----------------------------------------------------------

/** Single-file: headerless parts (FASTQ has no header at all), plus a BGZF
  * terminator for compressed output. Sharded: one complete file per
  * partition.
  */
case class FastqSink(singleFile: Boolean, bgzf: Boolean, partSuffix: String, level: Int,
                     schema: StructType) extends SinkFormat[Unit] {
  override def terminatorBytes: Array[Byte] =
    if (bgzf) graft.bgzf.Bgzf.EofBlock else Array.emptyByteArray
  override def openPart(raw: java.io.OutputStream, sidecar: String => java.io.OutputStream)
      : PartEncoder[Unit] = new PartEncoder[Unit] {
    private val out: java.io.OutputStream =
      if (singleFile && bgzf) new graft.bgzf.BgzfOutputStream(raw, writeEof = false, level = level)
      else if (!singleFile && (partSuffix.endsWith(".gz") || partSuffix.endsWith(".bgz")))
        new graft.bgzf.BgzfOutputStream(raw, writeEof = true, level = level)
      else new java.io.BufferedOutputStream(raw, 1 << 16)
    // direct InternalRow → four-line record bytes
    private val enc = new graft.fastq.FastqRowEncoder(RowToFastq.indices(schema))
    override def write(row: InternalRow): Unit = {
      val len = enc.encode(row)
      out.write(enc.buf, 0, len)
    }
    override def finish(): Unit = out.close()
    override def abort(): Unit = out.close()
  }
}

/** Column positions of the FASTQ schema in the sink's input (-1 = no comment). */
object RowToFastq {
  case class Idx(readName: Int, comment: Int, seq: Int, qual: Int)
  def indices(schema: StructType): Idx = Idx(
    schema.fieldIndex("readName"),
    if (schema.fieldNames.contains("comment")) schema.fieldIndex("comment") else -1,
    schema.fieldIndex("seq"),
    schema.fieldIndex("qual"))
}
