package graft.sources.sam

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import graft.bam.{BamFieldMask, RecordToRow, SamHeader}
import graft.sam.SamCodec
import graft.sources.{FilePlan, GraftProvider, GraftReader, GraftScan, PartEncoder, PlanInput, PlannedSplit,
  PushedRegion, ReadContext, ReadsTraversal, RecordFormat, SinkFormat, SplitTextReader}
import graft.sources.bam.TagCols

/** `format("sam")` — plain-text SAM scan/sink (reference SamSource.java:35-87,
  * SamSink.java:27-46). Text splits with exact line ownership; data lines
  * cannot start with '@' (QNAME charset excludes it), so header skipping is
  * a plain line filter, as in the reference.
  *
  * Supports the same `.option("tagColumns", "NM:int,RG:string")` typed-tag
  * projection as the BAM scan: requested tags are found by a boundary scan
  * of the raw optional-column tail, unrequested tag values are never
  * materialized (SamCodec.scanSelectedTags).
  */
class SamDataSource extends GraftProvider(SamFormat)

object SamFormat extends RecordFormat {
  override def name: String = "sam"
  override def schema(options: Map[String, String]): StructType = TagCols.schemaWith(options)
  /** Interval-translatable filters → reader-side record filter (SAM text has
    * no index, matching the reference's record-level-only path,
    * SamSource.java:68-77).
    */
  override def acceptsFilter(options: Map[String, String]): Filter => Boolean = PushedRegion.accepts
  override def scan(options: Map[String, String], required: StructType, pushed: Array[Filter],
                    limit: Int): Scan = new SamScan(options, required, pushed, limit)
  override def sink(path: String, level: Int, options: Map[String, String],
                    schema: StructType): SinkFormat[_] = {
    val refs = options.get("refs").map(SamHeader.parseRefsOption).getOrElse(IndexedSeq.empty)
    val header = options.get("headertext") match {
      case Some(t) => SamHeader(t, SamHeader.refsFromText(t))
      case None => SamHeader(refs)
    }
    SamSink(header, path.endsWith(".sam"), schema)
  }
}

class SamScan(options: Map[String, String], required: StructType,
              pushed: Array[Filter],
              limitHint: Int = -1) extends GraftScan("sam", options, required, limitHint) {
  override protected def describe: String =
    s" pushed=[${pushed.mkString(",")}]" +
      TagCols.attrKeys(options).map(k => s" attrKeys=[${k.mkString(",")}]").getOrElse("")

  private val traversal = ReadsTraversal(options, pushed)

  override protected def planFile(f: PlanInput): FilePlan = {
    // header text: leading @-lines of the file
    val headerText = SplitTextReader.lines(f.in, 0, Long.MaxValue, bgzf = false)
      .takeWhile(_.startsWith("@")).mkString("", "\n", "\n")
    val header = SamHeader(headerText, SamHeader.refsFromText(headerText))
    // limit fast path: one whole-file partition, capped by the shell
    val ranges = if (limitHint >= 0 && traversal.intervals.isEmpty) Seq((0L, f.size)) else f.tiles(0L, f.size)
    FilePlan(ranges.map { case (s0, e0) =>
      PlannedSplit(s0, e0, SamInputPartition(f.path.toString, s0, e0, header, traversal, _))
    })
  }

  override protected def readerFactory(ctx: ReadContext): PartitionReaderFactory = {
    val req = required
    val ak = TagCols.attrKeys(options)
    (partition: InputPartition) => new SamPartitionReader(
      partition.asInstanceOf[SamInputPartition], ctx, req, ak)
  }
}

case class SamInputPartition(file: String, splitStart: Long, splitEnd: Long,
    header: SamHeader, traversal: ReadsTraversal,
    hosts: Array[String] = Array.empty) // block hosts of the split's range
  extends InputPartition {
  override def preferredLocations(): Array[String] = hosts
}

class SamPartitionReader(p: SamInputPartition, ctx: ReadContext, required: StructType,
                         attrKeys: Option[IndexedSeq[String]] = None)
    extends GraftReader(p.file, ctx, s"${p.file} [${p.splitStart}, ${p.splitEnd})") {
  private val lines = SplitTextReader.cursor(input, p.splitStart, p.splitEnd, bgzf = false)
  // column-pruned decode mask: a projection without the full `attributes`
  // map skips the per-tag split, and a key-masked map (attrKeys and tag_XX
  // columns) boundary-scans the tail for just those tags
  private val mask = BamFieldMask.fromColumns(required.fieldNames.toSet, attrKeys)
  private val getters = RecordToRow.getters(required, mask.attrKeys.map(_.toSet))

  override protected def advance(): InternalRow = {
    while (lines.next()) {
      if (lines.len > 0 && lines.bytes(lines.off) != '@') {
        val line = lines.text
        // lenient salvages a line whose failure is confined to the optional
        // columns past the 11 mandatory SAM fields; only strict checks them
        val rec =
          try SamCodec.fromLine(line, p.header, mask, slog.strict)
          catch {
            case e: Exception =>
              val salvaged = slog.salvage(
                s"optional columns of SAM line in ${p.file} at ${lines.where}: ${e.getMessage}",
                SamCodec.fromLine(line.split('\t').take(11).mkString("\t"), p.header, mask))
              if (salvaged == null) slog.reject(s"bad SAM line in ${p.file} at ${lines.where}", e, lines.preview)
              salvaged
          }
        if (rec != null && p.traversal.keep(rec)) return RecordToRow.toRow(rec, getters)
      }
    }
    null
  }
}

// (row building is RecordToRow in BamModel.scala — shared by BAM/CRAM/SAM
// so column semantics can't drift between formats)

// ---- write path -----------------------------------------------------------

/** Single-file: headerless text parts after the header text, no terminator
  * (SamSink.java:37-45). Sharded: complete .sam per part.
  */
case class SamSink(header: SamHeader, singleFile: Boolean, schema: StructType)
    extends SinkFormat[Unit] {
  override def partSuffix: String = ".sam"
  override def headerBytes(parts: Seq[Unit]): Array[Byte] = header.text.getBytes("UTF-8")
  override def openPart(raw: java.io.OutputStream, sidecar: String => java.io.OutputStream)
      : PartEncoder[Unit] = new PartEncoder[Unit] {
    private val out = new java.io.BufferedOutputStream(raw, 1 << 16)
    // direct InternalRow → line-bytes encoder
    private val enc = new graft.sam.SamRowEncoder(schema)
    if (!singleFile) out.write(header.text.getBytes("UTF-8"))
    override def write(row: InternalRow): Unit = {
      val len = enc.encode(row)
      out.write(enc.buf, 0, len)
    }
    override def finish(): Unit = out.close()
    override def abort(): Unit = out.close()
  }
}
