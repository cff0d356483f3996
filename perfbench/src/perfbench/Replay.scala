package perfbench

import java.util.zip.Inflater

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.types.StructType

import graft.bgzf.{Bgzf, BgzfBlockCompressor}

/** Single-threaded replays of one layer's public functions over the exact
  * bytes or rows an operation handled. They time that layer's work in
  * isolation (the executor interleaves it with everything else) and count
  * it; they run after the measured window, off the blocking path.
  */
object Replay {
  final case class Inflated(blocks: Long, bytes: Long, ms: Double, data: Array[Byte],
                            blockStarts: Array[Long], blockOffsets: Array[Int])

  private def blockLen(file: Array[Byte], at: Long): Int =
    Bgzf.parseBlockLength(file, at.toInt, file.length - at.toInt)

  /** Inflate the blocks starting in [from, until) plus `extra` blocks after.
    * A `from` inside a block moves to the next block header, as a split
    * reader does.
    */
  def inflate(file: Array[Byte], from: Long, until: Long, extra: Int = 0): Inflated = {
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](Bgzf.MaxBlockSize)
    val inf = new Inflater(true)
    val starts = Array.newBuilder[Long]
    val offs = Array.newBuilder[Int]
    var p = from
    while (p < until && p < file.length && blockLen(file, p) <= 0) p += 1
    var blocks = 0L
    var left = extra
    var ns = 0L
    try {
      while (p < file.length && (p < until || left > 0)) {
        if (p >= until) left -= 1
        val len = blockLen(file, p)
        require(len > 0, s"no BGZF block at offset $p")
        val t0 = System.nanoTime()
        val n = Bgzf.inflateBlock(file, p.toInt, len, buf, inf)
        ns += System.nanoTime() - t0
        starts += p
        offs += out.size()
        out.write(buf, 0, n)
        blocks += 1
        p += len
      }
    } finally inf.end()
    val data = out.toByteArray
    Inflated(blocks, data.length.toLong, ns / 1e6, data, starts.result(), offs.result())
  }

  final case class Decoded(records: Long, ms: Double)

  private def le32(a: Array[Byte], p: Int): Int =
    (a(p) & 0xff) | ((a(p + 1) & 0xff) << 8) | ((a(p + 2) & 0xff) << 16) | ((a(p + 3) & 0xff) << 24)

  /** Decode the BAM records of a partition's voff range with `mask`. */
  def decodeBam(inf: Inflated, fromVoff: Long, untilVoff: Long,
                header: graft.bam.SamHeader, mask: graft.bam.BamFieldMask): Decoded = {
    def pos(voff: Long): Int = {
      val i = java.util.Arrays.binarySearch(inf.blockStarts, Bgzf.blockStart(voff))
      if (i >= 0) inf.blockOffsets(i) + Bgzf.intraOffset(voff) else inf.data.length
    }
    var p = pos(fromVoff)
    val end = pos(untilVoff)
    var buf = new Array[Byte](1 << 16)
    var n = 0L
    val t0 = System.nanoTime()
    while (p + 4 <= end) {
      val size = le32(inf.data, p)
      if (size > buf.length) buf = new Array[Byte](size)
      System.arraycopy(inf.data, p + 4, buf, 0, size)
      graft.bam.BamCodec.decodeRecord(buf, size, header, mask)
      p += 4 + size
      n += 1
    }
    Decoded(n, (System.nanoTime() - t0) / 1e6)
  }

  /** Decode the VCF data lines a split owns. The lines come from the
    * readers' own split rule (`SplitTextReader.lines`) and are read
    * untimed; only `VcfCodec.fromLine` is timed.
    */
  def decodeVcf(file: Array[Byte], p: graft.sources.vcf.VcfInputPartition,
                mask: graft.vcf.VcfFormatMask): Decoded = {
    val in = graft.bgzf.SeekableInput.ofBytes(file)
    val lines = graft.sources.SplitTextReader.lines(in, p.splitStart, p.splitEnd, bgzf = true)
      .filter(l => l.nonEmpty && l.charAt(0) != '#').toArray
    val samples = p.header.samples
    val t0 = System.nanoTime()
    lines.foreach(graft.vcf.VcfCodec.fromLine(_, samples, mask, null))
    Decoded(lines.length.toLong, (System.nanoTime() - t0) / 1e6)
  }

  /** Deflate replay: recompress every data block of a BGZF file. */
  def deflate(file: Array[Byte], level: Int): (Long, Double) = {
    val all = inflate(file, 0, file.length.toLong)
    val c = new BgzfBlockCompressor(level)
    var ns = 0L
    var bytes = 0L
    try {
      var i = 0
      while (i < all.blockOffsets.length) {
        val from = all.blockOffsets(i)
        val to = if (i + 1 < all.blockOffsets.length) all.blockOffsets(i + 1) else all.data.length
        if (to > from) {
          val t0 = System.nanoTime()
          bytes += c.compress(all.data, from, to - from).length
          ns += System.nanoTime() - t0
        }
        i += 1
      }
    } finally c.end()
    (bytes, ns / 1e6)
  }

  def encodeBam(rows: Array[InternalRow], schema: StructType, header: graft.bam.SamHeader): Double = {
    val enc = new graft.bam.BamRowEncoder(schema, header)
    val t0 = System.nanoTime()
    rows.foreach(enc.encode)
    (System.nanoTime() - t0) / 1e6
  }

  def encodeVcf(rows: Array[InternalRow], schema: StructType): Double = {
    val enc = new graft.vcf.VcfRowEncoder(schema)
    val t0 = System.nanoTime()
    rows.foreach(enc.encode)
    (System.nanoTime() - t0) / 1e6
  }

  /** Index replay for one interval: (load ms, query µs, covered bytes). */
  final case class IndexProbe(loadMs: Double, queryUs: Double, spanBytes: Long)

  private def coveredBytes(file: Array[Byte], spans: Seq[(Long, Long)]): Long = {
    val ranges = spans.map { case (b, e) =>
      val s = Bgzf.blockStart(e)
      (Bgzf.blockStart(b), s + math.max(0, blockLen(file, s)))
    }.sortBy(_._1)
    ranges.foldLeft(List.empty[(Long, Long)]) {
      case ((ps, pe) :: rest, (s, e)) if s <= pe => (ps, math.max(pe, e)) :: rest
      case (acc, r) => r :: acc
    }.map { case (s, e) => e - s }.sum
  }

  def baiProbe(indexPath: String, file: Array[Byte], refId: Int, start: Int, end: Int): IndexProbe = {
    val t0 = System.nanoTime()
    val in = graft.sources.HadoopIO.open(new org.apache.hadoop.fs.Path(indexPath), new org.apache.hadoop.conf.Configuration())
    val idx = try graft.index.BaiIndex.read(in) finally in.close()
    val t1 = System.nanoTime()
    val spans = idx.spans(refId, start - 1, end - 1)
    val t2 = System.nanoTime()
    IndexProbe((t1 - t0) / 1e6, (t2 - t1) / 1e3, coveredBytes(file, spans))
  }

  def tbiProbe(indexPath: String, file: Array[Byte], contig: String, start: Int, end: Int): IndexProbe = {
    val t0 = System.nanoTime()
    val in = graft.sources.HadoopIO.open(new org.apache.hadoop.fs.Path(indexPath), new org.apache.hadoop.conf.Configuration())
    val idx = try graft.index.TbiIndex.read(in) finally in.close()
    val t1 = System.nanoTime()
    val spans = idx.spans(contig, start - 1, end - 1)
    val t2 = System.nanoTime()
    IndexProbe((t1 - t0) / 1e6, (t2 - t1) / 1e3, coveredBytes(file, spans))
  }

  /** Inflate + decode replay of one planned scan (all its partitions). */
  final case class ScanReplay(blocks: Long, bytes: Long, inflateMs: Double, records: Long, decodeMs: Double)

  def scanBam(file: Array[Byte], parts: Seq[InputPartition], mask: graft.bam.BamFieldMask): ScanReplay =
    parts.collect { case p: graft.sources.bam.BamInputPartition if p.chunkStartVoff >= 0 => p }
      .foldLeft(ScanReplay(0, 0, 0, 0, 0)) { (acc, p) =>
        val inf = inflate(file, Bgzf.blockStart(p.chunkStartVoff), Bgzf.blockStart(p.chunkEndVoff),
          extra = if (Bgzf.intraOffset(p.chunkEndVoff) > 0) 1 else 0)
        val d = decodeBam(inf, p.chunkStartVoff, p.chunkEndVoff, p.header, mask)
        ScanReplay(acc.blocks + inf.blocks, acc.bytes + inf.bytes, acc.inflateMs + inf.ms,
          acc.records + d.records, acc.decodeMs + d.ms)
      }

  def scanVcf(file: Array[Byte], parts: Seq[InputPartition], mask: graft.vcf.VcfFormatMask): ScanReplay =
    parts.collect { case p: graft.sources.vcf.VcfInputPartition => p }
      .foldLeft(ScanReplay(0, 0, 0, 0, 0)) { (acc, p) =>
        val inf = inflate(file, p.splitStart, math.min(p.splitEnd, file.length.toLong), extra = 1)
        val d = decodeVcf(file, p, mask)
        ScanReplay(acc.blocks + inf.blocks, acc.bytes + inf.bytes, acc.inflateMs + inf.ms,
          acc.records + d.records, acc.decodeMs + d.ms)
      }
}
