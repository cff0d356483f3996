package graft.bam

import java.io.{IOException, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}

import graft.bgzf.BgzfOutputStream
import graft.index.BaiIndex

/** The object-model BAM writer: `AlignmentRecord` → wire bytes through
  * `String`s and a Scala `Map`, written from the public SAM/BAM spec
  * (samtools/hts-specs §4.2). It is the executable spec `BamRowEncoder` is
  * proven against (BamRowEncoderSpec, RowEncoderSweepSpec) and the way
  * tests build BAM fixtures from records.
  */
object BamSpecWriter {
  private val SeqNibbles = "=ACMGRSVTWYHKDBN"

  /** Write a complete BAM (header + records + EOF terminator). */
  def write(out: OutputStream, header: SamHeader, records: Iterator[AlignmentRecord]): Unit = {
    val bgzf = new BgzfOutputStream(out, writeEof = true)
    BamCodec.writeHeader(bgzf, header)
    records.foreach(r => bgzf.write(encodeRecord(r, header)))
    bgzf.close()
  }

  def writeFile(path: java.nio.file.Path, header: SamHeader, records: Iterator[AlignmentRecord]): Unit = {
    val os = java.nio.file.Files.newOutputStream(path)
    try write(os, header, records) finally os.close()
  }

  def encodeRecord(r: AlignmentRecord, header: SamHeader): Array[Byte] = {
    val name = if (r.readName == null || r.readName.isEmpty) "*" else r.readName
    val nameBytes = name.getBytes("UTF-8")
    require(nameBytes.length <= 254, s"read name too long: $name")
    val cigarOps0: Array[Int] =
      if (r.cigar == null || r.cigar == "*") Array.empty
      else BamCodec.parseCigar(r.cigar)
    // BAM's n_cigar_op field is uint16. Ultralong-read alignments (nanopore)
    // legitimately exceed 65535 ops; the SAMv1 spec's escape is the CG
    // spill: the CIGAR field holds the kSmN sentinel (k = query length
    // consumed, m = reference length consumed) and the real ops move to a
    // CG:B,I tag. Silent truncation here would misalign every downstream
    // byte of the record.
    val (cigarOps, tagAttrs) =
      if (cigarOps0.length <= 0xFFFF) (cigarOps0, r.attributes)
      else {
        var qlen = 0
        cigarOps0.foreach { v =>
          val op = v & 0xf // M I S = X consume query
          if (op == 0 || op == 1 || op == 4 || op == 7 || op == 8) qlen += (v >>> 4)
        }
        val rl = BamCodec.cigarRefLength(cigarOps0)
        val sentinel = Array((qlen << 4) | 4 /* S */, (rl << 4) | 3 /* N */)
        val cg = "B:I," +
          cigarOps0.iterator.map(v => (v.toLong & 0xffffffffL).toString).mkString(",")
        val base = if (r.attributes == null) Map.empty[String, String] else r.attributes
        (sentinel, base + ("CG" -> cg))
      }
    val seq = if (r.seq == null || r.seq == "*") "" else r.seq
    val lSeq = seq.length
    val qual: Array[Byte] =
      if (r.qual == null || r.qual == "*") Array.fill[Byte](lSeq)(0xff.toByte)
      else { require(r.qual.length == lSeq, "qual/seq length mismatch"); r.qual.map(c => (c - 33).toByte).toArray }
    val tags = encodeTags(tagAttrs)
    val size = 32 + nameBytes.length + 1 + 4 * cigarOps.length + (lSeq + 1) / 2 + lSeq + tags.length
    val bb = ByteBuffer.allocate(4 + size).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(size)
    val refId = header.refId(r.contig)
    // a contig absent from the dictionary must fail, not silently become
    // unmapped — a wrong `refs` option would otherwise corrupt every record
    // (htsjdk throws the same way)
    if (r.contig != null && refId < 0)
      throw new IllegalArgumentException(
        s"contig '${r.contig}' not in reference dictionary (refs option / header @SQ lines)")
    val pos = r.start - 1 // 1-based → 0-based; start=0 → -1 (unplaced)
    bb.putInt(refId)
    bb.putInt(pos)
    bb.put((nameBytes.length + 1).toByte)
    // uint8 / uint16 wire fields — out-of-range inputs must not wrap
    require(r.mapq >= 0 && r.mapq <= 255, s"mapq ${r.mapq} outside uint8")
    bb.put(r.mapq.toByte)
    val refLen = BamCodec.cigarRefLength(cigarOps)
    val bin = if (pos >= 0) BaiIndex.reg2bin(pos, if (refLen > 0) pos + refLen else pos + 1) else 4680
    bb.putShort(bin.toShort)
    bb.putShort(cigarOps.length.toShort)
    require(r.flags >= 0 && r.flags <= 0xFFFF, s"flags ${r.flags} outside uint16")
    bb.putShort(r.flags.toShort)
    bb.putInt(lSeq)
    bb.putInt(header.refId(r.mateContig))
    bb.putInt(r.mateStart - 1)
    bb.putInt(r.tlen)
    bb.put(nameBytes); bb.put(0.toByte)
    cigarOps.foreach(bb.putInt)
    var i = 0
    while (i < lSeq) {
      val hi = seqNibble(seq.charAt(i))
      val lo = if (i + 1 < lSeq) seqNibble(seq.charAt(i + 1)) else 0
      bb.put(((hi << 4) | lo).toByte)
      i += 2
    }
    bb.put(qual)
    bb.put(tags)
    bb.array()
  }

  private def seqNibble(c: Char): Int = {
    val i = SeqNibbles.indexOf(c.toUpper)
    if (i < 0) 15 else i // unknown base → N
  }

  private def encodeTags(attrs: Map[String, String]): Array[Byte] = {
    if (attrs == null || attrs.isEmpty) return Array.emptyByteArray
    val bb = ByteBuffer.allocate(attrs.iterator.map(t => 8 + t._2.length * 4 + 16).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    // sorted for deterministic bytes (Map iteration order is not stable)
    attrs.toSeq.sortBy(_._1).foreach { case (tag, typed) =>
      TagText.check(tag, typed)
      bb.put(tag.charAt(0).toByte); bb.put(tag.charAt(1).toByte)
      val t = typed.charAt(0)
      val v = typed.substring(2)
      bb.put(t.toByte)
      t match {
        case 'A' => bb.put(v.charAt(0).toByte)
        case 'c' => bb.put(v.toInt.toByte)
        case 'C' => bb.put(v.toInt.toByte)
        case 's' => bb.putShort(v.toInt.toShort)
        case 'S' => bb.putShort(v.toInt.toShort)
        case 'i' => bb.putInt(v.toInt)
        case 'I' => bb.putInt(v.toLong.toInt)
        case 'f' => bb.putFloat(v.toFloat)
        case 'Z' => bb.put(v.getBytes("UTF-8")); bb.put(0.toByte)
        case 'H' => bb.put(v.getBytes("UTF-8")); bb.put(0.toByte)
        case 'B' =>
          val parts = v.split(',')
          val sub = parts(0).charAt(0)
          bb.put(sub.toByte)
          bb.putInt(parts.length - 1)
          parts.iterator.drop(1).foreach { p =>
            sub match {
              case 'c' | 'C' => bb.put(p.toInt.toByte)
              case 's' | 'S' => bb.putShort(p.toInt.toShort)
              case 'i' => bb.putInt(p.toInt)
              case 'I' => bb.putInt(p.toLong.toInt)
              case 'f' => bb.putFloat(p.toFloat)
              case x => throw new IOException(s"bad B subtype $x")
            }
          }
        case x => throw new IOException(s"bad tag type $x")
      }
    }
    java.util.Arrays.copyOf(bb.array(), bb.position())
  }
}
