package graft.bam

import java.io.{EOFException, IOException}
import java.nio.{ByteBuffer, ByteOrder}
import graft.bgzf.BgzfInputStream

/** BAM binary codec — header both directions, record decode — written from
  * the public SAM/BAM spec (samtools/hts-specs §4.2); records are encoded by
  * `BamRowEncoder`. The reference delegates this to htsjdk
  * (BAMRecordCodec); field layout it validates is documented at
  * /root/reference impl/formats/bam/BamRecordGuesser.java:80-96.
  */
/** Which expensive record fields a scan actually needs (column pruning).
  * `cigarAndEnd` gates the cigar walk that also yields `end`. `tagCols` are
  * the typed-tag projections (`tag_NM` → "NM"): each reads its value from
  * the record's decoded attributes map, which is then key-masked to the
  * requested tags unless the full `attributes` column is wanted — the walk
  * byte-skips every other tag value and stops once every requested tag is
  * found.
  */
// tagCols is an IndexedSeq, NOT an Array: case-class equals/hashCode on an
// Array compare by reference, so structurally identical masks would compare
// unequal if the mask were ever cached or used in plan equality
final case class BamFieldMask(cigarAndEnd: Boolean, seq: Boolean, qual: Boolean, attrs: Boolean,
                              tagCols: IndexedSeq[String] = Vector.empty,
                              name: Boolean = true,
                              /** `Some(keys)`: the `attributes` MAP is wanted but only
                                * these tag keys populate it — the walk decodes them
                                * selectively and byte-skips everything else (the
                                * `attrKeys` option / auto-projection rule). `None`
                                * with `attrs = true` is the full self-describing walk.
                                */
                              attrKeys: Option[IndexedSeq[String]] = None)
    extends Serializable {
  /** The record carries an attributes map: the column is wanted, or a
    * typed-tag column reads its value from it.
    */
  def decodesMap: Boolean = attrs || tagCols.nonEmpty
  /** The map is key-masked to [[maskedWanted]]: `attrKeys` restricts the
    * wanted column, or only typed-tag columns read the map.
    */
  def attrsMasked: Boolean = if (attrs) attrKeys.isDefined else tagCols.nonEmpty
  /** Tags the masked walk must surface: the map's keys plus any typed-tag
    * columns (whose getters pick from the same decoded superset). The row
    * layer filters the map back down to `attrKeys`.
    */
  @transient lazy val maskedWanted: IndexedSeq[String] =
    (attrKeys.getOrElse(Vector.empty) ++ tagCols).distinct
  /** [[maskedWanted]] plus CG, for records that might carry a spilled
    * ultralong CIGAR the decode has to reconstitute.
    */
  @transient lazy val maskedWantedCg: IndexedSeq[String] =
    if (maskedWanted.contains("CG")) maskedWanted else maskedWanted :+ "CG"
}

object BamFieldMask {
  val All = BamFieldMask(cigarAndEnd = true, seq = true, qual = true, attrs = true)

  /** Derive from the pruned column set Catalyst hands the scan, with the
    * `attributes` column key-masked to `attrKeys` when that column is read.
    */
  def fromColumns(cols: Set[String],
                  attrKeys: Option[IndexedSeq[String]] = None): BamFieldMask = BamFieldMask(
    cigarAndEnd = cols.contains("cigar") || cols.contains("end"),
    seq = cols.contains("seq"),
    qual = cols.contains("qual"),
    attrs = cols.contains("attributes"),
    tagCols = cols.filter(_.startsWith("tag_")).map(_.substring(4)).toVector.sorted,
    name = cols.contains("readName"),
    attrKeys = if (cols.contains("attributes")) attrKeys else None)
}

object BamCodec {

  val Magic: Array[Byte] = Array('B', 'A', 'M', 1).map(_.toByte)
  private val SeqNibbles = "=ACMGRSVTWYHKDBN"
  /** BAM's cigar op codes, by their 4-bit value. */
  val CigarOps = "MIDNSHP=X"

  // ---- header ----------------------------------------------------------

  def writeHeader(out: java.io.OutputStream, header: SamHeader): Unit = {
    val text = header.text.getBytes("UTF-8")
    val bb = ByteBuffer.allocate(4 + 4 + text.length + 4 +
      header.refs.map(r => 8 + r.name.length + 1).sum).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(Magic)
    bb.putInt(text.length)
    bb.put(text)
    bb.putInt(header.refs.length)
    header.refs.foreach { r =>
      val nb = r.name.getBytes("UTF-8")
      bb.putInt(nb.length + 1); bb.put(nb); bb.put(0.toByte); bb.putInt(r.length)
    }
    out.write(bb.array(), 0, bb.position())
  }

  def readHeader(in: BgzfInputStream): SamHeader = {
    val magic = new Array[Byte](4)
    in.readFully(magic, 0, 4)
    if (!magic.sameElements(Magic)) throw new IOException("not a BAM file (bad magic)")
    val lText = readIntLE(in)
    val text = new Array[Byte](lText)
    in.readFully(text, 0, lText)
    val nRef = readIntLE(in)
    val refs = (0 until nRef).map { _ =>
      val lName = readIntLE(in)
      val name = new Array[Byte](lName)
      in.readFully(name, 0, lName)
      val lRef = readIntLE(in)
      BamRef(new String(name, 0, lName - 1, "UTF-8"), lRef)
    }
    SamHeader(new String(text, "UTF-8"), refs.toIndexedSeq)
  }

  private def readIntLE(in: BgzfInputStream): Int = {
    val b = new Array[Byte](4)
    in.readFully(b, 0, 4)
    (b(0) & 0xff) | ((b(1) & 0xff) << 8) | ((b(2) & 0xff) << 16) | ((b(3) & 0xff) << 24)
  }

  // ---- record decode ---------------------------------------------------

  /** Read one record; null at clean EOF. `refs` resolves refID → name. */
  def readRecord(in: BgzfInputStream, header: SamHeader): AlignmentRecord = {
    if (in.atEof) return null
    val first = in.read()
    if (first < 0) return null
    val b = new Array[Byte](3)
    in.readFully(b, 0, 3)
    val blockSize = (first & 0xff) | ((b(0) & 0xff) << 8) | ((b(1) & 0xff) << 16) | ((b(2) & 0xff) << 24)
    if (blockSize < 32) throw new IOException(s"bad BAM record block_size $blockSize")
    val rec = new Array[Byte](blockSize)
    in.readFully(rec, 0, blockSize)
    decodeRecord(rec, blockSize, header)
  }

  def decodeRecord(rec: Array[Byte], blockSize: Int, header: SamHeader): AlignmentRecord =
    decodeRecord(rec, blockSize, header, BamFieldMask.All)

  /** Column-pruned decode: skip building the expensive string/map fields the
    * scan does not need (the "lazy record decode" the reference gets from
    * htsjdk, AbstractSamSource.java:66-69 — here driven by Catalyst's
    * SupportsPushDownRequiredColumns). Skipped fields are null/0.
    */
  def decodeRecord(rec: Array[Byte], blockSize: Int, header: SamHeader, mask: BamFieldMask): AlignmentRecord = {
    val bb = ByteBuffer.wrap(rec, 0, blockSize).order(ByteOrder.LITTLE_ENDIAN)
    val refId = bb.getInt
    val pos = bb.getInt
    val lReadName = bb.get & 0xff
    val mapq = bb.get & 0xff
    bb.getShort // bin — recomputed on encode
    val nCigarOp = bb.getShort & 0xffff
    val flag = bb.getShort & 0xffff
    val lSeq = bb.getInt
    val nextRefId = bb.getInt
    val nextPos = bb.getInt
    val tlen = bb.getInt
    val readName =
      if (mask.name) {
        val nameBytes = new Array[Byte](lReadName)
        bb.get(nameBytes)
        new String(nameBytes, 0, lReadName - 1, "UTF-8")
      } else {
        bb.position(bb.position() + lReadName) // name pruned: skip, no String
        null
      }
    var cigarStr: String = null
    var refLen = 0
    // CG-spill sentinel (kSmN, ops S then N) detected from the RAW ops so an
    // attrs-only projection (cigar pruned) still strips the internal CG tag —
    // the attribute set must not depend on which other columns were requested
    var rawSentinel = false
    if (mask.cigarAndEnd) {
      val cigarSb = new StringBuilder
      var i = 0
      while (i < nCigarOp) {
        val v = bb.getInt
        val opLen = v >>> 4
        val op = v & 0xf
        if (op > 8) throw new IOException(s"bad cigar op $op")
        val c = CigarOps.charAt(op)
        cigarSb.append(opLen).append(c)
        if (c == 'M' || c == 'D' || c == 'N' || c == '=' || c == 'X') refLen += opLen
        if (nCigarOp == 2) {
          if (i == 0) rawSentinel = op == 4 /* S */
          else rawSentinel &&= op == 3 /* N */
        }
        i += 1
      }
      cigarStr = cigarSb.toString
    } else {
      if (nCigarOp == 2) {
        val p = bb.position()
        rawSentinel = (bb.getInt(p) & 0xf) == 4 && (bb.getInt(p + 4) & 0xf) == 3
      }
      bb.position(bb.position() + 4 * nCigarOp)
    }
    var seqStr: String = null
    if (mask.seq) {
      val seqSb = new StringBuilder(lSeq)
      var i = 0
      while (i < (lSeq + 1) / 2) {
        val byte = bb.get & 0xff
        seqSb.append(SeqNibbles.charAt(byte >> 4))
        if (2 * i + 1 < lSeq) seqSb.append(SeqNibbles.charAt(byte & 0xf))
        i += 1
      }
      seqStr = seqSb.toString
    } else bb.position(bb.position() + (lSeq + 1) / 2)
    var qual: String = null
    if (mask.qual) {
      val qualBytes = new Array[Byte](lSeq)
      bb.get(qualBytes)
      qual =
        if (lSeq == 0) "*"
        else if ((qualBytes(0) & 0xff) == 0xff) "*"
        else { val sb = new StringBuilder(lSeq); qualBytes.foreach(q => sb.append((33 + (q & 0xff)).toChar)); sb.toString }
    } else bb.position(bb.position() + lSeq)
    // CG-spilled ultralong CIGAR: a 2-op kSmN sentinel with a CG:B,I tag
    // carries the real ops (SAMv1 §4.2.2). Reconstitute under column
    // pruning — when the scan wants the cigar but not the attributes, the
    // tag bytes are decoded just for this rare record shape; when it wants
    // attributes but not the cigar, the internal CG tag is still stripped.
    val mightBeSpilled = rawSentinel
    val attrs0 =
      if (mask.attrsMasked) {
        // key-masked map: wanted tags decode, everything else byte-skips
        decodeTagsSelected(bb,
          if (mightBeSpilled && mask.cigarAndEnd) mask.maskedWantedCg else mask.maskedWanted)
      }
      else if (mask.attrs || (mightBeSpilled && mask.cigarAndEnd)) decodeTags(bb) else null
    var finalCigar = cigarStr
    var finalRefLen = refLen
    var attrs = if (mask.decodesMap) attrs0 else null
    if (mightBeSpilled && attrs0 != null) attrs0.get("CG") match {
      case Some(cg) if cg.startsWith("B:I,") =>
        if (mask.cigarAndEnd) {
          val sb = new StringBuilder
          var rl = 0
          cg.substring(4).split(',').foreach { s =>
            val v = s.toLong
            val opLen = (v >>> 4).toInt
            val op = (v & 0xf).toInt
            if (op > 8) throw new IOException(s"bad CG cigar op $op")
            val c = CigarOps.charAt(op)
            sb.append(opLen).append(c)
            if (c == 'M' || c == 'D' || c == 'N' || c == '=' || c == 'X') rl += opLen
          }
          finalCigar = sb.toString
          finalRefLen = rl
        }
        if (attrs != null) attrs = attrs - "CG"
      case _ => // a genuine 2-op kSmN alignment without CG stays as-is
    }
    val start = if (pos < 0) 0 else pos + 1
    AlignmentRecord(
      readName = if (readName == "*") null else readName,
      flags = flag,
      contig = header.refName(refId),
      start = start,
      end = if (start > 0 && finalRefLen > 0) start + finalRefLen - 1 else 0,
      mapq = mapq,
      cigar = if (!mask.cigarAndEnd) null else if (nCigarOp == 0) "*" else finalCigar,
      mateContig = header.refName(nextRefId),
      mateStart = if (nextPos < 0) 0 else nextPos + 1,
      tlen = tlen,
      seq = if (!mask.seq) null else if (lSeq == 0) "*" else seqStr,
      qual = qual,
      attributes = attrs)
  }

  /** Key-masked map decode: walk the self-describing tag region, rendering
    * ONLY the `wanted` tags into the `tag -> "T:value"` Map shape
    * [[decodeTags]] produces; every other tag's value bytes are SKIPPED by
    * length arithmetic — Z/H strings scan to NUL without building a
    * string, B arrays jump n×elemSize — and the walk RETURNS as soon as
    * every distinct wanted tag has been found, so garbage beyond the last
    * requested tag is never read. A skip that would overrun the record
    * fails loudly (the region is desynced), never silently mis-frames the
    * next tag.
    */
  private[bam] def decodeTagsSelected(bb: ByteBuffer,
                                      wanted: IndexedSeq[String]): Map[String, String] = {
    val out = new Array[String](wanted.length)
    var found = 0
    while (bb.remaining() >= 3 && found < wanted.length) {
      val c0 = (bb.get & 0xff).toChar
      val c1 = (bb.get & 0xff).toChar
      val t = (bb.get & 0xff).toChar
      var slot = -1
      var i = 0
      while (i < wanted.length && slot < 0) {
        val w = wanted(i)
        if (w.length == 2 && w.charAt(0) == c0 && w.charAt(1) == c1) slot = i
        i += 1
      }
      if (slot >= 0) {
        val v = tagValue(bb, t)
        // a repeated wanted tag counts once: its later value wins, and the
        // walk still reaches every other wanted tag
        if (out(slot) == null) found += 1
        out(slot) = v
      } else {
        val skip = t match {
          case 'A' | 'c' | 'C' => 1
          case 's' | 'S' => 2
          case 'i' | 'I' | 'f' => 4
          case 'Z' | 'H' =>
            var n = 0
            while (bb.get != 0) n += 1 // scan to NUL, no allocation
            0
          case 'B' =>
            val sub = (bb.get & 0xff).toChar
            val n = bb.getInt
            val sz = sub match {
              case 'c' | 'C' => 1
              case 's' | 'S' => 2
              case 'i' | 'I' | 'f' => 4
              case x => throw new IOException(s"bad B subtype $x")
            }
            if (n < 0 || n.toLong * sz > bb.remaining())
              throw new IOException(s"B array overruns record (n=$n elem=$sz)")
            n * sz
          case x => throw new IOException(s"bad tag type $x")
        }
        if (skip > bb.remaining())
          throw new IOException(s"tag $c0$c1:$t value overruns record")
        bb.position(bb.position() + skip)
      }
    }
    slotsToMap(wanted, out)
  }

  /** The found slots of a key-masked walk as a map, in `wanted` order (the
    * entry order the `attributes` column emits).
    */
  private[graft] def slotsToMap(wanted: IndexedSeq[String], out: Array[String]): Map[String, String] = {
    val m = Map.newBuilder[String, String]
    var i = 0
    while (i < wanted.length) {
      if (out(i) != null) m += wanted(i) -> out(i)
      i += 1
    }
    m.result()
  }


  private def decodeTags(bb: ByteBuffer): Map[String, String] = {
    val m = Map.newBuilder[String, String]
    while (bb.remaining() >= 3) {
      val tag = new String(Array(bb.get, bb.get).map(b => (b & 0xff).toChar))
      m += tag -> tagValue(bb, (bb.get & 0xff).toChar)
    }
    m.result()
  }

  /** One tag value of wire type `t`, rendered "T:value". */
  private def tagValue(bb: ByteBuffer, t: Char): String = t match {
    case 'A' => "A:" + (bb.get & 0xff).toChar
    case 'c' => "c:" + bb.get.toInt
    case 'C' => "C:" + (bb.get & 0xff)
    case 's' => "s:" + bb.getShort.toInt
    case 'S' => "S:" + (bb.getShort & 0xffff)
    case 'i' => "i:" + bb.getInt
    case 'I' => "I:" + (bb.getInt.toLong & 0xffffffffL)
    case 'f' => "f:" + bb.getFloat
    case 'Z' => "Z:" + readNulString(bb)
    case 'H' => "H:" + readNulString(bb)
    case 'B' =>
      val sub = (bb.get & 0xff).toChar
      val n = bb.getInt
      // same corrupt-count guard as the selective walk's skip: fail with an
      // IOException instead of BufferUnderflowException (and never
      // allocate up to n strings first)
      val elemSize = sub match {
        case 'c' | 'C' => 1
        case 's' | 'S' => 2
        case 'i' | 'I' | 'f' => 4
        case x => throw new IOException(s"bad B subtype $x")
      }
      if (n < 0 || n.toLong * elemSize > bb.remaining())
        throw new IOException(s"B array overruns record (n=$n elem=$elemSize)")
      val vals = (0 until n).map { _ =>
        sub match {
          case 'c' => bb.get.toInt.toString
          case 'C' => (bb.get & 0xff).toString
          case 's' => bb.getShort.toInt.toString
          case 'S' => (bb.getShort & 0xffff).toString
          case 'i' => bb.getInt.toString
          case 'I' => (bb.getInt.toLong & 0xffffffffL).toString
          case _ => bb.getFloat.toString
        }
      }
      "B:" + sub + (if (vals.isEmpty) "" else "," + vals.mkString(","))
    case x => throw new IOException(s"bad tag type $x")
  }

  private def readNulString(bb: ByteBuffer): String = {
    val sb = new StringBuilder
    var c = bb.get
    while (c != 0) { sb.append((c & 0xff).toChar); c = bb.get }
    sb.toString
  }

  /** "10M2I3D" → packed (len<<4|op) ints. */
  def parseCigar(s: String): Array[Int] = {
    val out = Array.newBuilder[Int]
    var i = 0
    while (i < s.length) {
      var len = 0L
      while (i < s.length && s.charAt(i).isDigit) {
        len = len * 10 + (s.charAt(i) - '0'); i += 1
        // BAM packs the length into 28 bits; a larger value would wrap into
        // the op nibble silently (no real chromosome is that long — only a
        // corrupt input reaches this, and it must fail loudly). Checked per
        // digit, so no length is long enough to wrap first.
        require(len <= 0xFFFFFFF, s"cigar op length exceeds BAM's 28-bit field in $s")
      }
      require(i < s.length, s"bad cigar: $s")
      val op = CigarOps.indexOf(s.charAt(i))
      require(op >= 0, s"bad cigar op '${s.charAt(i)}' in $s")
      out += (len.toInt << 4) | op
      i += 1
    }
    out.result()
  }

  def cigarRefLength(ops: Array[Int]): Int = {
    var n = 0
    ops.foreach { v =>
      val op = v & 0xf
      // M, D, N, =, X consume reference
      if (op == 0 || op == 2 || op == 3 || op == 7 || op == 8) n += (v >>> 4)
    }
    n
  }
}
