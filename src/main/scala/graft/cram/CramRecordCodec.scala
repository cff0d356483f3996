package graft.cram

import java.io.IOException
import graft.bam.{AlignmentRecord, SamHeader}

/** CRAM record-layer decode (hts-specs CRAM v3.0 §8–10; CRAM v2.1 for the
  * no-CRC container/block variants): compression-header maps, slice
  * structure, per-record data series, read features, and reference-based
  * sequence reconstruction. The reference delegates this layer to htsjdk
  * (CramSource.java:57-151 wraps `CRAMFileReader`); here it is implemented
  * directly against the public spec so CRAM reads decode inside DSv2
  * partition readers with no native dependency.
  *
  * Scale shape: decode is streaming per-slice — one slice's blocks are
  * resident at a time, records iterate lazily out of a bounded buffer
  * (slices are ~1–60k records by construction), and reference bases are
  * fetched per-slice for the slice's own span only.
  */
object CramRecordCodec {

  // ---- blocks --------------------------------------------------------------

  final case class Block(method: Int, ctype: Int, cid: Int, data: Array[Byte])

  /** Read one block at `off`; returns the block and the offset past it.
    * Methods: 0 raw, 1 gzip, 2 bzip2, 3 lzma/xz, 4 rANS-4x8 (v3.0),
    * 5 rANS-Nx16, 6 adaptive arithmetic, 7 fqzcomp, 8 name tokenizer
    * (the full 3.1 method set; byte-format interop is validated by
    * round-trip and structural specs — no htslib exists in this
    * environment to cross-write foreign fixtures).
    */
  def readBlock(buf: Array[Byte], off: Int, major: Int): (Block, Int) = {
    val method = buf(off) & 0xff
    val ctype = buf(off + 1) & 0xff
    var p = off + 2
    val (cid, n1) = Itf8.read(buf, p); p += n1
    val (csize, n2) = Itf8.read(buf, p); p += n2
    val (rsize, n3) = Itf8.read(buf, p); p += n3
    if (csize < 0 || rsize < 0 || p + csize > buf.length)
      throw new IOException(s"bad CRAM block geometry at $off (csize=$csize rsize=$rsize)")
    val packed = java.util.Arrays.copyOfRange(buf, p, p + csize)
    p += csize
    if (major >= 3) p += 4 // block CRC32 (validated at container level by CRC-checked headers; payload CRC skipped for speed)
    (Block(method, ctype, cid, inflate(method, packed, rsize)), p)
  }

  /** Same frame parse, payload decompressed ON FIRST ACCESS: a stream never
    * read under record-level field projection is a block never inflated —
    * qualities and tags are routinely the largest blocks of a CRAM slice.
    */
  def readBlockLazy(buf: Array[Byte], off: Int, major: Int): (LazyBlock, Int) = {
    val method = buf(off) & 0xff
    val ctype = buf(off + 1) & 0xff
    var p = off + 2
    val (cid, n1) = Itf8.read(buf, p); p += n1
    val (csize, n2) = Itf8.read(buf, p); p += n2
    val (rsize, n3) = Itf8.read(buf, p); p += n3
    if (csize < 0 || rsize < 0 || p + csize > buf.length)
      throw new IOException(s"bad CRAM block geometry at $off (csize=$csize rsize=$rsize)")
    val packed = java.util.Arrays.copyOfRange(buf, p, p + csize)
    p += csize
    if (major >= 3) p += 4
    (new LazyBlock(method, ctype, cid, packed, rsize), p)
  }

  final class LazyBlock(val method: Int, val ctype: Int, val cid: Int,
                        packed: Array[Byte], rsize: Int) {
    lazy val data: Array[Byte] = inflate(method, packed, rsize)
  }

  /** Test/diagnostic hook: counts block decompressions so a spec can prove
    * projection skips whole blocks, not just value materialization.
    */
  private[graft] val blocksInflated = new java.util.concurrent.atomic.AtomicLong

  private[cram] def inflate(method: Int, packed: Array[Byte], rsize: Int): Array[Byte] = {
    blocksInflated.incrementAndGet()
    val raw = method match {
      case 0 => packed
      case 1 => gunzip(packed)
      case 2 => bunzip2(packed)
      case 3 => unxz(packed)
      case 4 => Rans.uncompress(packed)
      case 5 => RansNx16.uncompress(packed, rsize)
      case 6 => ArithDynamic.uncompress(packed, rsize)
      case 7 => FqzComp.uncompress(packed, rsize)
      case 8 => NameTok3.uncompress(packed, rsize)
      case m => throw new IOException(s"unsupported CRAM block compression method $m")
    }
    if (raw.length != rsize)
      throw new IOException(s"CRAM block raw size mismatch: declared $rsize, got ${raw.length}")
    raw
  }

  private def gunzip(in: Array[Byte]): Array[Byte] = {
    val g = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(in))
    try g.readAllBytes() finally g.close()
  }

  private def bunzip2(in: Array[Byte]): Array[Byte] = {
    val s = new org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream(
      new java.io.ByteArrayInputStream(in))
    try s.readAllBytes() finally s.close()
  }

  private def unxz(in: Array[Byte]): Array[Byte] = {
    val s = new org.tukaani.xz.XZInputStream(new java.io.ByteArrayInputStream(in))
    try s.readAllBytes() finally s.close()
  }

  // ---- compression header --------------------------------------------------

  /** Parsed compression-header maps: preservation flags, substitution
    * matrix, tag dictionary lines, per-series and per-tag codecs.
    */
  final case class CompHeader(rnPreserved: Boolean, apDelta: Boolean, refRequired: Boolean,
                              subMatrix: Array[Byte], tagDict: IndexedSeq[IndexedSeq[(String, Char)]],
                              series: Map[String, CCodec], tagCodecs: Map[Int, CCodec])

  def parseCompHeader(buf: Array[Byte]): CompHeader = {
    var p = 0
    def itf8(): Int = { val (v, n) = Itf8.read(buf, p); p += n; v }
    // preservation map
    itf8() // byte size
    var rn = true; var ap = true; var rr = true
    var sm: Array[Byte] = Array.fill[Byte](5)(0x1b)
    var td: Array[Byte] = Array(0)
    val pcount = itf8()
    var i = 0
    while (i < pcount) {
      val key = new String(Array(buf(p), buf(p + 1)), "ASCII"); p += 2
      key match {
        case "RN" => rn = buf(p) != 0; p += 1
        case "AP" => ap = buf(p) != 0; p += 1
        case "RR" => rr = buf(p) != 0; p += 1
        case "SM" => sm = java.util.Arrays.copyOfRange(buf, p, p + 5); p += 5
        case "TD" =>
          val n = itf8(); td = java.util.Arrays.copyOfRange(buf, p, p + n); p += n
        case other => throw new IOException(s"unknown CRAM preservation key $other")
      }
      i += 1
    }
    // data series encodings
    itf8()
    val dcount = itf8()
    val series = Map.newBuilder[String, CCodec]
    i = 0
    while (i < dcount) {
      val key = new String(Array(buf(p), buf(p + 1)), "ASCII"); p += 2
      val (codec, np) = Encoding.parse(buf, p); p = np
      if (codec != null) series += key -> codec
      i += 1
    }
    // tag encodings
    itf8()
    val tcount = itf8()
    val tagCodecs = Map.newBuilder[Int, CCodec]
    i = 0
    while (i < tcount) {
      val key = itf8()
      val (codec, np) = Encoding.parse(buf, p); p = np
      tagCodecs += key -> codec
      i += 1
    }
    CompHeader(rn, ap, rr, sm, parseTagDict(td), series.result(), tagCodecs.result())
  }

  /** TD: NUL-terminated lines of (tag0 tag1 type) triplets; line index = TL. */
  private def parseTagDict(td: Array[Byte]): IndexedSeq[IndexedSeq[(String, Char)]] = {
    val lines = IndexedSeq.newBuilder[IndexedSeq[(String, Char)]]
    var start = 0
    var i = 0
    while (i < td.length) {
      if (td(i) == 0) {
        val line = IndexedSeq.newBuilder[(String, Char)]
        var j = start
        while (j + 3 <= i) {
          line += ((new String(Array(td(j), td(j + 1)), "ASCII"), (td(j + 2) & 0xff).toChar))
          j += 3
        }
        lines += line.result()
        start = i + 1
      }
      i += 1
    }
    lines.result()
  }

  // ---- slice header --------------------------------------------------------

  final case class SliceHeader(refSeqId: Int, start: Int, span: Int, nRecords: Int,
                               nBlocks: Int, contentIds: Array[Int], embeddedRefId: Int,
                               refMd5: Array[Byte])

  def parseSliceHeader(buf: Array[Byte], major: Int): SliceHeader = {
    var p = 0
    def itf8(): Int = { val (v, n) = Itf8.read(buf, p); p += n; v }
    val rid = itf8(); val start = itf8(); val span = itf8(); val nRec = itf8()
    if (major >= 3) { val (_, n) = Ltf8.read(buf, p); p += n } else itf8() // record counter
    val nBlocks = itf8()
    val nIds = itf8()
    val ids = new Array[Int](nIds)
    var i = 0
    while (i < nIds) { ids(i) = itf8(); i += 1 }
    val embed = itf8()
    val md5 = java.util.Arrays.copyOfRange(buf, p, p + 16)
    SliceHeader(rid, start, span, nRec, nBlocks, ids, embed, md5)
  }

  // ---- container decode ----------------------------------------------------

  /** Decode every record in one container payload (compression header block
    * + slices). `header` supplies contig names; `refs` supplies reference
    * bases for ref-required slices (embedded-reference slices use their own
    * block and need nothing from `refs`).
    */
  def decodeContainer(payload: Array[Byte], major: Int, header: SamHeader,
                      refs: CramRefSource): IndexedSeq[AlignmentRecord] =
    decodeContainer(payload, major, header, refs, graft.bam.BamFieldMask.All)

  /** `mask` drives record-level field projection: with qualities, sequence,
    * or the attributes map pruned away, their data series are not just left
    * unparsed — blocks exclusively backing them are never DECOMPRESSED
    * (see decodeSlice's eligibility rule). Every slice decodes before this
    * returns, so a failure anywhere in the container surfaces here, never
    * while a caller is iterating its records.
    */
  def decodeContainer(payload: Array[Byte], major: Int, header: SamHeader,
                      refs: CramRefSource,
                      mask: graft.bam.BamFieldMask): IndexedSeq[AlignmentRecord] = {
    val (chBlock, afterCh) = readBlock(payload, 0, major)
    if (chBlock.ctype != 1)
      throw new IOException(s"expected compression header block, got type ${chBlock.ctype}")
    val ch = parseCompHeader(chBlock.data)
    var p = afterCh
    val slices = IndexedSeq.newBuilder[(SliceHeader, Array[Byte], Map[Int, LazyBlock])]
    while (p < payload.length) {
      val (shBlock, q0) = readBlockLazy(payload, p, major)
      if (shBlock.ctype != 2 && shBlock.ctype != 3)
        throw new IOException(s"expected slice header block, got type ${shBlock.ctype}")
      val sh = parseSliceHeader(shBlock.data, major)
      var q = q0
      var core: Array[Byte] = Array.emptyByteArray
      val ext = Map.newBuilder[Int, LazyBlock]
      var b = 0
      while (b < sh.nBlocks) {
        val (blk, nq) = readBlockLazy(payload, q, major)
        q = nq
        if (blk.ctype == 5) core = blk.data
        else if (blk.ctype == 4) ext += blk.cid -> blk
        b += 1
      }
      slices += ((sh, core, ext.result()))
      p = q
    }
    slices.result().flatMap { case (sh, core, ext) =>
      decodeSlice(ch, sh, core, ext, header, refs, mask)
    }
  }

  // ---- slice decode --------------------------------------------------------

  private[cram] val SubBases: Array[Byte] = "ACGTN".getBytes("ASCII")

  /** `matrix(refBaseIdx)(code)` = substituted base. Shared with
    * [[CramRecordWriter]] (which builds the inverse lookup from the same
    * matrix) so the decode and encode sides can never diverge.
    */
  private[cram] def buildSubMatrix(sm: Array[Byte]): Array[Array[Byte]] = {
    val m = Array.ofDim[Byte](5, 4)
    var ri = 0
    while (ri < 5) {
      val byte = sm(ri) & 0xff
      var k = 0
      var ai = 0
      while (ai < 5) {
        if (ai != ri) {
          val code = (byte >> (6 - 2 * k)) & 3
          m(ri)(code) = SubBases(ai)
          k += 1
        }
        ai += 1
      }
      ri += 1
    }
    m
  }

  private[cram] def baseIndex(b: Byte): Int = b match {
    case 'A' => 0; case 'C' => 1; case 'G' => 2; case 'T' => 3; case _ => 4
  }

  private final case class Feature(pos: Int, code: Char, intVal: Int, bytes: Array[Byte])

  /** Fixpoint closure of the needed-external-block set over consumed gated
    * codecs: any gated codec that is non-skippable (uses core bits, or
    * touches a block something else will read) is CONSUMED, and its reads
    * advance every stream it touches — so every block it touches must in
    * turn be treated as needed, which can make further gated codecs
    * consumers. Iterates until stable (each pass either grows the set or
    * stops; bounded by the number of distinct blocks).
    */
  private[cram] def closeConsumedExt(base: Set[Int], gated: Iterable[CCodec]): Set[Int] = {
    var needed = base
    var grew = true
    while (grew) {
      grew = false
      gated.foreach { c =>
        val consumed = c.usesCore || c.extIds.exists(needed.contains)
        if (consumed && !c.extIds.forall(needed.contains)) {
          needed = needed ++ c.extIds; grew = true
        }
      }
    }
    needed
  }

  def decodeSlice(ch: CompHeader, sh: SliceHeader, core: Array[Byte],
                  ext: Map[Int, Array[Byte]], header: SamHeader,
                  refs: CramRefSource): Iterator[AlignmentRecord] =
    decodeSlice(ch, sh, core,
      ext.map { case (k, v) => k -> new LazyBlock(0, 4, k, v, v.length) },
      header, refs, graft.bam.BamFieldMask.All)

  def decodeSlice(ch: CompHeader, sh: SliceHeader, core: Array[Byte],
                  ext: Map[Int, LazyBlock], header: SamHeader,
                  refs: CramRefSource,
                  mask: graft.bam.BamFieldMask,
                  probe: Int => Unit = null): Iterator[AlignmentRecord] = {
    val bits = new BitReader(core)
    val streams = new ExtStreams(cid => ext.get(cid).map(_.data), probe)
    val sub = buildSubMatrix(ch.subMatrix)
    val rgIds = readGroupIds(header.text)

    // ---- record-level field projection --------------------------------
    // A gated series (qualities QS/QQ, sequence bases BA, tag values) can
    // be SKIPPED — its stream never read, its exclusive blocks never
    // inflated — only when it reads no core bits and none of its external
    // blocks is touched by anything that WILL be read; otherwise its
    // values are still CONSUMED (read + discarded) to keep every shared
    // stream in sync. Features that carry CIGAR length (SC/IN/BB) are
    // never gated: the cigar and end derive from them.
    val wantQual = mask.qual
    val wantSeq = mask.seq
    val wantAttrs = mask.attrs
    val wantName = mask.name
    val activeSeriesCodecs: Iterable[CCodec] = ch.series.collect {
      case (k, c) if (k match {
        case "QS" | "QQ" => wantQual
        case "BA" => wantSeq
        case "RN" => wantName
        case _ => true
      }) => c
    }
    // None = every tag is wanted (full map); Some(s) = only these decode:
    // the key-masked map of `attrKeys` plus any typed-tag columns, which
    // the row layer reads tag_XX from and filters down to attrKeys
    val tagWantedSet: Option[Set[String]] =
      if (wantAttrs && !mask.attrsMasked) None else Some(mask.maskedWanted.toSet)
    def tagWanted(tag: String): Boolean = tagWantedSet.forall(_.contains(tag))
    val activeTagCodecs: Iterable[CCodec] = tagWantedSet match {
      case None => ch.tagCodecs.values
      case Some(ws) if ws.isEmpty => Nil
      case Some(ws) => ch.tagDict.flatten.distinct.collect {
        case (tag, typ) if ws.contains(tag) =>
          val key = (tag.charAt(0).toInt << 16) | (tag.charAt(1).toInt << 8) | typ.toInt
          ch.tagCodecs.getOrElse(key,
            throw new IOException(s"tag codec missing for $tag:$typ"))
      }
    }
    // Fixpoint closure over consumed codecs: a gated codec judged
    // NON-skippable is still CONSUMED (read + discarded), and its reads
    // advance every external stream it touches — so any OTHER gated codec
    // sharing a block with a consumer must be consumed too, or positions
    // desync and a foreign CRAM with shared content ids silently decodes
    // wrong values. Our own writer and htsjdk defaults give every series/tag
    // its own block (the loop converges immediately there), but valid CRAMs
    // may share; iterate until no consumer adds a new block.
    val gatedCodecs: Seq[CCodec] =
      (ch.series.collect {
        case (k, c) if ((k == "QS" || k == "QQ") && !wantQual) || (k == "BA" && !wantSeq) ||
          (k == "RN" && !wantName) => c
      } ++ (tagWantedSet match {
        case None => Nil
        case Some(ws) => ch.tagCodecs.collect {
          case (key, c) if !ws.contains(
            s"${((key >> 16) & 0xff).toChar}${((key >> 8) & 0xff).toChar}") => c
        }
      })).toSeq
    val neededExt: Set[Int] = closeConsumedExt(
      (activeSeriesCodecs ++ activeTagCodecs).flatMap(_.extIds).toSet ++
        (if (wantSeq && sh.embeddedRefId >= 0) Set(sh.embeddedRefId) else Set.empty),
      gatedCodecs)
    def seriesSkippable(key: String): Boolean = ch.series.get(key) match {
      case None => true
      case Some(c) => !c.usesCore && c.extIds.forall(id => !neededExt.contains(id))
    }
    // per gated series: read-and-use / read-and-discard / never-touch
    val readQS = wantQual || !seriesSkippable("QS")
    val readQQ = wantQual || !seriesSkippable("QQ")
    val readBA = wantSeq || !seriesSkippable("BA")
    val readRN = wantName || !seriesSkippable("RN")
    val tagSkippable: Int => Boolean =
      if (tagWantedSet.isEmpty) _ => false
      else ch.tagCodecs.map { case (k, c) =>
        k -> (!c.usesCore && c.extIds.forall(id => !neededExt.contains(id)))
      }.withDefaultValue(false)

    // reference window for this slice: embedded block beats external FASTA.
    // With seq pruned away, NO reference is needed at all — no FASTA I/O,
    // no embedded-ref block inflation, and a ref-required CRAM becomes
    // readable without the fasta option for non-sequence queries.
    val refWindow: Array[Byte] =
      if (!wantSeq || sh.refSeqId < 0) null
      else if (sh.embeddedRefId >= 0) ext.get(sh.embeddedRefId).map(_.data).orNull
      else refs.region(sh.refSeqId, sh.start, sh.span)
    // RR=1 slices reconstruct sequence FROM the reference — decoding one
    // without bases would silently emit N-seqs; fail with the remedy instead
    if (wantSeq && ch.refRequired && sh.refSeqId >= 0 && sh.span > 0 && refWindow == null)
      throw new ReferenceRequiredException(
        s"slice at ref ${sh.refSeqId}:${sh.start} requires reference bases (RR=1) — " +
          "pass the fasta option (indexed FASTA with a .fai sidecar)")
    val refBase1 = sh.start // refWindow(0) is reference position sh.start (1-based)

    def series(key: String): CCodec =
      ch.series.getOrElse(key, throw new IOException(s"CRAM data series $key missing"))

    var prevStart = sh.start
    // decoded but unresolved: mate links need the whole slice
    final case class Raw(bf: Int, cf: Int, rid: Int, rl: Int, start: Int, rg: Int,
                         name: String, mf: Int, mateRid: Int, matePos: Int, tlen: Int,
                         nfDist: Int, attrs: List[(String, String)],
                         features: List[Feature], mq: Int, quals: Array[Byte])
    val raws = new Array[Raw](sh.nRecords)
    var i = 0
    while (i < sh.nRecords) {
      val bf = series("BF").readInt(bits, streams)
      val cf = series("CF").readInt(bits, streams)
      val rid = if (sh.refSeqId == -2) series("RI").readInt(bits, streams) else sh.refSeqId
      val rl = series("RL").readInt(bits, streams)
      val start =
        if (ch.apDelta) { val s = prevStart + series("AP").readInt(bits, streams); prevStart = s; s }
        else series("AP").readInt(bits, streams)
      val rg = series("RG").readInt(bits, streams)
      var name: String = null
      if (ch.rnPreserved) {
        // readName pruned: an exclusive RN block is never inflated; a shared
        // one is position-skipped to keep streams in sync
        if (wantName) name = new String(series("RN").readArray(bits, streams), "UTF-8")
        else if (readRN) series("RN").skipArray(bits, streams)
      }
      var mf = 0; var mateRid = -1; var matePos = 0; var tlen = 0; var nfDist = -1
      if ((cf & 0x2) != 0) { // detached
        mf = series("MF").readInt(bits, streams)
        if (!ch.rnPreserved) {
          if (wantName) name = new String(series("RN").readArray(bits, streams), "UTF-8")
          else if (readRN) series("RN").skipArray(bits, streams)
        }
        mateRid = series("NS").readInt(bits, streams)
        matePos = series("NP").readInt(bits, streams)
        tlen = series("TS").readInt(bits, streams)
      } else if ((cf & 0x4) != 0) {
        nfDist = series("NF").readInt(bits, streams)
      }
      val tl = series("TL").readInt(bits, streams)
      var attrs: List[(String, String)] = Nil
      if (ch.tagDict.nonEmpty) {
        if (tl < 0 || tl >= ch.tagDict.length)
          throw new IOException(s"tag-dictionary line $tl out of range")
        ch.tagDict(tl).foreach { case (tag, typ) =>
          val key = (tag.charAt(0).toInt << 16) | (tag.charAt(1).toInt << 8) | typ.toInt
          val codec = ch.tagCodecs.getOrElse(key,
            throw new IOException(s"tag codec missing for $tag:$typ"))
          if (tagWanted(tag)) {
            val raw = codec.readArray(bits, streams)
            attrs = (tag -> CramTagValues.binaryToTyped(typ, raw)) :: attrs
          } else if (!tagSkippable(key)) {
            // keep shared streams in sync: positions advance, nothing copied
            codec.skipArray(bits, streams)
          } // else: exclusive tag blocks stay compressed, untouched
        }
      }
      var features: List[Feature] = Nil
      var mq = 0
      var quals: Array[Byte] = null
      if ((bf & 0x4) == 0) { // mapped
        val fn = series("FN").readInt(bits, streams)
        var fpos = 0
        var f = 0
        while (f < fn) {
          val fc = series("FC").readByte(bits, streams).toChar
          fpos += series("FP").readInt(bits, streams)
          val feat = fc match {
            case 'X' => Feature(fpos, 'X', series("BS").readByte(bits, streams), null)
            case 'S' => Feature(fpos, 'S', 0, series("SC").readArray(bits, streams))
            case 'I' => Feature(fpos, 'I', 0, series("IN").readArray(bits, streams))
            case 'i' =>
              // single-base insertion: cigar length is fixed (1), so the
              // base itself is seq-only and gated
              val ba = if (readBA) series("BA").readByte(bits, streams) else 'N'.toInt
              Feature(fpos, 'i', 0, Array(ba.toByte))
            case 'b' => Feature(fpos, 'b', 0, series("BB").readArray(bits, streams))
            case 'q' =>
              // quality run: no seq/cigar effect — value gated; a consumed-
              // but-unwanted run is position-skipped, never copied
              val qq =
                if (wantQual) series("QQ").readArray(bits, streams)
                else { if (readQQ) series("QQ").skipArray(bits, streams); Array.emptyByteArray }
              Feature(fpos, 'q', 0, qq)
            case 'D' => Feature(fpos, 'D', series("DL").readInt(bits, streams), null)
            case 'N' => Feature(fpos, 'N', series("RS").readInt(bits, streams), null)
            case 'H' => Feature(fpos, 'H', series("HC").readInt(bits, streams), null)
            case 'P' => Feature(fpos, 'P', series("PD").readInt(bits, streams), null)
            case 'B' =>
              val ba = if (readBA) series("BA").readByte(bits, streams) else 'N'.toInt
              val qs = if (readQS) series("QS").readByte(bits, streams) else 0
              Feature(fpos, 'B', qs, Array(ba.toByte))
            case 'Q' =>
              Feature(fpos, 'Q', if (readQS) series("QS").readByte(bits, streams) else 0, null)
            case other => throw new IOException(s"unknown CRAM read feature '$other'")
          }
          features = feat :: features
          f += 1
        }
        mq = series("MQ").readInt(bits, streams)
        if ((cf & 0x1) != 0) {
          if (wantQual) {
            quals = new Array[Byte](rl)
            var k = 0
            while (k < rl) { quals(k) = series("QS").readByte(bits, streams).toByte; k += 1 }
          } else if (readQS) {
            // consumed only for stream sync: advance, allocate nothing
            var k = 0
            while (k < rl) { series("QS").readByte(bits, streams); k += 1 }
          }
        }
      } else {
        if (wantSeq) {
          val bases = new Array[Byte](rl)
          var k = 0
          while (k < rl) { bases(k) = series("BA").readByte(bits, streams).toByte; k += 1 }
          features = List(Feature(1, 'b', 0, bases))
        } else {
          if (readBA) { // consumed only for stream sync
            var k = 0
            while (k < rl) { series("BA").readByte(bits, streams); k += 1 }
          }
          features = List(Feature(1, 'b', 0, Array.emptyByteArray)) // bases carrier, seq pruned
        }
        if ((cf & 0x1) != 0) {
          if (wantQual) {
            quals = new Array[Byte](rl)
            var k = 0
            while (k < rl) { quals(k) = series("QS").readByte(bits, streams).toByte; k += 1 }
          } else if (readQS) {
            var k = 0
            while (k < rl) { series("QS").readByte(bits, streams); k += 1 }
          }
        }
      }
      raws(i) = Raw(bf, cf, rid, rl, start, rg, name, mf, mateRid, matePos, tlen, nfDist,
        attrs.reverse, features.reverse, mq, quals)
      i += 1
    }

    // mate resolution + row building
    val flags = new Array[Int](raws.length)
    val mates = new Array[(Int, Int, Int)](raws.length) // (mateRid, matePos, tlen)
    i = 0
    while (i < raws.length) {
      val r = raws(i)
      flags(i) = r.bf
      mates(i) = (r.mateRid, r.matePos, r.tlen)
      i += 1
    }
    i = 0
    while (i < raws.length) {
      val r = raws(i)
      if ((r.cf & 0x2) != 0) {
        // detached: restore the two mate flag bits from MF
        flags(i) = (r.bf & ~0x28) | (if ((r.mf & 1) != 0) 0x20 else 0) |
          (if ((r.mf & 2) != 0) 0x8 else 0)
      } else if (r.nfDist >= 0) {
        val j = i + r.nfDist + 1
        if (j >= raws.length)
          throw new IOException(s"next-fragment distance ${r.nfDist} escapes slice")
        val m = raws(j)
        def mateBits(of: Raw): Int =
          (if ((of.bf & 0x10) != 0) 0x20 else 0) | (if ((of.bf & 0x4) != 0) 0x8 else 0)
        flags(i) = (flags(i) & ~0x28) | mateBits(m)
        flags(j) = (flags(j) & ~0x28) | mateBits(r)
        val bothMapped = (r.bf & 0x4) == 0 && (m.bf & 0x4) == 0 && r.rid >= 0 && r.rid == m.rid
        val (ti, tj) =
          if (!bothMapped) (0, 0)
          else {
            val endR = r.start + refLen(r.features, r.rl) - 1
            val endM = m.start + refLen(m.features, m.rl) - 1
            val left = math.min(r.start, m.start)
            val right = math.max(endR, endM)
            val size = right - left + 1
            if (r.start <= m.start) (size, -size) else (-size, size)
          }
        mates(i) = (m.rid, m.start, ti)
        mates(j) = (r.rid, r.start, tj)
      }
      i += 1
    }

    (0 until raws.length).iterator.map { k =>
      val r = raws(k)
      val unmapped = (r.bf & 0x4) != 0
      val (seqStr, cigar) =
        if (unmapped) {
          val s = if (wantSeq) new String(r.features.head.bytes, "ASCII") else "*"
          (if (s.isEmpty) "*" else s, "*")
        } else {
          val (s, c) = reconstruct(r.rl, r.start, r.features, refWindow, refBase1, sub,
            seqUnknown = (r.cf & 0x8) != 0, wantSeq = wantSeq)
          (if (s.isEmpty) "*" else s, c)
        }
      val qual =
        if (r.quals == null) "*"
        else new String(r.quals.map(q => (q + 33).toByte), "ASCII")
      val attrsWithRg =
        if (r.rg >= 0 && r.rg < rgIds.length) r.attrs :+ ("RG" -> ("Z:" + rgIds(r.rg)))
        else r.attrs
      val (mateRid, matePos, tlen) = mates(k)
      AlignmentRecord(
        readName = if (r.name == null || r.name.isEmpty || r.name == "*") null else r.name,
        flags = flags(k),
        contig = header.refName(r.rid),
        start = if (r.start < 0) 0 else r.start,
        end = {
          // BamModel convention: 0 when unmapped or no ref-consuming op
          val rlen = if (unmapped) 0 else refLen(r.features, r.rl)
          if (rlen > 0) r.start + rlen - 1 else 0
        },
        mapq = r.mq,
        cigar = cigar,
        mateContig = header.refName(mateRid),
        mateStart = matePos,
        tlen = tlen,
        seq = seqStr,
        qual = qual,
        attributes = attrsWithRg.toMap)
    }
  }

  /** Reference bases consumed by the record (M runs between/around features
    * plus D/N feature lengths) — alignment end = start + refLen − 1.
    */
  private def refLen(features: List[Feature], rl: Int): Int = {
    var readPos = 1
    var ref = 0
    features.foreach { f =>
      val gap = f.pos - readPos
      if (gap > 0) { ref += gap; readPos += gap }
      f.code match {
        case 'X' | 'B' => ref += 1; readPos += 1
        case 'b' => ref += f.bytes.length; readPos += f.bytes.length
        case 'S' | 'I' => readPos += f.bytes.length
        case 'i' => readPos += 1
        case 'D' | 'N' => ref += f.intVal
        case _ => // H, P, q, Q: neither
      }
    }
    val tail = rl - readPos + 1
    if (tail > 0) ref += tail
    ref
  }

  /** Rebuild SEQ and CIGAR from features over the reference window. With
    * `wantSeq = false` only the cigar is built — no seq array, no reference
    * base lookups, no substitution decodes (the projection fast path).
    */
  private def reconstruct(rl: Int, start: Int, features: List[Feature],
                          refWindow: Array[Byte], refBase1: Int,
                          sub: Array[Array[Byte]], seqUnknown: Boolean,
                          wantSeq: Boolean = true): (String, String) = {
    val seq = if (wantSeq) Array.fill[Byte](rl)('N') else null
    val cig = new scala.collection.mutable.ArrayBuffer[(Char, Int)]()
    def emit(op: Char, n: Int): Unit =
      if (n > 0) {
        if (cig.nonEmpty && cig.last._1 == op) cig(cig.length - 1) = (op, cig.last._2 + n)
        else cig += ((op, n))
      }
    def refBase(rp: Int): Byte = {
      if (refWindow == null) 'N'
      else {
        val idx = rp - refBase1
        if (idx >= 0 && idx < refWindow.length) refWindow(idx) else 'N'
      }
    }
    var readPos = 1
    var refPos = start
    features.foreach { f =>
      val gap = f.pos - readPos
      if (gap > 0) {
        if (wantSeq) {
          var i = 0
          while (i < gap) { seq(readPos - 1 + i) = refBase(refPos + i); i += 1 }
        }
        emit('M', gap); readPos += gap; refPos += gap
      }
      f.code match {
        case 'X' =>
          if (wantSeq) {
            val rb = refBase(refPos)
            seq(readPos - 1) = sub(baseIndex(rb))(f.intVal & 3)
          }
          emit('M', 1); readPos += 1; refPos += 1
        case 'S' =>
          if (wantSeq) copyBytes(f.bytes, seq, readPos - 1)
          emit('S', f.bytes.length); readPos += f.bytes.length
        case 'I' =>
          if (wantSeq) copyBytes(f.bytes, seq, readPos - 1)
          emit('I', f.bytes.length); readPos += f.bytes.length
        case 'i' =>
          if (wantSeq) seq(readPos - 1) = f.bytes(0)
          emit('I', 1); readPos += 1
        case 'b' =>
          if (wantSeq) copyBytes(f.bytes, seq, readPos - 1)
          emit('M', f.bytes.length)
          readPos += f.bytes.length; refPos += f.bytes.length
        case 'B' =>
          if (wantSeq) seq(readPos - 1) = f.bytes(0)
          emit('M', 1); readPos += 1; refPos += 1
        case 'D' => emit('D', f.intVal); refPos += f.intVal
        case 'N' => emit('N', f.intVal); refPos += f.intVal
        case 'H' => emit('H', f.intVal)
        case 'P' => emit('P', f.intVal)
        case 'q' | 'Q' => // quality-only features: no seq/cigar effect here
        case other => throw new IOException(s"unknown CRAM read feature '$other'")
      }
    }
    val tail = rl - readPos + 1
    if (tail > 0) {
      if (wantSeq) {
        var i = 0
        while (i < tail) { seq(readPos - 1 + i) = refBase(refPos + i); i += 1 }
      }
      emit('M', tail)
    }
    val cigar =
      if (cig.isEmpty) "*"
      else cig.iterator.map { case (op, n) => s"$n$op" }.mkString
    (if (seqUnknown || !wantSeq) "*" else new String(seq, "ASCII"), cigar)
  }

  private def copyBytes(src: Array[Byte], dst: Array[Byte], off: Int): Unit =
    System.arraycopy(src, 0, dst, off, src.length)

  // ---- file-level helpers --------------------------------------------------

  import graft.bgzf.SeekableInput

  /** Fetch one container's payload bytes. */
  def containerPayload(in: SeekableInput, c: CramContainer): Array[Byte] = {
    val headerLen = (c.totalLength - c.dataLength).toInt
    val out = new Array[Byte](c.dataLength)
    val got = in.preadFully(c.offset + headerLen, out, 0, c.dataLength)
    if (got != c.dataLength)
      throw new IOException(s"truncated CRAM container payload at ${c.offset}")
    out
  }

  /** SAM header from the first container (content-type-0 block: int32-LE
    * text length + header text).
    */
  def readSamHeader(in: SeekableInput): SamHeader = {
    val (major, _) = CramContainers.readFileDefinition(in)
    val c = CramContainers.readContainerHeader(in, CramContainers.FileDefinitionLength.toLong,
      in.size, major)
    val payload = containerPayload(in, c)
    val (block, _) = readBlock(payload, 0, major)
    if (block.ctype != 0)
      throw new IOException(s"first CRAM container holds block type ${block.ctype}, not a file header")
    val raw = block.data
    val len = (raw(0) & 0xff) | ((raw(1) & 0xff) << 8) | ((raw(2) & 0xff) << 16) | ((raw(3) & 0xff) << 24)
    val text = new String(raw, 4, math.min(len, raw.length - 4), "UTF-8")
    SamHeader(text, SamHeader.refsFromText(text))
  }

  /** One-shot decode of a whole file — the differential-count oracle path
    * and spec harness (sources stream per-container instead).
    */
  def decodeFile(in: SeekableInput, refs: CramRefSource): (SamHeader, IndexedSeq[AlignmentRecord]) = {
    val (major, _) = CramContainers.readFileDefinition(in)
    val header = readSamHeader(in)
    val out = IndexedSeq.newBuilder[AlignmentRecord]
    val size = in.size
    var off = CramContainers.FileDefinitionLength.toLong
    var first = true
    while (off < size) {
      val c = CramContainers.readContainerHeader(in, off, size, major)
      if (!first && !c.isEof)
        out ++= decodeContainer(containerPayload(in, c), major, header, refs)
      first = false
      off += c.totalLength
    }
    (header, out.result())
  }

  /** `@RG` line IDs in header order (CRAM `RG` is an index into these). */
  def readGroupIds(headerText: String): IndexedSeq[String] =
    headerText.linesIterator.filter(_.startsWith("@RG")).flatMap { line =>
      line.split('\t').collectFirst { case f if f.startsWith("ID:") => f.substring(3) }
    }.toIndexedSeq
}

/** A reference-based slice met without usable reference bases: a missing
  * `fasta` option or an unreadable FASTA, not a malformed container, so no
  * stringency drops it.
  */
final class ReferenceRequiredException(msg: String, cause: Throwable = null)
  extends IOException(msg, cause)

/** CRAM tag values are the BAM binary value bytes (Z/H include the NUL);
  * conversion mirrors the BAM codec's `tag -> "T:value"` attribute strings
  * exactly, so CRAM- and BAM-decoded rows are field-identical.
  */
object CramTagValues {
  import java.nio.{ByteBuffer, ByteOrder}

  def binaryToTyped(typ: Char, raw: Array[Byte]): String = {
    val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    typ match {
      case 'A' => "A:" + (bb.get() & 0xff).toChar
      case 'c' => "c:" + bb.get().toInt
      case 'C' => "C:" + (bb.get() & 0xff)
      case 's' => "s:" + bb.getShort.toInt
      case 'S' => "S:" + (bb.getShort & 0xffff)
      case 'i' => "i:" + bb.getInt
      case 'I' => "I:" + (bb.getInt.toLong & 0xffffffffL)
      case 'f' => "f:" + bb.getFloat
      case 'Z' => "Z:" + nulString(raw)
      case 'H' => "H:" + nulString(raw)
      case 'B' =>
        val sub = (bb.get() & 0xff).toChar
        val n = bb.getInt
        val vals = (0 until n).map { _ =>
          sub match {
            case 'c' => bb.get().toInt.toString
            case 'C' => (bb.get() & 0xff).toString
            case 's' => bb.getShort.toInt.toString
            case 'S' => (bb.getShort & 0xffff).toString
            case 'i' => bb.getInt.toString
            case 'I' => (bb.getInt.toLong & 0xffffffffL).toString
            case 'f' => bb.getFloat.toString
            case x => throw new IOException(s"bad B subtype $x")
          }
        }
        "B:" + sub + (if (vals.isEmpty) "" else "," + vals.mkString(","))
      case x => throw new IOException(s"bad tag type $x")
    }
  }

  private def nulString(raw: Array[Byte]): String = {
    val end = raw.indexOf(0.toByte) match { case -1 => raw.length; case i => i }
    new String(raw, 0, end, "UTF-8")
  }

  /** Inverse: `"T:value"` → (type char, BAM binary value bytes). */
  def typedToBinary(typed: String): (Char, Array[Byte]) = {
    require(typed.length >= 2 && typed.charAt(1) == ':', s"bad typed value '$typed'")
    val t = typed.charAt(0)
    val v = typed.substring(2)
    val bb = ByteBuffer.allocate(8 + v.length * 4 + 8).order(ByteOrder.LITTLE_ENDIAN)
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
    (t, java.util.Arrays.copyOf(bb.array(), bb.position()))
  }
}
