package graft.cram

import java.io.IOException
import graft.bam.{AlignmentRecord, BamCodec, SamHeader}

/** CRAM 3.0 record-layer encode (hts-specs CRAM v3.0 §8–11; the sink half
  * of the reference's CramSink.java:35-85, which delegates to htsjdk's
  * `CRAMContainerStreamWriter`). Spark-first shape: each DSv2 data writer
  * encodes complete containers from buffered [[AlignmentRecord]] rows, so
  * partitions encode in parallel with no driver involvement and the
  * existing part-concat + `.crai`-rebase machinery applies unchanged.
  *
  * Profile: reference-free (`RR=false`) by default so executors never need
  * a FASTA — sequence bases ride in `b`/`I`/`S` features derived from
  * CIGAR×SEQ. With a [[CramRefSource]] (the sink's `fasta` write option)
  * single-ref slices switch to REFERENCE-BASED encode (`RR=true`): match
  * positions emit nothing, mismatches an `X` substitution code, and the
  * slice carries the MD5 of its reference span — the compact form external
  * CRAM consumers expect, decodable by [[CramRecordCodec]] with the same
  * FASTA. Positions are absolute (`AP=false`, input order is arbitrary),
  * read names preserved. One slice per container. Every value series is
  * EXTERNAL (ITF-8 ints / raw bytes) or BYTE_ARRAY_STOP — spec-standard
  * encodings any conformant reader decodes. Block compression: rANS for
  * base/quality streams, gzip elsewhere, raw below a size floor.
  *
  * Fidelity bounds (inherent to CRAM, documented here once): `=`/`X` CIGAR
  * ops collapse to `M`, and a mapped record with cigar `"*"` decodes with a
  * single-`M` cigar over its sequence length.
  */
object CramRecordWriter {

  // fixed external content ids for the value series (any ids are legal;
  // the compression header is the single source of truth)
  private val Cid = Map(
    "BF" -> 1, "CF" -> 2, "RI" -> 3, "RL" -> 4, "AP" -> 5, "RG" -> 6, "RN" -> 7,
    "MF" -> 8, "NS" -> 9, "NP" -> 10, "TS" -> 11, "TL" -> 12, "FN" -> 13,
    "FC" -> 14, "FP" -> 15, "BB" -> 16, "SC" -> 17, "IN" -> 18, "DL" -> 19,
    "RS" -> 20, "HC" -> 21, "PD" -> 22, "MQ" -> 23, "QS" -> 24, "BA" -> 25,
    "BS" -> 26)

  private[cram] def tagCid(tag: String, typ: Char): Int =
    (tag.charAt(0).toInt << 16) | (tag.charAt(1).toInt << 8) | typ.toInt

  final case class Encoded(bytes: Array[Byte], refSeqId: Int, start: Int, span: Int,
                           nRecords: Int, craiEntry: CraiEntry)

  /** The SAM-header container (content-type-0 block: int32-LE text length +
    * header text), raw, v3 container framing.
    */
  def encodeHeaderContainer(header: SamHeader): Array[Byte] = {
    val text = header.text.getBytes("UTF-8")
    val payload = new java.io.ByteArrayOutputStream(text.length + 4)
    payload.write(text.length & 0xff); payload.write((text.length >> 8) & 0xff)
    payload.write((text.length >> 16) & 0xff); payload.write((text.length >> 24) & 0xff)
    payload.write(text, 0, text.length)
    val block = encodeBlock(0, 0, 0, payload.toByteArray)
    val hdr = CramContainers.encodeContainerHeader(block.length, 0, 0, 0, 0, 0L, 0L, 1, Seq(0))
    val out = new Array[Byte](hdr.length + block.length)
    System.arraycopy(hdr, 0, out, 0, hdr.length)
    System.arraycopy(block, 0, out, hdr.length, block.length)
    out
  }

  /** Encode one container holding one slice of `records`. `recordCounter`
    * is the cumulative record count before this container (within the
    * output stream being produced).
    */
  def encodeContainer(records: IndexedSeq[AlignmentRecord], header: SamHeader,
                      recordCounter: Long): Encoded =
    encodeContainer(records, header, recordCounter, NoRefSource)

  /** Reference-aware variant: when `refSource` yields bases for a single-ref
    * slice, the encode is reference-based (see class doc).
    */
  def encodeContainer(records: IndexedSeq[AlignmentRecord], header: SamHeader,
                      recordCounter: Long, refSource: CramRefSource,
                      wire: Int = 0, tok3Names: Boolean = false,
                      fqzQuals: Boolean = false,
                      gzipLevel: Int = java.util.zip.Deflater.DEFAULT_COMPRESSION,
                      // FIXTURE KNOB (foreign-layout emulation, default off):
                      // routes a tag series' (len,val) bytes into another
                      // tag's external block, interleaved in record order —
                      // the block-sharing shape htsjdk never emits but the
                      // spec permits, which the reader's consumed-block
                      // fixpoint must position-skip through. Production
                      // writes never set it (distinct cids per tag).
                      shareTagCids: Map[Int, Int] = Map.empty): Encoded = {
    require(records.nonEmpty, "empty CRAM container")
    val n = records.length
    def remapCid(cid: Int): Int = shareTagCids.getOrElse(cid, cid)
    val ext = scala.collection.mutable.Map.empty[Int, java.io.ByteArrayOutputStream]
    def stream(cid: Int): java.io.ByteArrayOutputStream =
      ext.getOrElseUpdate(cid, new java.io.ByteArrayOutputStream())
    def putItf8(key: String, v: Int): Unit = { val b = Itf8.write(v); stream(Cid(key)).write(b, 0, b.length) }
    def putByte(key: String, v: Int): Unit = stream(Cid(key)).write(v & 0xff)
    def putStop(key: String, bytes: Array[Byte]): Unit = {
      val s = stream(Cid(key)); s.write(bytes, 0, bytes.length); s.write(0)
    }

    val rgIds = CramRecordCodec.readGroupIds(header.text)
    val rgIndex: Map[String, Int] = rgIds.zipWithIndex.toMap

    // slice geometry
    val rids = records.map(r => if (r.contig == null) -1 else header.refId(r.contig))
    val sliceRef =
      if (rids.distinct.length == 1) rids.head else -2
    val mappedStarts = records.indices.collect {
      case i if rids(i) >= 0 && records(i).start > 0 => records(i).start
    }
    val mappedEnds = records.indices.collect {
      case i if rids(i) >= 0 && records(i).start > 0 =>
        math.max(records(i).start, records(i).end)
    }
    val (sliceStart, sliceSpan) =
      if (sliceRef < 0 || mappedStarts.isEmpty) (0, 0)
      else (mappedStarts.min, mappedEnds.max - mappedStarts.min + 1)

    // reference-based encode: bases covering this slice's span (single-ref
    // slices only — multi-ref falls back to reference-free, the htsjdk
    // convention). `region` clips at the contig end; record positions past
    // the clip fall back to literal `b` features, so a too-short FASTA
    // degrades the compression, never the fidelity.
    val refBases: Array[Byte] =
      if (sliceRef >= 0 && sliceSpan > 0) refSource.region(sliceRef, sliceStart, sliceSpan)
      else null
    val refBased = refBases != null

    // tag dictionary: distinct per-record tag lines (RG rides its own series)
    val tagLines = records.map { r =>
      val attrs = if (r.attributes == null) Map.empty[String, String] else r.attributes
      attrs.iterator
        .filterNot { case (k, v) => k == "RG" && v.startsWith("Z:") && rgIndex.contains(v.substring(2)) }
        .map { case (k, v) => graft.bam.TagText.check(k, v); (k, v.charAt(0)) }
        .toIndexedSeq.sortBy(_._1)
    }
    val dict = tagLines.distinct
    val lineOf: Map[IndexedSeq[(String, Char)], Int] = dict.zipWithIndex.toMap

    var bases = 0L
    var i = 0
    while (i < n) {
      val r = records(i)
      val rid = rids(i)
      val flags = r.flags
      val unmapped = (flags & 0x4) != 0
      val seqKnown = r.seq != null && r.seq != "*"
      val qualKnown = r.qual != null && r.qual != "*"
      val rl =
        if (seqKnown) r.seq.length
        else if (!unmapped && r.cigar != null && r.cigar != "*") cigarQueryLen(r.cigar)
        else 0
      if (qualKnown && r.qual.length != rl)
        throw new IOException(s"qual length ${r.qual.length} != read length $rl for ${r.readName}")
      bases += rl
      val cf = 0x2 | (if (qualKnown) 0x1 else 0) | (if (!seqKnown && !unmapped) 0x8 else 0)
      putItf8("BF", flags)
      putItf8("CF", cf)
      if (sliceRef == -2) putItf8("RI", rid)
      putItf8("RL", rl)
      putItf8("AP", r.start)
      putItf8("RG", r.attributes match {
        case null => -1
        case a => a.get("RG") match {
          case Some(v) if v.startsWith("Z:") => rgIndex.getOrElse(v.substring(2), -1)
          case _ => -1
        }
      })
      putStop("RN", (if (r.readName == null) "" else r.readName).getBytes("UTF-8"))
      // detached mate info always
      putItf8("MF", (if ((flags & 0x20) != 0) 1 else 0) | (if ((flags & 0x8) != 0) 2 else 0))
      putItf8("NS", if (r.mateContig == null) -1 else header.refId(r.mateContig))
      putItf8("NP", r.mateStart)
      putItf8("TS", r.tlen)
      putItf8("TL", lineOf(tagLines(i)))
      tagLines(i).foreach { case (tag, typ) =>
        val (_, bin) = CramTagValues.typedToBinary(r.attributes(tag))
        val s = stream(remapCid(tagCid(tag, typ)))
        val lenB = Itf8.write(bin.length)
        s.write(lenB, 0, lenB.length)
        s.write(bin, 0, bin.length)
      }
      if (!unmapped) {
        val feats = featuresFor(r, rl, seqKnown, refBases, sliceStart)
        putItf8("FN", feats.length)
        var prevPos = 0
        feats.foreach { case (pos, code, intVal, bytes) =>
          putByte("FC", code.toInt)
          putItf8("FP", pos - prevPos)
          prevPos = pos
          code match {
            case 'X' => putByte("BS", intVal)
            case 'b' => putStop("BB", bytes)
            case 'S' => putStop("SC", bytes)
            case 'I' => putStop("IN", bytes)
            case 'D' => putItf8("DL", intVal)
            case 'N' => putItf8("RS", intVal)
            case 'H' => putItf8("HC", intVal)
            case 'P' => putItf8("PD", intVal)
            case other => throw new IOException(s"writer emitted unknown feature $other")
          }
        }
        putItf8("MQ", r.mapq)
        if (qualKnown) r.qual.foreach(q => putByte("QS", q - 33))
      } else {
        if (seqKnown) r.seq.foreach(b => putByte("BA", b.toInt))
        if (qualKnown) r.qual.foreach(q => putByte("QS", q - 33))
      }
      i += 1
    }

    // ---- compression header --------------------------------------------------
    val ch = new java.io.ByteArrayOutputStream()
    // preservation map body
    val pres = new java.io.ByteArrayOutputStream()
    val tdBytes = {
      val b = new java.io.ByteArrayOutputStream()
      dict.foreach { line =>
        line.foreach { case (tag, typ) =>
          b.write(tag.charAt(0)); b.write(tag.charAt(1)); b.write(typ)
        }
        b.write(0)
      }
      if (dict.isEmpty) b.write(0)
      b.toByteArray
    }
    def presEntry(key: String, body: Array[Byte]): Unit = {
      pres.write(key.charAt(0)); pres.write(key.charAt(1)); pres.write(body, 0, body.length)
    }
    presEntry("RN", Array(1))
    presEntry("AP", Array(0))
    presEntry("RR", Array[Byte](if (refBased) 1 else 0))
    presEntry("SM", Array.fill[Byte](5)(0x1b))
    presEntry("TD", Itf8.write(tdBytes.length) ++ tdBytes)
    val presBody = Itf8.write(5) ++ pres.toByteArray
    ch.write(Itf8.write(presBody.length)); ch.write(presBody, 0, presBody.length)
    // data series map: declare only series that can be read back given what
    // this container's records used (EXTERNAL/stop encodings are cheap to
    // declare, so declare the full writer profile)
    val ds = new java.io.ByteArrayOutputStream()
    var dsCount = 0
    def dsEntry(key: String, enc: Array[Byte]): Unit = {
      ds.write(key.charAt(0)); ds.write(key.charAt(1)); ds.write(enc, 0, enc.length); dsCount += 1
    }
    Seq("BF", "CF", "RI", "RL", "AP", "RG", "MF", "NS", "NP", "TS", "TL", "FN",
      "FP", "DL", "RS", "HC", "PD", "MQ").foreach(k => dsEntry(k, Encoding.external(Cid(k))))
    dsEntry("FC", Encoding.external(Cid("FC")))
    dsEntry("QS", Encoding.external(Cid("QS")))
    dsEntry("BA", Encoding.external(Cid("BA")))
    dsEntry("BS", Encoding.external(Cid("BS")))
    dsEntry("RN", Encoding.byteArrayStop(0, Cid("RN")))
    dsEntry("BB", Encoding.byteArrayStop(0, Cid("BB")))
    dsEntry("SC", Encoding.byteArrayStop(0, Cid("SC")))
    dsEntry("IN", Encoding.byteArrayStop(0, Cid("IN")))
    val dsBody = Itf8.write(dsCount) ++ ds.toByteArray
    ch.write(Itf8.write(dsBody.length)); ch.write(dsBody, 0, dsBody.length)
    // tag encoding map
    val tagKeys = dict.flatten.distinct
    val tm = new java.io.ByteArrayOutputStream()
    tagKeys.foreach { case (tag, typ) =>
      val key = tagCid(tag, typ)
      val kb = Itf8.write(key)
      tm.write(kb, 0, kb.length)
      val enc = Encoding.byteArrayLenExternal(remapCid(key))
      tm.write(enc, 0, enc.length)
    }
    val tmBody = Itf8.write(tagKeys.length) ++ tm.toByteArray
    ch.write(Itf8.write(tmBody.length)); ch.write(tmBody, 0, tmBody.length)

    val chBlock = encodeBlockCompressed(1, 0, 1, ch.toByteArray, gzipLevel)

    // ---- slice ---------------------------------------------------------------
    val extBlocks = ext.toSeq.filter(_._2.size > 0).sortBy(_._1).map { case (cid, s) =>
      val raw = s.toByteArray
      val method = compressionFor(cid, raw, wire, tok3Names, fqzQuals)
      cid -> encodeBlockCompressed(4, cid, method, raw, gzipLevel)
    }
    val coreBlock = encodeBlock(5, 0, 0, Array.emptyByteArray)
    val sliceBody = {
      val b = new java.io.ByteArrayOutputStream()
      b.write(Itf8.write(sliceRef)); b.write(Itf8.write(sliceStart)); b.write(Itf8.write(sliceSpan))
      b.write(Itf8.write(n)); b.write(Ltf8.write(recordCounter))
      b.write(Itf8.write(1 + extBlocks.length))
      b.write(Itf8.write(extBlocks.length))
      extBlocks.foreach { case (cid, _) => b.write(Itf8.write(cid)) }
      b.write(Itf8.write(-1)) // no embedded reference
      // slice MD5: over the reference span when RR=1 (what conformant
      // readers verify); zeros for reference-free slices
      val md5 =
        if (refBased) java.security.MessageDigest.getInstance("MD5").digest(refBases)
        else new Array[Byte](16)
      b.write(md5, 0, 16)
      b.toByteArray
    }
    val sliceHeaderBlock = encodeBlock(2, 0, 0, sliceBody)

    val payload = new java.io.ByteArrayOutputStream()
    payload.write(chBlock, 0, chBlock.length)
    val landmark = payload.size
    payload.write(sliceHeaderBlock, 0, sliceHeaderBlock.length)
    payload.write(coreBlock, 0, coreBlock.length)
    extBlocks.foreach { case (_, blk) => payload.write(blk, 0, blk.length) }
    val payloadBytes = payload.toByteArray

    val nBlocks = 1 /* comp header */ + 1 /* slice header */ + 1 /* core */ + extBlocks.length
    val hdr = CramContainers.encodeContainerHeader(payloadBytes.length, sliceRef, sliceStart,
      sliceSpan, n, recordCounter, bases, nBlocks, Seq(landmark))
    val out = new Array[Byte](hdr.length + payloadBytes.length)
    System.arraycopy(hdr, 0, out, 0, hdr.length)
    System.arraycopy(payloadBytes, 0, out, hdr.length, payloadBytes.length)
    // CRAI columns per spec: sliceOffset = landmark (bytes from the start
    // of the data section to the slice header), sliceSize = the SLICE's
    // byte length — not the whole payload, which would make an external
    // index-driven reader run `landmark` bytes past the container
    Encoded(out, sliceRef, sliceStart, sliceSpan, n,
      CraiEntry(sliceRef, sliceStart, sliceSpan, 0, landmark,
        payloadBytes.length - landmark))
  }

  // ---- features from CIGAR × SEQ ------------------------------------------

  /** The default substitution matrix (`SM` bytes `0x1b`×5), built by the
    * DECODER's own [[CramRecordCodec.buildSubMatrix]] — one definition for
    * both directions, so a fix to the code-assignment ordering on the
    * decode side can never silently desynchronize the writer's inverse
    * lookup below. The writer always emits this default matrix.
    */
  private val SubMatrix: Array[Array[Byte]] =
    CramRecordCodec.buildSubMatrix(Array.fill(5)(0x1b.toByte))
  private def baseIndex(b: Byte): Int = CramRecordCodec.baseIndex(b)

  /** Substitution code for read base `qb` over reference base `rb`, or −1
    * when the pair isn't expressible (both map to the same matrix row —
    * e.g. two distinct non-ACGT bases): callers fall back to a literal.
    */
  private def subCode(rb: Byte, qb: Byte): Int = {
    val row = SubMatrix(baseIndex(rb))
    var c = 0
    while (c < 4) { if (row(c) == qb) return c; c += 1 }
    -1
  }

  /** (readPos, code, intVal, bytes) features expressing the record: without
    * a reference, `b` runs carry match-segment bases; WITH one (`ref` bases
    * covering the slice span from `refStart1`), match-segment positions
    * that agree with the reference emit nothing, mismatches an `X`
    * substitution code, and positions outside the window or inexpressible
    * in the substitution matrix a literal single-base `b` run. I/S carry
    * their own bases, D/N/H/P lengths. With unknown sequence only shape
    * features are emitted (decode then reports seq `"*"` via the CF bit).
    */
  private def featuresFor(r: AlignmentRecord, rl: Int, seqKnown: Boolean,
                          ref: Array[Byte], refStart1: Int): IndexedSeq[(Int, Char, Int, Array[Byte])] = {
    val out = IndexedSeq.newBuilder[(Int, Char, Int, Array[Byte])]
    val cigar = if (r.cigar == null || r.cigar == "*") s"${rl}M" else r.cigar
    if (rl == 0) return IndexedSeq.empty
    var readPos = 1
    var refPos = r.start // 1-based genomic position of the next M/D/N base
    def refBase(rp: Int): Byte = {
      val idx = rp - refStart1
      if (ref != null && idx >= 0 && idx < ref.length) ref(idx) else 0
    }
    cigarOps(cigar).foreach { case (len, op) =>
      op match {
        case 'M' | '=' | 'X' =>
          if (seqKnown) {
            if (ref == null)
              out += ((readPos, 'b', 0, r.seq.substring(readPos - 1, readPos - 1 + len).getBytes("ASCII")))
            else {
              var j = 0
              while (j < len) {
                val qb = r.seq.charAt(readPos - 1 + j).toByte
                val rb = refBase(refPos + j)
                if (rb != 0 && qb != rb) {
                  val code = subCode(rb, qb)
                  if (code >= 0) out += ((readPos + j, 'X', code, null))
                  else out += ((readPos + j, 'b', 0, Array(qb)))
                } else if (rb == 0) {
                  // outside the fetched window (clipped contig tail):
                  // literal base — decode's window miss reads 'N' there,
                  // so a match can't be left implicit
                  out += ((readPos + j, 'b', 0, Array(qb)))
                } // else: agrees with the reference — implicit
                j += 1
              }
            }
          }
          readPos += len; refPos += len
        case 'I' =>
          val bs = if (seqKnown) r.seq.substring(readPos - 1, readPos - 1 + len) else "N" * len
          out += ((readPos, 'I', 0, bs.getBytes("ASCII")))
          readPos += len
        case 'S' =>
          val bs = if (seqKnown) r.seq.substring(readPos - 1, readPos - 1 + len) else "N" * len
          out += ((readPos, 'S', 0, bs.getBytes("ASCII")))
          readPos += len
        case 'D' => out += ((readPos, 'D', len, null)); refPos += len
        case 'N' => out += ((readPos, 'N', len, null)); refPos += len
        case 'H' => out += ((readPos, 'H', len, null))
        case 'P' => out += ((readPos, 'P', len, null))
        case other => throw new IOException(s"unsupported CIGAR op $other")
      }
    }
    if (readPos - 1 != rl)
      throw new IOException(s"CIGAR query length ${readPos - 1} != read length $rl for ${r.readName}")
    out.result()
  }

  /** (length, op) pairs of a cigar, by BAM's parser: a malformed cigar or
    * an op length past 28 bits fails the write.
    */
  private[cram] def cigarOps(cigar: String): Seq[(Int, Char)] =
    BamCodec.parseCigar(cigar).toSeq.map(v => (v >>> 4, BamCodec.CigarOps.charAt(v & 0xf)))

  private[cram] def cigarQueryLen(cigar: String): Int =
    cigarOps(cigar).iterator.collect { case (n, op) if "MIS=X".indexOf(op.toInt) >= 0 => n }.sum

  // ---- block encoding ------------------------------------------------------

  /** Per-stream compression: order-1 entropy for quality scores, order-0
    * for base runs, gzip for the rest; tiny streams stay raw. `wire` picks
    * the entropy family: 0 = CRAM 3.0 rANS 4x8 (method 4), 1 = CRAM 3.1
    * rANS Nx16 (method 5, what modern htslib emits by default), 2 =
    * CRAM 3.1 adaptive arithmetic (method 6, the sink's codec=arith).
    */
  private def compressionFor(cid: Int, raw: Array[Byte], wire: Int,
                             tok3Names: Boolean, fqzQuals: Boolean): Int = {
    if (raw.length < 128) 0
    // quals=fqz (3.1 opt-in): the QS series through the fqzcomp quality
    // codec, falling back to the wire's rANS form when it can't gain
    else if (cid == Cid("QS") && fqzQuals && wire > 0) 72
    else if (cid == Cid("QS")) 41 + wire * 10 // order 1
    else if (cid == Cid("BB") || cid == Cid("BA")) 40 + wire * 10 // order 0
    // names=tok3 (3.1 opt-in): the RN series' name\0 blob through the
    // name tokenizer, inner streams in the wire's entropy family
    else if (cid == Cid("RN") && tok3Names && wire > 0 &&
             raw(raw.length - 1) == 0) (if (wire == 2) 71 else 70)
    else 1 // gzip
  }

  /** method here: 0 raw, 1 gzip, 40 rans-o0, 41 rans-o1 (CRAM method 4
    * with the order byte inside the rANS stream), 50/51 the rANS Nx16
    * equivalents (CRAM method 5), 60/61 adaptive arithmetic (CRAM
    * method 6), 70/71 the name tokenizer (CRAM method 8, inner streams
    * rANS Nx16 / arith respectively), 72 fqzcomp qualities (CRAM
    * method 7) — methods 5/6/7/8 are the 3.1 codecs.
    */
  private def encodeBlockCompressed(ctype: Int, cid: Int, method: Int, raw: Array[Byte],
                                    gzipLevel: Int): Array[Byte] = {
    method match {
      case 0 => encodeBlock(ctype, cid, 0, raw)
      case 1 =>
        val (ok, packed) = gzipIfWorthIt(raw, gzipLevel)
        if (ok == 1) encodeBlockPacked(ctype, cid, 1, packed, raw.length)
        else encodeBlock(ctype, cid, 0, raw)
      case 40 | 41 =>
        val packed = Rans.compress(raw, method - 40)
        if (packed.length < raw.length) encodeBlockPacked(ctype, cid, 4, packed, raw.length)
        else encodeBlock(ctype, cid, 0, raw)
      case 50 | 51 =>
        val packed = RansNx16.compress(raw, method - 50)
        if (packed.length < raw.length) encodeBlockPacked(ctype, cid, 5, packed, raw.length)
        else encodeBlock(ctype, cid, 0, raw)
      case 60 | 61 =>
        val packed = ArithDynamic.compress(raw, method - 60)
        if (packed.length < raw.length) encodeBlockPacked(ctype, cid, 6, packed, raw.length)
        else encodeBlock(ctype, cid, 0, raw)
      case 70 | 71 =>
        val packed = NameTok3.compress(raw, useArith = method == 71)
        if (packed.length < raw.length) encodeBlockPacked(ctype, cid, 8, packed, raw.length)
        else encodeBlock(ctype, cid, 0, raw)
      case 72 =>
        val packed = FqzComp.compress(raw)
        if (packed != null && packed.length < raw.length)
          encodeBlockPacked(ctype, cid, 7, packed, raw.length)
        else encodeBlockCompressed(ctype, cid, 51, raw, gzipLevel)
      case m => throw new IOException(s"writer method $m")
    }
  }

  /** `level` is the deflate level for the gzip'd series blocks (the sink's
    * compressionLevel option; -1 = zlib default) — per-slice streams, so
    * pipeline-intermediate CRAMs can take level 1 like the BGZF sinks.
    */
  private def gzipIfWorthIt(raw: Array[Byte], level: Int): (Int, Array[Byte]) = {
    val bos = new java.io.ByteArrayOutputStream(raw.length / 2 + 32)
    val g = new java.util.zip.GZIPOutputStream(bos) { `def`.setLevel(level) }
    g.write(raw); g.close()
    val packed = bos.toByteArray
    if (packed.length < raw.length) (1, packed) else (0, raw)
  }

  /** Raw (method 0) or pre-packed block with v3 CRC32 trailer. */
  private def encodeBlock(ctype: Int, cid: Int, method: Int, raw: Array[Byte]): Array[Byte] =
    encodeBlockPacked(ctype, cid, method, raw, raw.length)

  private def encodeBlockPacked(ctype: Int, cid: Int, method: Int, packed: Array[Byte],
                                rawSize: Int): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream(packed.length + 32)
    b.write(method); b.write(ctype)
    b.write(Itf8.write(cid))
    b.write(Itf8.write(packed.length))
    b.write(Itf8.write(rawSize))
    b.write(packed, 0, packed.length)
    val bytes = b.toByteArray
    val crc = new java.util.zip.CRC32()
    crc.update(bytes)
    val c = crc.getValue
    b.write((c & 0xff).toInt); b.write(((c >> 8) & 0xff).toInt)
    b.write(((c >> 16) & 0xff).toInt); b.write(((c >> 24) & 0xff).toInt)
    b.toByteArray
  }
}
