package graft.index

import java.io.OutputStream
import java.nio.{ByteBuffer, ByteOrder}
import graft.bgzf.{Bgzf, SeekableInput}

/** BAM index (`.bai`) — the standard external index every aligner/samtools
  * pipeline produces next to a coordinate-sorted BAM. Reading it lets
  * interval scans jump straight to the matching file regions of BAMs graft
  * did NOT write (the reference's indexed-traversal path,
  * AbstractBinarySamSource.java:86-113, BAMFileReader2.java:1002-1098 span
  * computation); writing it makes graft's own sorted output consumable by
  * htslib tooling without a re-index.
  *
  * Format (SAM spec §5.2, little-endian): magic "BAI\1" | n_ref | per ref:
  * n_bin × (bin u32, n_chunk, chunks as (beg,end) virtual-offset u64 pairs)
  * then n_intv × ioffset u64 (the 16 kbp linear index) | optional n_no_coor.
  * Bin 37450 is the samtools pseudo-bin carrying per-ref metadata, not real
  * chunks.
  */
final case class BaiRef(binIds: Array[Int], binChunks: Array[Array[Long]],
                        linear: Array[Long],
                        // samtools pseudo-bin metadata (idxstats): placed
                        // mapped/unmapped counts and the ref's voff span;
                        // mapped = -1 when the index carries no pseudo-bin
                        mapped: Long = -1L, unmapped: Long = -1L,
                        offBeg: Long = 0L, offEnd: Long = 0L) {
  /** Chunks (flattened beg,end pairs) of bin `id`, or empty. */
  def chunksOf(id: Int): Array[Long] = {
    val i = binIds.indexOf(id)
    if (i < 0) Array.emptyLongArray else binChunks(i)
  }
}

final case class BaiIndex(refs: IndexedSeq[BaiRef], noCoor: Long,
                          // whether the OPTIONAL trailing n_no_coor u64 was
                          // physically present — an absent field reads as 0,
                          // and an exact-count consumer must tell them apart
                          hasNoCoor: Boolean = true) {

  /** Exact total record count per the samtools metadata, if this index can
    * supply one: n_no_coor physically present AND every ref either carries
    * a pseudo-bin or has no bins at all (binless ⇒ provably zero records —
    * samtools omits the pseudo-bin for empty refs). Records = placed
    * (mapped + unmapped) per counted ref + unplaced tail.
    */
  def exactRecordCount: Option[Long] =
    if (hasNoCoor && refs.forall(r => r.mapped >= 0 || r.binIds.isEmpty))
      Some(refs.collect { case r if r.mapped >= 0 => r.mapped + r.unmapped }.sum + noCoor)
    else None

  /** Merged virtual-offset spans of file regions that may hold records
    * overlapping [start0, end0] (0-based inclusive) on `refId` — candidate
    * bins' chunks, floor-clipped by the linear index, merged when their
    * compressed blocks touch (the BAMFileReader2.getFileSpan shape).
    */
  def spans(refId: Int, start0: Int, end0: Int): Seq[(Long, Long)] =
    if (refId < 0 || refId >= refs.length) Nil
    else BaiIndex.spansOf(refs(refId), start0, end0)

  /** Virtual offset just past the last placed record (0 when there is none):
    * the largest samtools pseudo-bin `off_end` when every ref with bins
    * carries a pseudo-bin, else the largest chunk end over all bins.
    * Unplaced-unmapped records follow it.
    */
  def mappedEnd: Long =
    if (refs.forall(r => r.mapped >= 0 || r.binIds.isEmpty))
      refs.iterator.filter(_.mapped >= 0).map(_.offEnd).foldLeft(0L)(math.max)
    else {
      var end = 0L
      refs.foreach(_.binChunks.foreach { cs =>
        var i = 1
        while (i < cs.length) { if (cs(i) > end) end = cs(i); i += 2 }
      })
      end
    }

  /** The linear-index entries of every ref, sorted and distinct. Each is
    * the virtual offset of a record start (0 marks windows before a ref's
    * first record).
    */
  def linearOffsets: Array[Long] = refs.flatMap(_.linear).distinct.sorted.toArray
}

object BaiIndex {
  val Magic: Array[Byte] = Array('B', 'A', 'I', 1).map(_.toByte)
  val PseudoBin = 37450 // samtools metadata pseudo-bin (= bin(8,9) sentinel)
  val MaxBins = 37450   // bins 0..37449 for positions < 2^29
  val MaxPos: Int = 1 << 29 // positions the binning scheme can address

  /** Bin of the smallest interval containing [beg, end) (SAM spec §5.3). */
  def reg2bin(beg: Int, end: Int): Int = {
    val e = end - 1
    if (beg >> 14 == e >> 14) ((1 << 15) - 1) / 7 + (beg >> 14)
    else if (beg >> 17 == e >> 17) ((1 << 12) - 1) / 7 + (beg >> 17)
    else if (beg >> 20 == e >> 20) ((1 << 9) - 1) / 7 + (beg >> 20)
    else if (beg >> 23 == e >> 23) ((1 << 6) - 1) / 7 + (beg >> 23)
    else if (beg >> 26 == e >> 26) ((1 << 3) - 1) / 7 + (beg >> 26)
    else 0
  }

  /** Shared bins+linear span computation (same scheme for BAI and tabix). */
  def spansOf(ref: BaiRef, start0: Int, end0: Int): Seq[(Long, Long)] = {
    val window = start0 >>> 14
    val minOffset =
      if (ref.linear.isEmpty) 0L
      else ref.linear(math.min(window, ref.linear.length - 1))
    val acc = Array.newBuilder[Long] // interleaved beg,end
    reg2bins(start0, end0 + 1).foreach { bin =>
      val cs = ref.chunksOf(bin)
      var i = 0
      while (i < cs.length) {
        val beg = cs(i); val end = cs(i + 1)
        if (end > minOffset) { acc += math.max(beg, minOffset); acc += end }
        i += 2
      }
    }
    val flat = acc.result()
    mergeSpans(Seq.tabulate(flat.length / 2)(i => (flat(2 * i), flat(2 * i + 1))))
  }

  /** Sorts virtual-offset spans and merges those whose compressed blocks
    * overlap or touch.
    */
  def mergeSpans(spans: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val merged = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    spans.sortBy(_._1).foreach { case (b, e) =>
      if (merged.nonEmpty && Bgzf.blockStart(b) <= Bgzf.blockStart(merged.last._2))
        merged(merged.length - 1) = (merged.last._1, math.max(merged.last._2, e))
      else merged += ((b, e))
    }
    merged.toSeq
  }

  /** All bins overlapping [beg, end) — every level of the 6-level hierarchy. */
  def reg2bins(beg: Int, end: Int): Seq[Int] = {
    val e = end - 1
    val out = Seq.newBuilder[Int]
    out += 0
    var k = 1 + (beg >> 26); while (k <= 1 + (e >> 26)) { out += k; k += 1 }
    k = 9 + (beg >> 23); while (k <= 9 + (e >> 23)) { out += k; k += 1 }
    k = 73 + (beg >> 20); while (k <= 73 + (e >> 20)) { out += k; k += 1 }
    k = 585 + (beg >> 17); while (k <= 585 + (e >> 17)) { out += k; k += 1 }
    k = 4681 + (beg >> 14); while (k <= 4681 + (e >> 14)) { out += k; k += 1 }
    out.result()
  }

  def read(in: SeekableInput): BaiIndex = {
    val size = in.size
    val buf = new Array[Byte](size.toInt)
    require(in.preadFully(0, buf, 0, buf.length) == buf.length, "truncated BAI")
    val bb = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](4)
    bb.get(magic)
    require(magic.sameElements(Magic), "bad BAI magic")
    val nRef = bb.getInt
    val refs = (0 until nRef).map { _ =>
      val nBin = bb.getInt
      val ids = Array.newBuilder[Int]
      val chunks = Array.newBuilder[Array[Long]]
      var mapped = -1L; var unmapped = -1L; var offBeg = 0L; var offEnd = 0L
      var b = 0
      while (b < nBin) {
        val bin = bb.getInt
        val nChunk = bb.getInt
        val cs = new Array[Long](2 * nChunk)
        var c = 0
        while (c < cs.length) { cs(c) = bb.getLong; c += 1 }
        if (bin == PseudoBin) {
          // metadata, not real chunks: (off_beg, off_end), (n_mapped, n_unmapped)
          if (cs.length >= 4) { offBeg = cs(0); offEnd = cs(1); mapped = cs(2); unmapped = cs(3) }
        } else { ids += bin; chunks += cs }
        b += 1
      }
      val nIntv = bb.getInt
      val linear = new Array[Long](nIntv)
      var w = 0
      while (w < nIntv) { linear(w) = bb.getLong; w += 1 }
      BaiRef(ids.result(), chunks.result(), linear, mapped, unmapped, offBeg, offEnd)
    }
    val hasNoCoor = bb.remaining() >= 8
    val noCoor = if (hasNoCoor) bb.getLong else 0L
    BaiIndex(refs, noCoor, hasNoCoor)
  }

  def write(out: OutputStream, idx: BaiIndex): Unit = {
    var bytes = 4 + 4 + 8
    idx.refs.foreach { r =>
      bytes += 4 + 4
      r.binChunks.foreach(cs => bytes += 4 + 4 + 8 * cs.length)
      if (r.mapped >= 0) bytes += 4 + 4 + 8 * 4 // samtools pseudo-bin
      bytes += 8 * r.linear.length
    }
    val bb = ByteBuffer.allocate(bytes).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(Magic)
    bb.putInt(idx.refs.length)
    idx.refs.foreach { r =>
      bb.putInt(r.binIds.length + (if (r.mapped >= 0) 1 else 0))
      var b = 0
      while (b < r.binIds.length) {
        bb.putInt(r.binIds(b))
        bb.putInt(r.binChunks(b).length / 2)
        r.binChunks(b).foreach(bb.putLong)
        b += 1
      }
      if (r.mapped >= 0) {
        // pseudo-bin LAST, the samtools layout: span chunk + count chunk
        bb.putInt(PseudoBin); bb.putInt(2)
        bb.putLong(r.offBeg); bb.putLong(r.offEnd)
        bb.putLong(r.mapped); bb.putLong(r.unmapped)
      }
      bb.putInt(r.linear.length)
      r.linear.foreach(bb.putLong)
    }
    bb.putLong(idx.noCoor)
    out.write(bb.array(), 0, bb.position())
  }
}

/** Streaming per-part BAI accumulator used by the single-file sink: records
  * arrive in file order with part-local virtual offsets; `commit` ships the
  * compact result to the driver, which rebases each part by the compressed
  * bytes preceding it and merges (same shift the SBI co-write applies).
  *
  * Memory: O(occupied bins + 16 kbp windows touched) per ref — the same
  * footprint samtools' index builder carries.
  */
final class BaiBuilder extends Serializable {
  import scala.collection.mutable
  // per ref: bin -> growing chunk list (flattened beg,end), linear windows
  private val bins = mutable.Map[Int, mutable.Map[Int, mutable.ArrayBuffer[Long]]]()
  private val linear = mutable.Map[Int, mutable.Map[Int, Long]]()
  private var noCoor = 0L
  // per ref: [n_mapped, n_unmapped, off_beg (first voff), off_end (last voff)]
  private val stats = mutable.Map[Int, Array[Long]]()

  /** Add a record: [start0, end0] 0-based inclusive; voffs span the record.
    * `mapped` = FLAG 0x4 unset (a PLACED-unmapped mate counts as unmapped
    * here while still contributing no-coor nothing — samtools semantics).
    */
  def add(refId: Int, start0: Int, end0: Int, voffBeg: Long, voffEnd: Long,
          mapped: Boolean = true): Unit = {
    if (refId < 0) { noCoor += 1; return }
    val st = stats.getOrElseUpdate(refId, Array(0L, 0L, voffBeg, voffEnd))
    if (mapped) st(0) += 1 else st(1) += 1
    if (voffBeg < st(2)) st(2) = voffBeg
    if (voffEnd > st(3)) st(3) = voffEnd
    val e0 = math.max(start0, end0)
    val bin = BaiIndex.reg2bin(start0, e0 + 1)
    val chunks = bins.getOrElseUpdate(refId, mutable.Map()).getOrElseUpdate(bin, mutable.ArrayBuffer())
    // records arrive in voff order: extend the last chunk when contiguous
    // (same compressed block), else open a new one
    if (chunks.nonEmpty && Bgzf.blockStart(voffBeg) <= Bgzf.blockStart(chunks.last))
      chunks(chunks.length - 1) = voffEnd
    else { chunks += voffBeg; chunks += voffEnd }
    val lin = linear.getOrElseUpdate(refId, mutable.Map())
    var w = start0 >>> 14
    val wEnd = e0 >>> 14
    while (w <= wEnd) {
      if (lin.getOrElse(w, Long.MaxValue) > voffBeg) lin(w) = voffBeg
      w += 1
    }
  }

  /** Part-local data: (refId, binIds, chunks, linearWindows, linearVoffs). */
  def result(): BaiPartData = {
    val refIds = bins.keySet.union(linear.keySet).toArray.sorted
    BaiPartData(
      refIds,
      refIds.map(r => bins.getOrElse(r, mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]).keys.toArray.sorted),
      refIds.map(r => {
        val m = bins.getOrElse(r, mutable.Map.empty[Int, mutable.ArrayBuffer[Long]])
        m.keys.toArray.sorted.map(b => m(b).toArray)
      }),
      refIds.map(r => linear(r).keys.toArray.sorted),
      refIds.map(r => {
        val m = linear(r)
        m.keys.toArray.sorted.map(m)
      }),
      refIds.map(r => stats.getOrElse(r, Array(-1L, -1L, 0L, 0L))),
      noCoor)
  }
}

/** Compact serialized form of one part's index contribution. */
final case class BaiPartData(refIds: Array[Int], binIds: Array[Array[Int]],
                             chunks: Array[Array[Array[Long]]],
                             linWindows: Array[Array[Int]], linVoffs: Array[Array[Long]],
                             stats: Array[Array[Long]], // per refIds row: [mapped, unmapped, offBeg, offEnd]
                             noCoor: Long) extends Serializable

object BaiPartData {
  /** Merge part contributions (in part/file order) into a full index.
    * `shift(i)` = compressed bytes preceding part i (voff += shift << 16).
    */
  def merge(parts: Seq[BaiPartData], shifts: Seq[Long], nRef: Int): BaiIndex = {
    import scala.collection.mutable
    val bins = Array.fill(nRef)(mutable.Map[Int, mutable.ArrayBuffer[Long]]())
    val linear = Array.fill(nRef)(mutable.Map[Int, Long]())
    val stats = Array.fill(nRef)(Array(-1L, -1L, Long.MaxValue, Long.MinValue))
    var noCoor = 0L
    parts.zip(shifts).foreach { case (p, base) =>
      val shift = base << 16
      noCoor += p.noCoor
      var ri = 0
      while (ri < p.refIds.length) {
        val r = p.refIds(ri)
        var bi = 0
        while (bi < p.binIds(ri).length) {
          val chunks = bins(r).getOrElseUpdate(p.binIds(ri)(bi), mutable.ArrayBuffer())
          val cs = p.chunks(ri)(bi)
          var c = 0
          while (c < cs.length) {
            val beg = cs(c) + shift; val end = cs(c + 1) + shift
            // parts arrive in file order: chunk lists stay voff-sorted; merge
            // across the part seam when blocks touch
            if (chunks.nonEmpty && Bgzf.blockStart(beg) <= Bgzf.blockStart(chunks.last))
              chunks(chunks.length - 1) = math.max(chunks.last, end)
            else { chunks += beg; chunks += end }
            c += 2
          }
          bi += 1
        }
        var wi = 0
        while (wi < p.linWindows(ri).length) {
          val w = p.linWindows(ri)(wi)
          val v = p.linVoffs(ri)(wi) + shift
          if (linear(r).getOrElse(w, Long.MaxValue) > v) linear(r)(w) = v
          wi += 1
        }
        if (ri < p.stats.length && p.stats(ri)(0) >= 0) {
          val st = stats(r)
          if (st(0) < 0) { st(0) = 0; st(1) = 0 }
          st(0) += p.stats(ri)(0); st(1) += p.stats(ri)(1)
          st(2) = math.min(st(2), p.stats(ri)(2) + shift)
          st(3) = math.max(st(3), p.stats(ri)(3) + shift)
        }
        ri += 1
      }
    }
    BaiIndex((0 until nRef).map { r =>
      val ids = bins(r).keys.toArray.sorted
      val nIntv = if (linear(r).isEmpty) 0 else linear(r).keys.max + 1
      // spec: empty windows carry the previous window's offset (readers use
      // it as a floor); windows before the ref's first record keep 0 — a
      // floor may only be too low, never too high, so readers stay exact
      // (samtools fills them with the ref's first offset instead)
      val lin = new Array[Long](nIntv)
      var prev = 0L
      var w = 0
      while (w < nIntv) {
        prev = linear(r).getOrElse(w, prev)
        lin(w) = prev
        w += 1
      }
      val st = stats(r)
      if (st(0) >= 0)
        BaiRef(ids, ids.map(b => bins(r)(b).toArray), lin,
          st(0), st(1), st(2), st(3))
      else BaiRef(ids, ids.map(b => bins(r)(b).toArray), lin)
    }, noCoor)
  }
}
