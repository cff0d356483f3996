package graft.sam

import graft.bam.{AlignmentRecord, BamCodec, SamHeader}

/** SAM text decode: tab-separated SAM line → AlignmentRecord (spec
  * §1.4/§1.5). The reference delegates to htsjdk's SAMLineParser
  * (SamSource.java:61-67); the write side is `SamRowEncoder`.
  */
object SamCodec {

  def fromLine(line: String, header: SamHeader): AlignmentRecord =
    fromLine(line, header, graft.bam.BamFieldMask.All)

  /** Masked decode — the text face of the BAM key-masked walk. Unless the
    * full `attributes` map is wanted, the optional-column region is never
    * split into per-tag strings: the line splits to the 11 mandatory fields
    * plus ONE raw tail, and the masked map's tags (`mask.maskedWanted`:
    * `attrKeys` plus any typed-tag columns) are found by a boundary scan of
    * that tail (tab arithmetic; unrequested tag values are never
    * materialized), rendered "T:value" as the BAM walk does; a repeated tag
    * keeps its LAST value (full-decode Map parity). With `strictTail = true`
    * (the reader passes it under stringency=strict) the raw tail is
    * shape-checked to the SAME failure surface the full attributes decode
    * has, so strict validation does not depend on which columns a query
    * selects; otherwise a malformed chunk is left out of the map rather than
    * failing the line.
    */
  def fromLine(line: String, header: SamHeader, mask: graft.bam.BamFieldMask,
               strictTail: Boolean = false): AlignmentRecord = {
    val fullAttrs = mask.attrs && !mask.attrsMasked
    val f =
      if (fullAttrs) line.split('\t')
      else {
        // capped split: mandatory fields + raw tag region. Java split drops
        // trailing empty fields; the capped form differs only when its tail
        // element is empty — fall back to the full split exactly there.
        val f0 = line.split("\t", 12)
        if (f0.nonEmpty && f0.last.isEmpty) line.split('\t') else f0
      }
    require(f.length >= 11, s"bad SAM line (${f.length} fields)")
    if (strictTail && !fullAttrs && f.length > 11) validateTail(f(11))
    val flags = f(1).toInt
    val contig = if (f(2) == "*") null else f(2)
    val start = f(3).toInt
    val cigar = f(5)
    val mateContig = f(6) match {
      case "*" => null
      case "=" => contig
      case c => c
    }
    val refLen = if (cigar == "*") 0 else BamCodec.cigarRefLength(BamCodec.parseCigar(cigar))
    val attrs: Map[String, String] =
      if (!mask.decodesMap) null
      else if (mask.attrsMasked) {
        // key-masked map: boundary-scan the raw tail for exactly the wanted
        // tags (the row layer filters the map back down to attrKeys);
        // nothing else is materialized
        if (f.length <= 11) Map.empty else scanSelectedTags(f(11), mask.maskedWanted)
      }
      else f.iterator.drop(11).map { t =>
        // XO:i:5 → "XO" -> "i:5"
        val tag = t.substring(0, 2)
        tag -> t.substring(3)
      }.toMap
    AlignmentRecord(
      readName = if (f(0) == "*") null else f(0),
      flags = flags,
      contig = contig,
      start = start,
      end = if (start > 0 && refLen > 0) start + refLen - 1 else 0,
      mapq = f(4).toInt,
      cigar = cigar,
      mateContig = mateContig,
      mateStart = f(7).toInt,
      tlen = f(8).toInt,
      seq = f(9),
      qual = f(10),
      attributes = attrs)
  }

  /** Strict-mode shape check of the raw tag tail — mirrors EXACTLY what the
    * full attributes decode enforces (`substring(0, 2)` / `substring(3)` need
    * a ≥3-char chunk; an empty chunk throws), no more and no less, so a file
    * fails or passes under stringency=strict independent of projection.
    */
  private[sam] def validateTail(tail: String): Unit = {
    // Java's split('\t') drops TRAILING empty tokens, so tabs at end of line
    // are invisible to the full decode — mirror that here.
    var n = tail.length
    while (n > 0 && tail.charAt(n - 1) == '\t') n -= 1
    var off = 0
    while (off < n) {
      val e0 = tail.indexOf('\t', off)
      val end = if (e0 < 0) n else e0
      require(end - off >= 3, s"bad SAM optional field '${tail.substring(off, end)}'")
      off = end + 1
    }
  }

  /** Boundary-scan the raw tag tail (`NM:i:5\tRG:Z:rgA\t…`): requested tags
    * render as "T:value" into a map in `wanted` order, everything else is
    * skipped by `indexOf('\t')` arithmetic without materializing a value.
    * Scans the WHOLE tail (no early stop) so a duplicated tag resolves to
    * its last occurrence, as the full decode's Map does.
    */
  private[sam] def scanSelectedTags(tail: String, wanted: IndexedSeq[String]): Map[String, String] = {
    val out = new Array[String](wanted.length)
    val n = tail.length
    var off = 0
    while (off < n) {
      val e0 = tail.indexOf('\t', off)
      val end = if (e0 < 0) n else e0
      // minimal well-formed chunk "XX:T:" is 5 chars (Z/H values may be empty)
      if (end - off >= 5 && tail.charAt(off + 2) == ':' && tail.charAt(off + 4) == ':') {
        val c0 = tail.charAt(off); val c1 = tail.charAt(off + 1)
        var i = 0
        while (i < wanted.length) {
          val w = wanted(i)
          if (w.length == 2 && w.charAt(0) == c0 && w.charAt(1) == c1)
            out(i) = tail.substring(off + 3, end)
          i += 1
        }
      }
      off = end + 1
    }
    BamCodec.slotsToMap(wanted, out)
  }
}
