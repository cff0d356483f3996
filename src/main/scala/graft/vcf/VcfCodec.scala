package graft.vcf

/** VCF text decode: tab-separated data line → Variant (VCF spec 4.2 §1.6);
  * lines are written by `VcfRowEncoder`.
  */
object VcfCodec {

  def fromLine(line: String, samples: Seq[String]): Variant =
    fromLine(line, samples, VcfFormatMask.All, null)

  /** Masked decode: the FORMAT/genotype columns are the wide, expensive part
    * of a cohort line, so `mask` controls how much of them is parsed —
    * `genotypes=false` skips the sample columns entirely (the line is split
    * only to its 8 mandatory fields), a pruned struct without `fields`
    * decodes GT by token scan without building per-sample maps, and
    * `fieldKeys` restricts the map to the requested FORMAT keys. `probe`
    * (test-only, pass null) observes every non-GT FORMAT value the decode
    * materializes — the skip-proof hook.
    */
  def fromLine(line: String, samples: Seq[String], mask: VcfFormatMask,
               probe: String => Unit): Variant = {
    val needG = mask.genotypes && samples.nonEmpty
    val f =
      if (needG) line.split('\t')
      else {
        // only fields 0..7 are read: cap the split so a wide cohort line
        // costs O(mandatory fields), not O(samples). Java split drops
        // TRAILING empty fields (the full path's >= 8 check depends on
        // it); the capped split differs only when its tail element is
        // empty — fall back to the full split exactly there.
        val f0 = line.split("\t", 9)
        if (f0.nonEmpty && f0.last.isEmpty) line.split('\t') else f0
      }
    require(f.length >= 8, s"bad VCF line (${f.length} fields)")
    val pos = f(1).toInt
    val ref = f(3)
    // INFO decode under the mask: full when the whole map is required,
    // selective key scan when `infoKeys` restricts it or only `end` needs
    // the END override, skipped entirely when neither info nor end is read
    // (annotated real-world VCFs carry kilobyte CSQ/ANN payloads here)
    val fullInfo = mask.info && mask.infoKeys.isEmpty
    var endOverride: String = null
    val info: Map[String, String] =
      if (fullInfo) {
        if (f(7) == ".") Map.empty
        else {
          val m = f(7).split(';').iterator.filter(_.nonEmpty).map { kv =>
            val i = kv.indexOf('=')
            if (i < 0) kv -> "" else kv.substring(0, i) -> kv.substring(i + 1)
          }.toMap
          if (probe != null) m.valuesIterator.foreach(v => if (v.nonEmpty) probe(v))
          m
        }
      } else if (mask.info || mask.end) {
        val wanted = if (mask.info) mask.infoKeys.get else Vector.empty[String]
        val (m, e) = scanInfo(f(7), wanted, mask.end, probe)
        endOverride = e
        m
      } else Map.empty
    val end =
      if (fullInfo) info.get("END").map(_.toInt).getOrElse(pos + ref.length - 1)
      else if (endOverride != null) endOverride.toInt
      else pos + ref.length - 1
    val genotypes: Seq[Genotype] =
      if (needG && f.length > 9) decodeGenotypes(f, samples, mask, probe)
      else Nil
    Variant(
      contig = f(0),
      start = pos,
      end = end,
      id = if (f(2) == ".") null else f(2),
      ref = ref,
      alt = if (f(4) == ".") Nil else f(4).split(',').toSeq,
      qual = if (f(5) == ".") null else java.lang.Double.valueOf(f(5).toDouble),
      filters = if (f(6) == ".") Nil else f(6).split(';').toSeq,
      info = info,
      genotypes = genotypes)
  }

  /** Selective INFO parse: materialize only `wanted` keys' values (and the
    * END override when `needEnd`); every other key=value token is skipped
    * by ';'-boundary arithmetic with `regionMatches` key compare — never
    * turned into a string. Duplicate keys keep first position, last value
    * (small-Map `+` semantics of the full path); an END flag without '='
    * fails `.toInt` exactly like the full path's `"".toInt`.
    */
  private def scanInfo(s: String, wanted: IndexedSeq[String], needEnd: Boolean,
                       probe: String => Unit): (Map[String, String], String) = {
    var m = Map.empty[String, String]
    var end: String = null
    if (s == ".") return (m, end)
    val n = s.length
    var off = 0
    while (off < n) {
      val e0 = s.indexOf(';', off)
      val tokEnd = if (e0 < 0) n else e0
      if (tokEnd > off) { // empty tokens dropped (filter(_.nonEmpty) parity)
        var eq = s.indexOf('=', off)
        if (eq < 0 || eq >= tokEnd) eq = tokEnd // flag key: value ""
        val klen = eq - off
        if (needEnd && klen == 3 && s.regionMatches(off, "END", 0, 3))
          end = if (eq < tokEnd) s.substring(eq + 1, tokEnd) else ""
        var i = 0
        while (i < wanted.length) {
          val w = wanted(i)
          if (w.length == klen && s.regionMatches(off, w, 0, klen)) {
            val v = if (eq < tokEnd) s.substring(eq + 1, tokEnd) else ""
            if (probe != null && v.nonEmpty) probe(v)
            m += (w -> v) // replaces value, keeps first position
          }
          i += 1
        }
      }
      off = tokEnd + 1
    }
    (m, end)
  }

  private def decodeGenotypes(f: Array[String], samples: Seq[String],
      mask: VcfFormatMask, probe: String => Unit): Seq[Genotype] = {
    if (mask.fields && mask.fieldKeys.isEmpty) {
      // full decode — the reference shape, byte-for-byte as ever
      val fmtKeys = f(8).split(':')
      samples.indices.map { si =>
        val vals = if (9 + si < f.length) f(9 + si).split(':') else Array.empty[String]
        val fields = fmtKeys.zipWithIndex.collect {
          case (k, i) if i < vals.length => k -> vals(i)
        }.toMap
        if (probe != null) {
          var i = 0
          while (i < vals.length && i < fmtKeys.length) {
            if (fmtKeys(i) != "GT") probe(vals(i)); i += 1
          }
        }
        // gt = null when FORMAT has no GT (site-only annotations like
        // DP-only) — fabricating "./." would invent genotype calls
        Genotype(samples(si), fields.getOrElse("GT", null), fields - "GT")
      }
    } else {
      val wantKeys: Array[String] =
        if (mask.fields) mask.fieldKeys.get.filterNot(_ == "GT").toArray
        else Array.empty
      if (!mask.gt && wantKeys.isEmpty)
        // sample-only projection: names come from the header, nothing in
        // the FORMAT/sample columns is read at all
        return samples.indices.map(si => Genotype(samples(si), null, Map.empty))
      // token-index → decode slot (-1 skip, -2 GT, >=0 wantKeys slot). A
      // repeated FORMAT key keeps its first position but last value below
      // the sample's token count — the full path's small-Map semantics —
      // which overwrite-as-scanned plus first-occurrence map build
      // reproduces exactly.
      val fmtKeys = f(8).split(':')
      val slotByTok = new Array[Int](fmtKeys.length)
      java.util.Arrays.fill(slotByTok, -1)
      var maxWanted = -1
      var i = 0
      while (i < fmtKeys.length) {
        val k = fmtKeys(i)
        if (mask.gt && k == "GT") { slotByTok(i) = -2; maxWanted = i }
        else {
          var w = 0
          while (w < wantKeys.length) {
            if (wantKeys(w) == k) { slotByTok(i) = w; maxWanted = i }
            w += 1
          }
        }
        i += 1
      }
      val fieldVals = new Array[String](wantKeys.length)
      samples.indices.map { si =>
        var gt: String = null
        java.util.Arrays.fill(fieldVals.asInstanceOf[Array[AnyRef]], null)
        if (9 + si < f.length && maxWanted >= 0) {
          val s = f(9 + si)
          // split-semantics parity: a trailing run of ':' contributes no
          // tokens, but a lone empty column is ONE empty token (Java
          // "".split(":") -> [""])
          var eff = s.length
          while (eff > 0 && s.charAt(eff - 1) == ':') eff -= 1
          if (s.isEmpty || eff > 0) {
            var tok = 0; var off = 0
            var done = false
            while (!done && tok <= maxWanted) {
              val nxt = s.indexOf(':', off)
              val end = if (nxt < 0 || nxt >= eff) eff else nxt
              slotByTok(tok) match {
                case -2 => gt = s.substring(off, end)
                case sl if sl >= 0 =>
                  val v = s.substring(off, end)
                  if (probe != null) probe(v)
                  fieldVals(sl) = v
                case _ => // unrequested: boundary scan only, never materialized
              }
              if (end >= eff) done = true else off = end + 1
              tok += 1
            }
          }
        }
        var m = Map.empty[String, String]
        var t = 0
        while (t < slotByTok.length) {
          val sl = slotByTok(t)
          if (sl >= 0 && fieldVals(sl) != null && !m.contains(wantKeys(sl)))
            m += (wantKeys(sl) -> fieldVals(sl))
          t += 1
        }
        Genotype(samples(si), gt, m)
      }
    }
  }
}
