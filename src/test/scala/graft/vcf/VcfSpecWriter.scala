package graft.vcf

/** The object-model VCF writer: Variant → VCF data line through `String`s
  * and Scala `Map`s. The executable spec `VcfRowEncoder` is proven against
  * (VcfRowEncoderSpec, RowEncoderSweepSpec).
  */
object VcfSpecWriter {

  def toLine(v: Variant): String = {
    VcfRowEncoder.requireSiteFields(v.contig, v.ref)
    val sb = new StringBuilder(128)
    sb.append(v.contig).append('\t').append(v.start).append('\t')
    sb.append(if (v.id == null) "." else v.id).append('\t')
    sb.append(v.ref).append('\t')
    sb.append(if (v.alt.isEmpty) "." else v.alt.mkString(",")).append('\t')
    sb.append(formatQual(v.qual)).append('\t')
    sb.append(if (v.filters.isEmpty) "." else v.filters.mkString(";")).append('\t')
    sb.append(formatInfo(v))
    if (v.genotypes.nonEmpty) {
      // FORMAT keys: GT first IF any genotype carries one (VCF spec: GT must
      // be first when present; omit entirely when absent — site-only lines
      // must not grow fabricated ./. calls), then the union of field keys
      // in sorted order
      val hasGt = v.genotypes.exists(_.gt != null)
      // encode is the write path's dominant CPU (VcfWriteCostSpec: 2.6× the
      // deflate at level 6) — the GT-only cohort line is the hot shape, so
      // it appends directly with zero per-genotype Seq/String churn
      val noFields = v.genotypes.forall(_.fields.isEmpty)
      if (noFields) {
        sb.append('\t')
        if (hasGt) sb.append("GT")
        v.genotypes.foreach { g =>
          sb.append('\t')
          if (hasGt) sb.append(if (g.gt == null) "./." else g.gt)
        }
      } else {
        val keys = v.genotypes.flatMap(_.fields.keys).distinct.sorted
        val fmtKeys = if (hasGt) "GT" +: keys else keys
        sb.append('\t').append(fmtKeys.mkString(":"))
        v.genotypes.foreach { g =>
          sb.append('\t')
          var started = false
          if (hasGt) { sb.append(if (g.gt == null) "./." else g.gt); started = true }
          keys.foreach { k =>
            if (started) sb.append(':')
            sb.append(g.fields.getOrElse(k, "."))
            started = true
          }
        }
      }
    }
    sb.toString
  }

  private def formatInfo(v: Variant): String = {
    // synthesize END when it was derived? No: END only round-trips if it was
    // present in info; info holds the original payload verbatim.
    if (v.info.isEmpty) "."
    else v.info.toSeq.sortBy(_._1).map { case (k, vl) => if (vl.isEmpty) k else s"$k=$vl" }.mkString(";")
  }

  def formatQual(q: java.lang.Double): String = {
    if (q == null) "."
    else {
      val d = q.doubleValue()
      if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
    }
  }
}
