package graft.sources.vcf

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

import graft.vcf.{Genotype, Variant, VcfRowEncoder}

/** InternalRow → Variant (write side): the object-model converter of the
  * executable VCF write spec (`VcfSpecWriter.toLine(RowToVariant.convert(row,
  * idx))`), against which `VcfRowEncoder` is proven.
  */
object RowToVariant {
  type Idx = VcfRowEncoder.Idx

  def indices(schema: StructType): Idx = VcfRowEncoder.indices(schema)

  def convert(row: InternalRow, x: Idx): Variant = {
    def str(i: Int): String = if (i < 0 || row.isNullAt(i)) null else row.getUTF8String(i).toString
    def strSeq(i: Int): Seq[String] =
      if (i < 0 || row.isNullAt(i)) Nil
      else {
        val a = row.getArray(i)
        (0 until a.numElements()).map(j => a.getUTF8String(j).toString)
      }
    def strMap(i: Int): Map[String, String] =
      if (i < 0 || row.isNullAt(i)) Map.empty
      else {
        val m = row.getMap(i)
        val ks = m.keyArray(); val vs = m.valueArray()
        (0 until m.numElements()).map { j =>
          val v = vs.getUTF8String(j)
          // permissive table schema (valueContainsNull=true) no longer
          // guards this path — fail with the key named, not an opaque NPE
          if (v == null) throw new IllegalArgumentException(
            s"null value for map key '${ks.getUTF8String(j)}' in VCF write (INFO/FORMAT values cannot be null)")
          ks.getUTF8String(j).toString -> v.toString
        }.toMap
      }
    val genotypes: Seq[Genotype] =
      if (x.genotypes < 0 || row.isNullAt(x.genotypes)) Nil
      else {
        val a = row.getArray(x.genotypes)
        (0 until a.numElements()).map { j =>
          val g = a.getStruct(j, x.gArity)
          val fields =
            if (x.gFields < 0 || g.isNullAt(x.gFields)) Map.empty[String, String]
            else {
              val m = g.getMap(x.gFields)
              val ks = m.keyArray(); val vs = m.valueArray()
              (0 until m.numElements()).map { t =>
                val v = vs.getUTF8String(t)
                if (v == null) throw new IllegalArgumentException(
                  s"null value for FORMAT key '${ks.getUTF8String(t)}' in VCF write (use '.' for missing)")
                ks.getUTF8String(t).toString -> v.toString
              }.toMap
            }
          Genotype(
            if (x.gSample < 0 || g.isNullAt(x.gSample)) null
            else g.getUTF8String(x.gSample).toString,
            if (x.gGt < 0 || g.isNullAt(x.gGt)) "./."
            else g.getUTF8String(x.gGt).toString,
            fields)
        }
      }
    Variant(str(x.contig),
      if (row.isNullAt(x.start)) 0 else row.getInt(x.start),
      if (x.end < 0 || row.isNullAt(x.end)) 0 else row.getInt(x.end),
      str(x.id), str(x.ref), strSeq(x.alt),
      if (x.qual < 0 || row.isNullAt(x.qual)) null else java.lang.Double.valueOf(row.getDouble(x.qual)),
      strSeq(x.filters), strMap(x.info), genotypes)
  }
}
