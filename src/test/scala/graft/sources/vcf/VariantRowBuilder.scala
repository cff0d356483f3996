package graft.sources.vcf

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.vcf.{Genotype, Variant}

/** The object path of a VCF scan, kept as the executable spec of
  * `graft.vcf.VcfRowDecoder`: `VcfCodec.fromLine`'s `Variant` copied into
  * a `GenericInternalRow` of the required schema (VcfRowDecoderSpec).
  */
object VariantRowBuilder {
  type Getter = Variant => Any

  private def strArray(xs: Seq[String]): GenericArrayData =
    new GenericArrayData(xs.map(x => UTF8String.fromString(x): Any).toArray)

  private def strMap(m: Map[String, String]): ArrayBasedMapData = {
    val keys = new Array[Any](m.size)
    val vals = new Array[Any](m.size)
    var i = 0
    m.foreach { case (k, v) => keys(i) = UTF8String.fromString(k); vals(i) = UTF8String.fromString(v); i += 1 }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }

  def getters(required: StructType): Array[Getter] =
    required.fieldNames.map[Getter] {
      case "contig" => v => UTF8String.fromString(v.contig)
      case "start" => v => v.start
      case "end" => v => v.end
      case "id" => v => if (v.id == null) null else UTF8String.fromString(v.id)
      case "ref" => v => UTF8String.fromString(v.ref)
      case "alt" => v => strArray(v.alt)
      case "qual" => v => if (v.qual == null) null else v.qual.doubleValue()
      case "filters" => v => strArray(v.filters)
      case "info" => v => strMap(v.info)
      // Catalyst nested-schema pruning may hand us a genotype struct with a
      // SUBSET of {sample, gt, fields} in any order (e.g. `genotypes[0].gt`
      // prunes to {gt}); consumers read the struct POSITIONALLY against the
      // pruned schema, so the emitted fields must match it, not the full
      // struct — emitting all three would silently serve `sample` as `gt`.
      case "genotypes" =>
        val elem = required("genotypes").dataType.asInstanceOf[ArrayType]
          .elementType.asInstanceOf[StructType]
        val subs = elem.fieldNames.map[Genotype => Any] {
          case "sample" => g => UTF8String.fromString(g.sample)
          case "gt" => g => UTF8String.fromString(g.gt)
          case "fields" => g => strMap(g.fields)
          case other =>
            throw new IllegalArgumentException(s"unknown genotype field $other")
        }
        v => new GenericArrayData(v.genotypes.map { g =>
          val a = new Array[Any](subs.length)
          var i = 0
          while (i < subs.length) { a(i) = subs(i)(g); i += 1 }
          new GenericInternalRow(a): Any
        }.toArray)
      case other => throw new IllegalArgumentException(s"unknown column $other")
    }

  def build(v: Variant, getters: Array[Getter]): InternalRow = {
    val vals = new Array[Any](getters.length)
    var i = 0
    while (i < vals.length) { vals(i) = getters(i)(v); i += 1 }
    new GenericInternalRow(vals)
  }
}
