package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{MapType, StringType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.GraftTable
import graft.sources.bam.BamFormat
import graft.sources.cram.CramFormat
import graft.sources.sam.SamFormat
import graft.sources.vcf.VcfFormat

/** Option-free map-key projection for the graft sources.
  *
  * Catalyst's nested-column pruning handles struct FIELDS (`genotypes[i].gt`)
  * but cannot prune MAP keys — `element_at(g.fields, "DP")` reaches the scan
  * as "needs the whole fields map", forcing a full per-sample FORMAT decode;
  * likewise `element_at(attributes, "NM")` on the reads formats forces the
  * full self-describing tag walk (and on CRAM, inflates every tag block).
  * The masked decodes exist behind explicit options with proven
  * value-identical semantics — `formatFields`/`infoFields` on VCF (round 13)
  * and `attrKeys` on BAM/SAM/CRAM (round 15) — and this rule makes those
  * wins automatic (the reference's lazy-decode posture, VcfSource.java:104-116
  * and AbstractSamSource.java:66-69, is option-free too): it walks the plan
  * above each graft relation, and when EVERY use of the projectable map
  * (`fields`/`info` on VCF, `attributes` on BAM/SAM/CRAM) is a literal-key
  * lookup and the map itself never escapes (not in the plan output, no
  * non-lookup consumer, no flow into a node type that could smuggle it under
  * fresh attribute ids), it rewrites the relation's options with the derived
  * key list. Any shape the analysis cannot positively account for bails to
  * the full decode — wrong results are impossible, only the optimization is
  * lost.
  *
  * Runs in the operator-optimization fixpoint (before V2 pushdown builds the
  * scan). Idempotent: a derivation only fires when the option is absent, and
  * a non-bailed derivation is complete for the relation, so re-runs derive
  * the same keys and leave the plan untouched. User-provided options always
  * win; `.option("autoProjection", "false")` disables the rule per read.
  */
object AutoProjection extends Rule[LogicalPlan] {

  private final val GenoArray = 0 // the VCF genotypes array<struct> column
  private final val GenoStruct = 1 // one exploded genotype struct
  private final val FieldsMap = 2 // the per-sample FORMAT map (VCF)
  private final val InfoMap = 3 // the INFO map (VCF)
  private final val AttrMap = 4 // the attributes tag map (BAM/SAM/CRAM)

  private final case class Taint(rel: Int, kind: Int)

  private final class RelState(val relation: DataSourceV2Relation) {
    var bailed = false
    val formatKeys = mutable.LinkedHashSet.empty[String]
    val infoKeys = mutable.LinkedHashSet.empty[String]
    val attrKeys = mutable.LinkedHashSet.empty[String]
  }

  private def projectableTable(t: AnyRef): Boolean = t match {
    case g: GraftTable => g.format match {
      case VcfFormat | BamFormat | SamFormat | CramFormat => true
      case _ => false
    }
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val rels = mutable.ArrayBuffer.empty[RelState]
    val taint = mutable.Map.empty[ExprId, Taint]

    // seed taint from every graft relation's output (leaves visited first)
    plan.foreach {
      case r: DataSourceV2Relation if projectableTable(r.table) &&
          r.options.getOrDefault("autoprojection", "true") != "false" =>
        val idx = rels.length
        rels += new RelState(r)
        r.table match {
          case g: GraftTable if g.format eq VcfFormat =>
            r.output.foreach { a =>
              a.name match {
                case "genotypes" => taint(a.exprId) = Taint(idx, GenoArray)
                case "info" if a.dataType.isInstanceOf[MapType] =>
                  taint(a.exprId) = Taint(idx, InfoMap)
                case _ =>
              }
            }
          case _ => // reads formats: the self-describing tag map
            r.output.foreach { a =>
              if (a.name == "attributes" && a.dataType.isInstanceOf[MapType])
                taint(a.exprId) = Taint(idx, AttrMap)
            }
        }
      case _ =>
    }
    if (rels.isEmpty) return plan

    def bail(rel: Int): Unit = rels(rel).bailed = true

    def addKey(rel: Int, kind: Int, k: String): Unit = kind match {
      case FieldsMap =>
        if (k.nonEmpty && k.forall(_.isLetterOrDigit)) rels(rel).formatKeys += k
        else bail(rel) // key outside the option grammar: fall back to full decode
      case InfoMap =>
        if (k.nonEmpty && k.forall(c => c.isLetterOrDigit || c == '_' || c == '.'))
          rels(rel).infoKeys += k
        else bail(rel)
      case AttrMap =>
        // the attrKeys option grammar (TagCols.attrKeys) demands a
        // two-character SAM tag; anything else bails rather than mask
        if (k.length == 2 && k.forall(_.isLetterOrDigit)) rels(rel).attrKeys += k
        else bail(rel)
    }

    def literalKey(e: Expression): Option[String] = e match {
      case Literal(s: UTF8String, StringType) => Some(s.toString)
      case _ => None
    }

    // is `m` a recognized reference to a tainted projectable map?
    // returns (relIdx, mapKind)
    def mapTarget(m: Expression): Option[(Int, Int)] = m match {
      case a: AttributeReference => taint.get(a.exprId).collect {
        case Taint(rel, kind) if kind == FieldsMap || kind == InfoMap || kind == AttrMap =>
          (rel, kind)
      }
      case gsf: GetStructField => gsf.child match {
        case a: AttributeReference if taint.get(a.exprId).exists(_.kind == GenoStruct) &&
            gsf.extractFieldName == "fields" =>
          Some((taint(a.exprId).rel, FieldsMap))
        case _ => None
      }
      case _ => None
    }

    // conservative use-classification: anything touching tainted data in a
    // shape we don't positively recognize bails the relation to full decode
    def scanExpr(e: Expression): Unit = e match {
      case GetMapValue(m, k) if mapTarget(m).isDefined =>
        val (rel, kind) = mapTarget(m).get
        literalKey(k) match {
          case Some(key) => addKey(rel, kind, key)
          case None => bail(rel)
        }
      case ea: ElementAt if mapTarget(ea.left).isDefined =>
        val (rel, kind) = mapTarget(ea.left).get
        literalKey(ea.right) match {
          case Some(key) => addKey(rel, kind, key)
          case None => bail(rel)
        }
      // map_contains_key: RuntimeReplaceable, so by optimization time it is
      // ArrayContains(MapKeys(m), k). A literal key CAN ride the mask —
      // the masked decode preserves key PRESENCE for masked keys (a VCF
      // FLAG like DB decodes to its empty value iff the record carries it),
      // so containment over the masked map is exact. Match the pre-replace
      // shape too in case the rule ever sees an unreplaced plan.
      case ArrayContains(MapKeys(m), k) if mapTarget(m).isDefined =>
        val (rel, kind) = mapTarget(m).get
        literalKey(k) match {
          case Some(key) => addKey(rel, kind, key)
          case None => bail(rel)
        }
      case mck: MapContainsKey if mapTarget(mck.left).isDefined =>
        val (rel, kind) = mapTarget(mck.left).get
        literalKey(mck.right) match {
          case Some(key) => addKey(rel, kind, key)
          case None => bail(rel)
        }
      case gsf: GetStructField => gsf.child match {
        case a: AttributeReference if taint.get(a.exprId).exists(_.kind == GenoStruct) =>
          // scalar struct field (sample/gt) is fine; extracting the whole
          // map anywhere but a recognized lookup position escapes it
          if (gsf.extractFieldName == "fields") bail(taint(a.exprId).rel)
        case other => scanExpr(other)
      }
      case gasf: GetArrayStructFields => gasf.child match {
        case a: AttributeReference if taint.get(a.exprId).exists(_.kind == GenoArray) =>
          if (gasf.field.name == "fields") bail(taint(a.exprId).rel)
        case other => scanExpr(other)
      }
      // null checks read no map VALUES — whitelisting them keeps the
      // derivation independent of whether InferFiltersFromConstraints has
      // already synthesized IsNotNull guards when this rule runs
      case IsNotNull(_: AttributeReference) => ()
      case IsNull(_: AttributeReference) => ()
      case a: AttributeReference if taint.contains(a.exprId) =>
        bail(taint(a.exprId).rel) // bare tainted reference in an unhandled shape
      case other => other.children.foreach(scanExpr)
    }

    // named lists (Project/Aggregate) both propagate taint through aliases
    // and pass tainted attributes through by exprId (no action needed)
    def scanNamed(ne: NamedExpression): Unit = ne match {
      case _: AttributeReference => // passthrough keeps its exprId
      case al @ Alias(child, _) => child match {
        case a: AttributeReference if taint.contains(a.exprId) =>
          taint(al.exprId) = taint(a.exprId)
        case gsf: GetStructField => gsf.child match {
          case a: AttributeReference if taint.get(a.exprId).exists(_.kind == GenoStruct) &&
              gsf.extractFieldName == "fields" =>
            taint(al.exprId) = Taint(taint(a.exprId).rel, FieldsMap)
          case _ => scanExpr(child)
        }
        case other => scanExpr(other)
      }
      case other => scanExpr(other)
    }

    plan.foreachUp {
      case _: DataSourceV2Relation => // leaf, seeded above
      case p: Project => p.projectList.foreach(scanNamed)
      case a: Aggregate =>
        a.groupingExpressions.foreach(scanExpr)
        a.aggregateExpressions.foreach(scanNamed)
      case g: Generate => g.generator match {
        case Explode(a: AttributeReference) if taint.get(a.exprId).exists(_.kind == GenoArray) =>
          taint(g.generatorOutput.last.exprId) = Taint(taint(a.exprId).rel, GenoStruct)
        case PosExplode(a: AttributeReference) if taint.get(a.exprId).exists(_.kind == GenoArray) =>
          taint(g.generatorOutput.last.exprId) = Taint(taint(a.exprId).rel, GenoStruct)
        case gen => gen.children.foreach(scanExpr)
      }
      case f: Filter => scanExpr(f.condition)
      case j: Join => j.condition.foreach(scanExpr)
      // passthrough nodes: output attrs keep their exprIds, expressions can
      // still consume tainted values — scan them all
      case n @ (_: Sort | _: GlobalLimit | _: LocalLimit | _: Offset | _: Tail |
                _: Repartition | _: RepartitionOperation | _: Sample |
                _: Deduplicate | _: Window | _: SubqueryAlias | _: Distinct) =>
        n.expressions.foreach(scanExpr)
      case other =>
        // unknown node type: it may smuggle tainted data out under fresh
        // attribute ids (Union, Expand, CTE, script transforms, ...) — bail
        // every relation whose taint flows into it
        other.children.flatMap(_.output).foreach { a =>
          taint.get(a.exprId).foreach(t => bail(t.rel))
        }
        other.expressions.foreach(scanExpr)
    }

    // a tainted attr in the final output hands the whole object to the user
    plan.output.foreach(a => taint.get(a.exprId).foreach(t => bail(t.rel)))

    val rewrites = new java.util.IdentityHashMap[DataSourceV2Relation, CaseInsensitiveStringMap]()
    rels.foreach { st =>
      if (!st.bailed) {
        val opts = st.relation.options
        val addFmt = !opts.containsKey("formatfields") && st.formatKeys.nonEmpty
        val addInfo = !opts.containsKey("infofields") && st.infoKeys.nonEmpty
        val addAttr = !opts.containsKey("attrkeys") && st.attrKeys.nonEmpty
        if (addFmt || addInfo || addAttr) {
          val m = new java.util.HashMap[String, String](opts.asCaseSensitiveMap())
          if (addFmt) m.put("formatfields", st.formatKeys.toSeq.sorted.mkString(","))
          if (addInfo) m.put("infofields", st.infoKeys.toSeq.sorted.mkString(","))
          if (addAttr) m.put("attrkeys", st.attrKeys.toSeq.sorted.mkString(","))
          rewrites.put(st.relation, new CaseInsensitiveStringMap(m))
        }
      }
    }
    if (rewrites.isEmpty) plan
    else plan.transform {
      case r: DataSourceV2Relation if rewrites.containsKey(r) =>
        r.copy(options = rewrites.get(r))
    }
  }
}
