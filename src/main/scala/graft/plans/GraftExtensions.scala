package graft.plans

import graft.serde.EWKB
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BinaryType, StructType}

/** Catalyst extension (SURVEY.md §7 phase 9): bbox covering-column
  * refinement for spatial filter predicates.
  *
  * A filter like `st_intersects(geometry, lit(<ewkb>))` is an opaque UDF to
  * Catalyst — nothing reaches the Parquet scan, so every row group is read
  * and every geometry parsed. When the frame carries the GeoParquet-style
  * covering column written by `GeoIO.writeGeoParquet` (`__geo_bbox`:
  * struct<xmin,ymin,xmax,ymax>), every non-disjoint DE-9IM predicate
  * implies envelope intersection with the literal operand, so the rule
  * conjoins
  *
  * {{{ __geo_bbox.xmin <= litEnv.maxX AND __geo_bbox.xmax >= litEnv.minX
  *     AND __geo_bbox.ymin <= litEnv.maxY AND __geo_bbox.ymax >= litEnv.minY }}}
  *
  * which the stock `PushDownPredicates` + Parquet filter pushdown turn into
  * row-group min/max pruning. The original predicate still runs — the bbox
  * conjunct is a necessary condition, never a replacement — so semantics
  * are unchanged; only the scan shrinks.
  *
  * Enable per session:
  * {{{ SparkSession.builder.withExtensions(new GraftExtensions) }}}
  * or `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => BboxFilterRule)
    ext.injectOptimizerRule(_ => BucketedSpatialJoinRule)
    ext.injectOptimizerRule(_ => GeoFusionRule)
    ext.injectPlannerStrategy(_ => SpatialJoinStrategy)
    GeoExpressions.registrations.foreach(ext.injectFunction)
  }
}

object BboxFilterRule extends Rule[LogicalPlan] with PredicateHelper {

  /** Predicates whose truth implies the operands' envelopes intersect. */
  private val EnvelopePreds = Set(
    "st_intersects", "st_contains", "st_within", "st_covers", "st_covered_by",
    "st_overlaps", "st_crosses", "st_touches", "st_equals", "st_contains_properly")

  /** True when the covering column `bbox` is known to describe `geomAttr`'s
    * envelopes. `writeGeoParquet` stamps the covered geometry column's name
    * into the bbox column's metadata (`covers`); when present it must match.
    * For pre-metadata files the bbox is only trusted when the filtered
    * attribute is the sole binary (geometry) column of its leaf — with two
    * geometry columns we cannot tell which one the envelopes came from. */
  private def covers(bbox: Attribute, geomAttr: Attribute, child: LogicalPlan): Boolean =
    if (bbox.metadata.contains("covers")) bbox.metadata.getString("covers") == geomAttr.name
    else child.collectLeaves().exists { leaf =>
      leaf.outputSet.contains(geomAttr) &&
      leaf.output.count(a => a.dataType == BinaryType) == 1
    }

  private def bboxField(bbox: Attribute, name: String): Expression = {
    val st = bbox.dataType.asInstanceOf[StructType]
    GetStructField(bbox, st.fieldIndex(name), Some(name))
  }

  /** graft parse constructors — deterministic, safe to evaluate at plan
    * time over foldable arguments. */
  private val ParseFns = Set(
    "st_geomfromtext", "st_geomfromewkt", "st_geomfromwkb", "st_geomfromgeojson")

  /** The literal side's envelope: a foldable EWKB expression, or a constant
    * `st_geomfrom*` parse chain evaluated at plan time. */
  private def litEnvelope(e: Expression): Option[org.locationtech.jts.geom.Envelope] = {
    val bytes: Option[Array[Byte]] = e match {
      case _ if e.foldable && e.dataType == BinaryType =>
        Option(e.eval()).map(_.asInstanceOf[Array[Byte]])
      case u: ScalaUDF if u.udfName.exists(ParseFns.contains) &&
          u.children.forall(_.foldable) =>
        try Option(u.eval(org.apache.spark.sql.catalyst.InternalRow.empty))
          .map(_.asInstanceOf[Array[Byte]])
        catch { case _: Exception => None }
      case _ => None
    }
    bytes.map(b => EWKB.read(b).getEnvelopeInternal).filterNot(_.isNull)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, child) if child.output.exists(_.name == graft.io.GeoIO.BboxColumn) &&
        !cond.references.exists(_.name == graft.io.GeoIO.BboxColumn) =>
      // covering columns found in the child's output, kept only when typed
      val bboxes = child.output.filter(a =>
        a.name == graft.io.GeoIO.BboxColumn && a.dataType.isInstanceOf[StructType])
      val extra = scala.collection.mutable.ArrayBuffer.empty[Expression]
      // Only TOP-LEVEL conjuncts imply the bbox condition: a spatial
      // predicate nested under Not/Or/CaseWhen can be false while the row
      // still satisfies the filter, so deriving a bbox conjunct from it
      // would wrongly drop rows.
      splitConjunctivePredicates(cond) foreach { p =>
        // spatial conjunct operands, from the SQL surface's ScalaUDF or
        // the Column API's kernel expression
        val operands: Seq[Expression] = p match {
          case GeoCall(name, args) if EnvelopePreds.contains(name) && args.length == 2 => args
          case _ => Seq.empty
        }
        if (operands.length == 2) {
          val envOpt = litEnvelope(operands(0)).orElse(litEnvelope(operands(1)))
          // the non-literal side must be a plain geometry column, and the
          // covering column must come from the SAME leaf relation — after a
          // join, pairing one side's bbox with the other side's geometry
          // would prune incorrectly
          val attrSide = operands.collectFirst {
            case a: AttributeReference if child.outputSet.contains(a) => a
          }
          for {
            env <- envOpt
            geomAttr <- attrSide
            bbox <- bboxes.find(b =>
              covers(b, geomAttr, child) &&
              child.collectLeaves().exists(leaf =>
                leaf.outputSet.contains(geomAttr) && leaf.outputSet.contains(b)))
          } {
            extra += And(
              And(LessThanOrEqual(bboxField(bbox, "xmin"), Literal(env.getMaxX)),
                GreaterThanOrEqual(bboxField(bbox, "xmax"), Literal(env.getMinX))),
              And(LessThanOrEqual(bboxField(bbox, "ymin"), Literal(env.getMaxY)),
                GreaterThanOrEqual(bboxField(bbox, "ymax"), Literal(env.getMinY))))
          }
        }
      }
      if (extra.isEmpty) f
      else Filter(extra.foldLeft(cond)((c, e) => And(e, c)), child)
  }
}
