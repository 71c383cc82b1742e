package graft.plans

import graft.join.SpatialJoin
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.LongType

/** Auto-plans a PLAIN spatial join between two bucketed spatial stores
  * (reference users never call a special join API —
  * `/root/reference/polars_st/geolazyframe.py:64-158` is the ordinary
  * frame join; here the ordinary `df.join(st_intersects(lg, rg))` should
  * get [[SpatialJoin.sjoinBucketed]]'s exchange-free plan when both sides
  * qualify).
  *
  * Fires when an INNER join's condition is one spatial predicate and BOTH
  * children still carry the store's grid-cell column ([[SpatialJoin.CellCol]])
  * from a [[SpatialJoin.writeSpatialBucketed]] table scan with the SAME
  * `graft.spatial.cellSize` table property and the SAME bucket count. The
  * join is rewritten to a cell equi-join (bucketed sort-merge — zero
  * exchanges: both scans are already hash-partitioned and sorted on the
  * cell) refined by the codegen'd [[STBucketedMatch]] (envelope test +
  * reference-point dedup + predicate).
  *
  * SEMANTICS NOTE: a store table holds one row per (geometry, covering
  * cell) — the raw exploded layout. This rewrite gives the join the
  * STORE's logical semantics (one output row per matching geometry PAIR,
  * the same answer sjoinBucketed/sjoin produce), not the row-level
  * cross-product of the exploded layout a predicate-only join would
  * degenerate to without the rule (duplicate pairs, one per shared-cell
  * combination — an answer no caller wants). The cell columns stay in the
  * output (an optimizer rule must preserve the schema); both carry the
  * owning cell after the rewrite.
  *
  * The rewritten condition is an `EqualTo`, so the rule never re-fires on
  * its own output and [[SpatialJoinStrategy]] (which would otherwise plan
  * the broadcast/quadtree tiers) no longer matches — rule before strategy
  * is exactly the precedence we want: co-located beats broadcast beats
  * shuffle.
  *
  * Hot-cell salting ([[SpatialJoin.sjoinBucketed]], r14) is NOT applied
  * by this rule: an optimizer rewrite must stay row-for-row equivalent
  * to the plan it replaces, and the salted union re-shapes the plan. A
  * join known to carry skewed cells should go through the sjoinBucketed
  * door, which reads the stores' stamped histograms and salts past the
  * pair bound. This rule reads the same histograms and WARNS at plan
  * time when the rewrite it emits will carry a hot cell. */
object BucketedSpatialJoinRule extends Rule[LogicalPlan] {

  /** (cell attribute, STAMPED geometry attribute, cellSize, numBuckets)
    * when `side` still exposes the cell column of a bucketed-store scan.
    * The cell attribute must originate from a leaf whose relation is
    * bucketed BY that column — a user-fabricated `__cell` column over a
    * non-bucketed source must not trigger the rewrite (the equi-join
    * would then shuffle, and the reference-point rule assumes write-time
    * cell explosion). The geometry attribute is the one the
    * `graft.spatial.geometry` table property names: the cells were
    * exploded from THAT column, so the rewrite is only sound when the
    * join predicate tests exactly it — a second geometry column or a
    * derived expression (st_buffer(...)) must decline, or pairs whose
    * envelopes intersect without sharing a primary-geometry cell would
    * silently vanish. */
  private def storeInfo(side: LogicalPlan)
      : Option[(Attribute, Attribute, Double, Int,
        () => Option[SpatialJoin.CellHist], String)] =
    side.output.find(a => a.name == SpatialJoin.CellCol && a.dataType == LongType)
      .flatMap { cellAttr =>
        side.collectLeaves().collectFirst {
          case lr: LogicalRelation if lr.outputSet.contains(cellAttr) => lr
        }.flatMap { lr =>
          lr.relation match {
            case fs: HadoopFsRelation =>
              for {
                bs <- fs.bucketSpec
                if bs.bucketColumnNames == Seq(SpatialJoin.CellCol)
                ct <- lr.catalogTable
                cs <- ct.properties.get(SpatialJoin.CellSizeProp)
                  .flatMap(s => scala.util.Try(s.toDouble).toOption)
                geomName = ct.properties.getOrElse("graft.spatial.geometry", "geometry")
                geomAttr <- side.output.find(a =>
                  a.name == geomName && lr.outputSet.contains(a))
              } yield (cellAttr, geomAttr, cs, bs.numBuckets,
                // guarded (ADVICE r14): a corrupt or metastore-truncated
                // histogram payload degrades the plan-time WARNING to a
                // logged None — it must never throw inside the optimizer
                // and fail the query it would merely have annotated. A
                // THUNK, not a value: sidecar-stamped stores resolve the
                // histogram through filesystem metadata, and that cost
                // belongs only to joins the rule actually rewrites — not
                // to every candidate it then declines.
                () => SpatialJoin.histogramOf(graft.StoreStamp.store(
                  org.apache.spark.sql.SparkSession.active, ct)),
                ct.identifier.unquotedString)
            case _ => None
          }
        }
      }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case j @ Join(l, r, Inner, Some(cond), hint) =>
      (for {
        (name, a, b) <- SpatialJoinStrategy.spatialCond(cond)
        (lCell, lGeom, lcs, lnb, lHist, lName) <- storeInfo(l)
        (rCell, rGeom, rcs, rnb, rHist, rName) <- storeInfo(r)
        if lcs == rcs && lnb > 0 && lnb == rnb
        // orient the operands as (leftGeom, rightGeom); a crossed
        // condition flips the predicate to its converse. Operands must
        // BE the stamped geometry attributes — not merely reference the
        // right side (see storeInfo's geometry-column rationale).
        oriented <- {
          def isAttr(e: Expression, target: Attribute): Boolean = e match {
            case ar: AttributeReference => ar.exprId == target.exprId
            case _ => false
          }
          if (isAttr(a, lGeom) && isAttr(b, rGeom)) Some((a, b, name))
          else if (isAttr(a, rGeom) && isAttr(b, lGeom))
            SpatialJoinStrategy.Converse.get(name).map((b, a, _))
          else None
        }
      } yield {
        // the rewrite itself never salts (a rule must stay row-for-row
        // equivalent) — but when the stamped histograms show a cell past
        // the sjoinBucketed hot bound, say so at PLAN time: the silent
        // alternative is a straggler task the user discovers at hour N
        // of a 100 TB join
        for {
          lh <- lHist(); rh <- rHist()
          hot = SpatialJoin.hotCellsIn(lh, rh, SpatialJoin.DefaultHotPairsBound)
          if hot.nonEmpty
        } logWarning(s"spatial join $lName x $rName: ${hot.size} grid " +
          s"cell(s) reach ${SpatialJoin.DefaultHotPairsBound} candidate " +
          "pairs (histogram counts; absent sides upper-bounded) — this " +
          "auto-planned join may carry straggler tasks; use " +
          "SpatialJoin.sjoinBucketed, which salts hot cells")
        val (lg, rg, predLR) = oriented
        val predKey = predLR.stripPrefix("st_")
        val refine = STBucketedMatch(lg, rg, lCell, lcs, GeoNative.predCode(predKey))
        Filter(refine, Join(l, r, Inner, Some(EqualTo(lCell, rCell)), hint))
      }).getOrElse(j)
  }
}
