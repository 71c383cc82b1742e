package graft.plans

import graft.serde.EWKB
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, LeftOuter, RightOuter}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf
import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.index.strtree.STRtree

import scala.jdk.CollectionConverters._

/** Planner strategy: `left.join(right, st_intersects(lGeom, rGeom))`
  * auto-plans as a broadcast STRtree spatial join instead of Spark's
  * default Cartesian/BroadcastNestedLoopJoin (O(n·m) with a full predicate
  * evaluation per pair). Injected by [[GraftExtensions]].
  *
  * Applies to INNER joins whose condition is a single named spatial
  * predicate UDF with one geometry expression per side, when one side's
  * size estimate fits the broadcast threshold. Asymmetric predicates flip
  * to their converse when the build side must swap (contains ↔ within,
  * covers ↔ covered_by); non-flippable cases simply decline and Spark's
  * default strategies take over — semantics never change, only the
  * algorithm. */
object SpatialJoinStrategy extends SparkStrategy {

  /** predicate name → converse when probe/build sides swap.
    *
    * `st_equals` is deliberately ABSENT: the sjoin kernels skip empty
    * geometries on both sides (their envelopes are null, so they can't be
    * indexed or probed), but st_equals is true for two empties — planning
    * an equals join through a spatial tier would silently drop those
    * pairs. It also matches the reference, whose sjoin predicate set
    * (args.rs:174-185) has no `equals` — such joins fall through to
    * Spark's default planner with full semantics. */
  private[plans] val Converse: Map[String, String] = Map(
    "st_intersects" -> "st_intersects",
    "st_overlaps" -> "st_overlaps",
    "st_touches" -> "st_touches",
    "st_contains" -> "st_within",
    "st_within" -> "st_contains",
    "st_covers" -> "st_covered_by",
    "st_covered_by" -> "st_covers")

  /** sjoin predicate key for SpatialJoin.applyPred(build, probe). */
  private def predKey(name: String): String = name.stripPrefix("st_")

  /** (predicate name, operand a, operand b) from the SQL surface's
    * ScalaUDF or the Column API's kernel expression. */
  private[plans] def spatialCond(e: Expression): Option[(String, Expression, Expression)] = e match {
    case GeoCall(name, Seq(a, b)) if Converse.contains(name) => Some((name, a, b))
    case _ => None
  }

  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Join(l, r, joinType @ (Inner | LeftOuter | RightOuter | FullOuter), Some(cond), _)
        if spatialCond(cond).isDefined =>
      val (name, a, b) = spatialCond(cond).get
      val threshold = SQLConf.get.autoBroadcastJoinThreshold
      def fits(p: LogicalPlan) = threshold > 0 && p.stats.sizeInBytes <= threshold

      // condition arguments must split cleanly across the two sides
      val straight = a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet)
      val crossed = a.references.subsetOf(r.outputSet) && b.references.subsetOf(l.outputSet)
      if (!straight && !crossed) return Nil

      // orient geometry expressions as (onLeftChild, onRightChild) and the
      // predicate as pred(leftGeomExpr, rightGeomExpr)
      val (lg, rg, predLR) = if (straight) (a, b, name) else (b, a, Converse(name))

      // buildLeft: applyPred(build=left, probe=right) = predLR;
      // buildRight: applyPred(build=right, probe=left) = converse(predLR)
      def buildL(outer: Boolean, bOuter: Boolean = false) =
        SpatialJoinExec(planLater(l), planLater(r), lg, rg,
          predKey(predLR), buildLeft = true, probeOuter = outer, buildOuter = bOuter)
      def buildR(outer: Boolean, bOuter: Boolean = false) =
        SpatialJoinExec(planLater(l), planLater(r), lg, rg,
          predKey(Converse(predLR)), buildLeft = false, probeOuter = outer,
          buildOuter = bOuter)

      joinType match {
        case Inner =>
          if (fits(l)) buildL(false) :: Nil
          else if (fits(r)) buildR(false) :: Nil
          else
            // large × large: quadtree-partitioned shuffle join (per-cell
            // tree over the left slice, applyPred(left, right) = predLR)
            SpatialJoinQuadtreeExec(planLater(l), planLater(r), lg, rg,
              predKey(predLR)) :: Nil
        case LeftOuter =>
          // unmatched LEFT rows must survive → left must be the streamed
          // (probe) side, so only a broadcast of the RIGHT side qualifies;
          // otherwise decline and let Spark's BNLJ keep the semantics
          if (fits(r)) buildR(true) :: Nil else Nil
        case RightOuter =>
          if (fits(l)) buildL(true) :: Nil else Nil
        case FullOuter =>
          // probe-outer covers the streamed side; the build side's
          // unmatched rows come from a matched-index pre-pass (same 2-pass
          // shape Spark's own BNLJ uses for outer-on-build, but STRtree-
          // pruned instead of O(n·m))
          if (fits(r)) buildR(true, bOuter = true) :: Nil
          else if (fits(l)) buildL(true, bOuter = true) :: Nil
          else Nil
        case _ => Nil
      }
    case _ => Nil
  }
}

/** Broadcast STRtree spatial join exec: collect + broadcast the build side,
  * per-executor prepared STRtree (cached per broadcast), streamed probe.
  * `leftGeom`/`rightGeom` are the condition's geometry expressions for the
  * left/right child; `predicate` is pre-oriented as
  * `applyPred(buildGeom, probeGeom)`.
  *
  * `probeOuter = true` makes this an outer join on the PROBE side: probe
  * rows with no match stream through null-extended on the build columns.
  * `buildOuter = true` additionally emits unmatched BUILD rows (full
  * outer): a pre-pass folds a matched-build-index BitSet over the probe
  * side (tree-pruned — the same two-pass shape Spark's BNLJ uses for
  * outer-on-build, minus the O(n·m) predicate sweep), then the unmatched
  * build rows are appended null-extended; the build side is already
  * driver-resident and size-guarded, so that append is a tiny
  * parallelize. */
case class SpatialJoinExec(left: SparkPlan, right: SparkPlan,
    leftGeom: Expression, rightGeom: Expression, predicate: String,
    buildLeft: Boolean, probeOuter: Boolean = false,
    buildOuter: Boolean = false) extends BinaryExecNode {

  override def output: Seq[Attribute] = {
    val lNull = (probeOuter && buildLeft) || (buildOuter && !buildLeft)
    val rNull = (probeOuter && !buildLeft) || (buildOuter && buildLeft)
    (if (lNull) left.output.map(_.withNullability(true)) else left.output) ++
      (if (rNull) right.output.map(_.withNullability(true)) else right.output)
  }

  override protected def withNewChildrenInternal(newLeft: SparkPlan,
      newRight: SparkPlan): SpatialJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val (build, probe) = if (buildLeft) (left, right) else (right, left)
    val (buildGeomExpr, probeGeomExpr) =
      if (buildLeft) (leftGeom, rightGeom) else (rightGeom, leftGeom)
    val boundBuild = BindReferences.bindReference(buildGeomExpr, build.output)
    val buildRows = build.executeCollect() // stats-guarded by the strategy
    val data: Array[(Array[Byte], Int, InternalRow)] =
      buildRows.iterator.zipWithIndex.flatMap { case (row, i) =>
        Option(boundBuild.eval(row)).map(b => (b.asInstanceOf[Array[Byte]], i, row))
      }.toArray
    val bc: Broadcast[Array[(Array[Byte], Int, InternalRow)]] =
      sparkContext.broadcast(data)
    val boundProbe = BindReferences.bindReference(probeGeomExpr, probe.output)
    val pred = predicate
    val buildOnLeft = buildLeft
    val outerProbe = probeOuter
    val buildWidth = build.output.length
    val outAttrs = output

    val joinedRdd = probe.execute().mapPartitions { it =>
      val tree = SpatialJoinExec.treeFor(bc)
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val nullBuild: InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(buildWidth)
      def emit(buildRow: InternalRow, probeRow: InternalRow): InternalRow =
        if (buildOnLeft) proj(joined(buildRow, probeRow))
        else proj(joined(probeRow, buildRow))
      it.flatMap { probeRow =>
        val bytes = boundProbe.eval(probeRow)
        val matches =
          if (bytes == null) Iterator.empty
          else {
            val g = EWKB.read(bytes.asInstanceOf[Array[Byte]])
            if (g.isEmpty) Iterator.empty
            else tree.query(g.getEnvelopeInternal).asScala.iterator
              .map(_.asInstanceOf[(PreparedGeometry, Int, InternalRow)])
              .filter { case (prep, _, _) => graft.join.SpatialJoin.applyPred(pred, prep, g) }
              .map { case (_, _, buildRow) => emit(buildRow, probeRow) }
          }
        if (outerProbe && matches.isEmpty) Iterator.single(emit(nullBuild, probeRow))
        else matches
      }
    }
    if (!buildOuter) joinedRdd
    else {
      // pre-pass: which build indices matched anywhere? (separate job over
      // the probe side; tree-pruned, no row materialization)
      val matched = probe.execute().mapPartitions { it =>
        val tree = SpatialJoinExec.treeFor(bc)
        val bits = new java.util.BitSet(buildRows.length)
        it.foreach { probeRow =>
          val bytes = boundProbe.eval(probeRow)
          if (bytes != null) {
            val g = EWKB.read(bytes.asInstanceOf[Array[Byte]])
            if (!g.isEmpty)
              tree.query(g.getEnvelopeInternal).asScala.foreach { o =>
                val (prep, i, _) = o.asInstanceOf[(PreparedGeometry, Int, InternalRow)]
                if (!bits.get(i) && graft.join.SpatialJoin.applyPred(pred, prep, g))
                  bits.set(i)
              }
          }
        }
        Iterator.single(bits)
      }.fold(new java.util.BitSet(buildRows.length)) { (x, y) => x.or(y); x }
      // null-geometry build rows never enter the tree → always unmatched
      val unmatched = buildRows.iterator.zipWithIndex.collect {
        case (row, i) if !matched.get(i) => row
      }.toSeq
      val probeWidth = probe.output.length
      val unmatchedRdd = sparkContext
        .parallelize(unmatched, math.max(1, math.min(unmatched.length, 4)))
        .mapPartitions { it =>
          val joined = new JoinedRow
          val proj = UnsafeProjection.create(outAttrs, outAttrs)
          val nullProbe: InternalRow =
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(probeWidth)
          it.map { buildRow =>
            val out: InternalRow =
              if (buildOnLeft) proj(joined(buildRow, nullProbe))
              else proj(joined(nullProbe, buildRow))
            out
          }
        }
      joinedRdd.union(unmatchedRdd)
    }
  }
}

/** Large×large spatial join: sample-adaptive [[graft.join.QuadTree]]
  * partitioning at the physical level. Both children flatMap their rows to
  * covering quadtree leaves, an RDD cogroup shuffles on leaf id, each cell
  * builds a prepared STRtree over its left slice and streams its right
  * slice; the reference-point rule keeps each pair unique. The quadtree is
  * built from a driver-side sample of the left child (correctness never
  * depends on the sample — only balance does). */
case class SpatialJoinQuadtreeExec(left: SparkPlan, right: SparkPlan,
    leftGeom: Expression, rightGeom: Expression, predicate: String)
    extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(newLeft: SparkPlan,
      newRight: SparkPlan): SpatialJoinQuadtreeExec =
    copy(left = newLeft, right = newRight)

  private val SampleTarget = 20000

  override protected def doExecute(): RDD[InternalRow] = {
    val boundL = BindReferences.bindReference(leftGeom, left.output)
    val boundR = BindReferences.bindReference(rightGeom, right.output)

    // Extract (envelope, row) from the left child ONCE and persist it: the
    // sampling job below, the hot-cell census and the cells pass all read
    // the cached blocks, so an expensive upstream plan (joins,
    // aggregations) is never executed twice. The ContextCleaner unpersists
    // the blocks once this RDD is GC-reachable no more (standard Spark
    // reference tracking).
    //
    // PERSIST (not checkpoint) is deliberate — the blast radius of a lost
    // block recomputed from a content-nondeterministic upstream (unseeded
    // sample, round-robin repartition) is BALANCE ONLY, unlike the
    // id-renumbering hazard SpatialJoin.withStableIndex checkpoints
    // against. The three consumers:
    //  * the reservoir sample steers quadtree construction — a stale or
    //    unrepresentative tree skews cell sizes, never pair membership;
    //  * the hot-cell census steers salt counts — same;
    //  * the cogroup pass IS the output evaluation: its pairs are computed
    //    from whatever rows that single evaluation produced, deduped by
    //    the reference-point rule on geometry BYTES (no row ids anywhere),
    //    which is exactly the recompute exposure every vanilla Spark plan
    //    has under task retry. Checkpointing here would buy no correctness
    //    and cost a full materialization per join. (See PERF.md,
    //    "Standing scale decisions".)
    val leftExtracted: RDD[(Double, Double, Double, Double, InternalRow)] =
      left.execute().mapPartitions { it =>
        val bound = boundL // per-task copy
        it.flatMap { row =>
          val bytes = bound.eval(row)
          if (bytes == null) Iterator.empty
          else {
            val e = EWKB.read(bytes.asInstanceOf[Array[Byte]]).getEnvelopeInternal
            if (e.isNull) Iterator.empty
            else Iterator.single(
              (e.getMinX, e.getMinY, e.getMaxX, e.getMaxY, row.copy()))
          }
        }
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

    // balanced per-partition reservoir sample of envelope centers (fixes the
    // partition-prefix bias of a take(); the tree drives balance only,
    // never correctness)
    val nParts = math.max(leftExtracted.getNumPartitions, 1)
    val perPart = math.max(1, SampleTarget / nParts)
    val sample = leftExtracted.mapPartitionsWithIndex { (pid, it) =>
      val rng = new java.util.Random(pid * 1000003L + 17)
      val res = new Array[(Double, Double)](perPart)
      var n = 0
      it.foreach { case (x0, y0, x1, y1, _) =>
        if (n < perPart) res(n) = ((x0 + x1) / 2, (y0 + y1) / 2)
        else {
          val j = rng.nextInt(n + 1)
          if (j < perPart) res(j) = ((x0 + x1) / 2, (y0 + y1) / 2)
        }
        n += 1
      }
      res.iterator.take(math.min(n, perPart))
    }.collect()
    if (sample.isEmpty) return sparkContext.emptyRDD[InternalRow]
    val tree = graft.join.QuadTree.build(sample.toSeq, capacity = 256, maxDepth = 12)
    val bcTree = sparkContext.broadcast(tree)
    val pred = predicate
    val outAttrs = output
    val parts = conf.numShufflePartitions

    // left cells reuse the persisted envelopes (no EWKB re-parse, no
    // upstream re-execution)
    val leftCells: RDD[(Int, InternalRow)] = leftExtracted.mapPartitions { it =>
      val qt = bcTree.value
      it.flatMap { case (x0, y0, x1, y1, row) =>
        val e = new org.locationtech.jts.geom.Envelope(x0, x1, y0, y1)
        qt.leavesFor(e).iterator.map(c => (c, row))
      }
    }

    def cells(rdd: RDD[InternalRow], bound: Expression): RDD[(Int, InternalRow)] =
      rdd.mapPartitions { it =>
        val qt = bcTree.value
        it.flatMap { row =>
          val bytes = bound.eval(row)
          if (bytes == null) Iterator.empty
          else {
            val e = EWKB.read(bytes.asInstanceOf[Array[Byte]]).getEnvelopeInternal
            if (e.isNull) Iterator.empty
            else {
              val copy = row.copy() // rows are reused by the scan iterator
              qt.leavesFor(e).iterator.map(c => (c, copy))
            }
          }
        }
      }

    // Hot-cell fan-in cap (mirrors SpatialJoin.cellCogroupPairs'
    // MEMORY-ONLY mode — the r14 pair-count dimension deliberately stays
    // out of the auto-planned exec: a right census here would tax every
    // auto join with an extra pass, and the quadtree already subdivides
    // hot regions; the API tiers are the skew-aware doors): a cell whose
    // left slice exceeds the bound splits into salt slices — left rows
    // round-robin into one, right rows replicate to all, so no task
    // buffers an unbounded build slice. The census reads the PERSISTED
    // left extract (no upstream re-execution) and the hot map is bounded
    // by the quadtree's leaf count.
    val cap = graft.join.SpatialJoin.MaxCellBuildRows
    val hotMap: Map[Int, Int] = leftCells.map(p => (p._1, 1L)).reduceByKey(_ + _)
      .filter(_._2 > cap)
      .map { case (c, n) => (c, math.ceil(n.toDouble / cap).toInt) }
      .collect().toMap
    val bcHot = sparkContext.broadcast(hotMap)
    val leftSalted: RDD[((Int, Int), InternalRow)] = leftCells.mapPartitions { it =>
      var ctr = 0
      val hot = bcHot.value
      it.map { case (c, row) =>
        val s = hot.getOrElse(c, 1)
        // monotone counter + floorMod: a bare % can wrap negative past
        // 2^31 rows in one partition (a negative salt key silently drops
        // the row's pairs), and storing a value reduced by THIS cell's
        // modulus would let a small-s cell clamp the salt range of a
        // co-resident large-s cell (round-robin collapse)
        val salt = if (s <= 1) 0
          else { ctr += 1; java.lang.Math.floorMod(ctr, s) }
        ((c, salt), row)
      }
    }
    val rightSalted: RDD[((Int, Int), InternalRow)] =
      cells(right.execute(), boundR).mapPartitions { it =>
        val hot = bcHot.value
        it.flatMap { case (c, row) =>
          val s = hot.getOrElse(c, 1)
          if (s <= 1) Iterator.single(((c, 0), row))
          else (0 until s).iterator.map(salt => ((c, salt), row))
        }
      }

    leftSalted.cogroup(rightSalted, parts)
      .mapPartitions { cellIt =>
        val qt = bcTree.value
        val joined = new JoinedRow
        val proj = UnsafeProjection.create(outAttrs, outAttrs)
        val bl = boundL
        val br = boundR
        cellIt.flatMap { case ((cell, _), (lRows, rRows)) =>
          val tree = new STRtree()
          var n = 0
          lRows.foreach { row =>
            val bytes = bl.eval(row)
            if (bytes != null) {
              val g = EWKB.read(bytes.asInstanceOf[Array[Byte]])
              if (!g.isEmpty) {
                tree.insert(g.getEnvelopeInternal, (PreparedGeometryFactory.prepare(g), row))
                n += 1
              }
            }
          }
          if (n == 0) Iterator.empty
          else {
            tree.build()
            rRows.iterator.flatMap { rrow =>
              val bytes = br.eval(rrow)
              if (bytes == null) Iterator.empty
              else {
                val g = EWKB.read(bytes.asInstanceOf[Array[Byte]])
                if (g.isEmpty) Iterator.empty
                else {
                  val re = g.getEnvelopeInternal
                  tree.query(re).asScala.iterator
                    .map(_.asInstanceOf[(PreparedGeometry, InternalRow)])
                    .filter { case (prep, _) =>
                      val le = prep.getGeometry.getEnvelopeInternal
                      qt.leafOf(math.max(le.getMinX, re.getMinX),
                        math.max(le.getMinY, re.getMinY)) == cell
                    }
                    .filter { case (prep, _) =>
                      graft.join.SpatialJoin.applyPred(pred, prep, g) }
                    .map { case (_, lrow) => proj(joined(lrow, rrow)) }
                }
              }
            }
          }
        }
      }
  }
}

object SpatialJoinExec {
  /** per-executor tree cache — see [[graft.join.BroadcastCache]] for the
    * keying rationale (app id + broadcast id). */
  private val trees = new graft.join.BroadcastCache[STRtree]()

  private def treeFor(bc: Broadcast[Array[(Array[Byte], Int, InternalRow)]]): STRtree =
    trees.getOrBuild(bc) {
      val t = new STRtree()
      bc.value.foreach { case (bytes, i, row) =>
        val g = EWKB.read(bytes)
        if (!g.isEmpty)
          t.insert(g.getEnvelopeInternal, (PreparedGeometryFactory.prepare(g), i, row))
      }
      t.build()
      t
    }
}
