package graft.join

import graft.StoreStamp
import graft.serde.EWKB
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.broadcast.Broadcast
import org.locationtech.jts.geom.{Envelope, Geometry}
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.index.strtree.STRtree

import scala.jdk.CollectionConverters._

/** Distributed spatial join (reference §2.10: STRtree over the left side +
  * prepared-geometry predicate refinement, `/root/reference/src/
  * functions.rs:1804-1866`, frame layer `polars_st/geolazyframe.py:64-158`).
  *
  * Two tiers:
  *
  * 1. [[SpatialJoin.sjoin]] — **broadcast STRtree join**: the reference's
  *    exact algorithm, distributed over the probe side. The left frame is
  *    collected (size-guarded) and broadcast; ids are assigned driver-side
  *    (deterministic — no `monotonically_increasing_id`, whose re-evaluation
  *    on task retry can silently re-number rows). Each executor builds the
  *    STRtree of prepared geometries once per broadcast; right partitions
  *    probe it in parallel and emit the joined rows directly — the only
  *    shuffle-side join left is the broadcast re-attach of left columns.
  *    If the left side exceeds [[SpatialJoin.MaxBroadcastRows]], the call
  *    automatically falls back to the grid tier with a sampled cell size.
  *
  * 2. [[SpatialJoin.sjoinPartitioned]] — **grid-partitioned join** for the
  *    large×large case: both sides flatMap to covering grid cells, shuffle
  *    on cell id, per-cell STRtree join, duplicate pairs removed with the
  *    reference-point rule (a pair is reported only by the cell containing
  *    the bottom-left corner of the envelope intersection) — the published
  *    GeoSpark/Sedona design (PAPERS.md). Row ids for outer-join bookkeeping
  *    come from `zipWithIndex` (deterministic for deterministic scans).
  *
  * Supported predicates (reference `args.rs:172-185`), applied as
  * `predicate(leftGeom, rightGeom)`: intersects_bbox, intersects, within,
  * contains, overlaps, crosses, touches, covers, covered_by,
  * contains_properly.
  */
object SpatialJoin {

  private val LIdx = "__graft_lidx"
  private val RIdx = "__graft_ridx"

  /** Broadcast-tier guard: above this row count the left side auto-falls
    * back to the grid-partitioned tier. Protects the driver from OOM AND
    * from the tier's driver-bound constant: collect + per-executor STRtree
    * build are single-threaded in the build side's size, and the r10
    * 10×-scale bench measured the crossover well below the old 4M cap
    * (1.5M build rows: broadcast 13.2 s vs grid 3.2 s; at 150k the tiers
    * tie — see PERF.md "Synthetic 10× scale run"). 1M keeps the
    * broadcast win for genuinely small build sides while routing
    * large×large joins to the distributed tiers, whose cost the cluster
    * actually parallelizes. */
  val MaxBroadcastRows: Long = 1L * 1000 * 1000

  /** Broadcast-tier byte guard: a row-count cap alone cannot protect the
    * driver from millions of *wide* rows (all left columns are collected
    * for the re-attach frame, not just the geometry), so the collected
    * size is also capped by estimated bytes. 512 MiB keeps the broadcast
    * comfortably under Spark's hard 8 GiB limit with room for the
    * prepared-tree expansion on executors. */
  val MaxBroadcastBytes: Long = 512L << 20

  /** Cheap per-row heap estimate for the byte guard (binary/string sized,
    * fixed-width fields flat-rated). */
  private[graft] def estimateRowBytes(r: Row): Long = {
    var s = 16L
    var i = 0
    while (i < r.length) {
      r.get(i) match {
        case null => ()
        case b: Array[Byte] => s += b.length + 16L
        case str: String => s += 2L * str.length + 40L
        case seq: scala.collection.Seq[_] => s += 16L * seq.length + 16L
        case _ => s += 16L
      }
      i += 1
    }
    s
  }

  private[graft] def applyPred(name: String, prep: PreparedGeometry, right: Geometry): Boolean =
    name match {
      case "intersects_bbox" => true // envelope hit already established
      case "intersects" => prep.intersects(right)
      case "within" => prep.within(right)
      case "contains" => prep.contains(right)
      case "contains_properly" => prep.containsProperly(right)
      case "overlaps" => prep.overlaps(right)
      case "crosses" => prep.crosses(right)
      case "touches" => prep.touches(right)
      case "covers" => prep.covers(right)
      case "covered_by" => prep.coveredBy(right)
      case other => throw new IllegalArgumentException(s"unknown sjoin predicate: $other")
    }

  /** Executor-local cache: one prepared STRtree per broadcast variable.
    * See [[BroadcastCache]] for the keying rationale (app id + broadcast id;
    * object identity misses across tasks, bare ids go stale across
    * contexts). */
  private object TreeCache {
    private val cache = new BroadcastCache[STRtree]()
    def get(bc: Broadcast[Array[(Long, Array[Byte])]]): STRtree =
      cache.getOrBuild(bc) {
        val t = new STRtree()
        bc.value.foreach { case (id, bytes) =>
          if (bytes != null) {
            val g = EWKB.read(bytes)
            if (!g.isEmpty)
              t.insert(g.getEnvelopeInternal, (id, PreparedGeometryFactory.prepare(g)))
          }
        }
        t.build()
        t
      }
  }

  /** Broadcast STRtree spatial join.
    *
    * @param how "inner" | "left" | "right" | "full" (reference
    *            `geolazyframe.py:96-98`; "cross" is rejected there too)
    * @param suffix appended to right-side columns that clash with left
    * @param maxBuildRows broadcast guard; above it → grid-tier fallback
    * @param validate "m:m" (default, no check) | "1:m" | "m:1" | "1:1" —
    *            post-join cardinality assertion matching the reference's
    *            polars `validate=` kwarg (`geolazyframe.py:87`): "1:m"
    *            asserts no RIGHT row matched more than one left row
    *            ("join keys unique in left"), "m:1" the mirror, "1:1"
    *            both. Checked lazily inside the plan (a window count +
    *            assert — the error surfaces when the join executes, like
    *            polars); costs one extra shuffle per checked side, only
    *            when requested.
    * @param nullsEqual reference `nulls_equal=` (`geolazyframe.py:88`):
    *            when true, null geometries pair with each other like
    *            equal join keys (the spatial tiers alone never match
    *            null) — implemented as the null×null cross product
    *            unioned in, with outer-join unmatched rows adjusted. As
    *            in polars this is many-to-many across all null rows.
    * @param coalesce reference `coalesce=` (`geolazyframe.py:89`):
    *            `Some(true)` merges the two geometry key columns into one
    *            `leftGeom` column (`coalesce(left, right)` — meaningful
    *            on outer joins where one side can be null) and drops the
    *            right one; `None`/`Some(false)` keep both (the default,
    *            polars' behavior for full joins).
    */
  def sjoin(left: DataFrame, right: DataFrame,
      predicate: String = "intersects", how: String = "inner",
      leftGeom: String = "geometry", rightGeom: String = "geometry",
      suffix: String = "_right", maxBuildRows: Long = MaxBroadcastRows,
      maxBuildBytes: Long = MaxBroadcastBytes, validate: String = "m:m",
      nullsEqual: Boolean = false, coalesce: Option[Boolean] = None): DataFrame = {
    require(Set("m:m", "1:m", "m:1", "1:1")(validate),
      s"unsupported validate: $validate (expected m:m, 1:m, m:1 or 1:1)")
    val needIdx = validate != "m:m" || nullsEqual
    val rgName0 = if (left.columns.contains(rightGeom)) rightGeom + suffix else rightGeom
    if (!needIdx && !coalesce.contains(true))
      return sjoinBroadcastImpl(left, right, predicate, how, leftGeom,
        rightGeom, suffix, maxBuildRows, maxBuildBytes)

    val VL = "__graft_validx_l"
    val VR = "__graft_validx_r"
    // Plain monotonically_increasing_id, NOT withStableIndex: the ids only
    // need per-row uniqueness inside this one query (window grouping /
    // unmatched-marker detection), never lineage stability across actions —
    // a localCheckpoint here would eagerly materialize an arbitrarily large
    // probe side to executor storage before any join work.
    val l2 = if (needIdx) left.withColumn(VL, monotonically_increasing_id()) else left
    val r2 = if (needIdx) right.withColumn(VR, monotonically_increasing_id()) else right
    var out = sjoinBroadcastImpl(l2, r2, predicate, how, leftGeom, rightGeom,
      suffix, maxBuildRows, maxBuildBytes)

    if (nullsEqual) {
      val rRenamed = renameClashes(r2, l2.columns.toSeq, suffix)
      val nullL = l2.filter(col(leftGeom).isNull)
      val nullR = rRenamed.filter(col(rgName0).isNull)
      // lazy scalar counts (broadcast 1-row frames): outer-join unmatched
      // markers for null rows must disappear exactly when the OTHER side
      // has nulls for them to pair with
      val cnts = broadcast(nullR.agg(count(lit(1)).as("__graft_nullr_cnt")))
        .crossJoin(broadcast(nullL.agg(count(lit(1)).as("__graft_nulll_cnt"))))
      out = out.crossJoin(cnts)
        .filter(
          !(col(leftGeom).isNull && col(VR).isNull && col("__graft_nullr_cnt") > 0) &&
          !(col(rgName0).isNull && col(VL).isNull && col("__graft_nulll_cnt") > 0))
        .drop("__graft_nullr_cnt", "__graft_nulll_cnt")
        // null-pair rows re-evaluate l2/r2, so their monotonically_increasing_id
        // values are an INDEPENDENT generation from the join subtree's —
        // negate them into a disjoint range (ids are always >= 0) so a
        // cross-generation collision cannot merge a null pair into a
        // matched row's validate window. Within the cross product each
        // null row keeps one id, so nullsEqual cardinality still counts.
        .unionByName(nullL.withColumn(VL, -col(VL) - 1)
          .crossJoin(nullR.withColumn(VR, -col(VR) - 1))
          .select(out.columns.map(col): _*))
    }

    if (validate != "m:m") {
      import org.apache.spark.sql.expressions.Window
      // A null idx marks an outer-join unmatched row — those never violate
      // and are excluded from the assert. They must also not share ONE
      // window partition (partitionBy(null-heavy col) would hash every
      // unmatched row of a mostly-unmatched outer join into a single
      // task), so null-idx rows get the OTHER side's id as a synthetic
      // singleton partition key: their window is themselves, no skew, and
      // the count they see is never asserted on.
      def windowKey(idx: String, other: String): org.apache.spark.sql.Column =
        when(col(idx).isNull, concat(lit("u:"), col(other).cast("string")))
          .otherwise(concat(lit("k:"), col(idx).cast("string")))
      if (validate == "m:1" || validate == "1:1") {
        val c = "__graft_vcnt_r"
        out = out
          .withColumn(c, count(col(VR)).over(
            Window.partitionBy(windowKey(VL, VR))))
          .filter(assert_true(col(VL).isNull || col(c) <= 1,
            lit(s"sjoin validate '$validate' failed: a left row matched " +
              "more than one right row (join keys not unique in right)")).isNull)
          .drop(c)
      }
      if (validate == "1:m" || validate == "1:1") {
        val c = "__graft_vcnt_l"
        out = out
          .withColumn(c, count(col(VL)).over(
            Window.partitionBy(windowKey(VR, VL))))
          .filter(assert_true(col(VR).isNull || col(c) <= 1,
            lit(s"sjoin validate '$validate' failed: a right row matched " +
              "more than one left row (join keys not unique in left)")).isNull)
          .drop(c)
      }
    }
    if (needIdx) out = out.drop(VL, VR)
    if (coalesce.contains(true))
      out = out
        .withColumn(leftGeom, org.apache.spark.sql.functions.coalesce(
          col(leftGeom), col(rgName0)))
        .drop(rgName0)
    out
  }

  private def sjoinBroadcastImpl(left: DataFrame, right: DataFrame,
      predicate: String, how: String,
      leftGeom: String, rightGeom: String,
      suffix: String, maxBuildRows: Long,
      maxBuildBytes: Long): DataFrame = {
    require(Set("inner", "left", "right", "full")(how),
      s"unsupported how: $how (cross is not a spatial join)")
    val spark = left.sparkSession

    val leftGeomPos = left.columns.indexOf(leftGeom)
    require(leftGeomPos >= 0, s"no column $leftGeom in left frame")

    // Size guard in a SINGLE evaluation of the left plan, byte-aware (the
    // row cap alone cannot protect the driver from wide rows):
    //  - fast path: when Catalyst's own size estimate for the optimized
    //    plan is already under the byte cap (parquet scans/projections
    //    carry reliable file-size-derived stats), fetch with one parallel
    //    limit+collect — the common case pays nothing new;
    //  - guarded path (stats unknown — Catalyst defaults them huge — or
    //    over-cap): pull rows through toLocalIterator, tracking estimated
    //    bytes as they arrive, and abort to the grid tier the moment
    //    either cap trips — partial single pass, no wide-row OOM.
    val leftRows: Array[Row] =
      collectBounded(left, maxBuildRows, maxBuildBytes) match {
        case Some(rows) => rows
        case None =>
          return sjoinPartitioned(left, right, autoCellSize(left, leftGeom), predicate, how,
            leftGeom, rightGeom, suffix)
      }
    val buildData: Array[(Long, Array[Byte])] = leftRows.zipWithIndex.map { case (r, i) =>
      (i.toLong, r.get(leftGeomPos).asInstanceOf[Array[Byte]])
    }
    val bc = spark.sparkContext.broadcast(buildData)
    val pred = predicate
    val emitUnmatchedRight = how == "right" || how == "full"

    val rightRenamed = renameClashes(right, left.columns.toSeq, suffix)
    // after clash-renaming, the right geometry column name:
    val rgName = if (left.columns.contains(rightGeom)) rightGeom + suffix else rightGeom
    val rGeomPos = rightRenamed.columns.indexOf(rgName)
    require(rGeomPos >= 0, s"no column $rightGeom in right frame")

    val outSchema = StructType(rightRenamed.schema.fields :+ StructField(LIdx, LongType, true))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val pairs = rightRenamed.mapPartitions { it =>
      val tree = TreeCache.get(bc)
      it.flatMap { row =>
        val bytes = row.get(rGeomPos).asInstanceOf[Array[Byte]]
        val matches =
          if (bytes == null) Iterator.empty
          else {
            val g = EWKB.read(bytes)
            if (g.isEmpty) Iterator.empty
            else tree.query(g.getEnvelopeInternal).asScala.iterator
              .map(_.asInstanceOf[(Long, PreparedGeometry)])
              .filter { case (_, prep) => applyPred(pred, prep, g) }
              .map { case (lid, _) => Row.fromSeq(row.toSeq :+ lid) }
          }
        if (matches.isEmpty && emitUnmatchedRight) Iterator.single(Row.fromSeq(row.toSeq :+ null))
        else matches
      }
    }(enc)

    // driver-assigned deterministic left ids → small reattach frame
    val leftIdxSchema = StructType(StructField(LIdx, LongType, false) +: left.schema.fields)
    val leftIdxDF = spark.createDataFrame(
      spark.sparkContext.parallelize(
        leftRows.toIndexedSeq.zipWithIndex.map { case (r, i) => Row.fromSeq(i.toLong +: r.toSeq) }),
      leftIdxSchema)

    val attached = pairs.join(broadcast(leftIdxDF), Seq(LIdx),
      if (how == "left" || how == "full") "full" else
        if (how == "right") "left" else "inner")
    // "left"/"full": left rows with no match must appear → full join above
    // brings them in with null right columns; inner/right drop them.
    val ordered = attached.select(
      (left.columns.map(col) ++ rightRenamed.columns.map(col)): _*)
    ordered
  }

  /** Collect `df` driver-side under row AND byte caps, `None` the moment
    * either trips (callers fall back to a distributed tier). Stats-guided
    * single pass: when Catalyst's size estimate for the optimized plan is
    * already under the byte cap (parquet scans carry reliable file-derived
    * stats) one parallel limit+collect fetches everything — the common
    * case pays nothing new; otherwise (stats unknown — Catalyst defaults
    * them huge — or over-cap) rows stream through toLocalIterator with
    * bytes tracked as they arrive, aborting before a wide-row OOM. */
  private[graft] def collectBounded(df: DataFrame, maxRows: Long,
      maxBytes: Long): Option[Array[Row]] = {
    // saturate BEFORE the +1: maxRows near Long.MaxValue would overflow
    // to negative, truncate to a 0 limit, and spuriously reject every
    // non-empty frame
    val guardLimit =
      if (maxRows >= Int.MaxValue.toLong - 9) Int.MaxValue - 8
      else math.max(1L, maxRows + 1).toInt
    val statBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (statBytes <= maxBytes) {
      val rows = df.limit(guardLimit).collect()
      // stats can underestimate computed columns — re-check actual bytes
      var actual = 0L
      var i = 0
      while (i < rows.length && actual <= maxBytes) {
        actual += estimateRowBytes(rows(i)); i += 1
      }
      if (rows.length >= guardLimit || actual > maxBytes) None else Some(rows)
    } else {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
      var estBytes = 0L
      var tooBig = false
      val localIt = df.limit(guardLimit).toLocalIterator()
      while (!tooBig && localIt.hasNext) {
        val r = localIt.next()
        buf += r
        estBytes += estimateRowBytes(r)
        if (buf.length >= guardLimit || estBytes > maxBytes) tooBig = true
      }
      if (tooBig) None else Some(buf.toArray)
    }
  }

  /** The count an `Observation` reports for a job that has finished.
    * Spark delivers observed metrics through the listener bus after the
    * job ends, normally within milliseconds; the wait is bounded, and
    * past it `recount` runs instead (a count job, or a bound the caller
    * already holds), so a lost delivery costs time but never hangs the
    * caller or skews its bound. The one helper behind every write-time
    * row bound (the dedup stores' bucket rows, the spatial stores' cell
    * rows). */
  private[graft] def observedRows(obs: org.apache.spark.sql.Observation,
      recount: => Long): Long =
    try scala.concurrent.Await.result(obs.future, ObservedMetricsWait).getLong(0)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"observed row count not delivered within $ObservedMetricsWait; " +
            "falling back to a recount")
        recount
    }

  private val ObservedMetricsWait = scala.concurrent.duration.Duration(10, "s")

  /** The largest local frame the spatial store doors read on the driver
    * instead of running a job (an append batch's statistics, a nearest
    * probe's sample and row ids): the largest such frame a benchmark
    * workload hands them, `ingest`'s 256-point append batch (its nearest
    * probe holds 64 rows). The rows are already in driver memory; reading
    * them copies them once more as `Row`s and decodes each geometry on
    * the driver's one thread. At 256 points on a 4-core VM (local[4],
    * medians of 50 runs) the read and decode took 14 ms, with the
    * append's cell counts and summary merge 32 ms, against 236 ms for
    * the two-pass summary recompute the merge replaces; numbering took
    * 3 ms against 38 ms for the checkpoint. Larger local frames take the
    * Spark path, which is not measured against the driver path. */
  private val LocalFrameMaxRows = 256L

  /** The row count of `df` when its optimized plan is a `LocalRelation`:
    * data the driver holds, so reading it runs no job. */
  private def localRowCount(df: DataFrame): Option[Long] =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if !l.isStreaming => Some(l.data.length.toLong)
      case _ => None
    }

  /** The rows of a local `df` ([[localRowCount]]) of at most
    * [[LocalFrameMaxRows]] rows, collected with no job. None otherwise. */
  private[graft] def localRows(df: DataFrame): Option[Array[Row]] =
    Option.when(localRowCount(df).exists(_ <= LocalFrameMaxRows))(df.collect())

  /** A small local frame ([[localRows]]) with its positions 0..n-1
    * appended as column `name`, numbered on the driver: the rows and ids
    * become a new local relation, so the ids are data in the plan that
    * every consumer reads alike, with no job and nothing to lose on an
    * executor (the guarantee [[withStableIndex]] buys with a checkpoint).
    * None for any other frame. */
  private[graft] def localIndexed(df: DataFrame, name: String): Option[DataFrame] =
    localRows(df).map { rows =>
      df.sparkSession.createDataFrame(
        rows.iterator.zipWithIndex
          .map { case (r, i) => Row.fromSeq(r.toSeq :+ i.toLong) }.toSeq.asJava,
        df.schema.add(StructField(name, LongType, nullable = false)))
    }

  /** The non-null values of geometry column `geom` of a small local
    * frame ([[localRows]]). */
  private def localGeometries(df: DataFrame,
      geom: String): Option[Array[Array[Byte]]] =
    localRows(df.select(col(geom)))
      .map(_.flatMap(r => Option(r.get(0).asInstanceOf[Array[Byte]])))

  private[graft] def renameClashes(right: DataFrame, leftCols: Seq[String], suffix: String): DataFrame =
    right.columns.foldLeft(right) { (df, c) =>
      if (leftCols.contains(c)) df.withColumnRenamed(c, c + suffix) else df
    }

  /** Sample envelopes to pick a grid cell size ≈ 4× the mean envelope
    * width (bounded duplication, bounded per-cell fan-in). The sample is
    * hash-ordered, NOT a partition prefix: `limit(n)` alone takes the
    * earliest partitions, and on spatially-clustered store layouts
    * (Hilbert-sorted GeoParquet — the common case at scale) those ~1000
    * rows come from one locality, so a mixed-scale corpus (parcels first,
    * admin polygons later) would get a cell size wrong by orders of
    * magnitude. `orderBy(xxhash64).limit` executes as a per-partition
    * top-k + driver merge (TakeOrderedAndProject) — every partition
    * contributes, no full sort shuffle; the pass reads only the pruned
    * geometry column (an unbiased sample inherently needs one full pass —
    * the early-exit prefix scan was exactly the bias). The hash is salted
    * with a per-row id so heavily-duplicated geometries (snapped points,
    * repeated placeholder shapes, all hashing identically) cannot
    * monopolize the top-k. */
  def autoCellSize(df: DataFrame, geom: String): Double = {
    // 0.2 pre-sample (the quadtree-centers pattern): the xxhash64 ranking
    // pass is the sample's whole cost at scale — hashing geometry bytes
    // for 20% of rows instead of all of them cut the warm 10×
    // autoCellSize probe from ~0.6 s to ~0.35 s (ProbeSjoin10x) while
    // staying unbiased (a uniform sample of a uniform sample). Nulls are
    // filtered BEFORE ranking so a null-heavy frame can neither crowd the
    // top-k nor mis-trigger the fallback.
    def sampleRows(d: DataFrame): Array[Array[Byte]] = d
      .orderBy(xxhash64(col(geom), monotonically_increasing_id(), lit(42L)))
      .limit(1000).collect().map(_.get(0).asInstanceOf[Array[Byte]])
    def widthsOf(rows: Array[Array[Byte]]): Seq[Double] = rows.iterator
      .map(b => EWKB.read(b).getEnvelopeInternal)
      .filterNot(_.isNull)
      .map(e => math.max(e.getWidth, e.getHeight))
      .toSeq
    val sel = df.select(col(geom)).filter(col(geom).isNotNull)
    val sampled = sampleRows(sel.sample(withReplacement = false, 0.2, 42))
    // size-aware fallback: a short sample (< 1000 ranked rows) means the
    // non-null input is ~< 5000 rows, so the un-sampled pass both costs
    // little and restores the full-width estimator mid-size skewed
    // inputs rely on
    val rows = if (sampled.length >= 1000) sampled else sampleRows(sel)
    val widths = widthsOf(rows)
    if (widths.isEmpty) 1.0
    else math.max(4 * widths.sum / widths.size, 1e-9)
  }

  /** Per-task build-slice bound for the partitioned tiers: a (cell, salt)
    * slice never buffers more than this many left rows (the cogroup
    * buffers only the left slice — the right side streams), so one
    * pathological hot cell cannot OOM its task. */
  val MaxCellBuildRows: Int = 1 << 20

  /** Per-task candidate-pair target for the partitioned tiers (r14): a
    * hot cell below the build-row bound can still be a wall-clock
    * straggler by PAIR COUNT (tree queries + predicate work scale with
    * ln·rn, not rows) — cells past this split the RIGHT side too. */
  val GridPairsPerTask: Long = 2000000L
  private val GridCensusMin = 1024L
  private val CensusKeep = 4096

  /** One side's heavy-cell census for the grid tier's pair-split sizing:
    * `(counts, absentBound)`. The memory-critical stratum (counts past
    * `cap`) is collected UNBOUNDED — every such cell must split or a
    * task OOMs, and the driver map is naturally bounded by totalRows /
    * cap; the merely-heavy stratum (floor..cap) is hard-bounded to the
    * heaviest `keep` cells. Both strata come from ONE scan: the union's
    * two branches share the aggregation exchange, which Spark's
    * ReuseExchange collapses. `absentBound` is the largest row count a
    * cell ABSENT from the map can still hold: floor−1 when the
    * merely-heavy stratum fit, its smallest KEPT count when it truncated
    * at the cut (ADVICE r14 #3 — the bucketed tier's
    * [[CellHist.absentBound]], same idea; a truncated census also logs,
    * mirroring sjoinBucketed's warning). */
  private[graft] def gridCensus(cells: Dataset[(Long, Long, Array[Byte])],
      floor: Long, cap: Long, keep: Int = CensusKeep): (Map[Long, Long], Long) = {
    val spark = cells.sparkSession
    import spark.implicits._
    val agg = cells.groupByKey(_._1).count().toDF("c", "n")
    val rows = agg.filter(col("n") > cap)
      .unionByName(agg.filter(col("n") >= floor && col("n") <= cap)
        .orderBy(col("n").desc, col("c")).limit(keep + 1))
      .as[(Long, Long)].collect()
    val (mem, merelyHeavy) = rows.partition(_._2 > cap)
    val truncated = merelyHeavy.length > keep
    val kept = merelyHeavy.sortBy { case (c, n) => (-n, c) }.take(keep)
    if (truncated)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"sjoinPartitioned: the pair-split census truncated at $keep " +
          "merely-heavy cells — absent-side candidacy uses the smallest " +
          "kept count as its bound; a grid this uniformly dense wants a " +
          "larger cellSize")
    ((mem ++ kept).toMap,
      if (truncated) kept.iterator.map(_._2).min else floor - 1)
  }

  /** Per-cell STRtree cogroup with 2-D bounded fan-in. Cells split into
    * a (p, q) salt grid joined on (cell, lsalt, rsalt): `p =
    * ceil(leftRows/maxCellRows)` bounds the buffered build slice (memory
    * — the right side streams), `q` bounds per-task candidate pairs at
    * `pairsPerTask` (wall-clock — r14: a 100k×500k cell is 50B tree
    * probes in one task under a left-only split). Left rows round-robin
    * into p and replicate across q; right rows round-robin into q and
    * replicate across p — each (left, right) pair still meets exactly
    * once, and the reference-point rule still dedups per CELL (the
    * analog of [[graft.pipeline.Dedup]]'s capBuckets for LSH buckets,
    * except a join cannot drop — it splits). `pairsPerTask =
    * Long.MaxValue` (or ≤0) disables the pair dimension: only the left
    * census at the build bound runs — the pre-r14 shape, and the
    * quadtree tier's default, since leaf occupancy grows with data
    * volume and potential-pairs sizing would over-split every leaf at
    * scale. With pair-split on, each side pays one map-side-combined
    * count shuffle; the memory-critical stratum (counts past
    * maxCellRows) collects UNBOUNDED (every such cell must split or a
    * task OOMs; naturally ≤ totalRows/maxCellRows entries) while the
    * merely-heavy stratum is hard-bounded to the heaviest
    * [[CensusKeep]] cells (beyond the cut: unsalted plan). SIZING never
    * uses an estimate: one-sided candidates get a filtered exact count
    * of the absent side, so a below-floor side splits against its real
    * row count or not at all. `pairsPerTask` bounds POTENTIAL pairs
    * (ln·rn): in a uniform grid with cellSize ≈ envelope size that is
    * close to actual candidates; a deliberately coarse grid over
    * well-separated data over-splits (bounded by the 64 cap) — disable
    * or raise the target there. Residual: per-task pairs are bounded
    * below ln·rn/(p·64) by the salt cap.
    *
    * @param refPoint (cell, leftEnv, rightEnv) => does this CELL own the
    *                 pair (the tier's reference-point rule)
    */
  private def cellCogroupPairs(
      lCells: Dataset[(Long, Long, Array[Byte])],
      rCells: Dataset[(Long, Long, Array[Byte])],
      pred: String,
      refPoint: (Long, Envelope, Envelope) => Boolean,
      maxCellRows: Int,
      pairsPerTask: Long = GridPairsPerTask): DataFrame = {
    val spark = lCells.sparkSession
    import spark.implicits._
    saltedCogroup(lCells, rCells, maxCellRows, pairsPerTask) { (key, lit, rit) =>
      val cell = key._1
      val tree = new STRtree()
      var n = 0
      lit.foreach { case (_, _, _, lid, bytes) =>
        val g = EWKB.read(bytes)
        if (!g.isEmpty) {
          tree.insert(g.getEnvelopeInternal, (lid, PreparedGeometryFactory.prepare(g)))
          n += 1
        }
      }
      if (n == 0) Iterator.empty
      else {
        tree.build()
        rit.flatMap { case (_, _, _, rid, bytes) =>
          val rg = EWKB.read(bytes)
          if (rg.isEmpty) Iterator.empty
          else {
            val re = rg.getEnvelopeInternal
            tree.query(re).asScala.iterator
              .map(_.asInstanceOf[(Long, PreparedGeometry)])
              .filter { case (_, prep) =>
                refPoint(cell, prep.getGeometry.getEnvelopeInternal, re) }
              .filter { case (_, prep) => applyPred(pred, prep, rg) }
              .map { case (lid, _) => (lid, rid) }
          }
        }
      }
    }.toDF(LIdx, RIdx)
  }

  /** The salt-routed cogroup shared by the predicate tiers
    * ([[cellCogroupPairs]]) and the nearest tier: census + 2-D (p, q)
    * sizing + salted routing, with the per-(cell, lsalt, rsalt) work
    * delegated to `combine`. The FIRST side is the buffered one (its
    * slices are memory-bounded by `maxCellRows` — combiners build their
    * tree over it); the second streams. `combine` receives each group's
    * key and both salted iterators; each (buf, str) row pair meets
    * exactly once per shared cell (buf rows round-robin into p and
    * replicate across q, str rows round-robin into q and replicate
    * across p). */
  /** @param bufCensus a PRE-COMPUTED census of the buffered side (the
    *        [[gridCensus]] result at this call's exact floor/cap) — the
    *        exclusive escalation loop's reuse door: its build cells are
    *        identical across rounds while the probe side re-pads, so
    *        per-round recomputation is a whole aggregate pass over the
    *        build cells for nothing. Measured NEUTRAL at probe scale
    *        (ProbeUnbCensus r17 — the loop is fixed-job-overhead-bound
    *        there) and kept for the at-scale pass elimination. Callers
    *        must pass a census computed over the SAME bufCells at
    *        `min(GridCensusMin, maxCellRows)/maxCellRows`, or None. An
    *        unpersisted bufCells is snapped like the other sides, so an
    *        exactCounts recount never re-runs its explode; a persisted
    *        one (the current caller's) keeps its own cache. */
  private def saltedCogroup[U: org.apache.spark.sql.Encoder](
      bufCells: Dataset[(Long, Long, Array[Byte])],
      strCells: Dataset[(Long, Long, Array[Byte])],
      maxCellRows: Int,
      pairsPerTask: Long,
      bufCensus: Option[(Map[Long, Long], Long)] = None)(
      combine: ((Long, Int, Int),
        Iterator[(Long, Int, Int, Long, Array[Byte])],
        Iterator[(Long, Int, Int, Long, Array[Byte])]) => Iterator[U]): Dataset[U] = {
    val spark = bufCells.sparkSession
    import spark.implicits._
    // r19 (VERDICT r18 #4): a census and the cogroup were TWO full
    // evaluations of a side's cells explode (stored-input read + EWKB
    // parse + cell math per row — and at bench fixture shape, a single
    // task). Each side a census will scan gets a LAZY localCheckpoint:
    // the census action materializes the blocks, the cogroup (and any
    // exactCounts recount) re-reads them, so the explode pass runs once
    // per side. Blocks release via the ContextCleaner when the result
    // frame is collected (the snapFrame contract in pipeline.Dedup —
    // amortized, GC-timed; PipelineSpec pins the no-accumulation bound
    // for the dedup doors, ProbeJoinAB the win here). A side that is
    // already persisted (the escalation loop's registerProbe) keeps its
    // own cache.
    def snapSide(ds: Dataset[(Long, Long, Array[Byte])]) =
      if (ds.storageLevel != org.apache.spark.storage.StorageLevel.NONE) ds
      else ds.localCheckpoint(eager = false)
    val pairSplitEarly = pairsPerTask > 0 && pairsPerTask < Long.MaxValue
    val lCells = if (maxCellRows > 0) snapSide(bufCells) else bufCells
    val rCells =
      if (maxCellRows > 0 && pairSplitEarly) snapSide(strCells)
      else strCells
    def exactCounts(cells: Dataset[(Long, Long, Array[Byte])],
        forCells: Set[Long]): Map[Long, Long] = {
      // broadcast set + typed filter, NOT isin: the key list can be as
      // large as the unbounded memory stratum, and a 10^5-child In
      // expression stalls the driver at analysis time
      val bcKeys = cells.sparkSession.sparkContext.broadcast(forCells)
      // project the key column BEFORE the typed filter: filtering the
      // raw tuple would deserialize every row's EWKB blob just to read
      // the cell id
      cells.select(col("_1")).as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .filter(c => bcKeys.value.contains(c))
        .groupByKey(identity).count().collect().toMap
    }
    // a salt count must stay a sane Int: past this the cell needs a
    // different grid, not more slices (and Long→Int truncation on an
    // absurd count must never wrap negative and drop rows)
    def clampSalt(v: Long): Int = math.min(65536L, math.max(1L, v)).toInt
    val pairSplit = pairSplitEarly
    val hotMap: Map[Long, (Int, Int)] =
      if (maxCellRows <= 0) Map.empty
      else if (!pairSplit) {
        // memory-only split (the pre-r14 shape, and the quadtree tier's
        // default — its sample-adaptive subdivision is the pair-count
        // mitigation there, and potential-pairs sizing on leaves whose
        // occupancy GROWS with data volume would over-split every leaf
        // at scale): one left census at the build bound, right unscanned
        lCells.groupByKey(_._1).count().filter(_._2 > maxCellRows)
          .collect().iterator.map { case (c, n) =>
            c -> (clampSalt((n + maxCellRows - 1) / maxCellRows), 1)
          }.toMap
      } else {
        val ((lMap0, lAbsent), (rMap0, rAbsent)) = bufCensus match {
          case Some(bc) => (bc, gridCensus(rCells, GridCensusMin, Long.MaxValue - 1))
          case None => inParallel(
            gridCensus(lCells,
              math.min(GridCensusMin, maxCellRows.toLong), maxCellRows.toLong),
            gridCensus(rCells, GridCensusMin, Long.MaxValue - 1))
        }
        // SIZING never uses an estimate (an absent side below the census
        // floor may really hold 1 row — splitting against the upper
        // bound would replicate the heavy side for nothing, the same
        // lesson as the bucketed tier's recount): cells heavy on exactly
        // one side whose bound-estimate crosses the target get ONE
        // filtered exact count of the other side, only when such
        // candidates exist. The absent-side bound is the OTHER census's:
        // floor−1 when complete, its smallest kept merely-heavy count
        // when truncated (ADVICE r14 #3 — a cell dropped at the
        // CensusKeep cut can hold far more than the floor, and a
        // floor-based estimate would let a 150M-pair cell escape both
        // candidacy and the exact recount).
        def oneSided(heavy: Map[Long, Long], other: Map[Long, Long],
            otherBound: Long) =
          heavy.collect { case (c, n) if !other.contains(c) &&
            pastPairBound(n, otherBound, pairsPerTask) => c }.toSet
        val needRn = oneSided(lMap0, rMap0, rAbsent)
        val needLn = oneSided(rMap0, lMap0, lAbsent)
        val lMap = if (needLn.isEmpty) lMap0
          else lMap0 ++ exactCounts(lCells, needLn)
        val rMap = if (needRn.isEmpty) rMap0
          else rMap0 ++ exactCounts(rCells, needRn)
        (lMap0.keysIterator ++ rMap0.keysIterator).distinct.flatMap { c =>
          val ln = lMap.getOrElse(c, 0L)
          val rn = rMap.getOrElse(c, 0L)
          val pMem = math.max(1L, (ln + maxCellRows - 1) / maxCellRows)
          if (!pastPairBound(ln, rn, pairsPerTask)) {
            if (pMem > 1) Some(c -> (clampSalt(pMem), 1)) else None
          } else {
            // balanced 2-D sizing (Double arithmetic — ln·rn can exceed
            // Long at 100 TB counts and slices only need magnitude):
            // t = slices needed for the pair target; p/q split so the
            // replication cost ln·q + rn·p is minimized (p ∝ √(t·ln/rn))
            // — a left-heavy cell splits LEFT and replicates the cheap
            // right, not the reverse. Caps at 64 per dimension; pMem
            // still rules p's floor.
            val t = math.max(1.0, math.ceil(ln.toDouble * rn / pairsPerTask))
            val pBal = math.round(math.sqrt(t * ln / math.max(1L, rn)))
            val p = math.max(pMem, math.min(64L, math.max(1L, pBal)))
            val q = math.min(64L, math.max(1L, math.ceil(t / p).toLong))
            Some(c -> (clampSalt(p), clampSalt(q)))
          }
        }.toMap
      }
    val bcHot = spark.sparkContext.broadcast(hotMap)
    val NoSalt = (1, 1)
    val lS = lCells.mapPartitions { it =>
      val hot = bcHot.value
      if (hot.isEmpty) it.map { case (c, id, b) => (c, 0, 0, id, b) }
      else {
        var ctr = 0
        it.flatMap { case (c, id, b) =>
          val (p, q) = hot.getOrElse(c, NoSalt)
          if (p <= 1 && q <= 1) Iterator.single((c, 0, 0, id, b))
          else {
            // monotone counter + floorMod: storing the reduced value
            // would let a small-modulus cell clamp the salt range of a
            // co-resident large-modulus cell (round-robin collapse), and
            // a bare % can go negative past 2^31 rows
            val lsalt = if (p <= 1) 0
              else { ctr += 1; java.lang.Math.floorMod(ctr, p) }
            (0 until q).iterator.map(rsalt => (c, lsalt, rsalt, id, b))
          }
        }
      }
    }
    val rS = rCells.mapPartitions { it =>
      val hot = bcHot.value
      if (hot.isEmpty) it.map { case (c, id, b) => (c, 0, 0, id, b) }
      else {
        var ctr = 0
        it.flatMap { case (c, id, b) =>
          val (p, q) = hot.getOrElse(c, NoSalt)
          if (p <= 1 && q <= 1) Iterator.single((c, 0, 0, id, b))
          else {
            val rsalt = if (q <= 1) 0
              else { ctr += 1; java.lang.Math.floorMod(ctr, q) }
            (0 until p).iterator.map(lsalt => (c, lsalt, rsalt, id, b))
          }
        }
      }
    }
    lS.groupByKey(t => (t._1, t._2, t._3))
      .cogroup(rS.groupByKey(t => (t._1, t._2, t._3)))(combine)
  }

  /** Grid-partitioned spatial join for large×large inputs.
    *
    * @param cellSize grid cell edge length in coordinate units. Choose ≈ the
    *                 median geometry envelope size; smaller cells → more
    *                 duplication, larger cells → more per-cell work.
    * @param how "inner" | "left" | "right" | "full" — outer variants track
    *            matched row ids (single-pass partition-offset index, see
    *            withStableIndex) and add the unmatched rows with an anti
    *            join.
    */
  def sjoinPartitioned(left: DataFrame, right: DataFrame, cellSize: Double,
      predicate: String = "intersects", how: String = "inner",
      leftGeom: String = "geometry", rightGeom: String = "geometry",
      suffix: String = "_right", maxCellRows: Int = MaxCellBuildRows,
      pairsPerTask: Long = GridPairsPerTask): DataFrame = {
    require(Set("inner", "left", "right", "full")(how), s"unsupported how: $how")
    val spark = left.sparkSession
    import spark.implicits._
    val pred = predicate
    val cs = cellSize

    val (leftIdx, rightIdx) = inParallel(
      withStableIndex(left, LIdx), withStableIndex(right, RIdx))

    // the one packed-cell scheme, shared with the bucketed store (the
    // two tiers only interoperate while their cells stay bit-identical);
    // a function VAL — a local def would capture the non-serializable
    // SpatialJoin module in the task closures below
    val cellsOf: Array[Byte] => Seq[Long] = bytes => gridCellsOf(bytes, cs)

    val lCells = leftIdx.select(col(LIdx), col(leftGeom)).as[(Long, Array[Byte])]
      .flatMap { case (id, b) => cellsOf(b).map(c => (c, id, b)) }
    val rCells = rightIdx.select(col(RIdx), col(rightGeom)).as[(Long, Array[Byte])]
      .flatMap { case (id, b) => cellsOf(b).map(c => (c, id, b)) }

    // cogroup by (cell, lsalt, rsalt): per-slice STRtree over the left
    // slice, streamed probe of the right slice. No cross product is ever
    // materialized; the reference-point rule (bottom-left corner of the
    // envelope intersection) makes each pair unique without a distinct().
    val pairs = cellCogroupPairs(lCells, rCells, pred,
      (cell, le, re) => {
        val ix = math.max(le.getMinX, re.getMinX)
        val iy = math.max(le.getMinY, re.getMinY)
        graft.plans.GeoNative.ownsCorner(ix, iy, cell, cs)
      }, maxCellRows, pairsPerTask)

    assemble(leftIdx, rightIdx, pairs, how, suffix)
  }

  /** Quadtree-partitioned spatial join: like [[sjoinPartitioned]] but the
    * cells come from a sample-adaptive [[QuadTree]] instead of a uniform
    * grid — skewed data (hot clusters) subdivides into many small cells
    * while sparse regions stay coarse, so no single cell becomes the
    * straggler. Geometries outside the sampled extent clamp onto boundary
    * cells (correctness is unconditional; only balance depends on the
    * sample). Pair-count salting defaults OFF here (`pairsPerTask =
    * Long.MaxValue`): adaptive subdivision is this tier's skew answer,
    * and leaf occupancy grows with data volume, so a potential-pairs
    * bound would over-split ordinary leaves at scale — opt in for
    * co-located point masses the tree cannot subdivide (maxDepth caps
    * subdivision of rows at one coordinate). */
  def sjoinQuadtree(left: DataFrame, right: DataFrame,
      predicate: String = "intersects", how: String = "inner",
      leftGeom: String = "geometry", rightGeom: String = "geometry",
      suffix: String = "_right", sampleSize: Int = 10000,
      leafCapacity: Int = 64, maxDepth: Int = 12,
      maxCellRows: Int = MaxCellBuildRows,
      pairsPerTask: Long = Long.MaxValue): DataFrame = {
    require(Set("inner", "left", "right", "full")(how), s"unsupported how: $how")
    val spark = left.sparkSession
    import spark.implicits._
    val pred = predicate

    // envelope centers of a sample of both sides drive the partitioning —
    // fraction pre-sample (partition-uniform row thinning, so the hash
    // runs on ~20% of rows) then hash-ordered top-k, NOT a bare
    // fraction-then-limit (the limit takes the earliest partitions,
    // biasing the tree toward one locality on spatially-sorted layouts;
    // the exec tier's per-partition reservoir is the same fix in RDD
    // form). Per-row salt keeps duplicated geometries from monopolizing
    // the top-k.
    // nulls filtered BEFORE ranking — the same null-crowding fix as
    // autoCellSize: a null-heavy frame must not fill the top-k with rows
    // the flatMap then discards (emptying the tree toward the 1.0-cell
    // fallback)
    def centers(df: DataFrame, geom: String): Array[(Double, Double)] = df
      .select(col(geom)).filter(col(geom).isNotNull)
      .sample(withReplacement = false, 0.2, 42)
      .orderBy(xxhash64(col(geom), monotonically_increasing_id(), lit(42L)))
      .limit(sampleSize)
      .collect()
      .flatMap { r =>
        Option(r.get(0).asInstanceOf[Array[Byte]]).map(EWKB.read(_).getEnvelopeInternal)
          .filterNot(_.isNull)
          .map(e => ((e.getMinX + e.getMaxX) / 2, (e.getMinY + e.getMaxY) / 2))
      }
    // Checkpoint FIRST, sample FROM the checkpoints (r19, guide §2.6 and
    // §1.2 "don't compute things twice"): the r18 order sampled the raw
    // inputs (two more full evaluations of each side's upstream plan —
    // expensive when the geometry column is constructed) and ran the two
    // sampling jobs sequentially. The indexed checkpoints must exist
    // anyway; sampling them re-reads materialized rows instead of
    // re-running the upstream plan, and the two sampling jobs overlap.
    // The sample CONTENT can differ from the raw-order sample (row order
    // changes which rows the hash top-k keeps) — only partition balance
    // depends on it; correctness is unconditional.
    val (leftIdx, rightIdx) = inParallel(
      withStableIndex(left, LIdx), withStableIndex(right, RIdx))
    var sample = {
      val (ls, rs) = inParallel(
        centers(leftIdx, leftGeom), centers(rightIdx, rightGeom))
      ls ++ rs
    }
    if (sample.isEmpty)
      // tiny inputs only (a 0.2 sample of a non-null frame this small is
      // cheap to re-read un-sampled)
      sample = leftIdx.select(col(leftGeom)).filter(col(leftGeom).isNotNull)
        .limit(sampleSize).collect()
        .flatMap { r =>
          Option(r.get(0).asInstanceOf[Array[Byte]]).map(EWKB.read(_).getEnvelopeInternal)
            .filterNot(_.isNull)
            .map(e => ((e.getMinX + e.getMaxX) / 2, (e.getMinY + e.getMaxY) / 2))
        }
    if (sample.isEmpty) return sjoinPartitioned(left, right, 1.0, predicate, how,
      leftGeom, rightGeom, suffix, maxCellRows,
      pairsPerTask = pairsPerTask) // preserve the caller's split intent
    val tree = QuadTree.build(sample.toSeq, leafCapacity, maxDepth)
    val bcTree = spark.sparkContext.broadcast(tree)

    def cellsOf(bytes: Array[Byte]): Seq[Int] = {
      if (bytes == null) return Nil
      val e = EWKB.read(bytes).getEnvelopeInternal
      if (e.isNull) Nil else bcTree.value.leavesFor(e)
    }

    val lCells = leftIdx.select(col(LIdx), col(leftGeom)).as[(Long, Array[Byte])]
      .flatMap { case (id, b) => cellsOf(b).map(c => (c.toLong, id, b)) }
    val rCells = rightIdx.select(col(RIdx), col(rightGeom)).as[(Long, Array[Byte])]
      .flatMap { case (id, b) => cellsOf(b).map(c => (c.toLong, id, b)) }

    val pairs = cellCogroupPairs(lCells, rCells, pred,
      (cell, le, re) =>
        // reference-point dedup against the quadtree leaf
        bcTree.value.leafOf(math.max(le.getMinX, re.getMinX),
          math.max(le.getMinY, re.getMinY)) == cell.toInt,
      maxCellRows, pairsPerTask)

    assemble(leftIdx, rightIdx, pairs, how, suffix)
  }

  // ------------------------------------------------------- nearest join

  /** Executor-local cache of a plain-geometry STRtree per broadcast: the
    * nearest tier measures distances, which need raw geometries, not the
    * prepared predicates [[TreeCache]] holds. */
  private object NearestTreeCache {
    private val cache = new BroadcastCache[STRtree]()
    def get(bc: Broadcast[Array[(Long, Array[Byte])]]): STRtree =
      cache.getOrBuild(bc) {
        val t = new STRtree()
        bc.value.foreach { case (id, bytes) =>
          if (bytes != null) {
            val g = EWKB.read(bytes)
            if (!g.isEmpty) t.insert(g.getEnvelopeInternal, (id, g))
          }
        }
        t.build()
        t
      }
  }

  /** Geometry distance over (id, Geometry) STRtree items — the JTS kNN
    * callback. Envelope distance lower-bounds geometry distance, so the
    * branch-and-bound kNN is exact under it. */
  private object GeomItemDistance extends org.locationtech.jts.index.strtree.ItemDistance {
    def distance(a: org.locationtech.jts.index.strtree.ItemBoundable,
        b: org.locationtech.jts.index.strtree.ItemBoundable): Double =
      a.getItem.asInstanceOf[(Long, Geometry)]._2
        .distance(b.getItem.asInstanceOf[(Long, Geometry)]._2)
  }

  /** Ties-inclusive top-k by `dist`: every candidate whose distance is ≤
    * the kth smallest (SQL `rank() <= k`). */
  private[graft] def topKTies[T](cands: Array[T], k: Int)(dist: T => Double): Array[T] =
    if (cands.length <= k) cands
    else {
      val sorted = cands.sortBy(dist)
      val dk = dist(sorted(k - 1))
      sorted.takeWhile(dist(_) <= dk)
    }

  /** All (id, distance, geometry) within `radius` of `g` from an
    * (id, Geometry) STRtree. The `exclusive` rule (geopandas: skip
    * candidates equal to the probe) tests topological equality only on
    * distance-0 candidates — no other candidate can be equal. */
  private def withinRadius(tree: STRtree, g: Geometry, radius: Double,
      exclusive: Boolean): Array[(Long, Double, Geometry)] = {
    val e = new Envelope(g.getEnvelopeInternal)
    e.expandBy(radius)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Geometry)]
    tree.query(e).asScala.foreach { item =>
      val (id, rg) = item.asInstanceOf[(Long, Geometry)]
      val d = g.distance(rg)
      if (d <= radius && !(exclusive && d == 0.0 && g.equalsTopo(rg)))
        buf += ((id, d, rg))
    }
    buf.toArray
  }

  /** Ties-inclusive k nearest within `maxDist` (possibly infinite) of one
    * probe geometry. Unbounded searches seed the radius from the JTS
    * branch-and-bound kNN and re-query ties-inclusively within it; when
    * the exclusive rule filters the seed below k the fetch doubles (the
    * loop terminates at a full fetch — `nItems` items means every
    * candidate was seen). */
  private[graft] def nearestOf(tree: STRtree, nItems: Int, g: Geometry, k: Int,
      maxDist: Double, exclusive: Boolean): Array[(Long, Double, Geometry)] = {
    if (nItems == 0) return Array.empty
    if (!maxDist.isInfinite)
      return topKTies(withinRadius(tree, g, maxDist, exclusive), k)(_._2)
    var fetch = math.min(nItems, k + (if (exclusive) 4 else 0))
    var res: Array[(Long, Double, Geometry)] = null
    while (res == null) {
      val nn = tree.nearestNeighbour(g.getEnvelopeInternal, (-1L, g),
        GeomItemDistance, fetch)
      var r = 0.0
      nn.foreach { item =>
        r = math.max(r, g.distance(item.asInstanceOf[(Long, Geometry)]._2))
      }
      val cands = topKTies(withinRadius(tree, g, r, exclusive), k)(_._2)
      if (cands.length >= k || fetch >= nItems) res = cands
      else fetch = math.min(nItems, fetch * 2)
    }
    res
  }

  private def checkNearestArgs(left: DataFrame, right: DataFrame, k: Int,
      maxDistance: Double, how: String, distanceCol: Option[String],
      suffix: String): Unit = {
    require(k >= 1, s"sjoinNearest: k must be >= 1, got $k")
    require(!maxDistance.isNaN && maxDistance > 0,
      s"sjoinNearest: maxDistance must be positive, got $maxDistance")
    require(Set("inner", "left", "right")(how),
      s"unsupported how: $how (nearest join supports inner, left, right)")
    distanceCol.foreach { n =>
      val taken = left.columns.toSet ++ right.columns.map(c =>
        if (left.columns.contains(c)) c + suffix else c)
      require(!taken.contains(n),
        s"sjoinNearest: distanceCol '$n' clashes with an output column")
    }
  }

  /** Nearest-neighbor spatial join — beyond the reference surface
    * (polars-st has only the row-wise `nearest_points` kernel,
    * `/root/reference/src/functions.rs:1772`, shipped here as
    * `st_shortest_line`); the frame-level operation follows the public
    * geopandas `sjoin_nearest` contract.
    *
    * For each PROBE row (the left frame for how ∈ {inner, left}; the
    * right frame for how = "right") the k nearest build-side geometries
    * by planar JTS distance are attached, TIES-INCLUSIVE: every build row
    * whose distance equals the kth smallest is kept (SQL `rank() <= k`),
    * so the result is deterministic — no arbitrary winner among
    * equidistant candidates.
    *
    * Tiers mirror [[sjoin]]: the build side is collected under the
    * broadcast guards and probed as an (id, geometry) STRtree with the
    * JTS branch-and-bound kNN; a build side past the guards falls back to
    * [[sjoinNearestPartitioned]] when `maxDistance` is finite, or to
    * [[sjoinNearestUnbounded]] (per-probe bound discovery over a coarse
    * build summary) when it is not — the full geopandas `sjoin_nearest`
    * contract holds at every scale.
    *
    * @param k neighbors per probe row (ties at the kth distance all kept)
    * @param maxDistance candidates farther than this planar distance never
    *        match; probe rows with no candidate drop on "inner" and
    *        survive with null build columns on "left"/"right". Infinity
    *        (the default) searches as far as the data requires.
    * @param how "inner" | "left" | "right" — geopandas semantics: "left"
    *        keeps unmatched left rows; "right" swaps the probe role (each
    *        RIGHT row gets its k nearest LEFT geometries) and keeps
    *        unmatched right rows.
    * @param distanceCol when Some(name), the planar distance is appended
    *        under that column (geopandas `distance_col`).
    * @param exclusive skip candidates topologically equal to the probe
    *        geometry (geopandas `exclusive` — "nearest OTHER feature"
    *        hygiene for self-joins).
    * @param cellSize fallback-tier grid cell edge; 0 → max(2·maxDistance,
    *        [[autoCellSize]] of the probe side). */
  def sjoinNearest(left: DataFrame, right: DataFrame, k: Int = 1,
      maxDistance: Double = Double.PositiveInfinity, how: String = "inner",
      leftGeom: String = "geometry", rightGeom: String = "geometry",
      suffix: String = "_right", distanceCol: Option[String] = None,
      exclusive: Boolean = false, maxBuildRows: Long = MaxBroadcastRows,
      maxBuildBytes: Long = MaxBroadcastBytes, cellSize: Double = 0.0,
      maxCellRows: Int = MaxCellBuildRows,
      pairsPerTask: Long = GridPairsPerTask): DataFrame = {
    checkNearestArgs(left, right, k, maxDistance, how, distanceCol, suffix)
    val spark = left.sparkSession
    val rightR = renameClashes(right, left.columns.toSeq, suffix)
    val rGeomR = if (left.columns.contains(rightGeom)) rightGeom + suffix else rightGeom
    val probeIsLeft = how != "right"
    val (build, bGeomName) =
      if (probeIsLeft) (rightR, rGeomR) else (left, leftGeom)
    val (probe, pGeomName) =
      if (probeIsLeft) (left, leftGeom) else (rightR, rGeomR)
    val bGeomPos = build.columns.indexOf(bGeomName)
    val pGeomPos = probe.columns.indexOf(pGeomName)
    require(bGeomPos >= 0 && pGeomPos >= 0,
      s"sjoinNearest: missing geometry column ($leftGeom / $rightGeom)")

    collectBounded(build, maxBuildRows, maxBuildBytes) match {
      case None =>
        if (maxDistance.isInfinite)
          sjoinNearestUnbounded(left, right, k, how, leftGeom, rightGeom,
            suffix, distanceCol, exclusive, cellSize, maxCellRows,
            pairsPerTask)
        else
          sjoinNearestPartitioned(left, right, k, maxDistance, how, leftGeom,
            rightGeom, suffix, distanceCol, exclusive, cellSize, maxCellRows,
            pairsPerTask)
      case Some(buildRows) =>
        val kk = k; val maxD = maxDistance; val excl = exclusive
        val buildData = buildRows.zipWithIndex.map { case (r, i) =>
          (i.toLong, r.get(bGeomPos).asInstanceOf[Array[Byte]])
        }
        val bc = spark.sparkContext.broadcast(buildData)
        val keepUnmatched = how != "inner"
        val BIdxCol = "__graft_nbidx"
        val DCol = "__graft_ndist"
        val outSchema = StructType(probe.schema.fields ++ Seq(
          StructField(BIdxCol, LongType, true),
          StructField(DCol, org.apache.spark.sql.types.DoubleType, true)))
        val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
        val pairs = probe.mapPartitions { it =>
          val tree = NearestTreeCache.get(bc)
          val n = tree.size()
          it.flatMap { row =>
            val bytes = row.get(pGeomPos).asInstanceOf[Array[Byte]]
            val matches =
              if (bytes == null) Array.empty[(Long, Double, Geometry)]
              else {
                val g = EWKB.read(bytes)
                if (g.isEmpty) Array.empty[(Long, Double, Geometry)]
                else nearestOf(tree, n, g, kk, maxD, excl)
              }
            if (matches.isEmpty) {
              if (keepUnmatched)
                Iterator.single(Row.fromSeq(row.toSeq ++ Seq(null, null)))
              else Iterator.empty
            } else {
              val base = row.toSeq // once per probe row, not once per match
              matches.iterator.map { case (bid, d, _) =>
                // Seq[Any], NOT Seq(bid, d): Long+Double would unify to
                // Seq[Double] by numeric widening, silently turning the
                // build id into a Double the encoder then rejects
                Row.fromSeq(base ++ Seq[Any](bid, d))
              }
            }
          }
        }(enc)
        // driver-assigned deterministic build ids → small reattach frame
        val bIdxSchema = StructType(
          StructField(BIdxCol, LongType, false) +: build.schema.fields)
        val bIdxDF = spark.createDataFrame(
          spark.sparkContext.parallelize(buildRows.toIndexedSeq.zipWithIndex
            .map { case (r, i) => Row.fromSeq(i.toLong +: r.toSeq) }),
          bIdxSchema)
        val attached = pairs.join(broadcast(bIdxDF), Seq(BIdxCol),
          if (keepUnmatched) "left" else "inner")
        attached.select(
          (left.columns.map(col) ++ rightR.columns.map(col)
            ++ distanceCol.map(nm => col(DCol).as(nm)).toSeq): _*)
    }
  }

  /** Distributed nearest join for build sides past the broadcast guards.
    *
    * Both sides shuffle on grid cells — the BUILD side's envelopes
    * expanded by `maxDistance` first, so any (probe, build) pair within
    * `maxDistance` shares at least one cell. A per-cell (id, geometry)
    * STRtree serves radius-bounded candidates; each cell emits only the
    * pairs it OWNS (the predicate tiers' reference-point rule over
    * probe-envelope ∩ expanded-build-envelope — no global dedup shuffle);
    * emission is pruned to the slice's ties-inclusive top-k, which is
    * sound: a candidate pruned by ≥ k strictly-closer slice rows has ≥ k
    * strictly-closer global rows, so its global rank is > k. One rank()
    * window over the probe id finishes the global top-k. Hot cells route
    * through [[saltedCogroup]]'s census + 2-D salting like the predicate
    * grid tier (the build side is the buffered one). */
  def sjoinNearestPartitioned(left: DataFrame, right: DataFrame, k: Int = 1,
      maxDistance: Double = Double.NaN, how: String = "inner",
      leftGeom: String = "geometry", rightGeom: String = "geometry",
      suffix: String = "_right", distanceCol: Option[String] = None,
      exclusive: Boolean = false, cellSize: Double = 0.0,
      maxCellRows: Int = MaxCellBuildRows,
      pairsPerTask: Long = GridPairsPerTask): DataFrame = {
    checkNearestArgs(left, right, k, maxDistance, how, distanceCol, suffix)
    require(!maxDistance.isInfinite,
      "sjoinNearestPartitioned needs a finite positive maxDistance — the " +
        "cell scheme has no search bound without one (use sjoinNearest " +
        "with a broadcastable build side for unbounded searches)")
    val spark = left.sparkSession
    import spark.implicits._
    val probeIsLeft = how != "right"
    val kk = k; val maxD = maxDistance; val excl = exclusive

    val (leftIdx, rightIdx) = inParallel(
      withStableIndex(left, LIdx), withStableIndex(right, RIdx))
    val (probeIdx, pGeom, pIdxName) =
      if (probeIsLeft) (leftIdx, leftGeom, LIdx) else (rightIdx, rightGeom, RIdx)
    val (buildIdx, bGeom, bIdxName) =
      if (probeIsLeft) (rightIdx, rightGeom, RIdx) else (leftIdx, leftGeom, LIdx)
    val cs =
      if (cellSize > 0) cellSize
      else math.max(2 * maxDistance, autoCellSize(probeIdx, pGeom))
    val csV = cs

    val probeCells = probeIdx.select(col(pIdxName), col(pGeom))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => gridCellsOf(b, csV).map(c => (c, id, b)) }
    val buildCells = buildIdx.select(col(bIdxName), col(bGeom))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) =>
        gridCellsOf(b, csV, pad = maxD).map(c => (c, id, b)) }

    val triples = saltedCogroup(buildCells, probeCells, maxCellRows,
      pairsPerTask) { (key, bIt, pIt) =>
      val cell = key._1
      val tree = new STRtree()
      var n = 0
      bIt.foreach { case (_, _, _, bid, bytes) =>
        if (bytes != null) {
          val g = EWKB.read(bytes)
          if (!g.isEmpty) { tree.insert(g.getEnvelopeInternal, (bid, g)); n += 1 }
        }
      }
      if (n == 0) Iterator.empty
      else {
        tree.build()
        pIt.flatMap { case (_, _, _, pid, bytes) =>
          if (bytes == null) Iterator.empty
          else {
            val g = EWKB.read(bytes)
            if (g.isEmpty) Iterator.empty
            else {
              val pe = g.getEnvelopeInternal
              topKTies(withinRadius(tree, g, maxD, excl), kk)(_._2).iterator
                .filter { case (_, _, bg) =>
                  // ownership: bottom-left corner of probe-env ∩
                  // expanded-build-env lies in THIS cell (exists for every
                  // candidate — distance ≤ maxD means the expanded build
                  // envelope overlaps the probe envelope on both axes)
                  val be = new Envelope(bg.getEnvelopeInternal)
                  be.expandBy(maxD)
                  val ix = math.max(pe.getMinX, be.getMinX)
                  val iy = math.max(pe.getMinY, be.getMinY)
                  graft.plans.GeoNative.ownsCorner(ix, iy, cell, csV)
                }
                .map { case (bid, d, _) => (pid, bid, d) }
            }
          }
        }
      }
    }

    val DCol = "__graft_ndist"
    val PIdxT = "__graft_npidx"
    val BIdxT = "__graft_nbidx"
    import org.apache.spark.sql.expressions.Window
    val ranked = triples.toDF(PIdxT, BIdxT, DCol)
      .withColumn("__graft_nrank",
        rank().over(Window.partitionBy(col(PIdxT)).orderBy(col(DCol))))
      .filter(col("__graft_nrank") <= kk)
      .drop("__graft_nrank")
    val pairs =
      if (probeIsLeft)
        ranked.withColumnRenamed(PIdxT, LIdx).withColumnRenamed(BIdxT, RIdx)
      else
        ranked.withColumnRenamed(PIdxT, RIdx).withColumnRenamed(BIdxT, LIdx)

    val assembled = assemble(leftIdx, rightIdx, pairs, how, suffix)
    // public shape: left columns ++ renamed right columns ++ distance
    val rightRNames = right.columns.map(c =>
      if (left.columns.contains(c)) c + suffix else c)
    assembled.select(
      (left.columns.map(col) ++ rightRNames.map(col)
        ++ distanceCol.map(nm => col(DCol).as(nm)).toSeq): _*)
  }

  /** Distributed nearest join with NO distance bound — the tier behind
    * `sjoinNearest(maxDistance = ∞)` when the build side exceeds the
    * broadcast guards (the public geopandas `sjoin_nearest` no-bound
    * contract at any scale). The cell scheme alone has no search bound,
    * so the tier derives one PER PROBE from a coarse build summary
    * ([[CellSummary]]: anchor counts + envelope coverage as two
    * driver-resident summed-area tables over a ≤512² grid, built by two
    * `treeAggregate` passes and broadcast once):
    *
    *  1. each probe binary-searches the smallest Chebyshev cell ring
    *     whose block provably holds ≥ k distinct build rows (anchors are
    *     counted once per row, at a vertex ON the geometry) — the max
    *     box-to-box distance to that block bounds the k-th nearest
    *     distance; a dense-region probe gets a tight local bound while a
    *     desert probe's bound reaches however far its k-th neighbor is;
    *  2. the bound rides the PROBE explosion (the bucketed-tier
    *     convention: probe cells padded by its own `d_p`, build side
    *     unpadded), with emission filtered to coverage-occupied regions
    *     — loss-free (the ownership corner of an in-range pair lies in
    *     the build envelope, whose cells are always covered), so the
    *     desert probe emits only toward actual data instead of millions
    *     of empty cells;
    *  3. per-cell STRtree radius query at `d_p`, slice-local
    *     ties-inclusive top-k prune, ownership-corner dedup
    *     (bit-identical floor arithmetic via
    *     [[graft.plans.GeoNative.ownsCorner]]), one rank() window — the
    *     bounded tier's finish. Hot cells inherit the census + 2-D
    *     salting through [[saltedCogroup]].
    *
    * `exclusive = true` is the one case a single pass cannot always
    * settle: topologically-equal duplicates may consume the anchor
    * budget (k anchors in range, all equal to the probe, zero eligible
    * matches). Probes that resolve fewer than k ties-inclusive matches
    * re-run with a doubled anchor target, terminating no later than the
    * target reaching `totalAnchors` (the bound then covers every build
    * row). Without `exclusive` the anchor guarantee makes the first pass
    * exact, so no verification job runs.
    *
    * `cellSize = 0` sizes cells from one hash-ranked probe sample as
    * `max(4 × mean envelope width, 2 × median per-probe bound)` — the
    * unbounded analog of the bounded tier's `2 × maxDistance` default. */
  def sjoinNearestUnbounded(left: DataFrame, right: DataFrame, k: Int = 1,
      how: String = "inner", leftGeom: String = "geometry",
      rightGeom: String = "geometry", suffix: String = "_right",
      distanceCol: Option[String] = None, exclusive: Boolean = false,
      cellSize: Double = 0.0, maxCellRows: Int = MaxCellBuildRows,
      pairsPerTask: Long = GridPairsPerTask,
      summaryGrid: Int = CellSummary.DefaultGrid,
      buildSummary: Option[CellSummary] = None): DataFrame =
    sjoinNearestUnboundedWith(buildSummary, left, right, k, how, leftGeom,
      rightGeom, suffix, distanceCol, exclusive, cellSize, maxCellRows,
      pairsPerTask, summaryGrid)

  /** A build frame's [[CellSummary]], computed ONCE and reusable across
    * joins — [[censusProbe]]'s analog for the unbounded tier: a build
    * side joined repeatedly re-pays the two summary passes on every
    * `sjoinNearestUnbounded` call; pre-computing it here and passing it
    * via `buildSummary` skips them. The summary must describe EXACTLY
    * the join's BUILD side — the `right` frame, or `left` when
    * `how = "right"` — computed over different rows it is UNSOUND (its
    * coverage filter would skip regions only the missing rows occupy,
    * silently dropping matches), which is also why the store tier reads
    * its stamped summary only while the stamp's file fingerprint matches
    * the store's data files (see [[CellSummaryProp]]). Returns
    * None when no row has a usable geometry (such a join has no matches
    * by definition, and `buildSummary = None` just recomputes). */
  def summarizeBuild(build: DataFrame, geom: String = "geometry",
      summaryGrid: Int = CellSummary.DefaultGrid): Option[CellSummary] =
    CellSummary.compute(build, geom, summaryGrid)

  /** [[sjoinNearestUnbounded]] with an optionally PRECOMPUTED build
    * summary — the coarse plan of [[sjoinNearestBucketed]]'s unbounded
    * door passes the store's stamped [[CellSummary]] here so the two
    * summary passes aren't re-paid (the summary is a pure function of
    * the build rows, which the stamp invariant guarantees unchanged);
    * `None` computes it from the build side. */
  private[graft] def sjoinNearestUnboundedWith(
      precomputed: Option[CellSummary],
      left: DataFrame, right: DataFrame, k: Int,
      how: String, leftGeom: String,
      rightGeom: String, suffix: String,
      distanceCol: Option[String], exclusive: Boolean,
      cellSize: Double, maxCellRows: Int,
      pairsPerTask: Long,
      summaryGrid: Int): DataFrame = {
    checkNearestArgs(left, right, k, Double.PositiveInfinity, how,
      distanceCol, suffix)
    val spark = left.sparkSession
    import spark.implicits._
    val probeIsLeft = how != "right"
    val kk = k

    val (leftIdx, rightIdx) = inParallel(
      withStableIndex(left, LIdx), withStableIndex(right, RIdx))
    val (probeIdx, pGeom, pIdxName) =
      if (probeIsLeft) (leftIdx, leftGeom, LIdx) else (rightIdx, rightGeom, RIdx)
    val (buildIdx, bGeom, bIdxName) =
      if (probeIsLeft) (rightIdx, rightGeom, RIdx) else (leftIdx, leftGeom, LIdx)

    val DCol = "__graft_ndist"
    val PIdxT = "__graft_npidx"
    val BIdxT = "__graft_nbidx"
    val ranked: DataFrame = precomputed
        .orElse(CellSummary.compute(buildIdx, bGeom, summaryGrid)) match {
      case None => // no usable build geometry: no matches, by definition
        Seq.empty[(Long, Long, Double)].toDF(PIdxT, BIdxT, DCol)
      case Some(summary) =>
        val bcSum = spark.sparkContext.broadcast(summary)
        val kTarget0 = (k + (if (exclusive) 1 else 0)).toLong
        val cs =
          if (cellSize > 0) cellSize
          else {
            // one hash-ranked sample feeds BOTH estimators (autoCellSize's
            // envelope-width heuristic and the median per-probe bound)
            val envs = sampleEnvs(probeIdx, pGeom)
            if (envs.isEmpty) math.max(summary.h, 1e-9)
            else unboundedAutoCell(envs, summary, kTarget0)
          }
        val buildCells = buildIdx.select(col(bIdxName), col(bGeom))
          .as[(Long, Array[Byte])]
          .flatMap { case (id, b) => gridCellsOf(b, cs).map(c => (c, id, b)) }
        if (!exclusive)
          nearestUnboundedPass(probeIdx, buildCells, pIdxName, pGeom,
            kk, kTarget0, exclusive = false, cs, bcSum,
            maxCellRows, pairsPerTask, PIdxT, BIdxT, DCol)
        else {
          // the build cells persist across escalation rounds instead of
          // re-parsing and re-shuffling the whole build side per pass,
          // and their census is computed ONCE and reused by every round
          // (the build side is identical across rounds — recomputing is
          // an aggregate pass over the full build cells per round for
          // nothing; measured neutral at probe scale, kept for the
          // at-scale pass elimination — ProbeUnbCensus r17). Only the
          // pair-split mode has a census to reuse; the same floor/cap
          // saltedCogroup would use, or the map drifts from the
          // per-pass computation.
          val buildCellsP = buildCells.persist()
          val buildCensus =
            if (maxCellRows > 0 && pairsPerTask > 0 &&
                pairsPerTask < Long.MaxValue)
              Some(gridCensus(buildCellsP,
                math.min(GridCensusMin, maxCellRows.toLong),
                maxCellRows.toLong))
            else None
          // each round's probe explosion is read 2-3 times (census +
          // cogroup) — persist per round, and release the PREVIOUS
          // round's cache as the next round registers: a round's cache
          // is dead once its kept/unresolved slices are checkpointed
          // inside escalateExclusive, and round 1's cache is the FULL
          // probe explosion (the biggest) — keeping every round pinned
          // to the loop's end would pressure the block manager into
          // evicting the build-cells cache the loop actually reuses
          // (review r17)
          var prevProbe: Option[Dataset[(Long, Long, Array[Byte])]] = None
          try
            escalateExclusive(probeIdx, pIdxName, PIdxT, pGeom, kk,
              kTarget0, summary.totalAnchors) { (pending, kT) =>
              nearestUnboundedPass(pending, buildCellsP, pIdxName, pGeom,
                kk, kT, exclusive = true, cs, bcSum,
                maxCellRows, pairsPerTask, PIdxT, BIdxT, DCol, buildCensus,
                registerProbe = ds => {
                  prevProbe.foreach(_.unpersist())
                  val p = ds.persist(); prevProbe = Some(p); p
                })
            }
          finally {
            buildCellsP.unpersist(); prevProbe.foreach(_.unpersist())
          }
        }
    }
    val pairs =
      if (probeIsLeft)
        ranked.withColumnRenamed(PIdxT, LIdx).withColumnRenamed(BIdxT, RIdx)
      else
        ranked.withColumnRenamed(PIdxT, RIdx).withColumnRenamed(BIdxT, LIdx)
    val assembled = assemble(leftIdx, rightIdx, pairs, how, suffix)
    val rightRNames = right.columns.map(c =>
      if (left.columns.contains(c)) c + suffix else c)
    assembled.select(
      (left.columns.map(col) ++ rightRNames.map(col)
        ++ distanceCol.map(nm => col(DCol).as(nm)).toSeq): _*)
  }

  /** One candidate pass of [[sjoinNearestUnbounded]]: padded-probe cell
    * explosion (coverage-filtered), per-cell STRtree radius query at the
    * per-probe bound, ownership dedup, rank()-window top-k. The bound is
    * recomputed inside the cogroup from the broadcast summary (pure
    * function of the probe envelope) so the tuple shape stays the shared
    * [[saltedCogroup]] one. */
  private def nearestUnboundedPass(probeFrame: DataFrame,
      buildCells: Dataset[(Long, Long, Array[Byte])],
      pIdxName: String, pGeom: String,
      k: Int, kTarget: Long, exclusive: Boolean, cs: Double,
      bcSum: Broadcast[CellSummary], maxCellRows: Int, pairsPerTask: Long,
      PIdxT: String, BIdxT: String, DCol: String,
      buildCensus: Option[(Map[Long, Long], Long)] = None,
      registerProbe: Dataset[(Long, Long, Array[Byte])] =>
        Dataset[(Long, Long, Array[Byte])] = identity): DataFrame = {
    val spark = probeFrame.sparkSession
    import spark.implicits._
    val csV = cs; val kk = k; val kT = kTarget; val excl = exclusive

    // registerProbe: the escalation loop persists each round's probe
    // explosion (the saltedCogroup below reads it 2-3 times — probe
    // census, possibly an exactCounts recount, the cogroup — and the
    // summed-area bound lookups per probe are the expensive part of the
    // explosion). The NON-exclusive door keeps the identity NOT because
    // it has one consumer (it has the same 2-3) but because its result
    // is returned LAZILY: there is no safe point to unpersist — before
    // the caller evaluates would undo the cache, never would leak it
    // for the session. The escalation loop has that safe point (each
    // round's kept slices are checkpointed), so only it registers.
    val probeCells = registerProbe(probeFrame.select(col(pIdxName), col(pGeom))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) =>
        if (b == null) Nil
        else {
          val g = EWKB.read(b)
          if (g.isEmpty) Nil
          else {
            val sum = bcSum.value
            val env = g.getEnvelopeInternal
            val dp = sum.boundFor(env, kT)
            sum.joinCellsOf(env, dp, csV).toSeq.map(c => (c, id, b))
          }
        }
      })
    val triples = saltedCogroup(buildCells, probeCells, maxCellRows,
      pairsPerTask, buildCensus) { (key, bIt, pIt) =>
      val cell = key._1
      val tree = new STRtree()
      var n = 0
      bIt.foreach { case (_, _, _, bid, bytes) =>
        if (bytes != null) {
          val g = EWKB.read(bytes)
          if (!g.isEmpty) { tree.insert(g.getEnvelopeInternal, (bid, g)); n += 1 }
        }
      }
      if (n == 0) Iterator.empty
      else {
        tree.build()
        val sum = bcSum.value
        pIt.flatMap { case (_, _, _, pid, bytes) =>
          if (bytes == null) Iterator.empty
          else {
            val g = EWKB.read(bytes)
            if (g.isEmpty) Iterator.empty
            else {
              val pe = g.getEnvelopeInternal
              val dp = sum.boundFor(pe, kT)
              // branch-and-bound kNN, NOT a radius collect: the summary
              // bound d_p is no tighter than ~extent/512, so on a dense
              // slice `withinRadius(dp)` materializes O(density · d_p)
              // candidates per probe — the whole pass degraded linearly
              // with build size (11 s vs 3 s at sf0.1, PERF.md r16).
              // Equivalence: every slice row strictly closer than an
              // in-d_p candidate is itself within d_p, so slice-local
              // rank is identical computed over the slice or over the
              // d_p ball — kNN + ties-requery + a d_p post-filter
              // returns exactly topKTies(withinRadius(d_p)).
              nearestOf(tree, n, g, kk, Double.PositiveInfinity, excl)
                .iterator
                .filter { case (_, d, bg) =>
                  d <= dp && {
                    // ownership corner: (probe env expanded by d_p) ∩
                    // build env — matches the padded probe assignment
                    val be = bg.getEnvelopeInternal
                    val ix = math.max(pe.getMinX - dp, be.getMinX)
                    val iy = math.max(pe.getMinY - dp, be.getMinY)
                    graft.plans.GeoNative.ownsCorner(ix, iy, cell, csV)
                  }
                }
                .map { case (bid, d, _) => (pid, bid, d) }
            }
          }
        }
      }
    }

    import org.apache.spark.sql.expressions.Window
    triples.toDF(PIdxT, BIdxT, DCol)
      .withColumn("__graft_nrank",
        rank().over(Window.partitionBy(col(PIdxT)).orderBy(col(DCol))))
      .filter(col("__graft_nrank") <= kk)
      .drop("__graft_nrank")
  }

  /** Hash-ranked ~500-envelope sample of a geometry column — the shared
    * estimator input for the unbounded tiers' cell sizing and the
    * bucketed door's plan choice (deterministic: ranked by xxhash64 of
    * geometry bytes + row id, so repeated calls see the same sample). */
  private def sampleEnvs(frame: DataFrame, geomCol: String): Array[Envelope] = {
    val sel = frame.select(col(geomCol)).filter(col(geomCol).isNotNull)
    def ranked(df: DataFrame): Array[Array[Byte]] =
      df.orderBy(xxhash64(col(geomCol), monotonically_increasing_id(), lit(42L)))
        .limit(500).collect().map(_.get(0).asInstanceOf[Array[Byte]])
    // ≥50 sampled rows already give a reliable median/mean — re-running
    // the ranked scan over the FULL frame is only worth a second job
    // when the 20% sample came back nearly empty (tiny frames). A frame
    // whose optimized plan KNOWS it holds under 250 rows (a local
    // relation: a probe list, an ingest batch) expects under 50 sampled
    // rows, so it skips straight to the full scan: the rows the second
    // scan picks, in one ranked scan instead of two (a 200-249-row frame
    // whose sample would have reached 50 now ranks all its rows). That
    // scan ranks every row of the frame, so the ranking is moot: a local
    // frame is read on the driver instead, with no job
    val small = sel.queryExecution.optimizedPlan.stats.rowCount.exists(_ < 250)
    val rows =
      if (small) localGeometries(frame, geomCol).getOrElse(ranked(sel))
      else {
        val sampled = ranked(sel.sample(withReplacement = false, 0.2, 42))
        if (sampled.length >= 50) sampled else ranked(sel)
      }
    rows.iterator.map(b => EWKB.read(b).getEnvelopeInternal)
      .filterNot(_.isNull).toArray
  }

  /** Mean max-extent of the sampled envelopes. */
  private def meanWidthOf(envs: Array[Envelope]): Double =
    envs.iterator.map(e => math.max(e.getWidth, e.getHeight)).sum / envs.length

  /** Median per-probe bound over the sampled envelopes. */
  private def medianBoundOf(envs: Array[Envelope], summary: CellSummary,
      kTarget: Long): Double = {
    val pads = envs.map(summary.boundFor(_, kTarget)).sorted
    pads(pads.length / 2)
  }

  /** The unbounded cogroup tier's auto cell size:
    * `max(4 × mean envelope width, 2 × median per-probe bound)` — the
    * unbounded analog of the bounded tier's `2 × maxDistance` default. */
  private def unboundedAutoCell(envs: Array[Envelope], summary: CellSummary,
      kTarget: Long): Double =
    math.max(math.max(4 * meanWidthOf(envs),
      2 * medianBoundOf(envs, summary, kTarget)), 1e-9)

  /** The `exclusive` escalation loop the unbounded nearest tiers share
    * ([[sjoinNearestUnbounded]] and [[sjoinNearestBucketed]]'s unbounded
    * door): only topologically-equal duplicates can consume a probe's
    * anchor budget (kTarget anchors in range, all equal to the probe,
    * fewer than k eligible matches), and only with `exclusive` — without
    * it the anchor guarantee makes the first pass exact. Probes whose
    * ranked pass resolves fewer than `k` ties-inclusive matches re-run
    * `pass` with a doubled anchor target, terminating no later than the
    * target reaching `totalAnchors` (the bound then covers every build
    * row, so the pass is exact by construction). Each kept slice is
    * checkpointed so the pass cache can be RELEASED per round (no
    * storage leak across repeated joins). Null/empty-geometry probes are
    * excluded up front — they emit no cells and would otherwise pin
    * `pending` non-empty and escalate every round for nothing; the
    * caller reattaches them for the outer hows from its indexed frames.
    *
    * @param pendIdCol the probe-id column name in `probeIdx` (what
    *        `pass` receives); @param outIdCol its name in `pass` output.
    * @param pass (pending probes, anchor target) → ranked candidate rows
    *        (one per surviving pair, probe id in `outIdCol`). */
  private def escalateExclusive(probeIdx: DataFrame, pendIdCol: String,
      outIdCol: String, pGeom: String, k: Int, kTarget0: Long,
      totalAnchors: Long)(pass: (DataFrame, Long) => DataFrame): DataFrame = {
    val spark = probeIdx.sparkSession
    def snap(df: DataFrame): DataFrame =
      if (spark.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
    var kTarget = kTarget0
    var pending = probeIdx.filter(col(pGeom).isNotNull &&
      !graft.functions.st_is_empty(col(pGeom)))
    var parts = List.empty[DataFrame]
    var done = false
    while (!done) {
      val p = pass(pending, kTarget)
        .persist() // read twice below: resolution check + result
      if (kTarget >= totalAnchors) {
        // the bound covered every build row: pass is exact
        parts ::= snap(p)
        done = true
      } else {
        // the resolved-id column gets a FRESH alias: in the bucketed
        // door pendIdCol == outIdCol, and `resolved` derives from
        // `pending` through the pass — joining the two on the same
        // attribute would hit Spark's ambiguous-self-join resolution;
        // the alias mints a new exprId, so both joins below are
        // unambiguous regardless of the caller's column naming
        val RId = "__graft_resid"
        val resolved = p.groupBy(col(outIdCol))
          .agg(count(lit(1)).as("__graft_nc"))
          .filter(col("__graft_nc") >= k)
          .select(col(outIdCol).as(RId))
        val kept = snap(p.join(resolved, p(outIdCol) === resolved(RId),
          "left_semi"))
        val unresolved = snap(pending.join(resolved,
          pending(pendIdCol) === resolved(RId), "left_anti"))
        parts ::= kept
        if (unresolved.isEmpty) done = true
        else {
          pending = unresolved
          kTarget = math.min(totalAnchors,
            math.max(kTarget * 2, kTarget + 1))
        }
      }
      p.unpersist()
    }
    parts.reduce(_ union _)
  }

  /** Run two independent eager materializations CONCURRENTLY (r18,
    * guide §2.6 "overlap independent jobs"): the shuffle-tier joins
    * issue strictly sequential eager driver actions (checkpoint left,
    * checkpoint right, census left, census right) whose jobs each leave
    * most of the pool idle; overlapping each pair saves ~min(t1,t2).
    * Actions on existing frames are thread-safe; FIFO scheduling
    * back-fills the second job into the first job's idle slots. The
    * forked side runs under `blocking` (a Spark job can hold its thread
    * for minutes — the global pool must compensate rather than starve
    * co-resident users). A failure of the caller-thread side cancels the
    * forked side's jobs (a per-call job tag) and waits for it to unwind
    * UP TO A BOUND (120 s) before rethrowing, so callers that unpersist
    * caches in a finally do not see an orphaned job recompute them. A
    * forked side still running past the bound leaves a suppressed note
    * on the rethrown exception. */
  private[graft] def inParallel[A, B](fa: => A, fb: => B): (A, B) = {
    import scala.concurrent.{blocking, Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // Spark's job group / description / scheduler pool are thread-local
    // and a global-pool worker may have been created under a DIFFERENT
    // caller's properties (they are inherited at thread creation, not at
    // task submit) — without re-stamping, the forked job could escape the
    // caller's cancelJobGroup and mis-attribute in the UI (ADVICE r18).
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val PropKeys = Seq("spark.jobGroup.id", "spark.job.description",
      "spark.job.interruptOnCancel", "spark.scheduler.pool")
    val props = PropKeys.map(k => k -> sc.getLocalProperty(k))
    // a per-call tag cancels just the forked side's jobs (the job group
    // is the caller's, shared with its other jobs)
    val tag = s"graft-inParallel-${java.util.UUID.randomUUID()}"
    val fut = Future(blocking {
      // restore the worker thread's own values afterwards — global-pool
      // threads are shared with unrelated code in the embedding app, and
      // a leaked job group would route that code's jobs into this
      // caller's cancelJobGroup (review r19)
      val prior = PropKeys.map(k => k -> sc.getLocalProperty(k))
      props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      sc.addJobTag(tag)
      try fb
      finally {
        sc.removeJobTag(tag)
        prior.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      }
    })
    val a =
      try fa
      catch {
        case t: Throwable =>
          // cancel, then a BOUNDED wait so a hung straggler cannot mask
          // the original exception; the cancel repeats each second, as the
          // forked side may not have submitted its job yet
          val deadline = System.nanoTime() + Duration(120, "s").toNanos
          try {
            while (!fut.isCompleted && System.nanoTime() < deadline) {
              sc.cancelJobsWithTag(tag, "inParallel: the caller side failed")
              try Await.ready(fut, Duration(1, "s"))
              catch { case _: java.util.concurrent.TimeoutException => }
            }
            if (!fut.isCompleted) t.addSuppressed(
              new RuntimeException("inParallel: forked side still running " +
                "120 s after the caller side failed — abandoning the wait"))
          } catch {
            case _: InterruptedException => Thread.currentThread().interrupt()
          }
          throw t
      }
    (a, Await.result(fut, Duration.Inf))
  }

  /** Deterministic row index in a SINGLE pass, fully inside the DataFrame
    * tier: `monotonically_increasing_id()` is exactly the (partition <<
    * 33) | offset scheme, assigned during one eager materialization. The
    * result is CHECKPOINTED, not merely persisted: the two consumers of
    * each side (the cells pass and the outer-join reattach) must see ONE
    * id generation, and a persisted-only frame cannot guarantee that —
    * on executor loss a cached block is recomputed FROM LINEAGE, and over
    * a nondeterministic upstream (sample, unstable shuffle order) the
    * recomputed ids can silently renumber, letting the two branches
    * disagree (the `monotonically_increasing_id` hazard PERF.md
    * documents). Checkpointing cuts the lineage, making recompute
    * impossible: with a RELIABLE checkpoint dir configured
    * (`sc.setCheckpointDir` — set one for long cluster runs) block loss
    * recovers from the checkpoint; otherwise `localCheckpoint` stores on
    * executors and a lost executor fails the job LOUDLY instead of
    * silently joining rows under renumbered ids.
    *
    * COSTS, accepted deliberately (correctness over the r8 cache
    * micro-optimization): (1) consumers read a ROW-based
    * `Scan ExistingRDD` — no columnar pruning on the reattach path
    * (measured ~0.2 s per grid/quadtree bench key at sf0.1); (2) with a
    * reliable dir the checkpoint files outlive the frame unless
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` is set (or
    * the dir has a TTL policy) — long-running apps doing repeated joins
    * should set it. An expensive upstream plan still executes exactly
    * once. */
  private[graft] def withStableIndex(df: DataFrame, name: String): DataFrame = {
    // NOT spread (r18 probe, kept for the record): repartitioning a
    // below-parallelism frame here before the checkpoint looked like a
    // free parallelism win, but the alternated A/B (ProbeJoinAB
    // abProp) read grid 1.33x / quadtree 1.50x / unbounded 1.17x WORSE
    // with it — the tiers' many small downstream passes each schedule
    // partitions× tasks over the checkpoint, and that overhead exceeds
    // the single-task compute they replace at these row counts. At
    // cluster scale inputs already carry >= parallelism partitions and
    // the question is moot.
    val indexed = df.withColumn(name, monotonically_increasing_id())
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      indexed.checkpoint(eager = true)
    else indexed.localCheckpoint(eager = true)
  }

  /** Reattach full rows to the (left-id, right-id) pair table, mirroring
    * the reference's index-join finish (`geolazyframe.py:133-158`). */
  private def assemble(leftIdx: DataFrame, rightIdx: DataFrame, pairs: DataFrame,
      how: String, suffix: String): DataFrame = {
    val leftCols = leftIdx.columns.filterNot(_ == LIdx)
    val rightRenamed = rightIdx.columns.foldLeft(rightIdx) { (df, c) =>
      if (c != RIdx && leftCols.contains(c)) df.withColumnRenamed(c, c + suffix) else df
    }
    val joined = how match {
      case "inner" =>
        leftIdx.join(pairs, LIdx).join(rightRenamed, RIdx)
      case "left" =>
        leftIdx.join(pairs, Seq(LIdx), "left")
          .join(rightRenamed, Seq(RIdx), "left")
      case "right" =>
        leftIdx.join(pairs, Seq(LIdx), "inner")
          .join(rightRenamed, Seq(RIdx), "right")
      case "full" =>
        leftIdx.join(pairs, Seq(LIdx), "full")
          .join(rightRenamed, Seq(RIdx), "full")
    }
    joined.drop(LIdx, RIdx)
  }

  // ------------------------------------------------ bucketed spatial store

  /** Grid-cell column name carried by a bucketed spatial store. */
  val CellCol = "__cell"

  /** Backtick-quote each part of a possibly-db-qualified table name for
    * ALTER TABLE statements — quoting the whole string would turn a
    * qualified name into one dotted identifier. The ONE implementation
    * every store stamper rides (spatial, minhash, simhash). */
  private[graft] def quoteTable(table: String): String =
    table.split('.').map(p => s"`$p`").mkString(".")

  /** Covering grid cells of an EWKB envelope, packed (cx << 32 | cy) —
    * the same scheme [[sjoinPartitioned]] shuffles on. A positive `pad`
    * expands the envelope first (the nearest tier's build-side
    * assignment: any geometry within `pad` planar distance of a probe
    * geometry then shares at least one cell with it — axis separation ≤
    * pad on both axes ⇒ the expanded envelope overlaps the probe's). */
  private[graft] def gridCellsOf(bytes: Array[Byte], cs: Double,
      pad: Double = 0.0): Seq[Long] = {
    if (bytes == null) return Nil
    val e0 = EWKB.read(bytes).getEnvelopeInternal
    if (e0.isNull) return Nil
    val e = if (pad > 0) { val x = new Envelope(e0); x.expandBy(pad); x } else e0
    val (x0, x1) = (math.floor(e.getMinX / cs).toLong, math.floor(e.getMaxX / cs).toLong)
    val (y0, y1) = (math.floor(e.getMinY / cs).toLong, math.floor(e.getMaxY / cs).toLong)
    for (cx <- x0 to x1; cy <- y0 to y1) yield (cx << 32) | (cy & 0xffffffffL)
  }

  /** Persist a frame as a SPATIALLY BUCKETED table: rows are exploded to
    * their covering grid cells ONCE, at write time, then bucketed and
    * sorted by cell. Two stores written with the same `cellSize` and
    * `buckets` join through [[sjoinBucketed]] with ZERO exchanges — the
    * repeated-join answer at 100 TB: the grid tier's per-join shuffle of
    * both sides becomes a one-time write-side cost, and every subsequent
    * join (new predicates, new partners on the same grid) is a bucketed
    * sort-merge join reading co-located files.
    *
    * Cost model: rows duplicate per covering cell (bounded by
    * cellSize ≈ [[autoCellSize]]'s 4× mean envelope), storage is plain
    * parquet in the session catalog. */
  /** Table property carrying the store's grid cell size — written by
    * [[writeSpatialBucketed]], read by the auto-planning rule
    * ([[graft.plans.BucketedSpatialJoinRule]]) to recognize two same-grid
    * stores in a plain `df.join(st_intersects(...))`. */
  val CellSizeProp = "graft.spatial.cellSize"

  /** Table property carrying the store's heavy-cell histogram
    * (`cell:count` CSV of cells with ≥ [[HeavyCellMinRows]] rows, `,+`
    * suffix when truncated; or the `file:` marker pointing at the
    * [[CellHistogramFile]] sidecar when the list outgrows inline
    * metastore limits) — written by [[stampCellHistogram]] (which
    * [[writeSpatialBucketed]] invokes), read by [[sjoinBucketed]]'s
    * hot-cell salting. A skewed cell is a write-time property of the
    * DATA, so the store pays for the measurement once and every join
    * reuses it from the catalog for free. A statistic under the
    * [[graft.StoreStamp]] contract: it reads only while the store holds
    * the files it was measured on. */
  val CellHistogramProp = "graft.spatial.cellHistogram"
  private val HeavyCellMinRows = 256L
  private val HeavyCellCap = 256
  /** Inline histogram payloads stay below conservative metastore
    * PARAM_VALUE limits (Hive's default column is 4000 chars): a
    * metastore that SILENTLY truncates a longer value would store
    * exactly the cut-mid-entry payload the parser rejects (ADVICE r14).
    * Lists that don't fit spill to a [[CellHistogramFile]] sidecar in
    * the store location and the property carries only the `file:`
    * marker — which also lifts the r14 top-[[HeavyCellCap]] limit:
    * dense grids' cells past the inline cut become saltable instead of
    * a warning. */
  private val HistInlineMaxChars = 3500
  private[graft] val CellHistogramFile = "_graft_cell_histogram.csv"
  private[graft] val CellHistogramFileMarker = "file:" + CellHistogramFile
  /** Sidecar histograms keep the heaviest [[SidecarCellCap]] cells — a
    * ~1.6 MB driver-side parse bound. */
  private val SidecarCellCap = 65536
  /** Table property carrying an upper bound on the rows in any one grid
    * cell of the store — the write-time bound that lets a write whose
    * cells provably stay under [[HeavyCellMinRows]] stamp the empty,
    * complete histogram without running the census. Stamped with the
    * histogram, in the same statement: by the census itself (its exact
    * maximum, observed on the census's own job), by an overwrite (its
    * source-row count: a row emits each cell at most once) and by a
    * local append (the prior bound plus the batch's largest per-cell
    * count). A statistic under the [[graft.StoreStamp]] contract, like
    * the histogram; re-running [[stampCellHistogram]] re-measures both. */
  val MaxCellRowsProp = "graft.spatial.maxCellRows"
  /** Table property marking a stamped [[CellSummary]] sidecar (the
    * unbounded nearest door's per-probe bound oracle) — written by
    * [[stampCellSummary]] and by local appends, read by
    * [[sjoinNearestBucketed]] when `maxDistance = ∞`. Payload
    * `<grid>:<nx>:<ny>:<totalAnchors>`: the summary grid it was stamped
    * at and the sidecar header it must match, so a property and a
    * sidecar from different stamps never combine. A statistic under the
    * [[graft.StoreStamp]] contract: a stale summary would be UNSOUND (its
    * coverage filter would skip join cells only newer rows occupy, and
    * its anchors could claim rows an overwrite removed), and it reads
    * only while the store holds the files it was computed on; the
    * unbounded door otherwise computes a summary per call until
    * [[stampCellSummary]] re-stamps. */
  val CellSummaryProp = "graft.spatial.cellSummary"
  private[graft] val CellSummaryFile = "_graft_cell_summary.bin"
  /** Plan-choice threshold for the unbounded bucketed nearest door:
    * when the PREDICTED per-probe store-cell explosion (from a probe
    * sample against the summary) exceeds this, the exchange-free fine
    * plan is abandoned for the cogroup plan at a bound-sized coarse
    * grid — replicating every probe across thousands of store cells
    * costs far more than shuffling the store once (11× measured on the
    * bench lattice, PERF.md r16). 0 forces the coarse plan,
    * Int.MaxValue forces fine. */
  val UnbFineCellCap: Int = 64
  /** Plan-size bound on how many cells one [[sjoinBucketed]] call will
    * salt: the hot/cold row routing uses `isin` over the salted-cell
    * list, and an unbounded In expression stalls driver analysis. The
    * heaviest cells win; past this many 8M-pair cells the grid itself
    * is wrong (larger cellSize), and the join says so. */
  private val MaxSaltedCells = 512

  /** Write-time statistics ride the write instead of rescanning the
    * store, each carried under the [[graft.StoreStamp]] contract:
    *  - the heavy-cell histogram needs a census only when the cell bound
    *    ([[MaxCellRowsProp]]) can reach [[HeavyCellMinRows]]: an
    *    overwrite bounds every cell by its source-row count (observed on
    *    the write's own job), a small local append by the current prior
    *    bound plus the batch's largest per-cell count; under the floor
    *    the empty, complete histogram is stamped with no job;
    *  - an append whose batch is a small local relation ([[localRows]])
    *    and whose every geometry lies inside the stamped summary's frame
    *    adds the batch's anchors and coverage to a CURRENT
    *    [[stampCellSummary]] stamp on the driver and restamps it once
    *    the write lands, so the caller's `stampCellSummary` that follows
    *    is a no-op. After any other write the stamp no longer reads, and
    *    `stampCellSummary` recomputes it.
    *
    * @param geoMetadata stamp the GeoParquet 1.1 `geo` payload into every
    *   part footer (default ON since r9): the stats FOLD INTO the write
    *   itself via `Dataset.observe` — the one write-side scan computes
    *   types/srid/total-bounds as observed metrics, so stamping costs
    *   only the executor-parallel footer rewrite (file names — and so
    *   Spark's bucket-id naming — are preserved). Stores are thereby
    *   externally discoverable by any GeoParquet reader out of the box.
    *   A store that cannot be stamped (mixed SRIDs) logs a warning and
    *   skips the footer rather than failing the already-complete write.
    * @param cellHistogram stamp the heavy-cell histogram
    *   ([[stampCellHistogram]]) after the write (default ON). Turning it
    *   off skips the measurement scan — joins against the store cannot
    *   hot-salt until [[stampCellHistogram]] backfills it. */
  def writeSpatialBucketed(df: DataFrame, table: String, cellSize: Double,
      buckets: Int = 64, geom: String = "geometry",
      mode: String = "overwrite", geoMetadata: Boolean = true,
      cellHistogram: Boolean = true): Unit = {
    require(!df.columns.contains(CellCol),
      s"writeSpatialBucketed: input already has a $CellCol column")
    // DataFrameWriter.mode(String) is case-insensitive — normalize so the
    // grid-consistency and stamp branches below agree with what Spark
    // will actually do for "Overwrite"/"Append"/"Ignore"
    val modeNorm = mode.toLowerCase(java.util.Locale.ROOT)
    val spark0 = df.sparkSession
    val tableId = spark0.sessionState.sqlParser.parseTableIdentifier(table)
    // a non-overwrite onto an existing store must not silently re-grid it:
    // rows already on disk were exploded with the ORIGINAL cellSize/geom —
    // mixing grids would make bucketedMatch disagree with stored cell ids
    // and drop pairs. This applies to append (new rows on the old grid)
    // AND to ignore/error modes (the caller believes the store uses THEIR
    // grid while the on-disk one differs — surface that now rather than at
    // join time). Checked BEFORE any write so a bad call leaves the store
    // intact.
    val prior = StoreStamp.store(spark0, table)
    val existedBefore = prior.isDefined
    prior.filter(_ => modeNorm != "overwrite").foreach { st =>
      st.prop(CellSizeProp).foreach { prev =>
        require(prev.toDouble == cellSize,
          s"writeSpatialBucketed: mode=$mode with cellSize=$cellSize onto a " +
            s"store written with cellSize=$prev — reuse the stamped grid")
      }
      st.prop("graft.spatial.geometry").foreach { prev =>
        require(prev == geom,
          s"writeSpatialBucketed: mode=$mode with geom=$geom onto a store " +
            s"stamped for $prev")
      }
    }
    val cs = cellSize
    // an append reads what it carries forward BEFORE the write: the
    // store's current cell bound and summary stamp, and a small local
    // batch's geometries, from the driver with no job
    val appending = modeNorm == "append" && existedBefore
    val priorBound = prior.filter(_ => appending)
      .flatMap(_.stat(MaxCellRowsProp)).flatMap(_.toLongOption)
    val batch: Option[Array[Array[Byte]]] =
      if (!appending) None
      else localGeometries(df, geom)
    // the batch's largest per-cell row count, the same cells the write
    // explodes to; None when a geometry does not decode (the write's own
    // error then surfaces)
    val batchCellMax: Option[Long] = batch.flatMap { rows =>
      scala.util.Try {
        val counts = scala.collection.mutable.HashMap.empty[Long, Long]
        rows.foreach(b => gridCellsOf(b, cs).foreach(c =>
          counts(c) = counts.getOrElse(c, 0L) + 1))
        counts.valuesIterator.foldLeft(0L)(math.max)
      }.toOption
    }
    // the summary merge: a stamp current for the pre-append files, and
    // every batch geometry inside its frame. A batch with no usable
    // geometry writes no row, so a current stamp stays current as it is
    val merge: Option[(Int, CellSummary, Array[Geometry])] = for {
      rows <- batch
      geoms <- scala.util.Try(rows.map(EWKB.read).filterNot(_.isEmpty)).toOption
      if geoms.nonEmpty
      (grid, sum) <- prior.flatMap(summaryStamp)
      if geoms.forall(g => sum.frame.holds(g.getEnvelopeInternal))
    } yield (grid, sum, geoms)
    // the files the carried statistics describe, listed before the
    // write: none for a write that creates the store
    val before = prior.filter(_ => priorBound.isDefined || merge.isDefined)
      .fold(StoreStamp.Files.none)(_.files)
    val cellsUdf = udf((b: Array[Byte]) => gridCellsOf(b, cs))
    val stamp = geoMetadata && modeNorm == "overwrite"
    // a write that creates the store counts its source rows on the
    // write's own job: n rows bound every cell at n
    val creates = modeNorm == "overwrite" || !existedBefore
    val counted = cellHistogram && creates
    val obs = new org.apache.spark.sql.Observation()
    val observed =
      (if (counted) Seq(count(lit(1)).as("__graft_rows")) else Nil) ++
        (if (stamp) graft.io.GeoIO.geoStatsAggs(geom) else Nil)
    val source =
      if (observed.isEmpty) df else df.observe(obs, observed.head, observed.tail: _*)
    source.withColumn(CellCol, explode(cellsUdf(col(geom))))
      .repartition(buckets, col(CellCol))
      .write.mode(mode)
      .bucketBy(buckets, CellCol).sortBy(CellCol)
      .format("parquet")
      .saveAsTable(table)
    // footer stats describe ONE batch: stamping an append would rewrite
    // every part (old batches included) with the new batch's bbox/types —
    // corrupt metadata for any external reader trusting the footer. The
    // rewrite changes the part files, so it runs before the statistics
    // are stamped for them
    if (geoMetadata && !stamp)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"writeSpatialBucketed: geo stamping skipped for mode=$mode " +
          "(footer stats would describe only the appended batch)")
    if (stamp) {
      val spark = df.sparkSession
      try {
        val m = obs.get
        def seqOf[T](k: String): Seq[T] =
          m(k).asInstanceOf[scala.collection.Seq[T]].toSeq
        def dbl(k: String): Double = m(k) match {
          case d: java.lang.Number => d.doubleValue()
          case other => throw new IllegalStateException(s"no $k stat: $other")
        }
        val json = graft.io.GeoIO.geoMetadataJsonFromStats(
          seqOf[String]("types"), seqOf[Int]("srids"),
          (dbl("xmin"), dbl("ymin"), dbl("xmax"), dbl("ymax")),
          geom, "EWKB", None)
        val loc = spark.sessionState.catalog.getTableMetadata(tableId)
          .location.toString
        graft.io.ParquetFooter.addKeyValueMetadata(spark, loc, Map("geo" -> json))
      } catch {
        case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"writeSpatialBucketed: store $table written but not geo-stamped: ${e.getMessage}")
      }
    }
    // stamp the grid geometry into the catalog so the optimizer rule can
    // auto-plan plain spatial joins between two same-grid stores.
    // Stamp ONLY when data was actually written: mode=ignore over an
    // existing table makes saveAsTable a no-op, and restamping would put
    // THIS call's cellSize/geom on a store whose rows were exploded with
    // the old grid — the consistency check above catches a mismatched
    // grid, but an unstamped legacy store must not gain a fabricated stamp
    // either. (error/errorifexists over an existing table throws in
    // saveAsTable, so this line is only reachable when a write happened
    // or the grids were verified identical — skip the no-op restamp.)
    val wrote = modeNorm == "overwrite" || modeNorm == "append" || !existedBefore
    if (wrote) {
      StoreStamp.set(spark0, table,
        Seq(CellSizeProp -> cellSize.toString, "graft.spatial.geometry" -> geom))
      // the files now on disk, when they are the carried statistics' files
      // plus this write's
      lazy val after = StoreStamp.carry(spark0, table, before)
      // heavy-cell histogram: counts must describe all rows on the grid,
      // not one batch. A write whose cell bound stays under the floor
      // stamps the empty histogram the census would find, with no job;
      // otherwise the shared stamping door re-measures the full table
      // (one cell-column-only scan; bucketed by cell → the groupBy needs
      // no exchange). The stamp is an optimization hint: if it fails
      // (e.g. an unwritable store location for the sidecar), the store —
      // already fully written — must not fail with it (same policy as
      // the geo-footer stamp below); joins degrade to the unsalted plan.
      // With `cellHistogram = false` (or a failed stamp) the histogram
      // stamped before the write no longer reads.
      if (cellHistogram) {
        try {
          val bound =
            if (creates) Some(observedRows(obs, spark0.table(table).count()))
            else for (p <- priorBound; m <- batchCellMax) yield p + m
          (bound, after) match {
            case (Some(n), Some(files)) if n < HeavyCellMinRows =>
              stampHistogram(spark0, table, Array.empty, truncated = false, n, files)
            case _ => stampCellHistogram(spark0, table)
          }
        } catch {
          case scala.util.control.NonFatal(e) =>
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"writeSpatialBucketed: store $table written but its cell " +
                s"histogram was not stamped (hot-cell salting off for joins " +
                s"against it): ${e.getMessage}")
        }
      }
      // a small in-frame append carries the summary forward on the
      // driver when its files are all there (no new file at all means
      // this append's rows are missing); after any other write the stamp
      // no longer reads until stampCellSummary recomputes it
      for ((grid, sum, geoms) <- merge; files <- after
           if files.list.size > before.list.size)
        try writeSummaryStamp(spark0, table, grid, sum.plus(geoms.iterator), files)
        catch {
          case scala.util.control.NonFatal(e) =>
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"writeSpatialBucketed: store $table written but its cell " +
                s"summary was not carried forward (stampCellSummary " +
                s"recomputes it): ${e.getMessage}")
        }
    }
  }

  /** (Re)measure and stamp a store's heavy-cell histogram — the backfill
    * door for stores written before the stamp existed (pre-r14) or with
    * `cellHistogram = false`: pre-r14 stores gain hot-cell salting
    * without a rewrite. One cell-column-only scan (the store is bucketed
    * by cell, so the groupBy needs no exchange); the payload lands
    * either inline in [[CellHistogramProp]] (when it fits under
    * conservative metastore value limits) or, for bigger lists, in a
    * [[CellHistogramFile]] sidecar at the store location with a `file:`
    * marker property — dense grids keep up to [[SidecarCellCap]]
    * saltable cells instead of the inline top-[[HeavyCellCap]]. The
    * stamp is for the files listed before the census (see
    * [[graft.StoreStamp]]), so a write landing during it leaves the stamp
    * unreadable, never stale. Throws on any failure, a stamp that does
    * not round-trip through the catalog included — callers who must not
    * fail (the write path) wrap it in their own degrade-with-warning
    * policy. */
  def stampCellHistogram(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    val df = spark.table(table)
    val store = StoreStamp.store(spark, table).filter(_ => df.columns.contains(CellCol))
    require(store.isDefined,
      s"stampCellHistogram: $table has no $CellCol column — not a " +
        "writeSpatialBucketed store")
    val files = store.get.files
    // the exact largest cell rides the census's own job; if its delivery
    // is lost, the heaviest kept count (or the floor, when none is kept)
    // bounds every cell just as well
    val obs = new org.apache.spark.sql.Observation()
    val (kept, truncated) = heavyCellCensus(df, Some(obs))
    val maxRows = observedRows(obs,
      kept.headOption.fold(HeavyCellMinRows - 1)(_.getLong(1)))
    if (truncated)
      log.warn(s"stampCellHistogram: $table has more than $SidecarCellCap " +
        s"cells with >=$HeavyCellMinRows rows — the histogram keeps the " +
        s"heaviest $SidecarCellCap; joins cannot hot-salt the dropped " +
        "ones. A grid this uniformly dense wants a larger cellSize.")
    stampHistogram(spark, table, kept, truncated, maxRows, files)
  }

  /** Stamp a measured histogram — `kept` (cell, count) rows heaviest
    * first, as [[heavyCellCensus]] returns them — and the cell bound
    * `maxRows` for the data files `files`, in one statement (see
    * [[stampCellHistogram]] for the inline/sidecar split). */
  private def stampHistogram(spark: org.apache.spark.sql.SparkSession,
      table: String, kept: Array[Row], truncated: Boolean,
      maxRows: Long, files: StoreStamp.Files): Unit = {
    def csvOf(rows: Array[Row], trunc: Boolean): String =
      rows.map(row => s"${row.getLong(0)}:${row.getLong(1)}").mkString(",") +
        (if (trunc) ",+" else "")
    val location = StoreStamp.store(spark, table).get.table.location
    val inline = csvOf(kept.take(HeavyCellCap),
      truncated || kept.length > HeavyCellCap)
    val goesInline = kept.length <= HeavyCellCap &&
      inline.length <= HistInlineMaxChars
    val stamps = files.stamp(
      CellHistogramProp -> (if (goesInline) inline else CellHistogramFileMarker),
      MaxCellRowsProp -> maxRows)
    if (!goesInline) {
      val csv = csvOf(kept, truncated)
      StoreStamp.writeSidecar(spark, location, CellHistogramFile, stamps.head._2,
        parseCellHistogram(csv))(
        _.write(csv.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    }
    StoreStamp.set(spark, table, stamps)
    // only AFTER the fresh inline stamp round-tripped may a stale
    // sidecar from a previous file:-marker stamp be removed — deleting
    // it first would leave a dangling marker if the ALTER failed
    // (review r15 #5)
    if (goesInline) StoreStamp.deleteSidecar(spark, location, CellHistogramFile)
  }

  /** One copy per stored row: keep only the exploded copy whose cell
    * owns the row's envelope-min corner — the same floor packing the
    * write-side explosion used ([[gridCellsOf]] always emits that
    * cell), so per-row statistics over a store count each original row
    * exactly once, without requiring an id column. */
  private def storeOwnerRows(store: DataFrame, geom: String,
      cs: Double): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    store.filter(ColumnBridge.column(graft.plans.STOwnsCell(
      ColumnBridge.expression(col(geom)),
      ColumnBridge.expression(col(CellCol)), cs)))
  }

  /** Compute and stamp a store's [[CellSummary]] — the per-probe bound
    * oracle behind `sjoinNearestBucketed(maxDistance = ∞)`. Without a
    * stamp the unbounded door computes the summary per call (two
    * `treeAggregate` passes over the store); stamping pre-pays it once,
    * the bucketed analog of [[stampCellHistogram]]. The summary is
    * computed over the store's DISTINCT rows (each exploded row counted
    * once, at the cell owning its envelope-min corner — identical to a
    * summary of the pre-explosion frame) and lands in a
    * [[CellSummaryFile]] binary sidecar at the store location; the
    * [[CellSummaryProp]] property carries the `grid` asked for and the
    * sidecar's header, stamped for the store's data files listed BEFORE
    * the pass ([[graft.StoreStamp]]: a write landing during it leaves a
    * stamp that does not read, never a stale one). A store with no
    * usable geometry stamps nothing (the unbounded door then has no
    * matches by definition).
    *
    * A stamp already CURRENT — same `grid`, stamped for the files the
    * store holds now — is left as it is, and the call runs no job: a
    * small local append through [[writeSpatialBucketed]] carries the
    * summary forward itself, so re-stamping after every append only
    * costs a pass when the append could not. */
  def stampCellSummary(spark: org.apache.spark.sql.SparkSession,
      table: String, grid: Int = CellSummary.DefaultGrid): Unit = {
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    val df = spark.table(table)
    val store = StoreStamp.store(spark, table).filter(_ => df.columns.contains(CellCol))
    require(store.isDefined,
      s"stampCellSummary: $table has no $CellCol column — not a " +
        "writeSpatialBucketed store")
    val st = store.get
    val cs = st.prop(CellSizeProp).flatMap(_.toDoubleOption)
      .getOrElse(throw new IllegalArgumentException(
        s"stampCellSummary: $table has no readable $CellSizeProp stamp — " +
          "the per-row dedup needs the store's grid; rewrite with " +
          "writeSpatialBucketed or set the property"))
    val geom = st.prop("graft.spatial.geometry").getOrElse("geometry")
    require(df.columns.contains(geom),
      s"stampCellSummary: $table has no '$geom' geometry column")
    if (summaryStamp(st).exists(_._1 == grid)) return
    val files = st.files
    CellSummary.compute(storeOwnerRows(df, geom, cs), geom, grid) match {
      case None =>
        log.info(s"stampCellSummary: $table has no usable geometry — " +
          "nothing stamped (unbounded nearest joins against it have no " +
          "matches by definition)")
      case Some(sum) =>
        writeSummaryStamp(spark, table, grid, sum, files)
    }
  }

  /** Write `sum` as the store's summary stamp for data files `files`:
    * the sidecar first, then the property. A crash between the two
    * writes leaves a sidecar whose header the old property does not
    * match — unreadable, never mixed. */
  private def writeSummaryStamp(spark: org.apache.spark.sql.SparkSession,
      table: String, grid: Int, sum: CellSummary, files: StoreStamp.Files): Unit = {
    val stamp = files.stamp(CellSummaryProp -> s"$grid:${sum.nx}:${sum.ny}:${sum.totalAnchors}")
    StoreStamp.writeSidecar(spark, StoreStamp.store(spark, table).get.table.location,
        CellSummaryFile, stamp.head._2, sum) { out =>
      val data = new java.io.DataOutputStream(new java.io.BufferedOutputStream(out))
      CellSummary.writeTo(sum, data)
      data.flush()
    }
    StoreStamp.set(spark, table, stamp)
  }

  /** The store's current [[stampCellSummary]] stamp: its grid and
    * summary. None — the unbounded door then computes a fresh summary
    * for the call, a correctness-neutral slow path — when the stamp is
    * absent or not current ([[graft.StoreStamp]]), or its sidecar does
    * not parse or match the property's header; those last two warn. */
  private def summaryStamp(store: StoreStamp.Store): Option[(Int, CellSummary)] = {
    def unreadable(why: String) = {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"readCellSummary: ${store.table.identifier.unquotedString} $why — " +
          "ignoring it; re-run stampCellSummary")
      None
    }
    try store.stat(CellSummaryProp).flatMap(_.split(':') match {
      case Array(grid, nx, ny, total) =>
        val sum = store.sidecar(CellSummaryProp, CellSummaryFile)((in, _) =>
          CellSummary.readFrom(new java.io.DataInputStream(new java.io.BufferedInputStream(in))))
        if (sum.nx == nx.toInt && sum.ny == ny.toInt && sum.totalAnchors == total.toLong)
          Some((grid.toInt, sum))
        else unreadable("has a summary sidecar that does not match its stamp")
      case _ => unreadable(s"carries an unreadable $CellSummaryProp")
    }) catch {
      case scala.util.control.NonFatal(e) => unreadable(s"summary stamp (${e.getMessage})")
    }
  }

  private[graft] def readCellSummary(spark: org.apache.spark.sql.SparkSession,
      table: String): Option[CellSummary] =
    scala.util.Try(StoreStamp.store(spark, table)).toOption.flatten
      .flatMap(summaryStamp).map(_._2)

  /** Bbox read of a [[writeSpatialBucketed]] store: the query box's
    * covering cells become an IN filter on the bucket column, which
    * Spark's bucket pruning turns into reading ONLY the matching buckets
    * (`SelectedBucketsCount` < total in the scan). Copies of a row that
    * straddles several cells are deduped by the bottom-left-of-
    * intersection rule, and the exact envelope test refines the cell
    * coarseness — output is one row per stored geometry whose envelope
    * intersects the box. */
  def readSpatialBucketed(spark: org.apache.spark.sql.SparkSession,
      table: String, cellSize: Double,
      bbox: (Double, Double, Double, Double),
      geom: String = "geometry"): DataFrame = {
    val (x0, y0, x1, y1) = bbox
    val cs = cellSize
    // guard BEFORE materializing: a huge bbox over a tiny grid would build
    // the whole cross-range on the driver just to be rejected
    val (cx0, cx1) = (math.floor(x0 / cs).toLong, math.floor(x1 / cs).toLong)
    val (cy0, cy1) = (math.floor(y0 / cs).toLong, math.floor(y1 / cs).toLong)
    val (nx, ny) = (cx1 - cx0 + 1, cy1 - cy0 + 1)
    // per-dimension caps first so nx*ny cannot overflow Long
    require(nx >= 1 && ny >= 1 && nx <= 65536 && ny <= 65536 && nx * ny <= 65536,
      s"readSpatialBucketed: bbox covers ${nx}x$ny cells — widen the " +
        "grid or read the table directly for near-full scans")
    val cells: Seq[java.lang.Long] =
      for {
        cx <- cx0 to cx1
        cy <- cy0 to cy1
      } yield java.lang.Long.valueOf((cx << 32) | (cy & 0xffffffffL))
    val refUdf = udf((b: Array[Byte], cell: Long) => {
      if (b == null) false
      else {
        val e = EWKB.read(b).getEnvelopeInternal
        !e.isNull &&
          !(e.getMinX > x1 || e.getMaxX < x0 || e.getMinY > y1 || e.getMaxY < y0) && {
            val ix = math.max(e.getMinX, x0)
            val iy = math.max(e.getMinY, y0)
            graft.plans.GeoNative.ownsCorner(ix, iy, cell, cs)
          }
      }
    })
    val df = spark.table(table)
      .filter(col(CellCol).isin(cells: _*))
      .filter(refUdf(col(geom), col(CellCol)))
      .drop(CellCol)
    // The planner auto-disables bucketed scans for plain filters (no
    // join/agg needs the bucket partitioning), which also forfeits
    // bucket PRUNING — force it on while THIS frame plans (the physical
    // plan is resolved once and cached on the Dataset). The override is
    // THREAD-LOCAL (a cloned SQLConf installed for just this resolution,
    // the same mechanism AQE re-planning uses), so concurrent query
    // planning in the same session never loses its own auto-bucketed
    // scans — VERDICT r8 #3 against the previous session-wide toggle.
    // Frames DERIVED from the result re-plan later with the session
    // default and fall back to the pushed IN filter over the cell-SORTED
    // files — parquet row-group stats then prune to the same IO class,
    // just at row-group rather than file granularity.
    val scoped = spark.sessionState.conf.clone()
    scoped.setConfString("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    org.apache.spark.sql.internal.SQLConf.withExistingConf(scoped) {
      df.queryExecution.executedPlan
    }
    df
  }

  /** A parsed [[CellHistogramProp]]: kept heavy-cell counts plus whether
    * the write truncated the list (a truncated histogram's ABSENT cells
    * may still be arbitrarily heavy, bounded only by its smallest kept
    * count — the complete one bounds them below [[HeavyCellMinRows]]). */
  private[graft] final case class CellHist(cells: Map[Long, Long], truncated: Boolean) {
    /** Upper bound on any cell NOT in `cells` (truncation implies a
      * non-empty list — the parser rejects the writer-impossible
      * truncated-but-empty payload). */
    def absentBound: Long =
      if (truncated) cells.values.min else HeavyCellMinRows - 1
  }

  /** `ln · rn ≥ bound`, computed as `ln ≥ ceil(bound/rn)` so 100 TB-scale
    * counts can neither overflow a product nor the ceiling addition. */
  private[graft] def pastPairBound(ln: Long, rn: Long, bound: Long): Boolean =
    rn > 0 && ln >= (math.max(1L, bound) - 1) / rn + 1

  /** Parse a [[CellHistogramProp]] payload (shared with the auto-planning
    * rule's hot-cell warning). */
  private[graft] def parseCellHistogram(raw: String): CellHist = {
    val truncated = raw.endsWith(",+")
    val body = if (truncated) raw.dropRight(2) else raw
    // the writer never emits a truncated-but-empty list; throwing here
    // routes the corruption through heavyCellsOf's LOGGED degradation
    // instead of silently reading a dense store as "nothing heavy"
    require(!(truncated && body.isEmpty),
      s"corrupt cell histogram payload: '$raw'")
    CellHist(
      if (body.isEmpty) Map.empty[Long, Long]
      else body.split(',').map { e =>
        val i = e.indexOf(':')
        e.take(i).toLong -> e.drop(i + 1).toLong
      }.toMap,
      truncated)
  }

  /** Default [[sjoinBucketed]] hot-cell pair bound (also the
    * auto-planning rule's warning threshold). */
  val DefaultHotPairsBound: Long = 8000000L

  /** A candidate hot cell's per-side counts; `lnExact`/`rnExact` say
    * whether the count came from the histogram (exact) or is the absent
    * upper bound (an ESTIMATE the join must replace with a real count
    * before sizing salt groups). */
  private[graft] final case class HotCand(ln: Long, rn: Long,
      lnExact: Boolean, rnExact: Boolean)

  /** CANDIDATE hot cells under the sjoinBucketed criterion. A cell in
    * one stamped histogram but absent from the other is NOT below
    * suspicion: the absent side holds up to [[CellHist.absentBound]]
    * rows there (floor−1 for a complete histogram, the smallest kept
    * count for a truncated one), and a 10M-row cell against 200 rows is
    * still a 2B-pair straggler. Estimated sides are flagged — candidacy
    * from an upper bound is safe (recall), but SIZING from one is not
    * (a one-sided cell would replicate the huge side for zero pairs),
    * so the join recounts flagged cells exactly before salting. */
  private[graft] def hotCellsIn(lh: CellHist, rh: CellHist,
      bound: Long): Map[Long, HotCand] = {
    val fromLeft = lh.cells.iterator.flatMap { case (c, ln) =>
      val (rn, rnExact) = rh.cells.get(c)
        .map((_, true)).getOrElse((rh.absentBound, false))
      if (pastPairBound(ln, rn, bound))
        Some(c -> HotCand(ln, rn, lnExact = true, rnExact))
      else None
    }
    val fromRightOnly = rh.cells.iterator.flatMap { case (c, rn) =>
      if (!lh.cells.contains(c) && pastPairBound(lh.absentBound, rn, bound))
        Some(c -> HotCand(lh.absentBound, rn, lnExact = false, rnExact = true))
      else None
    }
    (fromLeft ++ fromRightOnly).toMap
  }

  /** The current [[CellHistogramProp]] of `store` ([[graft.StoreStamp]]):
    * the inline CSV, or the sidecar's when the value is the `file:`
    * marker [[stampCellHistogram]] writes for lists that outgrow
    * metastore value limits — parsed once per stamp, so the
    * auto-planning rule, which resolves histograms at PLAN time, opens no
    * file per query. The size guard keeps a corrupt marker from
    * ballooning a driver read. Guarded for optimizer-rule use: a corrupt
    * payload or an unreadable sidecar degrades to None with a warning,
    * never a throw — the rule calls this for a plan-time WARNING, and a
    * diagnostic that fails every query over the store is a regression
    * (ADVICE r14). */
  private[graft] def histogramOf(store: StoreStamp.Store): Option[CellHist] =
    try store.stat(CellHistogramProp).map { raw =>
      if (raw != CellHistogramFileMarker) parseCellHistogram(raw)
      else store.sidecar(CellHistogramProp, CellHistogramFile) { (in, len) =>
        require(len > 0 && len <= (16L << 20),
          s"cell histogram sidecar is $len bytes — not a stamped histogram")
        val buf = new Array[Byte](len.toInt)
        new java.io.DataInputStream(in).readFully(buf)
        parseCellHistogram(new String(buf, java.nio.charset.StandardCharsets.UTF_8).trim)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"unreadable cell histogram on ${store.table.identifier} — hot-cell " +
            s"salting (and the plan-time hot-cell warning) unavailable: " +
            s"${e.getMessage}")
        None
    }

  /** The store's heavy-cell histogram, if stamped and current. A name
    * the session catalog cannot describe (temp view over a store,
    * catalog-qualified spelling) degrades to None — the unsalted plan,
    * exactly the pre-histogram behavior; anything else non-fatal (a
    * transient metastore failure) ALSO degrades but logs what was
    * swallowed — a silently-unsalted 2B-pair join must leave a
    * diagnostic. */
  private def heavyCellsOf(spark: org.apache.spark.sql.SparkSession,
      table: String): Option[CellHist] =
    try StoreStamp.store(spark, table).flatMap(histogramOf)
    catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"sjoinBucketed: could not read the cell histogram of $table — " +
            s"hot-cell salting is OFF for this join: ${e.getMessage}")
        None
    }

  /** Inner spatial join between two [[writeSpatialBucketed]] stores
    * written on the SAME grid: an equi-join on the cell column (bucketed
    * sort-merge — no exchange on either side), refined by the
    * reference-point rule (one output pair per geometry pair, no
    * distinct) and the actual predicate. `cellSize` must be the value
    * both stores were written with.
    *
    * Hot-cell salting (r14): a cell whose `leftRows × rightRows` (from
    * the stores' stamped histograms) reaches `hotPairsBound` is routed
    * through a 2-D salted sub-join instead — each side split by a
    * row-id salt into (p, q) groups and replicated across the OTHER
    * side's groups, joined on (cell, lsalt, rsalt), unioned with the
    * exchange-free plan over the cold cells. `q` restores parse-cache
    * reach (`ceil(rightRows / saltSliceRows)` — the SMJ-buffered right
    * slice is what the per-pair inner loop cycles); `p` restores
    * parallelism (per-task pairs = pairs/(p·q) ≤ hotPairsBound/4), each
    * capped at `maxSalt`, so left-heavy, right-heavy and both-heavy
    * skew all bound per-task work. Row-id salts (not geometry hashes):
    * a hot cell of one repeated geometry must still spread. This bounds
    * BOTH failure modes of a skewed cell at 100 TB: the single-task
    * straggler and EWKB parse thrash (a beyond-slots cycle re-parses
    * nearly every pair — measured in ProbeBucketHot/PERF.md). Only
    * hot-cell rows shuffle (row counts grow by the other side's salt
    * count — replication cost ln·q + rn·p, trivial next to pairs);
    * cold cells keep the zero-exchange plan. Stores written before the
    * histogram stamp (or with `saltHotCells = false`) keep exactly the
    * old plan. */
  def sjoinBucketed(spark: org.apache.spark.sql.SparkSession,
      leftTable: String, rightTable: String,
      cellSize: Double, predicate: String = "intersects",
      leftGeom: String = "geometry", rightGeom: String = "geometry",
      suffix: String = "_right", refineViaUdf: Boolean = false,
      saltHotCells: Boolean = true,
      hotPairsBound: Long = DefaultHotPairsBound,
      saltSliceRows: Int = 1024, maxSalt: Int = 64): DataFrame = {
    verifyStoreCellSize(spark, leftTable, cellSize, "sjoinBucketed")
    verifyStoreCellSize(spark, rightTable, cellSize, "sjoinBucketed")
    val l = spark.table(leftTable)
    val leftCols = l.columns.filterNot(_ == CellCol).toSeq
    val r = renameClashes(spark.table(rightTable), leftCols, suffix)
    val rg = if (leftCols.contains(rightGeom)) rightGeom + suffix else rightGeom
    val cs = cellSize
    val predName = predicate
    // refineViaUdf pins the pre-r10 ScalaUDF refinement as a bench twin
    // (geo_sjoin_bucketed_udf) quantifying the native expression's win;
    // production callers take the codegen'd STBucketedMatch.
    val refine: org.apache.spark.sql.Column =
      if (refineViaUdf) {
        val matchUdf = udf((lb: Array[Byte], rb: Array[Byte], cell: Long) =>
          bucketedMatch(lb, rb, cell, cs, predName))
        matchUdf(col(leftGeom), col(rg), col(CellCol))
      } else org.apache.spark.sql.graft.ColumnBridge.column(
        graft.plans.STBucketedMatch(
          org.apache.spark.sql.graft.ColumnBridge.expression(col(leftGeom)),
          org.apache.spark.sql.graft.ColumnBridge.expression(col(rg)),
          org.apache.spark.sql.graft.ColumnBridge.expression(col(CellCol)),
          cs, graft.plans.GeoNative.predCode(predName)))
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    val hotAll: Map[Long, (Long, Long)] = if (!saltHotCells) Map.empty else {
      (heavyCellsOf(spark, leftTable), heavyCellsOf(spark, rightTable)) match {
        case (Some(lh), Some(rh)) =>
          // detection recall is bounded by the histograms: a cell absent
          // from both maps can still be heavy when EITHER list was
          // truncated (a 100k-row cell dropped from one top-256 against
          // 200 below-floor rows is 20M pairs) — when the two absent
          // bounds alone multiply past the pair bound, the unsalted plan
          // may carry an invisible straggler; say so
          if ((lh.truncated || rh.truncated) &&
              pastPairBound(lh.absentBound, rh.absentBound, hotPairsBound))
            log.warn(s"sjoinBucketed($leftTable, $rightTable): a truncated " +
              "cell histogram's dropped cells can combine past the " +
              "hot-pair bound — cells outside the stamped top " +
              s"$HeavyCellCap cannot be salted. A grid this dense wants " +
              "a larger cellSize.")
          val cand = hotCellsIn(lh, rh, hotPairsBound)
          val needL = cand.exists { case (_, h) => !h.lnExact }
          val needR = cand.exists { case (_, h) => !h.rnExact }
          if (!needL && !needR) cand.map { case (c, h) => c -> (h.ln, h.rn) }
          else {
            // estimate-flagged candidates: candidacy from an upper bound
            // is safe, SIZING from one is not (a one-sided heavy cell
            // would replicate millions of rows for zero pairs). One
            // bucket-pruned count per ESTIMATED side, restricted to the
            // cells that need it, replaces estimates with real counts,
            // then the bound re-applies.
            val (lx, rx) = inParallel(
              if (needL) exactCellCounts(spark.table(leftTable),
                cand.collect { case (c, h) if !h.lnExact => c }) else Map.empty[Long, Long],
              if (needR) exactCellCounts(spark.table(rightTable),
                cand.collect { case (c, h) if !h.rnExact => c }) else Map.empty[Long, Long])
            cand.flatMap { case (c, h) =>
              val ln = if (h.lnExact) h.ln else lx.getOrElse(c, 0L)
              val rn = if (h.rnExact) h.rn else rx.getOrElse(c, 0L)
              if (pastPairBound(ln, rn, hotPairsBound)) Some(c -> (ln, rn)) else None
            }
          }
        case (lh, rh) =>
          // one side has no readable histogram (pre-r14 store, temp
          // view, unreadable metadata): mitigation is blind. If the
          // stamped side alone shows a monster cell, say so loudly.
          val loudest = lh.orElse(rh)
            .map(h => h.cells.values.foldLeft(0L)(math.max)).getOrElse(0L)
          if (pastPairBound(loudest, HeavyCellMinRows, hotPairsBound))
            log.warn(s"sjoinBucketed($leftTable, $rightTable): a stamped " +
              s"side has a $loudest-row cell but the other input has no " +
              "readable cell histogram (pre-r14 store, temp view, or " +
              "unreadable metadata) — hot-cell salting is OFF for this " +
              "join; re-write the store to enable it")
          Map.empty
      }
    }
    routedCellJoin(spark, l, r, hotAll, hotPairsBound, saltSliceRows, maxSalt,
      s"sjoinBucketed($leftTable, $rightTable)")
      .filter(refine).drop(CellCol)
  }

  /** The cell equi-join with hot cells routed through the 2-D
    * row-id-salted sub-join — the routing core shared by [[sjoinBucketed]]
    * and [[sjoinNearestBucketed]]. Returns `l ⋈ r` on [[CellCol]] (kept in
    * the output); the caller applies its per-pair refinement — Catalyst
    * pushes the filter through the union into both branches — and drops
    * the cell column. `hotAll` maps cell → (leftRows, rightRows), EXACT
    * counts only (sizing from an estimate replicates a huge side for
    * zero pairs — candidacy/sizing split, r14); the heaviest
    * [[MaxSaltedCells]] are salted (the routing is isin over the salted
    * list — a plan-size bound). */
  private def routedCellJoin(spark: org.apache.spark.sql.SparkSession,
      l: DataFrame, r: DataFrame, hotAll: Map[Long, (Long, Long)],
      hotPairsBound: Long, saltSliceRows: Int, maxSalt: Int,
      logCtx: String): DataFrame = {
    val cold0 = l.join(r, CellCol)
    if (hotAll.isEmpty) cold0
    else {
      val log = org.slf4j.LoggerFactory.getLogger(getClass)
      val hot: Map[Long, (Long, Long)] =
        if (hotAll.size <= MaxSaltedCells) hotAll
        else {
          log.warn(
            s"$logCtx: ${hotAll.size} cells reach $hotPairsBound pairs — " +
              s"salting only the heaviest $MaxSaltedCells (plan-size " +
              "bound); a grid with this many hot cells wants a larger " +
              "cellSize")
          hotAll.toSeq
            .sortBy { case (c, (ln, rn)) => (-(ln.toDouble * rn), c) }
            .take(MaxSaltedCells).toMap
        }
      log.info(s"$logCtx: salting ${hot.size} hot cell(s) past " +
        s"$hotPairsBound pairs")
      val hotKeys = hot.keys.toSeq.map(java.lang.Long.valueOf)
      // per cell: q restores the buffered side's cache reach, p restores
      // parallelism against the pair product (per-task pairs ≤ bound/4)
      val pairsPerTask = math.max(1L, hotPairsBound / 4)
      val saltOf: Map[Long, (Int, Int)] = hot.map { case (c, (ln, rn)) =>
        val q = math.min(maxSalt.toLong,
          math.max(1L, (rn + saltSliceRows - 1) / saltSliceRows))
        // ceil(ln / (q*ppt / rn)) without ln*rn overflow: pairs/(q*ppt) =
        // ln / (q*ppt/rn) — compute the per-lsalt left-row budget first
        val lBudget = math.max(1L, q * pairsPerTask / math.max(1L, rn))
        val p = math.min(maxSalt.toLong, math.max(1L, (ln + lBudget - 1) / lBudget))
        c -> (p.toInt, q.toInt)
      }
      val saltDf = broadcast(spark.createDataFrame(
        saltOf.toSeq.map { case (c, (p, q)) => (c, p, q) })
        .toDF(CellCol, "__p", "__q"))
      // EXPLICIT partition count on the salt keys: a hot cell's shuffled
      // bytes are tiny relative to its pair count (33M pair evaluations
      // fit in a few MB of EWKB), so AQE's size-based coalescing would
      // fold the salt groups back into one task — exactly the straggler
      // the salt breaks up. A user-specified keyed repartition is exempt
      // from coalescing; 4x over-partitioning keeps hash collisions from
      // re-fusing salt groups.
      val totalSalt = saltOf.values.foldLeft(0L) { case (a, (p, q)) => a + p.toLong * q }
      val saltParts = math.min(8192L, math.max(16L, totalSalt * 4)).toInt
      // row-id salts, NOT geometry hashes: a hot cell made of one
      // repeated geometry value must still spread across groups. The id
      // is assigned in a Project over a deterministic scan, so stage
      // retries re-derive the same assignment. ONE helper builds both
      // sides — the blocks must stay exactly symmetric (each side mods
      // its OWN salt, explodes the OTHER's) for every pair to meet at
      // exactly one (cell, lsalt, rsalt) key.
      val lSalt = "__lsalt"; val rSalt = "__rsalt"
      def saltSide(df: DataFrame, ownSalt: String, ownN: String,
          otherSalt: String, otherN: String): DataFrame =
        df.filter(col(CellCol).isin(hotKeys: _*))
          .join(saltDf, CellCol)
          .withColumn(ownSalt,
            pmod(monotonically_increasing_id(), col(ownN).cast("long")).cast("int"))
          .withColumn(otherSalt, explode(sequence(lit(0), col(otherN) - 1)))
          .drop("__p", "__q")
          .repartition(saltParts, col(CellCol), col(lSalt), col(rSalt))
      val lHot = saltSide(l, lSalt, "__p", rSalt, "__q")
      val rHot = saltSide(r, rSalt, "__q", lSalt, "__p")
      // the merge hint pins the salted sub-join's shape: SMJ buffers the
      // RIGHT group, so the per-pair inner loop cycles one ~saltSliceRows
      // slice (inside parse-cache reach) while each streamed left row's
      // bytes hit the same cache slot consecutively. A broadcast-hash
      // plan would invert the loop — every probe-side row iterating the
      // FULL replicated left build — and re-create the thrash the salt
      // exists to break (measured in ProbeBucketHot, PERF.md r14).
      val salted = lHot.hint("merge").join(rHot, Seq(CellCol, lSalt, rSalt))
        .drop(lSalt, rSalt)
      cold0.filter(!col(CellCol).isin(hotKeys: _*))
        .unionByName(salted)
    }
  }

  /** Exact per-cell row counts of `df` (any frame carrying [[CellCol]])
    * restricted to `forCells`. Small candidate sets keep the isin form —
    * over a bucketed store it reaches Spark's bucket pruning, so the
    * recount reads ONLY the matching bucket files. A sidecar-sized
    * histogram can flag thousands of candidates, where the In expression
    * itself stalls driver analysis: past the cut, fall back to a
    * broadcast set + typed filter (full scan of the projected cell
    * column — scan cost beats a 10^4-child In). The key column is
    * projected before the typed filter so no geometry blob deserializes
    * just to read a cell id. */
  private def exactCellCounts(df: DataFrame, forCells: Iterable[Long]): Map[Long, Long] = {
    val keys = forCells.toSeq
    if (keys.isEmpty) Map.empty
    else if (keys.lengthCompare(256) <= 0)
      df.filter(col(CellCol).isin(keys.map(java.lang.Long.valueOf): _*))
        .groupBy(col(CellCol)).count().collect()
        .map(row => row.getLong(0) -> row.getLong(1)).toMap
    else {
      val bcKeys = df.sparkSession.sparkContext.broadcast(keys.toSet)
      df.select(col(CellCol))
        .as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .filter(c => bcKeys.value.contains(c))
        .groupByKey(identity)(org.apache.spark.sql.Encoders.scalaLong)
        .count().collect().toMap
    }
  }

  /** Heavy-cell census over any frame carrying [[CellCol]]: exact counts
    * of every cell holding ≥ [[HeavyCellMinRows]] rows, heaviest
    * [[SidecarCellCap]] kept (`truncated` when more exist). The ONE
    * producer of the floor/cap/ordering triple [[CellHist.absentBound]]
    * relies on — [[stampCellHistogram]] (store stamps) and
    * [[probeCellHist]] (join-time probe census) both ride it, so the two
    * can never desynchronize. With `largest`, the census also reports
    * the exact row count of its heaviest cell — kept or not — through
    * that `Observation`, on the same job. */
  private def heavyCellCensus(df: DataFrame,
      largest: Option[org.apache.spark.sql.Observation] = None): (Array[Row], Boolean) = {
    val counts = df.groupBy(col(CellCol)).count()
    val rows = largest.fold(counts)(o =>
        counts.observe(o, coalesce(max(col("count")), lit(0L))))
      .filter(col("count") >= HeavyCellMinRows)
      .orderBy(col("count").desc, col(CellCol))
      .limit(SidecarCellCap + 1).collect()
    (rows.take(SidecarCellCap), rows.length > SidecarCellCap)
  }

  /** One-pass heavy-cell census of an exploded probe frame — the probe
    * side's stand-in for a store's stamped histogram. */
  private[graft] def probeCellHist(probeCells: DataFrame): CellHist = {
    val (rows, truncated) = heavyCellCensus(probeCells)
    CellHist(rows.map(r => r.getLong(0) -> r.getLong(1)).toMap, truncated)
  }

  /** A probe frame's heavy-cell census, computed ONCE and reusable across
    * joins — [[stampCellHistogram]]'s analog for a FRAME. The grid
    * parameters ride along so a consumer can refuse a census computed on
    * a different grid (mixed grids would salt the wrong cells). */
  final case class ProbeCensus(cellSize: Double, pad: Double,
      private[graft] val hist: CellHist)

  /** Census a probe frame for [[sjoinNearestBucketed]]'s `probeCensus`
    * door: a probe joined repeatedly against the same store re-pays the
    * ~0.6 s join-time census on every call (ProbeNearestHot, PERF.md
    * r15) — computing it once here and passing it in skips that while
    * keeping the salting decisions identical (the census is a pure
    * function of the probe geometries and the grid, so this explosion
    * and the join's produce the same counts).
    *
    * `cellSize` must be the store's grid; `pad` must equal the join's
    * `maxDistance` (the probe explodes to its PADDED cells — a census
    * without the pad undercounts boundary cells). Both are re-checked at
    * join time. */
  def censusProbe(probe: DataFrame, probeGeom: String, cellSize: Double,
      pad: Double): ProbeCensus = {
    require(cellSize > 0, s"censusProbe: cellSize must be positive, got $cellSize")
    require(!pad.isNaN && !pad.isInfinite && pad >= 0,
      s"censusProbe: pad must be finite and non-negative, got $pad")
    val cs = cellSize; val p = pad
    val cellsUdf = udf((b: Array[Byte]) => gridCellsOf(b, cs, pad = p))
    val cells = probe.select(explode(cellsUdf(col(probeGeom))).as(CellCol))
    ProbeCensus(cellSize, pad, probeCellHist(cells))
  }

  /** Join-time grid check: when the store's stamped [[CellSizeProp]] is
    * readable, a mismatched caller `cellSize` ERRORS — mixed grids make
    * the cell equi-join and the ownership arithmetic silently drop pairs
    * (the write-side check at append time can't catch a wrong join-time
    * argument). Temp views and stores without the stamp skip the check
    * (same degradation policy as [[heavyCellsOf]]). */
  private def verifyStoreCellSize(spark: org.apache.spark.sql.SparkSession,
      table: String, cellSize: Double, ctx: String): Unit = {
    val stamped: Option[Double] =
      try {
        val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
        spark.sessionState.catalog.getTableMetadata(id)
          .properties.get(CellSizeProp).flatMap(v =>
            scala.util.Try(v.toDouble).toOption)
      } catch { case scala.util.control.NonFatal(_) => None }
    stamped.foreach { prev =>
      require(prev == cellSize,
        s"$ctx: cellSize $cellSize does not match the grid $table was " +
          s"written with ($prev) — a mixed-grid join silently drops " +
          "pairs; pass the store's own cellSize")
    }
  }

  /** k-nearest join of a probe frame against a [[writeSpatialBucketed]]
    * store — [[sjoinNearestPartitioned]]'s exchange-free sibling: the
    * STORE side never shuffles (its rows are already exploded to cells,
    * bucketed and sorted), only the probe side does, to the cells
    * covering each probe envelope expanded by `maxDistance` (padding the
    * PROBE side is equivalent to the partitioned tier's build-side
    * padding — either way an in-range pair shares a cell; the store's
    * cells were stamped unpadded at write time, so the pad must ride the
    * probe). Per pair, the codegen'd [[graft.plans.STNearestMatch]]
    * evaluates envelope reject → ownership corner (expanded-probe ∩
    * build envelope — exactly-once across cells) → distance → the
    * `exclusive` rule in one whole-stage-codegen'd expression; one
    * rank() window over the probe id finishes the ties-inclusive global
    * top-k (`rank() <= k` — every build row at the kth distance kept).
    *
    * Hot cells route through the same 2-D salted sub-join as
    * [[sjoinBucketed]]: the store side's counts come from its stamped
    * histogram (estimates recounted bucket-pruned before sizing), the
    * probe side's from a one-pass census of the exploded frame (exact
    * by construction). A store with no readable histogram warns and
    * keeps the unsalted plan, like the predicate door. Pricing
    * (ProbeNearestHot, PERF.md r15): the census is ~0.6 s per call and
    * the salt's premium on a CHEAP-kernel (point) cell near the bound
    * is ~1.5 s, while the unsalted downside grows without bound with
    * cell density — point-heavy callers who know their cells are cheap
    * can pass `saltHotCells = false`, which skips both. A probe frame
    * joined REPEATEDLY can instead pre-compute its census once with
    * [[censusProbe]] and pass it via `probeCensus` — salting decisions
    * stay identical (same counts, same machinery) and the per-call
    * census job disappears (ProbeNearestCensus, PERF.md r16).
    *
    * `maxDistance = Double.PositiveInfinity` opens the UNBOUNDED door
    * (the geopandas no-bound contract against a store): a per-probe
    * search bound is discovered from the store's [[CellSummary]] —
    * read from the [[stampCellSummary]] sidecar when stamped, else
    * computed for the call over the store's owner-deduped rows — and
    * the door picks between TWO plans from a probe sample
    * ([[UnbFineCellCap]] predicted store-cells-per-probe): the FINE
    * exchange-free plan (bound rides each probe's coverage-filtered
    * cell explosion; per-pair kernel is the codegen'd
    * [[graft.plans.STNearestMatchBound]], reading the bound from the
    * probe row; store never shuffles) when bounds are cell-scale, or
    * the COARSE cogroup plan at a bound-sized grid (store owner rows
    * shuffle ONCE; the stamped summary is still reused, so the stamp's
    * win survives) when bounds span many store cells — the summary's
    * ≈extent/512 granularity floors the bounds, so a fine-grid store
    * over a large extent always lands here, and forcing the fine plan
    * there measured 11× slower (PERF.md r16). `exclusive` escalates
    * through the shared [[escalateExclusive]] loop either way. A
    * pre-computed `probeCensus` cannot apply (its fixed pad can't
    * describe per-probe pads) and is rejected loudly. The salting
    * knobs (`saltHotCells`/`hotPairsBound`/`saltSliceRows`/`maxSalt`)
    * govern the fine plan; the coarse plan inherits the cogroup
    * tier's own skew machinery and its defaults
    * ([[MaxCellBuildRows]]/[[GridPairsPerTask]]).
    *
    * Streaming callers: wrap this door per micro-batch with
    * [[graft.streaming.GeoStreaming.sjoinNearestStoreStream]] — the
    * scale path past the broadcast stream tier, unbounded maxDistance
    * included.
    *
    * @param how "inner" drops unmatched probe rows; "left" keeps them
    *        with null store columns. For "right" semantics (each STORE
    *        row probing the frame) use [[sjoinNearest]] — a store-side
    *        outer over a frame inverts the exchange-free premise.
    * @param cellSize must be the value the store was written with.
    * @param maxDistance finite positive, or `Double.PositiveInfinity`
    *        for the unbounded door (NaN — the default — errors: the
    *        caller must choose explicitly).
    * @param summaryGrid unbounded door only: cells per axis of a
    *        freshly computed summary (a stamped sidecar keeps its own
    *        grid).
    * @param fineCellCap unbounded door only: predicted cells/probe
    *        above which the coarse cogroup plan replaces the
    *        exchange-free fine plan (0 forces coarse, Int.MaxValue
    *        forces fine — the spec uses both). */
  def sjoinNearestBucketed(spark: org.apache.spark.sql.SparkSession,
      probe: DataFrame, buildTable: String, cellSize: Double, k: Int = 1,
      maxDistance: Double = Double.NaN, how: String = "inner",
      probeGeom: String = "geometry", buildGeom: String = "geometry",
      suffix: String = "_right", distanceCol: Option[String] = None,
      exclusive: Boolean = false, saltHotCells: Boolean = true,
      hotPairsBound: Long = DefaultHotPairsBound,
      saltSliceRows: Int = 1024, maxSalt: Int = 64,
      probeCensus: Option[ProbeCensus] = None,
      summaryGrid: Int = CellSummary.DefaultGrid,
      fineCellCap: Int = UnbFineCellCap): DataFrame = {
    require(k >= 1, s"sjoinNearestBucketed: k must be >= 1, got $k")
    require(!maxDistance.isNaN && maxDistance > 0,
      "sjoinNearestBucketed needs a positive maxDistance — a finite " +
        "bound, or Double.PositiveInfinity for the unbounded door " +
        "(per-probe bounds from the store's cell summary)")
    require(Set("inner", "left")(how),
      s"unsupported how: $how (sjoinNearestBucketed supports inner and " +
        "left; for right semantics run sjoinNearest with the store read " +
        "as a plain frame)")
    require(cellSize > 0, s"cellSize must be positive, got $cellSize")
    verifyStoreCellSize(spark, buildTable, cellSize, "sjoinNearestBucketed")
    val probeCols = probe.columns.toSeq
    require(probeCols.contains(probeGeom),
      s"sjoinNearestBucketed: probe frame has no '$probeGeom' column")
    require(!probeCols.contains(CellCol),
      s"sjoinNearestBucketed: probe frame must not carry '$CellCol'")
    val store = renameClashes(spark.table(buildTable), probeCols, suffix)
    val bg = if (probeCols.contains(buildGeom)) buildGeom + suffix else buildGeom
    require(store.columns.contains(CellCol),
      s"$buildTable is not a writeSpatialBucketed store (no $CellCol column)")
    require(store.columns.contains(bg),
      s"sjoinNearestBucketed: store has no '$buildGeom' column")
    val storeOutCols = store.columns.filterNot(_ == CellCol).toSeq
    distanceCol.foreach { n =>
      require(!(probeCols.toSet ++ storeOutCols).contains(n),
        s"sjoinNearestBucketed: distanceCol '$n' clashes with an output column")
    }
    val cs = cellSize; val maxD = maxDistance; val kk = k
    val PIdx = "__graft_npidx"; val PGeomT = "__graft_npgeom"
    val DCol = "__graft_ndist"
    // lazy: the unbounded door's coarse plan hands the raw probe frame to
    // the cogroup machinery (which indexes it itself) — forcing the
    // eager checkpoint here would pay it twice. A small local probe is
    // numbered on the driver, with no job
    lazy val probeIdx = localIndexed(probe, PIdx).getOrElse(withStableIndex(probe, PIdx))
    val log = org.slf4j.LoggerFactory.getLogger(getClass)

    // hot map shared by both doors: probe counts from a census of THIS
    // pass's exploded frame (exact by construction), store counts from
    // its stamped histogram (estimates recounted bucket-pruned). The
    // histogram read (catalog + possible sidecar parse) happens once
    // per JOIN, not once per escalation pass (review r16 #4).
    lazy val storeHist = heavyCellsOf(spark, buildTable)
    // a local probe's row count bounds its rows in any cell (each probe
    // emits a cell at most once); against the store's largest possible
    // cell it shows when no cell can reach the pair bound, and the
    // census then has nothing to salt
    val probeRows = localRowCount(probe)
    def hotOf(probeCells: DataFrame,
        census: Option[ProbeCensus]): Map[Long, (Long, Long)] =
      if (!saltHotCells) Map.empty else {
        storeHist match {
          case Some(bh) if probeRows.exists(n => !pastPairBound(n,
              bh.cells.values.foldLeft(bh.absentBound)(math.max), hotPairsBound)) =>
            Map.empty
          case Some(bh) =>
            val ph = census.map(_.hist).getOrElse(probeCellHist(probeCells))
            if ((ph.truncated || bh.truncated) &&
                pastPairBound(ph.absentBound, bh.absentBound, hotPairsBound))
              log.warn(s"sjoinNearestBucketed($buildTable): a truncated " +
                "cell histogram's (store stamp or probe census) dropped " +
                "cells can combine past the hot-pair bound — such cells " +
                "cannot be salted. A grid this dense wants a larger " +
                "cellSize.")
            val cand = hotCellsIn(ph, bh, hotPairsBound)
            // probe-side counts are census-exact; only store-side
            // estimates (absent-from-histogram cells) need a recount
            val needB = cand.collect { case (c, h) if !h.rnExact => c }
            val bx = exactCellCounts(spark.table(buildTable), needB)
            // a probe-census-absent cell's count is an upper bound too —
            // recount before sizing, same discipline as the store side
            val needP = cand.collect { case (c, h) if !h.lnExact => c }
            val px = exactCellCounts(probeCells, needP)
            cand.flatMap { case (c, h) =>
              val pn = if (h.lnExact) h.ln else px.getOrElse(c, 0L)
              val bn = if (h.rnExact) h.rn else bx.getOrElse(c, 0L)
              if (pastPairBound(pn, bn, hotPairsBound)) Some(c -> (pn, bn)) else None
            }
          case None =>
            log.warn(s"sjoinNearestBucketed($buildTable): the store has no " +
              "readable cell histogram (pre-r14 store or unreadable " +
              "metadata) — hot-cell salting is OFF for this join; run " +
              "stampCellHistogram to enable it")
            Map.empty
        }
      }
    def rankTopK(pairs: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      pairs
        .withColumn("__graft_nrank",
          rank().over(Window.partitionBy(col(PIdx)).orderBy(col(DCol))))
        .filter(col("__graft_nrank") <= kk)
        .drop("__graft_nrank")
    }
    import org.apache.spark.sql.graft.ColumnBridge
    def attach(ranked: DataFrame): DataFrame = {
      val attached = probeIdx.join(ranked, Seq(PIdx),
        if (how == "left") "left" else "inner")
      attached.select(
        (probeCols.map(col) ++ storeOutCols.map(col)
          ++ distanceCol.map(nm => col(DCol).as(nm)).toSeq): _*)
    }

    if (maxDistance.isInfinite) {
      // ------------------------------------------------ unbounded door
      require(probeCensus.isEmpty,
        "sjoinNearestBucketed: probeCensus cannot apply to the unbounded " +
          "door — pads vary per probe, so a fixed-pad census would salt " +
          "the wrong cells (the join censuses its own exploded cells " +
          "per pass)")
      val summaryOpt = readCellSummary(spark, buildTable).orElse {
        log.info(s"sjoinNearestBucketed($buildTable): unbounded join " +
          "with no stamped cell summary — computing one for this call " +
          "(two passes over the store); stampCellSummary persists it " +
          "for repeated joins")
        CellSummary.compute(storeOwnerRows(store, bg, cs), bg, summaryGrid)
      }
      val kTarget0 = (k + (if (exclusive) 1 else 0)).toLong
      // PLAN CHOICE: predict the fine (exchange-free) plan's per-probe
      // explosion — each probe lands on ~((2·bound + width)/cellSize)²
      // store cells. Bound tightness is limited by the summary grid
      // (h ≈ extent/512), so on a store whose grid is much finer than
      // its extent/512 the fine plan replicates every probe across
      // thousands of cells — worse than shuffling the store ONCE into
      // coarser cells sized to the discovered bounds (measured 11× on
      // the bench lattice, PERF.md r16). Past `fineCellCap` predicted
      // cells/probe, route to the cogroup machinery with the store's
      // owner rows as the build side, REUSING this summary (the stamp's
      // cost win survives the plan switch).
      val coarsePlan: Option[(CellSummary, Double)] =
        if (fineCellCap == Int.MaxValue) None // documented force-fine door
        else summaryOpt.flatMap { sum =>
          // documented force-coarse door — honored even when the probe
          // sample has no usable envelopes (cellSize 0 → the cogroup
          // tier's own auto estimator)
          if (fineCellCap <= 0) Some((sum, 0.0))
          else {
            val envs = sampleEnvs(probe, probeGeom)
            if (envs.isEmpty) None
            else {
              val side = (2 * medianBoundOf(envs, sum, kTarget0) +
                meanWidthOf(envs)) / cs + 1
              // side² is a Double: compare in Double space so a huge
              // predicted span cannot wrap past an Int cap
              if (side * side <= fineCellCap.toDouble) None
              else Some((sum, unboundedAutoCell(envs, sum, kTarget0)))
            }
          }
        }
      coarsePlan match {
        case Some((sum, coarseCs)) =>
          log.info(s"sjoinNearestBucketed($buildTable): unbounded door " +
            s"routing through the coarse cogroup plan (cellSize " +
            s"$coarseCs) — discovered bounds span too many store cells " +
            s"for the exchange-free plan (fineCellCap=$fineCellCap)")
          return sjoinNearestUnboundedWith(Some(sum), probe,
            storeOwnerRows(store, bg, cs).drop(CellCol), k, how,
            probeGeom, bg, suffix, distanceCol, exclusive, coarseCs,
            MaxCellBuildRows, GridPairsPerTask, summaryGrid)
        case None => () // fine plan below
      }
      val bcSumOpt = summaryOpt.map(s0 => spark.sparkContext.broadcast(s0))
      val DpCol = "__graft_nbound"
      import spark.implicits._
      // per-probe bound discovery + coverage-filtered padded explosion —
      // the cogroup unbounded tier's convention, with the bound riding
      // the row into the codegen'd kernel
      def explodeProbes(frame: DataFrame, kT: Long): DataFrame = bcSumOpt match {
        case None => // no usable store geometry: no matches by definition
          frame.select(col(PIdx), col(probeGeom).as(PGeomT)).limit(0)
            .withColumn(CellCol, lit(0L)).withColumn(DpCol, lit(0.0))
        case Some(bc) =>
          val csV = cs; val kTv = kT
          frame.select(col(PIdx), col(probeGeom))
            .as[(Long, Array[Byte])]
            .flatMap { case (id, b) =>
              if (b == null) Nil
              else {
                val g = EWKB.read(b)
                if (g.isEmpty) Nil
                else {
                  val sum = bc.value
                  val env = g.getEnvelopeInternal
                  val dp = sum.boundFor(env, kTv)
                  sum.joinCellsOf(env, dp, csV).toSeq.map(c => (id, b, c, dp))
                }
              }
            }.toDF(PIdx, PGeomT, CellCol, DpCol)
      }
      def pass(pending: DataFrame, kT: Long,
          register: DataFrame => DataFrame): DataFrame = {
        val probeCells = register(explodeProbes(pending, kT))
        val joined = routedCellJoin(spark, probeCells, store,
          hotOf(probeCells, None), hotPairsBound, saltSliceRows, maxSalt,
          s"sjoinNearestBucketed($buildTable,unbounded)")
        val dExpr = ColumnBridge.column(graft.plans.STNearestMatchBound(
          ColumnBridge.expression(col(PGeomT)),
          ColumnBridge.expression(col(bg)),
          ColumnBridge.expression(col(CellCol)),
          ColumnBridge.expression(col(DpCol)), cs, exclusive))
        rankTopK(joined.withColumn(DCol, dExpr)
          .filter(!isnan(col(DCol)))
          .drop(CellCol, PGeomT, DpCol))
      }
      attach(
        if (!exclusive) pass(probeIdx, kTarget0, identity)
        else {
          // each escalation round reads its probe explosion several
          // times (census collect, salt recounts, cold + hot routed
          // sides) — persist per round, and release the PREVIOUS
          // round's cache as the next registers (a round's cache is
          // dead once its kept slices are checkpointed inside
          // escalateExclusive; round 1's is the full explosion, and
          // pinning every round to the loop's end pressures the block
          // manager — review r17, the cogroup tier's discipline)
          var prevProbe: Option[DataFrame] = None
          try
            escalateExclusive(probeIdx, PIdx, PIdx, probeGeom, kk,
              kTarget0, summaryOpt.map(_.totalAnchors).getOrElse(0L)) {
              (pending, kT) =>
                pass(pending, kT, df => {
                  prevProbe.foreach(_.unpersist())
                  val p = df.persist(); prevProbe = Some(p); p
                })
            }
          finally prevProbe.foreach(_.unpersist())
        })
    } else {
      // -------------------------------------------------- bounded door
      val cellsUdf = udf((b: Array[Byte]) => gridCellsOf(b, cs, pad = maxD))
      val probeCells = probeIdx
        .select(col(PIdx), col(probeGeom).as(PGeomT))
        .withColumn(CellCol, explode(cellsUdf(col(PGeomT))))
      probeCensus.foreach { pc =>
        require(pc.cellSize == cellSize && pc.pad == maxDistance,
          s"sjoinNearestBucketed: probeCensus was computed at (cellSize=" +
            s"${pc.cellSize}, pad=${pc.pad}) but this join runs (cellSize=" +
            s"$cellSize, pad=$maxDistance) — a mixed-grid census salts the " +
            "wrong cells; recompute with censusProbe(probe, geom, " +
            s"$cellSize, $maxDistance)")
      }
      // probe streams, store slices buffer (q sized on store counts —
      // the merge-hinted SMJ cycles one ~saltSliceRows store slice per group)
      val joined = routedCellJoin(spark, probeCells, store,
        hotOf(probeCells, probeCensus), hotPairsBound, saltSliceRows,
        maxSalt, s"sjoinNearestBucketed($buildTable)")
      val dExpr = ColumnBridge.column(graft.plans.STNearestMatch(
        ColumnBridge.expression(col(PGeomT)),
        ColumnBridge.expression(col(bg)),
        ColumnBridge.expression(col(CellCol)), cs, maxD, exclusive))
      // single !isnan — STNearestMatch is non-nullable (null inputs → NaN
      // inside the kernel), so the pushed join condition evaluates the
      // kernel ONCE per candidate pair, not twice (isNotNull + isnan)
      attach(rankTopK(joined.withColumn(DCol, dExpr)
        .filter(!isnan(col(DCol)))
        .drop(CellCol, PGeomT)))
    }
  }

  /** Name-based entry to the bucketed refinement kernel, kept for the
    * bench's `refineViaUdf` twin and tests; the kernel itself (envelope
    * test + reference-point dedup + predicate) lives ONCE in
    * [[graft.plans.GeoNative.bucketedMatch]], where the codegen'd
    * [[graft.plans.STBucketedMatch]] inlines it. */
  private[graft] def bucketedMatch(lb: Array[Byte], rb: Array[Byte],
      cell: Long, cs: Double, predName: String): Boolean =
    graft.plans.GeoNative.bucketedMatch(lb, rb, cell, cs,
      graft.plans.GeoNative.predCode(predName))

  /** [[applyPred]] without the prepared-geometry wrapper, for sites that
    * evaluate each pair exactly once — delegates to the single dispatch
    * table in [[graft.plans.GeoNative.pairPred]]. */
  private[graft] def applyPredPlain(name: String, l: Geometry, r: Geometry): Boolean =
    graft.plans.GeoNative.pairPred(graft.plans.GeoNative.predCode(name), l, r)

  /** Drop a [[writeSpatialBucketed]] table AND its warehouse location — a
    * fresh session's in-memory catalog does not know tables a prior run
    * left on disk, and `saveAsTable` dies with LOCATION_ALREADY_EXISTS on
    * the stale directory otherwise. */
  def dropBucketedTable(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${quoteTable(table)}")
    // the location saveAsTable would claim: `<warehouse>/t` in the
    // default database, `<db location>/t` (`…/db.db/t`) in another
    val catalog = spark.sessionState.catalog
    val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
    if (catalog.databaseExists(id.database.getOrElse(catalog.getCurrentDatabase))) {
      val loc = new org.apache.hadoop.fs.Path(catalog.defaultTablePath(id))
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(loc)) fs.delete(loc, true)
    }
  }
}
