package graft.plans

import graft.serde.EWKB
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, TernaryExpression}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, DoubleType}

/** Kernels of the bucketed spatial-join refinement expressions below
  * ([[STBucketedMatch]], [[STNearestMatch]], [[STNearestMatchBound]],
  * [[STOwnsCell]]): static JVM methods that whole-stage codegen calls
  * directly, with the cell size and predicate code as literals. (The
  * scalar `st_*` kernels live in [[graft.functions.GeoKernels.table]].)
  */
object GeoNative {

  /** The sjoin predicate set as dense int codes so the bucketed-join
    * refinement compiles to a tableswitch instead of per-row string
    * matching. ONE dispatch table: the name-based
    * [[graft.join.SpatialJoin.applyPredPlain]] delegates here. */
  final val PredBbox = 0
  final val PredIntersects = 1
  final val PredWithin = 2
  final val PredContains = 3
  final val PredContainsProperly = 4
  final val PredOverlaps = 5
  final val PredCrosses = 6
  final val PredTouches = 7
  final val PredCovers = 8
  final val PredCoveredBy = 9

  def predCode(name: String): Int = name match {
    case "intersects_bbox" => PredBbox
    case "intersects" => PredIntersects
    case "within" => PredWithin
    case "contains" => PredContains
    case "contains_properly" => PredContainsProperly
    case "overlaps" => PredOverlaps
    case "crosses" => PredCrosses
    case "touches" => PredTouches
    case "covers" => PredCovers
    case "covered_by" => PredCoveredBy
    case other => throw new IllegalArgumentException(s"unknown sjoin predicate: $other")
  }

  /** Plain (unprepared) pair predicate — for sites that evaluate each
    * pair exactly once, where PreparedGeometry costs more than it saves. */
  def pairPred(code: Int, l: org.locationtech.jts.geom.Geometry,
      r: org.locationtech.jts.geom.Geometry): Boolean = code match {
    case PredBbox => true
    case PredIntersects => l.intersects(r)
    case PredWithin => l.within(r)
    case PredContains => l.contains(r)
    case PredContainsProperly =>
      org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(l).containsProperly(r)
    case PredOverlaps => l.overlaps(r)
    case PredCrosses => l.crosses(r)
    case PredTouches => l.touches(r)
    case PredCovers => l.covers(r)
    case PredCoveredBy => l.coveredBy(r)
    case other => throw new IllegalArgumentException(s"unknown sjoin predicate code: $other")
  }

  /** The bucketed tiers' per-pair refinement — one EWKB parse per side:
    * envelope intersection FIRST (the STRtree tiers get this from the
    * tree query, but two geometries sharing a cell can have disjoint
    * envelopes — without it, intersects_bbox, whose refinement is
    * unconditionally true, reported them as a pair), then the
    * reference-point dedup (only the cell owning the bottom-left corner
    * of the envelope intersection emits a pair that straddles k cells),
    * then the predicate on plain geometries. Inlined into whole-stage
    * codegen by [[STBucketedMatch]] for both
    * [[graft.join.SpatialJoin.sjoinBucketed]] and the auto-planning rule
    * ([[BucketedSpatialJoinRule]]); the cell size and predicate code are
    * compile-time literals in the generated code. */
  def bucketedMatch(lb: Array[Byte], rb: Array[Byte],
      cell: Long, cs: Double, pred: Int): Boolean = {
    if (lb == null || rb == null) false
    else {
      val lg = EWKB.read(lb); val rgm = EWKB.read(rb)
      !lg.isEmpty && !rgm.isEmpty && {
        val le = lg.getEnvelopeInternal
        val re = rgm.getEnvelopeInternal
        le.intersects(re) && {
          val ix = math.max(le.getMinX, re.getMinX)
          val iy = math.max(le.getMinY, re.getMinY)
          ownsCorner(ix, iy, cell, cs) && pairPred(pred, lg, rgm)
        }
      }
    }
  }

  /** Reference-point ownership: does `cell` own corner (ix, iy)?
    * MUST be bit-identical to the cell-assignment arithmetic
    * ([[graft.join.SpatialJoin.gridCellsOf]]'s `floor(x/cs)` packing) —
    * the interval form `ix >= cellIdx*cs && ix < (cellIdx+1)*cs` can
    * disagree with `floor(ix/cs)` within an ulp of a boundary on
    * non-dyadic grids, silently dropping or double-emitting a pair. */
  @inline def ownsCorner(ix: Double, iy: Double, cell: Long, cs: Double): Boolean =
    ((math.floor(ix / cs).toLong << 32) |
      (math.floor(iy / cs).toLong & 0xffffffffL)) == cell

  /** Does `cell` own this geometry's envelope-min corner? The one-row-
    * per-stored-copy filter behind [[graft.join.SpatialJoin]]'s
    * owner-dedup scans (cell summary stamping, the unbounded coarse
    * plan's build side): [[gridCellsOf]] always emits the corner's
    * cell, and exactly one stored copy carries it. Null/empty → false
    * (filter semantics). */
  def ownsEnvelopeCorner(b: Array[Byte], cell: Long, cs: Double): Boolean = {
    if (b == null) return false
    val e = EWKB.read(b).getEnvelopeInternal
    !e.isNull && ownsCorner(e.getMinX, e.getMinY, cell, cs)
  }

  /** The bucketed NEAREST tier's per-pair kernel — [[bucketedMatch]]'s
    * distance analog, inlined into whole-stage codegen by
    * [[STNearestMatch]]. Returns the planar distance when the pair is
    * in range AND this cell owns it, else NaN (the caller filters).
    * Exactly one EWKB parse per side; the cheap envelope reject runs
    * before the distance. The ownership corner lives in the PROBE
    * envelope expanded by `maxD` intersected with the build envelope —
    * matching the probe side's padded cell assignment
    * ([[graft.join.SpatialJoin.sjoinNearestBucketed]] explodes probes
    * with `pad = maxDistance`; the stored build side is unpadded), so
    * every in-range pair is seen by exactly one shared cell. The
    * `exclusive` rule tests topological equality only on distance-0
    * pairs — no other pair can be equal. */
  def nearestMatch(pb: Array[Byte], bb: Array[Byte], cell: Long,
      cs: Double, maxD: Double, exclusive: Boolean): Double = {
    if (pb == null || bb == null) return Double.NaN
    val pg = EWKB.read(pb); val bg = EWKB.read(bb)
    if (pg.isEmpty || bg.isEmpty) return Double.NaN
    val pe = pg.getEnvelopeInternal
    val be = bg.getEnvelopeInternal
    // axis separation > maxD on either axis ⇒ distance > maxD
    val ix = math.max(pe.getMinX - maxD, be.getMinX)
    val iy = math.max(pe.getMinY - maxD, be.getMinY)
    if (ix > math.min(pe.getMaxX + maxD, be.getMaxX) ||
        iy > math.min(pe.getMaxY + maxD, be.getMaxY)) return Double.NaN
    if (!ownsCorner(ix, iy, cell, cs)) return Double.NaN
    val d = pg.distance(bg)
    if (d > maxD || (exclusive && d == 0.0 && pg.equalsTopo(bg))) Double.NaN
    else d
  }
}

private[plans] object NativeTypeCheck {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  def binary(fn: String, children: Expression*): TypeCheckResult =
    children.find(_.dataType != BinaryType) match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some(c) => TypeCheckResult.TypeCheckFailure(
        s"$fn expects BINARY, got ${c.dataType}")
    }
}

/** Native refinement for the bucketed spatial-join tiers: the former
  * ScalaUDF here cost an encoder round trip plus Option boxing on EVERY
  * cell-cohabiting candidate pair — the hot loop of the exchange-free
  * join. This inlines [[GeoNative.bucketedMatch]] into whole-stage
  * codegen with `cellSize` and the predicate code as Java literals.
  * Children are (left EWKB, right EWKB, cell id); null in → null out,
  * which under the enclosing Filter is the same reject the UDF's
  * null-check produced. Constructed by the planner/join API only — not
  * registered in SQL (the cell-id contract is an internal layout). */
case class STBucketedMatch(first: Expression, second: Expression, third: Expression,
    cellSize: Double, predCode: Int) extends TernaryExpression {
  override def prettyName: String = "st_bucketed_match"
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes() = {
    val bin = NativeTypeCheck.binary("st_bucketed_match", first, second)
    if (!bin.isSuccess) bin
    else if (third.dataType != org.apache.spark.sql.types.LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"st_bucketed_match expects a LONG cell id, got ${third.dataType}")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }
  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    GeoNative.bucketedMatch(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]],
      c.asInstanceOf[Long], cellSize, predCode)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) =>
      s"graft.plans.GeoNative.bucketedMatch($a, $b, $c, ${cellSize}D, $predCode)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): STBucketedMatch = copy(first = f, second = s, third = t)
}

/** The bucketed nearest join's per-pair kernel, codegen'd —
  * [[GeoNative.nearestMatch]] as an expression: (probeGeom, buildGeom,
  * cellId) → planar distance, NaN when out of range or not owned by the
  * cell. NON-nullable by design: null inputs fold into the NaN
  * convention INSIDE the kernel instead of the default null
  * propagation, so the join's no-pair filter is a single
  * `!isnan(...)` — Catalyst pushes that one call into the join
  * condition, where the default `isNotNull AND NOT isnan` form
  * evaluated the kernel (two EWKB parses) TWICE per candidate pair.
  * Like [[STBucketedMatch]], constructed by the join API only — the
  * cell-id contract is an internal layout. */
case class STNearestMatch(first: Expression, second: Expression, third: Expression,
    cellSize: Double, maxDist: Double, exclusive: Boolean) extends TernaryExpression {
  override def prettyName: String = "st_nearest_match"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def checkInputDataTypes() = {
    val bin = NativeTypeCheck.binary("st_nearest_match", first, second)
    if (!bin.isSuccess) bin
    else if (third.dataType != org.apache.spark.sql.types.LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"st_nearest_match expects a LONG cell id, got ${third.dataType}")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = first.eval(input); val b = second.eval(input); val c = third.eval(input)
    if (a == null || b == null || c == null) Double.NaN
    else GeoNative.nearestMatch(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]],
      c.asInstanceOf[Long], cellSize, maxDist, exclusive)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = first.genCode(ctx); val b = second.genCode(ctx); val c = third.genCode(ctx)
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    ev.copy(code = code"""
      ${a.code}
      ${b.code}
      ${c.code}
      double ${ev.value} = (${a.isNull} || ${b.isNull} || ${c.isNull})
        ? Double.NaN
        : graft.plans.GeoNative.nearestMatch(${a.value}, ${b.value}, ${c.value},
            ${cellSize}D, ${maxDist}D, $exclusive);""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): STNearestMatch = copy(first = f, second = s, third = t)
}

/** [[GeoNative.ownsEnvelopeCorner]] as a codegen'd expression —
  * (geom, cellId) → does the cell own the geometry's envelope-min
  * corner. Whole-store owner-dedup scans run this once per stored copy
  * (every stampCellSummary and every unbounded coarse-plan join), so
  * it skips the ScalaUDF encoder round trip like the other kernels.
  * Non-nullable: null inputs fold to false (filter semantics).
  * Join-API internal — the cell-id layout is not a public contract. */
case class STOwnsCell(first: Expression, second: Expression,
    cellSize: Double) extends BinaryExpression {
  override def left: Expression = first
  override def right: Expression = second
  override def prettyName: String = "st_owns_cell"
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def checkInputDataTypes() = {
    val bin = NativeTypeCheck.binary("st_owns_cell", first)
    if (!bin.isSuccess) bin
    else if (second.dataType != org.apache.spark.sql.types.LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"st_owns_cell expects a LONG cell id, got ${second.dataType}")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = first.eval(input); val b = second.eval(input)
    if (a == null || b == null) false
    else GeoNative.ownsEnvelopeCorner(a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[Long], cellSize)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = first.genCode(ctx); val b = second.genCode(ctx)
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    ev.copy(code = code"""
      ${a.code}
      ${b.code}
      boolean ${ev.value} = !(${a.isNull} || ${b.isNull}) &&
        graft.plans.GeoNative.ownsEnvelopeCorner(${a.value}, ${b.value},
          ${cellSize}D);""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
  override protected def withNewChildrenInternal(f: Expression,
      s: Expression): STOwnsCell = copy(first = f, second = s)
}

/** [[STNearestMatch]] with the search bound as a CHILD instead of a
  * constructor constant — the unbounded bucketed nearest tier
  * ([[graft.join.SpatialJoin.sjoinNearestBucketed]] with
  * `maxDistance = ∞`) discovers a bound PER PROBE from the store's
  * coarse cell summary, so the kernel reads it from the probe row:
  * (probeGeom, buildGeom, cellId, bound) → planar distance, NaN when
  * out of the probe's own bound or not owned by the cell. Same
  * non-nullable NaN convention (single kernel evaluation in pushed
  * join conditions) and the same [[GeoNative.nearestMatch]] body, so
  * the two expressions cannot drift. Join-API internal. */
case class STNearestMatchBound(first: Expression, second: Expression,
    third: Expression, fourth: Expression, cellSize: Double,
    exclusive: Boolean) extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {
  override def prettyName: String = "st_nearest_match_bound"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def checkInputDataTypes() = {
    val bin = NativeTypeCheck.binary("st_nearest_match_bound", first, second)
    if (!bin.isSuccess) bin
    else if (third.dataType != org.apache.spark.sql.types.LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"st_nearest_match_bound expects a LONG cell id, got ${third.dataType}")
    else if (fourth.dataType != DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"st_nearest_match_bound expects a DOUBLE bound, got ${fourth.dataType}")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = first.eval(input); val b = second.eval(input)
    val c = third.eval(input); val d = fourth.eval(input)
    if (a == null || b == null || c == null || d == null) Double.NaN
    else GeoNative.nearestMatch(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]],
      c.asInstanceOf[Long], cellSize, d.asInstanceOf[Double], exclusive)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = first.genCode(ctx); val b = second.genCode(ctx)
    val c = third.genCode(ctx); val d = fourth.genCode(ctx)
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    ev.copy(code = code"""
      ${a.code}
      ${b.code}
      ${c.code}
      ${d.code}
      double ${ev.value} = (${a.isNull} || ${b.isNull} || ${c.isNull} || ${d.isNull})
        ? Double.NaN
        : graft.plans.GeoNative.nearestMatch(${a.value}, ${b.value}, ${c.value},
            ${cellSize}D, ${d.value}, $exclusive);""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): STNearestMatchBound =
    copy(first = f, second = s, third = t, fourth = q)
}

object GeoExpressions {
  /** Builder with an arity check: a wrong argument count in SQL gets a
    * message naming the signature instead of an internal
    * IndexOutOfBoundsException from inside function resolution. */
  private def withArity(name: String, n: Int)(
      b: Seq[Expression] => Expression): Seq[Expression] => Expression =
    args => {
      if (args.length != n) throw new IllegalArgumentException(
        s"$name expects $n argument${if (n == 1) "" else "s"}, got ${args.length}")
      b(args)
    }

  /** (identifier, info, builder) triples for SparkSessionExtensions. */
  def registrations: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("array_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "array_dot"),
      withArity("array_dot", 2)(args => DotProduct(args(0), args(1)))))
}
