package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Literal

/** SQL-name registration for the full `ST_*` surface, the Spark analog of
  * the reference's plugin registration (`/root/reference/polars_st/
  * geoexpr.py:35-58`). Call once per session; after that every function is
  * usable from `spark.sql` and, via [[graft.functions]], the Column API.
  *
  * Deliberate shadowing: Spark 4.1 ships a handful of built-in `st_*`
  * names (`st_geomfromwkb`, `st_srid`, …) with geography-flavored
  * semantics. `registerAll` REPLACES them in the session registry so that
  * SQL behaves exactly like this library's Column API and the reference
  * (EWKB in/out, reference null/NaN conventions). Scala code that imports
  * both `org.apache.spark.sql.functions._` and `graft.functions._` must
  * qualify those two names (see SurfaceSpec). */
object Geo {

  /** SQL names that accept the reference's optional keyword arguments:
    * name → (full-arity UDF, trailing-argument defaults). A call may omit
    * any suffix of the defaults — `st_buffer(g, 1.0)` in SQL behaves like
    * the Column API / reference default form. Defaults mirror
    * `graft.functions` (which mirrors the reference's kwargs). */
  private def defaultedUdfs: Seq[(String, Int,
      org.apache.spark.sql.expressions.UserDefinedFunction,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression])] = {
    val u = graft.functions.GeoUDFs
    Seq(
      ("st_buffer", 7, u.buffer, Seq(Literal(8), Literal("round"), Literal("round"), Literal(5.0), Literal(false))),
      ("st_offset_curve", 5, u.offsetCurve, Seq(Literal(8), Literal("round"), Literal(5.0))),
      ("st_concave_hull", 3, u.concaveHull, Seq(Literal(0.0), Literal(false))),
      ("st_simplify", 3, u.simplify, Seq(Literal(true))),
      ("st_force_3d", 2, u.force3d, Seq(Literal(0.0))),
      ("st_translate", 4, u.translate, Seq(Literal(0.0))),
      ("st_rotate", 3, u.rotate, Seq(Literal("center"))),
      ("st_scale", 5, u.scale, Seq(Literal(1.0), Literal("center"))),
      ("st_skew", 4, u.skew, Seq(Literal("center"))),
      ("st_interpolate", 3, u.interpolate, Seq(Literal(false))),
      ("st_project", 3, u.project, Seq(Literal(false))),
      ("st_line_merge", 2, u.lineMerge, Seq(Literal(false))),
      ("st_set_precision", 3, u.setPrecision, Seq(Literal("valid_output"))),
      ("st_linearize", 2, u.linearize, Seq(Literal(32))),
      ("st_aswkb", 4, u.asWkb, Seq(Literal(3), Literal(false), Literal(false))))
  }

  private def foldArg(name: String, e: org.apache.spark.sql.catalyst.expressions.Expression): Any = {
    require(e.foldable, s"$name: trailing keyword arguments must be literals, got $e")
    e.eval()
  }

  private def foldDouble(name: String, e: org.apache.spark.sql.catalyst.expressions.Expression): Double =
    foldArg(name, e) match {
      case n: Number => n.doubleValue
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case other => throw new IllegalArgumentException(
        s"$name: expected a numeric literal, got $other")
    }

  private def foldBoolean(name: String, e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    foldArg(name, e) match {
      case b: java.lang.Boolean => b.booleanValue
      case other => throw new IllegalArgumentException(
        s"$name: expected a boolean literal, got $other")
    }

  /** Aggregates whose reference kwargs are CONSTRUCTION parameters of the
    * Aggregator (grid_size; voronoi/delaunay tolerance + only_edges), so
    * SQL arity-flexibility means building a parameterized Aggregator from
    * literal trailing arguments, not padding a UDF call. `st_union_all(g,
    * 0.25)` in SQL == `GeoAggs.unionAllUdaf(0.25)(col)` in the Column API. */
  private def registerAggKwargs(spark: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.graft.ColumnBridge
    val u = graft.aggs.GeoAggs
    def reg(name: String)(builder: Seq[Expression] => Expression): Unit =
      spark.sessionState.functionRegistry.registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[org.apache.spark.sql.expressions.Aggregator[_, _, _]].getName, name),
        builder)
    def applyUdaf(f: org.apache.spark.sql.expressions.UserDefinedFunction,
        g: Expression): Expression =
      ColumnBridge.scalaUDAF(f, Seq(g))

    Seq[(String, org.apache.spark.sql.expressions.UserDefinedFunction,
        Double => org.apache.spark.sql.expressions.UserDefinedFunction)](
      ("st_union_all", u.unionAll, u.unionAllUdaf),
      ("st_intersection_all", u.intersectionAll, u.intersectionAllUdaf),
      ("st_difference_all", u.differenceAll, u.differenceAllUdaf),
      ("st_difference_all_ordered", u.differenceAllOrdered, u.differenceAllOrderedUdaf),
      ("st_symmetric_difference_all", u.symmetricDifferenceAll, u.symmetricDifferenceAllUdaf)
    ).foreach { case (name, plain, mk) =>
      reg(name) {
        case Seq(g) => applyUdaf(plain, g)
        case Seq(g, gs) => applyUdaf(mk(foldDouble(name, gs)), g)
        case args => throw new IllegalArgumentException(
          s"$name expects (geom[, grid_size]), got ${args.length} arguments")
      }
    }
    reg("st_voronoi_polygons") {
      case Seq(g) => applyUdaf(u.voronoiPolygons, g)
      case Seq(g, tol) => applyUdaf(u.voronoiPolygonsUdaf(
        foldDouble("st_voronoi_polygons", tol), onlyEdges = false), g)
      case Seq(g, tol, oe) => applyUdaf(u.voronoiPolygonsUdaf(
        foldDouble("st_voronoi_polygons", tol), foldBoolean("st_voronoi_polygons", oe)), g)
      case args => throw new IllegalArgumentException(
        s"st_voronoi_polygons expects (geom[, tolerance[, only_edges]]), got ${args.length}")
    }
    reg("st_delaunay_triangles") {
      case Seq(g) => applyUdaf(u.delaunayTriangles, g)
      case Seq(g, tol) => applyUdaf(u.delaunayTrianglesUdaf(
        foldDouble("st_delaunay_triangles", tol), onlyEdges = false), g)
      case Seq(g, tol, oe) => applyUdaf(u.delaunayTrianglesUdaf(
        foldDouble("st_delaunay_triangles", tol), foldBoolean("st_delaunay_triangles", oe)), g)
      case args => throw new IllegalArgumentException(
        s"st_delaunay_triangles expects (geom[, tolerance[, only_edges]]), got ${args.length}")
    }
  }

  def registerAll(spark: SparkSession): Unit = {
    val r = spark.udf
    graft.functions.GeoUDFs.all.foreach { case (name, f) => r.register(name, f) }
    graft.aggs.GeoAggs.all.foreach { case (name, f) => r.register(name, f) }
    registerAggKwargs(spark)
    // overwrite the kwargs-bearing names with arity-flexible builders that
    // pad omitted trailing arguments with the reference defaults
    defaultedUdfs.foreach { case (name, full, udfF, defaults) =>
      val min = full - defaults.length
      val builder = (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        if (children.length < min || children.length > full)
          throw new IllegalArgumentException(
            s"$name expects between $min and $full arguments, got ${children.length}")
        val padded = children ++ defaults.drop(children.length - min)
        org.apache.spark.sql.graft.ColumnBridge.scalaUDF(udfF, padded)
      }
      spark.sessionState.functionRegistry.registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF].getName, name),
        builder)
    }
    // Catalyst expressions registered by name (array_dot), as the
    // GraftExtensions injection does, for sessions built without it
    graft.plans.GeoExpressions.registrations.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    // Optimizer rules + spatial-join strategy for sessions built WITHOUT
    // `withExtensions(new GraftExtensions)`: Spark's experimental hooks
    // retrofit the same tiers. Safe when extensions are present too — both
    // rules are idempotent (a fused chain builds nothing on a second pass; the
    // bbox rule fires only while the filter doesn't reference the covering
    // column) and a duplicate strategy just never gets asked second.
    val exp = spark.experimental
    val missingRules = Seq(graft.plans.BboxFilterRule, graft.plans.GeoFusionRule)
      .filterNot(exp.extraOptimizations.contains)
    if (missingRules.nonEmpty)
      exp.extraOptimizations = exp.extraOptimizations ++ missingRules
    if (!exp.extraStrategies.contains(graft.plans.SpatialJoinStrategy))
      exp.extraStrategies = exp.extraStrategies ++ Seq(graft.plans.SpatialJoinStrategy)
  }

  /** All registered SQL function names (for the API-consistency spec). */
  def sqlNames: Seq[String] =
    graft.functions.GeoUDFs.all.map(_._1) ++ graft.aggs.GeoAggs.all.map(_._1) ++
      graft.plans.GeoExpressions.registrations.map(_._1.funcName)
}
