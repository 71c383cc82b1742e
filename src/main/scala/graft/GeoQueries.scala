package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import graft.functions._

/** Oracle-checked queries covering the full SURVEY.md §2 geometry surface.
  *
  * Design: every geometry is derived from `o_orderkey` with dyadic-rational
  * coordinates (k/4, k/8 …), so every exact output (coordinate, area,
  * length, count, type name, predicate) is recomputable closed-form in
  * plain DuckDB SQL and hash-matches bit-for-bit. Non-dyadic outputs
  * (rotation by arbitrary angles, reprojection) are emitted as tolerance
  * booleans, which the oracle states as constants. Constants that depend on
  * JTS behavior (DE-9IM strings, buffer areas under mitre joins, voronoi
  * cell counts) were verified empirically before being baked into the SQL
  * (see test probe history).
  *
  * The reference proves its operators against a fixture × totality matrix
  * (`/root/reference/tests/test_expressions.py:90-307`); these queries are
  * the Spark analog with *value* assertions, not just schema.
  */
object GeoQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** DuckDB truth for the nearest-join keys: within-cluster cross
    * product, `sqrt` of an exactly-representable dx²+dy², rank() ≤ 2
    * ties-inclusive. The Spark side RECOMPUTES the hashed distance the
    * same way (correctly-rounded `sqrt` over the same exact double —
    * see the geo_sjoin_nearest scaladoc), so the hashed column is
    * bit-exact by construction. The join's own distance (JTS
    * `Math.hypot`) only decides membership and ranks; hypot == sqrt
    * bitwise over every lattice value this fixture can reach
    * (NearestHypotSpec pins that, so a divergent JDK fails loudly in
    * the spec, not mysteriously here). */
  private val nearestOracleSql: String =
    """WITH l AS (SELECT o_orderkey AS lk, o_orderkey%50 AS c,
      |  CAST(o_orderkey%50 AS DOUBLE)*1000 + CAST(o_orderkey%10 AS DOUBLE) AS lx,
      |  CAST(o_orderkey%6 AS DOUBLE) AS ly FROM orders),
      | r AS (SELECT o_orderkey AS rk, o_orderkey%50 AS c,
      |  CAST(o_orderkey%50 AS DOUBLE)*1000 + CAST(o_orderkey%12 AS DOUBLE)*0.5 AS rx,
      |  CAST(o_orderkey%8 AS DOUBLE)*0.5 AS ry FROM orders),
      | p AS (SELECT lk, rk,
      |   sqrt((lx-rx)*(lx-rx) + (ly-ry)*(ly-ry)) AS d
      |  FROM l JOIN r USING (c)
      |  WHERE sqrt((lx-rx)*(lx-rx) + (ly-ry)*(ly-ry)) <= 1.5),
      | ranked AS (SELECT lk, rk, d,
      |   rank() OVER (PARTITION BY lk ORDER BY d) AS rnk FROM p)
      |SELECT lk, rk, d FROM ranked WHERE rnk <= 2 ORDER BY lk, rk""".stripMargin

  /** DuckDB's full relational kNN over the heterogeneous unbounded
    * fixture (cross join + rank window, no distance bound anywhere) —
    * the ONE truth all unbounded nearest rows pin against
    * (geo_sjoin_nearest_unbounded and the bucketed-store door's
    * geo_sjoin_nearest_unb_bkt run the same fixture through different
    * machinery; geo_sjoin_nearest_unb_excl adds the equality filter —
    * via `pairFilter`, so the fixture lattice exists ONCE and the
    * exclusive oracle can never drift onto stale coordinates). */
  private def nearestUnbSql(pairFilter: String): String =
    s"""WITH p AS (SELECT o_orderkey AS pk,
      |  CASE WHEN o_orderkey%30 = 0 THEN CAST(o_orderkey%8 AS DOUBLE)*0.25
      |       WHEN o_orderkey%30 = 10 THEN 1024.0 + CAST(o_orderkey%16 AS DOUBLE)*16.0
      |       ELSE 4000.0 + CAST(o_orderkey%8 AS DOUBLE)*64.0 END AS px,
      |  CASE WHEN o_orderkey%30 = 0 THEN CAST(o_orderkey%13 AS DOUBLE)*0.25
      |       WHEN o_orderkey%30 = 10 THEN 512.0 + CAST(o_orderkey%8 AS DOUBLE)*16.0
      |       ELSE 2000.0 + CAST(o_orderkey%4 AS DOUBLE)*128.0 END AS py
      |  FROM orders WHERE o_orderkey%10 = 0),
      | b AS (SELECT o_orderkey AS bk,
      |  CASE WHEN o_orderkey%100 < 50 THEN CAST(o_orderkey%16 AS DOUBLE)*0.25
      |       WHEN o_orderkey%100 = 50 THEN 64.0 + CAST(o_orderkey%32 AS DOUBLE)*4.0
      |       ELSE 4096.0 + CAST(o_orderkey%4 AS DOUBLE)*512.0 END AS bx,
      |  CASE WHEN o_orderkey%100 < 50 THEN CAST(o_orderkey%13 AS DOUBLE)*0.25
      |       WHEN o_orderkey%100 = 50 THEN CAST(o_orderkey%11 AS DOUBLE)*8.0
      |       ELSE 2048.0 + CAST(o_orderkey%8 AS DOUBLE)*256.0 END AS by
      |  FROM orders WHERE o_orderkey%25 = 0),
      | dd AS (SELECT pk, bk,
      |   sqrt((px-bx)*(px-bx) + (py-by)*(py-by)) AS d
      |  FROM p CROSS JOIN b$pairFilter),
      | ranked AS (SELECT pk, bk, d,
      |   rank() OVER (PARTITION BY pk ORDER BY d) AS rnk FROM dd)
      |SELECT pk, bk, d FROM ranked WHERE rnk <= 2 ORDER BY pk, bk""".stripMargin

  private val nearestUnbOracleSql: String = nearestUnbSql("")

  /** The hashed distance every nearest row recomputes from the output
    * geometries: `sqrt(dx·dx + dy·dy)` over exact dyadic squares —
    * bit-identical to DuckDB's sqrt, independent of how the join
    * measured (see the geo_sjoin_nearest scaladoc). `rightGeom` is the
    * renamed build-side geometry column in the join's output. */
  private def nearestHashedDist(rightGeom: String): Column = {
    val dx = st_x(col("geometry")) - st_x(col(rightGeom))
    val dy = st_y(col("geometry")) - st_y(col(rightGeom))
    sqrt(dx * dx + dy * dy)
  }

  /** The shared output shape of every nearest oracle row: the two key
    * columns plus the RECOMPUTED hashed distance, deterministically
    * ordered — one place, so the six rows can't drift on the hashed
    * column's derivation. */
  private def nearestOut(df: DataFrame, pk: String, bk: String): DataFrame =
    df.select(col(pk), col(bk), nearestHashedDist("geometry_right").as("d"))
      .orderBy(col(pk), col(bk))

  /** 50 point clusters 1000 units apart (cluster extent ≤ 12 units, so a
    * 1.5-unit nearest search never crosses clusters and DuckDB can join
    * within-cluster only): left on the integer lattice, right on the
    * half-integer lattice — every distance² is an exact multiple of
    * 0.25. */
  private def nearestFixture(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val c = (k % 50).cast("double")
    val l = base(s, dir).select(k.as("lk"),
      st_point(c * 1000.0 + (k % 10).cast("double"),
        (k % 6).cast("double")).as("geometry"))
    val r = base(s, dir).select(k.as("rk"),
      st_point(c * 1000.0 + (k % 12).cast("double") * 0.5,
        (k % 8).cast("double") * 0.5).as("geometry"))
    (l, r)
  }

  /** Heterogeneous-density fixture for the unbounded nearest tier: both
    * sides carry a dense dyadic cluster near the origin, a sparse mid
    * band, and far outliers (all coordinates dyadic rationals — exact in
    * both engines). Probe = every 10th key, build = every 25th, so the
    * DuckDB oracle's cross join stays ~1500 × 600 at sf0.01. */
  private def nearestUnboundedFixture(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val probe = base(s, dir).filter(k % 10 === 0).select(k.as("pk"),
      st_point(
        when(k % 30 === 0, (k % 8).cast("double") * 0.25)
          .when(k % 30 === 10, lit(1024.0) + (k % 16).cast("double") * 16.0)
          .otherwise(lit(4000.0) + (k % 8).cast("double") * 64.0),
        when(k % 30 === 0, (k % 13).cast("double") * 0.25)
          .when(k % 30 === 10, lit(512.0) + (k % 8).cast("double") * 16.0)
          .otherwise(lit(2000.0) + (k % 4).cast("double") * 128.0))
        .as("geometry"))
    val build = base(s, dir).filter(k % 25 === 0).select(k.as("bk"),
      st_point(
        when(k % 100 < 50, (k % 16).cast("double") * 0.25)
          .when(k % 100 === 50, lit(64.0) + (k % 32).cast("double") * 4.0)
          .otherwise(lit(4096.0) + (k % 4).cast("double") * 512.0),
        when(k % 100 < 50, (k % 13).cast("double") * 0.25)
          .when(k % 100 === 50, (k % 11).cast("double") * 8.0)
          .otherwise(lit(2048.0) + (k % 8).cast("double") * 256.0))
        .as("geometry"))
    (probe, build)
  }

  /** orders → (k, derived dyadic box/point columns), the shared scheme. */
  private def base(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(col("o_orderkey").as("k"))

  private def k = col("k")
  private def xmin = (k % 1000000).cast("double") * 16.0
  private def ymin = (k % 16).cast("double") * 16.0
  private def w = lit(1.0) + (k % 13).cast("double") / 4.0
  private def h = lit(1.0) + (k % 11).cast("double") / 4.0
  private def px = xmin + w / 2
  private def py = ymin + h / 2
  private def rect = st_rectangle(xmin, ymin, xmin + w, ymin + h)
  private def pt = st_point(px, py)
  /** L-shaped 3-point line, length w+h. */
  private def lineL = st_linestring(array(
    array(xmin, ymin), array(xmin + w, ymin), array(xmin + w, ymin + h)))
  /** horizontal segment (xmin,ymin)→(xmin+w,ymin), length w. */
  private def hseg = st_linestring(array(array(xmin, ymin), array(xmin + w, ymin)))
  /** vertical segment, length h. */
  private def vseg = st_linestring(array(array(xmin, ymin), array(xmin, ymin + h)))
  /** self-intersecting bowtie polygon, fixed area w*h/2. */
  private def bowtie = st_polygon(array(array(
    array(xmin, ymin), array(xmin + w, ymin + h),
    array(xmin + w, ymin), array(xmin, ymin + h), array(xmin, ymin))))
  /** polygon with one hole: area w*h - (w/4)*(h/4). */
  private def polyHole = st_polygon(array(
    array(array(xmin, ymin), array(xmin + w, ymin), array(xmin + w, ymin + h),
      array(xmin, ymin + h), array(xmin, ymin)),
    array(array(xmin + w / 4, ymin + h / 4), array(xmin + w / 2, ymin + h / 4),
      array(xmin + w / 2, ymin + h / 2), array(xmin + w / 4, ymin + h / 2),
      array(xmin + w / 4, ymin + h / 4))))
  private def mp4 = st_multipoint(array(
    array(xmin, ymin), array(xmin + w, ymin),
    array(xmin + w, ymin + h), array(xmin, ymin + h)))

  /** DuckDB CTE mirroring the dyadic scheme. */
  private val B =
    """WITH b AS (SELECT o_orderkey AS k,
      | CAST(o_orderkey%1000000 AS DOUBLE)*16.0 AS xmin,
      | CAST(o_orderkey%16 AS DOUBLE)*16.0 AS ymin,
      | 1+CAST(o_orderkey%13 AS DOUBLE)/4.0 AS w,
      | 1+CAST(o_orderkey%11 AS DOUBLE)/4.0 AS h
      | FROM orders)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // -------------------------------------------------- §2.1 constructors
    "geo_ctor_point" -> ((s, dir) => {
      base(s, dir).select(k,
        st_x(pt).as("px"),
        st_y(pt).as("py"),
        st_z(st_point(px, py, (k % 9).cast("double") / 4.0)).as("pz"),
        st_m(pt).as("pm"),
        st_x(st_point_from_coords(array(px, py))).as("pfc_x"),
        st_geometrytype(pt).as("gt")
      ).orderBy(k)
    }),

    "geo_ctor_line" -> ((s, dir) => {
      base(s, dir).select(k,
        st_length(lineL).as("len"),
        st_count_points(lineL).as("npts"),
        st_count_coordinates(lineL).as("ncoords"),
        st_geometrytype(mp4).as("gt_mp"),
        st_count_geometries(mp4).as("n_mp"),
        st_length(st_multilinestring(array(
          array(array(xmin, ymin), array(xmin + w, ymin)),
          array(array(xmin, ymin + h), array(xmin + w, ymin + h))))).as("mls_len"),
        st_geometrytype(lineL).as("gt")
      ).orderBy(k)
    }),

    // CircularString: curved EWKB construction (type 8), header/structure
    // accessors on raw bytes, and linearization into compute ops — the last
    // §2.1 constructor. Semicircle of radius w: p0=(xmin,ymin),
    // p1=(xmin+w,ymin+w), p2=(xmin+2w,ymin); chord-sum length of the
    // 64-segment linearization is within 0.03% of πr.
    "geo_curved" -> ((s, dir) => {
      val cs = graft.functions.st_set_srid(
        st_circularstring(array(
          array(xmin, ymin), array(xmin + w, ymin + w), array(xmin + w + w, ymin))),
        lit(4326))
      val csZ = st_circularstring(array(
        array(xmin, ymin, lit(0.0)), array(xmin + w, ymin + w, lit(1.0)),
        array(xmin + w + w, ymin, lit(2.0))))
      base(s, dir).select(k, cs.as("cs"), csZ.as("csz"))
        .select(k,
          st_geometrytype(col("cs")).as("gt"),
          graft.functions.st_srid(col("cs")).as("srid"),
          st_count_coordinates(col("cs")).as("ncoords"),
          element_at(element_at(st_coordinates(col("cs")), 1), 1).as("coord0_x"),
          st_is_closed(col("cs")).as("closed"),
          st_coordinatedimension(col("csz")).as("cdim3"),
          st_geometrytype(st_linearize(col("cs"))).as("lin_gt"),
          st_count_coordinates(st_linearize(col("cs"))).as("lin_npts"),
          element_at(element_at(st_coordinates(st_linearize(col("cs"))), 1), 1)
            .as("lin_first_x"),
          element_at(element_at(st_coordinates(st_linearize(col("cs"))), 65), 1)
            .as("lin_last_x"),
          (abs(st_length(st_linearize(col("cs"))) -
            lit(math.Pi) * (w + w) / 2) < (w + w) / 2 * 0.01).as("len_ok"))
        .orderBy(k)
    }),

    // Round 11: the FULL curved-type model (CompoundCurve, CurvePolygon,
    // MultiCurve — EWKB types 9-12) with exact arc closed forms. Length of
    // line+semicircle compound = w + πw; full-circle CurvePolygon area =
    // πw²; square-with-circular-hole area = 16w² − πw²; exact arc bounds
    // (axis extremes, not chord clipping) as hash-strong dyadic doubles;
    // WKT/WKB round trips; container accessors; the reference cast table.
    "geo_curved2" -> ((s, dir) => {
      def f(c: Column) = format_string("%.2f", c)
      def pt2(x: Column, y: Column) = concat(f(x), lit(" "), f(y))
      val y0 = ymin
      // compound: straight w + semicircle radius w
      val cc = st_geomfromtext(concat(
        lit("COMPOUNDCURVE (("), pt2(xmin, y0), lit(", "), pt2(xmin + w, y0),
        lit("), CIRCULARSTRING ("), pt2(xmin + w, y0), lit(", "),
        pt2(xmin + w + w, y0 + w), lit(", "), pt2(xmin + w + w + w, y0), lit("))")))
      // full circle radius w centered (xmin+w, ymin)
      val circle = st_geomfromtext(concat(
        lit("CURVEPOLYGON (CIRCULARSTRING ("), pt2(xmin, y0), lit(", "),
        pt2(xmin + w + w, y0), lit(", "), pt2(xmin, y0), lit("))")))
      // 4w×4w square centered (xmin, ymin) with a circular hole radius w
      val holed = st_geomfromtext(concat(
        lit("CURVEPOLYGON (("),
        pt2(xmin - w - w, y0 - w - w), lit(", "), pt2(xmin + w + w, y0 - w - w), lit(", "),
        pt2(xmin + w + w, y0 + w + w), lit(", "), pt2(xmin - w - w, y0 + w + w), lit(", "),
        pt2(xmin - w - w, y0 - w - w),
        lit("), CIRCULARSTRING ("), pt2(xmin - w, y0), lit(", "), pt2(xmin + w, y0),
        lit(", "), pt2(xmin - w, y0), lit("))")))
      val mc = st_geomfromtext(concat(
        lit("MULTICURVE (("), pt2(xmin, y0), lit(", "), pt2(xmin + w, y0),
        lit("), CIRCULARSTRING ("), pt2(xmin + w, y0), lit(", "),
        pt2(xmin + w + w, y0 + w), lit(", "), pt2(xmin + w + w + w, y0), lit("))")))
      val cs = st_circularstring(array(
        array(xmin, y0), array(xmin + w, y0 + w), array(xmin + w + w, y0)))
      val pi = lit(math.Pi)
      base(s, dir).select(k,
        st_geometrytype(cc).as("cc_gt"),
        (abs(st_length(cc) - (w + pi * w)) < w * 1e-9).as("cc_len_ok"),
        (abs(st_area(circle) - pi * w * w) < w * w * 1e-9).as("circle_area_ok"),
        (abs(st_area(holed) - (lit(16.0) * w * w - pi * w * w)) < w * w * 1e-9)
          .as("hole_area_ok"),
        element_at(st_bounds(circle), 1).as("bb_xmin"),
        element_at(st_bounds(circle), 2).as("bb_ymin"),
        element_at(st_bounds(circle), 3).as("bb_xmax"),
        element_at(st_bounds(circle), 4).as("bb_ymax"),
        st_geometrytype(st_exterior_ring(circle)).as("ext_gt"),
        st_geometrytype(st_geomfromtext(st_aswkt(cc))).as("rt_gt"),
        st_geometrytype(graft.functions.st_geomfromwkb(
          st_aswkb(circle, lit(2), lit(true), lit(false)))).as("wkb_gt"),
        st_count_coordinates(cc).as("ncoord"),
        st_count_geometries(mc).as("nmc"),
        st_geometrytype(st_get_geometry(mc, lit(1))).as("mc_m1"),
        st_geometrytype(st_cast(cs, lit("multicurve"))).as("cast_gt"),
        st_geometrytype(st_linearize(circle)).as("lin_gt"),
        graft.functions.st_srid(st_geomfromewkt(
          concat(lit("SRID=3857;CIRCULARSTRING ("), pt2(xmin, y0), lit(", "),
            pt2(xmin + w, y0 + w), lit(", "), pt2(xmin + w + w, y0), lit(")"))))
          .as("esrid"),
        // r11: affine ops transform CONTROL POINTS and keep the curved
        // type (GEOS semantics) — translate preserves type + exact length,
        // uniform 2x scale exactly doubles the semicircle length
        st_geometrytype(st_translate(cs, w, w, lit(0.0))).as("aff_gt"),
        (abs(st_length(st_translate(cs, w, w, lit(0.0))) - pi * w) < w * 1e-9)
          .as("aff_len_ok"),
        (abs(st_length(st_scale(cs, lit(2.0), lit(2.0), lit(1.0), lit("0 0"))) -
          pi * w * 2) < w * 1e-9).as("aff_scale_ok"),
        st_has_arc(cc).as("has_arc"),
        st_has_arc(st_linearize(cc)).as("no_arc"))
        .orderBy(k)
    }),

    "geo_ctor_poly" -> ((s, dir) => {
      base(s, dir).select(k,
        st_area(polyHole).as("area"),
        st_count_interior_rings(polyHole).as("nint"),
        st_area(rect).as("rect_area"),
        st_x(st_from_coords(array(px, py), ArrayType(DoubleType))).as("fc_x"),
        st_geometrytype(st_from_coords(array(array(xmin, ymin), array(xmin + w, ymin)),
          ArrayType(ArrayType(DoubleType)))).as("fc_line_gt")
      ).orderBy(k)
    }),

    "geo_parse" -> ((s, dir) => {
      val xi = ((k % 1000000) * 16).cast("long").cast("string")
      val yi = ((k % 16) * 16).cast("long").cast("string")
      val wkt = concat(lit("POINT ("), xi, lit(" "), yi, lit(")"))
      base(s, dir).select(k,
        st_x(st_geomfromtext(wkt)).as("wkt_x"),
        graft.functions.st_srid(st_geomfromewkt(concat(lit("SRID=4326;"), wkt))).as("ewkt_srid"),
        st_x(st_geomfromewkt(concat(lit("SRID=4326;"), wkt))).as("ewkt_x"),
        st_x(st_geomfromgeojson(concat(lit("{\"type\":\"Point\",\"coordinates\":["),
          xi, lit(","), yi, lit("]}")))).as("gj_x"),
        st_x(graft.functions.st_geomfromwkb(st_aswkb(pt, lit(2), lit(false), lit(false)))).as("wkb_x")
      ).orderBy(k)
    }),

    // ----------------------------------------------------- §2.2 accessors
    "geo_acc_meta" -> ((s, dir) => {
      base(s, dir).select(k,
        st_geometrytype(rect).as("gt"),
        st_dimensions(rect).as("dim"),
        st_coordinatedimension(pt).as("cdim2"),
        st_coordinatedimension(st_point(px, py, lit(1.0))).as("cdim3"),
        graft.functions.st_srid(rect).as("srid0"),
        graft.functions.st_srid(st_set_srid(rect, (lit(1000) + k % 100).cast("int"))).as("srid_set"),
        st_precision(rect).as("prec"),
        st_has_z(pt).as("hz"),
        st_has_z(st_point(px, py, lit(1.0))).as("hz3"),
        st_has_m(pt).as("hm")
      ).orderBy(k)
    }),

    "geo_acc_structure" -> ((s, dir) => {
      base(s, dir).select(k,
        st_count_coordinates(rect).as("nc_rect"),
        st_count_geometries(rect).as("ng_rect"),
        st_length(st_exterior_ring(polyHole)).as("ext_len"),
        size(st_interior_rings(polyHole)).as("int_n"),
        st_length(st_get_interior_ring(polyHole, lit(0))).as("int_len"),
        st_x(st_get_point(lineL, lit(1))).as("gp_x"),
        st_x(st_get_geometry(mp4, lit(1))).as("gg_x"),
        size(st_parts(st_multi(rect))).as("parts_n"),
        element_at(st_bounds(rect), 1).as("b0"),
        element_at(st_bounds(rect), 2).as("b1"),
        element_at(st_bounds(rect), 3).as("b2"),
        element_at(st_bounds(rect), 4).as("b3"),
        element_at(element_at(st_coordinates(lineL), 1), 1).as("coord00"),
        size(element_at(st_coordinates(pt, lit(3)), 1)).as("coord_dim3_len"),
        isnan(element_at(element_at(st_coordinates(pt, lit(3)), 1), 3)).as("coord_dim3_nan")
      ).orderBy(k)
    }),

    // --------------------------------------------------- §2.3 measurement
    "geo_measure" -> ((s, dir) => {
      val hsegTop = st_linestring(array(
        array(xmin, ymin + h), array(xmin + w, ymin + h)))
      base(s, dir).select(k,
        st_area(rect).as("area"),
        st_length(lineL).as("len"),
        st_distance(pt, st_point(px + w, py)).as("d_ax"),
        st_distance(pt, st_point(px + w, py + h)).as("d_diag"),
        st_hausdorff_distance(hseg, hsegTop).as("haus"),
        st_hausdorff_distance(hseg, hsegTop, lit(0.5)).as("hausd"),
        st_frechet_distance(hseg, hsegTop).as("frech"),
        st_frechet_distance(hseg, hsegTop, lit(0.5)).as("frechd"),
        st_minimum_clearance(rect).as("clear"),
        isnan(st_distance(st_geomfromtext(lit("POINT EMPTY")), pt)).as("dist_empty_nan")
      ).orderBy(k)
    }),

    // ---------------------------------------------- §2.4 unary predicates
    "geo_pred_unary" -> ((s, dir) => {
      val ring = st_exterior_ring(rect)
      val bowtieRing = st_linestring(array(
        array(xmin, ymin), array(xmin + w, ymin + h),
        array(xmin + w, ymin), array(xmin, ymin + h), array(xmin, ymin)))
      base(s, dir).select(k,
        st_is_ring(st_cast(ring, lit("LineString"))).as("is_ring"),
        st_is_closed(st_cast(ring, lit("LineString"))).as("is_closed"),
        st_is_ccw(ring).as("is_ccw"),
        st_is_simple(bowtieRing).as("bowtie_simple"),
        st_is_empty(st_geomfromtext(lit("POLYGON EMPTY"))).as("empty_is_empty"),
        st_is_empty(rect).as("rect_is_empty"),
        st_is_valid(rect).as("rect_valid"),
        st_is_valid(bowtie).as("bowtie_valid"),
        st_is_valid_reason(rect).as("valid_reason"),
        st_has_z(rect).as("hz"),
        st_has_m(rect).as("hm")
      ).orderBy(k)
    }),

    // --------------------------------------------- §2.5 binary predicates
    "geo_pred_binary" -> ((s, dir) => {
      val a = rect
      val b = st_translate(rect, w, lit(0.0))
      val c = st_translate(rect, w / 2, lit(0.0))
      val f = st_translate(rect, w * 2, lit(0.0))
      val l = st_linestring(array(array(xmin - 1.0, py), array(xmin + w + 1.0, py)))
      base(s, dir).select(k,
        st_intersects(a, c).as("int_c"),
        st_intersects(a, b).as("int_b"),
        st_touches(a, b).as("touch_b"),
        st_disjoint(a, f).as("disj_f"),
        st_overlaps(a, c).as("overlap_c"),
        st_crosses(l, a).as("crosses_l"),
        st_contains(a, pt).as("contains_p"),
        st_within(pt, a).as("within_p"),
        st_contains_properly(a, pt).as("cprop_p"),
        st_contains_properly(a, b).as("cprop_b"),
        st_covers(a, a).as("covers_a"),
        st_covered_by(a, a).as("coveredby_a"),
        st_equals(a, st_reverse(a)).as("eq_rev"),
        st_equals_identical(a, a).as("eq_ident"),
        st_equals_exact(a, st_translate(a, lit(0.25), lit(0.0)), lit(0.5)).as("eq_exact"),
        st_dwithin(pt, st_point(px + w, py), w).as("dwithin_eq"),
        st_dwithin(pt, st_point(px + w, py), w + 0.25).as("dwithin_lt"),
        st_relate(pt, a).as("relate_s"),
        st_relate_pattern(a, pt, lit("T*****FF*")).as("relate_pat"),
        st_intersects_xy(a, px, py).as("ixy"),
        st_contains_xy(a, px, py).as("cxy")
      ).orderBy(k)
    }),

    // ----------------------------------------------------- §2.6 overlay
    "geo_overlay" -> ((s, dir) => {
      val a = rect
      val c = st_translate(rect, w / 2, lit(0.0))
      val xiL = ((k % 1000000) * 16).cast("long")
      val yiL = ((k % 16) * 16).cast("long")
      def S(cc: Column): Column = cc.cast("string")
      def pWkt(dx0: Int, dx1: Int): Column = concat(
        lit("(("), S(xiL + dx0), lit(" "), S(yiL), lit(", "), S(xiL + dx1),
        lit(" "), S(yiL), lit(", "), S(xiL + dx1), lit(" "), S(yiL + 2),
        lit(", "), S(xiL + dx0), lit(" "), S(yiL + 2), lit(", "),
        S(xiL + dx0), lit(" "), S(yiL), lit("))"))
      val mpolyWkt = concat(lit("MULTIPOLYGON ("), pWkt(0, 2), lit(", "), pWkt(1, 3), lit(")"))
      val gcWkt = concat(lit("GEOMETRYCOLLECTION (POLYGON "), pWkt(0, 2),
        lit(", POLYGON "), pWkt(2, 4), lit(")"))
      // prec variants use an integer shift: every coordinate stays on the
      // 0.25 snap grid, so grid_size snapping is a no-op and the result is
      // closed-form (overlap width = w-1 ≥ 0).
      val cp = st_translate(rect, lit(1.0), lit(0.0))
      base(s, dir).select(k,
        st_area(st_intersection(a, c)).as("inter_area"),
        st_area(st_union(a, c)).as("union_area"),
        st_area(st_difference(a, c)).as("diff_area"),
        st_area(st_symmetric_difference(a, c)).as("sym_area"),
        st_area(st_union(a, cp, lit(0.25))).as("union_prec"),
        st_area(st_intersection(a, cp, lit(0.25))).as("inter_prec"),
        st_area(st_difference(a, cp, lit(0.25))).as("diff_prec"),
        st_area(st_symmetric_difference(a, cp, lit(0.25))).as("sym_prec"),
        st_area(st_unary_union(st_geomfromtext(mpolyWkt))).as("uu_area"),
        st_area(st_disjoint_subset_union(st_geomfromtext(mpolyWkt))).as("dsu_area"),
        st_area(st_coverage_union(st_geomfromtext(gcWkt))).as("cu_area")
      ).orderBy(k)
    }),

    // ------------------------------------------------ §2.7 aggregations
    "geo_agg_group" -> ((s, dir) => {
      base(s, dir)
        .select((k % 16).as("grp"), k.as("k"), rect.as("g"))
        .groupBy(col("grp"))
        .agg(
          element_at(st_total_bounds(col("g")), 1).as("tb_xmin"),
          element_at(st_total_bounds(col("g")), 4).as("tb_ymax"),
          st_count_geometries(st_collect(col("g"))).as("n_collect"),
          st_geometrytype(st_collect(col("g"))).as("gt_collect"),
          st_area(st_union_all(col("g"))).as("union_area"),
          st_area(st_symmetric_difference_all(col("g"))).as("sym_area"),
          st_area(st_coverage_union_all(col("g"))).as("cov_area"),
          st_area(st_polygonize(st_boundary(col("g")))).as("poly_area"),
          st_count_geometries(st_polygonize(st_boundary(col("g")))).as("poly_n"))
        .orderBy(col("grp"))
    }),

    "geo_agg_inter" -> ((s, dir) => {
      base(s, dir)
        .select((k % 8).as("grp"),
          st_rectangle(lit(0.0), lit(0.0),
            lit(16.0) + (k % 13).cast("double") / 4.0,
            lit(16.0) + (k % 11).cast("double") / 4.0).as("g"))
        .groupBy(col("grp"))
        .agg(st_area(st_intersection_all(col("g"))).as("ia"))
        .orderBy(col("grp"))
    }),

    "geo_agg_diff" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // minuend (rank 1 by k): the 64×64 box; others: small disjoint boxes
      // in distinct 16×16 cells strictly inside it (rank ≤ 9).
      val ranked = base(s, dir)
        .select(k, (k % 2000).as("grp"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("grp")).orderBy(k)))
        .filter(col("rn") <= 9)
      val cell = col("rn") - 2 // 0..7 for subtrahend rows
      val cx = (cell % 3).cast("double") * 16.0 + 4.0
      val cy = (cell / 3).cast("double").cast("int").cast("double") * 16.0 + 4.0
      val g = when(col("rn") === 1,
        st_rectangle(lit(0.0), lit(0.0), lit(64.0), lit(64.0)))
        .otherwise(st_rectangle(cx, cy, cx + w, cy + h))
      ranked.select(col("grp"), col("rn"), k, g.as("g"), w.as("w"), h.as("h"))
        .groupBy(col("grp"))
        .agg(st_area(st_difference_all_ordered(col("g"), col("rn").cast("long"))).as("da"))
        .orderBy(col("grp"))
    }),

    /** Frame-level ordered-difference door (r15, VERDICT r14 #5):
      * [[graft.aggs.GeoAggs.differenceAllByRow]] stamps the row-order
      * key itself — same fixture as geo_agg_diff, same oracle shape,
      * encounter order pinned by the single sorted partition (the door's
      * documented contract: order the frame, then fold). */
    "geo_agg_diff_byrow" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ranked = base(s, dir)
        .select(k, (k % 2000).as("grp"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("grp")).orderBy(k)))
        .filter(col("rn") <= 9)
      val cell = col("rn") - 2
      val cx = (cell % 3).cast("double") * 16.0 + 4.0
      val cy = (cell / 3).cast("double").cast("int").cast("double") * 16.0 + 4.0
      val g = when(col("rn") === 1,
        st_rectangle(lit(0.0), lit(0.0), lit(64.0), lit(64.0)))
        .otherwise(st_rectangle(cx, cy, cx + w, cy + h))
      val src = ranked.select(col("grp"), col("rn"), g.as("g"))
        .repartition(1).sortWithinPartitions(col("grp"), col("rn"))
      graft.aggs.GeoAggs.differenceAllByRow(src, col("g"), Seq(col("grp")))
        .select(col("grp"), st_area(col("difference_all")).as("da"))
        .orderBy(col("grp"))
    }),

    "geo_agg_vor" -> ((s, dir) => {
      val pts = base(s, dir).select(
        ((k % 4) % 2).cast("double").as("ix"),
        when(k % 4 >= 2, 1.0).otherwise(0.0).as("iy"))
        .distinct()
        .select(st_point(col("ix") * 16.0, col("iy") * 16.0).as("g"))
      val vor = pts.agg(
        st_count_geometries(st_voronoi_polygons(col("g"))).as("vor_n"),
        st_count_geometries(st_delaunay_triangles(col("g"))).as("del_n"),
        st_area(st_delaunay_triangles(col("g"))).as("del_area"),
        st_geometrytype(st_voronoi_polygons(col("g"))).as("vor_gt"))
      val empty = base(s, dir).filter(lit(false)).agg(
        st_aswkt(st_union_all(rect)).as("empty_wkt"),
        isnan(element_at(st_total_bounds(rect), 1)).as("tb_nan"))
      vor.crossJoin(empty)
    }),

    /** grid_size variants of the §2.7 aggregations (reference
      * `union_all(grid_size)` et al., `expressions.rs:873-999`). Rectangles
      * get sixteenth-offsets so the 0.25-grid snap changes the result:
      * snap(v) = floor(4v+0.5)/4 (probed — JTS PrecisionModel.makePrecise
      * and OverlayNG snap-rounding agree with the closed form). */
    "geo_agg_prec" -> ((s, dir) => {
      graft.Geo.registerAll(s) // SQL-path column below needs the registry
      val ax = (k % 5).cast("double") / 16.0
      val ay = (k % 7).cast("double") / 16.0
      // disjoint per row (one 16-wide x cell per k), off-grid top corners
      val g = st_rectangle(xmin, ymin, xmin + w + ax, ymin + h + ay)
      // all anchored at (0,0): intersection = [0,min x]×[0,min y]
      val gi = st_rectangle(lit(0.0), lit(0.0),
        lit(16.0) + (k % 13).cast("double") / 4.0 + ax,
        lit(16.0) + (k % 11).cast("double") / 4.0 + ay)
      base(s, dir)
        .select((k % 16).as("grp"), g.as("g"), gi.as("gi"))
        // the sf0.01 parquet is a single input split, so without this the
        // snap-rounding folds for all 16 groups run in ONE partial-agg
        // task; pre-hashing by the group key parallelizes the fold and
        // lets the aggregation reuse the partitioning (no extra exchange)
        .repartition(32, col("grp"))
        .groupBy(col("grp"))
        .agg(
          st_area(st_union_all(col("g"), 0.25)).as("ua"),
          // same aggregate through the SQL registry's arity-flexible
          // builder (grid_size as a literal trailing argument)
          expr("st_area(st_union_all(g, 0.25))").as("ua_sql"),
          st_area(st_symmetric_difference_all(col("g"), 0.25)).as("sa"),
          expr("st_area(st_symmetric_difference_all(g, 0.25))").as("sa_sql"),
          st_area(st_intersection_all(col("gi"), 0.25)).as("ia"),
          expr("st_area(st_intersection_all(gi, 0.25))").as("ia_sql"))
        .orderBy(col("grp"))
    }),

    /** voronoi/delaunay kwargs (reference `geoexpr.py:937-954`): tolerance,
      * extend_to clip envelope, only_edges. Sites (0,0),(4,0),(0,3) → cell
      * areas sum to the clip box area; delaunay edges 3-4-5 triangle. */
    "geo_agg_vor_kw" -> ((s, dir) => {
      val box = Seq(-8.0, -8.0, 16.0, 16.0)
      val pts = base(s, dir).select((k % 3).as("i")).distinct()
        .select(st_point(
          when(col("i") === 1, 4.0).otherwise(0.0),
          when(col("i") === 2, 3.0).otherwise(0.0)).as("g"))
      pts.agg(
        st_area(st_voronoi_polygons(col("g"), 0.0, false, box)).as("vor_area"),
        st_count_geometries(st_voronoi_polygons(col("g"), 0.0, false, box)).as("vor_n"),
        st_area(st_voronoi_polygons(col("g"), 0.0625, false, box)).as("vor_area_tol"),
        st_count_geometries(st_voronoi_polygons(col("g"), 0.0, true, box)).as("vor_edge_n"),
        st_count_geometries(st_delaunay_triangles(col("g"), 0.0, true)).as("del_edges"),
        st_length(st_delaunay_triangles(col("g"), 0.0, true)).as("del_len"),
        st_geometrytype(st_delaunay_triangles(col("g"), 0.0, true)).as("del_gt"))
    }),

    /** Unordered difference_all (reference `expressions.rs:873-886` — a
      * row-order left fold): deterministic here because the source is
      * repartition(1) + sorted, so encounter order == rn order. Covers the
      * plain and grid_size forms. */
    "geo_agg_diff_unord" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ranked = base(s, dir)
        .filter(k % 2000 === 0)
        .withColumn("rn", row_number().over(Window.orderBy(k)))
        .filter(col("rn") <= 9)
      val ax = (k % 5).cast("double") / 16.0
      val ay = (k % 7).cast("double") / 16.0
      val cell = col("rn") - 2 // 0..7 for subtrahend rows
      val cx = (cell % 3).cast("double") * 16.0 + 4.0
      val cy = (cell / 3).cast("double").cast("int").cast("double") * 16.0 + 4.0
      val g = when(col("rn") === 1,
        st_rectangle(lit(0.0), lit(0.0), lit(64.0), lit(64.0)))
        .otherwise(st_rectangle(cx, cy, cx + w + ax, cy + h + ay))
      ranked.select(col("rn"), g.as("g"))
        .repartition(1).sortWithinPartitions("rn")
        .agg(
          st_area(st_difference_all(col("g"))).as("da"),
          st_area(st_difference_all(col("g"), 0.25)).as("da_prec"))
    }),

    /** The Column API's kernel expressions (one-call `STGeoFused`, no
      * ScalaUDF encoder round trip) against the SQL surface's ScalaUDFs:
      * closed-form values, and Column == SQL equality per row. */
    "geo_native" -> ((s, dir) => {
      graft.Geo.registerAll(s) // the SQL-path columns need the registry
      base(s, dir)
        .select(k, rect.as("a"), st_translate(rect, w / 2, lit(0.0)).as("c"),
          st_translate(rect, lit(0.0) - w - lit(1.0), lit(0.0)).as("d"))
        .select(k,
          st_area(col("a")).as("area_n"),
          st_length(col("a")).as("len_n"),
          st_intersects(col("a"), col("c")).as("ix_t"),
          st_intersects(col("a"), col("d")).as("ix_f"),
          (st_area(col("a")) === expr("st_area(a)")).as("area_eq"),
          (st_length(col("a")) === expr("st_length(a)")).as("len_eq"))
        .orderBy(k)
    }),

    /** set_precision (reference functions.rs:691-701, GEOS
      * GEOSGeom_setPrecision): grid-snap in all three modes. Constants
      * verified empirically (Probe7): the 0.25 grid is a no-op on dyadic
      * coords; the 64.0 grid collapses every rect (corners snap to one
      * grid point) → valid_output strips to POLYGON EMPTY, and
      * keep_collapsed's retained ring is also empty after repair. */
    "geo_setprec" -> ((s, dir) => {
      base(s, dir).select(k,
        st_area(st_set_precision(rect, lit(0.25))).as("sp_area"),
        st_is_empty(st_set_precision(rect, lit(64.0))).as("sp_empty"),
        st_geometrytype(st_set_precision(rect, lit(64.0))).as("sp_gt"),
        st_count_coordinates(
          st_set_precision(rect, lit(0.25), lit("no_topo"))).as("sp_n"),
        st_geometrytype(
          st_set_precision(rect, lit(64.0), lit("keep_collapsed"))).as("sp_kc_gt"))
        .orderBy(k)
    }),

    /** Fusion tier (GeoFusionRule/STGeoFused): deep construct→transform→
      * overlay→measure chains run as one fused program (one parse per
      * input, zero interior EWKB round trips). Values are closed-form; the
      * `tier_eq` column computes the same buffer area through a fused chain
      * and through a chain broken by `st_linearize` (a byte-level
      * passthrough op the fusion registry excludes), so fused and unfused
      * kernels are asserted equal IN-ROW. */
    "geo_fused" -> ((s, dir) => {
      def bufm(g: Column) = st_buffer(g, lit(0.5), lit(1), lit("round"),
        lit("mitre"), lit(10.0), lit(false))
      val c = st_translate(rect, w / 2, lit(0.0))
      base(s, dir).select(k,
        st_area(st_intersection(rect, c)).as("ia"),
        st_area(st_union(rect, c)).as("ua"),
        st_x(st_centroid(st_envelope(rect))).as("cx"),
        st_area(bufm(rect)).as("bm"),
        st_dwithin(st_centroid(rect), st_centroid(c), w).as("dw"),
        (st_area(st_simplify(bufm(rect), lit(0.0), lit(false))) ===
          st_area(st_linearize(bufm(rect), lit(8)))).as("tier_eq"))
        .orderBy(k)
    }),

    // ------------------------------------------- §2.8 constructive ops
    "geo_constructive1" -> ((s, dir) => {
      val d = (lit(1.0) + (k % 5).cast("double")) / 4.0
      base(s, dir).select(k,
        st_length(st_boundary(rect)).as("bdry_len"),
        st_geometrytype(st_boundary(rect)).as("bdry_gt"),
        st_area(st_buffer(pt, d, lit(1), lit("square"), lit("round"), lit(5.0),
          lit(false))).as("buf_sq_area"),
        st_area(st_buffer(rect, lit(0.5), lit(1), lit("round"), lit("mitre"),
          lit(10.0), lit(false))).as("buf_mitre"),
        st_area(st_buffer(rect, lit(-0.25), lit(1), lit("round"), lit("mitre"),
          lit(10.0), lit(false))).as("buf_neg"),
        // single-sided buffer of the horizontal w-segment: exact w×0.5 strip
        st_area(st_buffer(hseg, lit(0.5), lit(8), lit("round"), lit("round"),
          lit(5.0), lit(true))).as("buf_ss"),
        st_length(st_offset_curve(hseg, lit(0.5))).as("off_len"),
        st_x(st_centroid(rect)).as("centroid_x"),
        st_y(st_center(rect)).as("center_y"),
        st_area(st_envelope(rect)).as("env_area"),
        st_area(st_convex_hull(mp4)).as("ch_area"),
        st_area(st_concave_hull(mp4, lit(1.0))).as("cc_area"),
        st_area(st_clip_by_rect(rect, xmin, ymin, xmin + w / 2, ymin + h)).as("clip_area"),
        st_contains(rect, st_point_on_surface(rect)).as("pos_in"),
        st_area(st_minimum_rotated_rectangle(rect)).as("mrr_area")
      ).orderBy(k)
    }),

    "geo_constructive2" -> ((s, dir) => {
      val coll3 = st_linestring(array(
        array(xmin, ymin), array(xmin + w / 2, ymin), array(xmin + w, ymin)))
      val dupline = st_linestring(array(
        array(xmin, ymin), array(xmin, ymin), array(xmin + w, ymin)))
      val cross = st_multilinestring(array(
        array(array(xmin, ymin + h / 2), array(xmin + w, ymin + h / 2)),
        array(array(xmin + w / 2, ymin), array(xmin + w / 2, ymin + h))))
      base(s, dir).select(k,
        st_count_coordinates(st_segmentize(vseg, h / 2)).as("seg_n"),
        st_length(st_segmentize(vseg, h / 2)).as("seg_len"),
        st_count_coordinates(st_simplify(coll3, lit(0.25), lit(false))).as("simp_n"),
        st_count_coordinates(st_remove_repeated_points(dupline, lit(0.0))).as("rrp_n"),
        st_count_geometries(st_extract_unique_points(rect)).as("uniq_n"),
        st_area(st_make_valid(bowtie)).as("mv_area"),
        st_geometrytype(st_make_valid(bowtie)).as("mv_gt"),
        st_area(st_build_area(st_boundary(rect))).as("ba_area"),
        st_count_geometries(st_node(cross)).as("node_n"),
        st_geometrytype(st_node(cross)).as("node_gt"),
        st_x(st_get_point(st_reverse(hseg), lit(0))).as("rev_x"),
        st_x(st_flip_coordinates(pt)).as("flip_x"),
        st_equals_identical(st_normalize(rect), st_normalize(st_reverse(rect))).as("norm_eq"),
        st_z(st_force_3d(pt, lit(1.25))).as("f3_z"),
        st_has_z(st_force_2d(st_point(px, py, lit(3.0)))).as("f2_hz"),
        st_geometrytype(st_multi(rect)).as("multi_gt"),
        st_geometrytype(st_cast(pt, lit("MultiPoint"))).as("cast_gt")
      ).orderBy(k)
    }),

    "geo_constructive3" -> ((s, dir) => {
      val subseg = st_linestring(array(array(xmin + w / 4, ymin), array(xmin + w, ymin)))
      val mlsFwd = st_multilinestring(array(
        array(array(xmin, ymin), array(xmin + w, ymin)),
        array(array(xmin + w, ymin), array(xmin + w, ymin + h))))
      val mlsBack = st_multilinestring(array(
        array(array(xmin, ymin), array(xmin + w, ymin)),
        array(array(xmin + w, ymin + h), array(xmin + w, ymin))))
      base(s, dir).select(k,
        st_x(st_snap(st_point(xmin - 0.25, ymin), rect, lit(0.5))).as("snap_x"),
        st_length(st_shortest_line(rect, st_translate(rect, w * 2, lit(0.0)))).as("short_len"),
        st_length(st_shared_paths(hseg, subseg)).as("shared_len"),
        st_geometrytype(st_line_merge(mlsFwd)).as("lm_gt"),
        st_length(st_line_merge(mlsFwd)).as("lm_len"),
        st_count_geometries(st_line_merge(mlsBack, lit(true))).as("lmdir_n")
      ).orderBy(k)
    }),

    // --------------------------------------- §2.9 affine / linear ref
    "geo_affine" -> ((s, dir) => {
      base(s, dir).select(k,
        st_x(st_affine_transform(pt, array(lit(2.0), lit(0.0), lit(0.0),
          lit(2.0), lit(0.25), lit(0.5)))).as("at_x"),
        st_x(st_translate(pt, lit(1.25), lit(0.5))).as("tr_x"),
        st_y(st_translate(pt, lit(1.25), lit(0.5))).as("tr_y"),
        st_area(st_scale(rect, lit(2.0), lit(2.0))).as("sc_area"),
        st_x(st_scale(pt, lit(2.0), lit(2.0), lit(1.0), lit("0 0"))).as("sc_origin_x"),
        st_x(st_rotate(pt, lit(37.0))).as("rot_self_x"),
        (abs(st_area(st_rotate(rect, lit(37.0))) - w * h) < 1e-6).as("rot_area_ok"),
        (abs(st_area(st_skew(rect, lit(10.0), lit(0.0))) - w * h) < 1e-6).as("skew_area_ok"),
        (abs(st_area(st_skew(rect, lit(10.0), lit(0.0), lit(0.0), lit("center"))) - w * h)
          < 1e-6).as("skew3_area_ok"),
        st_x(st_interpolate(hseg, w / 2)).as("interp_x"),
        st_x(st_interpolate(hseg, lit(0.5), lit(true))).as("interp_n_x"),
        st_project(hseg, st_point(xmin + w / 4, ymin + 1.0)).as("proj_d"),
        st_project(hseg, st_point(xmin + w / 4, ymin + 1.0), lit(true)).as("proj_n")
      ).orderBy(k)
    }),

    // ------------------------------------------------------- §2.11 CRS
    "geo_crs" -> ((s, dir) => {
      val lon = (k % 180).cast("double") - 90.0 + 0.25
      val lat = (k % 120).cast("double") / 2.0 - 30.0
      val lon33 = lit(13.5) + (k % 60).cast("double") / 20.0
      val lat33 = (k % 140).cast("double") / 2.0 - 35.0
      val pll = st_set_srid(st_point(lon, lat), lit(4326))
      val p33 = st_set_srid(st_point(lon33, lat33), lit(4326))
      val merc = st_to_srid(pll, lit(3857))
      val rt = st_to_srid(merc, lit(4326))
      val utm = st_to_srid(p33, lit(32633))
      val utmRt = st_to_srid(utm, lit(4326))
      val wm = st_to_srid(pll, lit(3395))
      val wmRt = st_to_srid(wm, lit(4326))
      base(s, dir).select(k,
        graft.functions.st_srid(st_set_srid(pt, lit(3857))).as("srid_set"),
        graft.functions.st_srid(merc).as("srid_merc"),
        (abs(st_x(merc) / 20037508.342789244 - lon / 180.0) < 1e-9).as("merc_x_ok"),
        (abs(st_x(rt) - lon) < 1e-9 && abs(st_y(rt) - lat) < 1e-9).as("merc_rt_ok"),
        (abs(st_x(utmRt) - lon33) < 1e-8 && abs(st_y(utmRt) - lat33) < 1e-8).as("utm_rt_ok"),
        (st_x(utm) > 100000.0 && st_x(utm) < 900000.0).as("utm_x_range"),
        graft.functions.st_srid(utm).as("srid_utm"),
        (abs(st_x(wmRt) - lon) < 1e-9 && abs(st_y(wmRt) - lat) < 1e-9).as("wm_rt_ok"),
        st_get_crs_authority(lit("EPSG:32633")).getField("_1").as("auth_name"),
        st_get_crs_authority(lit("EPSG:32633")).getField("_2").as("auth_code"),
        st_get_crs_from_code(lit(32633)).contains("UTM zone 33N").as("fromcode_ok"),
        st_get_crs_authority(st_get_crs_from_code(lit(3857))).getField("_2").as("wkt_code")
      ).orderBy(k)
    }),

    // Round-2..4 projection families beyond the original four: Lambert
    // Conformal Conic 2SP (2154 France / 3978 Canada), Albers equal-area
    // (5070 CONUS / 3577 Australia), polar stereographic variant B
    // (3413 Arctic / 3031 Antarctic). Same tolerance-boolean scheme as
    // geo_crs; each family round-trips through 4326 on in-domain points.
    "geo_crs2" -> ((s, dir) => {
      def rtOk(lon: Column, lat: Column, epsg: Int, tol: Double): Column = {
        val p = st_set_srid(st_point(lon, lat), lit(4326))
        val back = st_to_srid(st_to_srid(p, lit(epsg)), lit(4326))
        abs(st_x(back) - lon) < tol && abs(st_y(back) - lat) < tol
      }
      // in-domain points derived from k
      val lonFr = (k % 10).cast("double") / 2.0 - 1.0           // -1 .. 3.5
      val latFr = lit(42.5) + (k % 17).cast("double") / 2.0     // 42.5 .. 50.5
      val lonCa = (k % 80).cast("double") - 135.0               // -135 .. -56
      val latCa = lit(45.0) + (k % 50).cast("double") / 2.0     // 45 .. 69.5
      val lonUs = (k % 45).cast("double") - 120.0               // -120 .. -76
      val latUs = lit(26.0) + (k % 40).cast("double") / 2.0     // 26 .. 45.5
      val lonAu = lit(115.0) + (k % 35).cast("double")          // 115 .. 149
      val latAu = (k % 28).cast("double") - 40.0                // -40 .. -13
      val lonPo = (k % 360).cast("double") - 179.5              // -179.5 .. 179.5
      val latN = lit(60.0) + (k % 29).cast("double")            // 60 .. 88
      val latS = -(lit(60.0) + (k % 29).cast("double"))
      // the projection origin (lon0=3, lat0=46.5) maps exactly onto the
      // false origin (700000, 6600000)
      val fr0 = st_to_srid(
        st_set_srid(st_point(lit(3.0), lit(46.5)), lit(4326)), lit(2154))
      val pole = st_to_srid(
        st_set_srid(st_point(lit(0.0), lit(90.0)), lit(4326)), lit(3413))
      base(s, dir).select(k,
        rtOk(lonFr, latFr, 2154, 1e-8).as("lcc_fr_rt_ok"),
        rtOk(lonCa, latCa, 3978, 1e-8).as("lcc_ca_rt_ok"),
        rtOk(lonUs, latUs, 5070, 1e-7).as("albers_us_rt_ok"),
        rtOk(lonAu, latAu, 3577, 1e-7).as("albers_au_rt_ok"),
        rtOk(lonPo, latN, 3413, 1e-7).as("polar_n_rt_ok"),
        rtOk(lonPo, latS, 3031, 1e-7).as("polar_s_rt_ok"),
        (abs(st_x(fr0) - lit(700000.0)) < 1e-6 &&
          abs(st_y(fr0) - lit(6600000.0)) < 1e-6).as("lcc_fr_origin_ok"),
        (abs(st_x(pole)) < 1e-6 && abs(st_y(pole)) < 1e-6).as("pole_origin_ok"),
        graft.functions.st_srid(
          st_to_srid(st_set_srid(st_point(lonUs, latUs), lit(4326)), lit(5070)))
          .as("srid_albers"),
        st_get_crs_from_code(lit(5070)).contains("Conus Albers").as("fromcode_albers"),
        st_get_crs_from_code(lit(3413)).contains("Polar Stereographic").as("fromcode_polar"),
        st_get_crs_authority(st_get_crs_from_code(lit(3031))).getField("_2").as("wkt_code_3031")
      ).orderBy(k)
    }),

    /** Embedded EPSG parameter table (round-5/6 addition; reference
      * reprojects ANY registry pair via its embedded CRS db,
      * `functions.rs:1868-1939` + crs-definitions). Codes here were
      * previously-unsupported: ETRS89/UTM (25832), British National Grid
      * (27700, Airy 1830 + OSGB36 Helmert shift), NZTM (2193), Belgian
      * Lambert 72 (31370, International 1924 + BD72 shift), California
      * SPCS zone 3 (26943), France CC45 (3945), Arctic Polar Stereo
      * (3995), UPS North (32661, variant A). Round trips through 4326 at
      * 1e-8° (polar family 1e-7, matching geo_crs2); datum-shifted grids
      * also assert the closed-form natural-origin → false-origin identity
      * STARTING from their own geographic CRS (exercises the Helmert
      * round trip at fp precision). */
    "geo_crs3" -> ((s, dir) => {
      def rtOk(lon: Column, lat: Column, epsg: Int, tol: Double): Column = {
        val p = st_set_srid(st_point(lon, lat), lit(4326))
        val back = st_to_srid(st_to_srid(p, lit(epsg)), lit(4326))
        abs(st_x(back) - lon) < tol && abs(st_y(back) - lat) < tol
      }
      // in-domain dyadic points per grid
      val lonUk = (k % 24).cast("double") / 4.0 - 5.0     // -5 .. 0.75
      val latUk = lit(50.25) + (k % 26).cast("double") / 4.0 // 50.25 .. 56.5
      val lonDe = lit(6.25) + (k % 23).cast("double") / 4.0  // 6.25 .. 11.75
      val latDe = lit(47.5) + (k % 40).cast("double") / 4.0  // 47.5 .. 57.25
      val lonNz = lit(170.25) + (k % 23).cast("double") / 4.0 // 170.25 .. 175.75
      val latNz = -(lit(36.5) + (k % 30).cast("double") / 4.0) // -36.5 .. -43.75
      val lonBe = lit(2.75) + (k % 14).cast("double") / 4.0  // 2.75 .. 6.0
      val latBe = lit(49.75) + (k % 7).cast("double") / 4.0  // 49.75 .. 51.25
      val lonCa3 = -(lit(117.25) + (k % 19).cast("double") / 4.0) // -117.25 .. -121.75
      val latCa3 = lit(36.25) + (k % 9).cast("double") / 4.0 // 36.25 .. 38.25
      val lonFr = (k % 32).cast("double") / 4.0 - 1.0       // -1 .. 6.75
      val latFr = lit(44.25) + (k % 7).cast("double") / 4.0  // 44.25 .. 45.75 (CC45)
      val lonNl = lit(4.25) + (k % 10).cast("double") / 4.0   // 4.25 .. 6.5
      val latNl = lit(51.0) + (k % 8).cast("double") / 4.0    // 51 .. 52.75
      val lonCh = lit(6.25) + (k % 14).cast("double") / 4.0   // 6.25 .. 9.5
      val latCh = lit(45.92) + (k % 7).cast("double") / 4.0   // 45.92 .. 47.42
      val lonPo = (k % 360).cast("double") - 179.5
      val latN = lit(60.0) + (k % 29).cast("double")
      // natural origin → false origin. CC45 has no datum shift →
      // projection-exact. BNG starts from its own geographic CRS (4277
      // OSGB36): the hub detour (Airy h=0 → WGS84, height dropped → Airy)
      // leaves the standard h=0-convention residual of ~1 mm (the same
      // sub-cm loss a proj pipeline shows for 2D datum-shifted round
      // trips), so the check is at 1 cm.
      val bng0 = st_to_srid(
        st_set_srid(st_point(lit(-2.0), lit(49.0)), lit(4277)), lit(27700))
      val cc0 = st_to_srid(
        st_set_srid(st_point(lit(3.0), lit(45.0)), lit(4326)), lit(3945))
      base(s, dir).select(k,
        // datum-shifted grids round-trip at 1e-7 (the h=0 residual above
        // caps them at ~2e-8); shift-free grids hold 1e-8
        rtOk(lonUk, latUk, 27700, 1e-7).as("bng_rt_ok"),
        rtOk(lonDe, latDe, 25832, 1e-8).as("etrs_utm_rt_ok"),
        rtOk(lonNz, latNz, 2193, 1e-8).as("nztm_rt_ok"),
        rtOk(lonBe, latBe, 31370, 1e-8).as("belge_rt_ok"),
        rtOk(lonCa3, latCa3, 26943, 1e-8).as("spcs_ca3_rt_ok"),
        rtOk(lonFr, latFr, 3945, 1e-8).as("cc45_rt_ok"),
        rtOk(lonPo, latN, 3995, 1e-7).as("arctic_rt_ok"),
        rtOk(lonPo, latN, 32661, 1e-7).as("ups_rt_ok"),
        // round-6 late additions: Dutch double stereographic and Swiss
        // oblique Mercator (both Bessel + datum shift → 1e-7)
        rtOk(lonNl, latNl, 28992, 1e-7).as("rd_rt_ok"),
        rtOk(lonCh, latCh, 2056, 1e-7).as("lv95_rt_ok"),
        // round-6 additions: Lambert-93, NTF Lambert zone II (LCC-1SP,
        // Paris meridian, Clarke 1880 IGN + NTF shift), Conus Albers,
        // JGD2011 zone IX, GDA2020 MGA 55, NAD27 UTM 15N (Clarke 1866)
        rtOk(lonFr, latFr, 2154, 1e-8).as("l93_rt_ok"),
        rtOk(lonFr, lit(46.0) + (k % 10).cast("double") / 4.0, 27572, 1e-7)
          .as("ntf_lz2_rt_ok"),
        rtOk(-(lit(80.25) + (k % 155).cast("double") / 4.0),
          lit(30.25) + (k % 60).cast("double") / 4.0, 5070, 1e-8)
          .as("conus_rt_ok"),
        rtOk(lit(139.0) + (k % 6).cast("double") / 4.0,
          lit(35.25) + (k % 6).cast("double") / 4.0, 6677, 1e-8)
          .as("jgd9_rt_ok"),
        rtOk(lit(144.25) + (k % 22).cast("double") / 4.0,
          -(lit(35.5) + (k % 20).cast("double") / 4.0), 7855, 1e-8)
          .as("mga55_rt_ok"),
        rtOk(-(lit(90.25) + (k % 22).cast("double") / 4.0),
          lit(30.25) + (k % 60).cast("double") / 4.0, 26715, 1e-7)
          .as("nad27_utm15_rt_ok"),
        // Krovak (S-JTSK East North, Bessel + datum shift → 1e-7);
        // domain = Czech/Slovak interior
        rtOk(lit(13.25) + (k % 30).cast("double") / 4.0,
          lit(48.25) + (k % 11).cast("double") / 4.0, 5514, 1e-7)
          .as("krovak_rt_ok"),
        // Hungarian EOV (GRS67 + HD72 shift) and Austria Lambert
        // (Bessel + MGI 7-parameter shift) → 1e-7
        rtOk(lit(16.25) + (k % 24).cast("double") / 4.0,
          lit(46.0) + (k % 10).cast("double") / 4.0, 23700, 1e-7)
          .as("eov_rt_ok"),
        rtOk(lit(9.75) + (k % 28).cast("double") / 4.0,
          lit(46.5) + (k % 10).cast("double") / 4.0, 31287, 1e-7)
          .as("austria_rt_ok"),
        // NZ Map Grid (complex-series conformal on Intl 1924 + NZGD49
        // 7-parameter shift → 1e-7); reuses the NZTM domain points
        rtOk(lonNz, latNz, 27200, 1e-7).as("nzmg_rt_ok"),
        (abs(st_x(bng0) - 400000.0) < 1e-2 &&
          abs(st_y(bng0) + 100000.0) < 1e-2).as("bng_origin_ok"),
        (abs(st_x(cc0) - 1700000.0) < 1e-6 &&
          abs(st_y(cc0) - 4200000.0) < 1e-6).as("cc45_origin_ok"),
        graft.functions.st_srid(
          st_to_srid(st_set_srid(st_point(lonUk, latUk), lit(4326)), lit(27700)))
          .as("srid_bng"),
        st_get_crs_from_code(lit(27700)).contains("British National Grid")
          .as("fromcode_bng"),
        st_get_crs_authority(st_get_crs_from_code(lit(25832))).getField("_2")
          .as("wkt_code_25832")
      ).orderBy(k)
    }),

    // Registered-CRS escape hatch (graft.functions.registerCrs): a WKT1
    // definition parsed by CrsRegistry must transform identically to the
    // same CRS's embedded-table entry, and round-trip 4326 → code → 4326.
    "geo_crs4" -> ((s, dir) => {
      graft.functions.registerCrs(927700,
        """PROJCS["OSGB36 / British National Grid",GEOGCS["OSGB36",DATUM["Ordnance_Survey_of_Great_Britain_1936",SPHEROID["Airy 1830",6377563.396,299.3249646],TOWGS84[446.448,-125.157,542.06,0.1502,0.247,0.8421,-20.4894]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],PROJECTION["Transverse_Mercator"],PARAMETER["latitude_of_origin",49],PARAMETER["central_meridian",-2],PARAMETER["scale_factor",0.9996012717],PARAMETER["false_easting",400000],PARAMETER["false_northing",-100000],UNIT["metre",1],AUTHORITY["EPSG","27700"]]""")
      // ESRI dialect (ArcGIS .prj): D_-prefixed datum, no TOWGS84, no
      // AUTHORITY — the datum-name table recovers the OSGB36 Helmert and
      // sridForWkt infers 27700 from the embedded table
      val esriBngPrj =
        """PROJCS["British_National_Grid",GEOGCS["GCS_OSGB_1936",DATUM["D_OSGB_1936",SPHEROID["Airy_1830",6377563.396,299.3249646]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],PROJECTION["Transverse_Mercator"],PARAMETER["False_Easting",400000.0],PARAMETER["False_Northing",-100000.0],PARAMETER["Central_Meridian",-2.0],PARAMETER["Scale_Factor",0.9996012717],PARAMETER["Latitude_Of_Origin",49.0],UNIT["Meter",1.0]]"""
      graft.functions.registerCrs(957700, esriBngPrj)
      graft.functions.registerCrs(905514,
        """PROJCS["S-JTSK / Krovak East North",GEOGCS["S-JTSK",DATUM["System_Jednotne_Trigonometricke_Site_Katastralni",SPHEROID["Bessel 1841",6377397.155,299.1528128],TOWGS84[589,76,480,0,0,0,0]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],PROJECTION["Krovak"],PARAMETER["latitude_of_center",49.5],PARAMETER["longitude_of_center",24.83333333333333],PARAMETER["azimuth",30.28813972527778],PARAMETER["pseudo_standard_parallel_1",78.5],PARAMETER["scale_factor",0.9999],PARAMETER["false_easting",0],PARAMETER["false_northing",0],UNIT["metre",1]]""")
      val lonUk = (k % 24).cast("double") / 4.0 - 5.0
      val latUk = lit(50.25) + (k % 26).cast("double") / 4.0
      val lonCz = lit(12.25) + (k % 26).cast("double") / 4.0
      val latCz = lit(48.75) + (k % 10).cast("double") / 4.0
      def viaBoth(lon: Column, lat: Column, builtin: Int, reg: Int, tol: Double): Column = {
        val p = st_set_srid(st_point(lon, lat), lit(4326))
        val a = st_to_srid(p, lit(builtin))
        val b = st_to_srid(p, lit(reg))
        abs(st_x(a) - st_x(b)) < tol && abs(st_y(a) - st_y(b)) < tol
      }
      def rtOk(lon: Column, lat: Column, epsg: Int, tol: Double): Column = {
        val p = st_set_srid(st_point(lon, lat), lit(4326))
        val back = st_to_srid(st_to_srid(p, lit(epsg)), lit(4326))
        abs(st_x(back) - lon) < tol && abs(st_y(back) - lat) < tol
      }
      base(s, dir).select(k,
        viaBoth(lonUk, latUk, 27700, 927700, 1e-5).as("reg_bng_match_ok"),
        // 1 cm: the built-in azimuth is the sexagesimal 30°17'17.3031" and
        // the WKT prints its own decimal rounding — ~3 mm apart
        viaBoth(lonCz, latCz, 5514, 905514, 1e-2).as("reg_krovak_match_ok"),
        rtOk(lonUk, latUk, 927700, 1e-6).as("reg_bng_rt_ok"),
        rtOk(lonCz, latCz, 905514, 1e-5).as("reg_krovak_rt_ok"),
        st_get_crs_from_code(lit(927700)).contains("British National Grid")
          .as("reg_wkt_ok"),
        // ESRI-dialect .prj ≡ EPSG-table twin (Helmert from the datum NAME)
        viaBoth(lonUk, latUk, 27700, 957700, 1e-4).as("esri_bng_match_ok"),
        rtOk(lonUk, latUk, 957700, 1e-6).as("esri_bng_rt_ok"),
        lit(graft.functions.CrsRegistry.sridForWkt(esriBngPrj) == 27700)
          .as("esri_infer_ok")
      ).orderBy(k)
    }),

    // r9: the NTv2 grid-shift seam end-to-end. A hand-authored .gsb with
    // a DYADIC bilinear shift field (all node values exact in float32)
    // registers for NAD27; st_to_srid must then apply the interpolated
    // grid inside coverage (pinned against the closed-form field), invert
    // through the fixed-point iteration, and fall back to the Helmert
    // outside coverage.
    "geo_crs6" -> ((s, dir) => {
      val nCols = 5; val nRows = 5
      val latSh = new Array[Float](nRows * nCols)
      val lonSh = new Array[Float](nRows * nCols)
      for (r <- 0 until nRows; c <- 0 until nCols) {
        latSh(r * nCols + c) = (1.0 + 0.125 * r + 0.25 * c).toFloat
        lonSh(r * nCols + c) = (2.0 + 0.0625 * r - 0.125 * c).toFloat
      }
      val grid = graft.functions.NTv2.SubGrid("MAIN", "NONE",
        sLat = 144000.0, nLat = 151200.0, eLong = 352800.0, wLong = 360000.0,
        latInc = 1800.0, lonInc = 1800.0, latSh, lonSh)
      graft.functions.CrsRegistry.registerGridShift("NAD27",
        graft.functions.NTv2.write(graft.functions.NTv2.GridFile(Seq(grid))))
      // interior points at eighth-degree steps (dyadic node fractions)
      val lon = -(lit(98.25) + (k % 6).cast("double") / 8.0)
      val lat = lit(40.25) + (k % 12).cast("double") / 8.0
      val p = st_set_srid(st_point(lon, lat), lit(4267))
      val w = st_to_srid(p, lit(4326))
      // closed-form field in Column arithmetic (r, c from the grid layout)
      val rr = (lat * 3600.0 - 144000.0) / 1800.0
      val cc = (-lon * 3600.0 - 352800.0) / 1800.0
      val dLatSec = lit(1.0) + rr * 0.125 + cc * 0.25
      val dLonWSec = lit(2.0) + rr * 0.0625 - cc * 0.125
      val gridLatOk = abs(st_y(w) - (lat + dLatSec / 3600.0)) < 1e-9
      val gridLonOk = abs(st_x(w) - (lon - dLonWSec / 3600.0)) < 1e-9
      val back = st_to_srid(w, lit(4267))
      val rtOk6 = abs(st_x(back) - lon) < 1e-9 && abs(st_y(back) - lat) < 1e-9
      // outside coverage the Helmert fallback applies: shifts there are
      // datum-level (tens of metres), NOT the fixture field
      val lonOut = lon - 20.0
      val pOut = st_set_srid(st_point(lonOut, lat), lit(4267))
      val wOut = st_to_srid(pOut, lit(4326))
      val helmertOk = abs(st_x(wOut) - lonOut) > 1e-5 &&
        abs(st_x(wOut) - lonOut) < 1e-2 &&
        abs(st_x(wOut) - (lonOut - (lit(2.0) + rr * 0.0625) / 3600.0)) > 1e-6
      // materialize WHILE registered, then unregister: the registry is
      // JVM-global and the fixture field must not leak into later NAD27
      // transforms (the cached result keeps serving this frame)
      val out = base(s, dir).select(k,
        gridLatOk.as("grid_lat_ok"), gridLonOk.as("grid_lon_ok"),
        rtOk6.as("grid_rt_ok"), helmertOk.as("helmert_out_ok"))
        .orderBy(k)
        .cache()
      out.count()
      graft.functions.CrsRegistry.unregisterGridShift("NAD27")
      out
    }),

    // Round-7 EPSG tranche: US state planes (metres + US survey foot via
    // UnitScaled), ETRS89 national LCCs, SIRGAS 2000 UTM south zones.
    // All on WGS84-coincident datums → round trips at 1e-8; the ftUS/metre
    // twins must agree exactly up to the published foot factor.
    "geo_crs5" -> ((s, dir) => {
      def rtOk(lon: Column, lat: Column, epsg: Int, tol: Double): Column = {
        val p = st_set_srid(st_point(lon, lat), lit(4326))
        val back = st_to_srid(st_to_srid(p, lit(epsg)), lit(4326))
        abs(st_x(back) - lon) < tol && abs(st_y(back) - lat) < tol
      }
      val ftUS = 1200.0 / 3937.0
      // ftUS grid == metre grid ÷ foot, same point, to 1e-6 m
      def ftConsistent(lon: Column, lat: Column, mCode: Int, fCode: Int): Column = {
        val p = st_set_srid(st_point(lon, lat), lit(4326))
        val m = st_to_srid(p, lit(mCode))
        val f = st_to_srid(p, lit(fCode))
        abs(st_x(f) * ftUS - st_x(m)) < 1e-6 && abs(st_y(f) * ftUS - st_y(m)) < 1e-6
      }
      val lonTx = -(lit(99.25) + (k % 10).cast("double") / 4.0)   // -99.25 .. -101.5
      val latTx = lit(29.75) + (k % 8).cast("double") / 4.0       // 29.75 .. 31.5
      val lonNy = -(lit(72.5) + (k % 8).cast("double") / 4.0)     // -72.5 .. -74.25
      val latNy = lit(40.5) + (k % 3).cast("double") / 4.0        // 40.5 .. 41.0
      val lonCa = -(lit(117.25) + (k % 19).cast("double") / 4.0)  // -117.25 .. -121.75
      val latCa = lit(36.25) + (k % 9).cast("double") / 4.0       // 36.25 .. 38.25
      val lonPa = -(lit(75.25) + (k % 20).cast("double") / 4.0)
      val latPa = lit(39.5) + (k % 6).cast("double") / 4.0
      val lonWa = -(lit(117.25) + (k % 30).cast("double") / 4.0)
      val latWa = lit(47.25) + (k % 7).cast("double") / 4.0
      val lonMa = -(lit(69.75) + (k % 15).cast("double") / 4.0)
      val latMa = lit(41.25) + (k % 7).cast("double") / 4.0
      val lonFl = -(lit(80.0) + (k % 6).cast("double") / 4.0)
      val latFl = lit(24.75) + (k % 14).cast("double") / 4.0
      val lonEu = (k % 120).cast("double") / 4.0 - 10.0           // -10 .. 19.75
      val latEu = lit(36.25) + (k % 115).cast("double") / 4.0     // 36.25 .. 64.75
      val lonPt = -(lit(6.25) + (k % 13).cast("double") / 4.0)
      val latPt = lit(37.25) + (k % 19).cast("double") / 4.0
      val lonBr = -(lit(43.25) + (k % 12).cast("double") / 4.0)   // zone 23S domain
      val latBr = -(lit(20.25) + (k % 14).cast("double") / 4.0)
      base(s, dir).select(k,
        rtOk(lonTx, latTx, 32139, 1e-8).as("tx_m_rt_ok"),
        rtOk(lonTx, latTx, 2277, 1e-8).as("tx_ft_rt_ok"),
        rtOk(lonNy, latNy, 2263, 1e-8).as("nyli_ft_rt_ok"),
        rtOk(lonCa, latCa, 2227, 1e-8).as("ca3_ft_rt_ok"),
        rtOk(lonPa, latPa, 32129, 1e-8).as("pas_rt_ok"),
        rtOk(lonWa, latWa, 2285, 1e-8).as("wan_ft_rt_ok"),
        rtOk(lonMa, latMa, 2249, 1e-8).as("mam_ft_rt_ok"),
        rtOk(lonFl, latFl, 2236, 1e-8).as("fle_ft_rt_ok"),
        rtOk(lonTx, latTx, 26954, 1e-8).as("coc_rt_ok"), // CO grid math holds anywhere conic does
        rtOk(lonEu, latEu, 3034, 1e-8).as("lcc_eu_rt_ok"),
        rtOk(lonPt, latPt, 3763, 1e-8).as("pt06_rt_ok"),
        rtOk(lonEu, lit(46.25) + (k % 6).cast("double") / 4.0, 3416, 1e-8)
          .as("at_lcc_rt_ok"),
        rtOk(lit(2.75) + (k % 14).cast("double") / 4.0,
          lit(49.75) + (k % 7).cast("double") / 4.0, 3812, 1e-8)
          .as("be08_rt_ok"),
        rtOk(lit(6.25) + (k % 36).cast("double") / 4.0,
          lit(47.25) + (k % 30).cast("double") / 4.0, 5243, 1e-8)
          .as("de_lcc_rt_ok"),
        rtOk(lonBr, latBr, 31983, 1e-8).as("sirgas23s_rt_ok"),
        rtOk(-(lit(67.25) + (k % 12).cast("double") / 4.0),
          -(lit(5.25) + (k % 30).cast("double") / 4.0), 31979, 1e-8)
          .as("sirgas19s_rt_ok"),
        ftConsistent(lonTx, latTx, 32139, 2277).as("tx_ft_m_ok"),
        ftConsistent(lonNy, latNy, 32118, 2263).as("nyli_ft_m_ok"),
        ftConsistent(lonCa, latCa, 26943, 2227).as("ca3_ft_m_ok"),
        ftConsistent(lonFl, latFl, 26958, 2236).as("fle_ft_m_ok"),
        st_get_crs_from_code(lit(2277)).contains("US survey foot")
          .as("ft_wkt_unit_ok"),
        // round-7 tranche: Nordic/Baltic national grids (shift-free →
        // 1e-8). NTM zone 10's domain straddles its half-degree meridian.
        rtOk(lit(9.75) + (k % 7).cast("double") / 4.0,
          lit(58.25) + (k % 24).cast("double") / 4.0, 5110, 1e-8)
          .as("ntm10_rt_ok"),
        rtOk(lit(22.25) + (k % 23).cast("double") / 4.0,
          lit(57.75) + (k % 7).cast("double") / 4.0, 3301, 1e-8)
          .as("est97_rt_ok"),
        rtOk(lit(21.25) + (k % 27).cast("double") / 4.0,
          lit(55.75) + (k % 9).cast("double") / 4.0, 3059, 1e-8)
          .as("lks92_rt_ok"),
        rtOk(lit(21.25) + (k % 21).cast("double") / 4.0,
          lit(54.0) + (k % 10).cast("double") / 4.0, 3346, 1e-8)
          .as("lks94_rt_ok"),
        rtOk(lit(8.25) + (k % 13).cast("double") / 4.0,
          lit(54.75) + (k % 11).cast("double") / 4.0, 4094, 1e-8)
          .as("dktm2_rt_ok"),
        // round-8 tranche: Pulkovo 1942 Gauss-Krüger (Krassowsky +
        // 3-param shift → 1e-7) and NAD83 MTM (shift-free → 1e-8)
        rtOk(lit(37.25) + (k % 19).cast("double") / 4.0,
          lit(50.25) + (k % 32).cast("double") / 4.0, 28407, 1e-7)
          .as("gk7_rt_ok"),
        rtOk(lit(61.25) + (k % 19).cast("double") / 4.0,
          lit(52.25) + (k % 32).cast("double") / 4.0, 28411, 1e-7)
          .as("gk11_rt_ok"),
        rtOk(-(lit(69.25) + (k % 10).cast("double") / 4.0),
          lit(45.25) + (k % 32).cast("double") / 4.0, 32187, 1e-8)
          .as("mtm7_rt_ok"),
        rtOk(-(lit(78.25) + (k % 10).cast("double") / 4.0),
          lit(43.25) + (k % 32).cast("double") / 4.0, 32190, 1e-8)
          .as("mtm10_rt_ok"),
        // Austria Gauss-Krüger (MGI Bessel + 7-param shift → 1e-7)
        rtOk(lit(12.25) + (k % 9).cast("double") / 4.0,
          lit(46.5) + (k % 9).cast("double") / 4.0, 31285, 1e-7)
          .as("atm31_rt_ok"),
        // round-9 tranche: Poland CS2000 zone 6 + Greek Grid (3-param
        // shift → 1e-7) + Korea Central Belt 2010 + Italy Gauss-Boaga
        // (7-param shift → 1e-7) + the EASE-Grid 2.0 equal-area trio
        rtOk(lit(16.75) + (k % 12).cast("double") / 4.0,
          lit(49.25) + (k % 22).cast("double") / 4.0, 2177, 1e-8)
          .as("pl2000_rt_ok"),
        rtOk(lit(20.25) + (k % 26).cast("double") / 4.0,
          lit(35.25) + (k % 26).cast("double") / 4.0, 2100, 1e-7)
          .as("greek_rt_ok"),
        rtOk(lit(126.25) + (k % 8).cast("double") / 4.0,
          lit(33.25) + (k % 22).cast("double") / 4.0, 5186, 1e-8)
          .as("korea_c_rt_ok"),
        rtOk(lit(7.25) + (k % 14).cast("double") / 4.0,
          lit(37.25) + (k % 36).cast("double") / 4.0, 3003, 1e-7)
          .as("gaussboaga_rt_ok"),
        rtOk((k % 120).cast("double") - 60.0,
          lit(45.25) + (k % 120).cast("double") / 4.0, 6931, 1e-8)
          .as("ease_n_rt_ok"),
        rtOk((k % 120).cast("double") - 60.0,
          -(lit(45.25) + (k % 120).cast("double") / 4.0), 6932, 1e-8)
          .as("ease_s_rt_ok"),
        rtOk((k % 500).cast("double") / 2.0 - 125.0,
          (k % 300).cast("double") / 4.0 - 37.5, 6933, 1e-8)
          .as("ease_g_rt_ok")
      ).orderBy(k)
    }),

    // Round-10 tranche: the COMPLETE SPCS83 zone set (EpsgDb spLcc/spTm
    // tables + Alaska 1-10 + Hawaii) with metre/foot twins in BOTH foot
    // units, the Hotine Oblique Mercator seam (Alaska zone 1 variant A,
    // Timbalai RSO variant B with its datum shift), and the WKT unit
    // names. All NAD83 zones are shift-free → 1e-8; Timbalai carries a
    // geocentric translation → 1e-7.
    "geo_crs7" -> ((s, dir) => {
      def rtOk(lon: Column, lat: Column, epsg: Int, tol: Double): Column = {
        val p = st_set_srid(st_point(lon, lat), lit(4326))
        val back = st_to_srid(st_to_srid(p, lit(epsg)), lit(4326))
        abs(st_x(back) - lon) < tol && abs(st_y(back) - lat) < tol
      }
      // foot grid == metre grid ÷ unit factor, same point, to 1e-6 m
      def twinOk(lon: Column, lat: Column, mCode: Int, fCode: Int,
          factor: Double): Column = {
        val p = st_set_srid(st_point(lon, lat), lit(4326))
        val m = st_to_srid(p, lit(mCode))
        val f = st_to_srid(p, lit(fCode))
        abs(st_x(f) * factor - st_x(m)) < 1e-6 &&
          abs(st_y(f) * factor - st_y(m)) < 1e-6
      }
      val ftUS = 1200.0 / 3937.0
      val ftI = 0.3048
      val lonAk1 = -(lit(130.75) + (k % 22).cast("double") / 4.0)
      val latAk1 = lit(55.25) + (k % 18).cast("double") / 4.0
      val lonMi = -(lit(83.75) + (k % 26).cast("double") / 4.0)
      val latMi = lit(45.0) + (k % 10).cast("double") / 4.0
      val lonNc = -(lit(75.75) + (k % 33).cast("double") / 4.0)
      val latNc = lit(33.75) + (k % 10).cast("double") / 4.0
      val lonNv = -(lit(115.25) + (k % 12).cast("double") / 4.0)
      val latNv = lit(36.25) + (k % 22).cast("double") / 4.0
      val lonAz = -(lit(109.25) + (k % 10).cast("double") / 4.0)
      val latAz = lit(31.75) + (k % 18).cast("double") / 4.0
      val lonKy = -(lit(82.25) + (k % 30).cast("double") / 4.0)
      val latKy = lit(36.5) + (k % 10).cast("double") / 4.0
      base(s, dir).select(k,
        rtOk(lonAk1, latAk1, 26931, 1e-8).as("ak1_hotine_rt_ok"),
        rtOk(-(lit(152.25) + (k % 12).cast("double") / 4.0),
          lit(56.25) + (k % 26).cast("double") / 4.0, 26935, 1e-8)
          .as("ak5_rt_ok"),
        rtOk(-(lit(157.25) + (k % 6).cast("double") / 4.0),
          lit(21.0) + (k % 5).cast("double") / 4.0, 26963, 1e-8)
          .as("hi3_rt_ok"),
        rtOk(-(lit(104.25) + (k % 40).cast("double") / 4.0),
          lit(44.75) + (k % 17).cast("double") / 4.0, 32100, 1e-8)
          .as("mt_rt_ok"),
        rtOk(lonNc, latNc, 32119, 1e-8).as("nc_rt_ok"),
        rtOk(lonMi, latMi, 26988, 1e-8).as("mi_n_rt_ok"),
        rtOk(lonNv, latNv, 32108, 1e-8).as("nv_c_rt_ok"),
        rtOk(-(lit(106.25) + (k % 10).cast("double") / 4.0),
          lit(40.75) + (k % 16).cast("double") / 4.0, 32156, 1e-8)
          .as("wy_ec_rt_ok"),
        rtOk(lonKy, latKy, 3088, 1e-8).as("ky_1z_rt_ok"),
        rtOk(-(lit(64.75) + (k % 16).cast("double") / 4.0),
          lit(17.75) + (k % 5).cast("double") / 4.0, 32161, 1e-8)
          .as("prvi_rt_ok"),
        rtOk(-(lit(89.25) + (k % 10).cast("double") / 4.0),
          lit(36.25) + (k % 16).cast("double") / 4.0, 26996, 1e-8)
          .as("mo_e_rt_ok"),
        rtOk(lit(113.25) + (k % 22).cast("double") / 4.0,
          lit(0.75) + (k % 26).cast("double") / 4.0, 29873, 1e-7)
          .as("timbalai_rt_ok"),
        twinOk(lonMi, latMi, 26988, 2251, ftI).as("mi_ft_m_ok"),
        twinOk(lonNc, latNc, 32119, 2264, ftUS).as("nc_ft_m_ok"),
        twinOk(lonAz, latAz, 26948, 2222, ftI).as("az_ft_m_ok"),
        twinOk(lonNv, latNv, 32108, 3422, ftUS).as("nv_ft_m_ok"),
        twinOk(lonKy, latKy, 3088, 3089, ftUS).as("ky_ft_m_ok"),
        twinOk(lonMi, lit(42.25) + (k % 5).cast("double") / 4.0,
          32154, 2289, ftUS).as("wi_ft_m_ok"),
        // Brazil Polyconic (method 9818): SIRGAS frame shift-free,
        // SAD69 legacy frame through its geocentric translation; NAD27
        // UTM through the published mean translation
        rtOk(-(lit(40.25) + (k % 50).cast("double") / 4.0),
          -(lit(2.25) + (k % 50).cast("double") / 4.0), 5880, 1e-8)
          .as("brpoly_rt_ok"),
        rtOk(-(lit(40.25) + (k % 50).cast("double") / 4.0),
          -(lit(2.25) + (k % 50).cast("double") / 4.0), 29101, 1e-7)
          .as("sad69poly_rt_ok"),
        rtOk(-(lit(84.25) + (k % 10).cast("double") / 4.0),
          lit(30.25) + (k % 60).cast("double") / 4.0, 26716, 1e-7)
          .as("nad27utm_rt_ok"),
        // WKT unit names: international foot vs US survey foot
        st_get_crs_from_code(lit(2251)).contains("UNIT[\"foot\"")
          .as("ft_intl_unit_ok"),
        st_get_crs_from_code(lit(2264)).contains("US survey foot")
          .as("ft_us_unit_ok"),
        st_get_crs_from_code(lit(26931)).contains("Hotine_Oblique_Mercator")
          .as("hotine_wkt_ok"),
        // r10 tranche: Japan Plane CS (all three datum frames) + WGS72 UTM
        rtOk(lit(139.25) + (k % 8).cast("double") / 4.0,
          lit(34.75) + (k % 10).cast("double") / 4.0, 2451, 1e-8)
          .as("jgd2000_ix_rt_ok"),
        rtOk(lit(139.25) + (k % 8).cast("double") / 4.0,
          lit(34.75) + (k % 10).cast("double") / 4.0, 30169, 1e-8)
          .as("tokyo_ix_rt_ok"),
        rtOk(-(lit(124.25) + (k % 10).cast("double") / 4.0),
          lit(42.25) + (k % 40).cast("double") / 4.0, 32210, 1e-8)
          .as("wgs72_utm10_rt_ok"),
        rtOk(lit(3.25) + (k % 10).cast("double") / 4.0,
          -(lit(30.25) + (k % 16).cast("double") / 4.0), 32531, 1e-8)
          .as("wgs72be_utm31s_rt_ok")
      ).orderBy(k)
    }),

    // PROJ.4-string escape hatch (r13): registerCrs accepts the `+proj=`
    // grammar (the other definition text epsg.io serves, reference
    // capability via pyproj: functions.rs:1868-1939); each registered
    // string must transform like its embedded-table twin through
    // st_to_srid — tmerc+towgs84 (BNG), lcc 2SP (Lambert-93), the
    // +datum=NAD27 shorthand (UTM 14N), somerc (LV95), and round-trip.
    "geo_crs8" -> ((s, dir) => {
      graft.functions.registerCrs(947700,
        "+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 +x_0=400000 " +
          "+y_0=-100000 +ellps=airy " +
          "+towgs84=446.448,-125.157,542.06,0.15,0.247,0.842,-20.489 " +
          "+units=m +no_defs")
      graft.functions.registerCrs(942154,
        "+proj=lcc +lat_0=46.5 +lon_0=3 +lat_1=49 +lat_2=44 +x_0=700000 " +
          "+y_0=6600000 +ellps=GRS80 +towgs84=0,0,0,0,0,0,0 +units=m +no_defs")
      graft.functions.registerCrs(946714,
        "+proj=utm +zone=14 +datum=NAD27 +units=m +no_defs")
      graft.functions.registerCrs(942056,
        "+proj=somerc +lat_0=46.95240555555556 +lon_0=7.439583333333333 " +
          "+k_0=1 +x_0=2600000 +y_0=1200000 +ellps=bessel " +
          "+towgs84=674.374,15.056,405.346,0,0,0,0 +units=m +no_defs")
      graft.functions.registerCrs(944087,
        "+proj=eqc +lat_ts=0 +lat_0=0 +lon_0=0 +x_0=0 +y_0=0 " +
          "+datum=WGS84 +units=m +no_defs")
      // r14: classic (single) oblique stereographic — the non-polar
      // +proj=stere aspect (Snyder §21 on the conformal latitude)
      graft.functions.registerCrs(945593,
        "+proj=stere +lat_0=59 +lon_0=25 +k=1 +x_0=0 +y_0=0 " +
          "+ellps=GRS80 +towgs84=0,0,0 +units=m +no_defs")
      graft.functions.registerCrs(945594,
        "+proj=stere +lat_0=40 +lon_0=-100 +R=1 +towgs84=0,0,0 +no_defs")
      def viaBoth(lon: Column, lat: Column, builtin: Int, reg: Int,
          tol: Double): Column = {
        val p = st_set_srid(st_point(lon, lat), lit(4326))
        val a = st_to_srid(p, lit(builtin))
        val b = st_to_srid(p, lit(reg))
        abs(st_x(a) - st_x(b)) < tol && abs(st_y(a) - st_y(b)) < tol
      }
      def rtOk(lon: Column, lat: Column, epsg: Int, tol: Double): Column = {
        val p = st_set_srid(st_point(lon, lat), lit(4326))
        val back = st_to_srid(st_to_srid(p, lit(epsg)), lit(4326))
        abs(st_x(back) - lon) < tol && abs(st_y(back) - lat) < tol
      }
      val lonUk = (k % 24).cast("double") / 4.0 - 5.0
      val latUk = lit(50.25) + (k % 26).cast("double") / 4.0
      val lonFr = lit(2.25) + (k % 16).cast("double") / 4.0
      val latFr = lit(43.75) + (k % 20).cast("double") / 4.0
      val lonUs = -(lit(96.25) + (k % 16).cast("double") / 4.0)
      val latUs = lit(30.25) + (k % 32).cast("double") / 4.0
      val lonCh = lit(6.25) + (k % 14).cast("double") / 4.0
      val latCh = lit(45.95) + (k % 8).cast("double") / 4.0
      base(s, dir).select(k,
        // epsg.io prints the BNG towgs84 with fewer decimals than the
        // table's full-precision Helmert — ~cm of rounding, 5 cm budget
        viaBoth(lonUk, latUk, 27700, 947700, 0.05).as("p4_bng_match_ok"),
        viaBoth(lonFr, latFr, 2154, 942154, 1e-5).as("p4_l93_match_ok"),
        viaBoth(lonUs, latUs, 26714, 946714, 1e-5).as("p4_nad27_match_ok"),
        viaBoth(lonCh, latCh, 2056, 942056, 1e-5).as("p4_lv95_match_ok"),
        rtOk(lonUk, latUk, 947700, 1e-6).as("p4_bng_rt_ok"),
        rtOk(lonFr, latFr, 942154, 1e-8).as("p4_l93_rt_ok"),
        rtOk(lonUs, latUs, 946714, 1e-6).as("p4_nad27_rt_ok"),
        rtOk(lonCh, latCh, 942056, 1e-6).as("p4_lv95_rt_ok"),
        // equidistant cylindrical (r13 family): registered proj4 vs the
        // embedded 4087 entry, + round trip (series inverse, ~2e-9°)
        viaBoth(lonFr, latFr, 4087, 944087, 1e-6).as("p4_eqc_match_ok"),
        rtOk(lonFr, latFr, 944087, 1e-7).as("p4_eqc_rt_ok"),
        // the definition resolver infers an embedded code from a proj4
        // string whose parameters match (3006 SWEREF99 TM ≡ UTM 33N)
        lit(graft.functions.CrsRegistry.sridForWkt(
          "+proj=utm +zone=33 +ellps=GRS80 +towgs84=0,0,0 +units=m +no_defs")
          == 3006).as("p4_infer_ok"),
        // r14: classic oblique stere — per-row round trip over the Baltic
        // (conformal fixed-point inverse converges ≪1e-10°)...
        rtOk(lit(22.25) + (k % 16).cast("double") / 4.0,
          lit(56.25) + (k % 14).cast("double") / 4.0, 945593, 1e-8)
          .as("p4_stere_obl_rt_ok"),
        // ...and the published Snyder PP 1395 sphere example: R=1,
        // lat_0=40N, lon_0=100W, point (75W, 30N) → (0.3807224,
        // −0.1263802) — e→0 reduction of the ellipsoidal forms
        {
          val sny = st_to_srid(st_set_srid(
            st_point(lit(-75.0), lit(30.0)), lit(4326)), lit(945594))
          (abs(st_x(sny) - 0.3807224) < 5e-7 &&
            abs(st_y(sny) + 0.1263802) < 5e-7).as("p4_stere_snyder_ok")
        }
      ).orderBy(k)
    }),

    // --------------------------------------------- §2.12 serialization
    "geo_serde" -> ((s, dir) => {
      val xiD = (k % 1000000).cast("double") * 16.0
      val yiD = (k % 16).cast("double") * 16.0
      val ptInt = st_point(xiD, yiD)
      val ptFrac = st_point(xiD + 0.25, yiD)
      base(s, dir).select(k,
        st_aswkt(ptInt).as("wkt_int"),
        st_aswkt(ptFrac).as("wkt_frac"),
        st_aswkt(ptFrac, lit(6)).as("wkt_prec"),
        st_asewkt(st_set_srid(ptInt, lit(4326))).as("ewkt_s"),
        length(st_aswkb(pt, lit(2), lit(false), lit(false))).as("wkb_len"),
        hex(substring(st_aswkb(pt, lit(2), lit(true), lit(false)), 1, 1)).as("wkb_be"),
        length(st_aswkb(st_set_srid(pt, lit(4326)), lit(2), lit(false), lit(true))).as("wkb_srid_len"),
        st_x(graft.functions.st_geomfromwkb(st_aswkb(pt, lit(2), lit(false), lit(false)))).as("wkbrt_x"),
        st_asgeojson(ptInt).as("gj_s"),
        st_x(st_geomfromgeojson(st_asgeojson(ptFrac))).as("gj_rt_x"),
        graft.functions.st_srid(st_geomfromewkt(st_asewkt(st_set_srid(pt, lit(4326))))).as("ewkt_rt")
      ).orderBy(k)
    }),

    /** Serializer kwargs (reference `to_wkt(trim, old_3d)`,
      * `to_geojson(indent)`, `geoexpr.py:349-355,418-427`): fixed-decimal
      * WKT, tagless legacy 3D, pretty GeoJSON. */
    "geo_serde_kw" -> ((s, dir) => {
      val xiD = (k % 1000000).cast("double") * 16.0
      val yiD = (k % 16).cast("double") * 16.0
      val pf = st_point(xiD + 0.25, yiD)
      val pz = st_point(xiD + 0.25, yiD, lit(1.25))
      base(s, dir).select(k,
        st_aswkt(pf, lit(2), lit(false), lit(3), lit(false)).as("wkt_fixed"),
        st_aswkt(pz, lit(6), lit(true), lit(3), lit(true)).as("wkt_old3d"),
        st_aswkt(pz, lit(6), lit(true), lit(3), lit(false)).as("wkt_ztag"),
        st_asewkt(st_set_srid(pf, lit(3857)), lit(2), lit(false), lit(3),
          lit(false)).as("ewkt_fixed"),
        st_asgeojson(pf, lit(-1)).as("gj_compact"),
        contains(st_asgeojson(pf, lit(0)), lit("\n")).as("gj_nl"),
        contains(st_asgeojson(pf, lit(2)), lit("  \"coordinates\"")).as("gj_ind")
      ).orderBy(k)
    }),

    // ------------------------------------------------ §2.10 spatial join
    "geo_sjoin_broadcast" -> ((s, dir) => {
      val left = base(s, dir).select(k.as("lk"), rect.as("geometry"))
      val right = base(s, dir).select(k.as("rk"), pt.as("geometry"))
      val inner = graft.join.SpatialJoin.sjoin(left, right, "contains", "inner")
        .agg(count(lit(1)).as("n_pairs"),
          sum((col("lk") === col("rk")).cast("long")).as("n_same"))
      val rightEven = base(s, dir).filter(k % 2 === 0)
        .select(k.as("rk"), pt.as("geometry"))
      val leftJ = graft.join.SpatialJoin.sjoin(left, rightEven, "contains", "left")
        .agg(count(lit(1)).as("n_left_rows"),
          sum(col("rk").isNull.cast("long")).as("n_left_null"))
      inner.crossJoin(leftJ)
    }),

    // planner-strategy path: a plain join(condition) auto-plans as the
    // STRtree exec when GraftExtensions is installed (Verify session is);
    // without the extension the same query still computes via Spark's
    // default nested-loop join — semantics identical either way.
    "geo_sjoin_auto" -> ((s, dir) => {
      val left = base(s, dir).select(k.as("lk"), rect.as("geometry"))
      val right = base(s, dir).select(k.as("rk"), pt.as("pgeom"))
      val plain = left.join(right, st_contains(col("geometry"), col("pgeom")))
        .agg(count(lit(1)).as("n_pairs"),
          sum((col("lk") === col("rk")).cast("long")).as("n_same"))
      // r9: the SAME plain-join API over two same-grid bucketed stores
      // must auto-plan exchange-free (BucketedSpatialJoinRule) and agree
      Seq("graft_q_auto_l", "graft_q_auto_r")
        .foreach(graft.join.SpatialJoin.dropBucketedTable(s, _))
      graft.join.SpatialJoin.writeSpatialBucketed(left, "graft_q_auto_l", 16.0, 32)
      graft.join.SpatialJoin.writeSpatialBucketed(right, "graft_q_auto_r", 16.0, 32,
        geom = "pgeom")
      val prevBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val (bkt, planShuffleFree) =
        try {
          val j = s.table("graft_q_auto_l").join(s.table("graft_q_auto_r"),
            st_contains(col("geometry"), col("pgeom")))
          (j, !j.queryExecution.executedPlan.toString.contains("Exchange"))
        } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      val bktAgg = bkt.agg(count(lit(1)).as("n_pairs_bkt"),
        sum((col("lk") === col("rk")).cast("long")).as("n_same_bkt"))
        .withColumn("auto_shuffle_free", lit(planShuffleFree))
      plain.crossJoin(bktAgg)
    }),

    /** Stream-static spatial join (r10): events become a file-source
      * stream of points; each micro-batch probes the broadcast prepared
      * STRtree of a static zone table
      * ([[graft.streaming.GeoStreaming.sjoinStream]], append mode — a
      * stateless per-batch enrichment, the standard streaming
      * geo-enrichment shape). Pins: per-zone counts/sums closed-form in
      * DuckDB (point x = id%16 + ¼ lies strictly within zone [z, z+1)),
      * AND batch ≡ stream — the same pairs the batch planner's spatial
      * join produces (full-outer sym-diff 0). */
    "geo_stream_sjoin" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"))
        .withColumn("geometry", graft.functions.st_point(
          (col("event_id") % 16).cast("double") + 0.25,
          (col("event_id") % 8).cast("double") + 0.25))
      val zones = s.range(16).select(col("id").as("zone_id"),
        graft.functions.st_rectangle(col("id").cast("double"), lit(0.0),
          col("id").cast("double") + 1.0, lit(8.0)).as("geometry"))
      val got = graft.streaming.StreamDrain.availableNow(s, ev, "stream_sjoin",
          in => graft.streaming.GeoStreaming.sjoinStream(in, zones, "within"))
        .select(col("event_id"), col("zone_id"))
      val batchPairs = ev.join(zones.withColumnRenamed("geometry", "zgeom"),
          graft.functions.st_within(col("geometry"), col("zgeom")))
        .select(col("event_id"), col("zone_id"))
      val symDiff = got.withColumn("s", lit(1))
        .join(batchPairs.withColumn("b", lit(1)), Seq("event_id", "zone_id"), "full")
        .filter(col("s").isNull || col("b").isNull)
      got.groupBy(col("zone_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("sum_event_id"))
        .crossJoin(symDiff.agg(count(lit(1)).as("n_sym_diff")))
        .orderBy(col("zone_id"))
    }),

    /** Stream-static k-NEAREST enrichment (r15): events stream probes a
      * broadcast static point lattice; each event's strict nearest
      * static point is its own cell's corner — (id%16, id%8) at distance
      * sqrt(0.125), margin 2.2× to the runner-up, so membership/rank
      * never sits on a boundary. The hashed distance is recomputed from
      * coordinates via correctly-rounded sqrt (same convention as the
      * geo_sjoin_nearest rows); stateless append mode — batch ≡ stream
      * by construction, pinned in StreamingSpec. */
    "geo_stream_nearest" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"))
        .withColumn("geometry", graft.functions.st_point(
          (col("event_id") % 16).cast("double") + 0.25,
          (col("event_id") % 8).cast("double") + 0.25))
      // floor(id/16), NOT id/16: Divide on longs is TRUE division in
      // Spark (returns double) — without the floor the "lattice" would
      // be 128 points on a fractional diagonal, not a 16×8 grid
      val static = s.range(128).select(col("id").as("sid"),
        graft.functions.st_point((col("id") % 16).cast("double"),
          floor(col("id") / 16).cast("double")).as("geometry"))
      val got = graft.streaming.StreamDrain.availableNow(s, ev, "stream_nn",
          in => graft.streaming.GeoStreaming.sjoinNearestStream(in, static,
            k = 1, distanceCol = Some("d0")))
      got.select(col("event_id"), col("sid"),
          nearestHashedDist("geometry_static").as("d"))
        .groupBy(col("sid"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("event_id")).as("sum_event_id"),
          min(col("d")).as("min_d"), max(col("d")).as("max_d"))
        .orderBy(col("sid"))
    }),

    "geo_sjoin_grid" -> ((s, dir) => {
      val left = base(s, dir).select(k.as("lk"), rect.as("geometry"))
      val right = base(s, dir).select(k.as("rk"), pt.as("geometry"))
      graft.join.SpatialJoin.sjoinPartitioned(left, right, 16.0, "contains")
        .agg(count(lit(1)).as("n_pairs"),
          sum((col("lk") === col("rk")).cast("long")).as("n_same"))
    }),

    /** Grid tier under a pair-split-forcing target (r15, unasked): the
      * geo_sjoin_salted fixture through sjoinPartitioned with
      * pairsPerTask low enough that every dense cell takes the 2-D
      * (p,q) salted cogroup — cellCogroupPairs' census, balanced
      * sizing, and reference-point exactly-once all pinned against the
      * DuckDB relational truth, not just spec-level pair equality. */
    "geo_sjoin_grid_salted" -> ((s, dir) => {
      // 8 cells, ~1875 rows/side each at sf0.01: above the census floor
      // (1024) so every cell is visible to the pair-split census, and
      // 3.5M potential pairs/cell crosses the forced 100k target
      val c = (k % 8).cast("double")
      val rx = (k % 8).cast("double")
      val ry = (k % 4).cast("double")
      val left = base(s, dir).select(k.as("lk"),
        st_rectangle(c * 16.0 + rx, ry, c * 16.0 + rx + 4.0, ry + 4.0).as("geometry"))
      val right = base(s, dir).select(k.as("rk"),
        st_point(c * 16.0 + (k % 12).cast("double") / 2.0 + 0.25,
          (k % 10).cast("double") / 2.0 + 0.25).as("geometry"))
      graft.join.SpatialJoin.sjoinPartitioned(left, right, 16.0, "contains",
          pairsPerTask = 100000L)
        .agg(count(lit(1)).as("n_pairs"))
    }),

    "geo_sjoin_quadtree" -> ((s, dir) => {
      val left = base(s, dir).select(k.as("lk"), rect.as("geometry"))
      val right = base(s, dir).select(k.as("rk"), pt.as("geometry"))
      graft.join.SpatialJoin.sjoinQuadtree(left, right, "contains")
        .agg(count(lit(1)).as("n_pairs"),
          sum((col("lk") === col("rk")).cast("long")).as("n_same"))
    }),

    // bucketed spatial store: both sides written cell-bucketed once, the
    // join itself is a bucketed sort-merge with zero exchanges
    "geo_sjoin_bucketed" -> ((s, dir) => {
      val left = base(s, dir).select(k.as("lk"), rect.as("geometry"))
      val right = base(s, dir).select(k.as("rk"), pt.as("geometry"))
      Seq("graft_q_bkt_l", "graft_q_bkt_r")
        .foreach(graft.join.SpatialJoin.dropBucketedTable(s, _))
      graft.join.SpatialJoin.writeSpatialBucketed(left, "graft_q_bkt_l", 16.0, 32)
      graft.join.SpatialJoin.writeSpatialBucketed(right, "graft_q_bkt_r", 16.0, 32)
      // force the bucketed sort-merge path (auto-broadcast would elide
      // the very mechanism this row verifies), restore after planning
      val prevBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val (joined, planHasExchange) =
        try {
          val j = graft.join.SpatialJoin.sjoinBucketed(s, "graft_q_bkt_l",
            "graft_q_bkt_r", 16.0, "contains")
          (j, j.queryExecution.executedPlan.toString.contains("Exchange"))
        } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      joined.agg(count(lit(1)).as("n_pairs"),
        sum((col("lk") === col("rk")).cast("long")).as("n_same"))
        .withColumn("shuffle_free", lit(!planHasExchange))
    }),

    /** Hot-cell SALTED bucketed join against the DuckDB truth (r15,
      * unasked): every cell of this fixture crosses the pair bound, so
      * the whole answer flows through the 2-D salted sub-join — the
      * salting machinery (candidacy, sizing, exactly-once reference
      * points, AQE-exempt repartition) is pinned by the external oracle,
      * not just by spec-level pair-set equality. Containment is dyadic
      * arithmetic (integer rect corners vs .25-offset points — never on
      * a boundary), so DuckDB computes the same count relationally. */
    "geo_sjoin_salted" -> ((s, dir) => {
      val c = (k % 16).cast("double")
      val rx = (k % 8).cast("double")
      val ry = (k % 4).cast("double")
      val left = base(s, dir).select(k.as("lk"),
        st_rectangle(c * 16.0 + rx, ry, c * 16.0 + rx + 4.0, ry + 4.0).as("geometry"))
      val right = base(s, dir).select(k.as("rk"),
        st_point(c * 16.0 + (k % 12).cast("double") / 2.0 + 0.25,
          (k % 10).cast("double") / 2.0 + 0.25).as("geometry"))
      Seq("graft_q_salt_l", "graft_q_salt_r")
        .foreach(graft.join.SpatialJoin.dropBucketedTable(s, _))
      graft.join.SpatialJoin.writeSpatialBucketed(left, "graft_q_salt_l", 16.0, 16)
      graft.join.SpatialJoin.writeSpatialBucketed(right, "graft_q_salt_r", 16.0, 16)
      val prevBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // count() runs INSIDE the guard: restoring the threshold first and
      // returning a lazy frame would let Verify execute the salted
      // sub-joins as broadcast-hash under the default 10 MB — the very
      // machinery this row pins would be planned away (review r15 #4)
      val (nPairs, saltEngaged) =
        try {
          val j = graft.join.SpatialJoin.sjoinBucketed(s, "graft_q_salt_l",
            "graft_q_salt_r", 16.0, "contains", hotPairsBound = 400000L)
          (j.count(), j.queryExecution.optimizedPlan.toString.contains("__lsalt"))
        } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      s.range(1).select(lit(nPairs).as("n_pairs"), lit(saltEngaged).as("salted"))
    }),

    /** Nearest join vs the DuckDB relational truth (r15, beyond the
      * reference surface — polars-st has only row-wise nearest_points):
      * 50 well-separated point clusters; each left point takes its
      * ties-inclusive 2 nearest right points within 1.5 planar units.
      * The HASHED distance is recomputed here as `sqrt(dx·dx + dy·dy)`
      * from the output geometries — lattice coordinates are dyadic, so
      * dx²+dy² is exact in a double and IEEE-754 `sqrt` is correctly
      * rounded on both the JVM and DuckDB: bit-exact by construction,
      * independent of how the join measured. The join's own distance
      * (JTS point distance routes through `Math.hypot`, which carries
      * only a 1-ulp spec) decides membership and ranks; NearestHypotSpec
      * pins hypot == sqrt bitwise over every (dx², dy²) this fixture can
      * reach, so a divergent JDK fails in the spec, not here. This key
      * drives the broadcast tier (auto door); geo_sjoin_nearest_grid
      * drives the partitioned door on the same truth. */
    "geo_sjoin_nearest" -> ((s, dir) => {
      val (l, r) = nearestFixture(s, dir)
      graft.join.SpatialJoin.sjoinNearest(l, r, k = 2, maxDistance = 1.5,
          distanceCol = Some("d0"))
        .transform(nearestOut(_, "lk", "rk"))
    }),

    "geo_sjoin_nearest_grid" -> ((s, dir) => {
      val (l, r) = nearestFixture(s, dir)
      graft.join.SpatialJoin.sjoinNearestPartitioned(l, r, k = 2,
          maxDistance = 1.5, distanceCol = Some("d0"), cellSize = 2.0)
        .transform(nearestOut(_, "lk", "rk"))
    }),

    /** The exchange-free nearest tier on the same truth: the build side
      * is a [[graft.join.SpatialJoin.writeSpatialBucketed]] store (cells
      * stamped at write time, never reshuffled); only the probe side
      * shuffles, to its maxDistance-padded cells. Same hashed-distance
      * recomputation as the other two nearest rows. */
    "geo_sjoin_nearest_bucketed" -> ((s, dir) => {
      val (l, r) = nearestFixture(s, dir)
      graft.join.SpatialJoin.dropBucketedTable(s, "graft_q_nn_store")
      graft.join.SpatialJoin.writeSpatialBucketed(r, "graft_q_nn_store", 2.0, 16)
      graft.join.SpatialJoin.sjoinNearestBucketed(s, l, "graft_q_nn_store",
          cellSize = 2.0, k = 2, maxDistance = 1.5, distanceCol = Some("d0"))
        .transform(nearestOut(_, "lk", "rk"))
    }),

    /** The UNBOUNDED distributed nearest tier (no maxDistance anywhere):
      * per-probe bound discovery over the coarse build summary, then the
      * padded-probe cell machinery. The fixture is deliberately
      * heterogeneous — a dense dyadic cluster, a sparse mid band, and
      * far outliers on BOTH sides — so per-probe bounds span orders of
      * magnitude and desert probes must reach across hundreds of coarse
      * rings. DuckDB's oracle is the full relational kNN (cross join +
      * rank window) over the same dyadic lattice; the hashed distance is
      * recomputed as sqrt(dx²+dy²) from the output geometries on both
      * engines (bit-exact by construction, see geo_sjoin_nearest). */
    "geo_sjoin_nearest_unbounded" -> ((s, dir) => {
      val (l, r) = nearestUnboundedFixture(s, dir)
      graft.join.SpatialJoin.sjoinNearestUnbounded(l, r, k = 2,
          distanceCol = Some("d0"))
        .transform(nearestOut(_, "pk", "bk"))
    }),

    /** The UNBOUNDED door of the exchange-free STORE tier on the same
      * truth: the build side is a writeSpatialBucketed store whose
      * [[graft.join.SpatialJoin.stampCellSummary]] sidecar supplies the
      * per-probe bounds (write → stamp → join, the full production
      * path), the per-pair kernel is the codegen'd STNearestMatchBound
      * reading each probe's own bound from its row, and the store side
      * never shuffles. Same hashed-distance recomputation and the same
      * DuckDB relational-kNN truth as geo_sjoin_nearest_unbounded. */
    "geo_sjoin_nearest_unb_bkt" -> ((s, dir) => {
      val (l, r) = nearestUnboundedFixture(s, dir)
      graft.join.SpatialJoin.dropBucketedTable(s, "graft_q_unb_store")
      graft.join.SpatialJoin.writeSpatialBucketed(r, "graft_q_unb_store", 16.0, 16)
      graft.join.SpatialJoin.stampCellSummary(s, "graft_q_unb_store")
      graft.join.SpatialJoin.sjoinNearestBucketed(s, l, "graft_q_unb_store",
          cellSize = 16.0, k = 2, maxDistance = Double.PositiveInfinity,
          distanceCol = Some("d0"))
        .transform(nearestOut(_, "pk", "bk"))
    }),

    /** The exclusive door on the same fixture: the dense strata overlap
      * on the shared dyadic lattice, so distance-0 topologically-equal
      * pairs exist and must be SKIPPED (geopandas `exclusive`) — DuckDB
      * mirrors with a coordinate-inequality filter (point equality ==
      * coordinate equality). This pins the escalation machinery's
      * resolution accounting end-to-end, not just in the spec. */
    "geo_sjoin_nearest_unb_excl" -> ((s, dir) => {
      val (l, r) = nearestUnboundedFixture(s, dir)
      graft.join.SpatialJoin.sjoinNearestUnbounded(l, r, k = 2,
          exclusive = true, distanceCol = Some("d0"))
        .transform(nearestOut(_, "pk", "bk"))
    }),

    // ---------------------------------------------------- §2.13 frame I/O
    "geo_io" -> ((s, dir) => {
      val df = base(s, dir).select(k, rect.as("geometry"))
      val pqPath = "/tmp/graft_io_pq"
      val csvPath = "/tmp/graft_io_csv"
      val ndPath = "/tmp/graft_io_nd"
      graft.io.GeoIO.writeGeoParquet(df, pqPath)
      val pq = graft.io.GeoIO.readGeoParquet(s, pqPath)
        .select(col("k"), st_area(col("geometry")).as("pq_area"))
      df.select(k, st_aswkt(col("geometry")).as("geometry"))
        .write.mode("overwrite").option("header", "true").csv(csvPath)
      val csv = graft.io.GeoIO.readWktCsv(s, csvPath)
        .select(col("k").cast("long").as("k"), st_area(col("geometry")).as("csv_area"))
      graft.io.GeoIO.writeNdGeoJson(df, ndPath)
      val nd = graft.io.GeoIO.readNdGeoJson(s, ndPath)
        .select(col("k").cast("long").as("k"), st_area(col("geometry")).as("nd_area"))
      // FeatureCollection round trip (reference read_file on .geojson):
      // driver-side FC writer (documented small-frame path), multiline read
      val fcPath = "/tmp/graft_io_fc.geojson"
      java.nio.file.Files.write(java.nio.file.Paths.get(fcPath),
        graft.io.GeoIO.toGeoJsonFeatureCollection(df)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val fc = graft.io.GeoIO.readGeoJson(s, fcPath)
        .select(col("k").cast("long").as("k"), st_area(col("geometry")).as("fc_area"))
      // bbox read: covering-column pruning path; matches rects with xmin<=1000
      val bbN = graft.io.GeoIO.readGeoParquet(s, pqPath,
          bbox = Some((0.0, 0.0, 1000.0, 1000.0)))
        .agg(count(lit(1)).as("bb_n"))
      // standard GeoParquet: WKB encoding + `geo` FOOTER metadata; the
      // read recovers the dataset SRID from the footer (values carry none)
      val wkbPath = "/tmp/graft_io_pq_wkb"
      graft.io.GeoIO.writeGeoParquet(
        df.select(col("k"),
          graft.functions.st_set_srid(col("geometry"), lit(4326)).as("geometry")),
        wkbPath, writeMetadata = true, encoding = "WKB")
      val wkb = graft.io.GeoIO.readGeoParquet(s, wkbPath)
        .select(col("k"), st_area(col("geometry")).as("wkb_area"),
          graft.functions.st_srid(col("geometry")).as("wkb_srid"))
      pq.join(csv, "k").join(nd, "k").join(fc, "k").join(wkb, "k")
        .crossJoin(bbN).orderBy(col("k"))
    }),

    // FlatGeobuf round trip: single-file (driver-streamed) and partitioned
    // (executor-parallel) writers, read back with SRID from the header CRS.
    "geo_io_fgb" -> ((s, dir) => {
      val df = base(s, dir).select(k,
        graft.functions.st_set_srid(rect, lit(4326)).as("geometry"))
      val single = "/tmp/graft_io_fgb/t.fgb"
      graft.io.GeoIO.writeFlatGeobuf(df, single)
      val one = graft.io.GeoIO.readFlatGeobuf(s, single)
        .select(col("k"), st_area(col("geometry")).as("fgb_area"),
          graft.functions.st_srid(col("geometry")).as("fgb_srid"))
      val partDir = "/tmp/graft_io_fgbp"
      graft.io.GeoIO.writeFlatGeobufPartitioned(df.repartition(4), partDir)
      val part = graft.io.GeoIO.readFlatGeobuf(s, partDir)
        .select(col("k"), st_area(col("geometry")).as("p_area"))
      // packed Hilbert R-tree: indexed write + index-driven bbox read
      val idx = "/tmp/graft_io_fgb/i.fgb"
      graft.io.GeoIO.writeFlatGeobuf(df, idx, spatialIndex = true)
      val ib = graft.io.GeoIO.readFlatGeobuf(s, idx,
          bbox = Some((0.0, 0.0, 1000.0, 1000.0)))
        .agg(count(lit(1)).as("ibb_n"),
          sum(col("k")).cast("long").as("ibb_sum_k"))
      // r10: the DataSourceV2 facade (spark.read.format("flatgeobuf")) —
      // a pruned+filter-pushed scan and the bbox option over the indexed
      // file must agree with the function surface
      val dsAgg = s.read.format("flatgeobuf").load(idx)
        .filter(col("k") % 2 === 0)
        .agg(sum(col("k")).cast("long").as("dsv2_sum_k"))
      val dsBb = s.read.format("flatgeobuf").option("bbox", "0,0,1000,1000")
        .load(idx).agg(count(lit(1)).as("dsv2_bbox_n"))
      one.join(part, "k").crossJoin(ib).crossJoin(dsAgg).crossJoin(dsBb)
        .orderBy(col("k"))
    }),

    // Shapefile round trip (pure-JVM .shp/.shx/.dbf/.prj codec): geometry,
    // a string attribute, SRID recovered from the written .prj, and a
    // bbox-pushdown read that prunes on each record's stored box.
    "geo_io_shp" -> ((s, dir) => {
      val df = base(s, dir).select(k,
        concat(lit("r"), k.cast("string")).as("name"),
        graft.functions.st_set_srid(rect, lit(4326)).as("geometry"))
      new java.io.File("/tmp/graft_io_shp").mkdirs()
      val shp = "/tmp/graft_io_shp/t.shp"
      graft.io.GeoIO.writeShapefile(df, shp)
      val one = graft.io.GeoIO.readShapefile(s, shp)
        .select(col("k"), col("name"), st_area(col("geometry")).as("shp_area"),
          graft.functions.st_srid(col("geometry")).as("shp_srid"))
      val bb = graft.io.GeoIO.readShapefile(s, shp,
          bbox = Some((0.0, 0.0, 1000.0, 1000.0)))
        .agg(count(lit(1)).as("bb_n"))
      // r9: the read_file dispatcher's sql= path (register-view + Spark
      // SQL over the extension-dispatched read)
      val sqlAgg = graft.io.GeoIO.readFile(s, shp,
          sql = Some("SELECT count(*) AS rf_n, sum(k) AS rf_sum_k FROM t WHERE k % 2 = 0"))
      // r10: the DSv2 facade over the same sidecar set, bbox option
      // riding the stored record boxes
      val ds = s.read.format("shapefile").option("bbox", "0,0,1000,1000")
        .load(shp).agg(count(lit(1)).as("dsv2_bb_n"))
      one.crossJoin(bb).crossJoin(sqlAgg).crossJoin(ds).orderBy(col("k"))
    }),

    // GeoPackage round trip (pure-JVM SQLite codec): geometry + attribute
    // columns, SRID via gpkg_spatial_ref_sys, layer fid recovered from the
    // rowid, and a bbox read pruned on each blob's stored envelope.
    "geo_io_gpkg" -> ((s, dir) => {
      val df = base(s, dir).select(k,
        concat(lit("r"), k.cast("string")).as("name"),
        graft.functions.st_set_srid(rect, lit(4326)).as("geometry"))
      new java.io.File("/tmp/graft_io_gpkg").mkdirs()
      val gpkg = "/tmp/graft_io_gpkg/t.gpkg"
      graft.io.GeoIO.writeGeoPackage(df, gpkg, tableName = "boxes")
      val one = graft.io.GeoIO.readGeoPackage(s, gpkg)
        .select(col("k"), col("name"), st_area(col("geometry")).as("gpkg_area"),
          graft.functions.st_srid(col("geometry")).as("gpkg_srid"))
      val bb = graft.io.GeoIO.readGeoPackage(s, gpkg,
          bbox = Some((0.0, 0.0, 1000.0, 1000.0)))
        .agg(count(lit(1)).as("bb_n"))
      // r10: the DSv2 facade over the same container — leaf-split scan
      // with a pushed filter must agree with the function surface
      val ds = s.read.format("geopackage").option("layer", "boxes").load(gpkg)
        .filter(col("k") % 2 === 0)
        .agg(count(lit(1)).as("dsv2_n"), sum(col("k")).cast("long").as("dsv2_sum_k"))
      one.crossJoin(bb).crossJoin(ds).orderBy(col("k"))
    }),

    // KML + GPX round trip (pure-JVM StAX codecs, io/Kml.scala +
    // io/Gpx.scala): KML polygons carry name + an ExtendedData attribute
    // (strings — KML is untyped without a Schema element); GPX carries a
    // waypoint (Z → ele) and an L-track per row (length w+h, dyadic).
    "geo_io_xml" -> ((s, dir) => {
      val df = base(s, dir).select(k,
        concat(lit("r"), k.cast("string")).as("name"),
        graft.functions.st_set_srid(rect, lit(4326)).as("geometry"))
      new java.io.File("/tmp/graft_io_xml").mkdirs()
      val kml = "/tmp/graft_io_xml/t.kml"
      graft.io.GeoIO.writeKml(df, kml)
      val kmlBack = graft.io.GeoIO.readKml(s, kml)
        .select(col("k").cast("long").as("k"), col("name").as("kml_name"),
          st_area(col("geometry")).as("kml_area"),
          graft.functions.st_srid(col("geometry")).as("kml_srid"))
      val gpx = "/tmp/graft_io_xml/t.gpx"
      val wpts = base(s, dir).select(
        concat(lit("r"), k.cast("string")).as("name"),
        graft.functions.st_set_srid(
          st_point(px, py, lit(1.0) + (k % 16).cast("double") / 4.0),
          lit(4326)).as("geometry"))
      val trks = base(s, dir).select(
        concat(lit("r"), k.cast("string")).as("name"),
        graft.functions.st_set_srid(lineL, lit(4326)).as("geometry"))
      graft.io.GeoIO.writeGpx(wpts.unionByName(trks), gpx)
      val wptBack = graft.io.GeoIO.readGpx(s, gpx, "waypoints")
        .select(expr("cast(substring(name, 2) as long)").as("k"),
          st_x(col("geometry")).as("wpt_x"), col("ele").as("wpt_ele"),
          st_z(col("geometry")).as("wpt_z"))
      val trkBack = graft.io.GeoIO.readGpx(s, gpx, "tracks")
        .select(expr("cast(substring(name, 2) as long)").as("k"),
          st_length(col("geometry")).as("trk_len"))
      val gml = "/tmp/graft_io_xml/t.gml"
      graft.io.GeoIO.writeGml(df, gml)
      val gmlBack = graft.io.GeoIO.readGml(s, gml)
        .select(col("k").cast("long").as("k"),
          st_area(col("geometry")).as("gml_area"),
          graft.functions.st_srid(col("geometry")).as("gml_srid"))
      val mif = "/tmp/graft_io_xml/t.mif"
      graft.io.GeoIO.writeMif(df, mif)
      val mifBack = graft.io.GeoIO.readMif(s, mif)
        .select(col("k"), col("name").as("mif_name"),
          st_area(col("geometry")).as("mif_area"),
          graft.functions.st_srid(col("geometry")).as("mif_srid"))
      // DXF: rings export as closed polylines (boundary semantics), so
      // the round-trip invariant is the ring length = perimeter
      val dxf = "/tmp/graft_io_xml/t.dxf"
      graft.io.GeoIO.writeDxf(
        df.select(col("name").as("layer"), col("geometry")), dxf)
      val dxfBack = graft.io.GeoIO.readDxf(s, dxf)
        .select(expr("cast(substring(layer, 2) as long)").as("k"),
          st_length(col("geometry")).as("dxf_perim"))
      kmlBack.join(wptBack, "k").join(trkBack, "k").join(gmlBack, "k")
        .join(mifBack, "k").join(dxfBack, "k")
        .orderBy(col("k"))
    }),

    // skip_features/max_features reader windows (pyogrio options on the
    // reference's read_file, input.py:123-138): positional over the write
    // (k-sorted) order; with a bbox the window applies AFTER the filter.
    // Scan-level: shp counts from .shx length + record-header hops, gpkg
    // leaf-page pruning + cell-pointer jumps, fgb size-prefix hops.
    "geo_io_skip" -> ((s, dir) => {
      val df = base(s, dir).select(k,
        graft.functions.st_set_srid(rect, lit(4326)).as("geometry")).orderBy(k)
      new java.io.File("/tmp/graft_io_skip").mkdirs()
      val shp = "/tmp/graft_io_skip/t.shp"
      graft.io.GeoIO.writeShapefile(df, shp)
      val sW = graft.io.GeoIO.readShapefile(s, shp,
          skipFeatures = 7, maxFeatures = 11)
        .agg(count(lit(1)).as("shp_n"), min(col("k")).as("shp_min_k"),
          max(col("k")).as("shp_max_k"), sum(col("k")).as("shp_sum_k"))
      val sB = graft.io.GeoIO.readShapefile(s, shp,
          bbox = Some((0.0, 0.0, 1000.0, 1000.0)),
          skipFeatures = 2, maxFeatures = 5)
        .agg(count(lit(1)).as("shpb_n"), min(col("k")).as("shpb_min_k"),
          sum(col("k")).as("shpb_sum_k"))
      val gpkg = "/tmp/graft_io_skip/t.gpkg"
      graft.io.GeoIO.writeGeoPackage(df, gpkg, tableName = "boxes")
      val gW = graft.io.GeoIO.readGeoPackage(s, gpkg,
          skipFeatures = 7, maxFeatures = 11)
        .agg(count(lit(1)).as("gpkg_n"), min(col("k")).as("gpkg_min_k"),
          sum(col("k")).as("gpkg_sum_k"))
      val fgb = "/tmp/graft_io_skip/t.fgb"
      graft.io.GeoIO.writeFlatGeobuf(df, fgb)
      val fW = graft.io.GeoIO.readFlatGeobuf(s, fgb,
          skipFeatures = 7, maxFeatures = 11)
        .agg(count(lit(1)).as("fgb_n"), min(col("k")).as("fgb_min_k"),
          sum(col("k")).as("fgb_sum_k"))
      val kml = "/tmp/graft_io_skip/t.kml"
      graft.io.GeoIO.writeKml(
        df.select(k.cast("string").as("name"), col("geometry")), kml)
      val kW = graft.io.GeoIO.readKml(s, kml,
          skipFeatures = 13, maxFeatures = 20)
        .agg(count(lit(1)).as("kml_n"),
          min(expr("cast(name as bigint)")).as("kml_min_k"),
          sum(expr("cast(name as bigint)")).as("kml_sum_k"))
      // fids random access: shapefile 0-based positions via .shx offsets,
      // gpkg rowids via b-tree point lookups; where = Catalyst filter
      val sF = graft.io.GeoIO.readShapefile(s, shp,
          fids = Some(Seq(1L, 5L, 100L)))
        .agg(count(lit(1)).as("shpf_n"), sum(col("k")).as("shpf_sum_k"))
      val gF = graft.io.GeoIO.readGeoPackage(s, gpkg,
          fids = Some(Seq(2L, 9L, 200L)))
        .agg(count(lit(1)).as("gpkgf_n"), sum(col("k")).as("gpkgf_sum_k"))
      val sWh = graft.io.GeoIO.readShapefile(s, shp,
          where = Some("k % 1000 = 0"))
        .agg(count(lit(1)).as("shpw_n"), sum(col("k")).as("shpw_sum_k"))
      // r9: return_fids — the fid column matches row_number arithmetic
      // (records are written in k order): windowed shapefile/fgb fids are
      // 0-based positions, gpkg fids are 1-based rowids, random-access
      // fids echo the request
      val sFid = graft.io.GeoIO.readShapefile(s, shp,
          skipFeatures = 7, maxFeatures = 11, returnFids = true)
        .agg(sum(col("fid")).as("shp_fid_sum"))
      val gFid = graft.io.GeoIO.readGeoPackage(s, gpkg,
          columns = Some(Seq("k")),
          skipFeatures = 7, maxFeatures = 11, returnFids = true)
        .agg(sum(col("fid")).as("gpkg_fid_sum"))
      val fFid = graft.io.GeoIO.readFlatGeobuf(s, fgb,
          skipFeatures = 7, maxFeatures = 11, returnFids = true)
        .agg(sum(col("fid")).as("fgb_fid_sum"))
      val sFidRa = graft.io.GeoIO.readShapefile(s, shp,
          fids = Some(Seq(1L, 5L, 100L)), returnFids = true)
        .agg(sum(col("fid")).as("shpf_fid_sum"))
      sW.crossJoin(sB).crossJoin(gW).crossJoin(fW).crossJoin(kW)
        .crossJoin(sF).crossJoin(gF).crossJoin(sWh)
        .crossJoin(sFid).crossJoin(gFid).crossJoin(fFid).crossJoin(sFidRa)
    }),

    // ------------------------------- geometry-list evaluation (list.eval)
    "geo_list_eval" -> ((s, dir) => {
      base(s, dir).select(k,
        element_at(transform(st_parts(mp4), g => st_x(g)), 2).as("part_x1"),
        size(transform(st_parts(mp4), g => st_geometrytype(g))).as("parts_n"),
        aggregate(transform(st_parts(st_multi(rect)), g => st_area(g)),
          lit(0.0), (acc, v) => acc + v).as("parts_area_sum")
      ).orderBy(k)
    })
  )

  val oracleSql: Map[String, String] = Map(
    "geo_ctor_point" ->
      s"""$B SELECT k, xmin+w/2 AS px, ymin+h/2 AS py,
         | CAST(k%9 AS DOUBLE)/4.0 AS pz, CAST('NaN' AS DOUBLE) AS pm,
         | xmin+w/2 AS pfc_x, 'Point' AS gt
         |FROM b ORDER BY k""".stripMargin,
    "geo_ctor_line" ->
      s"""$B SELECT k, w+h AS len, 3 AS npts, 3 AS ncoords,
         | 'MultiPoint' AS gt_mp, 4 AS n_mp, w+w AS mls_len, 'LineString' AS gt
         |FROM b ORDER BY k""".stripMargin,
    "geo_ctor_poly" ->
      s"""$B SELECT k, w*h - (w/4)*(h/4) AS area, 1 AS nint, w*h AS rect_area,
         | xmin+w/2 AS fc_x, 'LineString' AS fc_line_gt
         |FROM b ORDER BY k""".stripMargin,
    "geo_parse" ->
      s"""$B SELECT k, xmin AS wkt_x, 4326 AS ewkt_srid, xmin AS ewkt_x,
         | xmin AS gj_x, xmin+w/2 AS wkb_x
         |FROM b ORDER BY k""".stripMargin,
    "geo_acc_meta" ->
      s"""$B SELECT k, 'Polygon' AS gt, 2 AS dim, 2 AS cdim2, 3 AS cdim3,
         | 0 AS srid0, 1000+(k%100) AS srid_set, 0.0 AS prec,
         | FALSE AS hz, TRUE AS hz3, FALSE AS hm
         |FROM b ORDER BY k""".stripMargin,
    "geo_acc_structure" ->
      s"""$B SELECT k, 5 AS nc_rect, 1 AS ng_rect, 2*(w+h) AS ext_len,
         | 1 AS int_n, 2*(w/4+h/4) AS int_len, xmin+w AS gp_x, xmin+w AS gg_x,
         | 1 AS parts_n, xmin AS b0, ymin AS b1, xmin+w AS b2, ymin+h AS b3,
         | xmin AS coord00, 3 AS coord_dim3_len, TRUE AS coord_dim3_nan
         |FROM b ORDER BY k""".stripMargin,
    "geo_measure" ->
      s"""$B SELECT k, w*h AS area, w+h AS len, w AS d_ax,
         | sqrt(w*w + h*h) AS d_diag, h AS haus, h AS hausd, h AS frech,
         | h AS frechd, least(w, h) AS clear, TRUE AS dist_empty_nan
         |FROM b ORDER BY k""".stripMargin,
    "geo_pred_unary" ->
      s"""$B SELECT k, TRUE AS is_ring, TRUE AS is_closed, TRUE AS is_ccw,
         | FALSE AS bowtie_simple, TRUE AS empty_is_empty, FALSE AS rect_is_empty,
         | TRUE AS rect_valid, FALSE AS bowtie_valid,
         | 'Valid Geometry' AS valid_reason, FALSE AS hz, FALSE AS hm
         |FROM b ORDER BY k""".stripMargin,
    "geo_pred_binary" ->
      s"""$B SELECT k, TRUE AS int_c, TRUE AS int_b, TRUE AS touch_b,
         | TRUE AS disj_f, TRUE AS overlap_c, TRUE AS crosses_l,
         | TRUE AS contains_p, TRUE AS within_p, TRUE AS cprop_p,
         | FALSE AS cprop_b, TRUE AS covers_a, TRUE AS coveredby_a,
         | TRUE AS eq_rev, TRUE AS eq_ident, TRUE AS eq_exact,
         | FALSE AS dwithin_eq, TRUE AS dwithin_lt,
         | '0FFFFF212' AS relate_s, TRUE AS relate_pat, TRUE AS ixy, TRUE AS cxy
         |FROM b ORDER BY k""".stripMargin,
    "geo_overlay" ->
      s"""$B SELECT k, (w/2)*h AS inter_area, 1.5*w*h AS union_area,
         | w*h - (w/2)*h AS diff_area, w*h AS sym_area,
         | 2*w*h - (w-1)*h AS union_prec, (w-1)*h AS inter_prec,
         | w*h - (w-1)*h AS diff_prec, 2*(w*h - (w-1)*h) AS sym_prec,
         | 6.0 AS uu_area, 6.0 AS dsu_area, 8.0 AS cu_area
         |FROM b ORDER BY k""".stripMargin,
    "geo_agg_group" ->
      s"""$B SELECT k%16 AS grp, min(xmin) AS tb_xmin, max(ymin+h) AS tb_ymax,
         | count(*) AS n_collect, 'MultiPolygon' AS gt_collect,
         | sum(w*h) AS union_area, sum(w*h) AS sym_area, sum(w*h) AS cov_area,
         | sum(w*h) AS poly_area, count(*) AS poly_n
         |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "geo_agg_inter" ->
      """SELECT o_orderkey%8 AS grp,
        | (16+min(o_orderkey%13)/4.0)*(16+min(o_orderkey%11)/4.0) AS ia
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "geo_agg_diff" ->
      """WITH ranked AS (
        | SELECT o_orderkey AS k, o_orderkey%2000 AS grp,
        |  row_number() OVER (PARTITION BY o_orderkey%2000 ORDER BY o_orderkey) AS rn,
        |  1+CAST(o_orderkey%13 AS DOUBLE)/4.0 AS w,
        |  1+CAST(o_orderkey%11 AS DOUBLE)/4.0 AS h
        | FROM orders)
        |SELECT grp,
        | 4096.0 - coalesce(sum(CASE WHEN rn > 1 THEN w*h END), 0.0) AS da
        |FROM ranked WHERE rn <= 9 GROUP BY grp ORDER BY grp""".stripMargin,
    "geo_agg_diff_byrow" ->
      """WITH ranked AS (
        | SELECT o_orderkey AS k, o_orderkey%2000 AS grp,
        |  row_number() OVER (PARTITION BY o_orderkey%2000 ORDER BY o_orderkey) AS rn,
        |  1+CAST(o_orderkey%13 AS DOUBLE)/4.0 AS w,
        |  1+CAST(o_orderkey%11 AS DOUBLE)/4.0 AS h
        | FROM orders)
        |SELECT grp,
        | 4096.0 - coalesce(sum(CASE WHEN rn > 1 THEN w*h END), 0.0) AS da
        |FROM ranked WHERE rn <= 9 GROUP BY grp ORDER BY grp""".stripMargin,
    "geo_agg_vor" ->
      """SELECT 4 AS vor_n, 2 AS del_n, 256.0 AS del_area,
        | 'GeometryCollection' AS vor_gt,
        | 'GEOMETRYCOLLECTION EMPTY' AS empty_wkt, TRUE AS tb_nan""".stripMargin,
    "geo_agg_prec" ->
      s"""$B, p AS (SELECT k%16 AS grp,
         | w + floor(CAST(k%5 AS DOUBLE)/4.0 + 0.5)/4.0 AS sw,
         | h + floor(CAST(k%7 AS DOUBLE)/4.0 + 0.5)/4.0 AS sh,
         | 16.0 + CAST(k%13 AS DOUBLE)/4.0
         |   + floor(CAST(k%5 AS DOUBLE)/4.0 + 0.5)/4.0 AS ix,
         | 16.0 + CAST(k%11 AS DOUBLE)/4.0
         |   + floor(CAST(k%7 AS DOUBLE)/4.0 + 0.5)/4.0 AS iy
         | FROM b)
         |SELECT grp, sum(sw*sh) AS ua, sum(sw*sh) AS ua_sql, sum(sw*sh) AS sa,
         | sum(sw*sh) AS sa_sql, min(ix)*min(iy) AS ia, min(ix)*min(iy) AS ia_sql
         |FROM p GROUP BY grp ORDER BY grp""".stripMargin,
    "geo_agg_vor_kw" ->
      """SELECT 576.0 AS vor_area, 3 AS vor_n, 576.0 AS vor_area_tol,
        | 3 AS vor_edge_n, 3 AS del_edges, 12.0 AS del_len,
        | 'MultiLineString' AS del_gt""".stripMargin,
    "geo_agg_diff_unord" ->
      """WITH ranked AS (
        | SELECT o_orderkey AS k,
        |  row_number() OVER (ORDER BY o_orderkey) AS rn,
        |  1+CAST(o_orderkey%13 AS DOUBLE)/4.0 AS w,
        |  1+CAST(o_orderkey%11 AS DOUBLE)/4.0 AS h,
        |  CAST(o_orderkey%5 AS DOUBLE)/16.0 AS ax,
        |  CAST(o_orderkey%7 AS DOUBLE)/16.0 AS ay,
        |  floor(CAST(o_orderkey%5 AS DOUBLE)/4.0 + 0.5)/4.0 AS sax,
        |  floor(CAST(o_orderkey%7 AS DOUBLE)/4.0 + 0.5)/4.0 AS say
        | FROM orders WHERE o_orderkey%2000 = 0)
        |SELECT
        | 4096.0 - coalesce(sum(CASE WHEN rn > 1 THEN (w+ax)*(h+ay) END), 0) AS da,
        | 4096.0 - coalesce(sum(CASE WHEN rn > 1 THEN (w+sax)*(h+say) END), 0) AS da_prec
        |FROM ranked WHERE rn <= 9""".stripMargin,
    "geo_native" ->
      s"""$B SELECT k, w*h AS area_n, 2*(w+h) AS len_n,
         | TRUE AS ix_t, FALSE AS ix_f, TRUE AS area_eq, TRUE AS len_eq
         |FROM b ORDER BY k""".stripMargin,
    "geo_fused" ->
      s"""$B SELECT k, (w/2)*h AS ia, 1.5*w*h AS ua, xmin + w/2 AS cx,
         | (w+1)*(h+1) AS bm, TRUE AS dw, TRUE AS tier_eq
         |FROM b ORDER BY k""".stripMargin,
    "geo_setprec" ->
      s"""$B SELECT k, w*h AS sp_area, TRUE AS sp_empty, 'Polygon' AS sp_gt,
         | 5 AS sp_n, 'Polygon' AS sp_kc_gt
         |FROM b ORDER BY k""".stripMargin,
    "geo_constructive1" ->
      s"""$B SELECT k, 2*(w+h) AS bdry_len, 'LineString' AS bdry_gt,
         | ((1+CAST(k%5 AS DOUBLE))/2.0)*((1+CAST(k%5 AS DOUBLE))/2.0) AS buf_sq_area,
         | (w+1)*(h+1) AS buf_mitre, (w-0.5)*(h-0.5) AS buf_neg,
         | w*0.5 AS buf_ss,
         | w AS off_len, xmin+w/2 AS centroid_x, ymin+h/2 AS center_y,
         | w*h AS env_area, w*h AS ch_area, w*h AS cc_area,
         | (w/2)*h AS clip_area, TRUE AS pos_in, w*h AS mrr_area
         |FROM b ORDER BY k""".stripMargin,
    "geo_constructive2" ->
      s"""$B SELECT k, 3 AS seg_n, h AS seg_len, 2 AS simp_n, 2 AS rrp_n,
         | 4 AS uniq_n, w*h/2 AS mv_area, 'MultiPolygon' AS mv_gt,
         | w*h AS ba_area, 4 AS node_n, 'MultiLineString' AS node_gt,
         | xmin+w AS rev_x, ymin+h/2 AS flip_x, TRUE AS norm_eq,
         | 1.25 AS f3_z, FALSE AS f2_hz,
         | 'MultiPolygon' AS multi_gt, 'MultiPoint' AS cast_gt
         |FROM b ORDER BY k""".stripMargin,
    "geo_constructive3" ->
      s"""$B SELECT k, xmin AS snap_x, w AS short_len, w - w/4 AS shared_len,
         | 'LineString' AS lm_gt, w+h AS lm_len, 2 AS lmdir_n
         |FROM b ORDER BY k""".stripMargin,
    "geo_affine" ->
      s"""$B SELECT k, 2*(xmin+w/2)+0.25 AS at_x, xmin+w/2+1.25 AS tr_x,
         | ymin+h/2+0.5 AS tr_y, 4*w*h AS sc_area, 2*(xmin+w/2) AS sc_origin_x,
         | xmin+w/2 AS rot_self_x, TRUE AS rot_area_ok, TRUE AS skew_area_ok,
         | TRUE AS skew3_area_ok,
         | xmin+w/2 AS interp_x, xmin+w/2 AS interp_n_x, w/4 AS proj_d,
         | 0.25 AS proj_n
         |FROM b ORDER BY k""".stripMargin,
    "geo_crs" ->
      s"""$B SELECT k, 3857 AS srid_set, 3857 AS srid_merc, TRUE AS merc_x_ok,
         | TRUE AS merc_rt_ok, TRUE AS utm_rt_ok, TRUE AS utm_x_range,
         | 32633 AS srid_utm, TRUE AS wm_rt_ok, 'EPSG' AS auth_name,
         | 32633 AS auth_code, TRUE AS fromcode_ok, 3857 AS wkt_code
         |FROM b ORDER BY k""".stripMargin,
    "geo_crs2" ->
      s"""$B SELECT k, TRUE AS lcc_fr_rt_ok, TRUE AS lcc_ca_rt_ok,
         | TRUE AS albers_us_rt_ok, TRUE AS albers_au_rt_ok,
         | TRUE AS polar_n_rt_ok, TRUE AS polar_s_rt_ok,
         | TRUE AS lcc_fr_origin_ok, TRUE AS pole_origin_ok,
         | 5070 AS srid_albers, TRUE AS fromcode_albers,
         | TRUE AS fromcode_polar, 3031 AS wkt_code_3031
         |FROM b ORDER BY k""".stripMargin,
    "geo_crs3" ->
      s"""$B SELECT k, TRUE AS bng_rt_ok, TRUE AS etrs_utm_rt_ok,
         | TRUE AS nztm_rt_ok, TRUE AS belge_rt_ok, TRUE AS spcs_ca3_rt_ok,
         | TRUE AS cc45_rt_ok, TRUE AS arctic_rt_ok, TRUE AS ups_rt_ok,
         | TRUE AS rd_rt_ok, TRUE AS lv95_rt_ok,
         | TRUE AS l93_rt_ok, TRUE AS ntf_lz2_rt_ok, TRUE AS conus_rt_ok,
         | TRUE AS jgd9_rt_ok, TRUE AS mga55_rt_ok, TRUE AS nad27_utm15_rt_ok,
         | TRUE AS krovak_rt_ok, TRUE AS eov_rt_ok, TRUE AS austria_rt_ok,
         | TRUE AS nzmg_rt_ok,
         | TRUE AS bng_origin_ok, TRUE AS cc45_origin_ok,
         | 27700 AS srid_bng, TRUE AS fromcode_bng, 25832 AS wkt_code_25832
         |FROM b ORDER BY k""".stripMargin,
    "geo_crs4" ->
      s"""$B SELECT k, TRUE AS reg_bng_match_ok, TRUE AS reg_krovak_match_ok,
         | TRUE AS reg_bng_rt_ok, TRUE AS reg_krovak_rt_ok, TRUE AS reg_wkt_ok,
         | TRUE AS esri_bng_match_ok, TRUE AS esri_bng_rt_ok, TRUE AS esri_infer_ok
         |FROM b ORDER BY k""".stripMargin,
    "geo_crs6" ->
      s"""$B SELECT k,
         | TRUE AS grid_lat_ok, TRUE AS grid_lon_ok,
         | TRUE AS grid_rt_ok, TRUE AS helmert_out_ok
         |FROM b ORDER BY k""".stripMargin,
    "geo_crs5" ->
      s"""$B SELECT k,
         | TRUE AS tx_m_rt_ok, TRUE AS tx_ft_rt_ok, TRUE AS nyli_ft_rt_ok,
         | TRUE AS ca3_ft_rt_ok, TRUE AS pas_rt_ok, TRUE AS wan_ft_rt_ok,
         | TRUE AS mam_ft_rt_ok, TRUE AS fle_ft_rt_ok, TRUE AS coc_rt_ok,
         | TRUE AS lcc_eu_rt_ok, TRUE AS pt06_rt_ok, TRUE AS at_lcc_rt_ok,
         | TRUE AS be08_rt_ok, TRUE AS de_lcc_rt_ok, TRUE AS sirgas23s_rt_ok,
         | TRUE AS sirgas19s_rt_ok, TRUE AS tx_ft_m_ok, TRUE AS nyli_ft_m_ok,
         | TRUE AS ca3_ft_m_ok, TRUE AS fle_ft_m_ok, TRUE AS ft_wkt_unit_ok,
         | TRUE AS ntm10_rt_ok, TRUE AS est97_rt_ok, TRUE AS lks92_rt_ok,
         | TRUE AS lks94_rt_ok, TRUE AS dktm2_rt_ok,
         | TRUE AS gk7_rt_ok, TRUE AS gk11_rt_ok,
         | TRUE AS mtm7_rt_ok, TRUE AS mtm10_rt_ok, TRUE AS atm31_rt_ok,
         | TRUE AS pl2000_rt_ok, TRUE AS greek_rt_ok, TRUE AS korea_c_rt_ok,
         | TRUE AS gaussboaga_rt_ok, TRUE AS ease_n_rt_ok,
         | TRUE AS ease_s_rt_ok, TRUE AS ease_g_rt_ok
         |FROM b ORDER BY k""".stripMargin,
    "geo_crs7" ->
      s"""$B SELECT k,
         | TRUE AS ak1_hotine_rt_ok, TRUE AS ak5_rt_ok, TRUE AS hi3_rt_ok,
         | TRUE AS mt_rt_ok, TRUE AS nc_rt_ok, TRUE AS mi_n_rt_ok,
         | TRUE AS nv_c_rt_ok, TRUE AS wy_ec_rt_ok, TRUE AS ky_1z_rt_ok,
         | TRUE AS prvi_rt_ok, TRUE AS mo_e_rt_ok, TRUE AS timbalai_rt_ok,
         | TRUE AS mi_ft_m_ok, TRUE AS nc_ft_m_ok, TRUE AS az_ft_m_ok,
         | TRUE AS nv_ft_m_ok, TRUE AS ky_ft_m_ok, TRUE AS wi_ft_m_ok,
         | TRUE AS brpoly_rt_ok, TRUE AS sad69poly_rt_ok,
         | TRUE AS nad27utm_rt_ok,
         | TRUE AS ft_intl_unit_ok, TRUE AS ft_us_unit_ok,
         | TRUE AS hotine_wkt_ok,
         | TRUE AS jgd2000_ix_rt_ok, TRUE AS tokyo_ix_rt_ok,
         | TRUE AS wgs72_utm10_rt_ok, TRUE AS wgs72be_utm31s_rt_ok
         |FROM b ORDER BY k""".stripMargin,
    "geo_crs8" ->
      s"""$B SELECT k,
         | TRUE AS p4_bng_match_ok, TRUE AS p4_l93_match_ok,
         | TRUE AS p4_nad27_match_ok, TRUE AS p4_lv95_match_ok,
         | TRUE AS p4_bng_rt_ok, TRUE AS p4_l93_rt_ok,
         | TRUE AS p4_nad27_rt_ok, TRUE AS p4_lv95_rt_ok,
         | TRUE AS p4_eqc_match_ok, TRUE AS p4_eqc_rt_ok,
         | TRUE AS p4_infer_ok,
         | TRUE AS p4_stere_obl_rt_ok, TRUE AS p4_stere_snyder_ok
         |FROM b ORDER BY k""".stripMargin,
    "geo_serde" ->
      s"""$B SELECT k,
         | 'POINT (' || CAST(CAST(xmin AS BIGINT) AS VARCHAR) || ' ' ||
         |   CAST(CAST(ymin AS BIGINT) AS VARCHAR) || ')' AS wkt_int,
         | 'POINT (' || CAST(CAST(xmin AS BIGINT) AS VARCHAR) || '.25 ' ||
         |   CAST(CAST(ymin AS BIGINT) AS VARCHAR) || ')' AS wkt_frac,
         | 'POINT (' || CAST(CAST(xmin AS BIGINT) AS VARCHAR) || '.25 ' ||
         |   CAST(CAST(ymin AS BIGINT) AS VARCHAR) || ')' AS wkt_prec,
         | 'SRID=4326;POINT (' || CAST(CAST(xmin AS BIGINT) AS VARCHAR) || ' ' ||
         |   CAST(CAST(ymin AS BIGINT) AS VARCHAR) || ')' AS ewkt_s,
         | 21 AS wkb_len, '00' AS wkb_be, 25 AS wkb_srid_len,
         | xmin+w/2 AS wkbrt_x,
         | '{"type":"Point","coordinates":[' || CAST(CAST(xmin AS BIGINT) AS VARCHAR)
         |   || ',' || CAST(CAST(ymin AS BIGINT) AS VARCHAR) || ']}' AS gj_s,
         | xmin+0.25 AS gj_rt_x, 4326 AS ewkt_rt
         |FROM b ORDER BY k""".stripMargin,
    "geo_serde_kw" ->
      s"""$B SELECT k,
         | 'POINT (' || CAST(CAST(xmin AS BIGINT) AS VARCHAR) || '.25 ' ||
         |   CAST(CAST(ymin AS BIGINT) AS VARCHAR) || '.00)' AS wkt_fixed,
         | 'POINT (' || CAST(CAST(xmin AS BIGINT) AS VARCHAR) || '.25 ' ||
         |   CAST(CAST(ymin AS BIGINT) AS VARCHAR) || ' 1.25)' AS wkt_old3d,
         | 'POINT Z (' || CAST(CAST(xmin AS BIGINT) AS VARCHAR) || '.25 ' ||
         |   CAST(CAST(ymin AS BIGINT) AS VARCHAR) || ' 1.25)' AS wkt_ztag,
         | 'SRID=3857;POINT (' || CAST(CAST(xmin AS BIGINT) AS VARCHAR) || '.25 ' ||
         |   CAST(CAST(ymin AS BIGINT) AS VARCHAR) || '.00)' AS ewkt_fixed,
         | '{"type":"Point","coordinates":[' || CAST(CAST(xmin AS BIGINT) AS VARCHAR)
         |   || '.25,' || CAST(CAST(ymin AS BIGINT) AS VARCHAR) || ']}' AS gj_compact,
         | TRUE AS gj_nl, TRUE AS gj_ind
         |FROM b ORDER BY k""".stripMargin,
    "geo_sjoin_broadcast" ->
      """SELECT (SELECT count(*) FROM orders) AS n_pairs,
        | (SELECT count(*) FROM orders) AS n_same,
        | (SELECT count(*) FROM orders) AS n_left_rows,
        | (SELECT count(*) FROM orders WHERE o_orderkey%2 = 1) AS n_left_null""".stripMargin,
    "geo_sjoin_auto" ->
      """SELECT (SELECT count(*) FROM orders) AS n_pairs,
        | (SELECT count(*) FROM orders) AS n_same,
        | (SELECT count(*) FROM orders) AS n_pairs_bkt,
        | (SELECT count(*) FROM orders) AS n_same_bkt,
        | TRUE AS auto_shuffle_free""".stripMargin,
    "geo_sjoin_grid" ->
      """SELECT (SELECT count(*) FROM orders) AS n_pairs,
        | (SELECT count(*) FROM orders) AS n_same""".stripMargin,
    "geo_sjoin_quadtree" ->
      """SELECT (SELECT count(*) FROM orders) AS n_pairs,
        | (SELECT count(*) FROM orders) AS n_same""".stripMargin,
    "geo_stream_sjoin" ->
      """SELECT CAST(event_id % 16 AS BIGINT) AS zone_id,
        | COUNT(*) AS n_events,
        | CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
        | CAST(0 AS BIGINT) AS n_sym_diff
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "geo_stream_nearest" ->
      """SELECT CAST(event_id % 16 + 16 * (event_id % 8) AS BIGINT) AS sid,
        | COUNT(*) AS n_events,
        | CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
        | sqrt(0.125) AS min_d, sqrt(0.125) AS max_d
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "geo_sjoin_bucketed" ->
      """SELECT (SELECT count(*) FROM orders) AS n_pairs,
        | (SELECT count(*) FROM orders) AS n_same, TRUE AS shuffle_free""".stripMargin,
    "geo_sjoin_grid_salted" ->
      """WITH l AS (SELECT o_orderkey%8 AS c, CAST(o_orderkey%8 AS DOUBLE) AS rx,
        |  CAST(o_orderkey%4 AS DOUBLE) AS ry FROM orders),
        | r AS (SELECT o_orderkey%8 AS c, CAST(o_orderkey%12 AS DOUBLE)/2.0+0.25 AS px,
        |  CAST(o_orderkey%10 AS DOUBLE)/2.0+0.25 AS py FROM orders)
        |SELECT count(*) AS n_pairs
        |FROM l JOIN r USING (c)
        |WHERE px > rx AND px < rx + 4 AND py > ry AND py < ry + 4""".stripMargin,
    "geo_sjoin_salted" ->
      """WITH l AS (SELECT o_orderkey%16 AS c, CAST(o_orderkey%8 AS DOUBLE) AS rx,
        |  CAST(o_orderkey%4 AS DOUBLE) AS ry FROM orders),
        | r AS (SELECT o_orderkey%16 AS c, CAST(o_orderkey%12 AS DOUBLE)/2.0+0.25 AS px,
        |  CAST(o_orderkey%10 AS DOUBLE)/2.0+0.25 AS py FROM orders)
        |SELECT count(*) AS n_pairs, TRUE AS salted
        |FROM l JOIN r USING (c)
        |WHERE px > rx AND px < rx + 4 AND py > ry AND py < ry + 4""".stripMargin,
    "geo_sjoin_nearest" -> nearestOracleSql,
    "geo_sjoin_nearest_grid" -> nearestOracleSql,
    "geo_sjoin_nearest_bucketed" -> nearestOracleSql,
    "geo_sjoin_nearest_unbounded" -> nearestUnbOracleSql,
    "geo_sjoin_nearest_unb_bkt" -> nearestUnbOracleSql,
    // point equality == coordinate equality on this all-point fixture,
    // so the geopandas `exclusive` rule is one coordinate filter
    "geo_sjoin_nearest_unb_excl" ->
      nearestUnbSql(" WHERE NOT (px = bx AND py = by)"),
    "geo_io" ->
      s"""$B SELECT k, w*h AS pq_area, w*h AS csv_area, w*h AS nd_area, w*h AS fc_area,
         | w*h AS wkb_area, 4326 AS wkb_srid,
         | (SELECT count(*) FROM orders WHERE CAST(o_orderkey%1000000 AS DOUBLE)*16.0 <= 1000)
         |   AS bb_n
         |FROM b ORDER BY k""".stripMargin,
    "geo_curved" ->
      s"""$B SELECT k, 'CircularString' AS gt, 4326 AS srid, 3 AS ncoords,
         | xmin AS coord0_x, FALSE AS closed, 3 AS cdim3,
         | 'LineString' AS lin_gt, 65 AS lin_npts, xmin AS lin_first_x,
         | xmin + 2*w AS lin_last_x, TRUE AS len_ok
         |FROM b ORDER BY k""".stripMargin,
    "geo_curved2" ->
      s"""$B SELECT k, 'CompoundCurve' AS cc_gt, TRUE AS cc_len_ok,
         | TRUE AS circle_area_ok, TRUE AS hole_area_ok,
         | xmin AS bb_xmin, ymin - w AS bb_ymin,
         | xmin + 2*w AS bb_xmax, ymin + w AS bb_ymax,
         | 'CircularString' AS ext_gt, 'CompoundCurve' AS rt_gt,
         | 'CurvePolygon' AS wkb_gt, 5 AS ncoord, 2 AS nmc,
         | 'CircularString' AS mc_m1, 'MultiCurve' AS cast_gt,
         | 'Polygon' AS lin_gt, 3857 AS esrid,
         | 'CircularString' AS aff_gt, TRUE AS aff_len_ok, TRUE AS aff_scale_ok,
         | TRUE AS has_arc, FALSE AS no_arc
         |FROM b ORDER BY k""".stripMargin,
    "geo_io_fgb" ->
      s"""$B SELECT k, w*h AS fgb_area, 4326 AS fgb_srid, w*h AS p_area,
         | (SELECT count(*) FROM b WHERE CAST(k%1000000 AS DOUBLE)*16.0 <= 1000.0) AS ibb_n,
         | (SELECT CAST(sum(k) AS BIGINT) FROM b
         |   WHERE CAST(k%1000000 AS DOUBLE)*16.0 <= 1000.0) AS ibb_sum_k,
         | (SELECT CAST(sum(k) AS BIGINT) FROM b WHERE k % 2 = 0) AS dsv2_sum_k,
         | (SELECT count(*) FROM b WHERE CAST(k%1000000 AS DOUBLE)*16.0 <= 1000.0)
         |   AS dsv2_bbox_n
         |FROM b ORDER BY k""".stripMargin,
    "geo_io_shp" ->
      s"""$B SELECT k, 'r' || CAST(k AS VARCHAR) AS name, w*h AS shp_area,
         | 4326 AS shp_srid,
         | (SELECT count(*) FROM orders WHERE CAST(o_orderkey%1000000 AS DOUBLE)*16.0 <= 1000)
         |   AS bb_n,
         | (SELECT count(*) FROM b WHERE k % 2 = 0) AS rf_n,
         | (SELECT CAST(sum(k) AS BIGINT) FROM b WHERE k % 2 = 0) AS rf_sum_k,
         | (SELECT count(*) FROM orders WHERE CAST(o_orderkey%1000000 AS DOUBLE)*16.0 <= 1000)
         |   AS dsv2_bb_n
         |FROM b ORDER BY k""".stripMargin,
    "geo_io_gpkg" ->
      s"""$B SELECT k, 'r' || CAST(k AS VARCHAR) AS name, w*h AS gpkg_area,
         | 4326 AS gpkg_srid,
         | (SELECT count(*) FROM orders WHERE CAST(o_orderkey%1000000 AS DOUBLE)*16.0 <= 1000)
         |   AS bb_n,
         | (SELECT count(*) FROM b WHERE k % 2 = 0) AS dsv2_n,
         | (SELECT CAST(sum(k) AS BIGINT) FROM b WHERE k % 2 = 0) AS dsv2_sum_k
         |FROM b ORDER BY k""".stripMargin,
    "geo_io_xml" ->
      s"""$B SELECT k, 'r' || CAST(k AS VARCHAR) AS kml_name, w*h AS kml_area,
         | 4326 AS kml_srid, xmin+w/2 AS wpt_x,
         | 1+CAST(k%16 AS DOUBLE)/4.0 AS wpt_ele,
         | 1+CAST(k%16 AS DOUBLE)/4.0 AS wpt_z,
         | w+h AS trk_len, w*h AS gml_area, 4326 AS gml_srid,
         | 'r' || CAST(k AS VARCHAR) AS mif_name, w*h AS mif_area,
         | 4326 AS mif_srid, 2*(w+h) AS dxf_perim
         |FROM b ORDER BY k""".stripMargin,
    "geo_list_eval" ->
      s"""$B SELECT k, xmin+w AS part_x1, 4 AS parts_n, w*h AS parts_area_sum
         |FROM b ORDER BY k""".stripMargin,
    "geo_io_skip" ->
      s"""$B, w1 AS (SELECT k FROM b ORDER BY k LIMIT 11 OFFSET 7),
         | rk AS (SELECT k, row_number() OVER (ORDER BY k) AS rn FROM b),
         | wb AS (SELECT k FROM b WHERE CAST(k%1000000 AS DOUBLE)*16.0 <= 1000.0
         |   ORDER BY k LIMIT 5 OFFSET 2),
         | wk AS (SELECT k FROM b ORDER BY k LIMIT 20 OFFSET 13)
         |SELECT
         | (SELECT count(*) FROM w1) AS shp_n,
         | (SELECT min(k) FROM w1) AS shp_min_k,
         | (SELECT max(k) FROM w1) AS shp_max_k,
         | (SELECT CAST(sum(k) AS BIGINT) FROM w1) AS shp_sum_k,
         | (SELECT count(*) FROM wb) AS shpb_n,
         | (SELECT min(k) FROM wb) AS shpb_min_k,
         | (SELECT CAST(sum(k) AS BIGINT) FROM wb) AS shpb_sum_k,
         | (SELECT count(*) FROM w1) AS gpkg_n,
         | (SELECT min(k) FROM w1) AS gpkg_min_k,
         | (SELECT CAST(sum(k) AS BIGINT) FROM w1) AS gpkg_sum_k,
         | (SELECT count(*) FROM w1) AS fgb_n,
         | (SELECT min(k) FROM w1) AS fgb_min_k,
         | (SELECT CAST(sum(k) AS BIGINT) FROM w1) AS fgb_sum_k,
         | (SELECT count(*) FROM wk) AS kml_n,
         | (SELECT min(k) FROM wk) AS kml_min_k,
         | (SELECT CAST(sum(k) AS BIGINT) FROM wk) AS kml_sum_k,
         | (SELECT count(*) FROM rk WHERE rn IN (2, 6, 101)) AS shpf_n,
         | (SELECT CAST(sum(k) AS BIGINT) FROM rk WHERE rn IN (2, 6, 101)) AS shpf_sum_k,
         | (SELECT count(*) FROM rk WHERE rn IN (2, 9, 200)) AS gpkgf_n,
         | (SELECT CAST(sum(k) AS BIGINT) FROM rk WHERE rn IN (2, 9, 200)) AS gpkgf_sum_k,
         | (SELECT count(*) FROM b WHERE k % 1000 = 0) AS shpw_n,
         | (SELECT CAST(sum(k) AS BIGINT) FROM b WHERE k % 1000 = 0) AS shpw_sum_k,
         | (SELECT CAST(sum(rn - 1) AS BIGINT) FROM rk WHERE rn BETWEEN 8 AND 18)
         |   AS shp_fid_sum,
         | (SELECT CAST(sum(rn) AS BIGINT) FROM rk WHERE rn BETWEEN 8 AND 18)
         |   AS gpkg_fid_sum,
         | (SELECT CAST(sum(rn - 1) AS BIGINT) FROM rk WHERE rn BETWEEN 8 AND 18)
         |   AS fgb_fid_sum,
         | (SELECT CAST(sum(rn - 1) AS BIGINT) FROM rk WHERE rn IN (2, 6, 101))
         |   AS shpf_fid_sum""".stripMargin
  )
}
