package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit

/** Sugar API mirroring the reference's top-level `st.*` module
  * (`/root/reference/polars_st/sugar.py`): `st_area($"geometry")` etc.
  * Optional parameters take the reference's defaults. */
package object functions {

  import GeoUDFs._

  // The SQL names keep the ScalaUDFs (also the test reference); the hot
  // ops below skip their encoder round trip (~2-3× the JTS kernel) with a
  // one-call `STGeoFused` over the same kernel table ([[GeoKernels]]),
  // which [[graft.plans.GeoFusionRule]] still fuses into longer chains.
  import org.apache.spark.sql.graft.ColumnBridge

  /** `name`'s kernel as a one-call `STGeoFused`. `args` are in kernel
    * order, geometry arguments first; the scalar ones are cast to double,
    * and `defaults` fill the kernel's remaining arguments. */
  private def kernel(name: String, args: Column*)(defaults: Any*): Column = {
    import graft.plans.{GProg, STGeoFused}
    val k = GeoKernels.table(name)
    val children = args.zipWithIndex.map { case (c, i) =>
      ColumnBridge.expression(if (k.geomArgs(i)) c
        else c.cast(org.apache.spark.sql.types.DoubleType))
    } ++ defaults.map(org.apache.spark.sql.catalyst.expressions.Literal(_))
    val prog = GProg.Call(name, children.indices.map(i =>
      if (k.geomArgs(i)) GProg.Load(i) else GProg.Scalar(i)))
    ColumnBridge.column(STGeoFused(prog, k.dataType, children))
  }

  // ------------------------------------------------------------ constructors
  def st_geomfromtext(wkt: Column): Column = geomFromWkt(wkt)
  def st_geomfromewkt(ewkt: Column): Column = geomFromEwkt(ewkt)
  def st_geomfromwkb(wkb: Column): Column = geomFromWkb(wkb)
  def st_geomfromgeojson(json: Column): Column = geomFromGeoJson(json)
  def st_point(x: Column, y: Column): Column = point(x, y)
  def st_point(x: Column, y: Column, z: Column): Column = pointZ(x, y, z)
  def st_point_from_coords(xs: Column): Column = pointFromCoords(xs)
  def st_multipoint(xs: Column): Column = multiPoint(xs)
  def st_linestring(xs: Column): Column = lineString(xs)
  def st_multilinestring(xs: Column): Column = multiLineString(xs)
  /** CircularString from coords (reference `circularstring`,
    * `parsing.py:163-189`) — curved EWKB bytes. Every compute op accepts
    * them (length/area/bounds exactly, the rest via auto-linearization —
    * [[graft.serde.CurvedGeom]]); [[st_linearize]] is the explicit,
    * tolerance-controlled escape. */
  def st_circularstring(xs: Column): Column = circularString(xs)
  /** Arcs → chords (PostGIS `ST_CurveToLine` convention); non-curved input
    * passes through unchanged. */
  def st_linearize(g: Column): Column = linearize(g, lit(32))
  def st_linearize(g: Column, segsPerQuadrant: Column): Column =
    linearize(g, segsPerQuadrant)
  def st_polygon(rings: Column): Column = polygon(rings)
  def st_rectangle(xmin: Column, ymin: Column, xmax: Column, ymax: Column): Column =
    rectangle(xmin, ymin, xmax, ymax)

  /** dtype-driven dispatch like the reference `from_coords`
    * (`/root/reference/polars_st/parsing.py:285-320`): array nesting depth
    * 1 → Point, 2 → LineString, 3 → Polygon. Spark `Column`s don't carry a
    * resolved type, so the element type is passed explicitly or taken from
    * a frame's schema. */
  def st_from_coords(c: Column, dataType: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types.ArrayType
    def depth(t: org.apache.spark.sql.types.DataType, d: Int = 0): Int = t match {
      case ArrayType(inner, _) => depth(inner, d + 1)
      case _ => d
    }
    depth(dataType) match {
      case 1 => pointFromCoords(c)
      case 2 => lineString(c)
      case 3 => polygon(c)
      case d => throw new IllegalArgumentException(
        s"from_coords: expected array nesting depth 1-3, got $d for $dataType")
    }
  }

  def st_from_coords(df: org.apache.spark.sql.DataFrame, colName: String): Column =
    st_from_coords(df(colName), df.schema(colName).dataType)

  // --------------------------------------------------------------- accessors
  def st_geometrytype(g: Column): Column = geometryType(g)
  def st_dimensions(g: Column): Column = dimensions(g)
  def st_coordinatedimension(g: Column): Column = coordinateDimension(g)
  def st_srid(g: Column): Column = srid(g)
  def st_x(g: Column): Column = x(g)
  def st_y(g: Column): Column = y(g)
  def st_z(g: Column): Column = z(g)
  def st_m(g: Column): Column = m(g)
  def st_count_coordinates(g: Column): Column = countCoordinates(g)
  def st_coordinates(g: Column): Column = coordinates(g)
  def st_coordinates(g: Column, outputDimension: Column): Column =
    coordinatesDim(g, outputDimension)
  def st_exterior_ring(g: Column): Column = exteriorRing(g)
  def st_interior_rings(g: Column): Column = interiorRings(g)
  def st_count_interior_rings(g: Column): Column = countInteriorRings(g)
  def st_get_interior_ring(g: Column, i: Column): Column = getInteriorRing(g, i)
  def st_count_geometries(g: Column): Column = countGeometries(g)
  def st_get_geometry(g: Column, i: Column): Column = getGeometry(g, i)
  def st_count_points(g: Column): Column = countPoints(g)
  def st_get_point(g: Column, i: Column): Column = getPoint(g, i)
  def st_parts(g: Column): Column = parts(g)
  def st_precision(g: Column): Column = precision(g)
  def st_set_precision(g: Column, gridSize: Column): Column =
    setPrecision(g, gridSize, lit("valid_output"))
  def st_set_precision(g: Column, gridSize: Column, mode: Column): Column =
    setPrecision(g, gridSize, mode)
  def st_bounds(g: Column): Column = bounds(g)

  // ------------------------------------------------------------- measurement
  def st_area(g: Column): Column = kernel("st_area", g)()
  def st_length(g: Column): Column = kernel("st_length", g)()
  def st_distance(a: Column, b: Column): Column = kernel("st_distance", a, b)()
  def st_hausdorff_distance(a: Column, b: Column): Column = hausdorffDistance(a, b)
  def st_hausdorff_distance(a: Column, b: Column, densify: Column): Column =
    hausdorffDistanceDensify(a, b, densify)
  def st_frechet_distance(a: Column, b: Column): Column = frechetDistance(a, b)
  def st_frechet_distance(a: Column, b: Column, densify: Column): Column =
    frechetDistanceDensify(a, b, densify)
  def st_minimum_clearance(g: Column): Column = minimumClearance(g)

  // -------------------------------------------------------- unary predicates
  def st_has_z(g: Column): Column = hasZ(g)
  def st_has_m(g: Column): Column = hasM(g)
  /** Contains circular arcs (curved types 8-12 or a curve-bearing
    * collection) — PostGIS `ST_HasArc`; pair with [[st_linearize]]. */
  def st_has_arc(g: Column): Column = hasArc(g)
  def st_is_ccw(g: Column): Column = isCcw(g)
  def st_is_closed(g: Column): Column = isClosed(g)
  def st_is_empty(g: Column): Column = isEmpty(g)
  def st_is_ring(g: Column): Column = isRing(g)
  def st_is_simple(g: Column): Column = isSimple(g)
  def st_is_valid(g: Column): Column = isValid(g)
  def st_is_valid_reason(g: Column): Column = isValidReason(g)

  // ------------------------------------------------------- binary predicates
  def st_intersects(a: Column, b: Column): Column = kernel("st_intersects", a, b)()
  def st_crosses(a: Column, b: Column): Column = crosses(a, b)
  def st_contains(a: Column, b: Column): Column = kernel("st_contains", a, b)()
  def st_contains_properly(a: Column, b: Column): Column = containsProperly(a, b)
  def st_covered_by(a: Column, b: Column): Column = coveredBy(a, b)
  def st_covers(a: Column, b: Column): Column = covers(a, b)
  def st_disjoint(a: Column, b: Column): Column = disjoint(a, b)
  def st_overlaps(a: Column, b: Column): Column = overlaps(a, b)
  def st_touches(a: Column, b: Column): Column = touches(a, b)
  def st_within(a: Column, b: Column): Column = kernel("st_within", a, b)()
  def st_equals(a: Column, b: Column): Column = equalsTopo(a, b)
  def st_equals_identical(a: Column, b: Column): Column = equalsIdentical(a, b)
  def st_equals_exact(a: Column, b: Column, tolerance: Column): Column =
    equalsExact(a, b, tolerance)
  def st_dwithin(a: Column, b: Column, d: Column): Column = kernel("st_dwithin", a, b, d)()
  def st_relate(a: Column, b: Column): Column = relate(a, b)
  def st_relate_pattern(a: Column, b: Column, pattern: Column): Column =
    relatePattern(a, b, pattern)
  def st_intersects_xy(g: Column, x: Column, y: Column): Column = intersectsXY(g, x, y)
  def st_contains_xy(g: Column, x: Column, y: Column): Column = containsXY(g, x, y)

  // ---------------------------------------------------------------- overlay
  def st_union(a: Column, b: Column): Column = union(a, b)
  def st_union(a: Column, b: Column, gridSize: Column): Column = unionPrec(a, b, gridSize)
  def st_intersection(a: Column, b: Column): Column = intersection(a, b)
  def st_intersection(a: Column, b: Column, gridSize: Column): Column =
    intersectionPrec(a, b, gridSize)
  def st_difference(a: Column, b: Column): Column = difference(a, b)
  def st_difference(a: Column, b: Column, gridSize: Column): Column =
    differencePrec(a, b, gridSize)
  def st_symmetric_difference(a: Column, b: Column): Column = symmetricDifference(a, b)
  def st_symmetric_difference(a: Column, b: Column, gridSize: Column): Column =
    symmetricDifferencePrec(a, b, gridSize)
  def st_unary_union(g: Column): Column = unaryUnion(g)
  def st_disjoint_subset_union(g: Column): Column = disjointSubsetUnion(g)
  def st_coverage_union(g: Column): Column = coverageUnion(g)

  // ------------------------------------------------------------ constructive
  def st_boundary(g: Column): Column = boundary(g)
  /** The reference's kwargs defaults (args.rs:102-124): quad_segs 8,
    * round cap and join, mitre limit 5.0, two-sided. */
  def st_buffer(g: Column, distance: Column): Column =
    kernel("st_buffer", g, distance)(8, "round", "round", 5.0, false)
  def st_buffer(g: Column, distance: Column, quadSegs: Column, capStyle: Column,
      joinStyle: Column, mitreLimit: Column, singleSided: Column): Column =
    buffer(g, distance, quadSegs, capStyle, joinStyle, mitreLimit, singleSided)
  def st_offset_curve(g: Column, distance: Column): Column =
    offsetCurve(g, distance, lit(8), lit("round"), lit(5.0))
  def st_offset_curve(g: Column, distance: Column, quadSegs: Column, joinStyle: Column,
      mitreLimit: Column): Column = offsetCurve(g, distance, quadSegs, joinStyle, mitreLimit)
  def st_centroid(g: Column): Column = kernel("st_centroid", g)()
  def st_center(g: Column): Column = center(g)
  def st_clip_by_rect(g: Column, xmin: Column, ymin: Column, xmax: Column, ymax: Column): Column =
    clipByRect(g, xmin, ymin, xmax, ymax)
  def st_convex_hull(g: Column): Column = convexHull(g)
  def st_concave_hull(g: Column, ratio: Column, allowHoles: Column): Column =
    concaveHull(g, ratio, allowHoles)
  def st_concave_hull(g: Column, ratio: Column): Column = concaveHull(g, ratio, lit(false))
  def st_concave_hull(g: Column): Column = concaveHull(g, lit(0.0), lit(false))
  def st_segmentize(g: Column, maxSegmentLength: Column): Column = segmentize(g, maxSegmentLength)
  def st_envelope(g: Column): Column = kernel("st_envelope", g)()
  def st_extract_unique_points(g: Column): Column = extractUniquePoints(g)
  def st_build_area(g: Column): Column = buildArea(g)
  def st_make_valid(g: Column): Column = makeValid(g)
  def st_normalize(g: Column): Column = normalize(g)
  def st_node(g: Column): Column = node(g)
  def st_point_on_surface(g: Column): Column = pointOnSurface(g)
  def st_remove_repeated_points(g: Column, tolerance: Column): Column =
    removeRepeatedPoints(g, tolerance)
  def st_reverse(g: Column): Column = reverse(g)
  def st_simplify(g: Column, tolerance: Column): Column = simplify(g, tolerance, lit(true))
  def st_simplify(g: Column, tolerance: Column, preserveTopology: Column): Column =
    simplify(g, tolerance, preserveTopology)
  def st_force_2d(g: Column): Column = force2d(g)
  def st_force_3d(g: Column): Column = force3d(g, lit(0.0))
  def st_force_3d(g: Column, z: Column): Column = force3d(g, z)
  def st_flip_coordinates(g: Column): Column = flipCoordinates(g)
  def st_minimum_rotated_rectangle(g: Column): Column = minimumRotatedRectangle(g)
  def st_snap(g: Column, other: Column, tolerance: Column): Column = snap(g, other, tolerance)
  def st_shortest_line(a: Column, b: Column): Column = shortestLine(a, b)
  def st_shared_paths(a: Column, b: Column): Column = sharedPaths(a, b)
  def st_cast(g: Column, into: Column): Column = castTo(g, into)
  def st_multi(g: Column): Column = multi(g)

  // ------------------------------------------------- affine / linear-ref
  def st_affine_transform(g: Column, matrix: Column): Column = affineTransform(g, matrix)
  def st_translate(g: Column, dx: Column, dy: Column): Column = translate(g, dx, dy, lit(0.0))
  def st_translate(g: Column, dx: Column, dy: Column, dz: Column): Column =
    translate(g, dx, dy, dz)
  def st_rotate(g: Column, angleDeg: Column): Column = rotate(g, angleDeg, lit("center"))
  def st_rotate(g: Column, angleDeg: Column, origin: Column): Column = rotate(g, angleDeg, origin)
  def st_scale(g: Column, sx: Column, sy: Column): Column =
    scale(g, sx, sy, lit(1.0), lit("center"))
  def st_scale(g: Column, sx: Column, sy: Column, sz: Column, origin: Column): Column =
    scale(g, sx, sy, sz, origin)
  def st_skew(g: Column, xDeg: Column, yDeg: Column): Column = skew(g, xDeg, yDeg, lit("center"))
  def st_skew(g: Column, xDeg: Column, yDeg: Column, origin: Column): Column =
    skew(g, xDeg, yDeg, origin)
  /** 3-axis reference-matrix skew (functions.rs:242-255). */
  def st_skew(g: Column, xDeg: Column, yDeg: Column, zDeg: Column, origin: Column): Column =
    skew3(g, xDeg, yDeg, zDeg, origin)
  def st_interpolate(g: Column, distance: Column): Column =
    interpolate(g, distance, lit(false))
  def st_interpolate(g: Column, distance: Column, normalized: Column): Column =
    interpolate(g, distance, normalized)
  def st_project(g: Column, other: Column): Column = project(g, other, lit(false))
  def st_project(g: Column, other: Column, normalized: Column): Column =
    project(g, other, normalized)
  def st_line_merge(g: Column): Column = lineMerge(g, lit(false))
  def st_line_merge(g: Column, directed: Column): Column = lineMerge(g, directed)

  // --------------------------------------------------------------------- CRS
  def st_set_srid(g: Column, srid: Column): Column = setSrid(g, srid)
  def st_to_srid(g: Column, srid: Column): Column = toSrid(g, srid)
  /** (authority, code) struct from a CRS definition string. */
  def st_get_crs_authority(defn: Column): Column = crsAuthority(defn)
  /** CRS WKT from an EPSG code. */
  def st_get_crs_from_code(srid: Column): Column = crsFromCode(srid)
  /** Register an EPSG code from its WKT definition (WKT1/ESRI/WKT2 —
    * epsg.io / `.prj` format) or its PROJ.4 string (`+proj=...`, the other
    * text epsg.io serves) so `st_to_srid` can transform to/from it — the
    * escape hatch for codes beyond the embedded table. JVM-local; on a
    * multi-executor cluster pass definitions via the `spark.graft.crs.wkt`
    * submit-time conf instead (see [[CrsRegistry]]). */
  def registerCrs(code: Int, definition: String): Unit =
    CrsRegistry.register(code, definition)

  // ----------------------------------------------------------- serialization
  def st_aswkt(g: Column): Column = asWkt(g)
  def st_aswkt(g: Column, precision: Column): Column = asWktPrecision(g, precision)
  /** Full kwargs form (reference `to_wkt(rounding_precision, trim,
    * output_dimension, old_3d)`). */
  def st_aswkt(g: Column, precision: Column, trim: Column,
      outputDimension: Column, old3d: Column): Column =
    asWktFmt(g, precision, trim, outputDimension, old3d)
  def st_asewkt(g: Column): Column = asEwkt(g)
  def st_asewkt(g: Column, precision: Column, trim: Column,
      outputDimension: Column, old3d: Column): Column =
    asEwktFmt(g, precision, trim, outputDimension, old3d)
  def st_aswkb(g: Column): Column = asWkb(g, lit(3), lit(false), lit(false))
  def st_aswkb(g: Column, outputDimension: Column, bigEndian: Column, includeSrid: Column): Column =
    asWkb(g, outputDimension, bigEndian, includeSrid)
  def st_asgeojson(g: Column): Column = asGeoJson(g)
  /** Pretty-printed form (reference `to_geojson(indent)`); negative indent
    * = compact. */
  def st_asgeojson(g: Column, indent: Column): Column = asGeoJsonIndent(g, indent)

  // ------------------------------------------------------------ aggregations
  def st_union_all(g: Column): Column = graft.aggs.GeoAggs.unionAll(g)
  /** Precision-grid variant (reference `union_all(grid_size)`). */
  def st_union_all(g: Column, gridSize: Double): Column =
    graft.aggs.GeoAggs.unionAllUdaf(gridSize)(g)
  def st_total_bounds(g: Column): Column = graft.aggs.GeoAggs.totalBounds(g)
  def st_collect(g: Column): Column = graft.aggs.GeoAggs.collect(g)
  def st_intersection_all(g: Column): Column = graft.aggs.GeoAggs.intersectionAll(g)
  def st_intersection_all(g: Column, gridSize: Double): Column =
    graft.aggs.GeoAggs.intersectionAllUdaf(gridSize)(g)
  /** Left fold of difference; the minuend is the FIRST ROW IN ENCOUNTER
    * ORDER, which is nondeterministic after a shuffle. FINAL decision
    * (r14, priced in PERF.md): this default cannot silently become
    * deterministic — Spark's analyzer rejects nondeterministic
    * expressions (e.g. `monotonically_increasing_id()`) inside
    * aggregate-function arguments, so an order key can only be stamped
    * by the caller BEFORE the aggregation. Doing so is free (ordered
    * fold priced at 0.99× plain, sf0.1 and 10×): order-sensitive inputs
    * should always use [[st_difference_all_ordered]] with a
    * `withColumn("_mid", monotonically_increasing_id())` (or any
    * explicit rank) stamped upstream — or the frame-level door
    * [[graft.aggs.GeoAggs.differenceAllByRow]], which is that two-step
    * recipe as one call (r15). */
  def st_difference_all(g: Column): Column = graft.aggs.GeoAggs.differenceAll(g)
  def st_difference_all(g: Column, gridSize: Double): Column =
    graft.aggs.GeoAggs.differenceAllUdaf(gridSize)(g)
  /** Deterministic variant: minuend = row with the smallest `order` value. */
  def st_difference_all_ordered(g: Column, order: Column): Column =
    graft.aggs.GeoAggs.differenceAllOrdered(g, order)
  def st_difference_all_ordered(g: Column, order: Column, gridSize: Double): Column =
    graft.aggs.GeoAggs.differenceAllOrderedUdaf(gridSize)(g, order)
  def st_symmetric_difference_all(g: Column): Column = graft.aggs.GeoAggs.symmetricDifferenceAll(g)
  def st_symmetric_difference_all(g: Column, gridSize: Double): Column =
    graft.aggs.GeoAggs.symmetricDifferenceAllUdaf(gridSize)(g)
  def st_coverage_union_all(g: Column): Column = graft.aggs.GeoAggs.coverageUnionAll(g)
  def st_polygonize(g: Column): Column = graft.aggs.GeoAggs.polygonize(g)
  def st_voronoi_polygons(g: Column): Column = graft.aggs.GeoAggs.voronoiPolygons(g)
  /** Kwargs variant (reference `voronoi_polygons(tolerance, extend_to,
    * only_edges)`): `extendTo` = (xmin, ymin, xmax, ymax) clip envelope or
    * null for the default expanded site envelope. */
  def st_voronoi_polygons(g: Column, tolerance: Double, onlyEdges: Boolean,
      extendTo: Seq[Double] = null): Column =
    graft.aggs.GeoAggs.voronoiPolygonsUdaf(tolerance, onlyEdges, extendTo)(g)
  def st_delaunay_triangles(g: Column): Column = graft.aggs.GeoAggs.delaunayTriangles(g)
  /** Kwargs variant (reference `delaunay_triangles(tolerance, only_edges)`). */
  def st_delaunay_triangles(g: Column, tolerance: Double, onlyEdges: Boolean): Column =
    graft.aggs.GeoAggs.delaunayTrianglesUdaf(tolerance, onlyEdges)(g)
}
