package graft

import graft.serde.{CurvedGeom, EWKB}
import graft.serde.CurvedGeom.{CLine, CCompound, CPoly, CMulti}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions._

/** Full curved-type model (round 11): WKT/WKB round trips for types 8-12,
  * the exact arc closed forms for length/area/bounds, structure accessors
  * on curved containers, compute-op auto-linearization, and UDF/native
  * tier equality. Math anchors are closed-form (πr, πr², stadium areas),
  * not fixtures from any library. */
class CurvedModelSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def one(expr: org.apache.spark.sql.Column): Any =
    Seq(1).toDF("k").select(expr.as("v")).collect()(0).get(0)

  private def wkt(s: String): Array[Byte] =
    CurvedGeom.write(CurvedGeom.parseWkt(s), 0)

  // ----------------------------------------------------------- WKT parsing

  test("curved WKT parse/print round trips for all five types") {
    val fixtures = Seq(
      "CIRCULARSTRING (0 0, 1 1, 2 0)",
      "COMPOUNDCURVE ((0 0, 2 0), CIRCULARSTRING (2 0, 3 1, 4 0))",
      "CURVEPOLYGON (CIRCULARSTRING (0 0, 2 0, 0 0))",
      "CURVEPOLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), CIRCULARSTRING (2 2, 4 2, 2 2))",
      "MULTICURVE ((0 0, 1 1), CIRCULARSTRING (1 1, 2 2, 3 1))",
      "MULTISURFACE (CURVEPOLYGON (CIRCULARSTRING (0 0, 2 0, 0 0)), ((10 10, 11 10, 11 11, 10 10)))",
      "CIRCULARSTRING EMPTY",
      "COMPOUNDCURVE EMPTY",
      "CURVEPOLYGON EMPTY",
      "MULTICURVE EMPTY",
      "MULTISURFACE EMPTY",
      "CIRCULARSTRING Z (0 0 1, 1 1 2, 2 0 3)")
    for (f <- fixtures) {
      val g = CurvedGeom.parseWkt(f)
      val printed = CurvedGeom.toWkt(g)
      assert(printed == f, s"print mismatch for $f -> $printed")
      // byte round trip preserves the model
      val b = CurvedGeom.write(g, 0)
      assert(CurvedGeom.toWkt(CurvedGeom.parse(b)._2) == f)
    }
  }

  test("WKB round trip via big-endian and ISO paths") {
    val g = CurvedGeom.parseWkt(
      "COMPOUNDCURVE ((0 0, 2 0), CIRCULARSTRING (2 0, 3 1, 4 0))")
    val be = CurvedGeom.write(g, 4326, bigEndian = true)
    val (srid2, g2) = CurvedGeom.parse(be)
    assert(srid2 == 4326)
    assert(CurvedGeom.toWkt(g2) == CurvedGeom.toWkt(g))
  }

  // ------------------------------------------------------------ exact math

  test("exact length: semicircle, compound stadium boundary, multicurve") {
    val semi = CurvedGeom.parseWkt("CIRCULARSTRING (0 0, 5 5, 10 0)") // r=5
    assert(math.abs(CurvedGeom.length(semi) - math.Pi * 5) < 1e-12)
    val comp = CurvedGeom.parseWkt(
      "COMPOUNDCURVE ((0 0, 10 0), CIRCULARSTRING (10 0, 15 5, 10 10), (10 10, 0 10))")
    assert(math.abs(CurvedGeom.length(comp) - (20 + math.Pi * 5)) < 1e-12)
    val mc = CurvedGeom.parseWkt(
      "MULTICURVE ((0 0, 3 4), CIRCULARSTRING (0 0, 5 5, 10 0))")
    assert(math.abs(CurvedGeom.length(mc) - (5 + math.Pi * 5)) < 1e-12)
  }

  test("exact area: full circle, stadium, circular hole, multisurface") {
    // full circle r=5 via the SQL-MM two-point form
    val circle = CurvedGeom.parseWkt("CURVEPOLYGON (CIRCULARSTRING (0 0, 10 0, 0 0))")
    assert(math.abs(CurvedGeom.area(circle) - math.Pi * 25) < 1e-10)
    // stadium: 10x10 square with a semicircular right cap (r=5)
    val stadium = CurvedGeom.parseWkt(
      "CURVEPOLYGON (COMPOUNDCURVE ((0 10, 0 0, 10 0), CIRCULARSTRING (10 0, 15 5, 10 10), (10 10, 0 10)))")
    assert(math.abs(CurvedGeom.area(stadium) - (100 + math.Pi * 25 / 2)) < 1e-10)
    // square with a circular hole r=1 at (5,5)
    val holed = CurvedGeom.parseWkt(
      "CURVEPOLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), CIRCULARSTRING (4 5, 6 5, 4 5))")
    assert(math.abs(CurvedGeom.area(holed) - (100 - math.Pi)) < 1e-10)
    // orientation invariance: clockwise exterior gives the same area
    val cw = CurvedGeom.parseWkt("CURVEPOLYGON (CIRCULARSTRING (0 0, -10 0, 0 0))")
    assert(math.abs(CurvedGeom.area(cw) - math.Pi * 25) < 1e-10)
    val ms = CurvedGeom.parseWkt(
      "MULTISURFACE (CURVEPOLYGON (CIRCULARSTRING (0 0, 2 0, 0 0)), ((10 10, 14 10, 14 11, 10 11, 10 10)))")
    assert(math.abs(CurvedGeom.area(ms) - (math.Pi + 4)) < 1e-10)
  }

  test("major arc (sweep > pi) length and segment area") {
    // three-quarter circle r=5 around origin: from (5,0) through (-5,0) to (0,-5)
    val arc = CurvedGeom.parseWkt("CIRCULARSTRING (5 0, -5 0, 0 -5)")
    assert(math.abs(CurvedGeom.length(arc) - 1.5 * math.Pi * 5) < 1e-12)
    // closed pac-man: the two radii + the arc; area = 3/4 circle
    val pac = CurvedGeom.parseWkt(
      "CURVEPOLYGON (COMPOUNDCURVE ((0 0, 5 0), CIRCULARSTRING (5 0, -5 0, 0 -5), (0 -5, 0 0)))")
    assert(math.abs(CurvedGeom.area(pac) - 0.75 * math.Pi * 25) < 1e-10)
  }

  test("exact bounds include arc axis extremes, not just control points") {
    // arc on circle r=5 centered origin from (3,-4) through (4,3) to (-3,4):
    // CCW sweep crosses 0° and 90° -> xmax=5, ymax=5 beyond all control points
    val arc = CurvedGeom.parseWkt("CIRCULARSTRING (3 -4, 4 3, -3 4)")
    val bb = CurvedGeom.bounds(arc)
    assert(bb.toSeq == Seq(-3.0, -4.0, 5.0, 5.0))
    // full circle r=5 centered (5,0)
    val circle = CurvedGeom.parseWkt("CURVEPOLYGON (CIRCULARSTRING (0 0, 10 0, 0 0))")
    assert(CurvedGeom.bounds(circle).toSeq == Seq(0.0, -5.0, 10.0, 5.0))
    // st_bounds wires the exact path
    val got = one(st_bounds(st_geomfromtext(lit("CIRCULARSTRING (3 -4, 4 3, -3 4)"))))
      .asInstanceOf[scala.collection.Seq[Double]]
    assert(got.toSeq == Seq(-3.0, -4.0, 5.0, 5.0))
  }

  // --------------------------------------------------- Column API surface

  test("st_length / st_area are exact on curved columns, both tiers") {
    val lenU = one(st_length(st_geomfromtext(lit("CIRCULARSTRING (0 0, 5 5, 10 0)"))))
    assert(math.abs(lenU.asInstanceOf[Double] - math.Pi * 5) < 1e-12)
    val areaU = one(st_area(st_geomfromtext(lit("CURVEPOLYGON (CIRCULARSTRING (0 0, 10 0, 0 0))"))))
    assert(math.abs(areaU.asInstanceOf[Double] - math.Pi * 25) < 1e-10)
    // the one-call kernel expression over stored curved bytes (no parse
    // to fuse with) sees the same closed form
    val stored = Seq((
      CurvedGeom.write(CurvedGeom.parseWkt("CIRCULARSTRING (0 0, 5 5, 10 0)"), 0),
      CurvedGeom.write(CurvedGeom.parseWkt("CURVEPOLYGON (CIRCULARSTRING (0 0, 10 0, 0 0))"), 0)))
      .toDF("l", "a")
    val nat = stored.select(st_length(col("l")), st_area(col("a"))).collect()(0)
    assert(math.abs(nat.getDouble(0) - math.Pi * 5) < 1e-12)
    assert(math.abs(nat.getDouble(1) - math.Pi * 25) < 1e-10)
  }

  test("serializers preserve curves; parsers accept curved tags") {
    val cs = st_geomfromtext(lit("CIRCULARSTRING (0 0, 1 1, 2 0)"))
    assert(one(st_aswkt(cs)) == "CIRCULARSTRING (0 0, 1 1, 2 0)")
    assert(one(st_geometrytype(cs)) == "CircularString")
    // EWKT round trip with SRID
    val e = one(st_asewkt(graft.functions.st_set_srid(cs, lit(4326))))
    assert(e == "SRID=4326;CIRCULARSTRING (0 0, 1 1, 2 0)")
    assert(one(st_geometrytype(st_geomfromewkt(lit(e.asInstanceOf[String])))) == "CircularString")
    assert(one(graft.functions.st_srid(st_geomfromewkt(lit(e.asInstanceOf[String])))) == 4326)
    // WKB round trip, big-endian, no srid
    val t = one(st_geometrytype(graft.functions.st_geomfromwkb(
      st_aswkb(st_geomfromtext(lit("COMPOUNDCURVE ((0 0, 2 0), CIRCULARSTRING (2 0, 3 1, 4 0))")),
        lit(2), lit(true), lit(false)))))
    assert(t == "CompoundCurve")
    // to_wkt precision formatting applies to curved output
    val p = one(st_aswkt(st_geomfromtext(lit("CIRCULARSTRING (0.123456789 0, 1 1, 2 0)"))))
    assert(p == "CIRCULARSTRING (0.123457 0, 1 1, 2 0)")
  }

  test("structure accessors on curved containers") {
    val mc = st_geomfromtext(lit("MULTICURVE ((0 0, 1 1), CIRCULARSTRING (1 1, 2 2, 3 1))"))
    assert(one(st_count_geometries(mc)) == 2)
    assert(one(st_geometrytype(st_get_geometry(mc, lit(1)))) == "CircularString")
    val cp = st_geomfromtext(lit(
      "CURVEPOLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), CIRCULARSTRING (4 5, 6 5, 4 5))"))
    assert(one(st_geometrytype(st_exterior_ring(cp))) == "LineString")
    assert(one(st_count_interior_rings(cp)) == 1)
    assert(one(st_geometrytype(st_get_interior_ring(cp, lit(0)))) == "CircularString")
    val cc = st_geomfromtext(lit("COMPOUNDCURVE ((0 0, 2 0), CIRCULARSTRING (2 0, 3 1, 4 0))"))
    assert(one(st_count_coordinates(cc)) == 5)
    assert(one(st_is_closed(cc)) == false)
    val ring = st_geomfromtext(lit(
      "COMPOUNDCURVE ((0 10, 0 0, 10 0), CIRCULARSTRING (10 0, 15 5, 10 10), (10 10, 0 10))"))
    assert(one(st_is_closed(ring)) == true)
    val cs = st_geomfromtext(lit("CIRCULARSTRING (0 0, 1 1, 2 0)"))
    assert(one(st_count_points(cs)) == 3)
    assert(one(st_x(st_get_point(cs, lit(1)))) == 1.0)
    // parts of an atomic curved value is itself
    val ps = one(st_parts(cs)).asInstanceOf[scala.collection.Seq[Array[Byte]]]
    assert(ps.length == 1 && EWKB.header(ps.head).typeCode == 8)
  }

  test("compute ops auto-linearize curved input") {
    val circle = st_geomfromtext(lit("CURVEPOLYGON (CIRCULARSTRING (0 0, 10 0, 0 0))"))
    // centroid of the full circle is its center (5, 0)
    assert(math.abs(one(st_x(st_centroid(circle))).asInstanceOf[Double] - 5.0) < 1e-9)
    // point-in-curve predicate works through linearization
    val inside = one(graft.functions.st_intersects(circle, st_point(lit(5.0), lit(0.0))))
    assert(inside == true)
    // buffering a circularstring yields positive area
    val bufA = one(st_area(st_buffer(st_geomfromtext(lit("CIRCULARSTRING (0 0, 5 5, 10 0)")), lit(1.0))))
    assert(bufA.asInstanceOf[Double] > 2 * math.Pi * 5) // ~ 2*len*1
    // linearize of a curvepolygon is a Polygon with near-exact area
    val lin = st_linearize(circle, lit(64))
    assert(one(st_geometrytype(lin)) == "Polygon")
    assert(math.abs(one(st_area(lin)).asInstanceOf[Double] - math.Pi * 25) < 0.01 * 25)
    // a GeometryCollection holding a curve parses and computes too
    val gc = CurvedGeom.write(
      CMulti(7, Vector(CurvedGeom.parseWkt("CIRCULARSTRING (0 0, 5 5, 10 0)")), false, false), 0)
    val g = EWKB.read(gc)
    assert(g.getGeometryType == "GeometryCollection")
    assert(math.abs(g.getLength - math.Pi * 5) < 0.01 * 5)
  }

  test("curved casts follow the reference table") {
    val cs = st_geomfromtext(lit("CIRCULARSTRING (0 0, 1 1, 2 0)"))
    assert(one(st_geometrytype(st_cast(cs, lit("compound_curve")))) == "CompoundCurve")
    assert(one(st_geometrytype(st_cast(cs, lit("multicurve")))) == "MultiCurve")
    assert(one(st_geometrytype(st_cast(st_cast(cs, lit("compoundcurve")), lit("multicurve")))) == "MultiCurve")
    val cp = st_geomfromtext(lit("CURVEPOLYGON (CIRCULARSTRING (0 0, 2 0, 0 0))"))
    assert(one(st_geometrytype(st_cast(cp, lit("multisurface")))) == "MultiSurface")
    assert(one(st_geometrytype(st_cast(cp, lit("geometrycollection")))) == "GeometryCollection")
    // linear input to curved containers
    val ls = st_geomfromtext(lit("LINESTRING (0 0, 1 1)"))
    assert(one(st_geometrytype(st_cast(ls, lit("multicurve")))) == "MultiCurve")
    val poly = st_geomfromtext(lit("POLYGON ((0 0, 1 0, 1 1, 0 0))"))
    assert(one(st_geometrytype(st_cast(poly, lit("multisurface")))) == "MultiSurface")
    assert(one(st_geometrytype(st_cast(poly, lit("curvepolygon")))) == "CurvePolygon")
    // invalid curved cast raises
    val err = intercept[Exception] {
      Seq(1).toDF("k").select(st_cast(st_point(lit(0.0), lit(0.0)), lit("multicurve"))).collect()
    }
    assert(err.getMessage != null)
  }

  test("Z ordinates survive the curved paths") {
    val csz = st_geomfromtext(lit("CIRCULARSTRING Z (0 0 1, 1 1 2, 2 0 3)"))
    assert(one(st_coordinatedimension(csz)) == 3)
    assert(one(st_aswkt(csz)) == "CIRCULARSTRING Z (0 0 1, 1 1 2, 2 0 3)")
    // output_dimension=2 drops Z
    assert(one(st_aswkt(csz, lit(6), lit(true), lit(2), lit(false))) ==
      "CIRCULARSTRING (0 0, 1 1, 2 0)")
    // coordinates accessor reports control points with Z
    val rows = one(st_coordinates(csz)).asInstanceOf[scala.collection.Seq[scala.collection.Seq[Double]]]
    assert(rows.map(_.toSeq) == Seq(Seq(0.0, 0.0, 1.0), Seq(1.0, 1.0, 2.0), Seq(2.0, 0.0, 3.0)))
  }

  test("affine family transforms control points and keeps the curved type") {
    val circ = st_geomfromtext(lit("CIRCULARSTRING (0 0, 5 5, 10 0)")) // r=5, len 5π
    // rigid motions: type preserved, exact length invariant
    val tr = st_translate(circ, lit(100.0), lit(200.0), lit(0.0))
    assert(one(st_geometrytype(tr)) == "CircularString")
    assert(math.abs(one(st_length(tr)).asInstanceOf[Double] - math.Pi * 5) < 1e-9)
    assert(one(st_x(st_get_point(tr, lit(0)))) == 100.0)
    val rot = st_rotate(circ, lit(90.0), lit("0 0"))
    assert(one(st_geometrytype(rot)) == "CircularString")
    assert(math.abs(one(st_length(rot)).asInstanceOf[Double] - math.Pi * 5) < 1e-9)
    // uniform scale: length doubles, curvepolygon area quadruples — exact
    val sc = st_scale(circ, lit(2.0), lit(2.0), lit(1.0), lit("0 0"))
    assert(math.abs(one(st_length(sc)).asInstanceOf[Double] - math.Pi * 10) < 1e-9)
    val cp = st_geomfromtext(lit("CURVEPOLYGON (CIRCULARSTRING (0 0, 10 0, 0 0))"))
    val cpScaled = st_scale(cp, lit(2.0), lit(2.0), lit(1.0), lit("0 0"))
    assert(one(st_geometrytype(cpScaled)) == "CurvePolygon")
    assert(math.abs(one(st_area(cpScaled)).asInstanceOf[Double] - math.Pi * 100) < 1e-8)
    // reverse keeps the curve, swaps endpoints (compound reverses segments)
    val cc = st_geomfromtext(lit("COMPOUNDCURVE ((0 0, 2 0), CIRCULARSTRING (2 0, 3 1, 4 0))"))
    val rev = st_reverse(cc)
    assert(one(st_geometrytype(rev)) == "CompoundCurve")
    assert(one(st_aswkt(rev)) ==
      "COMPOUNDCURVE (CIRCULARSTRING (4 0, 3 1, 2 0), (2 0, 0 0))")
    // flip swaps ordinates in the exact bounds
    val flipped = st_flip_coordinates(st_geomfromtext(lit("CIRCULARSTRING (3 -4, 4 3, -3 4)")))
    val bb = one(st_bounds(flipped)).asInstanceOf[scala.collection.Seq[Double]]
    assert(bb.toSeq == Seq(-4.0, -3.0, 5.0, 5.0))
    // force_3d adds Z without linearizing; force_2d strips it
    val c3 = st_force_3d(circ, lit(7.0))
    assert(one(st_geometrytype(c3)) == "CircularString")
    assert(one(st_coordinatedimension(c3)) == 3)
    assert(one(st_coordinatedimension(st_force_2d(c3))) == 2)
    // SRID rides through the control-point map
    assert(one(graft.functions.st_srid(st_translate(
      graft.functions.st_set_srid(circ, lit(4326)), lit(1.0), lit(1.0), lit(0.0)))) == 4326)
  }

  test("review regressions: marker hygiene, GC curves, degenerate rings, untagged 3D") {
    // fused WKT of a curve-bearing GeometryCollection (code-7 source
    // marker) prints curved members instead of crashing
    val gcWkt = one(st_aswkt(st_cast(
      st_geomfromtext(lit("CIRCULARSTRING (0 0, 1 1, 2 0)")), lit("geometrycollection"))))
    assert(gcWkt == "GEOMETRYCOLLECTION (CIRCULARSTRING (0 0, 1 1, 2 0))", s"got $gcWkt")
    // st_normalize sheds the curved-source marker: the fused chain prints
    // the normalized LINEARIZED geometry, not the pre-normalization curve
    val normWkt = one(st_aswkt(st_normalize(
      st_geomfromtext(lit("CIRCULARSTRING (2 0, 1 1, 0 0)"))))).asInstanceOf[String]
    assert(normWkt.startsWith("LINESTRING"), s"stale curved marker: $normWkt")
    // to_srid same-SRID no-op preserves the curve AND rewrites the
    // marker's SRID by byte surgery (the st_set_srid path)
    val reSrid = Seq(1).toDF("k").select(
      graft.functions.st_srid(graft.functions.st_to_srid(
        st_geomfromewkt(lit("SRID=3857;CIRCULARSTRING (0 0, 1 1, 2 0)")), lit(3857)))
        .as("srid"),
      st_geometrytype(graft.functions.st_to_srid(
        st_geomfromewkt(lit("SRID=3857;CIRCULARSTRING (0 0, 1 1, 2 0)")), lit(3857)))
        .as("gt")).collect()(0)
    assert(reSrid.getInt(0) == 3857 && reSrid.getString(1) == "CircularString")
    // curve-bearing GC WKT round trips through the curved parser
    val gcRt = one(st_geometrytype(st_get_geometry(st_geomfromtext(
      lit("GEOMETRYCOLLECTION (CIRCULARSTRING (0 0, 1 1, 2 0), POINT (5 5))")), lit(0))))
    assert(gcRt == "CircularString", s"GC WKT round trip: $gcRt")
    // st_linearize honors the tolerance on curve-bearing collections
    val gc = CurvedGeom.write(
      CMulti(7, Vector(CurvedGeom.parseWkt("CIRCULARSTRING (0 0, 5 5, 10 0)")), false, false), 0)
    val linGc = Seq(gc).toDF("g")
      .select(st_count_coordinates(st_linearize(col("g"), lit(128))).as("n"))
      .collect()(0).getInt(0)
    assert(linGc == 257, s"GC linearize ignored segsPerQuadrant: $linGc")
    // degenerate all-identical circular ring survives EWKB.read consumers
    val degen = st_geomfromtext(lit("CURVEPOLYGON (CIRCULARSTRING (1 1, 1 1, 1 1))"))
    assert(one(st_area(degen)) == 0.0)
    assert(one(st_x(st_centroid(degen))).asInstanceOf[Double] == 1.0)
    // untagged 3D curved WKT infers Z like the JTS linear reader
    val cs3 = st_geomfromtext(lit("CIRCULARSTRING (0 0 1, 1 1 2, 2 0 3)"))
    assert(one(st_coordinatedimension(cs3)) == 3)
    assert(one(st_z(st_get_point(cs3, lit(2)))) == 3.0)
    // st_has_arc: curved tops, curve-bearing collections, linear negatives
    assert(one(st_has_arc(cs3)) == true)
    assert(one(st_has_arc(lit(gc))) == true)
    assert(one(st_has_arc(st_point(lit(0.0), lit(0.0)))) == false)
    assert(one(st_has_arc(st_linearize(cs3))) == false)
  }

  test("curved geometries ride the spatial join via linearization") {
    // full circles radius 1 at x = 0, 40, 80 joined against their centers
    // plus one point outside every circle — each tier's envelope/predicate
    // machinery sees the 32-seg linearization
    val left = Seq(0, 1, 2).toDF("lk").select(col("lk"),
      st_geomfromtext(format_string(
        "CURVEPOLYGON (CIRCULARSTRING (%d 0, %d 0, %d 0))",
        col("lk") * 40 - 1, col("lk") * 40 + 1, col("lk") * 40 - 1)).as("geometry"))
    val right = Seq(0, 1, 2, 3).toDF("rk").select(col("rk"),
      st_point(col("rk").cast("double") * 40.0, lit(0.0)).as("geometry"))
    val broad = graft.join.SpatialJoin.sjoin(left, right, "contains", "inner")
      .select("lk", "rk").as[(Int, Int)].collect().toSet
    assert(broad == Set((0, 0), (1, 1), (2, 2)), s"broadcast tier: $broad")
    val grid = graft.join.SpatialJoin.sjoinPartitioned(left, right,
      cellSize = 16.0, predicate = "contains")
      .select("lk", "rk").as[(Int, Int)].collect().toSet
    assert(grid == Set((0, 0), (1, 1), (2, 2)), s"grid tier: $grid")
  }

  test("curved EWKB survives the GeoParquet round trip with exact bbox covering") {
    val dir = java.nio.file.Files.createTempDirectory("curved_gpq").toString
    val df = Seq(1, 2).toDF("id").select(col("id"),
      st_geomfromtext(lit("CURVEPOLYGON (CIRCULARSTRING (0 0, 10 0, 0 0))")).as("geometry"))
    graft.io.GeoIO.writeGeoParquet(df, dir)
    val back = graft.io.GeoIO.readGeoParquet(spark, dir)
    val row = back.select(st_geometrytype(col("geometry")).as("gt"),
      st_area(col("geometry")).as("a")).collect()(0)
    // the stored bytes are the curved EWKB verbatim; area stays exact
    assert(row.getString(0) == "CurvePolygon")
    assert(math.abs(row.getDouble(1) - math.Pi * 25) < 1e-10)
    // bbox covering column was computed with the exact arc bounds
    val bbox = spark.read.parquet(dir)
      .select(col("__geo_bbox.ymin")).collect()(0).getDouble(0)
    assert(bbox == -5.0, s"covering must include the arc bulge, got $bbox")
  }

  test("byte-level model guards") {
    // CompoundCurve segment of wrong type fails loudly: patch the member's
    // type word (top header 1+4+4 srid word, count 4, member order byte at
    // 13, member type low byte at 14) from LineString to Point
    val ccb = CurvedGeom.write(
      CCompound(Vector(CLine(Array(Array(0.0, 0.0), Array(1.0, 1.0)),
        circular = false, false, false)), false, false), 0)
    val bad = ccb.clone()
    bad(14) = 1.toByte // little-endian type word low byte: 2 -> 1 (Point)
    intercept[IllegalArgumentException] { CurvedGeom.parse(bad) }
    // containsCurved detects nesting, rejects garbage quietly
    val gc = CurvedGeom.write(
      CMulti(7, Vector(CurvedGeom.parseWkt("CIRCULARSTRING (0 0, 1 1, 2 0)")), false, false), 0)
    assert(CurvedGeom.containsCurved(gc))
    assert(!CurvedGeom.containsCurved(Array[Byte](1, 1, 0, 0, 0)))
  }

  // --------------------------------------------------- round-12 regressions

  /** Little-endian container wrapper: order byte + type word (optionally
    * SRID-flagged) + srid + count, then the child bytes verbatim. */
  private def wrap(code: Int, srid: Option[Int], children: Array[Byte]*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def i32(v: Int): Unit = { var i = 0; while (i < 4) { out.write((v >>> (8 * i)) & 0xff); i += 1 } }
    out.write(1)
    i32(code | (if (srid.isDefined) EWKB.FlagSrid else 0))
    srid.foreach(i32)
    i32(children.length)
    children.foreach(out.write)
    out.toByteArray
  }

  test("nested EWKB SRID word never escapes its level") {
    val child4326 = CurvedGeom.write(
      CurvedGeom.parseWkt("CIRCULARSTRING (0 0, 1 1, 2 0)"), 4326)
    // top header carries NO SRID word, child is EWKB-flagged with 4326:
    // the top level stays srid 0 (the child's word must not be promoted)
    val (srid0, _) = CurvedGeom.parse(wrap(11, None, child4326))
    assert(srid0 == 0)
    // top header DOES carry an SRID: the top's wins over the child's
    val (srid1, _) = CurvedGeom.parse(wrap(11, Some(3857), child4326))
    assert(srid1 == 3857)
    // and a sibling AFTER the flagged child still parses under the top SRID
    val plain = CurvedGeom.write(
      CurvedGeom.parseWkt("CIRCULARSTRING (5 5, 6 6, 7 5)"), 0, includeSrid = false)
    val (srid2, g2) = CurvedGeom.parse(wrap(11, Some(3857), child4326, plain))
    assert(srid2 == 3857 && CurvedGeom.members(g2).length == 2)
  }

  test("is_closed on curves compares x/y only, matching JTS equals2D") {
    // closed in the plane, Z endpoints differ: JTS isClosed (2D) says true
    val zline = CurvedGeom.parseWkt("CIRCULARSTRING Z (0 0 1, 2 2 2, 0 0 9)")
    assert(CurvedGeom.isClosed(zline))
    assert(one(st_is_closed(st_geomfromtext(
      lit("CIRCULARSTRING Z (0 0 1, 2 2 2, 0 0 9)")))) == true)
    // the linearized tier agrees (tier consistency was the bug)
    assert(one(st_is_closed(st_linearize(st_geomfromtext(
      lit("CIRCULARSTRING Z (0 0 1, 2 2 2, 0 0 9)"))))) == true)
    // still false when x/y genuinely differ
    assert(one(st_is_closed(st_geomfromtext(
      lit("CIRCULARSTRING Z (0 0 1, 2 2 2, 4 0 1)")))) == false)
  }

  test("st_envelope on curved input uses the exact arc bbox, matching st_bounds") {
    // arc whose sweep crosses 0° and 90°: exact box (-3,-4,5,5); a
    // linearized envelope would clip xmax/ymax by the chord sagitta
    val wktArc = "CIRCULARSTRING (3 -4, 4 3, -3 4)"
    val env = one(st_aswkt(st_envelope(st_geomfromtext(lit(wktArc))))).asInstanceOf[String]
    assert(env == "POLYGON ((-3 -4, 5 -4, 5 5, -3 5, -3 -4))", env)
    // the one-call kernel expression over stored curved bytes agrees; SRID
    // carries through, and a curve-bearing collection takes the branch
    val stored = Seq((
      CurvedGeom.write(CurvedGeom.parseWkt(wktArc), 0),
      CurvedGeom.write(CMulti(7, Vector(CurvedGeom.parseWkt(wktArc)), false, false), 4326)))
      .toDF("arc", "multi")
    val envs = stored.select(st_envelope(col("arc")), st_envelope(col("multi"))).collect()(0)
    val envN = EWKB.read(envs.getAs[Array[Byte]](0))
    assert(envN.getEnvelopeInternal.getMaxX == 5.0 && envN.getEnvelopeInternal.getMaxY == 5.0)
    val e2 = EWKB.read(envs.getAs[Array[Byte]](1))
    assert(e2.getSRID == 4326 && e2.getEnvelopeInternal.getMaxX == 5.0)
    // degenerate curved inputs mirror JTS getEnvelope shapes
    assert(one(st_geometrytype(st_envelope(st_geomfromtext(
      lit("CIRCULARSTRING EMPTY"))))) == "Point")
  }
}
