package graft.functions

import graft.serde.{EWKB, GeoCodec, GeomUtil}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.locationtech.jts.geom._
import org.locationtech.jts.algorithm.Orientation
import org.locationtech.jts.algorithm.distance.{DiscreteFrechetDistance, DiscreteHausdorffDistance}
import org.locationtech.jts.algorithm.hull.ConcaveHull
import org.locationtech.jts.algorithm.MinimumDiameter
import org.locationtech.jts.densify.Densifier
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import org.locationtech.jts.geom.util.GeometryFixer
import org.locationtech.jts.linearref.LengthIndexedLine
import org.locationtech.jts.operation.buffer.{BufferOp, BufferParameters, OffsetCurve}
import org.locationtech.jts.operation.distance.DistanceOp
import org.locationtech.jts.operation.linemerge.LineMerger
import org.locationtech.jts.operation.overlay.snap.GeometrySnapper
import org.locationtech.jts.operation.overlayng.OverlayNG
import org.locationtech.jts.operation.polygonize.Polygonizer
import org.locationtech.jts.operation.union.UnaryUnionOp
import org.locationtech.jts.operation.valid.IsValidOp
import org.locationtech.jts.precision.{GeometryPrecisionReducer, MinimumClearance}
import org.locationtech.jts.simplify.{DouglasPeuckerSimplifier, TopologyPreservingSimplifier}

import scala.jdk.CollectionConverters._

/** Scalar geometry function surface (SURVEY.md §2.1-2.6, 2.8-2.9, 2.11-2.12).
  *
  * Each op is a null-safe Scala UDF over EWKB bytes (parse → JTS compute →
  * serialize, the per-op cost model the reference accepts,
  * `/root/reference/README.md:44`). Column wrappers live in
  * [[graft.functions]]; [[graft.Geo.registerAll]] registers the SQL names.
  * Null in → null out everywhere (reference arity combinators,
  * `/root/reference/src/arity.rs`); NaN/empty conventions follow
  * `/root/reference/src/functions.rs` (see FIXTURES.md §4).
  */
object GeoUDFs {

  private def fact: GeometryFactory = EWKB.geometryFactory

  // ------------------------------------------------------- null-safe lifts

  private def keepSrid(in: Geometry, out: Geometry): Geometry = {
    if (out.getSRID == 0 && in.getSRID != 0) out.setSRID(in.getSRID)
    out
  }

  /** Serialize a kernel result: a curved-source marker (see curvedSrc —
    * attached by curved-aware kernels like the affine family and the
    * structure accessors) means "emit these curved bytes", exactly like
    * the fused root serializer; everything else takes the EWKB writer. */
  private[functions] def writeResult(g: Geometry): Array[Byte] = g.getUserData match {
    case src: Array[Byte] => src
    case _ => EWKB.write(g)
  }

  private[functions] def uG(f: Geometry => Geometry): Array[Byte] => Array[Byte] =
    b => if (b == null) null
    else {
      val g = EWKB.read(b)
      val r = f(g)
      if (r == null) null else writeResult(keepSrid(g, r))
    }

  private[functions] def bG(f: (Geometry, Geometry) => Geometry)
      : (Array[Byte], Array[Byte]) => Array[Byte] =
    (a, b) => if (a == null || b == null) null
    else {
      val ga = EWKB.read(a)
      val r = f(ga, EWKB.read(b))
      if (r == null) null else writeResult(keepSrid(ga, r))
    }

  private[functions] def uD(f: Geometry => Double): Array[Byte] => Option[Double] =
    b => if (b == null) None else Some(f(EWKB.read(b)))

  private[functions] def uI(f: Geometry => Int): Array[Byte] => Option[Int] =
    b => if (b == null) None else Some(f(EWKB.read(b)))

  private[functions] def uB(f: Geometry => Boolean): Array[Byte] => Option[Boolean] =
    b => if (b == null) None else Some(f(EWKB.read(b)))

  private[functions] def uS(f: Geometry => String): Array[Byte] => String =
    b => if (b == null) null else f(EWKB.read(b))

  private[functions] def bB(f: (Geometry, Geometry) => Boolean)
      : (Array[Byte], Array[Byte]) => Option[Boolean] =
    (a, b) => if (a == null || b == null) None else Some(f(EWKB.read(a), EWKB.read(b)))

  private[functions] def bD(f: (Geometry, Geometry) => Double)
      : (Array[Byte], Array[Byte]) => Option[Double] =
    (a, b) => if (a == null || b == null) None else Some(f(EWKB.read(a), EWKB.read(b)))

  // --------------------------------------------- fusable-op definition site
  // Each f* helper creates the ScalaUDF lift AND registers the raw
  // Geometry-level kernel with [[GeoKernels]] under the same name, so the
  // optimizer fusion tier ([[graft.plans.GeoFusionRule]]) can run chains of
  // these ops on parsed geometries — one EWKB parse per input, one serialize
  // per chain, zero interior round trips. The lifted UDF and the registered
  // kernel share the SAME function value: the tiers cannot drift.
  import GeoKernels.{K, OGeom, ODouble, OBool, OInt, OString, aG, aD, aI, aB, aS}

  private def fG1(name: String)(f: Geometry => Geometry): UserDefinedFunction = {
    GeoKernels.add(K(name, 1, Set(0), OGeom, a => f(aG(a(0)))))
    udf(uG(f)).withName(name)
  }
  private def fG2(name: String)(f: (Geometry, Geometry) => Geometry): UserDefinedFunction = {
    GeoKernels.add(K(name, 2, Set(0, 1), OGeom, a => f(aG(a(0)), aG(a(1)))))
    udf(bG(f)).withName(name)
  }
  private def fD1(name: String)(f: Geometry => Double): UserDefinedFunction = {
    GeoKernels.add(K(name, 1, Set(0), ODouble, a => f(aG(a(0)))))
    udf(uD(f)).withName(name)
  }
  private def fD2(name: String)(f: (Geometry, Geometry) => Double): UserDefinedFunction = {
    GeoKernels.add(K(name, 2, Set(0, 1), ODouble, a => f(aG(a(0)), aG(a(1)))))
    udf(bD(f)).withName(name)
  }
  private def fB1(name: String)(f: Geometry => Boolean): UserDefinedFunction = {
    GeoKernels.add(K(name, 1, Set(0), OBool, a => f(aG(a(0)))))
    udf(uB(f)).withName(name)
  }
  private def fB2(name: String)(f: (Geometry, Geometry) => Boolean): UserDefinedFunction = {
    GeoKernels.add(K(name, 2, Set(0, 1), OBool, a => f(aG(a(0)), aG(a(1)))))
    udf(bB(f)).withName(name)
  }
  private def fI1(name: String)(f: Geometry => Int): UserDefinedFunction = {
    GeoKernels.add(K(name, 1, Set(0), OInt, a => f(aG(a(0)))))
    udf(uI(f)).withName(name)
  }
  private def fS1(name: String)(f: Geometry => String): UserDefinedFunction = {
    GeoKernels.add(K(name, 1, Set(0), OString, a => f(aG(a(0)))))
    udf(uS(f)).withName(name)
  }

  // ---------------------------------------------------------- constructors
  // Reference: polars_st/parsing.py; kernels functions.rs:258-408.

  // Parse constructors are named so graft.plans.BboxFilterRule can evaluate
  // constant `st_geomfrom*(lit)` chains at plan time. Curved WKT tags
  // (CIRCULARSTRING/COMPOUNDCURVE/CURVEPOLYGON/MULTICURVE/MULTISURFACE)
  // route to the CurvedGeom parser and come back as curved EWKB bytes —
  // the serde-preserving tier.
  val geomFromWkt: UserDefinedFunction = udf((s: String) =>
    if (s == null) null
    else if (graft.serde.CurvedGeom.isCurvedWkt(s))
      graft.serde.CurvedGeom.write(graft.serde.CurvedGeom.parseWkt(s), 0)
    else EWKB.write(GeoCodec.fromWkt(s))).withName("st_geomfromtext")

  val geomFromEwkt: UserDefinedFunction = udf((s: String) =>
    if (s == null) null
    else {
      val (srid, rest) = GeoCodec.splitEwkt(s)
      if (graft.serde.CurvedGeom.isCurvedWkt(rest))
        graft.serde.CurvedGeom.write(graft.serde.CurvedGeom.parseWkt(rest), srid)
      else {
        val g = GeoCodec.fromWkt(rest)
        if (srid != 0) g.setSRID(srid)
        EWKB.write(g)
      }
    }).withName("st_geomfromewkt")

  /** WKB/EWKB bytes → normalized EWKB; curved input is re-encoded in the
    * curved normal form (little-endian, top-level SRID), not linearized. */
  val geomFromWkb: UserDefinedFunction = udf((b: Array[Byte]) =>
    if (b == null) null
    else if (graft.serde.CurvedGeom.isCurvedSource(b)) {
      val (srid, g) = graft.serde.CurvedGeom.parse(b)
      graft.serde.CurvedGeom.write(g, srid)
    }
    else EWKB.write(EWKB.read(b))).withName("st_geomfromwkb")

  val geomFromGeoJson: UserDefinedFunction = udf((s: String) =>
    if (s == null) null else EWKB.write(GeoJson.read(s))).withName("st_geomfromgeojson")

  val point: UserDefinedFunction = udf((x: Double, y: Double) =>
    EWKB.write(fact.createPoint(new Coordinate(x, y)))).withName("st_point")

  val pointZ: UserDefinedFunction = udf((x: Double, y: Double, z: Double) =>
    EWKB.write(fact.createPoint(new Coordinate(x, y, z)))).withName("st_pointz")

  // Fusion kernels for the leaf constructors: a fused chain builds the
  // JTS geometry directly, skipping the constructor's serialize and the
  // consumer's parse. st_geomfromwkb is the identity on the parsed arg
  // (its UDF is read→write normalization; the fused Load already parses).
  GeoKernels.add(K("st_point", 2, Set.empty, OGeom, a =>
    fact.createPoint(new Coordinate(aD(a(0)), aD(a(1))))))
  GeoKernels.add(K("st_pointz", 3, Set.empty, OGeom, a =>
    fact.createPoint(new Coordinate(aD(a(0)), aD(a(1)), aD(a(2))))))
  // In a fused chain the constructor feeds other kernels, so curved WKT
  // linearizes here exactly like EWKB.read does on the unfused path —
  // carrying the curved source bytes via the shared marker idiom
  // (CurvedGeom.linearizedWithSource) so curved-aware kernels downstream
  // (and the fused root serializer) keep curved semantics.
  GeoKernels.add(K("st_geomfromtext", 1, Set.empty, OGeom, a => {
    val s = aS(a(0))
    if (graft.serde.CurvedGeom.isCurvedWkt(s))
      graft.serde.CurvedGeom.linearizedWithSource(graft.serde.CurvedGeom.parseWkt(s), 0)
    else GeoCodec.fromWkt(s)
  }))
  GeoKernels.add(K("st_geomfromewkt", 1, Set.empty, OGeom, a => {
    val (srid, rest) = GeoCodec.splitEwkt(aS(a(0)))
    if (graft.serde.CurvedGeom.isCurvedWkt(rest))
      graft.serde.CurvedGeom.linearizedWithSource(
        graft.serde.CurvedGeom.parseWkt(rest), srid)
    else {
      val g = GeoCodec.fromWkt(rest)
      if (srid != 0) g.setSRID(srid)
      g
    }
  }))
  GeoKernels.add(K("st_geomfromwkb", 1, Set(0), OGeom, a => aG(a(0))))
  GeoKernels.add(K("st_geomfromgeojson", 1, Set.empty, OGeom, a => GeoJson.read(aS(a(0)))))

  private def coordOf(xs: Seq[Double]): Coordinate = xs match {
    case Seq(x, y) => new Coordinate(x, y)
    case Seq(x, y, z) => new Coordinate(x, y, z)
    case _ => throw new IllegalArgumentException(
      s"coordinate must have 2 or 3 values, got ${xs.length}")
  }

  /** `[x,y(,z)]` array → Point (reference `point`, parsing.py:37-82). */
  val pointFromCoords: UserDefinedFunction = udf((xs: Seq[Double]) =>
    if (xs == null) null else EWKB.write(fact.createPoint(coordOf(xs))))
    .withName("st_point_from_coords")

  private def multiPointK(xs: Seq[Seq[Double]]): Geometry =
    fact.createMultiPoint(xs.map(c => fact.createPoint(coordOf(c))).toArray)

  val multiPoint: UserDefinedFunction = udf((xs: Seq[Seq[Double]]) =>
    if (xs == null) null else EWKB.write(multiPointK(xs))).withName("st_multipoint")

  private def lineStringK(xs: Seq[Seq[Double]]): Geometry =
    fact.createLineString(xs.map(coordOf).toArray)

  val lineString: UserDefinedFunction = udf((xs: Seq[Seq[Double]]) =>
    if (xs == null) null else EWKB.write(lineStringK(xs))).withName("st_linestring")

  GeoKernels.add(K("st_point_from_coords", 1, Set.empty, OGeom, a =>
    fact.createPoint(coordOf(GeoKernels.aDs(a(0))))))
  GeoKernels.add(K("st_multipoint", 1, Set.empty, OGeom, a =>
    multiPointK(GeoKernels.aDss(a(0)))))
  GeoKernels.add(K("st_linestring", 1, Set.empty, OGeom, a =>
    lineStringK(GeoKernels.aDss(a(0)))))

  /** CircularString constructor (reference `circularstring`,
    * parsing.py:163-189): JTS cannot model arcs, so the EWKB bytes (type 8)
    * are written directly. The full curved model
    * ([[graft.serde.CurvedGeom]]) gives them exact measures, preserved
    * serde/affine, and auto-linearized compute everywhere else. */
  val circularString: UserDefinedFunction = udf((xs: Seq[Seq[Double]]) =>
    if (xs == null) null else graft.serde.Curved.writeCircularString(xs, 0))

  /** Any curved type (8-12) → its chorded linear twin (PostGIS-style
    * `ST_CurveToLine` with segments-per-quadrant): CircularString /
    * CompoundCurve → LineString, CurvePolygon → Polygon, MultiCurve →
    * MultiLineString, MultiSurface → MultiPolygon. Non-curved geometries
    * pass through. */
  val linearize: UserDefinedFunction = udf((b: Array[Byte], segsPerQuadrant: Int) =>
    if (b == null) null
    else if (graft.serde.CurvedGeom.isCurvedSource(b))
      // incl. curve-bearing GeometryCollections: the explicit escape must
      // not silently keep the fixed 32/quadrant
      EWKB.write(graft.serde.CurvedGeom.linearizeBytes(b, segsPerQuadrant))
    else b)

  private def multiLineStringK(xs: Seq[Seq[Seq[Double]]]): Geometry =
    fact.createMultiLineString(
      xs.map(l => fact.createLineString(l.map(coordOf).toArray)).toArray)

  val multiLineString: UserDefinedFunction = udf((xs: Seq[Seq[Seq[Double]]]) =>
    if (xs == null) null else EWKB.write(multiLineStringK(xs)))
    .withName("st_multilinestring")

  /** list of rings (first = shell) → Polygon (parsing.py:221-247). */
  private def polygonK(rings: Seq[Seq[Seq[Double]]]): Geometry =
    if (rings.isEmpty) fact.createPolygon()
    else {
      val shell = fact.createLinearRing(rings.head.map(coordOf).toArray)
      val holes = rings.tail.map(r => fact.createLinearRing(r.map(coordOf).toArray)).toArray
      fact.createPolygon(shell, holes)
    }

  val polygon: UserDefinedFunction = udf((rings: Seq[Seq[Seq[Double]]]) =>
    if (rings == null) null else EWKB.write(polygonK(rings))).withName("st_polygon")

  GeoKernels.add(K("st_multilinestring", 1, Set.empty, OGeom, a =>
    multiLineStringK(GeoKernels.aDsss(a(0)))))
  GeoKernels.add(K("st_polygon", 1, Set.empty, OGeom, a =>
    polygonK(GeoKernels.aDsss(a(0)))))

  private[graft] def rectKernel(xmin: Double, ymin: Double, xmax: Double,
      ymax: Double): Geometry =
    fact.createPolygon(Array(
      new Coordinate(xmin, ymin), new Coordinate(xmax, ymin),
      new Coordinate(xmax, ymax), new Coordinate(xmin, ymax),
      new Coordinate(xmin, ymin)))

  val rectangle: UserDefinedFunction =
    udf((xmin: Double, ymin: Double, xmax: Double, ymax: Double) =>
      EWKB.write(rectKernel(xmin, ymin, xmax, ymax))).withName("st_rectangle")

  GeoKernels.add(K("st_rectangle", 4, Set.empty, OGeom, a =>
    rectKernel(aD(a(0)), aD(a(1)), aD(a(2)), aD(a(3)))))

  // ------------------------------------------------- accessors / inspection
  // Reference kernels functions.rs:410-813; header-only ops read EWKB bytes
  // directly (no JTS parse), like the reference's header reads.

  val geometryType: UserDefinedFunction = udf((b: Array[Byte]) =>
    if (b == null) null else EWKB.typeName(EWKB.header(b).typeCode))

  /** Topological dimension; empty GeometryCollection → -1. */
  val dimensions: UserDefinedFunction = fI1("st_dimensions")(_.getDimension)

  /** 2/3/4 from header flags (header-only, functions.rs:427-431). */
  val coordinateDimension: UserDefinedFunction = udf((b: Array[Byte]) =>
    if (b == null) None
    else {
      val h = EWKB.header(b)
      Some(2 + (if (h.hasZ) 1 else 0) + (if (h.hasM) 1 else 0))
    })

  /** SRID from header (header-only). */
  val srid: UserDefinedFunction = udf((b: Array[Byte]) =>
    if (b == null) None else Some(EWKB.header(b).srid))

  val x: UserDefinedFunction = fD1("st_x") {
    case p: Point if !p.isEmpty => p.getX
    case _ => Double.NaN
  }
  val y: UserDefinedFunction = fD1("st_y") {
    case p: Point if !p.isEmpty => p.getY
    case _ => Double.NaN
  }
  val z: UserDefinedFunction = fD1("st_z") {
    case p: Point if !p.isEmpty && p.getCoordinateSequence.hasZ =>
      p.getCoordinateSequence.getZ(0)
    case _ => Double.NaN
  }
  val m: UserDefinedFunction = fD1("st_m") {
    case p: Point if !p.isEmpty && p.getCoordinateSequence.hasM =>
      p.getCoordinateSequence.getM(0)
    case _ => Double.NaN
  }

  import graft.serde.{Curved, CurvedGeom}

  /** Source bytes when `g` is the linearization of a curved geometry —
    * attached by [[EWKB.read]] and the curved constructor kernels. Lets
    * fused-chain kernels apply the same curved-aware semantics the
    * bytes-level UDF branches do, so the tiers cannot drift. */
  private[functions] def curvedSrc(g: Geometry): Array[Byte] = g.getUserData match {
    case b: Array[Byte] => b
    case _ => null
  }

  /** Linearized twin of a curved model node carrying its bytes as
    * `userData` — what a curved-aware kernel returns so downstream kernels
    * (and the fused root serializer) keep the curved representation. */
  private[functions] def curvedLin(child: graft.serde.CurvedGeom.CG, srid: Int): Geometry =
    CurvedGeom.linearizedWithSource(child, srid)

  /** Coordinate-mapping ops (the affine family, force_2d/3d, flip):
    * curved sources transform CONTROL POINTS and keep the curved type
    * (GEOS affine-on-curves semantics); linear geometry maps
    * per-coordinate via [[GeomUtil.mapCoords]]. Both tiers route here —
    * the kernels receive the marker-carrying parse, so fused and unfused
    * chains agree; `writeResult`/the fused root emit the curved bytes. */
  private def mapCoordsCA(g: Geometry,
      f: (Double, Double, Double) => (Double, Double, Double),
      forceDim: Int = 0): Geometry = {
    val cb = curvedSrc(g)
    if (cb != null) {
      val (srid, cg) = CurvedGeom.parse(cb)
      curvedLin(CurvedGeom.mapControlPoints(cg, f, forceDim), srid)
    } else GeomUtil.mapCoords(g, f, forceDim)
  }

  /** Copy that sheds the curved-source marker — for kernels that return
    * their input unchanged, whose unfused twin serializes the parsed
    * (= linearized) geometry. */
  private def freshCopy(g: Geometry): Geometry = {
    val c = g.copy(); c.setUserData(null); c
  }

  val countCoordinates: UserDefinedFunction = udf((b: Array[Byte]) =>
    if (b == null) None
    else if (CurvedGeom.isCurvedSource(b))
      Some(CurvedGeom.countCoordinates(CurvedGeom.parse(b)._2))
    else Some(EWKB.read(b).getNumPoints))

  val coordinates: UserDefinedFunction = udf((b: Array[Byte]) =>
    if (b == null) null
    else if (CurvedGeom.isCurvedSource(b))
      CurvedGeom.coordinateRows(CurvedGeom.parse(b)._2, None)
    else GeomUtil.coordinateRows(EWKB.read(b), None)).withName("st_coordinates")

  /** dim-override variant (reference `coordinates(output_dimension=2|3)`,
    * `geoexpr.py:185-194`). */
  val coordinatesDim: UserDefinedFunction = udf((b: Array[Byte], dim: Int) =>
    if (b == null) null
    else if (CurvedGeom.isCurvedSource(b))
      CurvedGeom.coordinateRows(CurvedGeom.parse(b)._2, Some(dim))
    else GeomUtil.coordinateRows(EWKB.read(b), Some(dim))).withName("st_coordinates_dim")

  // Fused-chain kernels for the array-output accessors. Curved values
  // reach a fused chain as linearized geometry + curved-source marker
  // (EWKB.read / the constructor kernels attach it), so the kernels
  // report CONTROL points for curved sources exactly like the bytes-level
  // UDF branches above.
  GeoKernels.add(K("st_coordinates", 1, Set(0), GeoKernels.ONestedDoubleArr, a => {
    val g = aG(a(0)); val cb = curvedSrc(g)
    if (cb != null) CurvedGeom.coordinateRows(CurvedGeom.parse(cb)._2, None)
    else GeomUtil.coordinateRows(g, None)
  }))
  GeoKernels.add(K("st_coordinates_dim", 2, Set(0), GeoKernels.ONestedDoubleArr, a => {
    val g = aG(a(0)); val cb = curvedSrc(g)
    if (cb != null) CurvedGeom.coordinateRows(CurvedGeom.parse(cb)._2, Some(aI(a(1))))
    else GeomUtil.coordinateRows(g, Some(aI(a(1))))
  }))

  // Structure accessors get a curved-preserving branch: members and rings
  // of curved containers come back as their own curved EWKB values (a
  // CurvePolygon's exterior ring IS a CircularString/CompoundCurve), the
  // same way the reference's GEOS accessors keep curved children. The
  // fusion kernels stay on the parsed-geometry path — chain interiors are
  // computed JTS geometries, never curved bytes.
  import CurvedGeom.{CG, CLine, CCompound, CPoly, CMulti}

  /** Curved ring/member → standalone EWKB with the parent's SRID. */
  private def curvedChild(g: CG, srid: Int): Array[Byte] = CurvedGeom.write(g, srid)

  val exteriorRing: UserDefinedFunction = {
    GeoKernels.add(K("st_exterior_ring", 1, Set(0), OGeom, a => {
      val g = aG(a(0)); val cb = curvedSrc(g)
      if (cb != null) CurvedGeom.parse(cb) match {
        case (srid, CPoly(rings, _, z, m)) =>
          curvedLin(rings.headOption.getOrElse(CLine(Array.empty, circular = false, z, m)), srid)
        case _ => null
      }
      else g match {
        case p: Polygon => p.getExteriorRing.copy()
        case _ => null
      }
    }))
    udf((b: Array[Byte]) =>
      if (b == null) null
      else if (CurvedGeom.isCurvedSource(b)) CurvedGeom.parse(b) match {
        case (srid, CPoly(rings, _, z, m)) =>
          curvedChild(rings.headOption.getOrElse(CLine(Array.empty, circular = false, z, m)), srid)
        case _ => null
      }
      else uG { case p: Polygon => p.getExteriorRing.copy(); case _ => null }(b))
      .withName("st_exterior_ring")
  }

  private def interiorRingsK(g: Geometry): Seq[Array[Byte]] = g match {
    case p: Polygon =>
      (0 until p.getNumInteriorRing).map(i =>
        EWKB.write(keepSrid(p, p.getInteriorRingN(i).copy())))
    case _ => Seq.empty[Array[Byte]]
  }

  val interiorRings: UserDefinedFunction = udf((b: Array[Byte]) =>
    if (b == null) null
    else if (CurvedGeom.isCurvedSource(b)) CurvedGeom.parse(b) match {
      case (srid, CPoly(rings, _, _, _)) => rings.drop(1).map(curvedChild(_, srid))
      case _ => Seq.empty[Array[Byte]]
    }
    else interiorRingsK(EWKB.read(b))).withName("st_interior_rings")

  GeoKernels.add(K("st_interior_rings", 1, Set(0), GeoKernels.OBinaryArr, a => {
    val g = aG(a(0)); val cb = curvedSrc(g)
    if (cb != null) CurvedGeom.parse(cb) match {
      case (srid, CPoly(rings, _, _, _)) => rings.drop(1).map(curvedChild(_, srid))
      case _ => Seq.empty[Array[Byte]]
    }
    else interiorRingsK(g)
  }))

  val countInteriorRings: UserDefinedFunction = {
    GeoKernels.add(K("st_count_interior_rings", 1, Set(0), GeoKernels.OInt,
      a => a(0).asInstanceOf[Geometry] match {
        case p: Polygon => p.getNumInteriorRing
        case _ => 0
      }))
    udf((b: Array[Byte]) =>
      if (b == null) None
      else if (CurvedGeom.isCurvedSource(b)) CurvedGeom.parse(b)._2 match {
        case CPoly(rings, _, _, _) => Some(math.max(0, rings.length - 1))
        case _ => Some(0)
      }
      else Some(EWKB.read(b) match {
        case p: Polygon => p.getNumInteriorRing
        case _ => 0
      })).withName("st_count_interior_rings")
  }

  /** i-th interior ring; null when out of bounds; raises on non-Polygon
    * (reference error matrix, tests/test_expressions.py:318-373). */
  private def getInteriorRingK(i: Int)(g: Geometry): Geometry = g match {
    case p: Polygon =>
      if (i < 0 || i >= p.getNumInteriorRing) null
      else p.getInteriorRingN(i).copy()
    case other => throw new IllegalArgumentException(
      s"get_interior_ring requires a Polygon, got ${other.getGeometryType}")
  }

  val getInteriorRing: UserDefinedFunction = udf((b: Array[Byte], i: Int) =>
    if (b != null && CurvedGeom.isCurvedSource(b)) CurvedGeom.parse(b) match {
      case (srid, CPoly(rings, _, _, _)) =>
        if (i < 0 || i >= rings.length - 1) null
        else curvedChild(rings(i + 1), srid)
      case (_, other) => throw new IllegalArgumentException(
        s"get_interior_ring requires a Polygon, got ${EWKB.typeName(other.code)}")
    }
    else uG(getInteriorRingK(i))(b)).withName("st_get_interior_ring")

  GeoKernels.add(K("st_get_interior_ring", 2, Set(0), OGeom, a => {
    val g = aG(a(0)); val cb = curvedSrc(g); val i = aI(a(1))
    if (cb != null) CurvedGeom.parse(cb) match {
      case (srid, CPoly(rings, _, _, _)) =>
        if (i < 0 || i >= rings.length - 1) null else curvedLin(rings(i + 1), srid)
      case (_, other) => throw new IllegalArgumentException(
        s"get_interior_ring requires a Polygon, got ${EWKB.typeName(other.code)}")
    }
    else getInteriorRingK(i)(g)
  }))

  val countGeometries: UserDefinedFunction = {
    GeoKernels.add(K("st_count_geometries", 1, Set(0), GeoKernels.OInt,
      a => a(0).asInstanceOf[Geometry].getNumGeometries))
    udf((b: Array[Byte]) =>
      if (b == null) None
      else if (CurvedGeom.isCurvedSource(b)) CurvedGeom.parse(b)._2 match {
        case CMulti(_, parts, _, _) => Some(parts.length)
        case _ => Some(1) // atomic curved types count as one, like JTS
      }
      else Some(EWKB.read(b).getNumGeometries)).withName("st_count_geometries")
  }

  private def getGeometryK(i: Int)(g: Geometry): Geometry =
    if (i < 0 || i >= g.getNumGeometries) null else g.getGeometryN(i).copy()

  val getGeometry: UserDefinedFunction = udf((b: Array[Byte], i: Int) =>
    if (b != null && CurvedGeom.isCurvedSource(b)) {
      val (srid, g) = CurvedGeom.parse(b)
      val ms = CurvedGeom.members(g)
      if (i < 0 || i >= ms.length) null else curvedChild(ms(i), srid)
    }
    else uG(getGeometryK(i))(b)).withName("st_get_geometry")

  GeoKernels.add(K("st_get_geometry", 2, Set(0), OGeom, a => {
    val g = aG(a(0)); val cb = curvedSrc(g); val i = aI(a(1))
    if (cb != null) {
      val (srid, cg) = CurvedGeom.parse(cb)
      val ms = CurvedGeom.members(cg)
      if (i < 0 || i >= ms.length) null else curvedLin(ms(i), srid)
    }
    else getGeometryK(i)(g)
  }))

  val countPoints: UserDefinedFunction = {
    GeoKernels.add(K("st_count_points", 1, Set(0), GeoKernels.OInt, a => {
      val g = aG(a(0)); val cb = curvedSrc(g)
      if (cb != null) CurvedGeom.parse(cb)._2 match {
        case l: CLine => l.pts.length
        case _ => 0
      }
      else g match {
        case l: LineString => l.getNumPoints
        case _ => 0
      }
    }))
    udf((b: Array[Byte]) =>
      if (b == null) None
      else if (CurvedGeom.isCurvedSource(b)) CurvedGeom.parse(b)._2 match {
        case l: CLine => Some(l.pts.length) // control points, not densified
        case _ => Some(0)
      }
      else Some(EWKB.read(b) match {
        case l: LineString => l.getNumPoints
        case _ => 0
      })).withName("st_count_points")
  }

  /** i-th vertex of a LineString; raises on other types (error matrix). */
  private def getPointK(i: Int)(g: Geometry): Geometry = g match {
    case l: LineString =>
      if (i < 0 || i >= l.getNumPoints) null else l.getPointN(i)
    case other => throw new IllegalArgumentException(
      s"get_point requires a LineString, got ${other.getGeometryType}")
  }

  val getPoint: UserDefinedFunction = udf((b: Array[Byte], i: Int) =>
    if (b != null && CurvedGeom.isCurvedSource(b)) CurvedGeom.parse(b) match {
      case (srid, l: CLine) =>
        if (i < 0 || i >= l.pts.length) null
        else curvedChild(CurvedGeom.CPoint(l.pts(i), l.z, l.m), srid)
      case (_, other) => throw new IllegalArgumentException(
        s"get_point requires a LineString, got ${EWKB.typeName(other.code)}")
    }
    else uG(getPointK(i))(b)).withName("st_get_point")

  GeoKernels.add(K("st_get_point", 2, Set(0), OGeom, a => {
    val g = aG(a(0)); val cb = curvedSrc(g); val i = aI(a(1))
    if (cb != null) CurvedGeom.parse(cb) match {
      case (srid, l: CLine) =>
        if (i < 0 || i >= l.pts.length) null
        else curvedLin(CurvedGeom.CPoint(l.pts(i), l.z, l.m), srid)
      case (_, other) => throw new IllegalArgumentException(
        s"get_point requires a LineString, got ${EWKB.typeName(other.code)}")
    }
    else getPointK(i)(g)
  }))

  private def partsK(g: Geometry): Seq[Array[Byte]] =
    (0 until g.getNumGeometries).map(i => EWKB.write(keepSrid(g, g.getGeometryN(i).copy())))

  val parts: UserDefinedFunction = udf((b: Array[Byte]) =>
    if (b == null) null
    else if (CurvedGeom.isCurvedSource(b)) {
      val (srid, g) = CurvedGeom.parse(b)
      CurvedGeom.members(g).map(curvedChild(_, srid))
    }
    else partsK(EWKB.read(b))).withName("st_parts")

  GeoKernels.add(K("st_parts", 1, Set(0), GeoKernels.OBinaryArr, a => {
    val g = aG(a(0)); val cb = curvedSrc(g)
    if (cb != null) {
      val (srid, cg) = CurvedGeom.parse(cb)
      CurvedGeom.members(cg).map(curvedChild(_, srid))
    }
    else partsK(g)
  }))

  /** Precision grid size; JTS has no per-geometry precision model, so this
    * is always 0.0 (= full precision) — documented divergence. */
  val precision: UserDefinedFunction = udf(uD(_ => 0.0))

  /** Snap coordinates to a grid (reference `set_precision`,
    * functions.rs:691-701 → GEOS GEOSGeom_setPrecision; modes
    * `args.rs:27-41`). grid_size 0 = full precision (no-op).
    * valid_output → topology-repaired reduce (collapsed parts removed),
    * no_topo → pointwise snap, keep_collapsed → reduce keeping collapsed
    * parts. JTS GeometryPrecisionReducer is the GEOS implementation's
    * JVM twin (same PrecisionModel snapping). */
  private def setPrecisionK(grid: Double, mode: String)(g: Geometry): Geometry = {
    require(grid >= 0, s"grid_size must be >= 0, got $grid")
    if (grid == 0) freshCopy(g)
    else {
      val pm = new PrecisionModel(1.0 / grid)
      mode.toLowerCase match {
        case "valid_output" => GeometryPrecisionReducer.reduce(g, pm)
        case "no_topo" => GeometryPrecisionReducer.reducePointwise(g, pm)
        case "keep_collapsed" =>
          val r = new GeometryPrecisionReducer(pm)
          r.setRemoveCollapsedComponents(false)
          r.reduce(g)
        case other => throw new IllegalArgumentException(
          s"unknown set_precision mode: $other (valid_output | no_topo | keep_collapsed)")
      }
    }
  }

  val setPrecision: UserDefinedFunction =
    udf((b: Array[Byte], grid: Double, mode: String) =>
      uG(setPrecisionK(grid, mode))(b)).withName("st_set_precision")

  GeoKernels.add(K("st_set_precision", 3, Set(0), OGeom, a =>
    setPrecisionK(aD(a(1)), aS(a(2)))(aG(a(0)))))

  /** [xmin, ymin, xmax, ymax]; NaN×4 for empty (functions.rs:798-813).
    * Geometries linearized from curved sources use the exact arc bbox. */
  private def boundsK(g: Geometry): Seq[Double] = {
    val cb = curvedSrc(g)
    if (cb != null) CurvedGeom.bounds(CurvedGeom.parse(cb)._2).toSeq
    else if (g.isEmpty) Seq(Double.NaN, Double.NaN, Double.NaN, Double.NaN)
    else {
      val e = g.getEnvelopeInternal
      Seq(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
    }
  }

  val bounds: UserDefinedFunction = udf((b: Array[Byte]) =>
    if (b == null) null
    else if (graft.serde.CurvedGeom.isCurvedSource(b))
      // exact arc bbox (axis-extreme points included) — a linearized
      // envelope would clip the bulge by the chord sagitta
      graft.serde.CurvedGeom.bounds(graft.serde.CurvedGeom.parse(b)._2).toSeq
    else boundsK(EWKB.read(b))).withName("st_bounds")

  GeoKernels.add(K("st_bounds", 1, Set(0), GeoKernels.ODoubleArr, a => boundsK(aG(a(0)))))

  // ----------------------------------------------------------- measurement
  // Reference functions.rs:794-883.

  // Exact on curved input (arc closed forms — CurvedGeom tier 2:
  // Σ r·|sweep| for length, chord-polygon shoelace + (r²/2)(θ−sinθ)
  // segment corrections for area); JTS kernels otherwise. The fusion
  // kernels branch on the curved-source marker ([[curvedSrc]]) so a fused
  // st_length(st_geomfromtext('CIRCULARSTRING …')) is exactly as exact as
  // the unfused chain.
  val area: UserDefinedFunction = {
    GeoKernels.add(K("st_area", 1, Set(0), ODouble, a => {
      val g = aG(a(0)); val cb = curvedSrc(g)
      if (cb != null) CurvedGeom.area(CurvedGeom.parse(cb)._2) else g.getArea
    }, Some(CurvedGeom.areaOfBytes)))
    udf((b: Array[Byte]) =>
      if (b == null) None else Some(graft.serde.CurvedGeom.areaOfBytes(b)))
      .withName("st_area")
  }
  val length: UserDefinedFunction = {
    GeoKernels.add(K("st_length", 1, Set(0), ODouble, a => {
      val g = aG(a(0)); val cb = curvedSrc(g)
      if (cb != null) CurvedGeom.length(CurvedGeom.parse(cb)._2) else g.getLength
    }, Some(CurvedGeom.lengthOfBytes)))
    udf((b: Array[Byte]) =>
      if (b == null) None else Some(graft.serde.CurvedGeom.lengthOfBytes(b)))
      .withName("st_length")
  }

  /** NaN if either side empty (functions.rs:819-829). */
  val distance: UserDefinedFunction = fD2("st_distance")((a, b) =>
    if (a.isEmpty || b.isEmpty) Double.NaN else a.distance(b))

  val hausdorffDistance: UserDefinedFunction = fD2("st_hausdorff_distance")((a, b) =>
    if (a.isEmpty || b.isEmpty) Double.NaN
    else DiscreteHausdorffDistance.distance(a, b))

  private def hausdorffDensifyK(densify: Double)(ga: Geometry, gb: Geometry): Double =
    if (ga.isEmpty || gb.isEmpty) Double.NaN
    else DiscreteHausdorffDistance.distance(ga, gb, densify)

  val hausdorffDistanceDensify: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte], densify: Double) =>
      if (a == null || b == null) None
      else Some(hausdorffDensifyK(densify)(EWKB.read(a), EWKB.read(b))))
      .withName("st_hausdorff_distance_densify")

  val frechetDistance: UserDefinedFunction = fD2("st_frechet_distance")((a, b) =>
    if (a.isEmpty || b.isEmpty) Double.NaN
    else DiscreteFrechetDistance.distance(a, b))

  /** Densified Fréchet: JTS's discrete Fréchet has no densify fraction, so
    * inputs are densified up-front (approximation of GEOS
    * frechet_distance_densify — documented divergence). */
  private def frechetDensifyK(densify: Double)(ga: Geometry, gb: Geometry): Double =
    if (ga.isEmpty || gb.isEmpty) Double.NaN
    else {
      def dens(g: Geometry): Geometry = {
        val d = g.getLength * densify
        if (d > 0) Densifier.densify(g, d) else g
      }
      DiscreteFrechetDistance.distance(dens(ga), dens(gb))
    }

  val frechetDistanceDensify: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte], densify: Double) =>
      if (a == null || b == null) None
      else Some(frechetDensifyK(densify)(EWKB.read(a), EWKB.read(b))))
      .withName("st_frechet_distance_densify")

  GeoKernels.add(K("st_hausdorff_distance_densify", 3, Set(0, 1), ODouble,
    a => hausdorffDensifyK(aD(a(2)))(aG(a(0)), aG(a(1)))))
  GeoKernels.add(K("st_frechet_distance_densify", 3, Set(0, 1), ODouble,
    a => frechetDensifyK(aD(a(2)))(aG(a(0)), aG(a(1)))))

  /** +Infinity when no clearance exists (GEOS convention). */
  val minimumClearance: UserDefinedFunction = fD1("st_minimum_clearance") { g =>
    val d = MinimumClearance.getDistance(g)
    if (d == Double.MaxValue) Double.PositiveInfinity else d
  }

  // ------------------------------------------------------ unary predicates
  // Reference functions.rs:885-933.

  val hasZ: UserDefinedFunction = udf((b: Array[Byte]) =>
    if (b == null) None else Some(EWKB.header(b).hasZ))

  val hasM: UserDefinedFunction = udf((b: Array[Byte]) =>
    if (b == null) None else Some(EWKB.header(b).hasM))

  /** True when the value is (or contains) a curved geometry — type codes
    * 8-12 or a curve-bearing GeometryCollection (PostGIS `ST_HasArc`).
    * Header-only for atomic types; collections take one flag scan. */
  val hasArc: UserDefinedFunction = udf((b: Array[Byte]) =>
    if (b == null) None else Some(CurvedGeom.isCurvedSource(b)))
    .withName("st_has_arc")

  /** CCW orientation of closed linear geometry; false otherwise
    * (functions.rs:893-901). */
  val isCcw: UserDefinedFunction = fB1("st_is_ccw") {
    case l: LineString if l.getNumPoints >= 4 && l.isClosed =>
      Orientation.isCCW(l.getCoordinateSequence)
    case _ => false
  }

  val isClosed: UserDefinedFunction = udf((b: Array[Byte]) =>
    if (b == null) None
    else if (CurvedGeom.isCurvedSource(b))
      Some(CurvedGeom.isClosed(CurvedGeom.parse(b)._2))
    else Some(EWKB.read(b) match {
      case l: LineString => l.isClosed
      case m: MultiLineString => !m.isEmpty && m.isClosed
      case _ => false
    }))

  val isEmpty: UserDefinedFunction = fB1("st_is_empty")(_.isEmpty)

  val isRing: UserDefinedFunction = fB1("st_is_ring") {
    case l: LineString => l.isRing
    case _ => false
  }

  val isSimple: UserDefinedFunction = fB1("st_is_simple")(_.isSimple)
  val isValid: UserDefinedFunction = fB1("st_is_valid")(_.isValid)

  /** Validation detail string. Message wording is JTS's, not GEOS's —
    * documented divergence. */
  val isValidReason: UserDefinedFunction = fS1("st_is_valid_reason") { g =>
    val op = new IsValidOp(g)
    val err = op.getValidationError
    if (err == null) "Valid Geometry" else err.toString
  }

  // ----------------------------------------------------- binary predicates
  // Reference functions.rs:935-1094. JTS has 1:1 methods for each.

  // All relate-family predicates go through RelateNG (JTS 1.20), which
  // supports GeometryCollection arguments; classic RelateOp rejects them.
  // Either side empty → false (disjoint → true), per DE-9IM semantics.
  import org.locationtech.jts.operation.relateng.{RelateNG, RelatePredicate}
  private def ngPred(p: () => org.locationtech.jts.operation.relateng.TopologyPredicate)
      : (Geometry, Geometry) => Boolean =
    (a, b) => if (a.isEmpty || b.isEmpty) false else RelateNG.relate(a, b, p())

  // Named with .withName so graft.plans.BboxFilterRule can recognize these
  // ScalaUDF nodes in filter conditions and conjoin covering-column range
  // predicates (envelope intersection is implied by every one of them).
  val intersects: UserDefinedFunction =
    fB2("st_intersects")(ngPred(() => RelatePredicate.intersects()))
  val crosses: UserDefinedFunction =
    fB2("st_crosses")(ngPred(() => RelatePredicate.crosses()))
  val contains: UserDefinedFunction =
    fB2("st_contains")(ngPred(() => RelatePredicate.contains()))
  val containsProperly: UserDefinedFunction = fB2("st_contains_properly")((a, b) =>
    !a.isEmpty && !b.isEmpty && PreparedGeometryFactory.prepare(a).containsProperly(b))
  val coveredBy: UserDefinedFunction =
    fB2("st_covered_by")(ngPred(() => RelatePredicate.coveredBy()))
  val covers: UserDefinedFunction =
    fB2("st_covers")(ngPred(() => RelatePredicate.covers()))
  val disjoint: UserDefinedFunction = fB2("st_disjoint")((a, b) =>
    a.isEmpty || b.isEmpty || RelateNG.relate(a, b, RelatePredicate.disjoint()))
  val overlaps: UserDefinedFunction =
    fB2("st_overlaps")(ngPred(() => RelatePredicate.overlaps()))
  val touches: UserDefinedFunction =
    fB2("st_touches")(ngPred(() => RelatePredicate.touches()))
  val within: UserDefinedFunction =
    fB2("st_within")(ngPred(() => RelatePredicate.within()))
  val equalsTopo: UserDefinedFunction =
    // GEOS special-cases equals: two empties ARE equal (same empty point
    // set) — the blanket either-empty→false convention of the other
    // predicates would diverge from the reference here
    fB2("st_equals")((a, b) =>
      if (a.isEmpty || b.isEmpty) a.isEmpty && b.isEmpty
      else RelateNG.relate(a, b, RelatePredicate.equalsTopo()))
  val equalsIdentical: UserDefinedFunction =
    fB2("st_equals_identical")(GeomUtil.equalsIdentical)

  /** Strict `<` like the reference (functions.rs:984-990), not PostGIS `<=`. */
  private def dwithinK(d: Double)(ga: Geometry, gb: Geometry): Boolean =
    !ga.isEmpty && !gb.isEmpty && ga.isWithinDistance(gb, math.nextDown(d))

  val dwithin: UserDefinedFunction = udf((a: Array[Byte], b: Array[Byte], d: Double) =>
    if (a == null || b == null) None
    else Some(dwithinK(d)(EWKB.read(a), EWKB.read(b)))).withName("st_dwithin")

  val equalsExact: UserDefinedFunction = udf((a: Array[Byte], b: Array[Byte], tol: Double) =>
    if (a == null || b == null) None else Some(EWKB.read(a).equalsExact(EWKB.read(b), tol)))
    .withName("st_equals_exact")

  GeoKernels.add(K("st_dwithin", 3, Set(0, 1), OBool,
    a => dwithinK(aD(a(2)))(aG(a(0)), aG(a(1)))))
  GeoKernels.add(K("st_equals_exact", 3, Set(0, 1), OBool,
    a => aG(a(0)).equalsExact(aG(a(1)), aD(a(2)))))

  // RelateNG (JTS 1.20) supports GeometryCollection arguments, which the
  // classic RelateOp rejects. Empty inputs are computed closed-form (the
  // only non-F cell against an empty operand is exterior/exterior = 2,
  // plus the non-empty side's interior/boundary against the exterior).
  private def relateMatrix(a: Geometry, b: Geometry): String = {
    def dim(d: Int): Char = if (d < 0) 'F' else ('0' + d).toChar
    if (a.isEmpty && b.isEmpty) "FFFFFFFF2"
    else if (a.isEmpty)
      "FFFFFF" + dim(b.getDimension) + dim(b.getBoundaryDimension) + "2"
    else if (b.isEmpty)
      "FF" + dim(a.getDimension) + "FF" + dim(a.getBoundaryDimension) + "FF2"
    else org.locationtech.jts.operation.relateng.RelateNG.relate(a, b).toString
  }

  val relate: UserDefinedFunction = udf((a: Array[Byte], b: Array[Byte]) =>
    if (a == null || b == null) null else relateMatrix(EWKB.read(a), EWKB.read(b)))
    .withName("st_relate")

  GeoKernels.add(K("st_relate", 2, Set(0, 1), OString,
    a => relateMatrix(aG(a(0)), aG(a(1)))))

  private def relatePatternK(ga: Geometry, gb: Geometry, p: String): Boolean =
    if (ga.isEmpty || gb.isEmpty) IntersectionMatrix.matches(relateMatrix(ga, gb), p)
    else org.locationtech.jts.operation.relateng.RelateNG.relate(ga, gb, p)

  val relatePattern: UserDefinedFunction = udf((a: Array[Byte], b: Array[Byte], p: String) =>
    if (a == null || b == null || p == null) None
    else Some(relatePatternK(EWKB.read(a), EWKB.read(b), p))).withName("st_relate_pattern")

  GeoKernels.add(K("st_relate_pattern", 3, Set(0, 1), OBool,
    a => relatePatternK(aG(a(0)), aG(a(1)), aS(a(2)))))

  /** Per-thread LRU of prepared geometries keyed on the raw EWKB bytes —
    * the reference's entire point of `*_xy` is the PreparedGeometry fast
    * path (functions.rs:1072-1094); in a column context the same polygon
    * typically recurs across many probe rows (e.g. zones × events), so a
    * small cache recovers the prepared-index reuse. */
  private object PrepCache {
    private val Cap = 64
    private val tl = new ThreadLocal[java.util.LinkedHashMap[java.nio.ByteBuffer, org.locationtech.jts.geom.prep.PreparedGeometry]] {
      override def initialValue() =
        new java.util.LinkedHashMap[java.nio.ByteBuffer, org.locationtech.jts.geom.prep.PreparedGeometry](Cap, 0.75f, true) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[java.nio.ByteBuffer, org.locationtech.jts.geom.prep.PreparedGeometry]): Boolean =
            size() > Cap
        }
    }
    def get(b: Array[Byte]): org.locationtech.jts.geom.prep.PreparedGeometry = {
      val m = tl.get()
      val k = java.nio.ByteBuffer.wrap(b)
      var p = m.get(k)
      if (p == null) { p = PreparedGeometryFactory.prepare(EWKB.read(b)); m.put(k, p) }
      p
    }
  }

  /** Point-optimized predicates (functions.rs:1072-1094), prepared-geometry
    * fast path via [[PrepCache]]. */
  val intersectsXY: UserDefinedFunction = udf((b: Array[Byte], px: Double, py: Double) =>
    if (b == null) None
    else Some(PrepCache.get(b).intersects(fact.createPoint(new Coordinate(px, py)))))
    .withName("st_intersects_xy")

  val containsXY: UserDefinedFunction = udf((b: Array[Byte], px: Double, py: Double) =>
    if (b == null) None
    else Some(PrepCache.get(b).contains(fact.createPoint(new Coordinate(px, py)))))
    .withName("st_contains_xy")

  // Fused-chain kernels: inside a chain the geometry operand is computed
  // per row (no bytes to key a prepared-geometry cache on), so the kernels
  // call the plain JTS predicates — PreparedGeometry and RelateOp agree on
  // every supported input, and the fusion tier's own preparedKernel path
  // covers the constant-operand case.
  GeoKernels.add(K("st_intersects_xy", 3, Set(0), OBool,
    a => aG(a(0)).intersects(fact.createPoint(new Coordinate(aD(a(1)), aD(a(2)))))))
  GeoKernels.add(K("st_contains_xy", 3, Set(0), OBool,
    a => aG(a(0)).contains(fact.createPoint(new Coordinate(aD(a(1)), aD(a(2)))))))

  // --------------------------------------------------- overlay / set ops
  // Reference functions.rs:1096-1226. grid_size>0 → OverlayNG with a fixed
  // precision model (like GEOS *_prec variants).

  // GeometryCollection operands are unioned into a homogeneous-set geometry
  // first (GEOS overlay handles GCs natively; JTS overlay does not —
  // union-of-parts gives the same set semantics).
  private def flattenGC(g: Geometry): Geometry = g match {
    case c: GeometryCollection if c.getClass == classOf[GeometryCollection] =>
      if (c.isEmpty) c else c.union()
    case other => other
  }

  private def overlay(op: Int)(a: Geometry, b: Geometry): Geometry =
    org.locationtech.jts.operation.overlayng.OverlayNGRobust
      .overlay(flattenGC(a), flattenGC(b), op)

  private def overlayPrec(op: Int, grid: Double)(a: Geometry, b: Geometry): Geometry =
    if (grid > 0) OverlayNG.overlay(flattenGC(a), flattenGC(b), op, new PrecisionModel(1.0 / grid))
    else overlay(op)(a, b)

  val union: UserDefinedFunction =
    fG2("st_union")(overlay(OverlayNG.UNION))
  val intersection: UserDefinedFunction =
    fG2("st_intersection")(overlay(OverlayNG.INTERSECTION))
  val difference: UserDefinedFunction =
    fG2("st_difference")(overlay(OverlayNG.DIFFERENCE))
  val symmetricDifference: UserDefinedFunction =
    fG2("st_symmetric_difference")(overlay(OverlayNG.SYMDIFFERENCE))

  private def precUdf(name: String, op: Int): UserDefinedFunction = {
    GeoKernels.add(K(name, 3, Set(0, 1), OGeom,
      a => overlayPrec(op, aD(a(2)))(aG(a(0)), aG(a(1)))))
    udf((a: Array[Byte], b: Array[Byte], grid: Double) =>
      bG(overlayPrec(op, grid))(a, b)).withName(name)
  }

  val unionPrec: UserDefinedFunction = precUdf("st_union_prec", OverlayNG.UNION)
  val intersectionPrec: UserDefinedFunction =
    precUdf("st_intersection_prec", OverlayNG.INTERSECTION)
  val differencePrec: UserDefinedFunction =
    precUdf("st_difference_prec", OverlayNG.DIFFERENCE)
  val symmetricDifferencePrec: UserDefinedFunction =
    precUdf("st_symmetric_difference_prec", OverlayNG.SYMDIFFERENCE)

  /** Per-row self-union (functions.rs:1156-1168). */
  val unaryUnion: UserDefinedFunction = fG1("st_unary_union")(_.union())

  /** disjoint_subset_union (functions.rs:1170-1176): GEOS exposes it as an
    * optimized union for inputs with disjoint subsets; JTS's UnaryUnionOp
    * already applies cascaded union with spatial partitioning, so the
    * semantics map to the same operation. */
  val disjointSubsetUnion: UserDefinedFunction =
    fG1("st_disjoint_subset_union")(_.union())

  /** Union of the parts of a collection; raises on non-collection input
    * (functions.rs:1194-1204). The fast boundary-merge CoverageUnion only
    * handles single-dimension coverages; mixed-dimension collections fall
    * back to full union (same result for valid coverages). */
  val coverageUnion: UserDefinedFunction = fG1("st_coverage_union") {
    case c: GeometryCollection =>
      try org.locationtech.jts.operation.overlayng.CoverageUnion.union(c)
      catch { case _: IllegalArgumentException => c.union() }
    case g => throw new IllegalArgumentException(
      s"coverage_union requires a GeometryCollection, got ${g.getGeometryType}")
  }

  // ------------------------------------------------------ constructive ops
  // Reference functions.rs:1278-1492.

  /** GeometryCollection → empty GC (GEOS raises; reference special-cases,
    * functions.rs:1278-1287). */
  val boundary: UserDefinedFunction = fG1("st_boundary") {
    case _: GeometryCollection => fact.createGeometryCollection()
    case g => g.getBoundary
  }

  private def capStyleOf(s: String): Int = s.toLowerCase match {
    case "round" => BufferParameters.CAP_ROUND
    case "flat" | "butt" => BufferParameters.CAP_FLAT
    case "square" => BufferParameters.CAP_SQUARE
    case other => throw new IllegalArgumentException(s"unknown cap_style: $other")
  }
  private def joinStyleOf(s: String): Int = s.toLowerCase match {
    case "round" => BufferParameters.JOIN_ROUND
    case "mitre" | "miter" => BufferParameters.JOIN_MITRE
    case "bevel" => BufferParameters.JOIN_BEVEL
    case other => throw new IllegalArgumentException(s"unknown join_style: $other")
  }

  private def bufferK(dist: Double, quadSegs: Int, capStyle: String,
      joinStyle: String, mitreLimit: Double, singleSided: Boolean)(g: Geometry): Geometry = {
    val p = new BufferParameters(quadSegs, capStyleOf(capStyle),
      joinStyleOf(joinStyle), mitreLimit)
    p.setSingleSided(singleSided)
    BufferOp.bufferOp(g, dist, p)
  }

  val buffer: UserDefinedFunction = udf((b: Array[Byte], dist: Double, quadSegs: Int,
      capStyle: String, joinStyle: String, mitreLimit: Double, singleSided: Boolean) =>
    uG(bufferK(dist, quadSegs, capStyle, joinStyle, mitreLimit, singleSided))(b))
    .withName("st_buffer")

  GeoKernels.add(K("st_buffer", 7, Set(0), OGeom, a =>
    bufferK(aD(a(1)), aI(a(2)), aS(a(3)), aS(a(4)), aD(a(5)), aB(a(6)))(aG(a(0)))))

  val offsetCurve: UserDefinedFunction = udf((b: Array[Byte], dist: Double, quadSegs: Int,
      joinStyle: String, mitreLimit: Double) =>
    uG(g => OffsetCurve.getCurve(g, dist, quadSegs, joinStyleOf(joinStyle), mitreLimit))(b))
    .withName("st_offset_curve")

  GeoKernels.add(K("st_offset_curve", 5, Set(0), OGeom, a =>
    OffsetCurve.getCurve(aG(a(0)), aD(a(1)), aI(a(2)), joinStyleOf(aS(a(3))), aD(a(4)))))

  val centroid: UserDefinedFunction = fG1("st_centroid")(_.getCentroid)

  /** Bounding-box midpoint (functions.rs:1325-1335). */
  val center: UserDefinedFunction = fG1("st_center") { g =>
    if (g.isEmpty) fact.createPoint()
    else {
      val e = g.getEnvelopeInternal
      fact.createPoint(new Coordinate((e.getMinX + e.getMaxX) / 2, (e.getMinY + e.getMaxY) / 2))
    }
  }

  private def clipByRectK(xmin: Double, ymin: Double, xmax: Double, ymax: Double)
      (g: Geometry): Geometry =
    g.intersection(fact.toGeometry(new Envelope(xmin, xmax, ymin, ymax)))

  val clipByRect: UserDefinedFunction = udf((b: Array[Byte], xmin: Double, ymin: Double,
      xmax: Double, ymax: Double) =>
    uG(clipByRectK(xmin, ymin, xmax, ymax))(b)).withName("st_clip_by_rect")

  GeoKernels.add(K("st_clip_by_rect", 5, Set(0), OGeom, a =>
    clipByRectK(aD(a(1)), aD(a(2)), aD(a(3)), aD(a(4)))(aG(a(0)))))

  val convexHull: UserDefinedFunction = fG1("st_convex_hull")(_.convexHull())

  private def concaveHullK(ratio: Double, holes: Boolean)(g: Geometry): Geometry =
    if (g.isEmpty) freshCopy(g) else ConcaveHull.concaveHullByLengthRatio(g, ratio, holes)

  val concaveHull: UserDefinedFunction = udf((b: Array[Byte], ratio: Double, holes: Boolean) =>
    uG(concaveHullK(ratio, holes))(b)).withName("st_concave_hull")

  GeoKernels.add(K("st_concave_hull", 3, Set(0), OGeom, a =>
    concaveHullK(aD(a(1)), aB(a(2)))(aG(a(0)))))

  private def segmentizeK(maxLen: Double)(g: Geometry): Geometry =
    if (g.isEmpty || g.getDimension == 0) freshCopy(g) else Densifier.densify(g, maxLen)

  val segmentize: UserDefinedFunction = udf((b: Array[Byte], maxLen: Double) =>
    uG(segmentizeK(maxLen))(b)).withName("st_segmentize")

  GeoKernels.add(K("st_segmentize", 2, Set(0), OGeom, a =>
    segmentizeK(aD(a(1)))(aG(a(0)))))

  // curved input: exact arc bbox (matching st_bounds / originOf('center')),
  // not the 32-seg linearization's chord-clipped box — one kernel, so the
  // UDF and fusion tiers agree by construction
  val envelope: UserDefinedFunction = fG1("st_envelope") { g =>
    val cb = curvedSrc(g)
    if (cb != null) CurvedGeom.envelopeGeom(cb) else g.getEnvelope
  }

  val extractUniquePoints: UserDefinedFunction = fG1("st_extract_unique_points") { g =>
    // key on raw bits so NaN z (2D coords) compares equal to itself —
    // primitive-Double tuple equality has NaN != NaN
    val seen = scala.collection.mutable.LinkedHashSet.empty[(Long, Long, Long)]
    val coords = scala.collection.mutable.ArrayBuffer.empty[Coordinate]
    g.apply(new CoordinateSequenceFilter {
      override def filter(cs: CoordinateSequence, i: Int): Unit = {
        val (cx, cy, cz) = (cs.getX(i), cs.getY(i), if (cs.hasZ) cs.getZ(i) else Double.NaN)
        val key = (java.lang.Double.doubleToLongBits(cx),
          java.lang.Double.doubleToLongBits(cy), java.lang.Double.doubleToLongBits(cz))
        if (seen.add(key)) coords += new Coordinate(cx, cy, cz)
      }
      override def isDone = false
      override def isGeometryChanged = false
    })
    fact.createMultiPoint(coords.map(fact.createPoint).toArray)
  }

  /** GEOS build_area analog: polygonize the noded linework, keeping only
    * the polygonal surface (functions.rs:1393-1395). */
  val buildArea: UserDefinedFunction = fG1("st_build_area") { g =>
    if (g.isEmpty) fact.createGeometryCollection()
    else {
      val noded = nodeLinework(g)
      val p = new Polygonizer(true)
      p.add(noded)
      val out = p.getGeometry
      if (out == null) fact.createGeometryCollection() else out
    }
  }

  val makeValid: UserDefinedFunction = fG1("st_make_valid")(g =>
    if (g.isValid) freshCopy(g) else GeometryFixer.fix(g))

  // norm() = copy()+normalize(), and JTS copy() preserves userData — shed
  // the curved-source marker or fused chains would emit the
  // PRE-normalization curved bytes (see freshCopy)
  val normalize: UserDefinedFunction = fG1("st_normalize") { g =>
    val c = g.norm(); c.setUserData(null); c
  }

  private def nodeLinework(g: Geometry): Geometry = {
    val lines = org.locationtech.jts.geom.util.LinearComponentExtracter.getLines(g)
    if (lines.isEmpty) fact.createMultiLineString()
    else UnaryUnionOp.union(lines.asInstanceOf[java.util.Collection[Geometry]])
  }

  /** Node the linework (GEOS GEOSNode analog via union of linear
    * components). */
  val node: UserDefinedFunction = fG1("st_node")(nodeLinework)

  val pointOnSurface: UserDefinedFunction = fG1("st_point_on_surface")(g =>
    if (g.isEmpty) fact.createPoint() else g.getInteriorPoint)

  val removeRepeatedPoints: UserDefinedFunction = udf((b: Array[Byte], tol: Double) =>
    uG(g => GeomUtil.mapCoordsFilterRepeated(g, tol))(b))
    .withName("st_remove_repeated_points")

  GeoKernels.add(K("st_remove_repeated_points", 2, Set(0), OGeom, a =>
    GeomUtil.mapCoordsFilterRepeated(aG(a(0)), aD(a(1)))))

  // curved sources reverse control points and keep the curved type
  val reverse: UserDefinedFunction = fG1("st_reverse") { g =>
    val cb = curvedSrc(g)
    if (cb != null) {
      val (srid, cg) = CurvedGeom.parse(cb)
      curvedLin(CurvedGeom.reverseG(cg), srid)
    } else g.reverse()
  }

  private def simplifyK(tol: Double, preserve: Boolean)(g: Geometry): Geometry =
    if (preserve) TopologyPreservingSimplifier.simplify(g, tol)
    else DouglasPeuckerSimplifier.simplify(g, tol)

  val simplify: UserDefinedFunction = udf((b: Array[Byte], tol: Double, preserve: Boolean) =>
    uG(simplifyK(tol, preserve))(b)).withName("st_simplify")

  GeoKernels.add(K("st_simplify", 3, Set(0), OGeom, a =>
    simplifyK(aD(a(1)), aB(a(2)))(aG(a(0)))))

  val force2d: UserDefinedFunction = fG1("st_force_2d")(g =>
    mapCoordsCA(g, (x, y, _) => (x, y, Double.NaN), forceDim = 2))

  private def force3dK(zDefault: Double)(g: Geometry): Geometry =
    mapCoordsCA(g, (x, y, z) => (x, y, if (z.isNaN) zDefault else z), forceDim = 3)

  val force3d: UserDefinedFunction = udf((b: Array[Byte], zDefault: Double) =>
    uG(force3dK(zDefault))(b)).withName("st_force_3d")

  GeoKernels.add(K("st_force_3d", 2, Set(0), OGeom, a =>
    force3dK(aD(a(1)))(aG(a(0)))))

  val flipCoordinates: UserDefinedFunction = fG1("st_flip_coordinates")(g =>
    mapCoordsCA(g, (x, y, z) => (y, x, z)))

  val minimumRotatedRectangle: UserDefinedFunction =
    fG1("st_minimum_rotated_rectangle")(g =>
      if (g.isEmpty) fact.createPolygon()
      else MinimumDiameter.getMinimumRectangle(g))

  private def snapK(tol: Double)(ga: Geometry, gb: Geometry): Geometry =
    new GeometrySnapper(ga).snapTo(gb, tol)

  val snap: UserDefinedFunction = udf((a: Array[Byte], b: Array[Byte], tol: Double) =>
    bG(snapK(tol))(a, b)).withName("st_snap")

  GeoKernels.add(K("st_snap", 3, Set(0, 1), OGeom, a =>
    snapK(aD(a(2)))(aG(a(0)), aG(a(1)))))

  /** LineString between nearest points; null if either side empty
    * (functions.rs:1765-1777). */
  val shortestLine: UserDefinedFunction = fG2("st_shortest_line")((ga, gb) =>
    if (ga.isEmpty || gb.isEmpty) null
    else fact.createLineString(DistanceOp.nearestPoints(ga, gb)))

  /** Shared linework split into same-direction and opposite-direction parts:
    * GEOMETRYCOLLECTION(MULTILINESTRING forward, MULTILINESTRING backward)
    * (GEOS SharedPaths; JTS has no SharedPathsOp so directions are derived
    * by locating each shared segment on both inputs). Raises on non-lineal
    * input like the reference. */
  val sharedPaths: UserDefinedFunction = fG2("st_shared_paths")(SharedPathsImpl.sharedPaths)

  /** Typed geometry cast (reference cast table functions.rs:61-177,
    * matrix documented at geoexpr.py:446-468). Curved casts are supported
    * at the bytes level per the reference table (functions.rs:82-170):
    * CircularString→CompoundCurve/MultiCurve, CompoundCurve→MultiCurve,
    * CurvePolygon→MultiSurface, LineString→CompoundCurve/MultiCurve,
    * Polygon→CurvePolygon/MultiSurface, anything→GeometryCollection
    * (curved members kept via the [[CurvedGeom]] writer). The fused
    * kernel applies the SAME bytes-level table through the curved-source
    * marker, so curved casts work identically inside fused chains. */
  private val CurvedCastTargets =
    Set("circularstring", "compoundcurve", "curvepolygon", "multicurve", "multisurface")

  private def curvedCastK(b: Array[Byte], into: String): Array[Byte] = {
    val target = into.trim.toLowerCase.replace("_", "").replace(" ", "")
    val (srid, g) = CurvedGeom.parse(b)
    if (EWKB.typeName(g.code).toLowerCase == target) return CurvedGeom.write(g, srid)
    val out: CG = (g, target) match {
      case (l: CLine, "compoundcurve") => CCompound(Vector(l), l.z, l.m)
      case (l: CLine, "multicurve") => CMulti(11, Vector(l), l.z, l.m)
      case (c: CCompound, "multicurve") => CMulti(11, Vector(c), c.z, c.m)
      case (p: CPoly, "curvepolygon") => p.copy(curve = true)
      case (p: CPoly, "multisurface") => CMulti(12, Vector(p), p.z, p.m)
      case (_, "geometrycollection") => g match {
        case CMulti(_, ps, z, m) => CMulti(7, ps, z, m)
        case other => CMulti(7, Vector(other), other.z, other.m)
      }
      case _ => throw new IllegalArgumentException(
        s"invalid cast from ${EWKB.typeName(g.code)} to $into")
    }
    CurvedGeom.write(out, srid)
  }

  val castTo: UserDefinedFunction = udf((b: Array[Byte], into: String) =>
    if (into == null || b == null) null
    else {
      val target = into.trim.toLowerCase.replace("_", "").replace(" ", "")
      if (CurvedGeom.isCurvedSource(b)) curvedCastK(b, into)
      else if (CurvedCastTargets(target)) curvedCastK(b, into)
      else uG(g => CastImpl.cast(g, into))(b)
    }).withName("st_cast")

  GeoKernels.add(K("st_cast", 2, Set(0), OGeom, a => {
    val g = aG(a(0)); val into = aS(a(1)); val cb = curvedSrc(g)
    val target = into.trim.toLowerCase.replace("_", "").replace(" ", "")
    if (cb != null || CurvedCastTargets(target)) {
      // same bytes-level table as the unfused branch; result re-enters the
      // chain as linearized-geometry + curved-source marker
      val ob = curvedCastK(if (cb != null) cb else EWKB.write(g), into)
      val (srid, cg) = CurvedGeom.parse(ob)
      if (Curved.isCurvedCode(cg.code)) curvedLin(cg, srid)
      else EWKB.read(ob)
    }
    else CastImpl.cast(g, into)
  }))

  /** Promote to the corresponding Multi* type (functions.rs:779-792).
    * Empties promote to MULTI* EMPTY (the GEOS result, and what
    * [[CastImpl.cast]] does) — wrapping an empty element instead crashes
    * the GeoJSON writer on its 0-length coordinate sequence. */
  val multi: UserDefinedFunction = fG1("st_multi") {
    case p: Point if p.isEmpty => fact.createMultiPoint()
    case l: LineString if l.isEmpty => fact.createMultiLineString()
    case p: Polygon if p.isEmpty => fact.createMultiPolygon()
    case p: Point => fact.createMultiPoint(Array(p))
    case l: LineString => fact.createMultiLineString(Array(l))
    case p: Polygon => fact.createMultiPolygon(Array(p))
    case g => freshCopy(g)
  }

  // ------------------------------------ affine transforms / linear ref
  // Reference functions.rs:1494-1755.

  /** shapely-style matrix: 6 values [a,b,d,e,xoff,yoff] for 2D or 12 values
    * [a,b,c,d,e,f,g,h,i,xoff,yoff,zoff] for 3D. */
  private def affineK(mat: Seq[Double])(g: Geometry): Geometry =
    mat.length match {
      case 6 =>
        val Seq(a1, b1, d1, e1, xo, yo) = mat
        mapCoordsCA(g, (x, y, z) => (a1 * x + b1 * y + xo, d1 * x + e1 * y + yo, z))
      case 12 =>
        val Seq(a1, b1, c1, d1, e1, f1, g1, h1, i1, xo, yo, zo) = mat
        mapCoordsCA(g, (x, y, z0) => {
          val z = if (z0.isNaN) 0.0 else z0
          (a1 * x + b1 * y + c1 * z + xo,
           d1 * x + e1 * y + f1 * z + yo,
           g1 * x + h1 * y + i1 * z + zo)
        }, forceDim = 3)
      case n => throw new IllegalArgumentException(
        s"affine_transform matrix must have 6 or 12 values, got $n")
    }

  val affineTransform: UserDefinedFunction = udf((b: Array[Byte], mat: Seq[Double]) =>
    if (b == null || mat == null) null
    else uG(affineK(mat))(b)).withName("st_affine_transform")

  GeoKernels.add(K("st_affine_transform", 2, Set(0), OGeom, a =>
    affineK(GeoKernels.aDs(a(1)))(aG(a(0)))))

  private def translateK(dx: Double, dy: Double, dz: Double)(g: Geometry): Geometry =
    mapCoordsCA(g, (x, y, z) => (x + dx, y + dy, z + dz))

  val translate: UserDefinedFunction = udf((b: Array[Byte], dx: Double, dy: Double, dz: Double) =>
    uG(translateK(dx, dy, dz))(b)).withName("st_translate")

  GeoKernels.add(K("st_translate", 4, Set(0), OGeom, a =>
    translateK(aD(a(1)), aD(a(2)), aD(a(3)))(aG(a(0)))))

  private def originOf(g: Geometry, origin: String): (Double, Double) =
    origin.toLowerCase match {
      case "center" =>
        val cb = curvedSrc(g)
        if (cb != null) {
          // exact arc bbox center — the linearized envelope clips the
          // bulge by the chord sagitta, inconsistent with st_bounds
          val bb = CurvedGeom.bounds(CurvedGeom.parse(cb)._2)
          ((bb(0) + bb(2)) / 2, (bb(1) + bb(3)) / 2)
        } else {
          val e = g.getEnvelopeInternal
          ((e.getMinX + e.getMaxX) / 2, (e.getMinY + e.getMaxY) / 2)
        }
      case "centroid" =>
        val c = g.getCentroid
        // empty input: the transform maps zero coordinates, any origin
        // works — Point.getX on an empty centroid would throw instead
        if (c.isEmpty) (0.0, 0.0) else (c.getX, c.getY)
      case s =>
        val parts = s.split("[ ,]+").filter(_.nonEmpty)
        require(parts.length >= 2, s"invalid origin: $origin")
        (parts(0).toDouble, parts(1).toDouble)
    }

  /** Rotate by degrees about origin ("center" | "centroid" | "x y"). */
  private def rotateK(angleDeg: Double, origin: String)(g: Geometry): Geometry = {
    val (ox, oy) = originOf(g, origin)
    val rad = math.toRadians(angleDeg)
    val (c, s) = (math.cos(rad), math.sin(rad))
    mapCoordsCA(g, (x, y, z) =>
      (ox + (x - ox) * c - (y - oy) * s, oy + (x - ox) * s + (y - oy) * c, z))
  }

  val rotate: UserDefinedFunction = udf((b: Array[Byte], angleDeg: Double, origin: String) =>
    uG(rotateK(angleDeg, origin))(b)).withName("st_rotate")

  GeoKernels.add(K("st_rotate", 3, Set(0), OGeom, a =>
    rotateK(aD(a(1)), aS(a(2)))(aG(a(0)))))

  private def scaleK(sx: Double, sy: Double, sz: Double, origin: String)(g: Geometry): Geometry = {
    val (ox, oy) = originOf(g, origin)
    mapCoordsCA(g, (x, y, z) => (ox + (x - ox) * sx, oy + (y - oy) * sy, z * sz))
  }

  val scale: UserDefinedFunction = udf((b: Array[Byte], sx: Double, sy: Double, sz: Double,
      origin: String) =>
    uG(scaleK(sx, sy, sz, origin))(b)).withName("st_scale")

  GeoKernels.add(K("st_scale", 5, Set(0), OGeom, a =>
    scaleK(aD(a(1)), aD(a(2)), aD(a(3)), aS(a(4)))(aG(a(0)))))

  private def skewK(xDeg: Double, yDeg: Double, origin: String)(g: Geometry): Geometry = {
    val (ox, oy) = originOf(g, origin)
    val (tx, ty) = (math.tan(math.toRadians(xDeg)), math.tan(math.toRadians(yDeg)))
    mapCoordsCA(g, (x, y, z) =>
      (x + (y - oy) * tx, y + (x - ox) * ty, z))
  }

  val skew: UserDefinedFunction = udf((b: Array[Byte], xDeg: Double, yDeg: Double,
      origin: String) =>
    uG(skewK(xDeg, yDeg, origin))(b)).withName("st_skew")

  GeoKernels.add(K("st_skew", 4, Set(0), OGeom, a =>
    skewK(aD(a(1)), aD(a(2)), aS(a(3)))(aG(a(0)))))

  /** 3-axis skew mirroring the reference's shear matrix verbatim
    * (functions.rs:242-255: rows (1,tx,ty),(tz,1,tx),(ty,tz,1) about the
    * origin). The 2-arg [[skew]] keeps the shapely-style x/y shear. */
  val skew3: UserDefinedFunction = udf((b: Array[Byte], xDeg: Double, yDeg: Double,
      zDeg: Double, origin: String) =>
    uG { g =>
      val (ox, oy) = originOf(g, origin)
      val tx = math.tan(math.toRadians(xDeg))
      val ty = math.tan(math.toRadians(yDeg))
      val tz = math.tan(math.toRadians(zDeg))
      val has3 = EWKB.hasZ(g)
      mapCoordsCA(g, (x, y, z0) => {
        val z = if (z0.isNaN) 0.0 else z0
        val dx = x - ox; val dy = y - oy; val dz = z
        (ox + dx + tx * dy + ty * dz,
          oy + tz * dx + dy + tx * dz,
          if (has3) ty * dx + tz * dy + dz else Double.NaN)
      })
    }(b))

  /** Point along a lineal geometry; raises on non-lineal input. */
  private def interpolateK(dist: Double, normalized: Boolean)(g0: Geometry): Geometry = g0 match {
    // EMPTY of either lineal type: LengthIndexedLine's end-location on an
    // empty MultiLineString indexes component -1 and crashes
    case l @ (_: LineString | _: MultiLineString) if l.isEmpty => fact.createPoint()
    case l @ (_: LineString | _: MultiLineString) =>
      val lil = new LengthIndexedLine(l)
      val d = if (normalized) dist * l.getLength else dist
      fact.createPoint(lil.extractPoint(d))
    case g => throw new IllegalArgumentException(
      s"interpolate requires a lineal geometry, got ${g.getGeometryType}")
  }

  val interpolate: UserDefinedFunction = udf((b: Array[Byte], dist: Double, normalized: Boolean) =>
    uG(interpolateK(dist, normalized))(b)).withName("st_interpolate")

  GeoKernels.add(K("st_interpolate", 3, Set(0), OGeom, a =>
    interpolateK(aD(a(1)), aB(a(2)))(aG(a(0)))))

  /** Distance along `a` of the nearest location to `b` (a point); raises on
    * non-lineal `a` (functions.rs:1719-1743 incl. empty guards). */
  private def projectK(normalized: Boolean)(ga: Geometry, gb: Geometry): Double =
    (ga, gb) match {
      case (l @ (_: LineString | _: MultiLineString), p: Point) =>
        if (l.isEmpty || p.isEmpty) Double.NaN
        else {
          val lil = new LengthIndexedLine(l)
          val d = lil.indexOf(p.getCoordinate)
          if (normalized) d / l.getLength else d
        }
      case (g, other) => throw new IllegalArgumentException(
        s"project requires lineal geometry and Point, got ${g.getGeometryType}/${other.getGeometryType}")
    }

  val project: UserDefinedFunction = udf((a: Array[Byte], b: Array[Byte], normalized: Boolean) =>
    if (a == null || b == null) None
    else Some(projectK(normalized)(EWKB.read(a), EWKB.read(b)))).withName("st_project")

  GeoKernels.add(K("st_project", 3, Set(0, 1), ODouble, a =>
    projectK(aB(a(2)))(aG(a(0)), aG(a(1)))))

  /** Merge lines at 2-degree nodes. `directed=true` only joins lines whose
    * directions agree (GEOS line_merge_directed). */
  private def lineMergeK(directed: Boolean)(g: Geometry): Geometry =
    if (g.isEmpty) fact.createGeometryCollection()
    else if (directed) SharedPathsImpl.directedLineMerge(g)
    else {
      val m = new LineMerger()
      m.add(g)
      val merged = m.getMergedLineStrings.asScala.toSeq.map(_.asInstanceOf[LineString])
      if (merged.isEmpty) fact.createGeometryCollection()
      else if (merged.size == 1) merged.head
      else fact.createMultiLineString(merged.toArray)
    }

  val lineMerge: UserDefinedFunction = udf((b: Array[Byte], directed: Boolean) =>
    uG(lineMergeK(directed))(b)).withName("st_line_merge")

  GeoKernels.add(K("st_line_merge", 2, Set(0), OGeom, a =>
    lineMergeK(aB(a(1)))(aG(a(0)))))

  // ----------------------------------------------------------- CRS ops
  // Reference functions.rs:433-443, 1868-1939.

  /** Rewrite the header SRID (no reprojection). Copies before mutating —
    * parsed geometries may be shared via the EWKB parse cache. */
  val setSrid: UserDefinedFunction = udf((b: Array[Byte], srid: Int) =>
    if (b == null) null
    else if (CurvedGeom.isCurvedSource(b)) Curved.withSrid(b, srid)
    else {
      val g = EWKB.read(b).copy()
      g.setSRID(srid)
      EWKB.write(g)
    })

  /** Reproject coordinates between SRIDs. Offline environment: closed-form
    * projections for 4326, 3857, 3395 and the WGS84 UTM zones (see
    * [[CrsImpl]]); other pairs raise (documented gap — the reference embeds
    * a full proj database, crs-definitions). */
  val toSrid: UserDefinedFunction = udf((b: Array[Byte], target: Int) =>
    if (b == null) null
    else {
      val g = EWKB.read(b)
      // writeResult: a same-SRID no-op on curved input returns the
      // SRID-rewritten marker — preserve the curve like the fused tier
      writeResult(CrsImpl.toSrid(g, target))
    }).withName("st_to_srid")

  // (st_set_srid is deliberately NOT a fusion kernel: its UDF is a
  // header-only byte rewrite that also supports curved EWKB — fusing it
  // would force a parse the unfused tier never pays.)
  GeoKernels.add(K("st_to_srid", 2, Set(0), OGeom,
    a => CrsImpl.toSrid(aG(a(0)), aI(a(1)))))

  /** CRS definition → (authority, code) struct (reference `src/crs.rs:11-18`);
    * null when unparseable. */
  val crsAuthority: UserDefinedFunction = udf((s: String) =>
    if (s == null) None else CrsImpl.crsAuthority(s))

  /** EPSG code → CRS WKT (reference `src/crs.rs:20-26`); null when unknown. */
  val crsFromCode: UserDefinedFunction = udf((srid: Int) => CrsImpl.crsFromCode(srid))

  // ------------------------------------------------------- serialization
  // Reference functions.rs:703-769.

  // WKT/WKB serializers branch on raw bytes so curved geometries print as
  // CIRCULARSTRING/COMPOUNDCURVE/… instead of silently linearizing. Their
  // fusion kernels branch on the curved-source marker the same way
  // (curvedSrc), so fused parse→print chains preserve curves identically.
  // (st_asgeojson needs no branch: GeoJSON has no curve concept, so both
  // tiers linearize identically.)

  /** Curved EWKB → WKT with the [[GeoCodec.toWkt]] formatting contract
    * (precision/trim via the same ordinate rewriter, outputDimension via a
    * model round trip, old_3d via the same tag rewrite). */
  private def curvedWktK(b: Array[Byte], precision: Int, trim: Boolean,
      outputDimension: Int, old3d: Boolean): String = {
    val (_, g0) = CurvedGeom.parse(b)
    val g = if (outputDimension >= 4) g0
    else if (outputDimension >= 3 && !(g0.z && g0.m)) g0
    else {
      // clamp stored dims to the writer's output dimension like JTS's
      // WKTWriter(outputDimension): round-trip through the model writer
      val forced = if (outputDimension <= 2) Some(2) else Some(3)
      CurvedGeom.parse(CurvedGeom.write(g0, 0, forceDims = forced))._2
    }
    var s = CurvedGeom.toWkt(g)
    if (precision >= 0 || !trim)
      s = GeoCodec.formatOrdinates(s, if (precision >= 0) precision else 16, trim)
    if (old3d) s = s.replace(" ZM ", " M ").replace(" Z ", " ")
    s
  }

  /** EWKT prefix for curved source bytes. */
  private def curvedEwktK(cb: Array[Byte], precision: Int, trim: Boolean,
      outputDimension: Int, old3d: Boolean): String = {
    val srid = EWKB.header(cb).srid
    val wkt = curvedWktK(cb, precision, trim, outputDimension, old3d)
    if (srid != 0) s"SRID=$srid;$wkt" else wkt
  }

  val asWkt: UserDefinedFunction = {
    GeoKernels.add(K("st_aswkt", 1, Set(0), OString, a => {
      val g = aG(a(0)); val cb = curvedSrc(g)
      if (cb != null) curvedWktK(cb, 6, trim = true, 3, old3d = false)
      else GeoCodec.toWkt(g)
    }))
    udf((b: Array[Byte]) =>
      if (b == null) null
      else if (CurvedGeom.isCurvedSource(b)) curvedWktK(b, 6, trim = true, 3, old3d = false)
      else GeoCodec.toWkt(EWKB.read(b))).withName("st_aswkt")
  }

  val asEwkt: UserDefinedFunction = {
    GeoKernels.add(K("st_asewkt", 1, Set(0), OString, a => {
      val g = aG(a(0)); val cb = curvedSrc(g)
      if (cb != null) curvedEwktK(cb, 6, trim = true, 3, old3d = false)
      else GeoCodec.toEwkt(g)
    }))
    udf((b: Array[Byte]) =>
      if (b == null) null
      else if (CurvedGeom.isCurvedSource(b)) curvedEwktK(b, 6, trim = true, 3, old3d = false)
      else GeoCodec.toEwkt(EWKB.read(b))).withName("st_asewkt")
  }

  val asWktPrecision: UserDefinedFunction = {
    GeoKernels.add(K("st_aswkt_precision", 2, Set(0), OString, a => {
      val g = aG(a(0)); val cb = curvedSrc(g)
      if (cb != null) curvedWktK(cb, aI(a(1)), trim = true, 3, old3d = false)
      else GeoCodec.toWkt(g, aI(a(1)))
    }))
    udf((b: Array[Byte], precision: Int) =>
      if (b == null) null
      else if (CurvedGeom.isCurvedSource(b)) curvedWktK(b, precision, trim = true, 3, old3d = false)
      else GeoCodec.toWkt(EWKB.read(b), precision))
      .withName("st_aswkt_precision")
  }

  /** Full to_wkt kwargs (rounding_precision, trim, output_dimension, old_3d),
    * reference `geoexpr.py:349-355`. */
  val asWktFmt: UserDefinedFunction = {
    GeoKernels.add(K("st_aswkt_fmt", 5, Set(0), OString, a => {
      val g = aG(a(0)); val cb = curvedSrc(g)
      if (cb != null) curvedWktK(cb, aI(a(1)), aB(a(2)), aI(a(3)), aB(a(4)))
      else GeoCodec.toWkt(g, aI(a(1)), aB(a(2)), aI(a(3)), aB(a(4)))
    }))
    udf((b: Array[Byte], precision: Int,
        trim: Boolean, outputDimension: Int, old3d: Boolean) =>
      if (b == null) null
      else if (CurvedGeom.isCurvedSource(b))
        curvedWktK(b, precision, trim, outputDimension, old3d)
      else GeoCodec.toWkt(EWKB.read(b), precision, trim, outputDimension, old3d))
      .withName("st_aswkt_fmt")
  }

  val asEwktFmt: UserDefinedFunction = {
    GeoKernels.add(K("st_asewkt_fmt", 5, Set(0), OString, a => {
      val g = aG(a(0)); val cb = curvedSrc(g)
      if (cb != null) curvedEwktK(cb, aI(a(1)), aB(a(2)), aI(a(3)), aB(a(4)))
      else GeoCodec.toEwkt(g, aI(a(1)), aB(a(2)), aI(a(3)), aB(a(4)))
    }))
    udf((b: Array[Byte], precision: Int,
        trim: Boolean, outputDimension: Int, old3d: Boolean) =>
      if (b == null) null
      else if (CurvedGeom.isCurvedSource(b)) curvedEwktK(b, precision, trim, outputDimension, old3d)
      else GeoCodec.toEwkt(EWKB.read(b), precision, trim, outputDimension, old3d))
      .withName("st_asewkt_fmt")
  }

  /** to_geojson(indent): negative = compact (reference None). */
  val asGeoJsonIndent: UserDefinedFunction = udf((b: Array[Byte], indent: Int) =>
    if (b == null) null else GeoJson.write(EWKB.read(b), indent))
    .withName("st_asgeojson_indent")

  GeoKernels.add(K("st_asgeojson_indent", 2, Set(0), OString,
    a => GeoJson.write(aG(a(0)), aI(a(1)))))

  /** EWKB with explicit dims/byte-order/srid flags via JTS WKBWriter. */
  private def asWkbK(g: Geometry, outputDimension: Int, bigEndian: Boolean,
      includeSrid: Boolean): Array[Byte] = {
    val w = new org.locationtech.jts.io.WKBWriter(outputDimension,
      if (bigEndian) org.locationtech.jts.io.ByteOrderValues.BIG_ENDIAN
      else org.locationtech.jts.io.ByteOrderValues.LITTLE_ENDIAN, includeSrid)
    w.write(g)
  }

  private def curvedWkbK(cb: Array[Byte], outputDimension: Int,
      bigEndian: Boolean, includeSrid: Boolean): Array[Byte] = {
    val (srid, g) = CurvedGeom.parse(cb)
    CurvedGeom.write(g, srid, bigEndian, includeSrid,
      forceDims = if (outputDimension >= 4) None else Some(outputDimension))
  }

  val asWkb: UserDefinedFunction = {
    GeoKernels.add(K("st_aswkb", 4, Set(0), GeoKernels.OBinary, a => {
      val g = aG(a(0)); val cb = curvedSrc(g)
      if (cb != null) curvedWkbK(cb, aI(a(1)), aB(a(2)), aB(a(3)))
      else asWkbK(g, aI(a(1)), aB(a(2)), aB(a(3)))
    }))
    udf((b: Array[Byte], outputDimension: Int,
        bigEndian: Boolean, includeSrid: Boolean) =>
      if (b == null) null
      else if (CurvedGeom.isCurvedSource(b))
        curvedWkbK(b, outputDimension, bigEndian, includeSrid)
      else asWkbK(EWKB.read(b), outputDimension, bigEndian, includeSrid))
      .withName("st_aswkb")
  }

  val asGeoJson: UserDefinedFunction = fS1("st_asgeojson")(GeoJson.write)

  // ----------------------------------------------------------- registry

  /** SQL name → UDF, for registration and the API-consistency test. */
  val all: Seq[(String, UserDefinedFunction)] = Seq(
    "st_geomfromtext" -> geomFromWkt,
    "st_geomfromewkt" -> geomFromEwkt,
    "st_geomfromwkb" -> geomFromWkb,
    "st_geomfromgeojson" -> geomFromGeoJson,
    "st_point" -> point,
    "st_pointz" -> pointZ,
    "st_point_from_coords" -> pointFromCoords,
    "st_multipoint" -> multiPoint,
    "st_linestring" -> lineString,
    "st_circularstring" -> circularString,
    "st_linearize" -> linearize,
    "st_multilinestring" -> multiLineString,
    "st_polygon" -> polygon,
    "st_rectangle" -> rectangle,
    "st_geometrytype" -> geometryType,
    "st_dimensions" -> dimensions,
    "st_coordinatedimension" -> coordinateDimension,
    "st_srid" -> srid,
    "st_x" -> x, "st_y" -> y, "st_z" -> z, "st_m" -> m,
    "st_count_coordinates" -> countCoordinates,
    "st_coordinates" -> coordinates,
    "st_coordinates_dim" -> coordinatesDim,
    "st_exterior_ring" -> exteriorRing,
    "st_interior_rings" -> interiorRings,
    "st_count_interior_rings" -> countInteriorRings,
    "st_get_interior_ring" -> getInteriorRing,
    "st_count_geometries" -> countGeometries,
    "st_get_geometry" -> getGeometry,
    "st_count_points" -> countPoints,
    "st_get_point" -> getPoint,
    "st_parts" -> parts,
    "st_precision" -> precision,
    "st_set_precision" -> setPrecision,
    "st_bounds" -> bounds,
    "st_area" -> area,
    "st_length" -> length,
    "st_distance" -> distance,
    "st_hausdorff_distance" -> hausdorffDistance,
    "st_hausdorff_distance_densify" -> hausdorffDistanceDensify,
    "st_frechet_distance" -> frechetDistance,
    "st_frechet_distance_densify" -> frechetDistanceDensify,
    "st_minimum_clearance" -> minimumClearance,
    "st_has_z" -> hasZ,
    "st_has_m" -> hasM,
    "st_has_arc" -> hasArc,
    "st_is_ccw" -> isCcw,
    "st_is_closed" -> isClosed,
    "st_is_empty" -> isEmpty,
    "st_is_ring" -> isRing,
    "st_is_simple" -> isSimple,
    "st_is_valid" -> isValid,
    "st_is_valid_reason" -> isValidReason,
    "st_intersects" -> intersects,
    "st_crosses" -> crosses,
    "st_contains" -> contains,
    "st_contains_properly" -> containsProperly,
    "st_covered_by" -> coveredBy,
    "st_covers" -> covers,
    "st_disjoint" -> disjoint,
    "st_overlaps" -> overlaps,
    "st_touches" -> touches,
    "st_within" -> within,
    "st_equals" -> equalsTopo,
    "st_equals_identical" -> equalsIdentical,
    "st_equals_exact" -> equalsExact,
    "st_dwithin" -> dwithin,
    "st_relate" -> relate,
    "st_relate_pattern" -> relatePattern,
    "st_intersects_xy" -> intersectsXY,
    "st_contains_xy" -> containsXY,
    "st_union" -> union,
    "st_union_prec" -> unionPrec,
    "st_intersection" -> intersection,
    "st_intersection_prec" -> intersectionPrec,
    "st_difference" -> difference,
    "st_difference_prec" -> differencePrec,
    "st_symmetric_difference" -> symmetricDifference,
    "st_symmetric_difference_prec" -> symmetricDifferencePrec,
    "st_unary_union" -> unaryUnion,
    "st_disjoint_subset_union" -> disjointSubsetUnion,
    "st_coverage_union" -> coverageUnion,
    "st_boundary" -> boundary,
    "st_buffer" -> buffer,
    "st_offset_curve" -> offsetCurve,
    "st_centroid" -> centroid,
    "st_center" -> center,
    "st_clip_by_rect" -> clipByRect,
    "st_convex_hull" -> convexHull,
    "st_concave_hull" -> concaveHull,
    "st_segmentize" -> segmentize,
    "st_envelope" -> envelope,
    "st_extract_unique_points" -> extractUniquePoints,
    "st_build_area" -> buildArea,
    "st_make_valid" -> makeValid,
    "st_normalize" -> normalize,
    "st_node" -> node,
    "st_point_on_surface" -> pointOnSurface,
    "st_remove_repeated_points" -> removeRepeatedPoints,
    "st_reverse" -> reverse,
    "st_simplify" -> simplify,
    "st_force_2d" -> force2d,
    "st_force_3d" -> force3d,
    "st_flip_coordinates" -> flipCoordinates,
    "st_minimum_rotated_rectangle" -> minimumRotatedRectangle,
    "st_snap" -> snap,
    "st_shortest_line" -> shortestLine,
    "st_shared_paths" -> sharedPaths,
    "st_cast" -> castTo,
    "st_multi" -> multi,
    "st_affine_transform" -> affineTransform,
    "st_translate" -> translate,
    "st_rotate" -> rotate,
    "st_scale" -> scale,
    "st_skew" -> skew,
    "st_skew3" -> skew3,
    "st_interpolate" -> interpolate,
    "st_project" -> project,
    "st_line_merge" -> lineMerge,
    "st_set_srid" -> setSrid,
    "st_to_srid" -> toSrid,
    "st_get_crs_authority" -> crsAuthority,
    "st_get_crs_from_code" -> crsFromCode,
    "st_aswkt" -> asWkt,
    "st_aswkt_precision" -> asWktPrecision,
    "st_aswkt_fmt" -> asWktFmt,
    "st_asewkt_fmt" -> asEwktFmt,
    "st_asgeojson_indent" -> asGeoJsonIndent,
    "st_asewkt" -> asEwkt,
    "st_aswkb" -> asWkb,
    "st_asgeojson" -> asGeoJson)
}
