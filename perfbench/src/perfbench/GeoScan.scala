package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, Envelope, Geometry, GeometryFactory}

import graft.functions._
import graft.io.GeoIO
import graft.serde.EWKB

/** geo_scan: single-op projections (native tier), chained programs (fused
  * tier), predicates, reprojection, curved measure, one bbox-window read and
  * a 1024-group union over a seeded GeoParquet lattice. No join, store or
  * eager driver action runs, so this is the control for join and store
  * changes. */
object GeoScan extends Workload {
  val name = "geo_scan"
  val nominalCycleS = 2.0
  val warmupCycles = 4
  val GX = 128
  val GY = 128
  val N: Int = GX * GY
  val Cell = 16.0
  val Groups = 1024
  val Files = 8
  val SampleRows = 16
  /** JTS recomputation on the driver: same library, so per-row values
    * agree up to summation order. */
  val JtsTol = 1e-9
  /** Web-mercator closed form vs the program's projection code. */
  val CrsTol = 1e-8

  /** Row i of the lattice: rect (x, y, w, h) inside cell `id`, a probe
    * point (px, py) that may fall inside or outside it, a lon/lat point. */
  final class Lattice(val id: Array[Long], val x: Array[Double], val y: Array[Double],
      val w: Array[Double], val h: Array[Double], val px: Array[Double],
      val py: Array[Double], val lon: Array[Double], val lat: Array[Double]) {
    val rowOf: Map[Long, Int] = id.zipWithIndex.toMap
  }

  def generate(seed: Long): Lattice = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 11)
    val perm = Gen.permutation(N, r)
    def u(lo: Double, hi: Double) = lo + (hi - lo) * r.nextDouble()
    val a = Array.fill(9)(new Array[Double](N))
    val ids = new Array[Long](N)
    for (i <- 0 until N) {
      val c = perm(i)
      ids(i) = c
      val x = (c % GX) * Cell + u(0.5, 3.0)
      val y = (c / GX) * Cell + u(0.5, 3.0)
      val w = u(2.0, 9.0)
      val h = u(2.0, 9.0)
      a(0)(i) = x; a(1)(i) = y; a(2)(i) = w; a(3)(i) = h
      a(4)(i) = x + w * u(-0.3, 1.3)
      a(5)(i) = y + h * u(-0.3, 1.3)
      a(6)(i) = -179.0 + 358.0 * x / (GX * Cell)
      a(7)(i) = -80.0 + 160.0 * y / (GY * Cell)
    }
    new Lattice(ids, a(0), a(1), a(2), a(3), a(4), a(5), a(6), a(7))
  }

  private var lat: Lattice = _
  /** Per-row expected outputs of each projection call, by call name. */
  private var oracle: Map[String, Array[Array[Double]]] = Map.empty
  private var groupArea: Array[Double] = _

  private def fixture(ctx: Ctx) = ctx.path("scan_lattice")

  // program inputs: columns of the fixture
  private def x = col("x")
  private def y = col("y")
  private def w = col("w")
  private def h = col("h")
  private def rect = st_rectangle(x, y, x + w, y + h)
  /** shift of the predicate's translated copy: 0.5w, 0.9w (overlapping)
    * or 1.3w (disjoint), by id */
  private def dxCol = w * (lit(0.5) + (col("id") % 3).cast("double") * 0.4)
  private def dxOf(id: Long, w: Double) = w * (0.5 + (id % 3) * 0.4)

  /** The projection calls: name → output columns (as doubles). */
  private val projections: Seq[(String, Seq[Column])] = Seq(
    "scan_native" -> Seq(st_area(col("geometry")), st_length(col("geometry")),
      st_x(st_centroid(col("geometry")))),
    "scan_fused" -> Seq(
      st_area(st_intersection(rect, st_translate(rect, w / 2, lit(0.0)))),
      st_area(st_buffer(rect, lit(0.5)))),
    "scan_pred" -> Seq(
      st_intersects(col("geometry"), st_translate(col("geometry"), dxCol, lit(0.0))),
      st_contains(col("geometry"), st_point(col("px"), col("py"))),
      st_dwithin(col("geometry"), st_point(col("px"), col("py")), lit(1.0))),
    "scan_crs" -> {
      val m = st_to_srid(st_set_srid(st_point(col("lon"), col("lat")), lit(4326)), lit(3857))
      Seq(st_x(m), st_y(m))
    },
    "scan_curved" -> Seq(st_length(st_circularstring(array(
      array(x, y), array(x + w, y + w), array(x + w + w, y))))))

  private def tolOf(call: String) = if (call == "scan_crs") CrsTol else JtsTol

  override def prepareOracle(ctx: Ctx): Unit = {
    lat = generate(ctx.seed)
    val gf = new GeometryFactory()
    def box(x: Double, y: Double, w: Double, h: Double): Geometry =
      gf.toGeometry(new Envelope(x, x + w, y, y + h))
    val out = Map(
      "scan_native" -> Array.fill(3)(new Array[Double](N)),
      "scan_fused" -> Array.fill(2)(new Array[Double](N)),
      "scan_pred" -> Array.fill(3)(new Array[Double](N)),
      "scan_crs" -> Array.fill(2)(new Array[Double](N)),
      "scan_curved" -> Array.fill(1)(new Array[Double](N)))
    groupArea = new Array[Double](Groups)
    val R = 6378137.0
    for (i <- 0 until N) {
      val (xi, yi, wi, hi) = (lat.x(i), lat.y(i), lat.w(i), lat.h(i))
      val g = box(xi, yi, wi, hi)
      val p = gf.createPoint(new Coordinate(lat.px(i), lat.py(i)))
      val nat = out("scan_native")
      nat(0)(i) = g.getArea; nat(1)(i) = g.getLength; nat(2)(i) = g.getCentroid.getX
      val fu = out("scan_fused")
      fu(0)(i) = g.intersection(box(xi + wi / 2, yi, wi, hi)).getArea
      fu(1)(i) = g.buffer(0.5).getArea
      val pr = out("scan_pred")
      def b(v: Boolean) = if (v) 1.0 else 0.0
      pr(0)(i) = b(g.intersects(box(xi + dxOf(lat.id(i), wi), yi, wi, hi)))
      pr(1)(i) = b(g.contains(p))
      pr(2)(i) = b(g.isWithinDistance(p, 1.0))
      val cr = out("scan_crs")
      cr(0)(i) = R * math.toRadians(lat.lon(i))
      cr(1)(i) = R * math.log(math.tan(math.Pi / 4 + math.toRadians(lat.lat(i)) / 2))
      // the arc through (x,y), (x+w,y+w), (x+2w,y) is a half circle of radius w
      out("scan_curved")(0)(i) = math.Pi * wi
      groupArea((lat.id(i) % Groups).toInt) += g.getArea
    }
    oracle = out
  }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val rows = (0 until N).map(i => (lat.id(i), lat.x(i), lat.y(i), lat.w(i), lat.h(i),
      lat.px(i), lat.py(i), lat.lon(i), lat.lat(i)))
    val df = rows.toDF("id", "x", "y", "w", "h", "px", "py", "lon", "lat")
      .withColumn("geometry", rect)
      .repartitionByRange(Files, col("x"))
    GeoIO.writeGeoParquet(df, fixture(ctx))
  }

  def teardown(ctx: Ctx): Unit = Stats.deleteRecursively(new java.io.File(fixture(ctx)))

  private def read(ctx: Ctx): DataFrame = GeoIO.readGeoParquet(ctx.spark, fixture(ctx))

  def cycle(ctx: Ctx, i: Int): Unit = {
    val r = new SplittableRandom(ctx.seed * 31 + i + 1000)
    for ((callName, outs) <- projections) {
      val sample = Array.fill(SampleRows)(lat.id(r.nextInt(N)))
      ctx.call(callName, "scan", N)(read(ctx)) { df =>
        val os = outs.zipWithIndex.map { case (c, k) => c.cast("double").as(s"o$k") }
        val proj = df.select(col("id") +: os: _*)
        val oc = os.indices.map(k => col(s"o$k"))
        val sampled = collect_list(when(col("id").isin(sample.toIndexedSeq: _*),
          struct(col("id") +: oc: _*)))
        val aggs = count(lit(1)) +: oc.map(sum(_)) :+ sampled
        ctx.outRows(N)
        ctx.collect(proj.agg(aggs.head, aggs.tail: _*))(0)
      } { row =>
        val want = oracle(callName)
        val tol = tolOf(callName)
        Check(row.getLong(0) == N, s"$callName: ${row.getLong(0)} rows, want $N")
        for (k <- want.indices)
          Check.near(s"$callName sum o$k", row.getDouble(1 + k), want(k).sum, tol)
        val got = row.getSeq[Row](1 + want.length)
        Check(got.map(_.getLong(0)).toSet == sample.toSet,
          s"$callName: sampled ids ${got.map(_.getLong(0)).sorted} missing")
        for (s <- got; k <- want.indices)
          Check.near(s"$callName id ${s.getLong(0)} o$k", s.getDouble(1 + k),
            want(k)(lat.rowOf(s.getLong(0))), tol)
      }
    }
    windowRead(ctx, r)
    unionAgg(ctx)
  }

  /** Bbox-window read: a plain parquet scan filtered by st_intersects
    * against a literal window, which BboxFilterRule turns into a pushed
    * bbox-column filter. */
  private def windowRead(ctx: Ctx, r: SplittableRandom): Unit = {
    val ext = (GX * Cell, GY * Cell)
    val (ww, wh) = (ext._1 / 16, ext._2 / 2)
    val wx = r.nextDouble() * (ext._1 - ww)
    val wy = r.nextDouble() * (ext._2 - wh)
    val win = new GeometryFactory().toGeometry(new Envelope(wx, wx + ww, wy, wy + wh))
    val want = (0 until N).filter { i =>
      lat.x(i) <= wx + ww && lat.x(i) + lat.w(i) >= wx &&
      lat.y(i) <= wy + wh && lat.y(i) + lat.h(i) >= wy
    }.map(lat.id)
    ctx.call("scan_window", "scan", N)(ctx.spark.read.parquet(fixture(ctx))
      .filter(st_intersects(col("geometry"), lit(EWKB.write(win))))) { df =>
      val row = ctx.collect(df.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(id))"), lit(0L))))(0)
      ctx.outRows(row.getLong(0))
      row
    } { row =>
      Check(row.getLong(0) == want.length,
        s"scan_window: ${row.getLong(0)} rows, want ${want.length}")
      val h = want.foldLeft(0L)(_ ^ Stats.idHash(_))
      Check(row.getLong(1) == h, "scan_window: id set differs")
    }
  }

  private def unionAgg(ctx: Ctx): Unit =
    ctx.call("union_agg", "union_agg", N)(read(ctx)
      .groupBy((col("id") % Groups).as("grp"))
      .agg(st_area(st_union_all(col("geometry"))).as("area"))) { df =>
      val rows = ctx.collect(df)
      ctx.outRows(rows.length)
      rows
    } { rows =>
      Check(rows.length == Groups, s"union_agg: ${rows.length} groups, want $Groups")
      for (row <- rows)
        Check.near(s"union_agg group ${row.getLong(0)}", row.getDouble(1),
          groupArea(row.getLong(0).toInt), JtsTol)
    }

  override def layerMetrics(ctx: Ctx): Map[String, Double] =
    Probes.functions(ctx.spark, ctx.seed)

  def geometrySample(ctx: Ctx): Array[Array[Byte]] =
    ctx.spark.read.parquet(fixture(ctx)).select("geometry").limit(2048).collect()
      .map(_.getAs[Array[Byte]](0))
}
