package graft.join

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.locationtech.jts.geom.{Envelope, Geometry}

import graft.serde.EWKB

/** Coarse dense-grid summary of a build frame, the distance-bound oracle
  * behind [[SpatialJoin.sjoinNearestUnbounded]] — an unbounded
  * distributed nearest join has no partition-local search bound, so the
  * tier first derives a PER-PROBE bound that provably contains the k
  * nearest build rows, then runs the existing bounded cell machinery
  * with that bound riding each probe.
  *
  * Two driver-resident summed-area tables over an `nx × ny` grid
  * (≤ `grid`² cells, square cells, covering the build side's bounding
  * box plus one cell of headroom per side — the [[CellSummary.Frame]]):
  *
  *  - '''anchors''': each build row counted ONCE, at the cell of a point
  *    ON the geometry (its first vertex). Block sums are therefore exact
  *    DISTINCT-row lower bounds: if a block holds ≥ k anchors, k distinct
  *    build geometries each have a point inside it, so the k-th nearest
  *    distance from any probe is at most the max box-to-box distance to
  *    the block. Envelope-based counting would break this twice — a row
  *    spanning m cells would count m times (inflating the distinct
  *    count), and an envelope corner need not lie on the geometry (a
  *    diagonal line's bounding-box corner can be half a diagonal away),
  *    voiding the distance guarantee.
  *  - '''coverage''': per cell, how many build ENVELOPES intersect it —
  *    accumulated as a 2-D difference array (O(1) per row, no per-cell
  *    explosion for continent-sized geometries), prefix-summed on the
  *    driver. A probe's padded cell emission is filtered to covered
  *    regions: the ownership corner of any in-range pair lies in the
  *    build envelope, so its cell is always covered — filtering empty
  *    regions is loss-free and keeps a desert probe from exploding into
  *    millions of empty cells.
  *
  * 100 TB posture: both passes are `treeAggregate`s of fixed-size arrays
  * (≤ ~4 MB each at the default 512 grid — per-task cost is O(rows) with
  * O(grid²) merge payloads, depth-2 tree keeps the driver off the hot
  * path), the summary broadcasts once, and every per-probe bound query
  * is O(log grid) summed-area lookups. Both tables are sums over rows on
  * a fixed grid, so rows added inside the frame merge in O(rows +
  * grid²) on the driver ([[plus]]) and equal a pass over all rows.
  */
final case class CellSummary(
    x0: Double, y0: Double, h: Double, nx: Int, ny: Int,
    x1: Double, y1: Double,
    anchorSat: Array[Long], coverSat: Array[Long],
    totalAnchors: Long, occupied: Array[Long]) extends Serializable {

  // Exact grid edges: `x0 + nx*h` can land ULPS SHORT of the frame's
  // max (h = ext/grid rounds), leaving an ulp-wide strip of real build
  // data outside the nominal cell rects — the same bug class the
  // ownsCorner fix targets. Assignment CLAMPS into the edge cells, so
  // the edge cells semantically extend to the frame max: every
  // world-rect consumer (cellRect, boundFor's block, the early-exit)
  // uses these.
  @inline private def xEdge: Double = math.max(x0 + nx * h, x1)
  @inline private def yEdge: Double = math.max(y0 + ny * h, y1)

  /** The grid this summary was accumulated on. */
  private[graft] def frame: CellSummary.Frame =
    CellSummary.Frame(x0, y0, h, nx, ny, x1, y1)

  /** This summary with `rows` added — array-equal to
    * [[CellSummary.computeOn]] over the old rows and `rows` on this
    * frame. Every row's envelope must lie inside the frame
    * ([[CellSummary.Frame.holds]]). */
  private[graft] def plus(rows: Iterator[Geometry]): CellSummary = {
    val f = frame
    val acc = f.accumulator()
    rows.foreach(acc.add)
    val anchors = acc.anchors
    val cover = f.coverOf(acc.coverDiff)
    var gy = 0
    while (gy < ny) {
      var gx = 0
      while (gx < nx) {
        anchors(gy * nx + gx) += blockSum(anchorSat, gx, gy, gx, gy)
        cover(gy * nx + gx) += blockSum(coverSat, gx, gy, gx, gy)
        gx += 1
      }
      gy += 1
    }
    f.summaryOf(anchors, cover)
  }

  @inline private def clampX(x: Double): Int =
    math.min(nx - 1, math.max(0, math.floor((x - x0) / h).toInt))
  @inline private def clampY(y: Double): Int =
    math.min(ny - 1, math.max(0, math.floor((y - y0) / h).toInt))

  /** Inclusive-cell-coordinate block sum over a summed-area table laid
    * out `(ny+1) rows × (nx+1) cols`. */
  @inline private def blockSum(sat: Array[Long],
      bx0: Int, by0: Int, bx1: Int, by1: Int): Long = {
    val w = nx + 1
    sat((by1 + 1) * w + (bx1 + 1)) - sat(by0 * w + (bx1 + 1)) -
      sat((by1 + 1) * w + bx0) + sat(by0 * w + bx0)
  }

  /** Distinct build rows anchored within Chebyshev ring `r` of the
    * clamped cell rectangle of `env`. */
  private def anchorsAround(cx0: Int, cy0: Int, cx1: Int, cy1: Int,
      r: Int): Long =
    blockSum(anchorSat, math.max(cx0 - r, 0), math.max(cy0 - r, 0),
      math.min(cx1 + r, nx - 1), math.min(cy1 + r, ny - 1))

  /** A distance from `env` provably ≥ the `kTarget`-th nearest build-row
    * distance from ANY geometry inside `env` (or, when fewer than
    * `kTarget` rows exist, ≥ every build-row distance): binary-search
    * the smallest ring whose block holds ≥ min(kTarget, totalAnchors)
    * anchors, then take the max box-to-box distance to the block. The
    * few-ulp inflation guards the cross-code-path rounding between this
    * corner arithmetic and the join's JTS distances. */
  def boundFor(env: Envelope, kTarget: Long): Double = {
    val cx0 = clampX(env.getMinX); val cx1 = clampX(env.getMaxX)
    val cy0 = clampY(env.getMinY); val cy1 = clampY(env.getMaxY)
    val target = math.max(1L, math.min(kTarget, totalAnchors))
    var lo = 0
    var hi = math.max(nx, ny)
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (anchorsAround(cx0, cy0, cx1, cy1, mid) >= target) hi = mid
      else lo = mid + 1
    }
    val bx0 = math.max(cx0 - lo, 0); val bx1 = math.min(cx1 + lo, nx - 1)
    val by0 = math.max(cy0 - lo, 0); val by1 = math.min(cy1 + lo, ny - 1)
    val rx0 = x0 + bx0 * h
    val rx1 = if (bx1 == nx - 1) xEdge else x0 + (bx1 + 1) * h
    val ry0 = y0 + by0 * h
    val ry1 = if (by1 == ny - 1) yEdge else y0 + (by1 + 1) * h
    val dx = math.max(env.getMaxX - rx0, rx1 - env.getMinX)
    val dy = math.max(env.getMaxY - ry0, ry1 - env.getMinY)
    val raw = math.sqrt(dx * dx + dy * dy)
    raw + 4 * math.ulp(raw)
  }

  /** Covered coarse cells intersecting the world rectangle, as packed
    * `(gx << 32 | gy)` — iterates whichever is smaller, the rectangle's
    * coarse cells or the global occupied list, so a whole-extent desert
    * bound costs O(occupied) instead of O(grid²). */
  def coveredCellsIn(wx0: Double, wy0: Double, wx1: Double, wy1: Double)
      : Iterator[(Int, Int)] = {
    if (wx1 < x0 || wy1 < y0 || wx0 > xEdge || wy0 > yEdge)
      return Iterator.empty
    val gx0 = clampX(wx0); val gx1 = clampX(wx1)
    val gy0 = clampY(wy0); val gy1 = clampY(wy1)
    val rectCells = (gx1 - gx0 + 1).toLong * (gy1 - gy0 + 1)
    if (rectCells <= occupied.length)
      (for (gy <- gy0 to gy1; gx <- gx0 to gx1
            if blockSum(coverSat, gx, gy, gx, gy) > 0)
        yield (gx, gy)).iterator
    else
      occupied.iterator.map(p => ((p >> 32).toInt, p.toInt))
        .filter { case (gx, gy) =>
          gx >= gx0 && gx <= gx1 && gy >= gy0 && gy <= gy1 }
  }

  /** World rectangle of coarse cell (gx, gy); edge cells extend to the
    * frame max (see the xEdge note — assignment clamps into them). */
  def cellRect(gx: Int, gy: Int): (Double, Double, Double, Double) =
    (x0 + gx * h, y0 + gy * h,
      if (gx == nx - 1) xEdge else x0 + (gx + 1) * h,
      if (gy == ny - 1) yEdge else y0 + (gy + 1) * h)

  /** Packed join cells (`jx << 32 | jy`, the [[SpatialJoin.gridCellsOf]]
    * scheme at cell edge `cs`) of `env` padded by its per-probe bound
    * `dp`, RESTRICTED to coverage-occupied coarse regions and deduped —
    * a join cell reachable through two coarse cells must emit once or
    * the pair would double downstream. Loss-free: the ownership corner
    * of any in-range pair lies in the build envelope, whose coarse
    * cells are always covered, so filtering empty regions drops no
    * pair while keeping a desert probe from exploding into millions of
    * empty cells. The ONE enumeration both unbounded nearest tiers
    * ride (cogroup pass and bucketed-store door). */
  def joinCellsOf(env: Envelope, dp: Double, cs: Double): Array[Long] = {
    val px0 = env.getMinX - dp; val px1 = env.getMaxX + dp
    val py0 = env.getMinY - dp; val py1 = env.getMaxY + dp
    val cells = new java.util.HashSet[java.lang.Long]()
    coveredCellsIn(px0, py0, px1, py1).foreach { case (gx, gy) =>
      val (rx0, ry0, rx1, ry1) = cellRect(gx, gy)
      val ix0 = math.max(px0, rx0); val ix1 = math.min(px1, rx1)
      val iy0 = math.max(py0, ry0); val iy1 = math.min(py1, ry1)
      val jx1 = math.floor(ix1 / cs).toLong
      val jy1 = math.floor(iy1 / cs).toLong
      var jx = math.floor(ix0 / cs).toLong
      while (jx <= jx1) {
        var jy = math.floor(iy0 / cs).toLong
        while (jy <= jy1) {
          cells.add((jx << 32) | (jy & 0xffffffffL))
          jy += 1
        }
        jx += 1
      }
    }
    val out = new Array[Long](cells.size())
    val it = cells.iterator(); var i = 0
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    out
  }
}

object CellSummary {

  /** Cells per axis of the default summary grid: 512² cells keeps both
    * tables ≈ 2 MB each (broadcast + per-task merge payload) while a
    * bound is never looser than ~1/512 of the build extent. */
  val DefaultGrid: Int = 512

  private val Magic = 0x4753554d // "GSUM"
  private val Version = 1

  /** Sidecar binary format, version 1: magic + version, then the
    * constructor fields in declaration order with length-prefixed
    * arrays. Plain DataOutput primitives — NOT Java serialization, so
    * the on-disk format survives Scala/library upgrades and a
    * truncated or foreign file fails the magic/length reads loudly
    * instead of deserializing garbage. */
  def writeTo(s: CellSummary, out: java.io.DataOutputStream): Unit = {
    out.writeInt(Magic); out.writeInt(Version)
    out.writeDouble(s.x0); out.writeDouble(s.y0); out.writeDouble(s.h)
    out.writeInt(s.nx); out.writeInt(s.ny)
    out.writeDouble(s.x1); out.writeDouble(s.y1)
    out.writeLong(s.totalAnchors)
    def arr(a: Array[Long]): Unit = {
      out.writeInt(a.length)
      var i = 0
      while (i < a.length) { out.writeLong(a(i)); i += 1 }
    }
    arr(s.anchorSat); arr(s.coverSat); arr(s.occupied)
  }

  /** Inverse of [[writeTo]]; throws on any format mismatch (the caller
    * treats a throw as "no usable stamp" and recomputes). */
  def readFrom(in: java.io.DataInputStream): CellSummary = {
    require(in.readInt() == Magic, "cell summary sidecar: bad magic")
    val v = in.readInt()
    require(v == Version, s"cell summary sidecar: unknown version $v")
    val x0 = in.readDouble(); val y0 = in.readDouble(); val h = in.readDouble()
    val nx = in.readInt(); val ny = in.readInt()
    require(nx >= 1 && nx <= 4096 && ny >= 1 && ny <= 4096,
      s"cell summary sidecar: grid out of range (${nx}x$ny)")
    val x1 = in.readDouble(); val y1 = in.readDouble()
    val tot = in.readLong()
    // the doubles gate correctness too: a bit-flipped h/bbox would pass
    // the magic/length checks yet make every bound wrong — reject, the
    // caller recomputes (this is the "fails loudly" promise)
    require(java.lang.Double.isFinite(h) && h > 0,
      s"cell summary sidecar: bad cell size $h")
    require(java.lang.Double.isFinite(x0) && java.lang.Double.isFinite(y0) &&
      java.lang.Double.isFinite(x1) && java.lang.Double.isFinite(y1) &&
      x1 >= x0 && y1 >= y0,
      s"cell summary sidecar: bad bbox ($x0,$y0,$x1,$y1)")
    require(tot >= 0, s"cell summary sidecar: bad anchor total $tot")
    def arr(maxLen: Int): Array[Long] = {
      val n = in.readInt()
      require(n >= 0 && n <= maxLen, s"cell summary sidecar: bad array length $n")
      val a = new Array[Long](n)
      var i = 0
      while (i < n) { a(i) = in.readLong(); i += 1 }
      a
    }
    val satLen = (nx + 1) * (ny + 1)
    CellSummary(x0, y0, h, nx, ny, x1, y1,
      arr(satLen), arr(satLen), tot, arr(nx * ny))
  }

  /** Two passes over the build side's geometry column: the bbox, which
    * sizes the [[Frame]], then [[computeOn]] that frame. Returns None when
    * no row has a usable geometry (the join then has no matches by
    * definition). */
  def compute(build: DataFrame, geom: String,
      grid: Int = DefaultGrid): Option[CellSummary] = {
    require(grid >= 1 && grid <= 4096, s"summary grid out of range: $grid")
    val bboxZero = (Double.MaxValue, Double.MaxValue,
      Double.MinValue, Double.MinValue, 0L)
    val (mnx, mny, mxx, mxy, cnt) = geomBytes(build, geom).treeAggregate(bboxZero)(
      seqOp = { case (acc, b) =>
        val e = EWKB.read(b).getEnvelopeInternal
        if (e.isNull) acc
        else (math.min(acc._1, e.getMinX), math.min(acc._2, e.getMinY),
          math.max(acc._3, e.getMaxX), math.max(acc._4, e.getMaxY),
          acc._5 + 1)
      },
      combOp = { case (a, b) =>
        (math.min(a._1, b._1), math.min(a._2, b._2),
          math.max(a._3, b._3), math.max(a._4, b._4), a._5 + b._5)
      }, depth = 2)
    if (cnt == 0L) None
    else Some(computeOn(build, geom, Frame.around(mnx, mny, mxx, mxy, grid)))
  }

  /** The anchor + coverage pass over a fixed frame: one O(rows) pass per
    * task into fixed-size arrays, merged by a depth-2 tree. Every
    * envelope must lie inside the frame (assignment clamps into the edge
    * cells, so a row outside would count at the wrong cell). */
  private[graft] def computeOn(build: DataFrame, geom: String,
      frame: Frame): CellSummary = {
    // arrays allocate INSIDE each task (a treeAggregate zero value would
    // ship the multi-MB arrays in every task binary); every partition
    // emits one pair, so treeReduce always has an element
    val (anchors, coverDiff) = geomBytes(build, geom).mapPartitions { it =>
      val acc = frame.accumulator()
      it.foreach(b => acc.add(EWKB.read(b)))
      Iterator.single((acc.anchors, acc.coverDiff))
    }.treeReduce({ case (a, b) =>
      var i = 0
      while (i < a._1.length) { a._1(i) += b._1(i); i += 1 }
      i = 0
      while (i < a._2.length) { a._2(i) += b._2(i); i += 1 }
      a
    }, depth = 2)
    frame.summaryOf(anchors, frame.coverOf(coverDiff))
  }

  private def geomBytes(build: DataFrame, geom: String) =
    build.select(col(geom)).na.drop().rdd.map(_.getAs[Array[Byte]](0))

  /** The summary grid: origin, square cell edge `h`, cells per axis, and
    * the world rectangle's max corner. [[around]] sizes it over a data
    * bbox with one cell of headroom per side, so rows appended later
    * from the same region still land inside it and merge through
    * [[CellSummary.plus]]. */
  private[graft] final case class Frame(x0: Double, y0: Double, h: Double,
      nx: Int, ny: Int, x1: Double, y1: Double) {

    @inline def cX(x: Double): Int =
      math.min(nx - 1, math.max(0, math.floor((x - x0) / h).toInt))
    @inline def cY(y: Double): Int =
      math.min(ny - 1, math.max(0, math.floor((y - y0) / h).toInt))

    /** Whether `e` lies inside the world rectangle, so its rows
      * accumulate exactly as a pass over the whole frame would. */
    def holds(e: Envelope): Boolean = !e.isNull &&
      e.getMinX >= x0 && e.getMaxX <= x1 && e.getMinY >= y0 && e.getMaxY <= y1

    def accumulator(): Accumulator = new Accumulator(this)

    /** Per-cell coverage: the 2-D prefix sum of a difference array. */
    def coverOf(coverDiff: Array[Long]): Array[Long] = {
      val w = nx + 1
      val cover = new Array[Long](nx * ny)
      var y = 0
      while (y < ny) {
        var x = 0
        while (x < nx) {
          var v = coverDiff(y * w + x)
          if (x > 0) v += cover(y * nx + x - 1)
          if (y > 0) v += cover((y - 1) * nx + x)
          if (x > 0 && y > 0) v -= cover((y - 1) * nx + x - 1)
          cover(y * nx + x) = v
          x += 1
        }
        y += 1
      }
      cover
    }

    /** The summary of per-cell anchor and coverage counts: both
      * summed-area tables and the occupied-cell list. */
    def summaryOf(anchors: Array[Long], cover: Array[Long]): CellSummary = {
      val w = nx + 1
      def satOf(a: Array[Long]): Array[Long] = {
        val s = new Array[Long](w * (ny + 1))
        var yy = 0
        while (yy < ny) {
          var xx = 0
          while (xx < nx) {
            s((yy + 1) * w + xx + 1) = a(yy * nx + xx) +
              s(yy * w + xx + 1) + s((yy + 1) * w + xx) - s(yy * w + xx)
            xx += 1
          }
          yy += 1
        }
        s
      }
      val occ = (for (yy <- 0 until ny; xx <- 0 until nx
                      if cover(yy * nx + xx) > 0)
        yield (xx.toLong << 32) | (yy.toLong & 0xffffffffL)).toArray
      CellSummary(x0, y0, h, nx, ny, x1, y1,
        satOf(anchors), satOf(cover), anchors.sum, occ)
    }
  }

  private[graft] object Frame {
    /** The frame over data bbox (mnx, mny)–(mxx, mxy): padded by one
      * summary cell (extent/grid) on each side, then cut into square
      * cells, at most `grid` per axis. Without the headroom an append
      * drawn from the same region sets a new extreme by a hair and
      * escapes the frame. A single-point bbox gets a unit cell. */
    def around(mnx: Double, mny: Double, mxx: Double, mxy: Double,
        grid: Int): Frame = {
      val ext0 = math.max(mxx - mnx, mxy - mny)
      val pad = if (ext0 > 0) ext0 / grid else 0.5
      val (x0, y0, x1, y1) = (mnx - pad, mny - pad, mxx + pad, mxy + pad)
      val ext = math.max(x1 - x0, y1 - y0)
      val h = if (ext0 > 0) ext / grid else ext
      Frame(x0, y0, h,
        math.max(1, math.min(grid, math.ceil((x1 - x0) / h).toInt)),
        math.max(1, math.min(grid, math.ceil((y1 - y0) / h).toInt)), x1, y1)
    }
  }

  /** Per-row accumulation on a [[Frame]]: each non-empty row adds one
    * anchor at the cell of its first vertex and its envelope's corners
    * to the coverage difference array. The one copy both the store-wide
    * pass and the append merge run. */
  private[graft] final class Accumulator(f: Frame) {
    val anchors = new Array[Long](f.nx * f.ny)
    val coverDiff = new Array[Long]((f.nx + 1) * (f.ny + 1))

    def add(g: Geometry): Unit =
      if (!g.isEmpty) {
        val w = f.nx + 1
        val e = g.getEnvelopeInternal
        val cx0 = f.cX(e.getMinX); val cx1 = f.cX(e.getMaxX)
        val cy0 = f.cY(e.getMinY); val cy1 = f.cY(e.getMaxY)
        coverDiff(cy0 * w + cx0) += 1
        coverDiff(cy0 * w + cx1 + 1) -= 1
        coverDiff((cy1 + 1) * w + cx0) -= 1
        coverDiff((cy1 + 1) * w + cx1 + 1) += 1
        val a = g.getCoordinate // a vertex ON the geometry
        anchors(f.cY(a.y) * f.nx + f.cX(a.x)) += 1
      }
  }
}
