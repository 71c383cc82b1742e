package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions._
import graft.join.SpatialJoin

class QuadTreeSpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.locationtech.jts.geom.Envelope

  test("leaves partition the extent; skew subdivides the hot spot") {
    // 900 samples clustered at (0..1)², 100 spread to (0..100)²
    val hot = for (i <- 0 until 900) yield (i % 30 / 30.0, i / 30 / 30.0)
    val cold = for (i <- 0 until 100) yield (i % 10 * 10.0, i / 10 * 10.0)
    val qt = graft.join.QuadTree.build(hot ++ cold, capacity = 64, maxDepth = 10)
    // every probe point maps to exactly one leaf, and envelope queries
    // always include that leaf
    val probes = Seq((0.5, 0.5), (50.0, 50.0), (-5.0, -5.0), (1000.0, 1000.0), (0.0, 99.0))
    probes.foreach { case (x, y) =>
      val leaf = qt.leafOf(x, y)
      val viaEnv = qt.leavesFor(new Envelope(x, x, y, y))
      assert(viaEnv.contains(leaf), s"($x,$y): leaf $leaf not in $viaEnv")
    }
    // the hot cluster region intersects more leaves than an equal-size
    // region in the sparse area (adaptivity)
    val hotLeaves = qt.leavesFor(new Envelope(0, 1, 0, 1)).size
    val coldLeaves = qt.leavesFor(new Envelope(80, 81, 80, 81)).size
    assert(hotLeaves > coldLeaves, s"hot=$hotLeaves cold=$coldLeaves")
  }
}

class SpatialJoinSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  // boxes on a coarse grid and points scattered over it
  def boxes = spark.range(200).select(
    $"id".as("box_id"),
    st_rectangle(($"id" % 20).cast("double") * 4.0, ($"id" % 10).cast("double") * 4.0,
      ($"id" % 20).cast("double") * 4.0 + lit(3.0), ($"id" % 10).cast("double") * 4.0 + lit(3.0))
      .as("geometry"))

  def points = spark.range(500).select(
    $"id".as("pt_id"),
    st_point(($"id" % 83).cast("double"), ($"id" % 41).cast("double")).as("geometry"))

  def bruteForce(predicate: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
      org.apache.spark.sql.Column): Set[(Long, Long)] =
    boxes.crossJoin(points.withColumnRenamed("geometry", "g2"))
      .filter(predicate($"geometry", $"g2"))
      .select($"box_id", $"pt_id").as[(Long, Long)].collect().toSet

  test("broadcast sjoin matches brute force (intersects)") {
    val expected = bruteForce(st_intersects)
    val got = SpatialJoin.sjoin(boxes, points, "intersects")
      .select($"box_id", $"pt_id").as[(Long, Long)].collect().toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("broadcast sjoin contains == within flipped") {
    val expected = bruteForce(st_contains)
    val got = SpatialJoin.sjoin(boxes, points, "contains")
      .select($"box_id", $"pt_id").as[(Long, Long)].collect().toSet
    assert(got === expected)
  }

  test("partitioned sjoin matches brute force") {
    val expected = bruteForce(st_intersects)
    for (cellSize <- Seq(2.0, 5.0, 64.0)) {
      val got = SpatialJoin.sjoinPartitioned(boxes, points, cellSize, "intersects")
        .select($"box_id", $"pt_id").as[(Long, Long)].collect().toSet
      assert(got === expected, s"cellSize=$cellSize")
    }
  }

  test("bucketed spatial store: exchange-free join matches brute force") {
    // write both sides bucketed on the same grid once, then the join is a
    // bucketed sort-merge with NO shuffle on either side — the
    // repeated-join path at scale (each new join re-reads co-located
    // buckets instead of re-shuffling both inputs)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def dropHard(t: String): Unit = SpatialJoin.dropBucketedTable(spark, t)
    try {
      dropHard("graft_bkt_boxes")
      dropHard("graft_bkt_points")
      // default args: stamping is ON (stats observed during the write)
      SpatialJoin.writeSpatialBucketed(boxes, "graft_bkt_boxes", cellSize = 8.0,
        buckets = 8)
      SpatialJoin.writeSpatialBucketed(points, "graft_bkt_points", cellSize = 8.0,
        buckets = 8)
      val joined = SpatialJoin.sjoinBucketed(spark, "graft_bkt_boxes",
        "graft_bkt_points", cellSize = 8.0, "intersects")
      val got = joined.select($"box_id", $"pt_id").as[(Long, Long)].collect().toSet
      assert(got === bruteForce(st_intersects))
      assert(got.nonEmpty)
      // r10: the refinement is the codegen'd STBucketedMatch, not a
      // ScalaUDF — no encoder round trip in the hot loop — and the
      // pinned UDF twin produces the identical pair set
      assert(joined.queryExecution.executedPlan.toString
        .contains("st_bucketed_match"),
        "native refinement missing from the bucketed join plan")
      assert(!joined.queryExecution.executedPlan.toString.contains("UDF"),
        "bucketed join still refines through a ScalaUDF")
      val viaUdf = SpatialJoin.sjoinBucketed(spark, "graft_bkt_boxes",
        "graft_bkt_points", cellSize = 8.0, "intersects", refineViaUdf = true)
      assert(viaUdf.select($"box_id", $"pt_id").as[(Long, Long)].collect().toSet
        === got)
      // the plan has zero exchanges: cells are co-located by the
      // write-time bucketing, so the sort-merge join reads both sides
      // in place
      val planStr = joined.queryExecution.executedPlan.toString
      assert(!planStr.contains("Exchange"),
        s"bucketed join still shuffles:\n$planStr")
      assert(planStr.contains("SortMergeJoin") || planStr.contains("ShuffledHashJoin"),
        s"expected an equi-join over buckets:\n$planStr")
      // a second predicate over the same stores: still no exchange, and
      // contains == its broadcast-tier answer
      val joined2 = SpatialJoin.sjoinBucketed(spark, "graft_bkt_boxes",
        "graft_bkt_points", cellSize = 8.0, "contains")
      assert(joined2.select($"box_id", $"pt_id").as[(Long, Long)].collect().toSet
        === bruteForce(st_contains))
      assert(!joined2.queryExecution.executedPlan.toString.contains("Exchange"))
      // bbox read: covering cells → bucket pruning (the scan reads a
      // SUBSET of buckets), result = exact envelope matches, one row per
      // original geometry despite multi-cell duplication
      val box = (10.0, 10.0, 30.0, 30.0)
      val got2 = SpatialJoin.readSpatialBucketed(spark, "graft_bkt_boxes",
        cellSize = 8.0, box)
      val expected2 = boxes.filter(st_intersects(st_envelope($"geometry"),
        st_rectangle(lit(box._1), lit(box._2), lit(box._3), lit(box._4))))
        .select($"box_id").as[Long].collect().toSet
      assert(got2.select($"box_id").as[Long].collect().toSet === expected2)
      assert(got2.count() === expected2.size, "multi-cell copies not deduped")
      val scanStr = got2.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(scanStr)
      assert(sel.isDefined, s"no bucket pruning in scan:\n$scanStr")
      assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
        s"bbox read touched every bucket: ${sel.get.matched}")
      // DEFAULT-ON stamping (r9): both stores — written with default
      // args — are GeoParquet-discoverable (footer payload survives the
      // bucket-named files) and still join/prune above; readGeoParquet
      // reads the store back as an ordinary GeoParquet dataset
      Seq("graft_bkt_boxes", "graft_bkt_points").foreach { t =>
        val loc = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(t)).location.toString
        val geo = graft.io.ParquetFooter.readKeyValueMetadata(spark, loc, "geo")
        assert(geo.isDefined && geo.get.contains("\"primary_column\":\"geometry\""),
          s"geo footer missing on $t: $geo")
        val back = graft.io.GeoIO.readGeoParquet(spark, loc)
        assert(back.columns.contains("geometry") &&
          back.columns.contains(SpatialJoin.CellCol))
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      dropHard("graft_bkt_boxes")
      dropHard("graft_bkt_points")
    }
  }

  test("bucketed store: hot cells salt into cache-sized slices, same pairs") {
    // r14 (VERDICT r13 item 2): a cell whose pair count crosses the
    // bound routes through the salted sub-join; the pair set must be
    // EXACTLY the unsalted plan's, for symmetric and asymmetric
    // predicates, while cold cells keep the exchange-free path.
    def subRect(k: org.apache.spark.sql.Column, stride: Long, off: Double = 0.0) =
      st_rectangle(
        (k * stride % 16).cast("double") / 64.0 + off,
        ((k * stride / 16) % 16).cast("double") / 64.0 + off,
        (k * stride % 16).cast("double") / 64.0 + 0.5 + off,
        ((k * stride / 16) % 16).cast("double") / 64.0 + 0.5 + off)
    // hot cell (0,0): 600 left x 600 right rows = 360k pairs — both in
    // histogram. Cell (50,50): 600 left x 240 right — the right side is
    // BELOW the 256-row histogram floor, so candidacy comes from the
    // absent-side estimate and sizing from the exact recount (review-2
    // #2). Cell (70,70): 600 left rows, ZERO right rows — a candidate
    // the recount must drop (no useless replication of a one-sided
    // cell). Background: one row per distant cell.
    val lAll = spark.range(600).select($"id".as("lid"),
        subRect($"id", 1).as("geometry"))
      .union(spark.range(600).select(($"id" + 40000).as("lid"),
        subRect($"id", 1, 50.0).as("geometry")))
      .union(spark.range(600).select(($"id" + 50000).as("lid"),
        subRect($"id", 1, 70.0).as("geometry")))
      .union(spark.range(50).select(($"id" + 20000).as("lid"),
        st_rectangle($"id".cast("double") * 4 + 100.0, lit(0.0),
          $"id".cast("double") * 4 + 100.5, lit(0.5)).as("geometry")))
    val rAll = spark.range(600).select(($"id" + 10000).as("rid"),
        subRect($"id", 7).as("geometry"))
      .union(spark.range(240).select(($"id" + 45000).as("rid"),
        subRect($"id", 7, 50.0).as("geometry")))
      .union(spark.range(50).select(($"id" + 30000).as("rid"),
        // strict sub-rects of the left background twins so BOTH the
        // symmetric and the asymmetric predicate have cold-cell pairs
        st_rectangle($"id".cast("double") * 4 + 100.125, lit(0.125),
          $"id".cast("double") * 4 + 100.375, lit(0.375)).as("geometry")))
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      // tiny fixture would broadcast otherwise — the zero-exchange
      // assertion below is about the bucketed SMJ shape
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      SpatialJoin.dropBucketedTable(spark, "graft_bkt_hot_l")
      SpatialJoin.dropBucketedTable(spark, "graft_bkt_hot_r")
      SpatialJoin.writeSpatialBucketed(lAll, "graft_bkt_hot_l", cellSize = 1.0, buckets = 4)
      SpatialJoin.writeSpatialBucketed(rAll, "graft_bkt_hot_r", cellSize = 1.0, buckets = 4)
      // the write stamped a histogram carrying the hot cell's count
      val hist = StoreStamp.store(spark, "graft_bkt_hot_r")
        .flatMap(_.stat(SpatialJoin.CellHistogramProp)).toSeq
      assert(hist.length === 1 && hist(0).split(',').exists { e =>
        e.split(':') match { case Array(_, n) => n.toLong >= 600; case _ => false }
      }, s"histogram missing the hot cell: ${hist.mkString}")
      for (pred <- Seq("intersects", "contains")) {
        val plain = SpatialJoin.sjoinBucketed(spark, "graft_bkt_hot_l",
          "graft_bkt_hot_r", cellSize = 1.0, pred, saltHotCells = false)
        val expected = plain.select($"lid", $"rid").as[(Long, Long)].collect().toSet
        val salted = SpatialJoin.sjoinBucketed(spark, "graft_bkt_hot_l",
          "graft_bkt_hot_r", cellSize = 1.0, pred,
          hotPairsBound = 100000L, saltSliceRows = 64)
        // the salted branch actually engaged
        assert(salted.queryExecution.optimizedPlan.toString.contains("__lsalt"),
          "hot cell did not route through the salted sub-join")
        assert(salted.select($"lid", $"rid").as[(Long, Long)].collect().toSet
          === expected, s"salted $pred pair set diverged")
        assert(expected.nonEmpty)
        // background pairs survive through the cold branch
        assert(expected.exists { case (a, b) => a >= 20000 && b < 40000 && b >= 30000 },
          "cold-cell pairs lost")
        // the estimate-recounted hot cell (600 x 240, right below the
        // histogram floor) contributes its pairs intact
        assert(expected.exists { case (a, b) => a >= 40000 && a < 50000 && b >= 45000 },
          "recounted hot-cell pairs lost")
      }
      // at the production default bound this fixture is cold everywhere:
      // the plan stays exactly the exchange-free sort-merge join
      val def_ = SpatialJoin.sjoinBucketed(spark, "graft_bkt_hot_l",
        "graft_bkt_hot_r", cellSize = 1.0, "intersects")
      assert(!def_.queryExecution.executedPlan.toString.contains("Exchange"),
        "default-bound join lost the exchange-free plan")
      // temp views over stores have no catalog metadata: the join must
      // degrade to the (correct) unsalted plan, not throw (r14 review #1)
      spark.table("graft_bkt_hot_l").createOrReplaceTempView("bkt_hot_vl")
      spark.table("graft_bkt_hot_r").createOrReplaceTempView("bkt_hot_vr")
      val viaView = SpatialJoin.sjoinBucketed(spark, "bkt_hot_vl",
        "bkt_hot_vr", cellSize = 1.0, "intersects", hotPairsBound = 100000L)
        .select($"lid", $"rid").as[(Long, Long)].collect().toSet
      assert(viaView === SpatialJoin.sjoinBucketed(spark, "graft_bkt_hot_l",
        "graft_bkt_hot_r", cellSize = 1.0, "intersects", saltHotCells = false)
        .select($"lid", $"rid").as[(Long, Long)].collect().toSet)
      // detection estimates (r14 review #2): a monster cell absent from
      // one histogram (< 256-row floor there) must still flag as a
      // CANDIDATE, with the absent side marked non-exact
      val lh = SpatialJoin.CellHist(Map(7L -> 10000000L, 8L -> 300L), truncated = false)
      val rh = SpatialJoin.CellHist(Map(9L -> 10000000L), truncated = false)
      val hot = SpatialJoin.hotCellsIn(lh, rh, 8000000L)
      assert(hot.keySet === Set(7L, 9L), s"estimate-based detection: $hot")
      assert(hot(7L) === SpatialJoin.HotCand(10000000L, 255L, lnExact = true, rnExact = false))
      assert(hot(9L) === SpatialJoin.HotCand(255L, 10000000L, lnExact = false, rnExact = true))
      // ...while two sub-floor sides can never combine past a sane bound
      assert(SpatialJoin.hotCellsIn(SpatialJoin.CellHist(Map(1L -> 300L), false),
        SpatialJoin.CellHist(Map.empty, false), 8000000L).isEmpty)
      // a TRUNCATED histogram's absent cells are bounded by its smallest
      // kept count, not the 256-row floor (review-2 #1): 300 x 40000
      // candidate survives even though the cell was dropped from rh
      val rhTrunc = SpatialJoin.CellHist(Map(9L -> 10000000L, 10L -> 40000L), truncated = true)
      val hotT = SpatialJoin.hotCellsIn(
        SpatialJoin.CellHist(Map(7L -> 300L), false), rhTrunc, 8000000L)
      assert(hotT.get(7L).contains(
        SpatialJoin.HotCand(300L, 40000L, lnExact = true, rnExact = false)),
        s"truncated-absent bound: $hotT")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      SpatialJoin.dropBucketedTable(spark, "graft_bkt_hot_l")
      SpatialJoin.dropBucketedTable(spark, "graft_bkt_hot_r")
    }
  }

  test("histogram backfill door: a stampless store gains salting without a rewrite") {
    // r15 (VERDICT r14 #1): a store written without the histogram stamp
    // (the pre-r14 on-disk shape, simulated via cellHistogram = false)
    // can only warn at join time; stampCellHistogram backfills the
    // measurement in place and the SAME join then salts — no rewrite.
    def subRect(k: org.apache.spark.sql.Column, stride: Long) = st_rectangle(
      (k * stride % 16).cast("double") / 64.0,
      ((k * stride / 16) % 16).cast("double") / 64.0,
      (k * stride % 16).cast("double") / 64.0 + 0.5,
      ((k * stride / 16) % 16).cast("double") / 64.0 + 0.5)
    val l = spark.range(600).select($"id".as("lid"), subRect($"id", 1).as("geometry"))
    val r = spark.range(600).select(($"id" + 10000).as("rid"),
      subRect($"id", 7).as("geometry"))
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      SpatialJoin.dropBucketedTable(spark, "graft_bkt_bf_l")
      SpatialJoin.dropBucketedTable(spark, "graft_bkt_bf_r")
      SpatialJoin.writeSpatialBucketed(l, "graft_bkt_bf_l", cellSize = 1.0,
        buckets = 4, cellHistogram = false)
      SpatialJoin.writeSpatialBucketed(r, "graft_bkt_bf_r", cellSize = 1.0,
        buckets = 4, cellHistogram = false)
      def propOf(t: String) = spark.sql(s"SHOW TBLPROPERTIES $t")
        .filter($"key" === SpatialJoin.CellHistogramProp)
        .select($"value").as[String].collect()
      assert(propOf("graft_bkt_bf_l").isEmpty && propOf("graft_bkt_bf_r").isEmpty,
        "cellHistogram = false must not stamp")
      def join() = SpatialJoin.sjoinBucketed(spark, "graft_bkt_bf_l",
        "graft_bkt_bf_r", cellSize = 1.0, "intersects", hotPairsBound = 100000L,
        saltSliceRows = 64)
      val before = join()
      assert(!before.queryExecution.optimizedPlan.toString.contains("__lsalt"),
        "stampless store must not salt (it has nothing to size from)")
      val expected = before.select($"lid", $"rid").as[(Long, Long)].collect().toSet
      assert(expected.nonEmpty)
      // backfill both stores — no data rewrite, one measurement scan each
      SpatialJoin.stampCellHistogram(spark, "graft_bkt_bf_l")
      SpatialJoin.stampCellHistogram(spark, "graft_bkt_bf_r")
      assert(propOf("graft_bkt_bf_r").nonEmpty, "backfill did not stamp")
      val after = join()
      assert(after.queryExecution.optimizedPlan.toString.contains("__lsalt"),
        "backfilled store did not salt the hot cell")
      assert(after.select($"lid", $"rid").as[(Long, Long)].collect().toSet
        === expected, "salted pair set diverged after backfill")
      // the door rejects a frame that is not a bucketed store
      spark.range(3).toDF("x").createOrReplaceTempView("bf_not_a_store")
      val ex = intercept[IllegalArgumentException](
        SpatialJoin.stampCellHistogram(spark, "bf_not_a_store"))
      assert(ex.getMessage.contains("not a writeSpatialBucketed store"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      SpatialJoin.dropBucketedTable(spark, "graft_bkt_bf_l")
      SpatialJoin.dropBucketedTable(spark, "graft_bkt_bf_r")
    }
  }

  test("dense grids spill the histogram to a sidecar; joins salt from it") {
    // r15 (VERDICT r14 #1 truncation relief + ADVICE low): 300 heavy
    // cells overflow both the r14 top-256 limit and the conservative
    // inline char budget — the stamp moves to a sidecar file in the
    // store location, the property carries only the `file:` marker
    // (which always round-trips any metastore), and ALL 300 cells stay
    // saltable instead of a truncation warning.
    val nCells = 300
    val perCell = 256 // exactly the histogram floor
    // Column `/` is DOUBLE division — truncate back to the cell ordinal
    // or the rects smear continuously across cells
    def cellOf(id: org.apache.spark.sql.Column, per: Int) =
      (id / per).cast("long").cast("double")
    val base = spark.range(nCells.toLong * perCell).select(
      $"id".as("rid"),
      st_rectangle(cellOf($"id", perCell) + 0.1,
        ($"id" % 16).cast("double") / 64.0,
        cellOf($"id", perCell) + 0.4,
        ($"id" % 16).cast("double") / 64.0 + 0.3).as("geometry"))
    // boost three cells past the others so the join salts a SUBSET —
    // 400x400 = 160k pairs there vs 65536 in the uniform cells
    val boost = spark.range(3L * 144).select(
      ($"id" + 1000000).as("rid"),
      st_rectangle(cellOf($"id", 144) + 0.5,
        ($"id" % 16).cast("double") / 64.0,
        cellOf($"id", 144) + 0.8,
        ($"id" % 16).cast("double") / 64.0 + 0.3).as("geometry"))
    val rows = base.unionByName(boost)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      SpatialJoin.dropBucketedTable(spark, "graft_bkt_side")
      SpatialJoin.writeSpatialBucketed(rows, "graft_bkt_side", cellSize = 1.0,
        buckets = 8)
      val prop = StoreStamp.store(spark, "graft_bkt_side")
        .flatMap(_.stat(SpatialJoin.CellHistogramProp)).toSeq
      assert(prop === Seq(SpatialJoin.CellHistogramFileMarker),
        s"expected the sidecar marker, got: ${prop.mkString}")
      // the sidecar holds every heavy cell, untruncated — the r14 limit
      val loc = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier("graft_bkt_side")).location
      val side = new java.io.File(new java.io.File(loc),
        SpatialJoin.CellHistogramFile)
      assert(side.isFile, s"sidecar missing at $side")
      val hist = SpatialJoin.parseCellHistogram(
        new String(java.nio.file.Files.readAllBytes(side.toPath),
          java.nio.charset.StandardCharsets.UTF_8).trim)
      assert(!hist.truncated && hist.cells.size === nCells,
        s"sidecar histogram: ${hist.cells.size} cells, truncated=${hist.truncated}")
      assert(hist.cells.values.count(_ === perCell.toLong) === nCells - 3)
      assert(hist.cells.values.count(_ === 400L) === 3)
      // and a join SALTS from the sidecar: the three boosted cells'
      // 400x400 = 160k pairs cross the bound, the uniform 65536s do not
      val salted = SpatialJoin.sjoinBucketed(spark, "graft_bkt_side",
        "graft_bkt_side", cellSize = 1.0, "intersects_bbox",
        hotPairsBound = 100000L, saltSliceRows = 64)
      assert(salted.queryExecution.optimizedPlan.toString.contains("__lsalt"),
        "sidecar histogram did not feed the salting path")
      val plainCount = SpatialJoin.sjoinBucketed(spark, "graft_bkt_side",
        "graft_bkt_side", cellSize = 1.0, "intersects_bbox",
        saltHotCells = false).count()
      assert(salted.count() === plainCount, "salted count diverged from unsalted")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      SpatialJoin.dropBucketedTable(spark, "graft_bkt_side")
    }
  }

  test("corrupt histogram property degrades planning and joins, never a query") {
    // ADVICE r15 (medium): the auto-planning rule parses the stamped
    // histogram for its plan-time warning — a corrupt or cut-mid-entry
    // property value must degrade to a logged None there (and to the
    // unsalted plan in sjoinBucketed), never throw during optimization.
    val l = spark.range(50).select($"id".as("lid"),
      st_rectangle($"id".cast("double") * 2.0, lit(0.0),
        $"id".cast("double") * 2.0 + 1.5, lit(1.5)).as("geometry"))
    val r = spark.range(50).select($"id".as("rid"),
      st_point($"id".cast("double") * 2.0 + 0.5, lit(0.5)).as("pgeom"))
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      SpatialJoin.dropBucketedTable(spark, "graft_bkt_cor_l")
      SpatialJoin.dropBucketedTable(spark, "graft_bkt_cor_r")
      SpatialJoin.writeSpatialBucketed(l, "graft_bkt_cor_l", cellSize = 64.0, buckets = 4)
      SpatialJoin.writeSpatialBucketed(r, "graft_bkt_cor_r", cellSize = 64.0,
        buckets = 4, geom = "pgeom")
      // each corrupt payload bare, and stamped for the store's files, so
      // it reaches the parser
      val files = StoreStamp.store(spark, "graft_bkt_cor_l").get.files
      for (corrupt <- Seq("123:45,67", ",+", "garbage").flatMap(c =>
          Seq(c) ++ files.stamp("" -> c).map(_._2))) {
        spark.sql("ALTER TABLE graft_bkt_cor_l SET TBLPROPERTIES " +
          s"('${SpatialJoin.CellHistogramProp}'='$corrupt')")
        // the auto-planned plain join must survive planning AND execute
        val auto = spark.table("graft_bkt_cor_l").join(
          spark.table("graft_bkt_cor_r"), st_contains($"geometry", $"pgeom"))
        assert(auto.count() === 50L, s"auto-planned join wrong under '$corrupt'")
        // sjoinBucketed degrades to the (correct) unsalted plan
        val viaDoor = SpatialJoin.sjoinBucketed(spark, "graft_bkt_cor_l",
          "graft_bkt_cor_r", cellSize = 64.0, "contains",
          leftGeom = "geometry", rightGeom = "pgeom", hotPairsBound = 10L)
        assert(!viaDoor.queryExecution.optimizedPlan.toString.contains("__lsalt"))
        assert(viaDoor.count() === 50L)
      }
      // a dangling file: marker (sidecar deleted) degrades the same way
      StoreStamp.set(spark, "graft_bkt_cor_l",
        files.stamp(SpatialJoin.CellHistogramProp -> SpatialJoin.CellHistogramFileMarker))
      val auto2 = spark.table("graft_bkt_cor_l").join(
        spark.table("graft_bkt_cor_r"), st_contains($"geometry", $"pgeom"))
      assert(auto2.count() === 50L)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      SpatialJoin.dropBucketedTable(spark, "graft_bkt_cor_l")
      SpatialJoin.dropBucketedTable(spark, "graft_bkt_cor_r")
    }
  }

  test("grid census reports a truncation-aware absent-side bound") {
    // ADVICE r15 (low): a census whose merely-heavy stratum truncates at
    // the keep cut must bound absent cells by the smallest KEPT count —
    // floor-1 lets a dropped 100k-row cell escape pair-split candidacy.
    import spark.implicits._
    def cells(counts: Map[Long, Int]) = {
      val rows = counts.toSeq.flatMap { case (c, n) =>
        (0 until n).map(i => (c, i.toLong, Array.emptyByteArray))
      }
      spark.createDataset(rows)
    }
    val ds = cells(Map(1L -> 40, 2L -> 30, 3L -> 20, 4L -> 12, 5L -> 11, 6L -> 60))
    // cap 50: cell 6 is memory-critical; floor 10, keep 3 → merely-heavy
    // keeps 40, 30, 20 and TRUNCATES (12 and 11 dropped) → absent cells
    // are bounded by the smallest kept count (20), not floor-1 (9)
    val (m, bound) = SpatialJoin.gridCensus(ds, floor = 10L, cap = 50L, keep = 3)
    assert(m === Map(6L -> 60L, 1L -> 40L, 2L -> 30L, 3L -> 20L))
    assert(bound === 20L, s"truncated absent bound: $bound")
    // untruncated: every merely-heavy cell kept → absent bound is floor-1
    val (m2, bound2) = SpatialJoin.gridCensus(ds, floor = 10L, cap = 50L, keep = 5)
    assert(m2.keySet === Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(bound2 === 9L)
  }

  test("bucketed intersects_bbox: disjoint envelopes sharing a cell are NOT paired") {
    // ADVICE r8 (medium): intersects_bbox's refinement is unconditionally
    // true, so without an explicit envelope test two disjoint geometries
    // in one shared cell passed the reference-point rule ([0,0.4]² and
    // [0.6,0.9]² with cellSize 16: ix=0.6, iy=0.6 lies in the shared
    // cell) and were reported as a pair. The semantic across every tier:
    // intersects_bbox pairs exactly the envelope-intersecting pairs.
    val l = spark.range(4).select($"id".as("box_id"),
      st_rectangle($"id".cast("double") * 0.1, $"id".cast("double") * 0.1,
        $"id".cast("double") * 0.1 + lit(0.05), $"id".cast("double") * 0.1 + lit(0.05))
        .as("geometry"))
    val r = spark.range(4).select($"id".as("pt_id"),
      st_rectangle($"id".cast("double") * 0.1 + lit(0.3), $"id".cast("double") * 0.1 + lit(0.3),
        $"id".cast("double") * 0.1 + lit(0.45), $"id".cast("double") * 0.1 + lit(0.45))
        .as("geometry"))
    val expected = l.crossJoin(r.withColumnRenamed("geometry", "g2"))
      .filter(st_intersects(st_envelope($"geometry"), st_envelope($"g2")))
      .select($"box_id", $"pt_id").as[(Long, Long)].collect().toSet
    try {
      SpatialJoin.dropBucketedTable(spark, "graft_bkt_bbox_l")
      SpatialJoin.dropBucketedTable(spark, "graft_bkt_bbox_r")
      SpatialJoin.writeSpatialBucketed(l, "graft_bkt_bbox_l", cellSize = 16.0, buckets = 4)
      SpatialJoin.writeSpatialBucketed(r, "graft_bkt_bbox_r", cellSize = 16.0, buckets = 4)
      val got = SpatialJoin.sjoinBucketed(spark, "graft_bkt_bbox_l",
        "graft_bkt_bbox_r", cellSize = 16.0, "intersects_bbox")
        .select($"box_id", $"pt_id").as[(Long, Long)].collect().toSet
      assert(got === expected,
        s"intersects_bbox diverged from envelope intersection: got $got expected $expected")
      // the fixture is only meaningful if at least one disjoint-envelope
      // pair shares the cell and at least one pair genuinely touches
      assert(expected.size < 16, "fixture degenerated: all envelopes intersect")
      assert(expected.nonEmpty, "fixture degenerated: no envelope intersections")
    } finally {
      SpatialJoin.dropBucketedTable(spark, "graft_bkt_bbox_l")
      SpatialJoin.dropBucketedTable(spark, "graft_bkt_bbox_r")
    }
  }

  test("readSpatialBucketed planning never leaks conf into concurrent queries") {
    // VERDICT r8 #3: the bbox read used to disable autoBucketedScan
    // SESSION-wide while its plan resolved — any query planning
    // concurrently in the same session lost its bucketed scan (an
    // Exchange appeared before aggregations the bucketing should
    // satisfy). The override is now thread-local; this spec plans a
    // bucket-satisfied aggregation from another thread while bbox reads
    // plan in a loop, and pins that no aggregation plan ever shuffles.
    val sj = SpatialJoin
    try {
      sj.dropBucketedTable(spark, "graft_conf_probe")
      sj.writeSpatialBucketed(boxes, "graft_conf_probe", cellSize = 8.0, buckets = 8)
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val leak = new java.util.concurrent.atomic.AtomicReference[String](null)
      val prober = new Thread(() => {
        while (!stop.get() && leak.get() == null) {
          // fresh Dataset each time → fresh plan resolution
          val agg = spark.table("graft_conf_probe")
            .groupBy(col(SpatialJoin.CellCol)).count()
          val p = agg.queryExecution.executedPlan.toString
          if (p.contains("Exchange")) leak.set(p)
        }
      })
      prober.start()
      try {
        (1 to 40).foreach { _ =>
          sj.readSpatialBucketed(spark, "graft_conf_probe", 8.0,
            (10.0, 10.0, 30.0, 30.0)).queryExecution.executedPlan
        }
      } finally { stop.set(true); prober.join(30000) }
      assert(leak.get() == null,
        s"concurrent aggregation lost its bucketed scan:\n${leak.get()}")
      // and the bbox read itself still prunes buckets
      val got = sj.readSpatialBucketed(spark, "graft_conf_probe", 8.0,
        (10.0, 10.0, 30.0, 30.0))
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(got.queryExecution.executedPlan.toString)
      assert(sel.isDefined && sel.get.group(1).toInt < sel.get.group(2).toInt,
        "bbox read lost its bucket pruning under the scoped conf")
    } finally sj.dropBucketedTable(spark, "graft_conf_probe")
  }

  test("grid outer join scans each input side exactly once") {
    // The stable-index pass persists its single scan; the cells pass and
    // the outer-join reattach both read the cache, so an instrumented
    // source must evaluate each row exactly once (the zipWithIndex
    // double-scan this replaces evaluated it 2-3x).
    val sc = spark.sparkContext
    val leftEvals = sc.longAccumulator("leftEvals")
    val rightEvals = sc.longAccumulator("rightEvals")
    def instrumented(df: org.apache.spark.sql.DataFrame,
        acc: org.apache.spark.util.LongAccumulator) = {
      val schema = df.schema
      spark.createDataFrame(
        df.rdd.map { r => acc.add(1); r }, schema)
    }
    val expected = bruteForce(st_intersects)
    val out = SpatialJoin.sjoinPartitioned(
      instrumented(boxes, leftEvals), instrumented(points, rightEvals),
      cellSize = 5.0, predicate = "intersects", how = "left")
    out.collect() // one action drives the whole join
    val gotPairs = out.filter($"pt_id".isNotNull)
      .select($"box_id", $"pt_id").as[(Long, Long)].collect().toSet
    assert(gotPairs === expected)
    assert(leftEvals.value === boxes.count(),
      s"left side evaluated ${leftEvals.value}x for ${boxes.count()} rows")
    assert(rightEvals.value === points.count(),
      s"right side evaluated ${rightEvals.value}x for ${points.count()} rows")
  }

  test("stable index is lineage-free: ids cannot renumber on block-loss recompute") {
    // VERDICT r8 #2: a persisted-only monotonically_increasing_id frame
    // can silently renumber when a lost cache block recomputes from a
    // nondeterministic lineage — the cells pass and the reattach then
    // join under different id generations. withStableIndex must
    // CHECKPOINT (lineage cut → recompute impossible): with a reliable
    // dir the ids survive total cache loss bit-identically; without one
    // localCheckpoint fails loudly rather than renumbering.
    val sc = spark.sparkContext
    val hadDir = sc.getCheckpointDir
    val dir = java.nio.file.Files.createTempDirectory("graft_sj_ckpt").toString
    sc.setCheckpointDir(dir)
    try {
      // genuinely nondeterministic upstream: unseeded shuffle order
      val nondet = spark.range(2000)
        .repartition(8).sortWithinPartitions(rand())
      val idx = SpatialJoin.withStableIndex(nondet.toDF, "__sidx")
      val first = idx.select($"id", $"__sidx").as[(Long, Long)].collect().toSet
      // simulate losing every cached block; a persist-only frame would
      // recompute from the nondeterministic lineage here
      spark.sharedState.cacheManager.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(true))
      val second = idx.select($"id", $"__sidx").as[(Long, Long)].collect().toSet
      assert(second === first, "ids renumbered after block loss")
      // lineage is actually cut: the plan bottoms out at a scan of the
      // checkpointed rows, not the nondeterministic upstream
      val plan = idx.queryExecution.optimizedPlan.toString
      assert(!plan.toLowerCase.contains("sort"), s"lineage not cut:\n$plan")
    } finally {
      // no unsetCheckpointDir; restore the prior dir when there was one,
      // else leave the throwaway (ClusterSpec sets its own when needed)
      hadDir.foreach(sc.setCheckpointDir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("partitioned sjoin reattach stays single-evaluation after the checkpoint") {
    // the join still computes the exact pair set, and the checkpointed
    // stable-index frames feed both the cells pass and the reattach from
    // one materialization (the accumulator test below pins 1× evaluation)
    val out = SpatialJoin.sjoinPartitioned(boxes, points, 5.0, "intersects", "left")
    assert(out.filter($"pt_id".isNotNull)
      .select($"box_id", $"pt_id").as[(Long, Long)].collect().toSet ===
      bruteForce(st_intersects))
  }

  test("left join keeps unmatched left rows") {
    val lonely = spark.range(3).select($"id".as("box_id"),
      st_rectangle(lit(-100.0), lit(-100.0), lit(-99.0), lit(-99.0)).as("geometry"))
    val l = boxes.union(lonely.withColumn("box_id", $"box_id" + 10000))
    val out = SpatialJoin.sjoin(l, points, "intersects", how = "left")
    assert(out.filter($"pt_id".isNull).count() >= 3)
    assert(out.select("box_id").distinct().count() === l.count())
  }

  test("suffix applied to clashing right columns") {
    val out = SpatialJoin.sjoin(boxes, points, "intersects")
    assert(out.columns.count(_ == "geometry") === 1)
    assert(out.columns.contains("geometry_right"))
  }

  test("hot-cell salt cap: all-overlapping fixture stays correct with a tiny cap") {
    // VERDICT r4 #10: every left box overlaps every point and everything
    // lands in one grid cell — the degenerate hot cell. With maxCellRows=16
    // the 200-row left slice splits into ceil(200/16)=13 salt slices; the
    // result must equal the unsalted join AND brute force exactly
    // (round-robin salting + right replication meets each pair once).
    val hotBoxes = spark.range(200).select($"id".as("box_id"),
      st_rectangle(lit(0.0), lit(0.0), lit(10.0), lit(10.0)).as("geometry"))
    val hotPoints = spark.range(300).select($"id".as("pt_id"),
      st_point(($"id" % 10).cast("double"), ($"id" % 7).cast("double")).as("geometry"))
    val expected = (for (b <- 0L until 200L; p <- 0L until 300L) yield (b, p)).toSet
    for (cap <- Seq(16, 0 /* 0 disables the census */ )) {
      val grid = SpatialJoin.sjoinPartitioned(hotBoxes, hotPoints, 64.0,
        "intersects", maxCellRows = cap)
        .select($"box_id", $"pt_id").as[(Long, Long)].collect()
      assert(grid.length === expected.size, s"cap=$cap: dup or lost pairs")
      assert(grid.toSet === expected, s"cap=$cap")
      val qt = SpatialJoin.sjoinQuadtree(hotBoxes, hotPoints, "intersects",
        maxCellRows = cap)
        .select($"box_id", $"pt_id").as[(Long, Long)].collect()
      assert(qt.length === expected.size, s"qt cap=$cap: dup or lost pairs")
      assert(qt.toSet === expected, s"qt cap=$cap")
    }
    // r14: PAIR-count-driven split — a cell far below the build-row cap
    // (no memory pressure) but past the per-task pair target splits the
    // RIGHT side too; 2-D (p,q) salting must keep exactly-once coverage
    // (count == distinct count == |L|·|R|), including at a target so
    // small that q hits the 64 cap
    val bigBoxes = spark.range(1200).select($"id".as("box_id"),
      st_rectangle(lit(0.0), lit(0.0), lit(10.0), lit(10.0)).as("geometry"))
    val bigPoints = spark.range(1500).select($"id".as("pt_id"),
      st_point(($"id" % 10).cast("double"), ($"id" % 7).cast("double")).as("geometry"))
    // the third config forces p>1 AND q>1 SIMULTANEOUSLY (joint 2-D salt
    // grid: a swapped lsalt/rsalt on one side would duplicate or lose
    // pairs here while every 1-D case still passed)
    for ((ppt, cap) <- Seq((100000L, 1 << 20), (100L, 1 << 20), (100L, 64))) {
      val g = SpatialJoin.sjoinPartitioned(bigBoxes, bigPoints, 64.0,
        "intersects", maxCellRows = cap, pairsPerTask = ppt)
      assert(g.count() === 1200L * 1500L, s"ppt=$ppt cap=$cap: pair count")
      assert(g.select($"box_id", $"pt_id").distinct().count() === 1200L * 1500L,
        s"ppt=$ppt cap=$cap: duplicate pairs")
    }
  }

  test("byte guard: wide rows under the row cap fall back to the grid tier") {
    // VERDICT r4 #6: 200 rows is far below any row cap, but each carries a
    // ~64 KiB payload column; with a 1 MiB byte cap the broadcast tier must
    // refuse and the grid fallback must still produce the exact result.
    val expected = bruteForce(st_intersects)
    val wide = boxes.withColumn("payload",
      concat_ws("", typedLit(Seq.fill(64)("x" * 1024))))
    val got = SpatialJoin.sjoin(wide, points, "intersects",
        maxBuildBytes = 1L << 20)
      .select($"box_id", $"pt_id").as[(Long, Long)].collect().toSet
    assert(got === expected)
    // same inputs under the default cap still take the broadcast tier and
    // agree (sanity that the guard didn't change inner semantics)
    val broadcastGot = SpatialJoin.sjoin(wide, points, "intersects")
      .select($"box_id", $"pt_id").as[(Long, Long)].collect().toSet
    assert(broadcastGot === expected)
  }

  test("mode=ignore onto an existing store never restamps the grid") {
    // ADVICE r9 medium: saveAsTable(mode=ignore) over an existing table is
    // a no-op, but the unconditional ALTER TABLE used to restamp the
    // catalog with the NEW cellSize while the on-disk cells kept the old
    // grid — the auto-plan rule and append guard then trusted the wrong
    // grid. Now: a mismatched grid on any non-overwrite mode raises BEFORE
    // writing, and a no-op write never reaches the ALTER.
    val t = "graft_bkt_restamp"
    try {
      SpatialJoin.dropBucketedTable(spark, t)
      SpatialJoin.writeSpatialBucketed(boxes, t, cellSize = 8.0, buckets = 4)
      def stampedCell: String = spark.sessionState.catalog
        .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(t))
        .properties(SpatialJoin.CellSizeProp)
      assert(stampedCell.toDouble === 8.0)
      // mismatched grid: ignore AND append both refuse up front —
      // including CAPITALIZED spellings (DataFrameWriter.mode(String) is
      // case-insensitive, so the guards must normalize too)
      for (m <- Seq("ignore", "append", "Ignore", "APPEND")) {
        val e = intercept[IllegalArgumentException] {
          SpatialJoin.writeSpatialBucketed(boxes, t, cellSize = 4.0,
            buckets = 4, mode = m)
        }
        assert(e.getMessage.contains("cellSize"), s"mode=$m: ${e.getMessage}")
        assert(stampedCell.toDouble === 8.0, s"mode=$m mutated the stamp")
      }
      // mismatched geometry column name refuses the same way
      val e2 = intercept[IllegalArgumentException] {
        SpatialJoin.writeSpatialBucketed(
          boxes.withColumnRenamed("geometry", "geom2"), t, cellSize = 8.0,
          buckets = 4, geom = "geom2", mode = "ignore")
      }
      assert(e2.getMessage.contains("geom"), e2.getMessage)
      // matching grid + ignore: legal no-op, store still joins correctly
      SpatialJoin.writeSpatialBucketed(boxes, t, cellSize = 8.0,
        buckets = 4, mode = "ignore")
      assert(stampedCell.toDouble === 8.0)
      assert(spark.table(t).count() === boxes
        .withColumn("c", explode(udf((b: Array[Byte]) =>
          SpatialJoin.gridCellsOf(b, 8.0)).apply($"geometry"))).count(),
        "ignore over an existing store must not have written rows")
      // capitalized Overwrite IS an overwrite to Spark: the re-grid must
      // be allowed and the stamp must follow the new grid
      SpatialJoin.writeSpatialBucketed(boxes, t, cellSize = 4.0,
        buckets = 4, mode = "Overwrite")
      assert(stampedCell.toDouble === 4.0, "capitalized Overwrite not restamped")
    } finally SpatialJoin.dropBucketedTable(spark, t)
  }

  test("sjoin validate: m:m never checks; 1:m / m:1 / 1:1 assert with clear messages") {
    // 2 boxes, 3 points: box 0 contains points 0 and 1 (violates m:1);
    // point 2 sits inside BOTH boxes (violates 1:m)
    val bx = Seq((0L, 0.0, 0.0, 10.0, 10.0), (1L, 5.0, 5.0, 15.0, 15.0))
      .toDF("box_id", "x0", "y0", "x1", "y1")
      .select($"box_id", st_rectangle($"x0", $"y0", $"x1", $"y1").as("geometry"))
    val pts = Seq((0L, 1.0, 1.0), (1L, 2.0, 2.0), (2L, 7.0, 7.0))
      .toDF("pt_id", "px", "py")
      .select($"pt_id", st_point($"px", $"py").as("geometry"))
    // m:m: no check, 4 pairs
    assert(SpatialJoin.sjoin(bx, pts, "contains", validate = "m:m").count() == 4)
    // m:1: box 0 matched 2 points → fails, message names the right side
    val e1 = intercept[Exception] {
      SpatialJoin.sjoin(bx, pts, "contains", validate = "m:1").count()
    }
    assert(e1.getMessage.contains("not unique in right") ||
      Option(e1.getCause).exists(_.getMessage.contains("not unique in right")),
      s"unexpected: ${e1.getMessage}")
    // 1:m: point 2 matched by 2 boxes → fails, message names the left side
    val e2 = intercept[Exception] {
      SpatialJoin.sjoin(bx, pts, "contains", validate = "1:m").count()
    }
    assert(e2.getMessage.contains("not unique in left") ||
      Option(e2.getCause).exists(_.getMessage.contains("not unique in left")))
    // 1:1 passes on a genuinely one-to-one fixture, and outer-join
    // unmatched rows never count as violations
    val bx1 = bx.filter($"box_id" === 0L)
    val pts1 = pts.filter($"pt_id" === 0L || $"pt_id" === 2L)
    // box 0 contains pt 0 and pt 2 → still m-violating; shrink to pt 0 only
    val ptsOne = pts.filter($"pt_id" === 0L)
    assert(SpatialJoin.sjoin(bx1, ptsOne, "contains", how = "full",
      validate = "1:1").count() == 1)
    assert(SpatialJoin.sjoin(bx, ptsOne, "contains", how = "full",
      validate = "1:1").count() == 2) // box 1 unmatched: allowed under 1:1
    assert(pts1.count() == 2) // fixture sanity
    // unknown mode rejected eagerly
    intercept[IllegalArgumentException] {
      SpatialJoin.sjoin(bx, pts, "contains", validate = "one-to-one")
    }
  }

  test("sjoin nullsEqual: null geometries pair like equal keys; outer unmatched adjusted") {
    val l = Seq((0L, Some((1.0, 1.0))), (1L, None), (2L, None))
      .toDF("lid", "xy")
      .select($"lid", when($"xy".isNotNull,
        st_point($"xy._1", $"xy._2")).as("geometry"))
    val r = Seq((10L, Some((0.0, 0.0, 5.0, 5.0))), (11L, None))
      .toDF("rid", "box")
      .select($"rid", when($"box".isNotNull,
        st_rectangle($"box._1", $"box._2", $"box._3", $"box._4")).as("geometry"))
    // default: nulls never match — inner keeps only the spatial pair
    assert(SpatialJoin.sjoin(r, l, "contains").select($"rid", $"lid")
      .as[(Long, Long)].collect().toSet == Set((10L, 0L)))
    // nullsEqual inner: the 2 null-left × 1 null-right pairs join in
    val got = SpatialJoin.sjoin(r, l, "contains", nullsEqual = true)
      .select($"rid", $"lid").as[(Long, Long)].collect().toSet
    assert(got == Set((10L, 0L), (11L, 1L), (11L, 2L)), s"got $got")
    // nullsEqual full: no lingering unmatched markers for the null rows
    // that now pair (every row appears exactly through its pairs)
    val full = SpatialJoin.sjoin(r, l, "contains", how = "full", nullsEqual = true)
      .select($"rid", $"lid").as[(Option[Long], Option[Long])].collect().toSet
    assert(full == Set((Some(10L), Some(0L)), (Some(11L), Some(1L)),
      (Some(11L), Some(2L))), s"got $full")
    // without nullsEqual, full join keeps them as unmatched rows
    val fullDefault = SpatialJoin.sjoin(r, l, "contains", how = "full")
      .select($"rid", $"lid").as[(Option[Long], Option[Long])].collect().toSet
    assert(fullDefault == Set((Some(10L), Some(0L)), (Some(11L), None),
      (None, Some(1L)), (None, Some(2L))), s"got $fullDefault")
  }

  test("sjoin coalesce: Some(true) merges the geometry key columns on outer joins") {
    val l = Seq((0L, 1.0, 1.0)).toDF("lid", "x", "y")
      .select($"lid", st_point($"x", $"y").as("geometry"))
    val r = Seq((10L, 0.0, 0.0, 5.0, 5.0), (11L, 50.0, 50.0, 60.0, 60.0))
      .toDF("rid", "x0", "y0", "x1", "y1")
      .select($"rid", st_rectangle($"x0", $"y0", $"x1", $"y1").as("geometry"))
    // default: both geometry columns survive (suffix on the right)
    val plain = SpatialJoin.sjoin(l, r, "within", how = "right")
    assert(plain.columns.contains("geometry") && plain.columns.contains("geometry_right"))
    // coalesce: single merged geometry column; unmatched right row's
    // geometry comes from the right side
    val merged = SpatialJoin.sjoin(l, r, "within", how = "right",
      coalesce = Some(true))
    assert(merged.columns.contains("geometry") && !merged.columns.contains("geometry_right"))
    assert(merged.filter($"geometry".isNull).count() == 0)
    val area11 = merged.filter($"rid" === 11L)
      .select(st_area($"geometry")).head().getDouble(0)
    assert(area11 == 100.0, s"unmatched right row lost its geometry: $area11")
    // matched row keeps the LEFT geometry (coalesce order)
    val g0 = merged.filter($"rid" === 10L)
      .select(st_aswkt($"geometry")).head().getString(0)
    assert(g0.contains("POINT"), s"matched row should carry the left geometry: $g0")
  }

  test("autoCellSize is locality-unbiased on a spatially-sorted mixed-scale layout") {
    // Hilbert-sorted store emulation: 10k tiny parcels (width 0.1) land in
    // the EARLIEST partitions, 500 large admin polygons (width 100) in the
    // last — a partition-prefix limit(1000) would sample only parcels and
    // pick a cell size ~4*0.1, orders of magnitude below the full-scan
    // estimate. The hash-ordered sample must stay within ~2×.
    val df = spark.range(10500).select(
      $"id",
      when($"id" < 10000,
        st_rectangle(($"id" % 100).cast("double"), ($"id" / 100).cast("double"),
          ($"id" % 100).cast("double") + 0.1, ($"id" / 100).cast("double") + 0.1))
        .otherwise(
          st_rectangle(($"id" % 20).cast("double") * 50.0, ($"id" % 25).cast("double") * 40.0,
            ($"id" % 20).cast("double") * 50.0 + 100.0, ($"id" % 25).cast("double") * 40.0 + 100.0))
        .as("geometry"))
      .orderBy("id") // range partitioning: tiny geometries fill the first partitions
      .cache()
    try {
      val meanWidth = (10000 * 0.1 + 500 * 100.0) / 10500
      val fullEstimate = 4 * meanWidth
      val chosen = SpatialJoin.autoCellSize(df, "geometry")
      assert(chosen > fullEstimate / 2 && chosen < fullEstimate * 2,
        s"cell size $chosen not within 2x of full-scan estimate $fullEstimate " +
          "(a partition-prefix sample would give ~0.4)")
    } finally { df.unpersist(); () }
  }

  test("autoCellSize: null-heavy frames estimate from the valid geometries") {
    // 95% null geometry column: nulls must neither crowd the ranked
    // sample (emptying the width estimate toward the 1.0 default) nor
    // trigger a pointless full re-rank of the whole frame
    val df = spark.range(20000).select(
      when($"id" % 20 === 0,
        st_rectangle(($"id" % 17).cast("double") * 10.0, ($"id" % 13).cast("double") * 10.0,
          ($"id" % 17).cast("double") * 10.0 + 100.0, ($"id" % 13).cast("double") * 10.0 + 100.0))
        .otherwise(lit(null).cast("binary")).as("geometry"))
    val chosen = SpatialJoin.autoCellSize(df, "geometry")
    assert(chosen > 4 * 100.0 / 2 && chosen < 4 * 100.0 * 2,
      s"cell size $chosen not within 2x of the valid-only estimate ${4 * 100.0}")
  }

  test("autoCellSize: a heavily-duplicated geometry cannot monopolize the sample") {
    // 10k identical tiny rects (all sharing one geometry hash) + 500
    // distinct large ones: an unsalted hash-ordered top-k could fill the
    // whole sample with copies of the duplicate if its hash ranks lowest
    val df = spark.range(10500).select(
      when($"id" < 10000, st_rectangle(lit(0.0), lit(0.0), lit(0.1), lit(0.1)))
        .otherwise(
          st_rectangle(($"id" % 20).cast("double") * 50.0, ($"id" % 25).cast("double") * 40.0,
            ($"id" % 20).cast("double") * 50.0 + 100.0, ($"id" % 25).cast("double") * 40.0 + 100.0))
        .as("geometry"))
    val meanWidth = (10000 * 0.1 + 500 * 100.0) / 10500
    val fullEstimate = 4 * meanWidth
    val chosen = SpatialJoin.autoCellSize(df, "geometry")
    assert(chosen > fullEstimate / 2 && chosen < fullEstimate * 2,
      s"cell size $chosen not within 2x of $fullEstimate — duplicated " +
        "geometry monopolized the hash-ordered sample")
  }

  // -------------------------------------------------------- nearest join

  /** Ties-inclusive k-nearest expectation, brute-forced on the driver with
    * the same JTS distance the join uses. Emits (probeId, buildId, d). */
  def bruteNearest(
      probe: Seq[(Long, org.locationtech.jts.geom.Geometry)],
      build: Seq[(Long, org.locationtech.jts.geom.Geometry)],
      k: Int, maxD: Double,
      exclusive: Boolean = false): Set[(Long, Long, Double)] =
    probe.flatMap { case (pid, pg) =>
      val cands = build.flatMap { case (bid, bg) =>
        val d = pg.distance(bg)
        if (d <= maxD && !(exclusive && d == 0.0 && pg.equalsTopo(bg)))
          Some((bid, d))
        else None
      }.sortBy(_._2)
      if (cands.isEmpty) Nil
      else {
        val dk = if (cands.length <= k) cands.last._2 else cands(k - 1)._2
        cands.takeWhile(_._2 <= dk).map { case (bid, d) => (pid, bid, d) }
      }
    }.toSet

  def geomsOf(df: org.apache.spark.sql.DataFrame, id: String,
      geom: String): Seq[(Long, org.locationtech.jts.geom.Geometry)] =
    df.select(col(id), col(geom)).as[(Long, Array[Byte])].collect().toSeq
      .map { case (i, b) => (i, graft.serde.EWKB.read(b)) }

  test("nearest join: broadcast and partitioned match brute force, ties inclusive") {
    val expected = bruteNearest(geomsOf(points, "pt_id", "geometry"),
      geomsOf(boxes, "box_id", "geometry"), k = 2, maxD = 6.0)
    assert(expected.nonEmpty)
    val bcast = SpatialJoin.sjoinNearest(points, boxes, k = 2, maxDistance = 6.0,
        distanceCol = Some("d"))
      .select($"pt_id", $"box_id", $"d").as[(Long, Long, Double)].collect()
    assert(bcast.toSet === expected)
    // no duplicate (probe, build) rows either
    assert(bcast.length === expected.size)
    for (cellSize <- Seq(1.5, 4.0, 64.0)) {
      val grid = SpatialJoin.sjoinNearestPartitioned(points, boxes, k = 2,
          maxDistance = 6.0, distanceCol = Some("d"), cellSize = cellSize)
        .select($"pt_id", $"box_id", $"d").as[(Long, Long, Double)].collect()
      assert(grid.toSet === expected, s"cellSize=$cellSize")
      assert(grid.length === expected.size,
        s"cellSize=$cellSize emitted duplicates (ownership rule broken)")
    }
  }

  test("nearest join: unbounded broadcast kNN matches brute force") {
    val expected = bruteNearest(geomsOf(boxes, "box_id", "geometry"),
      geomsOf(points, "pt_id", "geometry"), k = 3, maxD = Double.PositiveInfinity)
    val got = SpatialJoin.sjoinNearest(boxes, points, k = 3,
        distanceCol = Some("d"))
      .select($"box_id", $"pt_id", $"d").as[(Long, Long, Double)].collect().toSet
    assert(got === expected)
    // every probe row matched (no distance bound, non-empty build side)
    assert(got.map(_._1).size === 200)
  }

  test("nearest join: how=inner drops, how=left keeps, how=right mirrors") {
    // tiny build side far from most points → most probes unmatched
    val fewBoxes = boxes.filter($"box_id" < 3)
    val inner = SpatialJoin.sjoinNearest(points, fewBoxes, k = 1,
      maxDistance = 2.0, distanceCol = Some("d"))
    // pairs ≥ matched probes (ties-inclusive k=1 can emit several)
    val innerMatched = inner.select($"pt_id").distinct().count()
    assert(innerMatched > 0 && innerMatched < 500)
    val leftJ = SpatialJoin.sjoinNearest(points, fewBoxes, k = 1,
        maxDistance = 2.0, how = "left", distanceCol = Some("d"))
      .select($"pt_id", $"box_id", $"d")
      .as[(Long, Option[Long], Option[Double])].collect()
    assert(leftJ.map(_._1).distinct.length === 500)
    assert(leftJ.count(_._2.isEmpty) === 500 - innerMatched)
    leftJ.foreach { case (_, b, d) => assert(b.isDefined === d.isDefined) }
    // right mirror: each BOX gets its nearest point from the left frame
    val expectedR = bruteNearest(geomsOf(boxes, "box_id", "geometry"),
      geomsOf(points, "pt_id", "geometry"), k = 1, maxD = 100.0)
    val gotR = SpatialJoin.sjoinNearest(points, boxes, k = 1,
        maxDistance = 100.0, how = "right", distanceCol = Some("d"))
      .select($"box_id", $"pt_id", $"d").as[(Long, Long, Double)].collect().toSet
    assert(gotR === expectedR)
    // and the partitioned tier agrees on the mirror
    val gotRGrid = SpatialJoin.sjoinNearestPartitioned(points, boxes, k = 1,
        maxDistance = 100.0, how = "right", distanceCol = Some("d"))
      .select($"box_id", $"pt_id", $"d").as[(Long, Long, Double)].collect().toSet
    assert(gotRGrid === expectedR)
  }

  test("nearest join: ties at the kth distance are ALL kept") {
    val probe = Seq((0L, "POINT (0 0)")).toDF("pid", "wkt")
      .select($"pid", st_geomfromtext($"wkt").as("geometry"))
    // four build points all at distance exactly 5
    val build = Seq((1L, "POINT (3 4)"), (2L, "POINT (4 3)"),
        (3L, "POINT (-3 4)"), (4L, "POINT (0 5)"), (5L, "POINT (0 7)"))
      .toDF("bid", "wkt").select($"bid", st_geomfromtext($"wkt").as("geometry"))
    for (got <- Seq(
      SpatialJoin.sjoinNearest(probe, build, k = 1, distanceCol = Some("d")),
      SpatialJoin.sjoinNearestPartitioned(probe, build, k = 1,
        maxDistance = 6.0, distanceCol = Some("d")))) {
      val rows = got.select($"bid", $"d").as[(Long, Double)].collect().toSet
      assert(rows === Set((1L, 5.0), (2L, 5.0), (3L, 5.0), (4L, 5.0)))
    }
  }

  test("nearest join: exclusive skips the topologically equal candidate") {
    // self-join: without exclusive every row matches itself at d=0;
    // with exclusive the nearest OTHER point wins (all coords distinct)
    val self = points.limit(50)
    val other = self.select($"pt_id".as("oid"), $"geometry")
    val withSelf = SpatialJoin.sjoinNearest(self, other, k = 1,
        distanceCol = Some("d"))
      .select($"pt_id", $"oid", $"d").as[(Long, Long, Double)].collect()
    assert(withSelf.forall { case (p, o, d) => p == o && d == 0.0 })
    val excl = SpatialJoin.sjoinNearest(self, other, k = 1,
        exclusive = true, distanceCol = Some("d"))
      .select($"pt_id", $"oid", $"d").as[(Long, Long, Double)].collect()
    assert(excl.forall { case (p, o, d) => p != o && d > 0.0 })
    val expected = bruteNearest(geomsOf(self, "pt_id", "geometry"),
      geomsOf(other, "oid", "geometry"), k = 1,
      maxD = Double.PositiveInfinity, exclusive = true)
    assert(excl.toSet === expected)
    // the partitioned tier applies the same rule
    val exclGrid = SpatialJoin.sjoinNearestPartitioned(self, other, k = 1,
        maxDistance = 100.0, exclusive = true, distanceCol = Some("d"))
      .select($"pt_id", $"oid", $"d").as[(Long, Long, Double)].collect().toSet
    assert(exclGrid === bruteNearest(geomsOf(self, "pt_id", "geometry"),
      geomsOf(other, "oid", "geometry"), k = 1, maxD = 100.0, exclusive = true))
  }

  test("nearest join: salted partitioned plan emits the same pairs") {
    val expected = bruteNearest(geomsOf(points, "pt_id", "geometry"),
      geomsOf(boxes, "box_id", "geometry"), k = 2, maxD = 6.0)
    val salted = SpatialJoin.sjoinNearestPartitioned(points, boxes, k = 2,
        maxDistance = 6.0, distanceCol = Some("d"), cellSize = 64.0,
        maxCellRows = 50, pairsPerTask = 500L)
      .select($"pt_id", $"box_id", $"d").as[(Long, Long, Double)].collect()
    assert(salted.toSet === expected)
    assert(salted.length === expected.size, "salting duplicated pairs")
  }

  test("nearest join: nulls, k past the build size, and guard rails") {
    val withNull = points.limit(10).unionByName(
      spark.range(1).select(lit(9999L).as("pt_id"),
        lit(null).cast("binary").as("geometry")))
    val inner = SpatialJoin.sjoinNearest(withNull, boxes, k = 1,
      maxDistance = 100.0)
    assert(!inner.select($"pt_id").as[Long].collect().contains(9999L))
    val leftJ = SpatialJoin.sjoinNearest(withNull, boxes, k = 1,
        maxDistance = 100.0, how = "left")
      .select($"pt_id", $"box_id").as[(Long, Option[Long])].collect()
    assert(leftJ.exists { case (p, b) => p == 9999L && b.isEmpty })
    // k larger than the build side: everything within maxDistance returns
    val tiny = boxes.filter($"box_id" < 2)
    val all = SpatialJoin.sjoinNearest(points.limit(5), tiny, k = 100,
        maxDistance = 1000.0)
      .select($"pt_id", $"box_id").as[(Long, Long)].collect()
    assert(all.length === 10)
    // unbounded + un-broadcastable build side: routes to the unbounded
    // tier (r16 — this was a loud error before sjoinNearestUnbounded)
    // and matches the broadcast tier's answer
    val viaUnbounded = SpatialJoin.sjoinNearest(points, boxes, k = 1,
        maxBuildRows = 10)
      .select($"pt_id", $"box_id").as[(Long, Long)].collect()
    val viaBroadcast = SpatialJoin.sjoinNearest(points, boxes, k = 1)
      .select($"pt_id", $"box_id").as[(Long, Long)].collect()
    assert(viaUnbounded.toSet === viaBroadcast.toSet)
    assert(viaUnbounded.length === viaBroadcast.length)
    // distanceCol clashing with an output column: rejected
    val clash = intercept[IllegalArgumentException] {
      SpatialJoin.sjoinNearest(points, boxes, k = 1, maxDistance = 5.0,
        distanceCol = Some("box_id"))
    }
    assert(clash.getMessage.contains("clash"))
    // the partitioned door refuses an unbounded maxDistance
    val unb = intercept[IllegalArgumentException] {
      SpatialJoin.sjoinNearestPartitioned(points, boxes, k = 1,
        maxDistance = Double.PositiveInfinity)
    }
    assert(unb.getMessage.contains("finite"))
  }

  test("nearest join against a bucketed store: brute-force equality, left, exclusive") {
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      SpatialJoin.dropBucketedTable(spark, "graft_bkt_nn")
      SpatialJoin.writeSpatialBucketed(
        points.withColumnRenamed("pt_id", "bid"), "graft_bkt_nn",
        cellSize = 8.0, buckets = 4)
      val expected = bruteNearest(geomsOf(boxes, "box_id", "geometry"),
        geomsOf(spark.table("graft_bkt_nn").drop(SpatialJoin.CellCol)
          .distinct(), "bid", "geometry"), k = 2, maxD = 5.0)
      assert(expected.nonEmpty)
      val got = SpatialJoin.sjoinNearestBucketed(spark, boxes, "graft_bkt_nn",
          cellSize = 8.0, k = 2, maxDistance = 5.0, distanceCol = Some("d"))
      val rows = got.select($"box_id", $"bid", $"d")
        .as[(Long, Long, Double)].collect()
      assert(rows.toSet === expected)
      // ownership rule: exactly one emission per pair, no dedup shuffle
      assert(rows.length === expected.size, "duplicate pairs (ownership broken)")
      // the per-pair kernel is the codegen'd expression, not a UDF —
      // and it appears EXACTLY twice in the plan (once in the pushed
      // join condition, once in the survivors' projection). Three or
      // more means the no-pair filter regressed to a null-safe form
      // that re-evaluates the kernel (two EWKB parses) per candidate
      // pair — the exact 3x hot-loop cost the non-nullable NaN
      // convention removed (PERF.md r15).
      val plan = got.queryExecution.executedPlan.toString
      val kernelEvals = "st_nearest_match\\(".r.findAllIn(plan).length
      assert(kernelEvals === 2,
        s"st_nearest_match appears $kernelEvals times in the plan " +
          s"(want 2: join condition + projection):\n$plan")
      // how=left keeps unmatched probes with null store columns (the
      // five far probes sit 400+ units from every store point)
      val probesL = boxes.unionByName(spark.range(5).select(
        ($"id" + 9000).as("box_id"),
        st_point($"id".cast("double") + 500.0, lit(500.0)).as("geometry")))
      val leftJ = SpatialJoin.sjoinNearestBucketed(spark, probesL, "graft_bkt_nn",
          cellSize = 8.0, k = 1, maxDistance = 0.25, how = "left",
          distanceCol = Some("d"))
        .select($"box_id", $"bid", $"d")
        .as[(Long, Option[Long], Option[Double])].collect()
      assert(leftJ.map(_._1).distinct.length === 205)
      assert(leftJ.count { case (p, b, _) => p >= 9000 && b.isEmpty } === 5,
        "far probes did not survive how=left unmatched")
      leftJ.foreach { case (_, b, d) => assert(b.isDefined === d.isDefined) }
      // exclusive: self-join against the store skips the equal geometry
      val selfStore = SpatialJoin.sjoinNearestBucketed(spark,
          points.limit(50), "graft_bkt_nn", cellSize = 8.0, k = 1,
          maxDistance = 50.0, exclusive = true, distanceCol = Some("d"))
        .select($"pt_id", $"bid", $"d").as[(Long, Long, Double)].collect()
      assert(selfStore.forall { case (p, b, d) => p != b && d > 0.0 })
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      SpatialJoin.dropBucketedTable(spark, "graft_bkt_nn")
    }
  }

  test("bucketed nearest join: hot cells salt to the same ties-inclusive result") {
    // one hot cell: 3000 store points in [0,1)², probes clustered on it;
    // background store rows in distant cells keep the cold branch alive
    val store = spark.range(3000).select($"id".as("bid"),
        st_point(($"id" % 55).cast("double") / 64.0 + 0.1,
          ($"id" % 47).cast("double") / 64.0 + 0.1).as("geometry"))
      .union(spark.range(40).select(($"id" + 10000).as("bid"),
        st_point($"id".cast("double") + 20.25, lit(0.25)).as("geometry")))
    val probes = spark.range(400).select($"id".as("pid"),
        st_point(($"id" % 31).cast("double") / 40.0 + 0.1,
          ($"id" % 29).cast("double") / 40.0 + 0.1).as("geometry"))
      .union(spark.range(10).select(($"id" + 5000).as("pid"),
        st_point($"id".cast("double") + 20.3, lit(0.3)).as("geometry")))
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      SpatialJoin.dropBucketedTable(spark, "graft_bkt_nn_hot")
      SpatialJoin.writeSpatialBucketed(store, "graft_bkt_nn_hot",
        cellSize = 1.0, buckets = 4)
      def run(salt: Boolean, bound: Long) =
        SpatialJoin.sjoinNearestBucketed(spark, probes, "graft_bkt_nn_hot",
          cellSize = 1.0, k = 3, maxDistance = 0.3, distanceCol = Some("d"),
          saltHotCells = salt, hotPairsBound = bound, saltSliceRows = 64)
      val plain = run(salt = false, bound = 50000L)
      val expected = plain.select($"pid", $"bid", $"d")
        .as[(Long, Long, Double)].collect()
      val salted = run(salt = true, bound = 50000L)
      assert(salted.queryExecution.optimizedPlan.toString.contains("__lsalt"),
        "hot cell did not route through the salted sub-join")
      val saltedRows = salted.select($"pid", $"bid", $"d")
        .as[(Long, Long, Double)].collect()
      assert(saltedRows.toSet === expected.toSet, "salted result diverged")
      assert(saltedRows.length === expected.length, "salting duplicated pairs")
      // cold-branch (background) pairs survive alongside the salted cell
      assert(expected.exists(_._1 >= 5000), "cold-cell pairs lost")
      // production default bound: unsalted plan, same answer
      val def_ = run(salt = true, bound = SpatialJoin.DefaultHotPairsBound)
      assert(!def_.queryExecution.optimizedPlan.toString.contains("__lsalt"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      SpatialJoin.dropBucketedTable(spark, "graft_bkt_nn_hot")
    }
  }

  test("STNearestMatch folds null inputs to NaN, never null (non-nullable contract)") {
    // the kernel's no-pair convention is an in-band NaN so the join's
    // filter is ONE !isnan; a null output would slip past that filter.
    // Exercise both the interpreted eval and the codegen'd branch.
    import org.apache.spark.sql.graft.ColumnBridge
    val df = Seq(
        (Some(graft.serde.EWKB.write(graft.serde.EWKB.geometryFactory.createPoint(
          new org.locationtech.jts.geom.Coordinate(0.5, 0.5)))), 0L),
        (None, 0L))
      .toDF("g", "cell")
    val m = ColumnBridge.column(graft.plans.STNearestMatch(
      ColumnBridge.expression($"g"), ColumnBridge.expression($"g"),
      ColumnBridge.expression($"cell"), 1.0, 2.0, false))
    val out = df.select(m.as("d")).as[Double].collect()
    assert(out.length === 2)
    assert(out(0) === 0.0, "self-distance of the non-null row")
    assert(out(1).isNaN, "null input must fold to NaN, not null")
    // and the schema says so: the expression is non-nullable
    assert(!df.select(m.as("d")).schema("d").nullable)
  }

  test("bucketed nearest join: guard rails") {
    SpatialJoin.dropBucketedTable(spark, "graft_bkt_nn_g")
    SpatialJoin.writeSpatialBucketed(
      points.withColumnRenamed("pt_id", "bid"), "graft_bkt_nn_g",
      cellSize = 8.0, buckets = 2)
    try {
      val right = intercept[IllegalArgumentException] {
        SpatialJoin.sjoinNearestBucketed(spark, boxes, "graft_bkt_nn_g",
          cellSize = 8.0, maxDistance = 1.0, how = "right")
      }
      assert(right.getMessage.contains("sjoinNearest"))
      // maxDistance = ∞ is a supported door since r16
      // (NearestBucketedUnboundedSpec); the NaN DEFAULT still errors —
      // the caller must choose a bound or the unbounded door explicitly
      val unb = intercept[IllegalArgumentException] {
        SpatialJoin.sjoinNearestBucketed(spark, boxes, "graft_bkt_nn_g",
          cellSize = 8.0)
      }
      assert(unb.getMessage.contains("positive maxDistance"))
      // a plain (non-store) view is rejected with an actionable message
      boxes.createOrReplaceTempView("graft_nn_plain")
      val notStore = intercept[IllegalArgumentException] {
        SpatialJoin.sjoinNearestBucketed(spark, points, "graft_nn_plain",
          cellSize = 8.0, maxDistance = 1.0)
      }
      assert(notStore.getMessage.contains("not a writeSpatialBucketed store"))
      val clash = intercept[IllegalArgumentException] {
        SpatialJoin.sjoinNearestBucketed(spark, boxes, "graft_bkt_nn_g",
          cellSize = 8.0, maxDistance = 1.0, distanceCol = Some("bid"))
      }
      assert(clash.getMessage.contains("clash"))
      // a cellSize that differs from the store's stamped grid ERRORS
      // instead of silently dropping pairs (mixed grids key the equi-join
      // and the ownership arithmetic on different lattices) — both doors
      val wrongGrid = intercept[IllegalArgumentException] {
        SpatialJoin.sjoinNearestBucketed(spark, points, "graft_bkt_nn_g",
          cellSize = 4.0, maxDistance = 1.0)
      }
      assert(wrongGrid.getMessage.contains("does not match the grid"))
      val wrongGrid2 = intercept[IllegalArgumentException] {
        SpatialJoin.sjoinBucketed(spark, "graft_bkt_nn_g", "graft_bkt_nn_g",
          cellSize = 4.0)
      }
      assert(wrongGrid2.getMessage.contains("does not match the grid"))
    } finally SpatialJoin.dropBucketedTable(spark, "graft_bkt_nn_g")
  }

  test("st_equals joins decline the spatial tiers and keep empty-empty pairs") {
    // ADVICE r9: st_equals used to sit in the planner's Converse table but
    // the execution kernels had no "equals" case — a matched plan failed at
    // runtime. It is now absent from Converse (the reference's sjoin
    // predicate set has no equals either, args.rs:174-185), so the join
    // falls back to Spark's default planner with FULL semantics — including
    // two-empties-are-equal, which the envelope-driven tiers cannot see.
    val l = Seq(
      (1L, "POINT (1 2)"), (2L, "POINT EMPTY"), (3L, "LINESTRING (0 0, 1 1)"))
      .toDF("lid", "wkt").select($"lid", st_geomfromtext($"wkt").as("geometry"))
    val r = Seq(
      (10L, "POINT (1 2)"), (20L, "GEOMETRYCOLLECTION EMPTY"), (30L, "POINT (9 9)"))
      .toDF("rid", "wkt").select($"rid", st_geomfromtext($"wkt").as("g2"))
    val joined = l.join(r, st_equals($"geometry", $"g2"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("SpatialJoin"),
      s"st_equals must not plan through a spatial tier:\n$plan")
    val got = joined.select($"lid", $"rid").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 10L), (2L, 20L)))
  }

  test("inParallel cancels the forked job when the caller side throws") {
    import org.apache.spark.scheduler.{JobResult, JobSucceeded, SparkListener,
      SparkListenerJobEnd, SparkListenerJobStart}
    import java.util.concurrent.{CountDownLatch, LinkedBlockingQueue, TimeUnit}
    val sc = spark.sparkContext
    val Desc = "inParallel-forked-long-job"
    val started = new CountDownLatch(1)
    val forkedJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val ended = new LinkedBlockingQueue[JobResult]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == Desc)) {
          forkedJob.set(e.jobId); started.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == forkedJob.get) ended.put(e.jobResult)
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException] {
        SpatialJoin.inParallel(
          {
            assert(started.await(60, TimeUnit.SECONDS), "forked job never started")
            throw new IllegalStateException("caller side failed")
          },
          {
            sc.setJobDescription(Desc)
            // tasks that only stop when killed (or after 100 s)
            sc.parallelize(1 to 2, 2).map { i =>
              val tc = org.apache.spark.TaskContext.get()
              val until = System.nanoTime() + 100L * 1000 * 1000 * 1000
              while (!tc.isInterrupted() && System.nanoTime() < until) Thread.sleep(20)
              i
            }.count()
          })
      }
      val secs = (System.nanoTime() - t0) / 1e9
      assert(e.getMessage === "caller side failed")
      assert(secs < 60, s"inParallel took $secs s to rethrow")
      val result = ended.poll(30, TimeUnit.SECONDS)
      assert(result != null, "forked job never ended")
      assert(result != JobSucceeded, "forked job ran to completion")
    } finally sc.removeSparkListener(listener)
  }
}
