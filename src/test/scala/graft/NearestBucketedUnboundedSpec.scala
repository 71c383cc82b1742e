package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions._
import graft.join.{CellSummary, SpatialJoin}

/** The bucketed store's UNBOUNDED nearest door
  * (`sjoinNearestBucketed(maxDistance = ∞)`): brute-force equivalence
  * through both summary sources (fresh per-call compute and the
  * [[SpatialJoin.stampCellSummary]] sidecar), the owner-dedup identity
  * (a summary computed over the exploded store equals one computed over
  * the pre-explosion frame), staleness invalidation on writes, corrupt
  * sidecar degradation, the exclusive escalation loop, outer-join
  * shapes, and the probeCensus rejection. */
class NearestBucketedUnboundedSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def unbounded(probe: org.apache.spark.sql.DataFrame, table: String,
      cs: Double, k: Int, how: String = "inner", exclusive: Boolean = false,
      distanceCol: Option[String] = None,
      fineCellCap: Int = SpatialJoin.UnbFineCellCap) =
    SpatialJoin.sjoinNearestBucketed(spark, probe, table, cellSize = cs,
      k = k, maxDistance = Double.PositiveInfinity, how = how,
      exclusive = exclusive, distanceCol = distanceCol,
      fineCellCap = fineCellCap)

  test("heterogeneous density: unbounded store door matches brute force, fresh and stamped") {
    val rnd = new java.util.Random(0xB16B00)
    val probeRows = EWKBFixtures.heterogeneous(rnd, 80)
    val buildRows = EWKBFixtures.heterogeneous(rnd, 80)
    val table = "graft_unb_store"
    SpatialJoin.dropBucketedTable(spark, table)
    try {
      SpatialJoin.writeSpatialBucketed(
        buildRows.toDF("bid", "geometry"), table, cellSize = 4.0, buckets = 4)
      val probe = probeRows.toDF("pid", "geometry")
      for (k <- Seq(1, 3)) {
        val expected = EWKBFixtures.brute(probeRows, buildRows, k, exclusive = false)
        val fresh = unbounded(probe, table, cs = 4.0, k = k)
          .select($"pid", $"bid").as[(Long, Long)].collect()
        assert(fresh.toSet === expected, s"k=$k fresh-summary diverged")
        assert(fresh.length === expected.size, s"k=$k duplicated pairs")
      }
      // stamp, then the same joins ride the sidecar — identical results
      SpatialJoin.stampCellSummary(spark, table)
      assert(SpatialJoin.readCellSummary(spark, table).isDefined,
        "stamp did not become readable")
      for (k <- Seq(1, 3)) {
        val expected = EWKBFixtures.brute(probeRows, buildRows, k, exclusive = false)
        val stamped = unbounded(probe, table, cs = 4.0, k = k)
          .select($"pid", $"bid").as[(Long, Long)].collect()
        assert(stamped.toSet === expected, s"k=$k stamped-summary diverged")
        assert(stamped.length === expected.size)
      }
    } finally SpatialJoin.dropBucketedTable(spark, table)
  }

  test("a 64-row local probe ranks its sample envelopes in one scan") {
    // a local relation knows its row count, and under 250 rows a 20%
    // sample returns fewer than the 50 rows the sizing wants: the door
    // goes straight to the full ranked scan instead of running both —
    // for a local frame, a read of its rows on the driver
    val rnd = new java.util.Random(0xB16B02)
    val probeRows = EWKBFixtures.heterogeneous(rnd, 64)
    val buildRows = EWKBFixtures.heterogeneous(rnd, 80)
    val table = "graft_unb_store_sample"
    SpatialJoin.dropBucketedTable(spark, table)
    try {
      SpatialJoin.writeSpatialBucketed(
        buildRows.toDF("bid", "geometry"), table, cellSize = 4.0, buckets = 4)
      val probe = probeRows.toDF("pid", "geometry")
      val (got, jobs) = SparkJobs.jobsOf(spark, "unbounded-sample-scan") {
        unbounded(probe, table, cs = 4.0, k = 1)
          .select($"pid", $"bid").as[(Long, Long)].collect()
      }
      assert(got.toSet === EWKBFixtures.brute(probeRows, buildRows, 1, exclusive = false))
      // the call ran 15 jobs with both sample scans, 12 with the one;
      // with the sample, the probe ids and the probe census skipped on
      // the driver, 6: the two summary passes over the unstamped store
      // and the action's
      assert(jobs.size <= 6, s"the call ran ${jobs.size} Spark jobs")
    } finally SpatialJoin.dropBucketedTable(spark, table)
  }

  test("owner-dedup: a stamped summary over multi-cell rows equals the frame's summary") {
    // rectangles spanning several 1.0-cells: each store row is exploded
    // to MANY copies — the owner filter must count each exactly once or
    // anchors/coverage inflate and the distinct-row bound guarantee dies
    val rnd = new java.util.Random(0xDED09)
    def shape(): Array[Byte] = {
      val x = rnd.nextInt(41) * 0.5; val y = rnd.nextInt(41) * 0.5
      EWKBFixtures.rect(x, y, x + 1 + rnd.nextInt(5) * 0.7,
        y + 1 + rnd.nextInt(5) * 0.7)
    }
    val buildRows = (0 until 70).map(i => (i.toLong, shape()))
    val probeRows = (0 until 60).map(i => (i.toLong,
      if (i % 2 == 0) shape()
      else EWKBFixtures.point(rnd.nextInt(61) * 0.5, rnd.nextInt(61) * 0.5)))
    val table = "graft_unb_rect_store"
    SpatialJoin.dropBucketedTable(spark, table)
    try {
      val buildDf = buildRows.toDF("bid", "geometry")
      SpatialJoin.writeSpatialBucketed(buildDf, table, cellSize = 1.0, buckets = 4)
      SpatialJoin.stampCellSummary(spark, table)
      val direct = CellSummary.compute(buildDf, "geometry").get
      val stamped = SpatialJoin.readCellSummary(spark, table).get
      assert(stamped.nx === direct.nx && stamped.ny === direct.ny)
      assert(stamped.x0 === direct.x0 && stamped.y0 === direct.y0)
      assert(stamped.x1 === direct.x1 && stamped.y1 === direct.y1)
      assert(stamped.h === direct.h)
      assert(stamped.totalAnchors === direct.totalAnchors)
      assert(stamped.anchorSat.toSeq === direct.anchorSat.toSeq,
        "anchor table drifted — owner dedup broken")
      assert(stamped.coverSat.toSeq === direct.coverSat.toSeq,
        "coverage table drifted — owner dedup broken")
      assert(stamped.occupied.toSeq === direct.occupied.toSeq)
      // and the join over those multi-cell rows matches brute force
      for (k <- Seq(1, 2)) {
        val expected = EWKBFixtures.brute(probeRows, buildRows, k, exclusive = false)
        val got = unbounded(probeRows.toDF("pid", "geometry"), table,
            cs = 1.0, k = k)
          .select($"pid", $"bid").as[(Long, Long)].collect()
        assert(got.toSet === expected, s"k=$k diverged")
        assert(got.length === expected.size, s"k=$k duplicated pairs")
      }
    } finally SpatialJoin.dropBucketedTable(spark, table)
  }

  test("desert probe: the k-th neighbor many rings away, through the store") {
    val buildRows =
      (0 until 200).map(i => (i.toLong,
        EWKBFixtures.point((i % 20) * 0.25, (i / 20) * 0.25))) ++
      Seq((200L, EWKBFixtures.point(9000.0, 0.0)),
        (201L, EWKBFixtures.point(9500.0, 400.0)),
        (202L, EWKBFixtures.point(-3000.0, -2000.0)))
    val probeRows = Seq(
      (0L, EWKBFixtures.point(6000.0, 0.0)),
      (1L, EWKBFixtures.point(4000.0, 100.0)),
      (2L, EWKBFixtures.point(-2999.0, -2000.0)),
      (3L, EWKBFixtures.point(0.5, 0.5)))
    val table = "graft_unb_desert_store"
    SpatialJoin.dropBucketedTable(spark, table)
    try {
      SpatialJoin.writeSpatialBucketed(
        buildRows.toDF("bid", "geometry"), table, cellSize = 2.0, buckets = 4)
      for (k <- Seq(1, 4)) {
        val expected = EWKBFixtures.brute(probeRows, buildRows, k, exclusive = false)
        val got = unbounded(probeRows.toDF("pid", "geometry"), table,
            cs = 2.0, k = k)
          .select($"pid", $"bid").as[(Long, Long)].collect()
        assert(got.toSet === expected, s"k=$k desert probe diverged")
        assert(got.length === expected.size, s"k=$k duplicated pairs")
      }
    } finally SpatialJoin.dropBucketedTable(spark, table)
  }

  test("exclusive escalation through the store door; all-equal leaves unmatched") {
    val buildRows = (0 until 10).map(i =>
        (i.toLong, EWKBFixtures.point(0.0, 0.0))) ++
      Seq((10L, EWKBFixtures.point(100.0, 0.0)),
        (11L, EWKBFixtures.point(101.0, 0.0)),
        (12L, EWKBFixtures.point(102.0, 0.0)))
    val probeRows = Seq((0L, EWKBFixtures.point(0.0, 0.0)),
      (1L, EWKBFixtures.point(100.5, 0.0)))
    val table = "graft_unb_excl_store"
    SpatialJoin.dropBucketedTable(spark, table)
    try {
      SpatialJoin.writeSpatialBucketed(
        buildRows.toDF("bid", "geometry"), table, cellSize = 2.0, buckets = 2)
      val expected = EWKBFixtures.brute(probeRows, buildRows, k = 2, exclusive = true)
      val got = unbounded(probeRows.toDF("pid", "geometry"), table,
          cs = 2.0, k = 2, exclusive = true)
        .select($"pid", $"bid").as[(Long, Long)].collect()
      assert(got.toSet === expected)
      assert(got.length === expected.size)
      assert(expected.contains((0L, 10L)) && expected.contains((0L, 11L)),
        "fixture sanity: escalation must reach the distant trio")
      // all build rows equal to the probe: inner empty, left null-padded
      val allEq = Seq((0L, EWKBFixtures.point(0.0, 0.0)))
        .toDF("pid", "geometry")
      val eqTable = "graft_unb_alleq_store"
      SpatialJoin.dropBucketedTable(spark, eqTable)
      try {
        SpatialJoin.writeSpatialBucketed(
          (0 until 5).map(i => (i.toLong, EWKBFixtures.point(0.0, 0.0)))
            .toDF("bid", "geometry"), eqTable, cellSize = 2.0, buckets = 2)
        assert(unbounded(allEq, eqTable, cs = 2.0, k = 1,
          exclusive = true).isEmpty)
        val left = unbounded(allEq, eqTable, cs = 2.0, k = 1,
            how = "left", exclusive = true)
          .select($"pid", $"bid").as[(Long, Option[Long])].collect()
        assert(left.toSeq === Seq((0L, None)))
      } finally SpatialJoin.dropBucketedTable(spark, eqTable)
    } finally SpatialJoin.dropBucketedTable(spark, table)
  }

  test("how=left, distanceCol, null probe geometry, empty store") {
    val probeRows = Seq((0L, EWKBFixtures.point(0.0, 0.0)),
      (1L, EWKBFixtures.point(10.0, 0.0)),
      (2L, null.asInstanceOf[Array[Byte]]))
    val buildRows = Seq((0L, EWKBFixtures.point(1.0, 0.0)),
      (1L, EWKBFixtures.point(12.0, 0.0)))
    val table = "graft_unb_left_store"
    SpatialJoin.dropBucketedTable(spark, table)
    try {
      SpatialJoin.writeSpatialBucketed(
        buildRows.toDF("bid", "geometry"), table, cellSize = 4.0, buckets = 2)
      val left = unbounded(probeRows.toDF("pid", "geometry"), table,
          cs = 4.0, k = 1, how = "left", distanceCol = Some("d"))
        .select($"pid", $"bid", $"d")
        .as[(Long, Option[Long], Option[Double])].collect().sortBy(_._1)
      assert(left.toSeq === Seq((0L, Some(0L), Some(1.0)),
        (1L, Some(1L), Some(2.0)), (2L, None, None)))
    } finally SpatialJoin.dropBucketedTable(spark, table)
    // a store with zero usable geometry: no matches by definition
    val emptyTable = "graft_unb_empty_store"
    SpatialJoin.dropBucketedTable(spark, emptyTable)
    try {
      SpatialJoin.writeSpatialBucketed(
        Seq.empty[(Long, Array[Byte])].toDF("bid", "geometry"),
        emptyTable, cellSize = 4.0, buckets = 2)
      val probe = probeRows.toDF("pid", "geometry")
      assert(unbounded(probe, emptyTable, cs = 4.0, k = 1).isEmpty)
      val leftEmpty = unbounded(probe, emptyTable, cs = 4.0, k = 1,
          how = "left")
        .select($"pid", $"bid").as[(Long, Option[Long])].collect()
      assert(leftEmpty.map(_._1).sorted.toSeq === Seq(0L, 1L, 2L))
      assert(leftEmpty.forall(_._2.isEmpty))
      // stamping the empty store is a no-op that leaves no stamp
      SpatialJoin.stampCellSummary(spark, emptyTable)
      assert(SpatialJoin.readCellSummary(spark, emptyTable).isEmpty)
    } finally SpatialJoin.dropBucketedTable(spark, emptyTable)
  }

  test("writes invalidate the stamp; a corrupt sidecar degrades to fresh compute") {
    val rnd = new java.util.Random(0x57A1E)
    val buildRows = EWKBFixtures.heterogeneous(rnd, 60)
    // appended rows open a region the original coverage never saw — a
    // STALE summary would filter their cells out and drop these matches
    val appendRows = (0 until 10).map(i =>
      (1000L + i, EWKBFixtures.point(-500.0 - i * 2.0, 777.0)))
    val probeRows = EWKBFixtures.heterogeneous(rnd, 40) ++
      Seq((900L, EWKBFixtures.point(-480.0, 790.0))) // nearest is appended
    val table = "graft_unb_stale_store"
    SpatialJoin.dropBucketedTable(spark, table)
    try {
      SpatialJoin.writeSpatialBucketed(
        buildRows.toDF("bid", "geometry"), table, cellSize = 4.0, buckets = 4)
      SpatialJoin.stampCellSummary(spark, table)
      assert(SpatialJoin.readCellSummary(spark, table).isDefined)
      SpatialJoin.writeSpatialBucketed(
        appendRows.toDF("bid", "geometry"), table, cellSize = 4.0,
        buckets = 4, mode = "append")
      assert(SpatialJoin.readCellSummary(spark, table).isEmpty,
        "append left a stale (unsound) summary stamp in place")
      val all = buildRows ++ appendRows
      val expected = EWKBFixtures.brute(probeRows, all, k = 1, exclusive = false)
      val got = unbounded(probeRows.toDF("pid", "geometry"), table,
          cs = 4.0, k = 1)
        .select($"pid", $"bid").as[(Long, Long)].collect()
      assert(got.toSet === expected,
        "post-append unbounded join missed appended rows")
      assert(expected.exists { case (p, b) => p == 900L && b >= 1000L },
        "fixture sanity: the sentinel probe must match an appended row")
      // corrupt the re-stamped sidecar: the read path must reject it and
      // the join must fall back to a fresh (correct) summary
      SpatialJoin.stampCellSummary(spark, table)
      val loc = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(table)).location
      val p = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(loc), SpatialJoin.CellSummaryFile)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val out = fs.create(p, true)
      try out.write("not a summary".getBytes("UTF-8")) finally out.close()
      assert(SpatialJoin.readCellSummary(spark, table).isEmpty,
        "corrupt sidecar was accepted")
      val got2 = unbounded(probeRows.toDF("pid", "geometry"), table,
          cs = 4.0, k = 1)
        .select($"pid", $"bid").as[(Long, Long)].collect()
      assert(got2.toSet === expected, "corrupt-sidecar fallback diverged")
    } finally SpatialJoin.dropBucketedTable(spark, table)
  }

  test("fine and coarse plans agree, forced both ways") {
    // the door picks its plan from predicted cells/probe; force each
    // side of the threshold and pin identical output — including the
    // distance column and how=left null padding — against brute force
    val rnd = new java.util.Random(0xF1C0)
    val probeRows = EWKBFixtures.heterogeneous(rnd, 70) ++
      Seq((200L, null.asInstanceOf[Array[Byte]]))
    val buildRows = EWKBFixtures.heterogeneous(rnd, 70)
    val table = "graft_unb_plans_store"
    SpatialJoin.dropBucketedTable(spark, table)
    try {
      SpatialJoin.writeSpatialBucketed(
        buildRows.toDF("bid", "geometry"), table, cellSize = 4.0, buckets = 4)
      SpatialJoin.stampCellSummary(spark, table)
      val probe = probeRows.toDF("pid", "geometry")
      val expected = EWKBFixtures.brute(probeRows, buildRows, k = 2,
        exclusive = false)
      val runs = for (cap <- Seq(0, Int.MaxValue)) yield {
        val rows = unbounded(probe, table, cs = 4.0, k = 2, how = "left",
            distanceCol = Some("d"), fineCellCap = cap)
          .select($"pid", $"bid", $"d")
          .as[(Long, Option[Long], Option[Double])].collect()
          .sortBy(r => (r._1, r._2.getOrElse(Long.MinValue)))
        assert(rows.filter(_._2.isDefined)
          .map(r => (r._1, r._2.get)).toSet === expected,
          s"fineCellCap=$cap diverged from brute force")
        assert(rows.exists { case (p, b, _) => p == 200L && b.isEmpty },
          s"fineCellCap=$cap dropped the null-geometry probe under how=left")
        rows.toSeq
      }
      assert(runs(0) === runs(1),
        "coarse and fine plans disagree row-for-row")
      // exclusive escalation must also survive both plans
      val dupRows = (0 until 8).map(i =>
          (500L + i, buildRows.head._2)) // duplicates of build row 0
      val exProbe = Seq((0L, buildRows.head._2)).toDF("pid", "geometry")
      val exTable = "graft_unb_plans_ex"
      SpatialJoin.dropBucketedTable(spark, exTable)
      try {
        SpatialJoin.writeSpatialBucketed(
          (buildRows ++ dupRows).toDF("bid", "geometry"), exTable,
          cellSize = 4.0, buckets = 4)
        val exExpected = EWKBFixtures.brute(Seq((0L, buildRows.head._2)),
          buildRows ++ dupRows, k = 2, exclusive = true)
        for (cap <- Seq(0, Int.MaxValue)) {
          val got = unbounded(exProbe, exTable, cs = 4.0, k = 2,
              exclusive = true, fineCellCap = cap)
            .select($"pid", $"bid").as[(Long, Long)].collect()
          assert(got.toSet === exExpected,
            s"exclusive fineCellCap=$cap diverged")
          assert(got.length === exExpected.size)
        }
      } finally SpatialJoin.dropBucketedTable(spark, exTable)
    } finally SpatialJoin.dropBucketedTable(spark, table)
  }

  test("STOwnsCell: exactly one owning cell per row, nulls fold to false, non-nullable") {
    import org.apache.spark.sql.graft.ColumnBridge
    val rnd = new java.util.Random(0x0C11)
    // multi-cell rects + points on a non-dyadic grid, exploded to every
    // covering cell exactly as the write side does
    val cs = 0.7
    val rows: Seq[(Long, Array[Byte], Long)] = (0 until 40).flatMap { i =>
      val g =
        if (i % 3 == 0) EWKBFixtures.point(rnd.nextInt(31) * 0.3, rnd.nextInt(31) * 0.3)
        else {
          val x = rnd.nextInt(31) * 0.3; val y = rnd.nextInt(31) * 0.3
          EWKBFixtures.rect(x, y, x + 0.5 + rnd.nextInt(4) * 0.6,
            y + 0.5 + rnd.nextInt(4) * 0.6)
        }
      SpatialJoin.gridCellsOf(g, cs).map(c => (i.toLong, g, c))
    } :+ ((999L, null.asInstanceOf[Array[Byte]], 0L))
    val df = rows.toDF("rid", "geometry", SpatialJoin.CellCol)
    val ownsNative = ColumnBridge.column(graft.plans.STOwnsCell(
      ColumnBridge.expression($"geometry"),
      ColumnBridge.expression(col(SpatialJoin.CellCol)), cs))
    val kept = df.filter(ownsNative).select($"rid").as[Long].collect()
    // exactly one copy survives per non-null row — the owner-dedup law
    assert(kept.sorted.toSeq === (0L until 40L),
      "owner filter must keep exactly one copy per stored row")
    // drift pin vs the plain closure form over every exploded copy
    val got = df.select($"rid", col(SpatialJoin.CellCol).as("c"),
        ownsNative.as("o"))
      .as[(Long, Long, Boolean)].collect()
    val byKey = rows.map { case (rid, g, c) =>
      (rid, c) -> graft.plans.GeoNative.ownsEnvelopeCorner(g, c, cs)
    }.toMap
    got.foreach { case (rid, c, o) =>
      assert(o === byKey((rid, c)), s"drift at rid=$rid cell=$c")
    }
    assert(got.find(_._1 == 999L).exists(!_._3),
      "null geometry must fold to false")
    assert(!df.select(ownsNative.as("o")).schema("o").nullable,
      "STOwnsCell must be non-nullable")
  }

  test("probeCensus is rejected on the unbounded door; non-dyadic grid works") {
    val rnd = new java.util.Random(0x0D1C)
    def c(): Double = rnd.nextInt(101) * 0.1
    val probeRows = (0 until 50).map(i => (i.toLong, EWKBFixtures.point(c(), c())))
    val buildRows = (0 until 50).map(i => (i.toLong, EWKBFixtures.point(c(), c())))
    val table = "graft_unb_nd_store"
    SpatialJoin.dropBucketedTable(spark, table)
    try {
      SpatialJoin.writeSpatialBucketed(
        buildRows.toDF("bid", "geometry"), table, cellSize = 0.3, buckets = 2)
      val probe = probeRows.toDF("pid", "geometry")
      val census = SpatialJoin.censusProbe(probe, "geometry",
        cellSize = 0.3, pad = 1.0)
      val err = intercept[IllegalArgumentException] {
        SpatialJoin.sjoinNearestBucketed(spark, probe, table,
          cellSize = 0.3, k = 1, maxDistance = Double.PositiveInfinity,
          probeCensus = Some(census))
      }
      assert(err.getMessage.contains("probeCensus"))
      val expected = EWKBFixtures.brute(probeRows, buildRows, k = 2,
        exclusive = false)
      val got = unbounded(probe, table, cs = 0.3, k = 2)
        .select($"pid", $"bid").as[(Long, Long)].collect()
      assert(got.toSet === expected, "non-dyadic grid diverged")
      assert(got.length === expected.size)
    } finally SpatialJoin.dropBucketedTable(spark, table)
  }
}
