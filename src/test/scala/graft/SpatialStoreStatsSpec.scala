package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.join.{CellSummary, SpatialJoin}

/** Write-time statistics of a bucketed spatial store, read through
  * [[StoreStamp]]: the file fingerprint that makes a stale
  * [[SpatialJoin.stampCellSummary]] stamp, histogram and cell bound
  * unreadable, the summary a small local append carries forward
  * (array-equal to a pass over all rows on the stamped frame), the
  * heavy-cell census skipped on the [[SpatialJoin.MaxCellRowsProp]]
  * bound, the nearest door's job-free handling of a small local probe,
  * and the store location [[SpatialJoin.dropBucketedTable]] clears. */
class SpatialStoreStatsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private type Rows = Seq[(Long, Array[Byte])]

  /** The current statistic `key` of `table`. */
  private def statOf(table: String, key: String): Option[String] =
    StoreStamp.store(spark, table).flatMap(_.stat(key))

  private def histogramOf(table: String): Option[SpatialJoin.CellHist] =
    SpatialJoin.histogramOf(StoreStamp.store(spark, table).get)

  private def write(rows: Rows, table: String, cs: Double,
      mode: String = "overwrite", cellHistogram: Boolean = true): Unit =
    SpatialJoin.writeSpatialBucketed(rows.toDF("bid", "geometry"), table,
      cellSize = cs, buckets = 4, mode = mode, cellHistogram = cellHistogram)

  private def nearest(probe: Rows, table: String, cs: Double, k: Int,
      exclusive: Boolean): Set[(Long, Long)] = {
    val got = SpatialJoin.sjoinNearestBucketed(spark, probe.toDF("pid", "geometry"),
        table, cellSize = cs, k = k, maxDistance = Double.PositiveInfinity,
        exclusive = exclusive)
      .select($"pid", $"bid").as[(Long, Long)].collect()
    assert(got.length === got.toSet.size, "duplicated pairs")
    got.toSet
  }

  /** The unbounded door, plain and `exclusive`, against brute force. */
  private def assertExact(probe: Rows, build: Rows, table: String,
      cs: Double, what: String): Unit =
    for (k <- Seq(1, 2); ex <- Seq(false, true))
      assert(nearest(probe, table, cs, k, ex) ===
        EWKBFixtures.brute(probe, build, k, ex), s"$what: k=$k exclusive=$ex")

  private def assertSameArrays(got: CellSummary, want: CellSummary,
      what: String): Unit = {
    assert((got.x0, got.y0, got.h, got.nx, got.ny, got.x1, got.y1) ===
      (want.x0, want.y0, want.h, want.nx, want.ny, want.x1, want.y1), s"$what: frame")
    assert(got.totalAnchors === want.totalAnchors, s"$what: anchors")
    assert(got.anchorSat.toSeq === want.anchorSat.toSeq, s"$what: anchor table")
    assert(got.coverSat.toSeq === want.coverSat.toSeq, s"$what: coverage table")
    assert(got.occupied.toSeq === want.occupied.toSeq, s"$what: occupied cells")
  }

  private def withStore(table: String)(body: => Unit): Unit = {
    SpatialJoin.dropBucketedTable(spark, table)
    try body finally SpatialJoin.dropBucketedTable(spark, table)
  }

  /** Points and multi-cell rectangles over [0, 100]². */
  private def buildRows(seed: Int, n: Int, base: Long): Rows = {
    val rnd = new java.util.Random(seed)
    (0 until n).map { i =>
      val x = rnd.nextInt(201) * 0.5; val y = rnd.nextInt(201) * 0.5
      val g =
        if (i % 3 == 0) EWKBFixtures.rect(x, y, math.min(100.0, x + 1 + rnd.nextInt(8)),
          math.min(100.0, y + 1 + rnd.nextInt(8)))
        else EWKBFixtures.point(x, y)
      (base + i, g)
    }
  }

  test("a foreign INSERT INTO makes the summary stamp unreadable; the unbounded door stays exact") {
    val table = "graft_stats_foreign"
    withStore(table) {
      val build = buildRows(0xF0, 60, 0L)
      write(build, table, 4.0)
      SpatialJoin.stampCellSummary(spark, table)
      assert(SpatialJoin.readCellSummary(spark, table).isDefined)
      assert(histogramOf(table).isDefined && statOf(table, SpatialJoin.MaxCellRowsProp).isDefined)
      // rows with their cells, written past graft in a region the stamp
      // never covered
      val foreign = (0 until 6).map(i =>
        (900L + i, EWKBFixtures.point(-500.0 - i * 3.0, 777.0)))
      foreign.flatMap { case (id, g) => SpatialJoin.gridCellsOf(g, 4.0).map(c => (id, g, c)) }
        .toDF("bid", "geometry", SpatialJoin.CellCol)
        .createOrReplaceTempView("graft_stats_foreign_rows")
      spark.sql(s"INSERT INTO $table SELECT bid, geometry, ${SpatialJoin.CellCol} " +
        "FROM graft_stats_foreign_rows")
      assert(SpatialJoin.readCellSummary(spark, table).isEmpty,
        "a stamp that predates a foreign write was accepted")
      assert(histogramOf(table).isEmpty, "a histogram that predates a foreign write was accepted")
      assert(statOf(table, SpatialJoin.MaxCellRowsProp).isEmpty,
        "a cell bound that predates a foreign write was accepted")
      val probe = Seq((0L, EWKBFixtures.point(-490.0, 790.0)),
        (1L, EWKBFixtures.point(50.0, 50.0)))
      val all = build ++ foreign
      assert(EWKBFixtures.brute(probe, all, 1, exclusive = false).exists(_._2 >= 900L),
        "fixture sanity: a probe's nearest row is a foreign one")
      for (k <- Seq(1, 2))
        assert(nearest(probe, table, 4.0, k, exclusive = false) ===
          EWKBFixtures.brute(probe, all, k, exclusive = false), s"k=$k")
    }
  }

  test("dropBucketedTable clears the stale location of a db-qualified store") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_stats_db")
    val table = "graft_stats_db.pts"
    try {
      SpatialJoin.dropBucketedTable(spark, table)
      // a store a previous session left on disk: the location saveAsTable
      // claims for graft_stats_db.pts, holding a part file
      val dbLoc = spark.sessionState.catalog.getDatabaseMetadata("graft_stats_db").locationUri
      val stale = new java.io.File(new java.io.File(dbLoc), "pts")
      assert(stale.mkdirs() || stale.isDirectory)
      java.nio.file.Files.write(new java.io.File(stale, "part-00000-stale.parquet").toPath,
        "stale".getBytes("UTF-8"))
      SpatialJoin.dropBucketedTable(spark, table)
      assert(!stale.exists(), s"dropBucketedTable left $stale behind")
      write(buildRows(0xD8, 10, 0L), table, 4.0)
      assert(spark.table(table).select($"bid").distinct().count() === 10L)
    } finally {
      SpatialJoin.dropBucketedTable(spark, table)
      spark.sql("DROP DATABASE IF EXISTS graft_stats_db CASCADE")
    }
  }

  test("local appends merge the summary: array-equal to a pass on the stamped frame") {
    val table = "graft_stats_merge"
    withStore(table) {
      val rnd = new java.util.Random(0x3E7)
      val probe = (0 until 30).map(i => (i.toLong,
        EWKBFixtures.point(rnd.nextInt(241) * 0.5 - 10, rnd.nextInt(241) * 0.5 - 10)))
      var all = buildRows(0xA0, 80, 0L)
      write(all, table, 4.0)
      SpatialJoin.stampCellSummary(spark, table)
      val stamped = SpatialJoin.readCellSummary(spark, table).get
      val frame = stamped.frame
      def appendAndCheck(batch: Rows, what: String): Option[CellSummary] = {
        write(batch, table, 4.0, mode = "append")
        all = all ++ batch
        assertExact(probe, all, table, 4.0, what)
        SpatialJoin.readCellSummary(spark, table)
      }
      // inside the data bbox: points and a rectangle
      val inside = appendAndCheck(Seq((1000L, EWKBFixtures.point(20.5, 30.25)),
        (1001L, EWKBFixtures.rect(40.0, 40.0, 47.5, 44.0)),
        (1002L, EWKBFixtures.point(20.5, 30.25))), "inside the bbox")
      assert(inside.isDefined, "an in-frame local append dropped the stamp")
      assertSameArrays(inside.get,
        CellSummary.computeOn(all.toDF("bid", "geometry"), "geometry", frame), "inside the bbox")
      // past the data bbox but inside the one-cell headroom (the pad is
      // about one cell wide)
      val q = frame.h / 4
      val headroom = appendAndCheck(Seq((1100L, EWKBFixtures.point(frame.x1 - q, 50.0)),
        (1101L, EWKBFixtures.point(frame.x0 + q, frame.y1 - q))), "in the headroom")
      assert(headroom.isDefined, "a headroom append dropped the stamp")
      assertSameArrays(headroom.get,
        CellSummary.computeOn(all.toDF("bid", "geometry"), "geometry", frame), "in the headroom")
      // past the frame: the stamp goes unreadable, and stampCellSummary
      // recomputes it over every row
      assert(appendAndCheck(Seq((1200L, EWKBFixtures.point(140.0, 20.0))),
        "past the frame").isEmpty, "an out-of-frame append kept a stamp")
      SpatialJoin.stampCellSummary(spark, table)
      assertSameArrays(SpatialJoin.readCellSummary(spark, table).get,
        CellSummary.compute(all.toDF("bid", "geometry"), "geometry").get, "past the frame")
      assertExact(probe, all, table, 4.0, "re-stamped")
    }
  }

  test("a local append with no usable geometry leaves a current summary stamp as it is") {
    val table = "graft_stats_empty_batch"
    withStore(table) {
      val build = buildRows(0xA8, 40, 0L)
      write(build, table, 4.0)
      SpatialJoin.stampCellSummary(spark, table)
      val before = SpatialJoin.readCellSummary(spark, table).get
      // no row of this batch has a cell, so the write adds no part file
      // and the stamp needs no merge to stay current
      write(Seq((700L, null: Array[Byte]), (701L, null: Array[Byte])), table, 4.0,
        mode = "append")
      val after = SpatialJoin.readCellSummary(spark, table)
      assert(after.isDefined, "an append that wrote no row dropped the stamp")
      assertSameArrays(after.get, before, "no usable geometry")
      val probe = Seq((0L, EWKBFixtures.point(12.0, 80.0)), (1L, EWKBFixtures.point(99.0, 1.0)))
      assertExact(probe, build, table, 4.0, "no usable geometry")
    }
  }

  test("a local in-frame append plus stampCellSummary runs at most 2 jobs; out of frame recomputes") {
    val table = "graft_stats_append_jobs"
    withStore(table) {
      write(buildRows(0xB0, 80, 0L), table, 4.0)
      SpatialJoin.stampCellSummary(spark, table)
      val (_, jobs) = SparkJobs.jobsOf(spark, "stats-append-in-frame") {
        write(Seq((500L, EWKBFixtures.point(10.0, 10.0))), table, 4.0, mode = "append")
        SpatialJoin.stampCellSummary(spark, table)
      }
      // the write's own jobs; no census, no summary pass (it ran 5 when
      // every append re-measured both)
      assert(jobs.size <= 2, jobs.mkString("\n---\n"))
      assert(!jobs.exists(_.contains("CellSummary")), jobs.mkString("\n---\n"))
      val (_, outJobs) = SparkJobs.jobsOf(spark, "stats-append-out-of-frame") {
        write(Seq((501L, EWKBFixtures.point(500.0, 10.0))), table, 4.0, mode = "append")
        assert(SpatialJoin.readCellSummary(spark, table).isEmpty)
        SpatialJoin.stampCellSummary(spark, table)
      }
      assert(outJobs.exists(_.contains("CellSummary")),
        "an out-of-frame append did not recompute the summary")
      assert(SpatialJoin.readCellSummary(spark, table).isDefined)
    }
  }

  test("an overwrite under the histogram floor runs no census and stamps the census's payload") {
    val table = "graft_stats_overwrite"
    withStore(table) {
      // 120 rows, some sharing cells: the bound (120) stays under the floor
      val rows = buildRows(0xC0, 120, 0L)
      val (_, jobs) = SparkJobs.jobsOf(spark, "stats-overwrite") {
        write(rows, table, 4.0)
      }
      assert(!jobs.exists(_.contains("heavyCellCensus")), jobs.mkString("\n---\n"))
      val skipped = (statOf(table, SpatialJoin.CellHistogramProp),
        statOf(table, SpatialJoin.MaxCellRowsProp))
      assert(skipped._2.contains("120"))
      // the census on the same rows: the same histogram payload, and the
      // exact largest cell as the bound
      val (_, censusJobs) = SparkJobs.jobsOf(spark, "stats-census") {
        SpatialJoin.stampCellHistogram(spark, table)
      }
      assert(censusJobs.exists(_.contains("heavyCellCensus")))
      val measured = statOf(table, SpatialJoin.CellHistogramProp)
      assert(measured === skipped._1)
      assert(measured.contains(""))
      val largest = spark.table(table).groupBy(col(SpatialJoin.CellCol)).count()
        .agg(max($"count")).head().getLong(0)
      assert(largest > 1, "fixture sanity: some cell holds several rows")
      assert(statOf(table, SpatialJoin.MaxCellRowsProp).contains(largest.toString))
    }
  }

  test("a cell bound pushed up to the floor runs the census again") {
    val table = "graft_stats_floor"
    withStore(table) {
      def inOneCell(n: Int, base: Long): Rows =
        (0 until n).map(i => (base + i, EWKBFixtures.point(1.0 + i * 0.001, 1.0)))
      def census(rows: Rows): Seq[String] =
        SparkJobs.jobsOf(spark, "stats-floor")(
          write(rows, table, 4.0, mode = "append"))._2
          .filter(_.contains("heavyCellCensus"))
      write(inOneCell(200, 0L), table, 4.0)
      assert(statOf(table, SpatialJoin.MaxCellRowsProp).contains("200"))
      assert(census(inOneCell(40, 1000L)).isEmpty, "240 < 256: no census")
      assert(statOf(table, SpatialJoin.MaxCellRowsProp).contains("240"))
      assert(statOf(table, SpatialJoin.CellHistogramProp).contains(""))
      assert(census(inOneCell(20, 2000L)).nonEmpty, "260 >= 256: the census runs")
      assert(statOf(table, SpatialJoin.MaxCellRowsProp).contains("260"))
      val hist = SpatialJoin.parseCellHistogram(statOf(table, SpatialJoin.CellHistogramProp).get)
      assert(hist.cells.values.toSeq === Seq(260L) && !hist.truncated)
      // a batch that is not local leaves no bound to add to: census
      val shuffled = inOneCell(5, 3000L).toDF("bid", "geometry").repartition(2)
      val (_, jobs) = SparkJobs.jobsOf(spark, "stats-floor-nonlocal")(
        SpatialJoin.writeSpatialBucketed(shuffled, table, cellSize = 4.0,
          buckets = 4, mode = "append"))
      assert(jobs.exists(_.contains("heavyCellCensus")))
      assert(statOf(table, SpatialJoin.MaxCellRowsProp).contains("265"))
    }
  }

  test("cellHistogram = false clears the cell bound with the histogram") {
    val table = "graft_stats_nohist"
    withStore(table) {
      write(buildRows(0xE0, 20, 0L), table, 4.0)
      assert(statOf(table, SpatialJoin.MaxCellRowsProp).isDefined)
      write(buildRows(0xE1, 5, 100L), table, 4.0, mode = "append", cellHistogram = false)
      assert(statOf(table, SpatialJoin.MaxCellRowsProp).isEmpty)
      assert(statOf(table, SpatialJoin.CellHistogramProp).isEmpty)
      // and the next append, with nothing to add to, measures again
      write(buildRows(0xE2, 5, 200L), table, 4.0, mode = "append")
      assert(statOf(table, SpatialJoin.MaxCellRowsProp).isDefined)
    }
  }

  test("the nearest door of a 64-row local probe runs no job before its action") {
    val table = "graft_stats_probe"
    withStore(table) {
      val build = buildRows(0xF5, 80, 0L)
      write(build, table, 4.0)
      SpatialJoin.stampCellSummary(spark, table)
      val rnd = new java.util.Random(0xF6)
      val probe = (0 until 64).map(i => (i.toLong,
        EWKBFixtures.point(rnd.nextInt(201) * 0.5, rnd.nextInt(201) * 0.5)))
      val (door, jobs) = SparkJobs.jobsOf(spark, "stats-probe-door") {
        SpatialJoin.sjoinNearestBucketed(spark, probe.toDF("pid", "geometry"), table,
          cellSize = 4.0, k = 1, maxDistance = Double.PositiveInfinity)
      }
      assert(jobs.isEmpty, jobs.mkString("\n---\n"))
      assert(door.select($"pid", $"bid").as[(Long, Long)].collect().toSet ===
        EWKBFixtures.brute(probe, build, 1, exclusive = false))
    }
  }

  test("a small local probe is numbered on the driver, once; past the bound it is not") {
    val frame: DataFrame = Seq((7L, "a"), (3L, "b"), (5L, "c")).toDF("k", "v")
    val (indexed, jobs) = SparkJobs.jobsOf(spark, "stats-local-index")(
      SpatialJoin.localIndexed(frame, "__i").get)
    assert(jobs.isEmpty, jobs.mkString("\n---\n"))
    val rows = indexed.as[(Long, String, Long)].collect()
    assert(rows.toSeq === Seq((7L, "a", 0L), (3L, "b", 1L), (5L, "c", 2L)))
    assert(indexed.join(indexed.select($"__i", $"k".as("k2")), "__i")
      .filter($"k" =!= $"k2").isEmpty, "two reads saw different ids")
    // 256 rows (the ingest batch) is the largest local frame read on the
    // driver; one more takes the checkpoint
    assert(SpatialJoin.localIndexed((0L until 256L).toDF("k"), "__i").isDefined)
    assert(SpatialJoin.localIndexed((0L until 257L).toDF("k"), "__i").isEmpty)
  }
}
