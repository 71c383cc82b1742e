package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions._

/** GeoFusionRule / STGeoFused: chained geometry ops in Project lists fuse
  * into one expression (parse inputs once, no interior EWKB round trips)
  * with results byte-identical to the unfused ScalaUDF chain. */
class FusionSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Did the rule fuse a chain? The Column API's hot ops are one-call
    * kernel expressions (`st_geo_fused(1 ops, …)`) before any rule runs;
    * a fused chain holds two kernels or more. */
  private def fusesChain(plan: String): Boolean =
    """st_geo_fused\((\d+) ops""".r.findAllMatchIn(plan).exists(_.group(1).toInt >= 2)

  /** Evaluate `df` with fusion on and off; assert identical rows (order
    * preserved — inputs are small single-partition frames). */
  private def assertTiersAgree(build: => DataFrame): Unit = {
    spark.conf.set("spark.graft.fuse", "true")
    val fusedPlan = build.queryExecution.optimizedPlan.toString
    assert(fusesChain(fusedPlan), s"fusion did not fire:\n$fusedPlan")
    val fused = build.collect()
    spark.conf.set("spark.graft.fuse", "false")
    try {
      val unfusedPlan = build.queryExecution.optimizedPlan.toString
      assert(!fusesChain(unfusedPlan), "conf off but rule fired")
      val unfused = build.collect()
      assert(fused.length == unfused.length)
      def valEq(x: Any, y: Any): Boolean = (x, y) match {
        case (u: Array[Byte], v: Array[Byte]) => java.util.Arrays.equals(u, v)
        case (u: Double, v: Double) => java.lang.Double.compare(u, v) == 0
        case (u: scala.collection.Seq[_], v: scala.collection.Seq[_]) =>
          u.length == v.length && u.zip(v).forall { case (e, f) => valEq(e, f) }
        case (u, v) => u == v
      }
      fused.zip(unfused).foreach { case (a, b) =>
        assert(a.length == b.length)
        (0 until a.length).foreach { i =>
          assert(valEq(a.get(i), b.get(i)), s"mismatch at col $i: ${a.get(i)} vs ${b.get(i)}")
        }
      }
    } finally spark.conf.set("spark.graft.fuse", "true")
  }

  // spark.range keeps a Range leaf under the Project (a local Seq would be
  // folded whole by ConvertToLocalRelation before the rule can be observed)
  private def rects: DataFrame = {
    val k = col("id") + 1
    spark.range(64).select(k.as("k"),
      st_rectangle(k * 2.0, lit(0.0), k * 2.0 + 3.0, lit(3.0)).as("g"),
      st_rectangle(k * 2.0 + 1.0, lit(1.0), k * 2.0 + 5.0, lit(4.0)).as("h"))
  }

  test("scalar chain x(centroid(g)) fuses and matches the UDF tier") {
    assertTiersAgree(rects.select(st_x(st_centroid(col("g"))).as("cx")))
  }

  test("Column kernel expressions keep the UDF conventions: empties, dwithin, decimals") {
    // The Column API's one-call kernel expressions against the SQL
    // surface's ScalaUDFs, an independent lift of the same kernels.
    // Conventions pinned: empty→false predicates, dwithin's strict `<` via
    // nextDown, NaN distance on empty, centroid/buffer SRID carry-over,
    // null in → null out, and DecimalType distances (SQL `0.5` is a
    // Decimal) cast instead of crashing eval/codegen. Fusion is off so
    // neither side is rewritten into a chain.
    import spark.implicits._
    val fixtures = Seq(
      ("POINT (1 1)", "POINT (1 1)"),
      ("POINT EMPTY", "POINT (1 1)"),
      ("POINT EMPTY", "POINT EMPTY"),
      ("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))", "POINT (2 2)"),
      ("POINT (0 0)", "POINT (3 4)"), // distance exactly 5
      (null, "POINT (1 1)")
    ).toDF("wa", "wb")
      .select(st_geomfromtext($"wa").as("a"), st_geomfromtext($"wb").as("b"))
      .cache()
    spark.conf.set("spark.graft.fuse", "false")
    try {
      val cmp = fixtures.select(
        st_intersects($"a", $"b"), expr("st_intersects(a, b)"),
        st_contains($"a", $"b"), expr("st_contains(a, b)"),
        st_dwithin($"a", $"b", lit(5.0)), expr("st_dwithin(a, b, 5.0)"),
        st_dwithin($"a", $"b", lit(BigDecimal("5.1"))), expr("st_dwithin(a, b, 5.1)"),
        st_distance($"a", $"b"), expr("st_distance(a, b)"),
        st_aswkt(st_centroid($"a")), expr("st_aswkt(st_centroid(a))"),
        st_aswkt(st_envelope($"a")), expr("st_aswkt(st_envelope(a))"),
        graft.functions.st_srid(st_centroid(st_set_srid($"a", lit(4326)))),
        expr("st_srid(st_centroid(st_set_srid(a, 4326)))"),
        graft.functions.st_srid(
          st_buffer(st_set_srid($"a", lit(4326)), lit(BigDecimal("0.5")))),
        expr("st_srid(st_buffer(st_set_srid(a, 4326), 0.5))"),
        $"a".isNull).collect()
      assert(cmp.length === 6)
      cmp.foreach { r =>
        (0 until 18 by 2).foreach { i =>
          val (c, u) = (r.get(i), r.get(i + 1))
          val same = (c, u) match {
            case (x: Double, y: Double) => x == y || (x.isNaN && y.isNaN)
            case _ => c == u
          }
          assert(same, s"column $i drifted from the UDF: $c vs $u in $r")
        }
        // null in → null out on the Column side too
        if (r.getBoolean(18)) (0 until 18 by 2).foreach(i => assert(r.isNullAt(i), s"$i: $r"))
        else {
          assert(r.getInt(14) === 4326, s"centroid SRID dropped: $r")
          assert(r.getInt(16) === 4326, s"buffer SRID dropped: $r")
        }
      }
      // empty → false, and NaN distance on empty
      val empties = cmp.filter(r => !r.getBoolean(18) && r.getString(10) == "POINT EMPTY")
      assert(empties.length === 2)
      empties.foreach { r =>
        assert(!r.getBoolean(0) && !r.getBoolean(2) && !r.getBoolean(4) && !r.getBoolean(6))
        assert(r.getDouble(8).isNaN)
      }
      // the exact-distance row pins strict `<`: 5.0 → false, 5.1 → true
      val exact = cmp.filter(r => !r.getBoolean(18) && r.getString(10) == "POINT (0 0)")
      assert(exact.length === 1 && !exact(0).getBoolean(4) && exact(0).getBoolean(6))
    } finally {
      spark.conf.set("spark.graft.fuse", "true")
      fixtures.unpersist()
    }
  }

  test("Column kernel expressions fail analysis on a non-BINARY geometry") {
    val df = spark.range(2).select(col("id").cast("double").as("x"))
    val e = intercept[org.apache.spark.sql.AnalysisException](
      df.select(st_area(col("x"))).collect())
    assert(e.getMessage.contains("st_area") && e.getMessage.contains("BINARY"), e.getMessage)
    val e2 = intercept[org.apache.spark.sql.AnalysisException](
      df.select(st_dwithin(col("x"), col("x"), lit(1.0))).collect())
    assert(e2.getMessage.contains("st_dwithin"), e2.getMessage)
  }

  test("measure-over-overlay chain (native root) fuses and matches") {
    assertTiersAgree(rects.select(
      st_area(st_intersection(col("g"), col("h"))).as("ia"),
      st_area(st_buffer(col("g"), lit(0.5))).as("ba"),
      st_length(st_boundary(col("g"))).as("lb")))
  }

  test("st_buffer 2-arg lowers to a one-call kernel expression and matches the UDF tier") {
    // with fusion off, the 2-arg form is a one-call kernel expression (not
    // a UDF); with fusion on it joins chains like any kernel (asserted
    // below by assertTiersAgree tests that compose st_buffer)
    spark.conf.set("spark.graft.fuse", "false")
    try {
      val plan = rects.select(st_buffer(col("g"), lit(0.5)).as("b"))
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("st_geo_fused(1 ops"), s"2-arg st_buffer not a kernel call:\n$plan")
    } finally spark.conf.set("spark.graft.fuse", "true")
    // byte-identical to the explicit-kwargs UDF tier at the defaults, and
    // a decimal distance is cast like a double one
    val both = rects.select(
      st_buffer(col("g"), lit(0.5)).as("n"),
      st_buffer(col("g"), lit(0.5), lit(8), lit("round"), lit("round"),
        lit(5.0), lit(false)).as("u"),
      st_buffer(col("g"), lit(BigDecimal("0.5"))).as("d")).collect()
    both.foreach { r =>
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1)))
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](2)))
    }
    // SRID carries; null in → null out
    val srid = rects.select(
      graft.functions.st_srid(
        st_buffer(graft.functions.st_set_srid(col("g"), lit(3857)), lit(1.0))).as("s"),
      st_buffer(lit(null).cast("binary"), lit(1.0)).as("z")).collect()
    srid.foreach { r => assert(r.getInt(0) == 3857 && r.isNullAt(1)) }
  }

  test("geometry-rooted chain serializes identically") {
    assertTiersAgree(rects.select(
      st_translate(st_union(col("g"), col("h")), lit(1.5), lit(-2.0)).as("t"),
      st_simplify(st_buffer(st_centroid(col("g")), lit(2.0)), lit(0.5)).as("s")))
  }

  test("constructor leaves fuse into the chain") {
    val k = col("id") + 1
    def df = spark.range(32).select(
      st_area(st_intersection(
        st_rectangle(k * 1.0, lit(0.0), k + 4.0, lit(4.0)),
        st_buffer(st_point(k + 2.0, lit(2.0)), lit(1.25)))).as("a"))
    assertTiersAgree(df)
  }

  test("boolean and string roots fuse (predicates, relate)") {
    assertTiersAgree(rects.select(
      st_intersects(st_buffer(col("g"), lit(0.25)), col("h")).as("i"),
      st_dwithin(st_centroid(col("g")), st_centroid(col("h")), lit(5.0)).as("d"),
      st_relate(st_envelope(col("g")), col("h")).as("r")))
  }

  test("duplicate input parsed once via semantic dedup, result unchanged") {
    assertTiersAgree(rects.select(
      st_area(st_union(col("g"), col("g"))).as("self"),
      st_distance(st_centroid(col("g")), st_centroid(col("g"))).as("z")))
  }

  test("null inputs propagate to null through the fused chain") {
    def df = rects.select(when(col("k") % 2 === 0, col("g")).as("g"), col("h"))
      .select(st_area(st_intersection(col("g"), col("h"))).as("a"),
        st_x(st_centroid(col("g"))).as("cx"))
    assertTiersAgree(df)
    spark.conf.set("spark.graft.fuse", "true")
    val rows = df.collect()
    assert(rows.count(_.isNullAt(0)) == 32)
    assert(rows.count(_.isNullAt(1)) == 32)
  }

  test("srid inherited through fused chain (header check on output bytes)") {
    import spark.implicits._
    val df = Seq("SRID=4326;POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))").toDF("w")
      .repartition(1)
      .select(graft.functions.st_srid(
        st_centroid(st_buffer(st_geomfromewkt(col("w")), lit(1.0)))).as("srid"))
    spark.conf.set("spark.graft.fuse", "true")
    val plan = df.queryExecution.optimizedPlan.toString
    assert(fusesChain(plan))
    assert(df.collect().head.getInt(0) == 4326)
  }

  test("SQL-name chains fuse too") {
    rects.createOrReplaceTempView("fusion_rects")
    def df = spark.sql(
      "SELECT st_area(st_symmetric_difference(g, h)) AS sd FROM fusion_rects")
    assertTiersAgree(df)
  }

  test("single ops do not fuse; filter and join conditions stay unfused") {
    spark.conf.set("spark.graft.fuse", "true")
    // one kernel over a plain binary column: no gain, no rewrite (the
    // repartition barrier keeps CollapseProject from inlining the fusable
    // st_rectangle constructor and making this a legitimate 2-op chain)
    val single = rects.repartition(2).select(st_area(col("g")).as("a"))
    assert(!fusesChain(single.queryExecution.optimizedPlan.toString))
    // filter condition keeps its predicate shape (BboxFilterRule contract)
    val filt = rects.filter(st_intersects(col("g"),
      st_geomfromtext(lit("POLYGON ((0 0, 9 0, 9 9, 0 9, 0 0))"))))
    val fplan = filt.queryExecution.optimizedPlan.toString
    assert(!fusesChain(fplan), s"filter condition was fused:\n$fplan")
    // join condition keeps its shape so SpatialJoinStrategy plans it
    val pts = rects.select(col("k").as("p"), st_centroid(col("g")).as("pg"))
    val joined = rects.join(pts, st_contains(col("g"), col("pg")))
    val jplan = joined.queryExecution.executedPlan.toString
    assert(jplan.contains("SpatialJoin "), s"strategy lost to fusion:\n$jplan")
  }

  test("guarded constructors over nullable inputs fuse through the null-guard") {
    // nullable inputs make the analyzer wrap primitive-arg UDFs as
    // `if (isnull(...)) null else st_rectangle(knownnotnull(...))`; the
    // GProg.Guard node fuses straight through that wrapper
    def df = {
      val nk = when(col("id") % 7 =!= 3, col("id") + 1).cast("double")
      spark.range(64).select(
        st_area(st_intersection(
          st_rectangle(nk, lit(0.0), nk + 4.0, lit(3.0)),
          st_rectangle(nk + 2.0, lit(0.0), nk + 6.0, lit(3.0)))).as("ia"))
    }
    spark.conf.set("spark.graft.fuse", "true")
    val plan = df.queryExecution.optimizedPlan.toString
    assert(fusesChain(plan))
    assert(!plan.contains("st_rectangle"), s"constructor not fused through guard:\n$plan")
    assertTiersAgree(df)
    val nNull = df.collect().count(_.isNullAt(0))
    assert(nNull == 9) // ids 3,10,...,59: id%7==3 → null chain output
  }

  test("non-spatial filter conjuncts fuse; spatial conjuncts keep their shape") {
    spark.conf.set("spark.graft.fuse", "true")
    def filt = rects.filter(
      st_intersects(col("g"), st_geomfromtext(lit("POLYGON ((0 0, 200 0, 200 9, 0 9, 0 0))"))) &&
      st_area(st_intersection(col("g"), col("h"))) > lit(1.0))
    val plan = filt.queryExecution.optimizedPlan.toString
    assert(fusesChain(plan), s"area chain in filter did not fuse:\n$plan")
    // the Column API's st_intersects stays a one-call kernel expression
    assert(plan.contains("st_geo_fused(1 ops"), s"spatial conjunct lost its shape:\n$plan")
    spark.conf.set("spark.graft.fuse", "false")
    val expected = try filt.count() finally spark.conf.set("spark.graft.fuse", "true")
    assert(filt.count() == expected)
  }

  test("aggregate input chains fuse") {
    spark.conf.set("spark.graft.fuse", "true")
    def agg = rects.groupBy((col("k") % 4).as("grp"))
      .agg(sum(st_area(st_intersection(col("g"), col("h")))).as("s"))
    val plan = agg.queryExecution.optimizedPlan.toString
    assert(fusesChain(plan), s"agg input chain did not fuse:\n$plan")
    val fused = agg.orderBy(col("grp")).collect().map(_.getDouble(1))
    spark.conf.set("spark.graft.fuse", "false")
    val unfused = try agg.orderBy(col("grp")).collect().map(_.getDouble(1))
      finally spark.conf.set("spark.graft.fuse", "true")
    assert(fused.toSeq == unfused.toSeq)
  }

  test("fused expression compiles under CODEGEN_ONLY (no interpreter fallback)") {
    spark.conf.set("spark.graft.fuse", "true")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val df = rects.select(
        st_area(st_intersection(col("g"), col("h"))).as("ia"),     // double root
        st_translate(st_union(col("g"), col("h")), lit(1.0), lit(1.0)).as("t"), // binary root
        st_intersects(st_buffer(col("g"), lit(0.1)), col("h")).as("i"), // boolean root
        st_relate(st_envelope(col("g")), col("h")).as("r"),         // string root
        st_count_geometries(st_multi(col("g"))).as("n"))            // int root
      assert(fusesChain(df.queryExecution.optimizedPlan.toString))
      assert(df.collect().length == 64)
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("fixture WKT battery: long mixed chain agrees across tiers") {
    import spark.implicits._
    val wkts = Seq(
      "POINT (1 2)", "LINESTRING (0 0, 1 1, 2 0)",
      "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
      "POLYGON ((0 0, 6 0, 6 6, 0 6, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",
      "MULTIPOINT ((0 0), (3 3))", "MULTILINESTRING ((0 0, 2 2), (3 3, 5 5))",
      "MULTIPOLYGON (((0 0, 2 0, 0 2, 0 0)), ((3 3, 5 3, 3 5, 3 3)))",
      "GEOMETRYCOLLECTION (POINT (1 1), LINESTRING (0 0, 2 2))",
      "POLYGON EMPTY", "POINT EMPTY")
    def df = wkts.toDF("w").repartition(1).select(st_geomfromtext(col("w")).as("g"))
    def chained = df.select(
      st_area(st_convex_hull(st_buffer(col("g"), lit(0.75)))).as("a"),
      st_aswkt(st_make_valid(st_envelope(col("g")))).as("w2"),
      st_is_empty(st_boundary(col("g"))).as("be"),
      st_count_geometries(st_multi(col("g"))).as("nm"))
    assertTiersAgree(chained)
  }

  test("constant geometry subtrees fold at runner-compile time, same results") {
    // the st_buffer(st_geomfromtext(lit), …) subtree has only foldable
    // leaves → evaluated once per task instead of per row
    def df = rects.select(
      st_distance(st_centroid(col("g")),
        st_buffer(st_geomfromtext(lit("POINT (50 2)")), lit(1.0))).as("d"),
      st_intersects(col("g"),
        st_geomfromtext(lit("POLYGON ((0 0, 40 0, 40 9, 0 9, 0 0))"))).as("i"))
    assertTiersAgree(df)
  }

  test("window expression inputs fuse") {
    val wspec = org.apache.spark.sql.expressions.Window.partitionBy(col("k") % 4)
    def df = rects.select(col("k"),
      sum(st_area(st_intersection(col("g"), col("h")))).over(wspec).as("s"))
      .orderBy(col("k"))
    assertTiersAgree(df)
  }

  test("array-arg constructors and serializer terminals fuse") {
    def df = rects.select(
      st_length(st_linestring(array(
        array(col("k") * 1.0, lit(0.0)),
        array(col("k") * 1.0 + 3.0, lit(4.0))))).as("len"),
      st_aswkt(st_centroid(col("g"))).as("wkt"),
      st_asgeojson(st_envelope(col("h"))).as("gj"),
      st_aswkt(st_point_on_surface(col("g")), lit(2), lit(false), lit(3),
        lit(false)).as("fmt"))
    assertTiersAgree(df)
  }

  test("default serializer forms fuse with zero interior round trips (plan-level)") {
    // VERDICT r4 #4: the plain st_aswkt / st_asewkt / st_asgeojson forms
    // must be fusion kernels like their kwargs variants — a chain ending in
    // the default serializer should be ONE st_geo_fused with no residual
    // serializer UDF left in the plan.
    def df = rects.select(
      st_aswkt(st_buffer(col("g"), lit(0.5))).as("w"),
      st_asewkt(st_convex_hull(st_centroid(col("g")))).as("e"),
      st_asgeojson(st_envelope(col("h"))).as("j"))
    spark.conf.set("spark.graft.fuse", "true")
    val plan = df.queryExecution.optimizedPlan.toString
    assert(fusesChain(plan), s"default serializers did not fuse:\n$plan")
    assert(!plan.contains("st_aswkt(") && !plan.contains("st_asewkt(") &&
      !plan.contains("st_asgeojson("),
      s"residual serializer UDF outside the fused chain:\n$plan")
    assertTiersAgree(df)
  }

  test("st_cast with a null 'into' literal is null in both tiers") {
    // ADVICE r4: the fused Call short-circuits any NULL arg to NULL; the
    // unfused UDF must match instead of throwing from CastImpl.cast.
    def df = rects.select(
      st_cast(st_envelope(col("g")), lit(null).cast("string")).as("c"))
    spark.conf.set("spark.graft.fuse", "true")
    val fused = df.collect()
    spark.conf.set("spark.graft.fuse", "false")
    try {
      val unfused = df.collect()
      assert(fused.forall(_.isNullAt(0)) && unfused.forall(_.isNullAt(0)))
    } finally spark.conf.set("spark.graft.fuse", "true")
  }

  test("array-output accessors and kwargs serializers fuse as chain terminals") {
    def df = rects.select(
      st_bounds(st_buffer(col("g"), lit(0.5))).as("bb"),
      st_coordinates(st_envelope(col("h"))).as("coords"),
      st_parts(st_multi(col("g"))).as("parts"),
      st_interior_rings(st_convex_hull(col("g"))).as("rings"),
      st_aswkb(st_centroid(col("g")), lit(2), lit(true), lit(false)).as("wkb"),
      st_asgeojson(st_point_on_surface(col("g")), lit(2)).as("gj2"),
      // bytes-output kernel feeding a geometry arg: the builder must insert
      // a Parse at the boundary (the geo_parse oracle shape)
      graft.functions.st_x(graft.functions.st_geomfromwkb(st_aswkb(
        st_centroid(col("g")), lit(2), lit(false), lit(false)))).as("rt_x"))
    spark.conf.set("spark.graft.fuse", "true")
    val plan = df.queryExecution.optimizedPlan.toString
    assert(fusesChain(plan), s"array-output chains did not fuse:\n$plan")
    assertTiersAgree(df)
  }

  test("indexed accessors, cast, xy predicates, relate_pattern, to_srid fuse") {
    import spark.implicits._
    def ring = Seq("SRID=4326;POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))")
      .toDF("w").repartition(1)
      .select(st_geomfromewkt(col("w")).as("g"))
    def df = ring.select(
      st_aswkt(st_get_interior_ring(st_make_valid(col("g")), lit(0))).as("ir"),
      st_aswkt(st_get_point(st_exterior_ring(col("g")), lit(2))).as("p2"),
      st_aswkt(st_cast(st_envelope(col("g")), lit("multipolygon"))).as("mc"),
      st_relate_pattern(st_envelope(col("g")), st_centroid(col("g")), lit("T*F**FF**")).as("rp"),
      st_intersects_xy(st_buffer(col("g"), lit(0.1)), lit(1.0), lit(1.0)).as("ix"),
      st_contains_xy(st_convex_hull(col("g")), lit(3.0), lit(3.0)).as("cx"),
      graft.functions.st_srid(st_to_srid(st_centroid(col("g")), lit(3857))).as("reproj"))
    assertTiersAgree(df)
  }

  test("prepared fast path: constant-operand predicates agree across tiers") {
    // constant side (one per orientation); the fused tier probes a
    // PreparedGeometry built once at runner-compile time
    def poly = st_geomfromtext(lit("POLYGON ((9.5 -0.5, 40 -0.5, 40 3.5, 9.5 3.5, 9.5 -0.5))"))
    def df = rects.select(
      st_intersects(col("g"), poly).as("i1"),
      st_intersects(poly, col("g")).as("i2"),
      st_contains(poly, col("g")).as("c"),
      st_within(col("g"), poly).as("w"),
      st_covers(poly, col("g")).as("cv"),
      st_covered_by(col("g"), poly).as("cb"),
      st_contains_properly(poly, col("g")).as("cp"))
    assertTiersAgree(df)
  }

  test("prepared fast path: empty and GeometryCollection operands keep kernel semantics") {
    def poly = st_geomfromtext(lit("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0))"))
    // per-row operands cycle point / empty / pure GC / linestring: empties
    // stay false, GCs take the RelateNG fallback (prepared rejects them)
    def wkt = when(col("id") % 4 === 0,
        concat(lit("POINT ("), col("id").cast("string"), lit(" 1)")))
      .when(col("id") % 4 === 1, lit("POLYGON EMPTY"))
      .when(col("id") % 4 === 2,
        lit("GEOMETRYCOLLECTION (POINT (1 1), LINESTRING (0 0, 2 2))"))
      .otherwise(concat(lit("LINESTRING (0 0, "), col("id").cast("string"), lit(" 4)")))
    def df = TestSpark.spark.range(16).select(
      st_intersects(st_geomfromtext(wkt), poly).as("i"),
      st_within(st_geomfromtext(wkt), poly).as("w"),
      st_contains(poly, st_geomfromtext(wkt)).as("c"))
    assertTiersAgree(df)
    // constant empty / constant GC operands never take the prepared path
    def degenerate = rects.select(
      st_intersects(col("g"), st_geomfromtext(lit("POLYGON EMPTY"))).as("ie"),
      st_intersects(col("g"),
        st_geomfromtext(lit("GEOMETRYCOLLECTION (POINT (21 1))"))).as("ig"))
    assertTiersAgree(degenerate)
  }
}
