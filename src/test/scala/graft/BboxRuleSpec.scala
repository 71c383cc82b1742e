package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions._

/** BboxFilterRule: spatial filter predicates over frames carrying the
  * covering column get a scan-prunable bbox conjunct; semantics unchanged. */
class BboxRuleSpec extends AnyFunSuite {

  // the shared test session is built with GraftExtensions (TestSpark)
  private lazy val spark: SparkSession = TestSpark.spark

  private val path = "/tmp/graft_test_rule_pq"

  private def writeData(): Unit = {
    import spark.implicits._
    val df = (1 to 1000).toDF("k")
      .select(col("k"), st_rectangle(col("k") * 10.0, lit(0.0),
        col("k") * 10.0 + 5.0, lit(5.0)).as("geometry"))
    graft.io.GeoIO.writeGeoParquet(df, path) // writes __geo_bbox covering
  }

  private def probeLit = {
    // a polygon overlapping rects k=10..12 (x in [100, 125])
    val wkb = spark.range(1).select(
      st_aswkb(st_rectangle(lit(100.0), lit(0.0), lit(125.0), lit(5.0)),
        lit(2), lit(false), lit(false))).collect()(0).getAs[Array[Byte]](0)
    lit(wkb)
  }

  test("rule conjoins a bbox range predicate that reaches the parquet scan") {
    writeData()
    val df = spark.read.parquet(path)
      .filter(st_intersects(col("geometry"), graft.functions.st_geomfromwkb(probeLit)))
    val optimized = df.queryExecution.optimizedPlan.toString
    // the probe envelope is [100,125]×[0,5] → exact literals in the conjunct
    assert(optimized.contains("xmin <= 125.0") && optimized.contains("xmax >= 100.0"),
      s"bbox conjunct missing from optimized plan:\n$optimized")
    // the range predicate must be pushed into the scan as a data filter
    val physical = df.queryExecution.executedPlan.toString
    val pushed = physical.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("__geo_bbox.xmin") || pushed.contains("xmin"),
      s"no pushed bbox filter:\n$physical")
  }

  test("results are identical with and without the covering column") {
    import spark.implicits._
    writeData()
    val pred = (g: org.apache.spark.sql.Column) =>
      st_intersects(g, graft.functions.st_geomfromwkb(probeLit))
    val withBbox = spark.read.parquet(path)
      .filter(pred(col("geometry"))).select("k").as[Int].collect().toSet
    val plain = spark.read.parquet(path).drop(graft.io.GeoIO.BboxColumn)
      .filter(pred(col("geometry"))).select("k").as[Int].collect().toSet
    assert(withBbox === plain)
    assert(withBbox === Set(10, 11, 12))
  }

  test("after a join, a foreign bbox column is never paired with the other side's geometry") {
    import spark.implicits._
    writeData() // left side: rects with covering column at `path`
    val right = (1 to 50).toDF("p")
      .select(col("p"), st_point(col("p") * 10.0 + 2.0, lit(2.0)).as("pgeom"))
    // join keeps the LEFT frame's __geo_bbox in scope; filtering on the
    // RIGHT side's geometry must NOT gain a conjunct from the left's bbox
    val joined = spark.read.parquet(path).join(right, col("k") === col("p"))
      .filter(st_intersects(col("pgeom"), graft.functions.st_geomfromwkb(probeLit)))
    val opt = joined.queryExecution.optimizedPlan.toString
    assert(!opt.contains("xmin <= 125.0"),
      s"cross-relation bbox conjunct must not fire:\n$opt")
    // correctness: points p=10..12 fall in [100,125]
    assert(joined.select("p").as[Int].collect().toSet === Set(10, 11, 12))
  }

  test("Column kernel expressions agree with the UDF surface") {
    graft.Geo.registerAll(spark)
    val df = spark.range(1, 101).select(col("id").cast("int").as("k"))
      .select(col("k"), st_rectangle(col("k") * 4.0, lit(0.0),
        col("k") * 4.0 + 3.0, lit(2.0)).as("g"))
    val probe = st_point((col("k") * 4 + 1).cast("double"), lit(1.0))
    val rows = df.select(col("k"),
      expr("st_area(g)").as("a_udf"), st_area(col("g")).as("a_nat"),
      expr("st_length(g)").as("l_udf"), st_length(col("g")).as("l_nat"),
      expr("st_intersects(g, st_point(CAST(k*4+1 AS DOUBLE), 1.0d))").as("i_udf"),
      st_intersects(col("g"), probe).as("i_nat")).collect()
    rows.foreach { r =>
      assert(r.getDouble(1) === r.getDouble(2), s"area k=${r.getInt(0)}")
      assert(r.getDouble(3) === r.getDouble(4), s"length k=${r.getInt(0)}")
      assert(r.getBoolean(5) === r.getBoolean(6), s"intersects k=${r.getInt(0)}")
    }
    // nulls propagate
    val n = spark.range(1).select(st_area(lit(null).cast("binary")).as("a")).collect()(0)
    assert(n.isNullAt(0))
    // the Column form is the kernel expression, not a ScalaUDF node (the
    // repartition keeps the st_rectangle constructor from fusing into it)
    val plan = df.repartition(2).select(st_area(col("g"))).queryExecution.executedPlan.toString
    assert(plan.contains("st_geo_fused(1 ops"), s"unexpected plan:\n$plan")
  }

  test("predicates under NOT / OR gain no bbox conjunct and keep all their rows") {
    import spark.implicits._
    writeData()
    val pred = st_intersects(col("geometry"), graft.functions.st_geomfromwkb(probeLit))

    val negated = spark.read.parquet(path).filter(!pred)
    val optNeg = negated.queryExecution.optimizedPlan.toString
    assert(!optNeg.contains("xmin <= 125.0"),
      s"bbox conjunct must not fire under NOT:\n$optNeg")
    // !intersects keeps everything EXCEPT k=10..12 — a top-level bbox
    // conjunct would have wrongly dropped all 997 of these rows
    assert(negated.select("k").as[Int].collect().toSet ===
      (1 to 1000).toSet -- Set(10, 11, 12))

    val disjunct = spark.read.parquet(path).filter(pred || col("k") === 500)
    val optOr = disjunct.queryExecution.optimizedPlan.toString
    assert(!optOr.contains("xmin <= 125.0"),
      s"bbox conjunct must not fire under OR:\n$optOr")
    assert(disjunct.select("k").as[Int].collect().toSet === Set(10, 11, 12, 500))

    // conjunction still fires: the spatial predicate IS a top-level conjunct
    val conj = spark.read.parquet(path).filter(pred && col("k") > 5)
    val optAnd = conj.queryExecution.optimizedPlan.toString
    assert(optAnd.contains("xmin <= 125.0"),
      s"bbox conjunct should fire on a top-level conjunct:\n$optAnd")
    assert(conj.select("k").as[Int].collect().toSet === Set(10, 11, 12))
  }

  test("a second geometry column is never pruned by the primary column's bbox") {
    import spark.implicits._
    val path2 = "/tmp/graft_test_rule_pq_two_geoms"
    // primary `geometry` lives at x∈[10k, 10k+5]; secondary `geom2` is a
    // point at x=k (completely different envelopes)
    val df = (1 to 1000).toDF("k")
      .select(col("k"),
        st_rectangle(col("k") * 10.0, lit(0.0), col("k") * 10.0 + 5.0, lit(5.0)).as("geometry"),
        st_point(col("k").cast("double"), lit(2.0)).as("geom2"))
    graft.io.GeoIO.writeGeoParquet(df, path2) // covering column derives from `geometry`
    val filtered = spark.read.parquet(path2)
      .filter(st_intersects(col("geom2"), graft.functions.st_geomfromwkb(probeLit)))
    val opt = filtered.queryExecution.optimizedPlan.toString
    assert(!opt.contains("xmin <= 125.0"),
      s"bbox over `geometry` must not prune a filter on `geom2`:\n$opt")
    // geom2 points with x in [100,125] → k=100..125; the primary bbox
    // would have selected k=10..12 instead
    assert(filtered.select("k").as[Int].collect().toSet === (100 to 125).toSet)
  }

  test("rule leaves non-literal predicates and disjoint() untouched") {
    writeData()
    val df = spark.read.parquet(path)
    val selfJoinish = df.filter(st_disjoint(col("geometry"),
      graft.functions.st_geomfromwkb(probeLit)))
    val opt = selfJoinish.queryExecution.optimizedPlan.toString
    // disjoint does not imply envelope intersection — no conjunct
    assert(!opt.contains("xmin <="))
  }
}
