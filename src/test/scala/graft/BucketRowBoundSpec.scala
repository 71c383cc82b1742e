package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Dedup
import scala.jdk.CollectionConverters._

/** The write-time bucket-row bound ([[Dedup.BucketRowBoundProp]]) of the
  * four near-dup store tiers, read through [[StoreStamp]]: every graft
  * write keeps it at or above the store's largest bucket group
  * (overwrite, append, double-append, an ignore-mode no-op, compaction),
  * no door reads it without the params stamp, skipping the cap census on
  * it changes no result — candidates through the bound equal candidates
  * through the census — and a foreign write leaves it unreadable. */
class BucketRowBoundSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docText(i: Int): String =
    s"document number $i talks about topic ${i % 7} and shares a long " +
      s"common preamble with its siblings while sentence $i diverges in " +
      s"the tail with unique content ${i * 31}"

  /** One store tier: how to build its input, write it, read its stats,
    * compact it and probe it. */
  private case class Tier(name: String, prop: String, idCol: String,
      frame: Seq[Int] => DataFrame,
      write: (DataFrame, String, String) => Unit,
      maxBucket: (String, Int) => Long,
      compact: (String, Int) => Unit,
      candidates: (DataFrame, String, Int) => Set[(Long, Long, String)],
      drop: String => Unit)

  private def triples(df: DataFrame): Set[(Long, Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), String.valueOf(r.get(2)))).toSet

  private def stat(df: DataFrame): Long = df.select($"max_bucket").as[Long].head()

  private def texts(ids: Seq[Int]): DataFrame =
    ids.map(i => (i.toLong, docText(i % 40))).toDF("doc_id", "text")

  private val vecs: Seq[Seq[Double]] = {
    val rnd = new java.util.Random(0xB0D)
    Seq.fill(40)(Seq.fill(8)(rnd.nextGaussian()))
  }

  private val tiers = Seq(
    Tier("minhash", Dedup.MinhashStoreProp, "doc_id", texts,
      (df, t, mode) => Dedup.writeMinhashStore(df, t, mode = mode),
      (t, cap) => stat(Dedup.minhashStoreStats(spark, t, cap)),
      (t, cap) => Dedup.compactMinhashStore(spark, t, cap),
      (b, t, cap) => triples(Dedup.minhashCandidatesAgainstStore(spark, b, t,
        maxBucketSize = cap)),
      t => Dedup.dropMinhashStore(spark, t)),
    Tier("ngram", Dedup.NgramStoreProp, "doc_id", texts,
      (df, t, mode) => Dedup.writeNgramStore(df, t, mode = mode),
      (t, cap) => stat(Dedup.ngramStoreStats(spark, t, cap)),
      (t, cap) => Dedup.compactNgramStore(spark, t, cap),
      (b, t, cap) => triples(Dedup.ngramCandidatesAgainstStore(spark, b, t,
        maxBucketSize = cap)),
      t => Dedup.dropNgramStore(spark, t)),
    Tier("simhash", Dedup.SimhashStoreProp, "doc_id", texts,
      (df, t, mode) => Dedup.writeSimhashStore(df, t, mode = mode),
      (t, cap) => stat(Dedup.simhashStoreStats(spark, t, cap)),
      (t, cap) => Dedup.compactSimhashStore(spark, t, cap),
      (b, t, cap) => triples(Dedup.simhashCandidatesAgainstStore(spark, b, t,
        maxBucketSize = cap)),
      t => graft.join.SpatialJoin.dropBucketedTable(spark, t)),
    Tier("embedding", Dedup.EmbeddingStoreProp, "vec_id",
      ids => ids.map(i => (i.toLong, vecs(i % 40))).toDF("vec_id", "embedding"),
      (df, t, mode) => Dedup.writeEmbeddingStore(df, t, mode = mode),
      (t, cap) => stat(Dedup.embeddingStoreStats(spark, t, cap)),
      (t, cap) => Dedup.compactEmbeddingStore(spark, t, cap),
      (b, t, cap) => triples(Dedup.embeddingCandidatesAgainstStore(spark, b, t,
        maxBucketSize = cap)),
      t => Dedup.dropEmbeddingStore(spark, t)))

  private def props(table: String): Map[String, String] =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table)).properties

  private def bound(table: String): Option[Long] =
    StoreStamp.store(spark, table).flatMap(_.stat(Dedup.BucketRowBoundProp)).map(_.toLong)

  /** The bound covers the largest group, and never outlives the params
    * stamp. */
  private def checkBound(tier: Tier, table: String, expected: Long): Unit = {
    val p = props(table)
    assert(p.contains(tier.prop), s"${tier.name}: params stamp missing")
    assert(bound(table) === Some(expected), s"${tier.name}: stamped bound")
    val mx = tier.maxBucket(table, 100000)
    assert(mx <= expected, s"${tier.name}: max_bucket $mx > bound $expected")
  }

  tiers.foreach { tier =>
    test(s"${tier.name}: the bound through overwrite, append, double-append, ignore, compaction") {
      val table = s"graft_bound_${tier.name}"
      tier.drop(table)
      try {
        // 30 signed rows ≤ the default cap: the bound is the row count
        tier.write(tier.frame(0 until 30), table, "overwrite")
        checkBound(tier, table, 30L)
        tier.write(tier.frame(30 until 40), table, "append")
        checkBound(tier, table, 40L)
        // the same batch again: the bound counts rows, not ids
        tier.write(tier.frame(30 until 40), table, "append")
        checkBound(tier, table, 50L)
        // ignore onto an existing store writes nothing: stamps untouched
        tier.write(tier.frame(0 until 5), table, "ignore")
        checkBound(tier, table, 50L)
        // compaction under the bound skips the census and keeps the bound
        tier.compact(table, 100000)
        checkBound(tier, table, 50L)
        // a cap below the bound runs the census: the bound becomes the
        // exact largest kept group
        tier.compact(table, 2)
        val exact = tier.maxBucket(table, 100000)
        assert(exact <= 2L)
        checkBound(tier, table, exact)
        // overwrite restarts the bound from the batch
        tier.write(tier.frame(0 until 12), table, "overwrite")
        checkBound(tier, table, 12L)
      } finally tier.drop(table)
    }

    test(s"${tier.name}: candidates through the bound == through the census; no bound → census, restamped at compaction") {
      val table = s"graft_bound_skip_${tier.name}"
      tier.drop(table)
      try {
        tier.write(tier.frame(0 until 30), table, "overwrite")
        tier.write(tier.frame(30 until 36), table, "append")
        // exact dups of stored rows plus a few rows from outside the store
        val batch = tier.frame(Seq(1, 2, 3, 31, 32)).unionByName(
          tier.frame(Seq(37, 38)))
          .withColumn(tier.idCol, col(tier.idCol) + 10000L)
        val viaBound = tier.candidates(batch, table, 100000)
        assert(viaBound.nonEmpty, "fixture sanity: dups must collide")
        // the bound as an older writer stamped it, with no fingerprint
        spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
          s"('${Dedup.BucketRowBoundProp}'='${bound(table).get}')")
        assert(bound(table).isEmpty)
        assert(tier.candidates(batch, table, 100000) === viaBound,
          "skipping the cap census changed the candidates")
        // an append onto a store without the bound leaves it without one
        tier.write(tier.frame(36 until 38), table, "append")
        assert(bound(table).isEmpty && props(table).contains(tier.prop))
        // compaction censuses such a store and stamps the exact bound
        tier.compact(table, 100000)
        checkBound(tier, table, tier.maxBucket(table, 100000))
      } finally tier.drop(table)
    }
  }

  tiers.foreach { tier =>
    test(s"${tier.name}: a foreign INSERT INTO leaves no readable bound; the door returns the census path's rows") {
      val table = s"graft_bound_foreign_${tier.name}"
      val ref = s"graft_bound_foreign_ref_${tier.name}"
      tier.drop(table); tier.drop(ref)
      try {
        tier.write(tier.frame(0 until 2), table, "overwrite")
        assert(bound(table) === Some(2L))
        // six copies of row 0's slim rows, written past graft
        val slim = spark.table(table)
        val copies = slim.filter(col("id") === 0L).collect().toSeq
        spark.createDataFrame(Seq.fill(6)(copies).flatten.asJava, slim.schema)
          .createOrReplaceTempView("graft_bound_foreign_rows")
        spark.sql(s"INSERT INTO $table SELECT * FROM graft_bound_foreign_rows")
        // the census path's rows: the same slim rows written by graft,
        // whose bound counts every row, so its door censuses at cap 3
        tier.write(tier.frame(Seq(0, 1) ++ Seq.fill(6)(0)), ref, "overwrite")
        assert(bound(ref) === Some(8L))
        val batch = tier.frame(Seq(0)).withColumn(tier.idCol, col(tier.idCol) + 10000L)
        val census = tier.candidates(batch, ref, 3)
        assert(tier.candidates(batch, table, 3) === census,
          "the door skipped its census on a bound that predates a foreign write")
        assert(bound(table).isEmpty, "a bound that predates a foreign write still reads")
        assert(tier.candidates(batch, table, 0).exists(_._2 == 0L) &&
          !census.exists(_._2 == 0L), "fixture sanity: the cap drops the copied row's groups")
      } finally { tier.drop(table); tier.drop(ref) }
    }
  }

  test("a failed append leaves neither the params stamp nor the bound") {
    val table = "graft_bound_failed"
    Dedup.dropMinhashStore(spark, table)
    try {
      Dedup.writeMinhashStore(texts(0 until 10), table)
      assert(bound(table) === Some(10L))
      val boom = udf((s: String) => {
        if (s.contains("number 13 ")) throw new IllegalStateException("boom")
        s
      })
      val bad = texts(10 until 20).withColumn("text", boom($"text"))
      intercept[Exception] {
        Dedup.writeMinhashStore(bad, table, mode = "append")
      }
      assert(!props(table).contains(Dedup.MinhashStoreProp))
      // no door reads a bound: each refuses the store before reading one
      for (door <- Seq(
          () => Dedup.minhashCandidatesAgainstStore(spark, texts(0 until 2), table),
          () => Dedup.minhashNovelAgainstStore(spark, texts(0 until 2), table)))
        assert(intercept[IllegalArgumentException](door()).getMessage.contains("rewrite"))
      // the failed write changed no file: a bound that still reads still
      // covers the largest group
      val mx = spark.table(table).groupBy($"band", $"bucket").count()
        .agg(max($"count")).as[Long].head()
      assert(bound(table).forall(_ >= mx))
    } finally Dedup.dropMinhashStore(spark, table)
  }

  test("minhashCandidates: the census skip at maxBucketSize = N equals the census path") {
    val df = texts(0 until 24).unionByName(texts(Seq(1, 2, 3)).withColumn("doc_id", $"doc_id" + 100L))
    val n = df.count().toInt
    def cands(cap: Int) = Dedup.minhashCandidates(df, "doc_id", "text",
      maxBucketSize = cap)
    val skip = cands(n)
    // the skipped census leaves no bucket-size aggregate in the plan
    assert(!skip.queryExecution.optimizedPlan.toString.contains("__bsz"))
    // N − 1 runs the census; no group holds N − 1 rows here, so it drops nothing
    val census = cands(n - 1)
    assert(census.queryExecution.optimizedPlan.toString.contains("__bsz"))
    val set = (d: DataFrame) => d.as[(Long, Long, Double)].collect().toSet
    assert(set(skip) === set(census))
    assert(set(skip) === set(cands(0)))
    assert(set(skip).size >= 3, "fixture sanity: the planted dups pair")
  }
}
