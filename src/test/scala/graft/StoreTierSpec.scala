package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Dedup

/** The two tiers of the store doors: [[Dedup.storeCandidatesDriver]] /
  * [[Dedup.storeCandidatesSpark]] and [[Dedup.storeNovelDriver]] /
  * [[Dedup.storeNovelSpark]]. On the fixtures of the four store specs
  * (MinhashStoreSpec, NgramStoreSpec, SimhashStoreSpec,
  * EmbeddingStoreSpec) and on the tier-choice matrix, the driver tier
  * runs exactly when the batch fits its bounds and the store's cap
  * cannot fire, and both tiers return the same schema and the same row
  * multiset. Each fixture writes one store and probes it with several
  * batches. */
class StoreTierSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docText(i: Int): String =
    s"document number $i talks about topic ${i % 7} and shares a long " +
      s"common preamble with its siblings while sentence $i diverges in " +
      s"the tail with unique content ${i * 31}"

  private val alphaText = "orchard ledger piano thirteen brick quantum marble"

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LocalRelation]

  /** The rows of `df` as a multiset. */
  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap

  /** Asserts that the driver tier's result, when there is one, is a local
    * frame with the Spark tier's schema and rows. */
  private def sameRows(driver: Option[DataFrame], sparkTier: => DataFrame,
      what: String): Unit =
    driver.foreach { d =>
      val sp = sparkTier
      assert(isLocal(d), s"$what: the driver tier must return a local frame")
      assert(d.schema === sp.schema, s"$what: the tiers' schemas differ")
      assert(bag(d) === bag(sp), s"$what: the tiers' rows differ")
    }

  /** Both tiers of the candidates door and of the novel door (with the
    * within-batch pass, or as `withins` lists) of scheme `s` over
    * `batch`, asserting that the driver tier runs iff `driver` and agrees
    * with the Spark tier. */
  private def bothTiers(s: Dedup.BucketScheme, table: String, batch: DataFrame,
      idCol: String, srcCol: String, threshold: Double,
      cap: Int = 100000, driver: Boolean = true,
      withins: Seq[Boolean] = Seq(true)): Unit = {
    val cands = Dedup.storeCandidatesDriver(s, spark, batch, table, idCol,
      srcCol, cap)
    assert(cands.isDefined === driver, s"$table candidates: tier choice")
    sameRows(cands, Dedup.storeCandidatesSpark(s, spark, batch, table, idCol,
      srcCol, cap), s"$table candidates")
    for (within <- withins) {
      val novel = Dedup.storeNovelDriver(s, spark, batch, table, idCol, srcCol,
        threshold, cap, within)
      assert(novel.isDefined === driver, s"$table novel(within=$within): tier choice")
      sameRows(novel, Dedup.storeNovelSpark(s, spark, batch, table, idCol,
        srcCol, threshold, cap, within), s"$table novel(within=$within)")
    }
  }

  /** The probe batches of the store specs, in one batch per store: the
    * candidates fixture (15 corpus dups, 10 fresh rows) and the ingest
    * cycle's two batches (a corpus dup, in-batch dups, fresh rows). */
  private val textBatch = ((0 until 15).map(i => (10000L + i, docText(i))) ++
    (0 until 10).map(i => (20000L + i,
      s"novel ingest row $i with entirely fresh content ${i * 997} zzz")) ++
    Seq((40000L, docText(3)), (40001L, alphaText),
      (40002L, "velvet compass winter granite ninety lantern oboe"),
      (40003L, alphaText), (50000L, alphaText), (50001L, docText(7)),
      (50002L, "bamboo circuit yonder maple seventy gossamer flute")))

  test("minhash store fixtures: both tiers agree") {
    val table = "graft_tier_mh"
    Dedup.dropMinhashStore(spark, table)
    try {
      Dedup.writeMinhashStore((0 until 40).map(i => (i.toLong, docText(i)))
        .toDF("doc_id", "text"), table)
      // the double-append fixture: a batch appended twice, plus a null
      // signature row next to a real one
      val again = (100 until 105).map(i => (i.toLong, docText(i))).toDF("doc_id", "text")
      Dedup.writeMinhashStore(again, table, mode = "append")
      Dedup.writeMinhashStore(again, table, mode = "append")
      Seq(101L).toDF("id").withColumn("sig",
          org.apache.spark.sql.functions.lit(null).cast("array<bigint>"))
        .write.mode("append").bucketBy(64, "id").sortBy("id")
        .format("parquet").saveAsTable(table + Dedup.MinhashSigTableSuffix)
      bothTiers(Dedup.minhashScheme(spark, table), table,
        (textBatch ++ Seq((60000L, docText(101)), (60001L, docText(101))))
          .toDF("doc_id", "text"), "doc_id", "text", 0.5)
    } finally Dedup.dropMinhashStore(spark, table)
  }

  test("minhash store growth fixture: the Spark tier past the cap, both tiers under it") {
    val boiler = "the same boilerplate licence text repeated verbatim " +
      "across every appended batch of this corpus"
    val cap = 4
    val table = "graft_tier_mh_grow"
    Dedup.dropMinhashStore(spark, table)
    try {
      Dedup.writeMinhashStore(((0 until 3).map(i => (i.toLong, boiler)) ++
        (10 until 15).map(i => (i.toLong, docText(i)))).toDF("doc_id", "text"),
        table, maxBucketSize = cap)
      Dedup.writeMinhashStore(((3 until 6).map(i => (i.toLong, boiler)) ++
        (15 until 20).map(i => (i.toLong, docText(i)))).toDF("doc_id", "text"),
        table, mode = "append", maxBucketSize = cap)
      def scheme = Dedup.minhashScheme(spark, table)
      val probe = Seq((30000L, boiler), (30001L, docText(12))).toDF("doc_id", "text")
      bothTiers(scheme, table, probe, "doc_id", "text", 0.8, cap = cap, driver = false)
      bothTiers(scheme, table, probe, "doc_id", "text", 0.8)
    } finally Dedup.dropMinhashStore(spark, table)
  }

  test("n-gram store fixtures: both tiers agree") {
    val table = "graft_tier_ng"
    Dedup.dropNgramStore(spark, table)
    try {
      Dedup.writeNgramStore((0 until 40).map(i => (i.toLong, docText(i)))
        .toDF("doc_id", "text"), table)
      bothTiers(Dedup.ngramScheme(spark, table), table,
        (textBatch :+ ((60000L, null.asInstanceOf[String]))).toDF("doc_id", "text"),
        "doc_id", "text", 0.5)
    } finally Dedup.dropNgramStore(spark, table)
  }

  test("simhash store fixtures: both tiers agree") {
    val table = "graft_tier_sh"
    val wide = "graft_tier_sh_wide"
    Seq(table, wide).foreach(graft.join.SpatialJoin.dropBucketedTable(spark, _))
    try {
      Dedup.writeSimhashStore((0 until 40).map(i => (i.toLong, docText(i)))
        .toDF("doc_id", "text"), table)
      bothTiers(Dedup.simhashScheme(spark, table, 3), table,
        textBatch.toDF("doc_id", "text"), "doc_id", "text", 3)
      // the widened layout: 8 stamped chunks, probed at radius 6 and at
      // radius 3, whose within-batch pass chunks 4 ways
      val rnd = new java.util.Random(0x51A512)
      Dedup.writeSimhashStore((0 until 30).map(i => (i.toLong, docText(i % 11)))
        .toDF("doc_id", "text"), wide, maxHamming = 6)
      val wb = (0 until 20).map { i =>
        val base = docText(i % 11)
        (10000L + i, if (i < 6) base else base + s" trailing mutation ${rnd.nextInt(4)} pass $i")
      }.toDF("doc_id", "text")
      Seq(6, 3).foreach(r =>
        bothTiers(Dedup.simhashScheme(spark, wide, r), wide, wb, "doc_id", "text", r))
    } finally Seq(table, wide).foreach(graft.join.SpatialJoin.dropBucketedTable(spark, _))
  }

  test("embedding store fixtures: both tiers agree") {
    def rv(rnd: java.util.Random): Seq[Double] = Seq.fill(8)(rnd.nextGaussian())
    val table = "graft_tier_emb"
    Dedup.dropEmbeddingStore(spark, table)
    try {
      val rnd = new java.util.Random(0xE5B0)
      val corpusRows = (0 until 40).map(i => (i.toLong, rv(rnd)))
      Dedup.writeEmbeddingStore(corpusRows.toDF("vec_id", "embedding"), table)
      // the candidates fixture, then the cycle's batch: a corpus dup, an
      // in-batch dup, a null vector
      val novelA = rv(rnd)
      val b = ((0 until 15).map(i => (10000L + i, corpusRows(i)._2)) ++
        (0 until 10).map(i => (20000L + i, rv(rnd))) ++
        Seq((40000L, corpusRows(3)._2), (40001L, novelA), (40002L, rv(rnd)),
          (40003L, novelA), (40004L, null.asInstanceOf[Seq[Double]])))
        .toDF("vec_id", "embedding")
      bothTiers(Dedup.embeddingScheme(spark, table), table, b, "vec_id",
        "embedding", 0.95)
    } finally Dedup.dropEmbeddingStore(spark, table)
  }

  private val batch1 = Seq((10000L, docText(3)), (10001L, alphaText),
    (10002L, "velvet compass winter granite ninety lantern oboe"),
    (10003L, alphaText))

  test("tier-choice matrix: which tier runs, and both return the same rows") {
    val table = "graft_tier_matrix"
    Dedup.dropMinhashStore(spark, table)
    try {
      Dedup.writeMinhashStore((0 until 30).map(i => (i.toLong, docText(i)))
        .toDF("doc_id", "text"), table)
      def scheme = Dedup.minhashScheme(spark, table)
      val nullText = null.asInstanceOf[String]
      // (case, batch, cap, dedupWithinBatch, driver tier expected)
      val cases = Seq(
        ("empty batch", Seq.empty[(Option[Long], String)], 100000, true, true),
        ("all-null text", Seq((Some(700L), nullText), (Some(701L), nullText)),
          100000, true, true),
        ("a null id", Seq((None, docText(1)), (Some(702L), alphaText)),
          100000, true, false),
        ("a repeated id", Seq((Some(703L), docText(1)), (Some(703L), alphaText)),
          100000, true, false),
        ("every row hits the corpus",
          (0 until 5).map(i => (Some(800L + i), docText(i))), 100000, true, true),
        ("without the within-batch pass", batch1.map { case (i, t) => (Some(i), t) },
          100000, false, true),
        // stamped bound 30 + 4 signed rows > 32
        ("stamped bound plus batch over the cap",
          batch1.map { case (i, t) => (Some(i), t) }, 32, true, false))
      cases.foreach { case (what, rows, cap, within, driver) =>
        val b = rows.toDF("doc_id", "text")
        withClue(s"$what: ") {
          bothTiers(scheme, table, b, "doc_id", "text", 0.5, cap, driver, Seq(within))
          val door = Dedup.minhashNovelAgainstStore(spark, b, table,
            threshold = 0.5, maxBucketSize = cap, dedupWithinBatch = within)
          assert(isLocal(door) === driver, "the door took the other tier")
        }
      }
      // forty copies of one long text: their 780 within-batch pairs, each
      // carrying two ~19 KB shingle sets, pass the byte bound of one
      // local frame and are verified chunk by chunk, still on the driver
      val long = (0 until 300).map(j => s"word$j").mkString(" ")
      val dense = (0 until 40).map(i => (900L + i, long)).toDF("doc_id", "text")
      bothTiers(scheme, table, dense, "doc_id", "text", 0.5)
      // seventy copies of one text share all 32 buckets of the 0.5
      // banding: 77,280 candidate pairs pass the row bound. The store
      // pass stays on the driver; the within-batch pass runs as the Spark
      // tier's, over the collected rows
      val copies = (0 until 70).map(i => (950L + i, alphaText)).toDF("doc_id", "text")
      val viaDriver = Dedup.storeNovelDriver(scheme, spark, copies, table,
        "doc_id", "text", 0.5, 100000, dedupWithinBatch = true)
      assert(viaDriver.exists(d => !isLocal(d)), "the within-batch pass stayed local")
      assert(bag(viaDriver.get) === bag(Dedup.storeNovelSpark(scheme, spark, copies,
        table, "doc_id", "text", 0.5, 100000, dedupWithinBatch = true)))
      assert(viaDriver.get.select($"doc_id").as[Long].collect().toSeq === Seq(950L))
    } finally Dedup.dropMinhashStore(spark, table)
  }
}
