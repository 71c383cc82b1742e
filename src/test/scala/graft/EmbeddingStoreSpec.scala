package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Dedup

/** The persistent sign-LSH embedding index
  * ([[Dedup.writeEmbeddingStore]] / [[Dedup.embeddingCandidatesAgainstStore]] /
  * [[Dedup.embeddingNovelAgainstStore]]): threshold-filtered store
  * candidates must equal the self-join door's cross pairs (same seeded
  * planes, same exact-cosine verify), and the novel/ingest cycle must
  * collapse intra-batch dups, pass null vectors through as novel, and
  * re-catch appended content. */
class EmbeddingStoreSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def drop(table: String): Unit =
    Dedup.dropEmbeddingStore(spark, table)

  private def rv(rnd: java.util.Random, d: Int = 8): Seq[Double] =
    Seq.fill(d)(rnd.nextGaussian())

  test("store candidates == the self-join door's cross pairs at one threshold") {
    val rnd = new java.util.Random(0xE5B0)
    val corpusRows = (0 until 40).map(i => (i.toLong, rv(rnd)))
    val batchRows = (0 until 15).map(i => (10000L + i, corpusRows(i)._2)) ++
      (0 until 10).map(i => (20000L + i, rv(rnd)))
    val corpus = corpusRows.toDF("vec_id", "embedding")
    val batch = batchRows.toDF("vec_id", "embedding")
    val table = "graft_emb_store"
    drop(table)
    try {
      // BOTH doors default through the same resolvePlanes auto-sizing
      // (autoPlanes(0.95, 0.9) = (13, 8)), so default-vs-default parity
      // holds whenever the in-frame threshold equals the writer's
      // autoThreshold — this comparison deliberately uses the DEFAULTS
      // on both sides to pin that alignment (review r17)
      Dedup.writeEmbeddingStore(corpus, table)
      val viaStore = Dedup.embeddingCandidatesAgainstStore(spark, batch, table)
        .filter($"cosine" >= 0.95)
        .select($"corpus_id", $"batch_id").as[(Long, Long)].collect().toSet
      val cross = Dedup.nearDupEmbedding(corpus.unionByName(batch),
          "vec_id", "embedding", threshold = 0.95)
        .filter($"id_a" < 10000 && $"id_b" >= 10000)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(viaStore === cross,
        "store-door pairs diverge from the self-join door")
      // exact duplicates always collide (identical signatures in every
      // table) and verify at cosine ~1
      assert((0 until 15).forall(i => viaStore.contains((i.toLong, 10000L + i))))
      // a non-store table is refused
      corpus.createOrReplaceTempView("graft_emb_plain")
      val notStore = intercept[IllegalArgumentException] {
        Dedup.embeddingCandidatesAgainstStore(spark, corpus, "graft_emb_plain")
      }
      assert(notStore.getMessage.contains("writeEmbeddingStore"))
    } finally drop(table)
  }

  test("novel/ingest cycle: intra-batch collapse, null vectors novel, append re-catch") {
    val rnd = new java.util.Random(0xE5B1)
    val corpusRows = (0 until 30).map(i => (i.toLong, rv(rnd)))
    val corpus = corpusRows.toDF("vec_id", "embedding")
    val table = "graft_emb_store_cycle"
    drop(table)
    try {
      Dedup.writeEmbeddingStore(corpus, table)
      val novelA = rv(rnd); val novelB = rv(rnd)
      val batch1 = Seq(
        (10000L, corpusRows(3)._2), // corpus dup
        (10001L, novelA),
        (10002L, novelB),
        (10003L, novelA),           // intra-batch dup of 10001
        (10004L, null.asInstanceOf[Seq[Double]])) // null vector
        .toDF("vec_id", "embedding")
      val novel1 = Dedup.embeddingNovelAgainstStore(spark, batch1, table)
      assert(novel1.select($"vec_id").as[Long].collect().sorted.toSeq ===
        Seq(10001L, 10002L, 10004L),
        "corpus dup filtered, intra-batch dup collapsed, null kept novel")
      val noSelf = Dedup.embeddingNovelAgainstStore(spark, batch1, table,
        dedupWithinBatch = false)
      assert(noSelf.select($"vec_id").as[Long].collect().sorted.toSeq ===
        Seq(10001L, 10002L, 10003L, 10004L))
      // the snapshot before the within-batch pass keeps every batch column, in order
      assert(Seq(novel1, noSelf).forall(_.columns.toSeq == batch1.columns.toSeq))
      // append (the null-vector row is filtered by the writer)
      Dedup.writeEmbeddingStore(novel1, table, mode = "append")
      val batch2 = Seq(
        (30000L, novelA),           // dup of the appended batch-1 novel
        (30001L, corpusRows(7)._2), // corpus dup
        (30002L, rv(rnd)))          // fresh
        .toDF("vec_id", "embedding")
      val novel2 = Dedup.embeddingNovelAgainstStore(spark, batch2, table)
      assert(novel2.select($"vec_id").as[Long].collect().toSeq === Seq(30002L))
      // mixed plane parameters refused on append
      val mixed = intercept[IllegalArgumentException] {
        Dedup.writeEmbeddingStore(corpus, table, mode = "append", bits = 8)
      }
      assert(mixed.getMessage.contains("stamped"))
    } finally drop(table)
  }

  test("cross-append growth: join-time skip, compactEmbeddingStore ≡ fresh overwrite") {
    // identical vectors share every (t, sig) membership, so per-batch-
    // capped appends still grow those buckets past the cap
    val rnd = new java.util.Random(0xE5B2)
    val boiler = rv(rnd)
    val others = (0 until 10).map(_ => rv(rnd))
    val cap = 4
    val corpus1 = ((0 until 3).map(i => (i.toLong, boiler)) ++
      (0 until 5).map(i => (10L + i, others(i)))).toDF("vec_id", "embedding")
    val corpus2 = ((3 until 6).map(i => (i.toLong, boiler)) ++
      (5 until 10).map(i => (10L + i, others(i)))).toDF("vec_id", "embedding")
    val table = "graft_emb_store_grow"
    val fresh = "graft_emb_store_grow_fresh"
    drop(table); drop(fresh)
    try {
      Dedup.writeEmbeddingStore(corpus1, table, maxBucketSize = cap)
      Dedup.writeEmbeddingStore(corpus2, table, mode = "append",
        maxBucketSize = cap)
      val boilerProbe = Seq((30000L, boiler)).toDF("vec_id", "embedding")
      assert(Dedup.embeddingCandidatesAgainstStore(spark, boilerProbe, table,
        maxBucketSize = cap).filter($"corpus_id" < 6L).isEmpty,
        "grown bucket must be skipped at join time, not exploded")
      val pre = Dedup.embeddingStoreStats(spark, table, maxBucketSize = cap)
        .as[(Long, Long, Long, Long)].head()
      assert(pre._4 >= 8L && pre._3 >= 6L,
        s"stats must show the grown (t, sig) buckets: $pre")
      Dedup.compactEmbeddingStore(spark, table, maxBucketSize = cap)
      val post = Dedup.embeddingStoreStats(spark, table, maxBucketSize = cap)
        .as[(Long, Long, Long, Long)].head()
      assert(post._4 === 0L && post._3 <= cap.toLong,
        s"stats must be clean after compaction: $post")
      Dedup.writeEmbeddingStore(corpus1.unionByName(corpus2), fresh,
        maxBucketSize = cap)
      val cols = Seq($"id", $"t", $"sig")
      val gotRows = spark.table(table).select(cols: _*)
        .as[(Long, Int, Long)].collect().toSet
      val freshRows = spark.table(fresh).select(cols: _*)
        .as[(Long, Int, Long)].collect().toSet
      assert(gotRows === freshRows,
        "compacted bucket table diverges from a fresh overwrite")
      assert(gotRows.nonEmpty && !gotRows.exists(_._1 < 6L),
        "boilerplate bucket rows must be gone, the rest intact")
      // VACUUM: the vecs sibling keeps exactly one row per surviving
      // slim id — the boilerplate vectors are orphans once their every
      // bucket row was re-capped away, and must not ride the estimate
      // join's build side forever
      val vecIds = spark.table(table + Dedup.EmbeddingVecTableSuffix)
        .select($"id").as[Long].collect().toSeq
      assert(vecIds.size === vecIds.distinct.size,
        "duplicate vec rows survived the vacuum")
      assert(vecIds.toSet === gotRows.map(_._1),
        "vacuumed vecs must cover exactly the surviving slim ids")
      // the stamp survived the swap: an exact dup of an un-grown vector
      // still matches through the compacted store
      val probe = Seq((30001L, others(3))).toDF("vec_id", "embedding")
      assert(Dedup.embeddingCandidatesAgainstStore(spark, probe, table,
          maxBucketSize = cap)
        .filter($"corpus_id" === 13L && $"cosine" > 0.9999).count() === 1)
    } finally { drop(table); drop(fresh) }
  }

  test("signRecall / autoPlanes: the sign-LSH curve and its recall-targeted sizing") {
    // Charikar sign-LSH: recall(c) = 1 − (1 − p^bits)^tables with
    // p = 1 − acos(c)/π. Hand-computed anchors at cosine 0.95
    // (p = 0.898922): one 12-bit table catches ~27.8%, four ~72.8%
    // (the pre-r17 hand-set default), eight ~92.6%.
    assert(math.abs(Dedup.signRecall(0.95, 12, 1) - 0.2784) < 0.001)
    assert(math.abs(Dedup.signRecall(0.95, 12, 4) - 0.7283) < 0.001)
    assert(math.abs(Dedup.signRecall(0.95, 12, 8) - 0.9262) < 0.001)
    // exact duplicates are always caught, at any sizing
    assert(Dedup.signRecall(1.0, 24, 1) === 1.0)
    // the documented auto default: widest signature whose table count
    // for 0.9 recall at cosine 0.95 stays within 8 tables — 13 bits
    // lands at recall 0.9002 (8 tables needed is 7.995 exactly), and
    // 14 bits would need a 10th table
    assert(Dedup.autoPlanes(0.95) === ((13, 8)))
    assert(math.abs(Dedup.signRecall(0.95, 13, 8) - 0.9001) < 0.001)
    assert(Dedup.signRecall(0.95, 14, 8) < 0.9)
    // monotone sanity across thresholds: an easier (higher-cosine)
    // operating point affords a wider signature at the same budget
    val (bLo, tLo) = Dedup.autoPlanes(0.90)
    val (bHi, tHi) = Dedup.autoPlanes(0.99)
    assert(bHi > bLo, "higher threshold must afford wider signatures")
    assert(tLo <= 8 && tHi <= 8)
    assert(Dedup.signRecall(0.90, bLo, tLo) >= 0.9)
    assert(Dedup.signRecall(0.99, bHi, tHi) >= 0.9)
    // the floor: an operating point the 8-bit floor cannot reach within
    // the table budget comes back (8, maxTables) — the novel door's
    // recall warning covers the gap at join time
    assert(Dedup.autoPlanes(0.5, 0.99, 4) === ((8, 4)))
    // thresholds <= 0 are VALID cosine operating points (ADVICE r17 #1:
    // the pre-r17 fixed default accepted them; auto sizing must not
    // throw for default-arg callers) — the target is unreachable, so
    // the floor comes back and the recall warning covers the gap
    assert(Dedup.autoPlanes(0.0) === ((8, 8)))
    assert(Dedup.autoPlanes(-1.0) === ((8, 8)))
    assert(Dedup.resolvePlanes("spec", 0.0, 0.9, 0, 0) === ((8, 8)))
    assert(Dedup.resolvePlanes("spec", -0.5, 0.9, 0, 0) === ((8, 8)))
    // and the in-frame door runs end-to-end at threshold 0 under
    // default sizing: every pair with non-negative cosine is eligible
    import spark.implicits._
    val tiny = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.01)),
      (3L, Seq(-1.0, 0.0))).toDF("vec_id", "embedding")
    val pairs = Dedup.nearDupEmbedding(tiny, "vec_id", "embedding",
        threshold = 0.0)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)),
      "near-identical pair must surface at threshold 0")
    assert(!pairs.contains((1L, 3L)), "antipodal cosine -1 is below 0")
  }
}
