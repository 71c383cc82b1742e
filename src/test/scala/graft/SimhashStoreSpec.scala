package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Dedup

/** The persistent SimHash corpus index
  * ([[Dedup.writeSimhashStore]] / [[Dedup.simhashCandidatesAgainstStore]] /
  * [[Dedup.simhashNovelAgainstStore]]): store-vs-batch candidates must
  * equal the self-join door's cross pairs (same chunking, same Hamming
  * verify), the pigeonhole radius guard must refuse maxHamming > 3, and
  * the novel/ingest cycle must collapse intra-batch dups and re-catch
  * appended content. */
class SimhashStoreSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def drop(table: String): Unit =
    graft.join.SpatialJoin.dropBucketedTable(spark, table)

  private def docText(i: Int): String =
    s"document number $i talks about topic ${i % 7} and shares a long " +
      s"common preamble with its siblings while sentence $i diverges in " +
      s"the tail with unique content ${i * 31}"

  test("store candidates == the self-join door's cross pairs") {
    val corpus = (0 until 40).map(i => (i.toLong, docText(i))).toDF("doc_id", "text")
    val batch = ((0 until 15).map(i => (10000L + i, docText(i))) ++
      (0 until 10).map(i => (20000L + i,
        s"wholly novel ingest row $i with fresh content ${i * 997} qqq")))
      .toDF("doc_id", "text")
    val table = "graft_sh_store"
    drop(table)
    try {
      Dedup.writeSimhashStore(corpus, table)
      val viaStore = Dedup.simhashCandidatesAgainstStore(spark, batch, table)
        .select($"corpus_id", $"batch_id", $"hamming")
        .as[(Long, Long, Int)].collect().toSet
      val cross = Dedup.nearDupSimhash(
          corpus.unionByName(batch), "doc_id", "text")
        .filter($"id_a" < 10000 && $"id_b" >= 10000)
        .select($"id_a", $"id_b", $"hamming")
        .as[(Long, Long, Int)].collect().toSet
      assert(viaStore === cross,
        "store-door candidates diverge from the self-join door")
      // every planted exact dup collides at hamming 0
      val exact = viaStore.filter { case (c, b, _) => b - 10000 == c }
      assert(exact.size === 15 && exact.forall(_._3 === 0))
      // the pigeonhole guarantee stops at 3 — a wider radius is refused
      val wide = intercept[IllegalArgumentException] {
        Dedup.simhashCandidatesAgainstStore(spark, batch, table, maxHamming = 4)
      }
      assert(wide.getMessage.contains("pigeonhole"))
      // a non-store table is refused
      corpus.createOrReplaceTempView("graft_sh_plain")
      val notStore = intercept[IllegalArgumentException] {
        Dedup.simhashCandidatesAgainstStore(spark, corpus, "graft_sh_plain")
      }
      assert(notStore.getMessage.contains("writeSimhashStore"))
    } finally drop(table)
  }

  test("widened radius derives a chunking with exact recall (brute equality)") {
    // radius 6 exceeds the classic 4-chunk pigeonhole (≤3); the door now
    // derives 8×8-bit chunks (guarantee ≤7) instead of silently
    // under-recalling — pin against the driver-side brute force
    val rnd = new java.util.Random(0x51A511)
    val docs = (0 until 50).map { i =>
      val base = docText(i % 17) // clusters of near-identical texts
      val mutated =
        if (i < 17) base
        else base + s" trailing mutation ${rnd.nextInt(4)} pass $i"
      (i.toLong, mutated)
    }.toDF("doc_id", "text")
    val sims = docs.select($"doc_id",
        graft.pipeline.Dedup.simhash64($"text").as("sim"))
      .as[(Long, Long)].collect().toMap
    val expected = (for {
      a <- sims.keys; b <- sims.keys if a < b
      if java.lang.Long.bitCount(sims(a) ^ sims(b)) <= 6
    } yield (a, b)).toSet
    val got = Dedup.nearDupSimhash(docs, "doc_id", "text", maxHamming = 6)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(got === expected, "widened-radius recall diverged from brute force")
    assert(expected.nonEmpty, "fixture sanity: some pairs within radius 6")
  }

  test("widened-radius store: stamped coarse layout serves radii to chunks-1") {
    // writeSimhashStore(maxHamming = 6) stamps the 8×8-bit layout
    // (pigeonhole ≤ 7) — before r18 the store tier hard-capped at the
    // 4-chunk ≤ 3, the one batch/store asymmetry of the dedup family.
    // Pin the store door against the driver-side brute force at the
    // widened radius AND at a narrower one through the same store.
    val rnd = new java.util.Random(0x51A512)
    val corpus = (0 until 30).map { i =>
      (i.toLong, docText(i % 11))
    }.toDF("doc_id", "text")
    val batch = (0 until 20).map { i =>
      val base = docText(i % 11)
      val mutated =
        if (i < 6) base // exact dups
        else base + s" trailing mutation ${rnd.nextInt(4)} pass $i"
      (10000L + i, mutated)
    }.toDF("doc_id", "text")
    val table = "graft_sh_store_wide"
    drop(table)
    try {
      Dedup.writeSimhashStore(corpus, table, maxHamming = 6)
      val simC = corpus.select($"doc_id",
        Dedup.simhash64($"text").as("sim")).as[(Long, Long)].collect().toMap
      val simB = batch.select($"doc_id",
        Dedup.simhash64($"text").as("sim")).as[(Long, Long)].collect().toMap
      def brute(radius: Int) = (for {
        c <- simC.keys; b <- simB.keys
        if java.lang.Long.bitCount(simC(c) ^ simB(b)) <= radius
      } yield (c, b)).toSet
      val got6 = Dedup.simhashCandidatesAgainstStore(spark, batch, table,
          maxHamming = 6)
        .select($"corpus_id", $"batch_id").as[(Long, Long)].collect().toSet
      assert(got6 === brute(6),
        "widened store recall diverged from brute force at radius 6")
      assert(brute(6).exists { case (c, b) =>
        java.lang.Long.bitCount(simC(c) ^ simB(b)) > 3 },
        "fixture sanity: some pair must need the widened radius")
      // a NARROWER probe through the coarse layout stays exact too
      val got3 = Dedup.simhashCandidatesAgainstStore(spark, batch, table,
          maxHamming = 3)
        .select($"corpus_id", $"batch_id").as[(Long, Long)].collect().toSet
      assert(got3 === brute(3),
        "narrow probe through the wide layout diverged from brute force")
      // past the stamped pigeonhole: refused, naming the rewrite path
      val past = intercept[IllegalArgumentException] {
        Dedup.simhashCandidatesAgainstStore(spark, batch, table, maxHamming = 8)
      }
      assert(past.getMessage.contains("pigeonhole") &&
        past.getMessage.contains("maxHamming=<radius>"))
      // an append with a different chunk layout is refused via the stamp
      val mixed = intercept[IllegalArgumentException] {
        Dedup.writeSimhashStore(corpus, table, mode = "append", maxHamming = 3)
      }
      assert(mixed.getMessage.contains("stamped"))
      // the novel door rides the widened radius: an exact dup is caught,
      // a hamming-in-(3,6] mutation is caught ONLY at the wide radius
      val novel6 = Dedup.simhashNovelAgainstStore(spark, batch, table,
        maxHamming = 6, dedupWithinBatch = false)
        .select($"doc_id").as[Long].collect().toSet
      val expectedNovel6 = simB.keySet -- brute(6).map(_._2)
      assert(novel6 === expectedNovel6)
    } finally drop(table)
  }

  test("novel/ingest cycle with intra-batch dup collapse") {
    val corpus = (0 until 30).map(i => (i.toLong, docText(i))).toDF("doc_id", "text")
    val table = "graft_sh_store_cycle"
    drop(table)
    try {
      Dedup.writeSimhashStore(corpus, table)
      val alphaText = "orchard ledger piano thirteen brick quantum marble"
      val batch1 = Seq(
        (10000L, docText(3)), // corpus dup
        (10001L, alphaText),
        (10002L, "velvet compass winter granite ninety lantern oboe"),
        (10003L, alphaText)) // intra-batch dup of 10001
        .toDF("doc_id", "text")
      val novel1 = Dedup.simhashNovelAgainstStore(spark, batch1, table)
      assert(novel1.select($"doc_id").as[Long].collect().sorted.toSeq ===
        Seq(10001L, 10002L))
      val noSelf = Dedup.simhashNovelAgainstStore(spark, batch1, table,
        dedupWithinBatch = false)
      assert(noSelf.select($"doc_id").as[Long].collect().sorted.toSeq ===
        Seq(10001L, 10002L, 10003L))
      // the snapshot before the within-batch pass keeps every batch column, in order
      assert(Seq(novel1, noSelf).forall(_.columns.toSeq == batch1.columns.toSeq))
      Dedup.writeSimhashStore(novel1, table, mode = "append")
      val batch2 = Seq(
        (30000L, alphaText), // dup of the appended batch-1 novel
        (30001L, docText(7)),
        (30002L, "bamboo circuit yonder maple seventy gossamer flute"))
        .toDF("doc_id", "text")
      val novel2 = Dedup.simhashNovelAgainstStore(spark, batch2, table)
      assert(novel2.select($"doc_id").as[Long].collect().toSeq === Seq(30002L))
      // mixed-version append refused via the stamp
      spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
        s"('${Dedup.SimhashStoreProp}'='v9:8')")
      val mixed = intercept[IllegalArgumentException] {
        Dedup.writeSimhashStore(corpus, table, mode = "append")
      }
      assert(mixed.getMessage.contains("stamped"))
    } finally drop(table)
  }

  test("cross-append growth: join-time skip, compactSimhashStore ≡ fresh overwrite") {
    // identical texts share all four (chunk, bucket) memberships, so
    // per-batch-capped appends still grow those buckets past the cap
    val boiler = "the same boilerplate licence text repeated verbatim " +
      "across every appended batch of this corpus"
    val cap = 4
    val corpus1 = ((0 until 3).map(i => (i.toLong, boiler)) ++
      (10 until 15).map(i => (i.toLong, docText(i)))).toDF("doc_id", "text")
    val corpus2 = ((3 until 6).map(i => (i.toLong, boiler)) ++
      (15 until 20).map(i => (i.toLong, docText(i)))).toDF("doc_id", "text")
    val table = "graft_sh_store_grow"
    val fresh = "graft_sh_store_grow_fresh"
    drop(table); drop(fresh)
    try {
      Dedup.writeSimhashStore(corpus1, table, maxBucketSize = cap)
      Dedup.writeSimhashStore(corpus2, table, mode = "append",
        maxBucketSize = cap)
      val boilerProbe = Seq((30000L, boiler)).toDF("doc_id", "text")
      assert(Dedup.simhashCandidatesAgainstStore(spark, boilerProbe, table,
        maxBucketSize = cap).filter($"corpus_id" < 6L).isEmpty,
        "grown bucket must be skipped at join time, not exploded")
      val pre = Dedup.simhashStoreStats(spark, table, maxBucketSize = cap)
        .as[(Long, Long, Long, Long)].head()
      assert(pre._4 >= 4L && pre._3 >= 6L,
        s"stats must show the grown chunk buckets: $pre")
      Dedup.compactSimhashStore(spark, table, maxBucketSize = cap)
      val post = Dedup.simhashStoreStats(spark, table, maxBucketSize = cap)
        .as[(Long, Long, Long, Long)].head()
      assert(post._4 === 0L && post._3 <= cap.toLong,
        s"stats must be clean after compaction: $post")
      Dedup.writeSimhashStore(corpus1.unionByName(corpus2), fresh,
        maxBucketSize = cap)
      val cols = Seq($"id", $"sim", $"chunk", $"bucket")
      val gotRows = spark.table(table).select(cols: _*)
        .as[(Long, Long, Int, Long)].collect().toSet
      val freshRows = spark.table(fresh).select(cols: _*)
        .as[(Long, Long, Int, Long)].collect().toSet
      assert(gotRows === freshRows,
        "compacted chunk table diverges from a fresh overwrite")
      assert(gotRows.nonEmpty && !gotRows.exists(_._1 < 6L),
        "boilerplate chunk rows must be gone, the rest intact")
      // the stamp survived the swap: the candidates door still works
      val docProbe = Seq((30001L, docText(12))).toDF("doc_id", "text")
      assert(Dedup.simhashCandidatesAgainstStore(spark, docProbe, table,
        maxBucketSize = cap).filter($"corpus_id" === 12L).count() === 1)
    } finally { drop(table); drop(fresh) }
  }
}
