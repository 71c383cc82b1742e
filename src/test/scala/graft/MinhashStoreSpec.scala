package graft

import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}
import graft.pipeline.Dedup

/** The persistent MinHash corpus index
  * ([[Dedup.writeMinhashStore]] / [[Dedup.minhashCandidatesAgainstStore]] /
  * [[Dedup.minhashNovelAgainstStore]]): batch-vs-store candidates must
  * equal the self-join door's cross pairs bit-for-bit (same banding, same
  * estimate), the novel/ingest cycle must catch a dup of a
  * previously-appended batch, and the param stamp must refuse mixed
  * parameters and non-store tables. */
class MinhashStoreSpec extends AnyFunSuite with TimeLimits {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  // interrupts a hung door, so a stuck call fails its test instead of the run
  implicit val signaler: Signaler = ThreadSignaler

  private def drop(table: String): Unit =
    Dedup.dropMinhashStore(spark, table)

  private def docText(i: Int): String =
    s"document number $i talks about topic ${i % 7} and shares a long " +
      s"common preamble with its siblings while sentence $i diverges in " +
      s"the tail with unique content ${i * 31}"

  test("store candidates == the self-join door's cross pairs, estimate and all") {
    val corpus = (0 until 40).map(i => (i.toLong, docText(i))).toDF("doc_id", "text")
    // batch: 15 exact dups of corpus docs + 10 novel docs, disjoint ids
    val batch = ((0 until 15).map(i => (10000L + i, docText(i))) ++
      (0 until 10).map(i => (20000L + i,
        s"novel ingest row $i with entirely fresh content ${i * 997} zzz")))
      .toDF("doc_id", "text")
    val table = "graft_mh_store"
    drop(table)
    try {
      Dedup.writeMinhashStore(corpus, table)
      val viaStore = Dedup.minhashCandidatesAgainstStore(spark, batch, table)
        .select($"corpus_id", $"batch_id", $"jaccard_est")
        .as[(Long, Long, Double)].collect().toSet
      // reference: the self-join door over corpus ∪ batch, restricted to
      // pairs crossing the two sides (ids are disjoint: corpus < 10000)
      val cross = Dedup.minhashCandidates(
          corpus.unionByName(batch), "doc_id", "text")
        .filter($"id_a" < 10000 && $"id_b" >= 10000)
        .select($"id_a", $"id_b", $"jaccard_est")
        .as[(Long, Long, Double)].collect().toSet
      assert(viaStore === cross,
        "store-door candidates diverge from the self-join door")
      assert(viaStore.nonEmpty, "fixture sanity: planted dups must collide")
      // exact dups carry a full-agreement estimate
      val exact = viaStore.filter { case (c, b, _) => b - 10000 == c }
      assert(exact.size === 15 && exact.forall(_._3 === 1.0),
        "every planted exact dup must estimate jaccard 1.0")
    } finally drop(table)
  }

  test("novel/ingest cycle: filter, append, and the next batch sees the appended rows") {
    val corpus = (0 until 30).map(i => (i.toLong, docText(i))).toDF("doc_id", "text")
    val table = "graft_mh_store_cycle"
    drop(table)
    try {
      Dedup.writeMinhashStore(corpus, table)
      val alphaText = "orchard ledger piano thirteen brick quantum marble"
      val batch1 = Seq(
        (10000L, docText(3)), // dup of corpus
        (10001L, alphaText),
        (10002L, "velvet compass winter granite ninety lantern oboe"),
        (10003L, alphaText)) // intra-batch dup of 10001
        .toDF("doc_id", "text")
      val novel1 = Dedup.minhashNovelAgainstStore(spark, batch1, table,
        threshold = 0.5)
      assert(novel1.select($"doc_id").as[Long].collect().sorted.toSeq ===
        Seq(10001L, 10002L),
        "corpus dup filtered, novels kept, intra-batch dup collapsed to min id")
      // without the within-batch pass, both intra-batch copies survive —
      // exactly the planted-duplicate hazard the default closes
      val noSelf = Dedup.minhashNovelAgainstStore(spark, batch1, table,
        threshold = 0.5, dedupWithinBatch = false)
      assert(noSelf.select($"doc_id").as[Long].collect().sorted.toSeq ===
        Seq(10001L, 10002L, 10003L))
      // the snapshot before the within-batch pass keeps every batch column, in order
      assert(Seq(novel1, noSelf).forall(_.columns.toSeq == batch1.columns.toSeq))
      Dedup.writeMinhashStore(novel1, table, mode = "append")
      // batch 2 duplicates a batch-1 novel AND a corpus doc
      val batch2 = Seq(
        (30000L, alphaText),
        (30001L, docText(7)),
        (30002L, "bamboo circuit yonder maple seventy gossamer flute"))
        .toDF("doc_id", "text")
      val novel2 = Dedup.minhashNovelAgainstStore(spark, batch2, table,
        threshold = 0.5)
      assert(novel2.select($"doc_id").as[Long].collect().toSeq === Seq(30002L),
        "the appended batch-1 novel must now catch its batch-2 dup")
    } finally drop(table)
  }

  private def jobsOf[T](body: => T): (T, Seq[String]) =
    SparkJobs.jobsOf(spark, "minhash-novel-job-count")(body)

  test("the novel door's job count stays pinned") {
    // the novel/ingest fixture: a corpus dup, a novel, and an intra-batch
    // dup pair. It ran 56 jobs while the store join re-ran for every read
    // of the within-batch pass and the 1-edge near-dup graph took the
    // star rounds; with the snapshot and the driver component tier it
    // ran 27, and with the bucket-cap censuses skipped on the row bound
    // 20. With the store doors' driver tier the batch is local and only
    // the one bounded store query runs jobs: 4. The bound leaves 4 jobs
    // of slack
    val corpus = (0 until 30).map(i => (i.toLong, docText(i))).toDF("doc_id", "text")
    val table = "graft_mh_store_jobs"
    drop(table)
    try {
      Dedup.writeMinhashStore(corpus, table)
      val alphaText = "orchard ledger piano thirteen brick quantum marble"
      val batch = Seq(
        (10000L, docText(3)),
        (10001L, alphaText),
        (10002L, "velvet compass winter granite ninety lantern oboe"),
        (10003L, alphaText))
        .toDF("doc_id", "text")
      val (ids, jobs) = jobsOf {
        Dedup.minhashNovelAgainstStore(spark, batch, table, threshold = 0.5)
          .select($"doc_id").as[Long].collect()
      }
      assert(ids.sorted.toSeq === Seq(10001L, 10002L))
      assert(jobs.size <= 8, s"one novel door + collect ran ${jobs.size} Spark jobs")
      // the Spark tier, which larger batches take, keeps its own pin: 20
      // jobs measured, the bound of the door before the driver tier
      val (sparkIds, sparkJobs) = jobsOf {
        Dedup.storeNovelSpark(Dedup.minhashScheme(spark, table), spark, batch,
          table, "doc_id", "text", 0.5, 100000, dedupWithinBatch = true)
          .select($"doc_id").as[Long].collect()
      }
      assert(sparkIds.sorted.toSeq === Seq(10001L, 10002L))
      assert(sparkJobs.size <= 23,
        s"the Spark tier's novel pass + collect ran ${sparkJobs.size} Spark jobs")
    } finally drop(table)
  }

  test("the append writer's job count stays pinned") {
    // a 4-doc append under the cap: the signing snapshot (its row count
    // observed on the same job), the sigs write and the band write — no
    // bucket census: 5 jobs. The bound leaves 3 jobs of slack
    val corpus = (0 until 30).map(i => (i.toLong, docText(i))).toDF("doc_id", "text")
    val table = "graft_mh_store_append_jobs"
    drop(table)
    try {
      Dedup.writeMinhashStore(corpus, table)
      val batch = (100 until 104).map(i => (i.toLong, docText(i))).toDF("doc_id", "text")
      val (_, jobs) = jobsOf(Dedup.writeMinhashStore(batch, table, mode = "append"))
      assert(jobs.size <= 8, s"one append ran ${jobs.size} Spark jobs")
      assert(spark.table(table + Dedup.MinhashSigTableSuffix).count() === 34L)
    } finally drop(table)
  }

  test("the store door's cap census runs only past the bucket-row bound") {
    val corpus = (0 until 30).map(i => (i.toLong, docText(i))).toDF("doc_id", "text")
    val table = "graft_mh_store_census"
    drop(table)
    try {
      Dedup.writeMinhashStore(corpus, table)
      val batch = ((0 until 5).map(i => (10000L + i, docText(i))) ++
        Seq((10005L, "velvet compass winter granite ninety lantern oboe")))
        .toDF("doc_id", "text")
      def censusJobs(jobs: Seq[String]) = jobs.count(_.contains("capBucketsJoint"))
      def probe() = Dedup.minhashCandidatesAgainstStore(spark, batch, table)
        .as[(Long, Long, Double)].collect().toSet
      def sparkTier(b: org.apache.spark.sql.DataFrame) = Dedup.storeCandidatesSpark(
          Dedup.minhashScheme(spark, table), spark, b, table, "doc_id", "text", 100000)
        .as[(Long, Long, Double)].collect().toSet
      // stamped 30 + 6 batch rows ≤ the 100000 cap: no census job at all,
      // in the door and in its Spark tier, which larger batches take
      val (viaBound, skipJobs) = jobsOf(probe())
      assert(censusJobs(skipJobs) === 0, skipJobs.mkString("\n---\n"))
      val (sparkViaBound, sparkSkipJobs) = jobsOf(sparkTier(batch))
      assert(censusJobs(sparkSkipJobs) === 0, sparkSkipJobs.mkString("\n---\n"))
      assert(sparkViaBound === viaBound)
      // without a readable bound (here: one an older writer stamped, with
      // no fingerprint) the door censuses, with the same candidates
      spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
        s"('${Dedup.BucketRowBoundProp}'='30')")
      assert(StoreStamp.store(spark, table).get.stat(Dedup.BucketRowBoundProp).isEmpty)
      val (viaCensus, censusRun) = jobsOf(probe())
      assert(censusJobs(censusRun) >= 1, "the census path ran no census job")
      assert(viaCensus === viaBound)
      // a bound-less store turns the driver tier down before it collects
      // the batch or queries the store: a batch that is not local runs
      // the Spark tier's jobs and no others
      val shuffled = batch.repartition(2)
      val (viaDoor, doorJobs) = jobsOf(Dedup.minhashCandidatesAgainstStore(spark,
        shuffled, table).as[(Long, Long, Double)].collect().toSet)
      val (viaSpark, sparkJobs) = jobsOf(sparkTier(shuffled))
      assert(viaDoor === viaBound && viaSpark === viaBound)
      assert(doorJobs.size === sparkJobs.size, doorJobs.mkString("\n---\n"))
      assert(!doorJobs.exists(j => j.contains("localBatch") || j.contains("corpusHits")),
        doorJobs.mkString("\n---\n"))
      assert(viaBound.count(_._3 == 1.0) === 5, "fixture sanity: planted dups")
    } finally drop(table)
  }

  test("empty and all-null-text batches: same results, no hang on the observed counts") {
    val corpus = (0 until 10).map(i => (i.toLong, docText(i))).toDF("doc_id", "text")
    val table = "graft_mh_store_edge"
    drop(table)
    try {
      Dedup.writeMinhashStore(corpus, table)
      val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
      val nulls = Seq((700L, null.asInstanceOf[String]),
        (701L, null.asInstanceOf[String])).toDF("doc_id", "text")
      // null text never pairs, so every all-null row comes back novel
      Seq((empty, Seq.empty[Long]), (nulls, Seq(700L, 701L))).foreach {
        case (b, novel) =>
          failAfter(Span(60, Seconds)) {
            assert(Dedup.minhashCandidatesAgainstStore(spark, b, table).isEmpty)
            assert(Dedup.minhashNovelAgainstStore(spark, b, table)
              .select($"doc_id").as[Long].collect().sorted.toSeq === novel)
            assert(Dedup.nearDupMinhash(b, "doc_id", "text", 0.5).isEmpty)
            Dedup.writeMinhashStore(b, table, mode = "append")
          }
          // nothing signed, nothing added: the bound stays at the corpus's 10
          assert(spark.table(table).count() === 80L)
          assert(spark.table(table + Dedup.MinhashSigTableSuffix).count() === 10L)
          assert(StoreStamp.store(spark, table)
            .flatMap(_.stat(Dedup.BucketRowBoundProp)) === Some("10"))
      }
    } finally drop(table)
  }

  test("cross-append bucket growth: join-time skip, compaction ≡ fresh overwrite") {
    // identical boilerplate texts collide in EVERY band (identical
    // signatures), so appends below the per-batch cap still grow one
    // bucket past it — the exact join bomb the cap exists to stop
    val boiler = "the same boilerplate licence text repeated verbatim " +
      "across every appended batch of this corpus"
    val cap = 4
    val corpus1 = ((0 until 3).map(i => (i.toLong, boiler)) ++
      (10 until 15).map(i => (i.toLong, docText(i)))).toDF("doc_id", "text")
    val corpus2 = ((3 until 6).map(i => (i.toLong, boiler)) ++
      (15 until 20).map(i => (i.toLong, docText(i)))).toDF("doc_id", "text")
    val table = "graft_mh_store_grow"
    val fresh = "graft_mh_store_grow_fresh"
    drop(table); drop(fresh)
    try {
      Dedup.writeMinhashStore(corpus1, table, maxBucketSize = cap)
      Dedup.writeMinhashStore(corpus2, table, mode = "append",
        maxBucketSize = cap)
      // the boilerplate buckets now hold 6 > cap rows; the joint-cap
      // guard must SKIP them (warned) — a boiler probe finds nothing...
      // each write's census kept groups of at most the cap, so the
      // stamped bound (the two batches' largest kept groups summed) now
      // exceeds the cap: the door takes the census path
      val grown = StoreStamp.store(spark, table).get
        .stat(Dedup.BucketRowBoundProp).get.toLong
      assert(grown > cap && grown <= 2L * cap, s"stamped bound $grown")
      val boilerProbe = Seq((30000L, boiler)).toDF("doc_id", "text")
      assert(Dedup.minhashCandidatesAgainstStore(spark, boilerProbe, table,
        maxBucketSize = cap).filter($"corpus_id" < 6L).isEmpty,
        "grown bucket must be skipped at join time, not exploded")
      // ...while a dup of an un-grown doc still matches
      val docProbe = Seq((30001L, docText(12))).toDF("doc_id", "text")
      assert(Dedup.minhashCandidatesAgainstStore(spark, docProbe, table,
        maxBucketSize = cap)
        .filter($"corpus_id" === 12L && $"jaccard_est" === 1.0)
        .count() === 1)
      // the proactive stats door sees the growth before any join does
      // ≥8 over-cap groups (the boilerplate's 8 bands; the similar
      // docText docs add a few of their own) and a max of ≥6 (the six
      // boiler copies, +1 when a docText row shares the bucket)
      val pre = Dedup.minhashStoreStats(spark, table, maxBucketSize = cap)
        .as[(Long, Long, Long, Long)].head()
      assert(pre._4 >= 8L && pre._3 >= 6L,
        s"stats must show the grown buckets: $pre")
      // compaction re-caps across everything appended so far; the
      // result must equal a fresh overwrite of the accumulated corpus
      Dedup.compactMinhashStore(spark, table, maxBucketSize = cap)
      val post = Dedup.minhashStoreStats(spark, table, maxBucketSize = cap)
        .as[(Long, Long, Long, Long)].head()
      assert(post._4 === 0L && post._3 <= cap.toLong,
        s"stats must be clean after compaction: $post")
      Dedup.writeMinhashStore(corpus1.unionByName(corpus2), fresh,
        maxBucketSize = cap)
      val gotRows = spark.table(table).select($"id", $"band", $"bucket")
        .as[(Long, Int, Int)].collect().toSet
      val freshRows = spark.table(fresh).select($"id", $"band", $"bucket")
        .as[(Long, Int, Int)].collect().toSet
      assert(gotRows === freshRows,
        "compacted band table diverges from a fresh overwrite")
      assert(gotRows.nonEmpty && !gotRows.exists(_._1 < 6L),
        "boilerplate band rows must be gone, the rest intact")
      // VACUUM: the sigs sibling keeps exactly one row per SURVIVING
      // slim id — the boilerplate docs' signatures (orphans once every
      // band row of theirs was re-capped away) must be gone, not parked
      // in the index forever
      val sigIds = spark.table(table + Dedup.MinhashSigTableSuffix)
        .select($"id").as[Long].collect().toSeq
      assert(sigIds.size === sigIds.distinct.size,
        "duplicate sig rows survived the vacuum")
      assert(sigIds.toSet === gotRows.map(_._1),
        "vacuumed sigs must cover exactly the surviving slim ids")
      // the stamp survived the tmp-table swap: the doors still work
      assert(Dedup.minhashCandidatesAgainstStore(spark, docProbe, table,
        maxBucketSize = cap)
        .filter($"corpus_id" === 12L).count() === 1)
      // a compaction on a stamp-less table refuses loudly
      spark.sql(s"ALTER TABLE $fresh UNSET TBLPROPERTIES " +
        s"('${Dedup.MinhashStoreProp}')")
      val bad = intercept[IllegalArgumentException] {
        Dedup.compactMinhashStore(spark, fresh, maxBucketSize = cap)
      }
      assert(bad.getMessage.contains("stamp"))
    } finally { drop(table); drop(fresh) }
  }

  test("double-append: duplicate slim+sig rows repaired by compaction") {
    // the same accepted batch appended twice (a retried ingest step is
    // the realistic way this happens): every slim row and every sig row
    // of the batch is duplicated. Candidates stay correct (the doors
    // dedup), but the dead weight is permanent until compaction.
    val corpus = (0 until 10).map(i => (i.toLong, docText(i))).toDF("doc_id", "text")
    val batch = (100 until 105).map(i => (i.toLong, docText(i))).toDF("doc_id", "text")
    val table = "graft_mh_store_dup"
    val fresh = "graft_mh_store_dup_fresh"
    drop(table); drop(fresh)
    try {
      Dedup.writeMinhashStore(corpus, table)
      Dedup.writeMinhashStore(batch, table, mode = "append")
      Dedup.writeMinhashStore(batch, table, mode = "append") // the retry
      val sigTable = table + Dedup.MinhashSigTableSuffix
      // a pre-r17 store could carry a NULL-text sig row next to a later
      // real append of the same id; the vacuum's per-id pick must never
      // keep the null one (it would lose the signature permanently)
      val sigBuckets = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(sigTable))
        .bucketSpec.get.numBuckets
      Seq(101L).toDF("id")
        .withColumn("sig", lit(null).cast("array<bigint>"))
        .write.mode("append").bucketBy(sigBuckets, "id").sortBy("id")
        .format("parquet").saveAsTable(sigTable)
      assert(spark.table(sigTable).count() === 21L,
        "fixture sanity: doubled batch sigs + the planted null row")
      // the candidates door dedups, so a dup probe still sees ONE pair
      val probe = Seq((30000L, docText(101))).toDF("doc_id", "text")
      def probePairs() = Dedup.minhashCandidatesAgainstStore(spark, probe, table)
        .filter($"corpus_id" === 101L && $"jaccard_est" === 1.0).count()
      assert(probePairs() === 1L)
      // compaction repairs both tables to what ONE append would have left
      Dedup.compactMinhashStore(spark, table)
      Dedup.writeMinhashStore(corpus.unionByName(batch), fresh)
      def rows(t: String) = spark.table(t).select($"id", $"band", $"bucket")
        .as[(Long, Int, Int)].collect().toSeq.sorted
      assert(rows(table) === rows(fresh),
        "compacted slim table must equal a single-write store row-for-row " +
          "(multiset — duplicates removed, nothing else)")
      assert(spark.table(sigTable).count() === 15L &&
        spark.table(sigTable).select($"id").distinct().count() === 15L,
        "vacuum must leave one sig row per doc")
      assert(spark.table(sigTable)
        .filter($"id" === 101L && $"sig".isNotNull).count() === 1L,
        "vacuum kept the planted null sig over the real one")
      assert(probePairs() === 1L, "doors must still work after the repair")
    } finally { drop(table); drop(fresh) }
  }

  test("param stamp: mixed-parameter append and non-store tables error loudly") {
    val corpus = (0 until 10).map(i => (i.toLong, docText(i))).toDF("doc_id", "text")
    val table = "graft_mh_store_params"
    drop(table)
    try {
      Dedup.writeMinhashStore(corpus, table, numHashes = 64, bands = 8)
      val mixed = intercept[IllegalArgumentException] {
        Dedup.writeMinhashStore(corpus, table, numHashes = 64, bands = 16,
          mode = "append")
      }
      assert(mixed.getMessage.contains("stamped"))
      corpus.createOrReplaceTempView("graft_mh_plain")
      val notStore = intercept[IllegalArgumentException] {
        Dedup.minhashCandidatesAgainstStore(spark, corpus, "graft_mh_plain")
      }
      assert(notStore.getMessage.contains("writeMinhashStore"))
      // empty batch: no candidates, novel door returns nothing
      val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
      assert(Dedup.minhashCandidatesAgainstStore(spark, empty, table).isEmpty)
      assert(Dedup.minhashNovelAgainstStore(spark, empty, table).isEmpty)
      // null text never matches anything: Spark's hash(null) is a seed
      // constant, so unfiltered null signatures would all share one
      // bucket per band and emit phantom null-estimate pairs
      val withNull = Seq((700L, null.asInstanceOf[String]),
        (701L, docText(1))).toDF("doc_id", "text")
      val nullCands = Dedup.minhashCandidatesAgainstStore(spark, withNull, table)
      assert(nullCands.filter($"batch_id" === 700L).isEmpty,
        "null-text batch row produced candidates")
      assert(nullCands.filter($"batch_id" === 701L).count() >= 1)
      assert(Dedup.minhashCandidates(
        Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]),
          (3L, docText(0))).toDF("doc_id", "text"), "doc_id", "text").isEmpty,
        "self-join door paired null-text rows")
      // a missing stamp (the mid-write crash window leaves exactly this)
      // refuses loudly instead of silently joining stale tables
      spark.sql(s"ALTER TABLE $table UNSET TBLPROPERTIES " +
        s"('${Dedup.MinhashStoreProp}')")
      val midWrite = intercept[IllegalArgumentException] {
        Dedup.minhashCandidatesAgainstStore(spark, corpus, table)
      }
      assert(midWrite.getMessage.contains("rewrite"))
    } finally drop(table)
  }
}
