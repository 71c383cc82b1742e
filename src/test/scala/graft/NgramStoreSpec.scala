package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Dedup

/** The persistent word-n-gram MinHash index
  * ([[Dedup.writeNgramStore]] / [[Dedup.ngramCandidatesAgainstStore]] /
  * [[Dedup.ngramNovelAgainstStore]]) — the token-level tier of the
  * persistent near-dup family, riding the same two-table signature-store
  * core as the shingle tier: full-agreement estimates must coincide with
  * the in-frame [[Dedup.nearDupNgram]] door's exact-1.0 pairs, the
  * novel/ingest cycle must collapse intra-batch dups and re-catch
  * appended content, null text must never match, and the stamp must
  * refuse mixed parameters, foreign tables, and the mid-write window. */
class NgramStoreSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def drop(table: String): Unit =
    Dedup.dropNgramStore(spark, table)

  private def docText(i: Int): String =
    s"document number $i talks about topic ${i % 7} and shares a long " +
      s"common preamble with its siblings while sentence $i diverges in " +
      s"the tail with unique content ${i * 31}"

  test("store candidates: est-1.0 pairs == the in-frame door's exact-1.0 cross pairs") {
    val corpus = (0 until 40).map(i => (i.toLong, docText(i))).toDF("doc_id", "text")
    val batch = ((0 until 15).map(i => (10000L + i, docText(i))) ++
      (0 until 10).map(i => (20000L + i,
        s"novel ingest row $i with entirely fresh content ${i * 997} zzz")))
      .toDF("doc_id", "text")
    val table = "graft_ng_store"
    drop(table)
    try {
      Dedup.writeNgramStore(corpus, table)
      val viaStore = Dedup.ngramCandidatesAgainstStore(spark, batch, table)
        .filter($"jaccard_est" === 1.0)
        .select($"corpus_id", $"batch_id").as[(Long, Long)].collect().toSet
      // exact jaccard 1.0 means identical n-gram sets → identical
      // signatures → est 1.0 and a collision in every band: the two
      // doors must agree exactly on the full-agreement pairs
      val cross = Dedup.nearDupNgram(corpus.unionByName(batch),
          "doc_id", "text", threshold = 1.0)
        .filter($"id_a" < 10000 && $"id_b" >= 10000)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(viaStore === cross,
        "store-door full-agreement pairs diverge from the in-frame door")
      assert((0 until 15).forall(i => viaStore.contains((i.toLong, 10000L + i))),
        "every planted exact dup must estimate jaccard 1.0")
    } finally drop(table)
  }

  test("novel/ingest cycle: filter, append, and the next batch sees the appended rows") {
    val corpus = (0 until 30).map(i => (i.toLong, docText(i))).toDF("doc_id", "text")
    val table = "graft_ng_store_cycle"
    drop(table)
    try {
      Dedup.writeNgramStore(corpus, table)
      val alphaText = "orchard ledger piano thirteen brick quantum marble"
      val batch1 = Seq(
        (10000L, docText(3)), // dup of corpus
        (10001L, alphaText),
        (10002L, "velvet compass winter granite ninety lantern oboe"),
        (10003L, alphaText)) // intra-batch dup of 10001
        .toDF("doc_id", "text")
      val novel1 = Dedup.ngramNovelAgainstStore(spark, batch1, table,
        threshold = 0.5)
      assert(novel1.select($"doc_id").as[Long].collect().sorted.toSeq ===
        Seq(10001L, 10002L),
        "corpus dup filtered, novels kept, intra-batch dup collapsed to min id")
      val noSelf = Dedup.ngramNovelAgainstStore(spark, batch1, table,
        threshold = 0.5, dedupWithinBatch = false)
      assert(noSelf.select($"doc_id").as[Long].collect().sorted.toSeq ===
        Seq(10001L, 10002L, 10003L))
      // the snapshot before the within-batch pass keeps every batch column, in order
      assert(Seq(novel1, noSelf).forall(_.columns.toSeq == batch1.columns.toSeq))
      Dedup.writeNgramStore(novel1, table, mode = "append")
      val batch2 = Seq(
        (30000L, alphaText),
        (30001L, docText(7)),
        (30002L, "bamboo circuit yonder maple seventy gossamer flute"))
        .toDF("doc_id", "text")
      val novel2 = Dedup.ngramNovelAgainstStore(spark, batch2, table,
        threshold = 0.5)
      assert(novel2.select($"doc_id").as[Long].collect().toSeq === Seq(30002L),
        "the appended batch-1 novel must now catch its batch-2 dup")
      // compaction with ample cap is behavior-preserving, and the
      // stats door reads clean at the default cap (plus: a disabled
      // cap reports nothing over it, the family convention)
      Dedup.compactNgramStore(spark, table)
      val novel2b = Dedup.ngramNovelAgainstStore(spark, batch2, table,
        threshold = 0.5)
      assert(novel2b.select($"doc_id").as[Long].collect().toSeq === Seq(30002L))
      val stats = Dedup.ngramStoreStats(spark, table)
        .as[(Long, Long, Long, Long)].head()
      assert(stats._1 > 0L && stats._4 === 0L, s"unexpected stats: $stats")
      val uncapped = Dedup.ngramStoreStats(spark, table, maxBucketSize = 0)
        .as[(Long, Long, Long, Long)].head()
      assert(uncapped._4 === 0L, "disabled cap must report zero over-cap")
    } finally drop(table)
  }

  test("param stamp: mixed-parameter append, non-store tables, null text") {
    val corpus = (0 until 10).map(i => (i.toLong, docText(i))).toDF("doc_id", "text")
    val table = "graft_ng_store_params"
    drop(table)
    try {
      Dedup.writeNgramStore(corpus, table, n = 3, numHashes = 64, bands = 8)
      val mixed = intercept[IllegalArgumentException] {
        Dedup.writeNgramStore(corpus, table, n = 4, mode = "append")
      }
      assert(mixed.getMessage.contains("stamped"))
      corpus.createOrReplaceTempView("graft_ng_plain")
      val notStore = intercept[IllegalArgumentException] {
        Dedup.ngramCandidatesAgainstStore(spark, corpus, "graft_ng_plain")
      }
      assert(notStore.getMessage.contains("writeNgramStore"))
      // a minhash (shingle-tier) store is NOT an ngram store: the two
      // stamps are distinct properties, so the wrong door refuses
      val other = "graft_ng_wrong_tier"
      Dedup.dropMinhashStore(spark, other)
      Dedup.writeMinhashStore(corpus, other)
      val wrongTier = intercept[IllegalArgumentException] {
        Dedup.ngramCandidatesAgainstStore(spark, corpus, other)
      }
      assert(wrongTier.getMessage.contains("writeNgramStore"))
      Dedup.dropMinhashStore(spark, other)
      // null text never matches anything (ngramHashesOf null-propagates;
      // without it every null-text row would share the {hash("")} gram
      // set and pair at exact jaccard 1.0)
      val withNull = Seq((700L, null.asInstanceOf[String]),
        (701L, docText(1))).toDF("doc_id", "text")
      val nullCands = Dedup.ngramCandidatesAgainstStore(spark, withNull, table)
      assert(nullCands.filter($"batch_id" === 700L).isEmpty,
        "null-text batch row produced candidates")
      assert(nullCands.filter($"batch_id" === 701L).count() >= 1)
      assert(Dedup.nearDupNgram(
        Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]),
          (3L, docText(0))).toDF("doc_id", "text"),
        "doc_id", "text", threshold = 0.5).isEmpty,
        "in-frame door paired null-text rows")
      // mid-write stamp gate
      spark.sql(s"ALTER TABLE $table UNSET TBLPROPERTIES " +
        s"('${Dedup.NgramStoreProp}')")
      val midWrite = intercept[IllegalArgumentException] {
        Dedup.ngramCandidatesAgainstStore(spark, corpus, table)
      }
      assert(midWrite.getMessage.contains("rewrite"))
    } finally drop(table)
  }
}
