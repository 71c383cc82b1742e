package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Dedup

/** The four persistent near-dup store tiers (minhash, n-gram, simhash,
  * embedding) as one family:
  *  - stored layouts are pinned: slim and sibling schemas, bucket specs,
  *    the params stamp and the bucket-row bound after an overwrite, an
  *    append and a compaction;
  *  - every tier's candidates door refuses a store written by any other
  *    tier, naming its own writer;
  *  - the minhash novel door's within-batch pass honours the caller's
  *    `maxBucketSize`, as the other three novel doors do. */
class StorePipelineSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docText(i: Int): String =
    s"document number $i talks about topic ${i % 7} and shares a long " +
      s"common preamble with its siblings while sentence $i diverges in " +
      s"the tail with unique content ${i * 31}"

  private def texts(ids: Seq[Int]): DataFrame =
    ids.map(i => (i.toLong, docText(i))).toDF("doc_id", "text")

  private val vecs: Seq[Seq[Double]] = {
    val rnd = new java.util.Random(0x5A7E)
    Seq.fill(40)(Seq.fill(8)(rnd.nextGaussian()))
  }

  /** A table's layout: (name, type) per column, bucket count, bucket
    * columns and sort columns. */
  private case class Layout(cols: Seq[(String, String)], buckets: Int,
      bucketCols: Seq[String], sortCols: Seq[String])

  /** One store tier and the layout its writes must keep. */
  private case class Tier(name: String, writer: String, prop: String,
      stamp: String, frame: Seq[Int] => DataFrame,
      write: (DataFrame, String, String) => Unit,
      compact: String => Unit,
      candidates: (DataFrame, String) => DataFrame,
      drop: String => Unit,
      slim: Layout, sibling: Option[(String, Layout)])

  private val Buckets = 8

  private val tiers = Seq(
    Tier("minhash", "writeMinhashStore", Dedup.MinhashStoreProp, "v2:64:8:5",
      texts,
      (df, t, mode) => Dedup.writeMinhashStore(df, t, buckets = Buckets, mode = mode),
      t => Dedup.compactMinhashStore(spark, t),
      (b, t) => Dedup.minhashCandidatesAgainstStore(spark, b, t),
      t => Dedup.dropMinhashStore(spark, t),
      Layout(Seq("id" -> "bigint", "band" -> "int", "bucket" -> "int"),
        Buckets, Seq("band", "bucket"), Seq("band", "bucket")),
      Some(Dedup.MinhashSigTableSuffix -> Layout(
        Seq("id" -> "bigint", "sig" -> "array<bigint>"), Buckets,
        Seq("id"), Seq("id")))),
    Tier("ngram", "writeNgramStore", Dedup.NgramStoreProp, "v1:3:64:8",
      texts,
      (df, t, mode) => Dedup.writeNgramStore(df, t, buckets = Buckets, mode = mode),
      t => Dedup.compactNgramStore(spark, t),
      (b, t) => Dedup.ngramCandidatesAgainstStore(spark, b, t),
      t => Dedup.dropNgramStore(spark, t),
      Layout(Seq("id" -> "bigint", "band" -> "int", "bucket" -> "int"),
        Buckets, Seq("band", "bucket"), Seq("band", "bucket")),
      Some(Dedup.MinhashSigTableSuffix -> Layout(
        Seq("id" -> "bigint", "sig" -> "array<bigint>"), Buckets,
        Seq("id"), Seq("id")))),
    Tier("simhash", "writeSimhashStore", Dedup.SimhashStoreProp, "v1:4",
      texts,
      (df, t, mode) => Dedup.writeSimhashStore(df, t, buckets = Buckets, mode = mode),
      t => Dedup.compactSimhashStore(spark, t),
      (b, t) => Dedup.simhashCandidatesAgainstStore(spark, b, t),
      t => graft.join.SpatialJoin.dropBucketedTable(spark, t),
      Layout(Seq("id" -> "bigint", "sim" -> "bigint", "chunk" -> "int",
        "bucket" -> "bigint"), Buckets, Seq("chunk", "bucket"),
        Seq("chunk", "bucket")),
      None),
    Tier("embedding", "writeEmbeddingStore", Dedup.EmbeddingStoreProp, "v1:13:8",
      ids => ids.map(i => (i.toLong, vecs(i % 40))).toDF("doc_id", "text"),
      (df, t, mode) => Dedup.writeEmbeddingStore(df, t, idCol = "doc_id",
        vecCol = "text", buckets = Buckets, mode = mode),
      t => Dedup.compactEmbeddingStore(spark, t),
      (b, t) => Dedup.embeddingCandidatesAgainstStore(spark, b, t,
        idCol = "doc_id", vecCol = "text"),
      t => Dedup.dropEmbeddingStore(spark, t),
      Layout(Seq("id" -> "bigint", "t" -> "int", "sig" -> "bigint"),
        Buckets, Seq("t", "sig"), Seq("t", "sig")),
      Some(Dedup.EmbeddingVecTableSuffix -> Layout(
        Seq("id" -> "bigint", "vec" -> "array<double>"), Buckets,
        Seq("id"), Seq("id")))))

  private def meta(table: String) =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))

  private def layoutOf(table: String): Layout = {
    val m = meta(table)
    val spec = m.bucketSpec.getOrElse(fail(s"$table is not bucketed"))
    Layout(spark.table(table).schema.fields.toSeq
        .map(f => f.name -> f.dataType.simpleString),
      spec.numBuckets, spec.bucketColumnNames, spec.sortColumnNames)
  }

  /** Every table of the store has its pinned layout, and the slim
    * table carries exactly the params stamp and `bound`. */
  private def checkLayout(tier: Tier, table: String, bound: Long,
      step: String): Unit = {
    assert(layoutOf(table) === tier.slim, s"${tier.name} $step: slim layout")
    tier.sibling.foreach { case (suffix, layout) =>
      assert(layoutOf(table + suffix) === layout,
        s"${tier.name} $step: sibling layout")
    }
    val props = meta(table).properties
    assert(props.get(tier.prop) === Some(tier.stamp),
      s"${tier.name} $step: params stamp")
    assert(StoreStamp.store(spark, table).flatMap(_.stat(Dedup.BucketRowBoundProp)) ===
      Some(bound.toString),
      s"${tier.name} $step: bucket-row bound")
  }

  tiers.foreach { tier =>
    test(s"${tier.name}: stored layout after overwrite, append and compaction") {
      val table = s"graft_layout_${tier.name}"
      tier.drop(table)
      try {
        tier.write(tier.frame(0 until 12), table, "overwrite")
        checkLayout(tier, table, 12L, "overwrite")
        tier.write(tier.frame(12 until 16), table, "append")
        checkLayout(tier, table, 16L, "append")
        tier.compact(table)
        checkLayout(tier, table, 16L, "compaction")
      } finally tier.drop(table)
    }
  }

  test("every candidates door refuses the other three tiers' stores, naming its own writer") {
    val tables = tiers.map(t => t.name -> s"graft_refuse_${t.name}").toMap
    tiers.foreach(t => t.drop(tables(t.name)))
    try {
      tiers.foreach(t => t.write(t.frame(0 until 6), tables(t.name), "overwrite"))
      val cases = for (door <- tiers; store <- tiers if store != door) yield {
        val e = intercept[IllegalArgumentException] {
          door.candidates(door.frame(0 until 3), tables(store.name))
        }
        assert(e.getMessage.contains(door.writer),
          s"${door.name} door on a ${store.name} store: ${e.getMessage}")
        (door.name, store.name)
      }
      assert(cases.size === 12)
    } finally tiers.foreach(t => t.drop(tables(t.name)))
  }

  test("minhash novel door: the within-batch pass runs at the caller's maxBucketSize") {
    val table = "graft_novel_cap_mh"
    val ngTable = "graft_novel_cap_ng"
    Dedup.dropMinhashStore(spark, table)
    Dedup.dropNgramStore(spark, ngTable)
    try {
      Dedup.writeMinhashStore(texts(0 until 20), table)
      Dedup.writeNgramStore(texts(0 until 20), ngTable)
      // three identical new docs, unrelated to the store: every bucket
      // of theirs holds 3 rows, past a cap of 2
      val fresh = "a wholly fresh document about gardening tools and " +
        "the care of hand saws in damp sheds over a long winter season"
      val batch = Seq(500L, 501L, 502L).map(i => (i, fresh)).toDF("doc_id", "text")
      val cap = 2
      val threshold = 0.8
      val ids = (df: DataFrame) => df.select($"doc_id").as[Long].collect().toSet
      val novel = ids(Dedup.minhashNovelAgainstStore(spark, batch, table,
        threshold = threshold, maxBucketSize = cap))
      // the reference: batch rows without a store hit, then the
      // within-batch dedup at the same cap
      val hits = Dedup.minhashCandidatesAgainstStore(spark, batch, table,
        maxBucketSize = cap).filter($"jaccard_est" >= threshold)
        .select($"batch_id")
      val vsCorpus = batch.join(hits, batch("doc_id") === hits("batch_id"),
        "left_anti")
      val pairs = Dedup.minhashCandidates(vsCorpus, "doc_id", "text",
        bands = Dedup.autoBands(64, threshold), maxBucketSize = cap)
      val losers = if (pairs.isEmpty) Set.empty[Long]
        else Dedup.connectedComponents(pairs, "id_a", "id_b")
          .filter($"id" =!= $"component").select($"id").as[Long].collect().toSet
      val expected = ids(vsCorpus) -- losers
      assert(novel === expected)
      // every bucket of the identical docs is over the cap, so no
      // within-batch pair survives and all three are novel
      assert(novel === Set(500L, 501L, 502L))
      assert(novel === ids(Dedup.ngramNovelAgainstStore(spark, batch, ngTable,
        threshold = threshold, maxBucketSize = cap)),
        "the minhash and n-gram novel doors disagree at the same cap")
    } finally {
      Dedup.dropMinhashStore(spark, table)
      Dedup.dropNgramStore(spark, ngTable)
    }
  }
}
