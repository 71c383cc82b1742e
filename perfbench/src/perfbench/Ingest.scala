package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.join.SpatialJoin
import graft.pipeline.{Dedup, TextAnalysis}

/** ingest: one seeded batch per cycle goes through text stats and the
  * minhash novelty door, is appended to the minhash store and to a bucketed
  * spatial store (re-stamped with its CellSummary), and is then queried
  * with the bucketed join and the unbounded bucketed nearest join; every
  * [[CompactEvery]]th batch (the first included) then compacts the minhash
  * store.
  * Writes and reads hit the same stores, so work moved between write and
  * query time shows on both sides. */
object Ingest extends Workload {
  val name = "ingest"
  val nominalCycleS = 8.0
  val warmupCycles = 1
  // spatial store: one point per occupied cell of a PG × PG grid
  val PG = 256
  val Cell = 16.0
  val Buckets = 8
  val InitPoints = 4096
  val BatchPoints = 256
  val QueryRects = 4
  val QuerySpan = 8
  val Probes = 64
  // minhash store
  val InitDocs = 600
  val CorpusDups = 24
  val BatchPairs = 8
  val FreshDocs = 120
  val BatchDocs: Int = CorpusDups + 2 * BatchPairs + FreshDocs
  val MinPlantedJaccard = 0.98
  val Threshold = 0.8
  val CompactEvery = 3
  /** Band rows per document in the minhash store (its default banding). */
  val Bands = 8
  val DistTol = 1e-9

  private val MhTable = "ing_mh"
  private val PtTable = "ing_pts"
  private val QTable = "ing_q"

  final case class Doc(id: Long, text: String)
  final case class Batch(no: Int, docs: Seq[Doc], novel: Set[Long], corpusDups: Set[Long],
      points: Seq[(Long, Double, Double)],
      rects: Seq[(Long, Int, Int)], probes: Seq[(Long, Double, Double, Long, Double)])

  // driver-side model of what the stores hold
  private var vocab: Array[String] = _
  private var initDocs: Seq[Doc] = _
  private var cellOrder: Array[Int] = _
  private var pointXY: Map[Int, (Double, Double)] = _
  private val stored = mutable.ArrayBuffer.empty[Doc]
  private var storedCells = 0
  private var nextDocId = 0L
  private var batchNo = 0
  private var inputBytes = 0L
  private var docsOffered = 0L
  private var docsNovel = 0L
  private def rng(seed: Long, stream: Long) =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + 37)

  private def randomDoc(r: SplittableRandom) = Gen.document(vocab, 160 + r.nextInt(60), r)

  /** A near-duplicate at exact shingle jaccard ≥ [[MinPlantedJaccard]]. */
  private def nearDup(text: String, r: SplittableRandom): String = {
    var d = Gen.mutate(text, vocab, r)
    while (Gen.jaccard(text, d) < MinPlantedJaccard) d = Gen.mutate(text, vocab, r)
    d
  }

  /** Documents for the kernel probes, same shape as the ingested ones. */
  def probeDocs(seed: Long): Seq[String] = {
    val r = rng(seed, 7)
    val v = Gen.vocabulary(4000, r)
    Seq.fill(1000)(Gen.document(v, 160 + r.nextInt(60), r))
  }

  override def prepareOracle(ctx: Ctx): Unit = {
    val r = rng(ctx.seed, 1)
    vocab = Gen.vocabulary(4000, r)
    initDocs = Seq.tabulate(InitDocs)(i => Doc(i.toLong, randomDoc(r)))
    cellOrder = Gen.permutation(PG * PG, r)
    pointXY = cellOrder.map { c =>
      c -> ((c % PG) * Cell + 2 + 12 * r.nextDouble(), (c / PG) * Cell + 2 + 12 * r.nextDouble())
    }.toMap
  }

  /** Next batch: corpus near-dups of stored documents, near-dup pairs
    * inside the batch (the lower id survives), fresh documents, new
    * points, query rects over aligned cell blocks and nearest probes
    * within 1 unit of stored points. */
  private def nextBatch(seed: Long): Batch = {
    val no = batchNo
    val r = rng(seed, 100 + no)
    batchNo += 1
    val ids = Array.tabulate(BatchDocs)(i => nextDocId + i)
    nextDocId += BatchDocs
    val order = Gen.permutation(BatchDocs, r)
    val dupIds = (0 until CorpusDups).map(i => ids(order(i)))
    val pairIds = (0 until BatchPairs).map { j =>
      val (a, b) = (ids(order(CorpusDups + 2 * j)), ids(order(CorpusDups + 2 * j + 1)))
      (math.min(a, b), math.max(a, b))
    }
    val freshIds = (CorpusDups + 2 * BatchPairs until BatchDocs).map(i => ids(order(i)))
    val docs = mutable.ArrayBuffer.empty[Doc]
    for (id <- dupIds) docs += Doc(id, nearDup(stored(r.nextInt(stored.length)).text, r))
    for ((head, tail) <- pairIds) {
      val t = randomDoc(r)
      docs += Doc(head, t)
      docs += Doc(tail, nearDup(t, r))
    }
    for (id <- freshIds) docs += Doc(id, randomDoc(r))
    val novel = (pairIds.map(_._1) ++ freshIds).toSet

    val newCells = cellOrder.slice(storedCells, storedCells + BatchPoints)
    val points = newCells.toSeq.map(c => (c.toLong, pointXY(c)._1, pointXY(c)._2))
    val rects = Seq.tabulate(QueryRects)(j => (j.toLong, r.nextInt(PG - QuerySpan),
      r.nextInt(PG - QuerySpan)))
    val occupied = storedCells + BatchPoints
    val probes = Seq.tabulate(Probes) { j =>
      val c = cellOrder(r.nextInt(occupied))
      val (d, a) = (r.nextDouble(), 2 * math.Pi * r.nextDouble())
      (j.toLong, pointXY(c)._1 + d * math.cos(a), pointXY(c)._2 + d * math.sin(a), c.toLong, d)
    }
    val rowOrder = Gen.permutation(docs.length, r)
    Batch(no, rowOrder.toSeq.map(docs), novel, dupIds.toSet, points, rects, probes)
  }

  private def pointsDf(ctx: Ctx, pts: Seq[(Long, Double, Double)]): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    pts.toDF("rk", "x", "y").select(col("rk"), st_point(col("x"), col("y")).as("geometry"))
  }

  private def docsDf(ctx: Ctx, docs: Seq[Doc]): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
  }

  def setup(ctx: Ctx): Unit = {
    stored.clear(); stored ++= initDocs
    storedCells = InitPoints
    nextDocId = InitDocs
    batchNo = 0
    docsOffered = 0L
    docsNovel = 0L
    inputBytes = initDocs.map(_.text.length.toLong).sum + 16L * InitPoints
    SpatialJoin.writeSpatialBucketed(pointsDf(ctx, cellOrder.take(InitPoints).toSeq
      .map(c => (c.toLong, pointXY(c)._1, pointXY(c)._2))), PtTable, Cell, Buckets)
    SpatialJoin.stampCellSummary(ctx.spark, PtTable)
    Dedup.writeMinhashStore(docsDf(ctx, initDocs), MhTable, buckets = Buckets)
  }

  def teardown(ctx: Ctx): Unit = {
    Dedup.dropMinhashStore(ctx.spark, MhTable)
    Seq(PtTable, QTable).foreach(SpatialJoin.dropBucketedTable(ctx.spark, _))
  }

  private def pairHashOf(pairs: Seq[(Long, Long)]) =
    pairs.foldLeft(0L)((h, p) => h ^ Stats.pairHash(p._1, p._2))

  def cycle(ctx: Ctx, i: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val b = nextBatch(ctx.seed)
    val batch = docsDf(ctx, b.docs)
    if (i >= 0) {
      docsOffered += b.docs.length
      docsNovel += b.novel.size
    }
    inputBytes += b.docs.map(_.text.length.toLong).sum + 16L * b.points.length

    val t = col("text")
    ctx.call("text_stats", "pipeline", 0)(batch.select(TextAnalysis.tokenCount(t).as("n"),
      TextAnalysis.alphaRatio(t).as("a"), TextAnalysis.langId(t).as("l"),
      TextAnalysis.qualityScore(t).as("q"), TextAnalysis.fingerprint(t).as("f"))) { df =>
      ctx.collect(df.agg(sum(col("n")), count(col("l")), count(col("f")), sum(col("a"))))(0)
    } { row =>
      val words = b.docs.map(_.text.split(' ').length.toLong).sum
      Check(row.getLong(0) == words, s"text_stats: ${row.getLong(0)} tokens, want $words")
      Check(row.getLong(2) == b.docs.length, "text_stats: fingerprint count differs")
    }

    ctx.call("novel", "pipeline", BatchDocs)(Dedup.minhashNovelAgainstStore(spark, batch,
      MhTable, threshold = Threshold)) { df =>
      val ids = ctx.collect(df.select(col("doc_id"))).map(_.getLong(0)).toSet
      ctx.outRows(ids.size)
      ids
    } { ids =>
      Check(ids == b.novel, s"novel: ${(ids diff b.novel).size} unexpected, " +
        s"${(b.novel diff ids).size} missing of ${b.novel.size}")
    }

    // appends the checked novel set, so the store and the driver's model agree
    // even after a failed `novel` call
    stored ++= b.docs.filter(d => b.novel(d.id))
    ctx.call("mh_append", "store_write", 0)(Dedup.writeMinhashStore(
      batch.filter(col("doc_id").isin(b.novel.toSeq: _*)), MhTable, buckets = Buckets,
      mode = "append"))(identity)(_ => checkMinhashStore(ctx, "mh_append"))

    storedCells += BatchPoints
    ctx.call("geo_append", "store_write", BatchPoints) {
      SpatialJoin.writeSpatialBucketed(pointsDf(ctx, b.points), PtTable, Cell, Buckets,
        mode = "append")
      SpatialJoin.stampCellSummary(spark, PtTable)
    }(identity) { _ =>
      val row = spark.table(PtTable).agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(rk))"), lit(0L))).head()
      val want = cellOrder.take(storedCells)
      Check(row.getLong(0) == want.length,
        s"geo_append: store holds ${row.getLong(0)} points, want ${want.length}")
      Check(row.getLong(1) == idHashOf(want.map(_.toLong)), "geo_append: point id set differs")
    }

    val inRect = b.rects.flatMap { case (q, cx, cy) =>
      cellOrder.take(storedCells).filter { c =>
        val (x, y) = (c % PG, c / PG)
        x >= cx && x < cx + QuerySpan && y >= cy && y < cy + QuerySpan
      }.map(c => (q, c.toLong))
    }
    ctx.call("query_bucketed", "store_query", 0) {
      SpatialJoin.writeSpatialBucketed(b.rects.toDF("lk", "cx", "cy").select(col("lk"),
        st_rectangle(col("cx") * Cell, col("cy") * Cell, (col("cx") + QuerySpan) * Cell,
          (col("cy") + QuerySpan) * Cell).as("geometry")), QTable, Cell, Buckets)
      SpatialJoin.sjoinBucketed(spark, QTable, PtTable, Cell, "contains")
    }(df => pairRow(ctx, df, dist = false)) { row =>
      Check(row.getLong(0) == inRect.length,
        s"query_bucketed: ${row.getLong(0)} pairs, want ${inRect.length}")
      Check(row.getLong(1) == pairHashOf(inRect), "query_bucketed: pair set differs")
    }

    ctx.call("knn_bucketed", "store_query", 0)(SpatialJoin.sjoinNearestBucketed(spark,
      b.probes.map(p => (p._1, p._2, p._3)).toDF("lk", "x", "y")
        .select(col("lk"), st_point(col("x"), col("y")).as("geometry")),
      PtTable, Cell, k = 1, maxDistance = Double.PositiveInfinity,
      distanceCol = Some("d")))(df => pairRow(ctx, df, dist = true)) { row =>
      Check(row.getLong(0) == Probes, s"knn_bucketed: ${row.getLong(0)} pairs, want $Probes")
      Check(row.getLong(1) == pairHashOf(b.probes.map(p => (p._1, p._4))),
        "knn_bucketed: neighbour set differs")
      Check.near("knn_bucketed distance sum", row.getDouble(2), b.probes.map(_._5).sum, DistTol)
    }

    if (b.no % CompactEvery == 0)
      ctx.call("compact", "compact", 0)(Dedup.compactMinhashStore(spark, MhTable))(identity)(
        _ => checkMinhashStore(ctx, "compact"))
  }

  private def idHashOf(ids: Iterable[Long]) = ids.foldLeft(0L)(_ ^ Stats.idHash(_))

  /** The minhash store against the driver's model: one signature row per
    * stored document (count and id-set hash) and [[Bands]] band rows per
    * document. */
  private def checkMinhashStore(ctx: Ctx, call: String): Unit = {
    val sigs = ctx.spark.table(MhTable + Dedup.MinhashSigTableSuffix).agg(count(lit(1)),
      coalesce(expr("bit_xor(xxhash64(id))"), lit(0L))).head()
    val bands = ctx.spark.table(MhTable).agg(count(lit(1)), countDistinct(col("id"))).head()
    val n = stored.length.toLong
    Check(sigs.getLong(0) == n, s"$call: ${sigs.getLong(0)} signature rows, want $n")
    Check(sigs.getLong(1) == idHashOf(stored.map(_.id)), s"$call: signature id set differs")
    Check(bands.getLong(0) == Bands * n && bands.getLong(1) == n,
      s"$call: ${bands.getLong(0)} band rows over ${bands.getLong(1)} ids, want ${Bands * n} over $n")
  }

  private def pairRow(ctx: Ctx, df: DataFrame, dist: Boolean): Row = {
    val aggs = Seq(count(lit(1)), coalesce(expr("bit_xor(xxhash64(lk, rk))"), lit(0L))) ++
      (if (dist) Seq(sum(col("d"))) else Nil)
    val row = ctx.collect(df.agg(aggs.head, aggs.tail: _*))(0)
    ctx.outRows(row.getLong(0))
    row
  }

  def geometrySample(ctx: Ctx): Array[Array[Byte]] =
    ctx.spark.table(PtTable).select("geometry").limit(2048).collect()
      .map(_.getAs[Array[Byte]](0))

  /** Candidate pairs of one more batch against the store, checked against
    * exact shingle jaccard: every planted corpus near-dup must be found,
    * and on a seeded slice the estimate must sit near the exact value. */
  private var candidates = 0.0

  override def probeCalls(ctx: Ctx): Unit = {
    val b = nextBatch(ctx.seed)
    ctx.call("candidates", "pipeline_probe", 0)(Dedup.minhashCandidatesAgainstStore(ctx.spark,
      docsDf(ctx, b.docs), MhTable)) { df =>
      ctx.collect(df).map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"),
        r.getAs[Double]("jaccard_est")))
    }(checkCandidates(ctx, b))
  }

  private def checkCandidates(ctx: Ctx, b: Batch)(pairs: Array[(Long, Long, Double)]): Unit = {
    candidates = pairs.length.toDouble
    val text = (stored ++ b.docs).map(d => d.id -> d.text).toMap
    val found = pairs.map(_._1).toSet
    Check(b.corpusDups.forall(found), "candidate pairs: a planted corpus near-dup was missed")
    val r = rng(ctx.seed, 5)
    for (_ <- 0 until math.min(16, pairs.length)) {
      val (a, c, est) = pairs(r.nextInt(pairs.length))
      val exact = Gen.jaccard(text(a), text(c))
      Check(math.abs(est - exact) <= 0.25, s"candidate ($a, $c): estimate $est, exact $exact")
    }
  }

  override def layerMetrics(ctx: Ctx): Map[String, Double] = {
    val wh = new File(ctx.spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    val storeBytes = Stats.dirBytes(wh) - Stats.dirBytes(new File(wh, QTable))
    Map(
      "store_bytes_per_input_byte" -> storeBytes.toDouble / inputBytes,
      "pipeline.novel_ratio" -> docsNovel.toDouble / math.max(1L, docsOffered),
      "pipeline.store_rows" ->
        ctx.spark.table(MhTable + Dedup.MinhashSigTableSuffix).count().toDouble,
      "pipeline.candidate_pairs" -> candidates) ++
      perfbench.Probes.pipeline(ctx.spark, probeDocs(ctx.seed))
  }
}
