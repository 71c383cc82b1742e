package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Two tiers, mirroring the spatial-join design:
  * - [[bruteForceTopK]] — exact: broadcast the (small) query set, score
  *   every corpus row with a codegen'd dot product, rank per query. Scales
  *   linearly with the corpus across executors; the shuffle is only the
  *   per-query top-k (window over qid).
  * - [[lshTopK]] — approximate scale path: sign-LSH (random hyperplane)
  *   signatures bucket both sides; only same-bucket pairs are scored.
  *   Recall is tunable with `bits` (fewer bits → bigger buckets → higher
  *   recall, more work).
  */
object Similarity {

  /** Dot product over two array<double> columns: a native codegen'd
    * expression ([[graft.plans.DotProduct]]) — one fused loop per pair,
    * no zipped intermediate array. Bit-exact vs the
    * `aggregate(zip_with(...))` formulation (same left-to-right double
    * accumulation and null semantics). */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Null (not NaN) when either vector is all-zero: NaN would sort greatest
    * under Spark's ordering and satisfy `>= threshold` filters, so a zero
    * embedding would otherwise match everything in its bucket. */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d > 0d, dot(a, b) / d)
  }

  /** Sign-LSH signature: bit p = sign of <vec, plane_p>, planes with ±1
    * entries derived from fmix64(plane, dim) — deterministic everywhere. */
  def signSignature(bits: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    signSignatureSeeded(bits, 0)

  /** Per-executor cache of the ±1 plane matrix for (bits, table, dim):
    * the signs depend only on the plane index and dimension, so each
    * executor materializes them once (bits × dim doubles — tiny) instead
    * of re-hashing fmix64 bits × dim times per ROW. Values and summation
    * order are identical to the inline computation — signatures are
    * bit-exact across both paths. */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Double]]]()
  private def planeSigns(bits: Int, table: Int, dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((bits, table, dim), _ =>
      Array.tabulate(bits, dim) { (p, i) =>
        val plane = table.toLong * bits + p
        if ((graft.plans.MinHashKernel.fmix64(plane * 0x9e3779b97f4a7c15L + i) & 1L) == 1L) 1.0 else -1.0
      })

  private val signUdfs = new java.util.concurrent.ConcurrentHashMap[(Int, Int),
    org.apache.spark.sql.expressions.UserDefinedFunction]()

  /** [[signSignature]] with a table seed: table t uses planes
    * t*bits .. t*bits+bits-1, so several independent signature tables can
    * OR-amplify recall (a near pair only needs to collide in ONE table).
    * One function per (bits, table), so two signature columns at the same
    * planes are semantically equal expressions. */
  def signSignatureSeeded(bits: Int, table: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    signUdfs.computeIfAbsent((bits, table), _ => udf((vec: Seq[Double]) =>
      if (vec == null) None
      else {
        val signs = planeSigns(bits, table, vec.length)
        var sig = 0L
        var p = 0
        while (p < bits) {
          val row = signs(p)
          var s = 0.0
          var i = 0
          while (i < vec.length) {
            s += row(i) * vec(i)
            i += 1
          }
          if (s >= 0) sig |= (1L << p)
          p += 1
        }
        Some(sig)
      }))

  /** Natural ordering on external id values, matching the final rank
    * window's column ordering (so heap eviction and row_number agree on
    * ties). Integral ids compare numerically; strings compare in UTF-8
    * binary order (Spark's string ordering). Other id types are rejected
    * with a clear error instead of being silently cast (casting e.g. a
    * UUID string to long yields null and collapses every query into one
    * group). */
  private def idOrdering(dt: org.apache.spark.sql.types.DataType): Ordering[Any] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Ordering.by((v: Any) => v.asInstanceOf[Number].longValue)
      case StringType => new Ordering[Any] {
        def compare(a: Any, b: Any): Int = {
          val x = a.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val y = b.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
          var i = 0
          val n = math.min(x.length, y.length)
          while (i < n) {
            val c = (x(i) & 0xff) - (y(i) & 0xff)
            if (c != 0) return c
            i += 1
          }
          x.length - y.length
        }
      }
      case other => throw new IllegalArgumentException(
        s"top-k id columns must be integral or string, got $other")
    }
  }

  /** Per-partition partial top-k: stream each executor partition keeping a
    * bounded heap per query, so the global rank window only shuffles
    * ≤ partitions × queries × k survivor rows instead of the full
    * corpus × queries score matrix (the 100 TB fix for the naive global
    * `row_number`). Input must have (query_id, corpus_id, cosine); id
    * columns keep their caller types (integral or string). */
  private def localTopK(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
    val projected = scored
      .select(col("query_id"), col("corpus_id"), col("cosine").cast("double"))
      .filter(col("cosine").isNotNull)
    val schema = projected.schema
    val cidOrd = idOrdering(schema("corpus_id").dataType)
    idOrdering(schema("query_id").dataType) // validate eagerly
    val enc = ExpressionEncoder(RowEncoder.encoderFor(schema))
    projected.mapPartitions { it =>
      // per-query bounded heap; head = worst element (smallest cosine,
      // then largest corpus id) for O(log k) evict
      val heaps = scala.collection.mutable.HashMap
        .empty[Any, scala.collection.mutable.PriorityQueue[(Double, Any)]]
      val worstFirst = new Ordering[(Double, Any)] {
        def compare(a: (Double, Any), b: (Double, Any)): Int = {
          val c = java.lang.Double.compare(b._1, a._1)
          if (c != 0) c else cidOrd.compare(a._2, b._2)
        }
      }
      it.foreach { row =>
        val qid = row.get(0)
        val cid = row.get(1)
        val cos = row.getDouble(2)
        val h = heaps.getOrElseUpdate(qid,
          scala.collection.mutable.PriorityQueue.empty[(Double, Any)](worstFirst))
        if (h.size < k) h.enqueue((cos, cid))
        else {
          val (wc, wi) = h.head
          val c = java.lang.Double.compare(cos, wc)
          if (c > 0 || (c == 0 && cidOrd.compare(cid, wi) < 0)) {
            h.dequeue(); h.enqueue((cos, cid))
          }
        }
      }
      heaps.iterator.flatMap { case (qid, h) =>
        h.iterator.map { case (cos, cid) => Row(qid, cid, cos) }
      }
    }(enc)
  }

  /** Exact top-k nearest corpus rows per query by cosine (ties broken by
    * corpus id for determinism). Queries are broadcast — keep them small
    * (≤ ~1M rows); the corpus streams at full parallelism; the rank shuffle
    * sees only per-partition survivors (see [[localTopK]]).
    *
    * Output: (query id, rank 1..k, corpus id, cosine). */
  /** Project id + unit-normalized vector: norms are computed once per row
    * here instead of once per scored pair (cosine of unit vectors = dot).
    * The norm is materialized as its own column so the division lambda
    * references an attribute, not a re-evaluated aggregate. */
  private def unitized(df: DataFrame, id: String, vec: String,
      outId: String, outVec: String): DataFrame =
    df.select(col(id).as(outId), col(vec).cast("array<double>").as(outVec))
      .withColumn("__n", norm(col(outVec)))
      // Zero-norm (all-zero) vectors have no direction: dividing by the norm
      // would yield an all-NaN unit vector whose NaN cosine sorts ABOVE every
      // real match under Spark's NaN-greatest ordering. Drop such rows here so
      // no tier (brute/LSH/IVF/PQ) can rank them.
      .filter(col("__n") > 0d)
      .withColumn(outVec, transform(col(outVec), x => x / col("__n")))
      .drop("__n")

  def bruteForceTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String, k: Int): DataFrame = {
    val c = unitized(corpus, corpusId, corpusVec, "corpus_id", "cvec")
    val q = unitized(queries, queryId, queryVec, "query_id", "qvec")
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cosine", dot(col("cvec"), col("qvec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    localTopK(scored, k).withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "corpus_id", "cosine")
  }

  // -------------------------------------------------------------- IVF tier

  /** Trained IVF coarse quantizer: `centroids(cell)` is the cell's center
    * (unit-vector space). A tiny value — nlist × dim doubles — broadcast
    * to executors at query time; persistable with [[saveIvf]]/[[loadIvf]]
    * so repeated query batches against a fixed corpus skip re-training. */
  final case class IvfIndex(centroids: Array[Array[Double]]) {
    def nlist: Int = centroids.length
  }

  /** Unbiased, bounded, deterministic training sample: order by a 64-bit
    * hash of the id (≈ a random permutation keyed by `seed`) and take the
    * first `maxRows` — Spark plans this as per-partition top-k + merge
    * (TakeOrderedAndProject), one pass, no full sort, no partition-prefix
    * bias (`sample(1.0).limit(n)` trained on whatever partitions came
    * first). */
  private def trainingSample(c: DataFrame, seed: Long, maxRows: Int): DataFrame =
    c.orderBy(xxhash64(col("corpus_id"), lit(seed))).limit(maxRows)

  /** Train the IVF quantizer (MLlib k-means on a bounded unbiased corpus
    * sample). Train ONCE per corpus and reuse across query batches —
    * [[ivfTopK]] convenience calls this per invocation. */
  def trainIvf(corpus: DataFrame, corpusId: String, corpusVec: String,
      nlist: Int = 64, seed: Long = 42L, maxTrainRows: Int = 100000): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val c = unitized(corpus, corpusId, corpusVec, "corpus_id", "cvec")
      .withColumn("fvec", array_to_vector(col("cvec")))
    val km = new KMeans().setK(nlist).setSeed(seed)
      .setFeaturesCol("fvec").setPredictionCol("cell")
    val model = km.fit(trainingSample(c, seed, maxTrainRows))
    IvfIndex(model.clusterCenters.map(_.toArray))
  }

  /** Persist a trained index as plain parquet (cell int, center
    * array<double>) — no MLlib persistence dependency, readable by any
    * engine. */
  def saveIvf(spark: org.apache.spark.sql.SparkSession, index: IvfIndex,
      path: String): Unit = {
    import spark.implicits._
    index.centroids.toSeq.zipWithIndex.map { case (ctr, i) => (i, ctr.toSeq) }
      .toDF("cell", "center").repartition(1).write.mode("overwrite").parquet(path)
  }

  def loadIvf(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val rows = spark.read.parquet(path).select("cell", "center").collect()
    val centroids = new Array[Array[Double]](rows.length)
    rows.foreach { r =>
      centroids(r.getInt(0)) = r.getSeq[Double](1).toArray
    }
    IvfIndex(centroids)
  }

  /** `nprobe` nearest cells of `index` for a vector (euclidean, ties by
    * cell id via stable sort — the assignment path uses nprobe=1, so
    * corpus assignment and query probing can never disagree on the
    * nearest cell). */
  private def nearestCells(index: IvfIndex, nprobe: Int) = udf((vec: Seq[Double]) =>
    if (vec == null) null
    else index.centroids.zipWithIndex.map { case (ctr, i) =>
      var d = 0.0; var j = 0
      while (j < ctr.length) { val t = ctr(j) - vec(j); d += t * t; j += 1 }
      (d, i)
    }.sortBy(_._1).take(nprobe).map(_._2).toSeq)

  /** IVF (inverted-file) top-k against a pre-trained [[IvfIndex]]: the
    * quantizer assigns every corpus vector to one of `nlist` cells; each
    * query scores only the rows of its `nprobe` nearest cells. The 100 TB
    * shape: centroids are a tiny broadcast model, corpus assignment is one
    * pass, and the join is an equi-join on cell id — no all-pairs
    * anywhere. Recall is tuned with `nprobe` (self-retrieval is exact by
    * construction: a vector's own cell is always its nearest centroid).
    *
    * Output: (query_id, rank 1..k, corpus_id, cosine). */
  def ivfTopKIndexed(index: IvfIndex,
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String, k: Int,
      nprobe: Int = 4): DataFrame = {
    val assignCell = nearestCells(index, 1)
    val c = unitized(corpus, corpusId, corpusVec, "corpus_id", "cvec")
      .withColumn("cell", element_at(assignCell(col("cvec")), 1))
    val q = unitized(queries, queryId, queryVec, "query_id", "qvec")
      .withColumn("cell", explode(nearestCells(index, nprobe)(col("qvec"))))

    val scored = c.join(broadcast(q), Seq("cell"))
      .withColumn("cosine", dot(col("cvec"), col("qvec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    localTopK(scored, k).withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "corpus_id", "cosine")
  }

  // ------------------------------------------------------- IVF store tier

  /** Materialize the cell-assigned, unit-normalized corpus as parquet
    * `partitionBy("cell")`. At query time ([[ivfTopKStored]]) only the
    * probed cells' directories are read — Spark partition pruning turns
    * `nprobe / nlist` into a literal IO fraction: a 100 TB corpus at
    * nlist=4096, nprobe=8 scans ~0.2% of the bytes instead of re-assigning
    * and re-scanning the whole table per query batch (what
    * [[ivfTopKIndexed]] does when called repeatedly). Normalization and
    * assignment are paid exactly once, at build time. */
  def buildIvfStore(index: IvfIndex, corpus: DataFrame, corpusId: String,
      corpusVec: String, path: String,
      writeOptions: Map[String, String] = Map.empty): Unit =
    clusteredByCellThenId(assigned(index, corpus, corpusId, corpusVec))
      .write.mode("overwrite").options(writeOptions)
      .partitionBy("cell").parquet(path)

  /** One writer task per cell group, rows sorted by corpus_id inside each
    * cell — every parquet ROW GROUP then covers a tight, disjoint id
    * range, so parquet's per-group min/max stats turn the re-rank's
    * `id isin (candidates)` pushdown into row-group pruning (the
    * unsorted layout leaves each group's id range spanning the whole
    * space, disabling stats-based skips). Same effect as a covering-id
    * index, paid once at build time with one extra shuffle. */
  private def clusteredByCellThenId(df: DataFrame): DataFrame =
    df.repartition(col("cell"))
      .sortWithinPartitions(col("cell"), col("corpus_id"))

  /** Append-only refresh: assign NEW rows with the SAME index so they land
    * in the right cell directories; existing data is never rewritten.
    * Quantizer drift from appended data is observable via
    * [[ivfStoreStats]] / [[ivfNeedsRetrain]]; on retrain, [[buildIvfStore]]
    * rewrites the store against the new centroids. */
  def appendToIvfStore(index: IvfIndex, rows: DataFrame, corpusId: String,
      corpusVec: String, path: String): Unit =
    clusteredByCellThenId(assigned(index, rows, corpusId, corpusVec))
      .write.mode("append").partitionBy("cell").parquet(path)

  private def assigned(index: IvfIndex, corpus: DataFrame, corpusId: String,
      corpusVec: String): DataFrame = {
    val assignCell = nearestCells(index, 1)
    unitized(corpus, corpusId, corpusVec, "corpus_id", "cvec")
      .withColumn("cell", element_at(assignCell(col("cvec")), 1))
  }

  /** Per-cell occupancy of a store: one pass, map-side-combined count
    * (cell is the partition column, so this reads footers + one long per
    * row group worth of work, not the vectors). */
  def ivfStoreStats(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path).groupBy(col("cell"))
      .agg(count(lit(1)).as("n")).orderBy(col("cell"))

  /** Retrain heuristic for append-only corpora: true when the hottest
    * cell holds more than `imbalance` × the mean occupancy — the signature
    * of quantizer drift (appended data piling into cells the original
    * training sample under-represented), which erodes the nprobe/nlist IO
    * fraction [[ivfTopKStored]] relies on. */
  def ivfNeedsRetrain(stats: DataFrame, imbalance: Double = 8.0): Boolean = {
    val row = stats.agg(max(col("n")).cast("double").as("mx"),
      avg(col("n")).as("mean")).collect()(0)
    if (row.isNullAt(0) || row.isNullAt(1)) false
    else row.getDouble(0) > imbalance * row.getDouble(1)
  }

  /** IVF top-k against a materialized store: probe cells are computed from
    * the (small, broadcast-bound) query batch on the driver — ≤ queries ×
    * nprobe ints — and pushed into the scan as a partition filter, so only
    * the probed cell directories are read. Same scoring, tie-breaking, and
    * output shape as [[ivfTopKIndexed]]. */
  def ivfTopKStored(spark: org.apache.spark.sql.SparkSession, index: IvfIndex,
      storePath: String, queries: DataFrame, queryId: String, queryVec: String,
      k: Int, nprobe: Int = 4): DataFrame = {
    val q = unitized(queries, queryId, queryVec, "query_id", "qvec")
      .withColumn("cell", explode(nearestCells(index, nprobe)(col("qvec"))))
    val probed = q.select(col("cell")).distinct().collect().map(_.getInt(0))
    // With spark.sql.sources.partitionColumnTypeInference.enabled=false the
    // read-back partition column is StringType; the explicit cast pins it to
    // int so the isin filter matches under either setting (the cast is a
    // deterministic function of the partition column, so pruning still
    // applies — PipelineSpec asserts it via input_file_name()).
    val c = spark.read.parquet(storePath)
      .withColumn("cell", col("cell").cast("int"))
      .filter(col("cell").isin(probed.map(Integer.valueOf): _*))
    val scored = c.join(broadcast(q), Seq("cell"))
      .withColumn("cosine", dot(col("cvec"), col("qvec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    localTopK(scored, k).withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "corpus_id", "cosine")
  }

  /** Adaptive-nprobe variant of [[ivfTopKStored]]: instead of a fixed
    * probe count, each query expands through its distance-ordered cells
    * until the probed cells' OCCUPANCY (from [[ivfStoreStats]], a tiny
    * driver-side map over ≤ nlist cells) covers `minCandidates` rows,
    * capped at `maxProbe` cells. Queries landing in hot cells read one
    * or two directories; queries in sparse regions (where a fixed nprobe
    * would score almost nothing and recall craters) widen automatically —
    * the per-query IO bound adapts to the data distribution instead of
    * the cell count, which is exactly what an append-skewed 100 TB store
    * needs between retrains. Self-retrieval stays exact (a vector's own
    * cell is always probed first). Output shape matches
    * [[ivfTopKIndexed]]. */
  def ivfTopKStoredAdaptive(spark: org.apache.spark.sql.SparkSession,
      index: IvfIndex, storePath: String, queries: DataFrame, queryId: String,
      queryVec: String, k: Int, minCandidates: Int = 1024,
      maxProbe: Int = 64): DataFrame = {
    val occ: Map[Int, Long] = ivfStoreStats(spark, storePath).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val centroids = index.centroids
    val cap = math.min(maxProbe, centroids.length)
    val adaptiveCells = udf((vec: Seq[Double]) =>
      if (vec == null) null
      else {
        val byDist = centroids.zipWithIndex.map { case (ctr, i) =>
          var d = 0.0; var j = 0
          while (j < ctr.length) { val t = ctr(j) - vec(j); d += t * t; j += 1 }
          (d, i)
        }.sortBy(_._1)
        val out = scala.collection.mutable.ArrayBuffer[Int]()
        var covered = 0L
        var i = 0
        while (i < byDist.length && out.length < cap &&
            (covered < minCandidates || out.isEmpty)) {
          val cell = byDist(i)._2
          out += cell
          covered += occ.getOrElse(cell, 0L)
          i += 1
        }
        out.toSeq
      })
    val q = unitized(queries, queryId, queryVec, "query_id", "qvec")
      .withColumn("cell", explode(adaptiveCells(col("qvec"))))
    val probed = q.select(col("cell")).distinct().collect().map(_.getInt(0))
    val c = spark.read.parquet(storePath)
      .withColumn("cell", col("cell").cast("int"))
      .filter(col("cell").isin(probed.map(Integer.valueOf): _*))
    val scored = c.join(broadcast(q), Seq("cell"))
      .withColumn("cosine", dot(col("cvec"), col("qvec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    localTopK(scored, k).withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "corpus_id", "cosine")
  }

  /** Materialize an IVF-PQ store: the cell-partitioned layout of
    * [[buildIvfStore]] with the PQ byte codes alongside the full vectors.
    * Query-time IO composes BOTH prunings: partition pruning cuts to the
    * probed cells, then the ADC pass projects only (corpus_id, code) —
    * parquet column pruning skips the wide vector pages entirely — and
    * the exact re-rank re-reads the probed cells with an `isin` pushdown
    * on the bounded candidate-id set. At nlist=4096/nprobe=8/m=8 a query
    * batch reads ~0.2% of the partitions × ~2% of those bytes for the
    * scan, and full vectors only for candidate rows. */
  def buildIvfPqStore(index: IvfIndex, book: PqCodebook, corpus: DataFrame,
      corpusId: String, corpusVec: String, path: String,
      residual: Boolean = false, packed: Boolean = false,
      writeOptions: Map[String, String] = Map.empty,
      rotation: Option[Array[Array[Double]]] = None): Unit = {
    val withCell = assigned(index, corpus, corpusId, corpusVec)
    val base =
      if (residual) residualUdf(index)(col("cvec"), col("cell"))
      else col("cvec")
    // OPQ composes after the residual: codes are q(R·(x − c_cell))
    val encodeInput = rotation.map(r => rotateUdf(r)(base)).getOrElse(base)
    clusteredByCellThenId(
      withCell.withColumn("code", pqEncodeUdf(book, packed)(encodeInput)))
      .write.mode("overwrite").options(writeOptions)
      .partitionBy("cell").parquet(path)
  }

  /** Ceiling on `candidates × |queries|` past which [[ivfPqTopKStored]]
    * skips its candidate-id row-group pruning hint: the hint is a
    * driver-side collect, and a 1M-query batch at candidates=64 would
    * funnel 64M ids through the driver for an OPTIMIZATION — the join on
    * `cand` alone already carries correctness (VERDICT r14 #4). 4M ids
    * ≈ tens of MB on the driver, comfortably inside the store's
    * query-batch model. */
  val MaxRerankPushdownIds: Long = 4000000L

  /** Tighter ceiling for collecting the full candidate PAIR rows (r19):
    * the pair collect removes the final action's second ADC scan, but a
    * Row is ~10× the bytes of a bare id (object headers + schema ref +
    * two boxed fields), plus a LocalRelation copy and a broadcast — so
    * the 4M-id budget above would be ~0.5 GB×3 as pairs. Between the
    * two ceilings the door keeps the r18 behavior (distinct-id isin
    * hint + lazy join). */
  val MaxRerankCollectPairs: Long = 1000000L

  /** IVF-PQ top-k against a [[buildIvfPqStore]] store: partition-pruned
    * ADC scan over the codes, exact re-rank over candidate rows only.
    * Same output shape and tie-breaking as [[bruteForceTopK]]; with
    * `nprobe` ≥ nlist and `candidates` ≥ the corpus size the result is
    * brute force exactly.
    *
    * @param maxPushdownIds skip the re-rank's candidate-id `isin`
    *   row-group hint when `candidates × |queries|` exceeds this (the
    *   result is identical either way — the hint only prunes IO; the
    *   collect feeding it must not become a driver bottleneck on large
    *   query batches). Default [[MaxRerankPushdownIds]]. */
  def ivfPqTopKStored(spark: org.apache.spark.sql.SparkSession,
      index: IvfIndex, book: PqCodebook, storePath: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, nprobe: Int = 4, candidates: Int = 64,
      residual: Boolean = false, packed: Boolean = false,
      rotation: Option[Array[Array[Double]]] = None,
      maxPushdownIds: Long = MaxRerankPushdownIds): DataFrame = {
    val books = book.codebooks
    val ksub = book.ksub
    val tableOf = udf((vec: Seq[Double]) =>
      if (vec == null) null
      else {
        val dsub = books(0)(0).length
        val out = new Array[Double](books.length * ksub)
        var sub = 0
        while (sub < books.length) {
          var ci = 0
          while (ci < books(sub).length) {
            var s = 0.0; var j = 0
            while (j < dsub) { s += books(sub)(ci)(j) * vec(sub * dsub + j); j += 1 }
            out(sub * ksub + ci) = s
            ci += 1
          }
          sub += 1
        }
        out
      })
    val adc = adcUdf(book.m, ksub, packed)
    // residual stores score dot(q, x) ≈ dot(q, c_cell) + dot(q, quant(r)):
    // the per-(query, probed-cell) constant rides the explode — |Q|×nprobe
    // dim-length dots, negligible next to the scan
    val centroids = index.centroids
    val qcUdf = udf((vec: Seq[Double], cell: Int) => {
      val c = centroids(cell)
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * vec(i); i += 1 }
      s
    })
    // with OPQ the ADC table reads off the ROTATED query (rotation
    // preserves dots); probing and the dot(q, c_cell) residual constant
    // stay in the raw space, as does the exact re-rank
    val qForTable = rotation.map(r => rotateUdf(r)(col("qvec"))).getOrElse(col("qvec"))
    val q = unitized(queries, queryId, queryVec, "query_id", "qvec")
      .withColumn("qtable", tableOf(qForTable))
      .withColumn("cell", explode(nearestCells(index, nprobe)(col("qvec"))))
      .withColumn("qc",
        if (residual) qcUdf(col("qvec"), col("cell")) else lit(0.0))
    // ONE job yields both the probed-cell set (≤ nlist ids) and the
    // distinct query count the pushdown guard below needs
    val probeRow = q.agg(collect_set(col("cell")),
      countDistinct(col("query_id"))).head()
    val probed = probeRow.getSeq[Int](0).toArray
    val queryCount = probeRow.getLong(1)
    def prunedStore = spark.read.parquet(storePath)
      .withColumn("cell", col("cell").cast("int"))
      .filter(col("cell").isin(probed.map(Integer.valueOf): _*))
    // ADC pass: only (corpus_id, code) survive column pruning — the wide
    // vector column's pages are never read here
    val scored = prunedStore.select(col("cell"), col("corpus_id"), col("code"))
      .join(broadcast(q.select(col("cell"), col("query_id"), col("qtable"),
        col("qc"))), Seq("cell"))
      .withColumn("cosine", col("qc") + adc(col("code"), col("qtable")))
    val wCand = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    val cand = localTopK(scored.select("query_id", "corpus_id", "cosine"), candidates)
      .withColumn("rank", row_number().over(wCand))
      .filter(col("rank") <= candidates)
      .select("query_id", "corpus_id")
    // bounded candidate set, three tiers by candidates × |queries|
    // (r15 guard, r19 split — guide §1.2/§5):
    //  - ≤ MaxRerankCollectPairs: collect the ranked PAIR rows once and
    //    re-attach them as a broadcast LocalRelation — the final action
    //    then reads only candidate rows instead of re-executing the
    //    whole ADC scan + rank (the dominant stage ran twice per call
    //    pre-r19). Pair Rows are ~10× bare ids on the driver, hence the
    //    tighter ceiling.
    //  - ≤ maxPushdownIds: the r18 shape — collect only the DISTINCT
    //    IDS for the isin row-group hint, keep the join on `cand` lazy
    //    (the ADC subtree executes twice, but the driver holds ids only).
    //  - above both: fully lazy; correctness rides the join on `cand`
    //    alone, only IO pruning is forfeited (VERDICT r14 #4).
    val exactBase = prunedStore.select(col("corpus_id"), col("cvec"))
    val candVolume = candidates.toLong * math.max(1L, queryCount)
    val exact =
      if (candVolume <= math.min(MaxRerankCollectPairs, maxPushdownIds)) {
        val candRows = cand.collect()
        val cix = cand.schema.fieldIndex("corpus_id")
        val candIds = candRows.iterator.map(_.get(cix)).toSet.toSeq
        val candLocal = spark.createDataFrame(
          java.util.Arrays.asList(candRows: _*), cand.schema)
        exactBase.filter(col("corpus_id").isInCollection(candIds))
          .join(broadcast(candLocal), Seq("corpus_id"))
      } else if (candVolume <= maxPushdownIds) {
        val candIds = cand.select(col("corpus_id")).distinct().collect().map(_.get(0))
        exactBase.filter(col("corpus_id").isInCollection(candIds.toSeq))
          .join(cand, Seq("corpus_id"))
      } else exactBase.join(cand, Seq("corpus_id"))
    val exactScored = exact
      .join(broadcast(q.select(col("query_id"), col("qvec")).distinct()),
        Seq("query_id"))
      .withColumn("cosine", dot(col("cvec"), col("qvec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    localTopK(exactScored.select("query_id", "corpus_id", "cosine"), k)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "corpus_id", "cosine")
  }

  /** Recall@k of an ANN result against an exact truth set: the fraction
    * of (query, true-top-k-neighbor) pairs the approximate result
    * recovered in ITS top k. Both frames carry the
    * (query_id, rank, corpus_id) shape every tier here emits; `truth` is
    * typically [[bruteForceTopK]] at the same k. One join + two counts —
    * cheap enough to run as a held-out-sample quality probe alongside a
    * production index build. */
  def recallAtK(result: DataFrame, truth: DataFrame, k: Int): Double = {
    val t = truth.filter(col("rank") <= k).select("query_id", "corpus_id")
    val r = result.filter(col("rank") <= k).select("query_id", "corpus_id")
    val denom = t.count()
    require(denom > 0, "recallAtK: empty truth set")
    t.join(r, Seq("query_id", "corpus_id")).count().toDouble / denom
  }

  /** Train-and-query convenience (one-shot batches). For repeated batches
    * against a fixed corpus, [[trainIvf]] once (optionally [[saveIvf]]) and
    * call [[ivfTopKIndexed]]. */
  def ivfTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String, k: Int,
      nlist: Int = 64, nprobe: Int = 4, seed: Long = 42L): DataFrame =
    ivfTopKIndexed(trainIvf(corpus, corpusId, corpusVec, nlist, seed),
      corpus, corpusId, corpusVec, queries, queryId, queryVec, k, nprobe)

  // --------------------------------------------------------------- PQ tier

  /** Product-quantization codebook (Jégou, Douze, Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): the
    * unit-vector space is split into `m` contiguous subspaces of
    * `dim / m` dims; each subspace gets its own `ksub`-center codebook.
    * A corpus vector is stored as `m` single-byte center ids — dim × 8
    * bytes of doubles become m bytes (a 64-dim corpus at m=8 compresses
    * 64×), which is what lets a 100 TB embedding column's codes live in
    * a fraction of the memory/IO while the full vectors stay in cold
    * storage for the re-rank step only.
    * `codebooks(sub)(center)` is a dsub-dim array. */
  final case class PqCodebook(codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def ksub: Int = codebooks(0).length
    def dsub: Int = codebooks(0)(0).length
    require(ksub <= 256, s"pq: ksub=$ksub exceeds one byte per code")
  }

  /** Train per-subspace codebooks with seeded Lloyd iterations on a
    * bounded, hash-ordered (unbiased) driver-side sample — deterministic
    * across runs and partitionings. The sample is small (maxTrainRows ×
    * dim doubles); training cost never scales with the corpus. */
  def trainPq(corpus: DataFrame, corpusId: String, corpusVec: String,
      m: Int = 8, ksub: Int = 256, seed: Long = 42L,
      maxTrainRows: Int = 10000, iters: Int = 20): PqCodebook = {
    val c = unitized(corpus, corpusId, corpusVec, "corpus_id", "cvec")
    val sample = trainingSample(c, seed, maxTrainRows)
      .select(col("cvec")).collect().map(_.getSeq[Double](0).toArray)
    PqCodebook(lloydBooks(sample, m, ksub, iters))
  }

  /** Residual-PQ training (the Faiss-IVFPQ refinement): codebooks learn
    * x − centroid(cell(x)) instead of x. Residuals are much more
    * concentrated than raw vectors (the coarse quantizer has already
    * removed the cell's mean direction), so the same code width buys a
    * visibly tighter ADC approximation. One codebook is shared across
    * cells (standard IVF-PQ). */
  def trainPqResidual(index: IvfIndex, corpus: DataFrame, corpusId: String,
      corpusVec: String, m: Int = 8, ksub: Int = 256, seed: Long = 42L,
      maxTrainRows: Int = 10000, iters: Int = 20): PqCodebook = {
    val withCell = assigned(index, corpus, corpusId, corpusVec)
      .withColumn("rvec", residualUdf(index)(col("cvec"), col("cell")))
    val sample = trainingSample(withCell, seed, maxTrainRows)
      .select(col("rvec")).collect().map(_.getSeq[Double](0).toArray)
    PqCodebook(lloydBooks(sample, m, ksub, iters))
  }

  private def residualUdf(index: IvfIndex) = {
    val centroids = index.centroids
    udf((vec: Seq[Double], cell: Int) =>
      if (vec == null) null
      else {
        val c = centroids(cell)
        Array.tabulate(vec.length)(i => vec(i) - c(i))
      })
  }

  /** Seeded Lloyd per subspace over a driver-side sample (deterministic
    * across runs and partitionings; cost never scales with the corpus). */
  private def lloydBooks(sample: Array[Array[Double]], m: Int, ksub: Int,
      iters: Int): Array[Array[Array[Double]]] = {
    require(sample.nonEmpty, "pq: empty training sample")
    val dim = sample(0).length
    require(dim % m == 0, s"pq: dim $dim not divisible by m=$m")
    val dsub = dim / m
    Array.tabulate(m) { sub =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, sub * dsub, (sub + 1) * dsub))
      val k = math.min(ksub, pts.length)
      // init: first k points of the hash-ordered sample (pseudo-random,
      // deterministic); duplicates are tolerated (their cells just empty)
      var centers = Array.tabulate(k)(i => pts(i).clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(k, dsub)(0.0)
        val counts = new Array[Long](k)
        pts.foreach { p =>
          var best = 0; var bestD = Double.MaxValue
          var ci = 0
          while (ci < k) {
            var d = 0.0; var j = 0
            while (j < dsub) { val t = centers(ci)(j) - p(j); d += t * t; j += 1 }
            if (d < bestD) { bestD = d; best = ci }
            ci += 1
          }
          var j = 0
          while (j < dsub) { sums(best)(j) += p(j); j += 1 }
          counts(best) += 1
        }
        centers = Array.tabulate(k)(ci =>
          if (counts(ci) == 0) centers(ci)
          else Array.tabulate(dsub)(j => sums(ci)(j) / counts(ci)))
        it += 1
      }
      centers
    }
  }

  private def pqEncodeUdf(book: PqCodebook, packed: Boolean = false) = {
    val books = book.codebooks
    if (packed) require(book.ksub <= 16,
      s"pq: packed nibble codes need ksub <= 16, got ${book.ksub}")
    udf((vec: Seq[Double]) =>
      if (vec == null) null
      else {
        val dsub = books(0)(0).length
        val idx = Array.tabulate(books.length) { sub =>
          var best = 0; var bestD = Double.MaxValue
          var ci = 0
          while (ci < books(sub).length) {
            var d = 0.0; var j = 0
            while (j < dsub) {
              val t = books(sub)(ci)(j) - vec(sub * dsub + j); d += t * t; j += 1
            }
            if (d < bestD) { bestD = d; best = ci }
            ci += 1
          }
          best
        }
        if (!packed) idx.map(_.toByte)
        else Array.tabulate((idx.length + 1) / 2) { b =>
          // sub 2b in the low nibble, sub 2b+1 in the high nibble
          val lo = idx(2 * b)
          val hi = if (2 * b + 1 < idx.length) idx(2 * b + 1) else 0
          ((hi << 4) | lo).toByte
        }
      })
  }

  /** ADC lookup over a code byte array: one lookup per subspace, nibble
    * decode when `packed`. */
  private def adcUdf(m: Int, ksub: Int, packed: Boolean) =
    udf((code: Array[Byte], table: Seq[Double]) => {
      var s = 0.0; var i = 0
      while (i < m) {
        val ci =
          if (!packed) code(i) & 0xFF
          else (code(i >> 1) >> ((i & 1) * 4)) & 0xF
        s += table(i * ksub + ci)
        i += 1
      }
      s
    })

  /** Encode the corpus: (corpus_id, code binary of `m` bytes — or
    * ⌈m/2⌉ bytes with `packed` nibble codes when ksub ≤ 16). This is
    * the table that replaces the raw vectors for the ADC scan. */
  def encodePq(book: PqCodebook, corpus: DataFrame, corpusId: String,
      corpusVec: String, packed: Boolean = false,
      rotation: Option[Array[Array[Double]]] = None): DataFrame = {
    val input = rotation.map(r => rotateUdf(r)(col("cvec"))).getOrElse(col("cvec"))
    unitized(corpus, corpusId, corpusVec, "corpus_id", "cvec")
      .select(col("corpus_id"), pqEncodeUdf(book, packed)(input).as("code"))
  }

  /** Approximate top-`candidates` per query by asymmetric distance
    * computation over the CODES table, then EXACT re-rank of those
    * candidates against the full vectors. The scan side touches only m
    * bytes + m table lookups per corpus row (the per-query lookup table
    * of m × ksub partial dot products is built once per query and
    * broadcast with the batch); the full-precision corpus is read only
    * for `candidates × |queries|` rows via an id equi-join. Output shape
    * and tie-breaking match [[bruteForceTopK]]; with `candidates` ≥ the
    * corpus size the result IS brute force (exact re-rank over all). */
  def pqTopKReranked(book: PqCodebook, codes: DataFrame,
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, candidates: Int = 64, packed: Boolean = false,
      rotation: Option[Array[Array[Double]]] = None): DataFrame = {
    val books = book.codebooks
    val ksub = book.ksub
    // per-query ADC table: flat m × ksub array of dot(q_sub, center)
    val tableOf = udf((vec: Seq[Double]) =>
      if (vec == null) null
      else {
        val dsub = books(0)(0).length
        val out = new Array[Double](books.length * ksub)
        var sub = 0
        while (sub < books.length) {
          var ci = 0
          while (ci < books(sub).length) {
            var s = 0.0; var j = 0
            while (j < dsub) { s += books(sub)(ci)(j) * vec(sub * dsub + j); j += 1 }
            out(sub * ksub + ci) = s
            ci += 1
          }
          sub += 1
        }
        out
      })
    val adc = adcUdf(book.m, ksub, packed)
    // rotation preserves dots: dot(q, x) = dot(R·q, R·x), so the ADC
    // table comes from the ROTATED query while the exact re-rank below
    // stays on the raw vectors
    val qForTable = rotation.map(r => rotateUdf(r)(col("qvec"))).getOrElse(col("qvec"))
    val q = unitized(queries, queryId, queryVec, "query_id", "qvec")
      .withColumn("qtable", tableOf(qForTable))
    val scored = codes.crossJoin(broadcast(q.select(col("query_id"), col("qtable"))))
      .withColumn("cosine", adc(col("code"), col("qtable")))
    val cand = localTopK(scored.select("query_id", "corpus_id", "cosine"), candidates)
      .select("query_id", "corpus_id")
    // exact re-rank: only candidate rows of the full-precision corpus
    val c = unitized(corpus, corpusId, corpusVec, "corpus_id", "cvec")
    val exact = cand.join(c, Seq("corpus_id"))
      .join(broadcast(q.select(col("query_id"), col("qvec"))), Seq("query_id"))
      .withColumn("cosine", dot(col("cvec"), col("qvec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    localTopK(exact.select("query_id", "corpus_id", "cosine"), k)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "corpus_id", "cosine")
  }

  // -------------------------------------------------------------- OPQ tier

  /** Optimized Product Quantization (Ge, He, Ke, Sun, "Optimized Product
    * Quantization for Approximate Nearest Neighbor Search", CVPR 2013,
    * non-parametric alternation): an orthogonal rotation R learned so
    * that R·x quantizes better under PQ's fixed contiguous subspace
    * split — it balances variance across subspaces, which is exactly
    * where plain PQ wastes code budget on anisotropic/correlated data.
    * Rotation preserves dot products, so ADC tables are built from R·q
    * and the exact re-rank still runs on the RAW vectors — OPQ changes
    * only the code assignment, never the scoring identity. */
  final case class OpqModel(rotation: Array[Array[Double]], book: PqCodebook) {
    def dim: Int = rotation.length
  }

  /** Non-parametric OPQ training on the bounded driver-side sample:
    * alternate (1) Lloyd codebooks on R·x with (2) the orthogonal
    * Procrustes update R = U·Vᵀ from the SVD of `recon · sampleᵀ`.
    * Deterministic (seeded sample + seeded Lloyd); cost is
    * O(iters · (n·d·ksub + d³)) on ≤ `maxTrainRows` rows — never scales
    * with the corpus. */
  def trainOpq(corpus: DataFrame, corpusId: String, corpusVec: String,
      m: Int = 8, ksub: Int = 256, seed: Long = 42L,
      maxTrainRows: Int = 10000, opqIters: Int = 10,
      lloydIters: Int = 8): OpqModel = {
    val c = unitized(corpus, corpusId, corpusVec, "corpus_id", "cvec")
    val sample = trainingSample(c, seed, maxTrainRows)
      .select(col("cvec")).collect().map(_.getSeq[Double](0).toArray)
    opqAlternate(sample, m, ksub, opqIters, lloydIters)
  }

  /** OPQ over IVF residuals (rotation + codebooks learned on
    * x − centroid(cell)): the composition of both published refinements.
    * Feed the result's rotation/book to [[buildIvfPqStore]] /
    * [[ivfPqTopKStored]] with `residual = true`. */
  def trainOpqResidual(index: IvfIndex, corpus: DataFrame, corpusId: String,
      corpusVec: String, m: Int = 8, ksub: Int = 256, seed: Long = 42L,
      maxTrainRows: Int = 10000, opqIters: Int = 10,
      lloydIters: Int = 8): OpqModel = {
    val withCell = assigned(index, corpus, corpusId, corpusVec)
      .withColumn("rvec", residualUdf(index)(col("cvec"), col("cell")))
    val sample = trainingSample(withCell, seed, maxTrainRows)
      .select(col("rvec")).collect().map(_.getSeq[Double](0).toArray)
    opqAlternate(sample, m, ksub, opqIters, lloydIters)
  }

  /** Ge et al.'s parametric initialization (§4.1, "Eigenvalue
    * Allocation"): PCA-rotate, then deal principal components to
    * subspaces greedily balancing each subspace's PRODUCT of eigenvalues
    * (sum of logs) — the optimal split for Gaussian data, and the init
    * that keeps the non-parametric alternation out of the R≈I local
    * minimum on anisotropic spectra. */
  private def eigenvalueAllocationInit(sample: Array[Array[Double]],
      m: Int): Array[Array[Double]] = {
    val d = sample(0).length
    val dsub = d / m
    val cov = Array.fill(d, d)(0.0)
    sample.foreach { x =>
      var i = 0
      while (i < d) {
        val xi = x(i); val row = cov(i)
        var j = 0
        while (j < d) { row(j) += xi * x(j); j += 1 }
        i += 1
      }
    }
    var i = 0
    while (i < d) {
      var j = 0
      while (j < d) { cov(i)(j) /= sample.length; j += 1 }
      i += 1
    }
    val (eig, v) = jacobiEigen(cov)
    // greedy balanced partition of Σ log λ per bucket. Every bucket ends
    // with exactly dsub components, so shifting all logs by the minimum
    // (making the weights non-negative) changes every bucket's total by
    // the same dsub·min — the greedy "largest weight into the emptiest
    // bucket" rule then balances correctly even with λ < 1, where raw
    // (negative) logs would anti-balance (the first bucket's shrinking
    // product keeps winning the min).
    val logs = Array.tabulate(d)(c => math.log(math.max(eig(c), 1e-12)))
    val minLog = logs.min
    val order = (0 until d).sortBy(c => -logs(c))
    val bucketLog = Array.fill(m)(0.0)
    val bucketCnt = Array.fill(m)(0)
    val assign = Array.fill(m)(scala.collection.mutable.ArrayBuffer.empty[Int])
    order.foreach { comp =>
      val open = (0 until m).filter(bucketCnt(_) < dsub)
      val b = open.minBy(bucketLog(_))
      assign(b) += comp
      bucketCnt(b) += 1
      bucketLog(b) += logs(comp) - minLog
    }
    val r = Array.ofDim[Double](d, d)
    var row = 0
    for (s <- 0 until m; comp <- assign(s)) {
      var j = 0
      while (j < d) { r(row)(j) = v(j)(comp); j += 1 }
      row += 1
    }
    r
  }

  private def opqAlternate(sample: Array[Array[Double]], m: Int, ksub: Int,
      opqIters: Int, lloydIters: Int): OpqModel = {
    require(sample.nonEmpty, "opq: empty training sample")
    val d = sample(0).length
    var r = eigenvalueAllocationInit(sample, m)
    var books: Array[Array[Array[Double]]] = null
    var it = 0
    while (it < opqIters) {
      val rotated = sample.map(matVec(r, _))
      books = lloydBooks(rotated, m, ksub, lloydIters)
      // B = q(R·x): nearest-center reconstructions in the rotated space
      val recon = rotated.map(pqReconstruct(books, _))
      // Procrustes: min_R ‖R·X − B‖_F → R = U·Vᵀ from svd(B·Xᵀ)
      val mMat = Array.fill(d, d)(0.0)
      var n = 0
      while (n < sample.length) {
        val b = recon(n); val x = sample(n)
        var i = 0
        while (i < d) {
          val bi = b(i); val row = mMat(i)
          var j = 0
          while (j < d) { row(j) += bi * x(j); j += 1 }
          i += 1
        }
        n += 1
      }
      r = procrustesRotation(mMat)
      it += 1
    }
    // final codebooks against the final rotation
    OpqModel(r, PqCodebook(lloydBooks(sample.map(matVec(r, _)), m, ksub, lloydIters)))
  }

  private def pqReconstruct(books: Array[Array[Array[Double]]],
      y: Array[Double]): Array[Double] = {
    val dsub = books(0)(0).length
    val out = new Array[Double](y.length)
    var sub = 0
    while (sub < books.length) {
      var best = 0; var bestD = Double.MaxValue
      var ci = 0
      while (ci < books(sub).length) {
        var dd = 0.0; var j = 0
        while (j < dsub) { val t = books(sub)(ci)(j) - y(sub * dsub + j); dd += t * t; j += 1 }
        if (dd < bestD) { bestD = dd; best = ci }
        ci += 1
      }
      System.arraycopy(books(sub)(best), 0, out, sub * dsub, dsub)
      sub += 1
    }
    out
  }

  private def matVec(a: Array[Array[Double]], x: Array[Double]): Array[Double] = {
    val d = a.length
    val out = new Array[Double](d)
    var i = 0
    while (i < d) {
      val row = a(i); var s = 0.0; var j = 0
      while (j < x.length) { s += row(j) * x(j); j += 1 }
      out(i) = s; i += 1
    }
    out
  }

  /** Nearest orthogonal matrix to M (the Procrustes solution U·Vᵀ),
    * computed without an external linear-algebra dependency: cyclic
    * Jacobi eigendecomposition of MᵀM = V·S²·Vᵀ, then U = M·V·S⁻¹ with
    * Gram-Schmidt completion of any (rank-deficient) near-zero columns.
    * d ≤ a few hundred → the O(d³) sweeps are driver-side milliseconds. */
  private def procrustesRotation(mMat: Array[Array[Double]]): Array[Array[Double]] = {
    val d = mMat.length
    // MᵀM (symmetric PSD)
    val mtm = Array.fill(d, d)(0.0)
    var i = 0
    while (i < d) {
      var j = 0
      while (j < d) {
        var s = 0.0; var k2 = 0
        while (k2 < d) { s += mMat(k2)(i) * mMat(k2)(j); k2 += 1 }
        mtm(i)(j) = s; j += 1
      }
      i += 1
    }
    val (eig, v) = jacobiEigen(mtm)
    val smax = math.sqrt(math.max(eig.max, 0.0))
    val eps = math.max(smax, 1.0) * 1e-12
    // U columns: M·v_c / s_c for s_c above the rank floor
    val u = Array.fill(d, d)(0.0)
    var c = 0
    while (c < d) {
      val s = math.sqrt(math.max(eig(c), 0.0))
      if (s > eps) {
        var r2 = 0
        while (r2 < d) {
          var t = 0.0; var k2 = 0
          while (k2 < d) { t += mMat(r2)(k2) * v(k2)(c); k2 += 1 }
          u(r2)(c) = t / s; r2 += 1
        }
      } else {
        // rank-deficient direction: any unit vector orthogonal to the
        // existing columns keeps U orthogonal (Gram-Schmidt over e_k)
        var k2 = 0
        var done = false
        while (k2 < d && !done) {
          val cand = new Array[Double](d); cand(k2) = 1.0
          var cc = 0
          while (cc < c) {
            var proj = 0.0; var r3 = 0
            while (r3 < d) { proj += u(r3)(cc) * cand(r3); r3 += 1 }
            r3 = 0
            while (r3 < d) { cand(r3) -= proj * u(r3)(cc); r3 += 1 }
            cc += 1
          }
          var norm = 0.0; var r3 = 0
          while (r3 < d) { norm += cand(r3) * cand(r3); r3 += 1 }
          if (norm > 1e-6) {
            val inv = 1.0 / math.sqrt(norm)
            r3 = 0
            while (r3 < d) { u(r3)(c) = cand(r3) * inv; r3 += 1 }
            done = true
          }
          k2 += 1
        }
      }
      c += 1
    }
    // R = U·Vᵀ
    Array.tabulate(d, d) { (r2, c2) =>
      var s = 0.0; var k2 = 0
      while (k2 < d) { s += u(r2)(k2) * v(c2)(k2); k2 += 1 }
      s
    }
  }

  /** Cyclic Jacobi for a symmetric matrix: returns (eigenvalues,
    * eigenvector COLUMNS). Converges quadratically; 30 sweeps is far
    * beyond what d ≤ 256 needs. */
  private def jacobiEigen(aIn: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = aIn.length
    val a = aIn.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 30 && off > 1e-20) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          off += apq * apq
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              case sg => sg / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val cc = 1.0 / math.sqrt(t * t + 1.0)
            val ss = t * cc
            var k2 = 0
            while (k2 < d) {
              val akp = a(k2)(p); val akq = a(k2)(q)
              a(k2)(p) = cc * akp - ss * akq
              a(k2)(q) = ss * akp + cc * akq
              k2 += 1
            }
            k2 = 0
            while (k2 < d) {
              val apk = a(p)(k2); val aqk = a(q)(k2)
              a(p)(k2) = cc * apk - ss * aqk
              a(q)(k2) = ss * apk + cc * aqk
              k2 += 1
            }
            k2 = 0
            while (k2 < d) {
              val vkp = v(k2)(p); val vkq = v(k2)(q)
              v(k2)(p) = cc * vkp - ss * vkq
              v(k2)(q) = ss * vkp + cc * vkq
              k2 += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  // test-only probes (package-private): exercise the private linear
  // algebra without widening the public surface
  private[pipeline] def probeProcrustes(m: Array[Array[Double]]): Array[Array[Double]] =
    procrustesRotation(m)

  private[pipeline] def probeOpqMse(sample: Array[Array[Double]], mSub: Int,
      ksub: Int, iters: Int): Unit = {
    val d = sample(0).length
    def mse(r: Array[Array[Double]], books: Array[Array[Array[Double]]]): Double = {
      var s = 0.0
      sample.foreach { x =>
        val y = matVec(r, x)
        val b = pqReconstruct(books, y)
        var j = 0
        while (j < d) { val t = y(j) - b(j); s += t * t; j += 1 }
      }
      s / sample.length
    }
    val id = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    val plainBooks = lloydBooks(sample, mSub, ksub, 8)
    println(s"plain PQ mse: ${mse(id, plainBooks)}")
    var r = eigenvalueAllocationInit(sample, mSub)
    var it = 0
    while (it < iters) {
      val rotated = sample.map(matVec(r, _))
      val books = lloydBooks(rotated, mSub, ksub, 8)
      println(s"opq iter $it mse: ${mse(r, books)}")
      val recon = rotated.map(pqReconstruct(books, _))
      val mMat = Array.fill(d, d)(0.0)
      var n = 0
      while (n < sample.length) {
        val b = recon(n); val x = sample(n)
        var i = 0
        while (i < d) {
          val bi = b(i); val row = mMat(i)
          var j = 0
          while (j < d) { row(j) += bi * x(j); j += 1 }
          i += 1
        }
        n += 1
      }
      r = procrustesRotation(mMat)
      it += 1
    }
  }

  private def rotateUdf(r: Array[Array[Double]]) =
    udf((vec: Seq[Double]) =>
      if (vec == null) null
      else {
        val d = r.length
        val out = new Array[Double](d)
        var i = 0
        while (i < d) {
          val row = r(i); var s = 0.0; var j = 0
          while (j < d) { s += row(j) * vec(j); j += 1 }
          out(i) = s; i += 1
        }
        out
      })

  /** Approximate top-k: score only corpus rows in the query's LSH bucket.
    * Same output shape as [[bruteForceTopK]]; rows may be missing when a
    * true neighbor hashes elsewhere (tune `bits`). */
  def lshTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String, k: Int,
      bits: Int = 8): DataFrame = {
    val sig = signSignature(bits)
    // signatures are computed on the unit vectors — same signs as the raw
    // vectors (positive scaling preserves hyperplane sides)
    val c = unitized(corpus, corpusId, corpusVec, "corpus_id", "cvec")
      .withColumn("sig", sig(col("cvec")))
    val q = unitized(queries, queryId, queryVec, "query_id", "qvec")
      .withColumn("sig", sig(col("qvec")))
    val scored = c.join(broadcast(q), Seq("sig"))
      .withColumn("cosine", dot(col("cvec"), col("qvec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    localTopK(scored, k).withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "corpus_id", "cosine")
  }

  // ------------------------------------------------ semantic deduplication

  /** SemDeDup-style semantic deduplication (the published
    * cluster-then-prune method for web-scale training corpora): the IVF
    * quantizer doubles as the k-means clusterer, within-cluster pairs with
    * cosine ≥ `threshold` connect into duplicate groups, and ONE
    * representative survives per group — the member with the LOWEST
    * cosine to its cluster centroid (the paper's "keep the atypical
    * example" rule; ties break to the smaller id). Zero-norm vectors have
    * no direction and are dropped like every other embedding tier here.
    *
    * Output: one row per input embedding —
    * `(id, cell, centroid_cos, component, kept)`.
    *
    * 100 TB shape: centroids are a tiny broadcast model; assignment is
    * one scan; candidate pairing is an equi-join on cell id — never
    * all-pairs across the corpus. The published algorithm's within-
    * cluster pairing is O(c²) per cluster, so `nlist` must scale with the
    * corpus (the paper uses ~100k clusters at web scale); as a backstop,
    * cells over `maxCellRows` contribute NO edges (their rows survive
    * un-deduped) rather than quadratic work — the same hot-bucket census
    * the MinHash tiers use, honest and bounded. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String, index: IvfIndex,
      threshold: Double, maxCellRows: Int = 100000): DataFrame = {
    val assignCell = nearestCells(index, 1)
    val ctrs = index.centroids
    // cosine of each (unit) input vector to its (non-unit) centroid
    val centroidCos = udf((vec: Seq[Double], cell: Int) => {
      val c = ctrs(cell)
      var d = 0.0; var n2 = 0.0; var j = 0
      while (j < c.length) { d += c(j) * vec(j); n2 += c(j) * c(j); j += 1 }
      if (n2 == 0) 0.0 else d / math.sqrt(n2)
    })
    val rows = unitized(df, idCol, vecCol, "id", "vec")
      .withColumn("cell", element_at(assignCell(col("vec")), 1))
      .withColumn("centroid_cos", centroidCos(col("vec"), col("cell")))
    // pairing over the capped cells only — the OUTPUT keeps every row
    val capped = Dedup.capBuckets(rows.select("id", "vec", "cell"),
      Seq("cell"), maxCellRows)
    val l = capped.select(col("cell"), col("id").as("id_a"), col("vec").as("vec_a"))
    val r = capped.select(col("cell"), col("id").as("id_b"), col("vec").as("vec_b"))
    // vectors are unit: dot IS the cosine
    val pairs = l.join(r, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(dot(col("vec_a"), col("vec_b")) >= threshold)
      .select("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val labeled = rows.select("id", "cell", "centroid_cos")
      .join(comps, Seq("id"), "left")
      .withColumn("component", coalesce(col("component"), col("id")))
    // representative = min (centroid_cos, id) lexicographically
    val reps = labeled.groupBy(col("component"))
      .agg(min_by(col("id"),
        struct(col("centroid_cos"), col("id"))).as("rep_id"))
    labeled.join(reps, Seq("component"))
      .withColumn("kept", col("id") === col("rep_id"))
      .select("id", "cell", "centroid_cos", "component", "kept")
  }

  /** [[semDedup]] end to end: the surviving rows of `df` with all their
    * original columns (zero-norm embeddings are dropped — they have no
    * semantic direction to deduplicate on). */
  def semDedupFilter(df: DataFrame, idCol: String, vecCol: String,
      index: IvfIndex, threshold: Double,
      maxCellRows: Int = 100000): DataFrame = {
    val kept = semDedup(df, idCol, vecCol, index, threshold, maxCellRows)
      .filter(col("kept")).select("id")
    df.join(kept, df(idCol) === kept("id"), "left_semi")
  }
}
