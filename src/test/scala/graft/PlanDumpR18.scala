package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._

/** r18 deliverable: write `explain("formatted")` before/after files for
  * every query the optimization round touched, to plans/r18/. "Before"
  * variants rebuild the pre-r18 query shape inline (bare single-task
  * scans; projection-based self-joins) against the SAME library code, so
  * the plan diff isolates exactly the change being claimed. Where the
  * change is runtime-only (AQE coalescing, checkpoint parallelism) the
  * static plan is identical and the claim lives in stage-metric probes —
  * noted in the file header. */
object PlanDumpR18 {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.1"
    val outDir = new java.io.File("plans/r18")
    outDir.mkdirs()

    def dump(name: String, header: String, df: DataFrame): Unit = {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val body = s"# $name\n# $header\n\n$plan"
      java.nio.file.Files.write(new java.io.File(outDir, name + ".txt").toPath,
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $name")
    }

    def k = col("k")
    def xmin = (k % 1000000).cast("double") * 16.0
    def ymin = (k % 16).cast("double") * 16.0
    def w = lit(1.0) + (k % 13).cast("double") / 4.0
    def h = lit(1.0) + (k % 11).cast("double") / 4.0
    def rect = st_rectangle(xmin, ymin, xmin + w, ymin + h)
    def pt = st_point(xmin + w / 2, ymin + h / 2)
    def nnLx = k.cast("double") * 16.0
    def nnLy = (k % 16).cast("double") * 16.0
    def orders0 = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey").as("k"))
    def docs = spark.read.parquet(s"$dir/documents.parquet")
    val par = spark.sparkContext.defaultParallelism
    def sp(df: DataFrame) = df.repartition(par)

    // ---- spread scan keys: before = bare 1-task scan, after = +Exchange
    def overlay(src: DataFrame) = src
      .select(rect.as("a"), st_translate(rect, w / 2, lit(0.0)).as("c"))
      .select(st_area(st_intersection(col("a"), col("c"))).as("ia"),
        st_area(st_buffer(col("a"), lit(0.5))).as("ba"))
    dump("geo_scan_overlay_before",
      "pre-r18: single-row-group scan, compute stage = 1 task", overlay(orders0))
    dump("geo_scan_overlay_after",
      "r18: RoundRobinPartitioning(defaultParallelism) Exchange after the scan " +
        "spreads the kernel stage across cores (4.6 s -> 0.75 s at sf0.1)",
      overlay(sp(orders0)))

    def audio(src: DataFrame) = {
      val d = src.select(col("doc_id"))
        .withColumn("wav", graft.pipeline.Multimodal.makeWavSine(
          lit(8192), lit(8192),
          ((lit(64) + col("doc_id") % 8 * 16) * 8).cast("double"), lit(12000)))
      d.select(graft.pipeline.Multimodal.audioSpectral(1024)(col("wav")).as("sp"))
        .agg(sum(col("sp.dominantHz")).as("s"), avg(col("sp.centroidHz")).as("c"))
    }
    dump("pipe_audio_before", "pre-r18: 1-task FFT stage", audio(docs))
    dump("pipe_audio_after",
      "r18: spread doc_id scan -> 32-task FFT stage (2.7 s -> 0.35 s)",
      audio(sp(docs.select(col("doc_id")))))

    def text(src: DataFrame) = {
      val txt = col("text")
      src.select(
        graft.pipeline.TextAnalysis.tokenCount(txt).as("n_tok"),
        graft.pipeline.TextAnalysis.alphaRatio(txt).as("alpha"),
        graft.pipeline.TextAnalysis.langId(txt).as("lang"),
        graft.pipeline.TextAnalysis.qualityScore(txt).as("q"),
        graft.pipeline.TextAnalysis.fingerprint(txt).as("fp"))
    }
    dump("pipe_text_before", "pre-r18: 1-task text-stats stage", text(docs))
    dump("pipe_text_after", "r18: spread (1.3 s -> 0.4 s)", text(sp(docs)))

    def curvedLin(src: DataFrame) = {
      val cs = st_circularstring(array(
        array(xmin, ymin), array(xmin + w, ymin + w), array(xmin + w + w, ymin)))
      src.select(st_linearize(cs, lit(32)).as("c"))
        .select(st_length(col("c")).as("len"),
          element_at(st_bounds(col("c")), 4).as("ymax"))
        .agg(sum(col("len")).as("s_len"), sum(col("ymax")).as("s_ymax"))
    }
    dump("geo_curved_measure_lin_before", "pre-r18: 1-task linearize stage",
      curvedLin(orders0))
    dump("geo_curved_measure_lin_after", "r18: spread (2.8 s -> 0.5 s)",
      curvedLin(sp(orders0)))

    def scanPred(src: DataFrame) = src
      .select(rect.as("a"), st_translate(rect, w / 2, lit(0.0)).as("c"), pt.as("p"))
      .select(st_intersects(col("a"), col("c")).as("i"),
        st_contains(col("a"), col("p")).as("ct"),
        st_dwithin(col("a"), col("p"), lit(1.0)).as("dw"))
    dump("geo_scan_pred_before", "pre-r18: 1-task predicate stage", scanPred(orders0))
    dump("geo_scan_pred_after", "r18: spread (0.9 s -> 0.5 s)", scanPred(sp(orders0)))

    // ---- geo_union_groups: static plan UNCHANGED; the r18 change is the
    // bench session's AQE coalescing floor (16k), which keeps the final
    // aggregate at 32 tasks instead of 3 (ProbeUnionGroups2 stage metrics)
    def ug(src: DataFrame) = src
      .select((k % 1024).as("grp"), rect.as("g"))
      .groupBy(col("grp")).agg(st_area(st_union_all(col("g"))).as("area"))
    dump("geo_union_groups_before",
      "pre-r18 AND r18 static plan (identical): the r18 delta is runtime-only — " +
        "AQE coalesced the final ObjectHashAggregate to 3 tasks under the default " +
        "1 MB minPartitionSize; the bench session now floors it at 16k " +
        "(4.6 s -> 1.2-1.4 s, ProbeUnionGroups2 stage metrics: 3 tasks -> 32)",
      ug(orders0))
    dump("geo_union_groups_after",
      "r18: same static plan; AQEShuffleRead keeps 32 partitions at runtime",
      ug(orders0))

    // ---- geo_sjoin: probe side spread
    dump("geo_sjoin_before", "pre-r18: probe (right) side = 1-task MapPartitions", {
      val left = orders0.select(k.as("lk"), rect.as("geometry"))
      val right = orders0.select(k.as("rk"), pt.as("geometry"))
      graft.join.SpatialJoin.sjoin(left, right, "contains", "inner")
        .agg(count(lit(1)).as("n"))
    })
    dump("geo_sjoin_after", "r18: probe side spread to 32 tasks (3.7 -> 1.7 s " +
      "in the same window); build side stays bare (driver-collected)", {
      val left = orders0.select(k.as("lk"), rect.as("geometry"))
      val right = sp(orders0).select(k.as("rk"), pt.as("geometry"))
      graft.join.SpatialJoin.sjoin(left, right, "contains", "inner")
        .agg(count(lit(1)).as("n"))
    })

    // ---- pipe_minhash: selfJoinPairs ReuseExchange (library change) —
    // "before" rebuilds the old projection-based self-join inline
    def docsAll = {
      val d = docs.select(col("doc_id"), col("text"))
      d.unionAll(d.select((col("doc_id") + 10000).as("doc_id"), col("text")))
    }
    dump("pipe_minhash_before",
      "pre-r18 SHAPE (rebuilt inline): per-side projections below the " +
        "exchanges defeat ReuseExchange — the signature pass appears TWICE " +
        "(two scan+sign subtrees feeding the join)", {
        val banded = graft.pipeline.Dedup.capBuckets(
          graft.pipeline.Dedup.minhashBanded(docsAll, "doc_id", "text", 64, 8, 5),
          Seq("band", "bucket"), 100000)
        val l = banded.select(col("band"), col("bucket"),
          col("id").as("id_a"), col("sig").as("sig_a"))
        val r = banded.select(col("band"), col("bucket"),
          col("id").as("id_b"), col("sig").as("sig_b"))
        l.join(r, Seq("band", "bucket"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b"))
          .dropDuplicates("id_a", "id_b")
          .agg(count(lit(1)).as("n"))
      })
    dump("pipe_minhash_after",
      "r18: alias self-join -> ReusedExchange (look for 'ReusedExchange' " +
        "below) — the shingle+sign pass is computed once and the shuffle " +
        "read twice; results bit-identical (PERF.md, round 18)", {
        graft.pipeline.Dedup.minhashCandidates(docsAll, "doc_id", "text")
          .agg(count(lit(1)).as("n"))
      })

    // ---- geo_sjoin_nearest: spread inputs (bench) + withStableIndex spread
    dump("geo_sjoin_nearest_before", "pre-r18: bare 1-task inputs feeding " +
      "the single-partition stable-index checkpoint and cell explode", {
      val left = orders0.select(k.as("lk"),
        st_point(nnLx + w / 2, nnLy + h / 2).as("geometry"))
      val right = orders0.select(k.as("rk"),
        st_point(nnLx + w, nnLy + h).as("geometry"))
      graft.join.SpatialJoin.sjoinNearestPartitioned(left, right, k = 2,
          maxDistance = 8.0, distanceCol = Some("d"))
        .agg(count(lit(1)).as("n"), sum(col("d")).as("sd"))
    })
    dump("geo_sjoin_nearest_after", "r18: both inputs spread at the bench " +
      "level (alternated A/B 0.87x; the library-internal withStableIndex " +
      "spread was probed separately and REVERTED - see OPTIMIZATION_r18.md)", {
      val left = sp(orders0).select(k.as("lk"),
        st_point(nnLx + w / 2, nnLy + h / 2).as("geometry"))
      val right = sp(orders0).select(k.as("rk"),
        st_point(nnLx + w, nnLy + h).as("geometry"))
      graft.join.SpatialJoin.sjoinNearestPartitioned(left, right, k = 2,
          maxDistance = 8.0, distanceCol = Some("d"))
        .agg(count(lit(1)).as("n"), sum(col("d")).as("sd"))
    })

    spark.stop()
  }
}
