package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._

/** Headline benchmark, printed as one JSON line for the driver.
  *
  * Every query is forced to full evaluation with a hash-sum over all output
  * columns (`agg(sum(xxhash64(struct(*))))`): a bare `.count()` lets
  * Catalyst prune deterministic projections, so UDF work would be skipped
  * and the bench would mostly time the scan.
  *
  * The queries are scan-shaped (no global sorts — those are oracle-compare
  * conveniences in Verify, not workloads): per-row geometry compute,
  * wide-group aggregation, a spatial join, and the pipeline operators.
  */
object Bench {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private def k = col("k")
  private def xmin = (k % 1000000).cast("double") * 16.0
  private def ymin = (k % 16).cast("double") * 16.0
  private def w = lit(1.0) + (k % 13).cast("double") / 4.0
  private def h = lit(1.0) + (k % 11).cast("double") / 4.0
  private def rect = st_rectangle(xmin, ymin, xmin + w, ymin + h)
  private def pt = st_point(xmin + w / 2, ymin + h / 2)
  // the nearest keys' UNWRAPPED lattice (the shared xmin wraps at k=1e6,
  // which would co-locate keys and densify the workload at larger SFs)
  private def nnLx = k.cast("double") * 16.0
  private def nnLy = (k % 16).cast("double") * 16.0

  private def orders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(col("o_orderkey").as("k"))

  /** Spread a narrow scan across the executors (r18, guide §2.5): the sf
    * fixtures are SINGLE-ROW-GROUP parquet files, and a row group is the
    * atomic split unit — no file-split conf can parallelize it — so every
    * scan-shaped query was running its heavy per-row compute (overlay,
    * FFT, arc linearize, text stats, reprojection) in ONE task with the
    * other cores idle. A round-robin repartition of the narrow input
    * (8-byte key or short document row) costs a ~1-5 MB exchange and buys
    * cores× on the compute stage; the count derives from
    * defaultParallelism so the driver's lower-core runs keep scaling.
    * Applied ONLY where per-row compute dominates: a probe (ProbeScanPar)
    * measured q1_agg 0.25→1.08 s (wide rows, trivial compute — the
    * exchange dominates) and the join keys neutral-to-worse (they
    * re-evaluate inputs for sampling/summary passes, multiplying the
    * exchange), so those keep the bare scan. This is the 100 TB shape:
    * inputs there arrive as many splittable row groups, and the compute
    * stage runs at cluster parallelism either way. */
  private def spread(df: DataFrame): DataFrame =
    // the logic now lives in the ENGINE (r19, VERDICT r18 #6): file-count
    // guard (not byte-range split count — those lie for single-row-group
    // files, review r18), no-op on many-file at-scale inputs, no-op on
    // frames without file leaves (ADVICE r18 — the old
    // rdd.getNumPartitions fallback materialized the plan as an RDD)
    graft.api.GraftSession.spreadUnsplittable(df)

  /** Headline set: name → query. */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n"))
    }),
    // curved measurement: exact arc closed forms (CurvedGeom tier 2) on
    // per-row CircularStrings, vs the 32-seg linearize-then-measure twin —
    // the delta prices the whole curved fast path (round 11)
    "geo_curved_measure" -> ((s, dir) => {
      val cs = st_circularstring(array(
        array(xmin, ymin), array(xmin + w, ymin + w), array(xmin + w + w, ymin)))
      spread(orders(s, dir))
        .select(cs.as("c"))
        .select(st_length(col("c")).as("len"),
          element_at(st_bounds(col("c")), 4).as("ymax"))
        .agg(sum(col("len")).as("s_len"), sum(col("ymax")).as("s_ymax"))
    }),
    "geo_curved_measure_lin" -> ((s, dir) => {
      val cs = st_circularstring(array(
        array(xmin, ymin), array(xmin + w, ymin + w), array(xmin + w + w, ymin)))
      spread(orders(s, dir))
        .select(st_linearize(cs, lit(32)).as("c"))
        .select(st_length(col("c")).as("len"),
          element_at(st_bounds(col("c")), 4).as("ymax"))
        .agg(sum(col("len")).as("s_len"), sum(col("ymax")).as("s_ymax"))
    }),
    // per-row construct + measure, no sort
    "geo_scan_measure" -> ((s, dir) => {
      spread(orders(s, dir))
        .select(k, rect.as("g"), pt.as("p"))
        .select(st_area(col("g")).as("area"), st_length(col("g")).as("len"),
          st_x(st_centroid(col("g"))).as("cx"))
    }),
    // geo_scan_measure pinned to the ScalaUDF tier — the pair quantifies
    // the UDF encoder/boxing overhead the native default avoids (identical
    // construction and JTS kernels, only the call tier differs; benched
    // 3.17s UDF vs 1.05s native at sf0.1)
    "geo_scan_measure_udf" -> ((s, dir) => {
      spread(orders(s, dir))
        .select(k, rect.as("g"), pt.as("p"))
        .select(graft.functions.GeoUDFs.area(col("g")).as("area"),
          graft.functions.GeoUDFs.length(col("g")).as("len"),
          st_x(st_centroid(col("g"))).as("cx"))
    }),
    // per-row binary predicates (RelateNG hot path)
    "geo_scan_pred" -> ((s, dir) => {
      spread(orders(s, dir))
        .select(rect.as("a"), st_translate(rect, w / 2, lit(0.0)).as("c"), pt.as("p"))
        .select(st_intersects(col("a"), col("c")).as("i"),
          st_contains(col("a"), col("p")).as("ct"),
          st_dwithin(col("a"), col("p"), lit(1.0)).as("dw"))
    }),
    // geo_scan_pred with ALL THREE predicates pinned to the ScalaUDF tier
    // (intersects/contains/dwithin are native by default, so this twin
    // quantifies the full native-predicate delta per round)
    "geo_scan_pred_udf" -> ((s, dir) => {
      spread(orders(s, dir))
        .select(rect.as("a"), st_translate(rect, w / 2, lit(0.0)).as("c"), pt.as("p"))
        .select(graft.functions.GeoUDFs.intersects(col("a"), col("c")).as("i"),
          graft.functions.GeoUDFs.contains(col("a"), col("p")).as("ct"),
          graft.functions.GeoUDFs.dwithin(col("a"), col("p"), lit(1.0)).as("dw"))
    }),
    // per-row overlay + buffer (heaviest JTS kernels); with fusion on the
    // whole construct→translate→overlay→area tree runs as one STGeoFused
    // program (zero interior EWKB round trips)
    "geo_scan_overlay" -> ((s, dir) => {
      spread(orders(s, dir))
        .select(rect.as("a"), st_translate(rect, w / 2, lit(0.0)).as("c"))
        .select(st_area(st_intersection(col("a"), col("c"))).as("ia"),
          st_area(st_buffer(col("a"), lit(0.5))).as("ba"))
    }),
    // same plan with the fusion rule pinned off (main() toggles
    // spark.graft.fuse for *_unfused/*_udf names): quantifies the per-op
    // parse→compute→serialize tax the fusion tier removes
    "geo_scan_overlay_unfused" -> ((s, dir) => {
      spread(orders(s, dir))
        .select(rect.as("a"), st_translate(rect, w / 2, lit(0.0)).as("c"))
        .select(st_area(st_intersection(col("a"), col("c"))).as("ia"),
          st_area(st_buffer(col("a"), lit(0.5))).as("ba"))
    }),
    // wide-group spatial aggregation (1024-way, not 16)
    "geo_union_groups" -> ((s, dir) => {
      orders(s, dir)
        .select((k % 1024).as("grp"), rect.as("g"))
        .groupBy(col("grp"))
        .agg(st_area(st_union_all(col("g"))).as("area"))
    }),
    // broadcast STRtree spatial join: every point in its own rect.
    // The PROBE (right) side is spread (r18): it was a single-task scan
    // probing the tree one-threaded (0.87 s of the key); the build (left)
    // side stays bare — it is collected to the driver for the broadcast
    // tree, so an exchange there is pure overhead (ProbeScanPar2/JoinAB).
    "geo_sjoin" -> ((s, dir) => {
      val left = orders(s, dir).select(k.as("lk"), rect.as("geometry"))
      val right = spread(orders(s, dir)).select(k.as("rk"), pt.as("geometry"))
      graft.join.SpatialJoin.sjoin(left, right, "contains", "inner")
        .agg(count(lit(1)).as("n"))
    }),
    // the same join through the shuffle tiers (VERDICT r6 asked for their
    // constants to be visible per round): grid cells aligned to the 16-unit
    // rect lattice, and the sample-adaptive quadtree
    "geo_sjoin_grid" -> ((s, dir) => {
      val left = orders(s, dir).select(k.as("lk"), rect.as("geometry"))
      val right = orders(s, dir).select(k.as("rk"), pt.as("geometry"))
      graft.join.SpatialJoin.sjoinPartitioned(left, right, cellSize = 64.0,
        predicate = "contains")
        .agg(count(lit(1)).as("n"))
    }),
    "geo_sjoin_quadtree" -> ((s, dir) => {
      val left = orders(s, dir).select(k.as("lk"), rect.as("geometry"))
      val right = orders(s, dir).select(k.as("rk"), pt.as("geometry"))
      graft.join.SpatialJoin.sjoinQuadtree(left, right, predicate = "contains")
        .agg(count(lit(1)).as("n"))
    }),
    // distributed k-nearest join (r15): the partitioned door — cell
    // shuffle with build-side expansion, per-cell STRtree kNN, global
    // rank window. Its OWN unbounded lattice (k*16, no modulo — the
    // shared xmin wraps at k=1e6, which would co-locate keys past that
    // at larger SFs): each left point's only in-range neighbor is its
    // own key's right point, every other key sits ≥ 16 units away on
    // the x axis — a constant-density workload at every SF.
    // both sides spread (r18): the cell-explode prep stages ran single
    // task; ProbeJoinAB alternated A/B reads 0.87x for the spread form
    // here, while grid/quadtree/unbounded (inputs re-evaluated by their
    // sampling/census passes, each re-paying the exchange) read worse
    // and keep the bare scan.
    "geo_sjoin_nearest" -> ((s, dir) => {
      val left = spread(orders(s, dir)).select(k.as("lk"),
        st_point(nnLx + w / 2, nnLy + h / 2).as("geometry"))
      val right = spread(orders(s, dir)).select(k.as("rk"),
        st_point(nnLx + w, nnLy + h).as("geometry"))
      graft.join.SpatialJoin.sjoinNearestPartitioned(left, right, k = 2,
          maxDistance = 8.0, distanceCol = Some("d"))
        .agg(count(lit(1)).as("n"), sum(col("d")).as("sd"))
    }),
    // text statistics over documents (pure codegen expressions)
    "pipe_text" -> ((s, dir) => {
      val txt = col("text")
      spread(t(s, dir, "documents")).select(
        graft.pipeline.TextAnalysis.tokenCount(txt).as("n_tok"),
        graft.pipeline.TextAnalysis.alphaRatio(txt).as("alpha"),
        graft.pipeline.TextAnalysis.langId(txt).as("lang"),
        graft.pipeline.TextAnalysis.qualityScore(txt).as("q"),
        graft.pipeline.TextAnalysis.fingerprint(txt).as("fp"))
    }),
    // MinHash LSH candidate generation (shingle → sign → band → join)
    "pipe_minhash" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val all = d.unionAll(d.select((col("doc_id") + 10000).as("doc_id"), col("text")))
      graft.pipeline.Dedup.minhashCandidates(all, "doc_id", "text")
        .agg(count(lit(1)).as("n"))
    }),
    // the persistent corpus index twin (r16): store built ONCE (untimed,
    // like the spatial stores) — the timed part is one batch signed and
    // joined against it, the incremental-ingest constant. Same doc set
    // as pipe_minhash's union, so the two keys price "re-sign the whole
    // corpus per call" vs "sign only the batch".
    "pipe_minhash_store" -> ((s, dir) => {
      MhStoreSetup.get(s, dir)
      // batch side spread (r18, 0.94x — OPTIMIZATION_r18.md §"Per-operator
      // log"): the batch sign pass was a single-task stage against the
      // already-parallel store side
      val batch = spread(t(s, dir, "documents")
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      graft.pipeline.Dedup.minhashCandidatesAgainstStore(s, batch,
          "graft_bench_mh_store")
        .agg(count(lit(1)).as("n"), sum(col("jaccard_est")).as("sj"))
    }),
    // spectral audio features (per-row radix-2 FFT over generated PCM)
    "pipe_audio" -> ((s, dir) => {
      val d = spread(t(s, dir, "documents").select(col("doc_id")))
        .withColumn("wav", graft.pipeline.Multimodal.makeWavSine(
          lit(8192), lit(8192),
          ((lit(64) + col("doc_id") % 8 * 16) * 8).cast("double"), lit(12000)))
      d.select(graft.pipeline.Multimodal.audioSpectral(1024)(col("wav")).as("sp"))
        .agg(sum(col("sp.dominantHz")).as("s"), avg(col("sp.centroidHz")).as("c"))
    }),
    // brute-force cosine top-k
    "pipe_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val q = e.filter(col("vec_id") % 10 === 0)
      graft.pipeline.Similarity.bruteForceTopK(e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 5)
    }),
    // IVF-PQ composed store: the ANN scale path (partition + column
    // pruning + pushdown re-rank). Train/build happen ONCE per process
    // (AnnSetup memo) — the timed part is the query batch, matching real
    // use where the store outlives query batches.
    "pipe_ann_ivfpq" -> ((s, dir) => {
      val (index, opq, store) = AnnSetup.get(s, dir)
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val q = e.filter(col("vec_id") % 10 === 0)
      graft.pipeline.Similarity.ivfPqTopKStored(s, index, opq.book, store,
        q, "vec_id", "embedding", k = 5, nprobe = 2, candidates = 16,
        residual = true, rotation = Some(opq.rotation))
    }),
    // bucketed spatial store: the JOIN's own cost with the shuffle paid
    // at (untimed, build-once) write time — the repeated-join constant
    "geo_sjoin_bucketed" -> ((s, dir) => {
      BktSetup.get(s, dir)
      graft.join.SpatialJoin.sjoinBucketed(s, "graft_bench_bkt_l",
        "graft_bench_bkt_r", 16.0, "contains")
    }),
    // pinned twin: the pre-r10 ScalaUDF refinement over the identical
    // plan — quantifies the codegen'd STBucketedMatch's win on the
    // bucketed tiers' hot loop (encoder boxing + per-row closure call)
    "geo_sjoin_bucketed_udf" -> ((s, dir) => {
      BktSetup.get(s, dir)
      graft.join.SpatialJoin.sjoinBucketed(s, "graft_bench_bkt_l",
        "graft_bench_bkt_r", 16.0, "contains", refineViaUdf = true)
    }),
    // exchange-free k-nearest against a build-once store (write untimed,
    // like the other bucketed keys): probe shuffle + codegen'd
    // st_nearest_match kernel + rank window — the repeated-nearest-join
    // constant. Store AND probe ride geo_sjoin_nearest's unwrapped k*16
    // lattice (the shared xmin wraps at k=1e6), so the two nearest keys
    // stay a like workload with constant density at every SF.
    "geo_sjoin_nearest_bucketed" -> ((s, dir) => {
      BktSetup.get(s, dir)
      // probe side spread (r18, alternated A/B 0.94x — OPTIMIZATION_r18.md
      // §"Per-operator log"); the unbounded twin re-evaluates the probe
      // for bound discovery and measured 1.10x WITH the spread, so it
      // keeps the bare scan
      val probe = spread(orders(s, dir)).select(k.as("lk"),
        st_point(nnLx + w, nnLy + h).as("geometry"))
      graft.join.SpatialJoin.sjoinNearestBucketed(s, probe,
          "graft_bench_bkt_nn", 16.0, k = 2, maxDistance = 8.0,
          distanceCol = Some("d"))
        .agg(count(lit(1)).as("n"), sum(col("d")).as("sd"))
    }),
    // skewed bucketed join: ONE cell past the hot-pair bound (4096 x
    // 2048 = 8.4M candidate pairs) over a uniform background — tracks
    // the r14 hot-cell salting path per round (fixture = ProbeBucketHot's
    // 2048-distinct regime; its alternating A/B put the unsalted twin at
    // ~4.3x this key, PERF.md r14)
    "geo_sjoin_bucketed_hot" -> ((s, dir) => {
      HotBktSetup.get(s, dir)
      graft.join.SpatialJoin.sjoinBucketed(s, "graft_bench_bkthot_l",
        "graft_bench_bkthot_r", 1.0, "intersects")
    }),
    // pinned twin: the identical skewed join with hot-cell salting OFF —
    // prices the salting win inside BENCH every round instead of only in
    // ProbeBucketHot's PERF.md numbers (expected ~4.3x the salted key
    // per the r14 probe)
    "geo_sjoin_bucketed_hot_unsalted" -> ((s, dir) => {
      HotBktSetup.get(s, dir)
      graft.join.SpatialJoin.sjoinBucketed(s, "graft_bench_bkthot_l",
        "graft_bench_bkthot_r", 1.0, "intersects", saltHotCells = false)
    }),
    // UNBOUNDED distributed nearest (r16): no maxDistance anywhere — the
    // per-probe bound discovery (two summary passes + summed-area ring
    // search) rides on top of geo_sjoin_nearest's constant-density
    // lattice, so the delta over that key prices the no-bound contract
    "geo_sjoin_nearest_unbounded" -> ((s, dir) => {
      val left = orders(s, dir).select(k.as("lk"),
        st_point(nnLx + w / 2, nnLy + h / 2).as("geometry"))
      val right = orders(s, dir).select(k.as("rk"),
        st_point(nnLx + w, nnLy + h).as("geometry"))
      graft.join.SpatialJoin.sjoinNearestUnbounded(left, right, k = 2,
          distanceCol = Some("d"))
        .agg(count(lit(1)).as("n"), sum(col("d")).as("sd"))
    }),
    // the UNBOUNDED door of the store tier (r16): per-probe bounds come
    // from the stamped CellSummary sidecar (stamped untimed at store
    // build, like the histogram), so the delta over the bounded
    // geo_sjoin_nearest_bucketed key prices exactly the no-bound premium
    // on the exchange-free path — bound discovery + coverage-filtered
    // explosion + the STNearestMatchBound kernel
    "geo_sjoin_nearest_unb_bkt" -> ((s, dir) => {
      BktSetup.get(s, dir)
      val probe = orders(s, dir).select(k.as("lk"),
        st_point(nnLx + w, nnLy + h).as("geometry"))
      graft.join.SpatialJoin.sjoinNearestBucketed(s, probe,
          "graft_bench_bkt_nn", 16.0, k = 2,
          maxDistance = Double.PositiveInfinity, distanceCol = Some("d"))
        .agg(count(lit(1)).as("n"), sum(col("d")).as("sd"))
    }),
    // fixed-size, data-independent CPU calibration (r17, VERDICT #2): a
    // pure-codegen xxhash64 chain over a constant range — no I/O, no
    // page cache, no fixture, so its quiet-run time is the box's CPU
    // constant. A CONTENDED WINDOW inflates every key by a modest
    // factor (r16's driver run: 1.28-1.37× across untouched keys) that
    // the per-key 2× min-rule is blind to; this key gets a 1.25×
    // threshold instead, so the WINDOW flags even when no workload key
    // trips — reviewers then re-measure before trusting anything.
    "calib_cpu" -> ((s, _) => {
      s.range(64L * 1000 * 1000)
        .select(xxhash64(xxhash64(col("id")), col("id")).as("h"))
    }),
    // the ALLOCATION/memory-bound calibration twin (r17): md5 over a
    // per-row string materializes buffers and streams memory where
    // calib_cpu's hash chain stays in registers. The r17 isolation
    // probes (ProbeKeyIso) found the allocation-heavy workload keys
    // (pipe_audio, geo_scan_overlay, pipe_ann_ivfpq) inflated 1.3-1.8×
    // in windows where calib_cpu held flat — host-level memory-bandwidth
    // or GC pressure that register-bound work never sees. The PAIR
    // discriminates: calib_cpu up → CPU contention; calib_alloc up
    // alone → memory-side contention; both flat but workloads up →
    // suspect the code.
    "calib_alloc" -> ((s, _) => {
      s.range(8L * 1000 * 1000)
        .select(md5(concat(col("id").cast("string"),
          lit("-"), (col("id") * 31).cast("string"))).as("h"))
    }),
    // whole-corpus reprojection (r16, VERDICT #2): st_to_srid is the one
    // §2 family with no bench coverage, and at 100 TB a reprojection is
    // a full scan — lon/lat lattice → web mercator, coordinate checksum
    "geo_crs_scan" -> ((s, dir) => {
      val g = st_set_srid(st_point(
        (k % 360).cast("double") - 180.0 + 0.5,
        (k % 170).cast("double") / 2.0 - 42.25), lit(4326))
      spread(orders(s, dir)).select(st_to_srid(g, lit(3857)).as("m"))
        .agg(sum(st_x(col("m"))).as("sx"), sum(st_y(col("m"))).as("sy"))
    })
  )

  /** Build-once bucketed spatial tables (per sf dir) — the store outlives
    * query batches in real use, so only the join is timed. */
  private object BktSetup {
    private var cached: Option[String] = None
    def get(s: SparkSession, dir: String): Unit = synchronized {
      if (!cached.contains(dir)) {
        Seq("graft_bench_bkt_l", "graft_bench_bkt_r", "graft_bench_bkt_nn")
          .foreach(graft.join.SpatialJoin.dropBucketedTable(s, _))
        graft.join.SpatialJoin.writeSpatialBucketed(
          orders(s, dir).select(k.as("lk"), rect.as("geometry")),
          "graft_bench_bkt_l", 16.0, 32)
        graft.join.SpatialJoin.writeSpatialBucketed(
          orders(s, dir).select(k.as("rk"), pt.as("geometry")),
          "graft_bench_bkt_r", 16.0, 32)
        // the nearest key's store: the unwrapped nnLx/nnLy lattice
        graft.join.SpatialJoin.writeSpatialBucketed(
          orders(s, dir).select(k.as("rk"),
            st_point(nnLx + w / 2, nnLy + h / 2).as("geometry")),
          "graft_bench_bkt_nn", 16.0, 32)
        // cell summary for the unbounded door, stamped at (untimed)
        // store-build time like the histogram — the timed key then
        // prices only the per-probe bound discovery + join
        graft.join.SpatialJoin.stampCellSummary(s, "graft_bench_bkt_nn")
        cached = Some(dir)
      }
    }
  }

  /** Build-once MinHash corpus index (per sf dir) — the corpus signature
    * pass is a write-time cost in real use, so only the batch join is
    * timed. */
  private object MhStoreSetup {
    private var cached: Option[String] = None
    def get(s: SparkSession, dir: String): Unit = synchronized {
      if (!cached.contains(dir)) {
        graft.pipeline.Dedup.dropMinhashStore(s, "graft_bench_mh_store")
        graft.pipeline.Dedup.writeMinhashStore(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "graft_bench_mh_store")
        cached = Some(dir)
      }
    }
  }

  /** Build-once skewed bucketed stores: a single hot cell (dyadic
    * sub-rectangles of the unit cell, all pairwise-intersecting) whose
    * left×right row product crosses [[graft.join.SpatialJoin
    * .sjoinBucketed]]'s default pair bound, plus one-row-per-cell
    * uniform background on each side. */
  private object HotBktSetup {
    private var cached = false
    def get(s: SparkSession, dir: String): Unit = synchronized {
      if (!cached) {
        Seq("graft_bench_bkthot_l", "graft_bench_bkthot_r")
          .foreach(graft.join.SpatialJoin.dropBucketedTable(s, _))
        // fixed-size skew fixture (fixture regime, not a data scan — the
        // key tracks the salted path's constant across rounds, so it is
        // deliberately sf-independent; same generator as ProbeBucketHot)
        def subRect(kk: org.apache.spark.sql.Column) = st_rectangle(
          (kk % 128).cast("double") / 256.0,
          ((kk / lit(128)) % 128).cast("double") / 256.0,
          (kk % 128).cast("double") / 256.0 + 0.6,
          ((kk / lit(128)) % 128).cast("double") / 256.0 + 0.6)
        def bg(id: org.apache.spark.sql.Column, off: Double) = st_rectangle(
          id.cast("double") * 4.0 + lit(100.0 + off),
          (id % 64).cast("double") * 4.0 + lit(100.0 + off),
          id.cast("double") * 4.0 + lit(100.5 + off),
          (id % 64).cast("double") * 4.0 + lit(100.5 + off))
        import org.apache.spark.sql.functions.col
        graft.join.SpatialJoin.writeSpatialBucketed(
          s.range(4096).select(col("id").as("lk"),
              subRect(col("id") % 2048).as("geometry"))
            .union(s.range(100000).select((col("id") + 1000000).as("lk"),
              bg(col("id"), 0.0).as("geometry"))),
          "graft_bench_bkthot_l", 1.0, 32)
        graft.join.SpatialJoin.writeSpatialBucketed(
          s.range(2048).select(col("id").as("rk"),
              subRect(col("id")).as("geometry"))
            .union(s.range(100000).select((col("id") + 1000000).as("rk"),
              bg(col("id"), 0.25).as("geometry"))),
          "graft_bench_bkthot_r", 1.0, 32)
        cached = true
      }
    }
  }

  /** Build-once ANN fixtures (per sf dir): IVF index, OPQ-rotated
    * residual codebook (the store default since r9 — same query-time
    * cost, strictly better codes on anisotropic data), and the composed
    * store on disk. Kept out of the timed lambdas — the store outlives
    * query batches in real use. */
  private object AnnSetup {
    private var cached: Option[(String, graft.pipeline.Similarity.IvfIndex,
      graft.pipeline.Similarity.OpqModel, String)] = None
    def get(s: SparkSession, dir: String): (graft.pipeline.Similarity.IvfIndex,
        graft.pipeline.Similarity.OpqModel, String) = synchronized {
      cached match {
        case Some((d, ix, om, st)) if d == dir => (ix, om, st)
        case _ =>
          val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
          val ix = graft.pipeline.Similarity.trainIvf(e, "vec_id", "embedding",
            nlist = 16)
          val om = graft.pipeline.Similarity.trainOpqResidual(ix, e, "vec_id",
            "embedding", m = 8, ksub = 32, opqIters = 4)
          val st = new java.io.File(sys.props("java.io.tmpdir"),
            "graft_bench_ivfpq").toString + "/store_opq"
          graft.pipeline.Similarity.buildIvfPqStore(ix, om.book, e, "vec_id",
            "embedding", st, residual = true, rotation = Some(om.rotation))
          cached = Some((dir, ix, om, st))
          (ix, om, st)
      }
    }
  }

  /** Force full evaluation: fold every column of every row into one
    * xor-of-hashes (overflow-free under ANSI mode, prunes nothing). */
  private def force(df: DataFrame): Unit = {
    df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
      .agg(expr("bit_xor(h)")).collect()
    ()
  }

  /** Warm-then-time: the first execution of a plan pays whole-stage codegen
    * compilation and JIT warm-up (measured ~2 s on the cheap scans — larger
    * than the queries themselves). On a real cluster that cost amortizes to
    * zero over 100 TB, so the representative number is the warm run. */
  /** @return (median, max-min spread of the reported triple, noisy flag).
    * Single samples on a shared box jitter ±20% (GC, page cache, neighbor
    * load); r4's driver file even showed a 2× ghost regression that never
    * reproduced, and r8's showed a 9× one (geo_union_groups 24.4 s vs a
    * quiet 2.9 s, spread 20.2 s) from plain box contention. The median of
    * three bounds small noise; CONTENTION DEFENSE (r8 VERDICT #6) handles
    * the big hits: when the triple's spread exceeds 50% of its median,
    * keep sampling (up to [[MaxExtraTrials]] extra runs) and report the
    * tightest consecutive-in-sorted-order triple seen — a contended
    * window inflates some samples but the tight cluster around the true
    * cost survives. If even the best triple stays wide, the key is
    * flagged `noisy` in the output so a reviewer knows to distrust it. */
  private val MaxExtraTrials = 6
  /** @return (median, spread, noisy, min-of-all-samples). The min rides
    * along for the CONTENDED-RUN flag (r15, VERDICT r14 #2): a uniformly
    * contended window inflates median AND min together with a
    * clean-looking spread — the driver's r14 file printed pipe_ann_ivfpq
    * at 12.6× the quiet value and the spread rule passed it. The run's
    * MIN exceeding the previous round's median by 2× fires exactly then
    * (see [[referenceBand]]). */
  private[graft] def timeWarm(df: => DataFrame): (Double, Double, Boolean, Double) = {
    force(df)
    def timed(): Double = {
      val t0 = System.nanoTime()
      force(df)
      (System.nanoTime() - t0) / 1e9
    }
    def bestTriple(samples: Seq[Double]): (Double, Double) = {
      val s = samples.sorted
      // tightest window of 3 consecutive sorted samples
      val (lo, hi, med) = (0 to s.length - 3)
        .map(i => (s(i), s(i + 2), s(i + 1)))
        .minBy { case (a, b, _) => b - a }
      (med, hi - lo)
    }
    var samples = Seq(timed(), timed(), timed())
    var (med, spread) = bestTriple(samples)
    var extra = 0
    while (spread > 0.5 * med && extra < MaxExtraTrials) {
      samples :+= timed()
      extra += 1
      val b = bestTriple(samples); med = b._1; spread = b._2
    }
    (med, spread, spread > 0.5 * med, samples.min)
  }

  /** The locally-maintained band file: `{"<sfDir>": {"<key>": sec}}`,
    * per-key MIN of the run medians across every bench run on this box.
    * [[main]] merges each run into it AFTER reading the reference (a run
    * never bands itself), and [[referenceBand]] prefers it over the
    * `BENCH_r*.json` archive scan — the driver's archives carry the
    * bench line inside a `tail` log that has been observed truncated
    * mid-line (r15-r17), which silently knocked the reference back to
    * the pre-calibration r14 file and left the contention flag inert
    * for three rounds (VERDICT r17 #1). Min-merge keeps the bands at
    * the quiet floor: a contended run's inflated medians can only lose
    * the min, never raise a band. */
  private[graft] val BandsFileName = "BENCH_BANDS.json"

  /** The bands file's section key: the sf dir PLUS the cpu count, so a
    * run at a different parallelism (SPARK_GRAFT_CPUS) min-merges into
    * its own section instead of permanently ratcheting the default
    * section's bands below what the default config can ever reach (a
    * band has no ratchet-UP path by design — after a deliberate
    * environment change that makes quiet runs slower, e.g. a
    * regenerated fixture at the same path, delete the file and let the
    * next runs reseed it). */
  private[graft] def bandKey(sfDir: String, cpus: String): String =
    if (cpus.isEmpty) sfDir else s"$sfDir|cpus=$cpus"

  /** The numeric fields of a JSON object as key → double (json4s parses
    * numbers as JDouble/JInt/JDecimal depending on shape — ONE decoder
    * for every bands/archive reader, so they can't drift). */
  private def numericFields(j: org.json4s.JValue): Map[String, Double] = {
    import org.json4s._
    j match {
      case JObject(fields) => fields.collect {
        case (k, JDouble(v)) => k -> v
        case (k, JInt(v)) => k -> v.toDouble
        case (k, JDecimal(v)) => k -> v.toDouble
        case (k, JLong(v)) => k -> v.toDouble
      }.toMap
      case _ => Map.empty
    }
  }

  /** Read the bands file's map for one section key; empty on
    * absent/garbage. */
  private[graft] def readBands(key: String,
      dir: String = "."): Map[String, Double] = {
    val f = new java.io.File(dir, BandsFileName)
    if (!f.isFile) Map.empty
    else try {
      numericFields(org.json4s.jackson.JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)) \ key)
    } catch { case scala.util.control.NonFatal(_) => Map.empty }
  }

  /** Merge one run's per-key medians into the bands file (per-key min
    * with whatever is already stamped; other sections untouched).
    * Negative medians (errored keys) are skipped. Rendered through
    * json4s (arbitrary section-key strings stay valid JSON) and written
    * tmp-file + rename so a crash mid-write can't leave a half-band
    * file. */
  private[graft] def mergeBands(key: String, run: Map[String, Double],
      dir: String = "."): Unit = {
    import org.json4s._
    val f = new java.io.File(dir, BandsFileName)
    val existing: Map[String, Map[String, Double]] =
      if (!f.isFile) Map.empty
      else try {
        jackson.JsonMethods.parse(new String(
          java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.UTF_8)) match {
          case JObject(sections) =>
            sections.map { case (s, v) => s -> numericFields(v) }.toMap
          case _ => Map.empty
        }
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    val old = existing.getOrElse(key, Map.empty)
    val merged = old ++ run.collect {
      case (k, v) if v >= 0 => k -> math.min(v, old.getOrElse(k, v))
    }
    val all = existing + (key -> merged)
    def num(v: Double): JValue =
      JDecimal(BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP))
    val body = jackson.JsonMethods.compact(jackson.JsonMethods.render(
      JObject(all.toSeq.sortBy(_._1).map { case (s, m) =>
        s -> JObject(m.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> num(v) }.toList)
      }.toList)))
    val tmp = new java.io.File(dir, BandsFileName + ".tmp")
    java.nio.file.Files.write(tmp.toPath,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Per-key reference band. Preference order: the local
    * [[BandsFileName]] (per-key quiet minima this box has ever measured
    * at this sf — immune to the driver-archive truncation, see
    * [[mergeBands]]), then the newest `BENCH_r*.json` in the working
    * directory whose `"sf"` matches this run (the driver archives one per
    * round, so the band refreshes itself). The driver's archive is a
    * WRAPPER object (`{n, rc, cpus, sf: <number>, tail: "<session log>",
    * parsed: …}`) with the bench's own JSON line buried inside the tail
    * log text — unwrap the LAST such line; a file that is already the
    * raw bench output parses directly. Returns (file name, key →
    * band); empty when no comparable file exists — every
    * key then passes unflagged, the right cold-start behavior. */
  private[graft] def referenceBand(sfDir: String,
      dir: String = ".", cpus: String = ""): (String, Map[String, Double]) = {
    import org.json4s._
    val bands = readBands(bandKey(sfDir, cpus), dir)
    if (bands.nonEmpty) return (BandsFileName, bands)
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("BENCH_r\\d+\\.json"))
      // toLong (not toInt), inside no try: the regex admits digit runs
      // past Int range, and a throw here would kill the whole bench run
      // instead of disabling the flag
      .sortBy(f => scala.util.Try(
        f.getName.stripPrefix("BENCH_r").stripSuffix(".json").toLong)
        .getOrElse(Long.MinValue))
    def unwrap(root: JValue): JValue = root \ "queries" match {
      case JObject(_) => root // raw bench output
      case _ =>
        val tail = root \ "tail" match { case JString(t) => t; case _ => "" }
        var last: Option[String] = None
        tail.linesIterator.foreach { l =>
          val i = l.indexOf("{\"metric\"")
          if (i >= 0) last = Some(l.substring(i))
        }
        last.map(jackson.JsonMethods.parse(_)).getOrElse(JNothing)
    }
    // newest file whose sf MATCHES — not newest-then-match: an archive
    // from a different sf (a scale run, a different testdata path) must
    // not shadow an older matching band, or the flag goes silently
    // inert for the round (the exact failure mode the wrapper-shape fix
    // of review pass 1 closed)
    files.reverseIterator.map { f =>
      try {
        val root = jackson.JsonMethods.parse(new String(
          java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.UTF_8))
        val j = unwrap(root)
        // a cpus-stamped file (the driver wrapper and post-r18 bench
        // lines both carry one) must match this run's parallelism — an
        // 8-cpu run compared against a 32-cpu band would flag nearly
        // every key; a file with NO cpus field (pre-r18 raw lines) is
        // accepted, since every archived run used the default 32
        val cpusOk = (root \ "cpus") match {
          case JInt(c) => cpus.isEmpty || c.toString == cpus
          case JString(c) => cpus.isEmpty || c == cpus
          case _ => true
        }
        j \ "sf" match {
          case JString(sf) if sf == sfDir && cpusOk =>
            val qs = numericFields(j \ "queries")
            if (qs.nonEmpty) Some(f.getName -> qs) else None
          case _ => None
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }.collectFirst { case Some(band) => band }
      .getOrElse(("", Map.empty[String, Double]))
  }

  /** The contended-run rule: a key flags when the run's MIN exceeds
    * `factor`× the reference median PLUS an absolute floor (the floor
    * rides on top of the multiplier so 100-150 ms keys can't flap on
    * scheduler jitter, exactly as STATUS documents). Workload keys use
    * 2×/0.1 s — a genuine 2× code regression also fires it, correctly:
    * either way the number needs a quiet re-measure. The calibration
    * keys ([[CalibKeys]]: calib_cpu and calib_alloc) use 1.25×/0.05 s:
    * they are fixture-fixed and purely compute-bound, so even the
    * modest uniform inflation of a busy neighbor (r16: 1.3×) is signal
    * there, not noise. */
  private[graft] def contendedKey(minSec: Double, ref: Double,
      factor: Double = 2.0, floor: Double = 0.1): Boolean =
    ref > 0 && minSec > factor * ref + floor

  /** The calibration keys and their tighter contention rule —
    * calib_cpu (register-bound) and calib_alloc (allocation/memory-
    * bound); see the key comments for how the pair discriminates
    * contention modes. */
  private[graft] val CalibKeys = Set("calib_cpu", "calib_alloc")
  private[graft] def contendedCalib(minSec: Double, ref: Double): Boolean =
    contendedKey(minSec, ref, factor = 1.25, floor = 0.05)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // NO objectHashAggregate fallback override (r11): Spark's default
      // 128-key fallback IS the wide-group memory backstop — the map stays
      // bounded and overflow degrades to sort-based aggregation, whose
      // per-row buffer serialization became cheap when GeoAggs switched
      // its buffer encoders from kryo to catalyst array-of-binary
      // (PERF.md r11 sweep: the old 8192 override thrashed at 50×).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // AQE partition coalescing costs partitions by BYTES; geometry and
      // signature rows here are ~30-100 bytes but carry micro- to
      // milliseconds of kernel CPU each, so the default 1 MB floor
      // collapsed every post-shuffle compute stage to a handful of tasks
      // (ProbeUnionGroups2: the 1024-group union final stage ran 3 tasks
      // over 8.3 CPU-seconds — 4.6 s wall → 1.4 s with the floor at 16k).
      // Parallelism-first coalescing stays ON (tiny tails still merge);
      // at cluster scale partitions dwarf the floor either way, so this
      // only matters exactly where it should: kernel-bound small-byte
      // stages. Overridable for other boxes via env.
      .config(graft.api.GraftSession.CoalesceFloorKey,
        sys.env.getOrElse("SPARK_GRAFT_MIN_PARTITION_SIZE",
          graft.api.GraftSession.CoalesceFloorDefault))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JIT/session warm-up on a trivial job so the first measured query
    // doesn't absorb executor start + codegen compilation of the harness
    spark.range(1000).select(sum(col("id"))).collect()
    val results = benchQueries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // *_udf and *_unfused entries pin the ScalaUDF tier: without this the
      // fusion rule would rewrite them too and the pair would measure nothing
      val pinUnfused = name.endsWith("_udf") || name.endsWith("_unfused")
      if (pinUnfused) spark.conf.set("spark.graft.fuse", "false")
      val (sec, spread, noisy, minS) =
        try timeWarm(fn(spark, sfDir))
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name: ${e.getMessage}"); (-1.0, 0.0, true, -1.0)
        } finally if (pinUnfused) spark.conf.set("spark.graft.fuse", "true")
      (name, sec, spread, noisy, minS)
    }
    def r3(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    // The stdout CONTRACT LINE stays compact (r19, VERDICT r18 #1): the
    // driver archives only a bounded tail of the output and truncates
    // longer lines mid-JSON — full-precision medians plus the inline
    // spread/min/noisy/contended blocks pushed the line past that bound
    // for two rounds (BENCH_r17/r18 `parsed: null`, PERF per_query
    // empty). Medians print at 3 dp via r3 (a bench that samples whole
    // queries has no sub-millisecond signal anyway) and every
    // diagnostic block moves to ONE stderr line ([bench-diag]), which
    // local probes read and the driver never needs.
    val qs = results.map { case (n, v, _, _, _) => "\"" + n + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val spreads = results.map { case (n, _, sp, _, _) => "\"" + n + "\":" + r3(sp) }
      .mkString("{", ",", "}")
    val mins = results.map { case (n, _, _, _, mn) => "\"" + n + "\":" + r3(mn) }
      .mkString("{", ",", "}")
    val noisyKeys = results.collect { case (n, _, _, true, _) => "\"" + n + "\"" }
      .mkString("[", ",", "]")
    // contended-run flag (r15): min-vs-prior-median catches the uniformly
    // hot window the spread rule is blind to (r14's 12.6x driver artifact)
    val (refFile, band) = referenceBand(sfDir, cpus = cpus)
    val contended = results.collect {
      case (n, v, _, _, mn) if v >= 0 && band.get(n).exists(ref =>
          if (CalibKeys(n)) contendedCalib(mn, ref)
          else contendedKey(mn, ref)) =>
        "\"" + n + "\""
    }.mkString("[", ",", "]")
    val total = results.map(_._2).sum
    System.err.println(s"""[bench-diag] {"spread":$spreads,"min":$mins,"noisy":$noisyKeys,"contended":$contended,"ref":"$refFile"}""")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"cpus":"$cpus","sf":"$sfDir"}""")
    // stamp this run into the local bands file AFTER the reference read
    // (a run must never band itself); min-merge means a contended window
    // can only fail to lower a band, never raise one
    try mergeBands(bandKey(sfDir, cpus),
      results.map { case (n, v, _, _, _) => n -> v }.toMap)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] bands write failed: ${e.getMessage}") }
    spark.stop()
  }
}
