package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, ExprId,
  Expression, InterpretedOrdering}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType,
  IntegerType, LongType, MapType, StructField, StructType}
import scala.jdk.CollectionConverters._
import graft.StoreStamp
import graft.join.SpatialJoin.{dropBucketedTable, quoteTable}

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design: every method is shuffle-bounded by construction —
  * candidate generation always goes through a bucket key (hash group, LSH
  * band, signature chunk) so no all-pairs comparison ever happens; the
  * verify step runs only inside buckets. Exact dedup is a single
  * hash-aggregate.
  */
object Dedup {

  // ------------------------------------------------------------- exact

  /** Keep-first exact dedup: one row per distinct key, the row with the
    * smallest `orderCol`. A hash aggregate with min_by keeps the plan a
    * single shuffle on the key AND partial-aggregates map-side — a
    * pathological dup group (10⁹ copies of one boilerplate doc) collapses
    * to one row per input partition before the shuffle, where a
    * row_number window would funnel every copy to a single task. */
  def exact(df: DataFrame, keyCols: Seq[String], orderCol: String): DataFrame = {
    val all = struct(df.columns.map(col): _*)
    df.groupBy(keyCols.map(col): _*)
      .agg(min_by(all, col(orderCol)).as("__row"))
      .select(df.columns.map(c => col("__row").getField(c).as(c)): _*)
  }

  /** Exact-dup groups: key → number of copies and kept id (for auditing). */
  def exactGroups(df: DataFrame, key: Column, idCol: Column): DataFrame =
    df.groupBy(key.as("key"))
      .agg(count(lit(1)).as("copies"), min(idCol).as("kept_id"))

  // ------------------------------------------------------ hot-bucket cap

  /** Drop LSH buckets larger than `maxBucketSize` before a bucket
    * self-join: a degenerate bucket of B identical-boilerplate rows is a
    * B² join bomb. Rows of a dropped bucket still pair through their other
    * bands/tables; truly pathological exact-dup groups should be
    * exact-deduped first. Costs one extra shuffle on the same bucket key
    * the join shuffles on, with map-side combine on the count.
    *
    * `rowBound` is an upper bound on the row count of any bucket group,
    * when the caller knows one: the self-join doors pass the row count
    * of the signed snapshot they already take (each signed row adds at
    * most one row per band, chunk or table, so no group can hold more).
    * A bound ≤ `maxBucketSize` proves the cap cannot drop anything, and
    * the census is skipped — the output is the same frame either way. */
  private[graft] def capBuckets(df: DataFrame, bucketCols: Seq[String],
      maxBucketSize: Int, rowBound: Long = Long.MaxValue): DataFrame =
    if (maxBucketSize <= 0 || rowBound <= maxBucketSize) df
    else {
      // Aggregate sizes + broadcast-join-back, DELIBERATELY not a
      // window count (r18 measured-then-rejected): a window count would
      // ride the one bucket-cols exchange the downstream self-join
      // needs and save the census's second evaluation of `df` (a full
      // extra sign pass for the banding doors — 2.05 -> 1.49 s on the
      // minhash door at sf0.1, PERF.md "Round 18 OPTIMIZATION: library
      // changes"), BUT it moves every row of an OVER-CAP group
      // (signature payload included) to one task's window buffer
      // before dropping it. The cap exists for
      // exactly the degenerate-boilerplate bucket (B copies of one
      // document, B² candidate pairs); under the census form those B
      // rows are counted map-side and NEVER shuffled, while the window
      // form would funnel B·|sig| bytes through a single straggler.
      // Bounded worst case wins over the common-case 2x sign CPU; the
      // boilerplate defense stays "exact-dedup before indexing".
      val sizes = df.groupBy(bucketCols.map(col): _*).agg(count(lit(1)).as("__bsz"))
      df.join(sizes.filter(col("__bsz") <= maxBucketSize), bucketCols).drop("__bsz")
    }

  /** [[capBuckets]] for STORE WRITES: same drop rule, but the sizes
    * aggregate is computed once (persisted — it is one small row per
    * distinct bucket) and the dropped-group count is surfaced as a
    * WARNING: a corpus index silently thinner than its corpus reads as
    * complete, and a pair whose only shared bucket was dropped is
    * missed for good. Costs the same two input passes capBuckets
    * already pays (sizes + join).
    *
    * Returns the written frame's BUCKET-ROW BOUND (see
    * [[BucketRowBoundProp]]): `rowBound`, an upper bound on any group's
    * row count known before the write (the writers' signed row count,
    * compaction's stamped bound), when it is ≤ `maxBucketSize` — the
    * census cannot fire and is skipped; otherwise the census runs and
    * returns its largest KEPT group, read by the same aggregate job as
    * the dropped count. With the cap off, `rowBound` passes through. */
  private def capBucketsWarn(df: DataFrame, bucketCols: Seq[String],
      maxBucketSize: Int, ctx: String, rowBound: Option[Long])(
      write: DataFrame => Unit): Option[Long] =
    if (maxBucketSize <= 0 || rowBound.exists(_ <= maxBucketSize)) {
      write(df)
      rowBound
    } else {
      val sizes = df.groupBy(bucketCols.map(col): _*)
        .agg(count(lit(1)).as("__bsz")).persist()
      try {
        val census = sizes.agg(
          count(when(col("__bsz") > maxBucketSize, lit(1))),
          coalesce(max(when(col("__bsz") <= maxBucketSize, col("__bsz"))),
            lit(0L))).head()
        val dropped = census.getLong(0)
        if (dropped > 0)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"$ctx: $dropped bucket group(s) exceed maxBucketSize " +
              s"$maxBucketSize and were DROPPED from the index — their " +
              "rows still probe through their other buckets, but a pair " +
              "whose only shared bucket was dropped will be missed; " +
              "collapse boilerplate with exact dedup before indexing")
        write(df.join(sizes.filter(col("__bsz") <= maxBucketSize),
          bucketCols).drop("__bsz"))
        Some(census.getLong(1))
      } finally sizes.unpersist()
    }

  /** Cap by the JOINED population: drop bucket groups whose combined
    * batch+store row count exceeds `maxBucketSize`. This is the
    * SELF-JOIN door's union semantics ([[capBuckets]] over the union of
    * the two frames sees the same total), so a store door stays
    * pair-for-pair equivalent to the self-join at the cap boundary —
    * per-side caps would admit a bucket with cap rows on EACH side
    * (cap² candidate pairs, the join bomb the cap exists to stop). The
    * store side's count aggregation rides its bucketing (no exchange);
    * write-time-dropped store buckets are simply absent, which matches
    * the union door (store-side count alone already exceeded the cap).
    *
    * Dropped groups are WARNED (one count over the snapped joint-census
    * frame — one small row per jointly-present bucket): each written
    * batch is capped at write time, but a bucket can grow past the cap
    * ACROSS appends, and silently skipping it at join time would read
    * as "no duplicates there"; the fix is the tier's compaction door
    * ([[compactMinhashStore]] and siblings), which the warning names.
    *
    * SKIP RULE: `rowBound` is the store's stamped bucket-row bound
    * ([[BucketRowBoundProp]]) plus the batch's signed row count. No store
    * group exceeds its stamp and no batch group exceeds the batch's row
    * count, so a sum ≤ `maxBucketSize` proves no joint group can be
    * dropped: the inputs return unchanged, with no census job, no count
    * and no semi-joins. A store without the stamp (`None`) takes the
    * census path. */
  private def capBucketsJoint(batch: DataFrame, store: DataFrame,
      scheme: BucketScheme, maxBucketSize: Int,
      ctx: String, rowBound: Option[Long]): (DataFrame, DataFrame) =
    if (maxBucketSize <= 0 || rowBound.exists(_ <= maxBucketSize)) (batch, store)
    else {
      val bucketCols = scheme.bucketCols
      val bs = batch.groupBy(bucketCols.map(col): _*).agg(count(lit(1)).as("__bn"))
      val cs = store.groupBy(bucketCols.map(col): _*).agg(count(lit(1)).as("__cn"))
      // inner join: a bucket absent from either side produces no pairs
      // anyway, so only jointly-present buckets need the budget check.
      // Materialize the joint census ONCE (small — one row per
      // jointly-present bucket): left lazy, each of its consumers (the
      // dropped-count warn and both semi joins) re-runs the batch census
      // subplan — the 10× scale bench read the store door at 2.3× the
      // self-join door before this eager cut (PERF.md r16)
      val joint = snapFrame(bs.join(cs, bucketCols)
        .select(bucketCols.map(col) :+ (col("__bn") + col("__cn")).as("__tot"): _*))
      val dropped = joint.filter(col("__tot") > maxBucketSize).count()
      if (dropped > 0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"$ctx: $dropped bucket group(s) exceed maxBucketSize " +
            s"$maxBucketSize jointly across batch+store and were SKIPPED " +
            "for this join — pairs meeting only there are missed. A " +
            "store bucket that grew past the cap across appends wants " +
            s"${scheme.compactDoor}, or an exact-dedup pass over the corpus")
      val ok = joint.filter(col("__tot") <= maxBucketSize)
        .select(bucketCols.map(col): _*)
      (batch.join(ok, bucketCols, "left_semi"),
        store.join(ok, bucketCols, "left_semi"))
    }

  /** [[capBuckets]] that COUNTS dropped groups and WARNS — the
    * returning-frame sibling of [[capBucketsWarn]] for in-frame doors
    * whose narrow bucket domain makes silent saturation REACHABLE (the
    * widened-radius SimHash chunkings: 256 or 16 bucket values per
    * chunk, so any frame past ~cap × domain rows drops essentially
    * every group and returns zero pairs). Eager: the bucket census runs
    * at call time (one aggregate pass, snapped — the join reuses the
    * tiny censused list, not the pass), unless `rowBound` (as in
    * [[capBuckets]]) is ≤ `maxBucketSize` and proves nothing can drop. */
  private def capBucketsWarned(df: DataFrame, bucketCols: Seq[String],
      maxBucketSize: Int, ctx: String, rowBound: Long): DataFrame =
    if (maxBucketSize <= 0 || rowBound <= maxBucketSize) df
    else {
      val sizes = snapFrame(
        df.groupBy(bucketCols.map(col): _*).agg(count(lit(1)).as("__bsz")))
      val dropped = sizes.filter(col("__bsz") > maxBucketSize).count()
      if (dropped > 0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"$ctx: $dropped bucket group(s) exceed maxBucketSize " +
            s"$maxBucketSize and were DROPPED — pairs meeting only in a " +
            "dropped group are missed (recall is NOT exact past the " +
            "cap). A wide Hamming radius shrinks the bucket domain " +
            "(8-bit chunks: 256 values; 4-bit: 16), so large frames " +
            "saturate every group: raise maxBucketSize, shrink the " +
            "radius, or exact-dedup boilerplate first")
      df.join(sizes.filter(col("__bsz") <= maxBucketSize), bucketCols)
        .drop("__bsz")
    }

  /** Table property on each near-dup store's slim bucket table: an
    * upper bound on the row count of any of its bucket groups —
    * (band, bucket), (chunk, bucket) or (t, sig). The store doors
    * ([[capBucketsJoint]]) and compaction ([[recapBucketTable]]) skip
    * their bucket-cap census when this bound (plus the batch's rows)
    * is ≤ the cap, and only then may the store doors take their driver
    * tier ([[storeNovelDriver]]). A statistic under the
    * [[graft.StoreStamp]] contract, stamped with the slim table's files:
    * overwrite stamps the batch's bound, append adds the batch's bound to
    * the current stamped one (a store without one stays without it until
    * its next compaction), ignore/error modes that write nothing leave it
    * alone. A batch's bound is its signed row count when that is ≤ the
    * cap (each signed row adds at most one row per group), otherwise the
    * largest group the write-time census kept. */
  val BucketRowBoundProp = "graft.dedup.maxBucketRows"

  /** The current [[BucketRowBoundProp]] of `store`; None when absent,
    * not current or unreadable (the census path). */
  private def rowBoundOf(store: StoreStamp.Store): Option[Long] =
    store.stat(BucketRowBoundProp).flatMap(_.toLongOption).filter(_ >= 0)

  private def readRowBound(spark: SparkSession, table: String): Option[Long] =
    StoreStamp.store(spark, table).flatMap(rowBoundOf)

  /** A store write as [[checkStoreWrite]] resolved it: the normalized
    * mode, whether the table existed, and — for an append onto an
    * existing store — its current bucket-row bound before the write,
    * with the files it describes. */
  private final case class StoreWrite(mode: String, existedBefore: Boolean,
      prior: Option[(Long, StoreStamp.Files)]) {
    /** overwrite and append write; ignore/error only create a new table */
    def writes: Boolean = mode == "overwrite" || mode == "append" || !existedBefore
    /** the write replaces or extends a table that is already there */
    def changesExisting: Boolean =
      existedBefore && (mode == "overwrite" || mode == "append")
  }

  /** The store writers' shared PROLOGUE ([[stampStore]]'s opening
    * bracket): normalize the mode, resolve prior existence, and refuse
    * a non-overwrite write whose parameters don't match the stamp —
    * mixed parameters hash different buckets (or grams of a different
    * n) and silently miss pairs. One copy for all four tiers (review
    * r17 — the fourth paste had already drifted its message). An
    * append also reads the prior [[BucketRowBoundProp]] here. */
  private def checkStoreWrite(spark: SparkSession,
      table: String, mode: String, prop: String, payload: String,
      writer: String): StoreWrite = {
    val modeNorm = mode.toLowerCase(java.util.Locale.ROOT)
    val store = StoreStamp.store(spark, table)
    val prior = store.filter(_ => modeNorm != "overwrite").flatMap { st =>
      val prev = st.prop(prop)
      require(prev.contains(payload),
        s"$writer: mode=$mode with params $payload onto a store " +
          s"stamped ${prev.getOrElse("(no stamp)")} — mixed parameters " +
          "(or an old store layout) silently miss pairs; reuse the " +
          "stamped parameters, or rewrite with mode=overwrite")
      rowBoundOf(st).map(_ -> st.files)
    }
    StoreWrite(modeNorm, store.isDefined, prior)
  }

  /** UNSET the params stamp before a write onto an existing store: the
    * saves are not atomic, and a crash between them must leave a store
    * that ERRORS loudly at the doors (no stamp → "rewrite") rather than
    * one that silently joins old band rows to new signatures.
    * [[stampStore]] re-sets it after every write lands. ONLY on modes
    * that write onto the table — ignore/error modes write nothing there,
    * and unsetting would permanently brick a valid index with a no-op
    * call (review r16). */
  private def unsetParamsStamp(spark: SparkSession,
      table: String, w: StoreWrite, prop: String): Unit =
    if (w.changesExisting)
      try spark.sql(s"ALTER TABLE ${quoteTable(table)} " +
        s"UNSET TBLPROPERTIES IF EXISTS ('$prop')")
      catch { case _: org.apache.spark.sql.AnalysisException => () }

  /** Stamp a store's parameter property when the write mode actually
    * wrote — the shared finish of the index writers — together with its
    * [[BucketRowBoundProp]]: `batchBound` for a fresh or overwritten
    * table, the prior bound + `batchBound` on an append, each carried
    * onto the files the write leaves ([[StoreStamp.carry]]; absent
    * when the carry or either bound is). */
  private def stampStore(spark: SparkSession,
      table: String, w: StoreWrite, prop: String, payload: String,
      batchBound: Option[Long]): Unit =
    if (w.writes) {
      val appends = w.mode == "append" && w.existedBefore
      val bound = for {
        b <- batchBound
        (p, before) <- if (appends) w.prior else Some((0L, StoreStamp.Files.none))
        files <- StoreStamp.carry(spark, table, before)
      } yield files.stamp(BucketRowBoundProp -> (p + b))
      StoreStamp.set(spark, table, (prop -> payload) +: bound.toSeq.flatten)
    }

  // ----------------------------------------------------------- shingles

  /** Character k-shingles of the normalized text, distinct, codegen'd
    * (transform over a sequence — no UDF). */
  def shingles(text: Column, k: Int): Column = {
    val norm = TextAnalysis.normalized(text)
    array_distinct(
      when(length(norm) >= k,
        transform(sequence(lit(1), length(norm) - (k - 1)), i => norm.substr(i, lit(k))))
        .otherwise(array(norm)))
  }

  /** Character k-shingles hashed to Int64 (xxhash64), distinct, as one
    * codegen'd pass over the UTF-8 bytes ([[graft.plans.ShingleSet]]).
    * At 100 TB the string shingle array of a 100 KB document is ~0.5 MB
    * per row; the hashed form is 8 bytes per shingle and loses nothing
    * for signature/Jaccard purposes (collisions are ~2⁻⁶⁴). Values and
    * order equal `array_distinct` over the per-window
    * `xxhash64(substr(norm, i, k))` array (a string shorter than k
    * hashes whole); null text gives a null set, not the xxhash64 seed —
    * a seed-valued set would band every null-text row together as
    * mutual near-dups. The kernel reads `norm` once per row, so it may
    * be an expression as well as a projected column. */
  private[graft] def shingleHashesNorm(norm: Column, k: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.ShingleSet(ColumnBridge.expression(norm), k))
  }

  /** [[shingleHashesNorm]] of `TextAnalysis.normalized(text)`. */
  def shingleHashes(text: Column, k: Int): Column =
    shingleHashesNorm(TextAnalysis.normalized(text), k)

  /** Word n-grams of the normalized text. NOTE: single-expression
    * convenience — the lambda re-tokenizes per element (an inlined
    * tokenizer runs once per gram position); at scale use
    * [[nearDupNgram]], which materializes the token array first. */
  def wordNgrams(text: Column, n: Int): Column =
    wordNgramsOfTokens(TextAnalysis.tokens(TextAnalysis.normalized(text)), n)

  /** [[wordNgrams]] over an ALREADY-MATERIALIZED token array column —
    * callers with large inputs should project the tokens first so the
    * tokenizer runs once per document, not once per gram position. */
  def wordNgramsOfTokens(toks: Column, n: Int): Column =
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
        .otherwise(array(concat_ws(" ", toks))))

  /** Jaccard similarity of two token/shingle arrays (set semantics). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val uni = size(array_union(a, b))
    when(uni > 0, inter.cast("double") / uni.cast("double")).otherwise(lit(0.0))
  }

  // ------------------------------------------------------------ MinHash

  /** MinHash signature of a shingle set: sig(j) = min over shingles of
    * fmix64(hash(s) ^ seed_j). One pass over the shingles per row, through
    * the one MinHash fold ([[graft.plans.MinHashKernel.fold]]). */
  def minhashSignature(numHashes: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((sh: Seq[String]) =>
      if (sh == null) None
      else {
        val sig = Array.fill(numHashes)(Long.MaxValue)
        sh.foreach(s => graft.plans.MinHashKernel.fold(sig, s.hashCode.toLong))
        Some(sig.toSeq)
      })

  /** MinHash signature straight from the normalized text as one native
    * codegen'd pass ([[graft.plans.MinHashSig]]): no shingle array, no
    * distinct, no UDF boxing. Values identical to
    * `minhashSignatureHashed(numHashes)(shingleHashes(text, k))`. */
  def minhashSigNative(norm: Column, shingleK: Int, numHashes: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.MinHashSig(
      ColumnBridge.expression(norm), shingleK, numHashes))
  }

  /** MinHash signature over pre-hashed Int64 shingles (the scale path —
    * pairs with [[shingleHashes]] so no string arrays are materialized). */
  def minhashSignatureHashed(numHashes: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((sh: Seq[Long]) =>
      if (sh == null) None
      else {
        val sig = Array.fill(numHashes)(Long.MaxValue)
        sh.foreach(graft.plans.MinHashKernel.fold(sig, _))
        Some(sig.toSeq)
      })

  /** (id, sig) signatures of a frame — one normalize→shingle→sign pass;
    * with `sets`, (id, sig, sh): the same pass also builds each row's
    * exact-verify shingle set from the one normalized text.
    * Null-TEXT rows are filtered at the SOURCE column, where the
    * predicate pushes to the parquet scan: null text is the only way a
    * signature comes back null (normalize and MinHashSig both
    * null-propagate; "" signs the {""} singleton), so this is exactly
    * the null-signature guard the band explosion needs — and filtering on
    * the raw column instead of `sig IS NOT NULL` matters a lot: a
    * filter on the DERIVED signature pushes below the projection,
    * substituting the whole normalize+sign expression into the
    * predicate, and every consumer of the banded subplan re-evaluates
    * it per row (PERF.md "pipe_minhash regression: convicted and
    * fixed": the r16 sig-filter shape read
    * 1.83 s vs 1.15 s for this one — the whole pipe_minhash
    * "regression" was that filter). */
  private def minhashSigned(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingleK: Int, sets: Boolean = false): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        TextAnalysis.normalized(col(textCol)).as("__norm"))
      .select(col("id") +:
        minhashSigNative(col("__norm"), shingleK, numHashes).as("sig") +:
        (if (sets) Seq(shingleHashesNorm(col("__norm"), shingleK).as("sh")) else Nil): _*)

  /** The (band, bucket) LSH keys of a signature, one struct per band —
    * the ONE band hashing every minhash door and store rides: the
    * Spark tiers explode it ([[explodeKeys]]), the store doors' driver
    * tier evaluates it as an array on the driver. `sig` should be an
    * attribute: the lambda reads it once per band. INVARIANT: no null
    * signatures reach it — Spark's `hash(null)` is the seed constant, so
    * a null signature would land in one shared bucket per band and pair
    * with every other null-text row at a null estimate (phantom
    * candidates, review r16). The signers filter null TEXT at the
    * source column ([[minhashSigned]] / [[ngramSets]]), and the store
    * writer filters `sig IS NOT NULL` on its read-back path where sig is
    * a stored attribute. */
  private def bandKeys(sig: Column, numHashes: Int, bands: Int): Column = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val r = numHashes / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"), hash(slice(sig, b * r + 1, lit(r))).as("bucket")))
  }

  /** `df`'s `keep` columns, one row per element of the bucket-key array
    * `keys`, with the key struct's `keyCols` fields as columns — the one
    * explode behind the band, chunk and sign-LSH bucket rows. */
  private def explodeKeys(df: DataFrame, keep: Seq[String], keys: Column,
      keyCols: Seq[String]): DataFrame =
    df.select(keep.map(col) :+ explode(keys).as("__k"): _*)
      .select(keep.map(col) ++ keyCols.map(c => col("__k." + c).as(c)): _*)

  /** The fields of the key structs of the bucket-key array `keys` over
    * `df`, from the analyzed plan alone. */
  private def keyFields(df: DataFrame, keys: Column): StructType =
    df.select(keys).schema.head.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]

  /** Eager EPHEMERAL snapshot for a frame read by several consumers
    * within one call (the batch signature pass, the joint-cap bucket
    * list). Always executor-local, deliberately NOT the reliable
    * checkpoint dir: these frames are cheap to recompute and exist only
    * to stop a shared subplan re-running per consumer, while reliable
    * checkpoint FILES are never deleted unless
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is set — a
    * per-batch ingest loop would leak its full signed batch to the dir
    * on every call. Local blocks are GC-cleaned with the frame; an
    * executor loss fails the job loudly and a retry recomputes. */
  private def snapFrame(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = true)

  /** [[snapFrame]] together with the snapshot's row count — the bound
    * the cap sites skip their census on. The count is an `Observation`
    * on the snapshot's own job, so it costs no extra job. */
  private def snapCounted(df: DataFrame): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val snap = snapFrame(df.observe(obs, count(lit(1)).as("n")))
    (snap, graft.join.SpatialJoin.observedRows(obs, snap.count()))
  }

  /** Fraction of signature positions agreeing — the MinHash jaccard
    * estimate. ONE implementation for the self-join and store doors
    * (MinhashStoreSpec pins them bit-for-bit; a drifted copy would
    * break that silently). */
  private[graft] def jaccardEstExpr(sigA: Column, sigB: Column,
      numHashes: Int): Column =
    aggregate(zip_with(sigA, sigB, (x, y) => (x === y).cast("int")),
      lit(0), (acc, v) => acc + v).cast("double") / numHashes

  /** Self-join on `keys` emitting (id_a, id_b[, <payload>_a/_b]) pairs
    * with id_a < id_b, built from two ALIASES of the SAME plan with the
    * per-side projections applied AFTER the join (see [[runPass]]). */
  private def selfJoinPairs(df: DataFrame, keys: Seq[String],
      payload: Seq[String]): DataFrame = {
    val cond = keys.map(kc => col(s"__sj_a.$kc") === col(s"__sj_b.$kc"))
      .reduce(_ && _) && (col("__sj_a.id") < col("__sj_b.id"))
    val proj = col("__sj_a.id").as("id_a") +: col("__sj_b.id").as("id_b") +:
      payload.flatMap(c => Seq(col(s"__sj_a.$c").as(c + "_a"),
        col(s"__sj_b.$c").as(c + "_b")))
    df.alias("__sj_a").join(df.alias("__sj_b"), cond).select(proj: _*)
  }

  /** A self-join near-dup pass, as data — the one description of each
    * tier's in-frame door and of a store novel door's within-batch pass,
    * which both tiers run: the Spark tier as [[runPass]], the store
    * doors' driver tier as folded projections ([[driverSurvivors]]).
    *  - `sign` maps the input to its signed (id, payload…) rows, dropping
    *    null input at the source column (the embedding pass keeps null
    *    vectors, whose null signatures never join); `keys` is the
    *    bucket-key array (structs) over those columns, a null key field
    *    never matching.
    *  - `carried` payloads ride the bucket join (a signature, a vector);
    *    `fetched` ones (a shingle or gram set, large next to its keys)
    *    join back by id once per deduped pair.
    *  - `scores` are the output columns over the pair's `<payload>_a` /
    *    `<payload>_b`, and `keep` the verify over them.
    *  - `capWarning`, when set, names the pass in the warning of a
    *    counted bucket cap ([[capBucketsWarned]]): a pass whose narrow
    *    bucket domain makes silent saturation reachable. */
  private[graft] final case class PairPass(
      sign: (DataFrame, String, String) => DataFrame,
      keys: Column, carried: Seq[String], fetched: Seq[String],
      scores: Seq[Column], keep: Column = lit(true),
      capWarning: Option[String] = None) {
    def payloads: Seq[String] = carried ++ fetched
    /** the pass's output over (id_a, id_b, <payload>_a, <payload>_b) pairs */
    def verified(pairs: DataFrame): DataFrame =
      pairs.select(col("id_a") +: col("id_b") +: scores: _*).filter(keep)
  }

  /** The Spark tier of a [[PairPass]] over `df`: (id_a, id_b, scores…)
    * with id_a < id_b, each pair once, kept by the pass's verify.
    *
    * The signed rows are SNAPSHOTTED once ([[snapCounted]]) and every
    * consumer reads the snapshot: the cap census, both join sides and
    * the fetched payloads' two joins. With the sign expressions inlined,
    * each consumer re-ran the whole sign pass — the door's dominant cost
    * (normalize + shingle + sign, tokenize + gram hashes, the
    * hyperplane dots) — so the census alone doubled the sign CPU and
    * the corpus scan per call (r19). The snapshot holds the signed
    * payloads, not the exploded rows; the census and the join side
    * re-derive the bucket keys from it with cheap slice hashes or
    * shifts (the embedding pass snapshots its key array, whose planes
    * are the costly part). Its row count bounds every bucket group —
    * each signed row adds at most one row per band, chunk or table — so
    * at most `maxBucketSize` rows the cap census is skipped.
    *
    * The self-join ([[selfJoinPairs]]) reads two ALIASES of the SAME
    * capped plan, with the per-side renames applied AFTER the join
    * (r18): a rename below each side's exchange left the two exchange
    * subtrees canonically different, ReuseExchange could not dedup
    * them, and the upstream pass ran once PER SIDE. Aliased sides share
    * one canonical subtree, so the shuffle is computed once and read
    * twice (PERF.md "Round 18 OPTIMIZATION: library changes":
    * ReusedExchange in the final plan). Id pairs are deduped BEFORE
    * scoring, so a pair colliding in many buckets is scored once. The
    * cap is [[capBuckets]], or the eager counted [[capBucketsWarned]]
    * when the pass names a `capWarning`. */
  private def runPass(pass: PairPass, df: DataFrame, idCol: String,
      srcCol: String, maxBucketSize: Int): DataFrame = {
    val (signed, rows) = snapCounted(pass.sign(df, idCol, srcCol))
    val keyCols = keyFields(signed, pass.keys).fieldNames.toSeq
    val exploded = explodeKeys(signed, "id" +: pass.carried, pass.keys, keyCols)
    val capped = pass.capWarning.fold(
      capBuckets(exploded, keyCols, maxBucketSize, rows))(
      capBucketsWarned(exploded, keyCols, maxBucketSize, _, rows))
    val pairs = selfJoinPairs(capped, keyCols, pass.carried)
      .dropDuplicates("id_a", "id_b")
    def fetch(sfx: String): DataFrame = signed.select(col("id").as("id" + sfx) +:
      pass.fetched.map(c => col(c).as(c + sfx)): _*)
    pass.verified(if (pass.fetched.isEmpty) pairs
      else pairs.join(fetch("_a"), "id_a").join(fetch("_b"), "id_b"))
  }

  /** Candidate near-dup pairs via MinHash LSH banding: rows whose signature
    * agrees on all rows of at least one band land in the same bucket.
    * Returns (id_a, id_b, jaccard_est) with id_a < id_b.
    *
    * numHashes = bands * rowsPerBand; the default 64/8 (8 rows per band)
    * puts the collision-curve threshold at jaccard ≈ (1/b)^(1/r) ≈ 0.77 —
    * the near-dup dedup operating point. Use more, narrower bands (e.g.
    * bands=16) to catch lower-similarity pairs at higher candidate cost.
    * The signing pass runs eagerly, at call time ([[runPass]]).
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 8, shingleK: Int = 5,
      maxBucketSize: Int = 100000): DataFrame =
    runPass(minhashPass(numHashes, bands, shingleK, None), df, idCol,
      textCol, maxBucketSize)

  /** Pick the coarsest banding whose collision threshold (1/b)^(r⁻¹) sits
    * safely below the requested jaccard threshold — fewer bands = fewer
    * candidate pairs, and the exact verify step removes false positives. */
  private[graft] def autoBands(numHashes: Int, threshold: Double): Int = {
    val options = Seq(4, 8, 16, 32).filter(numHashes % _ == 0)
    options.find { b =>
      val r = numHashes / b
      math.pow(1.0 / b, 1.0 / r) <= threshold * 0.8
    }.getOrElse(options.last)
  }

  /** Full MinHash near-dup pipeline: LSH candidates, then exact shingle
    * Jaccard verify ≥ threshold. Returns (id_a, id_b, jaccard_est,
    * jaccard). */
  def nearDupMinhash(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 64, bands: Int = 0,
      shingleK: Int = 5): DataFrame =
    runPass(minhashPass(numHashes,
      if (bands > 0) bands else autoBands(numHashes, threshold), shingleK,
      Some(threshold)), df, idCol, textCol, maxBucketSize = 100000)

  /** The minhash [[PairPass]]: band buckets of the signature, which rides
    * the join for the `jaccard_est` score; at a `threshold`, also the
    * exact shingle `jaccard` ≥ it, over shingle sets signed in the same
    * pass and fetched per pair. Without one, no shingle set is built. */
  private def minhashPass(numHashes: Int, bands: Int, shingleK: Int,
      threshold: Option[Double]): PairPass =
    PairPass(minhashSigned(_, _, _, numHashes, shingleK, threshold.isDefined),
      bandKeys(col("sig"), numHashes, bands), Seq("sig"),
      threshold.map(_ => "sh").toSeq,
      jaccardEstExpr(col("sig_a"), col("sig_b"), numHashes).as("jaccard_est") +:
        threshold.map(_ => jaccard(col("sh_a"), col("sh_b")).as("jaccard")).toSeq,
      threshold.fold(lit(true))(col("jaccard") >= _))

  // ------------------------------------------- near-dup store pipeline

  /** One persistent near-dup store tier as data, built from a store's
    * parsed params stamp (or, for a write, from the caller's
    * parameters). Every store door of the four tiers — minhash, n-gram,
    * simhash, embedding — runs one path over it: [[writeStore]],
    * [[storeCandidates]], [[storeNovel]], [[recapBucketTable]],
    * [[storeBucketStats]], [[dropStore]]. The tiers differ in three
    * things only:
    *  - how a row is SIGNED into bucket keys: `sign` maps the input to
    *    (id, payload), dropping null input at the source column, and
    *    `keys` maps a payload to its array of bucket-key structs (fields
    *    `bucketCols`) — the bands ([[bandKeys]]), the chunks
    *    ([[simhashChunkKeys]]) or the sign-LSH tables
    *    ([[embeddingSigArray]]); [[slimRows]] explodes it;
    *  - the PAYLOAD the exact score reads: `sig`, `sim` or `vec`;
    *  - the SCORE, `scoreOf` named `score`: `jaccard_est`, `hamming` (a
    *    distance, `isDistance`) or `cosine`.
    *
    * Payload rule: a payload that is large next to its bucket key (a
    * signature, a vector) lives in a second table, `<table>` + `sibling`,
    * as (id, payload) rows bucketed by id, fetched once per DEDUPED pair
    * so the bucket join reads slim (id, keys…) rows only. A payload as
    * small as its key (the 8-byte `sim`) rides on the slim rows: one
    * table (`sibling = None`), carried through the bucket join.
    *
    * `recallWarning` is the novel door's warning for a threshold the
    * stamped scheme under-recalls; `withinBatch(threshold)` the
    * within-batch pass it dedups the batch with: the tier's in-frame
    * [[PairPass]] at the stamped signature (`sign` yields the scheme's
    * payload among its columns, so the driver tier signs once for both
    * passes) with the threshold's own banding, chunking or verify. */
  private[graft] final case class BucketScheme(tier: String, prop: String,
      version: String, params: Seq[Int], bucketCols: Seq[String],
      payload: String, sibling: Option[String], score: String,
      isDistance: Boolean,
      sign: (DataFrame, String, String) => DataFrame,
      keys: Column => Column,
      scoreOf: (Column, Column) => Column,
      recallWarning: Double => Option[String],
      withinBatch: Double => PairPass) {
    def stamp: String = (version +: params).mkString(":")
    def writer: String = s"write${tier.capitalize}Store"
    def compactDoor: String = s"compact${tier.capitalize}Store"
    def carried: Seq[String] = if (sibling.isEmpty) Seq(payload) else Nil
    /** the slim table's columns, in stored order */
    def slimCols: Seq[String] = ("id" +: carried) ++ bucketCols
    /** the slim (id, carried…, bucketCols…) rows of a signed frame */
    def slimRows(signed: DataFrame): DataFrame =
      explodeKeys(signed, "id" +: carried, keys(col(payload)), bucketCols)
    /** a pair scored at `threshold` or closer */
    def hit(threshold: Double): Column =
      if (isDistance) col(score) <= threshold else col(score) >= threshold
  }

  /** `make` over the integer params of `table`'s `prop` stamp
    * `version:p1:…:pN` — the one stamp parser of the store family. A
    * missing, mid-write, foreign or older-version stamp, or params
    * `make` is not defined at, error loudly, naming `tier`'s writer. */
  private def stampParams[A](spark: SparkSession, table: String, tier: String,
      prop: String, version: String)(make: PartialFunction[Seq[Int], A]): A = {
    val writer = s"write${tier.capitalize}Store"
    val stamp = StoreStamp.store(spark, table).flatMap(_.prop(prop))
    def refuse(why: String) = throw new IllegalArgumentException(
      s"$table is not a current $writer table ($why) — rewrite it with " +
        s"$writer(mode=overwrite)")
    stamp.map(_.split(':').toSeq) match {
      case Some(`version` +: ps) =>
        Some(ps.flatMap(_.toIntOption)).filter(_.size == ps.size)
          .flatMap(make.lift)
          .getOrElse(refuse(s"unreadable $prop stamp '${stamp.get}'"))
      case _ => refuse(s"no readable $version $prop stamp — missing, " +
        "mid-write, foreign, or an old layout")
    }
  }

  private def saveBucketed(df: DataFrame, table: String, mode: String,
      buckets: Int, cols: Seq[String]): Unit =
    df.repartition(buckets, cols.map(col): _*)
      .write.mode(mode)
      .bucketBy(buckets, cols.head, cols.tail: _*).sortBy(cols.head, cols.tail: _*)
      .format("parquet").saveAsTable(table)

  /** The first write of a two-table store: the per-id payload rows
    * (`(id, sig)` or `(id, vec)`) into `sibling`, bucketed by id. On
    * APPEND the slim rows must cover only the NEW batch, so the one
    * signing pass is snapshotted and feeds both writes (the snapshot is
    * returned); on overwrite the just-written sibling IS exactly the
    * corpus — slim rows derive from reading it back, no snapshot held
    * (None). Either way the written row count — the batch's bucket-row
    * bound — is observed on the job that runs anyway; ignore/error
    * modes may write nothing, so they leave the bound to the census. */
  private def writeSibling(rows: DataFrame, w: StoreWrite, sibling: String,
      buckets: Int): (Option[DataFrame], Option[Long]) = {
    def save(df: DataFrame): Unit =
      saveBucketed(df, sibling, w.mode, buckets, Seq("id"))
    w.mode match {
      case "append" =>
        val (snap, n) = snapCounted(rows)
        save(snap)
        (Some(snap), Some(n))
      case "overwrite" =>
        val obs = org.apache.spark.sql.Observation()
        save(rows.observe(obs, count(lit(1)).as("n")))
        (None, Some(graft.join.SpatialJoin.observedRows(obs,
          rows.sparkSession.table(sibling).count())))
      case _ =>
        save(rows)
        (None, None)
    }
  }

  /** The one store writer, as [[writeMinhashStore]] documents it: stamp
    * check, params stamp unset, the sibling first ([[writeSibling]]),
    * the slim rows capped per batch ([[capBucketsWarn]]), stamps set once
    * every table has landed. A one-table tier snapshots its signed batch for
    * the bound. */
  private def writeStore(s: BucketScheme, df: DataFrame, table: String,
      idCol: String, srcCol: String, buckets: Int, mode: String,
      maxBucketSize: Int): Unit = {
    val spark = df.sparkSession
    val w = checkStoreWrite(spark, table, mode, s.prop, s.stamp, s.writer)
    // the params stamp is unset for the non-atomic write window, re-set
    // only after EVERY table lands (see unsetParamsStamp)
    unsetParamsStamp(spark, table, w, s.prop)
    val signed = s.sign(df, idCol, srcCol)
    val (slim, rows) = s.sibling match {
      case Some(suffix) =>
        val (source, rows) = writeSibling(signed, w, table + suffix, buckets)
        // the read-back path filters null payloads as a stored-ATTRIBUTE
        // predicate (parquet-pushed, free): current signers never write
        // them, but a pre-r17 store's sigs table may carry null-text rows
        (s.slimRows(source.getOrElse(
          spark.table(table + suffix).filter(col(s.payload).isNotNull))), rows)
      case None =>
        val (snap, rows) = snapCounted(signed)
        (s.slimRows(snap), Some(rows))
    }
    val bound = capBucketsWarn(slim, s.bucketCols, maxBucketSize,
      s"${s.writer}($table)", rows) {
      saveBucketed(_, table, mode, buckets, s.bucketCols)
    }
    stampStore(spark, table, w, s.prop, s.stamp, bound)
  }

  private def dropStore(spark: SparkSession, table: String, sibling: String): Unit =
    Seq(table, table + sibling).foreach(dropBucketedTable(spark, _))

  /** The slim table of `table` and, for a two-table tier, its payload
    * sibling, with their layouts checked. */
  private def storeTables(s: BucketScheme, spark: SparkSession,
      table: String): (DataFrame, Option[DataFrame]) = {
    val store = spark.table(table)
    require(s.slimCols.forall(store.columns.contains),
      s"$table does not have ${s.writer}'s slim " +
        s"(${s.slimCols.mkString(", ")}) layout")
    val sibling = s.sibling.map { suffix =>
      val t = spark.table(table + suffix)
      require(Seq("id", s.payload).forall(t.columns.contains),
        s"$table$suffix does not have the (id, ${s.payload}) layout")
      t
    }
    (store, sibling)
  }

  /** The one store candidates pass, as [[minhashCandidatesAgainstStore]]
    * documents it, in two tiers: on the driver when the batch fits its
    * bounds ([[storeCandidatesDriver]]), on the executors otherwise
    * ([[storeCandidatesSpark]]). Both return the same
    * (batch_id, corpus_id, <score>) rows. */
  private def storeCandidates(s: BucketScheme, spark: SparkSession,
      batch: DataFrame, table: String, idCol: String, srcCol: String,
      maxBucketSize: Int): DataFrame =
    storeCandidatesDriver(s, spark, batch, table, idCol, srcCol, maxBucketSize)
      .getOrElse(storeCandidatesSpark(s, spark, batch, table, idCol, srcCol,
        maxBucketSize))

  /** The Spark tier of [[storeCandidates]]: the signed batch is
    * snapshotted, its slim rows joint-capped with the store's
    * ([[capBucketsJoint]]) and equi-joined to them on the bucket key;
    * pairs dedup, and only then are payloads fetched — a one-table tier
    * carries its payload through the bucket join instead. */
  private[graft] def storeCandidatesSpark(s: BucketScheme, spark: SparkSession,
      batch: DataFrame, table: String, idCol: String, srcCol: String,
      maxBucketSize: Int): DataFrame = {
    val (store, sibling) = storeTables(s, spark, table)
    val (signed, batchRows) = snapCounted(s.sign(batch, idCol, srcCol))
    // JOINT capping (batch + store counts per bucket): per-side caps
    // would admit cap×cap pair bombs AND diverge from the self-join
    // door's union semantics at the boundary
    val (b0, c0) = capBucketsJoint(s.slimRows(signed), store, s,
      maxBucketSize, s"${s.tier}CandidatesAgainstStore($table)",
      readRowBound(spark, table).map(_ + batchRows))
    val p = s.payload
    def side(df: DataFrame, id: String, sfx: String): DataFrame =
      df.select(s.bucketCols.map(col) ++
        (col("id").as(id) +: s.carried.map(c => col(c).as(c + sfx))): _*)
    val pairs = side(b0, "batch_id", "_b")
      .join(side(c0, "corpus_id", "_c"), s.bucketCols)
      .select((Seq("batch_id", "corpus_id") ++
        s.carried.flatMap(c => Seq(c + "_b", c + "_c"))).map(col): _*)
      .dropDuplicates("batch_id", "corpus_id")
    // dropDuplicates on id: insurance against a double-appended batch
    // duplicating sibling rows (each dup would re-emit every pair
    // touching the doc); the sibling is bucketed by id, so the aggregate
    // needs no exchange. The isNotNull filter (parquet-pushed attribute
    // predicate) must come FIRST: a pre-r17 store can carry a null-text
    // sig row next to a real one for the same id, and an arbitrary
    // per-id pick that keeps the null would null the estimate and
    // silently drop every pair touching the doc
    val fetched = sibling.fold(pairs) { sib =>
      pairs
        .join(sib.filter(col(p).isNotNull)
          .select(col("id").as("corpus_id"), col(p).as(p + "_c"))
          .dropDuplicates("corpus_id"), Seq("corpus_id"))
        .join(signed.select(col("id").as("batch_id"), col(p).as(p + "_b")),
          Seq("batch_id"))
    }
    fetched.select(col("batch_id"), col("corpus_id"),
      s.scoreOf(col(p + "_b"), col(p + "_c")).as(s.score))
  }

  /** The one store novel pass, the finish of the four
    * `*NovelAgainstStore` doors: the recall warning, batch rows with no
    * corpus hit, then, with `dedupWithinBatch`, the within-batch dedup
    * at the stamped parameters and the caller's `maxBucketSize` — on
    * the driver when the batch fits its bounds ([[storeNovelDriver]]),
    * on the executors otherwise ([[storeNovelSpark]]). Both return the
    * same rows, with the batch's schema. */
  private def storeNovel(s: BucketScheme, spark: SparkSession,
      batch: DataFrame, table: String, idCol: String, srcCol: String,
      threshold: Double, maxBucketSize: Int,
      dedupWithinBatch: Boolean): DataFrame = {
    s.recallWarning(threshold).foreach(m => org.slf4j.LoggerFactory
      .getLogger(getClass).warn(s"${s.tier}NovelAgainstStore($table): $m"))
    storeNovelDriver(s, spark, batch, table, idCol, srcCol, threshold,
      maxBucketSize, dedupWithinBatch).getOrElse(storeNovelSpark(s, spark,
      batch, table, idCol, srcCol, threshold, maxBucketSize, dedupWithinBatch))
  }

  /** The Spark tier of [[storeNovel]]. The within-batch pass reads its
    * input several times (its sign pass, its verify snapshot, the
    * survivors' joins), and every read of the lazy anti-join would re-run
    * the whole store-candidates plan, so the corpus-filtered batch is
    * snapshotted first: the store join runs once per call. Without the
    * within-batch pass the result stays lazy. */
  private[graft] def storeNovelSpark(s: BucketScheme, spark: SparkSession,
      batch: DataFrame, table: String, idCol: String, srcCol: String,
      threshold: Double, maxBucketSize: Int,
      dedupWithinBatch: Boolean): DataFrame = {
    val hitIds = storeCandidatesSpark(s, spark, batch, table, idCol, srcCol,
      maxBucketSize).filter(s.hit(threshold)).select(col("batch_id")).distinct()
    val vsCorpus = batch.join(hitIds, batch(idCol) === hitIds("batch_id"),
      "left_anti")
    if (!dedupWithinBatch) vsCorpus
    else {
      val snap = snapFrame(vsCorpus)
      keepMinIdSurvivors(snap, idCol,
        runPass(s.withinBatch(threshold), snap, idCol, srcCol, maxBucketSize))
    }
  }

  // ------------------------------------------ store doors: driver tier

  /** Bounds of the store doors' driver tier. A batch of at most 2^16
    * rows and 4 MB of estimated row bytes is collected once and probed
    * on the driver; the store rows its keys fetch are held under the
    * same two bounds, and its corpus and within-batch pairs under the
    * row bound, scored in local frames of at most the byte bound each
    * ([[localChunks]]), or the call takes the Spark tier. Each held row
    * costs its `Row` plus the rows of the projections evaluated over it
    * — a few times its estimated bytes — so the tier holds some tens of
    * MB of driver heap while it runs. The driver evaluates the signing,
    * key, score and verify expressions on one thread (Catalyst folds a
    * projection over a local relation interpretively), so its time grows
    * with the batch about twice as fast as the Spark tier's, which saves
    * a fixed ~1 s of jobs. Timed on the minhash novel door (ingest-shaped
    * documents, 4-core VM; PERF.md "Small near-dup batches on the
    * driver"), the tiers cross between 8.2 and 16.3 MB of batch when the
    * batch is a local relation and between 4.4 and 8.2 MB when it is not
    * (the Spark tier then signs on the executors): 4 MB keeps both shapes
    * below the crossing. */
  private val StoreDriverMaxRows = 1L << 16
  private val StoreDriverMaxBytes = 4L << 20

  /** The column holding a batch row's position in the driver tier's
    * local frames: positions follow the id order, and stand in for ids
    * as the signers' `idCol`. */
  private val RowCol = "__graft_row"

  /** A batch probed against a store on the driver ([[driverProbe]]):
    * `rows`, the batch's rows in id order; `signed`, its signed rows
    * (position, payload, store keys[, pass keys, pass payloads…]) with
    * their schema, the pass keys at `passKeysAt` (the store keys' column
    * when the two are the same value); `scored`, a local frame of
    * (__b, __c, <score>), one row per deduped candidate pair of batch
    * position `__b` and corpus id `corpusIds(__c)`. */
  private final case class DriverProbe(rows: IndexedSeq[Row],
      signed: Array[Row], signedSchema: StructType, passKeysAt: Int,
      idAt: Int, scored: DataFrame, corpusIds: IndexedSeq[Any],
      corpusIdField: StructField)

  /** The driver tier of [[storeCandidates]]: None — take the Spark tier
    * — when [[driverProbe]] declines the batch. The result is a local
    * frame with the Spark tier's schema. */
  private[graft] def storeCandidatesDriver(s: BucketScheme, spark: SparkSession,
      batch: DataFrame, table: String, idCol: String, srcCol: String,
      maxBucketSize: Int): Option[DataFrame] =
    driverProbe(s, spark, batch, table, idCol, srcCol, maxBucketSize, None).map { pr =>
      val out = pr.scored.collect().map(r => Row(
        pr.rows(r.getLong(0).toInt).get(pr.idAt), pr.corpusIds(r.getInt(1)), r.get(2)))
      spark.createDataFrame(out.toSeq.asJava, StructType(Seq(
        batch.schema(idCol).copy(name = "batch_id"),
        pr.corpusIdField.copy(name = "corpus_id"), pr.scored.schema(s.score))))
    }

  /** The driver tier of [[storeNovel]]: the batch rows [[driverProbe]]
    * finds no corpus hit for, then, with `dedupWithinBatch`, the
    * survivors of the within-batch pass run on the driver
    * ([[driverSurvivors]]) over the rows the store pass signed — a local
    * frame of the batch's rows with its schema. When that pass's
    * candidate pairs pass the row bound, its Spark tier ([[runPass]])
    * runs instead, over a local frame of the corpus-filtered rows (so
    * the store query is not repeated). None — take the Spark tier — when
    * [[driverProbe]] declines. */
  private[graft] def storeNovelDriver(s: BucketScheme, spark: SparkSession,
      batch: DataFrame, table: String, idCol: String, srcCol: String,
      threshold: Double, maxBucketSize: Int,
      dedupWithinBatch: Boolean): Option[DataFrame] = {
    val pass = Option.when(dedupWithinBatch)(s.withinBatch(threshold))
    driverProbe(s, spark, batch, table, idCol, srcCol, maxBucketSize, pass).map { pr =>
      val hit = pr.scored.filter(s.hit(threshold)).select(col("__b")).collect()
        .map(_.getLong(0).toInt).toSet
      val vsCorpus = pr.rows.indices.filterNot(hit)
      def rowsAt(ix: Seq[Int]) = spark.createDataFrame(ix.map(pr.rows).asJava, batch.schema)
      pass.fold(rowsAt(vsCorpus)) { pass =>
        driverSurvivors(pass, pr, vsCorpus).map(rowsAt).getOrElse {
          val local = rowsAt(vsCorpus)
          keepMinIdSurvivors(local, idCol, runPass(pass, local, idCol, srcCol, maxBucketSize))
        }
      }
    }
  }

  /** The store pass of the driver tier, shared by both store doors:
    *  1. the batch is collected once ([[localBatch]]);
    *  2. the scheme's `sign` and `keys` run as projections over it, which
    *     Catalyst folds on the driver — no job — and the key array is
    *     kept whole, flattened here. Given a within-batch `pass`, its
    *     `sign` runs instead — the scheme's payload is among its columns
    *     — with the pass's keys and payloads in the same projection, so
    *     the batch is signed once for both passes;
    *  3. the batch's distinct keys go to the store as one local-relation
    *     semi-join, and the matched rows, with their payloads, come back
    *     under one bounded collect ([[corpusHits]]);
    *  4. the deduped (batch row, corpus id) pairs are scored by the
    *     scheme's `scoreOf`, again a folded projection.
    * None — the Spark tier — in three stages, cheapest first:
    *  - before any job, from the catalog, the plans' schemas and size
    *    estimates: the store has no stamped bucket-row bound at or under
    *    a set cap; its id or key columns cannot be matched by value here;
    *    or the batch does not fit ([[localFits]]);
    *  - after the collect, before the store query: the rows pass the
    *    bounds or carry a null or repeated id ([[localBatch]]), or the
    *    bound plus the batch's rows exceeds `maxBucketSize`, so the Spark
    *    tier's joint cap could drop a group;
    *  - after the store query: the fetched rows or the pairs to score
    *    pass the row bound. */
  private def driverProbe(s: BucketScheme, spark: SparkSession,
      batch: DataFrame, table: String, idCol: String, srcCol: String,
      maxBucketSize: Int, pass: Option[PairPass]): Option[DriverProbe] = {
    val (store, sibling) = storeTables(s, spark, table)
    val corpusIdField = store.schema("id")
    val p = s.payload
    lazy val keyType = keyFields(s.sign(batch, idCol, srcCol), s.keys(col(p)))
    // the rows the batch may add to a bucket group, past which the cap
    // could fire; the cap off needs no bound
    val room = if (maxBucketSize <= 0) Some(Long.MaxValue)
      else readRowBound(spark, table).map(maxBucketSize - _).filter(_ >= 0)
    if (room.isEmpty || !idTypeByBytes(corpusIdField.dataType) ||
        !localFits(batch, idCol) ||
        !s.bucketCols.forall(c => store.schema(c).dataType == keyType(c).dataType)) None
    // signed rows are at most the batch's rows, one per row
    else localBatch(batch, idCol).filter(_._1.length <= room.get).flatMap {
        case (rows, frame) =>
      val signer = pass.fold(s.sign)(_.sign)(frame, RowCol, srcCol)
      // a pass whose keys are the store keys (the embedding pass signs
      // the same planes) projects them once, from the pass's column
      val shared = pass.filter(ps => sameValue(signer, s.keys(col(p)), ps.keys))
      val signed = signer.select(Seq(col("id"), col(p),
          shared.fold(s.keys(col(p)))(_.keys).as("__keys")) ++
        pass.toSeq.flatMap(ps => (if (shared.isEmpty) Seq(ps.keys.as("__pkeys")) else Nil) ++
          ps.payloads.map(col)): _*)
      val signedRows = signed.collect()
      val byKey = bucketMembers(signedRows, 2)
      corpusHits(s, store, sibling, byKey.keys.toSeq, keyType).flatMap {
        case (hitRows, hitSchema) =>
          // corpus ids keyed by value; each id's first payload, as the
          // Spark tier's per-id pick is arbitrary too
          val cKey = idKey(corpusIdField.dataType)
          val cIndex = scala.collection.mutable.HashMap.empty[InternalRow, Int]
          val corpusIds = scala.collection.mutable.ArrayBuffer.empty[Any]
          val corpusPayloads = scala.collection.mutable.ArrayBuffer.empty[Any]
          val pairs = scala.collection.mutable.LinkedHashSet.empty[(Int, Int)]
          val nKey = s.bucketCols.size
          hitRows.foreach { r =>
            val c = cIndex.getOrElseUpdate(cKey(r.get(0)), {
              corpusIds += r.get(0); corpusPayloads += r.get(nKey + 1)
              corpusIds.length - 1
            })
            byKey.get((1 to nKey).map(r.get)).foreach(_.foreach(b => pairs += ((b, c))))
          }
          val payloadOf = signedRows.iterator.map(r => r.getLong(0).toInt -> r.get(1)).toMap
          val pairRows = pairs.toSeq.map { case (b, c) =>
            Row(b.toLong, c, payloadOf(b), corpusPayloads(c)) }
          Option.when(pairRows.size <= StoreDriverMaxRows) {
            val (scored, scoredSchema) = localChunks(spark, pairRows, StructType(Seq(
                StructField("__b", LongType, nullable = false),
                StructField("__c", IntegerType, nullable = false),
                signed.schema(p).copy(name = p + "_b"),
                hitSchema(p).copy(name = p + "_c")))) {
              _.select(col("__b"), col("__c"),
                s.scoreOf(col(p + "_b"), col(p + "_c")).as(s.score))
            }
            DriverProbe(rows, signedRows, signed.schema, if (shared.isEmpty) 3 else 2,
              batch.schema.fieldIndex(idCol),
              spark.createDataFrame(scored.toSeq.asJava, scoredSchema),
              corpusIds.toIndexedSeq, corpusIdField)
          }
      }
    }
  }

  /** Whether `batch` may be collected for the driver tier, from its
    * schema and size estimate alone: a batch (not a stream) whose id
    * column exists, has a type whose equality is its bytes
    * ([[idTypeByBytes]]) and is not [[RowCol]], and whose optimized plan
    * estimates at most [[StoreDriverMaxBytes]]. */
  private def localFits(batch: DataFrame, idCol: String): Boolean = {
    val schema = batch.schema
    !batch.isStreaming && schema.fieldNames.contains(idCol) &&
      !schema.fieldNames.contains(RowCol) &&
      idTypeByBytes(schema(idCol).dataType) &&
      batch.queryExecution.optimizedPlan.stats.sizeInBytes <= StoreDriverMaxBytes
  }

  /** Whether columns `a` and `b` over `df` compute the same value: their
    * expressions, with the aliases of `df`'s top projection seen
    * through, are semantically equal. */
  private def sameValue(df: DataFrame, a: Column, b: Column): Boolean =
    df.select(a, b).queryExecution.analyzed match {
      case Project(Seq(x, y), child) =>
        val defs = child match {
          case Project(list, _) => list.collect { case al: Alias => al.exprId -> al.child }.toMap
          case _ => Map.empty[ExprId, Expression]
        }
        def open(e: Expression) = (e match { case Alias(c, _) => c; case o => o })
          .transformUp { case r: AttributeReference => defs.getOrElse(r.exprId, r) }
        open(x).semanticEquals(open(y))
      case _ => false
    }

  /** `batch`, which [[localFits]], collected for the driver tier: its
    * rows in id order (Spark's ordering of the id type, so a row's
    * position orders it as its id does) and a local frame of them with
    * the position as [[RowCol]]. A batch already local costs no job.
    * None — the Spark tier — when the collected rows pass the bounds,
    * or when an id is null or repeated, so positions cannot stand in for
    * ids. */
  private def localBatch(batch: DataFrame,
      idCol: String): Option[(IndexedSeq[Row], DataFrame)] = {
    val schema = batch.schema
    graft.join.SpatialJoin.collectBounded(batch, StoreDriverMaxRows,
        StoreDriverMaxBytes).flatMap { rows =>
      val i = schema.fieldIndex(idCol)
      if (rows.exists(_.isNullAt(i))) None
      else {
        val (order, distinct) = sortIds(schema(idCol).dataType, rows.map(_.get(i)))
        Option.when(distinct) {
          val sorted = order.map(rows).toIndexedSeq
          val withPos = sorted.indices.map(j => Row.fromSeq(sorted(j).toSeq :+ j.toLong))
          (sorted, batch.sparkSession.createDataFrame(withPos.asJava,
            schema.add(StructField(RowCol, LongType, nullable = false))))
        }
      }
    }
  }

  /** The store rows sharing a bucket key with the batch, with their
    * payloads, under one bounded collect: the batch's distinct `keys`
    * (structs of `keyType`) reach the store as one local-relation
    * semi-join, and a two-table tier joins its sibling's non-null
    * payloads on id. Rows are (id, bucketCols…, payload), returned with
    * their schema; None past the bounds. No keys, no query. */
  private def corpusHits(s: BucketScheme, store: DataFrame,
      sibling: Option[DataFrame], keys: Seq[Seq[Any]],
      keyType: StructType): Option[(Array[Row], StructType)] = {
    val keyFrame = store.sparkSession.createDataFrame(
      keys.map(Row.fromSeq).asJava, keyType)
    val hits = store.join(keyFrame, s.bucketCols, "left_semi")
      .select(("id" +: s.bucketCols).map(col) ++ s.carried.map(col): _*)
    val fetched = sibling.fold(hits)(sib => hits.join(
      sib.filter(col(s.payload).isNotNull).select(col("id"), col(s.payload)), "id"))
    if (keys.isEmpty) Some((Array.empty[Row], fetched.schema))
    // one final partition: the bounded collect then runs one job for it
    // instead of scanning the partitions in growing rounds
    else graft.join.SpatialJoin.collectBounded(fetched.repartition(1),
      StoreDriverMaxRows, StoreDriverMaxBytes).map((_, fetched.schema))
  }

  /** The survivors, in id order, of the within-batch pass `pass` over
    * the batch positions `ix`, on the driver, from the rows the store
    * pass signed ([[driverProbe]], which projected the pass's keys and
    * payloads with its own): rows sharing a pass bucket key pair up, as
    * [[runPass]]'s self-join pairs them; the pairs are checked with the
    * pass's `verified`, a folded projection; and the union-find
    * ([[minRoots]]) keeps the smallest id of each component, as
    * [[keepMinIdSurvivors]] does. None when the candidate pairs pass the
    * row bound. */
  private def driverSurvivors(pass: PairPass, pr: DriverProbe,
      ix: Seq[Int]): Option[Seq[Int]] = {
    val in = ix.toSet
    val passRows = pr.signed.filter(r => in(r.getLong(0).toInt))
    val at = passRows.iterator.map(r => r.getLong(0).toInt -> r).toMap
    val members = bucketMembers(passRows, pr.passKeysAt)
    val nPairs = members.valuesIterator.map(m => m.size.toLong * (m.size - 1) / 2).sum
    if (nPairs > StoreDriverMaxRows) None
    else {
      val pairs = scala.collection.mutable.LinkedHashSet.empty[(Int, Int)]
      members.valuesIterator.foreach { m =>
        for (x <- m.indices; y <- x + 1 until m.size)
          pairs += ((m(x) min m(y), m(x) max m(y)))
      }
      // the pass's payloads follow its keys in the signed rows
      val fields = pass.payloads.indices.map(i => pr.passKeysAt + 1 + i)
      def side(sfx: String) = fields.map(i =>
        pr.signedSchema(i).copy(name = pr.signedSchema(i).name + sfx))
      val (edges, _) = localChunks(pr.scored.sparkSession,
        pairs.toSeq.map { case (a, b) =>
          Row.fromSeq(Seq(a.toLong, b.toLong) ++ fields.map(at(a).get) ++ fields.map(at(b).get)) },
        StructType(StructField("id_a", LongType, nullable = false) +:
          StructField("id_b", LongType, nullable = false) +: (side("_a") ++ side("_b")))) {
        pass.verified(_).select("id_a", "id_b")
      }
      val root = minRoots(pr.rows.length,
        edges.iterator.map(r => (r.getLong(0).toInt, r.getLong(1).toInt)))
      Some(ix.filter(i => root(i) == i))
    }
  }

  /** Positions (the Long in column `id` of `rows`) per bucket key of the
    * key-struct array in column `keysAt`: the pairs a bucket self-join
    * emits, by key. A null array, struct or key field never matches, as
    * in the equi-join. */
  private def bucketMembers(rows: Array[Row], keysAt: Int)
      : scala.collection.mutable.LinkedHashMap[Seq[Any], scala.collection.mutable.ArrayBuffer[Int]] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[Seq[Any],
      scala.collection.mutable.ArrayBuffer[Int]]
    rows.foreach { r =>
      if (!r.isNullAt(keysAt))
        r.getSeq[Row](keysAt).iterator.filter(k => k != null && !k.anyNull).foreach { k =>
          out.getOrElseUpdate(k.toSeq, scala.collection.mutable.ArrayBuffer.empty[Int]) +=
            r.getLong(0).toInt
        }
    }
    out
  }

  /** `f` over `rows` of `schema`, evaluated on the driver over local
    * frames of at most [[StoreDriverMaxBytes]] estimated bytes each, and
    * collected with its schema. A pair frame repeats each payload once
    * per pair, so the driver tier bounds the pairs by count and holds
    * them as local relations chunk by chunk. */
  private def localChunks(spark: SparkSession, rows: Seq[Row], schema: StructType)(
      f: DataFrame => DataFrame): (Array[Row], StructType) = {
    val chunks = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[Row])
    var bytes = 0L
    rows.foreach { r =>
      val b = graft.join.SpatialJoin.estimateRowBytes(r)
      if (bytes + b > StoreDriverMaxBytes && chunks.last.nonEmpty) {
        chunks += scala.collection.mutable.ArrayBuffer.empty[Row]
        bytes = 0L
      }
      chunks.last += r
      bytes += b
    }
    val frames = chunks.map(c => f(spark.createDataFrame(c.asJava, schema)))
    (frames.flatMap(_.collect()).toArray, frames.head.schema)
  }

  /** Whether values of `t` are equal exactly when their binary row forms
    * are — binary-stable (no collated string) and free of floats, which
    * Spark's joins compare as normalized values (0.0 = -0.0, one NaN) —
    * so the driver tier can key and order ids by that form. */
  private def idTypeByBytes(t: DataType): Boolean = t match {
    case FloatType | DoubleType => false
    case _: MapType => false
    case st: StructType => st.fields.forall(f => idTypeByBytes(f.dataType))
    case at: ArrayType => idTypeByBytes(at.elementType)
    case other => UnsafeRowUtils.isBinaryStable(other)
  }

  /** The one-column binary row of an id of `idType`, as a `Row` holds it:
    * the form the driver tiers key and order ids by. */
  private def idKey(idType: DataType): Any => InternalRow = {
    val toKey = ExpressionEncoder(RowEncoder.encoderFor(
      StructType(Seq(StructField("id", idType))))).createSerializer()
    id => toKey(Row(id)).copy()
  }

  /** Positions of `ids` sorted by Spark's ordering of `idType` (the one
    * `min` and `<` use), and whether the ids are all distinct. */
  private def sortIds(idType: DataType, ids: IndexedSeq[Any]): (Array[Int], Boolean) = {
    val key = idKey(idType)
    val keys = ids.map(key)
    val ord = InterpretedOrdering.forSchema(Seq(idType))
    val order = ids.indices.toArray.sortWith((a, b) => ord.compare(keys(a), keys(b)) < 0)
    (order, order.indices.drop(1).forall(i =>
      ord.compare(keys(order(i - 1)), keys(order(i))) != 0))
  }

  /** The scheme of the two MinHash-banded tiers (character shingles,
    * word n-grams): (band, bucket) keys, the `__sigs` sibling, the
    * signature-agreement estimate, and the warning for a threshold well
    * under the stamped banding's collision point. */
  private def bandedScheme(tier: String, prop: String, version: String,
      params: Seq[Int], numHashes: Int, bands: Int,
      sign: (DataFrame, String, String) => DataFrame,
      withinBatch: Double => PairPass): BucketScheme = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val collisionPoint = math.pow(1.0 / bands, 1.0 * bands / numHashes)
    BucketScheme(tier, prop, version, params, Seq("band", "bucket"), "sig",
      Some(MinhashSigTableSuffix), "jaccard_est", isDistance = false, sign,
      bandKeys(_, numHashes, bands), jaccardEstExpr(_, _, numHashes),
      threshold => Option.when(threshold < collisionPoint * 0.8)(
        s"threshold $threshold sits " +
          f"well below the stamped banding's collision point " +
          f"($collisionPoint%.2f at $numHashes hashes / $bands bands) — " +
          "most pairs at that similarity never share a bucket, so " +
          "near-dups will be declared novel; rewrite the store with " +
          "more, narrower bands (autoBands) for this operating point"),
      withinBatch)
  }

  // ------------------------------------------------ minhash corpus store

  /** Table property stamped by [[writeMinhashStore]]:
    * `v2:<numHashes>:<bands>:<shingleK>`. Batch joins read it back and
    * band the batch with the SAME parameters — mixed parameters hash
    * different buckets and silently miss every pair, so a missing or
    * mismatched stamp errors loudly. */
  val MinhashStoreProp = "graft.dedup.minhashParams"

  /** Suffix of the per-doc signature table living next to a
    * [[writeMinhashStore]] / [[writeNgramStore]] bands table. */
  val MinhashSigTableSuffix = "__sigs"

  /** The minhash tier's [[BucketScheme]]. v2 = the slim two-table
    * layout; a v1 (fat single-table) stamp from the earlier cut must
    * FAIL the param check rather than let a half-migrated store
    * validate. */
  private def minhashScheme(numHashes: Int, bands: Int,
      shingleK: Int): BucketScheme =
    bandedScheme("minhash", MinhashStoreProp, "v2",
      Seq(numHashes, bands, shingleK), numHashes, bands,
      minhashSigned(_, _, _, numHashes, shingleK),
      // the within-batch pass bands at the threshold's own banding, not
      // the stamped one
      threshold => minhashPass(numHashes, autoBands(numHashes, threshold),
        shingleK, Some(threshold)))

  private[graft] def minhashScheme(spark: SparkSession, table: String): BucketScheme =
    stampParams(spark, table, "minhash", MinhashStoreProp, "v2") {
      case Seq(numHashes, bands, shingleK) =>
        minhashScheme(numHashes, bands, shingleK) }

  /** Persist a corpus's MinHash LSH index — the incremental-ingest
    * answer at 100 TB: corpus signatures are computed ONCE here (the
    * expensive part — normalize + shingle + sign every document; worse,
    * RE-computing them means re-reading the corpus text), and every
    * later batch dedup pays only its own batch's signatures plus
    * bucketed joins in which the CORPUS SIDE NEVER SHUFFLES.
    *
    * TWO tables (the [[graft.join.SpatialJoin.writeSpatialBucketed]]
    * discipline applied to dedup):
    *  - `<table>`: SLIM band rows (id, band, bucket), bucketed/sorted by
    *    (band, bucket) — the candidate equi-join touches 24-byte rows.
    *    Carrying the full signature here (the first cut did) makes the
    *    index ~4 KB/doc at the 64/8 default — larger than typical
    *    document text, and the 10× scale bench read the store door at
    *    ~3× the self-join door before the split (PERF.md r16).
    *  - `<table>__sigs`: (id, sig), bucketed by id — the estimate join
    *    fetches signatures once per DEDUPED PAIR, corpus side co-located.
    *
    * `mode = "append"` ingests an accepted batch into the index (the
    * param stamp must match — checked before any write). The two saves
    * are not atomic, so the params stamp is UNSET for the duration and re-set
    * only after both land: a crash mid-write leaves a stamp-less store
    * that the candidates door refuses loudly (rewrite with
    * mode=overwrite) instead of one silently joining old band rows to
    * new signatures. Oversized buckets are capped per written batch
    * with a WARNING; bucket growth ACROSS appended batches is guarded
    * at join time ([[capBucketsJoint]] skips the grown bucket with a
    * warning) and repaired by [[compactMinhashStore]] — a corpus whose
    * boilerplate grows a bucket without bound also wants an exact-dedup
    * pass, same as the self-join door. Drop with [[dropMinhashStore]]
    * (both tables).
    *
    * Every write keeps the store's [[BucketRowBoundProp]] — the batch's
    * signed row count when that is ≤ `maxBucketSize`, so the write runs
    * no bucket census; the largest kept group otherwise; summed with the
    * current bound on append ([[graft.StoreStamp]]) — and the
    * candidates/novel doors skip
    * their joint-cap census (and may run on the driver) while bound +
    * batch rows stays ≤ the cap. */
  def writeMinhashStore(df: DataFrame, table: String,
      idCol: String = "doc_id", textCol: String = "text",
      numHashes: Int = 64, bands: Int = 8, shingleK: Int = 5,
      buckets: Int = 64, mode: String = "overwrite",
      maxBucketSize: Int = 100000): Unit =
    writeStore(minhashScheme(numHashes, bands, shingleK), df, table, idCol,
      textCol, buckets, mode, maxBucketSize)

  /** Drop BOTH tables of a [[writeMinhashStore]] index (band rows and
    * per-doc signatures) and their warehouse locations. */
  def dropMinhashStore(spark: SparkSession,
      table: String): Unit = dropStore(spark, table, MinhashSigTableSuffix)

  /** Candidate near-dup pairs of a NEW batch against a
    * [[writeMinhashStore]] corpus: the batch is signed ONCE with the
    * store's stamped parameters (the pass is snapshotted — the band
    * explosion, the joint-cap census, and the estimate join all read
    * it), slim band rows equi-join on (band, bucket) with no
    * corpus-side shuffle, pairs dedup across bands, and only THEN are
    * signatures fetched — once per pair, the corpus side from its
    * bucketed-by-id table. Returns (batch_id, corpus_id, jaccard_est).
    * Batch and corpus ids are separate namespaces — a batch row equal
    * to a corpus row IS reported.
    *
    * NB this call does its work at call time, in one of two tiers, so
    * don't construct it speculatively. The same holds for every
    * `*CandidatesAgainstStore` / `*NovelAgainstStore` door:
    *  - DRIVER tier, for a batch within 2^16 rows and 4 MB whose ids are
    *    non-null and distinct, against a store whose stamped
    *    [[BucketRowBoundProp]] plus the batch's rows stays ≤
    *    `maxBucketSize` (so no cap can drop a bucket): the batch is
    *    collected once (a local batch costs no job), signed and keyed on
    *    the driver with the same expressions, and its bucket keys reach
    *    the store as one bounded semi-join query — the only jobs of the
    *    call. Scores, and a novel door's within-batch pass and
    *    components, are resolved on the driver, and the result is a
    *    local frame ([[storeCandidatesDriver]], [[storeNovelDriver]]).
    *  - SPARK tier otherwise ([[storeCandidatesSpark]],
    *    [[storeNovelSpark]]): the batch signing snapshot, the joint-cap
    *    census + skipped-bucket warning ([[capBucketsJoint]]) when the
    *    bound does not rule it out, and for the novel doors with
    *    `dedupWithinBatch` the corpus-filtered batch snapshot (so the
    *    store join runs once per call) and the within-batch components
    *    ([[connectedComponents]]) all run before the lazy result frame
    *    returns.
    * The store's bound, the id types and the batch's size estimate are
    * checked before the batch is collected, so a store without the
    * bound, or a batch estimated past 4 MB, costs the Spark tier no
    * extra job. Both tiers return the same rows with the same schema. */
  def minhashCandidatesAgainstStore(spark: SparkSession,
      batch: DataFrame, table: String,
      idCol: String = "doc_id", textCol: String = "text",
      maxBucketSize: Int = 100000): DataFrame =
    storeCandidates(minhashScheme(spark, table), spark, batch, table, idCol,
      textCol, maxBucketSize)

  /** Batch rows with NO near-dup at `threshold` — the ingest filter:
    * keep the novel rows, then `writeMinhashStore(novel, table,
    * mode = "append")` folds them into the index so the next batch
    * dedups against them too. Checks BOTH directions a duplicate can
    * arrive from: against the corpus (estimated jaccard from the stored
    * signatures) and, with `dedupWithinBatch` (default), among the
    * surviving batch rows themselves as [[dedupNearMinhash]] does (exact
    * shingle jaccard, min-id survivor per cluster, at this call's
    * `maxBucketSize`) — without it, two
    * identical new documents in one batch would BOTH be declared novel
    * and both appended, planting permanent duplicates in the index.
    *
    * Recall contract: the store's STAMPED banding fixes the collision
    * curve — a pair's band-collision probability at true jaccard j is
    * `1 − (1 − j^r)^b`, which falls off sharply below `(1/b)^(1/r)`
    * (≈ 0.77 at the 64/8 default). A `threshold` well under that point
    * asks for pairs the banding rarely surfaces; the call WARNS rather
    * than silently under-recalling — write the store with more, narrower
    * bands (see [[autoBands]]) when the operating point is lower.
    *
    * The corpus-side estimate is signature-based (numHashes
    * resolution); an exact verify against corpus text requires the
    * corpus text, which the index deliberately does not carry — callers
    * needing exact jaccard join the surviving pairs back to their own
    * corpus table. */
  def minhashNovelAgainstStore(spark: SparkSession, batch: DataFrame, table: String,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.8, maxBucketSize: Int = 100000,
      dedupWithinBatch: Boolean = true): DataFrame =
    storeNovel(minhashScheme(spark, table), spark, batch, table, idCol,
      textCol, threshold, maxBucketSize, dedupWithinBatch)

  /** Word n-gram hashes (Int64), distinct — the token-level analog of
    * [[shingleHashesNorm]], the set form of [[gramHashesOfTokens]];
    * `toks` must be a materialized column (the transform lambda reads it
    * once per gram position).
    * Null tokens (null text) null-propagate: `concat_ws` over a null
    * array yields "" — without the guard every null-text row would get
    * the identical single-gram {hash("")} set and pair with every other
    * null-text row at exact jaccard 1.0 (the hash(null) phantom-bucket
    * lesson, applied to the n-gram tier). */
  private[graft] def ngramHashesOf(toks: Column, n: Int): Column =
    array_distinct(when(toks.isNull, lit(null).cast("array<bigint>"))
      .otherwise(gramHashesOfTokens(toks, n)))

  /** (id, ng) n-gram hash sets of a frame — one normalize→tokenize pass
    * (tokens materialized first, so the tokenizer runs once per
    * document, not per gram position). Null text filtered at the source
    * column, same rationale as [[minhashSigned]] (scan-pushed; a
    * derived-column null filter re-evaluates the pipeline per
    * consumer). */
  private def ngramSets(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        TextAnalysis.normalized(col(textCol)).as("__norm"))
      .select(col("id"), TextAnalysis.tokens(col("__norm")).as("__toks"))
      .select(col("id"), ngramHashesOf(col("__toks"), n).as("ng"))

  /** (id, sig) MinHash-over-n-grams signatures — the n-gram tier's
    * [[minhashSigned]], and the one signer the self-join door and the
    * [[writeNgramStore]] index share. */
  private def ngramSigned(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int): DataFrame =
    ngramSignedSets(df, idCol, textCol, n, numHashes).select(col("id"), col("sig"))

  /** (id, ng, sig): [[ngramSets]] with each set's MinHash signature —
    * what [[nearDupNgram]] snapshots and its driver-tier pass reads. */
  private def ngramSignedSets(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int): DataFrame =
    ngramSets(df, idCol, textCol, n)
      .select(col("id"), col("ng"),
        minhashSignatureHashed(numHashes)(col("ng")).as("sig"))

  /** Word n-gram Jaccard near-dup: MinHash-LSH candidates over hashed word
    * n-grams, exact n-gram-set Jaccard verify ≥ threshold. Same
    * bucket-join shape as [[nearDupMinhash]], token-level granularity
    * (robust to intra-word edits, classic C4/CCNet-style dedup unit).
    * Returns (id_a, id_b, jaccard). */
  def nearDupNgram(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3, numHashes: Int = 64,
      bands: Int = 0, maxBucketSize: Int = 100000): DataFrame = {
    val b = if (bands > 0) bands else autoBands(numHashes, threshold)
    require(numHashes % b == 0,
      s"nearDupNgram: numHashes=$numHashes not divisible by bands=$b — " +
        "part of the signature would be silently ignored")
    runPass(ngramPass(n, numHashes, b, threshold), df, idCol, textCol,
      maxBucketSize)
  }

  /** The n-gram [[PairPass]]: band buckets of the MinHash-over-n-grams
    * signature, whose gram sets are fetched per pair for the exact
    * `jaccard` ≥ `threshold`. */
  private def ngramPass(n: Int, numHashes: Int, bands: Int,
      threshold: Double): PairPass =
    PairPass(ngramSignedSets(_, _, _, n, numHashes),
      bandKeys(col("sig"), numHashes, bands), Nil, Seq("ng"),
      Seq(jaccard(col("ng_a"), col("ng_b")).as("jaccard")),
      col("jaccard") >= threshold)

  /** N-gram near-dup dedup end to end: one survivor (min id) per
    * connected near-dup component — [[dedupNearMinhash]]'s token-level
    * sibling, and the within-batch pass of [[ngramNovelAgainstStore]]. */
  def dedupNearNgram(dfIn: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3, numHashes: Int = 64,
      bands: Int = 0, maxBucketSize: Int = 100000): DataFrame =
    keepMinIdSurvivors(dfIn, idCol,
      nearDupNgram(dfIn, idCol, textCol, threshold, n, numHashes, bands,
        maxBucketSize))

  // -------------------------------------------------- ngram corpus store

  /** Table property stamped by [[writeNgramStore]]:
    * `v1:<n>:<numHashes>:<bands>`. */
  val NgramStoreProp = "graft.dedup.ngramParams"

  /** The n-gram tier's [[BucketScheme]]: [[minhashScheme]]'s layout over
    * the n-gram signer. */
  private def ngramScheme(n: Int, numHashes: Int, bands: Int): BucketScheme =
    bandedScheme("ngram", NgramStoreProp, "v1", Seq(n, numHashes, bands),
      numHashes, bands, ngramSigned(_, _, _, n, numHashes),
      threshold => ngramPass(n, numHashes, autoBands(numHashes, threshold),
        threshold))

  private[graft] def ngramScheme(spark: SparkSession, table: String): BucketScheme =
    stampParams(spark, table, "ngram", NgramStoreProp, "v1") {
      case Seq(n, numHashes, bands) => ngramScheme(n, numHashes, bands) }

  /** Persist a corpus's word-n-gram MinHash index — the token-level tier
    * of the persistent near-dup family, completing the symmetry with
    * [[writeMinhashStore]] (character shingles), [[writeSimhashStore]]
    * (Hamming) and [[writeEmbeddingStore]] (cosine): before it,
    * [[nearDupNgram]] required the full corpus per call. Identical
    * two-table layout and stamp discipline (the shared store
    * pipeline): slim (id, band, bucket) rows bucketed by
    * the join key, (id, sig) rows bucketed by id, stamp unset across the
    * non-atomic two-table window, per-batch hot buckets capped with a
    * WARNING; growth ACROSS appends is guarded at join time and repaired
    * by [[compactNgramStore]]. `mode = "append"` ingests accepted
    * batches; drop with [[dropNgramStore]]. The [[BucketRowBoundProp]]
    * is kept as for [[writeMinhashStore]]. */
  def writeNgramStore(df: DataFrame, table: String,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, numHashes: Int = 64, bands: Int = 8,
      buckets: Int = 64, mode: String = "overwrite",
      maxBucketSize: Int = 100000): Unit =
    writeStore(ngramScheme(n, numHashes, bands), df, table, idCol, textCol,
      buckets, mode, maxBucketSize)

  /** Drop BOTH tables of a [[writeNgramStore]] index. */
  def dropNgramStore(spark: SparkSession,
      table: String): Unit = dropStore(spark, table, MinhashSigTableSuffix)

  /** Candidate near-dup pairs of a NEW batch against a
    * [[writeNgramStore]] corpus — [[minhashCandidatesAgainstStore]]'s
    * token-level twin (same shared core and call-time tiers, n-gram
    * signer). Returns
    * (batch_id, corpus_id, jaccard_est). */
  def ngramCandidatesAgainstStore(spark: SparkSession,
      batch: DataFrame, table: String,
      idCol: String = "doc_id", textCol: String = "text",
      maxBucketSize: Int = 100000): DataFrame =
    storeCandidates(ngramScheme(spark, table), spark, batch, table, idCol,
      textCol, maxBucketSize)

  /** Batch rows with NO n-gram near-dup at `threshold` — the token-level
    * ingest filter; append survivors with `writeNgramStore(novel, table,
    * mode = "append")`. Same two-direction contract and banding-recall
    * warning as [[minhashNovelAgainstStore]]; the within-batch pass
    * ([[dedupNearNgram]]) verifies with EXACT n-gram jaccard, while the
    * corpus check is signature-estimated (the index deliberately carries
    * no text). */
  def ngramNovelAgainstStore(spark: SparkSession, batch: DataFrame, table: String,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.8, maxBucketSize: Int = 100000,
      dedupWithinBatch: Boolean = true): DataFrame =
    storeNovel(ngramScheme(spark, table), spark, batch, table, idCol,
      textCol, threshold, maxBucketSize, dedupWithinBatch)

  // ------------------------------------- store compaction and stats

  /** Re-apply the hot-bucket cap to a persistent index's slim bucket
    * table — the maintenance door for buckets grown past `maxBucketSize`
    * ACROSS appends: each write caps only its own batch, so the union
    * can exceed the cap and re-open the join bomb the cap exists to
    * stop (until compaction, the candidates doors SKIP such buckets
    * with a warning — see [[capBucketsJoint]]). The rewrite goes
    * through a `__compact` sibling table + catalog rename — never a
    * read-and-overwrite of the table being scanned, and never a
    * driver/executor-memory snapshot of the store — and the bucket
    * census rides the store's own bucketing (no exchange). The stamp is
    * unset before the drop+rename swap and re-set after, so every crash
    * window leaves a store the doors refuse loudly rather than one
    * silently half-swapped.
    *
    * Double-append repair: the rewrite goes through `distinct()`, so a
    * batch appended twice (each copy re-emitting every pair touching
    * its docs at join time) collapses back to the row set a fresh
    * overwrite would hold. The census therefore counts distinct rows —
    * the same population write-time capping sees.
    *
    * Sibling VACUUM (the two-table tiers): after the slim swap lands —
    * stamp still unset, so a crash mid-vacuum leaves a loudly-refused
    * store — the sibling
    * sig/vec table is rewritten to exactly ONE NON-NULL row per id
    * surviving in the slim table (null-payload filter + left-semi +
    * dropDuplicates(id), same tmp-table + rename discipline). Without
    * it, ids whose every band row was dropped keep their sig/vec rows
    * forever and double-appended batches leave duplicate sig rows, dead
    * weight taxing every estimate join's build side on the 100 TB
    * ingest loop. The null filter runs BEFORE the per-id dedup: a
    * pre-r17 store can carry a null-text sig row next to a later real
    * append of the same id, and an arbitrary pick could keep the null
    * one permanently — the read path's isNotNull filter must stay a
    * no-op after a vacuum, not the only thing hiding a lost signature.
    * Dropping an orphan's sig is safe: candidates fetch signatures only
    * for ids present in slim pairs, so a row with no band rows can
    * never join — exactly as if write-time capping had dropped it.
    * (A fresh overwrite of the accumulated corpus would keep sigs for
    * its OWN capped-out docs — rows the join can never reference either
    * way; the vacuum is the tighter of the two.)
    *
    * Bucket-row bound ([[BucketRowBoundProp]]): a current bound ≤
    * `maxBucketSize` proves no group is over the cap (the distinct
    * rewrite can only shrink groups), so the census is skipped and the
    * bound carried over; otherwise — over the cap, or a store without a
    * current bound — the census runs and its largest kept
    * group becomes the new, exact bound. The renamed tmp table carries
    * no properties, so the bound is always restamped with the params. */
  private def recapBucketTable(s: BucketScheme, spark: SparkSession,
      table: String, maxBucketSize: Int): Unit = {
    val ctx = s"${s.compactDoor}($table)"
    require(maxBucketSize > 0, s"$ctx: maxBucketSize must be positive")
    def bucketCount(t: String): Int = {
      val meta = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(t))
      meta.bucketSpec.map(_.numBuckets).getOrElse(
        throw new IllegalArgumentException(
          s"$ctx: $t is not bucketed — not a store table"))
    }
    val buckets = bucketCount(table)
    val tmp = table + "__compact"
    dropBucketedTable(spark, tmp)
    val bound = capBucketsWarn(spark.table(table).distinct(), s.bucketCols,
      maxBucketSize, ctx, readRowBound(spark, table)) {
      saveBucketed(_, tmp, "overwrite", buckets, s.bucketCols)
    }
    // swap: unset the stamp FIRST so a crash anywhere in the drop+rename
    // window (and the sibling vacuum after it) leaves a loudly-refused
    // store, not a silently stale one
    spark.sql(s"ALTER TABLE ${quoteTable(table)} " +
      s"UNSET TBLPROPERTIES IF EXISTS ('${s.prop}')")
    dropBucketedTable(spark, table)
    spark.sql(s"ALTER TABLE ${quoteTable(tmp)} " +
      s"RENAME TO ${quoteTable(table)}")
    s.sibling.foreach { suffix =>
      val sib = table + suffix
      if (spark.sessionState.catalog.tableExists(
          spark.sessionState.sqlParser.parseTableIdentifier(sib))) {
        val sibBuckets = bucketCount(sib)
        val sibTmp = sib + "__compact"
        dropBucketedTable(spark, sibTmp)
        // surviving slim ids are the tiny side; the sibling streams from
        // its own id-bucketed files (no exchange on the big side)
        val surviving = spark.table(table).select(col("id")).distinct()
        saveBucketed(spark.table(sib)
          .filter(col(s.payload).isNotNull)
          .dropDuplicates("id")
          .join(surviving, Seq("id"), "left_semi"),
          sibTmp, "overwrite", sibBuckets, Seq("id"))
        dropBucketedTable(spark, sib)
        spark.sql(s"ALTER TABLE ${quoteTable(sibTmp)} " +
          s"RENAME TO ${quoteTable(sib)}")
      }
    }
    // cap > 0 (required above), so the census path always yields a
    // bound; the renamed table holds the files of the one rewrite
    StoreStamp.set(spark, table, (s.prop -> s.stamp) +:
      StoreStamp.carry(spark, table, StoreStamp.Files.none).toSeq
        .flatMap(_.stamp(BucketRowBoundProp -> bound.get)))
  }

  /** Bucket-occupancy statistics of a persistent index's slim bucket
    * table — the PROACTIVE "do I need compaction?" door (the join-time
    * over-cap warning is the reactive one): one row of
    * (n_rows, n_buckets, max_bucket, n_over_cap) with `n_over_cap`
    * counting bucket groups past `cap`. The aggregation rides the
    * store's own bucketing — no exchange. */
  private def storeBucketStats(s: BucketScheme, spark: SparkSession,
      table: String, cap: Int): DataFrame =
    spark.table(table)
      .groupBy(s.bucketCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      // coalesce: sum/max over an EMPTY bucket set (empty corpus, or a
      // write that dropped every group) are null, and the documented
      // one-row read pattern must see zeros; cap <= 0 follows the
      // family convention (cap disabled → nothing is over it)
      .agg(coalesce(sum(col("__n")), lit(0L)).as("n_rows"),
        count(lit(1)).as("n_buckets"),
        coalesce(max(col("__n")), lit(0L)).as("max_bucket"),
        (if (cap <= 0) lit(0L)
         else coalesce(sum((col("__n") > cap).cast("long")), lit(0L)))
          .as("n_over_cap"))

  /** [[storeBucketStats]] for a [[writeMinhashStore]] index (stamp
    * verified): `n_over_cap > 0` means [[capBucketsJoint]] will skip
    * those buckets at join time — run [[compactMinhashStore]]. */
  def minhashStoreStats(spark: SparkSession,
      table: String, maxBucketSize: Int = 100000): DataFrame =
    storeBucketStats(minhashScheme(spark, table), spark, table, maxBucketSize)

  /** [[storeBucketStats]] for a [[writeNgramStore]] index. */
  def ngramStoreStats(spark: SparkSession,
      table: String, maxBucketSize: Int = 100000): DataFrame =
    storeBucketStats(ngramScheme(spark, table), spark, table, maxBucketSize)

  /** [[storeBucketStats]] for a [[writeSimhashStore]] index. */
  def simhashStoreStats(spark: SparkSession,
      table: String, maxBucketSize: Int = 100000): DataFrame =
    storeBucketStats(simhashScheme(spark, table), spark, table, maxBucketSize)

  /** [[storeBucketStats]] for a [[writeEmbeddingStore]] index. */
  def embeddingStoreStats(spark: SparkSession,
      table: String, maxBucketSize: Int = 100000): DataFrame =
    storeBucketStats(embeddingScheme(spark, table), spark, table, maxBucketSize)

  /** Compact a [[writeMinhashStore]] index: re-apply the hot-bucket cap
    * across everything appended so far (same WARN discipline as write
    * time), collapse double-appended rows, rewrite the slim band table
    * in place, and VACUUM the `__sigs` sibling down to one row per
    * surviving id (see [[recapBucketTable]] — orphaned and duplicate
    * sig rows otherwise accumulate without bound across the ingest
    * loop). Post-compaction the store is row-for-row what a fresh
    * `writeMinhashStore(overwrite)` of the accumulated corpus would
    * hold — minus buckets that individual batch writes already dropped,
    * which a fresh overwrite also drops, and minus sig rows no slim row
    * references, which can never join. */
  def compactMinhashStore(spark: SparkSession,
      table: String, maxBucketSize: Int = 100000): Unit =
    recapBucketTable(minhashScheme(spark, table), spark, table, maxBucketSize)

  /** Compact a [[writeNgramStore]] index — see [[compactMinhashStore]]. */
  def compactNgramStore(spark: SparkSession,
      table: String, maxBucketSize: Int = 100000): Unit =
    recapBucketTable(ngramScheme(spark, table), spark, table, maxBucketSize)

  /** Compact a [[writeSimhashStore]] index — see [[compactMinhashStore]].
    * NB dropping an over-cap (chunk, bucket) group forfeits the exact
    * ≤3-Hamming recall for pairs whose only agreeing chunk sat there —
    * the same caveat the writer's cap carries. */
  def compactSimhashStore(spark: SparkSession,
      table: String, maxBucketSize: Int = 100000): Unit =
    recapBucketTable(simhashScheme(spark, table), spark, table, maxBucketSize)

  /** Compact a [[writeEmbeddingStore]] index — see
    * [[compactMinhashStore]]; the vacuumed sibling here is the `__vecs`
    * table. */
  def compactEmbeddingStore(spark: SparkSession,
      table: String, maxBucketSize: Int = 100000): Unit =
    recapBucketTable(embeddingScheme(spark, table), spark, table,
      maxBucketSize)

  // ------------------------------------------------------------ SimHash

  /** 64-bit SimHash over subword tokens. */
  def simhash64(text: Column): Column = {
    val f = udf((toks: Seq[String]) =>
      if (toks == null) None
      else {
        val acc = new Array[Int](64)
        toks.foreach { t =>
          val h = graft.plans.MinHashKernel.fmix64(t.hashCode.toLong * 0x9e3779b97f4a7c15L + 1)
          var i = 0
          while (i < 64) {
            if (((h >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1
            i += 1
          }
        }
        var out = 0L
        var i = 0
        while (i < 64) { if (acc(i) > 0) out |= (1L << i); i += 1 }
        Some(out)
      })
    f(TextAnalysis.subwordTokens(text))
  }

  /** Chunk count whose pigeonhole covers `maxHamming`: `c` chunks of
    * `64/c` bits guarantee a pair within Hamming distance `c − 1`
    * agrees on at least one chunk. 4 chunks (16-bit buckets) reach
    * radius 3; 8 chunks (8-bit) reach 7; 16 chunks (4-bit) reach 15 —
    * at exponentially coarser buckets (2^width values), so wide radii
    * cost correspondingly bigger bucket joins. Past 15 the scheme's
    * buckets are too weak to be useful, and the request is refused
    * rather than silently under-recalled. NB the widened chunkings also
    * shrink the bucket DOMAIN (8 chunks: 256 values each; 16 chunks:
    * 16), so the hot-bucket cap saturates on large frames — the
    * widened-radius callers count and WARN on dropped groups rather
    * than silently returning nothing. */
  private[graft] def simhashChunkCount(ctx: String, maxHamming: Int): Int = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"$ctx: maxHamming $maxHamming outside [0, 15] — 16 4-bit chunks " +
        "are the widest pigeonhole this 64-bit signature supports; a " +
        "larger radius would silently miss pairs")
    if (maxHamming <= 3) 4 else if (maxHamming <= 7) 8 else 16
  }

  /** (id, sim) SimHash signatures of a frame. Null text (the only null
    * signature) is filtered at the source, as in minhashSigned: its null
    * buckets never join, and the cap census used to be what dropped
    * them before a store write. */
  private def simhashSigned(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), simhash64(col(textCol)).as("sim"))

  /** The (chunk, bucket) keys of a SimHash signature, one struct per
    * `64 / chunks`-bit chunk: bucket = (sim >> chunk · width) & mask —
    * the [[bandKeys]] of the Hamming tier. */
  private def simhashChunkKeys(sim: Column, chunks: Int): Column = {
    val width = 64 / chunks
    val mask = (1L << width) - 1
    transform(sequence(lit(0), lit(chunks - 1)),
      c => struct(c.as("chunk"),
        call_function("shiftright", sim, c * width).bitwiseAND(lit(mask)).as("bucket")))
  }

  /** SimHash near-dup: bucket by signature chunks (a pair within
    * hamming distance ≤ chunks−1 must agree on at least one chunk —
    * pigeonhole), verify with bit_count(xor) ≤ maxHamming. The chunk
    * count is derived FROM the radius ([[simhashChunkCount]]) so recall
    * is exact at every accepted `maxHamming` (≤ 15) UP TO the
    * hot-bucket cap: an over-`maxBucketSize` (chunk, bucket) group is
    * dropped, and a pair whose only agreeing chunk sat there is missed.
    * At the default radius (4 chunks, 65536-value buckets) that takes
    * genuine boilerplate; the WIDENED radii collapse the bucket domain
    * (maxHamming 4-7: 256 values/chunk; 8-15: 16), where any frame
    * beyond ~cap × domain rows saturates EVERY group — those paths
    * count dropped groups eagerly and WARN instead of silently
    * returning zero pairs. EVERY radius now runs an eager signing job
    * at call time (r19 — the (id, sim) snapshot before the chunk explode
    * halves the sign CPU; widened radii additionally run their census
    * eagerly), so don't construct these frames speculatively. The
    * default 3 keeps the classic 4×16-bit scheme. */
  def nearDupSimhash(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 100000): DataFrame =
    runPass(simhashPass(maxHamming), df, idCol, textCol, maxBucketSize)

  /** The simhash [[PairPass]] at radius `maxHamming`: (chunk, bucket)
    * buckets at the radius's chunk count ([[simhashChunkCount]]), the
    * signature riding the join for the exact `hamming` ≤ the radius; the
    * widened radii count and warn on dropped groups. */
  private def simhashPass(maxHamming: Int): PairPass = {
    val chunks = simhashChunkCount("nearDupSimhash", maxHamming)
    PairPass(simhashSigned, simhashChunkKeys(col("sim"), chunks), Seq("sim"),
      Nil, Seq(hammingOf(col("sim_a"), col("sim_b")).as("hamming")),
      col("hamming") <= maxHamming,
      Option.when(chunks > 4)(s"nearDupSimhash(maxHamming=$maxHamming)"))
  }

  /** Hamming distance of two SimHash signatures — the simhash tier's
    * verify and store score. */
  private def hammingOf(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** One survivor per near-dup component: the row whose id is the
    * component minimum (singletons survive as their own component) —
    * the pairs→survivors finish [[dedupNearMinhash]] and
    * [[dedupNearSimhash]] share. */
  private def keepMinIdSurvivors(dfIn: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs, "id_a", "id_b")
    val clusters = dfIn.select(col(idCol).as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cluster"))
    val survivors = clusters.filter(col("id") === col("cluster")).select("id")
    dfIn.join(survivors, dfIn(idCol) === survivors("id"), "left_semi")
  }

  /** SimHash near-dup dedup end to end: one survivor (min id) per
    * connected near-dup component — [[dedupNearMinhash]]'s SimHash
    * sibling, and the within-batch pass of
    * [[simhashNovelAgainstStore]]. */
  def dedupNearSimhash(dfIn: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 100000): DataFrame =
    keepMinIdSurvivors(dfIn, idCol,
      nearDupSimhash(dfIn, idCol, textCol, maxHamming, maxBucketSize))

  // ------------------------------------------------ simhash corpus store

  /** Table property stamped by [[writeSimhashStore]]: `v1:<chunks>` —
    * the chunk count the pigeonhole guarantee is built on (4 16-bit
    * chunks for the classic ≤3 radius; 8 or 16 for the widened radii,
    * [[simhashChunkCount]]). Pre-r18 stores stamped `v1:4` and remain
    * fully compatible: the default write layout is byte-identical. */
  val SimhashStoreProp = "graft.dedup.simhashParams"

  /** Persist a corpus's SimHash index — [[writeMinhashStore]]'s sibling
    * for the Hamming-distance tier, with a STRONGER contract: the
    * 4-chunk pigeonhole is exact (a pair within Hamming distance ≤ 3 of
    * a 64-bit signature MUST agree on one 16-bit chunk), so the store
    * door's recall is 100% at the ≤ 3 operating point, not an LSH
    * collision curve — UP TO the hot-bucket cap: an over-`maxBucketSize`
    * (chunk, bucket) group is dropped (WARNED at write time, and the
    * join applies the same union-count rule as the self-join door), and
    * a pair whose only agreeing chunk sat in a dropped group is missed.
    * A corpus hitting that warning wants an exact-dedup pass first —
    * 100k+ rows sharing a 16-bit chunk value is boilerplate, not
    * near-dup structure. One row per (chunk, bucket) membership,
    * bucketed by the join key — batch joins read co-located files with
    * zero corpus-side shuffle; `mode = "append"` ingests accepted
    * batches.
    *
    * WIDENED radii (r18, closing the last batch/store asymmetry of the
    * dedup family): `maxHamming` in [4, 15] stamps the corresponding
    * coarser chunk layout (8 8-bit chunks to radius 7; 16 4-bit chunks
    * to 15 — [[simhashChunkCount]]), and the candidates door then
    * accepts any radius the STAMPED layout's pigeonhole covers. The
    * same caveat as the in-frame door: a coarser layout shrinks the
    * bucket DOMAIN (256 or 16 values per chunk), so large corpora
    * saturate the hot-bucket cap — drops are WARNED at write time here
    * and at join time by the joint-cap guard. Appends must match the
    * stamped layout (mixed chunkings hash different buckets).
    *
    * The param stamp and the [[BucketRowBoundProp]] are unset during the
    * write and re-set after it; the bound is kept as for
    * [[writeMinhashStore]]. Null-text rows are not written (their
    * signature is null and can never join). */
  def writeSimhashStore(df: DataFrame, table: String,
      idCol: String = "doc_id", textCol: String = "text",
      buckets: Int = 64, mode: String = "overwrite",
      maxBucketSize: Int = 100000, maxHamming: Int = 3): Unit =
    writeStore(simhashScheme(simhashChunkCount(s"writeSimhashStore($table)",
      maxHamming)), df, table, idCol, textCol, buckets, mode, maxBucketSize)

  /** The simhash tier's [[BucketScheme]] at `chunks` chunks: one table —
    * the 8-byte `sim` rides on the slim rows — scored by the exact
    * Hamming distance. Recall is exact to the pigeonhole radius, so no
    * recall warning; the probe radius is checked instead. */
  private def simhashScheme(chunks: Int): BucketScheme =
    BucketScheme("simhash", SimhashStoreProp, "v1", Seq(chunks),
      Seq("chunk", "bucket"), "sim", None, "hamming", isDistance = true,
      simhashSigned, simhashChunkKeys(_, chunks), hammingOf, _ => None,
      // the within-batch pass chunks at the radius's own chunk count, not
      // the stamped one
      maxHamming => simhashPass(maxHamming.toInt))

  /** The stamped scheme of a [[writeSimhashStore]] table (4, 8 or 16
    * chunks), refusing a probe radius past its layout's pigeonhole. */
  private[graft] def simhashScheme(spark: SparkSession, table: String,
      maxHamming: Int = 0): BucketScheme =
    stampParams(spark, table, "simhash", SimhashStoreProp, "v1") {
      case Seq(chunks) if Seq(4, 8, 16).contains(chunks) =>
        require(maxHamming >= 0 && maxHamming <= chunks - 1,
          s"simhashCandidatesAgainstStore: maxHamming $maxHamming outside " +
            s"[0, ${chunks - 1}] — the store's STAMPED $chunks-chunk layout's " +
            s"pigeonhole guarantees recall only to Hamming distance " +
            s"${chunks - 1}, and a wider radius would silently miss pairs; " +
            "rewrite the store with writeSimhashStore(maxHamming=<radius>) " +
            "for a wider operating point")
        simhashScheme(chunks)
    }

  /** Near-dup pairs of a NEW batch against a [[writeSimhashStore]]
    * corpus: batch signatures (one pass over the batch), chunk
    * explosion at the STAMPED chunk count, equi-join on (chunk, bucket)
    * — no corpus-side shuffle — then the exact
    * `bit_count(xor) ≤ maxHamming` verify. Returns
    * (batch_id, corpus_id, hamming). `maxHamming` must stay within the
    * stamped layout's pigeonhole (chunks − 1: 3 for the default 4-chunk
    * store, 7 for an 8-chunk one, 15 for 16) — recall is exact up to
    * that radius; a store written for a wider radius serves any
    * narrower probe. Over-cap bucket groups are SKIPPED with a warning
    * (the joint-cap guard), the one recall exception. Does its work at
    * call time, on the driver for a small batch or as eager Spark jobs
    * — see [[minhashCandidatesAgainstStore]]'s note. */
  def simhashCandidatesAgainstStore(spark: SparkSession,
      batch: DataFrame, table: String,
      idCol: String = "doc_id", textCol: String = "text",
      maxHamming: Int = 3, maxBucketSize: Int = 100000): DataFrame = {
    val s = simhashScheme(spark, table, maxHamming)
    storeCandidates(s, spark, batch, table, idCol, textCol, maxBucketSize)
      .filter(s.hit(maxHamming))
  }

  /** Batch rows with no corpus match within `maxHamming` AND (by
    * default) one survivor per within-batch near-dup component — the
    * SimHash ingest filter; append survivors with
    * `writeSimhashStore(novel, table, mode = "append")`. */
  def simhashNovelAgainstStore(spark: SparkSession, batch: DataFrame, table: String,
      idCol: String = "doc_id", textCol: String = "text",
      maxHamming: Int = 3, maxBucketSize: Int = 100000,
      dedupWithinBatch: Boolean = true): DataFrame =
    storeNovel(simhashScheme(spark, table, maxHamming), spark, batch, table,
      idCol, textCol, maxHamming, maxBucketSize, dedupWithinBatch)

  // ------------------------------------------------- embedding near-dup

  /** Embedding-cosine near-dup: sign-LSH bucket join (random-hyperplane
    * signature over `bits` planes), exact cosine verify ≥ threshold inside
    * buckets. Planes are derived deterministically from (plane, dim) hashes
    * so all executors agree without shared state.
    *
    * OR-amplified over `tables` independent signature tables (each its own
    * planes): a near pair only has to collide in ONE table, so recall at
    * cosine c is 1-(1-p^bits)^tables with p = 1-acos(c)/π ([[signRecall]];
    * exact duplicates are always caught). Candidates are deduped across
    * tables before the exact verify.
    *
    * Plane sizing is RECALL-TARGETED by default (r17, the same
    * [[resolvePlanes]] rule as [[writeEmbeddingStore]], so the two
    * doors' defaults agree at equal thresholds): bits/tables ≤ 0
    * resolve via [[autoPlanes]] for ≥90% recall at THIS call's
    * `threshold` — (13, 8) at 0.95 where the pre-r17 hand-set 12/4
    * gave a correct-but-surprising ~73%. Pinning both keeps them
    * verbatim; pinning one derives the other. */
  def nearDupEmbedding(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 0, tables: Int = 0,
      maxBucketSize: Int = 100000): DataFrame = {
    val (bitsR, tablesR) = resolvePlanes("nearDupEmbedding", threshold,
      targetRecall = 0.9, bits, tables)
    runPass(embeddingPass(bitsR, tablesR, threshold), df, idCol, vecCol,
      maxBucketSize)
  }

  /** The embedding [[PairPass]] at (bits, tables): one sign-LSH signature
    * per table as the (t, sig) keys — signed with the vectors, so the
    * snapshot holds them and no consumer redoes the hyperplane dots — and
    * the vector riding the join for the exact `cosine` ≥ `threshold`.
    * Null vectors are kept: their null signatures never join. */
  private def embeddingPass(bits: Int, tables: Int, threshold: Double): PairPass =
    PairPass((df, idCol, vecCol) => embeddingCast(df, idCol, vecCol)
        .select(col("id"), col("vec"),
          embeddingSigArray(col("vec"), bits, tables).as("__sigs")),
      col("__sigs"), Seq("vec"), Nil,
      Seq(Similarity.cosine(col("vec_a"), col("vec_b")).as("cosine")),
      col("cosine") >= threshold)

  /** Embedding near-dup dedup end to end: one survivor (min id) per
    * connected near-dup component — the cosine tier's
    * [[dedupNearMinhash]] sibling, and the within-batch pass of
    * [[embeddingNovelAgainstStore]]. */
  def dedupNearEmbedding(dfIn: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 0, tables: Int = 0,
      maxBucketSize: Int = 100000): DataFrame =
    keepMinIdSurvivors(dfIn, idCol,
      nearDupEmbedding(dfIn, idCol, vecCol, threshold, bits, tables, maxBucketSize))

  // --------------------------------------------- embedding corpus store

  /** Sign-LSH recall at cosine `cos` under (bits, tables): a pair
    * collides in ONE table with probability p^bits where
    * p = 1 − acos(cos)/π (the random-hyperplane agreement probability,
    * Charikar 2002), and anywhere with 1 − (1 − p^bits)^tables. */
  private[graft] def signRecall(cos: Double, bits: Int, tables: Int): Double = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, cos))) / math.Pi
    1.0 - math.pow(1.0 - math.pow(p, bits), tables)
  }

  /** Tables needed for `targetRecall` at cosine `threshold` with
    * `bits`-plane signatures: ceil(ln(1−target)/ln(1−p^bits)). */
  private def tablesFor(threshold: Double, targetRecall: Double,
      bits: Int): Int = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    val pb = math.pow(p, bits)
    if (pb >= 1.0) 1
    else if (pb <= 0.0) Int.MaxValue
    else math.ceil(math.log1p(-targetRecall) / math.log1p(-pb)).toInt.max(1)
  }

  /** Recall-targeted (bits, tables) for a sign-LSH index — the
    * [[autoBands]] analog of the cosine tier: the widest (most
    * selective) signature whose table count for `targetRecall` at the
    * `threshold` operating point stays within `maxTables`. Wider
    * signatures need more OR-amplification tables (index size ∝ tables)
    * but shed false candidates exponentially (a random pair collides
    * anywhere with ~tables/2^bits), so the scan runs bits high→low and
    * takes the first fit; if even the narrowest considered signature
    * (8 bits) cannot reach the target within `maxTables`, that floor is
    * returned and the novel door's recall warning fires at join time.
    * autoPlanes(0.95) = (13, 8): recall ≈ 0.90 at cosine 0.95 — vs
    * ~0.73 from the historical hand-set 12-bit/4-table default. */
  private[graft] def autoPlanes(threshold: Double,
      targetRecall: Double = 0.9, maxTables: Int = 8): (Int, Int) = {
    // full cosine domain: thresholds <= 0 are valid operating points
    // (the target is simply unreachable — tablesFor diverges, the scan
    // falls to the 8-bit floor and resolvePlanes' recall warning fires)
    require(threshold >= -1 && threshold < 1,
      s"autoPlanes: threshold $threshold outside [-1, 1)")
    require(targetRecall > 0 && targetRecall < 1,
      s"autoPlanes: targetRecall $targetRecall outside (0, 1)")
    (24 to 8 by -1).iterator
      .map(b => (b, tablesFor(threshold, targetRecall, b)))
      .collectFirst { case (b, t) if t <= maxTables => (b, t) }
      .getOrElse((8, maxTables))
  }

  /** Resolve a sign-LSH (bits, tables) request — the ONE sizing rule
    * the in-frame door ([[nearDupEmbedding]]) and the store writer
    * ([[writeEmbeddingStore]]) share, so their defaults can never drift
    * again (review r17): both pinned (> 0) → verbatim, no validation of
    * the recall target (the pre-r17 accept-anything contract); both
    * unset → [[autoPlanes]] at the threshold; exactly one pinned →
    * derive the other for the same target. Auto-resolved sizings that
    * cannot reach the target (the 8-bit floor) WARN — a pinned sizing
    * is the caller's informed choice and stays silent. */
  private[graft] def resolvePlanes(ctx: String, threshold: Double,
      targetRecall: Double, bits: Int, tables: Int,
      maxTables: Int = 8): (Int, Int) = {
    def checkTarget(): Unit = {
      // the full cosine domain is accepted (r18, ADVICE r17 #1): a
      // threshold <= 0 is a valid operating point at which the recall
      // target is simply unreachable — auto sizing falls to the 8-bit
      // floor and the warning below fires, matching autoPlanes
      require(threshold >= -1 && threshold <= 1,
        s"$ctx: auto plane sizing needs a cosine threshold in [-1, 1] — " +
          s"got $threshold; pin bits and tables explicitly for operating " +
          "points outside it")
      require(targetRecall > 0 && targetRecall < 1,
        s"$ctx: targetRecall $targetRecall outside (0, 1)")
    }
    val resolved = (bits > 0, tables > 0) match {
      case (true, true) => (bits, tables)
      case (false, false) =>
        checkTarget()
        if (threshold >= 1) (24, 1) // exact dups collide in any table
        else autoPlanes(threshold, targetRecall, maxTables)
      case (true, false) =>
        checkTarget()
        val t = if (threshold >= 1) 1 else tablesFor(threshold, targetRecall, bits)
        require(t <= 64,
          s"$ctx: $bits-bit signatures need $t tables for recall " +
            s"$targetRecall at cosine $threshold — an index that large is " +
            "almost certainly a mis-set operating point; use fewer bits " +
            "or let autoPlanes choose (bits=0, tables=0)")
        (bits, t)
      case (false, true) =>
        checkTarget()
        (if (threshold >= 1) 24
         else autoPlanes(threshold, targetRecall, maxTables = tables)._1,
          tables)
    }
    if ((bits <= 0 || tables <= 0) && threshold < 1 &&
        signRecall(threshold, resolved._1, resolved._2) < targetRecall - 1e-9)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        f"$ctx: auto-sized planes (${resolved._1} bits × ${resolved._2} " +
          f"tables) reach only ${100 * signRecall(threshold, resolved._1, resolved._2)}%.0f%% " +
          f"recall at cosine $threshold — the table budget cannot meet " +
          f"targetRecall $targetRecall at this operating point (exact " +
          "duplicates are still always caught)")
    resolved
  }

  /** Table property stamped by [[writeEmbeddingStore]]:
    * `v1:<bits>:<tables>`. */
  val EmbeddingStoreProp = "graft.dedup.embeddingParams"

  /** Suffix of the per-row vector table living next to a
    * [[writeEmbeddingStore]] bucket table. */
  val EmbeddingVecTableSuffix = "__vecs"

  /** (id, vec) cast pass shared by the embedding store doors; null
    * vectors dropped (they can never verify, and a null signature would
    * otherwise share one bucket per table — the minhash hash(null)
    * lesson). */
  private def embeddingVecs(df: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    embeddingCast(df, idCol, vecCol).filter(col("vec").isNotNull)

  /** (id, vec) with `vec` cast to array<double>, null vectors kept — the
    * input projection of [[nearDupEmbedding]] and [[embeddingVecs]]. */
  private def embeddingCast(df: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))

  /** `vec`'s sign-LSH signature in each of `tables` seeded plane sets,
    * as one array of (t, sig) structs — the ONE signature derivation the
    * self-join door ([[nearDupEmbedding]], which snapshots the array
    * before exploding it) and the store doors (the scheme's `keys`)
    * share, so store buckets can never drift from the in-frame ones. */
  private def embeddingSigArray(vec: Column, bits: Int, tables: Int): Column =
    array((0 until tables).map(t => struct(lit(t).as("t"),
      Similarity.signSignatureSeeded(bits, t)(vec).as("sig"))): _*)

  /** The embedding tier's [[BucketScheme]] at (bits, tables): (t, sig)
    * keys, the `__vecs` sibling, the exact cosine. Its recall warning is
    * the cosine tier's analog of the banding tiers' collision-point
    * warning: the STAMPED planes fix the recall curve, and a threshold
    * whose recall under them is poor mostly declares near-dups novel. */
  private def embeddingScheme(bits: Int, tables: Int): BucketScheme =
    BucketScheme("embedding", EmbeddingStoreProp, "v1", Seq(bits, tables),
      Seq("t", "sig"), "vec", Some(EmbeddingVecTableSuffix), "cosine",
      isDistance = false, embeddingVecs, embeddingSigArray(_, bits, tables),
      Similarity.cosine,
      threshold => {
        val recall = signRecall(threshold, bits, tables)
        Option.when(recall < 0.9)(f"the stamped $bits-bit × " +
          f"$tables-table planes catch only ${recall * 100}%.0f%% of " +
          f"pairs at cosine $threshold (exact duplicates always) — " +
          "most near-dups at that similarity will be declared novel; " +
          "rewrite the store with autoPlanes sizing (writeEmbeddingStore " +
          "bits=0/tables=0 with autoThreshold at this operating point)")
      },
      embeddingPass(bits, tables, _))

  private[graft] def embeddingScheme(spark: SparkSession, table: String): BucketScheme =
    stampParams(spark, table, "embedding", EmbeddingStoreProp, "v1") {
      case Seq(bits, tables) => embeddingScheme(bits, tables) }

  /** Persist a corpus's sign-LSH embedding index — the cosine tier of
    * the persistent near-dup family ([[writeMinhashStore]] /
    * [[writeSimhashStore]]). Same two-table discipline as the minhash
    * index: slim (id, t, sig) bucket rows bucketed by the join key,
    * plus an (id, vec) table bucketed by id for the exact-cosine verify
    * (fetched once per DEDUPED pair). RECALL is the sign-LSH curve, not
    * exact ([[signRecall]]): a pair at cosine c collides in one table
    * with probability p^bits (p = 1 − acos(c)/π) and anywhere with
    * 1 − (1 − p^bits)^tables — exact duplicates always — while
    * PRECISION is exact (every emitted pair carries the true cosine).
    * Batches dedup against precisely what [[nearDupEmbedding]] finds on
    * the union AT THE STAMPED (bits, tables). Both doors default to the
    * same [[resolvePlanes]] auto-sizing, so defaults agree whenever the
    * in-frame threshold equals this writer's `autoThreshold`; for any
    * other operating point pass the stamped planes to nearDupEmbedding
    * for a like-for-like comparison (EmbeddingStoreSpec does exactly
    * this).
    *
    * Plane sizing is RECALL-TARGETED by default: bits/tables ≤ 0 (the
    * default) resolves via [[autoPlanes]] to the stamped operating
    * point — `autoThreshold` cosine at `targetRecall` — (13, 8) for the
    * 0.95/0.9 defaults, ≥90% recall where the historical hand-set 12/4
    * gave a correct-but-surprising ~73%. Setting exactly one of
    * bits/tables derives the other for the same target; setting both
    * pins them verbatim (the pre-r17 behavior). The novel door WARNS
    * when a requested threshold's recall under the STAMPED parameters
    * falls below ~90%.
    *
    * `mode = "append"` ingests accepted batches; the stamp and the
    * [[BucketRowBoundProp]] are unset for the non-atomic two-table write
    * window, like the minhash index, and the bound is kept as there. */
  def writeEmbeddingStore(df: DataFrame, table: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bits: Int = 0, tables: Int = 0, buckets: Int = 64,
      mode: String = "overwrite", maxBucketSize: Int = 100000,
      autoThreshold: Double = 0.95, targetRecall: Double = 0.9): Unit = {
    val (bitsR, tablesR) = resolvePlanes("writeEmbeddingStore",
      autoThreshold, targetRecall, bits, tables)
    writeStore(embeddingScheme(bitsR, tablesR), df, table, idCol, vecCol,
      buckets, mode, maxBucketSize)
  }

  /** Drop BOTH tables of a [[writeEmbeddingStore]] index. */
  def dropEmbeddingStore(spark: SparkSession,
      table: String): Unit = dropStore(spark, table, EmbeddingVecTableSuffix)

  /** Candidate pairs of a NEW batch against a [[writeEmbeddingStore]]
    * corpus, with the EXACT cosine attached (the verify is built in —
    * every emitted pair carries the true cosine, so filtering at a
    * threshold gives exactly what [[nearDupEmbedding]] finds on the
    * union AT THE STAMPED (bits, tables); see the writer's parity
    * note). Returns (batch_id, corpus_id, cosine). Does its work at
    * call time, on the driver for a small batch or as eager Spark jobs
    * — see [[minhashCandidatesAgainstStore]]'s note. */
  def embeddingCandidatesAgainstStore(spark: SparkSession,
      batch: DataFrame, table: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBucketSize: Int = 100000): DataFrame =
    storeCandidates(embeddingScheme(spark, table), spark, batch, table, idCol,
      vecCol, maxBucketSize)

  /** Batch rows with no corpus match at `threshold` cosine AND (by
    * default) one survivor per within-batch near-dup component — the
    * embedding ingest filter; append survivors with
    * `writeEmbeddingStore(novel, table, mode = "append")`. Null-vector
    * rows never match and always come back novel. */
  def embeddingNovelAgainstStore(spark: SparkSession,
      batch: DataFrame, table: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.95, maxBucketSize: Int = 100000,
      dedupWithinBatch: Boolean = true): DataFrame =
    storeNovel(embeddingScheme(spark, table), spark, batch, table, idCol,
      vecCol, threshold, maxBucketSize, dedupWithinBatch)

  // -------------------------------------------------- decontamination

  /** Train-set rows sharing at least one word `n`-gram with a benchmark /
    * eval document set (the standard "n-gram overlap" decontamination
    * check, n=8..13 in published pipelines). Returns the distinct
    * contaminated train ids.
    *
    * Scale shape: the benchmark side (small by definition — eval sets are
    * thousands of docs, not billions) collapses to its distinct grams and
    * is broadcast, so the 100 TB train side never shuffles for the join;
    * the only train-side shuffle is the final id-distinct. Documents
    * shorter than `n` tokens contribute their whole text as one gram
    * (matching [[wordNgrams]]). */
  def contaminated(train: DataFrame, trainId: String, trainText: String,
      bench: DataFrame, benchText: String, n: Int = 8): DataFrame = {
    // materialize the token array per document BEFORE the gram transform
    // (the per-element re-tokenization trap wordNgrams documents): the
    // tokenizer regex runs once per document, not once per gram position
    // — this is the 100 TB side of the module.
    // Null text filtered on BOTH sides: without it, null tokens fall to
    // wordNgramsOfTokens' whole-text branch as the [""] gram, so one
    // null-text bench row would mark every null-text train row
    // contaminated — and the store door ([[contaminatedAgainstStore]]),
    // which null-filters in ngramSets, would disagree (review r17)
    val tg = train
      .filter(col(trainText).isNotNull)
      .select(col(trainId).as("id"),
        TextAnalysis.tokens(TextAnalysis.normalized(col(trainText))).as("__toks"))
      .select(col("id"), explode(wordNgramsOfTokens(col("__toks"), n)).as("gram"))
    val bg = bench
      .filter(col(benchText).isNotNull)
      .select(TextAnalysis.tokens(TextAnalysis.normalized(col(benchText))).as("__toks"))
      .select(explode(wordNgramsOfTokens(col("__toks"), n)).as("gram")).distinct()
    tg.join(broadcast(bg), Seq("gram")).select("id").distinct()
  }

  /** [[contaminated]] complement: `train` rows that share NO word n-gram
    * with the benchmark set, all columns kept (left-anti join on the
    * contaminated id set). */
  def decontaminate(train: DataFrame, trainId: String, trainText: String,
      bench: DataFrame, benchText: String, n: Int = 8): DataFrame = {
    val bad = contaminated(train, trainId, trainText, bench, benchText, n)
    train.join(bad, train(trainId) === bad("id"), "left_anti")
  }

  // --------------------------------------------- decontamination store

  /** Table property stamped by [[writeDecontamStore]]: `v1:<n>`. */
  val DecontamStoreProp = "graft.dedup.decontamParams"

  /** Persist a benchmark/eval suite's distinct word-n-gram HASH set —
    * the decontamination tier of the persistent index family: eval
    * suites are stable across ingest batches, so the
    * normalize→tokenize→gram pass over them is paid ONCE here and every
    * later batch pays only its own gram stream plus a broadcast join
    * against this (small — one 8-byte hash per distinct gram) table.
    * Grams travel as xxhash64 longs, the family's hash-only discipline
    * (collisions ~2⁻⁶⁴); docs shorter than `n` tokens contribute their
    * whole text as one gram, matching [[contaminated]]. One column
    * (`gram` BIGINT), plain parquet — the join door BROADCASTS the
    * table, which ignores bucketing, so no bucketed layout is paid
    * for. The stamped `n` refuses mixed gram lengths at both doors
    * (grams of different n never match — every miss would be silent).
    * `mode = "append"` ingests additional eval suites (batch-distinct
    * on write; cross-append duplicates are harmless — the join door
    * re-distincts its broadcast side). */
  def writeDecontamStore(bench: DataFrame, table: String,
      textCol: String = "text", n: Int = 8, buckets: Int = 16,
      mode: String = "overwrite"): Unit = {
    val spark = bench.sparkSession
    val payload = s"v1:$n"
    val w = checkStoreWrite(spark, table, mode, DecontamStoreProp, payload,
      "writeDecontamStore")
    val grams = ngramSets(bench.select(lit(0L).as("__id"), col(textCol)),
        "__id", textCol, n)
      .select(explode(col("ng")).as("gram")).distinct()
    // plain parquet, no bucketBy: the only reader BROADCASTS the table
    // (a broadcast join ignores bucketing), so a bucketed layout would
    // pay a write-side sort for zero read-side benefit (review r17);
    // the repartition just bounds the file count of a small table
    grams
      .repartition(buckets)
      .write.mode(mode)
      .format("parquet").saveAsTable(table)
    stampStore(spark, table, w, DecontamStoreProp, payload, batchBound = None)
  }

  /** [[contaminated]] against a [[writeDecontamStore]] suite: train rows
    * sharing at least one word n-gram (at the STAMPED n) with the stored
    * eval grams. The store side is re-distincted (append overlap) and
    * broadcast — eval suites are small by definition, the same premise
    * as the direct door — so the 100 TB train side never shuffles for
    * the join; its only shuffle is the final id-distinct. Returns the
    * distinct contaminated train ids. */
  def contaminatedAgainstStore(spark: SparkSession,
      train: DataFrame, trainId: String, trainText: String,
      table: String): DataFrame = {
    val n = stampParams(spark, table, "decontam", DecontamStoreProp, "v1") {
      case Seq(gramN) => gramN }
    val store = spark.table(table)
    require(store.columns.contains("gram"),
      s"$table does not have writeDecontamStore's (gram) layout")
    val tg = ngramSets(train, trainId, trainText, n)
      .select(col("id"), explode(col("ng")).as("gram"))
    tg.join(broadcast(store.select(col("gram")).distinct()), Seq("gram"))
      .select("id").distinct()
  }

  /** [[decontaminate]] against a [[writeDecontamStore]] suite: train
    * rows sharing NO stored gram, all columns kept. */
  def decontaminateAgainstStore(spark: SparkSession,
      train: DataFrame, trainId: String, trainText: String,
      table: String): DataFrame = {
    val bad = contaminatedAgainstStore(spark, train, trainId, trainText, table)
    train.join(bad, train(trainId) === bad("id"), "left_anti")
  }

  // ------------------------------------ cross-document duplicated spans

  /** Token k-gram hashes WITH multiplicity and position order (unlike
    * [[wordNgrams]], which set-dedups) — one xxhash64 per gram position,
    * so nothing downstream ever shuffles gram STRINGS. Docs shorter than
    * `n` tokens contribute their whole text as one gram (same convention
    * as [[wordNgrams]]). */
  def gramHashSeq(text: Column, n: Int): Column =
    gramHashesOfTokens(TextAnalysis.tokens(TextAnalysis.normalized(text)), n)

  /** [[gramHashSeq]] over an already-materialized token array column (use
    * this when tokens feed several expressions — an attribute is computed
    * once, an inline tokenizer re-runs per consumer). */
  def gramHashesOfTokens(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => xxhash64(concat_ws(" ", slice(toks, i + 1, lit(n))))))
      .otherwise(array(xxhash64(concat_ws(" ", toks))))

  /** Cross-document duplicated k-gram signal — the distributed shape of
    * exact-substring dedup (spans repeated across documents; the
    * train-data dedup described in Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", 2022). Per document: how many of
    * its k-gram positions carry a gram that also occurs in at least
    * `minDocs` distinct documents (itself included).
    *
    * Output: (id, n_grams, n_dup_grams, dup_frac).
    *
    * Scale shape: grams travel as xxhash64 longs, never strings; the
    * per-(gram, doc) pre-aggregate is map-side combined, the gram-level
    * document count is a count over that compact set, and the join back
    * is hash-on-long. Boilerplate grams are the classic skew key — at
    * cluster scale enable AQE skew join; the aggregates themselves are
    * insensitive. */
  def crossDocGramStats(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minDocs: Int = 2): DataFrame = {
    val exploded = df
      .select(col(idCol).as("id"), explode(gramHashSeq(col(textCol), n)).as("gh"))
    // one row per (gram, doc) with the doc's position count
    val perDoc = exploded.groupBy(col("gh"), col("id"))
      .agg(count(lit(1)).as("c"))
    // grams present in >= minDocs distinct docs (perDoc is unique per
    // (gh, id), so the doc count is a plain count)
    val dupGrams = perDoc.groupBy(col("gh"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("gh")
    val dupPerDoc = perDoc.join(dupGrams, Seq("gh"))
      .groupBy(col("id")).agg(sum(col("c")).as("n_dup_grams"))
    // per-doc totals from the SAME compact (gram, doc) aggregate — the
    // two branches share an identical exchange subtree, so ReuseExchange
    // tokenizes the corpus once (deriving totals from the raw text again
    // would re-run the tokenizer over every document)
    val totals = perDoc.groupBy(col("id")).agg(sum(col("c")).as("n_grams"))
    totals
      .join(dupPerDoc, Seq("id"), "left")
      .select(col("id"), col("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"))
      .withColumn("dup_frac",
        when(col("n_grams") > 0,
          col("n_dup_grams").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Span starts of cross-document duplicated k-grams: (id, pos, gh),
    * 0-based token position — the removal-tool feed ([[crossDocGramStats]]
    * aggregates this to per-doc fractions). Spans overlap by construction
    * (consecutive positions of a long shared run each emit); merging
    * overlapping [pos, pos+n) intervals is the consumer's (cheap,
    * per-document) step. */
  def crossDocDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minDocs: Int = 2): DataFrame = {
    val exploded = df
      .select(col(idCol).as("id"),
        posexplode(gramHashSeq(col(textCol), n)).as(Seq("pos", "gh")))
    val dupGrams = exploded.select(col("gh"), col("id")).distinct()
      .groupBy(col("gh")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select("gh")
    exploded.join(dupGrams, Seq("gh")).select("id", "pos", "gh")
  }

  /** Exact-substring dedup, removal step: rebuild each document's
    * NORMALIZED text with cross-document duplicated runs removed.
    * Ownership is decided PER GRAM (the smallest id sharing that gram
    * keeps its copy; every other document drops the covered tokens), so
    * for each shared gram exactly one corpus-wide occurrence survives.
    * NB the guarantee is gram-granular, not run-granular: when shared
    * runs of different document subsets OVERLAP, a document can own one
    * gram while a neighboring gram (owned elsewhere) strips part of the
    * same run — the union of surviving grams still covers every shared
    * sequence corpus-wide, but no single document is guaranteed an
    * intact copy of a run longer than n. Within-document repeats are not
    * touched (they are the repetition signals' job, not dedup's).
    *
    * Output: (id, text) — text is the kept-token join; a document whose
    * every token is covered (e.g. a short doc wholly contained in an
    * earlier one) comes back empty, ready for a length filter. Ids may be
    * any orderable type (integral, string, ...); ownership is min-by-id.
    *
    * Scale shape: same hash-only gram stream as [[crossDocGramStats]];
    * ownership is a (min, count) aggregate per gram; covered positions
    * come back as one array per document (bounded by doc length), and the
    * token filter is an indexed higher-order function — no UDF, no
    * per-row quadratic work beyond tokens × spans. */
  def stripCrossDocDuplicates(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minDocs: Int = 2): DataFrame = {
    // id keeps its ORIGINAL type — min/join/groupBy work for any orderable
    // key, and a cast-to-long would silently null out string ids, merging
    // every non-numeric document into one null-keyed group.
    val base = df.select(col(idCol).as("id"),
      TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))).as("toks"))
    val posGrams = base.select(col("id"),
      posexplode(gramHashesOfTokens(col("toks"), n)).as(Seq("pos", "gh")))
    val owners = posGrams.select(col("gh"), col("id")).distinct()
      .groupBy(col("gh"))
      .agg(min(col("id")).as("owner"), count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("gh"), col("owner"))
    val strip = posGrams.join(owners, Seq("gh"))
      .filter(col("id") =!= col("owner"))
      .groupBy(col("id")).agg(collect_list(col("pos")).as("spans"))
    base.join(strip, Seq("id"), "left")
      .select(col("id"),
        when(col("spans").isNull, concat_ws(" ", col("toks")))
          .otherwise(concat_ws(" ",
            filter(col("toks"), (_, i) =>
              !exists(col("spans"), p => i >= p && i < p + n))))
          .as("text"))
  }

  // ------------------------------------------- near-dup pair clustering

  /** Driver-tier bound of [[connectedComponents]]: a graph of at most
    * 2^18 canonical edges and 32 MB of estimated row bytes is collected
    * and resolved by a union-find on the driver. Each edge then costs
    * its collected Row plus up to two one-column key rows and node
    * slots — a few hundred bytes — so the tier holds on the order of
    * 100 MB of driver heap while it runs, and its output (one row per
    * node) reaches the consumers' tasks as a local relation, split
    * across their partitions. Larger graphs stay on the executors (the
    * star rounds). */
  private val CcDriverMaxEdges = 1L << 18
  private val CcDriverMaxBytes = 32L << 20

  /** Connected components over an undirected edge list — the step that
    * turns pairwise near-dup hits into dedup GROUPS (a ~ b, b ~ c ⇒ one
    * cluster, one survivor).
    *
    * The edge set is canonicalized first (u < v, distinct, self-loops
    * dropped) and its lineage truncated ([[canonicalEdges]]). Then two
    * tiers:
    *  - DRIVER, for graphs within 2^18 edges and 32 MB (the near-dup
    *    graph of a batch is usually a handful of edges): the edges are
    *    collected and a union-find resolves them in one driver pass, so
    *    the call costs the canonicalizing job and one collect instead of
    *    several jobs per star round. The result is a local frame.
    *  - STAR ROUNDS above the bound ([[starRoundComponents]]). `maxIter`
    *    bounds these rounds only; running out of it throws.
    *
    * Ids may be any orderable Spark type (integral, string, binary, ...).
    * Returns `(id, component)` for every id appearing in `pairs`, where
    * `component` is the smallest id reachable under Spark's ordering of
    * the id type; both tiers give the same frame, columns, types and
    * nullability included.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame = {
    val edges = canonicalEdges(pairs, aCol, bCol)
    // the union-find keys nodes by their binary row form, so a collated
    // string id (equal values, different bytes) stays on the star rounds
    val driverRows =
      if (!UnsafeRowUtils.isBinaryStable(edges.schema("u").dataType)) None
      else graft.join.SpatialJoin.collectBounded(edges, CcDriverMaxEdges,
        CcDriverMaxBytes)
    driverRows match {
      case Some(rows) => driverComponents(edges, rows)
      case None => starRoundComponents(edges, maxIter)
    }
  }

  /** The canonical (u, v) edge set of `pairs`: u < v, distinct,
    * self-loops (and null ends) dropped, lineage truncated — with a
    * RELIABLE checkpoint dir configured (`sc.setCheckpointDir`, e.g. an
    * HDFS/S3 path) the frame is written there, otherwise it falls back to
    * `localCheckpoint` (executor-block storage — fine on local[*] / small
    * jobs, but a lost executor kills the lineage irrecoverably, so set a
    * checkpoint dir for long cluster runs). */
  private[graft] def canonicalEdges(pairs: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val u = col("u"); val v = col("v")
    truncateLineage(pairs
      .select(col(aCol).as("u"), col(bCol).as("v"))
      .filter(u =!= v)
      .select(least(u, v).as("u"), greatest(u, v).as("v"))
      .distinct())
  }

  /** Reliable checkpoint when the session has a dir configured (eager —
    * same semantics as localCheckpoint(true)), executor-local otherwise. */
  private def truncateLineage(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.localCheckpoint(true)

  /** Driver tier of [[connectedComponents]]: union-find over the
    * collected canonical `edges`. Nodes are keyed by their one-column
    * `UnsafeRow` ([[idKey]]), so every id type — binary included — is
    * keyed by value, and numbered in Spark's own ordering of the id type
    * (the one `min` uses), so each class's root ([[minRoots]]), and so
    * its component, is its minimum: labels equal the star rounds'. */
  private def driverComponents(edges: DataFrame, rows: Array[Row]): DataFrame = {
    val uField = edges.schema("u")
    val idType = uField.dataType
    val key = idKey(idType)
    val index = scala.collection.mutable.HashMap.empty[InternalRow, Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    def node(id: Any): Int = index.getOrElseUpdate(key(id), { ids += id; ids.length - 1 })
    val ends = rows.map(r => (node(r.get(0)), node(r.get(1))))
    val (order, _) = sortIds(idType, ids.toIndexedSeq)
    val rank = new Array[Int](order.length)
    order.indices.foreach(i => rank(order(i)) = i)
    val root = minRoots(order.length, ends.iterator.map { case (a, b) => (rank(a), rank(b)) })
    val out = order.indices.map(i => Row(ids(order(i)), ids(order(root(i)))))
    // the star rounds' schema: `id` from the union of both edge ends,
    // `component` from a min aggregate (always nullable)
    val schema = StructType(Seq(
      StructField("id", idType, uField.nullable || edges.schema("v").nullable),
      StructField("component", idType, nullable = true)))
    edges.sparkSession.createDataFrame(out.asJava, schema)
  }

  /** Union-find over nodes `0 until n` numbered in id order: the root of
    * each node, the smallest node of its class. The one union-find of the
    * driver tiers ([[driverComponents]], [[driverSurvivors]]). */
  private def minRoots(n: Int, edges: Iterator[(Int, Int)]): Array[Int] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var y = x
      while (parent(y) != root) { val next = parent(y); parent(y) = root; y = next }
      root
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    Array.tabulate(n)(find)
  }

  /** Star-round tier of [[connectedComponents]] over canonical `edges`
    * ([[canonicalEdges]]): alternating large-star / small-star (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    * each round is two shuffle-bounded groupBy/join passes over the edge
    * set, and the edge set converges to per-component stars rooted at
    * the component minimum in O(log n) rounds even for path graphs
    * (plain min-label propagation needs O(diameter)). No driver-side
    * state: ids never leave the cluster except for the two scalar
    * convergence aggregates per round. Lineage is truncated every round
    * the same way as the input edges. Throws `IllegalStateException`
    * when `maxIter` rounds end without convergence: the labels of an
    * unconverged round are wrong, not approximate. */
  private[graft] def starRoundComponents(edges0: DataFrame,
      maxIter: Int): DataFrame = {
    val u = col("u"); val v = col("v")
    var edges = edges0

    // set signature = (count, xor of row hashes): order-insensitive, safe
    // under ANSI mode (no sum overflow), sound because the set is distinct
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.select(xxhash64(u, v).as("h")).agg(count(lit(1)), expr("bit_xor(h)")).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var sig = signature(edges)
    val edgeCount = sig._1
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // both directions once per round; reused by both stars
      val nbrs = edges.select(u, v).unionAll(edges.select(v.as("u"), u.as("v")))
      // large-star: every neighbor v > u links to min(Γ(u) ∪ {u})
      val lmin = nbrs.groupBy(u).agg(min(v).as("__mv"))
        .select(u, least(col("__mv"), u).as("m"))
      val large = nbrs.join(lmin, "u").filter(v > u)
        .select(v.as("u"), col("m").as("v"))
      // small-star over edges directed large→small: all small neighbors
      // (and u itself) link to the smallest
      val dirSmall = large.filter(u =!= v)
        .select(greatest(u, v).as("u"), least(u, v).as("v"))
        .distinct()
      val smin = dirSmall.groupBy(u).agg(min(v).as("m"))
      val small = truncateLineage(dirSmall.join(smin, "u")
        .select(v.as("u"), col("m").as("v"))
        .unionAll(smin.select(u, col("m").as("v")))
        .filter(u =!= v)
        .select(least(u, v).as("u"), greatest(u, v).as("v"))
        .distinct())
      val nsig = signature(small)
      converged = nsig == sig
      sig = nsig
      edges = small
      it += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents: the star rounds did not converge within " +
        s"maxIter = $maxIter rounds over $edgeCount edges — the labels " +
        "would be wrong; raise maxIter")
    // at the fixpoint edges form stars (member, root); roots label themselves
    edges.select(v.as("id"), u.as("component"))
      .unionAll(edges.select(u.as("id"), u.as("component")))
      .groupBy(col("id")).agg(min(col("component")).as("component"))
  }

  /** Cluster assignment for EVERY row of `df`: near-dup components from
    * [[nearDupMinhash]] pairs, singletons keep their own id. Output:
    * `(id, cluster)` with cluster = min id of the row's component. */
  def clusterNearMinhash(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 64, bands: Int = 0,
      shingleK: Int = 5): DataFrame = {
    val pairs = nearDupMinhash(df, idCol, textCol, threshold, numHashes, bands, shingleK)
    val comps = connectedComponents(pairs, "id_a", "id_b")
    df.select(col(idCol).as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cluster"))
  }

  /** Near-dup dedup end to end: keep one survivor per cluster (the row
    * whose id IS the cluster minimum). Returns the surviving rows of `df`
    * with all original columns. */
  def dedupNearMinhash(dfIn: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 64, bands: Int = 0,
      shingleK: Int = 5): DataFrame =
    keepMinIdSurvivors(dfIn, idCol,
      nearDupMinhash(dfIn, idCol, textCol, threshold, numHashes, bands, shingleK))
}
