package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.pipeline.{Dedup, TextAnalysis}
import graft.serde.EWKB

/** Kernel-level probes of the traced run: each times one layer's public
  * function in isolation, outside the workload cycles. */
object Probes {
  @volatile private var sink = 0L

  /** Fixed CPU loop (xorshift, no allocation): its time flags a run whose
    * window was contended by something else on the machine. */
  def calibCpuS(): Double = {
    val t = System.nanoTime()
    var s = 88172645463325252L
    var i = 0
    while (i < 200000000) {
      s ^= s << 13; s ^= s >>> 7; s ^= s << 17
      i += 1
    }
    sink += s
    (System.nanoTime() - t) / 1e9
  }

  /** Repeat `body` over `n` items until at least `minS` seconds pass;
    * nanoseconds per item. */
  private def nsPer(n: Int, minS: Double)(body: => Unit): Double = {
    body
    val t = System.nanoTime()
    var reps = 0
    while (System.nanoTime() - t < minS * 1e9) { body; reps += 1 }
    (System.nanoTime() - t).toDouble / (reps.toLong * n)
  }

  /** EWKB decode and encode per geometry on the workload's own sample. */
  def serde(sample: Array[Array[Byte]]): Map[String, Double] = {
    val geoms = sample.map(EWKB.read)
    Map(
      "serde.decode_ns" -> nsPer(sample.length, 0.3) {
        sample.foreach(b => sink += EWKB.read(b).getNumPoints)
      },
      "serde.encode_ns" -> nsPer(geoms.length, 0.3) {
        geoms.foreach(g => sink += EWKB.write(g).length)
      },
      "serde.bytes_per_geom" -> sample.map(_.length.toDouble).sum / sample.length)
  }

  /** Median wall of three runs of `df`'s action, per row of `rows`. */
  private def perRowNs(rows: Long, df: DataFrame): Double = {
    df.collect()
    Stats.median((1 to 3).map { _ =>
      val t = System.nanoTime()
      df.collect()
      (System.nanoTime() - t).toDouble
    }) / rows
  }

  /** ns per row of single-function projections over a persisted EWKB
    * sample (rects, shifted rects, lon/lat points, circular arcs). */
  def functions(spark: SparkSession, seed: Long): Map[String, Double] = {
    val rows = 65536L
    val base = spark.range(rows).select(col("id"),
      ((col("id") * 7919 + seed) % 4096).cast("double").as("x"),
      ((col("id") * 104729 + seed) % 4096).cast("double").as("y"))
    val x = col("x"); val y = col("y")
    val sample = base.select(
      st_rectangle(x, y, x + 4, y + 3).as("a"),
      st_rectangle(x + 2, y + 1, x + 6, y + 4).as("b"),
      st_set_srid(st_point(x / 4096 * 300 - 150, y / 4096 * 140 - 70), lit(4326)).as("p"),
      st_circularstring(array(array(x, y), array(x + 2, y + 2), array(x + 4, y))).as("c"))
      .repartition(4).persist()
    sample.count()
    def sumOf(c: Column) = sample.select(c.as("v")).agg(sum(col("v")))
    def hashOf(c: Column) =
      sample.select(xxhash64(c).as("h")).agg(expr("bit_xor(h)"))
    try Map(
      "functions.measure_ns" -> perRowNs(rows, sumOf(st_area(col("a")))),
      "functions.predicate_ns" -> perRowNs(rows,
        sumOf(st_intersects(col("a"), col("b")).cast("int"))),
      "functions.overlay_ns" -> perRowNs(rows, hashOf(st_intersection(col("a"), col("b")))),
      "functions.crs_ns" -> perRowNs(rows, hashOf(st_to_srid(col("p"), lit(3857)))),
      "functions.curved_ns" -> perRowNs(rows, sumOf(st_length(col("c")))))
    finally sample.unpersist(true)
  }

  /** ns per document of the text quality stats and of the minhash
    * signature, over persisted generated documents. */
  def pipeline(spark: SparkSession, docs: Seq[String]): Map[String, Double] = {
    import spark.implicits._
    val d = docs.toDF("text").repartition(4).persist()
    d.count()
    val t = col("text")
    try Map(
      "pipeline.text_ns" -> perRowNs(docs.length, d.select(
        TextAnalysis.tokenCount(t).as("n"), TextAnalysis.alphaRatio(t).as("a"),
        TextAnalysis.langId(t).as("l"), TextAnalysis.qualityScore(t).as("q"),
        TextAnalysis.fingerprint(t).as("f"))
        .agg(sum(col("n")), sum(col("a")), count(col("l")), sum(col("q")),
          count(col("f")))),
      "pipeline.sign_ns" -> perRowNs(docs.length,
        d.select(TextAnalysis.normalized(t).as("norm"))
          .select(xxhash64(Dedup.minhashSigNative(col("norm"), 5, 64)).as("h"))
          .agg(expr("bit_xor(h)"))))
    finally d.unpersist(true)
  }
}
