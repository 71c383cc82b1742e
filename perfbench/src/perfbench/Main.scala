package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.util.control.NonFatal

import org.apache.spark.sql.functions._

/** Benchmark entry point: one workload, one seed, one closed-loop client.
  *
  * Untraced run (`--trace 0`): the end-to-end metrics. Traced run
  * (`--trace 1`): timed cycles alternate untraced and traced; the traced
  * ones give the per-layer metrics (listener-attributed jobs, plan counts,
  * spans), the untraced ones the per-door latencies and the tracing
  * overhead. The last stdout line is the JSON result.
  */
object Main {
  /** Set-ups per run; `setup_s` reports their median. */
  val SetupReps = 3
  /** Fewest timed cycles in a run, so the median has a middle sample. */
  val MinCycles = 3

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case NonFatal(e) =>
        e.printStackTrace()
        System.exit(1) // Spark's non-daemon threads would keep the JVM alive
    }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl: Workload = opts("workload") match {
      case "geo_scan" => GeoScan
      case "ingest" => Ingest
    }
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cores = opts("cores").toInt
    val dir = new File(opts("dir"))

    val calibBefore = if (trace) Probes.calibCpuS() else 0.0
    val spark = graft.api.GraftSession.builder("perfbench")
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", new File(dir, "local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(dir, "hadoop").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracker = if (trace) Some(new Tracker) else None
    tracker.foreach(spark.sparkContext.addSparkListener)
    spark.range(1000).agg(sum(col("id"))).collect()
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 - calibBefore

    val ctx = new Ctx(spark, new File(dir, "work"), seed, cores, tracker)
    ctx.dir.mkdirs()
    wl.prepareOracle(ctx)
    // set-up = fixtures, stores and index builds, timed SetupReps times
    // from scratch (median reported), plus the warm-up cycles after the first
    var warmupS = 0.0
    val setupS = (1 to SetupReps).map { rep =>
      if (rep > 1) wl.teardown(ctx)
      ctx.cycle = -rep
      val t = System.nanoTime()
      wl.setup(ctx)
      val s = (System.nanoTime() - t) / 1e9
      if (rep == 1) {
        val w = System.nanoTime()
        for (_ <- 1 to wl.warmupCycles) wl.cycle(ctx, -rep)
        warmupS = (System.nanoTime() - w) / 1e9
      }
      s
    }
    System.err.println(f"[perfbench] session $sessionS%.2f s, set-ups ${setupS.map(s => f"$s%.2f").mkString(" ")} s, warm-up ${wl.warmupCycles} cycles $warmupS%.2f s")

    val heap = ManagementFactory.getMemoryMXBean
    var heapPeak = 0L
    // A fixed number of cycles per run, sized so the timed phase takes about
    // `seconds` on the reference box: a time-boxed loop would give slower runs
    // fewer (and colder) cycles and amplify noise. A traced run alternates
    // untraced and traced cycles, so it needs an even count.
    val cycles = {
      val n = math.max(MinCycles, math.ceil(seconds / wl.nominalCycleS).toInt)
      if (trace) math.max(2, n + n % 2) else n
    }
    for (i <- 0 until cycles) {
      ctx.cycle = i
      // untraced, traced, traced, untraced, …: both halves see the same
      // mix of early (colder) and late cycles
      ctx.traced = trace && (i % 4 == 1 || i % 4 == 2)
      wl.cycle(ctx, i)
      System.err.println(f"[perfbench] cycle $i: ${cycleTimes(ctx.calls.filter(_.cycle == i).toSeq).sum}%.3f s")
      ctx.traced = false
      System.gc()
      heapPeak = math.max(heapPeak, heap.getHeapMemoryUsage.getUsed)
    }

    if (trace) {
      ctx.cycle = -100
      wl.probeCalls(ctx)
    }
    val calls = ctx.calls.toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", sessionS + Stats.median(setupS) + warmupS, "s"),
        ("rows_per_s", rowsPerS(calls.filter(_.cycle >= 0)), "rows/s"),
        ("cycle_p50_s", Stats.median(cycleTimes(calls.filter(_.cycle >= 0))), "s"),
        ("heap_peak_mb", heapPeak / 1048576.0, "MB"))
      else {
        val layers = Layers.of(ctx, wl, calls) +
          ("host.calib_cpu_s" -> (calibBefore + Probes.calibCpuS()) / 2)
        Spans.write(new File(opts("trace-dir"), s"${wl.name}-seed$seed.json"), calls)
        Layers.names.map(n => (n, layers.getOrElse(n, 0.0), Layers.unit(n)))
      }
    for ((n, cs) <- calls.filter(_.cycle >= 0).groupBy(_.name).toSeq.sortBy(_._1))
      System.err.println(f"[perfbench] $n%-16s n=${cs.length}%3d p50 ${Stats.median(cs.map(_.latencyS))}%.3f s")
    spark.stop()
    val failed = calls.count(!_.ok)
    println(Json.result(failed == 0, calls.length, failed, metrics))
    System.exit(0)
  }

  /** Wall of each timed cycle: the sum of its calls' latencies (door +
    * action), which leaves out the benchmark's own checks and GC. */
  def cycleTimes(calls: Seq[CallRec]): Seq[Double] =
    calls.groupBy(_.cycle).values.map(_.map(_.latencyS).sum).toSeq

  /** Median over cycles of the input rows of the cycle's successful calls
    * over the cycle's time. */
  def rowsPerS(calls: Seq[CallRec]): Double =
    Stats.median(calls.groupBy(_.cycle).values.map { cs =>
      cs.filter(_.ok).map(_.rowsIn).sum / math.max(1e-9, cs.map(_.latencyS).sum)
    }.toSeq)
}

object Json {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}
