package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchAccess
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** A wrong answer from a call: counted in `failed` and `error_rate`. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** Node counts of an executed plan, summed over the frames a call forced. */
final case class PlanCounts(fused: Int, native: Int, udf: Int, joinExecs: Int) {
  def +(o: PlanCounts): PlanCounts =
    PlanCounts(fused + o.fused, native + o.native, udf + o.udf, joinExecs + o.joinExecs)
}

object PlanCounts {
  val zero: PlanCounts = PlanCounts(0, 0, 0, 0)

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def of(plan: SparkPlan): PlanCounts = {
    val ns = nodes(plan)
    val exprs: Seq[Expression] = ns.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    def cls(e: AnyRef) = e.getClass.getName
    PlanCounts(
      fused = exprs.count(e => cls(e) == "graft.plans.STGeoFused"),
      native = exprs.count(e => cls(e).startsWith("graft.plans.") && cls(e).endsWith("Native")),
      udf = exprs.count(e => e.isInstanceOf[ScalaUDF] ||
        cls(e).endsWith("ScalaAggregator") || cls(e).endsWith("ScalaUDAF")),
      joinExecs = ns.count(n => n.getClass.getName.startsWith("graft.plans.SpatialJoin")))
  }
}

/** One call into a layer's public function: door phase (build the frame,
  * including any jobs the door runs eagerly), action phase (force it), then
  * the benchmark's own correctness check. Times are epoch milliseconds. */
final class CallRec(val cycle: Int, val name: String, val group: String,
    val traced: Boolean, val rowsIn: Long) {
  var doorS = 0.0
  var actionS = 0.0
  var planMs = 0.0
  var ok = true
  var outRows = 0L
  var counts: PlanCounts = PlanCounts.zero
  var door: GroupStats = GroupStats.empty
  var action: GroupStats = GroupStats.empty
  var cachedPeak = 0L
  var startMs, doorEndMs, actionEndMs, endMs = 0.0
  def latencyS: Double = doorS + actionS
  def all: GroupStats = door ++ action
}

/** Run context shared by setup, cycles and probes. */
final class Ctx(val spark: SparkSession, val dir: File, val seed: Long, val cores: Int,
    val tracker: Option[Tracker]) {
  val calls = mutable.ArrayBuffer.empty[CallRec]
  /** Cycle number of the calls being issued; negative during setup. */
  var cycle: Int = -1
  /** Whether the current cycle is traced (listener groups, plan counts). */
  var traced = false
  private var current: CallRec = null
  private var seq = 0
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble

  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  def path(name: String): String = new File(dir, name).getAbsolutePath

  /** Issue one call: `group` names the door-latency metric it counts
    * toward (see [[Layers.doorLatency]]), `door` builds the result (a lazy frame, or does the
    * whole work for eager calls), `action` forces it, `check` throws
    * [[CheckFailed]] on a wrong answer. Exceptions mark the call failed. */
  def call[A, B](name: String, group: String, rowsIn: Long)(door: => A)(
      action: A => B)(check: B => Unit): Unit = {
    val rec = new CallRec(cycle, name, group, traced, rowsIn)
    val sc = spark.sparkContext
    seq += 1
    val jobGroup = s"${Tracker.Prefix}$seq"
    current = rec
    if (traced) {
      tracker.get.resetCachedPeak()
      sc.setJobGroup(jobGroup + ":door", name)
    }
    rec.startMs = nowMs
    try {
      val t0 = System.nanoTime()
      val a = door
      val t1 = System.nanoTime()
      rec.doorS = (t1 - t0) / 1e9
      rec.doorEndMs = nowMs
      if (traced) sc.setJobGroup(jobGroup + ":action", name)
      val b = action(a)
      rec.actionS = (System.nanoTime() - t1) / 1e9
      rec.actionEndMs = nowMs
      if (traced) sc.clearJobGroup()
      check(b)
    } catch {
      case NonFatal(e) =>
        rec.ok = false
        System.err.println(s"[perfbench] call $name (cycle $cycle) failed: $e")
    } finally {
      if (traced) {
        sc.clearJobGroup()
        PerfbenchAccess.drainListenerBus(sc)
        val t = tracker.get
        rec.door = t.take(jobGroup + ":door")
        rec.action = t.take(jobGroup + ":action")
        rec.cachedPeak = t.cachedPeakBytes
      }
      rec.endMs = nowMs
      if (rec.actionEndMs == 0.0) rec.actionEndMs = rec.endMs
      if (rec.doorEndMs == 0.0) rec.doorEndMs = rec.actionEndMs
      calls += rec
      current = null
    }
  }

  /** Collect a frame inside a call's action: plan time (the executed plan
    * is built before the action runs) and, when traced, plan node counts
    * are added to the call. */
  def collect(df: DataFrame): Array[Row] = {
    val t = System.nanoTime()
    val qe = df.queryExecution
    qe.executedPlan
    if (current != null) current.planMs += (System.nanoTime() - t) / 1e6
    val rows = df.collect()
    if (traced && current != null) current.counts += PlanCounts.of(qe.executedPlan)
    rows
  }

  /** Output rows of the current call (the rows its result frame holds). */
  def outRows(n: Long): Unit = if (current != null) current.outRows += n
}

object Check {
  def apply(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new CheckFailed(msg)

  /** |a − b| ≤ tol · max(1, |b|): relative for large values, absolute near 0. */
  def close(a: Double, b: Double, tol: Double): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.abs(b))

  def near(what: String, got: Double, want: Double, tol: Double): Unit =
    apply(close(got, want, tol), s"$what: got $got, want $want (tol $tol)")
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Value at percentile `p` (nearest rank). */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
    }

  /** Spark's xxhash64(a) with the default seed, for checking id sets
    * against a `bit_xor(xxhash64(a))` aggregate. */
  def idHash(a: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(a, 42L)

  /** Spark's xxhash64(a, b) with the default seed, for checking pair sets
    * against a `bit_xor(xxhash64(a, b))` aggregate. */
  def pairHash(a: Long, b: Long): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    XXH64.hashLong(b, XXH64.hashLong(a, 42L))
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}

/** A workload: fixtures built by `setup`, one closed-loop `cycle` of calls,
  * and the per-layer numbers only it can report. */
trait Workload {
  def name: String
  /** Cycle wall on the reference box (4 cores): the timed phase runs
    * ceil(seconds / nominalCycleS) cycles, at least [[Main.MinCycles]]. */
  def nominalCycleS: Double
  /** Untimed cycles after the first set-up: the first cycle runs cold code
    * paths (class loading, codegen, JIT). */
  def warmupCycles: Int
  /** Build fixtures, stores and indexes from scratch (timed as set-up). */
  def setup(ctx: Ctx): Unit
  /** Drop what `setup` built, so the next set-up starts from nothing. */
  def teardown(ctx: Ctx): Unit
  /** Work the driver-side checks need that set-up does not (untimed). */
  def prepareOracle(ctx: Ctx): Unit = ()
  def cycle(ctx: Ctx, i: Int): Unit
  /** Sample of the workload's own geometries (EWKB), for the serde probe. */
  def geometrySample(ctx: Ctx): Array[Array[Byte]]
  /** Extra checked calls of the traced run, after the timed cycles. */
  def probeCalls(ctx: Ctx): Unit = ()
  /** Workload-specific per-layer metrics, from the traced run. */
  def layerMetrics(ctx: Ctx): Map[String, Double] = Map.empty
}
