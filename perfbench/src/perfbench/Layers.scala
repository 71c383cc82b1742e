package perfbench

import java.io.{File, PrintWriter}

/** Per-layer metrics of the traced run. Each per-cycle figure is summed
  * over one traced cycle's calls; the reported value is the median over
  * traced cycles. Layers a workload does not touch report 0: the function
  * kernel probes run on geo_scan only, the pipeline kernel probes on ingest
  * only. */
object Layers {
  /** Join door calls → their jobs-per-call metric. */
  val joinDoors: Map[String, String] = Map(
    "query_bucketed" -> "join.bucketed.jobs", "knn_bucketed" -> "join.knn_bucketed.jobs")
  val pipelineDoors = Set("text_stats", "novel")
  val storeWrites = Set("mh_append", "geo_append")
  /** Door latency metrics: call group → metric (median over untraced
    * cycles of the mean latency of the group's calls in the cycle). */
  val doorLatency: Seq[(String, String)] = Seq(
    "scan" -> "scan_p50_s", "union_agg" -> "union_agg_p50_s",
    "store_write" -> "store_write_p50_s",
    "store_query" -> "store_query_p50_s")

  val units: Seq[(String, String)] = Seq(
    "error_rate" -> "ratio", "cycle_tail_s" -> "s", "cycle_tail_pct" -> "%",
    "cycle_tail_n" -> "count") ++ doorLatency.map(_._2 -> "s") ++ Seq(
    "store_bytes_per_input_byte" -> "ratio",
    "serde.decode_ns" -> "ns", "serde.encode_ns" -> "ns", "serde.bytes_per_geom" -> "bytes",
    "functions.measure_ns" -> "ns", "functions.predicate_ns" -> "ns",
    "functions.overlay_ns" -> "ns", "functions.crs_ns" -> "ns", "functions.curved_ns" -> "ns",
    "plans.plan_ms" -> "ms", "plans.fused_nodes" -> "count", "plans.native_exprs" -> "count",
    "plans.udf_exprs" -> "count", "plans.spatial_join_execs" -> "count",
    "aggs.shuffle_bytes" -> "bytes", "aggs.final_stage_s" -> "s",
    "aggs.final_stage_tasks" -> "count",
    "io.write_s" -> "s", "io.bytes_written" -> "bytes", "io.rows_scanned" -> "rows",
    "io.rows_returned" -> "rows",
    "join.door_s" -> "s", "join.door_jobs" -> "count", "join.action_s" -> "s",
    "join.action_jobs" -> "count", "join.out_rows" -> "rows",
    "join.cached_bytes_peak" -> "bytes") ++
    joinDoors.values.toSeq.sorted.map(_ -> "count") ++ Seq(
    "pipeline.text_ns" -> "ns", "pipeline.sign_ns" -> "ns",
    "pipeline.door_s" -> "s", "pipeline.door_jobs" -> "count",
    "pipeline.action_s" -> "s", "pipeline.action_jobs" -> "count",
    "pipeline.candidate_pairs" -> "count", "pipeline.novel_ratio" -> "ratio",
    "pipeline.store_write_jobs" -> "count", "pipeline.compact_s" -> "s",
    "pipeline.store_rows" -> "rows",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.failed_tasks" -> "count", "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.core_busy_ratio" -> "ratio",
    "spark.driver_gap_s" -> "s", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.gc_s" -> "s", "spark.cached_bytes_peak" -> "bytes",
    "trace.door_self_s" -> "s", "trace.action_self_s" -> "s",
    "host.calib_cpu_s" -> "s", "trace.overhead_ratio" -> "ratio")

  val names: Seq[String] = units.map(_._1)
  private val unitOf = units.toMap
  def unit(n: String): String = unitOf(n)

  /** Length of the union of `spans`, clipped to [lo, hi]. */
  def covered(spans: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var end = lo
    for ((s0, e0) <- spans.sortBy(_._1)) {
      val s = math.max(s0, end)
      val e = math.min(e0, hi)
      if (e > s) { total += e - s; end = e }
    }
    total
  }

  private def jobSpans(g: GroupStats) =
    g.jobs.map(j => (j.submitMs.toDouble, if (j.endMs < 0) j.submitMs.toDouble else j.endMs.toDouble))

  /** Wall of the call with no task of its own running, in seconds. */
  def driverGapS(c: CallRec): Double = {
    val tasks = c.all.tasks.map(t => (t.launchMs.toDouble, t.finishMs.toDouble))
    ((c.actionEndMs - c.startMs) - covered(tasks, c.startMs, c.actionEndMs)) / 1e3
  }

  def doorSelfS(c: CallRec): Double =
    ((c.doorEndMs - c.startMs) - covered(jobSpans(c.door), c.startMs, c.doorEndMs)) / 1e3

  def actionSelfS(c: CallRec): Double =
    ((c.actionEndMs - c.doorEndMs) - covered(jobSpans(c.action), c.doorEndMs, c.actionEndMs)) / 1e3

  def of(ctx: Ctx, wl: Workload, calls: Seq[CallRec]): Map[String, Double] = {
    val timed = calls.filter(_.cycle >= 0)
    val tracedCycles = timed.filter(_.traced).groupBy(_.cycle).values.toSeq
    val untraced = timed.filter(!_.traced)
    def perCycle(f: Seq[CallRec] => Double): Double = Stats.median(tracedCycles.map(f))
    def sumOf(f: CallRec => Double)(cs: Seq[CallRec]): Double = cs.map(f).sum
    def tasksOf(c: CallRec) = c.all.tasks
    def where(p: CallRec => Boolean)(f: Seq[CallRec] => Double): Double =
      perCycle(cs => f(cs.filter(p)))
    val isJoin = (c: CallRec) => joinDoors.contains(c.name)
    val isPipe = (c: CallRec) => pipelineDoors(c.name)

    val m = Map.newBuilder[String, Double]
    m += "error_rate" -> calls.count(!_.ok).toDouble / math.max(1, calls.length)

    val cycleS = Main.cycleTimes(untraced)
    val n = cycleS.length
    val pct = if (n > 10) math.floor(100.0 * (n - 10) / n) else 100.0
    m += "cycle_tail_s" -> Stats.percentile(cycleS, pct)
    m += "cycle_tail_pct" -> pct
    m += "cycle_tail_n" -> n.toDouble
    for ((group, metric) <- doorLatency) {
      val perCyc = untraced.filter(c => c.group == group && c.ok).groupBy(_.cycle).values
        .map(cs => cs.map(_.latencyS).sum / cs.length).toSeq
      m += metric -> Stats.median(perCyc)
    }

    m ++= Probes.serde(wl.geometrySample(ctx))

    m += "plans.plan_ms" -> perCycle(sumOf(_.planMs))
    m += "plans.fused_nodes" -> perCycle(sumOf(_.counts.fused.toDouble))
    m += "plans.native_exprs" -> perCycle(sumOf(_.counts.native.toDouble))
    m += "plans.udf_exprs" -> perCycle(sumOf(_.counts.udf.toDouble))
    m += "plans.spatial_join_execs" -> perCycle(sumOf(_.counts.joinExecs.toDouble))

    val unions = timed.filter(c => c.traced && c.name == "union_agg")
    m += "aggs.shuffle_bytes" -> Stats.median(unions.map(c =>
      tasksOf(c).map(_.shuffleWrite).sum.toDouble))
    val finals = unions.flatMap(c => c.action.stages.sortBy(_.id).lastOption)
    m += "aggs.final_stage_s" -> Stats.median(finals.map(s => (s.endMs - s.submitMs) / 1e3))
    m += "aggs.final_stage_tasks" -> Stats.median(finals.map(_.tasks.toDouble))

    m += "io.write_s" -> where(c => storeWrites(c.name))(sumOf(_.latencyS))
    m += "io.bytes_written" -> perCycle(sumOf(c => tasksOf(c).map(_.bytesOut).sum.toDouble))
    m += "io.rows_scanned" -> perCycle(sumOf(c => tasksOf(c).map(_.recordsIn).sum.toDouble))
    m += "io.rows_returned" -> perCycle(sumOf(_.outRows.toDouble))

    for ((prefix, p) <- Seq("join" -> isJoin, "pipeline" -> isPipe)) {
      m += s"$prefix.door_s" -> where(p)(sumOf(_.doorS))
      m += s"$prefix.door_jobs" -> where(p)(sumOf(_.door.jobs.size.toDouble))
      m += s"$prefix.action_s" -> where(p)(sumOf(_.actionS))
      m += s"$prefix.action_jobs" -> where(p)(sumOf(_.action.jobs.size.toDouble))
    }
    m += "join.out_rows" -> where(isJoin)(sumOf(_.outRows.toDouble))
    m += "join.cached_bytes_peak" -> where(isJoin)(cs =>
      if (cs.isEmpty) 0.0 else cs.map(_.cachedPeak.toDouble).max)
    for ((door, metric) <- joinDoors)
      m += metric -> Stats.median(timed.filter(c => c.traced && c.name == door)
        .map(_.all.jobs.size.toDouble))
    m += "pipeline.store_write_jobs" -> where(c => storeWrites(c.name))(
      sumOf(_.all.jobs.size.toDouble))
    m += "pipeline.compact_s" -> Stats.median(timed.filter(_.name == "compact").map(_.latencyS))

    m += "spark.jobs" -> perCycle(sumOf(_.all.jobs.size.toDouble))
    m += "spark.stages" -> perCycle(sumOf(_.all.stages.size.toDouble))
    m += "spark.tasks" -> perCycle(sumOf(tasksOf(_).size.toDouble))
    m += "spark.failed_tasks" -> perCycle(sumOf(tasksOf(_).count(_.failed).toDouble))
    m += "spark.executor_run_s" -> perCycle(sumOf(tasksOf(_).map(_.runMs).sum / 1e3))
    m += "spark.executor_cpu_s" -> perCycle(sumOf(tasksOf(_).map(_.cpuNs).sum / 1e9))
    m += "spark.core_busy_ratio" -> perCycle(cs =>
      cs.map(tasksOf(_).map(_.runMs).sum / 1e3).sum /
        math.max(1e-9, cs.map(_.latencyS).sum * ctx.cores))
    m += "spark.driver_gap_s" -> perCycle(sumOf(driverGapS))
    m += "spark.shuffle_write_bytes" -> perCycle(sumOf(tasksOf(_).map(_.shuffleWrite).sum.toDouble))
    m += "spark.shuffle_read_bytes" -> perCycle(sumOf(tasksOf(_).map(_.shuffleRead).sum.toDouble))
    m += "spark.spill_bytes" -> perCycle(sumOf(tasksOf(_).map(_.spill).sum.toDouble))
    m += "spark.gc_s" -> perCycle(sumOf(tasksOf(_).map(_.gcMs).sum / 1e3))
    m += "spark.cached_bytes_peak" -> perCycle(cs =>
      if (cs.isEmpty) 0.0 else cs.map(_.cachedPeak.toDouble).max)

    m += "trace.door_self_s" -> perCycle(sumOf(doorSelfS))
    m += "trace.action_self_s" -> perCycle(sumOf(actionSelfS))
    m += "trace.overhead_ratio" ->
      Stats.median(Main.cycleTimes(timed.filter(_.traced))) /
        math.max(1e-9, Stats.median(cycleS))
    m ++= wl.layerMetrics(ctx)
    m.result()
  }
}

/** Writes the traced calls as spans: one root per call, its door and action
  * phases as children, and each Spark job as a child of the phase whose
  * job group it ran under. */
object Spans {
  def write(f: File, calls: Seq[CallRec]): Unit = {
    val out = new PrintWriter(f, "UTF-8")
    var id = 0
    def span(parent: Int, name: String, s: Double, e: Double, self: Double): Int = {
      id += 1
      out.println(f"""{"id": $id, "parent": $parent, "name": "$name", "start_ms": $s%.3f, "end_ms": $e%.3f, "self_ms": $self%.3f}""")
      id
    }
    try for (c <- calls if c.traced) {
      val root = span(0, s"cycle${c.cycle}/${c.name}", c.startMs, c.endMs, c.endMs - c.actionEndMs)
      for ((phase, g, s, e, self) <- Seq(
          ("door", c.door, c.startMs, c.doorEndMs, Layers.doorSelfS(c) * 1e3),
          ("action", c.action, c.doorEndMs, c.actionEndMs, Layers.actionSelfS(c) * 1e3))) {
        val p = span(root, phase, s, e, self)
        for (j <- g.jobs) {
          val end = if (j.endMs < 0) j.submitMs else j.endMs
          span(p, s"job${j.id}", j.submitMs.toDouble, end.toDouble, (end - j.submitMs).toDouble)
        }
      }
    } finally out.close()
  }
}
