package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One Spark job, stage or task as the traced run saw it (epoch ms). */
final case class JobRec(id: Int, submitMs: Long, var endMs: Long, stageIds: Seq[Int])
final case class StageRec(id: Int, submitMs: Long, endMs: Long, tasks: Int, failed: Boolean)
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long, runMs: Long,
    cpuNs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long, gcMs: Long,
    recordsIn: Long, bytesOut: Long, failed: Boolean)

/** Everything one job group ran. */
final case class GroupStats(jobs: Seq[JobRec], stages: Seq[StageRec], tasks: Seq[TaskRec]) {
  def ++(o: GroupStats): GroupStats =
    GroupStats(jobs ++ o.jobs, stages ++ o.stages, tasks ++ o.tasks)
}

object GroupStats {
  val empty: GroupStats = GroupStats(Nil, Nil, Nil)
}

/** Listener the traced run registers: attributes jobs, stages and tasks to
  * the job group the harness set around each door and action phase, and
  * follows the bytes of cached RDD blocks. Only groups that start with
  * [[Tracker.Prefix]] are kept, so Spark's own background jobs never mix
  * into a call. */
final class Tracker extends SparkListener {
  private val jobs = mutable.HashMap.empty[String, mutable.ArrayBuffer[JobRec]]
  private val jobById = mutable.HashMap.empty[Int, JobRec]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stages = mutable.HashMap.empty[String, mutable.ArrayBuffer[StageRec]]
  private val tasks = mutable.HashMap.empty[String, mutable.ArrayBuffer[TaskRec]]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var cached = 0L
  private var cachedPeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null && g.startsWith(Tracker.Prefix)) {
      val j = JobRec(e.jobId, e.time, -1L, e.stageIds)
      jobById(e.jobId) = j
      jobs.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += j
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.remove(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageGroup.get(si.stageId).foreach { g =>
      stages.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += StageRec(si.stageId,
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
        si.numTasks, si.failureReason.isDefined)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val i = e.taskInfo
      val m = e.taskMetrics
      val rec =
        if (m == null) TaskRec(e.stageId, i.launchTime, i.finishTime, 0L, 0L, 0L, 0L,
          0L, 0L, 0L, 0L, i.failed)
        else TaskRec(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
          m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime,
          m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten, i.failed)
      tasks.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += rec
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val key = b.blockManagerId.executorId + "/" + b.blockId.name
      val size = b.memSize + b.diskSize
      cached -= blocks.getOrElse(key, 0L)
      if (size > 0) blocks(key) = size else blocks.remove(key)
      cached += math.max(size, 0L)
      cachedPeak = math.max(cachedPeak, cached)
    }
  }

  /** Start a new peak window for cached RDD bytes. */
  def resetCachedPeak(): Unit = synchronized { cachedPeak = cached }

  def cachedPeakBytes: Long = synchronized(cachedPeak)

  /** Remove and return everything recorded for `group`. */
  def take(group: String): GroupStats = synchronized {
    val js = jobs.remove(group).map(_.toSeq).getOrElse(Nil)
    val ss = stages.remove(group).map(_.toSeq).getOrElse(Nil)
    val ts = tasks.remove(group).map(_.toSeq).getOrElse(Nil)
    js.flatMap(_.stageIds).foreach(stageGroup.remove)
    GroupStats(js, ss, ts)
  }
}

object Tracker {
  val Prefix = "perfbench:"
}
