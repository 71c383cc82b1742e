package graft

import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a piece of code runs, for the job-count pins. */
object SparkJobs {

  /** Spark jobs that `body` runs, seen by a listener on a job group: one
    * call-site string (the stage details, a stack trace) per job. A
    * sentinel job outside the group runs last: the listener bus
    * delivers in order, so once the sentinel's end arrives every job of
    * the group has been seen. */
  def jobsOf[T](spark: SparkSession, group: String)(body: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
      SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val sentinel = group + "-sentinel"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sentinelId = new java.util.concurrent.atomic.AtomicInteger(-1)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.add(e.stageInfos.map(_.details).mkString("\n"))
        if (props.exists(_.getProperty("spark.job.description") == sentinel))
          sentinelId.set(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinelId.get) drained.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus never drained")
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
