package graft

import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a piece of code runs, for the job-count pins. */
object SparkJobs {

  /** Spark jobs that `body` runs, seen by a listener on a job group: one
    * call-site string per job. A job that runs for a SQL query (its
    * `spark.sql.execution.id` property) starts with that query's call
    * site, the `details` of its `SparkListenerSQLExecutionStart` — the
    * only place an adaptive query's stage jobs, whose own stages read
    * `$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java`,
    * name the call that issued them; the stage details (a stack trace)
    * follow. A sentinel job outside the group runs last: the listener
    * bus delivers in order, so once the sentinel's end arrives every job
    * of the group has been seen. */
  def jobsOf[T](spark: SparkSession, group: String)(body: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
      SparkListenerJobEnd, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val sentinel = group + "-sentinel"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sentinelId = new java.util.concurrent.atomic.AtomicInteger(-1)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val queries = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case q: SparkListenerSQLExecutionStart => queries.put(q.executionId, q.details)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.jobGroup.id") == group)) {
          val query = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .flatMap(id => Option(queries.get(id.toLong)))
          jobs.add((query.toSeq ++ e.stageInfos.map(_.details)).mkString("\n"))
        }
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
