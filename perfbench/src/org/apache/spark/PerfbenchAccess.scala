package org.apache.spark

/** The one Spark-internal hook the traced run needs: wait until the
  * listener bus has delivered every event posted so far, so a call's jobs,
  * tasks and block updates are attributed before the next call starts. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
