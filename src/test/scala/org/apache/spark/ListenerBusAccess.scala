package org.apache.spark

/** The one Spark-internal call the job-counting specs need: wait until
  * every queued listener event has been delivered, so a count taken
  * right after an action includes all of the action's jobs. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
