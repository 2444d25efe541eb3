package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until every
  * queued listener event has been delivered, so a traced run's job, stage
  * and task records are complete before they are summed. */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
