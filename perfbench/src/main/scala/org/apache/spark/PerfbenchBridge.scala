package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until every event
  * posted so far has reached the listeners, so a span's counters include the
  * jobs and tasks that ran inside it.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
