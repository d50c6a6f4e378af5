package org.apache.spark

/** Package-private hooks the benchmark needs from outside Spark. */
object BenchBridge {
  /** Block until every listener event posted so far has been delivered, so
    * the job, task and streaming-progress records are complete. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
