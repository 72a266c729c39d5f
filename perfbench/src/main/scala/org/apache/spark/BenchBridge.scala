package org.apache.spark

/** The one Spark-internal hook the benchmark needs: block until every
  * listener event posted so far has been delivered, so job/stage/task
  * aggregates are complete before they are read.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
