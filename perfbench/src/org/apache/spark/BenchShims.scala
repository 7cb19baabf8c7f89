package org.apache.spark

/** The one Spark-internal hook the benchmark needs: wait until every
  * listener has seen every posted event, so a traced op's jobs, stages,
  * tasks and progress reports are all recorded before they are read. */
object BenchShims {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
