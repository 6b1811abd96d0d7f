package org.apache.spark

/** The one Spark-private call the benchmark needs: drain the listener
  * bus so counters read after an op include every event of that op.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
