package org.apache.spark

/** Access to the listener bus from the benchmark: a traced run reads its
  * listeners' counters only after every event of the run was delivered. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
