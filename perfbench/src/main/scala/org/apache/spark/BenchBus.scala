package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * traced span can credit the jobs and query executions it started to
  * itself before the next span begins. The bus is package-private; this
  * is the one call the benchmark needs from it. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
