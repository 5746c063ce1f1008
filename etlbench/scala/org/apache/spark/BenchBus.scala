package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's own listener has seen all jobs and stages of the run. */
object BenchBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
