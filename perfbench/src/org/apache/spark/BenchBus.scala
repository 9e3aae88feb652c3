package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so that
  * listener counters read after an operation include all of its tasks.
  * Lives in this package because `SparkContext.listenerBus` is
  * `private[spark]`.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
