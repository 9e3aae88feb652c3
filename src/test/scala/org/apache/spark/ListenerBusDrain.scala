package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so that a
  * test listener read after an action has seen all of its jobs. Lives in
  * this package because `SparkContext.listenerBus` is `private[spark]`.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
