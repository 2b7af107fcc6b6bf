package org.apache.spark

/** `SparkContext.listenerBus` is package-private; the traced run needs
  * every task-end event delivered before it reads its counters. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
