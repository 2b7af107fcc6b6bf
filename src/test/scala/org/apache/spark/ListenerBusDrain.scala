package org.apache.spark

/** `SparkContext.listenerBus` is package-private; a job-count test
  * needs every event its body posted delivered before it reads its
  * counter. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
