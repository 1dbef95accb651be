package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * test's `SparkListener` counts are complete when it asserts on them.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
