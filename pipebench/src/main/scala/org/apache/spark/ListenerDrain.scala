package org.apache.spark

/** Blocks until every event posted so far has reached the listeners, so
  * counters read right after an action include that action's tasks. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
