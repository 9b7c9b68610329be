package org.apache.spark

/** Test hook: block until every event posted so far has reached the
  * registered listeners, so a listener's counters are exact right after
  * an action returns. (The listener bus is private to Spark.) */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
