package org.apache.spark

/** Waits until every event posted so far has reached its listeners, so a
  * `statusTracker` read sees the end of every job that has finished (the
  * status store is fed asynchronously, from the listener bus). */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
