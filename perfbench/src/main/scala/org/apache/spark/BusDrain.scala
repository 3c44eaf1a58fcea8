package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark reads its passive counters only after they are complete.
  * (The bus is package-private; this is the one reach into it.) */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
