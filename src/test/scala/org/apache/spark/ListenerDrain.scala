package org.apache.spark

/** Test access to the listener bus: `SparkContext.listenerBus` is
  * `private[spark]`, and specs that count jobs or task metrics must see
  * every event of the work they measured before reading the counts. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
