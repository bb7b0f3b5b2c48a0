package org.apache.spark

/** `SparkContext.listenerBus` is private[spark]. The traced run must see
  * every listener event of a pass before it aggregates that pass, so it
  * waits for the bus to drain instead of sleeping a guessed interval. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
