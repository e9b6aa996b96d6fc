package org.apache.spark

/** The number of listeners on a context's bus, for a spec that checks a
  * tally detaches its own (`listenerBus` is package-private to Spark).
  */
object ListenerCount {
  def apply(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
