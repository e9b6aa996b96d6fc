package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so far,
  * so the traced run reads its counters only after the last job's events
  * arrived. (`listenerBus` is package-private to Spark.)
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
