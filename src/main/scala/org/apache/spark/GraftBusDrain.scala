package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so far,
  * so a reader of listener-collected jobs, stages or plans sees the last
  * action's events (`listenerBus` is package-private to Spark).
  */
object GraftBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
