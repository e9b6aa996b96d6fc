package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so far,
  * so a spec reads listener-collected jobs or plans only after the last
  * action's events arrived (`listenerBus` is package-private to Spark).
  */
object ListenerBusTestDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
