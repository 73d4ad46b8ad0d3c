package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so that listener counters read at a phase boundary belong to that
  * phase. The bus is private to Spark; this object lives in Spark's
  * package only to reach it. */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
