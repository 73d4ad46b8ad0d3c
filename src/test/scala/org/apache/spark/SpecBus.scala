package org.apache.spark

/** Waits until the listener bus has delivered every event posted so
  * far, so a spec's listener counts belong to the code it just ran. The
  * bus is private to Spark; this object lives in Spark's package only to
  * reach it. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
