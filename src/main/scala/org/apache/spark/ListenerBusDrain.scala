package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so what a listener counted is complete before it is read. The live
  * listener bus is private to Spark. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
