package org.apache.spark

/** Lets a spec wait until every listener event posted so far has been
  * delivered, so a job counter is complete before it is read. The live
  * listener bus is private to Spark. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
