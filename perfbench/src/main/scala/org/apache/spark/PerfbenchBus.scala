package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so scheduler counters are complete before they are
  * read. The live listener bus is private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
