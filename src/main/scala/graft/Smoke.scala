package graft

/** Local stand-in for the driver's t1 smoke: runs SparkEntry.entry and
  * checks rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Session("graft-smoke")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n ${if (n > 0) "PASS" else "FAIL"}")
    spark.stop()
  }
}
