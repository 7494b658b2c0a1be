package graft.core

import org.apache.spark.sql.SparkSession

/** The one session policy: every main, stage main and spec gets its
  * session here.
  *
  * Under `spark-submit` (the master comes in as the `spark.master`
  * system property), or when the caller already runs a session (an
  * application calling a stage main in-process), that session is returned
  * with only the app name and the UTC time zone applied: its
  * parallelism and codegen settings belong to whoever built it.
  *
  * Otherwise a `local[cpus]` session is built, with one shuffle
  * partition per core. Either way the native functions are registered
  * ([[graft.GraftExtensions.ensureRegistered]]).
  *
  * `cpus` defaults to `SPARK_GRAFT_CPUS`, else 4.
  */
object Session {
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def apply(name: String, cpus: Int = Session.cpus): SparkSession = {
    val b = SparkSession.builder().appName(name)
      .config("spark.sql.session.timeZone", "UTC")
    val s =
      if (SparkSession.getActiveSession.isDefined ||
          sys.props.contains("spark.master")) b.getOrCreate()
      else {
        val local = b.master(s"local[$cpus]")
          .config("spark.sql.shuffle.partitions", cpus.toString)
          .config("spark.sql.extensions", "graft.GraftExtensions")
          // Codegen compile failures normally fall back to interpreted
          // execution: correct but several times slower, and invisible
          // in a timing-only harness or a hash-only correctness run.
          // Make them loud failures instead.
          .config("spark.sql.codegen.fallback", "false")
          .config("spark.ui.enabled", "false")
          .getOrCreate()
        local.sparkContext.setLogLevel("ERROR")
        local
      }
    graft.GraftExtensions.ensureRegistered(s)
    s
  }
}
