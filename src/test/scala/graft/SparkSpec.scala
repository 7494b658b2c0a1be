package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for the test suite (one JVM, forked by sbt).
  *
  * Shared but NOT assumed immortal: if anything kills the process-wide
  * SparkContext mid-run (Spark stops it itself on a fatal error in the
  * DAGScheduler event loop; the r12 driver run surfaced exactly one
  * such death — a stopped-context assert inside an async
  * ShuffleExchange submit during TemperatureMixSpec — which then
  * cascaded into every later suite), each suite must come up on a LIVE
  * session rather than inheriting the corpse. `SparkSpec.session()`
  * checks `isStopped` and clears the dead default/active session before
  * getOrCreate, so at most the suite that hosted the death fails and
  * every subsequent suite runs on a fresh context. Shared query
  * results ([[graft.core.Shared]]) are keyed by SparkSession and drop
  * the entries of a stopped context at the next lookup, so a fresh
  * session can never be served a frame whose blocks died with the old
  * context.
  *
  * `spark` stays a `lazy val` (a stable identifier — 79 suites do
  * `import spark.implicits._`), so freshness is per-suite, which is as
  * fine-grained as a cascade fix needs to be.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session()
}

object SparkSpec {
  def session(): SparkSession = synchronized {
    // getOrCreate skips a stopped default session on its own, but clear
    // both thread-local and global slots explicitly so the rebuild is
    // deterministic regardless of which thread last touched them.
    if (SparkSession.getDefaultSession.exists(_.sparkContext.isStopped) ||
        SparkSession.getActiveSession.exists(_.sparkContext.isStopped)) {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    // specs that save tables write them under a temp warehouse, not
    // the working directory; as a system property it reaches every
    // context this JVM starts
    sys.props.getOrElseUpdate("spark.sql.warehouse.dir",
      tempDir("graft-wh").toString)
    graft.core.Session("graft-test", cpus = 2)
  }

  private val made =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]
  sys.addShutdownHook(made.forEach(FileUtils.deleteQuietly(_)))

  /** Run `body` with `dir` as the context's checkpoint dir — the
    * durable posture of every [[graft.ext.Checkpoints]] cut — and
    * clear it afterwards, whatever `body` does: the suites share one
    * context, and a dir left set would make every later suite's cuts
    * durable. Spark has no public API to unset the dir, so the clear
    * goes through the (Scala-public, `private[spark]`) setter. */
  def withCheckpointDir[T](dir: String)(body: => T): T = {
    val sc = session().sparkContext
    sc.setCheckpointDir(dir)
    try body
    finally {
      sc.getClass.getMethods.find(_.getName == "checkpointDir_$eq").get
        .invoke(sc, None)
      ()
    }
  }

  /** A new temp dir, deleted with everything in it when the JVM ends:
    * a suite's files outlive its tests, which may read them back, but
    * not the test run. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    made.add(d.toFile)
    d
  }
}
