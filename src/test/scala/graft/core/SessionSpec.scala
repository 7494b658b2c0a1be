package graft.core

import graft.SparkSpec
import org.apache.spark.sql.SparkSession

/** [[Session]]: the suite's own session comes from the local branch
  * (through [[SparkSpec]], at 2 cores); under an active session the
  * factory hands that session back with its parallelism and codegen
  * settings untouched, and registers the native functions on it. */
class SessionSpec extends SparkSpec {

  /** `body` with `s` as this thread's active session. */
  private def activeAs[T](s: SparkSession)(body: => T): T = {
    SparkSession.setActiveSession(s)
    try body finally SparkSession.setActiveSession(spark)
  }

  test("the local branch: 2 cores, no codegen fallback, UTC") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[2]")
    assert(conf.get("spark.sql.shuffle.partitions") == "2")
    assert(conf.get("spark.sql.codegen.fallback") == "false")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("an active session is returned as it is") {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "7")
    try activeAs(spark) {
      val s = Session("graft-session-spec", cpus = 3)
      assert(s eq spark)
      assert(s.conf.get(key) == "7")
      assert(s.conf.get("spark.sql.codegen.fallback") == "false")
    } finally spark.conf.set(key, saved)
  }

  test("an active session whose functions were dropped gets them back") {
    val s2 = spark.newSession()
    val reg = s2.sessionState.functionRegistry
    val names = graft.GraftExtensions.entries.map(_._1)
    names.foreach { id =>
      reg.dropFunction(id)
      assert(!reg.functionExists(id))
    }
    activeAs(s2) { assert(Session("graft-session-spec") eq s2) }
    names.foreach(id => assert(reg.functionExists(id), id))
  }
}
