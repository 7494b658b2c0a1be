package graft.core

import graft.SparkSpec
import graft.jobs.stages._
import graft.sinks.UpsertWriter
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** [[Parquet.read]] against `spark.read.parquet`: the same DataFrame
  * schema, and no Spark job while the DataFrame is built.
  *
  * Schemas are compared on the DataFrame, not on the raw footer: the
  * reader makes every data column nullable either way, while a footer
  * may say `required`. */
class ParquetReadSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** `body`'s result and the jobs this thread submitted while it ran. */
  private def jobsWhile[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"parquet-read-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "build only")
    try {
      val r = body
      ListenerBusDrain.drain(sc)
      (r, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def assertParity(paths: String*): Unit = {
    val (df, jobs) = jobsWhile(Parquet.read(spark, paths: _*))
    val what = paths.mkString(", ")
    assert(jobs == 0, s"$what: $jobs job(s) while building the DataFrame")
    val inferred = spark.read.parquet(paths: _*).schema
    assert(df.schema == inferred,
      s"$what:\n  helper   ${df.schema}\n  inferred $inferred")
  }

  test("the job counter sees the inference job of a bare read") {
    val (_, jobs) = jobsWhile(spark.read.parquet(s"$sf/region.parquet"))
    assert(jobs >= 1)
  }

  test("every fixture table: same schema, zero jobs") {
    Tables.all.foreach(t => assertParity(s"$sf/$t.parquet"))
    val (_, jobs) = jobsWhile(Tables.preflight(spark, sf))
    assert(jobs == 0, s"preflight submitted $jobs job(s)")
  }

  test("nanos-as-long events vintage: same schema, zero jobs") {
    val dir = tmp("graft-nanos-read")
    Tables.events(spark, sf)
      .withColumn("ts", unix_micros(col("ts")) * 1000L)
      .write.parquet(s"$dir/events.parquet")
    assertParity(s"$dir/events.parquet")
    val (df, jobs) = jobsWhile(Tables.events(spark, dir))
    assert(jobs == 0 && df.schema("ts").dataType.typeName == "timestamp")
  }

  test("every landed table and every stage-main output: same schema, " +
      "zero jobs") {
    val lake = tmp("graft-read-lake")
    Stage000LandTables.main(Array(sf, lake))
    Stage001ParkFactor.main(Array(lake))
    Stage011HitterWoba.main(Array(lake))
    Stage012HitterWrc.main(Array(lake))
    Stage013HitterRates.main(Array(lake))
    Stage021PitcherMetrics.main(Array(lake))
    Stage041HitterMetrics.main(Array(lake))
    Stage050HitterRecords.main(Array(lake))
    Stage060PitcherRecords.main(Array(lake))
    Stage070FiveInnings.main(Array(lake))
    Stage031LineupTriggers.main(
      Array(lake, "2024-03-01 17:55:00", "15", "60"))
    val tables = new java.io.File(lake).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted
    assert(tables.contains("scoreboard") &&
      tables.contains("lineup_triggers") && tables.length > 20,
      tables.mkString(", "))
    tables.foreach(t => assertParity(s"$lake/$t"))
  }

  test("bucketed upsert table: partition column appended, zero jobs") {
    val path = s"${tmp("graft-read-bucketed")}/t"
    UpsertWriter.upsertBucketed(
      Seq((1L, 1.0, 1L), (2L, 2.0, 1L), (3L, 3.0, 1L)).toDF("k", "v", "ver"),
      path, Seq("k"), "ver", numBuckets = 4)
    assertParity(path)
    assert(Parquet.read(spark, path).columns.last == "__bucket")
    val (_, jobs) = jobsWhile(UpsertWriter.readBucketed(spark, path))
    assert(jobs == 0)
  }

  test("multi-path read takes the schema Spark takes: first file in " +
      "path order") {
    val dir = tmp("graft-read-multi")
    Seq((1L, "x")).toDF("id", "s").write.parquet(s"$dir/b")
    Seq((2L, "y", 2.0)).toDF("id", "s", "extra").write.parquet(s"$dir/a")
    assertParity(s"$dir/b", s"$dir/a")
    assert(Parquet.read(spark, s"$dir/b", s"$dir/a").columns.length == 3)
  }

  test("summary files are read first, as Spark does") {
    val hc = spark.sparkContext.hadoopConfiguration
    val path = s"${tmp("graft-read-summary")}/t"
    hc.set("parquet.summary.metadata.level", "ALL")
    try Seq((1L, "x")).toDF("id", "s").write.parquet(path)
    finally hc.unset("parquet.summary.metadata.level")
    assert(new java.io.File(s"$path/_common_metadata").exists())
    assertParity(path)
  }

  test("a streaming file sink's output is listed from its log") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = tmp("graft-read-sink")
    val in = MemoryStream[(Long, String)](spark)
    in.addData((1L, "x"), (2L, "y"))
    val q = in.toDF().toDF("id", "s").writeStream.format("parquet")
      .option("checkpointLocation", s"$dir/ck").start(s"$dir/out")
    try q.processAllAvailable() finally q.stop()
    // a stray file outside the log, first in path order: Spark's reader
    // never sees it, so its schema must not be the one taken
    Seq(1.0).toDF("other").coalesce(1).write.parquet(s"$dir/stray")
    val stray = new java.io.File(s"$dir/stray").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(stray.toPath, java.nio.file.Paths.get(s"$dir/out/a.parquet"))
    assertParity(s"$dir/out")
    assert(Parquet.read(spark, s"$dir/out").columns.toSeq == Seq("id", "s"))
  }

  test("a path with nothing to read fails as Spark's read does") {
    val empty = tmp("graft-read-empty")
    Seq(s"$empty/missing", empty).foreach { p =>
      val spark0 = intercept[Exception](spark.read.parquet(p))
      val ours = intercept[Exception](Parquet.read(spark, p))
      assert(ours.getClass == spark0.getClass, p)
    }
  }
}
