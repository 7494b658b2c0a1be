package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload, one session, one run.
  *
  *   perfbench.Main --workload <query_mix|production_day>
  *     --seed <n> --seconds <s> --trace <0|1> --data <fixture dir>
  *     --work <scratch dir> [--corrupt 1]
  *   perfbench.Main --land <lake dir> --data <fixture dir> --work <dir>
  *
  * Set-up (timed): session start, the fixture pre-flight (three times,
  * median kept), the workload's seeded inputs, then one warm-up. Then
  * rounds run until `--seconds` have passed. Traced runs alternate
  * traced and untraced rounds; the per-layer metrics come from the
  * traced ones and the difference between the two is the tracing
  * overhead (query_mix traces its one pass and compares a few queries
  * run both ways instead). Outputs are checked after the timed rounds. The result is
  * written to `<work>/result.json` for run.py.
  */
object Main {
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = opts("work")
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis - jvmStartMs) / 1000.0
    opts.get("land").foreach { lake =>
      // production_day's input tables, landed once per build
      graft.jobs.stages.Stage000LandTables.main(Array(opts("data"), lake))
      spark.stop()
      sys.exit(0)
    }

    val trace = opts("trace") == "1"
    val ctx = new Ctx(spark, opts("data"), work, opts("seed").toLong,
      opts("seconds").toDouble, trace, opts.get("corrupt").contains("1"))
    val w: Workload = opts("workload") match {
      case "query_mix" => new QueryMix(ctx)
      case "production_day" => new ProductionDay(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    def secs(body: => Any): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val s = new Samples
    (1 to 3).foreach(_ =>
      s.add("setup.preflight", secs(graft.core.Tables.preflight(spark, ctx.data))))
    val own = secs(w.prepare())
    val warm = secs(w.warmup())
    val setupS = sessionS + Stats.median(s("setup.preflight")) + own + warm
    System.err.println(f"[perfbench] setup: session $sessionS%.2f s, " +
      f"preflight ${s("setup.preflight").mkString(", ")} s, " +
      f"inputs $own%.2f s, warm-up $warm%.2f s")

    val minRounds = if (trace) w.minTracedRounds else 1
    val gc0 = gcMs
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var rounds = 0
    var failures = List.empty[String]
    while (failures.isEmpty && rounds < w.maxRounds &&
           (rounds < minRounds || elapsed < ctx.seconds)) {
      ctx.tracing(rounds % 2 == 0)
      val traced = ctx.spans.enabled
      try {
        val wall = w.round(rounds, s)
        System.err.println(f"[perfbench] round $rounds: $wall%.3f s")
        s.add("round", wall)
        s.add(if (traced) "round.traced" else "round.untraced", wall)
      } catch { case e: Exception =>
        failures ::= s"round $rounds: ${e.toString.take(300)}"
        e.printStackTrace()
      }
      rounds += 1
    }
    val timedS = elapsed
    val tracedRounds = (rounds + 1) / 2
    val tracedWall = s("round.traced").sum
    val sched: Map[String, Double] =
      if (trace) ctx.schedMetrics(tracedRounds, tracedWall)
      else Map.empty
    val gcPerRound = (gcMs - gc0).toDouble / math.max(rounds, 1)
    val rss = peakRssMb
    System.err.println(f"[perfbench] $rounds rounds in $timedS%.2f s")
    val attempted = s("call").size + failures.size

    val e2e = w.endToEnd(s) + ("setup_s" -> setupS)
    val wrong =
      try w.check()
      catch { case e: Exception => Seq(s"check: ${e.toString.take(300)}") }
    failures = failures.reverse ++ wrong
    failures.foreach(f => System.err.println(s"[perfbench] FAIL $f"))

    val layers: Map[String, Double] =
      if (!trace) Map.empty[String, Double]
      else sched ++ w.layers(s, tracedRounds) ++ Map(
        "jvm.gc_ms" -> gcPerRound,
        "jvm.peak_rss_mb" -> rss,
        "core.Tables.preflight_s" -> Stats.median(s("setup.preflight")),
        "trace.overhead" -> w.traceOverhead(s))
    if (trace) ctx.spans.write(s"$work/spans.jsonl")

    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else d.toString
    def obj(m: Map[String, Double]) = m.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
    def str(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", " ") + "\""
    val spanSummary = ctx.spans.summary.toSeq.sortBy(-_._2._3).map {
      case (n, (c, tot, self)) => s"${str(n)}:[$c,${num(tot)},${num(self)}]" }
      .mkString("{", ",", "}")
    val json = s"""{"workload":${str(opts("workload"))},"seed":${ctx.seed},""" +
      s""""rounds":$rounds,"timed_s":${num(timedS)},"attempted":$attempted,""" +
      s""""failed":${failures.size},"failures":${failures.map(str).mkString("[", ",", "]")},""" +
      s""""e2e":${obj(e2e)},"detail":${obj(w.detail(s))},""" +
      s""""layers":${obj(layers)},"spans":$spanSummary}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/result.json"), json)
    spark.stop()
    sys.exit(0)
  }
}
