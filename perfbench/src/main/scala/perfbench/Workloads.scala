package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Timing samples of one run, by kind. */
final class Samples {
  private val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(kind: String, v: Double): Unit =
    m.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += v
  def apply(kind: String): Seq[Double] = m.get(kind).map(_.toSeq).getOrElse(Nil)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest sample with at least ten samples above it, and its
    * percentile; with ten or fewer samples, the maximum (100). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted; val n = s.size
    if (n == 0) (0.0, 100.0)
    else if (n <= 10) (s.last, 100.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }
}

/** A benchmark workload. `prepare` makes its inputs and `warmup` warms
  * it, both in set-up; `round` is one unit of timed work; `check`
  * compares outputs outside every timed span and returns one message per
  * wrong output. */
trait Workload {
  def prepare(): Unit
  def warmup(): Unit = ()
  /** One round; returns its wall time in seconds. */
  def round(i: Int, s: Samples): Double
  def maxRounds: Int = Int.MaxValue
  /** Rounds a traced run makes at least: one traced, one untraced. */
  def minTracedRounds: Int = 2
  def check(): Seq[String]
  /** round_p50_s, call_p50_s, call_tail_s (+ the tail's percentile). */
  def endToEnd(s: Samples): Map[String, Double] = {
    val (tail, pct) = Stats.tail(s("call"))
    Map("round_p50_s" -> Stats.median(s("round")),
      "call_p50_s" -> Stats.median(s("call")),
      "call_tail_s" -> tail, "call_tail_pct" -> pct)
  }
  /** Per-layer metrics from the traced rounds. */
  def layers(s: Samples, tracedRounds: Int): Map[String, Double]
  /** The figures this workload names, for the run record. */
  def detail(s: Samples): Map[String, Double]
  /** Traced-run overhead: traced vs untraced rounds. */
  def traceOverhead(s: Samples): Double = {
    val on = Stats.median(s("round.traced"))
    val off = Stats.median(s("round.untraced"))
    if (off > 0) on / off - 1.0 else 0.0
  }
}

object Fs {
  def du(dir: String): (Long, Int) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val fs = walk(new File(dir)).filter(f => f.isFile && !f.getName.endsWith(".crc"))
    (fs.map(_.length).sum, fs.size)
  }

  /** Canonical, order-free rendering of a table's rows. */
  def canon(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.selectExpr(cols.map(c => s"`$c`"): _*).collect().map(_.toString)
      .sorted.toSeq
}

/** The production batch face: the stage mains in DAG order, checked
  * against the in-process DailyChain on the same landed inputs. */
final class KboChain(ctx: Ctx) extends Workload {
  import graft.jobs.DailyChain
  import graft.jobs.stages._
  private val spark = ctx.spark
  private val lake = s"${ctx.work}/lake"
  private val inproc = s"${ctx.work}/inproc"
  // 031's clock, from the seed: between 17:00 and 18:29 on the fixture
  // day, so the 60-minute horizon holds some of the five games
  private val nowIso = {
    val m = (new scala.util.Random(ctx.seed).nextInt(90))
    f"2024-03-01 ${17 + m / 60}%02d:${m % 60}%02d:00"
  }
  private val mains: Seq[(String, () => Unit)] = Seq(
    "Stage001ParkFactor" -> (() => Stage001ParkFactor.main(Array(lake))),
    "Stage011HitterWoba" -> (() => Stage011HitterWoba.main(Array(lake))),
    "Stage012HitterWrc" -> (() => Stage012HitterWrc.main(Array(lake))),
    "Stage013HitterRates" -> (() => Stage013HitterRates.main(Array(lake))),
    "Stage021PitcherMetrics" -> (() => Stage021PitcherMetrics.main(Array(lake))),
    "Stage041HitterMetrics" -> (() => Stage041HitterMetrics.main(Array(lake))),
    "Stage050HitterRecords" -> (() => Stage050HitterRecords.main(Array(lake))),
    "Stage060PitcherRecords" -> (() => Stage060PitcherRecords.main(Array(lake))),
    "Stage070FiveInnings" -> (() => Stage070FiveInnings.main(Array(lake))),
    "Stage031LineupTriggers" -> (() =>
      Stage031LineupTriggers.main(Array(lake, nowIso, "15", "60"))))
  private def landed(t: String) = StageIO.read(spark, lake, t)
  private def inputs = (landed("game_records"), landed("hitters"),
    landed("pitchers"), landed("today_lineup"), landed("hitter_opponents"),
    landed("hitter_stadiums"), landed("hitter_games"),
    landed("pitcher_opponents"), landed("pitcher_stadiums"),
    landed("pitcher_games"))
  private def dailyChain(): Map[String, DataFrame] = {
    val i = inputs
    DailyChain.run(i._1, i._2, i._3, i._4, i._5, i._6, i._7, i._8, i._9, i._10)
  }

  /** run.py copies the input tables that `Stage000LandTables` lands once
    * per checkout into the lake; a traced run lands them again aside, to
    * time the stage. */
  private var landS = 0.0
  def prepare(): Unit = if (ctx.trace)
    landS = ctx.time("jobs.stages.Stage000LandTables") {
      Stage000LandTables.main(Array(ctx.data, s"${ctx.work}/relanded"))
    }

  /** The in-process chain on the landed inputs, with its five outputs
    * written: it warms the metric code the stage mains call, and the
    * check compares the staged outputs with it. */
  override def warmup(): Unit = inprocS = ctx.time("jobs.DailyChain.run") {
    dailyChain().foreach { case (t, df) => StageIO.write(df, inproc, t) }
  }
  private var inprocS = 0.0

  def round(i: Int, s: Samples): Double = {
    var chain = 0.0
    mains.foreach { case (name, main) =>
      val t = ctx.time(s"jobs.stages.$name")(main())
      s.add("call", t); s.add(s"stage.$name", t); chain += t
    }
    s.add("chain", chain)
    chain
  }

  def check(): Seq[String] = {
    val outputs = Seq("park_factor", "hitter_metrics", "pitcher_metrics",
      "hitter_records", "pitcher_records")
    def same(t: String, got: DataFrame, exp: DataFrame): Option[String] = {
      val cols = exp.columns.sorted.toSeq
      if (!got.columns.sorted.sameElements(cols)) Some(s"$t: columns diverge")
      else if (Fs.canon(got, cols) != Fs.canon(exp, cols))
        Some(s"$t: landed rows differ from the in-process chain")
      else if (got.isEmpty) Some(s"$t: empty")
      else None
    }
    val due = graft.streaming.EventPipeline.dueWithin(landed("today_games"),
      java.sql.Timestamp.valueOf(nowIso), 60).count()
    // a corrupted run drops one row of a landed output before comparing
    def output(t: String) =
      if (ctx.corrupt && t == outputs.head) landed(t).offset(1) else landed(t)
    outputs.flatMap(t => same(t, output(t), StageIO.read(spark, inproc, t))) ++
      same("game_records_until_5_innings",
        landed("game_records_until_5_innings"),
        graft.kbo.Metrics.fiveInningResult(landed("scoreboard"))) ++
      (if (landed("lineup_triggers").count() == due) None
       else Some(s"lineup_triggers: expected $due due games"))
  }

  def layers(s: Samples, tracedRounds: Int): Map[String, Double] = {
    import graft.kbo.{Metrics, Records}
    def probe(name: String)(df: => DataFrame): (String, Double) =
      name -> Stats.median((1 to 3).map(_ =>
        ctx.time(name)(df.queryExecution.toRdd.count())))
    val kbo = Seq(
      probe("kbo.Metrics.parkFactor.s")(Metrics.parkFactor(landed("game_records"))),
      probe("kbo.Metrics.hitterWoba.s")(Metrics.hitterWoba(landed("hitters"))),
      probe("kbo.Metrics.hitterWrc.s")(Metrics.hitterWrc(landed("game_records"),
        landed("hitters"), landed("hitter_woba"))),
      probe("kbo.Metrics.hitterRates.s")(Metrics.hitterRates(landed("hitters"))),
      probe("kbo.Metrics.pitcherMetrics.s")(Metrics.pitcherMetrics(landed("pitchers"))),
      probe("kbo.Metrics.fiveInningResult.s")(
        Metrics.fiveInningResult(landed("scoreboard"))),
      probe("kbo.Records.wideRecord.hitter.s")(Records.wideRecord(
        landed("today_lineup"), landed("hitters"), landed("hitter_metrics"),
        landed("hitter_opponents"), landed("hitter_stadiums"),
        landed("hitter_games"), "hitter_id", isPitcher = false)),
      probe("kbo.Records.wideRecord.pitcher.s")(Records.wideRecord(
        landed("today_lineup"), landed("pitchers"), landed("pitcher_metrics"),
        landed("pitcher_opponents"), landed("pitcher_stadiums"),
        landed("pitcher_games"), "pitcher_id", isPitcher = true)),
      probe("jobs.DailyChain.adjustedOnePerHitter.s")(
        DailyChain.adjustedOnePerHitter(landed("today_lineup"),
          landed("hitters"), landed("hitter_wrc"), landed("park_factor"))))
    val stages = ("jobs.stages.Stage000LandTables.s" -> landS) +:
      mains.map { case (name, _) => s"jobs.stages.$name.s" -> Stats.median(s(s"stage.$name")) }
    val (bytes, files) = Fs.du(lake)
    val n = math.max(tracedRounds, 1).toDouble
    (kbo ++ stages).toMap ++ Map(
      "jobs.stages.lake_bytes" -> bytes.toDouble,
      "jobs.stages.lake_files" -> files.toDouble,
      "jobs.stages.spark_jobs" ->
        ctx.jobsIn(l => l.startsWith("jobs.stages.Stage") &&
          l != "jobs.stages.Stage000LandTables") / n)
  }

  def detail(s: Samples): Map[String, Double] = Map(
    "chain_p50_s" -> Stats.median(s("chain")),
    "chain_inproc_s" -> inprocS)
}

/** The analytics surface, reads only: each query's DataFrame build and
  * its `collect()` are timed apart, in a seeded order. */
final class QueryMix(ctx: Ctx) extends Workload {
  import graft.SparkEntry
  private val spark = ctx.spark
  val iterative = Seq("q_x_pagerank", "q_x_triangles", "q_x_lpa",
    "q_x_spearman", "q_x_ridge_cv", "q_x_group_corr", "q_x_dedup_minhash")
  val singlePass = Seq("q_g1_groupby_agg", "q_g10_cube", "q_j1_star_inner",
    "q_j10_asof", "q_w1_topk_per_group", "q_f1_date_filter",
    "q_f6_regex_bundle", "q_m1_park_factor", "q_m3m4_wrc", "q_m8m10_fip",
    "q_rec_wide_hitter", "q_chain_hitter_metrics", "q_x_text_stats",
    "q_x_ann_brute", "q_x_jaccard_nn", "q_x_hll", "q_x_heavy_hitters",
    "q_s_user_sessions", "q_x_rfm")
  val names: Seq[String] = iterative ++ singlePass
  /** consumer -> owner of a shared artifact, within the mix */
  private val owners = Map("q_x_lpa" -> "q_x_triangles")
  /** The seeded order, with every memo owner moved before its consumer. */
  val order: Seq[String] = {
    val shuffled = new scala.util.Random(ctx.seed).shuffle(names)
    owners.foldLeft(shuffled) { case (o, (consumer, owner)) =>
      val (ci, oi) = (o.indexOf(consumer), o.indexOf(owner))
      if (oi < ci) o else o.patch(oi, Nil, 1).patch(ci, Seq(owner), 0)
    }
  }
  private val module: Map[String, String] = {
    import graft.queries._
    Seq("RelationalQueries" -> RelationalQueries.queries,
      "KboQueries" -> KboQueries.queries, "ExtQueries" -> ExtQueries.queries,
      "TemporalQueries" -> TemporalQueries.queries,
      "CorpusQueries" -> CorpusQueries.queries,
      "PrepQueries" -> PrepQueries.queries, "LinkQueries" -> LinkQueries.queries,
      "BehaviorQueries" -> BehaviorQueries.queries,
      "LearnQueries" -> LearnQueries.queries,
      "StatsQueries" -> StatsQueries.queries)
      .flatMap { case (m, qs) => names.filter(qs.contains).map(_ -> m) }.toMap
  }
  val modules: Seq[String] = module.values.toSeq.distinct.sorted

  def prepare(): Unit = ()

  /** One cheap query per fixture family (as graft.Bench warms up); they
    * also probe the tracing overhead. */
  private val probeQueries = Seq("q_g1_groupby_agg", "q_f1_date_filter",
    "q_x_text_stats", "q_x_ann_brute", "q_m1_park_factor")
  override def warmup(): Unit =
    probeQueries.foreach(q => SparkEntry.queries(q)(spark, ctx.data).collect())

  /** The last pass's results, checked after the timed rounds. */
  private val results = mutable.Map.empty[String, (Array[org.apache.spark.sql.Row],
    org.apache.spark.sql.types.StructType)]

  /** One pass over the mix. The timed action collects the result, so the
    * output check needs no second execution. */
  def round(i: Int, s: Samples): Double = {
    var pass = 0.0
    order.foreach { q =>
      val (df, b) = ctx.call(s"queries.$q.build")(SparkEntry.queries(q)(spark, ctx.data))
      val (rows, e) = ctx.call(s"queries.$q.exec")(df.collect())
      results(q) = (rows, df.schema)
      s.add("call", b + e); s.add(s"q.$q", b + e)
      pass += b + e
    }
    pass
  }

  /** A traced run traces its one pass whole. */
  override def minTracedRounds: Int = 1

  /** The probe queries, run untraced and traced in turn. */
  override def traceOverhead(s: Samples): Double = {
    def run(q: String, on: Boolean) = {
      ctx.tracing(on)
      ctx.time("trace.probe")(SparkEntry.queries(q)(spark, ctx.data).collect())
    }
    probeQueries.foreach(q => run(q, false)) // warm: the pass ran them long ago
    // alternate which side runs first, so warming favours neither
    val pairs = (0 until 2).flatMap(i => probeQueries.map { q =>
      if (i == 0) { val off = run(q, false); (off, run(q, true)) }
      else { val on = run(q, true); (run(q, false), on) }
    })
    ctx.tracing(false)
    pairs.map(_._2).sum / pairs.map(_._1).sum - 1.0
  }

  /** Results are written for the DuckDB-oracle comparison in run.py; a
    * corrupted run drops one row of the first query's result. */
  def check(): Seq[String] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val out = s"${ctx.work}/results"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(names) { q => Future {
      val (rows, schema) = results(q)
      val kept = if (ctx.corrupt && q == names.head) rows.drop(1) else rows
      spark.createDataFrame(java.util.Arrays.asList(kept: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
    } }, Duration.Inf)
    finally pool.shutdown()
    def js(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      names.filter(SparkEntry.oracleSql.contains)
        .map(q => s"${js(q)}: ${js(SparkEntry.oracleSql(q))}")
        .mkString("{", ",\n", "}"))
    Nil
  }

  private def perQueryMedians(s: Samples): Map[String, Double] =
    names.map(q => q -> Stats.median(s(s"q.$q"))).toMap

  override def endToEnd(s: Samples): Map[String, Double] =
    super.endToEnd(s) + ("round_p50_s" -> perQueryMedians(s).values.sum)

  def layers(s: Samples, tracedRounds: Int): Map[String, Double] = {
    val n = math.max(tracedRounds, 1).toDouble
    def jobs(q: String, phase: String) = ctx.jobsIn(_ == s"queries.$q.$phase") / n
    val buildJobs = names.map(q => q -> jobs(q, "build")).toMap
    val execJobs = names.map(q => jobs(q, "exec")).sum
    val perQuery = perQueryMedians(s)
    val summary = ctx.spans.summary
    def spanS(p: String => Boolean) =
      summary.collect { case (k, (_, tot, _)) if p(k) => tot }.sum / n
    Map(
      "queries.build_s" -> spanS(_.endsWith(".build")),
      "queries.build_jobs" -> buildJobs.values.sum,
      "queries.exec_s" -> spanS(_.endsWith(".exec")),
      "queries.exec_jobs" -> execJobs,
      "queries.build_job_share" -> {
        val b = buildJobs.values.sum
        if (b + execJobs > 0) b / (b + execJobs) else 0.0
      }) ++
      modules.map(m => s"queries.$m.s" ->
        names.filter(module(_) == m).map(perQuery).sum) ++
      names.map(q => s"queries.$q.s" -> perQuery(q)) ++
      names.map(q => s"queries.$q.build_jobs" -> buildJobs(q)) ++
      FunctionProbes.run(ctx)
  }

  def detail(s: Samples): Map[String, Double] = {
    val (tail, pct) = Stats.tail(s("call"))
    Map("query_p50_s" -> Stats.median(s("call")), "query_tail_s" -> tail,
      "query_tail_pct" -> pct, "mix_total_s" -> perQueryMedians(s).values.sum)
  }
}

/** The native expressions, each timed alone over a seeded frame. */
object FunctionProbes {
  val Rows = 200000

  def run(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val seed = ctx.seed
    def floats(k: Int) = array((0 until 64).map(j => rand(seed * 131 + k * 64 + j)
      .cast("float")): _*)
    def longs(k: Int) = array_sort(array_distinct(array((0 until 24).map(j =>
      floor(rand(seed * 97 + k * 24 + j) * 200).cast("long")): _*)))
    def word(k: Int) = concat_ws("", (0 until 8).map(j =>
      substring(lit("abcdefghij"), (floor(rand(seed * 53 + k * 8 + j) * 10) + 1)
        .cast("int"), lit(1))): _*)
    val frame = spark.range(Rows).select(col("id"),
      floats(1).as("fa"), floats(2).as("fb"), longs(3).as("la"), longs(4).as("lb"),
      (rand(seed) * 1e6).as("x"), word(5).as("wa"), word(6).as("wb"),
      concat(lit("t"), floor(pow(rand(seed + 7), 3) * 500).cast("string")).as("tok"))
      .cache()
    frame.count()
    // one untimed run compiles the plan; the median of three is kept
    def timeIt(label: String, c: org.apache.spark.sql.Column, agg: Boolean): Double = {
      def df = if (agg) frame.groupBy(col("id") % 16).agg(c.as("v"))
               else frame.select(c.as("v"))
      df.queryExecution.toRdd.count()
      Stats.median((1 to 3).map(_ => ctx.time(label)(df.queryExecution.toRdd.count())))
    }
    val base = timeIt("functions.baseline", col("x"), agg = false)
    val baseAgg = timeIt("functions.baseline_agg", count(col("tok")), agg = true)
    def ns(name: String, c: org.apache.spark.sql.Column, agg: Boolean = false) = {
      val t = timeIt(s"functions.$name", c, agg)
      s"functions.$name.ns_per_row" -> math.max(t - (if (agg) baseAgg else base), 0.0) * 1e9 / Rows
    }
    val out = Map(
      ns("dot_product", call_function("dot_product", col("fa"), col("fb"))),
      ns("sorted_intersect_count",
        call_function("sorted_intersect_count", col("la"), col("lb"))),
      ns("sorted_jaccard", call_function("sorted_jaccard", col("la"), col("lb"))),
      ns("sig9_round", call_function("sig9_round", col("x"))),
      ns("misra_gries", call_function("misra_gries", col("tok"), lit(64)), agg = true),
      ns("jaro_winkler", call_function("jaro_winkler", col("wa"), col("wb"))))
    frame.unpersist()
    out
  }
}

/** Stateful incremental writes: the seeded day files of `events` (late
  * and re-delivered rows included), one AvailableNow streaming run and
  * one bucketed upsert per day. */
final class EventStream(ctx: Ctx) extends Workload {
  import graft.streaming.EventPipeline
  import graft.sinks.UpsertWriter
  private val spark = ctx.spark
  private val days = s"${ctx.work}/days"
  private val source = s"${ctx.work}/source"
  private val sink = s"${ctx.work}/sink"
  private val checkpoint = s"${ctx.work}/checkpoint"
  private val table = s"${ctx.work}/upsert"
  /** Upsert buckets: the streaming upsert sink's default. */
  val Buckets = 16
  private var landedDays = 0
  private val schemaDdl = "event_id bigint, ts timestamp, user_id bigint, " +
    "event_type string, value double, props string, seq bigint"

  /** The day files come from run.py (gendata.day_files); count their rows. */
  def prepare(): Unit =
    dayRows = spark.read.parquet(days).groupBy("delivered").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1).toDouble).toMap

  private var dayRows = Map.empty[Int, Double]

  private def dayFile(d: Int): File =
    new File(s"$days/delivered=$d").listFiles.filter(_.getName.endsWith(".parquet")).head

  /** Day 0 runs through the real path untimed: it warms the streaming
    * and upsert paths and creates the checkpoint and the table. */
  override def warmup(): Unit = runDay(new Samples)

  private lazy val schema =
    org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)

  override def maxRounds: Int = dayRows.size - 1

  def round(i: Int, s: Samples): Double = runDay(s)

  /** Land the next day's file, run the stream over it, upsert it. */
  private def runDay(s: Samples): Double = {
    val d = landedDays
    val f = dayFile(d)
    val (_, dayWall) = ctx.call("streaming.day") {
      val landed = new File(s"$source/day$d.parquet")
      landed.getParentFile.mkdirs()
      java.nio.file.Files.copy(f.toPath, landed.toPath)
      val run = ctx.time("streaming.runAvailableNow")(
        EventPipeline.runAvailableNow(spark, source, schema, sink, checkpoint))
      val up = ctx.time("sinks.upsertBucketed")(UpsertWriter.upsertBucketed(
        spark.read.schema(schema).parquet(landed.getPath), table, Seq("event_id"),
        "seq", Buckets))
      s.add("call", run); s.add("call", up)
      s.add("run", run); s.add("upsert", up)
    }
    landedDays = d + 1
    val touched = touchedPartitions
    if (ctx.spans.enabled) {
      s.add("touched", touched.toDouble)
      s.add("run.traced", s("run").last)
      s.add("in_bytes.traced", f.length.toDouble)
    }
    s.add("rows_per_s", dayRows(d) / dayWall)
    dayWall
  }

  private var lastListing = Map.empty[String, Long]
  /** Bucket directories whose files changed since the previous call. */
  private def touchedPartitions: Int = {
    val now = Option(new File(table).listFiles).toSeq.flatten.filter(_.isDirectory)
      .map(d => d.getName -> Option(d.listFiles).toSeq.flatten.map(_.lastModified).sum)
      .toMap
    val n = now.count { case (k, v) => !lastListing.get(k).contains(v) }
    lastListing = now
    n
  }

  def check(): Seq[String] = {
    val all = spark.read.schema(schema).parquet(source)
    val got = UpsertWriter.readBucketed(spark, table)
    // a corrupted run drops one upserted row before comparing
    val table0 = if (ctx.corrupt) got.offset(1) else got
    val latest = all.withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_id")
          .orderBy(col("seq").desc))).filter(col("__rn") === 1).drop("__rn")
    val cols = latest.columns.sorted.toSeq
    val upsertOk =
      if (Fs.canon(table0, cols) == Fs.canon(latest, cols)) None
      else Some("upsert table differs from a batch latest-wins recompute")
    // the windows the watermark has closed: every day before the last
    // landed one has been emitted, and equals the batch aggregate
    val streamed = spark.read.parquet(sink)
    val closed = (0 until landedDays - 1).map(d =>
      java.time.LocalDate.of(2024, 1, 1).plusDays(d).toString)
    val expected = EventPipeline.windowedStats(all).filter(col("day").isin(closed: _*))
    val sc = expected.columns.sorted.toSeq
    val streamOk =
      if (Fs.canon(streamed.filter(col("day").isin(closed: _*)), sc) ==
          Fs.canon(expected, sc)) None
      else Some("streamed windows differ from batch windowedStats")
    upsertOk.toSeq ++ streamOk
  }

  def layers(s: Samples, tracedRounds: Int): Map[String, Double] = {
    ctx.drain()
    val ps = ctx.stream.synchronized(ctx.stream.progress.toList)
    val n = math.max(tracedRounds, 1).toDouble
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum / n

    val lastState = ps.lastOption.toSeq.flatMap(_.stateOperators)
    val upBytes = ctx.sched.collect(_ == "sinks.upsertBucketed").output.toDouble
    val tracedIn = s("in_bytes.traced").sum
    val (tb, tf) = Fs.du(table)
    val (_, cf) = Fs.du(checkpoint)
    Map(
      "streaming.batches" -> ps.size / n,
      "streaming.triggerExecution_ms" -> dur("triggerExecution"),
      "streaming.queryPlanning_ms" -> dur("queryPlanning"),
      "streaming.addBatch_ms" -> dur("addBatch"),
      "streaming.walCommit_ms" -> dur("walCommit"),
      "streaming.commitOffsets_ms" -> dur("commitOffsets"),
      "streaming.latestOffset_ms" -> dur("latestOffset"),
      "streaming.start_stop_ms" -> math.max(
        s("run.traced").sum * 1000 / n -
          dur("triggerExecution"), 0.0),
      "streaming.state_rows" -> lastState.map(_.numRowsTotal).sum.toDouble,
      "streaming.state_memory_bytes" -> lastState.map(_.memoryUsedBytes).sum.toDouble,
      "streaming.checkpoint_files" -> cf.toDouble,
      "sinks.bytes_written" -> upBytes / n,
      "sinks.write_amp" -> (if (tracedIn > 0) upBytes / tracedIn else 0.0),
      "sinks.table_bytes" -> tb.toDouble,
      "sinks.table_files" -> tf.toDouble,
      "sinks.partitions_rewritten" -> Stats.median(s("touched")))
  }

  def detail(s: Samples): Map[String, Double] = Map(
    "day_run_p50_s" -> Stats.median(s("run")),
    "upsert_p50_s" -> Stats.median(s("upsert")),
    "stream_rows_per_s" -> Stats.median(s("rows_per_s")))
}

/** One production day: the day's events stream in (AvailableNow run and
  * bucketed upsert), then the KBO stage chain runs. Set-up lands the
  * input tables, streams day 0 and runs the in-process DailyChain. */
final class ProductionDay(ctx: Ctx) extends Workload {
  private val stream = new EventStream(ctx)
  private val chain = new KboChain(ctx)
  def prepare(): Unit = { stream.prepare(); chain.prepare() }
  override def warmup(): Unit = { stream.warmup(); chain.warmup() }
  override def maxRounds: Int = stream.maxRounds
  def round(i: Int, s: Samples): Double = stream.round(i, s) + chain.round(i, s)
  def check(): Seq[String] = chain.check() ++ stream.check()
  def layers(s: Samples, tracedRounds: Int): Map[String, Double] =
    chain.layers(s, tracedRounds) ++ stream.layers(s, tracedRounds)
  def detail(s: Samples): Map[String, Double] = chain.detail(s) ++ stream.detail(s)
}
