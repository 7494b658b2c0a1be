package graft.jobs.stages

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.jobs.DailyChain
import graft.kbo.{Metrics, Records}
import graft.core.{Parquet, Session}

/** The deployment face of the daily chain: one thin `spark-submit`
  * main per reference DAG stage, exchanging REFERENCE-SHAPED parquet
  * tables through a lake directory — the posture an Airflow operator
  * chain drives (see `deploy/airflow/graft_daily_chain_dag.py`, which
  * mirrors the reference's TriggerDagRunOperator wiring,
  * `dags/000_scrape_games_result.py:147-153` →
  * `dags/001_park_factor_calculation.py:106-113` → … → 060).
  *
  * Every stage calls the SAME `graft.kbo.Metrics` /
  * [[graft.jobs.DailyChain]] functions as the in-process chain — the
  * staged composition and the one-plan composition cannot diverge
  * (StagesSpec adjudicates their equality). The reference hands each
  * stage through MySQL upserts; here each stage lands an overwrite
  * parquet table, and Airflow owns retries/scheduling exactly as in
  * the reference.
  *
  * [[Stage000LandTables]] stands in for the scrape boundary (reference
  * DAGs 000/010/020/030/040): in production the Playwright scrapers
  * land the same table shapes; for a fixture run it derives them
  * deterministically from the TPC-H-ish testdata (the same
  * derivations the oracle queries use).
  */
object StageIO {

  /** A landed lake table. Its schema is read from the table's footer
    * on the driver ([[graft.core.Parquet.read]]), so a stage main
    * builds its input frames without submitting a Spark job; the jobs
    * a stage runs are its own transform and write. */
  def read(s: SparkSession, lake: String, table: String): DataFrame =
    Parquet.read(s, s"$lake/$table")

  /** Overwrite-land a stage output — the parquet equivalent of the
    * reference's per-table upsert target. */
  def write(df: DataFrame, lake: String, table: String): Unit =
    df.write.mode("overwrite").parquet(s"$lake/$table")
}

/** Scrape-boundary stand-in (reference 000/010/020/030/040): land the
  * reference-shaped input tables. args = (fixtureDir, lakeDir). */
object Stage000LandTables {
  import graft.queries.KboQueries

  /** The landed input tables, fixture-derived (deterministic). */
  def tables(s: SparkSession, fixture: String): Map[String, DataFrame] = {
    val cust = graft.core.Tables.customer(s, fixture)
    val supp = graft.core.Tables.supplier(s, fixture)
    val k = col("c_custkey")
    val sk = col("s_suppkey")
    val day = lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00"))
    // hitter lineup rows resolve against hitters (customer-derived,
    // position 1..9); pitcher rows against pitchers (supplier-derived,
    // position 0 — the reference's pitcher marker, F2)
    val lineup = cust.filter(k % 3 === 0).select(
      col("c_name").as("player"),
      concat(lit("T"), (col("c_nationkey") % 5).cast("string")).as("team"),
      concat(lit("T"), ((col("c_nationkey") + 1) % 5).cast("string"))
        .as("opponent"),
      concat(lit("S"), (k % 7).cast("string")).as("stadium"),
      (k % 9 + 1).as("position"), day.as("game_date"))
      .unionByName(supp.filter(sk % 2 === 0).select(
        col("s_name").as("player"),
        concat(lit("T"), (col("s_nationkey") % 5).cast("string")).as("team"),
        concat(lit("T"), ((col("s_nationkey") + 1) % 5).cast("string"))
          .as("opponent"),
        concat(lit("S"), (sk % 7).cast("string")).as("stadium"),
        lit(0L).as("position"), day.as("game_date")))
    // today's game schedule (reference 030's scrape target,
    // Schemas.todayGames): five fixture games staggered from 18:00 KST
    // (17:55 UTC offset irrelevant — times are lake-local), so the 031
    // trigger stage has both due and not-yet-due games to partition
    val games = s.range(5).select(
      expr("timestamp '2024-03-01 18:00:00' + " +
        "make_interval(0, 0, 0, 0, 0, CAST(id * 5 AS INT), 0)")
        .as("game_date"),
      concat(lit("T"), (col("id") % 5).cast("string")).as("away_team"),
      concat(lit("T"), ((col("id") + 1) % 5).cast("string"))
        .as("home_team"),
      concat(lit("S"), (col("id") % 7).cast("string")).as("stadium"))
    Map(
      "today_games" -> games,
      "game_records" -> KboQueries.kboGames(s, fixture),
      "hitters" -> KboQueries.kboHitters(s, fixture),
      "pitchers" -> KboQueries.kboPitchers(s, fixture),
      "today_lineup" -> lineup,
      "hitter_opponents" -> cust.select(k.as("hitter_id"),
        concat(lit("T"), (k % 5).cast("string")).as("opponent_team"),
        ((k % 40).cast("double") / 100.0 + 0.2).as("avg")),
      "hitter_stadiums" -> cust.select(k.as("hitter_id"),
        concat(lit("S"), (k % 7).cast("string")).as("stadium"),
        ((k % 35).cast("double") / 100.0 + 0.2).as("avg")),
      "hitter_games" -> graft.core.Tables.orders(s, fixture).select(
        col("o_custkey").as("hitter_id"),
        col("o_orderdate").as("game_date"),
        concat(lit("T"), (col("o_orderkey") % 5).cast("string"))
          .as("opponent_team"),
        (col("o_orderkey") % 6).as("hits")),
      "pitcher_opponents" -> supp.select(sk.as("pitcher_id"),
        concat(lit("T"), (sk % 5).cast("string")).as("opponent_team"),
        ((sk % 50).cast("double") / 10.0 + 1.0).as("era")),
      "pitcher_stadiums" -> supp.select(sk.as("pitcher_id"),
        concat(lit("S"), (sk % 7).cast("string")).as("stadium"),
        ((sk % 45).cast("double") / 10.0 + 1.0).as("era")),
      "pitcher_games" -> graft.core.Tables.lineitem(s, fixture)
        .filter(col("l_linenumber") === 1).select(
          col("l_suppkey").as("pitcher_id"),
          col("l_shipdate").as("game_date"),
          concat(lit("T"), (col("l_orderkey") % 5).cast("string"))
            .as("opponent_team"),
          (col("l_orderkey") % 9).as("so")),
      // per-inning scoreboard — the 070 DAG's scrape target
      // (dags/070_get_game_resulty.py:69-119 walks the inning table);
      // inning i = linenumber i, runs deterministic from part/supp keys
      // (the same derivation q_m070_five_inning adjudicates)
      "scoreboard" -> {
        val li = graft.core.Tables.lineitem(s, fixture).select(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_partkey") % 5).cast("int").as("away_runs"),
          (col("l_suppkey") % 5).cast("int").as("home_runs"))
        li.groupBy(col("l_orderkey"))
          .agg(
            transform(array_sort(collect_list(struct(col("l_linenumber"),
              col("away_runs")))), x => x.getField("away_runs"))
              .as("away_innings"),
            transform(array_sort(collect_list(struct(col("l_linenumber"),
              col("home_runs")))), x => x.getField("home_runs"))
              .as("home_innings"))
          .select(day.as("game_date"),
            concat(lit("T"), (col("l_orderkey") % 5).cast("string"))
              .as("away_team"),
            concat(lit("T"), ((col("l_orderkey") + 3) % 7).cast("string"))
              .as("home_team"),
            col("away_innings"), col("home_innings"))
      })
  }

  def main(args: Array[String]): Unit = {
    val Array(fixture, lake) = args
    val s = Session("graft-000-land")
    tables(s, fixture).foreach { case (name, df) =>
      StageIO.write(df, lake, name)
    }
  }
}

/** Reference 031: schedule the lineup scrape at game_time − lead
  * (dags/031_schedule_dag_for_get_today_line_up.py:19-57). Reads the
  * landed today_games, keeps games starting inside (now, now+horizon]
  * via [[graft.streaming.EventPipeline.dueWithin]] — the engine-side
  * event-time gate; `now` is an ARGUMENT, never the wall clock (the
  * determinism contract) — and lands one trigger row per game: the
  * lineup-scrape DAG's deterministic run_id (`scheduled__<iso>`, the
  * reference's run-id convention) and its execution time
  * (game_date − lead). Idempotent like the reference's DagRun.find
  * dedup: run_id is a pure function of the game row, so a re-run
  * lands the identical schedule (latest-wins overwrite).
  * args = (lake, nowIso, leadMinutes, horizonMinutes). */
object Stage031LineupTriggers {
  def main(args: Array[String]): Unit = {
    val Array(lake, nowIso, lead, horizon) = args
    val s = Session("graft-031-lineup-triggers")
    val due = graft.streaming.EventPipeline.dueWithin(
      StageIO.read(s, lake, "today_games"),
      java.sql.Timestamp.valueOf(nowIso), horizon.toInt)
    StageIO.write(
      due.select(col("game_date"), col("away_team"), col("home_team"),
          col("stadium"),
          (col("game_date") - expr(s"INTERVAL ${lead.toInt} MINUTES"))
            .as("trigger_time"))
        .withColumn("run_id", concat(lit("scheduled__"),
          date_format(col("trigger_time"), "yyyy-MM-dd'T'HH:mm:ss"))),
      lake, "lineup_triggers")
  }
}

/** Reference 001: park factor from game_records. */
object Stage001ParkFactor {
  def main(args: Array[String]): Unit = {
    val Array(lake) = args
    val s = Session("graft-001-park-factor")
    StageIO.write(Metrics.parkFactor(StageIO.read(s, lake, "game_records")),
      lake, "park_factor")
  }
}

/** Reference 011: per-hitter wOBA. */
object Stage011HitterWoba {
  def main(args: Array[String]): Unit = {
    val Array(lake) = args
    val s = Session("graft-011-woba")
    StageIO.write(Metrics.hitterWoba(StageIO.read(s, lake, "hitters")),
      lake, "hitter_woba")
  }
}

/** Reference 012: wRC from league scalars + wOBA. */
object Stage012HitterWrc {
  def main(args: Array[String]): Unit = {
    val Array(lake) = args
    val s = Session("graft-012-wrc")
    StageIO.write(
      Metrics.hitterWrc(StageIO.read(s, lake, "game_records"),
        StageIO.read(s, lake, "hitters"),
        StageIO.read(s, lake, "hitter_woba")),
      lake, "hitter_wrc")
  }
}

/** Reference 013: k_rate / bb_rate / BABIP. */
object Stage013HitterRates {
  def main(args: Array[String]): Unit = {
    val Array(lake) = args
    val s = Session("graft-013-rates")
    StageIO.write(Metrics.hitterRates(StageIO.read(s, lake, "hitters")),
      lake, "hitter_rates")
  }
}

/** Reference 021: pitcher FIP + per-9 rates. */
object Stage021PitcherMetrics {
  def main(args: Array[String]): Unit = {
    val Array(lake) = args
    val s = Session("graft-021-pitcher-metrics")
    StageIO.write(Metrics.pitcherMetrics(StageIO.read(s, lake, "pitchers")),
      lake, "pitcher_metrics")
  }
}

/** Reference 041: park-adjusted wRC+/OPS+ assembled with the staged
  * wOBA/wRC/rates into the hitter_metrics table. */
object Stage041HitterMetrics {
  def main(args: Array[String]): Unit = {
    val Array(lake) = args
    val s = Session("graft-041-hitter-metrics")
    val wrc = StageIO.read(s, lake, "hitter_wrc")
    val adjustedOne = DailyChain.adjustedOnePerHitter(
      StageIO.read(s, lake, "today_lineup"),
      StageIO.read(s, lake, "hitters"), wrc,
      StageIO.read(s, lake, "park_factor"))
    StageIO.write(
      DailyChain.assembleHitterMetrics(
        StageIO.read(s, lake, "hitter_woba"), wrc,
        StageIO.read(s, lake, "hitter_rates"), adjustedOne),
      lake, "hitter_metrics")
  }
}

/** Reference 050: wide hitter integration records. */
object Stage050HitterRecords {
  def main(args: Array[String]): Unit = {
    val Array(lake) = args
    val s = Session("graft-050-hitter-records")
    StageIO.write(
      Records.wideRecord(StageIO.read(s, lake, "today_lineup"),
        StageIO.read(s, lake, "hitters"),
        StageIO.read(s, lake, "hitter_metrics"),
        StageIO.read(s, lake, "hitter_opponents"),
        StageIO.read(s, lake, "hitter_stadiums"),
        StageIO.read(s, lake, "hitter_games"),
        "hitter_id", isPitcher = false),
      lake, "hitter_records")
  }
}

/** Reference 070: first-5-innings game result — the reference runs
  * this as its OWN cron DAG (dags/070_get_game_resulty.py:141-146,
  * `50 14 * * *`), separate from the daily chain; here it is the
  * standalone `deploy/airflow/graft_five_innings_dag.py`. Reads the
  * landed per-inning scoreboard (the 070 scrape's shape), slices
  * innings 1..5 and lands the signed result — the SAME
  * [[Metrics.fiveInningResult]] path `q_m070_five_inning`
  * hash-adjudicates against DuckDB. */
object Stage070FiveInnings {
  def main(args: Array[String]): Unit = {
    val Array(lake) = args
    val s = Session("graft-070-five-innings")
    StageIO.write(
      Metrics.fiveInningResult(StageIO.read(s, lake, "scoreboard")),
      lake, "game_records_until_5_innings")
  }
}

/** Reference 060: wide pitcher integration records. */
object Stage060PitcherRecords {
  def main(args: Array[String]): Unit = {
    val Array(lake) = args
    val s = Session("graft-060-pitcher-records")
    StageIO.write(
      Records.wideRecord(StageIO.read(s, lake, "today_lineup"),
        StageIO.read(s, lake, "pitchers"),
        StageIO.read(s, lake, "pitcher_metrics"),
        StageIO.read(s, lake, "pitcher_opponents"),
        StageIO.read(s, lake, "pitcher_stadiums"),
        StageIO.read(s, lake, "pitcher_games"),
        "pitcher_id", isPitcher = true),
      lake, "pitcher_records")
  }
}
