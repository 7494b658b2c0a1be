package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalar expression surface of the engine — SURVEY.md §2.B (F1–F14).
  *
  * Everything is composed from built-in Catalyst expressions so the whole
  * projection stays inside whole-stage codegen; no Scala UDFs in the hot
  * path. Reference citations are into /root/reference.
  */
object Exprs {

  /** F3 — innings-pitched fraction parse: "5 2/3" -> 5.667, "2/3" -> 0.667,
    * "5" -> 5.0, unparseable -> NULL.
    * Ref: dags/021_calculate_pitcher_metrics.py:15-30.
    *
    * Native regexp_extract composition (codegen'd) instead of the
    * reference's Python string-split UDF.
    */
  def ipToFloat(c: Column): Column = {
    val t = trim(c)
    val whole = regexp_extract(t, "^(\\d+)(?:\\s+\\d+/\\d+)?$", 1)
    val num   = regexp_extract(t, "(\\d+)/(\\d+)\\s*$", 1)
    val den   = regexp_extract(t, "(\\d+)/(\\d+)\\s*$", 2)
    val wholeV = when(whole =!= "", whole.cast(DoubleType)).otherwise(lit(0.0))
    val fracV  = when(den =!= "", num.cast(DoubleType) / den.cast(DoubleType))
      .otherwise(lit(0.0))
    when(whole === "" && den === "", lit(null).cast(DoubleType))
      .otherwise(wholeV + fracV)
  }

  /** F4 — "-" placeholder to NULL, else cast to double; any other
    * unparseable input is NULL too (ANSI mode would otherwise throw on the
    * cast — the numeric guard keeps the expression total).
    * Ref: dags/010_scrape_hitters_stats.py:30-33. */
  def dashNull(c: Column): Column = {
    val t = trim(c)
    when(t.rlike("^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$"),
      t.cast(DoubleType)).otherwise(lit(null).cast(DoubleType))
  }

  /** F5 — percentage normalize (x/100 with dash-null).
    * Ref: dags/010_scrape_hitters_stats.py:110. */
  def percent(c: Column): Column = dashNull(c) / lit(100.0)

  /** F6 — result-bundle parse "AWAY3vs5HOME" -> (away, ascore, home, hscore).
    * Ref: dags/000_scrape_games_result.py:24-29. */
  val resultBundlePattern = "^(\\D+)(\\d+)vs(\\d+)(\\D+)$"
  def bundleAway(c: Column): Column   = regexp_extract(c, resultBundlePattern, 1)
  def bundleAScore(c: Column): Column =
    regexp_extract(c, resultBundlePattern, 2).cast(IntegerType)
  def bundleHScore(c: Column): Column =
    regexp_extract(c, resultBundlePattern, 3).cast(IntegerType)
  def bundleHome(c: Column): Column   = regexp_extract(c, resultBundlePattern, 4)

  /** F7 — schedule-bundle parse "AWAYvsHOME".
    * Ref: dags/030_scrape_today_games_time.py:22-27. */
  def schedAway(c: Column): Column = regexp_extract(c, "^(.+?)vs(.+)$", 1)
  def schedHome(c: Column): Column = regexp_extract(c, "^(.+?)vs(.+)$", 2)

  /** F8 — game datetime parse: strip "(월)"-style weekday, inject year,
    * parse "M.dH:mm". Ref: dags/000_scrape_games_result.py:31-36.
    * Takes the year as a parameter (not the wall clock) for determinism —
    * SURVEY §7 "what's genuinely hard" #3. */
  def parseGameDatetime(c: Column, year: Column): Column = {
    val cleaned = regexp_replace(c, "\\(.*?\\)", "")
    // Fixed-width MM.ddHH:mm — the day and hour fields are adjacent with no
    // separator (the weekday marker sat between them), so variable-width
    // patterns would be ambiguous to DateTimeFormatter.
    to_timestamp(concat(year.cast(StringType), lit("."), trim(cleaned)),
      "yyyy.MM.ddHH:mm")
  }

  /** F9 — scraped date rebuild "MM.dd" + year -> date.
    * Ref: dags/010_scrape_hitters_stats.py:134-136. */
  def rebuildDate(c: Column, year: Column): Column =
    to_date(concat(year.cast(StringType), lit("-"),
      regexp_replace(trim(c), "\\.", "-")), "yyyy-M-d")

  /** F10 — game-result sign: away>home => -1, tie => 0, home>away => 1.
    * Ref: dags/070_get_game_resulty.py:113-119. */
  def resultSign(away: Column, home: Column): Column =
    when(away > home, lit(-1)).when(away === home, lit(0)).otherwise(lit(1))
      .cast(IntegerType)

  /** F11 — team name = first token; strip markers.
    * Ref: dags/040_baseball_lineup_scraper.py:149, dags/070_get_game_resulty.py:103-107. */
  def firstToken(c: Column): Column = split(trim(c), "\\s+").getItem(0)
  def stripMarker(c: Column, marker: String): Column =
    regexp_replace(c, marker, "")

  /** F12 — "yyyy.M.d H:mm" literal timestamp parse.
    * Ref: dags/040_baseball_lineup_scraper.py:173-175. */
  def parseDotTimestamp(c: Column): Column =
    to_timestamp(trim(c), "yyyy.M.d H:mm")

  /** S5 — KST (Asia/Seoul) pinning: the reference runs wall-clock KST
    * (execution_date + 9h, dags/031_schedule_dag_for_get_today_line_up
    * .py:11-12); our sessions run UTC, so KST-local semantics are an
    * explicit conversion, never an ambient timezone. */
  def toKst(ts: Column): Column = from_utc_timestamp(ts, "Asia/Seoul")
}
