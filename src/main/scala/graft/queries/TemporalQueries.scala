package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.ext.{BloomPrune, TemporalJoins}
import Q._

/** Temporal-join and join-pruning operators over the `events` /
  * `orders` / `lineitem` fixtures, each with a DuckDB oracle twin.
  * The as-of oracle uses DuckDB's native ASOF JOIN — a genuinely
  * independent implementation of the same semantics.
  */
object TemporalQueries {
  type QFn = (SparkSession, String) => DataFrame

  private val fmt = "yyyy-MM-dd HH:mm:ss"

  // --- J10: as-of join — each click gets the user's latest preceding
  // purchase (value + floor + time); clicks before any purchase keep
  // NULLs. The two payload columns go NULL under COMPLEMENTARY value
  // ranges, so stitching columns from different quote rows (the
  // per-column last(ignoreNulls) anti-pattern) would diverge from
  // DuckDB's native ASOF JOIN — the payload must arrive as one row.

  /** Purchase quotes pre-reduced to ONE row per (user_id, ts) keeping
    * max(value): the as-of pick among equal-timestamp quotes is
    * otherwise unspecified on BOTH sides (engine default tieBreak,
    * DuckDB bare ASOF), so the reduction makes the adjudicated
    * contract a total function of any fixture — the ADVICE-r7 move,
    * mirrored exactly by the quotes subselect in the three oracles. */
  private def purchaseQuotes(ev: DataFrame, valueName: String): DataFrame =
    ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("value"))
      .select(col("user_id"), col("ts"),
        when(col("value") >= 100.0, col("value")).as(valueName),
        when(col("value") < 200.0, floor(col("value"))).as("purchase_floor"))

  private val quotesSql =
    """  SELECT user_id, ts,
      |    CASE WHEN value >= CAST(100.0 AS DOUBLE) THEN value END AS v,
      |    CASE WHEN value < CAST(200.0 AS DOUBLE)
      |      THEN CAST(floor(value) AS BIGINT) END AS vf
      |  FROM (SELECT user_id, ts, MAX(value) AS value
      |        FROM events WHERE event_type = 'purchase'
      |        GROUP BY user_id, ts)""".stripMargin

  private val j10: QFn = (s, d) => {
    val ev = Tables.events(s, d)
    val probes = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    TemporalJoins.asOfJoin(probes, purchaseQuotes(ev, "last_purchase_value"),
        Seq("user_id"), "ts",
        Seq("last_purchase_value", "purchase_floor"))
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), fmt).as("ts_s"),
        col("last_purchase_value"), col("purchase_floor"),
        date_format(col("asof_time"), fmt).as("purchase_ts_s"))
  }

  private val j10Sql =
    s"""WITH probes AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      |quotes AS (
      |$quotesSql)
      |SELECT p.event_id, p.user_id,
      |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
      |  q.v AS last_purchase_value, q.vf AS purchase_floor,
      |  strftime(q.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts_s
      |FROM probes p ASOF LEFT JOIN quotes q
      |  ON p.user_id = q.user_id AND p.ts >= q.ts""".stripMargin

  // --- J10b: FORWARD as-of join — each click gets the user's EARLIEST
  // purchase at or after it (the next-event shape). Same
  // complementary-NULL payload columns as J10; the oracle is DuckDB's
  // native ASOF with the inequality flipped (p.ts <= q.ts).
  private val j10b: QFn = (s, d) => {
    val ev = Tables.events(s, d)
    val probes = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    TemporalJoins.asOfJoin(probes, purchaseQuotes(ev, "next_purchase_value"),
        Seq("user_id"), "ts",
        Seq("next_purchase_value", "purchase_floor"),
        direction = "forward")
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), fmt).as("ts_s"),
        col("next_purchase_value"), col("purchase_floor"),
        date_format(col("asof_time"), fmt).as("purchase_ts_s"))
  }

  private val j10bSql =
    s"""WITH probes AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      |quotes AS (
      |$quotesSql)
      |SELECT p.event_id, p.user_id,
      |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
      |  q.v AS next_purchase_value, q.vf AS purchase_floor,
      |  strftime(q.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts_s
      |FROM probes p ASOF LEFT JOIN quotes q
      |  ON p.user_id = q.user_id AND p.ts <= q.ts""".stripMargin

  // --- J10c: as-of join WITH tolerance — each click gets the latest
  // preceding purchase only if it happened within 30 minutes; staler
  // matches revert to the no-match NULLs. The oracle is DuckDB's
  // native ASOF with a tolerance CASE over the matched row (nearest
  // too stale => all staler: identical semantics). The tolerance gate
  // compares epoch MICROSECONDS — the engine's staleness is exact
  // fractional seconds (timestamp cast to double), and
  // date_diff('second') truncates, which would accept e.g. a 1800.5 s
  // staleness the engine rejects (ADVICE r7; masked on whole-second
  // fixtures, wrong on sub-second ones).
  private val j10c: QFn = (s, d) => {
    val ev = Tables.events(s, d)
    val probes = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    TemporalJoins.asOfJoin(probes, purchaseQuotes(ev, "last_purchase_value"),
        Seq("user_id"), "ts",
        Seq("last_purchase_value", "purchase_floor"),
        toleranceSeconds = Some(1800L))
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), fmt).as("ts_s"),
        col("last_purchase_value"), col("purchase_floor"),
        date_format(col("asof_time"), fmt).as("purchase_ts_s"))
  }

  private val j10cSql = {
    val fresh = "epoch_us(pts) - epoch_us(qts) <= 1800 * 1000000"
    s"""WITH probes AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      |quotes AS (
      |$quotesSql),
      |m AS (
      |  SELECT p.event_id, p.user_id, p.ts AS pts, q.ts AS qts,
      |         q.v, q.vf
      |  FROM probes p ASOF LEFT JOIN quotes q
      |    ON p.user_id = q.user_id AND p.ts >= q.ts)
      |SELECT event_id, user_id,
      |  strftime(pts, '%Y-%m-%d %H:%M:%S') AS ts_s,
      |  CASE WHEN $fresh THEN v END
      |    AS last_purchase_value,
      |  CASE WHEN $fresh THEN vf END
      |    AS purchase_floor,
      |  CASE WHEN $fresh
      |    THEN strftime(qts, '%Y-%m-%d %H:%M:%S') END AS purchase_ts_s
      |FROM m""".stripMargin
  }

  // --- J11: interval containment join — count all events inside each
  // +/-30min window around a high-value error event (empty windows = 0).
  private val j11: QFn = (s, d) => {
    val ev = Tables.events(s, d)
    val win = ev
      .filter(col("event_type") === "error" && col("value") > 250.0)
      .select(col("event_id").as("window_id"),
        (col("ts") - expr("INTERVAL 30 MINUTES")).as("lo"),
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("hi"))
    TemporalJoins.rangeJoinCount(win, "window_id", "lo", "hi", ev, "ts")
  }

  private val j11Sql =
    """WITH w AS (
      |  SELECT event_id AS window_id,
      |         ts - INTERVAL 30 MINUTE AS lo,
      |         ts + INTERVAL 30 MINUTE AS hi
      |  FROM events WHERE event_type = 'error' AND value > 250.0)
      |SELECT w.window_id, COUNT(e.ts) AS n_in_window
      |FROM w LEFT JOIN events e ON e.ts >= w.lo AND e.ts <= w.hi
      |GROUP BY w.window_id""".stripMargin

  // --- J12: bloom-pruned join — lineitem pruned by a bloom over urgent
  // orders' keys before the exact join; result identical to a plain
  // inner join (false positives die in the join), so the oracle is the
  // plain join. Revenue per return flag, decimal-routed.
  private val j12: QFn = (s, d) => {
    val o = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag"),
        col("l_extendedprice"), col("l_discount"))
    BloomPrune.prunedJoin(li, "l_orderkey", o, "o_orderkey",
        expectedItems = 1000000L, fpp = 0.01)
      .groupBy(col("l_returnflag"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  private val j12Sql =
    s"""SELECT l_returnflag,
       |  ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       |  COUNT(*) AS n_items
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE o_orderpriority = '1-URGENT'
       |GROUP BY l_returnflag""".stripMargin

  // --- W2: recent-10 bound per user (reference W2 with k=10) ----------
  private val w2: QFn = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        date_format(col("ts"), fmt).as("ts_s"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 10)
  }

  private val w2Sql =
    """SELECT user_id, event_id,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id
      |    ORDER BY ts DESC, event_id DESC) AS INTEGER) AS rn
      |FROM events
      |QUALIFY rn <= 10""".stripMargin

  // --- J13: salted join — deterministic salting must not change the
  // answer; the oracle is the plain join. Per-nation supplier revenue.
  private val j13: QFn = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select(col("l_suppkey"), col("l_extendedprice"))
    val supp = Tables.supplier(s, d)
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    graft.ext.Skew.saltedJoin(li, supp, "l_suppkey", saltFactor = 8)
      .groupBy(col("s_nationkey"))
      .agg(dsum(col("l_extendedprice")).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  private val j13Sql =
    s"""SELECT s_nationkey,
       |  ${sqlDsum("l_extendedprice")} AS revenue,
       |  COUNT(*) AS n_items
       |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |GROUP BY s_nationkey""".stripMargin

  // --- X: approx_percentile self-check — the sketch's p50/p90 must land
  // within 1% of the exact percentiles (computed exactly on BOTH sides;
  // the verdict row is what the oracle hashes).
  private val approxPct: QFn = (s, d) => {
    // exact percentile is the oracle crutch, not the scale path - check
    // on a 1/7 subset (first line items), which bounds its cost while
    // the approx sketch is what would run over the full 100 TB.
    val a = Tables.lineitem(s, d).filter(col("l_linenumber") === 1).agg(
      expr("approx_percentile(l_extendedprice, array(0.5, 0.9), 10000)")
        .as("ap"),
      expr("percentile(l_extendedprice, array(0.5, 0.9))").as("ep"))
    a.select(lit("approx_percentile_p50_p90").as("metric"),
      (abs(col("ap")(0) - col("ep")(0)) <= col("ep")(0) * 0.01 &&
        abs(col("ap")(1) - col("ep")(1)) <= col("ep")(1) * 0.01).as("ok"))
  }

  private val approxPctSql =
    """SELECT 'approx_percentile_p50_p90' AS metric, TRUE AS ok"""

  val queries: Map[String, (QFn, String)] = Map(
    "q_j10_asof" -> (j10, j10Sql),
    "q_j10b_asof_forward" -> (j10b, j10bSql),
    "q_j10c_asof_tolerance" -> (j10c, j10cSql),
    "q_j11_range" -> (j11, j11Sql),
    "q_j12_bloom_prune" -> (j12, j12Sql),
    "q_j13_salted_join" -> (j13, j13Sql),
    "q_w2_recent10" -> (w2, w2Sql),
    "q_x_approx_percentile" -> (approxPct, approxPctSql))
}
