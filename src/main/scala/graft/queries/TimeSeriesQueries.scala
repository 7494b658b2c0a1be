package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.{Checkpoints, TimeSeries}

/** Regular-grid time-series operators over the `events` fixture under
  * the DuckDB oracle ([[graft.ext.TimeSeries]]): OHLC downsampling and
  * gap-filling linear interpolation. The interpolation oracle uses
  * DuckDB's native ASOF JOIN twice (backward + forward) — a genuinely
  * independent implementation of the bracketing-sample semantics.
  */
object TimeSeriesQueries {
  type QFn = (SparkSession, String) => DataFrame

  private val fmt = "yyyy-MM-dd HH:mm:ss"

  // ===== OHLC resample: per-user hourly bars =========================

  private val resampleQ: QFn = (s, d) => {
    TimeSeries.resample(Tables.events(s, d), Seq("user_id"), "ts",
        "value", bucketSeconds = 3600L, tieBreak = col("event_id"))
      .select(col("user_id"),
        date_format(col("bucket_ts"), fmt).as("bucket_s"),
        col("open_v"), col("high_v"), col("low_v"), col("close_v"),
        col("n_events"), col("sum_v"))
  }

  private val resampleSql = {
    val ord = "format('{:020d}|{:020d}', epoch_us(ts), event_id)"
    s"""SELECT user_id,
       |  strftime(make_timestamp(epoch_us(ts) - epoch_us(ts) % 3600000000),
       |           '%Y-%m-%d %H:%M:%S') AS bucket_s,
       |  arg_min(value, $ord) AS open_v,
       |  max(value) AS high_v,
       |  min(value) AS low_v,
       |  arg_max(value, $ord) AS close_v,
       |  CAST(count(*) AS BIGINT) AS n_events,
       |  ${Q.sqlDsum("value")} AS sum_v
       |FROM events GROUP BY 1, 2""".stripMargin
  }

  // ===== gap-filling linear interpolation: hourly grid per user ======

  private val interpQ: QFn = (s, d) => {
    TimeSeries.interpolate(Tables.events(s, d), Seq("user_id"), "ts",
        "value", stepSeconds = 3600L)
      .select(col("user_id"),
        date_format(col("ts"), fmt).as("grid_s"),
        col("value_interp"),
        date_format(col("prev_ts"), fmt).as("prev_s"),
        date_format(col("next_ts"), fmt).as("next_s"))
  }

  private val interpSql = {
    val interp = "pv + (nv - pv) * (CAST(gus - epoch_us(pts) AS DOUBLE) / " +
      "CAST(epoch_us(nts) - epoch_us(pts) AS DOUBLE))"
    s"""WITH q AS (
       |  SELECT user_id, ts, max(value) AS v FROM events GROUP BY 1, 2),
       |b AS (
       |  SELECT user_id, min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx
       |  FROM q GROUP BY 1),
       |g AS (
       |  SELECT user_id, unnest(generate_series(
       |    mn - mn % 3600000000
       |      + CASE WHEN mn % 3600000000 = 0 THEN 0 ELSE 3600000000 END,
       |    mx - mx % 3600000000, 3600000000)) AS gus
       |  FROM b),
       |g2 AS (SELECT user_id, gus, make_timestamp(gus) AS gts FROM g),
       |p AS (
       |  SELECT g2.user_id, g2.gts, g2.gus, q.ts AS pts, q.v AS pv
       |  FROM g2 ASOF LEFT JOIN q
       |    ON g2.user_id = q.user_id AND g2.gts >= q.ts),
       |n AS (
       |  SELECT g2.user_id, g2.gts, q.ts AS nts, q.v AS nv
       |  FROM g2 ASOF LEFT JOIN q
       |    ON g2.user_id = q.user_id AND g2.gts <= q.ts)
       |SELECT p.user_id, strftime(p.gts, '%Y-%m-%d %H:%M:%S') AS grid_s,
       |  ${Q.sqlSig9(s"CASE WHEN nts = pts THEN pv ELSE $interp END")}
       |    AS value_interp,
       |  strftime(p.pts, '%Y-%m-%d %H:%M:%S') AS prev_s,
       |  strftime(n.nts, '%Y-%m-%d %H:%M:%S') AS next_s
       |FROM p JOIN n ON p.user_id = n.user_id AND p.gts = n.gts""".stripMargin
  }

  // ===== weekly seasonal profile + residuals =========================

  /** Per-event_type seasonal slot means and each event's residual
    * against its slot — the "is this normal for Tuesday 3am?"
    * decomposition. The profile is bounded (5 types x 168 slots) and
    * broadcast; residual attachment is a map-side projection. */
  private val seasonalQ: QFn = (s, d) => {
    val ev = Tables.events(s, d)
    val prof = TimeSeries.seasonalProfile(ev, Seq("event_type"), "ts", "value")
    TimeSeries.deseasonalize(ev, prof, Seq("event_type"), "ts", "value")
      .select(col("event_id"), col("event_type"), col("dow"), col("hod"),
        col("value"), col("mean_v"), col("resid"))
  }

  private val seasonalSql =
    s"""WITH p AS (
       |  SELECT event_type,
       |    CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
       |    CAST(hour(ts) AS BIGINT) AS hod,
       |    CAST(count(*) AS BIGINT) AS n_events,
       |    ${Q.sqlDavg("value")} AS mean_v
       |  FROM events GROUP BY 1, 2, 3)
       |SELECT e.event_id, e.event_type,
       |  CAST(dayofweek(e.ts) + 1 AS BIGINT) AS dow,
       |  CAST(hour(e.ts) AS BIGINT) AS hod,
       |  e.value, p.mean_v, e.value - p.mean_v AS resid
       |FROM events e JOIN p
       |  ON p.event_type = e.event_type
       | AND p.dow = CAST(dayofweek(e.ts) + 1 AS BIGINT)
       | AND p.hod = CAST(hour(e.ts) AS BIGINT)""".stripMargin

  // ===== CUSUM drift detection ========================================

  /** CUSUM over the deseasonalized residuals, per event_type: drift
    * allowance 1.0, alarm threshold 10.0 — "this metric has been
    * running above its seasonal expectation for a while". The full
    * per-point statistic stream is adjudicated (not just alarms), so
    * the running-sum/prefix-min identity is pinned row by row. */
  private val cusumDrift = 1.0
  private val cusumThreshold = 10.0

  private val cusumQ: QFn = (s, d) => {
    val ev = Tables.events(s, d)
    val prof = TimeSeries.seasonalProfile(ev, Seq("event_type"), "ts", "value")
    val res = TimeSeries.deseasonalize(ev, prof,
        Seq("event_type"), "ts", "value")
      .select(col("event_type"), col("ts"), col("event_id"), col("resid"))
    TimeSeries.cusum(res, Seq("event_type"), "ts", "resid",
        drift = cusumDrift, threshold = cusumThreshold,
        tieBreak = "event_id")
      .select(col("event_type"),
        date_format(col("ts"), fmt).as("ts_s"), col("event_id"),
        col("x"), col("s_stat"), col("alarm"))
  }

  private val cusumSql =
    s"""WITH p AS (
       |  SELECT event_type,
       |    CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
       |    CAST(hour(ts) AS BIGINT) AS hod,
       |    ${Q.sqlDavg("value")} AS mean_v
       |  FROM events GROUP BY 1, 2, 3),
       |r AS (
       |  SELECT e.event_type, e.ts, e.event_id,
       |    ${Q.sqlSig9("e.value - p.mean_v")} AS x
       |  FROM events e JOIN p
       |    ON p.event_type = e.event_type
       |   AND p.dow = CAST(dayofweek(e.ts) + 1 AS BIGINT)
       |   AND p.hod = CAST(hour(e.ts) AS BIGINT)),
       |cs AS (
       |  SELECT event_type, ts, event_id, x,
       |    SUM(CAST(x - $cusumDrift AS DECIMAL(38,15))) OVER w AS cs
       |  FROM r
       |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |mn AS (
       |  SELECT event_type, ts, event_id, x, cs,
       |    MIN(cs) OVER w AS mn
       |  FROM cs
       |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       |  event_id, x,
       |  ${Q.sqlSig9("CAST(ROUND(cs - (CASE WHEN mn > 0 " +
           "THEN CAST(0 AS DECIMAL(38,15)) ELSE mn END), " +
           s"${graft.ext.Graph.SumScale}) AS DOUBLE)")}
       |    AS s_stat,
       |  ${Q.sqlSig9("CAST(ROUND(cs - (CASE WHEN mn > 0 " +
           "THEN CAST(0 AS DECIMAL(38,15)) ELSE mn END), " +
           s"${graft.ext.Graph.SumScale}) AS DOUBLE)")}
       |    > $cusumThreshold AS alarm
       |FROM mn""".stripMargin

  // ===== robust outliers (median / MAD) ==============================

  /** Per-event_type robust z outliers: z = 0.6745·(x − med)/MAD over
    * the q_g8-adjudicated exact-percentile contract. A detector one
    * wild value cannot poison — the median/MAD pair has a 50%
    * breakdown point, unlike the moment z-score of q_x_anomaly. */
  private val robustZQ: QFn = (s, d) =>
    graft.ext.Anomaly.robustZ(
      Tables.events(s, d).select(col("event_type"), col("value")),
      Seq("event_type"), "value", zThreshold = 3.5)

  private val robustZSql = {
    val zExpr = "0.6745 * (e.value - m.med) / d.mad"
    s"""WITH med AS (
       |  SELECT event_type,
       |    ${Q.sqlSig9("quantile_cont(value, 0.5)")} AS med
       |  FROM events GROUP BY 1),
       |mad AS (
       |  SELECT e.event_type,
       |    ${Q.sqlSig9("quantile_cont(abs(e.value - m.med), 0.5)")} AS mad
       |  FROM events e JOIN med m USING (event_type) GROUP BY 1)
       |SELECT e.event_type, e.value AS x, m.med, d.mad,
       |  CASE WHEN d.mad > 0 THEN ${Q.sqlSig9(zExpr)} END AS z,
       |  COALESCE(abs(CASE WHEN d.mad > 0 THEN ${Q.sqlSig9(zExpr)} END)
       |    > 3.5, false) AS is_outlier
       |FROM events e
       |JOIN med m USING (event_type)
       |JOIN mad d USING (event_type)""".stripMargin
  }

  // ===== winsorized means ============================================

  /** Per-event_type mean with values clamped to the exact [p05, p95]
    * percentiles — the heavy-tail guard ([[graft.ext.Anomaly
    * .winsorizedMean]]). */
  private val winsorQ: QFn = (s, d) =>
    graft.ext.Anomaly.winsorizedMean(
      Tables.events(s, d).select(col("event_type"), col("value")),
      Seq("event_type"), "value")

  private val winsorSql =
    s"""WITH b AS (
       |  SELECT event_type,
       |    ${Q.sqlSig9("quantile_cont(value, 0.05)")} AS lo,
       |    ${Q.sqlSig9("quantile_cont(value, 0.95)")} AS hi
       |  FROM events GROUP BY 1)
       |SELECT e.event_type,
       |  CAST(count(e.value) AS BIGINT) AS n,
       |  any_value(b.lo) AS lo, any_value(b.hi) AS hi,
       |  ${Q.sqlDavg("e.value")} AS mean_raw,
       |  ${Q.sqlDavg("least(greatest(e.value, b.lo), b.hi)")}
       |    AS mean_winsorized
       |FROM events e JOIN b USING (event_type)
       |GROUP BY 1""".stripMargin

  // ===== difference-in-differences ===================================

  /** [[graft.ext.Profile.didEstimate]] with the `q_x_abtest` hash
    * arms and a mid-window cutover: the quasi-experimental readout
    * when only a rollout date, not randomization, is available. The
    * oracle mirrors the four (arm × period) moment cells and the
    * sig9'd diff/DID/SE/z chain term for term. */
  private val didCutover = "2024-01-16 00:00:00"

  private val didQ: QFn = (s, d) => {
    val grp = pmod(graft.ext.Hashing.hash60(
      concat(lit("ab:"), col("user_id").cast("string"))), lit(2L))
    val per = when(col("ts") >= to_timestamp(lit(didCutover)), 1L)
      .otherwise(0L)
    graft.ext.Profile.didEstimate(
      Tables.events(s, d).withColumn("arm", grp).withColumn("per", per),
      "arm", "per", "value")
  }

  private val didSql = {
    def mv(tag: String) = s"mean_$tag"
    val dc = Q.sqlSig9(s"${mv("c_post")} - ${mv("c_pre")}")
    val dt = Q.sqlSig9(s"${mv("t_post")} - ${mv("t_pre")}")
    val se = Q.sqlSig9(
      "sqrt(var_c_pre / CAST(n_c_pre AS DOUBLE) + " +
        "var_c_post / CAST(n_c_post AS DOUBLE) + " +
        "var_t_pre / CAST(n_t_pre AS DOUBLE) + " +
        "var_t_post / CAST(n_t_post AS DOUBLE))")
    def cell(a: Int, p: Int, tag: String) =
      s"""    CAST(COALESCE(max(CASE WHEN arm = $a AND per = $p
         |      THEN n END), 0) AS BIGINT) AS n_$tag,
         |    max(CASE WHEN arm = $a AND per = $p THEN mean_v END)
         |      AS mean_$tag,
         |    max(CASE WHEN arm = $a AND per = $p THEN var_v END)
         |      AS var_$tag""".stripMargin
    s"""WITH g AS (
       |  SELECT CAST(${Q.sqlHash60("'ab:' || CAST(user_id AS VARCHAR)")}
       |    % 2 AS BIGINT) AS arm,
       |    CASE WHEN ts >= TIMESTAMP '$didCutover' THEN 1 ELSE 0 END
       |      AS per,
       |    value
       |  FROM events),
       |m AS (
       |  SELECT arm, per, CAST(count(value) AS BIGINT) AS n,
       |    ${Q.sqlDsum("value")} AS s1,
       |    ${Q.sqlDsum("value * value")} AS s2
       |  FROM g GROUP BY 1, 2),
       |mm AS (
       |  SELECT arm, per, n, s1 / n AS mean_v,
       |    CASE WHEN n > 1 THEN ${Q.sqlSig9(
           "(s2 - s1 * s1 / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)")}
       |    END AS var_v
       |  FROM m),
       |p AS (
       |  SELECT
       |${cell(0, 0, "c_pre")},
       |${cell(0, 1, "c_post")},
       |${cell(1, 0, "t_pre")},
       |${cell(1, 1, "t_post")}
       |  FROM mm),
       |q AS (
       |  SELECT *, $dc AS diff_control, $dt AS diff_treat, $se AS se
       |  FROM p),
       |r AS (
       |  SELECT *, ${Q.sqlSig9("diff_treat - diff_control")} AS did
       |  FROM q)
       |SELECT n_c_pre, n_c_post, n_t_pre, n_t_post,
       |  mean_c_pre, mean_c_post, mean_t_pre, mean_t_post,
       |  diff_control, diff_treat, did, se,
       |  CASE WHEN se > 0 THEN ${Q.sqlSig9("did / se")} END AS z
       |FROM r""".stripMargin
  }

  // ===== A/B test (Welch z) ==========================================

  /** Users hash-split into two arms; Welch's z on the value metric —
    * the experimentation primitive. Counts exact, means/variances from
    * decimal sums, one sig9'd sqrt at the end. */
  private val abtestQ: QFn = (s, d) => {
    val grp = pmod(graft.ext.Hashing.hash60(
      concat(lit("ab:"), col("user_id").cast("string"))), lit(2L))
    val moments = graft.ext.Profile.groupMoments(
      Tables.events(s, d).withColumn("grp", grp), Seq("grp"), "value")
    graft.ext.Profile.welchZ(moments, "grp")
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        col("mean_a"), col("mean_b"), col("var_a"), col("var_b"),
        col("z"))
  }

  private val abtestSql =
    s"""WITH g AS (
       |  SELECT CAST(${Q.sqlHash60("'ab:' || CAST(user_id AS VARCHAR)")}
       |    % 2 AS BIGINT) AS grp, value
       |  FROM events),
       |m AS (
       |  SELECT grp, CAST(count(value) AS BIGINT) AS n,
       |    ${Q.sqlDsum("value")} AS s1,
       |    ${Q.sqlDsum("value * value")} AS s2
       |  FROM g GROUP BY 1),
       |mm AS (
       |  SELECT grp, n, s1 / n AS mean_v,
       |    CASE WHEN n > 1 THEN ${Q.sqlSig9(
           "(s2 - s1 * s1 / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)")}
       |    END AS var_v
       |  FROM m),
       |a AS (
       |  SELECT grp AS group_a, n AS n_a, mean_v AS mean_a,
       |    var_v AS var_a FROM mm ORDER BY grp ASC LIMIT 1),
       |b AS (
       |  SELECT grp AS group_b, n AS n_b, mean_v AS mean_b,
       |    var_v AS var_b FROM mm ORDER BY grp DESC LIMIT 1)
       |SELECT group_a, group_b, n_a, n_b, mean_a, mean_b, var_a, var_b,
       |  ${Q.sqlSig9("(mean_a - mean_b) / sqrt(var_a / " +
           "CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE))")} AS z
       |FROM a, b""".stripMargin

  // ===== exact windowless percent_rank ================================

  /** Per-event_type percent_rank of every distinct value — rank
    * normalization with NO per-group global-order window (the AUC
    * two-phase binned prefix sum, generalized). The oracle IS the
    * naive global window, so the distributed rank is adjudicated to
    * exact positions. */
  private val pctRankQ: QFn = (s, d) =>
    graft.ext.Profile.percentRank(
      Tables.events(s, d).select(col("event_type"), col("value")),
      Seq("event_type"), "value")

  private val pctRankSql =
    """WITH r AS (
      |  SELECT event_type, value AS s,
      |    PERCENT_RANK() OVER (PARTITION BY event_type ORDER BY value)
      |      AS pct,
      |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
      |    CAST(rank() OVER (PARTITION BY event_type ORDER BY value) - 1
      |      AS BIGINT) AS n_below
      |  FROM events)
      |SELECT event_type, s, CAST(count(*) AS BIGINT) AS cnt,
      |  n_below,
      |  CASE WHEN n > 1 THEN CAST(n_below AS DOUBLE) /
      |    CAST(n - 1 AS DOUBLE) END AS pct
      |FROM r GROUP BY event_type, s, n_below, n""".stripMargin

  // ===== pipeline 6: the monitoring flagship ==========================

  /** The full monitoring chain as ONE composed plan: seasonal
    * profile -> residuals -> CUSUM drift detection AND median/MAD
    * point outliers over the SAME residual stream -> per-stream
    * summary (event counts, drift alarms, point outliers, and events
    * flagged by BOTH — the highest-confidence alerts). Every stage is
    * the adjudicated operator of its own row; the oracle chains the
    * same CTEs. */
  private val pipeline6Q: QFn = (s, d) => {
    val ev = Tables.events(s, d)
    val prof = TimeSeries.seasonalProfile(ev, Seq("event_type"), "ts", "value")
    val res = TimeSeries.deseasonalize(ev, prof,
        Seq("event_type"), "ts", "value")
      .select(col("event_type"), col("ts"), col("event_id"), col("resid"))
    val cu = TimeSeries.cusum(res, Seq("event_type"), "ts", "resid",
        drift = cusumDrift, threshold = cusumThreshold,
        tieBreak = "event_id")
      .select(col("event_type"), col("event_id"), col("alarm"))
    // robustZ keeps only (keys, x); joining back on (type, x) is
    // ambiguous under ties — flag outliers directly from the bounded
    // per-type med/mad frame instead, with robustZ's exact formula:
    val stats = graft.ext.Anomaly.robustZ(res, Seq("event_type"), "resid",
        zThreshold = 3.5)
      .select(col("event_type"), col("med"), col("mad")).distinct()
    val flagged = res.join(broadcast(stats), "event_type")
      .withColumn("is_outlier", coalesce(
        when(col("mad") > 0, abs(graft.queries.Q.sig9(
          lit(0.6745) * (col("resid") - col("med")) / col("mad"))) > 3.5),
        lit(false)))
      .select(col("event_type"), col("event_id"), col("is_outlier"))
    cu.join(flagged, Seq("event_type", "event_id"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("alarm"), 1L).otherwise(0L)).as("n_drift_alarms"),
        sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"),
        sum(when(col("alarm") && col("is_outlier"), 1L).otherwise(0L))
          .as("n_both"))
  }

  private val pipeline6Sql = {
    val sStat = "CAST(ROUND(cs - (CASE WHEN mn > 0 " +
      "THEN CAST(0 AS DECIMAL(38,15)) ELSE mn END), " +
      s"${graft.ext.Graph.SumScale}) AS DOUBLE)"
    s"""WITH p AS (
       |  SELECT event_type,
       |    CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
       |    CAST(hour(ts) AS BIGINT) AS hod,
       |    ${Q.sqlDavg("value")} AS mean_v
       |  FROM events GROUP BY 1, 2, 3),
       |r AS (
       |  SELECT e.event_type, e.ts, e.event_id,
       |    e.value - p.mean_v AS resid,
       |    ${Q.sqlSig9("e.value - p.mean_v")} AS x
       |  FROM events e JOIN p
       |    ON p.event_type = e.event_type
       |   AND p.dow = CAST(dayofweek(e.ts) + 1 AS BIGINT)
       |   AND p.hod = CAST(hour(e.ts) AS BIGINT)),
       |cs AS (
       |  SELECT event_type, ts, event_id, x,
       |    SUM(CAST(x - $cusumDrift AS DECIMAL(38,15))) OVER w AS cs
       |  FROM r
       |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |mn AS (
       |  SELECT event_type, event_id, x, cs, MIN(cs) OVER w AS mn
       |  FROM cs
       |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |cu AS (
       |  SELECT event_type, event_id,
       |    ${Q.sqlSig9(sStat)} > $cusumThreshold AS alarm
       |  FROM mn),
       |st AS (
       |  SELECT event_type,
       |    ${Q.sqlSig9("quantile_cont(resid, 0.5)")} AS med0
       |  FROM r GROUP BY 1),
       |st2 AS (
       |  SELECT r.event_type, st.med0 AS med,
       |    ${Q.sqlSig9("quantile_cont(abs(r.resid - st.med0), 0.5)")} AS mad
       |  FROM r JOIN st ON st.event_type = r.event_type
       |  GROUP BY 1, 2),
       |fl AS (
       |  SELECT r.event_type, r.event_id,
       |    COALESCE(CASE WHEN st.mad > 0
       |      THEN abs(${Q.sqlSig9("0.6745 * (r.resid - st.med) / st.mad")})
       |        > 3.5 END, false) AS is_outlier
       |  FROM r JOIN st2 st ON st.event_type = r.event_type)
       |SELECT cu.event_type,
       |  CAST(count(*) AS BIGINT) AS n_events,
       |  CAST(sum(CASE WHEN cu.alarm THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_drift_alarms,
       |  CAST(sum(CASE WHEN fl.is_outlier THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_outliers,
       |  CAST(sum(CASE WHEN cu.alarm AND fl.is_outlier THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_both
       |FROM cu JOIN fl
       |  ON fl.event_type = cu.event_type AND fl.event_id = cu.event_id
       |GROUP BY 1""".stripMargin
  }

  // ===== inter-event gap statistics ===================================

  /** Per-user event cadence: gap count, exact micro-second sum/max,
    * mean gap in seconds — one keyed lag window + one aggregate,
    * integer-exact. */
  private val gapsQ: QFn = (s, d) =>
    TimeSeries.gapStats(Tables.events(s, d), Seq("user_id"), "ts",
      tieBreak = "event_id")

  private val gapsSql =
    """WITH g AS (
      |  SELECT user_id,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id) AS gap
      |  FROM events)
      |SELECT user_id,
      |  CAST(count(gap) AS BIGINT) AS n_gaps,
      |  CAST(sum(gap) AS BIGINT) AS sum_gap_us,
      |  CAST(max(gap) AS BIGINT) AS max_gap_us,
      |  CASE WHEN count(gap) > 0
      |    THEN CAST(sum(gap) AS DOUBLE) / count(gap) / 1000000.0
      |  END AS mean_gap_s
      |FROM g GROUP BY 1""".stripMargin

  // ===== incremental aggregate maintenance ===========================

  /** Per-user rollup maintained INCREMENTALLY: the engine builds
    * separate mergeable states for two disjoint batches of the event
    * log and folds them ([[graft.ext.Rollup]]); the oracle computes
    * the same rollup directly over the full log — adjudicating
    * `merge(state(A), state(B)) == state(A ∪ B)` exactly. */
  private val aggMergeQ: QFn = (s, d) => {
    val ev = Tables.events(s, d)
    val state = graft.ext.Rollup.mergeStates(
      graft.ext.Rollup.aggState(
        ev.where(col("event_id") % 3 =!= 0), Seq("user_id"), "value"),
      graft.ext.Rollup.aggState(
        ev.where(col("event_id") % 3 === 0), Seq("user_id"), "value"),
      Seq("user_id"))
    graft.ext.Rollup.report(state, Seq("user_id"))
  }

  private val aggMergeSql =
    s"""SELECT user_id,
       |  CAST(count(value) AS BIGINT) AS n,
       |  ${Q.sqlDsum("value")} AS sum_v,
       |  min(value) AS min_v,
       |  max(value) AS max_v,
       |  ${Q.sqlDavg("value")} AS avg_v
       |FROM events GROUP BY 1""".stripMargin

  // ===== one-pass Poisson bootstrap ==================================

  /** Per-event-type mean of `value` with bootstrap sd + order-statistic
    * confidence bounds ([[graft.ext.Bootstrap.poissonMeans]], R = 64) —
    * the ORACLE replays the identical weight draw (same embedded
    * Poisson(1) CDF literals, same salted hash), replicate means,
    * two-moment sd and rank selection. */
  private val bootstrapReps = 64
  private val bootstrapQ: QFn = (s, d) =>
    graft.ext.Bootstrap.poissonMeans(
      Tables.events(s, d).where(col("value").isNotNull),
      Seq("event_type"), "event_id", "value",
      replicates = bootstrapReps)

  private val bootstrapSql = {
    val r = bootstrapReps
    val kLo = math.floor(0.025 * (r - 1)).toLong + 1
    val kHi = math.ceil(0.975 * (r - 1)).toLong + 1
    val (ma, mb) = graft.ext.Bootstrap.mixers("boot", r)
    val pP = graft.ext.Hashing.P
    val aList = ma.mkString("[", ", ", "]")
    val bList = mb.mkString("[", ", ", "]")
    val u = s"(CAST(($aList[r + 1] * h + $bList[r + 1]) % $pP AS DOUBLE)" +
      s" / $pP.0)"
    val wExpr = graft.ext.Bootstrap.PoissonCdf1
      .map(c => s"(CASE WHEN u >= $c THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH base AS (
       |  SELECT event_type, event_id, value,
       |    ${Q.sqlHashP("'boot:' || CAST(event_id AS VARCHAR)")} AS h
       |  FROM events WHERE value IS NOT NULL),
       |pt AS (
       |  SELECT event_type, CAST(count(value) AS BIGINT) AS n_rows,
       |    ${Q.sqlSig9(Q.sqlDavg("value"))} AS point_mean
       |  FROM base GROUP BY 1),
       |reps AS (
       |  SELECT event_type, value, r, $u AS u
       |  FROM base CROSS JOIN (SELECT unnest(range(0, $r)) AS r)),
       |w AS (
       |  SELECT event_type, r, value, CAST($wExpr AS BIGINT) AS w
       |  FROM reps),
       |rm AS (
       |  SELECT event_type, r, CAST(sum(w) AS BIGINT) AS sw,
       |    ${Q.sqlDsum(Q.sqlSig9("CAST(w AS DOUBLE) * value"))} AS swx
       |  FROM w GROUP BY 1, 2),
       |m AS (
       |  SELECT event_type, r,
       |    ${Q.sqlSig9("swx / CAST(sw AS DOUBLE)")} AS m
       |  FROM rm WHERE sw > 0),
       |rk AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY event_type ORDER BY m, r) AS rk FROM m),
       |sm AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_reps,
       |    ${Q.sqlDsum("m")} AS s1,
       |    ${Q.sqlDsum(Q.sqlSig9("m * m"))} AS s2,
       |    min(CASE WHEN rk = $kLo THEN m END) AS lo_try,
       |    min(CASE WHEN rk = $kHi THEN m END) AS hi_try,
       |    min(m) AS mn, max(m) AS mx
       |  FROM rk GROUP BY 1)
       |SELECT pt.event_type, n_rows, point_mean, n_reps,
       |  ${Q.sqlSig9("s1 / CAST(n_reps AS DOUBLE)")} AS boot_mean,
       |  CASE WHEN n_reps > 1 THEN ${Q.sqlSig9("sqrt(greatest(" +
           Q.sqlSig9("(s2 - " + Q.sqlSig9("s1 * s1") +
             " / CAST(n_reps AS DOUBLE)) / CAST(n_reps - 1 AS DOUBLE)") +
           ", 0.0))")}
       |       ELSE 0.0 END AS boot_sd,
       |  COALESCE(lo_try, mn) AS ci_lo,
       |  COALESCE(hi_try, mx) AS ci_hi
       |FROM pt JOIN sm USING (event_type)""".stripMargin
  }

  // ===== trimmed / winsorized means ===================================

  /** [[graft.ext.Profile.trimmedMean]] per event_type at 50‰ trim —
    * the robust-location member beside median and robust z. The
    * oracle recomputes the tie-stable rank spans with its own naive
    * window and mirrors the exact (25,15)×(12,0) decimal products,
    * the (33,15) winsorized addends and both sig9'd means. */
  private val trimmedQ: QFn = (s, d) =>
    graft.ext.Profile.trimmedMean(
      Tables.events(s, d).select(col("event_type"), col("value")),
      Seq("event_type"), "value", trimPerMille = 50)

  private val trimmedSql =
    s"""WITH vc AS (
       |  SELECT event_type AS k, value AS s,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
       |nb AS (
       |  SELECT k, s, cnt,
       |    CAST(COALESCE(sum(cnt) OVER (PARTITION BY k ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS n_below
       |  FROM vc),
       |t AS (SELECT k, CAST(sum(cnt) AS BIGINT) AS n FROM vc
       |  GROUP BY 1),
       |c AS (
       |  SELECT nb.*, t.n, (t.n * 50) // 1000 AS lo_cut,
       |    t.n - ((t.n * 50) // 1000) AS hi_cut
       |  FROM nb JOIN t USING (k)),
       |g AS (
       |  SELECT k, CAST(max(n) AS BIGINT) AS n,
       |    CAST(max(lo_cut) AS BIGINT) AS lo_cut,
       |    sum(CAST(s AS DECIMAL(25,15)) *
       |      CAST(greatest(CAST(0 AS BIGINT),
       |        least(n_below + cnt, hi_cut) -
       |        greatest(n_below, lo_cut)) AS DECIMAL(12,0))) AS mid,
       |    min(CASE WHEN n_below + cnt >= lo_cut + 1 THEN s END)
       |      AS v_lo,
       |    min(CASE WHEN n_below + cnt >= n - lo_cut THEN s END)
       |      AS v_hi
       |  FROM c GROUP BY 1)
       |SELECT k AS event_type, n, lo_cut, v_lo, v_hi,
       |  CASE WHEN n - 2 * lo_cut > 0 THEN ${Q.sqlSig9(
            "CAST(mid AS DOUBLE) / CAST(n - 2 * lo_cut AS DOUBLE)")} END
       |    AS trimmed_mean,
       |  CASE WHEN n - 2 * lo_cut > 0 THEN ${Q.sqlSig9(
            "CAST(CAST(mid AS DECIMAL(33,15)) + " +
              "CAST(CAST(v_lo AS DECIMAL(25,15)) * " +
              "CAST(lo_cut AS DECIMAL(12,0)) AS DECIMAL(33,15)) + " +
              "CAST(CAST(v_hi AS DECIMAL(25,15)) * " +
              "CAST(lo_cut AS DECIMAL(12,0)) AS DECIMAL(33,15)) " +
              "AS DOUBLE) / CAST(n AS DOUBLE)")} END
       |    AS winsorized_mean
       |FROM g""".stripMargin

  // ===== minimum detectable effect at current sample sizes ============

  /** [[graft.ext.Profile.minDetectableEffect]] on the same "ab:" hash
    * arms as `q_x_abtest` — the pre-launch sizing twin of the Welch
    * readout; the oracle embeds the identical summed quantile literal
    * and mirrors the sig9'd se/product/relative chain. */
  private val mdeQ: QFn = (s, d) => {
    val grp = pmod(graft.ext.Hashing.hash60(
      concat(lit("ab:"), col("user_id").cast("string"))), lit(2L))
    graft.ext.Profile.minDetectableEffect(
      graft.ext.Profile.groupMoments(
        Tables.events(s, d).withColumn("grp", grp), Seq("grp"), "value"),
      "grp")
  }

  private val mdeSql = {
    val zSum = graft.ext.Profile.ZTwoSided05 + graft.ext.Profile.ZPower80
    val se = Q.sqlSig9("sqrt(var_a / CAST(n_a AS DOUBLE) + " +
      "var_b / CAST(n_b AS DOUBLE))")
    s"""WITH g AS (
       |  SELECT CAST(${Q.sqlHash60("'ab:' || CAST(user_id AS VARCHAR)")}
       |    % 2 AS BIGINT) AS grp, value
       |  FROM events),
       |m AS (
       |  SELECT grp, CAST(count(value) AS BIGINT) AS n,
       |    ${Q.sqlDsum("value")} AS s1,
       |    ${Q.sqlDsum("value * value")} AS s2
       |  FROM g GROUP BY 1),
       |mm AS (
       |  SELECT grp, n, s1 / n AS mean_v,
       |    CASE WHEN n > 1 THEN ${Q.sqlSig9(
           "(s2 - s1 * s1 / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)")}
       |    END AS var_v
       |  FROM m),
       |a AS (
       |  SELECT grp AS group_a, n AS n_a, mean_v AS mean_a,
       |    var_v AS var_a FROM mm ORDER BY grp ASC LIMIT 1),
       |b AS (
       |  SELECT grp AS group_b, n AS n_b, var_v AS var_b FROM mm
       |  ORDER BY grp DESC LIMIT 1),
       |j AS (
       |  SELECT group_a, group_b, n_a, n_b, mean_a, var_a, var_b,
       |    ${Q.sqlSig9(s"CAST($zSum AS DOUBLE) * $se")} AS mde_abs
       |  FROM a, b)
       |SELECT group_a, group_b, n_a, n_b, mean_a, var_a, var_b,
       |  mde_abs,
       |  CASE WHEN mean_a <> 0 THEN ${Q.sqlSig9(
            "mde_abs / abs(mean_a)")} END AS mde_rel
       |FROM j""".stripMargin
  }

  // ===== delete-one-day jackknife for the conversion ratio ============

  /** [[graft.ext.Profile.jackknifeRatio]] on the daily purchase share
    * — the ratio-metric error bar the Poisson bootstrap can't give
    * (unit resampling decouples a ratio's numerator and denominator).
    * The oracle mirrors the exact per-day BIGINTs, every sig9'd
    * pseudo-value and both day-ordered bounded folds. */
  private val jackknifeQ: QFn = (s, d) =>
    graft.ext.Profile.jackknifeRatio(
      Tables.events(s, d).select(
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("conv"),
        lit(1L).as("one")),
      "day", "conv", "one")

  private val jackknifeSql = {
    val mean = "sbar / CAST(gg AS DOUBLE)"
    val dev = Q.sqlSig9(s"(t - $mean) * (t - $mean)")
    val varExpr = Q.sqlSig9(
      s"CAST(gg - 1 AS DOUBLE) / CAST(gg AS DOUBLE) * " +
        Q.sqlFold(s"list_transform(ts, t -> $dev)"))
    s"""WITH pd AS (
       |  SELECT strftime(ts, '%Y-%m-%d') AS d,
       |    CAST(COALESCE(sum(CASE WHEN event_type = 'purchase'
       |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS r,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1),
       |tot AS (SELECT CAST(sum(r) AS BIGINT) AS rt,
       |  CAST(sum(n) AS BIGINT) AS nt FROM pd),
       |th AS (
       |  SELECT d, CASE WHEN nt - n > 0 THEN ${Q.sqlSig9(
            "CAST(rt - r AS DOUBLE) / CAST(nt - n AS DOUBLE)")} END AS t
       |  FROM pd CROSS JOIN tot),
       |v AS (
       |  SELECT CAST(count(t) AS BIGINT) AS gg,
       |    list(t ORDER BY d) FILTER (WHERE t IS NOT NULL) AS ts
       |  FROM th),
       |sb AS (SELECT gg, ts, ${Q.sqlFold("ts")} AS sbar FROM v)
       |SELECT
       |  CASE WHEN nt > 0 THEN ${Q.sqlSig9(
            "CAST(rt AS DOUBLE) / CAST(nt AS DOUBLE)")} END AS theta,
       |  CASE WHEN gg > 0 THEN ${Q.sqlSig9(
            s"sqrt(greatest($varExpr, CAST(0.0 AS DOUBLE)))")} END
       |    AS se_jack,
       |  gg AS g_groups, rt AS num_total, nt AS den_total
       |FROM sb CROSS JOIN tot""".stripMargin
  }

  // ===== approximate randomization (permutation) test =================

  /** [[graft.ext.Profile.permutationTest]] on the same "ab:" hash
    * arms as `q_x_abtest` (R = 128) — the oracle replays the identical
    * mixer-literal coin per (unit, replicate), the binomial
    * re-assignment against the exact n_a/n ratio, every sig9'd
    * replicate diff and the exact extreme count. */
  private val permReps = 128

  private val permTestQ: QFn = (s, d) => {
    val grp = pmod(graft.ext.Hashing.hash60(
      concat(lit("ab:"), col("user_id").cast("string"))), lit(2L))
    // spreadCut BELOW the md5 arm assignment: a single-split events
    // scan otherwise pins both per-row md5s (arm + replicate coin) to
    // one core (guide §2.6)
    val ev = Checkpoints.spreadCut(Tables.events(s, d)
      .select(col("user_id"), col("value"), col("event_id")))
    graft.ext.Profile.permutationTest(ev.withColumn("grp", grp),
      "grp", "value", "event_id", replicates = permReps)
  }

  private val permTestSql = {
    val r = permReps
    val (ma, mb) = graft.ext.Bootstrap.mixers("perm", r)
    val pP = graft.ext.Hashing.P
    val aList = ma.mkString("[", ", ", "]")
    val bList = mb.mkString("[", ", ", "]")
    val u = s"(CAST(($aList[r + 1] * h + $bList[r + 1]) % $pP AS DOUBLE)" +
      s" / $pP.0)"
    s"""WITH base AS (
       |  SELECT CAST(${Q.sqlHash60("'ab:' || CAST(user_id AS VARCHAR)")}
       |    % 2 AS BIGINT) AS g, value,
       |    ${Q.sqlHashP("'perm:' || CAST(event_id AS VARCHAR)")} AS h
       |  FROM events WHERE value IS NOT NULL),
       |st AS (
       |  SELECT g, CAST(count(*) AS BIGINT) AS n,
       |    ${Q.sqlDsum("value")} AS s
       |  FROM base GROUP BY 1),
       |a AS (SELECT g AS group_a, n AS n_a, s AS sa FROM st
       |  ORDER BY g ASC LIMIT 1),
       |b AS (SELECT g AS group_b, n AS n_b, s AS sb FROM st
       |  ORDER BY g DESC LIMIT 1),
       |obs AS (
       |  SELECT group_a, group_b, n_a, n_b,
       |    ${Q.sqlSig9("sa / CAST(n_a AS DOUBLE) - " +
            "sb / CAST(n_b AS DOUBLE)")} AS obs_diff,
       |    CAST(n_a AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pa
       |  FROM a, b),
       |reps AS (
       |  SELECT value,
       |    CASE WHEN $u < obs.pa THEN 1 ELSE 0 END AS arm, r
       |  FROM base CROSS JOIN (SELECT unnest(range(0, $r)) AS r)
       |  CROSS JOIN obs),
       |pr AS (
       |  SELECT r, CAST(sum(arm) AS BIGINT) AS na,
       |    ${Q.sqlDsum("CASE WHEN arm = 1 THEN value ELSE 0.0 END")}
       |      AS sa,
       |    CAST(sum(1 - arm) AS BIGINT) AS nb,
       |    ${Q.sqlDsum("CASE WHEN arm = 0 THEN value ELSE 0.0 END")}
       |      AS sb
       |  FROM reps GROUP BY 1),
       |dd AS (
       |  SELECT ${Q.sqlSig9("sa / CAST(na AS DOUBLE) - " +
            "sb / CAST(nb AS DOUBLE)")} AS d
       |  FROM pr WHERE na > 0 AND nb > 0),
       |nd AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_reps,
       |    CAST(COALESCE(sum(CASE WHEN abs(d) >= abs(obs.obs_diff)
       |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_extreme
       |  FROM dd CROSS JOIN obs)
       |SELECT group_a, group_b, n_a, n_b, obs_diff, n_reps, n_extreme,
       |  ${Q.sqlSig9("CAST(1 + n_extreme AS DOUBLE) / " +
            "CAST(n_reps + 1 AS DOUBLE)")} AS p_value
       |FROM obs CROSS JOIN nd""".stripMargin
  }

  // ===== exact two-sample Kolmogorov–Smirnov ==========================

  /** KS distance between the two hash-split arms of the A/B fixture —
    * the binning-free drift twin of `q_x_abtest`
    * ([[graft.ext.Profile.ksDistance]], two-phase binned prefix sum).
    * The ORACLE is the naive single-window cumulative CDF compare; the
    * maximized statistic is the exact integer numerator, so argmax and
    * value adjudicate bit-for-bit. */
  private val ksQ: QFn = (s, d) => {
    val grp = pmod(graft.ext.Hashing.hash60(
      concat(lit("ab:"), col("user_id").cast("string"))), lit(2L))
    val ev = Tables.events(s, d).where(col("value").isNotNull)
      .withColumn("grp", grp)
    graft.ext.Profile.ksDistance(
      ev.where(col("grp") === 0), ev.where(col("grp") === 1), "value")
  }

  private val ksSql =
    s"""WITH g AS (
       |  SELECT CAST(${Q.sqlHash60("'ab:' || CAST(user_id AS VARCHAR)")}
       |    % 2 AS BIGINT) AS grp, value
       |  FROM events WHERE value IS NOT NULL),
       |c AS (
       |  SELECT value AS s,
       |    CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ac,
       |    CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bc
       |  FROM g GROUP BY 1),
       |t AS (
       |  SELECT CAST(sum(ac) AS BIGINT) AS na,
       |    CAST(sum(bc) AS BIGINT) AS nb FROM c),
       |cum AS (
       |  SELECT s, sum(ac) OVER (ORDER BY s) AS ca,
       |    sum(bc) OVER (ORDER BY s) AS cb FROM c),
       |num AS (
       |  SELECT s, abs(CAST(ca AS DECIMAL(38,0)) * t.nb -
       |    CAST(cb AS DECIMAL(38,0)) * t.na) AS num FROM cum, t),
       |mx AS (SELECT max(num) AS m FROM num)
       |SELECT
       |  CASE WHEN t.na > 0 AND t.nb > 0 THEN
       |    ${Q.sqlSig9("CAST(mx.m AS DOUBLE) / CAST(CAST(t.na AS " +
           "DECIMAL(38,0)) * t.nb AS DOUBLE)")}
       |  END AS ks,
       |  (SELECT min(s) FROM num, mx WHERE num.num = mx.m) AS ks_at,
       |  t.na AS n_a, t.nb AS n_b
       |FROM t, mx""".stripMargin

  // ===== Cramér–von Mises integral CDF distance ========================

  /** [[graft.ext.Profile.cvmDistance]] on the same "ab:" hash arms as
    * `q_x_ks` — the integral member of the A/B shape family (KS sees
    * the worst single CDF gap; CvM accumulates every gap). The oracle
    * rebuilds the inclusive CDFs with its own naive window and mirrors
    * every sig9 point and the dsumStable(6) term sum. */
  private val cvmQ: QFn = (s, d) => {
    val grp = pmod(graft.ext.Hashing.hash60(
      concat(lit("ab:"), col("user_id").cast("string"))), lit(2L))
    val ev = Tables.events(s, d).where(col("value").isNotNull)
      .withColumn("grp", grp)
    graft.ext.Profile.cvmDistance(
      ev.where(col("grp") === 0), ev.where(col("grp") === 1), "value")
  }

  private val cvmSql = {
    val dnorm = "(CASE WHEN t.na > 0 AND t.nb > 0 THEN " +
      Q.sqlSig9("CAST(num AS DOUBLE) / " +
        "CAST(CAST(t.na AS DECIMAL(38,0)) * t.nb AS DOUBLE)") +
      " ELSE CAST(0.0 AS DOUBLE) END)"
    val term = Q.sqlSig9(s"CAST(ck AS DOUBLE) * ${Q.sqlSig9(
      s"$dnorm * $dnorm")}")
    val nmOverN2 = Q.sqlSig9("CAST(CAST(t.na AS DECIMAL(38,0)) * t.nb " +
      "AS DOUBLE) / CAST(CAST(t.na + t.nb AS DECIMAL(38,0)) * " +
      "(t.na + t.nb) AS DOUBLE)")
    s"""WITH g AS (
       |  SELECT CAST(${Q.sqlHash60("'ab:' || CAST(user_id AS VARCHAR)")}
       |    % 2 AS BIGINT) AS grp, value
       |  FROM events WHERE value IS NOT NULL),
       |c AS (
       |  SELECT value AS s,
       |    CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ac,
       |    CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bc
       |  FROM g GROUP BY 1),
       |t AS (
       |  SELECT CAST(sum(ac) AS BIGINT) AS na,
       |    CAST(sum(bc) AS BIGINT) AS nb FROM c),
       |cum AS (
       |  SELECT s, ac + bc AS ck, sum(ac) OVER (ORDER BY s) AS ca,
       |    sum(bc) OVER (ORDER BY s) AS cb FROM c),
       |num AS (
       |  SELECT s, ck, CAST(ca AS DECIMAL(38,0)) * t.nb -
       |    CAST(cb AS DECIMAL(38,0)) * t.na AS num FROM cum, t),
       |tm AS (SELECT $term AS tt FROM num, t),
       |sm AS (SELECT ${Q.sqlDsumStable("tt", 6)} AS sum_wd2 FROM tm)
       |SELECT
       |  CASE WHEN t.na > 0 AND t.nb > 0 THEN ${Q.sqlSig9(
            s"$nmOverN2 * sum_wd2 / CAST(t.na + t.nb AS DOUBLE)")}
       |  END AS cvm,
       |  sum_wd2, t.na AS n_a, t.nb AS n_b
       |FROM sm, t""".stripMargin
  }

  // ===== bounded-horizon EWMA =========================================

  private val ewmaAlpha = 0.25
  private val ewmaH = 32

  /** Per-user EWMA trend over the event stream
    * ([[graft.ext.TimeSeries.ewma]], pandas `ewm(adjust=True)`
    * truncated at 32 lags). The oracle replays the identical embedded
    * weight/normalizer literals through DuckDB's windowed list + the
    * index-via-range fold, so every point adjudicates bit-for-bit. */
  private val ewmaQ: QFn = (s, d) =>
    TimeSeries.ewma(Tables.events(s, d), Seq("user_id"), "ts", "value",
        tieBreak = "event_id", alpha = ewmaAlpha, horizon = ewmaH)
      .select(col("user_id"), date_format(col("ts"), fmt).as("ts_s"),
        col("event_id"), col("x"), col("ewma"))

  private val ewmaSql = {
    val (weights, denoms) = TimeSeries.ewmaWeights(ewmaAlpha, ewmaH)
    val wLit = weights.map(w => s"CAST($w AS DOUBLE)")
      .mkString("[", ", ", "]")
    val dLit = denoms.map(w => s"CAST($w AS DOUBLE)")
      .mkString("[", ", ", "]")
    val terms = s"list_transform(range(1, len(arr) + 1), " +
      s"i -> arr[i] * ($wLit)[len(arr) - i + 1])"
    s"""WITH s AS (
       |  SELECT user_id, ts, event_id, value AS x FROM events
       |  WHERE value IS NOT NULL),
       |arrs AS (
       |  SELECT user_id, ts, event_id, x,
       |    list(x) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN ${ewmaH - 1} PRECEDING AND CURRENT ROW) AS arr
       |  FROM s)
       |SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       |  event_id, x,
       |  ${Q.sqlSig9(s"${Q.sqlFold(terms)} / ($dLit)[len(arr)]")} AS ewma
       |FROM arrs""".stripMargin
  }

  // ===== Brown's double exponential smoothing =========================

  /** Trend-aware smoother over the ewma machinery
    * ([[graft.ext.TimeSeries.doubleEwma]]): s2 re-smooths the sig9'd
    * s1 stream (the compositional contract), level/trend/forecast are
    * sig9'd IEEE combines; the α/(1−α) factor is one Scala-computed
    * literal on both engines. */
  private val desQ: QFn = (s, d) =>
    TimeSeries.doubleEwma(Tables.events(s, d), Seq("user_id"), "ts",
        "value", tieBreak = "event_id", alpha = ewmaAlpha,
        horizon = ewmaH)
      .select(col("user_id"), date_format(col("ts"), fmt).as("ts_s"),
        col("event_id"), col("s1"), col("s2"), col("level"),
        col("trend"), col("forecast"))

  private val desSql = {
    val (weights, denoms) = TimeSeries.ewmaWeights(ewmaAlpha, ewmaH)
    val wLit = weights.map(w => s"CAST($w AS DOUBLE)")
      .mkString("[", ", ", "]")
    val dLit = denoms.map(w => s"CAST($w AS DOUBLE)")
      .mkString("[", ", ", "]")
    val c = (ewmaAlpha / (1.0 - ewmaAlpha)).toString
    val terms = s"list_transform(range(1, len(arr) + 1), " +
      s"i -> arr[i] * ($wLit)[len(arr) - i + 1])"
    val sm = Q.sqlSig9(s"${Q.sqlFold(terms)} / ($dLit)[len(arr)]")
    val win = s"OVER (PARTITION BY user_id ORDER BY ts, event_id " +
      s"ROWS BETWEEN ${ewmaH - 1} PRECEDING AND CURRENT ROW)"
    s"""WITH s AS (
       |  SELECT user_id, ts, event_id, value AS x FROM events
       |  WHERE value IS NOT NULL),
       |a1 AS (
       |  SELECT user_id, ts, event_id, x, list(x) $win AS arr FROM s),
       |e1 AS (
       |  SELECT user_id, ts, event_id, $sm AS s1 FROM a1),
       |a2 AS (
       |  SELECT user_id, ts, event_id, s1, list(s1) $win AS arr
       |  FROM e1),
       |e2 AS (
       |  SELECT user_id, ts, event_id, s1, $sm AS s2 FROM a2),
       |e3 AS (
       |  SELECT user_id, ts, event_id, s1, s2,
       |    ${Q.sqlSig9("CAST(2.0 AS DOUBLE) * s1 - s2")} AS level,
       |    ${Q.sqlSig9(s"CAST($c AS DOUBLE) * (s1 - s2)")} AS trend
       |  FROM e2)
       |SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       |  event_id, s1, s2, level, trend,
       |  ${Q.sqlSig9("level + trend")} AS forecast
       |FROM e3""".stripMargin
  }

  // ===== one-step-ahead forecast backtest =============================

  /** [[graft.ext.TimeSeries.forecastBacktest]]: the DES forecaster
    * scored per user against the next observed value, with the naive
    * persistence baseline and skill = 1 − MAE/MAE_naive. The oracle
    * composes the full adjudicated DES chain and mirrors every
    * sig9'd error term and dsumStable sum. */
  private val backtestQ: QFn = (s, d) =>
    TimeSeries.forecastBacktest(Tables.events(s, d), Seq("user_id"),
      "ts", "value", tieBreak = "event_id", alpha = ewmaAlpha,
      horizon = ewmaH)

  private lazy val backtestSql = {
    val mae = Q.sqlSig9("sae / CAST(n AS DOUBLE)")
    val mae0 = Q.sqlSig9("sae0 / CAST(n AS DOUBLE)")
    s"""WITH des AS ($desSql),
       |nx AS (
       |  SELECT user_id, event_id, value AS x,
       |    lead(value) OVER (PARTITION BY user_id ORDER BY ts,
       |      event_id) AS nxt
       |  FROM events WHERE value IS NOT NULL),
       |j AS (
       |  SELECT des.user_id AS u,
       |    ${Q.sqlSig9("abs(des.forecast - nx.nxt)")} AS ae,
       |    ${Q.sqlSig9("abs(nx.x - nx.nxt)")} AS ae0
       |  FROM des JOIN nx ON des.user_id = nx.user_id
       |    AND des.event_id = nx.event_id
       |  WHERE nx.nxt IS NOT NULL),
       |g AS (
       |  SELECT u, CAST(count(*) AS BIGINT) AS n,
       |    ${Q.sqlDsumStable("ae", 9)} AS sae,
       |    ${Q.sqlDsumStable(Q.sqlSig9("ae * ae"), 6)} AS se2,
       |    ${Q.sqlDsumStable("ae0", 9)} AS sae0
       |  FROM j GROUP BY 1)
       |SELECT u AS user_id, n AS n_evals,
       |  $mae AS mae,
       |  ${Q.sqlSig9("sqrt(se2 / CAST(n AS DOUBLE))")} AS rmse,
       |  $mae0 AS mae_naive,
       |  CASE WHEN $mae0 > 0 THEN ${Q.sqlSig9(
            s"1.0 - $mae / $mae0")} END AS skill
       |FROM g""".stripMargin
  }

  // ===== quantile normalization (cross-source score alignment) ========

  private val qnormBins = 64

  /** Arm-1 metric values mapped onto arm-0's distribution by 64-bin
    * rank alignment ([[graft.ext.Profile.quantileNormalize]]). No
    * floating-point arithmetic anywhere — the whole mapping is counts,
    * integral division and a min, so it adjudicates with no sig9. */
  private val qnormQ: QFn = (s, d) => {
    val grp = pmod(graft.ext.Hashing.hash60(
      concat(lit("ab:"), col("user_id").cast("string"))), lit(2L))
    val ev = Tables.events(s, d).where(col("value").isNotNull)
      .withColumn("grp", grp)
    graft.ext.Profile.quantileNormalize(
      ev.where(col("grp") === 1), ev.where(col("grp") === 0),
      "value", qnormBins)
  }

  private val qnormSql = {
    val b = qnormBins
    def side(g: Int, out: String) =
      s"""$out AS (
         |  SELECT value AS s, CAST(count(*) AS BIGINT) AS cnt
         |  FROM g WHERE grp = $g GROUP BY 1),
         |${out}n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM $out),
         |${out}bin AS (
         |  SELECT s, cnt, n_below,
         |    LEAST(CAST(${b - 1} AS BIGINT), (n_below * $b) // n) AS bin
         |  FROM (
         |    SELECT s, cnt, CAST(COALESCE(sum(cnt) OVER (ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS n_below
         |    FROM $out), ${out}n)""".stripMargin
    s"""WITH g AS (
       |  SELECT CAST(${Q.sqlHash60("'ab:' || CAST(user_id AS VARCHAR)")}
       |    % 2 AS BIGINT) AS grp, value
       |  FROM events WHERE value IS NOT NULL),
       |${side(1, "cur")},
       |${side(0, "ref")},
       |rep AS (SELECT bin, min(s) AS ref_value FROM refbin GROUP BY 1)
       |SELECT curbin.s AS value, cnt, n_below, bin, ref_value
       |FROM curbin LEFT JOIN rep USING (bin)""".stripMargin
  }

  // ===== chi-square independence (categorical drift) ==================

  /** Source × language contingency over `documents` — "is the language
    * mix independent of the source?" ([[graft.ext.Profile.chiSquare]]).
    * The oracle rebuilds the margin-product grid including zero cells,
    * so the padding semantics are adjudicated, not just the sum. */
  private val chisqQ: QFn = (s, d) =>
    graft.ext.Profile.chiSquare(Tables.documents(s, d), "source", "lang")

  /** The chi-square oracle chain over any (r, c) base CTE — shared by
    * `q_x_chisq` (documents source × lang) and the pipeline-7 drift
    * suite (events event_type × arm). */
  private[queries] def chisqSqlFor(baseSelect: String) =
    s"""WITH base AS (
       |  $baseSelect),
       |cells AS (
       |  SELECT r, c, CAST(count(*) AS BIGINT) AS o FROM base GROUP BY 1, 2),
       |rt AS (SELECT r, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
       |ct AS (SELECT c, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
       |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
       |grid AS (
       |  SELECT rt.r, ct.c, rt.rt, ct.ct, COALESCE(cells.o, 0) AS o
       |  FROM rt CROSS JOIN ct
       |  LEFT JOIN cells ON cells.r = rt.r AND cells.c = ct.c),
       |ex AS (
       |  SELECT r, c, o,
       |    CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) /
       |      CAST(nn.n AS DOUBLE) AS e,
       |    nn.n AS n
       |  FROM grid, nn),
       |contribs AS (
       |  SELECT n, r, c,
       |    ${Q.sqlSig9("(CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE)" +
           " - e) / e")} AS contrib
       |  FROM ex),
       |agg AS (
       |  SELECT min(n) AS n,
       |    CAST(count(DISTINCT r) AS BIGINT) AS n_rows_cat,
       |    CAST(count(DISTINCT c) AS BIGINT) AS n_cols_cat,
       |    ${Q.sqlDsumStable("contrib", 6)} AS chi2_raw
       |  FROM contribs)
       |SELECT
       |  CASE WHEN n_rows_cat >= 2 AND n_cols_cat >= 2 THEN chi2_raw
       |       END AS chi2,
       |  (n_rows_cat - 1) * (n_cols_cat - 1) AS dof,
       |  n, n_rows_cat, n_cols_cat
       |FROM agg""".stripMargin

  private val chisqSql = chisqSqlFor(
    "SELECT CAST(source AS VARCHAR) AS r, CAST(lang AS VARCHAR) AS c\n" +
      "  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL")

  // ===== Mann–Whitney U (nonparametric A/B) ===========================

  /** Rank-sum test between the two hash arms of the A/B fixture — the
    * nonparametric twin of `q_x_abtest`'s Welch z and the rank
    * counterpart of `q_x_ks` ([[graft.ext.Profile.mannWhitney]]). The
    * ORACLE is the naive single-window exclusive prefix; 2U and the
    * tie term are exact DECIMAL(38,0) integers, so the adjudication is
    * bit-exact up to the final sig9'd z. */
  private val mwuQ: QFn = (s, d) => {
    val grp = pmod(graft.ext.Hashing.hash60(
      concat(lit("ab:"), col("user_id").cast("string"))), lit(2L))
    val ev = Tables.events(s, d).where(col("value").isNotNull)
      .withColumn("grp", grp)
    graft.ext.Profile.mannWhitney(
      ev.where(col("grp") === 0), ev.where(col("grp") === 1), "value")
  }

  private val mwuSql = {
    val nad = "CAST(na AS DOUBLE)"
    val nbd = "CAST(nb AS DOUBLE)"
    val nd = s"($nad + $nbd)"
    val u2d = Q.sqlSig9("CAST(u2 AS DOUBLE)")
    val td = Q.sqlSig9("CAST(tiet AS DOUBLE)")
    val varU = s"$nad * $nbd / CAST(12.0 AS DOUBLE) * " +
      s"(($nd + CAST(1.0 AS DOUBLE)) - $td / " +
      s"($nd * ($nd - CAST(1.0 AS DOUBLE))))"
    s"""WITH g AS (
       |  SELECT CAST(${Q.sqlHash60("'ab:' || CAST(user_id AS VARCHAR)")}
       |    % 2 AS BIGINT) AS grp, value
       |  FROM events WHERE value IS NOT NULL),
       |c AS (
       |  SELECT value AS s,
       |    CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ac,
       |    CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bc
       |  FROM g GROUP BY 1),
       |t AS (SELECT CAST(sum(ac) AS BIGINT) AS na,
       |        CAST(sum(bc) AS BIGINT) AS nb FROM c),
       |cum AS (
       |  SELECT s, ac, bc,
       |    COALESCE(sum(bc) OVER (ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lb
       |  FROM c),
       |terms AS (
       |  SELECT
       |    CAST(ac AS DECIMAL(38,0)) * (2 * lb + bc) AS u2term,
       |    CAST(ac + bc AS DECIMAL(38,0)) * (ac + bc) * (ac + bc)
       |      - (ac + bc) AS tterm
       |  FROM cum),
       |agg AS (
       |  SELECT t.na, t.nb,
       |    (SELECT sum(u2term) FROM terms) AS u2,
       |    (SELECT sum(tterm) FROM terms) AS tiet
       |  FROM t)
       |SELECT
       |  CASE WHEN na > 0 AND nb > 0 THEN $u2d END AS u2,
       |  CASE WHEN na > 0 AND nb > 0 AND na + nb > 1 THEN
       |    CASE WHEN sqrt($varU) > CAST(0.0 AS DOUBLE) THEN
       |      ${Q.sqlSig9(s"($u2d - $nad * $nbd) / " +
            s"(CAST(2.0 AS DOUBLE) * ${Q.sqlSig9(s"sqrt($varU)")})")}
       |    END END AS z,
       |  CASE WHEN na > 0 OR nb > 0 THEN $td END AS tie_t,
       |  na AS n_a, nb AS n_b
       |FROM agg""".stripMargin
  }

  // ===== 2x2 risk readouts ===========================================

  /** [[graft.ext.Profile.riskRatios]] on the `q_x_prop_test` units
    * (per-user converted flag, hash arms): OR / RR / log-OR ± SE —
    * the magnitude view beside the pooled-z detectability view. */
  private val riskQ: QFn = (s, d) => {
    val units = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("conv"))
      .select(pmod(graft.ext.Hashing.hash60(
          concat(lit("ab:"), col("user_id").cast("string"))), lit(2L))
          .as("grp"),
        (col("conv") === 1L).as("converted"))
    graft.ext.Profile.riskRatios(units, "grp", "converted")
  }

  private val riskSql = {
    val p1 = Q.sqlSig9("CAST(a AS DOUBLE) / CAST(a + b AS DOUBLE)")
    val p0 = Q.sqlSig9("CAST(c AS DOUBLE) / CAST(c + d AS DOUBLE)")
    val or9 = Q.sqlSig9(
      s"${Q.sqlSig9("CAST(CAST(a AS DECIMAL(38,0)) * d AS DOUBLE)")} / " +
        Q.sqlSig9("CAST(CAST(b AS DECIMAL(38,0)) * c AS DOUBLE)"))
    val rec = "(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE) + " +
      "1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(d AS DOUBLE))"
    s"""WITH u AS (
       |  SELECT CAST(${Q.sqlHash60("'ab:' || CAST(user_id AS VARCHAR)")}
       |      % 2 AS BIGINT) AS grp,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
       |      AS converted
       |  FROM events GROUP BY user_id),
       |cells AS (
       |  SELECT
       |    CAST(COALESCE(sum(CASE WHEN grp = 1 AND converted
       |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS a,
       |    CAST(COALESCE(sum(CASE WHEN grp = 1 AND NOT converted
       |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS b,
       |    CAST(COALESCE(sum(CASE WHEN grp = 0 AND converted
       |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS c,
       |    CAST(COALESCE(sum(CASE WHEN grp = 0 AND NOT converted
       |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS d
       |  FROM u),
       |p AS (
       |  SELECT *,
       |    CASE WHEN a + b > 0 THEN $p1 END AS p_exposed,
       |    CASE WHEN c + d > 0 THEN $p0 END AS p_control,
       |    CASE WHEN CAST(b AS DECIMAL(38,0)) * c > 0 THEN $or9 END
       |      AS odds_ratio
       |  FROM cells)
       |SELECT a, b, c, d, p_exposed, p_control,
       |  CASE WHEN p_control > 0 AND p_exposed IS NOT NULL THEN
       |    ${Q.sqlSig9("p_exposed / p_control")} END AS rel_risk,
       |  odds_ratio,
       |  CASE WHEN odds_ratio > 0 THEN ${Q.sqlSig9("ln(odds_ratio)")}
       |    END AS log_or,
       |  CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
       |    ${Q.sqlSig9(s"sqrt($rec)")} END AS se_log_or
       |FROM p""".stripMargin
  }

  // ===== two-sample effect sizes =====================================

  /** [[graft.ext.Profile.effectSizes]] on the `q_x_mwu` arms: Cohen's
    * d / Hedges' g / Cliff's delta — how BIG the arm difference is,
    * beside the tests that only say whether it is detectable. The
    * oracle composes the exact MWU doubled-U chain with one moment
    * CTE and mirrors every sig9 point. */
  private val effectQ: QFn = (s, d) => {
    val grp = pmod(graft.ext.Hashing.hash60(
      concat(lit("ab:"), col("user_id").cast("string"))), lit(2L))
    val ev = Tables.events(s, d).where(col("value").isNotNull)
      .withColumn("grp", grp)
    graft.ext.Profile.effectSizes(
      ev.where(col("grp") === 0), ev.where(col("grp") === 1), "value")
  }

  private val effectSql = {
    val nad = "CAST(na AS DOUBLE)"
    val nbd = "CAST(nb AS DOUBLE)"
    val meanA = s"(s1a / $nad)"
    val meanB = s"(s1b / $nbd)"
    val varA = s"CASE WHEN na > 1 THEN ${Q.sqlSig9(
      s"(s2a - s1a * s1a / $nad) / CAST(na - 1 AS DOUBLE)")} END"
    val varB = s"CASE WHEN nb > 1 THEN ${Q.sqlSig9(
      s"(s2b - s1b * s1b / $nbd) / CAST(nb - 1 AS DOUBLE)")} END"
    val pooled = s"CASE WHEN na + nb > 2 THEN ${Q.sqlSig9(
      "(CAST(na - 1 AS DOUBLE) * var_a + CAST(nb - 1 AS DOUBLE) * var_b)" +
        " / CAST(na + nb - 2 AS DOUBLE)")} END"
    val jf = s"(CAST(1.0 AS DOUBLE) - CAST(3.0 AS DOUBLE) / " +
      s"(CAST(4.0 AS DOUBLE) * ($nad + $nbd) - CAST(9.0 AS DOUBLE)))"
    s"""WITH g AS (
       |  SELECT CAST(${Q.sqlHash60("'ab:' || CAST(user_id AS VARCHAR)")}
       |    % 2 AS BIGINT) AS grp, value
       |  FROM events WHERE value IS NOT NULL),
       |c AS (
       |  SELECT value AS s,
       |    CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ac,
       |    CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bc
       |  FROM g GROUP BY 1),
       |t AS (SELECT CAST(sum(ac) AS BIGINT) AS na,
       |        CAST(sum(bc) AS BIGINT) AS nb FROM c),
       |cum AS (
       |  SELECT s, ac, bc,
       |    COALESCE(sum(bc) OVER (ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lb
       |  FROM c),
       |terms AS (
       |  SELECT CAST(ac AS DECIMAL(38,0)) * (2 * lb + bc) AS u2term
       |  FROM cum),
       |m AS (
       |  SELECT
       |    ${Q.sqlDsum("CASE WHEN grp = 0 THEN value END")} AS s1a,
       |    ${Q.sqlDsum("CASE WHEN grp = 0 THEN value * value END")}
       |      AS s2a,
       |    ${Q.sqlDsum("CASE WHEN grp = 1 THEN value END")} AS s1b,
       |    ${Q.sqlDsum("CASE WHEN grp = 1 THEN value * value END")}
       |      AS s2b
       |  FROM g),
       |f AS (
       |  SELECT t.na, t.nb, m.s1a, m.s2a, m.s1b, m.s2b,
       |    CASE WHEN t.na > 0 AND t.nb > 0 THEN ${Q.sqlSig9(
           "CAST((SELECT sum(u2term) FROM terms) AS DOUBLE)")} END AS u2
       |  FROM t, m),
       |v AS (
       |  SELECT *, $meanA AS mean_a, $meanB AS mean_b,
       |    $varA AS var_a, $varB AS var_b
       |  FROM f),
       |p AS (SELECT *, $pooled AS pooled FROM v),
       |sd AS (
       |  SELECT *, CASE WHEN pooled > 0 THEN ${Q.sqlSig9(
           "sqrt(pooled)")} END AS sd_p
       |  FROM p),
       |cd AS (
       |  SELECT *, CASE WHEN sd_p > 0 THEN ${Q.sqlSig9(
           s"${Q.sqlSig9("mean_a - mean_b")} / sd_p")} END AS cohens_d
       |  FROM sd)
       |SELECT na AS n_a, nb AS n_b, mean_a, mean_b, var_a, var_b,
       |  cohens_d,
       |  CASE WHEN cohens_d IS NOT NULL THEN ${Q.sqlSig9(
           s"cohens_d * $jf")} END AS hedges_g,
       |  CASE WHEN na > 0 AND nb > 0 THEN ${Q.sqlSig9(
           s"u2 / ($nad * $nbd) - CAST(1.0 AS DOUBLE)")} END
       |    AS cliffs_delta
       |FROM cd""".stripMargin
  }

  // ===== pipeline 7: the drift suite ==================================

  /** Flagship 7 — ONE plan emitting the full drift report for an A/B
    * split: Welch z (means), Mann–Whitney z (ranks), KS (shape), total
    * PSI (binned occupancy) over the metric, and chi-square of
    * event_type × arm (categorical balance). Long format
    * (stat, value, aux, n_a, n_b); every statistic reuses the exact
    * component operator, so each row of this suite equals the
    * corresponding standalone query's value. The oracle composes the
    * component oracles as subqueries plus an arms-PSI chain. */
  private val pipeline7Q: QFn = (s, d) => {
    import graft.ext.Profile
    val grp = pmod(graft.ext.Hashing.hash60(
      concat(lit("ab:"), col("user_id").cast("string"))), lit(2L))
    val evAll = Tables.events(s, d).withColumn("grp", grp)
    val ev = evAll.where(col("value").isNotNull)
    val a = ev.where(col("grp") === 0)
    val b = ev.where(col("grp") === 1)
    val naux = lit(null).cast("double").as("aux")
    val welch = Profile
      .welchZ(Profile.groupMoments(evAll, Seq("grp"), "value"), "grp")
      .select(lit("welch").as("stat"), col("z").as("value"), naux,
        col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"))
    val mwu = Profile.mannWhitney(a, b, "value")
      .select(lit("mwu").as("stat"), col("z").as("value"),
        col("u2").as("aux"), col("n_a"), col("n_b"))
    val ks = Profile.ksDistance(a, b, "value")
      .select(lit("ks").as("stat"), col("ks").as("value"),
        col("ks_at").as("aux"), col("n_a"), col("n_b"))
    // contribs sig9'd BEFORE the decimal rollup: a full-precision
    // double entering DECIMAL(38,15) casts differently per engine at
    // the 15th decimal (the multiTouch ADVICE lesson); 9-sig-digit
    // values cast exactly on both
    val psi = Profile.psi(a, b, "value", bins = 10)
      .agg(Q.dsumStable(Q.sig9(col("contrib")), 12).as("value"),
        sum(col("ref_n")).cast("long").as("n_a"),
        sum(col("cur_n")).cast("long").as("n_b"))
      .select(lit("psi").as("stat"), col("value"), naux,
        col("n_a"), col("n_b"))
    val chisq = Profile.chiSquare(evAll, "event_type", "grp")
      .select(lit("chisq").as("stat"), col("chi2").as("value"),
        col("dof").cast("double").as("aux"), col("n").as("n_a"),
        col("dof").as("n_b"))
    welch.unionByName(mwu).unionByName(ks).unionByName(psi)
      .unionByName(chisq)
  }

  private val pipeline7Sql = {
    val armHash =
      s"CAST(${Q.sqlHash60("'ab:' || CAST(user_id AS VARCHAR)")} % 2 " +
        "AS BIGINT)"
    val chisqEv = chisqSqlFor(
      s"SELECT CAST(event_type AS VARCHAR) AS r,\n" +
        s"    CAST($armHash AS VARCHAR) AS c\n" +
        "  FROM events WHERE event_type IS NOT NULL")
    val rf = "CAST(ref_n AS DOUBLE) / CAST(rt AS DOUBLE)"
    val cf = "CAST(cur_n AS DOUBLE) / CAST(ct AS DOUBLE)"
    val psiArms =
      s"""WITH g AS (
         |  SELECT $armHash AS grp, value
         |  FROM events WHERE value IS NOT NULL),
         |pr AS (SELECT value AS x FROM g WHERE grp = 0),
         |pc AS (SELECT value AS x FROM g WHERE grp = 1),
         |pm AS (SELECT min(x) AS lo, max(x) AS hi FROM pr),
         |rb AS (
         |  SELECT bin, CAST(count(*) AS BIGINT) AS ref_n FROM (
         |    SELECT CASE WHEN hi = lo THEN 0
         |      ELSE LEAST(9, GREATEST(0,
         |        CAST(floor((x - lo) / ((hi - lo) / 10)) AS BIGINT)))
         |      END AS bin
         |    FROM pr, pm) GROUP BY 1),
         |cb AS (
         |  SELECT bin, CAST(count(*) AS BIGINT) AS cur_n FROM (
         |    SELECT CASE WHEN hi = lo THEN 0
         |      ELSE LEAST(9, GREATEST(0,
         |        CAST(floor((x - lo) / ((hi - lo) / 10)) AS BIGINT)))
         |      END AS bin
         |    FROM pc, pm) GROUP BY 1),
         |jn AS (
         |  SELECT COALESCE(rb.bin, cb.bin) AS bin,
         |    COALESCE(ref_n, 0) AS ref_n, COALESCE(cur_n, 0) AS cur_n
         |  FROM rb FULL OUTER JOIN cb ON rb.bin = cb.bin),
         |tt AS (SELECT CAST(sum(ref_n) AS BIGINT) AS rt,
         |  CAST(sum(cur_n) AS BIGINT) AS ct FROM jn),
         |pcon AS (
         |  SELECT ref_n, cur_n,
         |    CASE WHEN ref_n = 0 OR cur_n = 0 THEN CAST(0.0 AS DOUBLE)
         |      ELSE ($rf - $cf) * ${Q.sqlSig9(s"ln(($rf) / ($cf))")}
         |      END AS contrib
         |  FROM jn, tt)
         |SELECT ${Q.sqlDsumStable(Q.sqlSig9("contrib"), 12)} AS value,
         |  CAST(sum(ref_n) AS BIGINT) AS n_a,
         |  CAST(sum(cur_n) AS BIGINT) AS n_b
         |FROM pcon""".stripMargin
    s"""SELECT 'welch' AS stat, z AS value, CAST(NULL AS DOUBLE) AS aux,
       |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b
       |FROM ($abtestSql)
       |UNION ALL
       |SELECT 'mwu', z, u2, n_a, n_b FROM ($mwuSql)
       |UNION ALL
       |SELECT 'ks', ks, ks_at, n_a, n_b FROM ($ksSql)
       |UNION ALL
       |SELECT 'psi', value, CAST(NULL AS DOUBLE), n_a, n_b
       |FROM ($psiArms)
       |UNION ALL
       |SELECT 'chisq', chi2, CAST(dof AS DOUBLE), n, dof
       |FROM ($chisqEv)""".stripMargin
  }

  // ===== retrospective changepoint + autocorrelation =================

  /** Daily event-count series per event_type — the integer-valued
    * regular grid both scan statistics require for their exact-
    * arithmetic adjudication (counts are what CUSUM scans monitor in
    * practice anyway). */
  private def dailyCounts(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))

  private val dailySql =
    """SELECT event_type, CAST(ts AS DATE) AS day,
      |  CAST(count(*) AS BIGINT) AS cnt
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Per-event_type CUSUM changepoint over the daily count series:
    * WHERE did the cadence shift. The argmax statistic is the exact
    * integer |n·S_t − t·S_n| — adjudicated bit-for-bit, ties to the
    * earliest day. */
  private val changepointQ: QFn = (s, d) =>
    TimeSeries.changePoint(dailyCounts(s, d), Seq("event_type"),
        "day", "cnt")
      .select(col("event_type"), col("n"), col("total"), col("cp_idx"),
        date_format(col("cp_ts"), "yyyy-MM-dd").as("cp_day"),
        col("stat"), col("mean_left"), col("mean_right"))

  private val changepointSql =
    s"""WITH dly AS ($dailySql),
       |o AS (
       |  SELECT event_type, day, cnt,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
       |      AS BIGINT) AS t,
       |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS st
       |  FROM dly),
       |tot AS (
       |  SELECT event_type, CAST(max(t) AS BIGINT) AS n,
       |    CAST(sum(cnt) AS BIGINT) AS total
       |  FROM o GROUP BY 1),
       |dd AS (
       |  SELECT o.event_type, o.day, o.t,
       |    CAST(o.st AS BIGINT) AS st, tot.n, tot.total,
       |    abs(CAST(tot.n AS DECIMAL(38,0)) * o.st
       |      - CAST(o.t AS DECIMAL(38,0)) * tot.total) AS dstat
       |  FROM o JOIN tot USING (event_type)
       |  WHERE o.t < tot.n),
       |mx AS (SELECT event_type, max(dstat) AS mxd FROM dd GROUP BY 1)
       |SELECT dd.event_type, dd.n, dd.total,
       |  CAST(min(dd.t) AS BIGINT) AS cp_idx,
       |  strftime(min(dd.day), '%Y-%m-%d') AS cp_day,
       |  ${Q.sqlSig9("CAST(mx.mxd AS DOUBLE)")} AS stat,
       |  ${Q.sqlSig9("CAST(arg_min(dd.st, dd.t) AS DOUBLE) / " +
           "CAST(min(dd.t) AS DOUBLE)")} AS mean_left,
       |  ${Q.sqlSig9("CAST(dd.total - arg_min(dd.st, dd.t) AS DOUBLE) / " +
           "CAST(dd.n - min(dd.t) AS DOUBLE)")} AS mean_right
       |FROM dd JOIN mx USING (event_type)
       |WHERE dd.dstat = mx.mxd
       |GROUP BY dd.event_type, dd.n, dd.total, mx.mxd""".stripMargin

  /** [[graft.ext.TimeSeries.ar2Forecast]] on the daily count series
    * per event_type, horizon 3: Yule–Walker AR(2) from the exact
    * lag-1/lag-2 autocorrelations, forecasts recursing around the
    * mean from the last two observed days — the memory-based
    * forecaster beside `q_x_des`/`q_x_holt_winters`. The oracle
    * unrolls the identical sig9'd recursion. */
  private val ar2Q: QFn = (s, d) =>
    TimeSeries.ar2Forecast(dailyCounts(s, d), Seq("event_type"),
      "day", "cnt", horizon = 3)

  private val ar2Sql = {
    val num = "CAST(n AS DECIMAL(38,0)) * n * p " +
      "- CAST(n AS DECIMAL(38,0)) * s * (a + b) " +
      "+ CAST(n - k AS DECIMAL(38,0)) * s * s"
    val den = "CAST(n AS DECIMAL(38,0)) * n * q " +
      "- CAST(n AS DECIMAL(38,0)) * s * s"
    val phiDen = "(1.0 - r1 * r1)"
    def hRow(h: Int, f: String) =
      s"""SELECT event_type, n, r1, r2, phi1, phi2, mu,
         |  CAST($h AS BIGINT) AS h, $f AS forecast FROM f3""".stripMargin
    s"""WITH dly AS ($dailySql),
       |o AS (
       |  SELECT event_type, cnt,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
       |      AS BIGINT) AS i
       |  FROM dly),
       |tot AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(cnt) AS BIGINT) AS s,
       |    CAST(sum(CAST(cnt AS DECIMAL(38,0)) * cnt) AS DECIMAL(38,0)) AS q
       |  FROM o GROUP BY 1),
       |ks AS (SELECT unnest([1, 2]) AS k),
       |pr AS (
       |  SELECT l.event_type, ks.k, l.cnt AS xl, r.cnt AS xr
       |  FROM o l JOIN ks ON true JOIN o r
       |    ON r.event_type = l.event_type AND r.i = l.i + ks.k),
       |sm AS (
       |  SELECT event_type, k,
       |    CAST(sum(CAST(xl AS DECIMAL(38,0)) * xr) AS DECIMAL(38,0)) AS p,
       |    CAST(sum(xl) AS BIGINT) AS a, CAST(sum(xr) AS BIGINT) AS b
       |  FROM pr GROUP BY 1, 2),
       |rk AS (
       |  SELECT sm.event_type, sm.k,
       |    CASE WHEN ($den) > 0 THEN
       |      ${Q.sqlSig9(s"CAST($num AS DOUBLE) / CAST($den AS DOUBLE)")}
       |    END AS r
       |  FROM sm JOIN tot USING (event_type)),
       |rp AS (
       |  SELECT event_type, max(CASE WHEN k = 1 THEN r END) AS r1,
       |    max(CASE WHEN k = 2 THEN r END) AS r2
       |  FROM rk GROUP BY 1),
       |lt AS (
       |  SELECT o.event_type,
       |    CAST(max(CASE WHEN o.i = tot.n THEN o.cnt END) AS BIGINT) AS x1,
       |    CAST(max(CASE WHEN o.i = tot.n - 1 THEN o.cnt END) AS BIGINT)
       |      AS x2
       |  FROM o JOIN tot USING (event_type) GROUP BY 1),
       |base AS (
       |  SELECT rp.event_type, tot.n, rp.r1, rp.r2,
       |    ${Q.sqlSig9("CAST(tot.s AS DOUBLE) / CAST(tot.n AS DOUBLE)")}
       |      AS mu,
       |    lt.x1, lt.x2,
       |    CASE WHEN tot.n >= 3 AND $phiDen <> 0.0 THEN
       |      ${Q.sqlSig9(s"(r1 * (1.0 - r2)) / $phiDen")} END AS phi1,
       |    CASE WHEN tot.n >= 3 AND $phiDen <> 0.0 THEN
       |      ${Q.sqlSig9(s"(r2 - r1 * r1) / $phiDen")} END AS phi2
       |  FROM rp JOIN tot USING (event_type) JOIN lt USING (event_type)),
       |f1 AS (SELECT *, ${Q.sqlSig9(
            "mu + phi1 * (CAST(x1 AS DOUBLE) - mu) " +
              "+ phi2 * (CAST(x2 AS DOUBLE) - mu)")} AS f1 FROM base),
       |f2 AS (SELECT *, ${Q.sqlSig9(
            "mu + phi1 * (f1 - mu) " +
              "+ phi2 * (CAST(x1 AS DOUBLE) - mu)")} AS f2 FROM f1),
       |f3 AS (SELECT *, ${Q.sqlSig9(
            "mu + phi1 * (f2 - mu) + phi2 * (f1 - mu)")} AS f3 FROM f2)
       |${hRow(1, "f1")}
       |UNION ALL
       |${hRow(2, "f2")}
       |UNION ALL
       |${hRow(3, "f3")}""".stripMargin
  }

  /** Autocorrelation of the daily count series per event_type at lags
    * 1..14 — the weekly echo shows up as a ridge at k=7/14. Exact
    * integer numerator/denominator, one sig9'd division per lag. */
  private val acfMaxLag = 14

  private val acfQ: QFn = (s, d) =>
    TimeSeries.autocorr(dailyCounts(s, d), Seq("event_type"),
        "day", "cnt", maxLag = acfMaxLag)
      .select(col("event_type"), col("k"), col("n"), col("n_pairs"),
        col("r"))

  private val acfSql = {
    val num = "CAST(n AS DECIMAL(38,0)) * n * p " +
      "- CAST(n AS DECIMAL(38,0)) * s * (a + b) " +
      "+ CAST(n - k AS DECIMAL(38,0)) * s * s"
    val den = "CAST(n AS DECIMAL(38,0)) * n * q " +
      "- CAST(n AS DECIMAL(38,0)) * s * s"
    s"""WITH dly AS ($dailySql),
       |o AS (
       |  SELECT event_type, cnt,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
       |      AS BIGINT) AS i
       |  FROM dly),
       |tot AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(cnt) AS BIGINT) AS s,
       |    CAST(sum(CAST(cnt AS DECIMAL(38,0)) * cnt) AS DECIMAL(38,0)) AS q
       |  FROM o GROUP BY 1),
       |ks AS (SELECT unnest(range(1, ${acfMaxLag + 1})) AS k),
       |pr AS (
       |  SELECT l.event_type, ks.k, l.cnt AS xl, r.cnt AS xr
       |  FROM o l JOIN ks ON true JOIN o r
       |    ON r.event_type = l.event_type AND r.i = l.i + ks.k),
       |sm AS (
       |  SELECT event_type, k,
       |    CAST(sum(CAST(xl AS DECIMAL(38,0)) * xr) AS DECIMAL(38,0)) AS p,
       |    CAST(sum(xl) AS BIGINT) AS a, CAST(sum(xr) AS BIGINT) AS b,
       |    CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM pr GROUP BY 1, 2)
       |SELECT sm.event_type, CAST(sm.k AS BIGINT) AS k, tot.n,
       |  sm.n_pairs,
       |  CASE WHEN ($den) > 0 THEN
       |    ${Q.sqlSig9(s"CAST($num AS DOUBLE) / CAST($den AS DOUBLE)")}
       |  END AS r
       |FROM sm JOIN tot USING (event_type)""".stripMargin
  }

  /** Lead-lag profile between the daily click and purchase series at
    * lags -7..7 (positive k = purchases lag clicks by k days). Exact
    * integer sums; one sqrt + one division per lag, each sig9'd. */
  private val xcorrMaxLag = 7

  private val xcorrQ: QFn = (s, d) => {
    val daily = dailyCounts(s, d)
    def one(t: String) = daily.where(col("event_type") === t)
      .select(col("day").cast("timestamp").as("ts"), col("cnt"))
    TimeSeries.crossCorr(one("click"), one("purchase"), "ts", "cnt",
      stepSeconds = 86400L, maxLag = xcorrMaxLag)
  }

  private val xcorrSql = {
    def daily(t: String, n: String) =
      s"""$n AS (
         |  SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS ts,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM events WHERE event_type = '$t' GROUP BY 1)""".stripMargin
    val num = "CAST(nx AS DECIMAL(38,0)) * ny * p " +
      "- CAST(ny AS DECIMAL(38,0)) * sx * b " +
      "- CAST(nx AS DECIMAL(38,0)) * sy * a " +
      "+ CAST(m AS DECIMAL(38,0)) * sx * sy"
    val dx = "CAST(nx AS DECIMAL(38,0)) * " +
      "(CAST(nx AS DECIMAL(38,0)) * qx - CAST(sx AS DECIMAL(38,0)) * sx)"
    val dy = "CAST(ny AS DECIMAL(38,0)) * " +
      "(CAST(ny AS DECIMAL(38,0)) * qy - CAST(sy AS DECIMAL(38,0)) * sy)"
    s"""WITH ${daily("click", "ax")},
       |${daily("purchase", "bx")},
       |ta AS (SELECT CAST(count(*) AS BIGINT) AS nx,
       |  CAST(sum(c) AS BIGINT) AS sx,
       |  CAST(sum(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS qx
       |  FROM ax),
       |tb AS (SELECT CAST(count(*) AS BIGINT) AS ny,
       |  CAST(sum(c) AS BIGINT) AS sy,
       |  CAST(sum(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS qy
       |  FROM bx),
       |ks AS (SELECT unnest(range(-$xcorrMaxLag, ${xcorrMaxLag + 1}))
       |  AS k),
       |pr AS (
       |  SELECT ks.k,
       |    CAST(sum(CAST(ax.c AS DECIMAL(38,0)) * bx.c)
       |      AS DECIMAL(38,0)) AS p,
       |    CAST(sum(ax.c) AS BIGINT) AS a, CAST(sum(bx.c) AS BIGINT) AS b,
       |    CAST(count(*) AS BIGINT) AS m
       |  FROM ax JOIN ks ON true JOIN bx
       |    ON epoch_us(bx.ts) = epoch_us(ax.ts) + ks.k * 86400000000
       |  GROUP BY 1)
       |SELECT CAST(pr.k AS BIGINT) AS k, pr.m AS n_pairs,
       |  ta.nx AS n_a, tb.ny AS n_b,
       |  CASE WHEN ($dx) > 0 AND ($dy) > 0 THEN
       |    ${Q.sqlSig9(s"CAST($num AS DOUBLE) / " +
           Q.sqlSig9(s"sqrt(CAST($dx AS DOUBLE) * CAST($dy AS DOUBLE))"))}
       |  END AS r
       |FROM pr CROSS JOIN ta CROSS JOIN tb""".stripMargin
  }

  // ===== trend trio: OLS line, Mann-Kendall, Theil-Sen ================

  /** Parametric trend: per-event_type OLS line + R² over the daily
    * counts. Exact integer sums, sig9'd divisions only. */
  private val trendQ: QFn = (s, d) =>
    TimeSeries.trendLine(dailyCounts(s, d), Seq("event_type"),
      "day", "cnt")

  private val trendSql = {
    val dii = "CAST(n AS DECIMAL(38,0)) * sii " +
      "- CAST(si AS DECIMAL(38,0)) * si"
    val dxx = "CAST(n AS DECIMAL(38,0)) * sxx " +
      "- CAST(sx AS DECIMAL(38,0)) * sx"
    val dix = "CAST(n AS DECIMAL(38,0)) * six " +
      "- CAST(si AS DECIMAL(38,0)) * sx"
    val slope = Q.sqlSig9("CAST(dix AS DOUBLE) / CAST(dii AS DOUBLE)")
    s"""WITH dly AS ($dailySql),
       |o AS (
       |  SELECT event_type, cnt,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
       |      AS BIGINT) AS i
       |  FROM dly),
       |ag AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(i) AS BIGINT) AS si,
       |    CAST(sum(CAST(i AS DECIMAL(38,0)) * i) AS DECIMAL(38,0)) AS sii,
       |    CAST(sum(cnt) AS BIGINT) AS sx,
       |    CAST(sum(CAST(cnt AS DECIMAL(38,0)) * cnt) AS DECIMAL(38,0))
       |      AS sxx,
       |    CAST(sum(CAST(i AS DECIMAL(38,0)) * cnt) AS DECIMAL(38,0))
       |      AS six
       |  FROM o GROUP BY 1),
       |dd AS (
       |  SELECT event_type, n, si, sx, ($dii) AS dii, ($dxx) AS dxx,
       |    ($dix) AS dix
       |  FROM ag WHERE n >= 2)
       |SELECT event_type, n,
       |  CASE WHEN dii > 0 THEN $slope END AS slope,
       |  CASE WHEN dii > 0 THEN ${Q.sqlSig9(
           s"(CAST(sx AS DOUBLE) - ($slope) * CAST(si AS DOUBLE)) / " +
             "CAST(n AS DOUBLE)")} END AS intercept,
       |  CASE WHEN dii > 0 AND dxx > 0 THEN ${Q.sqlSig9(
           "CAST(dix * dix AS DOUBLE) / CAST(dii * dxx AS DOUBLE)")}
       |  END AS r2
       |FROM dd""".stripMargin
  }

  /** Nonparametric monotone-trend test per event_type: exact S and
    * tie term, continuity-corrected z. */
  private val mkQ: QFn = (s, d) =>
    TimeSeries.mannKendall(dailyCounts(s, d), Seq("event_type"),
      "day", "cnt")

  private val mkSql = {
    val varExpr = "CAST(n AS DECIMAL(38,0)) * (n - 1) * (2 * n + 5) " +
      "- tie_t"
    val sd = Q.sqlSig9(s"sqrt(CAST($varExpr AS DOUBLE) / 18.0)")
    s"""WITH dly AS ($dailySql),
       |o AS (
       |  SELECT event_type, cnt,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
       |      AS BIGINT) AS i
       |  FROM dly),
       |pr AS (
       |  SELECT l.event_type,
       |    CAST(sum(CASE WHEN r.cnt > l.cnt THEN 1
       |      WHEN r.cnt < l.cnt THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
       |  FROM o l JOIN o r
       |    ON r.event_type = l.event_type AND r.i > l.i
       |  GROUP BY 1),
       |tt AS (
       |  SELECT event_type, CAST(sum(t) AS BIGINT) AS n,
       |    CAST(sum(CAST(t AS DECIMAL(38,0)) * (t - 1) * (2 * t + 5))
       |      AS DECIMAL(38,0)) AS tie_t
       |  FROM (SELECT event_type, cnt, CAST(count(*) AS BIGINT) AS t
       |        FROM o GROUP BY 1, 2)
       |  GROUP BY 1)
       |SELECT pr.event_type, tt.n, pr.s_stat,
       |  CAST(tt.tie_t AS BIGINT) AS tie_t,
       |  CASE WHEN ($varExpr) > 0 THEN ${Q.sqlSig9(
           "CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0) / " +
             s"($sd) WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0) " +
             s"/ ($sd) ELSE 0.0 END")}
       |  END AS z
       |FROM pr JOIN tt USING (event_type) WHERE tt.n >= 2""".stripMargin
  }

  /** Robust trend: lower-median pairwise slope per event_type (an
    * actual pairwise slope — discrete order stat, no interpolation). */
  private val theilSenQ: QFn = (s, d) =>
    TimeSeries.theilSen(dailyCounts(s, d), Seq("event_type"),
      "day", "cnt")

  private val theilSenSql =
    s"""WITH dly AS ($dailySql),
       |o AS (
       |  SELECT event_type, cnt,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
       |      AS BIGINT) AS i
       |  FROM dly),
       |sl AS (
       |  SELECT l.event_type,
       |    CAST(r.cnt - l.cnt AS DOUBLE) / CAST(r.i - l.i AS DOUBLE)
       |      AS slope
       |  FROM o l JOIN o r
       |    ON r.event_type = l.event_type AND r.i > l.i),
       |rk AS (
       |  SELECT event_type, slope,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
       |      ORDER BY slope) AS BIGINT) AS rn,
       |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS np
       |  FROM sl)
       |SELECT event_type, np AS n_pairs, slope AS ts_slope
       |FROM rk WHERE rn = (np + 1) // 2""".stripMargin

  /** Conversion-rate A/B: per-user converted = any purchase; arms by
    * the "ab:" hash (the abtest convention); pooled two-proportion z. */
  private val propTestQ: QFn = (s, d) => {
    val units = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("conv"))
      .select(pmod(graft.ext.Hashing.hash60(
          concat(lit("ab:"), col("user_id").cast("string"))), lit(2L))
          .as("grp"),
        (col("conv") === 1L).as("converted"))
    graft.ext.Profile.twoProportionZ(units, "grp", "converted")
  }

  private val propTestSql = {
    val pa = Q.sqlSig9("CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)")
    val pb = Q.sqlSig9("CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE)")
    val pp = Q.sqlSig9("CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)")
    val se = Q.sqlSig9(s"sqrt(($pp) * (1.0 - ($pp)) * " +
      "(1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))")
    s"""WITH u AS (
       |  SELECT CAST(${Q.sqlHash60("'ab:' || CAST(user_id AS VARCHAR)")}
       |      % 2 AS BIGINT) AS grp,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
       |      AS converted
       |  FROM events GROUP BY user_id),
       |c AS (
       |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
       |      AS x
       |  FROM u GROUP BY 1),
       |ab AS (
       |  SELECT a.grp AS group_a, b.grp AS group_b, a.n AS n_a,
       |    b.n AS n_b, a.x AS x_a, b.x AS x_b
       |  FROM (SELECT * FROM c ORDER BY grp ASC LIMIT 1) a,
       |       (SELECT * FROM c ORDER BY grp DESC LIMIT 1) b)
       |SELECT group_a, group_b, n_a, n_b, x_a, x_b,
       |  CASE WHEN n_a > 0 THEN $pa END AS p_a,
       |  CASE WHEN n_b > 0 THEN $pb END AS p_b,
       |  CASE WHEN n_a > 0 AND n_b > 0 AND ($se) > 0.0 THEN
       |    ${Q.sqlSig9(s"(($pa) - ($pb)) / ($se)")}
       |  END AS z
       |FROM ab""".stripMargin
  }

  /** CUPED A/B: metric = each user's second-half value sum, covariate
    * = their first-half sum (split at the exact midpoint day); arms by
    * the "ab:" hash. Reports raw and adjusted z side by side. */
  private val cupedQ: QFn = (s, d) => {
    val ev = Tables.events(s, d).where(col("value").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
    val split = ev.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(expr("date_add(lo, CAST(datediff(hi, lo) div 2 AS INT))")
        .as("split"))
    val units = ev.crossJoin(broadcast(split))
      .groupBy(col("user_id"))
      .agg(
        coalesce(Q.dsum(when(col("day") < col("split"), col("value"))),
          lit(0.0)).as("x"),
        coalesce(Q.dsum(when(col("day") >= col("split"), col("value"))),
          lit(0.0)).as("y"))
      .select(pmod(graft.ext.Hashing.hash60(
          concat(lit("ab:"), col("user_id").cast("string"))), lit(2L))
          .as("grp"),
        col("y"), col("x"))
    graft.ext.Profile.cupedZ(units, "grp", "y", "x")
  }

  private val cupedSql = {
    def welch(src: String, vc: String, zName: String) =
      s"""m_$zName AS (
         |  SELECT grp, CAST(count($vc) AS BIGINT) AS n,
         |    ${Q.sqlDsum(vc)} AS s1,
         |    ${Q.sqlDsum(s"$vc * $vc")} AS s2
         |  FROM $src GROUP BY 1),
         |mm_$zName AS (
         |  SELECT grp, n, s1 / n AS mean_v,
         |    CASE WHEN n > 1 THEN ${Q.sqlSig9(
             "(s2 - s1 * s1 / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)")}
         |    END AS var_v
         |  FROM m_$zName),
         |z_$zName AS (
         |  SELECT a.grp AS group_a, b.grp AS group_b, a.n AS n_a,
         |    b.n AS n_b,
         |    ${Q.sqlSig9("(a.mean_v - b.mean_v) / sqrt(a.var_v / " +
             "CAST(a.n AS DOUBLE) + b.var_v / CAST(b.n AS DOUBLE))")}
         |      AS $zName
         |  FROM (SELECT * FROM mm_$zName ORDER BY grp ASC LIMIT 1) a,
         |       (SELECT * FROM mm_$zName ORDER BY grp DESC LIMIT 1) b)"""
        .stripMargin
    s"""WITH ev AS (
       |  SELECT user_id, CAST(ts AS DATE) AS day, value FROM events
       |  WHERE value IS NOT NULL),
       |bb AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
       |sp AS (SELECT lo + CAST(date_diff('day', lo, hi) // 2 AS INTEGER)
       |  AS split FROM bb),
       |u AS (
       |  SELECT CAST(${Q.sqlHash60("'ab:' || CAST(user_id AS VARCHAR)")}
       |      % 2 AS BIGINT) AS grp,
       |    COALESCE(${Q.sqlDsum(
           "CASE WHEN day < split THEN value END")}, 0.0) AS x,
       |    COALESCE(${Q.sqlDsum(
           "CASE WHEN day >= split THEN value END")}, 0.0) AS y
       |  FROM ev, sp GROUP BY user_id),
       |mn AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    ${Q.sqlSig9(s"${Q.sqlDsum("x")} / CAST(count(*) AS DOUBLE)")}
       |      AS xbar,
       |    ${Q.sqlSig9(s"${Q.sqlDsum("y")} / CAST(count(*) AS DOUBLE)")}
       |      AS ybar
       |  FROM u),
       |p AS (
       |  SELECT mn.n, mn.xbar,
       |    ${Q.sqlDsum(Q.sqlSig9("(x - xbar) * (y - ybar)"))} AS sxy_c,
       |    ${Q.sqlDsum(Q.sqlSig9("(x - xbar) * (x - xbar)"))} AS sxx_c
       |  FROM u, mn GROUP BY 1, 2),
       |st AS (
       |  SELECT n, CASE WHEN sxx_c > 0 THEN
       |      ${Q.sqlSig9("sxy_c / sxx_c")} END AS theta,
       |    xbar
       |  FROM p),
       |adj AS (
       |  SELECT u.grp, u.y,
       |    ${Q.sqlSig9("u.y - COALESCE(st.theta, 0.0) * (u.x - st.xbar)")}
       |      AS y_adj
       |  FROM u, st),
       |${welch("adj", "y", "z_raw")},
       |${welch("adj", "y_adj", "z_adj")}
       |SELECT z_z_raw.group_a, z_z_raw.group_b, z_z_raw.n_a,
       |  z_z_raw.n_b, st.theta, z_z_raw.z_raw, z_z_adj.z_adj
       |FROM z_z_raw, z_z_adj, st""".stripMargin
  }

  // ===== pipeline 8: one-plan experiment readout ======================

  /** The full A/B readout as ONE plan in long format: Welch z on the
    * metric, Mann-Whitney z on its ranks, the pooled conversion-rate
    * z, and CUPED's raw + adjusted z (theta carried as aux) — the
    * five numbers an experimentation dashboard shows per experiment.
    * Composition changes nothing: each row is the standalone
    * operator's value (spec-pinned), and the oracle composes the
    * component SQLs as subqueries. */
  private val pipeline8Q: QFn = (s, d) => {
    val naux = lit(null).cast("double").as("aux")
    val welch = abtestQ(s, d).select(lit("welch").as("stat"),
      col("z").as("value"), naux, col("n_a"), col("n_b"))
    val mwu = mwuQ(s, d).select(lit("mwu").as("stat"),
      col("z").as("value"), naux, col("n_a"), col("n_b"))
    val prop = propTestQ(s, d).select(lit("prop").as("stat"),
      col("z").as("value"), naux, col("n_a"), col("n_b"))
    val cu = cupedQ(s, d).transform(Checkpoints.cut) // one CUPED pass, two rows
    val cuRaw = cu.select(lit("cuped_raw").as("stat"),
      col("z_raw").as("value"), col("theta").as("aux"),
      col("n_a"), col("n_b"))
    val cuAdj = cu.select(lit("cuped_adj").as("stat"),
      col("z_adj").as("value"), col("theta").as("aux"),
      col("n_a"), col("n_b"))
    welch.unionByName(mwu).unionByName(prop).unionByName(cuRaw)
      .unionByName(cuAdj)
  }

  private val pipeline8Sql =
    s"""SELECT 'welch' AS stat, z AS value, CAST(NULL AS DOUBLE) AS aux,
       |  n_a, n_b
       |FROM ($abtestSql)
       |UNION ALL
       |SELECT 'mwu', z, CAST(NULL AS DOUBLE), n_a, n_b FROM ($mwuSql)
       |UNION ALL
       |SELECT 'prop', z, CAST(NULL AS DOUBLE), n_a, n_b
       |FROM ($propTestSql)
       |UNION ALL
       |SELECT 'cuped_raw', z_raw, theta, n_a, n_b FROM ($cupedSql)
       |UNION ALL
       |SELECT 'cuped_adj', z_adj, theta, n_a, n_b
       |FROM ($cupedSql)""".stripMargin

  /** SRM gate on the "ab:" hash assignment: the per-user arm split
    * must be consistent with 50/50 before any readout is trusted. */
  private val srmQ: QFn = (s, d) =>
    graft.ext.Profile.sampleRatioCheck(
      Tables.events(s, d).select(col("user_id")).distinct()
        .select(pmod(graft.ext.Hashing.hash60(
          concat(lit("ab:"), col("user_id").cast("string"))), lit(2L))
          .as("grp")),
      "grp", ratioA = 0.5)

  private val srmSql = {
    val nTot = "CAST(n_a + n_b AS DOUBLE)"
    val ea = Q.sqlSig9(s"$nTot * 0.5")
    val eb = Q.sqlSig9(s"$nTot * 0.5")
    val da = s"(CAST(n_a AS DOUBLE) - ($ea))"
    val db = s"(CAST(n_b AS DOUBLE) - ($eb))"
    val chi2 = Q.sqlSig9(
      s"${Q.sqlSig9(s"$da * $da / ($ea)")} + " +
        s"${Q.sqlSig9(s"$db * $db / ($eb)")}")
    val z = Q.sqlSig9(
      s"$da / ${Q.sqlSig9(s"sqrt($nTot * 0.25)")}")
    s"""WITH u AS (
       |  SELECT DISTINCT user_id FROM events),
       |g AS (
       |  SELECT CAST(${Q.sqlHash60("'ab:' || CAST(user_id AS VARCHAR)")}
       |    % 2 AS BIGINT) AS grp
       |  FROM u),
       |c AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM g
       |      GROUP BY 1),
       |ab AS (
       |  SELECT a.grp AS group_a, b.grp AS group_b, a.n AS n_a,
       |    b.n AS n_b
       |  FROM (SELECT * FROM c ORDER BY grp ASC LIMIT 1) a,
       |       (SELECT * FROM c ORDER BY grp DESC LIMIT 1) b)
       |SELECT group_a, group_b, n_a, n_b, $ea AS expected_a,
       |  CASE WHEN n_a + n_b > 0 THEN $chi2 END AS chi2,
       |  CASE WHEN n_a + n_b > 0 THEN $z END AS z
       |FROM ab""".stripMargin
  }

  /** How much of each event_type's value variance the weekly profile
    * explains — the "deseasonalize or not" decision number. */
  private val seasonalStrengthQ: QFn = (s, d) =>
    TimeSeries.seasonalStrength(Tables.events(s, d),
      Seq("event_type"), "ts", "value")

  private val seasonalStrengthSql = {
    def mom(vc: String, out: String) =
      s"""m_$out AS (
         |  SELECT event_type, CAST(count($vc) AS BIGINT) AS n,
         |    ${Q.sqlDsum(vc)} AS s1, ${Q.sqlDsum(s"$vc * $vc")} AS s2
         |  FROM r GROUP BY 1),
         |v_$out AS (
         |  SELECT event_type, n,
         |    CASE WHEN n > 1 THEN ${Q.sqlSig9(
             "(s2 - s1 * s1 / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)")}
         |    END AS $out
         |  FROM m_$out)""".stripMargin
    s"""WITH p AS (
       |  SELECT event_type,
       |    CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
       |    CAST(hour(ts) AS BIGINT) AS hod,
       |    ${Q.sqlDavg("value")} AS mean_v
       |  FROM events GROUP BY 1, 2, 3),
       |r AS (
       |  SELECT e.event_type, e.value, e.value - p.mean_v AS resid
       |  FROM events e JOIN p
       |    ON p.event_type = e.event_type
       |   AND p.dow = CAST(dayofweek(e.ts) + 1 AS BIGINT)
       |   AND p.hod = CAST(hour(e.ts) AS BIGINT)),
       |${mom("value", "var_total")},
       |${mom("resid", "var_resid")}
       |SELECT v_var_total.event_type, v_var_total.n,
       |  v_var_total.var_total, v_var_resid.var_resid,
       |  CASE WHEN v_var_total.n > 1 AND v_var_total.var_total > 0 THEN
       |    ${Q.sqlSig9("GREATEST(0.0, 1.0 - " +
           "v_var_resid.var_resid / v_var_total.var_total)")}
       |  END AS strength
       |FROM v_var_total JOIN v_var_resid USING (event_type)""".stripMargin
  }

  // ===== stratified / IPW average treatment effect ====================

  /** [[graft.ext.Profile.ipwAte]] with the `q_x_abtest` hash arms as
    * treatment and event_type as the stratum: the stratification,
    * Horvitz–Thompson and Hájek estimators over per-stratum
    * propensities, positivity-violating strata excluded and counted.
    * The oracle mirrors every sig9'd weight term and decimal sum. */
  private val ipwQ: QFn = (s, d) => {
    // Cluster-width barrier BEFORE the hash arm: the md5-backed arm
    // expression is referenced by ipwAte's null/in-(0,1) filters, and
    // filter pushdown drags those (hash included) down to the parquet
    // scan — a single split at this fixture, so the whole per-row md5
    // cost serialized onto one core (q_x_ipw_ate ran every stage at 1
    // task, 4.5x FASTER on 8 cores than 32). spreadCut materializes the
    // three raw columns at cluster width and is a lineage barrier, so
    // the arm evaluates post-exchange on all cores; gated — a no-op
    // repartition-wise on any many-split input at scale.
    val ev = Checkpoints.spreadCut(
      Tables.events(s, d)
        .where(col("user_id").isNotNull)
        .select(col("user_id"), col("event_type"), col("value")))
    graft.ext.Profile.ipwAte(
      ev.withColumn("arm", pmod(graft.ext.Hashing.hash60(
        concat(lit("ab:"), col("user_id").cast("string"))), lit(2L))),
      "arm", "event_type", "value")
  }

  private val ipwSql = {
    val e = Q.sqlSig9("CAST(n1_s AS DOUBLE) / CAST(n_s AS DOUBLE)")
    val meanT = Q.sqlSig9("s1t / CAST(n1_s AS DOUBLE)")
    val meanC = Q.sqlSig9("s1c / CAST(n_s - n1_s AS DOUBLE)")
    val term = Q.sqlSig9(s"${Q.sqlSig9(s"($meanT) - ($meanC)")} * " +
      "CAST(n_s AS DOUBLE) / CAST(n_used AS DOUBLE)")
    s"""WITH b AS (
       |  SELECT CAST(${Q.sqlHash60(
            "'ab:' || CAST(user_id AS VARCHAR)")} % 2 AS BIGINT) AS t,
       |    CAST(event_type AS VARCHAR) AS s, CAST(value AS DOUBLE) AS y
       |  FROM events
       |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
       |    AND value IS NOT NULL),
       |st AS (
       |  SELECT s, CAST(count(*) AS BIGINT) AS n_s,
       |    CAST(sum(t) AS BIGINT) AS n1_s,
       |    ${Q.sqlDsum("CASE WHEN t = 1 THEN y END")} AS s1t,
       |    ${Q.sqlDsum("CASE WHEN t = 0 THEN y END")} AS s1c
       |  FROM b GROUP BY 1),
       |okt AS (
       |  SELECT s, n_s, n1_s, s1t, s1c,
       |    (n1_s > 0 AND n1_s < n_s) AS ok,
       |    CASE WHEN n1_s > 0 AND n1_s < n_s THEN $e END AS e
       |  FROM st),
       |tot AS (
       |  SELECT
       |    CAST(COALESCE(sum(CASE WHEN ok THEN n_s END), 0) AS BIGINT)
       |      AS n_used,
       |    CAST(COALESCE(sum(CASE WHEN NOT ok THEN n_s END), 0)
       |      AS BIGINT) AS n_excluded,
       |    CAST(COALESCE(sum(CASE WHEN ok THEN n1_s END), 0) AS BIGINT)
       |      AS n_treated
       |  FROM okt),
       |rw AS (
       |  SELECT
       |    ${Q.sqlDsum(s"CASE WHEN t = 1 THEN ${Q.sqlSig9("y / e")} " +
            "ELSE 0.0 END")} AS st_num,
       |    ${Q.sqlDsum(s"CASE WHEN t = 1 THEN ${Q.sqlSig9("1.0 / e")} " +
            "ELSE 0.0 END")} AS st_den,
       |    ${Q.sqlDsum(s"CASE WHEN t = 0 THEN ${Q.sqlSig9(
            "y / (1.0 - e)")} ELSE 0.0 END")} AS sc_num,
       |    ${Q.sqlDsum(s"CASE WHEN t = 0 THEN ${Q.sqlSig9(
            "1.0 / (1.0 - e)")} ELSE 0.0 END")} AS sc_den
       |  FROM b JOIN (SELECT s, e FROM okt WHERE ok) USING (s)),
       |sr AS (
       |  SELECT ${Q.sqlDsum("term")} AS ate_strat FROM (
       |    SELECT $term AS term FROM okt, tot WHERE ok))
       |SELECT n_used, n_excluded, n_treated,
       |  CASE WHEN n_used > 0 THEN ate_strat END AS ate_strat,
       |  CASE WHEN n_used > 0 THEN ${Q.sqlSig9(
            "(st_num - sc_num) / CAST(n_used AS DOUBLE)")} END
       |    AS ate_ipw,
       |  CASE WHEN st_den > 0 AND sc_den > 0 THEN ${Q.sqlSig9(
            s"${Q.sqlSig9("st_num / st_den")} - " +
              Q.sqlSig9("sc_num / sc_den"))} END AS ate_hajek
       |FROM tot, rw, sr""".stripMargin
  }

  // ===== Mantel-Haenszel pooled 2x2 ===================================

  /** [[graft.ext.Profile.mantelHaenszel]] on the `q_x_prop_test`
    * units stratified by activity depth (≥ 30 events = heavy): the
    * pooled common odds ratio and the CMH chi-square — "does the arm
    * still move conversion once engagement is held fixed". */
  private val mhQ: QFn = (s, d) =>
    graft.ext.Profile.mantelHaenszel(
      Tables.events(s, d)
        .where(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_ev"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("conv"))
        .select(
          when(col("n_ev") >= 30, lit("heavy")).otherwise(lit("light"))
            .as("stratum"),
          pmod(graft.ext.Hashing.hash60(
            concat(lit("ab:"), col("user_id").cast("string"))), lit(2L))
            .as("arm"),
          (col("conv") === 1L).as("converted")),
      "stratum", "arm", "converted")

  private val mhSql = {
    val r = Q.sqlSig9("CAST(CAST(a AS DECIMAL(38,0)) * d AS DOUBLE) " +
      "/ CAST(n AS DOUBLE)")
    val ss = Q.sqlSig9("CAST(CAST(b AS DECIMAL(38,0)) * c AS DOUBLE) " +
      "/ CAST(n AS DOUBLE)")
    val e = Q.sqlSig9("CAST(CAST(a + b AS DECIMAL(38,0)) * (a + c) " +
      "AS DOUBLE) / CAST(n AS DOUBLE)")
    val v = Q.sqlSig9("CAST(CAST(a + b AS DECIMAL(38,0)) * (c + d) * " +
      "(a + c) * (b + d) AS DOUBLE) / CAST(CAST(n AS DECIMAL(38,0)) " +
      "* n * (n - 1) AS DOUBLE)")
    val diff = Q.sqlSig9("CAST(a_total AS DOUBLE) - ee")
    s"""WITH pu AS (
       |  SELECT CASE WHEN count(*) >= 30 THEN 'heavy' ELSE 'light' END
       |      AS s,
       |    CAST(${Q.sqlHash60(
            "'ab:' || CAST(user_id AS VARCHAR)")} % 2 AS BIGINT) AS t,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      AS f
       |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
       |cl AS (
       |  SELECT s,
       |    CAST(sum(CASE WHEN t = 1 AND f = 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS a,
       |    CAST(sum(CASE WHEN t = 1 AND f = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS b,
       |    CAST(sum(CASE WHEN t = 0 AND f = 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS c,
       |    CAST(sum(CASE WHEN t = 0 AND f = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS d
       |  FROM pu GROUP BY 1),
       |cn AS (SELECT *, a + b + c + d AS n FROM cl),
       |ex AS (
       |  SELECT CAST(COALESCE(sum(CASE WHEN n < 2 THEN 1 ELSE 0 END),
       |    0) AS BIGINT) AS n_excluded FROM cn),
       |tm AS (
       |  SELECT a, $r AS r, $ss AS ss, $e AS e, $v AS v
       |  FROM cn WHERE n >= 2),
       |g AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_strata,
       |    CAST(COALESCE(sum(a), 0) AS BIGINT) AS a_total,
       |    ${Q.sqlDsum("r")} AS rr, ${Q.sqlDsum("ss")} AS sss,
       |    ${Q.sqlDsum("e")} AS ee, ${Q.sqlDsum("v")} AS vv
       |  FROM tm)
       |SELECT n_strata, ex.n_excluded, a_total,
       |  CASE WHEN n_strata > 0 AND sss > 0
       |    THEN ${Q.sqlSig9("rr / sss")} END AS or_mh,
       |  CASE WHEN n_strata > 0 AND vv > 0 THEN ${Q.sqlSig9(
            s"${Q.sqlSig9(s"($diff) * ($diff)")} / vv")} END
       |    AS cmh_chi2
       |FROM g, ex""".stripMargin
  }

  // ===== daily-count dispersion / burstiness ==========================

  /** [[graft.ext.TimeSeries.dispersion]] per event type: Fano factor
    * and Goh–Barabási burstiness over the full calendar span (zero
    * days count). The oracle rebuilds the same per-type day grid with
    * generate_series and mirrors the exact-integer variance
    * numerator. */
  private val dispersionQ: QFn = (s, d) =>
    graft.ext.TimeSeries.dispersion(Tables.events(s, d),
      Seq("event_type"), "ts")

  private val dispersionSql = {
    val mean = Q.sqlSig9(
      "CAST(n_events AS DOUBLE) / CAST(n_days AS DOUBLE)")
    val vr = Q.sqlSig9(
      "CAST(CAST(n_days AS DECIMAL(38,0)) * c2 - " +
        "CAST(n_events AS DECIMAL(38,0)) * n_events AS DOUBLE) / " +
        "CAST(CAST(n_days AS DECIMAL(38,0)) * (n_days - 1) AS DOUBLE)")
    val sd = Q.sqlSig9(s"sqrt($vr)")
    s"""WITH pd AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM events
       |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
       |  GROUP BY 1, 2),
       |sp AS (
       |  SELECT event_type, min(day) AS d0, max(day) AS d1
       |  FROM pd GROUP BY 1),
       |grid AS (
       |  SELECT sp.event_type,
       |    CAST(unnest(generate_series(sp.d0, sp.d1,
       |      INTERVAL 1 DAY)) AS DATE) AS day
       |  FROM sp),
       |gc AS (
       |  SELECT grid.event_type, COALESCE(pd.c, 0) AS c
       |  FROM grid LEFT JOIN pd USING (event_type, day)),
       |g AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
       |    CAST(sum(c) AS BIGINT) AS n_events,
       |    sum(CAST(c AS DECIMAL(38,0)) * c) AS c2
       |  FROM gc GROUP BY 1)
       |SELECT event_type, n_days, n_events,
       |  CASE WHEN n_days > 0 THEN $mean END AS mean_per_day,
       |  CASE WHEN n_days > 1 THEN $vr END AS var_per_day,
       |  CASE WHEN n_days > 1 AND n_events > 0
       |    THEN ${Q.sqlSig9(s"($vr) / ($mean)")} END AS fano,
       |  CASE WHEN n_days > 1 AND n_events > 0 THEN ${Q.sqlSig9(
            s"(($sd) - ($mean)) / (($sd) + ($mean))")} END
       |    AS burstiness
       |FROM g""".stripMargin
  }

  // ===== quantile treatment effects ===================================

  /** [[graft.ext.Profile.quantileTreatmentEffect]] on the `q_x_abtest`
    * hash arms: per-arm exact quantiles of the value metric at
    * p10/p25/p50/p75/p90 and their differences — where in the
    * distribution the "treatment" acts, not just the mean shift. */
  private val qteQ: QFn = (s, d) =>
    graft.ext.Profile.quantileTreatmentEffect(
      Tables.events(s, d).where(col("user_id").isNotNull)
        .select(pmod(graft.ext.Hashing.hash60(
          concat(lit("ab:"), col("user_id").cast("string"))), lit(2L))
          .as("arm"), col("value")),
      "arm", "value")

  private val qteSql =
    s"""WITH b AS (
       |  SELECT CAST(${Q.sqlHash60(
            "'ab:' || CAST(user_id AS VARCHAR)")} % 2 AS BIGINT) AS arm,
       |    CAST(value AS DOUBLE) AS v
       |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
       |vc AS (SELECT arm, v AS s, CAST(count(*) AS BIGINT) AS c
       |       FROM b GROUP BY 1, 2),
       |cum AS (
       |  SELECT arm, s, SUM(c) OVER (PARTITION BY arm ORDER BY s
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ci
       |  FROM vc),
       |nt AS (SELECT arm, CAST(sum(c) AS BIGINT) AS n FROM vc
       |       GROUP BY 1),
       |qs AS (SELECT CAST(unnest([100, 250, 500, 750, 900]) AS BIGINT)
       |       AS q_permille),
       |th AS (
       |  SELECT cum.arm, qs.q_permille, min(s) AS u
       |  FROM cum JOIN nt USING (arm) CROSS JOIN qs
       |  WHERE ci >= GREATEST(1, (nt.n * qs.q_permille) // 1000)
       |  GROUP BY 1, 2)
       |SELECT t.q_permille, t.u AS x_treat, c.u AS x_control,
       |  ${Q.sqlSig9("t.u - c.u")} AS qte
       |FROM th t JOIN th c ON t.q_permille = c.q_permille
       |WHERE t.arm = 1 AND c.arm = 0""".stripMargin

  // ===== SAX symbolization (motif census) =============================

  /** SAX words over each user's value series (w = 8 segments, 4-symbol
    * alphabet at the standard-normal quartile breakpoints), reduced to
    * the word distribution — [[graft.ext.TimeSeries.sax]]. The oracle
    * replays the z-normalization moments, floor(i*w/n) segmentation,
    * PAA means and breakpoint CASE, then string_aggs in segment
    * order. */
  private val saxW = 8

  private val saxQ: QFn = (s, d) =>
    graft.ext.TimeSeries.sax(Tables.events(s, d), Seq("user_id"), "ts",
      "value", tieBreak = "event_id", w = saxW)

  private val saxSql = {
    val mu = Q.sqlSig9("s1 / CAST(n AS DOUBLE)")
    val sd = Q.sqlSig9("sqrt((s2 - s1 * s1 / CAST(n AS DOUBLE)) / " +
      "CAST(n - 1 AS DOUBLE))")
    val paaMean = Q.sqlSig9("zs / CAST(c AS DOUBLE)")
    s"""WITH base AS (
       |  SELECT user_id AS u, ts, event_id, CAST(value AS DOUBLE) AS x
       |  FROM events WHERE value IS NOT NULL),
       |m AS (
       |  SELECT u, CAST(count(*) AS BIGINT) AS n,
       |    ${Q.sqlDsum("x")} AS s1, ${Q.sqlDsum("x * x")} AS s2
       |  FROM base GROUP BY 1),
       |mm AS (
       |  SELECT u, n, $mu AS mu,
       |    CASE WHEN n > 1 THEN $sd END AS sd
       |  FROM m),
       |keep AS (SELECT u, n, mu, sd FROM mm WHERE sd > 0),
       |idx AS (
       |  SELECT base.u, keep.n, keep.mu, keep.sd, base.x,
       |    row_number() OVER (PARTITION BY base.u
       |      ORDER BY base.ts, base.event_id) - 1 AS i
       |  FROM base JOIN keep ON base.u = keep.u),
       |z AS (
       |  SELECT u, CAST(floor(i * $saxW / n) AS BIGINT) AS seg,
       |    ${Q.sqlSig9("(x - mu) / sd")} AS zv
       |  FROM idx),
       |paa AS (
       |  SELECT u, seg,
       |    ${Q.sqlDsumStable("zv", 9)} AS zs,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM z GROUP BY 1, 2),
       |sym AS (
       |  SELECT u, seg,
       |    CASE WHEN ($paaMean) < CAST(-0.6745 AS DOUBLE) THEN 'a'
       |      WHEN ($paaMean) < CAST(0.0 AS DOUBLE) THEN 'b'
       |      WHEN ($paaMean) < CAST(0.6745 AS DOUBLE) THEN 'c'
       |      ELSE 'd' END AS s
       |  FROM paa),
       |words AS (
       |  SELECT u, string_agg(s, '' ORDER BY seg) AS word
       |  FROM sym GROUP BY 1)
       |SELECT word, CAST(count(*) AS BIGINT) AS n_series
       |FROM words GROUP BY 1""".stripMargin
  }

  // ===== Kleinberg burst detection ====================================

  private val burstS = 3.0
  private val burstGamma = 1.0

  /** [[graft.ext.TimeSeries.burstStates]] on the daily purchase share
    * (r = purchases, n = all events per day): each day labeled
    * base/burst by the minimum-cost Viterbi sequence under binomial
    * emission costs with an entry toll — volume-aware spike labeling a
    * fixed threshold gets wrong. The oracle replays the forward fold
    * AND the decision-tape backtrack as two DuckDB list_reduce passes
    * over packed DOUBLE[] state with identical sig9 points and tie
    * rules. */
  private val burstQ: QFn = (s, d) => {
    val bins = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(when(col("event_type") === "purchase", 1L)
        .otherwise(0L)).cast("long").as("r"),
        count(lit(1)).cast("long").as("n"))
    TimeSeries.burstStates(bins, "day", "r", "n", burstS, burstGamma)
      .select(date_format(col("day"), "yyyy-MM-dd").as("day_s"),
        col("r"), col("n"), col("state"))
  }

  private val burstSql = {
    val p0 = "LEAST(GREATEST(CAST(rt AS DOUBLE) / CAST(nt AS DOUBLE), " +
      "1.0e-12), 0.999999)"
    val p1 = s"LEAST($burstS * $p0, 0.999999)"
    val lp0 = Q.sqlSig9(s"ln($p0)")
    val l10 = Q.sqlSig9(s"ln(1.0 - $p0)")
    val lp1 = Q.sqlSig9(s"ln($p1)")
    val l11 = Q.sqlSig9(s"ln(1.0 - $p1)")
    val tau = Q.sqlSig9(s"$burstGamma * ln(CAST(t AS DOUBLE))")
    def cost(lp: String, l1: String) = Q.sqlSig9(
      s"-(CAST(r AS DOUBLE) * ($lp) + CAST(n - r AS DOUBLE) * ($l1))")
    s"""WITH bins AS (
       |  SELECT CAST(ts AS DATE) AS day,
       |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
       |      END) AS BIGINT) AS r,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(r) AS BIGINT) AS rt,
       |    CAST(sum(n) AS BIGINT) AS nt,
       |    CAST(count(*) AS BIGINT) AS t
       |  FROM bins),
       |sc AS (
       |  SELECT t, $tau AS tau FROM tot),
       |cs AS (
       |  SELECT b.day, b.r, b.n,
       |    ${cost(lp0, l10)} AS c0,
       |    ${cost(lp1, l11)} AS c1
       |  FROM bins b CROSS JOIN tot),
       |packedc AS (
       |  SELECT list([c0, c1] ORDER BY day) AS costs FROM cs),
       |fwd AS (
       |  SELECT sc.t, sc.tau,
       |    list_reduce(
       |      list_prepend(CAST([0.0, 1.0e15] AS DOUBLE[]), costs),
       |      (acc, e) -> list_concat(list_concat([
       |        ${Q.sqlSig9("CASE WHEN acc[1] <= acc[2] THEN acc[1] " +
              "ELSE acc[2] END + e[1]")},
       |        ${Q.sqlSig9("CASE WHEN acc[2] <= acc[1] + tau " +
              "THEN acc[2] ELSE acc[1] + tau END + e[2]")}],
       |        acc[3:]),
       |        [CASE WHEN acc[1] <= acc[2] THEN 0.0 ELSE 1.0 END,
       |         CASE WHEN acc[2] <= acc[1] + tau THEN 1.0 ELSE 0.0
       |           END])) AS st
       |  FROM packedc CROSS JOIN sc),
       |bk AS (
       |  SELECT list_reduce(
       |      list_prepend(
       |        [CASE WHEN st[1] <= st[2] THEN 0.0 ELSE 1.0 END],
       |        list_transform(range(0, t - 1),
       |          i -> [CAST(t - i AS DOUBLE)])),
       |      (acc, e) -> list_prepend(
       |        CASE WHEN acc[1] = 0.0
       |          THEN st[CAST(3 + 2 * (e[1] - 1) AS INT)]
       |          ELSE st[CAST(4 + 2 * (e[1] - 1) AS INT)] END,
       |        acc)) AS states
       |  FROM fwd),
       |ob AS (
       |  SELECT day, r, n, row_number() OVER (ORDER BY day) AS rn
       |  FROM bins)
       |SELECT strftime(ob.day, '%Y-%m-%d') AS day_s, ob.r, ob.n,
       |  CAST(bk.states[CAST(ob.rn AS INT)] AS BIGINT) AS state
       |FROM ob CROSS JOIN bk""".stripMargin
  }

  // ===== additive Holt-Winters ========================================

  private val hwAlpha = 0.3
  private val hwBeta = 0.1
  private val hwGamma = 0.2
  private val hwPeriod = 7

  /** [[graft.ext.TimeSeries.holtWinters]] on per-nation daily order
    * revenue (position-indexed over each nation's active days):
    * level+trend+weekly-seasonal forecasts for the next 7 steps. The
    * oracle replays the whole recursion as one DuckDB list_reduce over
    * a packed DOUBLE[] state (the interleave packed-fold idiom) with
    * the identical sig9 points and Scala-shared (1-const) literals. */
  private val hwQ: QFn = (s, d) => {
    val series = Tables.orders(s, d)
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("o_orderdate"))
      .agg(Q.dsum(col("o_totalprice")).as("x"))
    TimeSeries.holtWinters(series, Seq("n_name"), "o_orderdate", "x",
      hwAlpha, hwBeta, hwGamma, hwPeriod)
  }

  private val hwSql = {
    val m = hwPeriod
    val (omA, omB, omG) = (1.0 - hwAlpha, 1.0 - hwBeta, 1.0 - hwGamma)
    val lNew = Q.sqlSig9(
      s"$hwAlpha * (e[1] - acc[3]) + $omA * (acc[1] + acc[2])")
    // bNew/sNew reference the ALREADY-sig9'd lNew — repeat its full
    // expression (sig9 is deterministic, double evaluation is safe)
    val bNew = Q.sqlSig9(s"$hwBeta * (($lNew) - acc[1]) + $omB * acc[2]")
    val sNew = Q.sqlSig9(s"$hwGamma * (e[1] - ($lNew)) + $omG * acc[3]")
    s"""WITH series AS (
       |  SELECT n.n_name, o.o_orderdate AS d,
       |    ${Q.sqlDsum("o.o_totalprice")} AS x
       |  FROM orders o
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation n ON c.c_nationkey = n.n_nationkey
       |  GROUP BY 1, 2),
       |packed AS (
       |  SELECT n_name, CAST(count(*) AS BIGINT) AS n,
       |    list(x ORDER BY d) AS xs
       |  FROM series GROUP BY 1
       |  HAVING count(*) >= ${2 * m}),
       |ini AS (
       |  SELECT n_name, n, xs,
       |    ${Q.sqlSig9(s"${Q.sqlFold(s"xs[1:$m]")} / $m.0")} AS l0,
       |    ${Q.sqlSig9(s"${Q.sqlFold(s"list_transform(range(1, ${m + 1}), " +
            s"i -> xs[i + $m] - xs[i])")} / ${m * m}.0")} AS b0
       |  FROM packed),
       |st0 AS (
       |  SELECT n_name, n, xs,
       |    list_concat([l0, b0],
       |      list_transform(xs[1:$m],
       |        x -> ${Q.sqlSig9("x - l0")})) AS s0
       |  FROM ini),
       |hw AS (
       |  SELECT n_name, n,
       |    list_reduce(
       |      list_prepend(s0,
       |        list_transform(xs[${m + 1}:], x -> [x])),
       |      (acc, e) -> list_concat(
       |        list_concat([$lNew, $bNew], acc[4:]), [$sNew])) AS st
       |  FROM st0),
       |hs AS (SELECT unnest(range(1, ${m + 1})) AS h)
       |SELECT hw.n_name, hw.n, CAST(hs.h AS BIGINT) AS h,
       |  st[1] AS level, st[2] AS trend,
       |  ${Q.sqlSig9("st[1] + CAST(hs.h AS DOUBLE) * st[2] + " +
            "st[CAST(hs.h + 2 AS INT)]")} AS forecast
       |FROM hw CROSS JOIN hs""".stripMargin
  }

  val queries: Map[String, (QFn, String)] = Map(
    "q_x_holt_winters" -> (hwQ, hwSql),
    "q_x_burst" -> (burstQ, burstSql),
    "q_x_sax" -> (saxQ, saxSql),
    "q_x_qte" -> (qteQ, qteSql),
    "q_x_dispersion" -> (dispersionQ, dispersionSql),
    "q_x_mantel_haenszel" -> (mhQ, mhSql),
    "q_x_ipw_ate" -> (ipwQ, ipwSql),
    "q_x_seasonal_strength" -> (seasonalStrengthQ, seasonalStrengthSql),
    "q_x_srm" -> (srmQ, srmSql),
    "q_x_pipeline8" -> (pipeline8Q, pipeline8Sql),
    "q_x_cuped" -> (cupedQ, cupedSql),
    "q_x_prop_test" -> (propTestQ, propTestSql),
    "q_x_trend" -> (trendQ, trendSql),
    "q_x_mann_kendall" -> (mkQ, mkSql),
    "q_x_theil_sen" -> (theilSenQ, theilSenSql),
    "q_x_xcorr" -> (xcorrQ, xcorrSql),
    "q_x_changepoint" -> (changepointQ, changepointSql),
    "q_x_acf" -> (acfQ, acfSql),
    "q_x_ar2" -> (ar2Q, ar2Sql),
    "q_x_pipeline7" -> (pipeline7Q, pipeline7Sql),
    "q_x_ewma" -> (ewmaQ, ewmaSql),
    "q_x_des" -> (desQ, desSql),
    "q_x_quantile_norm" -> (qnormQ, qnormSql),
    "q_x_chisq" -> (chisqQ, chisqSql),
    "q_x_mwu" -> (mwuQ, mwuSql),
    "q_x_effect_size" -> (effectQ, effectSql),
    "q_x_risk_ratio" -> (riskQ, riskSql),
    "q_x_ks" -> (ksQ, ksSql),
    "q_x_cvm" -> (cvmQ, cvmSql),
    "q_x_backtest" -> (backtestQ, backtestSql),
    "q_x_bootstrap" -> (bootstrapQ, bootstrapSql),
    "q_x_permtest" -> (permTestQ, permTestSql),
    "q_x_jackknife" -> (jackknifeQ, jackknifeSql),
    "q_x_mde" -> (mdeQ, mdeSql),
    "q_x_trimmed_mean" -> (trimmedQ, trimmedSql),
    "q_x_resample" -> (resampleQ, resampleSql),
    "q_x_interp" -> (interpQ, interpSql),
    "q_x_seasonal" -> (seasonalQ, seasonalSql),
    "q_x_cusum" -> (cusumQ, cusumSql),
    "q_x_robust_z" -> (robustZQ, robustZSql),
    "q_x_abtest" -> (abtestQ, abtestSql),
    "q_x_did" -> (didQ, didSql),
    "q_x_winsorize" -> (winsorQ, winsorSql),
    "q_x_pct_rank" -> (pctRankQ, pctRankSql),
    "q_x_pipeline6" -> (pipeline6Q, pipeline6Sql),
    "q_x_gaps" -> (gapsQ, gapsSql),
    "q_x_agg_merge" -> (aggMergeQ, aggMergeSql))
}
