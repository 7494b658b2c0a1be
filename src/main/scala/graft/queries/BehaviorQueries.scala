package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.Behavior

/** User-behavior analytics over the `events` fixture under the DuckDB
  * oracle: ordered conversion funnels and daily cohort retention
  * ([[graft.ext.Behavior]]). All outputs are integers, strings, or
  * single integer-ratio divisions — bit-identical across engines with
  * no sig9 normalization needed.
  */
object BehaviorQueries {
  type QFn = (SparkSession, String) => DataFrame

  private val fmt = "yyyy-MM-dd HH:mm:ss"

  // ===== ordered conversion funnel ====================================

  /** view -> click -> purchase within 24h of the previous step,
    * first-touch attribution; one row per user per reached step. */
  private val funnel: QFn = (s, d) => {
    Behavior.conversionFunnel(Tables.events(s, d), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"),
        maxGap = Some(expr("INTERVAL 24 HOURS")))
      .select(col("user").as("user_id"),
        col("step_idx").cast("long").as("step_idx"), col("step"),
        date_format(col("ts"), fmt).as("ts_s"))
  }

  private val funnelSql =
    """WITH s0 AS (
      |  SELECT user_id AS u, min(ts) AS t FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |s1 AS (
      |  SELECT e.user_id AS u, min(e.ts) AS t FROM events e
      |  JOIN s0 ON e.user_id = s0.u
      |  WHERE e.event_type = 'click' AND e.ts > s0.t
      |    AND e.ts <= s0.t + INTERVAL 24 HOUR GROUP BY 1),
      |s2 AS (
      |  SELECT e.user_id AS u, min(e.ts) AS t FROM events e
      |  JOIN s1 ON e.user_id = s1.u
      |  WHERE e.event_type = 'purchase' AND e.ts > s1.t
      |    AND e.ts <= s1.t + INTERVAL 24 HOUR GROUP BY 1)
      |SELECT u AS user_id, CAST(0 AS BIGINT) AS step_idx, 'view' AS step,
      |       strftime(t, '%Y-%m-%d %H:%M:%S') AS ts_s FROM s0
      |UNION ALL
      |SELECT u, CAST(1 AS BIGINT), 'click',
      |       strftime(t, '%Y-%m-%d %H:%M:%S') FROM s1
      |UNION ALL
      |SELECT u, CAST(2 AS BIGINT), 'purchase',
      |       strftime(t, '%Y-%m-%d %H:%M:%S') FROM s2""".stripMargin

  // ===== daily cohort retention =======================================

  private val retentionQ: QFn = (s, d) => {
    Behavior.retention(Tables.events(s, d), "user_id", "ts")
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day_s"),
        col("day_offset"), col("n_active"), col("cohort_size"),
        col("retention"))
  }

  private val retentionSql =
    """WITH c AS (
      |  SELECT user_id AS u, min(CAST(ts AS DATE)) AS cd FROM events
      |  GROUP BY 1),
      |sz AS (
      |  SELECT cd, CAST(count(*) AS BIGINT) AS cohort_size FROM c
      |  GROUP BY 1),
      |a AS (
      |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day FROM events),
      |r AS (
      |  SELECT c.cd, date_diff('day', c.cd, a.day) AS day_offset,
      |         CAST(count(DISTINCT a.u) AS BIGINT) AS n_active
      |  FROM a JOIN c ON a.u = c.u GROUP BY 1, 2)
      |SELECT strftime(r.cd, '%Y-%m-%d') AS cohort_day_s, r.day_offset,
      |  r.n_active, sz.cohort_size,
      |  CAST(r.n_active AS DOUBLE) / sz.cohort_size AS retention
      |FROM r JOIN sz ON r.cd = sz.cd""".stripMargin

  // ===== first-order transition matrix ================================

  private val transitionsQ: QFn = (s, d) => {
    Behavior.transitions(Tables.events(s, d), "user_id", "ts",
      "event_type", tieBreak = Seq("event_id"))
  }

  private val transitionsSql =
    """WITH p AS (
      |  SELECT event_type AS from_type,
      |         lead(event_type) OVER
      |           (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |c AS (
      |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |t AS (
      |  SELECT from_type, CAST(sum(n) AS BIGINT) AS n_out FROM c
      |  GROUP BY 1)
      |SELECT c.from_type, c.to_type, c.n,
      |  CAST(c.n AS DOUBLE) / t.n_out AS frac
      |FROM c JOIN t USING (from_type)""".stripMargin

  /** [[graft.ext.Behavior.coxPh]] on the KM duration grid: grouped-time
    * Cox PH of time-to-first-purchase on LOG activity
    * (x = ln(1 + events) — the O(1..8) covariate scale the operator's
    * exp/decimal contract wants, with real cross-user variance at
    * every SF), 8 covariate bins, 3 Newton iterations — "e-fold more
    * logged activity multiplies the conversion hazard by e^beta". One
    * row per Newton step (beta, score, info), the full trajectory
    * adjudicated. */
  private val coxQ: QFn = (s, d) => {
    val pu = Tables.events(s, d).groupBy(col("user_id"))
      .agg(min(col("ts")).as("t0"),
        min(when(col("event_type") === "purchase", col("ts"))).as("tp"),
        max(col("ts")).as("tl"),
        count(lit(1)).as("nev"))
    val units = pu.select(
      when(col("tp").isNotNull,
        datediff(to_date(col("tp")), to_date(col("t0"))))
        .otherwise(datediff(to_date(col("tl")), to_date(col("t0"))))
        .cast("long").as("dur"),
      col("tp").isNotNull.cast("long").as("obs"),
      Q.sig9(log(lit(1.0) + col("nev").cast("double"))).as("x"))
    graft.ext.Behavior.coxPh(units, "dur", "obs", "x", xBins = 8,
      iters = 3)
  }

  private val coxSql = {
    val iters = 3
    val perIter = (1 to iters).map { k =>
      val prev = if (k == 1) "it0" else s"it${k - 1}"
      s"""ew$k AS (
         |  SELECT c.t, c.cnt, c.xv,
         |    ${Q.sqlSig9("exp(b.beta * c.xv)")} AS ew
         |  FROM cells c CROSS JOIN $prev b),
         |rs$k AS (
         |  SELECT et.t, et.dd, et.sx,
         |    ${Q.sqlDsumStable("CAST(e.cnt AS DOUBLE) * e.ew", 6)} AS s0,
         |    ${Q.sqlDsumStable("CAST(e.cnt AS DOUBLE) * e.xv * e.ew", 6)}
         |      AS s1,
         |    ${Q.sqlDsumStable(
              "CAST(e.cnt AS DOUBLE) * e.xv * e.xv * e.ew", 6)} AS s2
         |  FROM et JOIN ew$k e ON e.t >= et.t
         |  GROUP BY 1, 2, 3),
         |ui$k AS (
         |  SELECT ${Q.sqlDsumStable(
              s"sx - CAST(dd AS DOUBLE) * ${Q.sqlSig9("s1 / s0")}", 6)}
         |      AS score,
         |    ${Q.sqlDsumStable(
              s"CAST(dd AS DOUBLE) * ${Q.sqlSig9(
                s"${Q.sqlSig9("s2 / s0")} - " +
                  s"${Q.sqlSig9("s1 / s0")} * ${Q.sqlSig9("s1 / s0")}")}",
              6)} AS info
         |  FROM rs$k),
         |it$k AS MATERIALIZED (
         |  SELECT CASE WHEN ui$k.info <> 0.0 THEN
         |      ${Q.sqlSig9(s"$prev.beta + ${Q.sqlSig9(
                s"ui$k.score / ui$k.info")}")}
         |    ELSE $prev.beta END AS beta, ui$k.score, ui$k.info
         |  FROM ui$k CROSS JOIN $prev)""".stripMargin
    }.mkString(",\n")
    val rows = (1 to iters).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS iter, beta, score, info
         |FROM it$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH pu AS (
       |  SELECT user_id, min(ts) AS t0,
       |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
       |    max(ts) AS tl, CAST(count(*) AS BIGINT) AS nev
       |  FROM events GROUP BY 1),
       |un AS (
       |  SELECT CAST(CASE WHEN tp IS NOT NULL
       |      THEN date_diff('day', CAST(t0 AS DATE), CAST(tp AS DATE))
       |      ELSE date_diff('day', CAST(t0 AS DATE), CAST(tl AS DATE))
       |      END AS BIGINT) AS t,
       |    CAST(CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
       |      AS e,
       |    ${Q.sqlSig9("ln(1.0 + CAST(nev AS DOUBLE))")} AS x
       |  FROM pu),
       |mm AS (SELECT min(x) AS lo, max(x) AS hi FROM un),
       |bn AS (
       |  SELECT t, e,
       |    CASE WHEN mm.hi = mm.lo THEN 0 ELSE LEAST(7, GREATEST(0,
       |      CAST(floor((un.x - mm.lo) / ((mm.hi - mm.lo) / 8))
       |        AS BIGINT))) END AS xb,
       |    mm.lo AS lo, mm.hi AS hi
       |  FROM un CROSS JOIN mm),
       |cells AS MATERIALIZED (
       |  SELECT t, xb,
       |    CASE WHEN hi = lo THEN ${Q.sqlSig9("lo")}
       |      ELSE ${Q.sqlSig9(
            "lo + (CAST(xb AS DOUBLE) + 0.5) * ((hi - lo) / 8)")} END
       |      AS xv,
       |    CAST(sum(e) AS BIGINT) AS d,
       |    CAST(sum(1 - e) AS BIGINT) AS c,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM bn GROUP BY t, xb, lo, hi),
       |et AS MATERIALIZED (
       |  SELECT t, CAST(sum(d) AS BIGINT) AS dd,
       |    ${Q.sqlDsumStable("CAST(d AS DOUBLE) * xv", 6)} AS sx
       |  FROM cells GROUP BY 1 HAVING sum(d) > 0),
       |it0 AS (SELECT CAST(0.0 AS DOUBLE) AS beta),
       |$perIter
       |$rows""".stripMargin
  }

  /** [[graft.ext.Behavior.seqPatterns]] on the event log: frequent
    * consecutive event-type trigrams with user-level support >= 5
    * users — the order-3 journey miner beside `q_x_transitions`'s
    * first-order matrix. */
  private val seqMinUsers = 5L

  private val seqPatternsQ: QFn = (s, d) =>
    Behavior.seqPatterns(Tables.events(s, d), "user_id", "ts",
      "event_type", minUsers = seqMinUsers, tieBreak = Seq("event_id"))

  private val seqPatternsSql =
    s"""WITH p AS (
       |  SELECT user_id, event_type AS t1,
       |    lead(event_type, 1) OVER
       |      (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
       |    lead(event_type, 2) OVER
       |      (PARTITION BY user_id ORDER BY ts, event_id) AS t3
       |  FROM events),
       |pu AS (
       |  SELECT user_id, t1, t2, t3, CAST(count(*) AS BIGINT) AS c
       |  FROM p WHERE t2 IS NOT NULL AND t3 IS NOT NULL
       |  GROUP BY 1, 2, 3, 4),
       |pat AS (
       |  SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n_users,
       |    CAST(sum(c) AS BIGINT) AS n_occur
       |  FROM pu GROUP BY 1, 2, 3
       |  HAVING count(*) >= $seqMinUsers),
       |ut AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS u
       |  FROM events)
       |SELECT t1, t2, t3, n_users, n_occur,
       |  ${Q.sqlSig9("CAST(n_users AS DOUBLE) / CAST(u AS DOUBLE)")}
       |    AS support
       |FROM pat CROSS JOIN ut""".stripMargin

  // ===== exponentially time-decayed engagement ========================

  private val decayHalfLifeSec = 604800.0 // 7 days
  private val decayAt = "2024-02-01 00:00:00"

  private val decayQ: QFn = (s, d) => {
    Behavior.decayedSum(Tables.events(s, d), "user_id", "ts", "value",
      decayHalfLifeSec, to_timestamp(lit(decayAt)))
  }

  private val decaySql = {
    // the decay constant is computed ONCE here and embedded at full
    // round-trip precision so both engines scale ages by the identical
    // IEEE double (the bigram-LM lambda convention)
    val lam = math.log(2.0) / decayHalfLifeSec
    val dt = s"(CAST(epoch_us(TIMESTAMP '$decayAt') - epoch_us(ts) " +
      "AS DOUBLE) / 1000000.0)"
    val term = Q.sqlSig9(s"value * exp(-$lam * $dt)")
    s"""SELECT user_id AS user, ${Q.sqlDsum(term)} AS decayed_value,
       |  CAST(count(*) AS BIGINT) AS n_events
       |FROM events GROUP BY user_id""".stripMargin
  }

  // ===== multi-touch linear attribution ===============================

  /** Every purchase's value split equally over the user's clicks in
    * the 24h before it; per click the attributed conversion count and
    * credited value ([[graft.ext.TemporalJoins.multiTouch]] — the
    * bucket-blocked pair join). The oracle is the naive user-keyed
    * time-filtered join. */
  private val multiTouchQ: QFn = (s, d) => {
    val ev = Tables.events(s, d)
    graft.ext.TemporalJoins.multiTouch(
        ev.filter(col("event_type") === "purchase"),
        "event_id", "ts", "value",
        ev.filter(col("event_type") === "click"), "event_id", "ts",
        Seq("user_id"), windowSeconds = 86400L)
      .select(col("user_id"), col("touch_id").as("click_id"),
        col("n_conversions"), col("credited"))
  }

  private val multiTouchSql =
    s"""WITH p AS (
       |  SELECT event_id AS pid, user_id AS u, ts AS pts, value
       |  FROM events WHERE event_type = 'purchase'),
       |c AS (
       |  SELECT event_id AS cid, user_id AS u, ts AS cts
       |  FROM events WHERE event_type = 'click'),
       |pr AS (
       |  SELECT p.pid, p.value, c.cid, c.u
       |  FROM p JOIN c ON c.u = p.u
       |    AND c.cts < p.pts AND c.cts >= p.pts - INTERVAL 86400 SECOND),
       |nt AS (SELECT pid, CAST(count(*) AS BIGINT) AS n FROM pr GROUP BY 1)
       |SELECT pr.u AS user_id, pr.cid AS click_id,
       |  CAST(count(*) AS BIGINT) AS n_conversions,
       |  ${Q.sqlDsum(Q.sqlSig9("pr.value / nt.n"))} AS credited
       |FROM pr JOIN nt USING (pid) GROUP BY 1, 2""".stripMargin

  // ===== cohort LTV curves ============================================

  /** Per (cohort day, day offset): active users, period revenue and
    * cumulative revenue — revenue accumulates in exact decimal through
    * the per-cohort running window and leaves through the stable
    * decimal round ([[graft.ext.Behavior.ltv]]). */
  private val ltvQ: QFn = (s, d) =>
    graft.ext.Behavior.ltv(Tables.events(s, d), "user_id", "ts", "value")
      .select(date_format(col("cohort_day"), "yyyy-MM-dd")
          .as("cohort_day_s"),
        col("day_offset"), col("n_active"), col("rev"), col("cum_rev"))

  private val ltvSql =
    s"""WITH c AS (
       |  SELECT user_id AS u, min(CAST(ts AS DATE)) AS cd FROM events
       |  GROUP BY 1),
       |dl AS (
       |  SELECT c.cd AS cohort_day,
       |    CAST(date_diff('day', c.cd, CAST(e.ts AS DATE)) AS BIGINT)
       |      AS day_offset,
       |    CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active,
       |    SUM(CAST(e.value AS DECIMAL(38,15))) AS rev_dec
       |  FROM events e JOIN c ON e.user_id = c.u GROUP BY 1, 2),
       |wd AS (
       |  SELECT cohort_day, day_offset, n_active, rev_dec,
       |    SUM(rev_dec) OVER (PARTITION BY cohort_day ORDER BY day_offset
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_dec
       |  FROM dl)
       |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day_s,
       |  day_offset, n_active,
       |  ${Q.sqlDecOut("rev_dec", 6)} AS rev,
       |  ${Q.sqlDecOut("cum_dec", 6)} AS cum_rev
       |FROM wd""".stripMargin

  // ===== Kaplan-Meier time-to-conversion ==============================

  /** The oracle twin of the survival grid, shared by the KM,
    * Nelson–Aalen and pipeline-12 oracles: per-user time to first
    * purchase (censored at last activity), the per-duration event and
    * censoring counts, and the at-risk count n_risk per duration. */
  private val gridCtes =
    """WITH pu AS (
       |  SELECT user_id, min(ts) AS t0,
       |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
       |    max(ts) AS tl
       |  FROM events GROUP BY 1),
       |du AS (
       |  SELECT CAST(CASE WHEN tp IS NOT NULL
       |      THEN date_diff('day', CAST(t0 AS DATE), CAST(tp AS DATE))
       |      ELSE date_diff('day', CAST(t0 AS DATE), CAST(tl AS DATE))
       |      END AS BIGINT) AS dur,
       |    tp IS NOT NULL AS obs
       |  FROM pu),
       |bd AS (
       |  SELECT dur,
       |    CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
       |    CAST(sum(CASE WHEN obs THEN 0 ELSE 1 END) AS BIGINT) AS c
       |  FROM du GROUP BY 1),
       |nt AS (SELECT CAST(sum(d + c) AS BIGINT) AS n FROM bd),
       |rk AS (
       |  SELECT dur, d, c,
       |    nt.n - COALESCE(SUM(d + c) OVER (ORDER BY dur
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS n_risk
       |  FROM bd, nt),""".stripMargin

  /** Survival curve of days-to-first-purchase per user, censoring
    * non-converters at their last activity — the estimator a plain
    * conversion rate gets wrong. Factors are exact integer ratios;
    * the log-product runs in decimal; survival pins to 0.0 if a
    * factor hits zero exactly. */
  private val kmQ: QFn = (s, d) =>
    graft.ext.Behavior.kaplanMeier(Tables.events(s, d),
      "user_id", "ts", "event_type", targetType = "purchase")

  private val kmSql =
    s"""$gridCtes
       |tm AS (
       |  SELECT dur, d, c, n_risk,
       |    CASE WHEN d > 0 AND n_risk > d THEN
       |      ${Q.sqlSig9("ln(CAST(n_risk - d AS DOUBLE) / " +
           "CAST(n_risk AS DOUBLE))")}
       |    ELSE 0.0 END AS term,
       |    CASE WHEN d > 0 AND n_risk = d THEN 1 ELSE 0 END AS hz
       |  FROM rk),
       |cm AS (
       |  SELECT dur, d, c, n_risk,
       |    SUM(CAST(term AS DECIMAL(38,15))) OVER (ORDER BY dur
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cl,
       |    MAX(hz) OVER (ORDER BY dur
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS z
       |  FROM tm)
       |SELECT dur AS dur_days, CAST(n_risk AS BIGINT) AS n_risk,
       |  d AS n_events, c AS n_censored,
       |  CASE WHEN z = 1 THEN 0.0
       |    ELSE ${Q.sqlSig9(s"exp(${Q.sqlDecOut("cl", 12)})")} END
       |    AS survival
       |FROM cm""".stripMargin

  // ===== restricted mean survival time ================================

  /** [[graft.ext.Behavior.rmst]] at τ=30 over the `q_x_kaplan_meier`
    * curve: average conversion-free days in the first month. The
    * oracle replays the FULL KM chain as a nested-WITH subquery, then
    * the identical step integral (LAG twin of the packed previous-step
    * lookup, same exact-delta × sig9'd-survival products, same
    * dsumStable). */
  private val rmstTau = 30L

  private val rmstQ: QFn = (s, d) =>
    graft.ext.Behavior.rmst(
      graft.ext.Behavior.kaplanMeier(Tables.events(s, d),
        "user_id", "ts", "event_type", targetType = "purchase"),
      rmstTau)

  private val rmstSql =
    s"""WITH km AS (
       |$kmSql),
       |st AS (SELECT dur_days AS t, survival AS s FROM km),
       |o AS (
       |  SELECT t, s,
       |    LAG(t, 1, CAST(0 AS BIGINT)) OVER (ORDER BY t) AS pt,
       |    LAG(s, 1, CAST(1.0 AS DOUBLE)) OVER (ORDER BY t) AS ps
       |  FROM st),
       |c AS (
       |  SELECT ps * CAST(LEAST(t, $rmstTau) - LEAST(pt, $rmstTau)
       |    AS DOUBLE) AS c
       |  FROM o
       |  UNION ALL
       |  SELECT s * CAST($rmstTau - LEAST(t, $rmstTau) AS DOUBLE)
       |  FROM st WHERE t = (SELECT max(t) FROM st))
       |SELECT CAST($rmstTau AS BIGINT) AS tau_days,
       |  CAST((SELECT count(*) FROM st) AS BIGINT) AS n_steps,
       |  COALESCE(${Q.sqlDsumStable("c", 13)},
       |    CAST($rmstTau AS DOUBLE)) AS rmst
       |FROM c""".stripMargin

  // ===== Nelson–Aalen cumulative hazard ===============================

  /** [[graft.ext.Behavior.nelsonAalen]] over the same grid as
    * `q_x_kaplan_meier`: additive hazard H = Σ d/n, variance Σ d/n²,
    * Fleming–Harrington survival exp(−H). The oracle mirrors the
    * sig9'd per-duration terms, the exact decimal running sums and
    * the decOut(·,12) surfacing term for term. */
  private val nelsonAalenQ: QFn = (s, d) =>
    graft.ext.Behavior.nelsonAalen(Tables.events(s, d),
      "user_id", "ts", "event_type", targetType = "purchase")

  private val nelsonAalenSql = {
    val h = Q.sqlSig9("CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)")
    val v = Q.sqlSig9("CAST(d AS DOUBLE) / " +
      "(CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE))")
    s"""$gridCtes
       |tm AS (
       |  SELECT dur, d, c, n_risk,
       |    CASE WHEN d > 0 THEN $h ELSE 0.0 END AS h,
       |    CASE WHEN d > 0 THEN $v ELSE 0.0 END AS v
       |  FROM rk),
       |cm AS (
       |  SELECT dur, d, c, n_risk, h,
       |    SUM(CAST(h AS DECIMAL(38,15))) OVER (ORDER BY dur
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ch,
       |    SUM(CAST(v AS DECIMAL(38,15))) OVER (ORDER BY dur
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv
       |  FROM tm)
       |SELECT dur AS dur_days, CAST(n_risk AS BIGINT) AS n_risk,
       |  d AS n_events, c AS n_censored, h AS hazard,
       |  ${Q.sqlDecOut("ch", 12)} AS cum_hazard,
       |  ${Q.sqlDecOut("cv", 12)} AS cum_var,
       |  ${Q.sqlSig9(s"exp(-(${Q.sqlDecOut("ch", 12)}))")} AS fh_survival
       |FROM cm""".stripMargin
  }

  // ===== pipeline 12: one-plan survival suite =========================

  /** Flagship 12 — [[graft.ext.Behavior.survivalTable]]: the KM curve
    * and the Nelson–Aalen hazard over ONE duration-grid scan; every
    * column equals the standalone operator (`SurvivalSuiteSpec`). The
    * oracle merges both CTE chains on shared grid CTEs. */
  private val pipeline12Q: QFn = (s, d) =>
    graft.ext.Behavior.survivalTable(Tables.events(s, d),
      "user_id", "ts", "event_type", targetType = "purchase")

  private val pipeline12Sql = {
    val h = Q.sqlSig9("CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)")
    val v = Q.sqlSig9("CAST(d AS DOUBLE) / " +
      "(CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE))")
    s"""$gridCtes
       |tm AS (
       |  SELECT dur, d, c, n_risk,
       |    CASE WHEN d > 0 AND n_risk > d THEN
       |      ${Q.sqlSig9("ln(CAST(n_risk - d AS DOUBLE) / " +
           "CAST(n_risk AS DOUBLE))")}
       |    ELSE 0.0 END AS term,
       |    CASE WHEN d > 0 AND n_risk = d THEN 1 ELSE 0 END AS hz,
       |    CASE WHEN d > 0 THEN $h ELSE 0.0 END AS h,
       |    CASE WHEN d > 0 THEN $v ELSE 0.0 END AS v
       |  FROM rk),
       |cm AS (
       |  SELECT dur, d, c, n_risk, h,
       |    SUM(CAST(term AS DECIMAL(38,15))) OVER w AS cl,
       |    MAX(hz) OVER w AS z,
       |    SUM(CAST(h AS DECIMAL(38,15))) OVER w AS ch,
       |    SUM(CAST(v AS DECIMAL(38,15))) OVER w AS cv
       |  FROM tm
       |  WINDOW w AS (ORDER BY dur
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT dur AS dur_days, CAST(n_risk AS BIGINT) AS n_risk,
       |  d AS n_events, c AS n_censored,
       |  CASE WHEN z = 1 THEN 0.0
       |    ELSE ${Q.sqlSig9(s"exp(${Q.sqlDecOut("cl", 12)})")} END
       |    AS survival,
       |  h AS hazard,
       |  ${Q.sqlDecOut("ch", 12)} AS cum_hazard,
       |  ${Q.sqlDecOut("cv", 12)} AS cum_var,
       |  ${Q.sqlSig9(s"exp(-(${Q.sqlDecOut("ch", 12)}))")} AS fh_survival
       |FROM cm""".stripMargin
  }

  // ===== RFM segmentation =============================================

  /** Quintile RFM codes over purchase events — tie-stable rank bins
    * (never NTILE), ascending codes, exact counts, sig9'd monetary. */
  private val rfmQ: QFn = (s, d) =>
    graft.ext.Behavior.rfm(Tables.events(s, d), "user_id", "ts",
        "event_type", targetType = "purchase", valueCol = "value",
        bins = 5)
      .withColumnRenamed("user", "user_id")

  private val rfmSql = {
    def bin(src: String, vc: String, out: String) =
      s"""d_$out AS (
         |  SELECT $vc AS s, CAST(count(*) AS BIGINT) AS c
         |  FROM $src GROUP BY 1),
         |w_$out AS (
         |  SELECT s, COALESCE(SUM(c) OVER (ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
         |  FROM d_$out),
         |b_$out AS (
         |  SELECT s, CAST(LEAST(4, (nb * 5) // t.n) AS BIGINT) AS $out
         |  FROM w_$out, t)""".stripMargin
    s"""WITH p AS (
       |  SELECT user_id, ts, value FROM events
       |  WHERE event_type = 'purchase' AND user_id IS NOT NULL),
       |per AS (
       |  SELECT user_id, max(CAST(ts AS DATE)) AS last_d,
       |    CAST(count(*) AS BIGINT) AS frequency,
       |    ${Q.sqlDsum("value")} AS monetary
       |  FROM p GROUP BY 1),
       |mx AS (SELECT max(CAST(ts AS DATE)) AS maxd FROM p),
       |base AS (
       |  SELECT user_id,
       |    CAST(date_diff('day', last_d, maxd) AS BIGINT)
       |      AS recency_days,
       |    frequency, monetary
       |  FROM per, mx),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
       |${bin("base", "recency_days", "r_bin")},
       |${bin("base", "frequency", "f_bin")},
       |${bin("base", "monetary", "m_bin")}
       |SELECT base.user_id, base.recency_days, base.frequency,
       |  base.monetary, b_r_bin.r_bin, b_f_bin.f_bin, b_m_bin.m_bin,
       |  CAST(b_r_bin.r_bin * 100 + b_f_bin.f_bin * 10 + b_m_bin.m_bin
       |    AS BIGINT) AS rfm_code
       |FROM base
       |JOIN b_r_bin ON CAST(base.recency_days AS DOUBLE) = b_r_bin.s
       |JOIN b_f_bin ON CAST(base.frequency AS DOUBLE) = b_f_bin.s
       |JOIN b_m_bin ON base.monetary = b_m_bin.s""".stripMargin
  }

  // ===== funnel time-to-convert percentiles ===========================

  /** Discrete p50/p90/max step latencies over the adjudicated funnel
    * ([[graft.ext.Behavior.timeToConvert]]): exact epoch-microsecond
    * deltas, order statistics k = ceil(q·n) — no float contract. The
    * oracle rebuilds the same funnel CTEs and reads the order stats
    * off a naive per-step prefix window. */
  private val timeToConvertQ: QFn = (s, d) =>
    Behavior.timeToConvert(Tables.events(s, d), "user_id", "ts",
      "event_type", Seq("view", "click", "purchase"),
      maxGap = Some(expr("INTERVAL 24 HOURS")))

  private val timeToConvertSql =
    """WITH s0 AS (
      |  SELECT user_id AS u, min(ts) AS t FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |s1 AS (
      |  SELECT e.user_id AS u, min(e.ts) AS t FROM events e
      |  JOIN s0 ON e.user_id = s0.u
      |  WHERE e.event_type = 'click' AND e.ts > s0.t
      |    AND e.ts <= s0.t + INTERVAL 24 HOUR GROUP BY 1),
      |s2 AS (
      |  SELECT e.user_id AS u, min(e.ts) AS t FROM events e
      |  JOIN s1 ON e.user_id = s1.u
      |  WHERE e.event_type = 'purchase' AND e.ts > s1.t
      |    AND e.ts <= s1.t + INTERVAL 24 HOUR GROUP BY 1),
      |d AS (
      |  SELECT CAST(1 AS BIGINT) AS step_idx, 'click' AS step,
      |    epoch_us(s1.t) - epoch_us(s0.t) AS delta
      |  FROM s1 JOIN s0 USING (u)
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), 'purchase',
      |    epoch_us(s2.t) - epoch_us(s0.t)
      |  FROM s2 JOIN s0 USING (u)),
      |vd AS (
      |  SELECT step_idx, step, delta AS s, CAST(count(*) AS BIGINT) AS c
      |  FROM d GROUP BY 1, 2, 3),
      |cum AS (
      |  SELECT step_idx, step, s, c,
      |    COALESCE(sum(c) OVER (PARTITION BY step_idx ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
      |  FROM vd),
      |tot AS (
      |  SELECT step_idx, CAST(max(nb + c) AS BIGINT) AS n
      |  FROM cum GROUP BY 1)
      |SELECT cum.step_idx, cum.step,
      |  CAST(min(n) AS BIGINT) AS n_users,
      |  CAST(min(CASE WHEN nb + c >= (n + 1) // 2 THEN s END)
      |    AS BIGINT) AS p50_us,
      |  CAST(min(CASE WHEN nb + c >= (9 * n + 9) // 10 THEN s END)
      |    AS BIGINT) AS p90_us,
      |  CAST(max(s) AS BIGINT) AS max_us
      |FROM cum JOIN tot ON cum.step_idx = tot.step_idx
      |GROUP BY 1, 2""".stripMargin

  // ===== event-path n-gram mining =====================================

  /** [[graft.ext.Behavior.pathCounts]] — user event trigrams with
    * min-count 5; the oracle rebuilds the per-user lead windows and
    * the exact counts, support as the one sig9'd division. */
  private val pathsQ: QFn = (s, d) =>
    Behavior.pathCounts(Tables.events(s, d), "user_id", "ts",
      "event_type", n = 3, minCount = 5, tieBreak = Seq("event_id"))

  private val pathsSql =
    s"""WITH e AS (
       |  SELECT user_id, event_type, ts, event_id FROM events
       |  WHERE event_type IS NOT NULL),
       |g AS (
       |  SELECT user_id,
       |    event_type || '>' || lead(event_type, 1) OVER w
       |      || '>' || lead(event_type, 2) OVER w AS path,
       |    lead(event_type, 2) OVER w IS NOT NULL AS is_full
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |f AS (SELECT user_id, path FROM g WHERE is_full),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM f),
       |c AS (
       |  SELECT path, CAST(count(*) AS BIGINT) AS n_occurrences,
       |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       |  FROM f GROUP BY 1 HAVING count(*) >= 5)
       |SELECT path, n_occurrences, n_users,
       |  ${Q.sqlSig9("CAST(n_occurrences AS DOUBLE) / " +
            "CAST(tt AS DOUBLE)")} AS support
       |FROM c CROSS JOIN t""".stripMargin

  // ===== two-group log-rank test ======================================

  /** [[graft.ext.Behavior.logRank]] on time-to-first-purchase between
    * the "ab:" hash arms — the survival member of the A/B family. The
    * oracle rebuilds the KM duration construction per arm, the
    * exclusive-prefix at-risk sets, every sig9'd E/V term in exact
    * DECIMAL(38,0) products and both duration-ordered folds. */
  private val logRankQ: QFn = (s, d) => {
    val grp = pmod(graft.ext.Hashing.hash60(
      concat(lit("ab:"), col("user_id").cast("string"))), lit(2L))
    Behavior.logRank(
      Tables.events(s, d).withColumn("grp", grp),
      "user_id", "ts", "event_type", "purchase", "grp")
  }

  private val logRankSql = {
    val na = "(ta - ra)"; val nb = "(tb - rb)"
    val n = s"($na + $nb)"; val dd = "(da + db)"
    val eTerm = Q.sqlSig9(
      s"CAST(CAST($dd AS DECIMAL(38,0)) * $na AS DOUBLE) / " +
        s"CAST($n AS DOUBLE)")
    val vTerm = Q.sqlSig9(
      s"CAST(CAST($dd AS DECIMAL(38,0)) * $na * $nb * ($n - $dd) " +
        s"AS DOUBLE) / CAST(CAST($n AS DECIMAL(38,0)) * $n * ($n - 1) " +
        s"AS DOUBLE)")
    s"""WITH pu AS (
       |  SELECT user_id, min(ts) AS t0,
       |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
       |    max(ts) AS tl
       |  FROM events GROUP BY 1),
       |du AS (
       |  SELECT CAST(CASE WHEN tp IS NOT NULL
       |      THEN date_diff('day', CAST(t0 AS DATE), CAST(tp AS DATE))
       |      ELSE date_diff('day', CAST(t0 AS DATE), CAST(tl AS DATE))
       |      END AS BIGINT) AS dur,
       |    tp IS NOT NULL AS obs,
       |    CAST(${Q.sqlHash60("'ab:' || CAST(user_id AS VARCHAR)")} % 2
       |      AS BIGINT) AS g
       |  FROM pu),
       |ar AS (SELECT CAST(min(g) AS BIGINT) AS ga,
       |  CAST(max(g) AS BIGINT) AS gb FROM du),
       |bd AS (
       |  SELECT dur,
       |    CAST(sum(CASE WHEN obs AND g = (SELECT ga FROM ar)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS da,
       |    CAST(sum(CASE WHEN obs AND g <> (SELECT ga FROM ar)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS db,
       |    CAST(sum(CASE WHEN NOT obs AND g = (SELECT ga FROM ar)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |    CAST(sum(CASE WHEN NOT obs AND g <> (SELECT ga FROM ar)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS cb
       |  FROM du GROUP BY 1),
       |tot AS (SELECT CAST(sum(da + ca) AS BIGINT) AS ta,
       |  CAST(sum(db + cb) AS BIGINT) AS tb FROM bd),
       |cw AS (
       |  SELECT dur, da, db,
       |    CAST(COALESCE(sum(da + ca) OVER (ORDER BY dur
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS ra,
       |    CAST(COALESCE(sum(db + cb) OVER (ORDER BY dur
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS rb
       |  FROM bd),
       |tm AS (
       |  SELECT dur, da,
       |    CASE WHEN $dd > 0 AND $n > 0 THEN $eTerm
       |      ELSE CAST(0.0 AS DOUBLE) END AS e,
       |    CASE WHEN $dd > 0 AND $n > 1 THEN $vTerm
       |      ELSE CAST(0.0 AS DOUBLE) END AS v
       |  FROM cw CROSS JOIN tot),
       |f AS (
       |  SELECT CAST(COALESCE(sum(da), 0) AS BIGINT) AS o_a,
       |    ${Q.sqlFold("list(e ORDER BY dur)")} AS e_a,
       |    ${Q.sqlFold("list(v ORDER BY dur)")} AS v
       |  FROM tm)
       |SELECT (SELECT ga FROM ar) AS group_a,
       |  (SELECT gb FROM ar) AS group_b,
       |  ta AS n_users_a, tb AS n_users_b, o_a,
       |  ${Q.sqlSig9("e_a")} AS e_a, ${Q.sqlSig9("v")} AS v,
       |  CASE WHEN v > 0 THEN ${Q.sqlSig9(
            "(CAST(o_a AS DOUBLE) - e_a) / sqrt(v)")} END AS z
       |FROM f CROSS JOIN tot""".stripMargin
  }

  // ===== Markov removal-effect attribution ============================

  /** [[graft.ext.Behavior.markovAttribution]] over purchase journeys:
    * the declared channel domain is the fixture's four non-purchase
    * event types; CONV = purchase. The oracle re-derives the journey
    * truncation, the sig9'd transition matrix and ALL value-iteration
    * rounds of the base chain plus one removal chain PER channel as a
    * generated MATERIALIZED CTE lattice — the full attribution
    * trajectory is adjudicated, not just the final shares. */
  private val markovChannels = Seq("click", "error", "signup", "view")
  private val markovIters = 12

  private val markovQ: QFn = (s, d) =>
    Behavior.markovAttribution(Tables.events(s, d), "user_id", "ts",
      "event_type", convType = "purchase", channels = markovChannels,
      iters = markovIters, tieBreak = Seq("event_id"))

  private val markovSql = {
    val variants = ("mb", None) +:
      markovChannels.sorted.zipWithIndex.map { case (c, i) =>
        (s"m$i", Some(c))
      }
    val caseExpr = "tp.p * (CASE WHEN tp.dst = 'CONV' THEN " +
      "CAST(1.0 AS DOUBLE) WHEN tp.dst = 'NULL' THEN " +
      "CAST(0.0 AS DOUBLE) ELSE COALESCE(v.val, CAST(0.0 AS DOUBLE)) " +
      "END)"
    val chains = variants.map { case (nm, excl) =>
      val filter = excl
        .map(c => s"tp.src <> '$c' AND tp.dst <> '$c'")
        .getOrElse("TRUE")
      (1 to markovIters).map { r =>
        val vp = if (r == 1) "v0" else s"$nm${r - 1}"
        s"""$nm$r AS MATERIALIZED (
           |  SELECT tp.src AS st,
           |    ${Q.sqlFold(
                s"list(${Q.sqlSig9(caseExpr)} ORDER BY tp.dst)")} AS val
           |  FROM tp LEFT JOIN $vp v ON v.st = tp.dst
           |  WHERE $filter
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
    }.mkString(",\n")
    val resRows = markovChannels.sorted.zipWithIndex.map { case (c, i) =>
      s"""  SELECT '$c' AS channel,
         |    (SELECT val FROM mb$markovIters WHERE st = 'START') AS pb,
         |    (SELECT val FROM m$i$markovIters WHERE st = 'START') AS pw"""
        .stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH o AS (
       |  SELECT user_id, event_type,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts,
       |      event_id) AS rn
       |  FROM events),
       |cc AS (
       |  SELECT user_id,
       |    min(CASE WHEN event_type = 'purchase' THEN rn END)
       |      AS conv_rn,
       |    max(rn) AS max_rn
       |  FROM o GROUP BY 1),
       |f AS MATERIALIZED (
       |  SELECT o.user_id,
       |    CASE WHEN o.event_type = 'purchase' THEN 'CONV'
       |      ELSE o.event_type END AS state,
       |    o.rn, cc.conv_rn, cc.max_rn
       |  FROM o JOIN cc USING (user_id)
       |  WHERE o.rn <= COALESCE(cc.conv_rn, cc.max_rn)),
       |p1 AS (
       |  SELECT COALESCE(lag(state) OVER (PARTITION BY user_id
       |    ORDER BY rn), 'START') AS src, state AS dst
       |  FROM f),
       |p2 AS (
       |  SELECT state AS src, 'NULL' AS dst FROM f
       |  WHERE conv_rn IS NULL AND rn = max_rn),
       |tc AS (
       |  SELECT src, dst, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT src, dst FROM p1
       |        UNION ALL SELECT src, dst FROM p2) u
       |  GROUP BY 1, 2),
       |tt AS (SELECT src, CAST(sum(n) AS BIGINT) AS n_out FROM tc
       |  GROUP BY 1),
       |tp AS MATERIALIZED (
       |  SELECT tc.src, tc.dst, ${Q.sqlSig9(
            "CAST(tc.n AS DOUBLE) / CAST(tt.n_out AS DOUBLE)")} AS p
       |  FROM tc JOIN tt USING (src)),
       |v0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS st, CAST(0.0 AS DOUBLE) AS val
       |  FROM tp),
       |$chains,
       |res AS MATERIALIZED (
       |$resRows),
       |rr AS (
       |  SELECT channel, COALESCE(pb, CAST(0.0 AS DOUBLE)) AS pb,
       |    COALESCE(pw, CAST(0.0 AS DOUBLE)) AS pw
       |  FROM res),
       |re AS MATERIALIZED (
       |  SELECT channel, pb, pw,
       |    CASE WHEN pb > 0 THEN ${Q.sqlSig9("(pb - pw) / pb")} END
       |      AS re
       |  FROM rr),
       |sm AS (
       |  SELECT ${Q.sqlFold(
            "list(COALESCE(re, CAST(0.0 AS DOUBLE)) ORDER BY channel)")}
       |    AS s
       |  FROM re)
       |SELECT channel, ${Q.sqlSig9("pb")} AS p_conv,
       |  ${Q.sqlSig9("pw")} AS p_without, re AS removal_effect,
       |  CASE WHEN re IS NOT NULL AND s > 0
       |    THEN ${Q.sqlSig9("re / s")} END AS share
       |FROM re CROSS JOIN sm""".stripMargin
  }

  // ===== exact Shapley channel attribution ============================

  private val shapleyChannels = Seq("view", "click", "signup", "error")

  /** [[graft.ext.Behavior.shapleyAttribution]] over the four
    * non-conversion event types as channels: empirical coalition
    * values on the 2⁴ touched-set lattice, exact-factorial Shapley
    * weights embedded as identical IEEE literals, terms folded in
    * ascending mask order (the markov list-fold convention). */
  private val shapleyQ: QFn = (s, d) =>
    graft.ext.Behavior.shapleyAttribution(Tables.events(s, d),
      "user_id", "event_type", "purchase", shapleyChannels)

  private val shapleySql = {
    val chs = shapleyChannels.distinct.sorted
    val c = chs.size
    def fact(k: Int): Double = (1 to k).foldLeft(1.0)(_ * _)
    val maskExpr = chs.zipWithIndex.map { case (ch, i) =>
      s"max(CASE WHEN event_type = '$ch' THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    val chValues = chs.zipWithIndex.map { case (ch, i) =>
      s"('$ch', CAST(${1L << i} AS BIGINT))"
    }.mkString(", ")
    val pop = (0 until c).map(b => s"((v1.mask >> $b) & 1)")
      .mkString(" + ")
    val wCase = (1 to c).map(s =>
      s"WHEN $s THEN CAST(${fact(s - 1) * fact(c - s) / fact(c)} " +
        "AS DOUBLE)").mkString(" ")
    val vExpr = Q.sqlSig9("CAST(nc AS DOUBLE) / CAST(n AS DOUBLE)")
    val term = Q.sqlSig9(s"(CASE ($pop) $wCase END) * (v1.v - v0.v)")
    s"""WITH pu AS (
       |  SELECT user_id, CAST($maskExpr AS BIGINT) AS mask,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      AS conv
       |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
       |st AS (
       |  SELECT mask, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(conv) AS BIGINT) AS nc
       |  FROM pu GROUP BY 1),
       |mk AS (SELECT CAST(unnest(range(0, ${1L << c})) AS BIGINT)
       |       AS mask),
       |vv AS (
       |  SELECT mk.mask,
       |    CASE WHEN st.n IS NULL OR st.n = 0 THEN CAST(0.0 AS DOUBLE)
       |      ELSE $vExpr END AS v
       |  FROM mk LEFT JOIN st USING (mask)),
       |ch(channel, bit) AS (SELECT * FROM (VALUES $chValues)),
       |tm AS (
       |  SELECT ch.channel, v1.mask, $term AS t
       |  FROM ch
       |  JOIN vv v1 ON (v1.mask & ch.bit) <> 0
       |  JOIN vv v0 ON v0.mask = v1.mask - ch.bit),
       |ph AS (
       |  SELECT channel, ${Q.sqlFold("list(t ORDER BY mask)")} AS s
       |  FROM tm GROUP BY 1),
       |tc AS (
       |  SELECT ch.channel, CAST(sum(st.n) AS BIGINT) AS n_users,
       |    CAST(sum(st.nc) AS BIGINT) AS n_conv
       |  FROM ch JOIN st ON (st.mask & ch.bit) <> 0 GROUP BY 1)
       |SELECT ph.channel, COALESCE(tc.n_users, 0) AS n_users,
       |  COALESCE(tc.n_conv, 0) AS n_conv,
       |  ${Q.sqlSig9("s")} AS shapley
       |FROM ph LEFT JOIN tc USING (channel)""".stripMargin
  }

  // ===== competing-risks cumulative incidence =========================

  /** [[graft.ext.Behavior.competingRisks]] on the KM grid with
    * purchase vs error as the two competing first events: combined-
    * event KM survival, S(t−), and both Aalen–Johansen incidence
    * curves. The oracle mirrors the exclusive/inclusive log prefixes,
    * the sig9'd S(t−)·h terms and the decimal incidence sums term for
    * term. */
  private val crQ: QFn = (s, d) =>
    graft.ext.Behavior.competingRisks(Tables.events(s, d),
      "user_id", "ts", "event_type", typeA = "purchase", typeB = "error")

  private val crSql = {
    val lf = Q.sqlSig9("ln(CAST(n_risk - da - db AS DOUBLE) / " +
      "CAST(n_risk AS DOUBLE))")
    val ha = Q.sqlSig9("CAST(da AS DOUBLE) / CAST(n_risk AS DOUBLE)")
    val hb = Q.sqlSig9("CAST(db AS DOUBLE) / CAST(n_risk AS DOUBLE)")
    val sMinus = s"CASE WHEN zb = 1 THEN 0.0 ELSE ${Q.sqlSig9(
      s"exp(${Q.sqlDecOut("cle", 12)})")} END"
    val surv = s"CASE WHEN zi = 1 THEN 0.0 ELSE ${Q.sqlSig9(
      s"exp(${Q.sqlDecOut("cli", 12)})")} END"
    s"""WITH pu AS (
       |  SELECT user_id, min(ts) AS t0,
       |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS ta,
       |    min(CASE WHEN event_type = 'error' THEN ts END) AS tb,
       |    max(ts) AS tl
       |  FROM events GROUP BY 1),
       |du AS (
       |  SELECT CAST(CASE
       |      WHEN ta IS NULL AND tb IS NULL
       |        THEN date_diff('day', CAST(t0 AS DATE), CAST(tl AS DATE))
       |      WHEN tb IS NULL OR (ta IS NOT NULL AND ta <= tb)
       |        THEN date_diff('day', CAST(t0 AS DATE), CAST(ta AS DATE))
       |      ELSE date_diff('day', CAST(t0 AS DATE), CAST(tb AS DATE))
       |      END AS BIGINT) AS dur,
       |    CASE WHEN ta IS NULL AND tb IS NULL THEN 'c'
       |      WHEN tb IS NULL OR (ta IS NOT NULL AND ta <= tb) THEN 'a'
       |      ELSE 'b' END AS kind
       |  FROM pu),
       |bd AS (
       |  SELECT dur,
       |    CAST(sum(CASE WHEN kind = 'a' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS da,
       |    CAST(sum(CASE WHEN kind = 'b' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS db,
       |    CAST(sum(CASE WHEN kind = 'c' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS c
       |  FROM du GROUP BY 1),
       |nt AS (SELECT CAST(sum(da + db + c) AS BIGINT) AS n FROM bd),
       |rk AS (
       |  SELECT dur, da, db, c,
       |    nt.n - COALESCE(SUM(da + db + c) OVER (ORDER BY dur
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS n_risk
       |  FROM bd, nt),
       |tm AS (
       |  SELECT dur, da, db, c, n_risk,
       |    CASE WHEN da + db > 0 AND n_risk > da + db THEN $lf
       |      ELSE 0.0 END AS lf,
       |    CASE WHEN da + db > 0 AND n_risk = da + db THEN 1 ELSE 0
       |      END AS hz,
       |    CASE WHEN da > 0 THEN $ha ELSE 0.0 END AS ha,
       |    CASE WHEN db > 0 THEN $hb ELSE 0.0 END AS hb
       |  FROM rk),
       |cm AS (
       |  SELECT dur, da, db, c, n_risk, ha, hb,
       |    COALESCE(SUM(CAST(lf AS DECIMAL(38,15))) OVER (ORDER BY dur
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      CAST(0 AS DECIMAL(38,15))) AS cle,
       |    SUM(CAST(lf AS DECIMAL(38,15))) OVER (ORDER BY dur
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cli,
       |    COALESCE(MAX(hz) OVER (ORDER BY dur
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS zb,
       |    MAX(hz) OVER (ORDER BY dur
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zi
       |  FROM tm),
       |sm AS (
       |  SELECT dur, da, db, c, n_risk,
       |    $sMinus AS s_minus, $surv AS survival,
       |    ${Q.sqlSig9(s"($sMinus) * ha")} AS term_a,
       |    ${Q.sqlSig9(s"($sMinus) * hb")} AS term_b
       |  FROM cm),
       |fin AS (
       |  SELECT dur, da, db, c, n_risk, s_minus, survival,
       |    SUM(CAST(term_a AS DECIMAL(38,15))) OVER (ORDER BY dur
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
       |    SUM(CAST(term_b AS DECIMAL(38,15))) OVER (ORDER BY dur
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
       |  FROM sm)
       |SELECT dur AS dur_days, CAST(n_risk AS BIGINT) AS n_risk,
       |  da AS n_a, db AS n_b, c AS n_censored, s_minus, survival,
       |  ${Q.sqlDecOut("ca", 12)} AS cif_a,
       |  ${Q.sqlDecOut("cb", 12)} AS cif_b
       |FROM fin""".stripMargin
  }

  // ===== growth accounting ============================================

  /** [[graft.ext.Behavior.growthAccounting]]: every active day's DAU
    * split into new / retained / resurrected, churn attributed to the
    * day users went missing, and the quick ratio. Exact BIGINT
    * composition; the ratio is the only float, one sig9 point. */
  private val growthQ: QFn = (s, d) =>
    graft.ext.Behavior.growthAccounting(Tables.events(s, d),
      "user_id", "ts")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day_s"),
        col("dau"), col("n_new"), col("n_retained"),
        col("n_resurrected"), col("n_churned"), col("quick_ratio"))

  private val growthSql =
    s"""WITH a AS (
       |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
       |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       |f AS (SELECT u, min(day) AS fd FROM a GROUP BY 1),
       |bd AS (
       |  SELECT a.day,
       |    CAST(count(*) AS BIGINT) AS dau,
       |    CAST(sum(CASE WHEN a.day = f.fd THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_new,
       |    CAST(sum(CASE WHEN a.day <> f.fd AND p.u IS NOT NULL
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
       |    CAST(sum(CASE WHEN a.day <> f.fd AND p.u IS NULL
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
       |  FROM a JOIN f ON f.u = a.u
       |  LEFT JOIN a p ON p.u = a.u AND p.day = a.day - 1
       |  GROUP BY 1),
       |ch AS (
       |  SELECT n.day, CAST(count(*) AS BIGINT) AS n_churned
       |  FROM (SELECT u, day + 1 AS day FROM a) n
       |  LEFT JOIN a x ON x.u = n.u AND x.day = n.day
       |  WHERE x.u IS NULL GROUP BY 1)
       |SELECT strftime(COALESCE(bd.day, ch.day), '%Y-%m-%d') AS day_s,
       |  COALESCE(dau, 0) AS dau, COALESCE(n_new, 0) AS n_new,
       |  COALESCE(n_retained, 0) AS n_retained,
       |  COALESCE(n_resurrected, 0) AS n_resurrected,
       |  COALESCE(ch.n_churned, 0) AS n_churned,
       |  CASE WHEN COALESCE(ch.n_churned, 0) > 0 THEN ${Q.sqlSig9(
            "CAST(COALESCE(n_new, 0) + COALESCE(n_resurrected, 0) " +
            "AS DOUBLE) / CAST(ch.n_churned AS DOUBLE)")} END
       |    AS quick_ratio
       |FROM bd FULL OUTER JOIN ch ON bd.day = ch.day""".stripMargin

  // ===== monthly stickiness ===========================================

  /** [[graft.ext.Behavior.stickiness]]: per-month DAU/MAU — the
    * engagement-depth scalar beside growth accounting's composition.
    * avg_dau and the ratio are each one sig9 point over exact
    * BIGINTs. */
  private val stickinessQ: QFn = (s, d) =>
    graft.ext.Behavior.stickiness(Tables.events(s, d), "user_id", "ts")

  private val stickinessSql = {
    val avg = Q.sqlSig9(
      "CAST(sd AS DOUBLE) / CAST(n_days AS DOUBLE)")
    s"""WITH a AS (
       |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
       |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       |am AS (SELECT strftime(day, '%Y-%m') AS month, u, day FROM a),
       |dd AS (
       |  SELECT month, CAST(sum(dau) AS BIGINT) AS sd,
       |    CAST(count(*) AS BIGINT) AS n_days
       |  FROM (SELECT month, day, CAST(count(*) AS BIGINT) AS dau
       |        FROM am GROUP BY 1, 2) GROUP BY 1),
       |m AS (
       |  SELECT month, CAST(count(DISTINCT u) AS BIGINT) AS mau
       |  FROM am GROUP BY 1)
       |SELECT m.month, mau, n_days, $avg AS avg_dau,
       |  CASE WHEN mau > 0
       |    THEN ${Q.sqlSig9(s"($avg) / CAST(mau AS DOUBLE)")} END
       |    AS stickiness
       |FROM m JOIN dd USING (month)""".stripMargin
  }

  // ===== item-item collaborative filtering ============================

  /** "Bought with": top-5 co-purchase neighbors per part by
    * co-occurrence cosine over order baskets
    * ([[graft.ext.Recommend.itemItemCf]]) — support >= 3, baskets
    * capped at 20 items (the 100 TB degenerate-basket guard; at this
    * fixture no basket exceeds 13, so the cap is exercised as a
    * no-op, which is exactly the contract). Ranking ties break on the
    * neighbor id, so the row_number is deterministic on both engines. */
  private val itemCfMinSupport = 3
  private val itemCfTopK = 5
  private val itemCfMaxBasket = 20

  /** Reads the co-purchase family's shared basket and pair frames
    * ([[LinkQueries.coPurchase]]): the distinct (order, part) rows
    * explode out of the basket-array frame and the a<b pair rows come
    * from the pair frame, so item_cf never re-pays the basket-squared
    * explode (guide §2.4). Bit-identical to deriving both from
    * lineitem (same distinct/same pair multiset); the oracle pins it. */
  private val itemCfQ: QFn = (s, d) => {
    val LinkQueries.CoPurchase(ord, pairs) = LinkQueries.coPurchase(s, d)
    graft.ext.Recommend.itemItemCf(
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", "l_partkey",
      minSupport = itemCfMinSupport, topK = itemCfTopK,
      maxBasketSize = itemCfMaxBasket,
      prebuilt = Some((
        ord.select(col("l_orderkey"),
          explode(col("ps")).as("l_partkey")),
        pairs.select(col("o").as("l_orderkey"), col("a"), col("b")))))
  }

  private val itemCfSql = {
    val cos = Q.sqlSig9("CAST(nab AS DOUBLE) / " +
      "sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))")
    s"""WITH b AS (
       |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
       |  FROM lineitem
       |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
       |itn AS (
       |  SELECT it, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1
       |  HAVING count(*) >= $itemCfMinSupport),
       |kept AS (SELECT b.bk, b.it, itn.n FROM b JOIN itn USING (it)),
       |ok AS (
       |  SELECT bk FROM kept GROUP BY 1
       |  HAVING count(*) <= $itemCfMaxBasket),
       |kb AS (SELECT kept.* FROM kept JOIN ok USING (bk)),
       |p AS (
       |  SELECT x.it AS ia, y.it AS ib, x.n AS na, y.n AS nb,
       |    CAST(count(*) AS BIGINT) AS nab
       |  FROM kb x JOIN kb y ON x.bk = y.bk AND x.it < y.it
       |  GROUP BY 1, 2, 3, 4),
       |sym AS (
       |  SELECT ia AS item, ib AS neighbor, nab, $cos AS cosine FROM p
       |  UNION ALL
       |  SELECT ib AS item, ia AS neighbor, nab, $cos AS cosine FROM p),
       |r AS (
       |  SELECT item, neighbor, nab, cosine,
       |    row_number() OVER (PARTITION BY item
       |      ORDER BY cosine DESC, neighbor ASC) AS rnk
       |  FROM sym)
       |SELECT item, CAST(rnk AS BIGINT) AS rnk, neighbor,
       |  nab AS n_both, cosine
       |FROM r WHERE rnk <= $itemCfTopK""".stripMargin
  }

  // ===== rank-2 ALS matrix factorization ==============================

  private val alsIters = 2

  /** [[graft.ext.Recommend.als2]] on the customer × part implicit-
    * count matrix (how many lineitems of part i customer u ordered):
    * the latent-factor recommender next to q_x_item_cf. The oracle
    * replays the ENTIRE alternating trajectory — both half-steps of
    * both sweeps, each a join + five decimal moments + the closed-form
    * 2×2 solve — as generated CTEs (the GD-trajectory convention). */
  private val alsQ: QFn = (s, d) =>
    graft.ext.Recommend.als2(
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("u"), col("l_partkey").as("i"))
        .agg(count(lit(1)).cast("double").as("r")),
      "u", "i", "r", lambda = 0.1, iters = alsIters)

  private val alsSql = {
    val L = "CAST(0.1 AS DOUBLE)"
    def solve(m: String, out: String) =
      s"""${out}_p AS (
         |  SELECT id, n, a12, b1, b2,
         |    a11 + $L AS a11l, a22 + $L AS a22l,
         |    ${Q.sqlSig9(s"(a11 + $L) * (a22 + $L) - a12 * a12")}
         |      AS det
         |  FROM $m),
         |$out AS (
         |  SELECT id, n,
         |    CASE WHEN det <> 0.0 THEN ${Q.sqlSig9(
              "(a22l * b1 - a12 * b2) / det")} END AS f1,
         |    CASE WHEN det <> 0.0 THEN ${Q.sqlSig9(
              "(a11l * b2 - a12 * b1) / det")} END AS f2
         |  FROM ${out}_p)""".stripMargin
    def half(i: Int, factors: String, key: String, other: String) =
      s"""m$i AS (
         |  SELECT t.$key AS id, CAST(count(*) AS BIGINT) AS n,
         |    ${Q.sqlDsum("f.f1 * f.f1")} AS a11,
         |    ${Q.sqlDsum("f.f1 * f.f2")} AS a12,
         |    ${Q.sqlDsum("f.f2 * f.f2")} AS a22,
         |    ${Q.sqlDsum("t.r * f.f1")} AS b1,
         |    ${Q.sqlDsum("t.r * f.f2")} AS b2
         |  FROM ratings t JOIN $factors f ON t.$other = f.id
         |  GROUP BY 1)""".stripMargin
    val steps = (1 to alsIters).map { sw =>
      val ui = 2 * sw - 1; val ii = 2 * sw
      val prevItems = if (sw == 1) "it0" else s"it${sw - 1}"
      s"""${half(ui, prevItems, "u", "i")},
         |${solve(s"m$ui", s"us$sw")},
         |${half(ii, s"us$sw", "i", "u")},
         |${solve(s"m$ii", s"it$sw")}""".stripMargin
    }.mkString(",\n")
    s"""WITH ratings AS (
       |  SELECT o_custkey AS u, l_partkey AS i,
       |    CAST(count(*) AS DOUBLE) AS r
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2),
       |it0 AS (
       |  SELECT DISTINCT i AS id, CAST(1 AS BIGINT) AS n,
       |    CAST(1.0 AS DOUBLE) AS f1,
       |    CAST(${Q.sqlHash60("CAST(i AS VARCHAR)")} % 1000 AS DOUBLE)
       |      / 1000.0 - 0.5 AS f2
       |  FROM ratings),
       |$steps
       |SELECT id AS item, f1, f2, n AS n_users
       |FROM it$alsIters""".stripMargin
  }

  val queries: Map[String, (QFn, String)] = Map(
    "q_x_als" -> (alsQ, alsSql),
    "q_x_item_cf" -> (itemCfQ, itemCfSql),
    "q_x_growth" -> (growthQ, growthSql),
    "q_x_stickiness" -> (stickinessQ, stickinessSql),
    "q_x_competing_risks" -> (crQ, crSql),
    "q_x_shapley" -> (shapleyQ, shapleySql),
    "q_x_markov_attrib" -> (markovQ, markovSql),
    "q_x_logrank" -> (logRankQ, logRankSql),
    "q_x_paths" -> (pathsQ, pathsSql),
    "q_x_time_to_convert" -> (timeToConvertQ, timeToConvertSql),
    "q_x_rfm" -> (rfmQ, rfmSql),
    "q_x_rmst" -> (rmstQ, rmstSql),
    "q_x_kaplan_meier" -> (kmQ, kmSql),
    "q_x_nelson_aalen" -> (nelsonAalenQ, nelsonAalenSql),
    "q_x_pipeline12" -> (pipeline12Q, pipeline12Sql),
    "q_x_ltv" -> (ltvQ, ltvSql),
    "q_x_multitouch" -> (multiTouchQ, multiTouchSql),
    "q_x_funnel" -> (funnel, funnelSql),
    "q_x_retention" -> (retentionQ, retentionSql),
    "q_x_transitions" -> (transitionsQ, transitionsSql),
    "q_x_seq3" -> (seqPatternsQ, seqPatternsSql),
    "q_x_coxph" -> (coxQ, coxSql),
    "q_x_decay" -> (decayQ, decaySql))
}
