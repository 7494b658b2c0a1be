package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType}

/** Regular-grid time-series operators over an event stream: OHLC
  * downsampling (resample) and gap-filling linear interpolation — the
  * two transforms that turn an irregular event log into the
  * fixed-cadence series every monitoring dashboard and feature
  * pipeline consumes.
  *
  * Both are built for the event-log scale axis (users × time):
  * resample is ONE hash aggregate keyed on (key, bucket) — no window,
  * no sort; interpolation is a bounded per-key grid explode plus two
  * as-of joins ([[TemporalJoins.asOfJoin]] — single keyed-shuffle
  * window machinery, already adjudicated). Nothing global anywhere,
  * so both shapes survive arbitrary key counts.
  */
object TimeSeries {

  /** Epoch-aligned bucket start: exact integral micros arithmetic
    * (never through double — micros beyond 2^53 would truncate). */
  def bucketStart(ts: Column, bucketSeconds: Long): Column = {
    val us = bucketSeconds * 1000000L
    // Column./ is double division; subtract-the-remainder stays in
    // exact long arithmetic (pmod on longs) at any epoch magnitude
    val u = unix_micros(ts)
    timestamp_micros(u - pmod(u, lit(us)))
  }

  /** Total order key for first/last-in-bucket picks: zero-padded
    * string so lexicographic order == numeric (ts, tieBreak) order —
    * the one arg_min/arg_max key type DuckDB and Spark agree on
    * (DuckDB's arg_min rejects struct keys). Timestamps are
    * post-1970 in every fixture; tieBreak must be a nonneg unique id. */
  def ordKey(ts: Column, tieBreak: Column): Column =
    format_string("%020d|%020d", unix_micros(ts), tieBreak.cast(LongType))

  /** OHLC resample: per (keys, epoch-aligned bucket), the bucket's
    * first value (open), max (high), min (low), last value (close),
    * row count and exact decimal sum. Open/close are made total
    * functions of the fixture by the (ts, tieBreak) order key — a bare
    * min_by on a repeatable timestamp is unspecified on BOTH engines.
    *
    * Plan: one map-side-combinable hash aggregate keyed on
    * (keys, bucket). At 100 TB this is the cheapest shape Spark has —
    * partial aggregation absorbs the per-bucket fan-in before the
    * single shuffle, and bucket keys inherit the source's time
    * locality so post-shuffle partitions stay dense. */
  def resample(events: DataFrame, keyCols: Seq[String], tsCol: String,
      valCol: String, bucketSeconds: Long, tieBreak: Column): DataFrame = {
    require(bucketSeconds > 0, s"bucketSeconds must be > 0, got $bucketSeconds")
    val v = col(valCol)
    val ord = ordKey(col(tsCol), tieBreak)
    events
      .groupBy((keyCols.map(col) :+
        bucketStart(col(tsCol), bucketSeconds).as("bucket_ts")): _*)
      .agg(
        min_by(v, ord).as("open_v"),
        max(v).as("high_v"),
        min(v).as("low_v"),
        max_by(v, ord).as("close_v"),
        count(lit(1)).as("n_events"),
        graft.queries.Q.dsum(v).as("sum_v"))
  }

  /** Weekly seasonal profile: per (keys, day-of-week, hour-of-day),
    * the mean value over the whole history — the seasonal-naive
    * decomposition baseline every monitoring system runs before
    * calling something an anomaly ("is Tuesday 3am ALWAYS this
    * quiet?"). Day-of-week follows Spark's dayofweek (Sunday = 1).
    *
    * One map-side-combinable hash aggregate over bounded slot keys
    * (|keys| × 168); means route through the exact decimal sum
    * ([[graft.queries.Q.davg]]). */
  def seasonalProfile(events: DataFrame, keyCols: Seq[String],
      tsCol: String, valCol: String): DataFrame =
    events
      .groupBy(keyCols.map(col) :+
        dayofweek(col(tsCol)).cast("long").as("dow") :+
        hour(col(tsCol)).cast("long").as("hod"): _*)
      .agg(count(lit(1)).as("n_events"),
        graft.queries.Q.davg(col(valCol)).as("mean_v"))

  /** Residuals against the [[seasonalProfile]]: each event's value
    * minus its slot's seasonal mean. The profile is a bounded frame —
    * broadcast-joined, so deseasonalizing is a map-side projection
    * over the stream at any corpus size. The subtraction is one IEEE
    * op on the sig9'd mean — bit-identical everywhere. */
  def deseasonalize(events: DataFrame, profile: DataFrame,
      keyCols: Seq[String], tsCol: String, valCol: String): DataFrame =
    events
      .withColumn("dow", dayofweek(col(tsCol)).cast("long"))
      .withColumn("hod", hour(col(tsCol)).cast("long"))
      .join(broadcast(profile), keyCols :+ "dow" :+ "hod")
      .withColumn("resid", col(valCol) - col("mean_v"))

  /** Inter-event gap statistics per key: gap count, exact micro-second
    * sum and max, and the mean gap in seconds — the cadence profile
    * behind engagement scoring and anomaly thresholds ("this sensor
    * reports every ~40s"). One keyed lag window (bounded by per-key
    * series length) + one hash aggregate; all arithmetic on exact
    * integer micros, the mean one fixed double division chain. Keys
    * with a single event report zero gaps and a NULL mean. */
  def gapStats(events: DataFrame, keyCols: Seq[String], tsCol: String,
      tieBreak: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).asc, col(tieBreak).asc)
    val us = unix_micros(col(tsCol))
    events
      .withColumn("__gap", us - lag(us, 1).over(w))
      .groupBy(keyCols.map(col): _*)
      .agg(count(col("__gap")).as("n_gaps"),
        sum(col("__gap")).cast(LongType).as("sum_gap_us"),
        max(col("__gap")).as("max_gap_us"))
      .withColumn("mean_gap_s", when(col("n_gaps") > 0,
        col("sum_gap_us").cast(DoubleType) / col("n_gaps") / 1000000.0))
  }

  /** One-sided CUSUM drift detection (Page 1954) — the standard
    * "has this metric drifted upward beyond noise" sequential test a
    * monitoring pipeline runs over residuals: S_t = max(0, S_{t-1} +
    * x_t − drift), alarm when S_t > threshold.
    *
    * The recursion looks scan-sequential, but the classic identity
    * S_t = cs_t − min(0, min_{j<=t} cs_j) (cs = running sum of
    * x − drift) turns it into TWO stacked running windows — sum then
    * prefix-min — both partitioned by key and evaluated incrementally,
    * so the shape is a keyed shuffle + per-key linear scans, bounded
    * by series length like every window here.
    *
    * Determinism: x is sig9'd first (a 9-digit value casts to
    * DECIMAL(38,15) exactly on both engines — the PageRank cast
    * lesson), the running sum and prefix-min stay IN DECIMAL (exact,
    * association-free — engines may window-aggregate in different
    * orders; DuckDB's segment trees would break a double cumsum), and
    * only the final statistic converts out through sig9.
    *
    * @return one row per input point: (keys..., tsCol, tieBreak, x,
    *         s_stat, alarm) */
  def cusum(series: DataFrame, keyCols: Seq[String], tsCol: String,
      valCol: String, drift: Double, threshold: Double,
      tieBreak: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).asc, col(tieBreak).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val x = graft.queries.Q.sig9(col(valCol))
    val inc = (x - lit(drift)).cast(DecimalType(38, 15))
    val withCs = series
      .withColumn("__x", x)
      .withColumn("__cs", sum(inc).over(w))
    val withMn = withCs.withColumn("__mn", min(col("__cs")).over(w))
    // round the statistic IN DECIMAL SPACE before the double cast —
    // the exact decimal occasionally needs >15 significant digits,
    // where the engines' DECIMAL->DOUBLE casts disagree by 1 ulp and
    // sig9 ties flip (the Graph.SumScale convention; same 11-place
    // bound: exact for statistics < 1e4)
    withMn
      .withColumn("s_stat", graft.queries.Q.sig9(
        round(col("__cs") - when(col("__mn") > 0,
          lit(0).cast(DecimalType(38, 15))).otherwise(col("__mn")),
          Graph.SumScale)
          .cast(DoubleType)))
      .withColumn("alarm", col("s_stat") > threshold)
      .select(keyCols.map(col) :+ col(tsCol) :+ col(tieBreak) :+
        col("__x").as("x") :+ col("s_stat") :+ col("alarm"): _*)
  }

  /** Exponentially-weighted moving average with a bounded horizon —
    * the standard trend smoother next to [[cusum]] (drift) and the
    * median/MAD outlier score: per point,
    * ewma_t = Σ_{j=0}^{min(t,H−1)} β^j·x_{t−j} / Σ_{j} β^j, β = 1−α
    * (pandas `ewm(adjust=True)` truncated at H lags).
    *
    * The horizon is the operator's SEMANTICS, not an approximation
    * shortcut (the linkPredict-cap convention): weights beyond H lags
    * are below double noise for any practical α anyway, and bounding
    * the lookback is what turns the sequential recurrence into a plain
    * BOUNDED per-key window — a keyed shuffle + per-key linear scans,
    * nothing global at any size.
    *
    * Determinism: the H weights β^j and the H running normalizers are
    * computed ONCE here in Scala doubles and embedded as literals on
    * both engines (the decay-lambda convention); each term x·β^j is
    * then a fixed IEEE product folded LEFT-TO-RIGHT (the sqlFold
    * contract), so the quotient is bit-identical before its final
    * sig9.
    *
    * @return one row per input point: (keys..., tsCol, tieBreak, x,
    *         ewma) */
  /** Shared weight/normalizer derivation for [[ewma]], its streaming
    * twin and the oracle builder — ONE definition of the embedded-
    * literal contract: (β^j for j=0..H−1, their running prefix sums). */
  private[graft] def ewmaWeights(alpha: Double, horizon: Int)
      : (Seq[Double], Seq[Double]) = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    val beta = 1.0 - alpha
    val weights = Seq.iterate(1.0, horizon)(_ * beta)
    (weights, weights.scanLeft(0.0)(_ + _).tail)
  }

  def ewma(series: DataFrame, keyCols: Seq[String], tsCol: String,
      valCol: String, tieBreak: String, alpha: Double,
      horizon: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (weights, denoms) = ewmaWeights(alpha, horizon)
    val wArr = array(weights.map(lit): _*)
    val dArr = array(denoms.map(lit): _*)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).asc, col(tieBreak).asc)
      .rowsBetween(-(horizon - 1).toLong, Window.currentRow)
    val x = col(valCol).cast(DoubleType)
    // null points are absent samples (collect_list would silently skip
    // them INSIDE frames and misalign the lags — drop them up front)
    val withArr = series
      .where(x.isNotNull)
      .withColumn("__x", x)
      .withColumn("__arr", collect_list(col("__x")).over(w))
    val n = size(col("__arr"))
    // index-via-range (the sqlDot idiom): arr[i] pairs with the
    // weight at lag n-i, i.e. wArr[n-i+1] 1-based
    val terms = transform(sequence(lit(1), n),
      i => element_at(col("__arr"), i) * element_at(wArr, n - i + 1))
    val num = aggregate(terms, lit(0.0), (acc, t) => acc + t)
    withArr
      .withColumn("ewma",
        graft.queries.Q.sig9(num / element_at(dArr, n)))
      .select(keyCols.map(col) :+ col(tsCol) :+ col(tieBreak) :+
        col("__x").as("x") :+ col("ewma"): _*)
  }

  /** Brown's double exponential smoothing over the bounded-horizon
    * [[ewma]]: the trend-aware smoother (level + slope) a flat EWMA
    * cannot provide — s2 re-smooths the s1 stream with the SAME
    * adjusted weights, then level = 2·s1 − s2,
    * trend = α/(1−α)·(s1 − s2), one-step forecast = level + trend.
    *
    * Compositional contract (deliberate and documented): s2 smooths
    * the SIG9'D s1 points — each stage's output is the adjudicated
    * value of the stage before, exactly as a consumer reading s1 off
    * a table would see it. The α/(1−α) factor is computed once in
    * Scala and embedded as the same literal on both engines (the
    * PageRank-constant convention); level/trend/forecast are fixed
    * IEEE combines of sig9'd inputs, each sig9'd once.
    *
    * Scale shape: two bounded-horizon keyed windows — nothing global,
    * partitions bounded by the per-key history exactly as [[ewma]].
    *
    * @return (keys..., tsCol, tieBreak, s1, s2, level, trend,
    *         forecast) */
  def doubleEwma(series: DataFrame, keyCols: Seq[String], tsCol: String,
      valCol: String, tieBreak: String, alpha: Double,
      horizon: Int): DataFrame = {
    import graft.queries.Q
    val c = alpha / (1.0 - alpha)
    val s1 = ewma(series, keyCols, tsCol, valCol, tieBreak, alpha,
      horizon).withColumnRenamed("ewma", "s1")
    val second = ewma(s1, keyCols, tsCol, "s1", tieBreak, alpha,
      horizon)
    val level = Q.sig9(lit(2.0) * col("s1") - col("s2"))
    val trend = Q.sig9(lit(c) * (col("s1") - col("s2")))
    second
      .select(keyCols.map(col) :+ col(tsCol) :+ col(tieBreak) :+
        col("x").as("s1") :+ col("ewma").as("s2"): _*)
      .withColumn("level", level)
      .withColumn("trend", trend)
      .withColumn("forecast", Q.sig9(col("level") + col("trend")))
  }

  /** One-step-ahead forecast backtest of the [[doubleEwma]] model —
    * "should I trust this forecaster": per key, every point's DES
    * forecast is scored against the NEXT observed value, with the
    * naive random-walk forecast (predict the current value) as the
    * baseline and skill = 1 − MAE/MAE_naive as the verdict (skill ≤ 0
    * means the model loses to persistence — the standard forecasting
    * sanity gate).
    *
    * Determinism: forecasts are the adjudicated DES chain; each
    * absolute error is sig9'd once (difference of a sig9'd forecast
    * and a raw value needs the granular-term rule before the decimal
    * sum), squared-error terms sig9 the product, sums are
    * dsumStable, and each output is one more sig9'd division. The
    * only window is the per-key lead (bounded per key).
    *
    * @return per key: (keys…, n_evals, mae, rmse, mae_naive, skill)
    *         — skill NULL when the naive MAE is 0 */
  def forecastBacktest(series: DataFrame, keyCols: Seq[String],
      tsCol: String, valCol: String, tieBreak: String, alpha: Double,
      horizon: Int): DataFrame = {
    import graft.queries.Q
    val keys = keyCols.map(col)
    val des = doubleEwma(series, keyCols, tsCol, valCol, tieBreak,
      alpha, horizon)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys: _*).orderBy(col(tsCol).asc, col(tieBreak).asc)
    val nxt = series
      .where(col(valCol).isNotNull)
      .select(keys :+ col(tsCol) :+ col(tieBreak) :+
        col(valCol).cast("double").as("__x"): _*)
      .withColumn("__next", lead(col("__x"), 1).over(w))
      .where(col("__next").isNotNull)
    val j = des.join(nxt.select(keys :+ col(tieBreak) :+ col("__x") :+
        col("__next"): _*), keyCols :+ tieBreak)
      .select(keys :+
        Q.sig9(abs(col("forecast") - col("__next"))).as("__ae") :+
        Q.sig9(abs(col("__x") - col("__next"))).as("__ae0"): _*)
    val g = j.groupBy(keys: _*)
      .agg(count(lit(1)).cast("long").as("n_evals"),
        Q.dsumStable(col("__ae"), 9).as("__sae"),
        Q.dsumStable(Q.sig9(col("__ae") * col("__ae")), 6).as("__se2"),
        Q.dsumStable(col("__ae0"), 9).as("__sae0"))
    val mae = Q.sig9(col("__sae") / col("n_evals").cast("double"))
    val mae0 = Q.sig9(col("__sae0") / col("n_evals").cast("double"))
    g.select(keys ++ Seq(col("n_evals"),
      mae.as("mae"),
      Q.sig9(sqrt(col("__se2") / col("n_evals").cast("double")))
        .as("rmse"),
      mae0.as("mae_naive"),
      when(mae0 > 0, Q.sig9(lit(1.0) - mae / mae0)).as("skill")): _*)
  }

  /** Gap-filling linear interpolation at a fixed cadence: per key,
    * a `stepSeconds`-aligned grid spanning [ceil(first sample),
    * floor(last sample)], each grid point valued by linear
    * interpolation between its nearest samples on either side
    * (pandas `resample().interpolate()` / TimescaleDB
    * `interpolate()`).
    *
    * Samples are first reduced to ONE row per (key, ts) keeping
    * max(value) — the as-of pick among equal-timestamp samples is
    * otherwise unspecified (the purchaseQuotes convention), which
    * would make open questions of both engines' outputs.
    *
    * Grid bounds use exact integral micros arithmetic; a key whose
    * span contains no aligned point yields no rows (guarded — Spark's
    * `sequence` throws on start > stop with a positive step). Each
    * grid point then takes its bracketing samples from two
    * [[TemporalJoins.asOfJoin]] passes (backward then forward); by
    * construction of the bounds both sides always match, and a grid
    * point landing exactly ON a sample gets that sample's value (the
    * prev==next degenerate case would otherwise divide by zero).
    *
    * The interpolation itself is fixed IEEE double arithmetic on
    * exact integer micros — bit-identical across engines — sig9'd
    * only to absorb the engines' final-digit conventions.
    *
    * Returns (keys..., ts, value_interp, prev_ts, next_ts). */
  def interpolate(samples: DataFrame, keyCols: Seq[String], tsCol: String,
      valCol: String, stepSeconds: Long): DataFrame = {
    require(stepSeconds > 0, s"stepSeconds must be > 0, got $stepSeconds")
    val us = stepSeconds * 1000000L
    val q = samples
      .groupBy((keyCols :+ tsCol).map(col): _*)
      .agg(max(col(valCol)).as("__graft_v"))
    val bounds = q.groupBy(keyCols.map(col): _*)
      .agg(min(unix_micros(col(tsCol))).as("__mn"),
        max(unix_micros(col(tsCol))).as("__mx"))
    // ceil/floor to the step in exact long arithmetic (see bucketStart)
    val mnRem = pmod(col("__mn"), lit(us))
    val lo = when(mnRem === 0L, col("__mn"))
      .otherwise(col("__mn") - mnRem + us)
    val hi = col("__mx") - pmod(col("__mx"), lit(us))
    val grid = bounds
      .select(keyCols.map(col) :+
        explode(when(lo <= hi, sequence(lo, hi, lit(us)))
          .otherwise(array().cast("array<bigint>"))).as("__gus"): _*)
      .select(keyCols.map(col) :+ timestamp_micros(col("__gus")).as(tsCol): _*)
    val prev = TemporalJoins.asOfJoin(grid,
        q.withColumnRenamed("__graft_v", "__pv"),
        keyCols, tsCol, Seq("__pv"), direction = "backward")
      .withColumnRenamed("asof_time", "prev_ts")
    val both = TemporalJoins.asOfJoin(prev,
        q.withColumnRenamed("__graft_v", "__nv"),
        keyCols, tsCol, Seq("__nv"), direction = "forward")
      .withColumnRenamed("asof_time", "next_ts")
    val gus = unix_micros(col(tsCol))
    val frac = (gus - unix_micros(col("prev_ts"))).cast(DoubleType) /
      (unix_micros(col("next_ts")) - unix_micros(col("prev_ts"))).cast(DoubleType)
    both
      .withColumn("value_interp", graft.queries.Q.sig9(
        when(col("next_ts") === col("prev_ts"), col("__pv"))
          .otherwise(col("__pv") + (col("__nv") - col("__pv")) * frac)))
      .select((keyCols :+ tsCol :+ "value_interp" :+ "prev_ts" :+ "next_ts")
        .map(col): _*)
  }

  /** Exact CUSUM changepoint locator: per key, the time index that
    * maximizes the classic CUSUM deviation |S_t − (t/n)·S_n| over the
    * interior split points 1 ≤ t < n of the time-ordered series — the
    * retrospective "WHERE did this metric shift" twin of [[cusum]]'s
    * sequential "HAS it shifted" alarm (binary segmentation's step-1
    * statistic, Page 1954 / Pettitt-style scan).
    *
    * Determinism: the maximized statistic is scaled by n into the
    * EXACT INTEGER D_t = |n·S_t − t·S_n| (DECIMAL(38,0) — the product
    * overflows Long at ~10^10-row series), so the argmax adjudicates
    * bit-for-bit with no float anywhere near the comparison (the
    * [[Profile.ksDistance]] convention); ties break to the SMALLEST t.
    * The input must be integer-valued (counts from [[resample]]'s
    * n_events — the statistic's exactness rests on it); a per-row
    * cast-equality guard raises on fractional input, and S_n is the
    * true series total (sum of __x), correct for negative values too.
    *
    * Plan: one keyed window for (row index, prefix sum) — bounded by
    * the per-key GRID length (days), never the raw event count, which
    * the upstream resample aggregate already absorbed — then one
    * per-key max and an equi-join back to pick the earliest attaining
    * row. Nothing global, nothing quadratic.
    *
    * @return per key with n >= 2 points: (keys..., n, total, cp_idx,
    *         cp_ts, stat, mean_left, mean_right) — stat = max D_t
    *         sig9'd; means are single IEEE divisions of exact longs */
  def changePoint(series: DataFrame, keyCols: Seq[String], tsCol: String,
      valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = DecimalType(38, 0)
    val keys = keyCols.map(col)
    val wOrd = Window.partitionBy(keys: _*).orderBy(col(tsCol).asc)
    val w = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val guarded = when(
      col(valCol).isNull ||
        col(valCol).cast(LongType).cast(DoubleType) ===
          col(valCol).cast(DoubleType),
      col(valCol).cast(LongType))
      .otherwise(raise_error(concat(
        lit("changePoint: non-integer value "),
        col(valCol).cast(StringType),
        lit(s" in $valCol — the exact D_t statistic requires counts"))))
    val idx = series
      .select(keys :+ col(tsCol) :+ guarded.as("__x"): _*)
      .withColumn("__t", row_number().over(wOrd).cast(LongType))
      .withColumn("__st", sum(col("__x")).over(w))
    val tot = idx.groupBy(keys: _*)
      .agg(max(col("__t")).as("__n"), sum(col("__x")).as("__total"))
    val d = idx.join(tot, keyCols)
      .where(col("__t") < col("__n"))
      .withColumn("__d", abs(
        col("__n").cast(dec) * col("__st").cast(dec) -
          col("__t").cast(dec) * col("__total").cast(dec)))
    val mx = d.groupBy(keys: _*).agg(max(col("__d")).as("__mx"))
    d.join(mx, keyCols)
      .where(col("__d") === col("__mx"))
      .groupBy(keys: _*)
      .agg(first(col("__n")).as("n"), first(col("__total")).as("total"),
        min(col("__t")).as("cp_idx"),
        min_by(col(tsCol), col("__t")).as("cp_ts"),
        first(col("__mx")).as("__mxd"),
        min_by(col("__st"), col("__t")).as("__stcp"))
      .select(keys :+ col("n") :+ col("total") :+ col("cp_idx") :+
        col("cp_ts") :+
        graft.queries.Q.sig9(col("__mxd").cast(DoubleType)).as("stat") :+
        graft.queries.Q.sig9(col("__stcp").cast(DoubleType) /
          col("cp_idx").cast(DoubleType)).as("mean_left") :+
        graft.queries.Q.sig9(
          (col("total") - col("__stcp")).cast(DoubleType) /
            (col("n") - col("cp_idx")).cast(DoubleType)).as("mean_right"): _*)
  }

  /** Sample autocorrelation function r_k for lags 1..maxLag over a
    * regular integer-valued series (the statsmodels `acf` estimator:
    * global mean, full-series variance denominator) — the seasonality
    * / memory profiler next to [[seasonalProfile]] ("does this metric
    * echo itself at lag 7?").
    *
    * Exactness: with integer x, every sum in the expanded numerator
    * n²·Σ(x_t−μ)(x_{t+k}−μ) = n²·P_k − n·S·(A_k+B_k) + (n−k)·S² and
    * denominator n²·Q − n·S² is an EXACT DECIMAL(38,0) integer (P =
    * lagged cross product, A/B = head/tail sums, S/Q = global
    * sum/sum-of-squares), so r_k is ONE sig9'd division of exact
    * integers — no float accumulates anywhere.
    *
    * Plan: row indexes from one keyed window (bounded grid length),
    * then lag pairing is an EQUI-JOIN on (key, i+k) with the left side
    * exploded maxLag ways — O(n·maxLag) rows, a keyed shuffle, no
    * window over the fan-out and nothing quadratic in the series.
    *
    * @return per (key, k): (keys..., k, n, n_pairs, r) — r NULL for a
    *         constant series (zero variance) */
  def autocorr(series: DataFrame, keyCols: Seq[String], tsCol: String,
      valCol: String, maxLag: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val dec = DecimalType(38, 0)
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(col(tsCol).asc)
    val idx = series
      .select(keys :+ col(tsCol) :+ col(valCol).cast(LongType).as("__x"): _*)
      .withColumn("__i", row_number().over(w))
      // read three times below (totals, both join sides)
      .transform(Checkpoints.cut)
    val tot = idx.groupBy(keys: _*)
      .agg(count(lit(1)).as("__n"), sum(col("__x")).as("__s"),
        sum(col("__x").cast(dec) * col("__x").cast(dec)).as("__q"))
    val left = idx.select(keys :+ col("__i") :+ col("__x").as("__xl") :+
        explode(sequence(lit(1), lit(maxLag))).as("__lag"): _*)
      .withColumn("__j", col("__i") + col("__lag"))
    val right = idx.select(
      keys :+ col("__i").as("__j") :+ col("__x").as("__xr"): _*)
    val sums = left.join(right, keyCols :+ "__j")
      .groupBy(keys :+ col("__lag"): _*)
      .agg(sum(col("__xl").cast(dec) * col("__xr").cast(dec)).as("__p"),
        sum(col("__xl")).as("__a"), sum(col("__xr")).as("__b"),
        count(lit(1)).as("n_pairs"))
    val n = col("__n").cast(dec)
    val s = col("__s").cast(dec)
    val num = n * n * col("__p") - n * s * (col("__a") + col("__b")).cast(dec) +
      (col("__n") - col("__lag")).cast(dec) * s * s
    val den = n * n * col("__q") - n * s * s
    sums.join(tot, keyCols)
      .select(keys :+ col("__lag").cast(LongType).as("k") :+
        col("__n").as("n") :+ col("n_pairs") :+
        when(den > 0, graft.queries.Q.sig9(
          num.cast(DoubleType) / den.cast(DoubleType))).as("r"): _*)
  }

  /** Cross-correlation between two regular integer-valued series at
    * lags −maxLag..maxLag: r_k = corr(x_t, y_{t+k}) — the lead-lag
    * profiler ("do clicks lead purchases by two days?") completing
    * [[autocorr]]'s self-memory view. Positive k = y LAGS x by k
    * steps.
    *
    * Exactness (the autocorr convention, two-series form): with
    * global means, nx·ny·Σ(x−μx)(y−μy) expands to
    * nx·ny·P_k − ny·Sx·B_k − nx·Sy·A_k + m_k·Sx·Sy and the
    * denominator² to nx(nx·Qx−Sx²)·ny(ny·Qy−Sy²) — every sum an exact
    * DECIMAL(38,0) integer, so r_k is one sqrt and one division over
    * exact-cast values, each sig9'd.
    *
    * Plan: lag pairing is an equi-join on the EXACT micros arithmetic
    * ts_y = ts_x + k·step (the left side exploded 2·maxLag+1 ways) —
    * O(n·L) rows through one shuffle, no window anywhere.
    *
    * @return one row per lag with at least one pair: (k, n_pairs,
    *         n_a, n_b, r) — r NULL when either side has zero variance */
  def crossCorr(a: DataFrame, b: DataFrame, tsCol: String,
      valCol: String, stepSeconds: Long, maxLag: Int): DataFrame = {
    require(maxLag >= 0, s"maxLag must be >= 0, got $maxLag")
    require(stepSeconds > 0, s"stepSeconds must be > 0, got $stepSeconds")
    val dec = DecimalType(38, 0)
    val stepUs = stepSeconds * 1000000L
    def side(df: DataFrame, v: String) = df.select(
      unix_micros(col(tsCol)).as(s"__us_$v"),
      col(valCol).cast(LongType).as(s"__$v"))
    val av = side(a, "x").transform(Checkpoints.cut) // totals + join side
    val bv = side(b, "y").transform(Checkpoints.cut) // totals + join side
    def tot(df: DataFrame, v: String) = df.agg(
      count(lit(1)).as(s"__n_$v"), sum(col(s"__$v")).as(s"__s_$v"),
      sum(col(s"__$v").cast(dec) * col(s"__$v").cast(dec)).as(s"__q_$v"))
    val pairs = av
      .select(col("__us_x"), col("__x"),
        explode(sequence(lit(-maxLag.toLong), lit(maxLag.toLong)))
          .as("__lag"))
      .withColumn("__us_y", col("__us_x") + col("__lag") * stepUs)
      .join(bv, Seq("__us_y"))
      .groupBy(col("__lag"))
      .agg(sum(col("__x").cast(dec) * col("__y").cast(dec)).as("__p"),
        sum(col("__x")).as("__a"), sum(col("__y")).as("__b"),
        count(lit(1)).as("n_pairs"))
    val nx = col("__n_x").cast(dec)
    val ny = col("__n_y").cast(dec)
    val sx = col("__s_x").cast(dec)
    val sy = col("__s_y").cast(dec)
    val num = nx * ny * col("__p") - ny * sx * col("__b").cast(dec) -
      nx * sy * col("__a").cast(dec) +
      col("n_pairs").cast(dec) * sx * sy
    val dx = nx * (nx * col("__q_x") - sx * sx)
    val dy = ny * (ny * col("__q_y") - sy * sy)
    pairs.crossJoin(broadcast(tot(av, "x")))
      .crossJoin(broadcast(tot(bv, "y")))
      .select(col("__lag").as("k"), col("n_pairs"),
        col("__n_x").cast(LongType).as("n_a"),
        col("__n_y").cast(LongType).as("n_b"),
        when(dx > 0 && dy > 0, graft.queries.Q.sig9(
          num.cast(DoubleType) / graft.queries.Q.sig9(sqrt(
            dx.cast(DoubleType) * dy.cast(DoubleType))))).as("r"))
  }

  /** Seasonal strength: the fraction of a metric's variance the weekly
    * [[seasonalProfile]] explains — 1 − Var(resid)/Var(value) per key,
    * clamped at 0 (the STL "strength of seasonality" statistic at the
    * weekly period). Near 1 = the dow×hour profile IS the signal
    * (alert on residuals, not raw values); near 0 = no weekly
    * structure worth deseasonalizing.
    *
    * Composition of already-adjudicated pieces: the bounded broadcast
    * profile + residual attach ([[deseasonalize]]) and two
    * [[Profile.groupMoments]] passes (the abtest variance contract —
    * exact decimal sums, sig9'd variance). The final chain is fixed
    * IEEE over the two sig9'd variances.
    *
    * @return per key: (keys..., n, var_total, var_resid, strength) —
    *         strength NULL when n < 2 or Var(value) = 0 */
  def seasonalStrength(events: DataFrame, keyCols: Seq[String],
      tsCol: String, valCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val prof = seasonalProfile(events, keyCols, tsCol, valCol)
    val res = deseasonalize(events, prof, keyCols, tsCol, valCol)
      .transform(Checkpoints.cut) // two moment passes
    val mv = Profile.groupMoments(res, keyCols, valCol)
      .select(keys :+ col("n") :+ col("var_v").as("var_total"): _*)
    val mr = Profile.groupMoments(res, keyCols, "resid")
      .select(keys :+ col("var_v").as("var_resid"): _*)
    mv.join(mr, keyCols)
      .select(keys :+ col("n") :+ col("var_total") :+ col("var_resid") :+
        when(col("n") > 1 && col("var_total") > 0, graft.queries.Q.sig9(
          greatest(lit(0.0),
            lit(1.0) - col("var_resid") / col("var_total"))))
          .as("strength"): _*)
  }

  /** Time-indexed frame shared by the trend operators: (keys..., i, x)
    * with i = 1-based position in time order and x the long value —
    * one keyed window over the bounded grid. */
  private def indexed(series: DataFrame, keyCols: Seq[String],
      tsCol: String, valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).asc)
    series.select(keyCols.map(col) :+ col(tsCol) :+
        col(valCol).cast(LongType).as("__x"): _*)
      .withColumn("__i", row_number().over(w).cast(LongType))
  }

  /** Per-key closed-form OLS trend line over a regular integer series:
    * value ≈ intercept + slope·i (i = 1-based time index), with R² —
    * "is this metric growing, and how cleanly?" The parametric member
    * of the trend trio (this, [[mannKendall]], [[theilSen]]).
    *
    * Exactness: Σi, Σi², Σx, Σx², Σix are exact DECIMAL(38,0), so
    * slope = (nΣix − ΣiΣx)/(nΣi² − (Σi)²) and R²'s numerator² /
    * (dxx·dyy) are single sig9'd operations over exact-cast integers;
    * the intercept chain is fixed IEEE on the sig9'd slope. One hash
    * aggregate after the index window — nothing else.
    *
    * @return per key with n >= 2: (keys..., n, slope, intercept, r2)
    *         — slope/r2 NULL when the series is constant */
  def trendLine(series: DataFrame, keyCols: Seq[String], tsCol: String,
      valCol: String): DataFrame = {
    import graft.queries.Q
    val dec = DecimalType(38, 0)
    val keys = keyCols.map(col)
    val idx = indexed(series, keyCols, tsCol, valCol)
    val i = col("__i").cast(dec)
    val x = col("__x").cast(dec)
    val agg = idx.groupBy(keys: _*).agg(
      count(lit(1)).as("n"), sum(col("__i")).as("si"),
      sum(i * i).as("sii"), sum(col("__x")).as("sx"),
      sum(x * x).as("sxx"), sum(i * x).as("six"))
    val n = col("n").cast(dec)
    val dii = n * col("sii") - col("si").cast(dec) * col("si").cast(dec)
    val dxx = n * col("sxx") - col("sx").cast(dec) * col("sx").cast(dec)
    val dix = n * col("six") - col("si").cast(dec) * col("sx").cast(dec)
    val slope = Q.sig9(dix.cast(DoubleType) / dii.cast(DoubleType))
    val intercept = Q.sig9(
      (col("sx").cast(DoubleType) - slope * col("si").cast(DoubleType)) /
        col("n").cast(DoubleType))
    agg.where(col("n") >= 2)
      .select(keys :+ col("n").cast(LongType).as("n") :+
        when(dii > 0, slope).as("slope") :+
        when(dii > 0, intercept).as("intercept") :+
        when(dii > 0 && dxx > 0, Q.sig9(
          (dix * dix).cast(DoubleType) / (dii * dxx).cast(DoubleType)))
          .as("r2"): _*)
  }

  /** Per-key Mann-Kendall trend test: S = Σ_{i<j} sgn(x_j − x_i) with
    * the tie-corrected normal z (continuity-corrected) — the
    * NONPARAMETRIC "is there a monotone trend" twin of [[trendLine]]
    * (no linearity or normality assumption; robust to spikes).
    *
    * Plan: the pair frame is a keyed self-join on (key, j > i) —
    * O(n²/2) per key where n is the GRID length (days), which the
    * upstream resample already bounded; a year of daily points is
    * ~66k pairs per key, a constant. S and the tie term
    * Σ t(t−1)(2t+5) are exact integers; z is the sig9'd IEEE chain
    * over exact casts with the ±1 continuity correction.
    *
    * @return per key with n >= 2: (keys..., n, s_stat, tie_t, z) — z
    *         NULL when var = 0 (all values tied) */
  def mannKendall(series: DataFrame, keyCols: Seq[String], tsCol: String,
      valCol: String): DataFrame = {
    import graft.queries.Q
    val dec = DecimalType(38, 0)
    val keys = keyCols.map(col)
    val idx = indexed(series, keyCols, tsCol, valCol)
      .transform(Checkpoints.cut) // both pair sides + the tie aggregate
    val pairs = idx.as("l").join(idx.as("r"),
        keyCols.map(k => col(s"l.$k") === col(s"r.$k"))
          .reduce(_ && _) && col("r.__i") > col("l.__i"))
      .groupBy(keyCols.map(k => col(s"l.$k").as(k)): _*)
      .agg(sum(signum((col("r.__x") - col("l.__x")).cast(DoubleType))
        .cast(LongType)).as("s_stat"), count(lit(1)).as("n_pairs"))
    val ties = idx.groupBy(keys :+ col("__x"): _*)
      .agg(count(lit(1)).as("t"))
      .groupBy(keys: _*)
      .agg(sum(col("t")).as("n"),
        sum(col("t").cast(dec) * (col("t") - 1).cast(dec) *
          (lit(2L) * col("t") + 5L).cast(dec)).as("tie_t"))
    val n = col("n").cast(dec)
    val varDec = n * (col("n") - 1).cast(dec) *
      (lit(2L) * col("n") + 5L).cast(dec) - col("tie_t")
    val sd = Q.sig9(sqrt(varDec.cast(DoubleType) / lit(18.0)))
    val s = col("s_stat").cast(DoubleType)
    pairs.join(ties, keyCols)
      .where(col("n") >= 2)
      .select(keys :+ col("n").cast(LongType).as("n") :+
        col("s_stat") :+ col("tie_t").cast(LongType).as("tie_t") :+
        when(varDec > 0, Q.sig9(
          when(col("s_stat") > 0, (s - 1.0) / sd)
            .when(col("s_stat") < 0, (s + 1.0) / sd)
            .otherwise(lit(0.0)))).as("z"): _*)
  }

  /** Per-key Theil-Sen slope: the LOWER MEDIAN of all pairwise slopes
    * (x_j − x_i)/(j − i) — the robust trend estimate a single outlier
    * day cannot move (50% breakdown vs [[trendLine]]'s 0%). The
    * discrete order statistic (⌈N/2⌉-th smallest, the conformal-qhat
    * convention) keeps the result an ACTUAL pairwise slope — no
    * averaging, no interpolation, tie-insensitive across engines.
    *
    * Plan: the [[mannKendall]] pair join (bounded-grid O(n²/2) per
    * key) into [[Profile.percentRank]]'s windowless binned prefix
    * sums; each slope is ONE IEEE division of exact integers, so the
    * distinct-value frame adjudicates bit-for-bit.
    *
    * @return per key with >= 1 pair: (keys..., n_pairs, ts_slope) */
  def theilSen(series: DataFrame, keyCols: Seq[String], tsCol: String,
      valCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val idx = indexed(series, keyCols, tsCol, valCol)
      .transform(Checkpoints.cut) // both pair sides of the self-join
    // the division stays inside a when-guard even though the join
    // condition already excludes i_r == i_l: Catalyst pushes the
    // downstream isNotNull(slope) filter INTO the join, where ANSI
    // evaluates it on candidate pairs before/alongside the > condition
    // — an unguarded divide threw DIVIDE_BY_ZERO on the tied indices
    val slopes = idx.as("l").join(idx.as("r"),
        keyCols.map(k => col(s"l.$k") === col(s"r.$k"))
          .reduce(_ && _) && col("r.__i") > col("l.__i"))
      .select(keyCols.map(k => col(s"l.$k").as(k)) :+
        when(col("r.__i") =!= col("l.__i"),
          (col("r.__x") - col("l.__x")).cast(DoubleType) /
            (col("r.__i") - col("l.__i")).cast(DoubleType)).as("__sl"): _*)
    val pr = Profile.percentRank(slopes, keyCols, "__sl")
    val tot = pr.groupBy(keys: _*)
      .agg(max(col("n_below") + col("cnt")).as("np"))
    pr.join(tot, keyCols)
      .withColumn("__k", expr("(np + 1) div 2")) // exact integral div
      .where(col("n_below") < col("__k") &&
        col("__k") <= col("n_below") + col("cnt"))
      .select(keys :+ col("np").cast(LongType).as("n_pairs") :+
        col("s").as("ts_slope"): _*)
  }

  /** Daily-count dispersion — Fano factor (variance/mean of events
    * per day, 1 = Poisson, >1 = bursty/clumped, <1 = regular) and the
    * Goh–Barabási burstiness coefficient (σ−μ)/(σ+μ) ∈ (−1, 1), per
    * key over the FULL calendar span: zero-event days between the
    * key's first and last day COUNT (excluding them would
    * systematically understate burstiness — the gap IS the burst
    * signature).
    *
    * Scale shape: one (key, day) count, one key-keyed span aggregate,
    * one calendar-bounded grid explode (days between first and last —
    * bounded by the calendar, the [[interpolate]] convention), one
    * moment aggregate. No window.
    *
    * Determinism: Σc exact BIGINT, Σc² exact DECIMAL(38,0); variance
    * is ONE sig9 division of the exact integer numerator
    * n·Σc² − (Σc)² by n(n−1); mean, σ, Fano and burstiness one sig9
    * point each.
    *
    * @return per key: (keys…, n_days, n_events, mean_per_day,
    *         var_per_day, fano, burstiness) — readouts NULL when
    *         n_days < 2 or the mean is 0 */
  def dispersion(events: DataFrame, keyCols: Seq[String],
      tsCol: String): DataFrame = {
    import graft.queries.Q
    val dec = DecimalType(38, 0)
    val keys = keyCols.map(col)
    val perDay = events
      .select(keys :+ to_date(col(tsCol)).as("day"): _*)
      .where(keys.map(_.isNotNull).reduce(_ && _) &&
        col("day").isNotNull)
      .groupBy(keys :+ col("day"): _*)
      .agg(count(lit(1)).as("c"))
    val span = perDay.groupBy(keys: _*)
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = span
      .select(keys :+ explode(expr(
        "sequence(d0, d1, interval 1 day)")).as("day"): _*)
      .join(perDay, keyCols :+ "day", "left_outer")
      .select(keys :+ coalesce(col("c"), lit(0L)).as("c"): _*)
    val g = grid.groupBy(keys: _*)
      .agg(count(lit(1)).cast("long").as("n_days"),
        sum(col("c")).cast("long").as("n_events"),
        sum(col("c").cast(dec) * col("c").cast(dec)).as("__c2"))
    val mean = Q.sig9(col("n_events").cast("double") /
      col("n_days").cast("double"))
    val varNum = col("n_days").cast(dec) * col("__c2") -
      col("n_events").cast(dec) * col("n_events").cast(dec)
    val vr = Q.sig9(varNum.cast("double") /
      (col("n_days").cast(dec) * (col("n_days") - 1).cast(dec))
        .cast("double"))
    g.select(keys ++ Seq(col("n_days"), col("n_events"),
      when(col("n_days") > 0, mean).as("mean_per_day"),
      when(col("n_days") > 1, vr).as("var_per_day"),
      when(col("n_days") > 1 && col("n_events") > 0,
        Q.sig9(vr / mean)).as("fano"),
      when(col("n_days") > 1 && col("n_events") > 0, Q.sig9(
        (Q.sig9(sqrt(vr)) - mean) / (Q.sig9(sqrt(vr)) + mean)))
        .as("burstiness")): _*)
  }

  /** SAX — Symbolic Aggregate approXimation (Lin, Keogh, Lonardi & Chiu,
    * DMKD 2003): per series, z-normalize, Piecewise Aggregate
    * Approximate into `w` segments, and map segment means onto a
    * 4-symbol alphabet at the standard-normal quartile breakpoints
    * (-0.6745, 0, 0.6745). The output is the WORD DISTRIBUTION — one
    * row per SAX word with the number of series exhibiting it — i.e.
    * the motif census that indexes 10^9 series into a bounded
    * 4^w-shape dictionary for similarity search and anomaly triage.
    *
    * Determinism: per-series mean/std from exact decimal moments
    * (sig9'd), z-scores and PAA means sig9'd chains, segment index
    * floor(i*w/n) in exact integers, breakpoints compared on sig9'd
    * values. The only windows are keyed per series (row_number over
    * one key's rows); the word assembly is a sorted in-group array
    * fold, no global order anywhere.
    */
  def sax(df: DataFrame, keyCols: Seq[String], orderCol: String,
      valCol: String, tieBreak: String, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.queries.Q
    require(w > 0, "sax: need at least one segment")
    val keys = keyCols.map(col)
    val base = df.where(col(valCol).isNotNull)
      .select(keys :+ col(orderCol).as("__o") :+ col(tieBreak).as("__tb") :+
        col(valCol).cast("double").as("__x"): _*)

    val m = base.groupBy(keys: _*).agg(
      count(lit(1)).cast("long").as("__n"),
      Q.dsum(col("__x")).as("__s1"),
      Q.dsum(col("__x") * col("__x")).as("__s2"))
      .withColumn("__mu", Q.sig9(col("__s1") / col("__n").cast("double")))
      .withColumn("__sd", when(col("__n") > 1, Q.sig9(sqrt(
        (col("__s2") - col("__s1") * col("__s1") /
          col("__n").cast("double")) / (col("__n") - 1).cast("double")))))
      .where(col("__sd") > 0)
      .select(keys :+ col("__n") :+ col("__mu") :+ col("__sd"): _*)

    val wn = Window.partitionBy(keys: _*).orderBy(col("__o"), col("__tb"))
    val seg = base.join(m, keyCols)
      .withColumn("__i", row_number().over(wn).cast("long") - 1)
      .withColumn("__seg", floor(col("__i") * w / col("__n")).cast("long"))
      .withColumn("__z", Q.sig9((col("__x") - col("__mu")) / col("__sd")))

    val paa = seg.groupBy(keys :+ col("__seg"): _*)
      .agg(Q.dsumStable(col("__z"), 9).as("__zs"),
        count(lit(1)).cast("long").as("__c"))
      .withColumn("__m", Q.sig9(col("__zs") / col("__c").cast("double")))
      .withColumn("__sym",
        when(col("__m") < -0.6745, "a")
          .when(col("__m") < 0.0, "b")
          .when(col("__m") < 0.6745, "c")
          .otherwise("d"))

    val words = paa.groupBy(keys: _*)
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__seg"), col("__sym")))),
        s => s.getField("__sym")), "").as("word"))
    words.groupBy(col("word"))
      .agg(count(lit(1)).cast("long").as("n_series"))
  }

  /** Kleinberg 2-state burst detection (Kleinberg 2002 "Bursty and
    * hierarchical structure in streams", the enumerated/batched
    * variant): label each time bin of a (relevant r_t, total n_t)
    * count series as BASE (0) or BURST (1) by the minimum-cost state
    * sequence under binomial emission costs
    *   cost_q(t) = −(r_t·ln p_q + (n_t − r_t)·ln(1 − p_q)),
    * p0 = ΣR/ΣN, p1 = min(s·p0, 0.999999), with an entry toll
    * tau = gamma·ln T on 0→1 transitions (leaving a burst is free) —
    * the classic "is this topic/event spiking" labeler that a fixed
    * threshold gets wrong on varying daily volume. The binomial
    * coefficient is state-independent and cancels in the argmin, so
    * it is dropped on both engines.
    *
    * Scale shape: the bin grid is bounded (days of the log), packs
    * into ONE array row; the Viterbi forward pass is one fold whose
    * state carries [c0, c1, decisions...], the backtrack a second
    * fold over the decision tape. Determinism: every cost, the toll
    * and each per-step running cost is sig9'd (drift cannot
    * accumulate); ties prefer the current state's self-loop — one
    * shared rule on both engines.
    *
    * @param bins one row per bin: (orderCol unique, rCol, nCol)
    * @return one row per bin: (orderCol, r, n, state 0/1) */
  def burstStates(bins: DataFrame, orderCol: String, rCol: String,
      nCol: String, s: Double, gamma: Double): DataFrame = {
    import graft.queries.Q
    require(s > 1, s"burstStates: s must be > 1, got $s")
    require(gamma >= 0, s"burstStates: gamma must be >= 0, got $gamma")
    val packed = bins
      .select(col(orderCol).as("o"), col(rCol).cast("long").as("r"),
        col(nCol).cast("long").as("n"))
      .agg(array_sort(collect_list(struct(col("o"), col("r"),
        col("n")))).as("arr"),
        sum(col("r")).cast("long").as("rt"),
        sum(col("n")).cast("long").as("nt"),
        count(lit(1)).cast("long").as("t"))
    // run-level scalars (each a single IEEE chain, sig9'd where libm
    // enters); both rates clamp into (0, 1) so ln(p) and ln(1-p) stay
    // finite — an all-zero (p0 = 0) or all-relevant (p0 = 1) stream
    // would otherwise poison every cost with ln(0) = NULL and the
    // NULL-comparison fallthrough mislabels the degenerate stream
    val p0 = least(greatest(
      col("rt").cast("double") / col("nt").cast("double"),
      lit(1.0e-12)), lit(0.999999))
    val p1 = least(lit(s) * p0, lit(0.999999))
    val scal = packed
      .where(col("t") > 0L) // empty grid -> zero output rows
      .withColumn("__lp0", Q.sig9(log(p0)))
      .withColumn("__l10", Q.sig9(log(lit(1.0) - p0)))
      .withColumn("__lp1", Q.sig9(log(p1)))
      .withColumn("__l11", Q.sig9(log(lit(1.0) - p1)))
      .withColumn("__tau", Q.sig9(lit(gamma) *
        log(col("t").cast("double"))))
    def cost(lp: String, l1: String)(e: Column) = Q.sig9(
      -(e.getField("r").cast("double") * col(lp) +
        (e.getField("n") - e.getField("r")).cast("double") * col(l1)))
    val withCosts = scal.withColumn("__costs",
      transform(col("arr"), e =>
        array(cost("__lp0", "__l10")(e), cost("__lp1", "__l11")(e))))
    // forward Viterbi: state = [c0, c1, d0_1, d1_1, ..., d0_t, d1_t];
    // start in base state (c1 seeded effectively-infinite — a finite
    // literal: +inf would poison sig9 and NaN-compare)
    val fwd = aggregate(col("__costs"),
      array(lit(0.0), lit(1.0e15)), (acc, e) => {
        val c0 = element_at(acc, 1)
        val c1 = element_at(acc, 2)
        val stay0 = c0 <= c1
        val m0 = when(stay0, c0).otherwise(c1)
        val d0 = when(stay0, lit(0.0)).otherwise(lit(1.0))
        val stay1 = c1 <= c0 + col("__tau")
        val m1 = when(stay1, c1).otherwise(c0 + col("__tau"))
        val d1 = when(stay1, lit(1.0)).otherwise(lit(0.0))
        concat(
          array(Q.sig9(m0 + element_at(e, 1)),
            Q.sig9(m1 + element_at(e, 2))),
          slice(acc, lit(3), size(acc) - 2),
          array(d0, d1))
      })
    val withFwd = withCosts.withColumn("__st", fwd)
    // backtrack over the decision tape: head of the accumulator is
    // the state at bin t; prepend its predecessor each step
    val lastState = when(element_at(col("__st"), 1) <=
      element_at(col("__st"), 2), lit(0.0)).otherwise(lit(1.0))
    val states = aggregate(
      reverse(sequence(lit(2L), greatest(col("t"), lit(2L)))),
      array(lastState), (acc, tt) => {
        val head = element_at(acc, 1)
        // try_element_at: in-bounds for every real row (t >= 2 reads
        // at most index 2t+2 of the 2t+2-long tape); the empty-input
        // aggregate row is filtered out, but PropagateEmptyRelation
        // evaluates this projection over the one-row LocalRelation
        // BEFORE the filter prunes it — the access must be total
        val d0 = try_element_at(col("__st"),
          (lit(3L) + lit(2L) * (tt - 1L)).cast("int"))
        val d1 = try_element_at(col("__st"),
          (lit(4L) + lit(2L) * (tt - 1L)).cast("int"))
        concat(array(when(head === 0.0, d0).otherwise(d1)), acc)
      })
    val withStates = withFwd.withColumn("__states",
      when(col("t") === 1L, array(lastState)).otherwise(states))
    withStates
      .select(col("arr"), posexplode(col("__states")).as(Seq("i", "s")))
      .select(element_at(col("arr"), col("i") + 1).getField("o")
          .as(orderCol),
        element_at(col("arr"), col("i") + 1).getField("r").as("r"),
        element_at(col("arr"), col("i") + 1).getField("n").as("n"),
        col("s").cast("long").as("state"))
  }

  /** Additive Holt–Winters triple exponential smoothing (Winters 1960;
    * Hyndman & Athanasopoulos FPP §8.3) with FIXED smoothing constants
    * — the level+trend+SEASONALITY member the smoothing family was
    * missing beside ses/ewma (level), doubleEwma (trend) and the
    * seasonal-profile decomposition. Per series:
    *
    *   init (standard): l_m = mean(x_1..x_m); b_m = Σ(x_{m+i} −
    *   x_i)/m²; s_i = x_i − l_m. Then for t = m+1..n:
    *     l ← α·(x_t − s_{t−m}) + (1−α)·(l + b)
    *     b ← β·(l − l_prev) + (1−β)·b
    *     s_t ← γ·(x_t − l) + (1−γ)·s_{t−m}
    *   and forecast_h = l + h·b + s_{n+h−m} for h = 1..m.
    *
    * Scale shape: series are collected per KEY (the sax/interleave
    * bounded-series contract — fine for per-entity daily grids, wrong
    * for one unbounded global stream) and the recursion folds inside
    * ONE array row per series; series shorter than 2m are dropped
    * (insufficient for seasonal init).
    *
    * Determinism: every l/b/s update and every forecast is sig9'd, so
    * cross-engine drift cannot accumulate across the fold; the (1−α)
    * family is computed ONCE in Scala and shared with the oracle as
    * double literals (a SQL `1.0 − 0.3` would be decimal-exact, one
    * ulp off — the decay-lambda convention). The series is indexed by
    * POSITION: the caller supplies one row per (key, orderCol) with
    * orderCol unique per key; calendar gaps are the caller's concern.
    *
    * @return one row per (key, h = 1..m): n, level, trend, forecast */
  def holtWinters(df: DataFrame, keyCols: Seq[String], orderCol: String,
      valCol: String, alpha: Double, beta: Double, gamma: Double,
      period: Int): DataFrame = {
    import graft.queries.Q
    require(period >= 1, s"holtWinters: period must be >= 1, got $period")
    require(Seq(alpha, beta, gamma).forall(c => c > 0 && c < 1),
      "holtWinters: smoothing constants must be in (0, 1)")
    val m = period
    val (omA, omB, omG) = (1.0 - alpha, 1.0 - beta, 1.0 - gamma)
    val keys = keyCols.map(col)
    val arr = df
      .groupBy(keys: _*)
      .agg(array_sort(collect_list(struct(col(orderCol).as("o"),
        col(valCol).cast("double").as("x")))).as("os"),
        count(lit(1)).cast(LongType).as("n"))
      .where(col("n") >= 2L * m)
      .select(keys :+ col("n") :+
        transform(col("os"), e => e.getField("x")).as("xs"): _*)
    def fold(c: Column) = aggregate(c, lit(0.0), (a, b) => a + b)
    val l0 = Q.sig9(fold(slice(col("xs"), 1, m)) / lit(m.toDouble))
    val b0 = Q.sig9(fold(transform(sequence(lit(1), lit(m)), i =>
      element_at(col("xs"), i + m) - element_at(col("xs"), i))) /
      lit((m * m).toDouble))
    val withInit = arr
      .withColumn("__l0", l0)
      .withColumn("__st0", concat(array(col("__l0"), b0),
        transform(slice(col("xs"), 1, m),
          x => Q.sig9(x - col("__l0")))))
    // recursion: state [l, b, s_{t-m}..s_{t-1}]; the head seasonal is
    // consumed, the fresh one appended — every step REBUILDS the array
    val st = aggregate(
      slice(col("xs"), lit(m + 1), size(col("xs")) - m),
      col("__st0"), (acc, x) => {
        val l = element_at(acc, 1)
        val b = element_at(acc, 2)
        val sOld = element_at(acc, 3)
        val lNew = Q.sig9(lit(alpha) * (x - sOld) +
          lit(omA) * (l + b))
        val bNew = Q.sig9(lit(beta) * (lNew - l) + lit(omB) * b)
        val sNew = Q.sig9(lit(gamma) * (x - lNew) + lit(omG) * sOld)
        concat(array(lNew, bNew), slice(acc, 4, m - 1), array(sNew))
      })
    withInit.withColumn("__st", st)
      .select(keys :+ col("n") :+
        element_at(col("__st"), 1).as("level") :+
        element_at(col("__st"), 2).as("trend") :+
        explode(sequence(lit(1L), lit(m.toLong))).as("h") :+
        col("__st"): _*)
      .select(keys :+ col("n") :+ col("h") :+ col("level") :+
        col("trend") :+
        Q.sig9(col("level") + col("h").cast(DoubleType) * col("trend") +
          element_at(col("__st"), (col("h") + 2).cast("int")))
          .as("forecast"): _*)
  }

  /** AR(2) fit by Yule–Walker plus an h-step forecast, per key — the
    * memory-based forecaster completing the smoothing family
    * ([[doubleEwma]] trend-extrapolates, [[holtWinters]] adds
    * seasonality; AR(2) instead forecasts FROM the measured
    * autocorrelation structure). Yule & Walker's moment equations at
    * order 2 solve in closed form from the lag-1/lag-2
    * autocorrelations: phi1 = r1(1 - r2)/(1 - r1²),
    * phi2 = (r2 - r1²)/(1 - r1²); forecasts recurse around the series
    * mean, x̂(+h) = mu + phi1(x̂(+h-1) - mu) + phi2(x̂(+h-2) - mu),
    * seeded by the last two observations (Box & Jenkins 1970, ch. 3).
    *
    * Exactness: r1/r2 ride [[autocorr]]'s exact-integer expansion
    * (every sum a DECIMAL(38,0) over the integer-valued series; one
    * sig9'd division per lag), mu is one exact-integer division
    * sig9'd, each phi is fixed IEEE over sig9'd inputs, and each
    * forecast step is sig9'd so the h-chain stays granular —
    * bit-identical on both engines.
    *
    * Plan shape: the lag pairing is [[autocorr]]'s equi-join (no
    * window over anything unbounded; the row_number assignment is a
    * keyed window over per-key series bounded by the time grid), the
    * last-two lookup joins idx against the BROADCAST per-key totals.
    * Requires a unique tsCol per key (a resampled grid), else the
    * row_number order is ambiguous.
    *
    * @return one row per key per horizon h = 1..horizon: (keys..., n,
    *         r1, r2, phi1, phi2, mu, h, forecast) — NULL fit and
    *         forecasts when n < 3, a lag has no pairs, the series has
    *         zero variance, or 1 - r1² = 0 */
  def ar2Forecast(series: DataFrame, keyCols: Seq[String], tsCol: String,
      valCol: String, horizon: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.queries.Q
    require(horizon >= 1 && horizon <= 16,
      s"horizon must be in [1, 16], got $horizon")
    val dec = DecimalType(38, 0)
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(col(tsCol).asc)
    val idx = series
      .select(keys :+ col(tsCol) :+ col(valCol).cast(LongType).as("__x"): _*)
      .withColumn("__i", row_number().over(w))
      .transform(Checkpoints.cut) // read four times below
    val tot = idx.groupBy(keys: _*)
      .agg(count(lit(1)).as("__n"), sum(col("__x")).as("__s"),
        sum(col("__x").cast(dec) * col("__x").cast(dec)).as("__q"))
    val left = idx.select(keys :+ col("__i") :+ col("__x").as("__xl") :+
        explode(sequence(lit(1), lit(2))).as("__lag"): _*)
      .withColumn("__j", col("__i") + col("__lag"))
    val right = idx.select(
      keys :+ col("__i").as("__j") :+ col("__x").as("__xr"): _*)
    val sums = left.join(right, keyCols :+ "__j")
      .groupBy(keys :+ col("__lag"): _*)
      .agg(sum(col("__xl").cast(dec) * col("__xr").cast(dec)).as("__p"),
        sum(col("__xl")).as("__a"), sum(col("__xr")).as("__b"))
    val n = col("__n").cast(dec)
    val s = col("__s").cast(dec)
    val num = n * n * col("__p") -
      n * s * (col("__a") + col("__b")).cast(dec) +
      (col("__n") - col("__lag")).cast(dec) * s * s
    val den = n * n * col("__q") - n * s * s
    val rk = sums.join(tot, keyCols)
      .select(keys :+ col("__lag") :+
        when(den > 0, Q.sig9(
          num.cast(DoubleType) / den.cast(DoubleType))).as("__r"): _*)
    val rPiv = rk.groupBy(keys: _*)
      .agg(max(when(col("__lag") === 1, col("__r"))).as("r1"),
        max(when(col("__lag") === 2, col("__r"))).as("r2"))
    val lastTwo = idx
      .join(broadcast(tot.select(keys :+ col("__n").as("__nn"): _*)),
        keyCols)
      .where(col("__i") >= col("__nn") - 1)
      .groupBy(keys: _*)
      .agg(max(when(col("__i") === col("__nn"), col("__x"))).as("__x1"),
        max(when(col("__i") === col("__nn") - 1, col("__x"))).as("__x2"))
    val mu = Q.sig9(col("__s").cast(DoubleType) / col("__n").cast(DoubleType))
    val phiDen = lit(1.0) - col("r1") * col("r1")
    val fit = rPiv.join(tot, keyCols).join(lastTwo, keyCols)
      .withColumn("mu", mu)
      .withColumn("phi1", when(col("__n") >= 3 && phiDen =!= 0.0,
        Q.sig9(col("r1") * (lit(1.0) - col("r2")) / phiDen)))
      .withColumn("phi2", when(col("__n") >= 3 && phiDen =!= 0.0,
        Q.sig9((col("r2") - col("r1") * col("r1")) / phiDen)))
    // unrolled recursion: each step sig9'd so the chain stays granular
    var prev1: Column = col("__x1").cast(DoubleType)
    var prev2: Column = col("__x2").cast(DoubleType)
    val steps = (1 to horizon).map { h =>
      val f = Q.sig9(col("mu") + col("phi1") * (prev1 - col("mu")) +
        col("phi2") * (prev2 - col("mu")))
      prev2 = prev1
      prev1 = f
      struct(lit(h.toLong).as("h"), f.as("forecast"))
    }
    fit.select(keys :+ col("__n").as("n") :+ col("r1") :+ col("r2") :+
        col("phi1") :+ col("phi2") :+ col("mu") :+
        explode(array(steps: _*)).as("__f"): _*)
      .select(keys :+ col("n") :+ col("r1") :+ col("r2") :+
        col("phi1") :+ col("phi2") :+ col("mu") :+
        col("__f.h").as("h") :+ col("__f.forecast").as("forecast"): _*)
  }
}
