package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.queries.Q
import graft.core.Parquet
import graft.ext.Checkpoints

/** Structured-Streaming surface of the engine over the `events` table
  * shape (event_id, ts, user_id, event_type, value, props).
  *
  * The reference itself is cron-batch (SURVEY.md §2.H) — its event-time
  * behaviors map here: the daily full refresh (S1/S2) is the same pipeline
  * run with Trigger.AvailableNow over a file source; the t-minus-15-min
  * lineup trigger (S3) is `dueWithin`; idempotent re-scrape (S4) is the
  * latest-wins UpsertWriter on the sink side.
  *
  * Every transform below is identical for batch and streaming input
  * (watermarks are eliminated by the analyzer in batch), so correctness is
  * oracle-checked on the batch twin and the streaming path is covered by
  * MemoryStream tests.
  */
object EventPipeline {

  /** Tumbling event-time window aggregate with a late-data watermark.
    * State is bounded by (watermark horizon x event_types); at scale the
    * shuffle is keyed (window, event_type) with map-side partial
    * aggregation. */
  def windowedStats(events: DataFrame, windowLen: String = "1 day",
                    watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), Q.dsum(col("value")).as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming face of [[graft.ext.TimeSeries.resample]]: per-key OHLC
    * bars over tumbling event-time windows with a late-data watermark.
    * Same total-order contract as the batch operator (open/close by
    * the zero-padded (ts, tieBreak) key), so the streaming result over
    * any in-watermark delivery equals the batch resample of the same
    * rows — spec-pinned. State bounded by (watermark horizon × keys);
    * the shuffle keys on (window, key) with map-side partials. */
  def windowedOhlc(events: DataFrame, keyCol: String = "user_id",
                   windowLen: String = "1 hour",
                   watermark: String = "1 hour",
                   tieBreak: String = "event_id"): DataFrame = {
    val ord = graft.ext.TimeSeries.ordKey(col("ts"), col(tieBreak))
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"), col(keyCol))
      .agg(min_by(col("value"), ord).as("open_v"),
        max(col("value")).as("high_v"),
        min(col("value")).as("low_v"),
        max_by(col("value"), ord).as("close_v"),
        count(lit(1)).as("n_events"),
        Q.dsum(col("value")).as("sum_v"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
          .as("bucket_s"),
        col(keyCol), col("open_v"), col("high_v"), col("low_v"),
        col("close_v"), col("n_events"), col("sum_v"))
  }

  /** Event-time sessionization: events of a user closer than `gap` merge
    * into one session (session_window — dynamic-length state, works
    * batch and streaming; in streaming the watermark bounds session
    * state). Output: one row per session with its start and rollups.
    * The oracle checks the batch twin via the gaps-and-islands rewrite
    * (lag + cumulative boundary count). */
  def userSessionsWindowed(events: DataFrame,
                           gap: String = "30 minutes",
                           watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"), Q.dsum(col("value")).as("sum_value"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("n_events"), col("sum_value"))

  /** S3 — event-time job trigger: rows whose start time falls inside
    * (now, now + lead]; the engine-side equivalent of the reference's
    * t-15min DAG trigger (dags/031_schedule_dag_for_get_today_line_up
    * .py:19-57). `now` is a parameter, never the wall clock —
    * determinism contract. */
  def dueWithin(todayGames: DataFrame, now: java.sql.Timestamp,
                leadMinutes: Int = 15): DataFrame =
    todayGames.filter(col("game_date") > lit(now) &&
      col("game_date") <= lit(now) + expr(s"INTERVAL $leadMinutes MINUTES"))

  /** Watermarked stream-stream interval join: every purchase paired
    * with each click by the same user within `attributionWindow` before
    * it — the canonical streaming attribution shape (impressions x
    * conversions). Works batch and streaming from the SAME plan; in
    * streaming, BOTH sides carry a watermark and the join condition
    * bounds purchase_ts relative to click_ts, so Spark derives a state
    * eviction horizon for each side (clicks are held `watermark +
    * attributionWindow`, purchases `watermark`) instead of buffering
    * either stream forever. State is keyed by user_id — the join
    * shuffle is an equi-join on the user with the range condition
    * applied post-match, AQE/skew rules apply in batch.
    *
    * "Most recent click wins" attribution is a downstream as-of join
    * (ext/TemporalJoins.asOfJoin) over this pair stream in batch;
    * emitting ALL in-window pairs is what keeps the streaming operator
    * append-mode-clean (a per-purchase argmax would need an aggregation
    * after a stream-stream join).
    */
  def attributedPurchases(events: DataFrame,
                          attributionWindow: String = "30 minutes",
                          watermark: String = "1 hour"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("purchase_user"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
        col("value"))
      .withWatermark("purchase_ts", watermark)
    clicks.join(purchases,
        col("user_id") === col("purchase_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <=
          col("click_ts") + expr(s"INTERVAL $attributionWindow"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
        date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss")
          .as("purchase_ts"),
        col("value"))
  }

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class UserSession(user_id: Long, n_events: Long, total: Double)

  /** Custom keyed state: running per-user rollup via mapGroupsWithState
    * with EVENT-TIME state eviction — a key idle past `idleMinutes`
    * (as judged by the watermark) has its state re-emitted once and
    * dropped, so state is bounded by (keys active within the horizon),
    * never by all keys ever seen. A NoTimeout rollup on an unbounded
    * key space grows forever; this is the only honest contract an
    * unbounded stream can keep. An evicted key that re-appears
    * restarts its rollup from zero — the operator models "activity
    * within the horizon", and the Update-mode sink upserts by key
    * either way. */
  /** Internal state for [[userSessions]]: the rollup plus the greatest
    * event time seen, so a purely-late batch can never pull the idle
    * timeout EARLIER than the key's true latest activity. */
  case class RollupState(n_events: Long, total: Double, last_seen: Long)

  def userSessions(events: Dataset[Event], spark: SparkSession,
                   watermark: String = "1 hour",
                   idleMinutes: Int = 60): Dataset[UserSession] = {
    import spark.implicits._
    val idleMs = idleMinutes * 60000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[RollupState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            // final re-emission; the upsert sink is idempotent
            UserSession(uid, s.n_events, s.total)
          } else {
            val prev = state.getOption.getOrElse(RollupState(0L, 0.0, 0L))
            val batch = it.toSeq
            val next = RollupState(prev.n_events + batch.size,
              prev.total + batch.map(_.value).sum,
              math.max(prev.last_seen, batch.map(_.ts.getTime).max))
            state.update(next)
            // timeout measures idleness from the LATEST activity ever
            // seen, and must land beyond the current watermark (a late
            // batch could otherwise set one already in the past)
            state.setTimeoutTimestamp(math.max(
              next.last_seen + idleMs,
              state.getCurrentWatermarkMs() + 1))
            UserSession(uid, next.n_events, next.total)
          }
      }
  }

  case class FunnelHit(user_id: Long, step_idx: Int, step: String,
                       ts: java.sql.Timestamp)

  /** Per-user funnel cursor for [[streamingFunnel]]: the next step
    * awaited and the chosen time of the last completed step. Two longs
    * per user — the smallest state any stateful operator here carries. */
  case class FunnelState(next_idx: Int, last_ts: Long)

  /** Streaming conversion funnel — the live face of
    * [[graft.ext.Behavior.conversionFunnel]]: emits a [[FunnelHit]]
    * the moment a user completes their next funnel step (strict order,
    * first-touch, optional max gap in ms), instead of recomputing the
    * whole funnel per dashboard refresh.
    *
    * Equal to the batch twin under in-order per-user delivery (events
    * inside a batch are sorted by event time before advancing the
    * cursor, so intra-batch disorder is free); an event arriving in a
    * LATER batch than a same-user event with greater event time can be
    * matched differently than the batch twin would — the inherent
    * append-mode gap every stateful operator here documents. The
    * batch twin is exact unconditionally and oracle-checked
    * (`q_x_funnel`). */
  def streamingFunnel(events: Dataset[Event], spark: SparkSession,
                      steps: Seq[String], maxGapMs: Option[Long] = None)
      : Dataset[FunnelHit] = {
    import spark.implicits._
    require(steps.nonEmpty, "funnel needs at least one step")
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[FunnelState]) =>
          var s = state.getOption.getOrElse(FunnelState(0, 0L))
          val hits = Seq.newBuilder[FunnelHit]
          // full micros-precision event-time order (getNanos carries the
          // sub-millisecond digits getTime drops), then event_id —
          // matching the batch twin's ORDER BY on the micros timestamp;
          // a millis-only key could process two same-millisecond events
          // in a different order than batch and weaken the documented
          // batch-equivalence contract
          it.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
            .foreach { e =>
            if (s.next_idx < steps.length &&
                e.event_type == steps(s.next_idx)) {
              val t = e.ts.getTime
              val ok =
                if (s.next_idx == 0) true
                else t > s.last_ts &&
                  maxGapMs.forall(g => t <= s.last_ts + g)
              if (ok) {
                hits += FunnelHit(uid, s.next_idx, steps(s.next_idx), e.ts)
                s = FunnelState(s.next_idx + 1, t)
              }
            }
          }
          state.update(s)
          hits.result().iterator
      }
  }

  case class CusumAlarm(stream: String, ts: java.sql.Timestamp,
                        event_id: Long, x: Double, s_stat: Double)

  /** Per-stream CUSUM cursor for [[cusumMonitor]]: the running sum of
    * (x − drift) and its prefix minimum, held EXACTLY as decimals —
    * the whole state the prefix-min identity needs (two numbers per
    * stream, like the funnel's two longs). */
  case class CusumState(cs: java.math.BigDecimal, mn: java.math.BigDecimal)

  /** Streaming CUSUM drift monitor — the live face of
    * [[graft.ext.TimeSeries.cusum]]: emits an alarm the moment a
    * stream's one-sided CUSUM statistic crosses `threshold`, instead
    * of recomputing the full statistic stream per dashboard refresh.
    * State per stream is the (running sum, prefix min) decimal pair;
    * each event updates it in O(1).
    *
    * Same numeric contract as the batch operator at every step
    * (sig9'd x, scale-15 decimal increments, decimal prefix-min,
    * SumScale decimal round before the final sig9), so under in-order
    * per-stream delivery the emitted alarms equal the batch twin's
    * alarm rows — spec-pinned; intra-batch disorder is absorbed by
    * the per-group event-time sort, cross-batch disorder has the
    * documented append-mode gap every stateful operator here shares.
    */
  def cusumMonitor(events: Dataset[Event], spark: SparkSession,
                   drift: Double, threshold: Double)
      : Dataset[CusumAlarm] = {
    import spark.implicits._
    import java.math.{BigDecimal => JBD, RoundingMode => RM}
    val zero = JBD.ZERO.setScale(15)
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[Event], state: GroupState[CusumState]) =>
          var s = state.getOption.getOrElse(CusumState(zero, zero))
          val alarms = Seq.newBuilder[CusumAlarm]
          // full micros-precision event-time order (getNanos carries the
          // sub-millisecond digits getTime drops), then event_id —
          // matching the batch twin's ORDER BY on the micros timestamp;
          // a millis-only key could process two same-millisecond events
          // in a different order than batch and weaken the documented
          // batch-equivalence contract
          it.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
            .foreach { e =>
            val x9 = graft.functions.GraftMath.sig9(e.value)
            val inc = JBD.valueOf(x9 - drift).setScale(15, RM.HALF_UP)
            val cs = s.cs.add(inc)
            val mn = if (s.mn.compareTo(cs) <= 0) s.mn else cs
            s = CusumState(cs, mn)
            val base = if (mn.compareTo(JBD.ZERO) > 0) JBD.ZERO else mn
            val s9 = graft.functions.GraftMath.sig9(
              cs.subtract(base)
                .setScale(graft.ext.Graph.SumScale, RM.HALF_UP)
                .doubleValue())
            if (s9 > threshold)
              alarms += CusumAlarm(key, e.ts, e.event_id, x9, s9)
          }
          state.update(s)
          alarms.result().iterator
      }
  }

  /** Per-stream EWMA cursor for [[ewmaMonitor]]: the last horizon−1
    * raw values, newest last — exactly the lookback the bounded-
    * horizon definition needs, so state is O(H) per stream. */
  case class BenfordCount(digit: Long, n_obs: Long)

  /** Streaming Benford digit counter — the live face of
    * [[graft.ext.Profile.benford]]: maintains the running
    * first-significant-digit counts of every positive event value and
    * re-emits a digit's cumulative count whenever it changes (Update
    * mode). The expected-mass/chi-square layer is a 9-row driver-side
    * computation the consumer runs on the table; the STATE here is
    * what has to be incremental — nine longs total.
    *
    * Digit extraction is [[graft.ext.Profile.benfordDigit]] — the ONE
    * Scala definition whose parity with the batch Column chain is
    * spec-pinned — so cumulative streaming counts equal the batch
    * n_obs column exactly after any prefix of batches, regardless of
    * delivery order (counts are order-free, the one monitor here with
    * NO in-order delivery caveat). */
  def benfordMonitor(events: Dataset[Event], spark: SparkSession)
      : Dataset[BenfordCount] = {
    import spark.implicits._
    events
      .flatMap(e => graft.ext.Profile.benfordDigit(e.value))
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (digit: Long, it: Iterator[Long], state: GroupState[Long]) =>
          val c = state.getOption.getOrElse(0L) + it.size
          state.update(c)
          BenfordCount(digit, c)
      }
  }

  /** Bounded reference-frame artifact for [[driftMonitor]]: the
    * deployment-time binning contract (the training frame's [lo, hi]
    * + per-bin counts — `bins` longs, a legitimate driver artifact)
    * broadcast into every executor with the stream query. Build it
    * ONCE from the reference table; the stream never rescans the
    * reference. */
  case class DriftRef(lo: Double, hi: Double, bins: Int,
                      refCounts: Seq[Long])

  /** Collect the [[DriftRef]] artifact from a reference frame — one
    * scan + one bin-keyed count, then a ≤`bins`-row collect. The
    * binning is EXACTLY [[graft.ext.Profile.binnedDrift]]'s (ref
    * [min, max] equi-width, outside values clamp to edge bins). */
  def driftRef(ref: DataFrame, valCol: String, bins: Int = 10)
      : DriftRef = {
    require(bins >= 1 && bins <= 4096,
      s"bins must be in [1, 4096], got $bins")
    val x = col(valCol).cast("double")
    val v = ref.where(x.isNotNull).select(x.as("x"))
    val mm = v.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .collect()(0)
    require(!mm.isNullAt(0),
      "driftRef: reference frame has no non-null values")
    val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
    val counts = Array.ofDim[Long](bins)
    v.withColumn("bin",
        when(lit(hi) === lit(lo), lit(0L))
          .otherwise(least(lit((bins - 1).toLong),
            greatest(lit(0L),
              floor((col("x") - lit(lo)) / ((lit(hi) - lit(lo)) / bins))
                .cast("long")))))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
      .collect().foreach(r => counts(r.getLong(0).toInt) = r.getLong(1))
    DriftRef(lo, hi, bins, counts.toIndexedSeq)
  }

  /** Scala twin of the binning Column chain (same IEEE steps: width =
    * (hi−lo)/bins, floor of the ratio, clamp) — ONE definition used by
    * the streaming state update; parity with the batch op is what the
    * StreamingSpec pins. NaN values are out of contract (the batch
    * side would fail the ANSI long cast). */
  private def driftBin(ref: DriftRef, xv: Double): Int =
    if (ref.hi == ref.lo) 0
    else {
      val b = math.floor((xv - ref.lo) / ((ref.hi - ref.lo) / ref.bins))
        .toLong
      math.min((ref.bins - 1).toLong, math.max(0L, b)).toInt
    }

  /** Decimal-stable sum of sig9-granular doubles — the Scala twin of
    * [[graft.queries.Q.dsumStable]] (double → DECIMAL(38,15) via the
    * Double.toString route both engines use, exact decimal adds,
    * decimal-space round to `scale`, exact cast, sig9). */
  private def dsumStableLocal(terms: Iterator[Double], scale: Int)
      : Double = {
    import java.math.{BigDecimal => JBD, RoundingMode => RM}
    var acc = JBD.ZERO
    terms.foreach(t => acc = acc.add(JBD.valueOf(t).setScale(15, RM.HALF_UP)))
    graft.functions.GraftMath.sig9(
      acc.setScale(scale, RM.HALF_UP).doubleValue())
  }

  /** Per-stream current-side bin counts — `bins` longs, the ENTIRE
    * drift state. */
  case class DriftState(counts: Seq[Long])

  case class DriftPoint(stream: String, n_cur: Long, n_bins_occ: Long,
                        psi: Option[Double], ks: Option[Double],
                        ks_bin: Long, chi2: Option[Double], dof: Long)

  /** Compute the drift battery from the broadcast reference counts and
    * a current-side count array — the Scala twin of
    * [[graft.ext.Profile.binnedDrift]]'s single output row, replicated
    * step for step (sig9 points, StrictMath.log like Spark's `log`,
    * dsumStable scales 9/6, exact-integer KS argmax with ties to the
    * smallest bin). */
  private def driftStats(key: String, ref: DriftRef,
      cur: Array[Long]): DriftPoint = {
    import graft.functions.GraftMath.sig9
    val rn = ref.refCounts
    val rt = rn.sum
    val ct = cur.sum
    val occ = (0 until ref.bins).filter(b => rn(b) > 0 || cur(b) > 0)
    val both = rt > 0 && ct > 0
    val psiTerms = occ.iterator.map { b =>
      if (both && rn(b) > 0 && cur(b) > 0) {
        val rf = rn(b).toDouble / rt.toDouble
        val cf = cur(b).toDouble / ct.toDouble
        sig9((rf - cf) * sig9(StrictMath.log(rf / cf)))
      } else 0.0
    }
    val psi = dsumStableLocal(psiTerms, 9)
    val chiTerms = occ.iterator.map { b =>
      if (both) {
        val n = (rt + ct).toDouble
        val bt = (rn(b) + cur(b)).toDouble
        val er = rt.toDouble * bt / n
        val ec = ct.toDouble * bt / n
        val dr = rn(b).toDouble - er
        val dc = cur(b).toDouble - ec
        sig9(dr * dr / er) + sig9(dc * dc / ec)
      } else 0.0
    }
    val chi2 = dsumStableLocal(chiTerms, 6)
    var (cumR, cumC) = (BigInt(0), BigInt(0))
    var mx = BigInt(-1)
    var mxBin = -1L
    occ.foreach { b =>
      cumR += rn(b); cumC += cur(b)
      val num = (cumR * ct - cumC * rt).abs
      if (num > mx) { mx = num; mxBin = b.toLong }
    }
    val ks =
      if (both) Some(sig9(mx.doubleValue / (rt.toDouble * ct.toDouble)))
      else None
    DriftPoint(key, ct, occ.size.toLong,
      if (both) Some(psi) else None, ks, mxBin,
      if (both) Some(chi2) else None, occ.size.toLong - 1L)
  }

  /** Streaming drift monitor — the live face of
    * [[graft.ext.Profile.binnedDrift]] (PSI + binned KS + 2×B
    * chi-square against a FIXED training-frame binning): the
    * [[DriftRef]] artifact rides the closure (reference-frame
    * broadcast — the stream never rescans the reference), per-stream
    * state is the `bins` current-side counts (re-binned as each batch
    * arrives), and every micro-batch re-emits the battery row per
    * stream (Update mode).
    *
    * Counts are ORDER-FREE, so like [[benfordMonitor]]/[[hllMonitor]]
    * this face has no in-order-delivery caveat: after ANY prefix of
    * batches the emitted row equals the batch operator on the same
    * events (StreamingSpec-pinned, same Scala sig9/decimal arithmetic
    * at every step). */
  def driftMonitor(events: Dataset[Event], spark: SparkSession,
      ref: DriftRef): Dataset[DriftPoint] = {
    import spark.implicits._
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[Event],
         state: GroupState[DriftState]) =>
          val counts = state.getOption.map(_.counts.toArray)
            .getOrElse(Array.ofDim[Long](ref.bins))
          it.foreach(e => counts(driftBin(ref, e.value)) += 1)
          state.update(DriftState(counts.toIndexedSeq))
          driftStats(key, ref, counts)
      }
  }

  case class DistancePoint(stream: String, n_ref: Long, n_cur: Long,
                           bin_width: Double, w1: Option[Double],
                           tv: Option[Double],
                           hellinger: Option[Double])

  /** Streaming distance monitor — the live face of
    * [[graft.ext.Profile.distanceBattery]] (Wasserstein-1 / total
    * variation / Hellinger against the FIXED training-frame binning):
    * shares [[driftMonitor]]'s state shape exactly (per-stream bin
    * counts, additive, ORDER-FREE — no delivery-order caveat), and
    * re-emits the three distances per micro-batch.
    *
    * Numeric twin contract: the exact integer W1/TV numerators run in
    * BigInt (the DECIMAL(38,0) twin), the W1 loop walks ALL bins
    * densely (identical to the batch fold's run-length weighting over
    * occupied bins), Bhattacharyya terms are the same sig9'd sqrt
    * chain summed via [[dsumStableLocal]](9) — so after any batch
    * prefix the emitted row equals `distanceBattery(ref, prefix)`
    * (StreamingSpec-pinned). */
  def distanceMonitor(events: Dataset[Event], spark: SparkSession,
      ref: DriftRef): Dataset[DistancePoint] = {
    import spark.implicits._
    import graft.functions.GraftMath.sig9
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[Event],
         state: GroupState[DriftState]) =>
          val counts = state.getOption.map(_.counts.toArray)
            .getOrElse(Array.ofDim[Long](ref.bins))
          it.foreach(e => counts(driftBin(ref, e.value)) += 1)
          state.update(DriftState(counts.toIndexedSeq))
          val rn = ref.refCounts
          val rt = rn.sum
          val ct = counts.sum
          val both = rt > 0 && ct > 0
          val bw = (ref.hi - ref.lo) / ref.bins
          val rtct = rt.toDouble * ct.toDouble
          var tvn = BigInt(0)
          var sd = BigInt(0)
          var (cumR, cumC) = (BigInt(0), BigInt(0))
          var b = 0
          while (b < ref.bins) {
            tvn += (BigInt(rn(b)) * ct - BigInt(counts(b)) * rt).abs
            cumR += rn(b); cumC += counts(b)
            sd += (cumR * ct - cumC * rt).abs
            b += 1
          }
          val bc = dsumStableLocal(
            (0 until ref.bins).iterator
              .filter(i => rn(i) > 0 && counts(i) > 0)
              .map { i =>
                val rf = rn(i).toDouble / rt.toDouble
                val cf = counts(i).toDouble / ct.toDouble
                sig9(math.sqrt(rf * cf))
              }, 9)
          DistancePoint(key, rt, ct, sig9(bw),
            if (both) Some(sig9(sd.doubleValue / rtct * bw)) else None,
            if (both) Some(sig9(tvn.doubleValue / rtct / 2.0)) else None,
            if (both) Some(sig9(math.sqrt(math.max(0.0, 1.0 - bc))))
            else None)
      }
  }

  /** Bounded calibration artifact for [[calibratedGate]]: the
    * reference frame's score binning ([lo, hi] equi-width over `bins`)
    * plus the isotonic fit per OCCUPIED reference bin and the reference
    * base rate — ≤ bins+3 scalars, the [[DriftRef]] broadcast pattern.
    * Build it ONCE from the labeled reference slice; the stream never
    * rescans the reference. */
  case class CalibRef(lo: Double, hi: Double, bins: Int,
                      fit: Map[Long, Double], baseRate: Double)

  /** Collect the [[CalibRef]] artifact — the fit comes from the BATCH
    * operator [[graft.ext.Classifier.isotonicCalibration]] itself (one
    * definition of the PAVA-by-minimax chain), so gate parity with
    * q_x_pipeline14's accept rule is by construction. One reference
    * scan for min/max + one for the fit + one count/sum row. */
  def calibRef(ref: DataFrame, scoreCol: String, labelCol: String,
      bins: Int = 10): CalibRef = {
    import graft.queries.Q
    val s = col(scoreCol).cast("double")
    val y = col(labelCol).cast("long")
    val base = ref.where(s.isNotNull && y.isNotNull)
    val mm = base.agg(min(s).as("lo"), max(s).as("hi")).collect()(0)
    require(!mm.isNullAt(0),
      "calibRef: reference frame has no labeled scored rows")
    val fitRows = graft.ext.Classifier
      .isotonicCalibration(ref, scoreCol, labelCol, bins)
      .select(col("bin"), col("fit")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val br = base.agg(Q.sig9(sum(y).cast("double") /
      count(lit(1)).cast("double")).as("r")).collect()(0).getDouble(0)
    CalibRef(mm.getDouble(0), mm.getDouble(1), bins, fitRows, br)
  }

  case class GatedEvent(event_id: Long, event_type: String,
                        value: Double, bin: Long,
                        calibrated: Option[Double], accept: Boolean)

  /** Streaming calibrated-quality gate — the live face of
    * q_x_pipeline14's accept stage ([[graft.ext.Classifier
    * .isotonicCalibration]] + base-rate threshold): each event's score
    * is binned on the FIXED reference binning, looked up in the
    * broadcast isotonic fit, and accepted iff its bin's calibrated
    * rate beats the reference base rate — the same
    * `fit.fit > base_rate` rule the batch pipeline applies. Events in
    * bins the reference never occupied have no calibrated estimate and
    * are rejected (an uncalibrated score is an unknown quality, and a
    * gate fails CLOSED).
    *
    * STATELESS (a pure per-event map over the broadcast artifact), so
    * trivially order-free: after any prefix of batches the accepted
    * set equals the batch gate on the same events
    * (StreamingSpec-pinned). Chain `.filter(_.accept)` in front of any
    * ingest sink ([[corpusIngestSink]], [[upsertSink]]) to make the
    * gate a drop-filter; the emitted row keeps the reject rows so the
    * gate's pass-rate is observable downstream. */
  def calibratedGate(events: Dataset[Event], spark: SparkSession,
      ref: CalibRef): Dataset[GatedEvent] = {
    import spark.implicits._
    val dref = DriftRef(ref.lo, ref.hi, ref.bins, Nil)
    events.map { e =>
      val b = driftBin(dref, e.value).toLong
      val cal = ref.fit.get(b)
      GatedEvent(e.event_id, e.event_type, e.value, b, cal,
        cal.exists(_ > ref.baseRate))
    }
  }

  /** Count-min sketch state: d*w bucket sums + events seen. */
  case class CmsState(regs: IndexedSeq[Long], nSeen: Long)

  case class CmsPoint(stream: String, key: String, est: Long,
                      n_seen: Long)

  /** Streaming frequency monitor — the live face of
    * [[graft.ext.Sketch.countMin]] + [[graft.ext.Sketch.cmsEstimate]]:
    * per stream (event_type), a d x w count-min sketch over the user
    * id maintained in O(d*w) state, with the point estimates for a
    * FIXED probe set re-emitted every micro-batch (the "is this hot
    * key still hot" pager feed). Bucket sums are ADDITIVE (the CMS
    * merge law), so like [[hllMonitor]]/[[benfordMonitor]] the counts
    * are order-free and the face has no in-order-delivery caveat.
    *
    * Numeric contract: the SAME portable salted md5 hash
    * ([[graft.ext.Hashing.hash60Local]], the Column face's Scala twin,
    * same `salt || j || ':' || key` preimage), the same mod-w bucket
    * split, and the same min-over-d readout — so after any batch
    * prefix each emitted estimate equals
    * `cmsEstimate(countMin(prefix))` on the same events
    * (StreamingSpec-pinned). */
  def cmsMonitor(events: Dataset[Event], spark: SparkSession,
      probes: Seq[String], d: Int = 4, w: Int = 64,
      salt: String = "cms"): Dataset[CmsPoint] = {
    import spark.implicits._
    require(d >= 1 && w >= 1, s"need d,w >= 1, got d=$d w=$w")
    require(probes.nonEmpty, "cmsMonitor: need at least one probe key")
    val probeList = probes.distinct
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[Event], state: GroupState[CmsState]) =>
          val st = state.getOption
            .getOrElse(CmsState(IndexedSeq.fill(d * w)(0L), 0L))
          val regs = st.regs.toArray
          var seen = st.nSeen
          it.foreach { e =>
            seen += 1
            val k = e.user_id.toString
            var j = 0
            while (j < d) {
              val b = (graft.ext.Hashing.hash60Local(s"$salt$j:$k") %
                w.toLong).toInt
              regs(j * w + b) += 1L
              j += 1
            }
          }
          state.update(CmsState(regs.toIndexedSeq, seen))
          probeList.iterator.map { p =>
            val est = (0 until d).map { j =>
              val b = (graft.ext.Hashing.hash60Local(s"$salt$j:$p") %
                w.toLong).toInt
              regs(j * w + b)
            }.min
            CmsPoint(key, p, est, seen)
          }
      }
  }

  /** Per-stream Pareto frontier: the non-dominated (x, y) coordinate
    * set. Bounded by the frontier's own size (the points that are
    * jointly optimal — typically tiny; worst case the distinct-x
    * count on an anti-correlated stream, the documented caveat). */
  case class SkyState(xs: Seq[Double], ys: Seq[Double], nSeen: Long)

  case class SkyPoint(stream: String, x: Double, y: Double,
                      n_seen: Long)

  /** Streaming 2-D skyline monitor — the live face of
    * [[graft.ext.Skyline.skyline2d]] (minimize x, maximize y): per
    * stream (event_type), the current Pareto frontier re-emitted every
    * micro-batch, with x = the event value and y = the event's user id
    * as the maximized score dimension (callers map their own
    * dimensions). The frontier is MERGEABLE state — frontier(A ∪ B) =
    * frontier(frontier(A) ∪ B) — so like the sketch monitors the face
    * is order-free: any arrival order of the same points yields the
    * same frontier. Duplicate coordinate pairs collapse to one state
    * entry (the batch twin keeps every duplicate ROW; parity is on
    * the coordinate SET, spec-pinned per batch prefix). */
  def skylineMonitor(events: Dataset[Event],
      spark: SparkSession): Dataset[SkyPoint] = {
    import spark.implicits._
    def dominates(qx: Double, qy: Double, px: Double, py: Double) =
      qx <= px && qy >= py && (qx < px || qy > py)
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[Event], state: GroupState[SkyState]) =>
          val st = state.getOption.getOrElse(SkyState(Nil, Nil, 0L))
          var front = st.xs.zip(st.ys).toVector
          var seen = st.nSeen
          it.foreach { e =>
            seen += 1
            val p = (e.value, e.user_id.toDouble)
            val dead = front.exists(q =>
              dominates(q._1, q._2, p._1, p._2)) || front.contains(p)
            if (!dead)
              front = front.filterNot(q =>
                dominates(p._1, p._2, q._1, q._2)) :+ p
          }
          state.update(SkyState(front.map(_._1), front.map(_._2), seen))
          front.iterator.map(p => SkyPoint(key, p._1, p._2, seen))
      }
  }

  /** Per-stream equi-width bin counts — O(bins) longs, itself a valid
    * histSketch under the declared (lo, hi, bins). */
  case class HistMonState(cnts: Seq[Long], nSeen: Long)

  case class HistQuantilePoint(stream: String, q_permille: Long,
                               n: Long, bin: Long, estimate: Double,
                               n_seen: Long)

  /** Streaming percentile monitor — the live face of
    * [[graft.ext.Sketch.histSketch]] + `histQuantiles`: per stream
    * (event_type), equi-width bin counts over the event value in
    * O(bins) state, the requested quantiles re-emitted every
    * micro-batch. Bin counts are ADDITIVE (the histogram merge law),
    * so like the CMS/HLL/KMV monitors the face is order-free.
    *
    * Numeric contract: the same clamped floor((x−lo)/w) binning (one
    * IEEE chain with the shared Scala w), the same all-integer hit
    * rule (cum·1000 >= q·n) and the same sig9'd in-bin interpolation —
    * so after any batch prefix each emitted point equals
    * `histQuantiles(histSketch(prefix))` on the same events
    * (spec-pinned). Streams with no binnable values yet emit nothing. */
  def histQuantileMonitor(events: Dataset[Event], spark: SparkSession,
      lo: Double, hi: Double, bins: Int,
      qPermille: Seq[Int]): Dataset[HistQuantilePoint] = {
    import spark.implicits._
    require(bins >= 1 && hi > lo, "histQuantileMonitor: bins>=1, hi>lo")
    require(qPermille.nonEmpty &&
      qPermille.forall(q => q > 0 && q <= 1000),
      "histQuantileMonitor: permilles must be in (0, 1000]")
    val w = (hi - lo) / bins
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[Event],
         state: GroupState[HistMonState]) =>
          val st = state.getOption
            .getOrElse(HistMonState(IndexedSeq.fill(bins)(0L), 0L))
          val cnts = st.cnts.toArray
          var seen = st.nSeen
          it.foreach { e =>
            seen += 1
            val b = math.min(math.max(
              math.floor((e.value - lo) / w).toLong, 0L),
              bins - 1L).toInt
            cnts(b) += 1L
          }
          state.update(HistMonState(cnts.toIndexedSeq, seen))
          import graft.functions.GraftMath.sig9
          val n = cnts.sum
          if (n == 0L) Iterator.empty
          else qPermille.iterator.map { q =>
            var (cum, bin, cnt, found) = (0L, 0L, 0L, false)
            var i = 0
            while (i < bins && !found) {
              if ((cum + cnts(i)) * 1000 >= q.toLong * n) {
                bin = i.toLong; cnt = cnts(i); found = true
              } else cum += cnts(i)
              i += 1
            }
            val frac = sig9(
              (q.toDouble * n.toDouble / 1000.0 - cum.toDouble) /
                cnt.toDouble)
            HistQuantilePoint(key, q.toLong, n, bin,
              sig9(lo + w * (bin.toDouble + frac)), seen)
          }
      }
  }

  /** Bottom-k hash state: the <= k smallest distinct user-id hashes —
    * O(k) longs per stream, and itself a valid KMV sketch. */
  case class KmvState(hs: Seq[Long], nSeen: Long)

  case class KmvCount(stream: String, n_sketch: Long, est: Double,
                      n_seen: Long)

  /** Streaming distinct-count monitor with set-operation-capable
    * state — the live face of [[graft.ext.Sketch.kmvSketch]]: per
    * stream (event_type), the k smallest distinct user-id hashes in
    * O(k) state, the KMV estimate re-emitted every micro-batch.
    * Bottom-k union is order-free (min-k merge is associative and
    * commutative), so like the HLL/Benford/CMS monitors this face has
    * no in-order-delivery caveat. Unlike the HLL monitor, the state
    * itself is a KMV sketch: two streams' states feed
    * [[graft.ext.Sketch.kmvSetEstimates]] directly for live union /
    * INTERSECTION distinct counts.
    *
    * Numeric contract: the SAME salted portable hash
    * ([[graft.ext.Hashing.hash60Local]], preimage "salt:user"), the
    * same (k−1)·H/h_(k) estimate with the same single sig9 point and
    * the same exact-below-k branch — so after any batch prefix the
    * emitted row equals `kmvEstimate(kmvSketch(prefix))` on the same
    * events (spec-pinned). */
  def kmvMonitor(events: Dataset[Event], spark: SparkSession,
      k: Int = 128, salt: String = "kmv"): Dataset[KmvCount] = {
    import spark.implicits._
    require(k >= 2, s"kmvMonitor: need k >= 2, got $k")
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[Event], state: GroupState[KmvState]) =>
          val st = state.getOption.getOrElse(KmvState(Seq.empty, 0L))
          var set = scala.collection.immutable.SortedSet(st.hs: _*)
          var seen = st.nSeen
          it.foreach { e =>
            seen += 1
            val h = graft.ext.Hashing.hash60Local(s"$salt:${e.user_id}")
            if (!set.contains(h) && (set.size < k || h < set.max)) {
              set += h
              if (set.size > k) set -= set.max
            }
          }
          state.update(KmvState(set.toSeq, seen))
          import graft.functions.GraftMath.sig9
          val n = set.size.toLong
          val est = sig9(
            if (n < k) n.toDouble
            else (k - 1).toDouble * graft.ext.Sketch.KmvH /
              set.max.toDouble)
          KmvCount(key, n, est, seen)
      }
  }

  /** Sparse HLL register state: occupied (bucket, maxRho) pairs —
    * bounded at 2^p entries per stream. */
  case class HllState(regs: Map[Long, Long])

  case class HllCount(stream: String, estimate: Double, raw_est: Double,
                      n_occupied: Long, v_zero: Long, n_seen: Long)

  /** Streaming distinct-count monitor — the live face of
    * [[graft.ext.Sketch.hyperLogLog]]: per stream (event_type), HLL
    * registers over the user id maintained in O(2^p) state, the
    * estimate re-emitted every micro-batch. Registers are max-merged
    * (the HLL merge law), so counts are ORDER-FREE — like the Benford
    * monitor this face has no in-order-delivery caveat at all.
    *
    * Numeric contract: the SAME portable md5 hash
    * ([[graft.ext.Hashing.hash60Local]], the Column face's Scala
    * twin), the same bucket/rho split, and the estimate chain
    * replicated step for step (bucket-ascending 1/2^M fold,
    * linear-counting branch, sig9 points) — so after any batch prefix
    * the emitted row equals the batch operator's output on the same
    * events (spec-pinned). */
  def hllMonitor(events: Dataset[Event], spark: SparkSession,
                 p: Int = 9, salt: String = "hll"): Dataset[HllCount] = {
    import spark.implicits._
    require(p >= 7 && p <= 16, s"p must be in 7..16, got $p")
    val m = 1L << p
    val payloadBits = 60 - p
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[Event], state: GroupState[HllState]) =>
          var regs =
            state.getOption.map(_.regs).getOrElse(Map.empty[Long, Long])
          // n_seen rides in pseudo-bucket -1 (never a real bucket)
          var seen = regs.getOrElse(-1L, 0L)
          it.foreach { e =>
            seen += 1
            val h = graft.ext.Hashing.hash60Local(s"$salt:${e.user_id}")
            val bucket = h % m
            val w = h / m
            val rho =
              if (w == 0L) payloadBits + 1L
              else java.lang.Long.numberOfTrailingZeros(w) + 1L
            if (regs.getOrElse(bucket, 0L) < rho)
              regs = regs.updated(bucket, rho)
          }
          state.update(HllState(regs.updated(-1L, seen)))
          val occ = regs.count(_._1 >= 0)
          val sregs = regs.toSeq.filter(_._1 >= 0).sortBy(_._1)
            .foldLeft(0.0)((acc, b) => acc + 1.0 / (1L << b._2).toDouble)
          val vZero = m - occ
          val s = vZero.toDouble + sregs
          val raw = alpha * m.toDouble * m.toDouble / s
          import graft.functions.GraftMath.sig9
          val est = sig9(
            if (raw <= 2.5 * m && vZero > 0)
              m.toDouble * sig9(StrictMath.log(m.toDouble / vZero))
            else raw)
          HllCount(key, est, sig9(raw), occ, vZero, seen)
      }
  }

  case class EwmaState(buf: Seq[Double])

  case class EwmaPoint(stream: String, ts: java.sql.Timestamp,
                       event_id: Long, x: Double, ewma: Double)

  /** Streaming EWMA trend — the live face of
    * [[graft.ext.TimeSeries.ewma]]: emits every point's bounded-
    * horizon adjusted EWMA as it arrives, O(H) state and O(H) work
    * per event per stream.
    *
    * Same numeric contract as the batch operator at every step: the
    * SAME Scala-computed weight/normalizer doubles (shared derivation),
    * the same left-to-right IEEE fold over the lookback window, the
    * same single final sig9 — so under in-order per-stream delivery
    * the emitted points equal the batch twin's rows bit-for-bit
    * (spec-pinned). Intra-batch disorder is absorbed by the per-group
    * full-micros event-time sort; cross-batch disorder has the
    * documented append-mode gap every stateful operator here shares. */
  def ewmaMonitor(events: Dataset[Event], spark: SparkSession,
                  alpha: Double, horizon: Int): Dataset[EwmaPoint] = {
    import spark.implicits._
    val (w0, d0) = graft.ext.TimeSeries.ewmaWeights(alpha, horizon)
    val weights = w0.toArray
    val denoms = d0.toArray
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[Event], state: GroupState[EwmaState]) =>
          var buf = state.getOption.map(_.buf).getOrElse(Seq.empty)
          val out = Seq.newBuilder[EwmaPoint]
          it.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
            .foreach { e =>
              val arr = (buf :+ e.value).takeRight(horizon)
              val n = arr.size
              var acc = 0.0
              var i = 0
              while (i < n) { acc += arr(i) * weights(n - 1 - i); i += 1 }
              out += EwmaPoint(key, e.ts, e.event_id, e.value,
                graft.functions.GraftMath.sig9(acc / denoms(n - 1)))
              buf = arr.takeRight(horizon - 1)
            }
          state.update(EwmaState(buf))
          out.result().iterator
      }
  }

  /** Two bounded cursors for [[desMonitor]]: the last horizon−1 raw
    * values and the last horizon−1 SIG9'D s1 points (the second stage
    * smooths the adjudicated s1 stream — the batch twin's
    * compositional contract). O(2H) doubles per stream. */
  case class DesState(bufX: Seq[Double], bufS1: Seq[Double])

  case class DesPoint(stream: String, ts: java.sql.Timestamp,
                      event_id: Long, x: Double, s1: Double, s2: Double,
                      level: Double, trend: Double, forecast: Double)

  /** Streaming double exponential smoothing — the live face of
    * [[graft.ext.TimeSeries.doubleEwma]]: every point's s1/s2, Brown
    * level, trend and one-step forecast as it arrives.
    *
    * Same numeric contract as the batch operator at every step: the
    * shared weight/normalizer doubles, left-to-right IEEE folds over
    * both lookback windows (the s2 fold runs over the SIG9'D s1
    * points, exactly what the batch twin's second window sees), the
    * same Scala-computed α/(1−α) factor, one sig9 per emitted column —
    * so under in-order per-stream delivery the points equal the batch
    * twin's rows bit-for-bit (spec-pinned across a micro-batch
    * boundary). Intra-batch disorder is absorbed by the full-micros
    * event-time sort; cross-batch disorder has the shared append-mode
    * caveat. */
  def desMonitor(events: Dataset[Event], spark: SparkSession,
                 alpha: Double, horizon: Int): Dataset[DesPoint] = {
    import spark.implicits._
    val (w0, d0) = graft.ext.TimeSeries.ewmaWeights(alpha, horizon)
    val weights = w0.toArray
    val denoms = d0.toArray
    val c = alpha / (1.0 - alpha)
    def smooth(arr: Seq[Double]): Double = {
      val n = arr.size
      var acc = 0.0
      var i = 0
      while (i < n) { acc += arr(i) * weights(n - 1 - i); i += 1 }
      graft.functions.GraftMath.sig9(acc / denoms(n - 1))
    }
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[Event], state: GroupState[DesState]) =>
          var st = state.getOption.getOrElse(DesState(Seq.empty, Seq.empty))
          val out = Seq.newBuilder[DesPoint]
          it.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
            .foreach { e =>
              val arrX = (st.bufX :+ e.value).takeRight(horizon)
              val s1 = smooth(arrX)
              val arrS = (st.bufS1 :+ s1).takeRight(horizon)
              val s2 = smooth(arrS)
              val level = graft.functions.GraftMath.sig9(2.0 * s1 - s2)
              val trend = graft.functions.GraftMath.sig9(c * (s1 - s2))
              out += DesPoint(key, e.ts, e.event_id, e.value, s1, s2,
                level, trend,
                graft.functions.GraftMath.sig9(level + trend))
              st = DesState(arrX.takeRight(horizon - 1),
                arrS.takeRight(horizon - 1))
            }
          state.update(st)
          out.result().iterator
      }
  }

  case class EnrichedPurchase(user_id: Long, purchase_id: Long,
                              purchase_ts: java.sql.Timestamp,
                              value: Double, click_id: Option[Long],
                              click_ts: Option[java.sql.Timestamp])

  /** Per-user click buffer for [[enrichedPurchases]]: the clicks that
    * can still be "latest at-or-before" for SOME future in-watermark
    * purchase — every click with ts >= watermark plus the single
    * latest older one — as (ts, event_id) pairs, plus the greatest
    * event time seen (so a purely-late batch can never pull the idle
    * timeout earlier). Keeping only the single latest click (the
    * obvious state) is WRONG across batches: a purchase arriving one
    * batch after a NEWER click would find no at-or-before match even
    * though an older buffered click was correct. */
  case class ClickState(clicks: Seq[(Long, Long)], last_seen: Long)

  /** Streaming as-of enrichment — the streaming face of
    * `ext/TemporalJoins.asOfJoin`: each purchase is emitted once,
    * carrying the user's latest click at-or-before it (ties at equal
    * time: the click wins — inclusive as-of — and among equal-time
    * clicks the greatest event_id, matching the batch twin's tieBreak).
    *
    * This is the attach-the-snapshot-at-ingest shape (latest model
    * version / config / consent record per key). State per key is the
    * watermark-pruned click buffer above — bounded by clicks per key
    * per horizon — evicted entirely by event-time timeout after
    * `idleMinutes` of watermark-judged silence.
    *
    * Ordering contract: EXACT (equal to the batch twin) for any
    * arrival interleaving in which each purchase is delivered no
    * earlier than the clicks at-or-before it that it should match, and
    * in particular for any cross-batch disorder where the purchase
    * arrives LATER than those clicks (the buffer serves it). The one
    * inherent gap of append-mode streaming remains: a click arriving
    * in a later batch than a purchase it should have enriched cannot
    * retract the already-emitted row; sub-watermark-late events are
    * dropped by the watermark like in every stateful operator. The
    * batch twin ([[enrichedPurchasesBatch]], oracle-checked) is exact
    * unconditionally. */
  def enrichedPurchases(events: Dataset[Event], spark: SparkSession,
                        watermark: String = "1 hour",
                        idleMinutes: Int = 120): Dataset[EnrichedPurchase] = {
    import spark.implicits._
    val idleMs = idleMinutes * 60000L
    events
      .filter(e => e.event_type == "click" || e.event_type == "purchase")
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[ClickState]) =>
          if (state.hasTimedOut) {
            state.remove() // nothing to emit: purchases were emitted live
            Iterator.empty
          } else {
            val out = Seq.newBuilder[EnrichedPurchase]
            var buf = state.getOption.map(_.clicks).getOrElse(Seq.empty)
            var lastSeen = state.getOption.map(_.last_seen).getOrElse(0L)
            // event-time order; clicks before purchases at equal ts
            // (inclusive as-of)
            val batch = it.toSeq.sortBy(e =>
              (e.ts.getTime, if (e.event_type == "click") 0 else 1,
                e.event_id))
            batch.foreach { e =>
              lastSeen = math.max(lastSeen, e.ts.getTime)
              if (e.event_type == "click") {
                buf = buf :+ (e.ts.getTime, e.event_id)
              } else {
                // latest at-or-before: max by (ts, id) — greatest
                // event_id wins equal-time ties, like the batch twin
                val hit = buf.filter(_._1 <= e.ts.getTime)
                  .maxOption(Ordering.Tuple2[Long, Long])
                out += EnrichedPurchase(uid, e.event_id, e.ts, e.value,
                  hit.map(_._2),
                  hit.map(h => new java.sql.Timestamp(h._1)))
              }
            }
            if (buf.nonEmpty) {
              // prune: keep clicks that can still serve a future
              // in-watermark purchase — all at-or-after the watermark
              // plus the single latest older one
              val wm = state.getCurrentWatermarkMs()
              val (fresh, old) = buf.partition(_._1 >= wm)
              buf = (old.maxOption(Ordering.Tuple2[Long, Long]).toSeq ++
                fresh).sorted
              state.update(ClickState(buf, lastSeen))
              state.setTimeoutTimestamp(math.max(lastSeen + idleMs,
                state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  /** Batch twin of [[enrichedPurchases]]: the exact as-of join
    * (purchases probe, clicks quote, greatest-event_id tiebreak). */
  def enrichedPurchasesBatch(events: DataFrame): DataFrame = {
    val probes = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts"), col("value"))
    val quotes = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    graft.ext.TemporalJoins.asOfJoin(probes, quotes, Seq("user_id"), "ts",
        Seq("click_id"), tieBreak = col("click_id"))
      .select(col("user_id"), col("purchase_id"),
        col("ts").as("purchase_ts"), col("value"), col("click_id"),
        col("asof_time").as("click_ts"))
  }

  /** Streaming exact dedup for at-least-once sources: drop re-deliveries
    * of the same key arriving within the watermark horizon. This is the
    * streaming face of the exact-dedup pipeline operator (ext/Dedup) —
    * state holds one entry per key seen inside the horizon and is
    * evicted by the watermark, so memory is bounded by (arrival rate x
    * horizon), not by stream length. Emits first-seen rows only. */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
                           watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  case class SessionAcc(start: java.sql.Timestamp, end: java.sql.Timestamp,
                        n: Long, total: Double)
  case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp,
                           n_events: Long, total: Double)

  /** Event-time sessionization with *closed-session* emission via
    * flatMapGroupsWithState: a session is emitted exactly once, when a
    * larger-than-gap silence closes it — either observed inside a batch
    * or declared by the event-time timeout when the watermark passes
    * session_end + gap. Complements `userSessionsWindowed` (which emits
    * per-window aggregates) for sinks that want only finalized rows.
    * State per key is one small SessionAcc, watermark-evicted. */
  def closedSessions(events: Dataset[Event], spark: SparkSession,
                     gapMinutes: Int = 30, watermark: String = "1 hour")
      : Dataset[ClosedSession] = {
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(ClosedSession(uid, s.start, s.n, s.total))
          } else {
            val out = Seq.newBuilder[ClosedSession]
            var cur = state.getOption
            it.toSeq.sortBy(_.ts.getTime).foreach { e =>
              cur match {
                case Some(s) if e.ts.getTime - s.end.getTime <= gapMs =>
                  // a late-but-in-watermark event (ts < s.end) must never
                  // regress the session end — the gap is measured from the
                  // LATEST activity, and the timeout is derived from it
                  val st = if (e.ts.before(s.start)) e.ts else s.start
                  val en = if (e.ts.after(s.end)) e.ts else s.end
                  cur = Some(SessionAcc(st, en, s.n + 1, s.total + e.value))
                case Some(s) => // in-batch gap: close and restart
                  out += ClosedSession(uid, s.start, s.n, s.total)
                  cur = Some(SessionAcc(e.ts, e.ts, 1L, e.value))
                case None =>
                  cur = Some(SessionAcc(e.ts, e.ts, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // must land beyond the current watermark (a batch of only
              // late events could otherwise set one already in the past)
              state.setTimeoutTimestamp(math.max(s.end.getTime + gapMs,
                state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  case class GrowthState(firstDay: Long, lastDay: Long,
                         churnEmitted: Boolean)
  case class GrowthDelta(user_id: Long, epoch_day: Long, kind: String)

  /** Live growth accounting — the streaming face of
    * [[graft.ext.Behavior.growthAccounting]]: per user, one
    * transition record per active day (`new` on the first-ever day,
    * `retained` on a next-day return, `resurrected` after a gap — the
    * gap simultaneously emitting the `churned` record for the day the
    * user went missing) plus the final `churned` record by event-time
    * timeout one day past the last activity. Aggregating the deltas
    * per (day, kind) reproduces the batch operator's columns exactly
    * (dau = new + retained + resurrected), which the spec pins.
    *
    * State per user is three longs, kept after churn (a returning
    * churned user must read `resurrected`, not `new` — removing state
    * would forget them). Delivery contract: per-user DAYS must not
    * regress across batches (in-batch disorder is sorted; an
    * already-seen or earlier day replays as a no-op — the idempotent
    * re-delivery posture of the other monitors). Days are UTC epoch
    * days from the event timestamp, the batch `to_date` twin under
    * the session's UTC pin. */
  def growthMonitor(events: Dataset[Event], spark: SparkSession,
                    watermark: String = "1 hour"): Dataset[GrowthDelta] = {
    import spark.implicits._
    val dayMs = 86400000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[GrowthState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            if (s.churnEmitted) Iterator.empty
            else {
              state.update(s.copy(churnEmitted = true))
              // no new timeout: the state idles until the user returns
              Iterator(GrowthDelta(uid, s.lastDay + 1, "churned"))
            }
          } else {
            val out = Seq.newBuilder[GrowthDelta]
            var cur = state.getOption
            it.map(e => Math.floorDiv(e.ts.getTime, dayMs))
              .toSeq.distinct.sorted.foreach { d =>
              cur match {
                case None =>
                  out += GrowthDelta(uid, d, "new")
                  cur = Some(GrowthState(d, d, churnEmitted = false))
                case Some(s) if d <= s.lastDay => () // replay: no-op
                case Some(s) =>
                  if (d == s.lastDay + 1)
                    out += GrowthDelta(uid, d, "retained")
                  else {
                    // the gap IS the churn day — but only if the
                    // timeout has not already declared it
                    if (!s.churnEmitted)
                      out += GrowthDelta(uid, s.lastDay + 1, "churned")
                    out += GrowthDelta(uid, d, "resurrected")
                  }
                  cur = Some(s.copy(lastDay = d, churnEmitted = false))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // churn for day lastDay+1 may only be declared once that
              // whole day has elapsed: fire at its END (start of
              // lastDay+2), and beyond the current watermark
              if (!s.churnEmitted)
                state.setTimeoutTimestamp(math.max(
                  (s.lastDay + 2) * dayMs,
                  state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  /** Streaming upsert sink (S4 — idempotent re-scrape semantics, live):
    * each micro-batch latest-wins-merges into a bucketed lake table via
    * foreachBatch + UpsertWriter.upsertBucketed. Re-delivered batches
    * collapse onto their natural keys, so at-least-once sources yield
    * exactly-once table state. Returns the started query (caller stops). */
  def upsertSink(stream: DataFrame, path: String, keys: Seq[String],
                 versionCol: String, checkpointDir: String,
                 numBuckets: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sinks.UpsertWriter.upsertBucketed(batch, path, keys,
          versionCol, numBuckets)
      }
      .start()

  /** Streaming ingest dedup: each micro-batch of documents is near-dup
    * filtered against (and within) the incremental MinHash signature
    * store, survivors land in `keptPath` and their signatures extend the
    * store — the streaming face of ext/Dedup at corpus scale (per batch:
    * O(batch) shingling + an LSH-bucket probe of stored signatures;
    * never a corpus rescan). */
  def dedupIngestSink(docs: DataFrame, idCol: String, textCol: String,
                      sigPath: String, keptPath: String,
                      checkpointDir: String, threshold: Double = 0.7)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val toks = batch.withColumn("__tk",
          graft.ext.Hashing.tokens(col(textCol)))
        // the kept table IS the stored corpus — candidate stored docs
        // are re-shingled from it at verify time (the signature store
        // itself carries only id + minhashes)
        val kp = new org.apache.hadoop.fs.Path(keptPath)
        val corpus =
          if (kp.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .exists(kp))
            Parquet.read(spark, keptPath)
              .select(col(idCol),
                graft.ext.Hashing.tokens(col(textCol)).as("__tk"))
          else toks.select(col(idCol), col("__tk")).limit(0)
        // kept rows land via keptSink BEFORE their signatures are
        // registered — see incrementalDedup's crash-ordering contract
        graft.ext.Dedup
          .incrementalDedup(toks, idCol, "__tk", sigPath, threshold,
            corpus,
            keptSink = kept => kept.drop("__tk")
              .write.mode("append").parquet(keptPath))
        ()
      }
      .start()

  /** Streaming MEDIA ingest dedup — the perceptual face of
    * [[dedupIngestSink]]: each micro-batch of (idCol, media) payloads
    * is decoded to fingerprint grids (default
    * [[graft.ext.Multimodal.extractLumaGrid]]; pass
    * `Multimodal.extractAudioEnvelope(_)` for WAV streams), dHashed,
    * and Hamming-checked against (and within) the incremental store;
    * survivors land in `keptPath` and their hashes extend the store.
    *
    * The store is (id, dh) — 16 bytes per item regardless of payload
    * size, and unlike the MinHash store no corpus re-read is ever
    * needed at verify time: the stored dHash IS the exact fingerprint,
    * so per batch the cost is O(batch) decode + a banded probe of the
    * store projection. Undecodable payloads can't be fingerprinted and
    * pass through to `keptPath` flagged `decoded=false` (routable,
    * never silently dropped). Kept rows land BEFORE their hashes are
    * registered — the [[graft.ext.Dedup.incrementalDedup]]
    * crash-ordering contract (a replayed batch re-drops against the
    * store instead of orphaning hashes). In-batch rule: keep-first by
    * id, matching the text sink.
    *
    * Store maintenance reuses the Dedup/Layout utilities UNCHANGED —
    * the store is a plain (id, hash) parquet table, so
    * [[graft.ext.Dedup.deleteSignatures]] tombstones items (staged
    * swap, spec-proven: a deleted item's re-sent copy is kept again)
    * and [[graft.ext.Layout.compact]] bin-packs append deltas on the
    * same cadence. At production scale, partition the store on a dh
    * prefix so the per-batch probe prunes to matching buckets instead
    * of scanning every store file. */
  /** Streaming SCD2 sink: each micro-batch of change-log rows folds
    * into the historized dimension table at `historyPath` via
    * [[graft.ext.Scd2.merge]] — the streaming face of ext/Scd2, so the
    * same point-in-time table serves batch jobs while a live stream
    * maintains it. Only the batch's keys re-historize (semi/anti split
    * inside merge); the rewrite lands through a staging dir +
    * [[graft.ext.Layout.swapIn]] so a concurrent reader never sees a
    * half-written table, and a crash between renames restores via
    * `recoverSwap` on the next batch. Idempotent under foreachBatch's
    * at-least-once re-delivery: a replayed log row is null-safe-equal
    * to the change point it already created and collapses as a no-op
    * (Scd2Spec pins merge idempotence). */
  def scd2Sink(updates: DataFrame, historyPath: String, key: Seq[String],
               ts: String, tracked: Seq[String], tieBreak: Seq[String],
               checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import graft.ext.{Layout, Scd2}
        Layout.recoverSwap(spark, historyPath)
        val hp = new org.apache.hadoop.fs.Path(historyPath)
        val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(hp)) {
          Scd2.historize(batch, key, ts, tracked, tieBreak)
            .write.mode("overwrite").parquet(historyPath)
        } else {
          val merged = Scd2.merge(Parquet.read(spark, historyPath), batch,
            key, ts, tracked, tieBreak)
          val staging = new org.apache.hadoop.fs.Path(hp.getParent,
            "." + hp.getName + ".scd2-staging").toString
          fs.delete(new org.apache.hadoop.fs.Path(staging), true)
          // staging write materializes the merge BEFORE the old table
          // moves — the read and the swap never overlap
          merged.write.mode("overwrite").parquet(staging)
          Layout.swapIn(spark, historyPath, staging)
        }
        ()
      }
      .start()

  def mediaIngestSink(media: DataFrame, idCol: String,
                      storePath: String, keptPath: String,
                      checkpointDir: String, maxHamming: Int = 3,
                      decode: DataFrame => DataFrame =
                        graft.ext.Multimodal.extractLumaGrid(_))
      : org.apache.spark.sql.streaming.StreamingQuery =
    media.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import graft.ext.{Dedup, Multimodal}
        // decode is a mapPartitions codec pass — materialize once, or
        // every downstream branch re-decodes the batch
        val g = decode(batch).transform(Checkpoints.cut)
        val hashed = g.filter(col("decoded"))
          .select(col(idCol), Multimodal.dhash60(col("grid")).as("dh"))
          .transform(Checkpoints.cut) // three band passes + the kept join
        val sp = new org.apache.hadoop.fs.Path(storePath)
        val store =
          if (sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .exists(sp))
            Parquet.read(spark, storePath)
          else hashed.limit(0)
        def bands(df: DataFrame, id: String, dh: String) =
          df.select(col(idCol).as(id), col("dh").as(dh),
            posexplode(array(Dedup.simhashChunks(col("dh")): _*))
              .as(Seq("band_id", "band_key")))
        val nb = bands(hashed, "n_id", "n_dh")
        val dropVsStore = nb.join(bands(store, "s_id", "s_dh"),
            Seq("band_id", "band_key"))
          .filter(bit_count(col("n_dh").bitwiseXOR(col("s_dh")))
            <= maxHamming)
          .select(col("n_id").as(idCol)).distinct()
        val dropInBatch = nb.as("x")
          .join(bands(hashed, "p_id", "p_dh").as("y"),
            col("x.band_id") === col("y.band_id") &&
            col("x.band_key") === col("y.band_key") &&
            col("x.n_id") > col("y.p_id"))
          .filter(bit_count(col("x.n_dh").bitwiseXOR(col("y.p_dh")))
            <= maxHamming)
          .select(col("x.n_id").as(idCol)).distinct()
        val keptHashes = hashed
          .join(dropVsStore.union(dropInBatch).distinct(), Seq(idCol),
            "left_anti")
          // read by both writes; eager, so it has read the store before
          // the store append below writes it
          .transform(Checkpoints.cut)
        // kept payloads (decoded survivors + flagged undecodables)
        // land FIRST, then the store extension
        batch
          .join(g.select(col(idCol), col("decoded")), Seq(idCol))
          .join(keptHashes.select(col(idCol)).union(
              g.filter(!col("decoded")).select(col(idCol))),
            Seq(idCol))
          .write.mode("append").parquet(keptPath)
        keptHashes.write.mode("append").parquet(storePath)
        ()
      }
      .start()

  /** The WHOLE training-data prep pipeline as one streaming ingest:
    * quality gate -> benchmark decontamination -> incremental near-dup
    * dedup -> deterministic split assignment, per micro-batch. This is
    * the streaming face of `q_x_pipeline_e2e` plus the round-5 gates:
    *
    *  - gate + decontam are STATELESS (per-row projection + broadcast
    *    join against the benchmark n-gram set) — they run at batch
    *    scan speed and drop rows before anything pays shuffle;
    *  - dedup is the O(batch)-cost incremental signature-store probe
    *    ([[dedupIngestSink]]'s machinery, same crash-ordering
    *    contract);
    *  - split assignment is a pure hash of the doc id, so a document
    *    lands in the same split no matter which batch delivered it.
    *
    * Kept rows land in `keptPath` WITH their split column; the kept
    * table is also the corpus that candidate stored docs are
    * re-shingled from at verify time. */
  def corpusIngestSink(docs: DataFrame, idCol: String, textCol: String,
                       benchNgrams: DataFrame, sigPath: String,
                       keptPath: String, checkpointDir: String,
                       threshold: Double = 0.7,
                       splits: Seq[(String, Double)] =
                         Seq("train" -> 0.9, "val" -> 0.1))
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val gateIds = graft.ext.TextStats
          .qualityFilter(batch, idCol, textCol)
          .filter(col("keep")).select(col(idCol))
        val gated = batch.join(gateIds, Seq(idCol), "left_semi")
          .withColumn("__tk", graft.ext.Hashing.tokens(col(textCol)))
        val cleanIds = graft.ext.Decontam
          .overlap(gated, idCol, "__tk", benchNgrams)
          .filter(!col("contaminated")).select(col(idCol))
        val clean = gated.join(cleanIds, Seq(idCol), "left_semi")
        val kp = new org.apache.hadoop.fs.Path(keptPath)
        val corpus =
          if (kp.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .exists(kp))
            Parquet.read(spark, keptPath)
              .select(col(idCol),
                graft.ext.Hashing.tokens(col(textCol)).as("__tk"))
          else clean.select(col(idCol), col("__tk")).limit(0)
        graft.ext.Dedup
          .incrementalDedup(clean, idCol, "__tk", sigPath, threshold,
            corpus,
            keptSink = kept => graft.ext.Sampling
              .splitAssign(kept.drop("__tk"), idCol, splits)
              .write.mode("append").parquet(keptPath))
        ()
      }
      .start()

  /** Complete (batch-id-named, _SUCCESS-committed) rollup versions
    * under `rollupPath`, ascending. */
  private def rollupVersions(spark: SparkSession,
                             rollupPath: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(rollupPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .filter(s =>
        fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
      .map(_.getPath.getName.stripPrefix("v=").toLong).sorted
  }

  /** Current volume rollup (latest complete version) — the consumer
    * face of [[volumeMonitorSink]]'s state. */
  def readVolumeRollup(spark: SparkSession, rollupPath: String): DataFrame = {
    val vs = rollupVersions(spark, rollupPath)
    require(vs.nonEmpty, s"no complete rollup version under $rollupPath")
    Parquet.read(spark, s"$rollupPath/v=${vs.last}")
  }

  /** One micro-batch of the volume monitor — IDEMPOTENT per batchId,
    * so foreachBatch's at-least-once re-delivery cannot double-count:
    * the merged rollup commits to the batch-id-named version dir
    * `v=<batchId>` (parquet's _SUCCESS is the commit marker; a crashed
    * partial write has no marker, is ignored by readers, and is simply
    * overwritten on re-delivery), and a re-delivered batch whose
    * version already exists skips the merge entirely. The previous
    * version is never modified — no delete-then-write window in which
    * a crash could lose the count history; superseded complete
    * versions are pruned only AFTER the new one commits. Alerts are
    * derived data re-written from the current rollup each batch (a
    * crash mid-alert-write is healed by the next batch). */
  def mergeVolumeBatch(batch: DataFrame, batchId: Long, rollupPath: String,
                       alertPath: String, tsCol: String = "ts",
                       typeCol: String = "event_type", lookback: Int = 7,
                       zThreshold: Double = 3.0): Unit = {
    val spark = batch.sparkSession
    val versions = rollupVersions(spark, rollupPath)
    if (!versions.lastOption.exists(_ >= batchId)) {
      val bc = graft.ext.Anomaly.dailyCounts(batch, tsCol, typeCol)
      val existing = versions.lastOption
        .map(v => Parquet.read(spark, s"$rollupPath/v=$v"))
        .getOrElse(bc.limit(0))
      existing.unionByName(bc)
        .groupBy(col("stream"), col("day"))
        .agg(sum(col("cnt")).as("cnt"))
        .write.mode("overwrite").parquet(s"$rollupPath/v=$batchId")
      val fs = new org.apache.hadoop.fs.Path(rollupPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      versions.filter(_ < batchId).foreach(v =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$rollupPath/v=$v"), true))
    }
    graft.ext.Anomaly
      .fromDailyCounts(readVolumeRollup(spark, rollupPath),
        lookback, zThreshold)
      .filter(col("is_anomaly"))
      .write.mode("overwrite").parquet(alertPath)
  }

  /** Streaming ops monitor — the live face of ext/Anomaly: each
    * micro-batch's (stream, day) counts merge ADDITIVELY into a rollup
    * (O(streams × days) rows — a full rewrite per batch is cheaper
    * than merge machinery at that size), then the trailing-window
    * z-score detector re-scores the ROLLUP and replaces the alert
    * table with the currently-flagged days. Per-batch cost is
    * O(batch) + O(rollup); the event history is never rescanned. Late
    * events for an already-scored day fold in additively and the day
    * re-scores — alerts are a live view, not an append-only log. All
    * merge/commit semantics live in [[mergeVolumeBatch]] (idempotent
    * per batch id, crash-atomic versioned state). */
  def volumeMonitorSink(events: DataFrame, rollupPath: String,
                        alertPath: String, checkpointDir: String,
                        tsCol: String = "ts",
                        typeCol: String = "event_type",
                        lookback: Int = 7, zThreshold: Double = 3.0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeVolumeBatch(batch, batchId, rollupPath, alertPath,
          tsCol, typeCol, lookback, zThreshold)
      }
      .start()

  /** Bounded target-marginal artifact for [[mixtureRakeSink]]: the
    * curated slice's per-category row/column counts — O(categories)
    * longs, collected ONCE; the stream never rescans the target.
    * Target categories must be non-null (a curated calibration profile
    * has no anonymous category; fail loudly rather than silently shift
    * every weight by a null-mass denominator). */
  case class MixtureRef(rowTn: Map[String, Long], colTn: Map[String, Long])

  /** Collect the [[MixtureRef]] artifact — two bounded marginal
    * aggregates over the target slice. */
  def mixtureRef(target: DataFrame, rowCol: String, colCol: String)
      : MixtureRef = {
    def tn(c: String): Map[String, Long] = {
      val rows = target.groupBy(col(c).cast("string").as("k"))
        .agg(count(lit(1)).as("tn")).collect()
      require(rows.forall(!_.isNullAt(0)),
        s"mixtureRef: target has NULL $c categories")
      rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    MixtureRef(tn(rowCol), tn(colCol))
  }

  /** One micro-batch of the mixture-rake monitor — IDEMPOTENT per
    * batchId (the [[mergeVolumeBatch]] versioned-rollup discipline:
    * batch-id-named cell versions, _SUCCESS-committed, re-delivery
    * skips the merge; weights are derived data rewritten per batch). */
  def mergeMixtureBatch(batch: DataFrame, batchId: Long, rowCol: String,
      colCol: String, ref: MixtureRef, cellsPath: String,
      weightsPath: String, rounds: Int = 2): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val versions = rollupVersions(spark, cellsPath)
    if (!versions.lastOption.exists(_ >= batchId)) {
      val bc = batch.select(col(rowCol).cast("string").as(rowCol),
          col(colCol).cast("string").as(colCol))
        .groupBy(col(rowCol), col(colCol))
        .agg(count(lit(1)).as("n"))
      val existing = versions.lastOption
        .map(v => Parquet.read(spark, s"$cellsPath/v=$v"))
        .getOrElse(bc.limit(0))
      existing.unionByName(bc)
        .groupBy(col(rowCol), col(colCol))
        .agg(sum(col("n")).as("n"))
        .write.mode("overwrite").parquet(s"$cellsPath/v=$batchId")
      val fs = new org.apache.hadoop.fs.Path(cellsPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      versions.filter(_ < batchId).foreach(v =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$cellsPath/v=$v"), true))
    }
    val cells = Parquet.read(spark,
      s"$cellsPath/v=${rollupVersions(spark, cellsPath).last}")
    graft.ext.Mixture.rakeCells(cells, rowCol, colCol,
        ref.rowTn.toSeq.toDF("k", "tn"), ref.colTn.toSeq.toDF("k", "tn"),
        rounds)
      .write.mode("overwrite").parquet(weightsPath)
  }

  /** Streaming mixture-rake monitor — the live face of
    * [[graft.ext.Mixture.ipfRake]] (q_x_ipf): per-cell (row × col)
    * counts merge ADDITIVELY into a versioned rollup (cell counts are
    * order-free, so no delivery-order caveat), then the IPF sweeps
    * re-rake the BOUNDED cumulative cell table against the fixed
    * [[MixtureRef]] target profile and replace the weights table —
    * "are the crawl's source × lang weights still calibrated" as a
    * live view. Per-batch cost is O(batch) + O(cells); the document
    * history is never rescanned, and the sweep chain is
    * [[graft.ext.Mixture.rakeCells]] itself (ONE definition), so after
    * any batch prefix the weights equal `ipfRake(prefix, target)`
    * (StreamingSpec-pinned). */
  def mixtureRakeSink(docs: DataFrame, rowCol: String, colCol: String,
      ref: MixtureRef, cellsPath: String, weightsPath: String,
      checkpointDir: String, rounds: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeMixtureBatch(batch, batchId, rowCol, colCol, ref,
          cellsPath, weightsPath, rounds)
      }
      .start()

  /** Wire a streaming source through windowedStats to a sink path with
    * AvailableNow semantics (the S1/S2 "daily run" as a streaming job:
    * processes everything available, then stops; checkpoint makes re-runs
    * incremental and idempotent). */
  def runAvailableNow(spark: SparkSession, sourceDir: String,
                      schema: org.apache.spark.sql.types.StructType,
                      sinkDir: String, checkpointDir: String): Unit = {
    val in = spark.readStream.schema(schema).parquet(sourceDir)
    windowedStats(in)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet")
      .option("path", sinkDir)
      .start()
      .awaitTermination()
  }
}
