package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** User-behavior analytics over an event stream: ordered conversion
  * funnels and cohort retention — the two queries every product/growth
  * dashboard runs against exactly the event table this engine already
  * ingests (streaming sessions/attribution in
  * [[graft.streaming.EventPipeline]] are the real-time faces; these are
  * their batch complements).
  *
  * Both are built windowless: each funnel step is one filtered
  * aggregate plus one user-keyed equi-join, retention is two grouped
  * aggregates and a join — every shuffle keys on the user or the
  * cohort, nothing global, so the shapes survive arbitrary user counts
  * (the 100 TB axis for an event log is users × time, and both
  * operators are linear scans over it).
  *
  * The survival family — [[Behavior.survivalTable]] (with
  * [[Behavior.kaplanMeier]] and [[Behavior.nelsonAalen]] as its column
  * selections), [[Behavior.logRank]] and [[Behavior.competingRisks]] —
  * shares one grid: `survivalGrid` collapses users to time-to-first
  * target (censored at last activity) and packs the bounded
  * per-duration counts into one duration-sorted array row, and
  * `gridFold` is the one exclusive/inclusive prefix fold over it.
  */
object Behavior {

  /** First-touch ordered funnel: for each user, t_1 = their earliest
    * `steps(0)` event, and t_k = the earliest `steps(k)` event after
    * t_{k-1} (within `maxGap` of it, when given). Returns long format
    * (user, step_idx, step, ts) with one row per REACHED step — the
    * standard strict-order, first-touch attribution used by product
    * analytics tools (a later first-step touch that would convert when
    * the earliest does not is deliberately not searched; document
    * choice, mirrored by the oracle).
    */
  def conversionFunnel(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String],
      maxGap: Option[Column] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val u = col(userCol)
    var cur = events.filter(col(typeCol) === steps.head)
      .groupBy(u.as("user")).agg(min(col(tsCol)).as("t"))
    var out = cur.select(col("user"), lit(0).as("step_idx"),
      lit(steps.head).as("step"), col("t").as("ts"))
    steps.zipWithIndex.drop(1).foreach { case (s, k) =>
      val prev = cur.select(col("user"), col("t").as("prev"))
      val inGap = maxGap.map(g => col(tsCol) <= col("prev") + g)
        .getOrElse(lit(true))
      cur = events.filter(col(typeCol) === s)
        .join(prev, col(userCol) === col("user"))
        .where(col(tsCol) > col("prev") && inGap)
        .groupBy(col("user")).agg(min(col(tsCol)).as("t"))
      out = out.unionByName(cur.select(col("user"), lit(k).as("step_idx"),
        lit(s).as("step"), col("t").as("ts")))
    }
    out
  }

  /** Time-to-convert distribution per funnel step: for every user who
    * reached step k, the elapsed time from their step-0 entry, rolled
    * up to discrete p50 / p90 / max latencies — the "how long does the
    * funnel actually take" readout next to [[funnelSummary]]'s "how
    * many make it".
    *
    * Determinism: deltas are EXACT epoch-microsecond longs; the
    * percentiles are DISCRETE order statistics k = ceil(q·n) read off
    * [[Profile.percentRank]]'s exact ranks (min value with
    * cum ≥ k — the conformal convention, never interpolated), so the
    * whole operator has no float contract at all. No per-step global
    * sort: the prefix machinery bins each (step) group.
    *
    * @return per step k ≥ 1: (step_idx, step, n_users, p50_us,
    *         p90_us, max_us) */
  def timeToConvert(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String],
      maxGap: Option[Column] = None): DataFrame = {
    val fn = conversionFunnel(events, userCol, tsCol, typeCol, steps,
      maxGap)
    val t0 = fn.where(col("step_idx") === 0)
      .select(col("user"), col("ts").as("t0"))
    val deltas = fn.where(col("step_idx") > 0).join(t0, Seq("user"))
      .select(col("step_idx"), col("step"),
        (unix_micros(col("ts")) - unix_micros(col("t0")))
          .as("delta_us"))
    val pr = Profile.percentRank(deltas, Seq("step_idx", "step"),
      "delta_us")
    val tot = pr.groupBy(col("step_idx"), col("step"))
      .agg(max(col("n_below") + col("cnt")).as("n"))
    val cum = col("n_below") + col("cnt")
    pr.join(broadcast(tot), Seq("step_idx", "step"))
      .withColumn("k50", expr("(n + 1) div 2"))
      .withColumn("k90", expr("(9 * n + 9) div 10"))
      .groupBy(col("step_idx"), col("step"))
      .agg(first(col("n")).as("n_users"),
        min(when(cum >= col("k50"), col("s"))).as("p50"),
        min(when(cum >= col("k90"), col("s"))).as("p90"),
        max(col("s")).as("mx"))
      .select(col("step_idx").cast("long").as("step_idx"), col("step"),
        col("n_users").cast("long").as("n_users"),
        col("p50").cast("long").as("p50_us"),
        col("p90").cast("long").as("p90_us"),
        col("mx").cast("long").as("max_us"))
  }

  /** Step-level rollup of [[conversionFunnel]] output: users reached
    * per step + conversion fraction vs the step before (single integer
    * division — deterministic). */
  def funnelSummary(funnel: DataFrame): DataFrame = {
    val counts = funnel.groupBy(col("step_idx"), col("step"))
      .agg(countDistinct(col("user")).as("n_users"))
    val prev = counts.select((col("step_idx") + 1).as("step_idx"),
      col("n_users").as("n_prev"))
    counts.join(prev, Seq("step_idx"), "left")
      .withColumn("conversion",
        when(col("n_prev").isNotNull && col("n_prev") > 0,
          col("n_users").cast("double") / col("n_prev")))
      .select("step_idx", "step", "n_users", "conversion")
  }

  /** Cohort LTV curves: per (cohort day, day offset), the cohort's
    * active users, period revenue and CUMULATIVE revenue — the
    * "how much is a day-N cohort worth by day M" view that prices
    * acquisition. Revenue accumulates IN DECIMAL through the
    * per-cohort running window (offsets per cohort are bounded by the
    * observation span, like every keyed window here) and converts out
    * through the stable decimal round ([[graft.queries.Q.decOut]],
    * `cumScale` places — size it so total·10^scale fits 15 digits).
    */
  def ltv(events: DataFrame, userCol: String, tsCol: String,
      valCol: String, cumScale: Int = 6): DataFrame = {
    val cohorts = events.groupBy(col(userCol).as("user"))
      .agg(min(to_date(col(tsCol))).as("cohort_day"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 15)
    val daily = events
      .join(cohorts, col(userCol) === col("user"))
      .groupBy(col("cohort_day"),
        datediff(to_date(col(tsCol)), col("cohort_day")).cast("long")
          .as("day_offset"))
      .agg(countDistinct(col(userCol)).as("n_active"),
        sum(col(valCol).cast(dec)).as("__rev_dec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cohort_day")).orderBy(col("day_offset"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, org.apache.spark.sql.expressions.Window
        .currentRow)
    daily
      .withColumn("rev", graft.queries.Q.decOut(col("__rev_dec"), cumScale))
      .withColumn("cum_rev",
        graft.queries.Q.decOut(sum(col("__rev_dec")).over(w), cumScale))
      .select(col("cohort_day"), col("day_offset"), col("n_active"),
        col("rev"), col("cum_rev"))
  }

  /** Event-to-event transition counts (first-order Markov path
    * analysis): for each user's (ts, tieBreak)-ordered stream, count
    * (from_type -> to_type) adjacencies and each target's share of its
    * source's outgoing transitions. The lead() window partitions by
    * user — bounded by per-user history, never global. */
  def transitions(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, tieBreak: Seq[String] = Nil): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol))
      .orderBy((col(tsCol) +: tieBreak.map(col)).map(_.asc): _*)
    val pairs = events
      .withColumn("to_type", lead(col(typeCol), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val outTotals = pairs.groupBy(col("from_type"))
      .agg(sum(col("n")).as("n_out"))
    pairs.join(outTotals, Seq("from_type"))
      .withColumn("frac", col("n").cast("double") / col("n_out"))
      .select("from_type", "to_type", "n", "frac")
  }

  /** Frequent CONSECUTIVE length-3 event-type sequences with user-level
    * support — the order-3 extension of [[transitions]] (GSP/PrefixSpan
    * restricted to gap-0 trigrams, the shape that stays one window +
    * one hash aggregate; Srikant & Agrawal, EDBT 1996). "view -> cart
    * -> purchase happens for 4% of users" is a journey fact no
    * first-order matrix can express.
    *
    * Shape: two lead()s over the per-user (ts, tieBreak) window
    * (bounded by per-user history, never global), then a TWO-LEVEL
    * aggregate — (user, trigram) first, so user support is a plain
    * count — and a broadcast of the single distinct-user total row.
    * O(events) window work, O(distinct trigrams) output; nothing
    * quadratic anywhere.
    *
    * Determinism: counts are exact BIGINTs; support is one sig9'd
    * integer division.
    *
    * @return one row per trigram with >= minUsers supporting users:
    *         (t1, t2, t3, n_users, n_occur, support) where support =
    *         n_users / total distinct users in the log */
  def seqPatterns(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, minUsers: Long,
      tieBreak: Seq[String] = Nil): DataFrame = {
    import graft.queries.Q
    require(minUsers >= 1, s"seqPatterns: minUsers must be >= 1, got $minUsers")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol))
      .orderBy((col(tsCol) +: tieBreak.map(col)).map(_.asc): _*)
    val tri = events
      .withColumn("__t2", lead(col(typeCol), 1).over(w))
      .withColumn("__t3", lead(col(typeCol), 2).over(w))
      .where(col("__t2").isNotNull && col("__t3").isNotNull)
    val perUser = tri
      .groupBy(col(userCol).as("__u"), col(typeCol).as("t1"),
        col("__t2").as("t2"), col("__t3").as("t3"))
      .agg(count(lit(1)).as("__c"))
    val pat = perUser.groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).cast("long").as("n_users"),
        sum(col("__c")).cast("long").as("n_occur"))
      .where(col("n_users") >= minUsers)
    val uTot = events.agg(
      count_distinct(col(userCol)).cast("long").as("__ut"))
    pat.crossJoin(broadcast(uTot))
      .select(col("t1"), col("t2"), col("t3"), col("n_users"),
        col("n_occur"),
        Q.sig9(col("n_users").cast("double") / col("__ut").cast("double"))
          .as("support"))
  }

  /** Exponentially time-decayed per-user feature: sum over events of
    * value * exp(-ln2/halfLife * age_at(`at`)) — the standard recency
    * weighting for engagement/feature-store scoring. Age is computed on
    * exact epoch-microsecond integers; each exp() term is sig9-rounded
    * (the engine-portability contract for libm steps — see
    * [[graft.queries.Q]]) and summed through DECIMAL so the result is
    * partition-order independent. */
  def decayedSum(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, halfLifeSec: Double, at: Column): DataFrame = {
    val lam = math.log(2.0) / halfLifeSec
    val dtSec = (unix_micros(at) - unix_micros(col(tsCol)))
      .cast("double") / lit(1e6)
    val term = graft.queries.Q.sig9(
      col(valueCol) * exp(lit(-lam) * dtSec))
    events.groupBy(col(userCol).as("user"))
      .agg(graft.queries.Q.dsum(term).as("decayed_value"),
        count(lit(1)).as("n_events"))
  }

  /** Daily cohort retention: cohort = each user's first active date;
    * one row per (cohort_day, day_offset) with the distinct users
    * active that day and the retained fraction of the cohort.
    * Offset 0 is the cohort itself (retention exactly 1.0). */
  def retention(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val u = col(userCol)
    val cohorts = events.groupBy(u.as("user"))
      .agg(min(to_date(col(tsCol))).as("cohort_day"))
    val sizes = cohorts.groupBy(col("cohort_day"))
      .agg(countDistinct(col("user")).as("cohort_size"))
    val active = events.select(u.as("user"), to_date(col(tsCol)).as("day"))
      .distinct()
    active.join(cohorts, Seq("user"))
      .groupBy(col("cohort_day"), datediff(col("day"), col("cohort_day"))
        .cast("long").as("day_offset"))
      .agg(countDistinct(col("user")).as("n_active"))
      .join(sizes, Seq("cohort_day"))
      .withColumn("retention",
        col("n_active").cast("double") / col("cohort_size"))
      .select("cohort_day", "day_offset", "n_active", "cohort_size",
        "retention")
  }

  /** RFM segmentation: per purchasing user, recency (days since last
    * target event, relative to the corpus's last target day),
    * frequency (target-event count) and monetary (exact-decimal value
    * sum), each discretized into `bins` equi-depth codes plus the
    * combined RFM code — the classic marketing / engagement
    * segmentation, built on the TIE-STABLE rank binning of
    * [[Profile.equiDepthBins]] (SQL NTILE splits ties by arbitrary row
    * order and does not reproduce across partitionings; these bins
    * do). Codes are ASCENDING-rank: bin 0 = most recent / least
    * frequent / lowest spend.
    *
    * Scale shape: one user-keyed aggregate collapses the stream, then
    * three windowless binned-prefix passes over the DISTINCT values of
    * each dimension and three value-equality joins back — the joined
    * bin frames are distinct-value-bounded. Monetary values are sig9'd
    * decimal sums, so the value-equality join key is bit-identical on
    * both engines.
    *
    * @return per purchasing user: (user, recency_days, frequency,
    *         monetary, r_bin, f_bin, m_bin, rfm_code) with
    *         rfm_code = r·100 + f·10 + m */
  def rfm(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, targetType: String, valueCol: String,
      bins: Int = 5): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val p = events.where(col(typeCol) === targetType &&
      col(userCol).isNotNull)
    val per = p.groupBy(col(userCol).as("user"))
      .agg(max(to_date(col(tsCol))).as("__last"),
        count(lit(1)).as("frequency"),
        graft.queries.Q.dsum(col(valueCol)).as("monetary"))
    val mx = p.agg(max(to_date(col(tsCol))).as("__maxd"))
    val base = per.crossJoin(broadcast(mx))
      .select(col("user"),
        datediff(col("__maxd"), col("__last")).cast(LongType)
          .as("recency_days"),
        col("frequency"), col("monetary"))
      .transform(Checkpoints.cut) // three binning passes + the final joins
    def binned(vc: String, out: String) = {
      val b = Profile.equiDepthBins(
          base.select(col(vc)).withColumn("__all", lit(1)),
          Seq("__all"), vc, bins)
        .select(col("s").as(s"__s_$out"), col("bin").as(out))
      base.join(b, col(vc).cast("double") === col(s"__s_$out"))
        .select(col("user"), col(out))
    }
    base
      .join(binned("recency_days", "r_bin"), Seq("user"))
      .join(binned("frequency", "f_bin"), Seq("user"))
      .join(binned("monetary", "m_bin"), Seq("user"))
      .select(col("user"), col("recency_days"), col("frequency"),
        col("monetary"), col("r_bin"), col("f_bin"), col("m_bin"),
        (col("r_bin") * 100 + col("f_bin") * 10 + col("m_bin"))
          .cast(LongType).as("rfm_code"))
  }

  // ===== the survival grid ============================================

  /** The survival family's one duration collapse ([[kaplanMeier]],
    * [[nelsonAalen]], [[survivalTable]], [[logRank]] and
    * [[competingRisks]] all start here). Per user: t0 = first activity;
    * the spell ends at the first event whose type is in `targets`, and
    * `cause` k (1-based) names that target — an exact tie goes to the
    * earlier target in the list; a user with none is right-censored
    * at their last activity (cause 0). dur = calendar days from t0 to
    * the end of the spell. Users then collapse to the BOUNDED
    * per-duration grid (|distinct durations| ≤ the day span of the
    * log), and the grid to ONE row:
    *   - `arr`: the duration-sorted array of (dur, d1 … dK, c), the
    *     exact BIGINT event counts per cause and the censored count;
    *   - `n`: the number of users.
    * With `arm` (a per-user column; its smallest value is arm A, the
    * welchZ convention), every count splits into `_a` (arm A) and
    * `_b` (any other value; a NULL arm counts in neither), and the row
    * also carries the two arm values `ga` and `gb`.
    *
    * Scale shape: ONE user-keyed aggregate collapses the stream and
    * one duration-keyed aggregate collapses the users (with an arm,
    * one (duration, arm value)-keyed aggregate, packed into one row
    * whose extremes are `ga` and `gb`; the split by arm then folds
    * inside that row, so the users are read once); every later
    * recursion folds inside the single O(B²)-work array row
    * ([[gridFold]]) — no unpartitioned window over anything
    * unbounded. */
  private def survivalGrid(events: DataFrame, userCol: String,
      tsCol: String, typeCol: String, targets: Seq[String],
      arm: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val ts = col(tsCol)
    val firsts = targets.indices.map(k => col(s"t${k + 1}"))
    val perUser = events.groupBy(col(userCol).as("user"))
      .agg(min(ts).as("t0"), targets.zipWithIndex.map { case (t, k) =>
          min(when(col(typeCol) === t, ts)).as(s"t${k + 1}") } ++
        Seq(max(ts).as("tl")) ++ arm.map(a => min(col(a)).as("g")): _*)
    val first = if (firsts.size == 1) firsts.head else least(firsts: _*)
    val cause = firsts.zipWithIndex.foldRight(lit(0)) {
      case ((t, k), later) => when(t === first, lit(k + 1)).otherwise(later)
    }
    val spells = perUser.select(Seq(
      datediff(to_date(coalesce(first, col("tl"))), to_date(col("t0")))
        .cast(LongType).as("dur"),
      cause.as("cause")) ++ arm.map(_ => col("g")): _*)
    val outcomes = (1 to targets.size).map(k => s"d$k" -> k) :+ ("c" -> 0)
    val perOutcome = outcomes.map { case (o, k) =>
      sum(when(col("cause") === k, 1L).otherwise(0L)).as(o) }
    arm match {
      case None =>
        val fields = outcomes.map { case (o, _) => col(o) }
        spells.groupBy(col("dur")).agg(perOutcome.head, perOutcome.tail: _*)
          .agg(array_sort(collect_list(struct(col("dur") +: fields: _*)))
            .as("arr"), sum(fields.reduce(_ + _)).as("n"))
      case Some(_) =>
        val sides = Seq[(String, Column => Column)](
          "_a" -> (_ === col("ga")), "_b" -> (_ =!= col("ga")))
        val split = for ((o, _) <- outcomes; (s, side) <- sides) yield {
          val hit = (e: Column, d: Column) =>
            e.getField("dur") === d && side(e.getField("g"))
          (o + s) -> ((d: Column) => aggregate(
            filter(col("cells"), e => hit(e, d)), lit(0L),
            (a, e) => a + e.getField(o)))
        }
        val arr = array_sort(transform(
          array_distinct(transform(col("cells"), _.getField("dur"))),
          d => struct(d.as("dur") +:
            split.map { case (f, sumAt) => sumAt(d).as(f) }: _*)))
        val counts = outcomes.map { case (o, _) => col(o) }
        spells.groupBy(col("dur"), col("g"))
          .agg(perOutcome.head, perOutcome.tail: _*)
          .agg(collect_list(struct(col("dur") +: col("g") +: counts: _*))
              .as("cells"),
            // a user with a non-NULL arm is in arm A or arm B
            sum(when(col("g").isNotNull, counts.reduce(_ + _))
              .otherwise(0L)).as("n"),
            min(col("g")).as("ga"), max(col("g")).as("gb"))
          .select(arr.as("arr"), col("n"), col("ga"), col("gb"))
    }
  }

  /** The survival family's one prefix fold over a [[survivalGrid]]
    * array: sums `fields` over the elements before 0-based element `i`
    * (the durations strictly earlier — at-risk sets, S(t−)), or,
    * `inclusive`, up to and including it (running sums at t). BIGINT
    * counts add exactly. `dec` terms (sig9'd doubles) accumulate in
    * DECIMAL(25,15): (25,15) + (25,15) -> (26,15), so precision grows
    * but the SCALE survives (at (38,15) Spark would cap precision and
    * shave the 15th decimal, silently diverging from DuckDB's exact
    * window sum); the cast back to (25,15) is exact for these
    * magnitudes (a running sum is bounded by B·|term|max ≪ 10^10). */
  private def gridFold(arr: Column, i: Column, fields: Seq[String],
      inclusive: Boolean, dec: Boolean = false): Column = {
    import org.apache.spark.sql.types.DecimalType
    val acc: Column => Column =
      if (dec) _.cast(DecimalType(25, 15)) else identity
    aggregate(slice(arr, lit(1), if (inclusive) i + 1 else i),
      acc(lit(0L)),
      (a, e) => acc(fields.foldLeft(a)((s, f) => s + acc(e.getField(f)))))
  }

  /** Product-limit survival from a grid fold: 0.0 once any factor hit
    * exactly zero (`zeros` > 0; the log path would be -Inf), else
    * exp of the surfaced DECIMAL log-sum, sig9'd. */
  private def productLimit(zeros: Column, cumLog: Column): Column = {
    import graft.queries.Q
    when(zeros > 0, lit(0.0)).otherwise(Q.sig9(exp(Q.decOut(cumLog, 12))))
  }

  /** Kaplan-Meier survival curve of time-to-first-`targetType` — the
    * censoring-aware "how long until a user converts" estimator that
    * plain conversion rates get wrong (users who have not converted
    * YET are right-censored at their last activity, not failures).
    * Per user: duration = days from first event to first target event
    * (observed) or to last seen (censored); then at each distinct
    * duration t with d_t observed events and n_t at risk,
    * S(t) = ∏_{t' ≤ t} (1 − d_{t'}/n_{t'}).
    *
    * Plan: the KM columns of [[survivalTable]] — the grid is
    * [[survivalGrid]]'s, and the risk/product recursion folds inside
    * its single bounded array row ([[gridFold]]).
    *
    * Determinism: n/d/c are exact BIGINTs; each factor is one IEEE
    * division of exact-cast integers, its log sig9'd, the running sum
    * kept in DECIMAL(25,15) (order-free), and the final
    * exp(round-cast) sig9'd — the cusum/decay numeric contract. A
    * factor hitting exactly zero (n_t = d_t) pins survival to 0.0
    * from that duration on (the log path would be -Inf); the flag
    * propagates through the same inclusive prefix.
    *
    * @return one row per distinct duration: (dur_days, n_risk,
    *         n_events, n_censored, survival) */
  def kaplanMeier(events: DataFrame, userCol: String, tsCol: String,
      eventTypeCol: String, targetType: String): DataFrame =
    survivalTable(events, userCol, tsCol, eventTypeCol, targetType)
      .select("dur_days", "n_risk", "n_events", "n_censored", "survival")

  /** Restricted mean survival time (Royston & Parmar 2013; Uno et al.
    * 2014): RMST(τ) = ∫_0^τ S(t) dt over a [[kaplanMeier]] curve — the
    * clinically-robust "average days survived (converted-free) in the
    * first τ days", finite even when the median is never reached. The
    * KM step function integrates exactly: each step [t_{i−1}, t_i)
    * contributes S(t_{i−1})·(min(t_i,τ) − min(t_{i−1},τ)), plus the
    * tail S(t_n)·(τ − min(t_n,τ)); before the first step S = 1.
    *
    * Scale shape: the input is the already-bounded KM grid (≤ day-span
    * rows), packed into one array row; the previous-step lookup is an
    * element_at, the integral is a [[graft.queries.Q.dsumStable]] over
    * the bounded contributions. Each contribution is one IEEE multiply
    * of the sig9'd survival by an exact integer delta — bit-identical
    * on both engines.
    *
    * @param km  output of [[kaplanMeier]] (dur_days, survival, ...)
    * @param tau restriction horizon in days
    * @return one row: (tau_days, n_steps, rmst) */
  def rmst(km: DataFrame, tau: Long): DataFrame = {
    import org.apache.spark.sql.types.LongType
    import graft.queries.Q
    require(tau >= 0, s"rmst: tau must be >= 0, got $tau")
    val tl = lit(tau)
    val packed = km
      .select(col("dur_days").as("t"), col("survival").as("s"))
      .agg(array_sort(collect_list(struct(col("t"), col("s"))))
        .as("arr"))
    val last = element_at(col("arr"), size(col("arr")))
    val contribs = packed.select(
      size(col("arr")).cast(LongType).as("n_steps"),
      explode(concat(
        transform(col("arr"), (x, i) => {
          val pt = when(i === 0, lit(0L))
            .otherwise(element_at(col("arr"), i).getField("t"))
          val ps = when(i === 0, lit(1.0))
            .otherwise(element_at(col("arr"), i).getField("s"))
          ps * (least(x.getField("t"), tl) - least(pt, tl))
            .cast("double")
        }),
        // tail past the last step; an EMPTY curve means S = 1 on all
        // of [0, tau] (no subjects ever at risk is the degenerate
        // "everything survives" curve)
        when(size(col("arr")) === 0,
          array(lit(1.0) * tl.cast("double")))
          .otherwise(array(last.getField("s") *
            (tl - least(last.getField("t"), tl)).cast("double")))))
        .as("c"))
    contribs.groupBy(col("n_steps"))
      .agg(Q.dsumStable(col("c"), 13).as("rmst"))
      .select(lit(tau).cast(LongType).as("tau_days"), col("n_steps"),
        col("rmst"))
  }

  /** Grouped-time Cox proportional-hazards regression on one BINNED
    * covariate (Cox, JRSS-B 1972; Breslow ties) — the effect-size
    * member of the survival family: KM/Nelson–Aalen DESCRIBE the
    * curve, the log-rank TESTS two arms, Cox quantifies "one unit
    * more x multiplies the conversion hazard by e^beta", with
    * censoring handled correctly.
    *
    * Time is the integer duration grid (grouped-time Breslow, exactly
    * the KM grid) and the covariate is discretized to `xBins`
    * equi-width midpoints — so the partial-likelihood state collapses
    * to the BOUNDED (duration, x-bin) cell table and Newton–Raphson
    * runs entirely there: per iteration, risk-set sums S0/S1/S2(t) =
    * Σ_{t' >= t, b} n_{t',b} · x_b^k · e^{beta·x_b} come from one
    * range join of the bounded event-time frame against the bounded
    * cell frame, then U(beta) = Σ_t [Sx_t − D_t·S1/S0] and
    * I(beta) = Σ_t D_t·[S2/S0 − (S1/S0)²] are bounded folds, and
    * beta' = beta + U/I. A 100 TB log is scanned ONCE (the subject
    * collapse + cell aggregation); `iters` Newton steps cost zero
    * further passes.
    *
    * Determinism: cell counts exact BIGINTs; x midpoints sig9'd; each
    * e^{beta·x_b} sig9'd (the libm-step contract); every sum rides
    * [[graft.queries.Q.dsumStable]]; each ratio/update sig9'd — the
    * full Newton trajectory is bit-identical on both engines and
    * emitted row by row for adjudication.
    *
    * @param units one row per subject: duration, event indicator
    *              (1 = event, 0 = censored), covariate
    * @return one row per Newton iteration: (iter, beta, score, info)
    *         — beta AFTER the step; score/info evaluated at the
    *         pre-step beta */
  def coxPh(units: DataFrame, durCol: String, eventCol: String,
      xCol: String, xBins: Int = 8, iters: Int = 3): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    import graft.queries.Q
    require(xBins >= 1 && xBins <= 64,
      s"coxPh: xBins must be in [1, 64], got $xBins")
    require(iters >= 1 && iters <= 8,
      s"coxPh: iters must be in [1, 8], got $iters")
    val spark = units.sparkSession
    val u = units.select(col(durCol).cast(LongType).as("__t"),
        col(eventCol).cast(LongType).as("__e"),
        col(xCol).cast(DoubleType).as("__x"))
      .where(col("__t").isNotNull && col("__e").isNotNull &&
        col("__x").isNotNull)
    val mm = u.agg(min(col("__x")).as("__lo"), max(col("__x")).as("__hi"))
    val xb = when(col("__hi") === col("__lo"), lit(0L))
      .otherwise(least(lit((xBins - 1).toLong), greatest(lit(0L),
        floor((col("__x") - col("__lo")) /
          ((col("__hi") - col("__lo")) / xBins)).cast(LongType))))
    val xv = when(col("__hi") === col("__lo"), Q.sig9(col("__lo")))
      .otherwise(Q.sig9(col("__lo") +
        (col("__xb").cast(DoubleType) + lit(0.5)) *
          ((col("__hi") - col("__lo")) / xBins)))
    val cells = u.crossJoin(broadcast(mm))
      .select(col("__t"), col("__e"), xb.as("__xb"), col("__lo"),
        col("__hi"))
      .groupBy(col("__t"), col("__xb"), col("__lo"), col("__hi"))
      .agg(sum(col("__e")).cast(LongType).as("__d"),
        sum(lit(1L) - col("__e")).cast(LongType).as("__c"))
      .withColumn("__xv", xv)
      .select(col("__t"), col("__xb"), col("__xv"),
        col("__d"), col("__c"), (col("__d") + col("__c")).as("__cnt"))
      // bounded (durations x xBins); read every iteration
      .transform(Checkpoints.cut)
    val et = cells.groupBy(col("__t"))
      .agg(sum(col("__d")).cast(LongType).as("__dd"),
        Q.dsumStable(col("__d").cast(DoubleType) * col("__xv"), 6)
          .as("__sx"))
      .where(col("__dd") > 0L)
      .transform(Checkpoints.cut) // read every iteration
    var fit = spark.range(1).select(lit(0.0).as("beta"))
    val rows = (1 to iters).map { k =>
      val ew = cells.crossJoin(broadcast(fit))
        .withColumn("__ew", Q.sig9(exp(col("beta") * col("__xv"))))
      val rs = et.select(col("__t"), col("__dd"), col("__sx"))
        .join(ew.select(col("__t").as("__t2"), col("__cnt"),
          col("__xv"), col("__ew")), col("__t2") >= col("__t"))
        .groupBy(col("__t"), col("__dd"), col("__sx"))
        .agg(
          Q.dsumStable(col("__cnt").cast(DoubleType) * col("__ew"), 6)
            .as("__s0"),
          Q.dsumStable(col("__cnt").cast(DoubleType) * col("__xv") *
            col("__ew"), 6).as("__s1"),
          Q.dsumStable(col("__cnt").cast(DoubleType) * col("__xv") *
            col("__xv") * col("__ew"), 6).as("__s2"))
      val r1 = Q.sig9(col("__s1") / col("__s0"))
      val ui = rs
        .withColumn("__ut", col("__sx") -
          col("__dd").cast(DoubleType) * r1)
        .withColumn("__it", col("__dd").cast(DoubleType) *
          Q.sig9(Q.sig9(col("__s2") / col("__s0")) - r1 * r1))
        .agg(Q.dsumStable(col("__ut"), 6).as("score"),
          Q.dsumStable(col("__it"), 6).as("info"))
      // fit stays beta-only across iterations (no score/info collision)
      val stepped = ui.crossJoin(broadcast(fit))
        .select(when(col("info") =!= 0.0,
          Q.sig9(col("beta") + Q.sig9(col("score") / col("info"))))
          .otherwise(col("beta")).as("beta"),
          col("score"), col("info"))
        .transform(Checkpoints.cut) // one row; cuts the iteration lineage
      fit = stepped.select(col("beta"))
      stepped.select(lit(k.toLong).as("iter"), col("beta"), col("score"),
        col("info"))
    }
    rows.reduce(_ unionByName _)
  }

  /** Nelson–Aalen cumulative hazard — the additive sibling of
    * [[kaplanMeier]] over the SAME duration grid (first activity →
    * first `targetType`, right-censored at last activity): H(t) =
    * Σ_{t' ≤ t} d_{t'}/n_{t'}, its variance estimate Σ d/n², and the
    * Fleming–Harrington survival exp(−H) — preferred over KM when
    * risk sets are small (no zero-factor collapse: a duration where
    * everyone at risk converts adds a finite hazard increment of 1
    * where KM's product pins to 0).
    *
    * Plan: the Nelson–Aalen columns of [[survivalTable]] — the
    * [[survivalGrid]] collapse, and both running sums folded by
    * [[gridFold]] inside its single bounded array row.
    *
    * Determinism: d/n and d/n² are IEEE divisions of exact-cast
    * BIGINTs, each sig9'd; running sums accumulate in DECIMAL(25,15)
    * ([[gridFold]]'s accumulator) and surface via decOut(·,12); the FH
    * survival is one sig9'd exp over the surfaced cumulative hazard.
    *
    * @return one row per distinct duration: (dur_days, n_risk,
    *         n_events, n_censored, hazard, cum_hazard, cum_var,
    *         fh_survival) */
  def nelsonAalen(events: DataFrame, userCol: String, tsCol: String,
      eventTypeCol: String, targetType: String): DataFrame =
    survivalTable(events, userCol, tsCol, eventTypeCol, targetType)
      .select("dur_days", "n_risk", "n_events", "n_censored", "hazard",
        "cum_hazard", "cum_var", "fh_survival")

  /** One-plan survival table — the [[kaplanMeier]] curve AND the
    * [[nelsonAalen]] hazard over a SINGLE duration-grid scan: at
    * 100 TB the per-user collapse dominates both estimators, so the
    * dashboard that wants the KM curve next to the cumulative hazard
    * pays it once. The two standalone operators are column selections
    * of this table; `BehaviorSpec` pins their values against
    * hand-computed chains.
    *
    * Plan: [[survivalGrid]] with one target, then two passes over its
    * array row — at-risk counts from the exclusive [[gridFold]] plus
    * the per-duration terms, then the inclusive running sums.
    *
    * @return one row per distinct duration: (dur_days, n_risk,
    *         n_events, n_censored, survival, hazard, cum_hazard,
    *         cum_var, fh_survival) */
  def survivalTable(events: DataFrame, userCol: String, tsCol: String,
      eventTypeCol: String, targetType: String): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    import graft.queries.Q
    val packed = survivalGrid(events, userCol, tsCol, eventTypeCol,
      Seq(targetType))
    // pass 1: at-risk counts (exclusive prefix) + per-duration terms
    val withRisk = packed.select(
      transform(col("arr"), (x, i) => {
        val nRisk = col("n") -
          gridFold(col("arr"), i, Seq("d1", "c"), inclusive = false)
        val d = x.getField("d1")
        val nd = nRisk.cast(DoubleType)
        struct(x.getField("dur").as("dur"), d.as("d"),
          x.getField("c").as("c"), nRisk.as("n_risk"),
          when(d > 0 && nRisk > d, Q.sig9(log(
            (nRisk - d).cast(DoubleType) / nd)))
            .otherwise(lit(0.0)).as("term"),
          when(d > 0 && nRisk === d, 1L).otherwise(0L).as("hz"),
          when(d > 0, Q.sig9(d.cast(DoubleType) / nd))
            .otherwise(lit(0.0)).as("h"),
          when(d > 0, Q.sig9(d.cast(DoubleType) / (nd * nd)))
            .otherwise(lit(0.0)).as("v"))
      }).as("arr2"))
    // pass 2: inclusive running sums in exact decimal + zero flags
    val arr2 = col("arr2")
    def upTo(i: Column, f: String, dec: Boolean) =
      gridFold(arr2, i, Seq(f), inclusive = true, dec = dec)
    withRisk.select(explode(transform(arr2, (x, i) =>
      struct(x.getField("dur").as("dur"), x.getField("d").as("d"),
        x.getField("c").as("c"), x.getField("n_risk").as("n_risk"),
        x.getField("h").as("h"),
        upTo(i, "term", dec = true).as("cumlog"),
        upTo(i, "hz", dec = false).as("zeros"),
        upTo(i, "h", dec = true).as("ch"),
        upTo(i, "v", dec = true).as("cv"))))
      .as("r"))
      .select(col("r.dur").as("dur_days"),
        col("r.n_risk").cast(LongType).as("n_risk"),
        col("r.d").as("n_events"), col("r.c").as("n_censored"),
        productLimit(col("r.zeros"), col("r.cumlog")).as("survival"),
        col("r.h").as("hazard"),
        Q.decOut(col("r.ch"), 12).as("cum_hazard"),
        Q.decOut(col("r.cv"), 12).as("cum_var"),
        Q.sig9(exp(-Q.decOut(col("r.ch"), 12))).as("fh_survival"))
  }

  /** Per-user event-path n-gram mining — "what do users DO, in
    * order": the sequence generalization of [[transitions]] (n = 2)
    * for discovering common multi-step paths (view>click>purchase)
    * before funnel definitions exist. Paths are windows of `n`
    * consecutive events within a user's (ts, tieBreak)-ordered
    * stream; counts are exact BIGINTs and the support ratio is one
    * sig9'd division — no other float anywhere.
    *
    * Scale shape: one per-user window pass (bounded per user, the
    * SCD2 convention) building the n−1 leads, then ONE path-keyed
    * hash aggregate (map-side partial). `minCount` prunes the long
    * tail before the aggregate's shuffle emits it.
    *
    * @return per path: (path "a>b>c", n_occurrences, n_users,
    *         support = occurrences / total n-gram windows) */
  def pathCounts(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, n: Int = 3, minCount: Long = 1,
      tieBreak: Seq[String] = Nil): DataFrame = {
    import graft.queries.Q
    require(n >= 2 && n <= 8, s"n must be in [2, 8], got $n")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol))
      .orderBy((col(tsCol) +: tieBreak.map(col)).map(_.asc): _*)
    val steps = (0 until n).map {
      case 0 => col(typeCol).cast("string")
      case i => lead(col(typeCol).cast("string"), i).over(w)
    }
    val grams = events
      .where(col(typeCol).isNotNull) // concat_ws would silently skip
      .select(col(userCol).as("__u"),
        concat_ws(">", steps: _*).as("path"),
        steps.last.isNotNull.as("__full"))
      .where(col("__full")) // windows that run off the stream end drop
    val tot = grams.agg(count(lit(1)).cast("long").as("__t"))
    grams.groupBy(col("path"))
      .agg(count(lit(1)).cast("long").as("n_occurrences"),
        count_distinct(col("__u")).cast("long").as("n_users"))
      .where(col("n_occurrences") >= minCount)
      .crossJoin(broadcast(tot))
      .select(col("path"), col("n_occurrences"), col("n_users"),
        Q.sig9(col("n_occurrences").cast("double") /
          col("__t").cast("double")).as("support"))
  }

  /** Two-group log-rank test (Mantel–Cox) — does one arm convert
    * FASTER, accounting for censoring: the hypothesis-test companion
    * to [[kaplanMeier]]'s curves (and the survival member of the A/B
    * family: Welch compares means, this compares time-to-event
    * distributions under right censoring). Same duration construction
    * as KM: days from first activity to first `targetType`, censored
    * at last activity.
    *
    * At each distinct event time t: O_a accumulates group A's events;
    * E_a the expected count d_t·n_At/n_t under the null; V the
    * hypergeometric variance d·n_A·n_B·(n−d) / (n²(n−1)).
    * z = (O_a − E_a)/√V.
    *
    * Plan: [[survivalGrid]] with the arm column, so every count is
    * split by arm; the per-arm at-risk sets are exclusive
    * [[gridFold]]s inside its one bounded array row.
    *
    * Exactness: user collapses and per-duration counts are exact
    * BIGINTs; at-risk sets are exact; each E/V term computes its
    * integer products in DECIMAL(38,0) (exact below ~10⁹ at-risk
    * users), is sig9'd once, and folds left-to-right; z is one final
    * sig9'd IEEE chain.
    *
    * @param groupCol two-valued arm column (smallest value = group A,
    *        the welchZ convention); must be constant per user
    * @return ONE row: (group_a, group_b, n_users_a, n_users_b, o_a,
    *         e_a, v, z) — z NULL when V = 0 */
  def logRank(events: DataFrame, userCol: String, tsCol: String,
      eventTypeCol: String, targetType: String, groupCol: String)
      : DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    import graft.queries.Q
    val dec = DecimalType(38, 0)
    val armA = Seq("d1_a", "c_a")
    val armB = Seq("d1_b", "c_b")
    def users(fields: Seq[String]) = aggregate(col("arr"), lit(0L),
      (a, x) => fields.foldLeft(a)((s, f) => s + x.getField(f)))
    val packed = survivalGrid(events, userCol, tsCol, eventTypeCol,
        Seq(targetType), arm = Some(groupCol))
      .select(col("ga"), col("gb"), col("arr"), users(armA).as("ta"),
        users(armB).as("tb"))
    val terms = transform(col("arr"), (x, i) => {
      val na = col("ta") - gridFold(col("arr"), i, armA, inclusive = false)
      val nb = col("tb") - gridFold(col("arr"), i, armB, inclusive = false)
      val n = na + nb
      val d = x.getField("d1_a") + x.getField("d1_b")
      struct(
        x.getField("d1_a").as("oa"),
        when(d > 0 && n > 0, Q.sig9(
          (d.cast(dec) * na.cast(dec)).cast("double") /
            n.cast("double"))).otherwise(lit(0.0)).as("e"),
        when(d > 0 && n > 1, Q.sig9(
          (d.cast(dec) * na.cast(dec) * nb.cast(dec) *
            (n - d).cast(dec)).cast("double") /
            (n.cast(dec) * n.cast(dec) * (n - 1).cast(dec))
              .cast("double"))).otherwise(lit(0.0)).as("v"))
    })
    val withTerms = packed
      .select(col("ga"), col("gb"), col("ta"), col("tb"),
        aggregate(terms, lit(0L), (a, t) => a + t.getField("oa"))
          .as("o_a"),
        aggregate(terms, lit(0.0), (a, t) => a + t.getField("e"))
          .as("e_a"),
        aggregate(terms, lit(0.0), (a, t) => a + t.getField("v"))
          .as("v"))
    withTerms.select(col("ga").as("group_a"), col("gb").as("group_b"),
      col("ta").as("n_users_a"), col("tb").as("n_users_b"),
      col("o_a"), Q.sig9(col("e_a")).as("e_a"),
      Q.sig9(col("v")).as("v"),
      when(col("v") > 0, Q.sig9(
        (col("o_a").cast("double") - col("e_a")) / sqrt(col("v"))))
        .as("z"))
  }

  /** Markov removal-effect attribution (Anderl et al. 2014) — the
    * data-driven alternative to the positional [[TemporalJoins]]
    * multi-touch rules: model each user's channel journey as a
    * first-order Markov chain (START → channels → CONV/NULL absorbers)
    * and credit each channel by how much the chain's conversion
    * probability DROPS when the channel is removed (its transitions
    * redirected to NULL).
    *
    * Journey construction (window per user — bounded, the SCD2
    * convention): events ordered by (ts, tieBreak), truncated at the
    * first `convType` event (mapped to the CONV absorber); users who
    * never convert get a terminal → NULL transition. Transition
    * probabilities are sig9'd exact-count ratios.
    *
    * The chain solve runs on the COLLECTED transition matrix — a
    * bounded driver artifact (≤ (channels+3)² rows, the kmeans/PCA
    * convention): `iters` rounds of absorbing value iteration
    * p(s) ← Σ_dst T(s,dst)·p(dst) with p(CONV)=1, p(NULL)=0, terms
    * sig9'd and folded in dst-ascending order (left-to-right IEEE —
    * the sqlFold contract), so the whole trajectory adjudicates
    * cross-engine. Removing channel c = dropping terms with
    * src=c or dst=c (redirected mass multiplies p(NULL)=0).
    *
    * @param channels the channel state domain (declared by the
    *        caller — the oracle needs it static); must not contain
    *        the reserved START/CONV/NULL states or `convType`
    * @return one row per channel: (channel, p_conv, p_without,
    *         removal_effect, share) — NULL effect/share when the base
    *         chain converts with probability 0 */
  def markovAttribution(events: DataFrame, userCol: String,
      tsCol: String, typeCol: String, convType: String,
      channels: Seq[String], iters: Int = 12,
      tieBreak: Seq[String] = Nil): DataFrame = {
    import graft.functions.GraftMath.sig9
    require(iters >= 1 && iters <= 64,
      s"iters must be in [1, 64], got $iters")
    require(channels.nonEmpty, "declare at least one channel")
    val reserved = Set("START", "CONV", "NULL", convType)
    require(channels.forall(c => !reserved.contains(c)),
      s"channels must not contain reserved states $reserved")
    val spark = events.sparkSession
    import spark.implicits._

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol))
      .orderBy((col(tsCol) +: tieBreak.map(col)).map(_.asc): _*)
    val o = events
      .select(col(userCol).as("__u"), col(typeCol).as("__t"),
        row_number().over(w).as("rn"))
    val c = o.groupBy(col("__u"))
      .agg(min(when(col("__t") === convType, col("rn"))).as("conv_rn"),
        max(col("rn")).as("max_rn"))
    val f = o.join(c, "__u")
      .where(col("rn") <= coalesce(col("conv_rn"), col("max_rn")))
      .withColumn("state",
        when(col("__t") === convType, "CONV").otherwise(col("__t")))
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__u")).orderBy(col("rn").asc)
    val p1 = f.select(
      coalesce(lag(col("state"), 1).over(w2), lit("START")).as("src"),
      col("state").as("dst"))
    val p2 = f.where(col("conv_rn").isNull && col("rn") === col("max_rn"))
      .select(col("state").as("src"), lit("NULL").as("dst"))
    val tc = p1.unionByName(p2)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).cast("long").as("n"))
    val tt = tc.groupBy(col("src"))
      .agg(sum(col("n")).cast("long").as("n_out"))
    val tp = tc.join(tt, "src")
      .select(col("src"), col("dst"),
        graft.queries.Q.sig9(col("n").cast("double") /
          col("n_out").cast("double")).as("p"))

    // bounded driver artifact: the (channels+3)^2-max transition matrix
    val trans = tp.collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    def solve(exclude: Option[String]): Double = {
      val rows = trans
        .filter(t => exclude.forall(c => t._1 != c && t._2 != c))
      val bySrc = rows.groupBy(_._1).map { case (s, ts) =>
        s -> ts.sortBy(_._2).map(t => (t._2, t._3))
      }
      var v = Map.empty[String, Double]
      (1 to iters).foreach { _ =>
        v = bySrc.map { case (s, ts) =>
          s -> ts.foldLeft(0.0) { case (acc, (d, p)) =>
            val pd = d match {
              case "CONV" => 1.0
              case "NULL" => 0.0
              case x => v.getOrElse(x, 0.0)
            }
            acc + sig9(p * pd)
          }
        }
      }
      v.getOrElse("START", 0.0)
    }
    val pBase = solve(None)
    val perChannel = channels.sorted.map { ch =>
      val pw = solve(Some(ch))
      val re = if (pBase > 0) Some(sig9((pBase - pw) / pBase)) else None
      (ch, pw, re)
    }
    val sumRe = perChannel.foldLeft(0.0)((acc, t) =>
      acc + t._3.getOrElse(0.0))
    perChannel.map { case (ch, pw, re) =>
      (ch, sig9(pBase), sig9(pw), re,
        re.flatMap(r => if (sumRe > 0) Some(sig9(r / sumRe)) else None))
    }.toDF("channel", "p_conv", "p_without", "removal_effect", "share")
  }

  /** Exact Shapley-value channel attribution (Shapley 1953; the
    * coalition formulation for marketing touch sets, cf. Zhao et al.
    * 2018) — the third attribution lens beside [[TemporalJoins
    * .multiTouch]]'s linear split and [[markovAttribution]]'s removal
    * effects: each channel's credit is its average marginal lift over
    * every coalition, φ_c = Σ_{S∋c} (|S|−1)!(C−|S|)!/C! ·
    * (v(S) − v(S∖{c})), with the empirical coalition value
    * v(S) = conversion rate of users whose touched channel set is
    * EXACTLY S (unobserved sets value 0 — the standard empirical
    * game, documented).
    *
    * Journey semantics: a user's coalition is the set of DECLARED
    * channels appearing anywhere in their events; conversion = any
    * `convType` event. Channels are sorted before bit assignment so
    * the mask layout (and every tie) is caller-order independent.
    *
    * Scale shape: ONE user-keyed conditional aggregate collapses the
    * stream to per-user (mask, conv), one mask-keyed count collapses
    * that to ≤ 2^C rows — the bounded driver artifact (C ≤ 12
    * enforced ⇒ ≤ 4096 rows, the markovAttribution convention). The
    * 2^C·C Shapley lattice folds driver-side.
    *
    * Determinism: v(S) is one sig9 point over exact counts; each
    * Shapley term sig9(w·Δv) with w embedded as the same IEEE
    * literal on both engines (factorials ≤ 12! are exact doubles);
    * terms fold in ASCENDING MASK ORDER with plain double adds (the
    * markov list-fold convention), one final sig9.
    *
    * @return per channel: (channel, n_users, n_conv, shapley) */
  def shapleyAttribution(events: DataFrame, userCol: String,
      typeCol: String, convType: String,
      channels: Seq[String]): DataFrame = {
    import graft.functions.GraftMath.sig9
    val chs = channels.distinct.sorted
    require(chs.nonEmpty && chs.size <= 12,
      s"need 1..12 distinct channels, got ${chs.size}")
    require(!chs.contains(convType),
      s"channels must not contain the conversion type $convType")
    val c = chs.size
    val spark = events.sparkSession
    import spark.implicits._
    val aggs = chs.zipWithIndex.map { case (ch, i) =>
      max(when(col("__t") === ch, lit(1L << i)).otherwise(0L))
        .as(s"__b$i")
    } :+ max(when(col("__t") === convType, 1L).otherwise(0L))
      .as("__conv")
    val per = events
      .select(col(userCol).as("__u"), col(typeCol).as("__t"))
      .where(col("__u").isNotNull)
      .groupBy(col("__u"))
      .agg(aggs.head, aggs.tail: _*)
    val mask = chs.indices.map(i => col(s"__b$i")).reduce(_ + _)
    // bounded driver artifact: <= 2^C coalition rows
    val bySet = per.select(mask.as("mask"), col("__conv"))
      .groupBy(col("mask"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("__conv")).cast("long").as("nc"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val vMap = bySet.map { case (m, n, nc) =>
      m -> (if (n > 0) sig9(nc.toDouble / n.toDouble) else 0.0)
    }.toMap.withDefaultValue(0.0)
    def fact(k: Int): Double = (1 to k).foldLeft(1.0)(_ * _)
    val wBySize = (1 to c).map(s =>
      s -> fact(s - 1) * fact(c - s) / fact(c)).toMap
    val touched = chs.zipWithIndex.map { case (ch, i) =>
      val bit = 1L << i
      val hits = bySet.filter(t => (t._1 & bit) != 0)
      (ch, hits.map(_._2).sum, hits.map(_._3).sum)
    }
    val rows = touched.map { case (ch, nu, nc) =>
      val bit = 1L << chs.indexOf(ch)
      val phi = (0L until (1L << c)).foldLeft(0.0) { (acc, m) =>
        if ((m & bit) == 0) acc
        else acc + sig9(wBySize(java.lang.Long.bitCount(m)) *
          (vMap(m) - vMap(m - bit)))
      }
      (ch, nu, nc, sig9(phi))
    }
    rows.toDF("channel", "n_users", "n_conv", "shapley")
  }

  /** Competing-risks cumulative incidence (Aalen–Johansen, two
    * causes) — the third leg of the survival trio: when users can
    * exit by EITHER of two first events (convert vs churn-error),
    * 1 − KM(cause A alone) OVERSTATES A's incidence because it
    * treats B-exits as censoring. The CIF is the probability of
    * failing from cause k by t in the presence of the competitor:
    * CIF_k(t) = Σ_{t'≤t} S(t'−)·d_k(t')/n(t'), with S the
    * Kaplan–Meier survival of the COMBINED event. By construction
    * S(t) + CIF_A(t) + CIF_B(t) = 1 up to rounding (the spec pins
    * it).
    *
    * Grid semantics ([[kaplanMeier]]'s): per user t0 = first
    * activity, the FIRST of (first `typeA`, first `typeB`) wins
    * (exact-tie → A, deterministic and documented), right-censored
    * at last activity when neither occurs. With a `typeB` that never
    * occurs, n_risk, n_a and survival equal [[kaplanMeier]]'s bit for
    * bit (`SurvivalSuiteSpec` pins it).
    *
    * Plan: [[survivalGrid]] with two targets; risk sets, the combined
    * log-survival recursion, per-cause hazards and both incidence
    * folds are [[gridFold]]s inside its one bounded array row.
    *
    * Determinism: exact integer risk sets; each log factor / hazard
    * / S(t−)·h product is one sig9 point; running sums accumulate in
    * DECIMAL(25,15) ([[gridFold]]'s accumulator) and surface via
    * decOut(·,12); an everyone-exits duration pins S (and all later
    * S(t−) terms) to exactly 0.0 on both engines.
    *
    * @return one row per distinct duration: (dur_days, n_risk, n_a,
    *         n_b, n_censored, s_minus, survival, cif_a, cif_b) */
  def competingRisks(events: DataFrame, userCol: String, tsCol: String,
      eventTypeCol: String, typeA: String, typeB: String): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    import graft.queries.Q
    val packed = survivalGrid(events, userCol, tsCol, eventTypeCol,
      Seq(typeA, typeB))
    // pass 1: risk sets, combined-event log factors, per-cause hazards
    val p1 = packed.select(
      transform(col("arr"), (x, i) => {
        val nRisk = col("n") -
          gridFold(col("arr"), i, Seq("d1", "d2", "c"), inclusive = false)
        val da = x.getField("d1"); val db = x.getField("d2")
        val any = da + db
        val nd = nRisk.cast(DoubleType)
        struct(x.getField("dur").as("dur"), da.as("da"), db.as("db"),
          x.getField("c").as("c"), nRisk.as("n_risk"),
          when(any > 0 && nRisk > any, Q.sig9(log(
            (nRisk - any).cast(DoubleType) / nd)))
            .otherwise(lit(0.0)).as("term"),
          when(any > 0 && nRisk === any, 1L).otherwise(0L).as("hz"),
          when(da > 0, Q.sig9(da.cast(DoubleType) / nd))
            .otherwise(lit(0.0)).as("ha"),
          when(db > 0, Q.sig9(db.cast(DoubleType) / nd))
            .otherwise(lit(0.0)).as("hb"))
      }).as("arr2"))
    // pass 2: S(t−) from the EXCLUSIVE log prefix, S(t) inclusive,
    // and the per-duration incidence terms S(t−)·h_k
    val arr2 = col("arr2")
    def surv(i: Column, inclusive: Boolean) = productLimit(
      gridFold(arr2, i, Seq("hz"), inclusive),
      gridFold(arr2, i, Seq("term"), inclusive, dec = true))
    val p2 = p1.select(
      transform(arr2, (x, i) => {
        val sMinus = surv(i, inclusive = false)
        struct(x.getField("dur").as("dur"), x.getField("da").as("da"),
          x.getField("db").as("db"), x.getField("c").as("c"),
          x.getField("n_risk").as("n_risk"), sMinus.as("s_minus"),
          surv(i, inclusive = true).as("survival"),
          Q.sig9(sMinus * x.getField("ha")).as("term_a"),
          Q.sig9(sMinus * x.getField("hb")).as("term_b"))
      }).as("arr3"))
    // pass 3: inclusive running incidence sums in exact decimal
    val arr3 = col("arr3")
    def cif(i: Column, f: String) =
      gridFold(arr3, i, Seq(f), inclusive = true, dec = true)
    p2.select(explode(transform(arr3, (x, i) =>
      struct(x.getField("dur").as("dur"), x.getField("da").as("da"),
        x.getField("db").as("db"), x.getField("c").as("c"),
        x.getField("n_risk").as("n_risk"),
        x.getField("s_minus").as("s_minus"),
        x.getField("survival").as("survival"),
        cif(i, "term_a").as("ca"), cif(i, "term_b").as("cb"))))
      .as("r"))
      .select(col("r.dur").as("dur_days"),
        col("r.n_risk").cast(LongType).as("n_risk"),
        col("r.da").as("n_a"), col("r.db").as("n_b"),
        col("r.c").as("n_censored"), col("r.s_minus").as("s_minus"),
        col("r.survival").as("survival"),
        Q.decOut(col("r.ca"), 12).as("cif_a"),
        Q.decOut(col("r.cb"), 12).as("cif_b"))
  }

  /** Growth accounting — the DAU decomposition every growth team
    * reads first: each active day's users split into NEW (first-ever
    * active day), RETAINED (also active the previous day) and
    * RESURRECTED (previously active, but not yesterday), plus the
    * CHURNED count (active yesterday, not today — attributed to the
    * day they went missing, so a day after the last active day can
    * appear with dau 0) and the quick ratio
    * (new + resurrected) / churned.
    *
    * Scale shape: one (user, day) distinct collapse of the event
    * stream, one user-keyed min for first days, then the
    * yesterday-presence and churn checks are SELF equi-joins of the
    * per-day activity frame on (user, day±1) — every shuffle keys on
    * the user, nothing global, no window. The day grid frames that
    * meet in the final full outer join are bounded by the calendar.
    *
    * Determinism: every count is an exact BIGINT; the quick ratio is
    * one sig9'd IEEE division, NULL when nobody churned (launch days
    * — the conventional "infinite growth" readout).
    *
    * @return one row per day with activity or churn: (day, dau,
    *         n_new, n_retained, n_resurrected, n_churned,
    *         quick_ratio) */
  def growthAccounting(events: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    import graft.queries.Q
    val active = events
      .select(col(userCol).as("user"), to_date(col(tsCol)).as("day"))
      .where(col("user").isNotNull && col("day").isNotNull)
      .distinct()
      // reused by flags, yesterday and churn joins
      .transform(Checkpoints.cut)
    val first = active.groupBy(col("user"))
      .agg(min(col("day")).as("first_day"))
    val prev = active.select(col("user"),
      date_add(col("day"), 1).as("day"), lit(1).as("__p"))
    val byDay = active
      .join(first, Seq("user"))
      .join(prev, Seq("user", "day"), "left_outer")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("dau"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
          .as("n_new"),
        sum(when(col("day") =!= col("first_day") && col("__p").isNotNull,
          1L).otherwise(0L)).as("n_retained"),
        sum(when(col("day") =!= col("first_day") && col("__p").isNull,
          1L).otherwise(0L)).as("n_resurrected"))
    val churn = active
      .select(col("user"), date_add(col("day"), 1).as("day"))
      .join(active, Seq("user", "day"), "left_anti")
      .groupBy(col("day")).agg(count(lit(1)).as("n_churned"))
    byDay.join(churn, Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .withColumn("quick_ratio", when(col("n_churned") > 0,
        Q.sig9((col("n_new") + col("n_resurrected")).cast("double") /
          col("n_churned").cast("double"))))
  }

  /** Monthly stickiness — DAU/MAU, the engagement-depth scalar beside
    * [[growthAccounting]]'s composition: per calendar month, the
    * distinct monthly actives, the mean daily actives over the
    * month's OBSERVED active days, and their ratio (1.0 = everyone
    * active every observed day).
    *
    * Scale shape: the same (user, day) distinct collapse, then one
    * (month, day)-keyed count, one month-keyed re-aggregate and one
    * month-keyed distinct-user count — two bounded grouped frames
    * joined on the calendar-bounded month key. No window.
    *
    * Determinism: counts exact; avg_dau = sig9(Σ dau / n_days) one
    * IEEE division over exact BIGINTs, stickiness one sig9'd division
    * of that 9-digit value by the exact MAU (NULL only on an empty
    * frame, which returns no rows anyway).
    *
    * @return per month: (month, mau, n_days, avg_dau, stickiness) —
    *         month as 'yyyy-MM' */
  def stickiness(events: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    import graft.queries.Q
    val active = events
      .select(col(userCol).as("user"), to_date(col(tsCol)).as("day"))
      .where(col("user").isNotNull && col("day").isNotNull)
      .distinct()
      .withColumn("month", date_format(col("day"), "yyyy-MM"))
    val daily = active.groupBy(col("month"), col("day"))
      .agg(count(lit(1)).as("dau"))
      .groupBy(col("month"))
      .agg(sum(col("dau")).as("__sum_dau"),
        count(lit(1)).as("n_days"))
    val monthly = active.groupBy(col("month"))
      .agg(countDistinct(col("user")).as("mau"))
    monthly.join(daily, Seq("month"))
      .withColumn("avg_dau", Q.sig9(col("__sum_dau").cast("double") /
        col("n_days").cast("double")))
      .withColumn("stickiness", when(col("mau") > 0,
        Q.sig9(col("avg_dau") / col("mau").cast("double"))))
      .select("month", "mau", "n_days", "avg_dau", "stickiness")
  }
}
