package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class BehaviorSpec extends SparkSpec {
  import spark.implicits._

  // (user, type, ts) with ts as a plain long — both operators are
  // generic over the timestamp type; maxGap is then a long delta.
  private def ev(rows: (String, String, Long)*): DataFrame =
    rows.toDF("u", "et", "ts")

  private def funnelRows(df: DataFrame): Set[(String, Int, String, Long)] =
    Behavior.conversionFunnel(df, "u", "ts", "et",
        Seq("view", "click", "buy"), maxGap = Some(lit(100L)))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getLong(3))).toSet

  test("strict order: steps must occur after the previous step's time") {
    val f = funnelRows(ev(
      ("u1", "view", 10), ("u1", "click", 20), ("u1", "buy", 30),
      // u2 clicked BEFORE viewing — click doesn't count
      ("u2", "click", 5), ("u2", "view", 10),
      // u3 never clicked; the buy can't skip the click step
      ("u3", "view", 10), ("u3", "buy", 20)))
    assert(f === Set(
      ("u1", 0, "view", 10L), ("u1", 1, "click", 20L), ("u1", 2, "buy", 30L),
      ("u2", 0, "view", 10L),
      ("u3", 0, "view", 10L)))
  }

  test("maxGap cuts conversions; earliest qualifying event is chosen") {
    val f = funnelRows(ev(
      // click 150 after view — outside gap 100
      ("u1", "view", 10), ("u1", "click", 160),
      // two qualifying clicks — earliest (30) wins
      ("u2", "view", 10), ("u2", "click", 30), ("u2", "click", 50)))
    assert(f === Set(
      ("u1", 0, "view", 10L),
      ("u2", 0, "view", 10L), ("u2", 1, "click", 30L)))
  }

  test("first-touch attribution: later first-step events are not retried") {
    // view@10 -> no click within 100; view@200 -> click@210 would
    // convert, but first-touch pins the funnel to view@10.
    val f = funnelRows(ev(
      ("u1", "view", 10), ("u1", "view", 200), ("u1", "click", 210)))
    assert(f === Set(("u1", 0, "view", 10L)))
  }

  test("funnelSummary counts users per step with step-over-step conversion") {
    val s = Behavior.funnelSummary(Behavior.conversionFunnel(ev(
        ("u1", "view", 1), ("u1", "click", 2),
        ("u2", "view", 1), ("u2", "click", 2),
        ("u3", "view", 1),
        ("u4", "view", 1), ("u4", "click", 2), ("u4", "buy", 3)),
        "u", "ts", "et", Seq("view", "click", "buy")))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    assert(s === Set(
      (0, "view", 4L, None),
      (1, "click", 3L, Some(0.75)),
      (2, "buy", 1L, Some(1.0 / 3))))
  }

  test("retention: cohort by first day, offsets count distinct actives") {
    def ts(day: Int) = s"2024-01-0$day 12:00:00"
    val df = Seq(
      ("u1", ts(1)), ("u1", ts(2)), ("u1", ts(2)), // dup same day
      ("u2", ts(1)), ("u2", ts(3)),
      ("u3", ts(2)))
      .toDF("u", "s").withColumn("ts", to_timestamp(col("s")))
    val r = Behavior.retention(df, "u", "ts")
      .collect().map(x => (x.getDate(0).toString, x.getLong(1),
        x.getLong(2), x.getLong(3), x.getDouble(4))).toSet
    assert(r === Set(
      ("2024-01-01", 0L, 2L, 2L, 1.0),
      ("2024-01-01", 1L, 1L, 2L, 0.5),
      ("2024-01-01", 2L, 1L, 2L, 0.5),
      ("2024-01-02", 0L, 1L, 1L, 1.0)))
  }

  test("transitions count ordered adjacencies with per-source fractions") {
    val t = Behavior.transitions(ev(
        ("u1", "view", 1), ("u1", "click", 2), ("u1", "view", 3),
        ("u1", "click", 4),
        ("u2", "view", 1), ("u2", "buy", 2)),
        "u", "ts", "et")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(t === Set(
      ("view", "click", 2L, 2.0 / 3),
      ("view", "buy", 1L, 1.0 / 3),
      ("click", "view", 1L, 1.0)))
  }

  test("transitions break timestamp ties on the tieBreak column") {
    val df = Seq(("u1", "a", 1L, 10L), ("u1", "b", 2L, 10L),
      ("u1", "c", 3L, 20L)).toDF("u", "et", "seq", "ts")
    val t = Behavior.transitions(df, "u", "ts", "et", Seq("seq"))
      .select("from_type", "to_type").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(t === Set(("a", "b"), ("b", "c")))
  }

  test("decayedSum: zero age keeps the value; one half-life halves it") {
    val df = Seq(("u1", "2024-01-08 00:00:00", 10.0), // exactly 7d old
      ("u2", "2024-01-15 00:00:00", 8.0)) // zero age
      .toDF("u", "s", "value").withColumn("ts", to_timestamp(col("s")))
    val at = to_timestamp(lit("2024-01-15 00:00:00"))
    val r = Behavior.decayedSum(df, "u", "ts", "value",
        halfLifeSec = 7 * 86400.0, at = at)
      .collect().map(x => x.getString(0) -> (x.getDouble(1), x.getLong(2)))
      .toMap
    assert(r("u1") === ((5.0, 1L))) // 10 * exp(-ln2) sig9-rounds to 5
    assert(r("u2") === ((8.0, 1L)))
  }

  test("decayedSum folds multiple events per user order-independently") {
    val df = Seq(("u1", "2024-01-15 00:00:00", 2.0),
      ("u1", "2024-01-08 00:00:00", 4.0),
      ("u1", "2024-01-01 00:00:00", 8.0)) // 2 half-lives
      .toDF("u", "s", "value").withColumn("ts", to_timestamp(col("s")))
    val at = to_timestamp(lit("2024-01-15 00:00:00"))
    val r = Behavior.decayedSum(df, "u", "ts", "value", 7 * 86400.0, at)
      .collect().head
    assert(r.getDouble(1) === 2.0 + 2.0 + 2.0) // 2 + 4/2 + 8/4
    assert(r.getLong(2) === 3L)
  }

  test("plans are lint-clean (user/cohort-keyed shuffles only)") {
    val df = ev(("u1", "view", 10), ("u1", "click", 20))
    assert(PlanLint.clean(Behavior.conversionFunnel(df, "u", "ts", "et",
      Seq("view", "click"))))
    val tdf = Seq(("u1", "2024-01-01 00:00:00")).toDF("u", "s")
      .withColumn("ts", to_timestamp(col("s")))
    assert(PlanLint.clean(Behavior.retention(tdf, "u", "ts")))
  }

  test("empty steps are rejected") {
    intercept[IllegalArgumentException] {
      Behavior.conversionFunnel(ev(("u1", "view", 1)), "u", "ts", "et", Nil)
    }
  }

  test("ltv: cohort curves with exact decimal accumulation") {
    def ts(x: String) = java.sql.Timestamp.valueOf(x)
    val df = Seq(
      ("u1", ts("2024-01-01 10:00:00"), 10.0),
      ("u2", ts("2024-01-01 12:00:00"), 5.0),
      ("u1", ts("2024-01-02 09:00:00"), 2.5), // offset 1
      ("u3", ts("2024-01-02 11:00:00"), 7.0), // later cohort
      ("u2", ts("2024-01-03 11:00:00"), 1.0)) // offset 2
      .toDF("user_id", "ts", "v")
    val r = Behavior.ltv(df, "user_id", "ts", "v")
      .collect().map(x => (x.getDate(0).toString, x.getLong(1)) ->
        (x.getLong(2), x.getDouble(3), x.getDouble(4))).toMap
    assert(r(("2024-01-01", 0L)) === ((2L, 15.0, 15.0)))
    assert(r(("2024-01-01", 1L)) === ((1L, 2.5, 17.5)))
    assert(r(("2024-01-01", 2L)) === ((1L, 1.0, 18.5)))
    assert(r(("2024-01-02", 0L)) === ((1L, 7.0, 7.0)))
  }

  // ===== Kaplan-Meier =================================================

  /** Local replica of the documented numeric chain: sig9'd log
    * factors, exact decimal running sum, round(12)-cast, sig9(exp). */
  private def kmSurv(factors: Seq[(Long, Long)]): Seq[Double] = {
    import graft.functions.GraftMath.sig9
    var cum = BigDecimal(0)
    factors.map { case (nRisk, d) =>
      if (d > 0)
        cum += BigDecimal(sig9(math.log((nRisk - d).toDouble / nRisk)))
          .setScale(15, BigDecimal.RoundingMode.HALF_UP)
      sig9(math.exp(sig9( // decOut sig9s the round-cast before exp
        cum.setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    }
  }

  test("kaplanMeier: textbook curve with censoring and tied events") {
    def ts(x: String) = java.sql.Timestamp.valueOf(x + " 10:00:00")
    val df = Seq(
      // u1, u2 convert on day 2 (tied); u3 on day 5; u4, u5 censored
      ("u1", ts("2024-01-01"), "visit"), ("u1", ts("2024-01-03"), "purchase"),
      ("u2", ts("2024-01-01"), "visit"), ("u2", ts("2024-01-03"), "purchase"),
      ("u3", ts("2024-01-01"), "visit"), ("u3", ts("2024-01-06"), "purchase"),
      ("u4", ts("2024-01-01"), "visit"), ("u4", ts("2024-01-04"), "visit"),
      ("u5", ts("2024-01-01"), "visit"), ("u5", ts("2024-01-08"), "visit"))
      .toDF("user_id", "ts", "event_type").repartition(3)
    val got = Behavior.kaplanMeier(df, "user_id", "ts", "event_type",
        "purchase")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    // duration table: d=2 (2 events, risk 5), d=3 (censor, risk 3),
    // d=5 (1 event, risk 2), d=7 (censor, risk 1)
    val surv = kmSurv(Seq((5L, 2L), (3L, 0L), (2L, 1L), (1L, 0L)))
    assert(got(2L) === ((5L, 2L, 0L, surv(0))))
    assert(got(3L) === ((3L, 0L, 1L, surv(1))))
    assert(got(5L) === ((2L, 1L, 0L, surv(2))))
    assert(got(7L) === ((1L, 0L, 1L, surv(3))))
    // sanity: the curve is ~0.6 then ~0.3
    assert(math.abs(got(2L)._4 - 0.6) < 1e-9)
    assert(math.abs(got(5L)._4 - 0.3) < 1e-9)
  }

  // ===== Nelson-Aalen =================================================

  /** Local replica of the NA chain: sig9'd d/n and d/n² terms, exact
    * decimal running sums, decOut(·,12), sig9(exp(−H)). */
  private def naChain(grid: Seq[(Long, Long)])
      : Seq[(Double, Double, Double, Double)] = {
    import graft.functions.GraftMath.sig9
    var ch = BigDecimal(0); var cv = BigDecimal(0)
    def out(x: BigDecimal) =
      sig9(x.setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble)
    grid.map { case (nRisk, d) =>
      val h = if (d > 0) sig9(d.toDouble / nRisk) else 0.0
      val v = if (d > 0) sig9(d.toDouble / (nRisk.toDouble * nRisk))
        else 0.0
      ch += BigDecimal(h).setScale(15, BigDecimal.RoundingMode.HALF_UP)
      cv += BigDecimal(v).setScale(15, BigDecimal.RoundingMode.HALF_UP)
      (h, out(ch), out(cv), sig9(math.exp(-out(ch))))
    }
  }

  test("nelsonAalen: additive hazard over the KM grid, censoring and " +
      "tied events") {
    def ts(x: String) = java.sql.Timestamp.valueOf(x + " 10:00:00")
    val df = Seq(
      ("u1", ts("2024-01-01"), "visit"), ("u1", ts("2024-01-03"), "purchase"),
      ("u2", ts("2024-01-01"), "visit"), ("u2", ts("2024-01-03"), "purchase"),
      ("u3", ts("2024-01-01"), "visit"), ("u3", ts("2024-01-06"), "purchase"),
      ("u4", ts("2024-01-01"), "visit"), ("u4", ts("2024-01-04"), "visit"),
      ("u5", ts("2024-01-01"), "visit"), ("u5", ts("2024-01-08"), "visit"))
      .toDF("user_id", "ts", "event_type").repartition(3)
    val got = Behavior.nelsonAalen(df, "user_id", "ts", "event_type",
        "purchase")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6), r.getDouble(7))))
      .toMap
    // grid: dur2 (d=2,n=5), dur3 (censor,n=3), dur5 (d=1,n=2),
    // dur7 (censor,n=1)
    val e = naChain(Seq((5L, 2L), (3L, 0L), (2L, 1L), (1L, 0L)))
    assert(got(2L) === ((5L, 2L, 0L, e(0)._1, e(0)._2, e(0)._3, e(0)._4)))
    assert(got(3L) === ((3L, 0L, 1L, 0.0, e(1)._2, e(1)._3, e(1)._4)))
    assert(got(5L) === ((2L, 1L, 0L, e(2)._1, e(2)._2, e(2)._3, e(2)._4)))
    assert(got(7L) === ((1L, 0L, 1L, 0.0, e(3)._2, e(3)._3, e(3)._4)))
    // sanity: H = 0.4 then 0.9; FH survival stays strictly positive
    assert(math.abs(got(2L)._5 - 0.4) < 1e-12)
    assert(math.abs(got(5L)._5 - 0.9) < 1e-12)
  }

  test("nelsonAalen: everyone-converts duration adds a finite hazard " +
      "increment where KM pins to zero") {
    def ts(x: String) = java.sql.Timestamp.valueOf(x + " 10:00:00")
    val df = Seq(
      ("a", ts("2024-01-01"), "visit"), ("a", ts("2024-01-02"), "purchase"),
      ("b", ts("2024-01-01"), "visit"), ("b", ts("2024-01-02"), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val got = Behavior.nelsonAalen(df, "user_id", "ts", "event_type",
        "purchase")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(4), r.getDouble(5), r.getDouble(7)))).toMap
    import graft.functions.GraftMath.sig9
    // n_risk = d = 2 at dur 1: h = 1.0, H = 1.0, exp(-1) > 0
    assert(got === Map(1L -> ((1.0, 1.0, sig9(math.exp(-1.0))))))
  }

  test("rfm: exact dimensions, tie-stable ascending bins, combined code") {
    def ts(x: String) = java.sql.Timestamp.valueOf(x + " 10:00:00")
    // 4 purchasers; u4's noise events must not count
    val df = Seq(
      ("u1", ts("2024-01-10"), "purchase", 10.0),
      ("u1", ts("2024-01-20"), "purchase", 30.0),
      ("u2", ts("2024-01-05"), "purchase", 5.0),
      ("u3", ts("2024-01-18"), "purchase", 100.0),
      ("u3", ts("2024-01-19"), "purchase", 100.0),
      ("u3", ts("2024-01-20"), "purchase", 100.0),
      ("u4", ts("2024-01-01"), "purchase", 1.0),
      ("u4", ts("2024-01-25"), "view", 999.0))
      .toDF("user_id", "ts", "event_type", "value").repartition(3)
    val got = graft.ext.Behavior.rfm(df, "user_id", "ts", "event_type",
        "purchase", "value", bins = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    // last purchase day overall = 01-20; recency: u1 0, u2 15, u3 0, u4 19
    // bins of recency {0,0,15,19}: n_below 0,0 -> bin0; 2,3 -> bin1
    // frequency {2,1,3,1}: 1s bin0; 2 -> nb2*2/4=1; 3 -> bin1
    // monetary {40,5,300,1}: 1,5 bin0; 40,300 bin1
    assert(got("u1") === ((0L, 2L, 40.0, 0L, 1L, 1L, 11L)))
    assert(got("u2") === ((15L, 1L, 5.0, 1L, 0L, 0L, 100L)))
    assert(got("u3") === ((0L, 3L, 300.0, 0L, 1L, 1L, 11L)))
    assert(got("u4") === ((19L, 1L, 1.0, 1L, 0L, 0L, 100L)))
  }

  test("kaplanMeier: a zero factor pins survival to 0.0, no -Inf log") {
    def ts(x: String) = java.sql.Timestamp.valueOf(x + " 10:00:00")
    val df = Seq(
      ("a", ts("2024-01-01"), "visit"), ("a", ts("2024-01-02"), "purchase"),
      ("b", ts("2024-01-01"), "visit"), ("b", ts("2024-01-02"), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val got = Behavior.kaplanMeier(df, "user_id", "ts", "event_type",
        "purchase")
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(got === Map(1L -> 0.0)) // n_risk = d = 2 at dur 1
  }

  test("timeToConvert: exact micro deltas, discrete ceil(q*n) order " +
      "stats, per-step independence") {
    import java.sql.Timestamp
    def ts(min: Long) = Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z")
        .plusSeconds(min * 60))
    // 5 users enter at t=0; clicks at +1..+5 min; user 1 purchases +10
    val rows = (1 to 5).flatMap { u =>
      Seq((u.toLong, ts(0), "view"), (u.toLong, ts(u.toLong), "click"))
    } :+ (1L, ts(10), "purchase")
    val got = Behavior.timeToConvert(
      rows.toDF("user_id", "ts", "event_type").repartition(3),
      "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val m = 60L * 1000000L
    // click deltas {1..5} min: n=5 -> p50 = 3rd smallest, p90 = 5th
    assert(got(1L) == ((5L, 3 * m, 5 * m, 5 * m)))
    // purchase: single user at +10 min
    assert(got(2L) == ((1L, 10 * m, 10 * m, 10 * m)))
  }

  // ===== event-path n-grams ===========================================

  test("pathCounts: trigrams respect per-user (ts, tie) order, " +
      "min-count prunes, support divides by total windows") {
    import graft.functions.GraftMath.sig9
    val ev = Seq(
      (1L, 1L, "a", 1L), (1L, 2L, "b", 2L), (1L, 3L, "c", 3L),
      (1L, 4L, "d", 4L),
      (2L, 1L, "a", 5L), (2L, 2L, "b", 6L), (2L, 3L, "c", 7L))
      .toDF("u", "ts", "t", "eid")
    val all = Behavior.pathCounts(ev, "u", "ts", "t", n = 3,
        minCount = 1, tieBreak = Seq("eid"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // windows: u1 -> a>b>c, b>c>d; u2 -> a>b>c (3 total)
    assert(all.keySet == Set("a>b>c", "b>c>d"))
    assert(all("a>b>c") == ((2L, 2L, sig9(2.0 / 3.0))))
    assert(all("b>c>d") == ((1L, 1L, sig9(1.0 / 3.0))))
    val pruned = Behavior.pathCounts(ev, "u", "ts", "t", n = 3,
      minCount = 2, tieBreak = Seq("eid"))
    assert(pruned.collect().map(_.getString(0)).toSeq == Seq("a>b>c"))
    // same-ts events order by the tie column
    val tie = Seq((9L, 1L, "x", 2L), (9L, 1L, "y", 1L),
      (9L, 2L, "z", 3L)).toDF("u", "ts", "t", "eid")
    val got = Behavior.pathCounts(tie, "u", "ts", "t", n = 3,
      minCount = 1, tieBreak = Seq("eid"))
    assert(got.collect().map(_.getString(0)).toSeq == Seq("y>x>z"))
  }

  // ===== log-rank test ================================================

  test("logRank: O/E/V follow the exact hypergeometric chain over the " +
      "duration grid; identical-behavior arms give z = 0") {
    import graft.functions.GraftMath.sig9
    import java.sql.Timestamp
    def t(day: Int) = Timestamp.valueOf(f"2024-01-${day + 1}%02d 00:00:00")
    // arm 0 (users 2, 4): events at dur 1 and 2; arm 1 (users 1, 3):
    // event at dur 3, censored at dur 4
    val ev = Seq(
      (2L, t(0), "click"), (2L, t(1), "purchase"),
      (4L, t(0), "click"), (4L, t(2), "purchase"),
      (1L, t(0), "click"), (1L, t(3), "purchase"),
      (3L, t(0), "click"), (3L, t(4), "click"))
      .toDF("u", "ts", "et")
      .withColumn("grp", col("u") % 2)
    val r = Behavior.logRank(ev, "u", "ts", "et", "purchase", "grp")
      .head()
    assert(r.getAs[Long]("group_a") == 0L &&
      r.getAs[Long]("group_b") == 1L)
    assert(r.getAs[Long]("n_users_a") == 2L &&
      r.getAs[Long]("n_users_b") == 2L)
    assert(r.getAs[Long]("o_a") == 2L)
    // t=1: e=2/4, v=1*2*2*3/(4*4*3); t=2: e=1/3, v=1*1*2*2/(9*2);
    // t=3: na=0 -> e=0, v=0; t=4: censoring only -> no term
    val eRaw = sig9(0.5) + sig9(1.0 / 3.0) + 0.0
    val vRaw = sig9(0.25) + sig9(2.0 / 9.0) + 0.0
    assert(r.getAs[Double]("e_a") == sig9(eRaw))
    assert(r.getAs[Double]("v") == sig9(vRaw))
    assert(r.getAs[Double]("z") ==
      sig9((2.0 - eRaw) / math.sqrt(vRaw)))
    // symmetric arms: expected equals observed -> z exactly 0
    val sym = Seq(
      (2L, t(0), "click"), (2L, t(1), "purchase"),
      (1L, t(0), "click"), (1L, t(1), "purchase"))
      .toDF("u", "ts", "et").withColumn("grp", col("u") % 2)
    val rs = Behavior.logRank(sym, "u", "ts", "et", "purchase", "grp")
      .head()
    assert(rs.getAs[Double]("z") == 0.0)
  }

  // ===== Markov removal-effect attribution ============================

  test("markovAttribution: removal effects follow the absorbing-chain " +
      "arithmetic; shares normalize over the declared channels") {
    import spark.implicits._
    // u1: a -> purchase; u2: a -> b (never converts); u3: b -> purchase
    // T: START->{a 2/3, b 1/3}; a->{CONV 1/2, b 1/2};
    //    b->{CONV 1/2, NULL 1/2}
    // P = 2/3·(1/2 + 1/2·1/2) + 1/3·1/2 = 2/3
    // remove a: P = 1/3·1/2 = 1/6 -> RE 3/4; remove b: 2/3·1/2 -> RE 1/2
    val ev = Seq(
      (1L, 1L, "a", 1L), (1L, 2L, "purchase", 2L),
      (2L, 1L, "a", 3L), (2L, 2L, "b", 4L),
      (3L, 1L, "b", 5L), (3L, 2L, "purchase", 6L))
      .toDF("u", "ts", "t", "eid")
    val got = Behavior.markovAttribution(ev, "u", "ts", "t",
        convType = "purchase", channels = Seq("a", "b", "c"),
        tieBreak = Seq("eid"))
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Double]("p_conv"), r.getAs[Double]("p_without"),
          r.getAs[Double]("removal_effect"), r.getAs[Double]("share"))))
      .toMap
    assert(got.keySet == Set("a", "b", "c"))
    def near(x: Double, y: Double) = math.abs(x - y) < 1e-7
    assert(near(got("a")._1, 2.0 / 3.0))
    assert(near(got("a")._2, 1.0 / 6.0))
    assert(near(got("a")._3, 0.75))
    assert(near(got("b")._2, 1.0 / 3.0))
    assert(near(got("b")._3, 0.5))
    // absent channel: removing it changes nothing
    assert(got("c")._3 == 0.0 && near(got("c")._2, 2.0 / 3.0))
    // shares: 0.75 : 0.5 : 0 -> 0.6 / 0.4 / 0
    assert(near(got("a")._4, 0.6) && near(got("b")._4, 0.4))
    assert(got("c")._4 == 0.0)
  }

  test("markovAttribution: purchase-first journeys feed START->CONV; " +
      "deterministic across re-runs and partitionings") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, "purchase", 1L),
      (2L, 1L, "a", 2L), (2L, 2L, "purchase", 3L),
      (3L, 1L, "a", 4L))
      .toDF("u", "ts", "t", "eid")
    def run(parts: Int) = Behavior.markovAttribution(
        ev.repartition(parts), "u", "ts", "t", "purchase", Seq("a"),
        tieBreak = Seq("eid"))
      .collect().map(r => (r.getString(0), r.getAs[Double]("p_conv"),
        r.getAs[Double]("removal_effect"))).toSeq
    val r1 = run(1)
    assert(r1 === run(6))
    // P = 1/3·1 + 2/3·(1/2) = 2/3; removing a leaves START->CONV 1/3
    assert(math.abs(r1.head._2 - 2.0 / 3.0) < 1e-7)
    assert(math.abs(r1.head._3 - 0.5) < 1e-7)
    // reserved states rejected
    intercept[IllegalArgumentException] {
      Behavior.markovAttribution(ev, "u", "ts", "t", "purchase",
        Seq("CONV"))
    }
  }

  test("shapleyAttribution: hand 2-channel lattice, efficiency " +
      "identity, channel-order invariance") {
    import spark.implicits._
    val ev = Seq(
      ("u1", "a"), ("u1", "buy"),
      ("u2", "a"),
      ("u3", "a"), ("u3", "b"), ("u3", "buy"),
      ("u4", "b"),
      ("u5", "buy")) // empty coalition converts -> v(empty) = 1
      .toDF("u", "t")
    def run(chs: Seq[String]) =
      Behavior.shapleyAttribution(ev, "u", "t", "buy", chs)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val got = run(Seq("a", "b"))
    assert(got === run(Seq("b", "a"))) // sorted-bit invariance
    // v(0)=1, v(a)=1/2, v(b)=0, v(ab)=1; w(1)=w(2)=1/2
    // phi_a = .5(.5-1) + .5(1-0) = .25 ; phi_b = .5(0-1)+.5(1-.5)=-.25
    def near(x: Double, y: Double) = math.abs(x - y) < 1e-9
    assert(got("a")._1 == 3L && got("a")._2 == 2L)
    assert(got("b")._1 == 2L && got("b")._2 == 1L)
    assert(near(got("a")._3, 0.25) && near(got("b")._3, -0.25))
    // efficiency: sum phi = v(full) - v(empty) = 0
    assert(near(got("a")._3 + got("b")._3, 0.0))
  }

  test("shapleyAttribution: unobserved coalitions value 0 (the " +
      "empirical game), reserved conv type rejected") {
    import spark.implicits._
    val ev = Seq(("u1", "a"), ("u1", "buy"), ("u2", "b"), ("u2", "buy"))
      .toDF("u", "t")
    val got = Behavior.shapleyAttribution(ev, "u", "t", "buy",
        Seq("a", "b"))
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    // v(a)=v(b)=1, v(0)=v(ab)=0 -> both marginals cancel exactly
    assert(got("a") == 0.0 && got("b") == 0.0)
    intercept[IllegalArgumentException] {
      Behavior.shapleyAttribution(ev, "u", "t", "buy", Seq("buy", "a"))
    }
  }

  test("competingRisks: hand Aalen-Johansen curves; ties go to cause " +
      "A; S + CIF_A + CIF_B = 1 at every duration") {
    import spark.implicits._
    val ev = Seq(
      ("u1", "view", "2024-01-01"), ("u1", "purchase", "2024-01-03"),
      ("u2", "view", "2024-01-01"), ("u2", "error", "2024-01-02"),
      ("u3", "view", "2024-01-01"), ("u3", "view", "2024-01-04"),
      ("u4", "view", "2024-01-01"), ("u4", "purchase", "2024-01-02"),
      // u5: purchase and error at the SAME instant -> A wins
      ("u5", "view", "2024-01-01"), ("u5", "purchase", "2024-01-02"),
      ("u5", "error", "2024-01-02"))
      .toDF("u", "et", "d")
      .select(col("u"), col("et"), to_timestamp(col("d")).as("ts"))
    val got = Behavior.competingRisks(ev, "u", "ts", "et",
        "purchase", "error")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6), r.getDouble(7),
          r.getDouble(8)))
      .toMap
    def near(x: Double, y: Double) = math.abs(x - y) < 1e-7
    // dur 1: risk 5, dA=2 (u4 + tie-win u5), dB=1, S- = 1
    val d1 = got(1L)
    assert((d1._1, d1._2, d1._3, d1._4) === (5L, 2L, 1L, 0L))
    assert(near(d1._5, 1.0) && near(d1._6, 0.4) &&
      near(d1._7, 0.4) && near(d1._8, 0.2))
    // dur 2: risk 2, dA=1; S- = 0.4 -> CIF_A += 0.4*0.5
    val d2 = got(2L)
    assert((d2._1, d2._2, d2._3, d2._4) === (2L, 1L, 0L, 0L))
    assert(near(d2._5, 0.4) && near(d2._6, 0.2) &&
      near(d2._7, 0.6) && near(d2._8, 0.2))
    // dur 3: pure censoring -> curves carry
    val d3 = got(3L)
    assert((d3._1, d3._2, d3._3, d3._4) === (1L, 0L, 0L, 1L))
    assert(near(d3._6, 0.2) && near(d3._7, 0.6) && near(d3._8, 0.2))
    // the AJ identity at every duration
    got.values.foreach { v => assert(near(v._6 + v._7 + v._8, 1.0)) }
  }

  test("survival family on empty input: the four grid operators " +
      "return no rows, logRank its one zero row; schemas unchanged") {
    val empty = Seq.empty[(String, java.sql.Timestamp, String, Long)]
      .toDF("u", "ts", "et", "grp")
    val grid = Seq(
      Behavior.kaplanMeier(empty, "u", "ts", "et", "purchase") ->
        Seq("dur_days", "n_risk", "n_events", "n_censored", "survival"),
      Behavior.nelsonAalen(empty, "u", "ts", "et", "purchase") ->
        Seq("dur_days", "n_risk", "n_events", "n_censored", "hazard",
          "cum_hazard", "cum_var", "fh_survival"),
      Behavior.survivalTable(empty, "u", "ts", "et", "purchase") ->
        Seq("dur_days", "n_risk", "n_events", "n_censored", "survival",
          "hazard", "cum_hazard", "cum_var", "fh_survival"),
      Behavior.competingRisks(empty, "u", "ts", "et", "purchase",
        "error") ->
        Seq("dur_days", "n_risk", "n_a", "n_b", "n_censored", "s_minus",
          "survival", "cif_a", "cif_b"))
    grid.foreach { case (df, cols) =>
      assert(df.columns.toSeq === cols)
      assert(df.collect().isEmpty, cols.mkString(","))
    }
    val lr = Behavior.logRank(empty, "u", "ts", "et", "purchase", "grp")
    assert(lr.columns.toSeq === Seq("group_a", "group_b", "n_users_a",
      "n_users_b", "o_a", "e_a", "v", "z"))
    val rows = lr.collect()
    assert(rows.length === 1)
    val r = rows(0)
    assert(r.isNullAt(0) && r.isNullAt(1)) // no arms seen
    assert(r.getAs[Long]("n_users_a") == 0L &&
      r.getAs[Long]("n_users_b") == 0L && r.getAs[Long]("o_a") == 0L)
    assert(r.getAs[Double]("e_a") == 0.0 && r.getAs[Double]("v") == 0.0)
    assert(r.isNullAt(7)) // z is NULL when V = 0
  }

  test("competingRisks: an everyone-exits duration pins S and all " +
      "later S(t-) terms to exactly 0") {
    import spark.implicits._
    val ev = Seq(
      ("a", "view", "2024-01-01"), ("a", "purchase", "2024-01-02"),
      ("b", "view", "2024-01-01"), ("b", "error", "2024-01-02"),
      // c censors LATER than the exit day, so dur 2 empties the
      // risk set of day-1 exits only after c leaves at dur 3
      ("c", "view", "2024-01-01"), ("c", "view", "2024-01-03"),
      ("d", "view", "2024-01-01"), ("d", "purchase", "2024-01-04"))
      .toDF("u", "et", "d")
      .select(col("u"), col("et"), to_timestamp(col("d")).as("ts"))
    val rows = Behavior.competingRisks(ev, "u", "ts", "et",
        "purchase", "error")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(5), r.getDouble(6))).toMap
    // dur 3: d exits alone, n_risk = d only... the last at-risk user
    // exits by A -> survival exactly 0; the row reports s_minus > 0
    assert(rows(3L)._2 == 0.0)
    assert(rows(3L)._1 > 0.0)
  }

  test("growthAccounting: new/retained/resurrected/churned decompose " +
      "DAU; churn lands on the missing day incl. past the last") {
    import spark.implicits._
    // u1: d1, d2, d4 (new, retained, churn d3, resurrected d4)
    // u2: d1 only (new, churn d2)
    // u3: d2, d3 (new, retained, churn d4)
    val ev = Seq(
      ("u1", "2024-01-01"), ("u1", "2024-01-02"), ("u1", "2024-01-04"),
      ("u1", "2024-01-01"), // duplicate event same day — must collapse
      ("u2", "2024-01-01"),
      ("u3", "2024-01-02"), ("u3", "2024-01-03"))
      .toDF("u", "d").select(col("u"), to_timestamp(col("d")).as("ts"))
    val got = Behavior.growthAccounting(ev, "u", "ts")
      .collect().map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), Option(r.get(6)).map(_.asInstanceOf[Double])))
      .toMap
    assert(got("2024-01-01") === (2L, 2L, 0L, 0L, 0L, None))
    assert(got("2024-01-02") === (2L, 1L, 1L, 0L, 1L, Some(1.0)))
    assert(got("2024-01-03") === (1L, 0L, 1L, 0L, 1L, Some(0.0)))
    assert(got("2024-01-04") === (1L, 0L, 0L, 1L, 1L, Some(1.0)))
    // day past the last active day: dau 0, only churn
    assert(got("2024-01-05") === (0L, 0L, 0L, 0L, 1L, Some(0.0)))
    assert(got.size === 5)
    // per-day composition always sums to dau
    got.values.foreach { case (dau, n, r, s, _, _) =>
      assert(n + r + s === dau)
    }
  }

  test("stickiness: DAU/MAU per month over observed active days") {
    import spark.implicits._
    val ev = Seq(
      ("a", "2024-01-01"), ("b", "2024-01-01"), ("a", "2024-01-02"),
      ("a", "2024-01-02"), // same-day duplicate collapses
      ("c", "2024-02-10"))
      .toDF("u", "d").select(col("u"), to_timestamp(col("d")).as("ts"))
    val got = Behavior.stickiness(ev, "u", "ts")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    // Jan: mau 2, days 2, dau sum 3 -> avg 1.5, stickiness .75
    assert(got("2024-01") === (2L, 2L, 1.5, 0.75))
    // Feb: single user single day -> everything 1.0
    assert(got("2024-02") === (1L, 1L, 1.0, 1.0))
  }

  test("seqPatterns: hand-counted trigrams with user support") {
    // u1: A B C A B C -> ABC, BCA, CAB, ABC; u2: A B C -> ABC
    val rows =
      Seq("A", "B", "C", "A", "B", "C").zipWithIndex.map { case (t, i) =>
        (1L, f"2024-01-01 00:0$i%01d:00", t)
      } ++ Seq("A", "B", "C").zipWithIndex.map { case (t, i) =>
        (2L, f"2024-01-01 00:0$i%01d:00", t)
      }
    val df = rows.toDF("u", "s", "t")
      .withColumn("ts", to_timestamp(col("s")))
    val out = Behavior.seqPatterns(df, "u", "ts", "t", minUsers = 2L)
      .collect()
    assert(out.length === 1)
    val r = out(0)
    assert((r.getString(0), r.getString(1), r.getString(2)) ===
      (("A", "B", "C")))
    assert((r.getLong(3), r.getLong(4)) === ((2L, 3L)))
    assert(r.getDouble(5) === 1.0) // both users support it
  }

  test("seqPatterns: minUsers prunes single-user sequences") {
    val rows = Seq("A", "B", "C", "D").zipWithIndex.map { case (t, i) =>
      (1L, f"2024-01-01 00:0$i%01d:00", t)
    }
    val df = rows.toDF("u", "s", "t")
      .withColumn("ts", to_timestamp(col("s")))
    assert(Behavior.seqPatterns(df, "u", "ts", "t", minUsers = 2L)
      .count() === 0L)
    assert(Behavior.seqPatterns(df, "u", "ts", "t", minUsers = 1L)
      .count() === 2L) // ABC, BCD
  }

}
