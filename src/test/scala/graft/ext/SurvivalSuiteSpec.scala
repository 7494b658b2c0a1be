package graft.ext

import graft.SparkSpec

/** Pipeline-12 contract: every column of the fused
  * [[Behavior.survivalTable]] equals the corresponding standalone
  * operator ([[Behavior.kaplanMeier]] / [[Behavior.nelsonAalen]]) —
  * composition changes the plan (one grid scan), never a value. */
class SurvivalSuiteSpec extends SparkSpec {
  import spark.implicits._

  test("survivalTable columns equal the standalone KM and NA outputs") {
    def ts(x: String) = java.sql.Timestamp.valueOf(x + " 10:00:00")
    val df = Seq(
      ("u1", ts("2024-01-01"), "visit"), ("u1", ts("2024-01-03"), "purchase"),
      ("u2", ts("2024-01-01"), "visit"), ("u2", ts("2024-01-03"), "purchase"),
      ("u3", ts("2024-01-01"), "visit"), ("u3", ts("2024-01-06"), "purchase"),
      ("u4", ts("2024-01-01"), "visit"), ("u4", ts("2024-01-04"), "visit"),
      ("u5", ts("2024-01-01"), "visit"), ("u5", ts("2024-01-08"), "visit"),
      ("u6", ts("2024-01-01"), "visit"), ("u6", ts("2024-01-02"), "purchase"))
      .toDF("user_id", "ts", "event_type").repartition(3)
    val suite = Behavior.survivalTable(df, "user_id", "ts",
        "event_type", "purchase")
      .collect().map(r => r.getLong(0) -> r).toMap
    val km = Behavior.kaplanMeier(df, "user_id", "ts", "event_type",
        "purchase")
      .collect().map(r => r.getLong(0) -> r).toMap
    val na = Behavior.nelsonAalen(df, "user_id", "ts", "event_type",
        "purchase")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(suite.keySet === km.keySet && suite.keySet === na.keySet)
    suite.foreach { case (dur, s) =>
      val k = km(dur); val n = na(dur)
      assert(s.getLong(1) == k.getLong(1) && s.getLong(1) == n.getLong(1))
      assert(s.getLong(2) == k.getLong(2) && s.getLong(3) == k.getLong(3))
      assert(s.getAs[Double]("survival") == k.getAs[Double]("survival"),
        s"km survival at $dur")
      Seq("hazard", "cum_hazard", "cum_var", "fh_survival").foreach { c =>
        assert(s.getAs[Double](c) == n.getAs[Double](c), s"$c at $dur")
      }
    }
  }

  test("competingRisks with a cause that never occurs equals " +
      "kaplanMeier: n_risk, events and survival bit for bit") {
    val rnd = new scala.util.Random(20241019L)
    val day0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    def ts(day: Int, hour: Int) =
      java.sql.Timestamp.valueOf(day0.plusDays(day).plusHours(hour))
    val random = (1 to 300).flatMap { u =>
      val start = rnd.nextInt(10)
      val last = if (rnd.nextDouble() < 0.6) "purchase" else "visit"
      Seq(("u" + u, ts(start, rnd.nextInt(12)), "visit"),
        ("u" + u, ts(start + rnd.nextInt(20), 12 + rnd.nextInt(12)), last))
    }
    // the last duration's risk set all converts: a zero KM factor
    val tail = Seq("z1", "z2").flatMap(u =>
      Seq((u, ts(0, 1), "visit"), (u, ts(40, 13), "purchase")))
    val df = (random ++ tail).toDF("user_id", "ts", "event_type")
      .repartition(4)
    def bits(x: Double) = java.lang.Double.doubleToRawLongBits(x)
    val km = Behavior.kaplanMeier(df, "user_id", "ts", "event_type",
        "purchase")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), bits(r.getDouble(4))))).toMap
    val cr = Behavior.competingRisks(df, "user_id", "ts", "event_type",
        "purchase", "error")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), bits(r.getDouble(6))))).toMap
    assert(km.size > 20)
    assert(km(40L) === ((2L, 2L, bits(0.0))))
    assert(cr === km)
  }

  test("rmst integrates a KM step curve exactly, clamps at tau, and " +
      "treats an empty curve as full survival") {
    // curve: S=1 on [0,2), 0.5 on [2,5), 0.25 from 5 on
    val km = Seq((2L, 0.5), (5L, 0.25)).toDF("dur_days", "survival")
    def r(tau: Long, df: org.apache.spark.sql.DataFrame = km) =
      Behavior.rmst(df, tau).collect()(0)
    val full = r(10L)
    assert(full.getLong(0) === 10L && full.getLong(1) === 2L)
    assert(full.getDouble(2) === 2.0 + 0.5 * 3 + 0.25 * 5) // 4.75
    assert(r(4L).getDouble(2) === 3.0)  // 1*2 + 0.5*2, tail clamped out
    assert(r(1L).getDouble(2) === 1.0)  // inside the first step
    assert(r(0L).getDouble(2) === 0.0)
    val empty = r(7L, Seq.empty[(Long, Double)].toDF("dur_days",
      "survival"))
    assert(empty.getLong(1) === 0L && empty.getDouble(2) === 7.0)
  }

  test("coxPh: constant covariate keeps beta at exactly zero") {
    val rows = (1 to 4).map(i => (i.toLong, 1L, 3.0)) ++
      (1 to 3).map(i => ((i + 4).toLong, 0L, 3.0))
    val out = Behavior.coxPh(rows.toDF("dur", "e", "x"),
      "dur", "e", "x", xBins = 8, iters = 3).collect()
      .sortBy(_.getLong(0))
    assert(out.length === 3)
    // one bin, S1/S0 = x exactly -> every score term is 0
    assert(out.forall(_.getDouble(1) === 0.0))
    assert(out.forall(_.getDouble(2) === 0.0))
  }

  test("coxPh: early events concentrated on high x give beta > 0") {
    // high-x subjects all convert at t=1; low-x convert late at t=10
    val rows = (1 to 5).map(_ => (1L, 1L, 10.0)) ++
      (1 to 5).map(_ => (10L, 1L, 0.0))
    val out = Behavior.coxPh(rows.toDF("dur", "e", "x"),
      "dur", "e", "x", xBins = 8, iters = 3).collect()
      .sortBy(_.getLong(0))
    // at beta=0: U(t=1) = 50 - 5*5 = 25 > 0, so the first step is up
    assert(out(0).getDouble(2) > 0.0) // score at beta 0
    assert(out(0).getDouble(1) > 0.0) // beta after step 1
    // later iterations keep a positive effect
    assert(out(2).getDouble(1) > 0.0)
  }
}
