package graft.ext

import graft.SparkSpec

class ProfileSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    (1L, Some("b")), (2L, Some("a")), (3L, Some("a")),
    (4L, Some("c")), (5L, None), (6L, Some("b"))
  ).toDF("id", "tag")

  test("profile reports nulls, cardinality, range, and modal value") {
    val r = Profile.profile(df, Seq("id", "tag"))
      .as[(String, Long, Long, Long, String, String, String, Long)]
      .collect().map(t => t._1 -> t).toMap
    assert(r("id") == (("id", 6L, 0L, 6L, "1", "6", "1", 1L)))
    // top tie between a (2) and b (2) -> lexicographically smaller
    assert(r("tag") == (("tag", 6L, 1L, 3L, "a", "c", "a", 2L)))
  }

  test("min/max compare as strings (documented string-profile contract)") {
    val d = Seq(2L, 10L).toDF("v")
    val r = Profile.profile(d, Seq("v"))
      .as[(String, Long, Long, Long, String, String, String, Long)]
      .head()
    assert(r._5 == "10" && r._6 == "2") // "10" < "2" lexicographically
  }

  test("schemaDiff flags added/removed/retyped columns, ignores order") {
    val a = Seq((1L, "x", 1.5)).toDF("id", "name", "score")
    val b = Seq(("y", 2L, 3, true)).toDF("name", "id", "score", "flag")
    val d = Profile.schemaDiff(a, b)
      .as[(String, String, Option[String], Option[String])]
      .collect().toSet
    assert(d == Set(
      ("flag", "added", None, Some("boolean")),
      ("score", "retyped", Some("double"), Some("int"))))
    // identical schema in different column order: no drift
    assert(Profile.schemaDiff(a, a.select("score", "id", "name"))
      .count() == 0)
    // removed column
    val r = Profile.schemaDiff(a, a.drop("name"))
      .as[(String, String, Option[String], Option[String])]
      .collect().toSet
    assert(r == Set(("name", "removed", Some("string"), None)))
  }

  test("histogram: exact bins, inclusive top edge, constant degeneracy") {
    val d = Seq(0.0, 1.0, 2.5, 4.9, 5.0, 5.0, 9.9, 10.0).toDF("v")
    val h = Profile.histogram(d, "v", 4) // width 2.5 over [0, 10]
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2),
        r.getLong(3))).toMap
    assert(h(0L) === ((0.0, 2.5, 2L)))  // 0.0, 1.0
    assert(h(1L) === ((2.5, 5.0, 2L)))  // 2.5, 4.9
    assert(h(2L) === ((5.0, 7.5, 2L)))  // 5.0 x2
    assert(h(3L) === ((7.5, 10.0, 2L))) // 9.9 and max clamps in
    // constant column: one bin holding everything
    val c = Seq(3.0, 3.0, 3.0).toDF("v")
    val hc = Profile.histogram(c, "v", 8).collect()
    assert(hc.length == 1 && hc.head.getLong(0) == 0L &&
      hc.head.getLong(3) == 3L)
    // nulls excluded
    val n = Seq(Some(1.0), None, Some(2.0)).toDF("v")
    assert(Profile.histogram(n, "v", 2)
      .agg(org.apache.spark.sql.functions.sum("n"))
      .head().getLong(0) == 2L)
  }

  test("psi: zero on identical frames, positive under shift, clamping " +
      "and degenerate bins handled") {
    val ref = (1 to 100).map(i => (i % 10) + 0.5).toDF("v")
    val same = Profile.psi(ref, ref, "v", bins = 5)
    assert(same.agg(org.apache.spark.sql.functions.sum("contrib"))
      .head().getDouble(0) == 0.0)
    // shifted current: mass moves right; also values beyond ref max
    // must clamp into the top bin rather than vanish
    val cur = (1 to 100).map(i => (i % 10) + 6.0).toDF("v")
    val p = Profile.psi(ref, cur, "v", bins = 5)
    val rows = p.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getBoolean(5), r.getDouble(6))).toMap
    assert(p.agg(org.apache.spark.sql.functions.sum("cur_n"))
      .head().getLong(0) == 100L, "clamped rows must all be counted")
    assert(p.agg(org.apache.spark.sql.functions.sum("contrib"))
      .head().getDouble(0) > 0.2, "a hard shift must cross the 0.2 bar")
    // the lowest bins lost all current mass -> degenerate, contrib 0
    assert(rows(0L)._3 && rows(0L)._4 == 0.0)
  }

  test("groupCorr: exact +1/-1 on linear groups, NULL on zero variance") {
    val d = Seq(
      ("up", 1.0, 2.0), ("up", 2.0, 4.0), ("up", 3.0, 6.0),
      ("down", 1.0, 9.0), ("down", 2.0, 6.0), ("down", 3.0, 3.0),
      ("flat", 1.0, 5.0), ("flat", 2.0, 5.0), ("flat", 3.0, 5.0))
      .toDF("g", "x", "y")
    val r = Profile.groupCorr(d, Seq("g"), "x", "y")
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), if (x.isNullAt(2)) None else Some(x.getDouble(2))))
      .toMap
    assert(r("up") === ((3L, Some(1.0))))
    assert(r("down") === ((3L, Some(-1.0))))
    assert(r("flat") === ((3L, None))) // y variance is zero
  }

  test("groupCorr matches a hand-computed non-degenerate value and " +
      "excludes null pairs") {
    val d = Seq(("g", Some(1.0), Some(1.0)), ("g", Some(2.0), Some(3.0)),
      ("g", Some(3.0), Some(2.0)), ("g", Some(4.0), Some(5.0)),
      ("g", None, Some(99.0)), ("g", Some(99.0), None))
      .toDF("g", "x", "y")
    val Array(row) = Profile.groupCorr(d, Seq("g"), "x", "y").collect()
    assert(row.getLong(1) === 4L)
    // n=4: nSxy=4*33=132, SxSy=10*11=110; nSxx=4*30=120, Sx2=100;
    // nSyy=4*39=156, Sy2=121 => 22/sqrt(20*35)
    val expected = 22.0 / math.sqrt(700.0)
    assert(math.abs(row.getDouble(2) - expected) < 1e-9)
  }

  test("groupMoments + welchZ: hand-checked two-sample statistic") {
    import graft.functions.GraftMath
    val df = (Seq.fill(1)(0).flatMap(_ => Seq(("a", 1.0), ("a", 2.0),
      ("a", 3.0), ("b", 5.0), ("b", 9.0))) ).toDF("g", "v")
    val m = Profile.groupMoments(df, Seq("g"), "v")
    val z = Profile.welchZ(m, "g").collect().head
    // a: n=3 mean=2 var=1 ; b: n=2 mean=7 var=8
    assert(z.getAs[String]("group_a") === "a")
    assert(z.getAs[Long]("n_a") === 3L && z.getAs[Long]("n_b") === 2L)
    assert(z.getAs[Double]("mean_a") === 2.0)
    assert(z.getAs[Double]("var_b") === 8.0)
    val exp = GraftMath.sig9((2.0 - 7.0) / math.sqrt(1.0 / 3.0 + 8.0 / 2.0))
    assert(z.getAs[Double]("z") === exp)
  }

  test("groupMoments: n=1 group has null variance") {
    val m = Profile.groupMoments(Seq(("x", 4.0)).toDF("g", "v"),
      Seq("g"), "v").collect().head
    assert(m.getAs[Long]("n") === 1L)
    assert(m.isNullAt(m.fieldIndex("var_v")))
  }

  test("percentRank: two-phase binned rank == naive window, ties shared") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, percent_rank}
    // random-ish values with heavy ties across 3 groups
    val rows = (1 to 400).map(i =>
      (s"g${i % 3}", ((i * 37) % 23).toDouble / 7.0))
    val df = rows.toDF("g", "v")
    val got = Profile.percentRank(df, Seq("g"), "v")
      .select("g", "s", "pct")
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        r.getDouble(2)).toMap
    val w = Window.partitionBy(col("g")).orderBy(col("v"))
    val naive = df.withColumn("pct", percent_rank().over(w))
      .select("g", "v", "pct").distinct()
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        r.getDouble(2)).toMap
    assert(got === naive)
  }

  test("percentRank: single-row group has null pct; constant group all 0") {
    val got = Profile.percentRank(
        Seq(("a", 1.0), ("b", 5.0), ("b", 5.0)).toDF("g", "v"),
        Seq("g"), "v")
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        (r.getLong(2), r.getLong(3), Option(r.get(4)))).toMap
    assert(got(("a", 1.0)) === ((1L, 0L, None)))
    assert(got(("b", 5.0)) === ((2L, 0L, Some(0.0))))
  }

  // ===== quantileNormalize ============================================

  /** Naive reference: rank-based bin on both sides, ref bin-min. */
  private def refQNorm(cur: Seq[Double], ref: Seq[Double], bins: Int)
      : Map[Double, (Long, Long, Option[Double])] = {
    def binOf(xs: Seq[Double]): Map[Double, Long] = {
      val n = xs.size.toLong
      xs.distinct.sorted.map { v =>
        v -> math.min(bins - 1L, xs.count(_ < v).toLong * bins / n)
      }.toMap
    }
    val rb = binOf(ref)
    val refMin = ref.distinct.groupBy(rb).view.mapValues(_.min).toMap
    val cb = binOf(cur)
    cur.distinct.map { v =>
      v -> (cur.count(_ == v).toLong, cb(v), refMin.get(cb(v)))
    }.toMap
  }

  test("quantileNormalize: rank alignment matches the naive reference; " +
      "mapping is monotone; ties share bins") {
    val cur = (1 to 300).map(i => ((i * 37) % 50).toDouble + 100.0)
    val ref = (1 to 200).map(i => ((i * 61) % 40).toDouble)
    val got = Profile.quantileNormalize(
        cur.toDF("v").repartition(5), ref.toDF("v").repartition(3),
        "v", bins = 8)
      .collect().map(r => r.getDouble(0) ->
        (r.getLong(1), r.getLong(3), Option(r.get(4))
          .map(_.asInstanceOf[Double]))).toMap
    val want = refQNorm(cur, ref, 8)
    assert(got === want)
    // monotone: higher cur values map to >= ref values
    val sorted = got.toSeq.sortBy(_._1).flatMap(_._2._3)
    assert(sorted == sorted.sorted, "mapping must be monotone")
  }

  test("quantileNormalize: reference thinner than bins surfaces NULL " +
      "for unmatched bins, not an invented value") {
    val got = Profile.quantileNormalize(
        (1 to 100).map(_.toDouble).toDF("v"),
        Seq(1.0, 2.0).toDF("v"), "v", bins = 8)
      .collect().map(r => r.getDouble(0) -> Option(r.get(4))).toMap
    // cur values land in all 8 bins; ref occupies only bins 0 and 4
    assert(got.values.exists(_.isEmpty), "some bins must be unmapped")
    assert(got(1.0) == Some(1.0))
  }

  test("gini: matches the O(n^2) pairwise definition; ties exact") {
    val xs = Map(
      "a" -> Seq(3L, 3L, 10L, 1L, 7L, 3L), // ties
      "b" -> Seq(5L, 5L, 5L), // perfectly equal -> 0
      "c" -> Seq(0L, 0L, 12L)) // one row holds everything -> 2/3
    val df = xs.toSeq.flatMap { case (g, vs) => vs.map(g -> _) }
      .toDF("g", "x").repartition(4)
    val got = Profile.gini(df, Seq("g"), "x")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    xs.foreach { case (g, vs) =>
      val n = vs.length
      val s = vs.sum
      val pair = (for (i <- vs; j <- vs) yield math.abs(i - j)).sum
      val want = graft.functions.GraftMath.sig9(
        pair.toDouble / (2.0 * n * s))
      assert(got(g)._1 === n.toLong && got(g)._2 === s)
      assert(got(g)._3 === Some(want), g)
    }
    assert(got("b")._3 === Some(0.0))
    assert(math.abs(got("c")._3.get - 2.0 / 3.0) < 1e-9)
  }

  test("benford: digits by exact arithmetic, zero digits re-padded, " +
      "contribs decompose the chi-square") {
    import graft.functions.GraftMath.sig9
    // first digits: 1,1,1,2,3,9 + sub-unit 0.042 -> 4; no 5..8
    val df = Seq(120.5, 1.0, 19999.9, 25.0, 3.7, 900.0, 0.042, -5.0, 0.0)
      .toDF("x")
    val got = Profile.benford(df, "x")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getDouble(4)))).toMap
    assert(got.keySet === (1L to 9L).toSet)
    val obs = Map(1L -> 3L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 9L -> 1L)
    (1L to 9L).foreach { dd =>
      val (o, n, e, c) = got(dd)
      assert(o === obs.getOrElse(dd, 0L), s"digit $dd")
      assert(n === 7L)
      val eRef = sig9(math.log10(1.0 + 1.0 / dd) * 7.0)
      assert(e === eRef)
      val d0 = o.toDouble - eRef
      assert(c === sig9(d0 * d0 / eRef))
    }
  }

  test("twoProportionZ: textbook pooled z; degenerate all-convert is " +
      "NULL") {
    import graft.functions.GraftMath.sig9
    val units = (Seq.fill(40)(("a", true)) ++ Seq.fill(60)(("a", false)) ++
      Seq.fill(25)(("b", true)) ++ Seq.fill(75)(("b", false)))
      .toDF("g", "conv").repartition(4)
    val r = Profile.twoProportionZ(units, "g", "conv").head()
    assert((r.getString(0), r.getString(1)) === (("a", "b")))
    assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ===
      ((100L, 100L, 40L, 25L)))
    assert(r.getDouble(6) === 0.4 && r.getDouble(7) === 0.25)
    val pp = sig9(65.0 / 200.0)
    val se = sig9(math.sqrt(pp * (1 - pp) * (1.0 / 100 + 1.0 / 100)))
    assert(r.getDouble(8) === sig9((0.4 - 0.25) / se))
    // all units convert in both arms -> se = 0 -> NULL z
    val deg = Seq(("a", true), ("b", true)).toDF("g", "conv")
    assert(Profile.twoProportionZ(deg, "g", "conv").head().isNullAt(8))
  }

  test("cupedZ: theta ~ the generating slope and the adjusted z " +
      "dominates the raw z when the covariate explains the variance") {
    // y = 2x + 1 (+0.4 only in arm b) -> raw y ranges overlap heavily,
    // the covariate-adjusted ones separate cleanly
    val units = Seq(
      ("a", 3.0, 1.0), ("a", 11.2, 5.0), ("a", 7.1, 3.0),
      ("b", 5.4, 2.0), ("b", 13.6, 6.0), ("b", 9.5, 4.0))
      .toDF("g", "y", "x").repartition(3)
    val r = Profile.cupedZ(units, "g", "y", "x").head()
    assert((r.getString(0), r.getString(1)) === (("a", "b")))
    assert((r.getLong(2), r.getLong(3)) === ((3L, 3L)))
    assert(math.abs(r.getDouble(4) - 2.0) < 0.1, s"theta=${r.get(4)}")
    assert(math.abs(r.getDouble(6)) > math.abs(r.getDouble(5)),
      s"adjusted z ${r.get(6)} must dominate raw ${r.get(5)}")
  }

  test("sampleRatioCheck: textbook one-dof chi-square; balanced split " +
      "scores ~0; z signs the over-allocated arm") {
    import graft.functions.GraftMath.sig9
    val units = (Seq.fill(60)("a") ++ Seq.fill(40)("b")).toDF("g")
      .repartition(3)
    val r = Profile.sampleRatioCheck(units, "g", ratioA = 0.5).head()
    assert((r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))
      === (("a", "b", 60L, 40L)))
    assert(r.getDouble(4) === 50.0)
    // chi2 = 100/50 + 100/50 = 4; z = +10/sqrt(25) = +2
    assert(r.getDouble(5) === sig9(sig9(100.0 / 50) + sig9(100.0 / 50)))
    assert(r.getDouble(6) === sig9(10.0 / sig9(math.sqrt(25.0))))
    val bal = Profile.sampleRatioCheck(
      (Seq.fill(5)("a") ++ Seq.fill(5)("b")).toDF("g"), "g").head()
    assert(bal.getDouble(5) === 0.0 && bal.getDouble(6) === 0.0)
    // 90/10 intent: the same 60/40 split is now a big miss
    val skew = Profile.sampleRatioCheck(units, "g", ratioA = 0.9).head()
    assert(skew.getDouble(5) > 90.0 && skew.getDouble(6) < 0)
  }

  test("cupedZ: constant covariate yields NULL theta and z_adj == the " +
      "unadjusted test") {
    val units = Seq(("a", 3.0, 7.0), ("a", 5.5, 7.0),
      ("b", 4.0, 7.0), ("b", 6.5, 7.0)).toDF("g", "y", "x")
    val r = Profile.cupedZ(units, "g", "y", "x").head()
    assert(r.isNullAt(4)) // var(x) = 0
    // theta falls back to 0 in the adjustment -> y_adj = sig9(y)
    assert(r.getDouble(5) === r.getDouble(6))
  }

  test("gini: all-zero group yields NULL, not a division error") {
    val got = Profile.gini(Seq(("z", 0L), ("z", 0L)).toDF("g", "x"),
      Seq("g"), "x").collect()
    assert(got.length === 1 && got.head.isNullAt(3))
  }

  // ===== partial correlation ==========================================

  test("partialCorr: y = x + z with x orthogonal to z gives " +
      "r_xy_z ~ 1; a perfectly-correlated leg degenerates to NULL") {
    // x and z exactly uncorrelated by construction
    val rows = Seq((1.0, 10.0), (2.0, 10.0), (1.0, 20.0), (2.0, 20.0))
      .map { case (x, z) => (x, x + z, z) }.toDF("x", "y", "z")
    val r = Profile.partialCorr(rows, "x", "y", "z").head()
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getAs[Double]("r_xz") == 0.0)
    // holding z fixed, y is x plus a constant -> partial corr 1
    assert(math.abs(r.getAs[Double]("r_xy_z") - 1.0) < 1e-8)
    // raw r_xy is diluted by z's variance
    assert(r.getAs[Double]("r_xy") < 0.5)
    // z == y: r_yz = 1, denominator 0 -> NULL partial
    val dg = Profile.partialCorr(
      Seq((1.0, 2.0), (2.0, 4.0), (3.0, 5.0))
        .map { case (x, y) => (x, y, y) }.toDF("x", "y", "z"),
      "x", "y", "z").head()
    assert(dg.getAs[Double]("r_yz") == 1.0)
    assert(dg.isNullAt(dg.fieldIndex("r_xy_z")))
  }

  // ===== trimmed / winsorized means ===================================

  test("trimmedMean: drops exactly the cut ranks, clamps for the " +
      "winsorized form, and is robust to the outlier the mean is not") {
    import graft.functions.GraftMath.sig9
    val d = ((1 to 10).map(_.toDouble) :+ 1000.0).map(("g", _))
      .toDF("g", "x")
    val r = Profile.trimmedMean(d, Seq("g"), "x",
      trimPerMille = 100).head()
    assert(r.getAs[Long]("n") == 11L && r.getAs[Long]("lo_cut") == 1L)
    assert(r.getAs[Double]("v_lo") == 2.0 &&
      r.getAs[Double]("v_hi") == 10.0)
    assert(r.getAs[Double]("trimmed_mean") == 6.0) // (2..10)/9
    assert(r.getAs[Double]("winsorized_mean") == 6.0) // (54+2+10)/11
    // tied values straddling the cut contribute partial counts
    val t = Seq(1.0, 1.0, 1.0, 5.0, 9.0).map(("g", _)).toDF("g", "x")
    val rt = Profile.trimmedMean(t, Seq("g"), "x",
      trimPerMille = 200).head()
    assert(rt.getAs[Long]("lo_cut") == 1L)
    assert(rt.getAs[Double]("trimmed_mean") == sig9(7.0 / 3.0))
    assert(rt.getAs[Double]("winsorized_mean") == 2.6) // (7+1+5)/5
    assert(rt.getAs[Double]("v_lo") == 1.0 &&
      rt.getAs[Double]("v_hi") == 5.0)
  }

  // ===== delete-one-group jackknife ===================================

  test("jackknifeRatio: pseudo-values and se follow the exact " +
      "leave-one-out chain; a single group yields NULL se") {
    import graft.functions.GraftMath.sig9
    // three days: (r=1,n=10), (r=2,n=10), (r=3,n=10) -> theta = 0.2
    val rows = Seq.tabulate(30)(i =>
      (s"d${i / 10 + 1}", if (i % 10 < (i / 10 + 1)) 1L else 0L, 1L))
      .toDF("day", "conv", "one")
    val r = Profile.jackknifeRatio(rows, "day", "conv", "one").head()
    assert(r.getAs[Double]("theta") == 0.2)
    assert(r.getAs[Long]("g_groups") == 3L)
    assert(r.getAs[Long]("num_total") == 6L &&
      r.getAs[Long]("den_total") == 30L)
    // replicate: thetas 5/20, 4/20, 3/20 sig9'd, day-ordered folds
    val ts = Seq(0.25, 0.2, 0.15).map(sig9)
    val sbar = ts.foldLeft(0.0)(_ + _)
    val mean = sbar / 3.0
    val devs = ts.foldLeft(0.0)((a, t) => a + sig9((t - mean) * (t - mean)))
    val varJ = sig9(2.0 / 3.0 * devs)
    assert(r.getAs[Double]("se_jack") ==
      sig9(math.sqrt(math.max(varJ, 0.0))))
    // one group: removal empties the denominator -> no pseudo-values
    val one = Seq(("d1", 1L, 1L), ("d1", 0L, 1L)).toDF("day", "conv",
      "one")
    val r1 = Profile.jackknifeRatio(one, "day", "conv", "one").head()
    assert(r1.getAs[Double]("theta") == 0.5)
    assert(r1.getAs[Long]("g_groups") == 0L)
    assert(r1.isNullAt(r1.fieldIndex("se_jack")))
  }

  // ===== minimum detectable effect ====================================

  test("minDetectableEffect: MDE follows the literal-quantile chain " +
      "over exact moments; relative form uses the control mean") {
    import graft.functions.GraftMath.sig9
    val rows = Seq((0L, 1.0), (0L, 2.0), (0L, 3.0), (1L, 2.0),
      (1L, 4.0)).toDF("grp", "x")
    val r = Profile.minDetectableEffect(
      Profile.groupMoments(rows, Seq("grp"), "x"), "grp").head()
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Double]("mean_a") == 2.0)
    assert(r.getAs[Double]("var_a") == 1.0 &&
      r.getAs[Double]("var_b") == 2.0)
    val se = sig9(math.sqrt(1.0 / 3.0 + 2.0 / 2.0))
    val mde = sig9((Profile.ZTwoSided05 + Profile.ZPower80) * se)
    assert(r.getAs[Double]("mde_abs") == mde)
    assert(r.getAs[Double]("mde_rel") == sig9(mde / 2.0))
  }

  // ===== permutation test =============================================

  test("permutationTest: an extreme separation no random reassignment " +
      "reaches -> p = 1/(R+1); identical arms -> p = 1") {
    import graft.functions.GraftMath
    val sep = ((1 to 10).map(i => (0L, 100.0 + i, i.toLong)) ++
      (1 to 10).map(i => (1L, 0.0 + i, (100 + i).toLong)))
      .toDF("g", "x", "id")
    val r = Profile.permutationTest(sep, "g", "x", "id",
      replicates = 50).head()
    assert(r.getAs[Long]("group_a") == 0L &&
      r.getAs[Long]("group_b") == 1L)
    assert(r.getAs[Long]("n_a") == 10L && r.getAs[Long]("n_b") == 10L)
    assert(r.getAs[Double]("obs_diff") == 100.0)
    assert(r.getAs[Long]("n_extreme") == 0L)
    assert(r.getAs[Double]("p_value") ==
      GraftMath.sig9(1.0 / (r.getAs[Long]("n_reps") + 1.0)))
    // flat metric: every replicate diff is 0 >= |0| -> p = 1
    val flat = (1 to 20).map(i =>
      ((i % 2).toLong, 5.0, i.toLong)).toDF("g", "x", "id")
    val rf = Profile.permutationTest(flat, "g", "x", "id",
      replicates = 50).head()
    assert(rf.getAs[Double]("obs_diff") == 0.0)
    assert(rf.getAs[Long]("n_extreme") == rf.getAs[Long]("n_reps"))
    assert(rf.getAs[Double]("p_value") == 1.0)
  }

  test("riskRatios: textbook 2x2 OR/RR/log-OR chains") {
    import graft.functions.GraftMath.sig9
    val rows = Seq.fill(30)((1L, true)) ++ Seq.fill(70)((1L, false)) ++
      Seq.fill(10)((0L, true)) ++ Seq.fill(90)((0L, false))
    val r = Profile.riskRatios(
      rows.toDF("grp", "f").repartition(3), "grp", "f").head()
    assert((r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("c"),
      r.getAs[Long]("d")) == ((30L, 70L, 10L, 90L)))
    assert(r.getAs[Double]("p_exposed") == 0.3 &&
      r.getAs[Double]("p_control") == 0.1)
    assert(r.getAs[Double]("rel_risk") == 3.0)
    val or9 = sig9(sig9(2700.0) / sig9(700.0))
    assert(r.getAs[Double]("odds_ratio") == or9)
    assert(r.getAs[Double]("log_or") == sig9(math.log(or9)))
    assert(r.getAs[Double]("se_log_or") ==
      sig9(math.sqrt(1.0 / 30 + 1.0 / 70 + 1.0 / 10 + 1.0 / 90)))
  }

  test("riskRatios: zero cells NULL the undefined outputs, never " +
      "throw; a zero-conversion exposed arm lands OR exactly 0") {
    // control never converts: OR, RR, SE undefined
    val r = Profile.riskRatios(
      Seq((1L, true), (1L, false), (0L, false), (0L, false))
        .toDF("grp", "f"), "grp", "f").head()
    assert(r.getAs[Double]("p_control") == 0.0)
    Seq("rel_risk", "odds_ratio", "log_or", "se_log_or").foreach(c =>
      assert(r.isNullAt(r.fieldIndex(c)), c))
    // exposed never converts: OR = 0 exactly, log undefined
    val z = Profile.riskRatios(
      Seq((1L, false), (1L, false), (0L, true), (0L, false))
        .toDF("grp", "f"), "grp", "f").head()
    assert(z.getAs[Double]("odds_ratio") == 0.0)
    assert(z.isNullAt(z.fieldIndex("log_or")))
  }

  test("friedman: textbook complete-block design, no ties") {
    import graft.functions.GraftMath.sig9
    val df = Seq(
      ("b1", "A", 1.0), ("b1", "B", 2.0), ("b1", "C", 3.0),
      ("b2", "A", 2.0), ("b2", "B", 4.0), ("b2", "C", 6.0),
      ("b3", "A", 5.0), ("b3", "B", 1.0), ("b3", "C", 6.0))
      .toDF("blk", "tr", "v").repartition(3)
    val r = Profile.friedman(df, "blk", "tr", "v")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r.keySet === Set("A", "B", "C"))
    assert(r("A").getAs[Long]("rank_sum2") == 8L)
    assert(r("B").getAs[Long]("rank_sum2") == 10L)
    assert(r("C").getAs[Long]("rank_sum2") == 18L)
    assert(r("A").getAs[Long]("n_blocks") == 3L &&
      r("A").getAs[Long]("k") == 3L)
    assert(r("A").getAs[Double]("mean_rank") == sig9(8.0 / 6.0))
    // classic formula: 12/(nk(k+1))·ΣR² − 3n(k+1) = 14/3
    r.values.foreach(x =>
      assert(x.getAs[Double]("q_stat") == sig9(112.0 / 24.0)))
  }

  test("friedman: within-block midrank ties and incomplete-block " +
      "exclusion") {
    import graft.functions.GraftMath.sig9
    val df = Seq(
      ("b1", "A", 1.0), ("b1", "B", 1.0), ("b1", "C", 2.0),
      ("b2", "A", 2.0), ("b2", "B", 1.0), ("b2", "C", 3.0),
      ("b4", "A", 9.0)) // b4 lacks B and C -> excluded
      .toDF("blk", "tr", "v")
    val r = Profile.friedman(df, "blk", "tr", "v")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("A").getAs[Long]("n_blocks") == 2L)
    // b1 doubled midranks: A=3, B=3 (tied pair), C=6
    assert(r("A").getAs[Long]("rank_sum2") == 7L)
    assert(r("B").getAs[Long]("rank_sum2") == 5L)
    assert(r("C").getAs[Long]("rank_sum2") == 12L)
    r.values.foreach(x =>
      assert(x.getAs[Double]("q_stat") == sig9(52.0 / 14.0)))
  }

  test("friedman: all-tied blocks degenerate the denominator to " +
      "NULL, never a division error") {
    val df = Seq(
      ("b1", "A", 5.0), ("b1", "B", 5.0),
      ("b2", "A", 7.0), ("b2", "B", 7.0))
      .toDF("blk", "tr", "v")
    val r = Profile.friedman(df, "blk", "tr", "v").collect()
    assert(r.length == 2)
    r.foreach(x => assert(x.isNullAt(x.fieldIndex("q_stat"))))
  }

  test("didEstimate: textbook 2x2 cells, sig9'd diff/DID/SE/z chain") {
    import graft.functions.GraftMath.sig9
    // arm 0 = control, per 0 = pre; cell means 2/3 and 3/12, vars
    // 2/2/8/8 over n=2 each
    val obs = Seq(
      (0L, 0L, 1.0), (0L, 0L, 3.0), (0L, 1L, 2.0), (0L, 1L, 4.0),
      (1L, 0L, 1.0), (1L, 0L, 5.0), (1L, 1L, 10.0), (1L, 1L, 14.0))
      .toDF("arm", "per", "v").repartition(3)
    val r = Profile.didEstimate(obs, "arm", "per", "v").head()
    assert(r.getAs[Long]("n_c_pre") == 2L &&
      r.getAs[Long]("n_t_post") == 2L)
    assert(r.getAs[Double]("mean_c_pre") == 2.0 &&
      r.getAs[Double]("mean_t_post") == 12.0)
    assert(r.getAs[Double]("diff_control") == 1.0)
    assert(r.getAs[Double]("diff_treat") == 9.0)
    assert(r.getAs[Double]("did") == 8.0)
    val se = sig9(math.sqrt(2.0 / 2 + 2.0 / 2 + 8.0 / 2 + 8.0 / 2))
    assert(r.getAs[Double]("se") == se)
    assert(r.getAs[Double]("z") == sig9(8.0 / se))
  }

  test("didEstimate: an empty or single-row cell yields NULL z, " +
      "never a division error") {
    val obs = Seq(
      (0L, 0L, 1.0), (0L, 0L, 3.0), (0L, 1L, 2.0), (0L, 1L, 4.0),
      (1L, 0L, 1.0), (1L, 0L, 5.0), (1L, 1L, 10.0))
      .toDF("arm", "per", "v")
    val r = Profile.didEstimate(obs, "arm", "per", "v").head()
    // t_post has n=1: its variance is NULL -> SE and z NULL; the
    // means and diffs still report
    assert(r.getAs[Long]("n_t_post") == 1L)
    // diff_treat = 10 − 3 = 7, diff_control = 3 − 2 = 1
    assert(r.getAs[Double]("did") == 6.0)
    assert(r.isNullAt(r.fieldIndex("se")) && r.isNullAt(r.fieldIndex("z")))
  }

  test("permutationTest: deterministic across re-runs; degenerate " +
      "one-arm replicates are dropped, not divided by zero") {
    val tiny = Seq((0L, 1.0, 1L), (1L, 9.0, 2L)).toDF("g", "x", "id")
    val a = Profile.permutationTest(tiny, "g", "x", "id",
      replicates = 64).head()
    val b = Profile.permutationTest(tiny, "g", "x", "id",
      replicates = 64).head()
    assert(a == b)
    // with 2 units, ~half the binomial replicates land both in one arm
    assert(a.getAs[Long]("n_reps") > 0L &&
      a.getAs[Long]("n_reps") < 64L)
  }

  test("snapshotDiff: added/removed/changed/unchanged with null-safe " +
      "per-column attribution") {
    val oldDf = Seq(
      (1L, Some(1.0), Some("x")), // unchanged
      (2L, Some(2.0), Some("x")), // a changes
      (3L, Some(3.0), Some("x")), // b changes
      (4L, Some(4.0), Some("x")), // removed
      (5L, None: Option[Double], Some("x"))) // b goes null -> changed
      .toDF("k", "a", "b")
    val newDf = Seq(
      (1L, Some(1.0), Some("x")),
      (2L, Some(9.0), Some("x")),
      (3L, Some(3.0), Some("y")),
      (5L, None: Option[Double], None: Option[String]),
      (6L, Some(6.0), Some("x"))) // added
      .toDF("k", "a", "b")
    val got = Profile.snapshotDiff(oldDf, newDf, Seq("k"),
        Seq("a", "b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map(
      "added" -> 1L, "removed" -> 1L, "changed" -> 3L,
      "unchanged" -> 1L,
      "col_changed:a" -> 1L, "col_changed:b" -> 2L))
    // null == null is NOT a change (k5's a stays null)
  }

  test("ebShrink: small-n items pull harder toward the prior mean; " +
      "order preserved; zero-variance prior degenerates to raw") {
    def item(id: String, n: Int, x: Int) =
      Seq.fill(x)((id, true)) ++ Seq.fill(n - x)((id, false))
    val trials = (item("i1", 10, 5) ++ item("i2", 10, 3) ++
      item("i3", 10, 7) ++ item("i4", 1, 1)).toDF("item", "f")
    val got = Profile.ebShrink(trials, "item", "f")
      .collect().map(r => r.getString(0) ->
        (r.getDouble(3), r.getDouble(6))).toMap
    // rates (.5,.3,.7,1): mu=.625, var=.2675/3, K~1.6285
    assert(math.abs(got("i4")._2 - 0.76767) < 1e-3)
    // shrunk toward the mean, never past it
    assert(got("i4")._2 < got("i4")._1 && got("i4")._2 > 0.625)
    assert(got("i2")._2 > got("i2")._1 && got("i2")._2 < 0.625)
    // the n=1 item moves much further than an n=10 item
    assert(math.abs(got("i4")._2 - got("i4")._1) >
      math.abs(got("i1")._2 - got("i1")._1) * 3)
    // identical rates -> sigma^2 = 0 -> no prior, shrunk == raw
    val flat = (item("a", 4, 2) ++ item("b", 4, 2)).toDF("item", "f")
    Profile.ebShrink(flat, "item", "f").collect().foreach { r =>
      assert(r.isNullAt(4) && r.getDouble(6) == r.getDouble(3))
    }
  }

  test("quantileTreatmentEffect: a constant +10 shift reports QTE 10 " +
      "at every quantile with exact data-value thresholds") {
    val obs = ((1 to 10).map(i => (0L, i.toDouble)) ++
      (1 to 10).map(i => (1L, i + 10.0))).toDF("arm", "v")
    val got = Profile.quantileTreatmentEffect(obs, "arm", "v")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got.keySet === Set(100L, 250L, 500L, 750L, 900L))
    // hi = max(1, n*q div 1000): ranks 1,2,5,7,9 -> those data values
    assert(got(100L) === (11.0, 1.0, 10.0))
    assert(got(250L) === (12.0, 2.0, 10.0))
    assert(got(500L) === (15.0, 5.0, 10.0))
    assert(got(750L) === (17.0, 7.0, 10.0))
    assert(got(900L) === (19.0, 9.0, 10.0))
  }

  test("tailIndex: hand p90 threshold and Hill sum; constant group " +
      "has an empty tail and NULL alpha") {
    val obs = ((1 to 10).map(i => ("g", i.toDouble)) ++
      (1 to 4).map(_ => ("flat", 7.0))).toDF("k", "v")
    val got = Profile.tailIndex(obs, Seq("k"), "v")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Double]))).toMap
    def near(x: Double, y: Double) = math.abs(x - y) < 1e-6
    val g = got("g")
    // n=10, hi = 9 -> u = 9; tail = {10}: alpha = 1/ln(10/9)
    assert(g._1 == 10L && near(g._2, 9.0) && g._3 == 1L)
    assert(near(g._4.get, 1.0 / math.log(10.0 / 9.0)))
    // all-equal group: u = the value, nothing above it
    val f = got("flat")
    assert(near(f._2, 7.0) && f._3 == 0L && f._4.isEmpty)
  }

  test("tailIndex: a power-law tail scores a smaller alpha than an " +
      "exponential one (heavier = smaller)") {
    // pareto alpha=1: x = 1/U; exponential-ish: x = ln(1/U)
    val u = (1 to 200).map(i => i / 201.0)
    val obs = (u.map(p => ("heavy", 1.0 / p)) ++
      u.map(p => ("light", math.log(1.0 / p) + 1.0))).toDF("k", "v")
    val got = Profile.tailIndex(obs, Seq("k"), "v")
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(got("heavy") < got("light"))
  }

  test("cochranQ: textbook 3-treatment 4-block table; incomplete " +
      "blocks excluded; all-equal degenerates to NULL") {
    val rows = Seq(
      ("b1", "t1", 1), ("b1", "t2", 1), ("b1", "t3", 0),
      ("b2", "t1", 1), ("b2", "t2", 1), ("b2", "t3", 0),
      ("b3", "t1", 0), ("b3", "t2", 1), ("b3", "t3", 0),
      ("b4", "t1", 1), ("b4", "t2", 1), ("b4", "t3", 1),
      ("b5", "t1", 1)) // incomplete: must not participate
      .toDF("b", "t", "x")
    val got = Profile.cochranQ(rows, "b", "t", "x")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    def near(x: Double, y: Double) = math.abs(x - y) < 1e-6
    // T = (3,4,1), B = (2,2,1,3): Q = 2*(3*26-64)/(3*8-18) = 14/3
    assert(got("t1")._1 == 3L && got("t2")._1 == 4L &&
      got("t3")._1 == 1L)
    got.values.foreach { v =>
      assert(v._2 == 4L && v._3 == 3L && near(v._4, 14.0 / 3.0))
    }
    // every block all-1 -> zero denominator -> NULL, no throw
    val flat = Seq(("b1", "t1", 1), ("b1", "t2", 1),
      ("b2", "t1", 1), ("b2", "t2", 1)).toDF("b", "t", "x")
    val fr = Profile.cochranQ(flat, "b", "t", "x").collect()
    assert(fr.forall(_.isNullAt(4)))
  }

  test("mantelHaenszel: textbook two-stratum pooled OR and CMH " +
      "chi-square; sub-2 strata excluded") {
    def stratum(s: String, a: Int, b: Int, c: Int, d: Int) =
      Seq.fill(a)((s, 1L, true)) ++ Seq.fill(b)((s, 1L, false)) ++
        Seq.fill(c)((s, 0L, true)) ++ Seq.fill(d)((s, 0L, false))
    val units = (stratum("s1", 4, 1, 2, 3) ++
      stratum("s2", 2, 3, 1, 4) ++ stratum("tiny", 1, 0, 0, 0))
      .toDF("s", "t", "f")
    val r = Profile.mantelHaenszel(units, "s", "t", "f").head()
    def near(x: Double, y: Double) = math.abs(x - y) < 1e-6
    assert(r.getAs[Long]("n_strata") == 2L)
    assert(r.getAs[Long]("n_excluded") == 1L)
    assert(r.getAs[Long]("a_total") == 6L)
    // R = 1.2+0.8, S = 0.2+0.3 -> OR_MH = 4; CMH = 1.5^2/1.25 = 1.8
    assert(near(r.getAs[Double]("or_mh"), 4.0))
    assert(near(r.getAs[Double]("cmh_chi2"), 1.8))
  }

  test("ipwAte: the three estimators agree on a hand design where " +
      "they provably coincide; positivity-violating strata excluded") {
    val obs = Seq(
      // s1: e = 1/2, meanT 11 vs meanC 2
      (1L, "s1", 10.0), (1L, "s1", 12.0), (0L, "s1", 1.0),
      (0L, "s1", 3.0),
      // s2: e = 1/4, meanT 20 vs meanC 10
      (1L, "s2", 20.0), (0L, "s2", 10.0), (0L, "s2", 10.0),
      (0L, "s2", 10.0),
      // s3: all-treated -> excluded
      (1L, "s3", 100.0))
      .toDF("t", "s", "y")
    val r = Profile.ipwAte(obs, "t", "s", "y").head()
    assert(r.getAs[Long]("n_used") == 8L)
    assert(r.getAs[Long]("n_excluded") == 1L)
    assert(r.getAs[Long]("n_treated") == 3L)
    def near(x: Double, y: Double) = math.abs(x - y) < 1e-7
    // strat = .5*9 + .5*10; HT = (124-48)/8; Hajek = 15.5-6 — all 9.5
    assert(near(r.getAs[Double]("ate_strat"), 9.5))
    assert(near(r.getAs[Double]("ate_ipw"), 9.5))
    assert(near(r.getAs[Double]("ate_hajek"), 9.5))
  }

  test("ipwAte: no stratum surviving positivity yields NULL " +
      "estimators, never a division error") {
    val obs = Seq((1L, "a", 1.0), (1L, "a", 2.0), (0L, "b", 3.0))
      .toDF("t", "s", "y")
    val r = Profile.ipwAte(obs, "t", "s", "y").head()
    assert(r.getAs[Long]("n_used") == 0L)
    assert(r.getAs[Long]("n_excluded") == 3L)
    assert(r.isNullAt(r.fieldIndex("ate_strat")) &&
      r.isNullAt(r.fieldIndex("ate_ipw")) &&
      r.isNullAt(r.fieldIndex("ate_hajek")))
  }

  test("ksDriftBattery: exact per-segment KS vs complement, BH " +
      "step-up q-values, partition invariance") {
    val obs = Seq(
      ("a", 1.0), ("a", 2.0), ("b", 10.0), ("b", 11.0),
      ("c", 1.0), ("c", 10.0))
      .toDF("g", "v")
    def run(parts: Int) =
      Profile.ksDriftBattery(obs.repartition(parts), "g", "v")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3),
            r.getLong(4), r.getDouble(5), r.getBoolean(6))).toMap
    val got = run(1)
    assert(got === run(7))
    def near(x: Double, y: Double) = math.abs(x - y) < 1e-7
    // hand CDFs over the union grid {1,2,10,11}:
    // D_a = 0.75, D_b = 0.75, D_c = 0.25; n_eff = 2*4/6 = 4/3
    assert(near(got("a")._2, 0.75) && near(got("b")._2, 0.75) &&
      near(got("c")._2, 0.25))
    // p = min(1, 2 exp(-2*(4/3) D^2))
    val pAB = 2.0 * math.exp(-1.5)
    assert(near(got("a")._3, got("b")._3) && near(got("a")._3, pAB))
    assert(got("c")._3 == 1.0) // capped
    // BH: ranks (p, segment) = a:1, b:2, c:3; m=3
    assert(got("a")._4 == 1L && got("b")._4 == 2L && got("c")._4 == 3L)
    // q_1 = q_2 = min(1, p*3/2); q_3 = 1
    assert(near(got("a")._5, got("b")._5) &&
      near(got("a")._5, pAB * 1.5) && got("c")._5 == 1.0)
    assert(!got("a")._6 && !got("b")._6 && !got("c")._6)
  }

  test("ksDriftBattery: a real shift is discovered; q-values are " +
      "monotone along the BH rank order") {
    // segment 'hi' draws from a clearly shifted range; 20 obs/side
    val rows = (1 to 20).map(i => ("hi", 100.0 + i)) ++
      (1 to 20).map(i => ("lo1", i.toDouble)) ++
      (1 to 20).map(i => ("lo2", i + 0.5))
    val got = Profile.ksDriftBattery(rows.toDF("g", "v"), "g", "v")
      .collect().map(r => (r.getString(0), r.getLong(4),
        r.getDouble(5), r.getBoolean(6)))
    val hi = got.find(_._1 == "hi").get
    assert(hi._4, "shifted segment must be significant") // q <= 0.05
    val byRank = got.sortBy(_._2).map(_._3)
    assert(byRank.zip(byRank.tail).forall { case (q1, q2) => q1 <= q2 })
  }

  test("binnedDrift: zero battery on identical frames; empty current " +
      "side NULLs the statistics; degenerate one-value reference") {
    val ref = (0 until 100).map(_.toDouble).toDF("v")
    def row(df: org.apache.spark.sql.DataFrame) =
      Profile.binnedDrift(ref, df, "v", bins = 10).collect()(0)
    // identical frames: PSI = KS = chi2 = 0, all ten bins occupied
    val same = row(ref)
    assert(same.getAs[Long]("n_ref") === 100L &&
      same.getAs[Long]("n_cur") === 100L)
    assert(same.getAs[Long]("n_bins_occ") === 10L &&
      same.getAs[Long]("dof") === 9L)
    assert(same.getAs[Double]("psi") === 0.0 &&
      same.getAs[Double]("ks") === 0.0 &&
      same.getAs[Double]("chi2") === 0.0)
    // a hard shift into the top bin registers on all three
    val shifted = row(Seq.fill(50)(99.0).toDF("v"))
    assert(shifted.getAs[Double]("psi") > 0.2 &&
      shifted.getAs[Double]("ks") > 0.5 &&
      shifted.getAs[Double]("chi2") > 10.0)
    assert(shifted.getAs[Long]("ks_bin") === 8L) // gap maximal below bin 9
    // empty current side: counts kept, statistics NULL
    val empty = row(Seq.empty[Double].toDF("v"))
    assert(empty.getAs[Long]("n_cur") === 0L)
    assert(empty.isNullAt(empty.fieldIndex("psi")) &&
      empty.isNullAt(empty.fieldIndex("ks")) &&
      empty.isNullAt(empty.fieldIndex("chi2")))
    // degenerate reference (hi == lo): everything lands in bin 0
    val degen = Profile.binnedDrift(Seq(5.0, 5.0).toDF("v"),
      Seq(7.0, 3.0).toDF("v"), "v", bins = 10).collect()(0)
    assert(degen.getAs[Long]("n_bins_occ") === 1L &&
      degen.getAs[Long]("dof") === 0L)
    assert(degen.getAs[Double]("psi") === 0.0 &&
      degen.getAs[Double]("ks") === 0.0 &&
      degen.getAs[Double]("chi2") === 0.0)
  }

  test("distanceBattery: hand-computed W1/TV/Hellinger, empty-bin gap " +
      "weighting, identical/empty/degenerate frames") {
    // ref = {0, 1} uniform, cur = {1}: bins=2, bw=0.5
    // F_r=[.5,1], F_c=[0,1] -> W1 = .5*.5 = .25; TV = .5;
    // BC = sqrt(.5*0)+sqrt(.5*1) -> H = sqrt(1-sqrt(.5))
    val r1 = Profile.distanceBattery(Seq(0.0, 1.0).toDF("v"),
      Seq(1.0).toDF("v"), "v", bins = 2).collect()(0)
    assert(r1.getAs[Double]("bin_width") === 0.5)
    assert(r1.getAs[Double]("w1") === 0.25)
    assert(r1.getAs[Double]("tv") === 0.5)
    assert(math.abs(r1.getAs[Double]("hellinger")
      - math.sqrt(1 - math.sqrt(0.5))) < 1e-8)
    // empty-bin gap weighting: ref={0,4}, cur={4,4}, bins=4, bw=1
    // occupied bins 0 and 3 only; |F diff|=.5 persists across bins 1,2
    // -> W1 = 1*(.5*3) = 1.5
    val r2 = Profile.distanceBattery(Seq(0.0, 4.0).toDF("v"),
      Seq(4.0, 4.0).toDF("v"), "v", bins = 4).collect()(0)
    assert(r2.getAs[Double]("w1") === 1.5)
    assert(r2.getAs[Double]("tv") === 0.5)
    // identical frames: all three distances 0
    val ref = (0 until 100).map(_.toDouble).toDF("v")
    val same = Profile.distanceBattery(ref, ref, "v", bins = 10)
      .collect()(0)
    assert(same.getAs[Double]("w1") === 0.0 &&
      same.getAs[Double]("tv") === 0.0 &&
      same.getAs[Double]("hellinger") === 0.0)
    // empty current: counts kept, statistics NULL
    val empty = Profile.distanceBattery(ref,
      Seq.empty[Double].toDF("v"), "v", bins = 10).collect()(0)
    assert(empty.getAs[Long]("n_cur") === 0L)
    assert(empty.isNullAt(empty.fieldIndex("w1")) &&
      empty.isNullAt(empty.fieldIndex("tv")) &&
      empty.isNullAt(empty.fieldIndex("hellinger")))
    // empty reference: no binning contract -> counts kept, stats NULL
    val eref = Profile.distanceBattery(Seq.empty[Double].toDF("v"),
      ref, "v", bins = 10).collect()(0)
    assert(eref.getAs[Long]("n_ref") === 0L &&
      eref.isNullAt(eref.fieldIndex("w1")))
    // degenerate one-value reference: everything in bin 0, all zero
    val degen = Profile.distanceBattery(Seq(5.0, 5.0).toDF("v"),
      Seq(7.0, 3.0).toDF("v"), "v", bins = 10).collect()(0)
    assert(degen.getAs[Double]("bin_width") === 0.0)
    assert(degen.getAs[Double]("w1") === 0.0 &&
      degen.getAs[Double]("tv") === 0.0 &&
      degen.getAs[Double]("hellinger") === 0.0)
  }

  // ===== exact weighted quantiles =======================================

  test("weightedQuantiles: hand-computed picks, boundary landing, and " +
      "weight concentration") {
    import org.apache.spark.sql.Row
    // values 1,2,3 with weights 1,2,1 (total 4): cum 1,3,4
    val df = Seq((1L, 1L), (2L, 2L), (3L, 1L)).toDF("v", "w")
      .repartition(3)
    val out = Profile.weightedQuantiles(df, "v", "w",
      Seq(250, 500, 750, 1000)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // p250: cum 1 * 1000 >= 250*4=1000 -> value 1 (exact boundary)
    assert(out(250L) === ((1L, 1L)))
    assert(out(500L) === ((2L, 3L)))  // 3000 >= 2000
    assert(out(750L) === ((2L, 3L)))  // 3000 >= 3000 boundary
    assert(out(1000L) === ((3L, 4L)))
    // all mass on one value: every quantile is that value
    val one = Profile.weightedQuantiles(
      Seq((7L, 100L), (9L, 0L)).toDF("v", "w"), "v", "w", Seq(1, 999))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one === Map(1L -> 7L, 999L -> 7L))
  }

  test("theilDecomposition: zero inequality inside uniform groups, " +
      "zero between-term for equal means, and the contributions sum " +
      "to the direct total Theil") {
    // g1: all 10.0 (uniform); g2: all 30.0 (uniform, 3x mean)
    val df = (Seq.fill(8)(("g1", 10.0)) ++ Seq.fill(4)(("g2", 30.0)) ++
      Seq(("g1", -5.0), ("g2", 0.0))).toDF("g", "v")
    val rows = Profile.theilDecomposition(df, "g", "v").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows("g1").getAs[Long]("n") === 8L)
    assert(rows.values.head.getAs[Long]("n_nonpos") === 2L)
    // uniform groups: within-Theil ~ 0
    assert(math.abs(rows("g1").getAs[Double]("theil_within")) < 1e-8)
    assert(math.abs(rows("g2").getAs[Double]("theil_within")) < 1e-8)
    // direct total Theil of (8 x 10, 4 x 30): mu = 200/12
    val xs = Seq.fill(8)(10.0) ++ Seq.fill(4)(30.0)
    val mu = xs.sum / xs.size
    val direct = xs.map(x => (x / mu) * math.log(x / mu)).sum / xs.size
    val contribSum = rows.values.map(_.getAs[Double]("contribution")).sum
    assert(math.abs(contribSum - direct) < 1e-7, s"$contribSum vs $direct")
    // equal means across groups: between-term vanishes
    val eq = (Seq.fill(3)(("a", 5.0)) ++ Seq.fill(6)(("b", 5.0)))
      .toDF("g", "v")
    val eqRows = Profile.theilDecomposition(eq, "g", "v").collect()
    eqRows.foreach(r =>
      assert(math.abs(r.getAs[Double]("contribution")) < 1e-8))
  }

  test("weightedQuantiles: fractional value or weight raises; " +
      "integral doubles pass") {
    val ok = Profile.weightedQuantiles(
      Seq((2.0, 5.0), (4.0, 5.0)).toDF("v", "w"), "v", "w", Seq(500))
      .collect()(0)
    assert(ok.getLong(1) === 2L && ok.getLong(3) === 10L)
    val err = intercept[Exception] {
      Profile.weightedQuantiles(
        Seq((2.5, 5.0)).toDF("v", "w"), "v", "w", Seq(500)).collect()
    }
    assert(err.getMessage.contains("fractional") ||
      err.getCause != null)
  }
}
