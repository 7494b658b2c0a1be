package graft.ext

import graft.SparkSpec
import graft.functions.GraftMath
import org.apache.spark.sql.functions._

/** The k-sample / dependence statistics family: Spearman,
  * Kruskal–Wallis, one-way ANOVA, Brown–Forsythe, mutual information,
  * McNemar. Each test replays the documented exact-integer + sig9'd
  * IEEE chain locally (including every intermediate sig9 — the
  * determinism contract a cross-engine oracle must mirror). */
class StatsSuiteSpec extends SparkSpec {
  import spark.implicits._

  private def s9(x: Double) = GraftMath.sig9(x)

  // ===== Spearman ======================================================

  /** Local replica: doubled midranks, exact BigInt sums, sig9 chain. */
  private def refSpearman(xs: Seq[Double], ys: Seq[Double])
      : Option[Double] = {
    def r2(vs: Seq[Double]): Map[Double, Long] = {
      val sorted = vs.distinct.sorted
      var below = 0L
      sorted.map { v =>
        val t = vs.count(_ == v).toLong
        val r = 2 * below + t + 1
        below += t
        v -> r
      }.toMap
    }
    val rx = r2(xs); val ry = r2(ys)
    val n = xs.size
    val prs = xs.zip(ys).map { case (x, y) => (BigInt(rx(x)), BigInt(ry(y))) }
    val sx = prs.map(_._1).sum; val sy = prs.map(_._2).sum
    val sxy = prs.map(p => p._1 * p._2).sum
    val sxx = prs.map(p => p._1 * p._1).sum
    val syy = prs.map(p => p._2 * p._2).sum
    val num = BigInt(n) * sxy - sx * sy
    val dx = BigInt(n) * sxx - sx * sx
    val dy = BigInt(n) * syy - sy * sy
    if (n < 2 || dx <= 0 || dy <= 0) None
    else Some(s9(s9(num.toDouble) /
      s9(math.sqrt(s9(dx.toDouble) * s9(dy.toDouble)))))
  }

  private def runSpearman(ps: Seq[(Double, Double)]) =
    Profile.spearman(ps.toDF("x", "y").repartition(3), "x", "y").head()

  test("spearman: perfect monotone (nonlinear) relation -> rho = 1") {
    val ps = Seq(1.0 -> 1.0, 2.0 -> 8.0, 3.0 -> 27.0, 4.0 -> 64.0)
    val got = runSpearman(ps)
    assert(got.getAs[Double]("rho") == 1.0)
    assert(got.getAs[Long]("n") == 4L)
  }

  test("spearman: reversal -> rho = -1; ties follow midranks exactly") {
    assert(runSpearman(Seq(1.0 -> 9.0, 2.0 -> 5.0, 3.0 -> 1.0))
      .getAs[Double]("rho") == -1.0)
    val tied = Seq(1.0 -> 2.0, 1.0 -> 3.0, 2.0 -> 3.0, 5.0 -> 4.0,
      5.0 -> 4.0, 6.0 -> 1.0)
    val got = runSpearman(tied)
    assert(Option(got.getAs[Double]("rho")) ==
      refSpearman(tied.map(_._1), tied.map(_._2)))
  }

  test("spearman: pseudo-random pairs == reference across bin counts") {
    val ps = (1 to 347).map(i =>
      (((i * 7919) % 83).toDouble, ((i * 104729) % 89).toDouble))
    // one far pair stretches both ranges over the fixed bins, so the
    // other values share about 4, then 64 occupied bins; at 90.0 each
    // distinct value has a bin of its own
    for (far <- Seq(21000.0, 1400.0, 90.0)) {
      val pf = ps :+ (far -> far)
      val want = refSpearman(pf.map(_._1), pf.map(_._2))
      val got = Profile.spearman(pf.toDF("x", "y").repartition(5),
        "x", "y").head()
      assert(Option(got.getAs[Double]("rho")) == want, s"far=$far")
    }
  }

  test("spearman: constant column or n<2 -> NULL rho; nulls excluded") {
    val c = runSpearman(Seq(1.0 -> 5.0, 2.0 -> 5.0, 3.0 -> 5.0))
    assert(c.isNullAt(c.fieldIndex("rho")))
    val withNulls = Seq((Some(1.0), Some(2.0)), (None, Some(9.0)),
      (Some(2.0), None), (Some(3.0), Some(4.0)))
      .toDF("x", "y")
    val got = Profile.spearman(withNulls, "x", "y").head()
    assert(got.getAs[Long]("n") == 2L)
    assert(got.getAs[Double]("rho") == 1.0)
  }

  // ===== Kruskal–Wallis ===============================================

  /** Local replica: pooled doubled midranks, per-group exact sums in
    * group-key order, sig9'd term fold, sig9 H chain. */
  private def refKruskal(rows: Seq[(String, Double)])
      : (Option[Double], Long, Long) = {
    val vs = rows.map(_._2)
    val sorted = vs.distinct.sorted
    var below = 0L
    var tie = BigInt(0)
    val r2 = sorted.map { v =>
      val t = vs.count(_ == v).toLong
      tie += BigInt(t) * t * t - t
      val r = 2 * below + t + 1
      below += t
      v -> r
    }.toMap
    val groups = rows.groupBy(_._1).toSeq.sortBy(_._1)
    val k = groups.size.toLong
    val n = vs.size.toLong
    var sumTerms = 0.0
    groups.foreach { case (_, grows) =>
      val r2j = grows.map(r => BigInt(r2(r._2))).sum
      val d = s9(r2j.toDouble)
      sumTerms += s9(d * d / (4.0 * grows.size))
    }
    val nd = n.toDouble
    val tied = s9(tie.toDouble)
    val n3 = BigInt(n) * n * n - n
    val corr = 1.0 - tied / s9(n3.toDouble)
    val h =
      if (k < 2 || n <= 1 || !(corr > 0)) None
      else Some(s9((12.0 / (nd * (nd + 1.0)) * sumTerms -
        3.0 * (nd + 1.0)) / corr))
    (h, k, n)
  }

  test("kruskal: textbook three groups matches the reference chain") {
    val rows = Seq("a" -> 1.0, "a" -> 2.0, "a" -> 5.0, "b" -> 3.0,
      "b" -> 4.0, "b" -> 9.0, "c" -> 6.0, "c" -> 7.0, "c" -> 8.0)
    val got = Profile.kruskalWallis(rows.toDF("g", "v").repartition(3),
      "g", "v").head()
    val (h, k, n) = refKruskal(rows)
    assert(Option(got.getAs[Double]("h")) == h && h.nonEmpty)
    assert(got.getAs[Long]("k") == k && got.getAs[Long]("n") == n)
    assert(got.getAs[Long]("dof") == k - 1)
    assert(got.getAs[Double]("tie_t") == 0.0)
  }

  test("kruskal: heavy ties correct H; identical groups -> H near 0") {
    val rows = Seq("a" -> 1.0, "a" -> 2.0, "a" -> 2.0, "b" -> 2.0,
      "b" -> 3.0, "b" -> 3.0, "c" -> 3.0, "c" -> 1.0, "c" -> 1.0)
    val got = Profile.kruskalWallis(rows.toDF("g", "v"), "g", "v").head()
    val (h, _, _) = refKruskal(rows)
    assert(Option(got.getAs[Double]("h")) == h && h.nonEmpty)
    assert(got.getAs[Double]("tie_t") > 0.0)
  }

  test("kruskal: all values tie -> correction 0 -> NULL; k=1 -> NULL") {
    val allTie = Profile.kruskalWallis(
      Seq("a" -> 5.0, "b" -> 5.0, "c" -> 5.0).toDF("g", "v"),
      "g", "v").head()
    assert(allTie.isNullAt(allTie.fieldIndex("h")))
    val oneGrp = Profile.kruskalWallis(
      Seq("a" -> 1.0, "a" -> 2.0).toDF("g", "v"), "g", "v").head()
    assert(oneGrp.isNullAt(oneGrp.fieldIndex("h")))
    assert(oneGrp.getAs[Long]("k") == 1L)
  }

  // ===== one-way ANOVA =================================================

  /** Local replica over exact integers. */
  private def refAnova(rows: Seq[(String, Long)])
      : (Option[Double], Double, Double) = {
    val groups = rows.groupBy(_._1).toSeq.sortBy(_._1)
    val k = groups.size
    val n = rows.size
    var sumTerms = 0.0
    groups.foreach { case (_, g) =>
      val sj = g.map(r => BigInt(r._2)).sum
      val d = s9(sj.toDouble)
      sumTerms += s9(d * d / g.size)
    }
    val s = rows.map(r => BigInt(r._2)).sum
    val q = rows.map(r => BigInt(r._2) * r._2).sum
    val sd = s9(s.toDouble); val qd = s9(q.toDouble)
    val ssb = sumTerms - sd * sd / n
    val ssw = qd - sumTerms
    val f =
      if (k < 2 || n <= k || !(ssw > 0)) None
      else Some(s9((ssb / (k - 1.0)) / (ssw / (n.toDouble - k))))
    (f, s9(ssb), s9(ssw))
  }

  test("anova: separated means give large F, matching the reference") {
    val rows = Seq("a" -> 1L, "a" -> 2L, "a" -> 1L, "b" -> 8L,
      "b" -> 9L, "b" -> 10L, "c" -> 4L, "c" -> 5L, "c" -> 5L)
    val got = Profile.oneWayAnova(rows.toDF("g", "v").repartition(3),
      "g", "v").head()
    val (f, ssb, ssw) = refAnova(rows)
    assert(Option(got.getAs[Double]("f")) == f && f.exists(_ > 10))
    assert(got.getAs[Double]("ssb") == ssb)
    assert(got.getAs[Double]("ssw") == ssw)
    assert(got.getAs[Long]("dof_between") == 2L)
    assert(got.getAs[Long]("dof_within") == 6L)
  }

  test("anova: zero within-variance -> NULL F; single group -> NULL") {
    val zeroW = Profile.oneWayAnova(
      Seq("a" -> 3L, "a" -> 3L, "b" -> 7L, "b" -> 7L).toDF("g", "v"),
      "g", "v").head()
    assert(zeroW.isNullAt(zeroW.fieldIndex("f")))
    assert(zeroW.getAs[Double]("ssw") == 0.0)
    val one = Profile.oneWayAnova(
      Seq("a" -> 1L, "a" -> 5L).toDF("g", "v"), "g", "v").head()
    assert(one.isNullAt(one.fieldIndex("f")))
  }

  // ===== Brown–Forsythe ================================================

  test("brown-forsythe: equal spreads -> F ~ 0; unequal spreads flagged") {
    // same deviations-from-median in both groups -> SSB over d2 is 0
    // up to the documented sig9 granularity of the quotient terms
    val eq = Seq("a" -> 1L, "a" -> 2L, "a" -> 3L,
      "b" -> 11L, "b" -> 12L, "b" -> 13L)
    val gotEq = Profile.brownForsythe(eq.toDF("g", "v"), "g", "v").head()
    assert(math.abs(gotEq.getAs[Double]("ssb")) < 1e-6)
    assert(Option(gotEq.getAs[Double]("f")).forall(f => math.abs(f) < 1e-6))
    // b spreads 11x wider than a: odd-n medians 11 -> d2 a={2,0,2},
    // b={22,0,22}; F equals the ANOVA reference over those deviations
    val ne = Seq("a" -> 10L, "a" -> 11L, "a" -> 12L,
      "b" -> 0L, "b" -> 11L, "b" -> 22L)
    val gotNe = Profile.brownForsythe(ne.toDF("g", "v"), "g", "v").head()
    val (f, _, _) = refAnova(Seq("a" -> 2L, "a" -> 0L, "a" -> 2L,
      "b" -> 22L, "b" -> 0L, "b" -> 22L))
    assert(Option(gotNe.getAs[Double]("f")) == f && f.exists(_ > 3))
  }

  test("brown-forsythe: even-n median uses the two middle order stats") {
    // group a = {1, 3}: med2 = 4, d2 = |2v - 4| = {2, 2}
    // group b = {0, 10, 10, 20}: med2 = 20, d2 = {20, 0, 0, 20}
    val rows = Seq("a" -> 1L, "a" -> 3L,
      "b" -> 0L, "b" -> 10L, "b" -> 10L, "b" -> 20L)
    val got = Profile.brownForsythe(rows.toDF("g", "v"), "g", "v").head()
    val (f, ssb, ssw) = refAnova(Seq("a" -> 2L, "a" -> 2L,
      "b" -> 20L, "b" -> 0L, "b" -> 0L, "b" -> 20L))
    assert(Option(got.getAs[Double]("f")) == f)
    assert(got.getAs[Double]("ssb") == ssb)
    assert(got.getAs[Double]("ssw") == ssw)
  }

  // ===== mutual information ===========================================

  /** Local replica of the sig9'd MI / NMI chains. */
  private def refMi(rows: Seq[(String, String)])
      : (Double, Option[Double]) = {
    val n = rows.size.toLong
    val cells = rows.groupBy(identity).map { case (k, v) =>
      k -> v.size.toLong
    }
    val rm = rows.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val cm = rows.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    def stable(ts: Iterable[Double]): Double = s9(ts
      .map(BigDecimal(_).setScale(15, BigDecimal.RoundingMode.HALF_UP))
      .sum.setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val mi = stable(cells.map { case ((r, c), cnt) =>
      val ratio = s9((BigInt(cnt) * n).toDouble) /
        s9((BigInt(rm(r)) * cm(c)).toDouble)
      s9(cnt.toDouble / n * s9(math.log(ratio)))
    })
    def ent(m: Map[String, Long]): Double =
      -stable(m.values.map { c =>
        val p = c.toDouble / n
        s9(p * s9(math.log(p)))
      })
    val hr = ent(rm); val hc = ent(cm)
    val nmi = if (hr > 0 && hc > 0)
      Some(s9(mi / s9(math.sqrt(hr * hc)))) else None
    (mi, nmi)
  }

  test("mutual info: identical columns -> MI = H, NMI = 1") {
    val rows = Seq("a" -> "a", "a" -> "a", "b" -> "b", "c" -> "c")
    val got = Profile.mutualInfo(rows.toDF("r", "c"), "r", "c").head()
    val (mi, nmi) = refMi(rows)
    assert(got.getAs[Double]("mi") == mi && mi > 0)
    assert(Option(got.getAs[Double]("nmi")) == nmi)
    assert(got.getAs[Double]("nmi") == 1.0)
  }

  test("mutual info: independent uniform grid -> MI = 0 exactly") {
    val rows = for (r <- Seq("a", "b"); c <- Seq("x", "y", "z"))
      yield (r, c)
    val got = Profile.mutualInfo(rows.toDF("r", "c"), "r", "c").head()
    // every cell ratio is exactly 1 -> ln 1 = 0 -> all contribs 0
    assert(got.getAs[Double]("mi") == 0.0)
    assert(got.getAs[Long]("r_cats") == 2L)
    assert(got.getAs[Long]("c_cats") == 3L)
  }

  test("mutual info: skewed dependence matches reference; constant " +
      "column -> NULL NMI") {
    val rows = Seq("a" -> "x", "a" -> "x", "a" -> "y", "b" -> "y",
      "b" -> "y", "b" -> "x", "b" -> "y", "c" -> "x")
    val got = Profile.mutualInfo(rows.toDF("r", "c"), "r", "c").head()
    val (mi, nmi) = refMi(rows)
    assert(got.getAs[Double]("mi") == mi)
    assert(Option(got.getAs[Double]("nmi")) == nmi)
    val const = Profile.mutualInfo(
      Seq("a" -> "x", "b" -> "x").toDF("r", "c"), "r", "c").head()
    assert(const.isNullAt(const.fieldIndex("nmi")))
    assert(const.getAs[Double]("mi") == 0.0)
  }

  // ===== higher moments ================================================

  /** Local replica: exact BigInt power sums, sig9'd casts, fixed IEEE
    * central-moment chain, sig9'd outputs. */
  private def refMoments(vs: Seq[Long])
      : (Double, Double, Option[Double], Option[Double]) = {
    val n = vs.size.toDouble
    def sk(k: Int) = s9(vs.map(v => BigInt(v).pow(k)).sum.toDouble)
    val (s1, s2, s3, s4) = (sk(1), sk(2), sk(3), sk(4))
    val mean = s1 / n
    val m2 = s2 / n - mean * mean
    val m3 = s3 / n - 3.0 * mean * (s2 / n) + 2.0 * mean * mean * mean
    val m4 = s4 / n - 4.0 * mean * (s3 / n) +
      6.0 * mean * mean * (s2 / n) - 3.0 * mean * mean * mean * mean
    (s9(mean), s9(m2),
      if (m2 > 0) Some(s9(m3 / s9(math.sqrt(m2 * m2 * m2)))) else None,
      if (m2 > 0) Some(s9(m4 / (m2 * m2) - 3.0)) else None)
  }

  test("higher moments: right-skewed group positive skew, symmetric " +
      "group ~0, every value matching the replica") {
    val skewed = Seq(1L, 1L, 1L, 1L, 2L, 2L, 3L, 10L)
    val sym = Seq(1L, 2L, 2L, 3L)
    val rows = skewed.map(("s", _)) ++ sym.map(("y", _))
    val got = Profile.higherMoments(rows.toDF("g", "v").repartition(3),
      Seq("g"), "v").collect().map(r => r.getString(0) -> r).toMap
    for ((g, vs) <- Seq("s" -> skewed, "y" -> sym)) {
      val (mean, m2, sk, ku) = refMoments(vs)
      assert(got(g).getAs[Double]("mean") == mean, g)
      assert(got(g).getAs[Double]("m2") == m2, g)
      assert(Option(got(g).getAs[Double]("skew")) == sk, g)
      assert(Option(got(g).getAs[Double]("kurt")) == ku, g)
      assert(got(g).getAs[Long]("n") == vs.size)
    }
    assert(got("s").getAs[Double]("skew") > 1.0)
    assert(math.abs(got("y").getAs[Double]("skew")) < 1e-9)
  }

  test("higher moments: constant group -> m2 0, NULL skew/kurt") {
    val got = Profile.higherMoments(
      Seq(("c", 5L), ("c", 5L)).toDF("g", "v"), Seq("g"), "v").head()
    assert(got.getAs[Double]("m2") == 0.0)
    assert(got.isNullAt(got.fieldIndex("skew")))
    assert(got.isNullAt(got.fieldIndex("kurt")))
  }

  // ===== McNemar =======================================================

  test("mcnemar: discordant counts and both statistics are exact") {
    val units = Seq((true, false), (true, false), (true, false),
      (false, true), (true, true), (false, false))
    val got = Profile.mcnemar(units.toDF("fa", "fb"), "fa", "fb").head()
    assert(got.getAs[Long]("b") == 3L && got.getAs[Long]("c") == 1L)
    assert(got.getAs[Long]("n_units") == 6L)
    assert(got.getAs[Double]("chi2") == s9(4.0 / 4.0))
    assert(got.getAs[Double]("chi2_cc") == s9(1.0 / 4.0))
  }

  test("mcnemar: no discordant pairs -> NULL stats; |b-c|<=1 -> cc 0") {
    val agree = Profile.mcnemar(
      Seq((true, true), (false, false)).toDF("fa", "fb"),
      "fa", "fb").head()
    assert(agree.isNullAt(agree.fieldIndex("chi2")))
    val close = Profile.mcnemar(
      Seq((true, false), (false, true), (true, false)).toDF("fa", "fb"),
      "fa", "fb").head()
    assert(close.getAs[Double]("chi2_cc") == 0.0)
  }
}
