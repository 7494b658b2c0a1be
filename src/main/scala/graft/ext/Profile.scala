package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column profiling — the "ANALYZE TABLE" a data pipeline runs on every
  * new ingest batch before trusting it: per-column null counts,
  * distinct cardinality, min/max, and the modal value. One long-format
  * row per profiled column, so downstream QA rules (null-rate jumped,
  * cardinality collapsed, a constant column appeared) diff two profile
  * frames row-by-row.
  *
  * Scale shape: each column profiles over its OWN pruned single-column
  * scan (columnar formats make per-column passes nearly free, and the
  * per-column jobs are independent — they schedule concurrently). The
  * distinct count is exact via a two-level aggregate (distinct then
  * count — no count(distinct) Expand doubling); the modal value is a
  * struct-min argmax (count desc, value asc tie-break), map-side
  * partial everywhere. Values are profiled as strings so one output
  * schema fits every column type; keep profiled columns to
  * string/integer families — float-to-string FORMATTING is
  * engine-specific and would break cross-engine comparability. */
object Profile {

  def profile(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.map { c =>
      val vals = df.select(col(c).cast("string").as("v"))
      val basic = vals.agg(count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("v"))).as("n_nulls"),
        min(col("v")).as("min_value"), max(col("v")).as("max_value"))
      val dist = vals.where(col("v").isNotNull).distinct()
        .agg(count(lit(1)).as("n_distinct"))
      val top = vals.where(col("v").isNotNull)
        .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
        .agg(min(struct((-col("cnt")).as("nc"), col("v").as("tv"))).as("b"))
        .select(col("b.tv").as("top_value"), (-col("b.nc")).as("top_count"))
      basic.crossJoin(dist).crossJoin(top)
        .select(lit(c).as("col_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_value"), col("max_value"),
          col("top_value"), col("top_count"))
    }.reduce(_.unionByName(_))

  /** Schema drift between two frame versions — the generalized form of
    * the fixture-schema contract that round 9's events regression
    * taught (a silent upstream re-type surfaces as N scattered
    * analysis errors unless ONE check catches it at the boundary).
    * Compares column names and DataTypes of `old`/`new` and returns
    * one row per drifted column: status `added` / `removed` /
    * `retyped` (with both type strings), empty when the schemas agree.
    * Pure metadata — no job runs; wire it ahead of any ingest append
    * and fail loudly on non-empty. Column ORDER is deliberately not
    * compared: columnar formats and `unionByName` make order
    * insignificant, and flagging it would cry wolf. */
  /** Per-group Pearson correlation between two numeric columns,
    * bit-reproducible across engines and topologies — the metric-vs-
    * metric sanity check ("does quality score track document length
    * inside each source?") that `corr()` cannot serve here because
    * float-sum aggregation is partition-order dependent.
    *
    * Contract: the five sufficient statistics (Σx, Σy, Σx², Σy², Σxy)
    * accumulate EXACTLY through DECIMAL(38,15) and normalize to 9
    * significant digits ([[graft.queries.Q.dsum]]); the closed-form
    * combine then runs on those identical doubles in both engines —
    * products/differences/division are IEEE-determined and sqrt is
    * correctly rounded by the standard, so the result is bit-identical.
    * This is the naive (uncentered) formula: under extreme cancellation
    * (|ρ| estimates from sums agreeing to >9 digits) precision degrades
    * — identically on every engine; zero variance yields NULL.
    * Pairwise-complete semantics: rows where either side is NULL are
    * excluded (matching SQL corr()).
    *
    * One map-side-combined aggregate over a pruned scan; group count
    * bounded by the key cardinality. */
  def groupCorr(df: DataFrame, keys: Seq[String], xCol: String,
      yCol: String): DataFrame = {
    import graft.queries.Q
    val x = col(xCol).cast("double"); val y = col(yCol).cast("double")
    // wide decimal-moment aggregate on a possibly few-split scan:
    // spread to cluster width first (the partialCorr/Checkpoints.spread
    // shape — measured 3.5 s → 1.2 s there; free at scale)
    val agg = Checkpoints
      .spread(df.where(x.isNotNull && y.isNotNull)
        .select(keys.map(col) :+ x.as("__gx") :+ y.as("__gy"): _*))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        Q.dsum(col("__gx")).as("sx"), Q.dsum(col("__gy")).as("sy"),
        Q.dsum(col("__gx") * col("__gx")).as("sxx"),
        Q.dsum(col("__gy") * col("__gy")).as("syy"),
        Q.dsum(col("__gx") * col("__gy")).as("sxy"))
    val nd = col("n").cast("double")
    val num = nd * col("sxy") - col("sx") * col("sy")
    val vx = nd * col("sxx") - col("sx") * col("sx")
    val vy = nd * col("syy") - col("sy") * col("sy")
    agg.withColumn("corr",
        when(vx > 0 && vy > 0, Q.sig9(num / sqrt(vx * vy))))
      .select(keys.map(col) :+ col("n") :+ col("corr"): _*)
  }

  /** First-order partial correlation r_xy·z — the dependence between
    * x and y with the common driver z held fixed: the
    * confounder-screen beside raw Pearson ([[groupCorr]]) — a large
    * r_xy that collapses when z is partialled out was z all along.
    * r_xy·z = (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²)) over the
    * COMPLETE-CASE rows (all three columns non-null — pairwise
    * deletion would mix three different populations).
    *
    * ONE map-side-combined aggregate (nine decimal sums + count);
    * each pairwise r is the groupCorr sig9'd chain, and the partial
    * form is one more sig9'd IEEE chain with its degenerate guards
    * (any |r| = 1 leg ⇒ NULL).
    *
    * @return one row: (n, r_xy, r_xz, r_yz, r_xy_z) */
  def partialCorr(df: DataFrame, xCol: String, yCol: String,
      zCol: String): DataFrame = {
    import graft.queries.Q
    val x = col(xCol).cast("double"); val y = col(yCol).cast("double")
    val z = col(zCol).cast("double")
    // ONE wide decimal-moment aggregate over a scan that may arrive as
    // a handful of splits: spread to cluster width first so the nine
    // per-row decimal casts don't serialize onto the scan cores
    // (Checkpoints.spread scaladoc — exactly this shape; free at scale)
    val agg = Checkpoints
      .spread(df.where(x.isNotNull && y.isNotNull && z.isNotNull)
        .select(x.as("__x"), y.as("__y"), z.as("__z")))
      .select(col("__x").as(xCol), col("__y").as(yCol),
        col("__z").as(zCol))
      .agg(count(lit(1)).as("n"),
        Q.dsum(x).as("sx"), Q.dsum(y).as("sy"), Q.dsum(z).as("sz"),
        Q.dsum(x * x).as("sxx"), Q.dsum(y * y).as("syy"),
        Q.dsum(z * z).as("szz"),
        Q.dsum(x * y).as("sxy"), Q.dsum(x * z).as("sxz"),
        Q.dsum(y * z).as("syz"))
    val nd = col("n").cast("double")
    def r(sab: org.apache.spark.sql.Column, sa: org.apache.spark.sql.Column,
        sb: org.apache.spark.sql.Column, saa: org.apache.spark.sql.Column,
        sbb: org.apache.spark.sql.Column) = {
      val num = nd * sab - sa * sb
      val va = nd * saa - sa * sa
      val vb = nd * sbb - sb * sb
      when(va > 0 && vb > 0, Q.sig9(num / sqrt(va * vb)))
    }
    val withR = agg.select(col("n"),
      r(col("sxy"), col("sx"), col("sy"), col("sxx"), col("syy"))
        .as("r_xy"),
      r(col("sxz"), col("sx"), col("sz"), col("sxx"), col("szz"))
        .as("r_xz"),
      r(col("syz"), col("sy"), col("sz"), col("syy"), col("szz"))
        .as("r_yz"))
    val den = (lit(1.0) - col("r_xz") * col("r_xz")) *
      (lit(1.0) - col("r_yz") * col("r_yz"))
    withR.select(col("n"), col("r_xy"), col("r_xz"), col("r_yz"),
      when(col("r_xy").isNotNull && col("r_xz").isNotNull &&
          col("r_yz").isNotNull && den > 0,
        Q.sig9((col("r_xy") - col("r_xz") * col("r_yz")) /
          sqrt(den))).as("r_xy_z"))
  }

  /** Equi-width histogram of a numeric column: `bins` buckets spanning
    * [min, max], the top edge inclusive (its values clamp into the last
    * bin). Two aggregates — a min/max row broadcast onto the scan (the
    * one-row league-scalar pattern) and a bin-keyed count; empty bins
    * are absent. All arithmetic is plain IEEE (subtract/divide/floor),
    * so bucket boundaries and counts are bit-identical across engines;
    * a constant column degenerates to one bin. NULLs are excluded.
    * Output: bin, bin_lo, bin_hi, n. */
  /** Per-group exact moments for two-sample testing: exact count,
    * decimal-summed mean (the davg contract) and sample variance from
    * the sig9'd decimal sums — (S2 − S1²/n)/(n−1) in fixed IEEE. One
    * map-side-combinable aggregate per group, scan-bound at any
    * scale. */
  def groupMoments(df: DataFrame, keyCols: Seq[String], valCol: String)
      : DataFrame = {
    val x = col(valCol).cast("double")
    df.groupBy(keyCols.map(col): _*)
      .agg(count(x).as("n"),
        graft.queries.Q.dsum(x).as("s1"),
        graft.queries.Q.dsum(x * x).as("s2"))
      .withColumn("mean_v", col("s1") / col("n"))
      .withColumn("var_v", when(col("n") > 1, graft.queries.Q.sig9(
        (col("s2") - col("s1") * col("s1") / col("n").cast("double")) /
          (col("n") - 1).cast("double"))))
  }

  /** Welch's two-sample z over [[groupMoments]] of an A/B assignment:
    * z = (m_A − m_B) / sqrt(v_A/n_A + v_B/n_B) — the test every
    * experimentation platform runs on a metric before shipping.
    * Expects exactly two groups (smallest key = A); sqrt is
    * IEEE-correctly-rounded, so only the final sig9 is needed.
    * Returns ONE row: (group_a, group_b, n_a, n_b, mean_a, mean_b,
    * var_a, var_b, z). */
  def welchZ(moments: DataFrame, keyCol: String): DataFrame = {
    val a = moments.orderBy(col(keyCol).asc).limit(1)
      .select(col(keyCol).as("group_a"), col("n").as("n_a"),
        col("mean_v").as("mean_a"), col("var_v").as("var_a"))
    val b = moments.orderBy(col(keyCol).desc).limit(1)
      .select(col(keyCol).as("group_b"), col("n").as("n_b"),
        col("mean_v").as("mean_b"), col("var_v").as("var_b"))
    a.crossJoin(b)
      .withColumn("z", graft.queries.Q.sig9(
        (col("mean_a") - col("mean_b")) /
          sqrt(col("var_a") / col("n_a").cast("double") +
            col("var_b") / col("n_b").cast("double"))))
  }

  /** Standard normal quantile literals for [[minDetectableEffect]] —
    * computed once here and embedded identically in the oracle (the
    * pagerank-constant convention): two-sided α = 0.05 and 80% power. */
  val ZTwoSided05 = 1.9599639845400545
  val ZPower80 = 0.8416212335729143

  /** Minimum detectable effect at the CURRENT sample sizes — the
    * pre-launch sizing readout beside [[welchZ]] (the post-hoc test):
    * MDE = (z_{α/2} + z_β) · sqrt(v_A/n_A + v_B/n_B), the smallest
    * true mean shift the running experiment would detect with the
    * given power. Consumes the same [[groupMoments]] frame as welchZ
    * (exact decimal sums, sig9'd variances); the quantiles are caller
    * literals (precomputed — no inverse-CDF in either engine), the
    * sqrt is IEEE-correctly-rounded and sig9'd, the final products
    * and the relative form are sig9'd once each.
    *
    * @return ONE row: (group_a, group_b, n_a, n_b, mean_a, var_a,
    *         var_b, mde_abs, mde_rel) — mde_rel relative to the
    *         CONTROL mean (group_a; NULL when that mean is 0) */
  def minDetectableEffect(moments: DataFrame, keyCol: String,
      zAlpha: Double = ZTwoSided05, zBeta: Double = ZPower80)
      : DataFrame = {
    import graft.queries.Q
    val a = moments.orderBy(col(keyCol).asc).limit(1)
      .select(col(keyCol).as("group_a"), col("n").as("n_a"),
        col("mean_v").as("mean_a"), col("var_v").as("var_a"))
    val b = moments.orderBy(col(keyCol).desc).limit(1)
      .select(col(keyCol).as("group_b"), col("n").as("n_b"),
        col("var_v").as("var_b"))
    val se = Q.sig9(sqrt(col("var_a") / col("n_a").cast("double") +
      col("var_b") / col("n_b").cast("double")))
    a.crossJoin(b)
      .withColumn("mde_abs", Q.sig9(lit(zAlpha + zBeta) * se))
      .withColumn("mde_rel", when(col("mean_a") =!= 0.0,
        Q.sig9(col("mde_abs") / abs(col("mean_a")))))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        col("mean_a"), col("var_a"), col("var_b"), col("mde_abs"),
        col("mde_rel"))
  }

  /** Two-proportion z-test (pooled): the CONVERSION-RATE member of the
    * A/B family — Welch z compares a metric's MEANS, Mann-Whitney its
    * ranks; this compares the fraction of units that converted.
    * z = (p_A − p_B) / sqrt(p̂(1−p̂)(1/n_A + 1/n_B)) with the pooled
    * p̂ = (x_A + x_B)/(n_A + n_B).
    *
    * Expects one row per UNIT (deduplicate users upstream — a user
    * with five purchases converts once); exactly two groups, smallest
    * key = A (the [[welchZ]] convention). n and x are exact BIGINTs;
    * the three proportions are single sig9'd divisions and the z
    * chain is fixed IEEE over them, sig9'd once more at the end.
    *
    * @return ONE row: (group_a, group_b, n_a, n_b, x_a, x_b, p_a,
    *         p_b, z) — z NULL when the pooled variance is 0 (all
    *         convert or none) or either side is empty */
  def twoProportionZ(units: DataFrame, groupCol: String,
      successCol: String): DataFrame = {
    import graft.queries.Q
    val counts = units.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col(successCol), 1L).otherwise(0L)).as("x"))
    val a = counts.orderBy(col(groupCol).asc).limit(1)
      .select(col(groupCol).as("group_a"), col("n").as("n_a"),
        col("x").as("x_a"))
    val b = counts.orderBy(col(groupCol).desc).limit(1)
      .select(col(groupCol).as("group_b"), col("n").as("n_b"),
        col("x").as("x_b"))
    val pa = Q.sig9(col("x_a").cast("double") / col("n_a").cast("double"))
    val pb = Q.sig9(col("x_b").cast("double") / col("n_b").cast("double"))
    val pp = Q.sig9((col("x_a") + col("x_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double"))
    val se = Q.sig9(sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n_a").cast("double") +
        lit(1.0) / col("n_b").cast("double"))))
    a.crossJoin(b)
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        col("x_a"), col("x_b"),
        when(col("n_a") > 0, pa).as("p_a"),
        when(col("n_b") > 0, pb).as("p_b"),
        when(col("n_a") > 0 && col("n_b") > 0 && se > 0.0,
          Q.sig9((pa - pb) / se)).as("z"))
  }

  /** Sample-ratio-mismatch (SRM) check: is the unit split between the
    * two arms consistent with the intended ratio? The first sanity
    * gate every experimentation platform runs BEFORE reading any
    * metric — a skewed split means broken randomization and invalidates
    * the whole readout. One-dof chi-square of observed arm counts
    * against expected `ratioA : 1−ratioA`, plus the signed z (same
    * test; the sign says WHICH arm is over-allocated).
    *
    * Counts are exact BIGINTs; expectations and the statistic are
    * fixed IEEE chains over exact casts and the Scala-literal ratio,
    * sig9'd once each — no aggregation of floats at all.
    *
    * @param units one row per unit (deduplicate upstream)
    * @return ONE row: (group_a, group_b, n_a, n_b, expected_a,
    *         chi2, z) — NULL chi2/z when either expectation is 0 */
  /** 2×2 risk readouts — odds ratio, relative risk, log-OR and its
    * SE: the epidemiology/rollout view of a binary outcome that
    * [[twoProportionZ]]'s pooled z deliberately collapses (the z says
    * "different"; OR/RR say "how many times as likely", and log-OR ±
    * SE is what meta-analyses pool). Group 1 = exposed/treatment,
    * group 0 = control (the DID arm convention); one row per UNIT.
    *
    * Scale shape: ONE conditional aggregate over the unit stream —
    * four exact BIGINT cells, everything after is scalar arithmetic.
    * Determinism: a·d and b·c are exact DECIMAL(38,0) products (two
    * 10⁹-unit arms overflow BIGINT), OR the spearman sig9 chain over
    * their casts, RR = sig9(p₁)/sig9(p₀) sig9'd, log-OR one sig9'd
    * ln, SE one sig9'd sqrt of the reciprocal sum. Zero cells NULL
    * the affected outputs (the classic undefined cases), never throw.
    *
    * @return ONE row: (a, b, c, d, p_exposed, p_control, rel_risk,
    *         odds_ratio, log_or, se_log_or) */
  def riskRatios(units: DataFrame, groupCol: String, flagCol: String)
      : DataFrame = {
    import graft.queries.Q
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val dec0 = DecimalType(38, 0)
    val g = col(groupCol).cast("long")
    val f = col(flagCol).cast("boolean")
    def cell(cond: Column, out: String) =
      coalesce(sum(when(cond, 1L).otherwise(0L)), lit(0L)).cast("long")
        .as(out)
    val cells = units.where(g.isNotNull && f.isNotNull)
      .agg(cell(g === 1 && f, "a"), cell(g === 1 && !f, "b"),
        cell(g === 0 && f, "c"), cell(g === 0 && !f, "d"))
    val ad = col("a").cast(dec0) * col("d")
    val bc = col("b").cast(dec0) * col("c")
    val rec = lit(1.0) / col("a").cast(DoubleType) +
      lit(1.0) / col("b").cast(DoubleType) +
      lit(1.0) / col("c").cast(DoubleType) +
      lit(1.0) / col("d").cast(DoubleType)
    cells
      .withColumn("p_exposed", when(col("a") + col("b") > 0,
        Q.sig9(col("a").cast(DoubleType) /
          (col("a") + col("b")).cast(DoubleType))))
      .withColumn("p_control", when(col("c") + col("d") > 0,
        Q.sig9(col("c").cast(DoubleType) /
          (col("c") + col("d")).cast(DoubleType))))
      .withColumn("rel_risk", when(col("p_control") > 0 &&
          col("p_exposed").isNotNull,
        Q.sig9(col("p_exposed") / col("p_control"))))
      .withColumn("odds_ratio", when(bc > 0, Q.sig9(
        Q.sig9(ad.cast(DoubleType)) / Q.sig9(bc.cast(DoubleType)))))
      .withColumn("log_or", when(col("odds_ratio") > 0,
        Q.sig9(log(col("odds_ratio")))))
      .withColumn("se_log_or", when(col("a") > 0 && col("b") > 0 &&
          col("c") > 0 && col("d") > 0,
        Q.sig9(sqrt(rec))))
  }

  def sampleRatioCheck(units: DataFrame, groupCol: String,
      ratioA: Double = 0.5): DataFrame = {
    import graft.queries.Q
    require(ratioA > 0 && ratioA < 1, s"ratioA must be in (0,1): $ratioA")
    val counts = units.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"))
    val a = counts.orderBy(col(groupCol).asc).limit(1)
      .select(col(groupCol).as("group_a"), col("n").as("n_a"))
    val b = counts.orderBy(col(groupCol).desc).limit(1)
      .select(col(groupCol).as("group_b"), col("n").as("n_b"))
    val nTot = (col("n_a") + col("n_b")).cast("double")
    val ea = Q.sig9(nTot * lit(ratioA))
    val eb = Q.sig9(nTot * lit(1.0 - ratioA))
    val da = col("n_a").cast("double") - ea
    val db = col("n_b").cast("double") - eb
    val chi2 = Q.sig9(Q.sig9(da * da / ea) + Q.sig9(db * db / eb))
    val z = Q.sig9(da / Q.sig9(sqrt(nTot * lit(ratioA * (1.0 - ratioA)))))
    a.crossJoin(b)
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        ea.as("expected_a"),
        when(col("n_a") + col("n_b") > 0, chi2).as("chi2"),
        when(col("n_a") + col("n_b") > 0, z).as("z"))
  }

  /** CUPED variance reduction (Deng et al., WSDM 2013): adjust each
    * unit's experiment metric by its PRE-period covariate,
    * y' = y − θ·(x − x̄) with θ = cov(x, y)/var(x) pooled across arms,
    * then Welch-z the adjusted metric — the industry-standard way to
    * shrink A/B confidence intervals without more traffic (the same
    * users' past behavior explains much of the outcome variance; θ is
    * the OLS slope of y on x, so subtracting it cannot bias the
    * between-arm difference). Reports the raw z beside the adjusted
    * one so the variance win is visible in the row itself.
    *
    * Determinism: θ comes from the TWO-PASS CENTERED covariance
    * Σ(x−x̄)(y−ȳ) / Σ(x−x̄)² — the one-pass n·Σxy − Σx·Σy form
    * subtracts two nearly equal magnitudes, so a single last-ulp tie
    * in either aggregate amplifies through the cancellation into a
    * visibly different θ (observed cross-engine at sf0.001; the
    * centered form has no cancellation to amplify). Each centered
    * product is sig9'd BEFORE the exact decimal sum (the NaiveBayes
    * lesson), and every downstream chain is fixed IEEE over sig9'd
    * scalars, re-sig9'd per unit so the moment sums stay granular.
    *
    * Plan: two pooled single-row aggregates (means, then centered
    * sums — both broadcast), one map-side adjustment projection, then
    * [[groupMoments]] + [[welchZ]] twice (raw, adjusted).
    *
    * @param units one row per unit: (groupCol, metricCol y, covCol x)
    * @return ONE row: (group_a, group_b, n_a, n_b, theta, z_raw,
    *         z_adj) — theta NULL (and z_adj = z_raw semantics lost)
    *         when var(x) = 0; the caller sees the NULL, not a guess */
  def cupedZ(units: DataFrame, groupCol: String, metricCol: String,
      covCol: String): DataFrame = {
    import graft.queries.Q
    val y = col(metricCol).cast("double")
    val x = col(covCol).cast("double")
    val base = units.select(col(groupCol).as("g"), y.as("y"), x.as("x"))
      .transform(Checkpoints.cut) // pooled stats + two moment passes
    val means = base.agg(count(lit(1)).as("n"),
      Q.dsum(col("x")).as("sx"), Q.dsum(col("y")).as("sy"))
      .select(col("n"),
        Q.sig9(col("sx") / col("n").cast("double")).as("xbar"),
        Q.sig9(col("sy") / col("n").cast("double")).as("ybar"))
    val cx = col("x") - col("xbar")
    val cy = col("y") - col("ybar")
    val centered = base.crossJoin(broadcast(means))
      .agg(first(col("n")).as("n"), first(col("xbar")).as("xbar"),
        Q.dsum(Q.sig9(cx * cy)).as("sxy_c"),
        Q.dsum(Q.sig9(cx * cx)).as("sxx_c"))
    val stats = centered.select(col("n"),
      when(col("sxx_c") > 0,
        Q.sig9(col("sxy_c") / col("sxx_c"))).as("theta"),
      col("xbar"))
    val adj = base.crossJoin(broadcast(stats))
      .withColumn("y_adj", Q.sig9(
        col("y") - coalesce(col("theta"), lit(0.0)) *
          (col("x") - col("xbar"))))
    val zRaw = welchZ(groupMoments(adj, Seq("g"), "y"), "g")
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        col("z").as("z_raw"))
    val zAdj = welchZ(groupMoments(adj, Seq("g"), "y_adj"), "g")
      .select(col("group_a").as("ga2"), col("z").as("z_adj"))
    zRaw.crossJoin(broadcast(zAdj))
      .crossJoin(broadcast(stats.select(col("theta"))))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        col("theta"), col("z_raw"), col("z_adj"))
  }

  /** Difference-in-differences — the quasi-experimental member of the
    * A/B family for launches WITHOUT randomization (a rollout hits the
    * treatment arm at a known cutover; the control arm's pre→post
    * drift estimates the common trend): DID = (m_T,post − m_T,pre) −
    * (m_C,post − m_C,pre), SE = sqrt(Σ_cells v/n) (the four-cell
    * Welch form), z = DID/SE.
    *
    * Consumes raw observation rows; cells are (arm × period)
    * [[groupMoments]] — exact decimal sums, sig9'd variances — so the
    * whole readout is ONE grouped aggregate over the observation
    * stream plus a four-row pivot (the welchZ scalar idiom). Arm and
    * period columns must be 0/1 (0 = control / pre).
    *
    * Determinism: each per-arm diff is one sig9'd subtraction of the
    * deterministic cell means, DID one sig9'd subtraction of the
    * diffs, SE one sig9'd sqrt, z one sig9'd division — fixed IEEE
    * between sig9 points on both engines.
    *
    * @return ONE row: (n_c_pre, n_c_post, n_t_pre, n_t_post,
    *         mean_c_pre, mean_c_post, mean_t_pre, mean_t_post,
    *         diff_control, diff_treat, did, se, z) — z NULL when any
    *         cell is empty or degenerate (var NULL / SE 0) */
  def didEstimate(df: DataFrame, armCol: String, periodCol: String,
      valCol: String): DataFrame = {
    import graft.queries.Q
    val m = groupMoments(df, Seq(armCol, periodCol), valCol)
    def pick(arm: Int, per: Int, f: String) =
      max(when(col(armCol) === arm && col(periodCol) === per, col(f)))
    def cell(arm: Int, per: Int, tag: String) = Seq(
      coalesce(pick(arm, per, "n"), lit(0L)).as(s"n_$tag"),
      pick(arm, per, "mean_v").as(s"mean_$tag"),
      pick(arm, per, "var_v").as(s"var_$tag"))
    val cols = cell(0, 0, "c_pre") ++ cell(0, 1, "c_post") ++
      cell(1, 0, "t_pre") ++ cell(1, 1, "t_post")
    val p = m.agg(cols.head, cols.tail: _*)
    val dc = Q.sig9(col("mean_c_post") - col("mean_c_pre"))
    val dt = Q.sig9(col("mean_t_post") - col("mean_t_pre"))
    val se = Q.sig9(sqrt(
      col("var_c_pre") / col("n_c_pre").cast("double") +
        col("var_c_post") / col("n_c_post").cast("double") +
        col("var_t_pre") / col("n_t_pre").cast("double") +
        col("var_t_post") / col("n_t_post").cast("double")))
    p.withColumn("diff_control", dc)
      .withColumn("diff_treat", dt)
      .withColumn("did", Q.sig9(col("diff_treat") - col("diff_control")))
      .withColumn("se", se)
      .withColumn("z", when(col("se") > 0,
        Q.sig9(col("did") / col("se"))))
      .select(col("n_c_pre"), col("n_c_post"), col("n_t_pre"),
        col("n_t_post"), col("mean_c_pre"), col("mean_c_post"),
        col("mean_t_pre"), col("mean_t_post"), col("diff_control"),
        col("diff_treat"), col("did"), col("se"), col("z"))
  }

  /** Trimmed and winsorized means — the robust location estimates
    * beside the median ([[percentRank]] order stats) and the robust z
    * (MAD): drop (trimmed) or clamp (winsorized) the outer
    * `trimPerMille`/1000 tail mass on each side. The trim fraction is
    * an integer PER-MILLE so the cut ranks are exact integral
    * divisions — a double fraction times a 2^53-scale count is not
    * exact, the equiDepthBins lesson.
    *
    * Windowless: tie-stable rank spans come from [[percentRank]]'s
    * binned prefix sums; each distinct value contributes
    * `min(hi, below+cnt) − max(lo, below)` retained occurrences
    * (exact integers), value mass routes through DECIMAL(38,15) ×
    * BIGINT products (exact), and the two boundary values are
    * discrete order statistics (min-above-rank, the conformal
    * convention). One sig9 per output mean.
    *
    * @return per key: (keys…, n, lo_cut, v_lo, v_hi, trimmed_mean,
    *         winsorized_mean) — means NULL when the trim empties the
    *         middle */
  def trimmedMean(df: DataFrame, keyCols: Seq[String], valCol: String,
      trimPerMille: Int = 50): DataFrame = {
    import graft.queries.Q
    import org.apache.spark.sql.types.DecimalType
    require(trimPerMille >= 0 && trimPerMille < 500,
      s"trimPerMille must be in [0, 500), got $trimPerMille")
    // exact decimal SHAPES (the KM (25,15)-accumulator lesson — a
    // (38,15)×BIGINT product would force Spark to cap precision and
    // SHAVE SCALE): value (25,15) × count (12,0) → (38,15) exact for
    // |value| < 1e10, count < 1e12; addends re-bounded to (33,15)
    // keep the winsorized sum exact for totals < 1e18
    val dv = DecimalType(25, 15)
    val dk = DecimalType(12, 0)
    val da = DecimalType(33, 15)
    val keys = keyCols.map(col)
    val pr = percentRank(df, keyCols, valCol)
    val totals = pr.groupBy(keys: _*)
      .agg(max(col("n_below") + col("cnt")).as("n"))
    val cut = pr.join(broadcast(totals), keyCols)
      .withColumn("lo_cut",
        expr(s"(n * CAST($trimPerMille AS BIGINT)) div 1000"))
      .withColumn("hi_cut", col("n") - col("lo_cut"))
      .withColumn("kept", greatest(lit(0L),
        least(col("n_below") + col("cnt"), col("hi_cut")) -
          greatest(col("n_below"), col("lo_cut"))))
    val g = cut.groupBy(keys: _*)
      .agg(max(col("n")).as("n"), max(col("lo_cut")).as("lo_cut"),
        sum(col("s").cast(dv) * col("kept").cast(dk)).as("__mid"),
        min(when(col("n_below") + col("cnt") >= col("lo_cut") + 1,
          col("s"))).as("v_lo"),
        min(when(col("n_below") + col("cnt") >= col("n") - col("lo_cut"),
          col("s"))).as("v_hi"))
    val nMid = col("n") - lit(2L) * col("lo_cut")
    val winTotal = col("__mid").cast(da) +
      (col("v_lo").cast(dv) * col("lo_cut").cast(dk)).cast(da) +
      (col("v_hi").cast(dv) * col("lo_cut").cast(dk)).cast(da)
    g.select(keys ++ Seq(col("n"), col("lo_cut"), col("v_lo"),
      col("v_hi"),
      when(nMid > 0, Q.sig9(col("__mid").cast("double") /
        nMid.cast("double"))).as("trimmed_mean"),
      when(nMid > 0, Q.sig9(winTotal.cast("double") /
        col("n").cast("double"))).as("winsorized_mean")): _*)
  }

  /** Delete-one-group jackknife for a RATIO metric (Quenouille/Tukey;
    * the standard error bar for CTR-style ratios in search/ads
    * evaluation, where the bootstrap's unit resampling breaks the
    * ratio's numerator/denominator coupling): leave out one group
    * (day, cohort, shard) at a time, θ_(g) = (R−r_g)/(N−n_g), and
    * se² = (G−1)/G · Σ (θ_(g) − θ̄)².
    *
    * Exactness: per-group numerators/denominators are exact BIGINT
    * sums; every θ is one sig9'd division; the pseudo-value folds run
    * inside ONE bounded G-row array in group-ascending order (the KM
    * convention — left-to-right IEEE, bit-identical cross-engine).
    * Groups whose removal empties the denominator have no pseudo-value
    * (NULL, excluded; `g_groups` counts survivors).
    *
    * Scale shape: one (group)-keyed aggregate (map-side partial), then
    * everything lives in the single array row — G is the number of
    * DAYS/COHORTS, bounded by the calendar, not the corpus.
    *
    * @return one row: (theta, se_jack, g_groups, num_total,
    *         den_total) */
  def jackknifeRatio(df: DataFrame, groupCol: String, numCol: String,
      denCol: String): DataFrame = {
    import graft.queries.Q
    val pg = df
      .where(col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("g"))
      .agg(sum(col(numCol)).cast("long").as("r"),
        sum(col(denCol)).cast("long").as("n"))
    val packed = pg
      .agg(array_sort(collect_list(struct(col("g"), col("r"),
        col("n")))).as("arr"))
      .select(col("arr"),
        aggregate(col("arr"), lit(0L), (a, x) => a + x.getField("r"))
          .as("rt"),
        aggregate(col("arr"), lit(0L), (a, x) => a + x.getField("n"))
          .as("nt"))
    val thetas = filter(
      transform(col("arr"), x =>
        when(col("nt") - x.getField("n") > 0,
          Q.sig9((col("rt") - x.getField("r")).cast("double") /
            (col("nt") - x.getField("n")).cast("double")))),
      t => t.isNotNull)
    val withT = packed.select(col("rt"), col("nt"),
      thetas.as("ts"), size(thetas).cast("long").as("g"))
    val sbar = aggregate(col("ts"), lit(0.0), (a, t) => a + t)
    val mean = sbar / col("g").cast("double")
    val devs = aggregate(col("ts"), lit(0.0),
      (a, t) => a + Q.sig9((t - mean) * (t - mean)))
    val varJ = Q.sig9((col("g") - 1).cast("double") /
      col("g").cast("double") * devs)
    withT.select(
      when(col("nt") > 0, Q.sig9(col("rt").cast("double") /
        col("nt").cast("double"))).as("theta"),
      when(col("g") > 0, Q.sig9(sqrt(greatest(varJ, lit(0.0)))))
        .as("se_jack"),
      col("g").as("g_groups"),
      col("rt").as("num_total"),
      col("nt").as("den_total"))
  }

  /** One-pass approximate randomization (permutation) test on the
    * two-arm mean difference — the assumption-free significance
    * readout beside the parametric Welch z ([[welchZ]]) and the rank
    * MWU ([[mannWhitney]]): how often does a RANDOM re-assignment of
    * units to arms produce a mean gap at least as extreme as the
    * observed one? p = (1 + #extreme) / (R + 1), the standard
    * add-one Monte-Carlo estimator (Davison & Hinkley).
    *
    * Randomization scheme (deterministic, engine-portable): replicate
    * r re-assigns each unit to arm A iff u_r < n_a/n, where u_r is
    * the [[Bootstrap.mixers]] affine mix of the unit's SINGLE md5
    * hash — one md5 per row for all R replicates, the Poisson-
    * bootstrap recipe. Binomial re-assignment (arm sizes vary
    * slightly per replicate) rather than a fixed-size permutation —
    * the standard large-sample approximation, which is what makes the
    * test ONE corpus pass instead of R distributed shuffles; a
    * replicate that degenerates to an empty arm (possible only at toy
    * sizes) is dropped from the null distribution and `n_reps`
    * reports the survivors.
    *
    * Determinism: u_r is an exact rational compared against the
    * exact-long ratio n_a/n (both single IEEE divisions, bit-
    * identical); arm sums route through decimal; each mean diff is
    * sig9'd once, so the >= |obs| comparisons match cross-engine and
    * the extreme COUNT is exact.
    *
    * Scale shape: one pass for the observed stats; one map-side
    * R-explode + ONE (replicate, arm) aggregate (map-side partial)
    * for the whole null distribution — O(R) result rows, no shuffle
    * of the corpus beyond that aggregate, no driver data path.
    *
    * @return one row: (group_a, group_b, n_a, n_b, obs_diff, n_reps,
    *         n_extreme, p_value) */
  def permutationTest(df: DataFrame, groupCol: String, valCol: String,
      idCol: String, replicates: Int = 200,
      salt: String = "perm"): DataFrame = {
    import graft.queries.Q
    require(replicates >= 2 && replicates <= 100000,
      s"replicates must be in [2, 100000], got $replicates")
    // ONE cluster-width materialization shared by the observed-stats
    // branch and the R-way replicate branch (each used to re-scan —
    // and re-hash — the input; at a single-split local scan that also
    // serialized the whole operator onto one core)
    val rows = Checkpoints.spreadCut(df
      .filter(col(valCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("__g"), col(valCol).cast("double")
        .as("__x"), col(idCol).as("__id")))
    val stats = rows.groupBy(col("__g"))
      .agg(count(lit(1)).cast("long").as("__n"), Q.dsum(col("__x"))
        .as("__s"))
    val arms = stats.agg(min(col("__g")).as("__ga"),
      max(col("__g")).as("__gb"))
    val aRow = stats.crossJoin(broadcast(arms))
      .where(col("__g") === col("__ga"))
      .select(col("__g").as("group_a"), col("__n").as("n_a"),
        col("__s").as("__sa"))
    val bRow = stats.crossJoin(broadcast(arms))
      .where(col("__g") === col("__gb") && col("__ga") =!= col("__gb"))
      .select(col("__g").as("group_b"), col("__n").as("n_b"),
        col("__s").as("__sb"))
    val obs = aRow.crossJoin(bRow) // two one-row frames
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        Q.sig9(col("__sa") / col("n_a").cast("double") -
          col("__sb") / col("n_b").cast("double")).as("obs_diff"),
        (col("n_a").cast("double") /
          (col("n_a") + col("n_b")).cast("double")).as("__pa"))

    val (ma, mb) = Bootstrap.mixers(salt, replicates)
    val ar = element_at(array(ma.map(lit): _*), col("__r") + 1)
    val br = element_at(array(mb.map(lit): _*), col("__r") + 1)
    val u = pmod(ar * col("__h") + br, lit(Hashing.P)).cast("double") /
      lit(Hashing.P.toDouble)
    // __xd hoists the double->DECIMAL(38,15) cast to ONE per row,
    // BEFORE the R-way explode: the cast routes through
    // Double.toString (the Q.dec15 scaladoc's profiled dominant cost)
    // and used to run R times per row inside the replicate aggregate.
    // Decimal addition is exact and a skipped NULL adds exactly what
    // an explicit +0 did, so the replicate sums are bit-identical.
    val rep = rows
      .select(Q.dec15(col("__x")).as("__xd"),
        Hashing.hashP(concat(lit(salt + ":"), col("__id").cast("string")))
          .as("__h"))
      .crossJoin(broadcast(obs.select(col("__pa"))))
      .withColumn("__r", explode(sequence(lit(0), lit(replicates - 1))))
      .withColumn("__a", (u < col("__pa")).cast("long"))
    val perRep = rep.groupBy(col("__r"))
      .agg(sum(col("__a")).cast("long").as("__na"),
        Q.dsumPre(when(col("__a") === 1L, col("__xd"))).as("__sa"),
        sum(lit(1L) - col("__a")).cast("long").as("__nb"),
        Q.dsumPre(when(col("__a") === 0L, col("__xd"))).as("__sb"))
      .where(col("__na") > 0 && col("__nb") > 0)
      .select(Q.sig9(col("__sa") / col("__na").cast("double") -
        col("__sb") / col("__nb").cast("double")).as("__d"))
    val nullDist = perRep
      .crossJoin(broadcast(obs.select(col("obs_diff"))))
      .agg(count(lit(1)).cast("long").as("n_reps"),
        sum(when(abs(col("__d")) >= abs(col("obs_diff")), 1L)
          .otherwise(0L)).cast("long").as("n_extreme"))
    obs.crossJoin(broadcast(nullDist))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        col("obs_diff"), col("n_reps"), col("n_extreme"),
        Q.sig9((lit(1L) + col("n_extreme")).cast("double") /
          (col("n_reps") + lit(1L)).cast("double")).as("p_value"))
  }

  /** Exact per-group percent_rank of every distinct value WITHOUT a
    * per-group global-order window — rank-based feature normalization
    * ("replace the raw metric by its quantile position") at corpus
    * scale. pct(s) = |{x < s}| / (n − 1), the SQL PERCENT_RANK
    * definition, ties sharing their rank.
    *
    * Plan: distinct (group, value) counts, then [[Prefix.below]] — the
    * naive `PERCENT_RANK() OVER (PARTITION BY g ORDER BY s)` sorts each
    * group globally and dies on a hot group. The ratio is one exact
    * integer division (bit-identical, no sig9 needed). Groups with a
    * single row have no defined rank (n−1 = 0) — pct is NULL, like
    * SQL's 0/0 guard.
    *
    * @return (keys..., s, cnt, n_below, pct) per distinct value */
  def percentRank(df: DataFrame, keyCols: Seq[String],
      valCol: String): DataFrame = {
    val keys = keyCols.map(col)
    // eager: the prefix sum's group bounds and its binned pass both
    // read the distinct-value frame (a lazy cut computed it twice)
    val counts = df.filter(col(valCol).isNotNull)
      .groupBy(keys :+ col(valCol).cast("double").as("s"): _*)
      .agg(count(lit(1)).as("c"))
      .transform(Checkpoints.cut)
    Prefix.below(counts, keyCols, "s", Seq("c"))
      .withColumn("pct", when(col("tot_c") > 1,
        col("below_c").cast("double") / (col("tot_c") - 1).cast("double")))
      .select(keys :+ col("s") :+ col("c").as("cnt") :+
        col("below_c").as("n_below") :+ col("pct"): _*)
  }

  /** Exact equi-depth quantile binning (feature discretization for
    * model training — "replace the raw value by its quantile bucket"):
    * bin(s) = floor(n_below(s) · bins / n), clamped to bins−1 — the
    * rank-based definition, so TIED VALUES ALWAYS SHARE A BIN (unlike
    * SQL NTILE, which splits ties by arbitrary row order and is
    * therefore not reproducible across partitionings). Pure integer
    * arithmetic on [[percentRank]]'s exact ranks ([[Prefix.below]]) —
    * no global window, no float contract at all.
    *
    * @return one row per distinct (keys, value): (keys…, s, cnt,
    *         n_below, bin) — join back on (keys, value) to tag rows */
  def equiDepthBins(df: DataFrame, keyCols: Seq[String], valCol: String,
      bins: Int): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val pr = percentRank(df, keyCols, valCol)
    // group sizes recovered from the distinct-value frame itself (the
    // largest n_below + its count IS the group total) — no second scan
    val totals = pr.groupBy(keyCols.map(col): _*)
      .agg(max(col("n_below") + col("cnt")).as("n"))
    pr.join(broadcast(totals), keyCols)
      // `div` = exact integral division (a double `/` + floor would
      // lose exactness past 2^53 — counts at 100 TB get there)
      .withColumn("bin", least(lit((bins - 1).toLong),
        expr(s"(n_below * CAST($bins AS BIGINT)) div n")))
      .select(keyCols.map(col) :+ col("s") :+ col("cnt") :+
        col("n_below") :+ col("bin"): _*)
  }

  /** B-bin quantile normalization: map each value of `cur` onto the
    * REFERENCE distribution by rank — value → its exact equi-depth bin
    * in cur → the reference's smallest value in that same bin. The
    * standard cross-source score alignment ("source B's quality scores
    * run hot; put them on source A's scale before a global threshold")
    * with DISCRETE, tie-stable semantics: both sides use
    * [[equiDepthBins]]'s rank definition (ties share bins), the bin
    * representative is a min (no interpolation, no float contract —
    * there is NO floating-point arithmetic anywhere in this operator,
    * so it adjudicates with no sig9 at all).
    *
    * Scale shape: two percentRank binned-prefix passes (nothing
    * global), one O(bins) representative aggregate broadcast back.
    * A cur bin with no reference value (only possible when the
    * reference has fewer distinct values than bins) maps to NULL —
    * surfaced, not invented.
    *
    * @return one row per distinct cur value: (value, cnt, n_below,
    *         bin, ref_value) — join back on value to tag rows */
  def quantileNormalize(cur: DataFrame, ref: DataFrame, valCol: String,
      bins: Int): DataFrame = {
    def binned(df: DataFrame) = equiDepthBins(
      df.select(col(valCol)).withColumn("__all", lit(1)),
      Seq("__all"), valCol, bins)
    val rep = binned(ref).groupBy(col("bin"))
      .agg(min(col("s")).as("ref_value"))
    binned(cur)
      .select(col("s").as("value"), col("cnt"), col("n_below"),
        col("bin"))
      .join(broadcast(rep), Seq("bin"), "left")
      .select(col("value"), col("cnt"), col("n_below"), col("bin"),
        col("ref_value"))
  }

  def histogram(df: DataFrame, colName: String, bins: Int): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    val x = col(colName).cast("double")
    val v = df.where(x.isNotNull).select(x.as("x"))
    val stats = v.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    v.crossJoin(broadcast(stats))
      .withColumn("__w", (col("hi") - col("lo")) / bins)
      .withColumn("bin", when(col("hi") > col("lo"),
          least(floor((col("x") - col("lo")) / col("__w")),
            lit((bins - 1).toLong)))
        .otherwise(lit(0L)))
      .groupBy(col("bin"), col("lo"), col("__w"))
      .agg(count(lit(1)).as("n"))
      .select(col("bin"),
        (col("lo") + col("bin").cast("double") * col("__w")).as("bin_lo"),
        (col("lo") + (col("bin") + 1).cast("double") * col("__w"))
          .as("bin_hi"),
        col("n"))
  }

  /** Per-bin count (as `out`) of `df`'s non-null `x` on the
    * reference frame `mm` = (lo, hi): `bins` equi-width bins, values
    * outside [lo, hi] clamped into the edge bins — the binning
    * [[psi]], [[binnedDrift]] and [[distanceBattery]] share. */
  private def refBinCounts(df: DataFrame, x: Column, mm: DataFrame,
      bins: Int, out: String): DataFrame =
    df.where(x.isNotNull).select(x.as("x"))
      .crossJoin(broadcast(mm))
      .withColumn("bin",
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(least(lit((bins - 1).toLong),
            greatest(lit(0L),
              floor((col("x") - col("lo"))
                / ((col("hi") - col("lo")) / bins)).cast("long")))))
      .groupBy(col("bin")).agg(count(lit(1)).as(out))

  /** Population Stability Index between a reference and a current
    * frame — the standard drift monitor for a feature/score column
    * ("is live data still shaped like what the model was trained
    * on?"; > 0.2 conventionally = significant drift). Bins are fixed
    * by the REFERENCE's [min, max] (the deployment-time contract);
    * current values outside clamp into the edge bins. Long-format
    * output (one row per occupied bin: counts, shares, PSI
    * contribution, a degenerate flag when either side is empty — such
    * bins contribute 0 instead of ±infinity and are surfaced, not
    * hidden). Total PSI = sum(contrib). Each side is one scan + one
    * bin-keyed count; ln() is the single libm step, sig9'd. */
  def psi(ref: DataFrame, cur: DataFrame, colName: String,
          bins: Int = 10): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    import graft.queries.Q
    val x = col(colName).cast("double")
    val mm = ref.where(x.isNotNull).agg(min(x).as("lo"), max(x).as("hi"))
    val r = refBinCounts(ref, x, mm, bins, "ref_n")
    val c = refBinCounts(cur, x, mm, bins, "cur_n")
    val joined = r.join(c, Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("ref_n"), lit(0L)).as("ref_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"))
    val tot = joined.agg(sum(col("ref_n")).as("rt"),
      sum(col("cur_n")).as("ct"))
    joined.crossJoin(broadcast(tot))
      .withColumn("ref_frac",
        col("ref_n").cast("double") / col("rt").cast("double"))
      .withColumn("cur_frac",
        col("cur_n").cast("double") / col("ct").cast("double"))
      .withColumn("degenerate", col("ref_n") === 0 || col("cur_n") === 0)
      .withColumn("contrib",
        when(!col("degenerate"),
          (col("ref_frac") - col("cur_frac")) *
            Q.sig9(log(col("ref_frac") / col("cur_frac"))))
          .otherwise(lit(0.0)))
      .select("bin", "ref_n", "cur_n", "ref_frac", "cur_frac",
        "degenerate", "contrib")
  }

  /** One-row drift battery over a FIXED reference binning — PSI, the
    * binned KS sup-distance and the 2×B homogeneity chi-square
    * computed on the SAME ref-framed equi-width bins: the batch twin
    * of [[graft.streaming.EventPipeline.driftMonitor]] ("has live
    * data drifted from the training frame" as one row per check
    * cadence, not one row per bin like [[psi]]).
    *
    * Bins are fixed by the REFERENCE's [min, max] (the deployment-time
    * contract, exactly [[psi]]'s convention); current values outside
    * clamp into the edge bins. The binned KS is the sup over BIN
    * BOUNDARIES of |ECDF_ref − ECDF_cur| — coarser than the exact
    * [[ksDistance]] (which needs the distinct-value frame) but
    * computable from bounded per-bin counts, which is what makes the
    * streaming face O(bins) state. Chi-square is the 2×B homogeneity
    * test on (ref, cur) × bins with dof = occupied_bins − 1.
    *
    * Determinism: counts are exact longs; PSI contribs are
    * sig9((rf−cf)·sig9(ln rf/cf)) (degenerate bins contribute 0) and
    * sum via dsumStable(9); chi-square cells sig9((O−E)²/E) summed via
    * dsumStable(6) (the [[chiSquare]] scale); the KS argmax runs on
    * the exact integer |cumR·ct − cumC·rt| in DECIMAL(38,0) inside ONE
    * bounded array fold (no window, ties to the smallest bin), with a
    * single sig9'd final division. Empty-side guards NULL the three
    * statistics.
    *
    * Plan: each side ONE scan + bin-keyed count; everything after is
    * O(bins ≤ 4096) — one full-outer bin join, one broadcast totals
    * row, one single-group aggregate carrying the array fold.
    *
    * @return one row: (bins, n_ref, n_cur, n_bins_occ, psi, ks,
    *         ks_bin, chi2, dof); no rows when both sides are empty */
  def binnedDrift(ref: DataFrame, cur: DataFrame, valCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 1 && bins <= 4096,
      s"bins must be in [1, 4096], got $bins")
    import graft.queries.Q
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val x = col(valCol).cast("double")
    val mm = ref.where(x.isNotNull).agg(min(x).as("lo"), max(x).as("hi"))
    val joined = refBinCounts(ref, x, mm, bins, "rn")
      .join(refBinCounts(cur, x, mm, bins, "cn"), Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("rn"), lit(0L)).as("rn"),
        coalesce(col("cn"), lit(0L)).as("cn"))
    val tot = joined.agg(sum(col("rn")).cast("long").as("rt"),
      sum(col("cn")).cast("long").as("ct"))
    val rf = col("rn").cast("double") / col("rt").cast("double")
    val cf = col("cn").cast("double") / col("ct").cast("double")
    val psiContrib = when(col("rn") > 0 && col("cn") > 0,
      Q.sig9((rf - cf) * Q.sig9(log(rf / cf)))).otherwise(lit(0.0))
    val nAll = (col("rt") + col("ct")).cast("double")
    val bt = (col("rn") + col("cn")).cast("double")
    val er = col("rt").cast("double") * bt / nAll
    val ec = col("ct").cast("double") * bt / nAll
    val dr = col("rn").cast("double") - er
    val dc = col("cn").cast("double") - ec
    val chiContrib = when(col("rt") > 0 && col("ct") > 0,
      Q.sig9(dr * dr / er) + Q.sig9(dc * dc / ec)).otherwise(lit(0.0))
    val wide = joined.crossJoin(broadcast(tot))
      .select(col("bin"), col("rn"), col("cn"), col("rt"), col("ct"),
        psiContrib.as("pc"), chiContrib.as("xc"))
    val acc0 = struct(lit(0L).as("cr"), lit(0L).as("cc"),
      lit(-1).cast(dec).as("mx"), lit(-1L).as("mxbin"))
    wide.groupBy(col("rt"), col("ct"))
      .agg(count(lit(1)).as("n_bins_occ"),
        Q.dsumStable(col("pc"), 9).as("psi_raw"),
        Q.dsumStable(col("xc"), 6).as("chi2_raw"),
        array_sort(collect_list(struct(col("bin"), col("rn"),
          col("cn")))).as("arr"))
      .withColumn("ks_acc", aggregate(col("arr"), acc0, (a, e) => {
        val cr = a.getField("cr") + e.getField("rn")
        val cc = a.getField("cc") + e.getField("cn")
        val num = abs(cr.cast(dec) * col("ct").cast(dec)
          - cc.cast(dec) * col("rt").cast(dec))
        val better = num > a.getField("mx")
        struct(cr.as("cr"), cc.as("cc"),
          when(better, num).otherwise(a.getField("mx")).as("mx"),
          when(better, e.getField("bin"))
            .otherwise(a.getField("mxbin")).as("mxbin"))
      }))
      .select(lit(bins.toLong).as("bins"),
        col("rt").as("n_ref"), col("ct").as("n_cur"),
        col("n_bins_occ").cast("long").as("n_bins_occ"),
        when(col("rt") > 0 && col("ct") > 0, col("psi_raw")).as("psi"),
        when(col("rt") > 0 && col("ct") > 0,
          Q.sig9(col("ks_acc.mx").cast("double") /
            (col("rt").cast(dec) * col("ct").cast(dec)).cast("double")))
          .as("ks"),
        col("ks_acc.mxbin").as("ks_bin"),
        when(col("rt") > 0 && col("ct") > 0, col("chi2_raw")).as("chi2"),
        (col("n_bins_occ") - 1).cast("long").as("dof"))
  }

  /** Binned distribution-distance battery — Wasserstein-1 (earth
    * mover's distance), total-variation distance and Hellinger
    * distance between a reference and a current sample on the
    * reference's equi-width binning. Complements [[binnedDrift]]:
    * PSI/KS/chi2 answer "did it drift?"; W1 answers "by HOW MUCH, in
    * the units of the column" (the metric used for embedding-shift
    * and label-shift monitoring in data pipelines), TV bounds every
    * event-probability change, and Hellinger is the bounded smooth
    * metric between them.
    *
    * Semantics on the binned distributions (mass at bin indices,
    * spacing = bin_width):
    *  - `w1` = bin_width · Σ_{i=0}^{B−1} |F_ref(i) − F_cur(i)| — the
    *    exact 1-D optimal-transport cost between the binned masses.
    *    EMPTY bins count: the CDF gap persists across them, so each
    *    occupied bin's |gap| is weighted by its run length to the
    *    next occupied bin (the last occupied bin's gap is 0 — both
    *    CDFs end at 1 — so the missing tail term vanishes).
    *  - `tv` = ½ Σ_i |p_i − q_i| with the exact integer numerator
    *    |rn·ct − cn·rt| summed in DECIMAL(38,0) and ONE sig9'd final
    *    division (products overflow Long at ~10^12 rows; decimal is
    *    exact and order-free).
    *  - `hellinger` = sqrt(1 − Σ_i sqrt(p_i q_i)); sqrt is IEEE
    *    correctly-rounded (engine-identical, unlike ln/exp) so the
    *    per-bin Bhattacharyya terms are sig9'd doubles summed via
    *    dsumStable(9).
    * W1's numerator Σ|cumR·ct − cumC·rt|·gap is likewise exact
    * integer arithmetic inside ONE bounded array fold (the
    * [[binnedDrift]] KS fold shape — no window), divided and scaled
    * by bin_width once at the end.
    *
    * Plan: one scan + bin-keyed count per side; everything after is
    * O(bins ≤ 4096) — a full-outer bin join, one broadcast totals
    * row (carrying the reference [lo, hi]), one single-group
    * aggregate with the fold. Streaming-ready: the state is the same
    * additive per-bin count pair as [[binnedDrift]]'s monitor face.
    *
    * @return one row: (bins, n_ref, n_cur, bin_width, w1, tv,
    *         hellinger) — statistics (and bin_width) NULL when either
    *         side is empty */
  def distanceBattery(ref: DataFrame, cur: DataFrame, valCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 1 && bins <= 4096,
      s"bins must be in [1, 4096], got $bins")
    import graft.queries.Q
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val x = col(valCol).cast("double")
    val mm = ref.where(x.isNotNull).agg(min(x).as("lo"), max(x).as("hi"))
    val joined = refBinCounts(ref, x, mm, bins, "rn")
      .join(refBinCounts(cur, x, mm, bins, "cn"), Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("rn"), lit(0L)).as("rn"),
        coalesce(col("cn"), lit(0L)).as("cn"))
    val tot = joined.agg(sum(col("rn")).cast("long").as("rt"),
        sum(col("cn")).cast("long").as("ct"))
      .crossJoin(broadcast(mm))
    val rf = col("rn").cast("double") / col("rt").cast("double")
    val cf = col("cn").cast("double") / col("ct").cast("double")
    // exact TV numerator |rn·ct − cn·rt| and the Bhattacharyya term
    val tvNum = abs(col("rn").cast(dec) * col("ct").cast(dec)
      - col("cn").cast(dec) * col("rt").cast(dec))
    val bcTerm = when(col("rn") > 0 && col("cn") > 0,
      Q.sig9(sqrt(rf * cf))).otherwise(lit(0.0))
    val wide = joined.crossJoin(broadcast(tot))
      .select(col("bin"), col("rn"), col("cn"), col("rt"), col("ct"),
        col("lo"), col("hi"), tvNum.as("tvn"), bcTerm.as("bc"))
    // fold over occupied bins sorted by index: pn = |cumR·ct − cumC·rt|
    // AFTER the last processed bin; on each element the pending pn is
    // weighted by the run length (e.bin − lastbin) it persisted for
    val acc0 = struct(lit(0L).as("cr"), lit(0L).as("cc"),
      lit(0L).as("lastbin"), lit(0).cast(dec).as("pn"),
      lit(0).cast(dec).as("sd"))
    val bw = (col("hi") - col("lo")) / lit(bins.toDouble)
    wide.groupBy(col("rt"), col("ct"), col("lo"), col("hi"))
      .agg(sum(col("tvn")).as("tv_num"),
        Q.dsumStable(col("bc"), 9).as("bc_raw"),
        array_sort(collect_list(struct(col("bin"), col("rn"),
          col("cn")))).as("arr"))
      .withColumn("w1_acc", aggregate(col("arr"), acc0, (a, e) => {
        val sd = a.getField("sd") + a.getField("pn") *
          (e.getField("bin") - a.getField("lastbin")).cast(dec)
        val cr = a.getField("cr") + e.getField("rn")
        val cc = a.getField("cc") + e.getField("cn")
        val pn = abs(cr.cast(dec) * col("ct").cast(dec)
          - cc.cast(dec) * col("rt").cast(dec))
        struct(cr.as("cr"), cc.as("cc"),
          e.getField("bin").as("lastbin"), pn.as("pn"), sd.as("sd"))
      }))
      .select(lit(bins.toLong).as("bins"),
        col("rt").as("n_ref"), col("ct").as("n_cur"),
        Q.sig9(bw).as("bin_width"),
        // post-fold pn is exactly 0 (both CDFs end at 1: cr=rt, cc=ct)
        // so the trailing-run term vanishes and sd IS the numerator
        when(col("rt") > 0 && col("ct") > 0,
          Q.sig9(col("w1_acc.sd").cast("double")
            / (col("rt").cast("double") * col("ct").cast("double"))
            * bw)).as("w1"),
        when(col("rt") > 0 && col("ct") > 0,
          Q.sig9(col("tv_num").cast("double")
            / (col("rt").cast("double") * col("ct").cast("double"))
            / lit(2.0))).as("tv"),
        when(col("rt") > 0 && col("ct") > 0,
          Q.sig9(sqrt(greatest(lit(0.0),
            lit(1.0) - col("bc_raw"))))).as("hellinger"))
  }

  /** Distinct pooled values of two samples, each with its count per
    * side: (s, ac, bc), checkpointed — the prefix sum and the caller
    * both read it. */
  private def twoSampleCounts(a: DataFrame, b: DataFrame,
      valCol: String): DataFrame = {
    def side(df: DataFrame, ac: Long) =
      df.select(col(valCol).cast("double").as("s"))
        .where(col("s").isNotNull)
        .select(col("s"), lit(ac).as("ac"), lit(1L - ac).as("bc"))
    side(a, 1L).unionAll(side(b, 0L)).groupBy(col("s"))
      .agg(sum(col("ac")).as("ac"), sum(col("bc")).as("bc"))
      .transform(Checkpoints.cut) // read by both Prefix.below passes
  }

  /** Exact two-sample Kolmogorov–Smirnov distance — the
    * distribution-shape drift monitor next to [[psi]] (KS is binning-
    * free and catches shifts PSI's ten fixed bins smear out):
    * D = max over observed values v of |F_a(v) − F_b(v)|, both CDFs
    * evaluated inclusively at v.
    *
    * Plan: both sides collapse to distinct (value, a_cnt, b_cnt)
    * counts; [[Prefix.below]] plus the value's own counts gives the
    * INCLUSIVE CDF counts. The maximized statistic is the INTEGER
    * numerator |cum_a·n_b − cum_b·n_a| (DECIMAL(38,0) — products
    * overflow Long at ~10^12 rows), so the argmax is exact; the single
    * final division is sig9'd. `ks_at` is the SMALLEST value attaining
    * the max (deterministic under ties).
    *
    * @return one row: (ks, ks_at, n_a, n_b) — ks NULL when either
    *         side is empty */
  def ksDistance(a: DataFrame, b: DataFrame, valCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cum = Prefix.below(twoSampleCounts(a, b, valCol), Nil, "s",
        Seq("ac", "bc"))
      .withColumnRenamed("tot_ac", "na").withColumnRenamed("tot_bc", "nb")
      .withColumn("num", abs(
        (col("below_ac") + col("ac")).cast(dec) * col("nb").cast(dec) -
          (col("below_bc") + col("bc")).cast(dec) * col("na").cast(dec)))
    val mx = cum.agg(max(col("num")).as("mxnum"))
    cum.crossJoin(broadcast(mx))
      .where(col("num") === col("mxnum"))
      .agg(min(col("s")).as("ks_at"), first(col("mxnum")).as("mxnum"),
        first(col("na")).as("na"), first(col("nb")).as("nb"))
      .select(
        when(col("na") > 0 && col("nb") > 0,
          graft.queries.Q.sig9(col("mxnum").cast("double") /
            (col("na").cast(dec) * col("nb").cast(dec)).cast("double")))
          .as("ks"),
        col("ks_at"),
        col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"))
  }

  /** Two-sample Cramér–von Mises statistic — the INTEGRAL CDF
    * distance beside [[ksDistance]]'s supremum: T = (nm/N²) ·
    * Σ_k (c_k/N) · (F_a(v_k) − F_b(v_k))², summed over the pooled
    * distinct values with pooled-mass weights. KS sees only the worst
    * single gap; CvM accumulates every gap, so spread-out
    * distributional drift that never produces one large deviation
    * still registers.
    *
    * Plan: the [[ksDistance]] inclusive CDF counts from
    * [[Prefix.below]] (no global window). Each
    * gap d_k = (cumA·n_b − cumB·n_a) is an exact DECIMAL(38,0)
    * integer; the normalized gap and each weighted square are sig9'd
    * (the KS cast precedent), terms sum via dsumStable(6) (the
    * chi-square scale), and the final product chain is sig9'd once.
    *
    * @return one row: (cvm, sum_wd2, n_a, n_b) — NULL when a side is
    *         empty */
  def cvmDistance(a: DataFrame, b: DataFrame,
      valCol: String): DataFrame = {
    import graft.queries.Q
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cum = Prefix.below(twoSampleCounts(a, b, valCol), Nil, "s",
        Seq("ac", "bc"))
      .withColumnRenamed("tot_ac", "na").withColumnRenamed("tot_bc", "nb")
      .withColumn("num",
        (col("below_ac") + col("ac")).cast(dec) * col("nb").cast(dec) -
          (col("below_bc") + col("bc")).cast(dec) * col("na").cast(dec))
    // the divisor guard lives IN the projection: ANSI division throws
    // and the final when() cannot save a per-row expression (the
    // theilSen pushdown lesson)
    val prodD = (col("na").cast(dec) * col("nb").cast(dec))
      .cast("double")
    val dnorm = when(prodD > 0,
      Q.sig9(col("num").cast("double") / prodD)).otherwise(lit(0.0))
    val terms = cum
      .select(Q.sig9((col("ac") + col("bc")).cast("double") *
        Q.sig9(dnorm * dnorm)).as("t"), col("na"), col("nb"))
    terms.groupBy(col("na"), col("nb"))
      .agg(Q.dsumStable(col("t"), 6).as("sum_wd2"))
      .select(
        when(col("na") > 0 && col("nb") > 0, Q.sig9(
          Q.sig9((col("na").cast(dec) * col("nb").cast(dec))
            .cast("double") /
            ((col("na") + col("nb")).cast(dec) *
              (col("na") + col("nb")).cast(dec)).cast("double")) *
            col("sum_wd2") /
            (col("na") + col("nb")).cast("double"))).as("cvm"),
        col("sum_wd2"),
        col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"))
  }

  /** Pearson chi-square test of independence between two categorical
    * columns — the categorical-drift monitor beside [[psi]] (numeric
    * bins) and [[ksDistance]] (numeric shape): "is `colCol`'s
    * distribution the same in every `rowCol` group?" High statistic =
    * the margins do not explain the cells = drift / broken
    * randomization.
    *
    * Plan: one (r, c)-keyed count, two margin aggregates, and the
    * margin CROSS product re-padded with the zero cells (absent
    * (r, c) pairs still contribute E to the statistic — dropping them
    * understates chi2). The margin frames are post-aggregation small
    * (bounded categorical domains — the same contract as every
    * groupBy-pivot here); the cell join is key-bounded by them.
    * Determinism: O, RT, CT, N are exact BIGINT counts below 2^53, so
    * every double is an EXACT cast and (O−E)²/E is fixed IEEE
    * arithmetic — bit-identical across engines; each cell contribution
    * is sig9'd and summed via [[graft.queries.Q.dsumStable]]
    * (scale 6: exact while chi2 · 10^6 < 10^15, i.e. any practical
    * statistic).
    *
    * @return one row: (chi2, dof, n, n_rows_cat, n_cols_cat) — dof =
    *         (R−1)(C−1); NULL chi2 when the table is degenerate
    *         (fewer than 2 rows or 2 cols) */
  def chiSquare(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    import graft.queries.Q
    val cells = df
      .where(col(rowCol).isNotNull && col(colCol).isNotNull)
      .groupBy(col(rowCol).cast("string").as("r"),
        col(colCol).cast("string").as("c"))
      .agg(count(lit(1)).as("o"))
    val rt = cells.groupBy(col("r")).agg(sum(col("o")).cast("long").as("rt"))
    val ct = cells.groupBy(col("c")).agg(sum(col("o")).cast("long").as("ct"))
    val nn = cells.agg(sum(col("o")).cast("long").as("n"))
    val grid = rt.crossJoin(ct)
      .join(cells, Seq("r", "c"), "left")
      .select(col("r"), col("c"), col("rt"), col("ct"),
        coalesce(col("o"), lit(0L)).as("o"))
    val e = col("rt").cast("double") * col("ct").cast("double") /
      col("n").cast("double")
    val d = col("o").cast("double") - e
    grid.crossJoin(broadcast(nn))
      .select(col("n"), col("r"), col("c"),
        Q.sig9(d * d / e).as("contrib"))
      .agg(first(col("n")).as("n"),
        countDistinct(col("r")).cast("long").as("n_rows_cat"),
        countDistinct(col("c")).cast("long").as("n_cols_cat"),
        Q.dsumStable(col("contrib"), 6).as("chi2_raw"))
      .select(
        when(col("n_rows_cat") >= 2 && col("n_cols_cat") >= 2,
          col("chi2_raw")).as("chi2"),
        ((col("n_rows_cat") - 1) * (col("n_cols_cat") - 1)).as("dof"),
        col("n"), col("n_rows_cat"), col("n_cols_cat"))
  }

  /** Two-sample Mann–Whitney U (Wilcoxon rank-sum) with the
    * tie-corrected normal approximation — the NONPARAMETRIC A/B test
    * beside the Welch z of `q_x_abtest` (no normality assumption; the
    * statistic is a pure rank computation, robust to the heavy tails
    * that break mean-based tests).
    *
    * Plan: [[Prefix.below]] over the distinct-value counts frame (no
    * global-order window). Per distinct value v: 2·U accumulates
    * ac(v) · (2·B_below(v) + bc(v)) (each b strictly below counts 2,
    * each tied b counts 1 — the midrank convention doubled into exact
    * integers), and the tie term accumulates t³−t for t = ac+bc.
    * Both sums stay in DECIMAL(38,0) (t³ overflows Long at ~10^6 tied
    * rows) — exact, order-free. The normal z then runs in fixed IEEE
    * double arithmetic on sig9'd casts of the exact integers:
    * z = (2U − na·nb) / (2·σ),
    * σ² = na·nb/12 · ((n+1) − T/(n(n−1))).
    *
    * @return one row: (u2, z, tie_t, n_a, n_b) — u2 = exact 2·U_a
    *         sig9'd; z NULL when either side is empty or all values
    *         tie (σ = 0) */
  def mannWhitney(a: DataFrame, b: DataFrame,
      valCol: String): DataFrame = {
    import graft.queries.Q
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val t = (col("ac") + col("bc")).cast(dec)
    // inner terms stay in exact long arithmetic (≤ ~3n, far under
    // 2^63); the single decimal cast guards the ac· product and sum
    val terms = Prefix.below(twoSampleCounts(a, b, valCol), Nil, "s",
        Seq("ac", "bc"))
      .select(col("tot_ac").as("na"), col("tot_bc").as("nb"),
        (col("ac").cast(dec) *
          (lit(2L) * col("below_bc") + col("bc")).cast(dec))
          .as("u2term"),
        (t * t * t - t).as("tterm"))
    val nad = col("na").cast("double")
    val nbd = col("nb").cast("double")
    val nd = nad + nbd
    val u2d = Q.sig9(col("u2").cast("double"))
    val td = Q.sig9(col("tie_t_dec").cast("double"))
    val varU = nad * nbd / 12.0 *
      ((nd + 1.0) - td / (nd * (nd - 1.0)))
    terms
      .agg(first(col("na")).as("na"), first(col("nb")).as("nb"),
        sum(col("u2term")).as("u2"), sum(col("tterm")).as("tie_t_dec"))
      .select(
        when(col("na") > 0 && col("nb") > 0, u2d).as("u2"),
        when(col("na") > 0 && col("nb") > 0 &&
            col("na") + col("nb") > 1,
          when(sqrt(varU) > 0.0,
            Q.sig9((u2d - nad * nbd) / (lit(2.0) * Q.sig9(sqrt(varU)))))
        ).as("z"),
        when(col("na") > 0 || col("nb") > 0, td).as("tie_t"),
        col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"))
  }

  /** Two-sample effect sizes — the MAGNITUDE readouts the A/B tests
    * deliberately omit (a z only says "detectable"; these say "how
    * big"): Cohen's d (pooled-sd standardized mean difference), the
    * small-sample Hedges' g correction J·d with
    * J = 1 − 3/(4n − 9), and Cliff's delta
    * δ = P(a > b) − P(a < b) = 2U/(n_a·n_b) − 1 — the nonparametric
    * effect size that reuses [[mannWhitney]]'s exact doubled-U
    * machinery verbatim (ties cancel exactly).
    *
    * Plan: the MWU binned prefix-sum subplan plus one single-pass
    * moment aggregate per side (exact decimal sums, broadcast scalar
    * rows) — nothing new shuffles. Determinism: variances are the
    * groupMoments sig9 chain, the pooled sd / d / g / δ are each one
    * sig9 point over fixed IEEE arithmetic.
    *
    * @return ONE row: (n_a, n_b, mean_a, mean_b, var_a, var_b,
    *         cohens_d, hedges_g, cliffs_delta) — d/g NULL when the
    *         pooled sd degenerates (all values equal or n ≤ 2), δ
    *         NULL when either side is empty */
  def effectSizes(a: DataFrame, b: DataFrame,
      valCol: String): DataFrame = {
    import graft.queries.Q
    val mw = mannWhitney(a, b, valCol)
      .select(col("u2"), col("n_a"), col("n_b"))
    def mom(df: DataFrame, tag: String) = {
      val x = col(valCol).cast("double")
      df.where(x.isNotNull).agg(
        Q.dsum(x).as(s"s1_$tag"), Q.dsum(x * x).as(s"s2_$tag"))
    }
    def mean(t: String, n: String) = col(s"s1_$t") / col(n).cast("double")
    def varr(t: String, n: String) = when(col(n) > 1, Q.sig9(
      (col(s"s2_$t") - col(s"s1_$t") * col(s"s1_$t") /
        col(n).cast("double")) / (col(n) - 1).cast("double")))
    val nad = col("n_a").cast("double")
    val nbd = col("n_b").cast("double")
    val base = mw.crossJoin(broadcast(mom(a, "a")))
      .crossJoin(broadcast(mom(b, "b")))
      .select(col("u2"), col("n_a"), col("n_b"),
        mean("a", "n_a").as("mean_a"), mean("b", "n_b").as("mean_b"),
        varr("a", "n_a").as("var_a"), varr("b", "n_b").as("var_b"))
    val pooled = when(col("n_a") + col("n_b") > 2, Q.sig9(
      ((col("n_a") - 1).cast("double") * col("var_a") +
        (col("n_b") - 1).cast("double") * col("var_b")) /
        (col("n_a") + col("n_b") - 2).cast("double")))
    val jf = lit(1.0) - lit(3.0) /
      (lit(4.0) * (nad + nbd) - lit(9.0))
    base
      .withColumn("sd_p", when(pooled > 0, Q.sig9(sqrt(pooled))))
      .withColumn("cohens_d", when(col("sd_p") > 0,
        Q.sig9(Q.sig9(col("mean_a") - col("mean_b")) / col("sd_p"))))
      .withColumn("hedges_g", when(col("cohens_d").isNotNull,
        Q.sig9(col("cohens_d") * jf)))
      .withColumn("cliffs_delta",
        when(col("n_a") > 0 && col("n_b") > 0,
          Q.sig9(col("u2") / (nad * nbd) - lit(1.0))))
      .select(col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
        col("var_a"), col("var_b"), col("cohens_d"), col("hedges_g"),
        col("cliffs_delta"))
  }

  /** Per-group Gini coefficient of a NONNEGATIVE INTEGER-VALUED column
    * — the concentration profile behind "is this source's token mass
    * dominated by a few giant documents?" (G = 0 everyone equal,
    * G → 1 one row holds everything). Pairwise-difference definition
    * (tie-exact, order-free):
    * G = Σᵢⱼ|xᵢ−xⱼ| / (2n²μ) = T / (n·S), where
    * T = Σ_v c_v·(x_v·N<(v) − S<(v)) over distinct values (N</S< =
    * count/sum strictly below v; tied pairs contribute zero exactly).
    *
    * Determinism: x is long, so T, n and S are EXACT DECIMAL(38,0)
    * integers and the coefficient is ONE sig9'd division — no float
    * accumulates anywhere (the ksDistance convention).
    *
    * Plan: [[Prefix.below]] over the distinct (group, value) counts
    * with a second, value-weighted sum (DECIMAL(38,0)). No per-group
    * global-order window at any size.
    *
    * @return per group: (keys..., n, total, gini) — gini NULL when
    *         total = 0 (all-zero group) or n = 0 */
  def gini(df: DataFrame, keyCols: Seq[String],
      valCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val keys = keyCols.map(col)
    val counts = df.filter(col(valCol).isNotNull)
      .groupBy(keys :+ col(valCol).cast("long").as("s"): _*)
      .agg(count(lit(1)).as("c"))
      .transform(Checkpoints.cut) // read by both Prefix.below passes
      .withColumn("sc", col("s").cast(dec) * col("c").cast(dec))
    Prefix.below(counts, keyCols, "s", Seq("c", "sc"))
      .withColumn("term", col("c").cast(dec) *
        (col("s").cast(dec) * col("below_c").cast(dec) - col("below_sc")))
      .groupBy(keys: _*)
      .agg(first(col("tot_c")).cast("long").as("n"),
        first(col("tot_sc")).as("totd"), sum(col("term")).as("t"))
      .select(keys :+ col("n") :+ col("totd").cast("long").as("total") :+
        when(col("n") > 0 && col("totd") > 0, graft.queries.Q.sig9(
          col("t").cast("double") /
            (col("n").cast(dec) * col("totd")).cast("double")))
          .as("gini"): _*)
  }

  /** Benford first-significant-digit conformance — the forensic /
    * data-quality screen for "naturally grown" positive quantities
    * (amounts, populations, counts): organic data follows
    * P(d) = log10(1 + 1/d); fabricated or truncated feeds do not.
    * One row per digit 1..9 with observed count, expected count and
    * the (O−E)²/E contribution — the chi-square decomposition, so the
    * caller reads both the statistic (sum of contribs) and WHICH
    * digits drive it.
    *
    * Portability: the digit comes from pure integer arithmetic —
    * floor to BIGINT first (Spark's double→long cast truncates while
    * DuckDB's rounds; floor is the one portable route), then strip
    * trailing decades by STRING length (no libm log10, whose 1-ulp
    * wobble at exact powers of ten would flip digits between
    * engines). Values in (0, 1) are scaled into the integer range by
    * 10^9 first — sub-unit amounts still carry a leading digit.
    * The nine expected probabilities are Scala-computed literals
    * embedded in both engines (the decay-lambda convention).
    *
    * Plan: one projection + one 9-bucket hash aggregate; the digit
    * table is re-padded with zero-observation digits (absent digits
    * still contribute E — the chiSquare lesson).
    *
    * @return 9 rows: (digit, n_obs, n_total, expected, contrib) */
  /** Scala twin of [[benford]]'s digit extraction — ONE semantics for
    * the batch Column chain and the streaming monitor
    * ([[graft.streaming.EventPipeline.benfordMonitor]]); the parity is
    * spec-pinned over a boundary sweep. None for null/NaN/non-positive
    * values and for positives below 10⁻⁹ (whose scaled floor is 0 —
    * the batch side drops digit 0 at the grid join). */
  def benfordDigit(x: Double): Option[Long] = {
    if (x.isNaN || x <= 0) None
    else {
      val scaled = if (x < 1.0) x * 1e9 else x
      val fl = math.floor(scaled).toLong
      if (fl <= 0) None
      else Some((fl.toString.head - '0').toLong)
    }
  }

  def benford(df: DataFrame, colName: String): DataFrame = {
    import graft.queries.Q
    val spark = df.sparkSession
    import spark.implicits._
    val x = col(colName).cast("double")
    // lift (0,1) values into integers, floor, then first digit via
    // string head — every step exact and engine-identical
    val scaled = when(x < 1.0, x * 1e9).otherwise(x)
    val digit = substring(
      floor(scaled).cast("long").cast("string"), 1, 1).cast("long")
    val obs = df.where(x.isNotNull && x > 0)
      .select(digit.as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val probs = (1 to 9).map(d => d.toLong -> math.log10(1.0 + 1.0 / d))
    val grid = probs.toDF("digit", "p")
    val tot = obs.agg(sum(col("n_obs")).cast("long").as("n_total"))
    val e = Q.sig9(col("p") * col("n_total").cast("double"))
    val d0 = col("n_obs").cast("double") - e
    grid.join(obs, Seq("digit"), "left")
      .na.fill(0L, Seq("n_obs"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n_obs"), col("n_total"),
        e.as("expected"),
        when(col("n_total") > 0, Q.sig9(d0 * d0 / e)).as("contrib"))
  }

  /** Spearman rank correlation between two numeric columns — the
    * monotone-dependence profile ("does quality rise with length?")
    * that Pearson ([[groupCorr]]) misses whenever the relation is
    * nonlinear or the tails are heavy. rho = Pearson over midranks,
    * ties sharing the average rank.
    *
    * Determinism: midranks are carried DOUBLED (2·rank = 2·n_below +
    * t + 1 — the [[mannWhitney]] half-unit convention), so every rank
    * is an exact integer and all five sums (Σrx, Σry, Σrxry, Σrx²,
    * Σry²) are exact DECIMAL(38,0); the doubling cancels in the
    * ratio. rho is then ONE sig9'd IEEE chain over sig9'd casts of
    * the exact integers (numerator / sqrt(dx·dy)). Exact while
    * n·Σrxry < 10³⁸, i.e. n ≲ 10⁹ rows — document-scale corpora;
    * beyond that pre-aggregate or sample.
    *
    * Plan: one [[percentRank]] rank table for both columns (no
    * global-order window), two distinct-value equi-joins
    * back to the row frame, one aggregate. Rows with a NULL on either
    * side are excluded BEFORE ranking (pairwise-complete semantics).
    *
    * @return one row: (rho, n) — rho NULL when n < 2 or either
    *         column is constant */
  def spearman(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    import graft.queries.Q
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val rows = df.select(col(xCol).cast("double").as("x"),
        col(yCol).cast("double").as("y"))
      .where(col("x").isNotNull && col("y").isNotNull)
    // ONE rank-build subtree for both columns: unpivot (x, y) into
    // (__w, v) with a single explode and rank per __w — the per-column
    // lo/hi, bins, n_below and cnt come out exactly as two separate
    // percentRank builds would (the group key is the column tag), but
    // the input is scanned once instead of twice and the two binned
    // prefix passes collapse into one (guide §2.4). The combined rank
    // table is cut and served to both tag joins.
    val unpiv = rows.select(explode(array(
        struct(lit(0).as("__w"), col("x").as("v")),
        struct(lit(1).as("__w"), col("y").as("v")))).as("e"))
      .select(col("e.__w").as("__w"), col("e.v").as("v"))
    val pr = percentRank(unpiv, Seq("__w"), "v")
      .select(col("__w"), col("s"),
        (lit(2L) * col("n_below") + col("cnt") + lit(1L)).as("r2"))
      .transform(Checkpoints.cut)
    def r2(w: Int, vc: String, out: String) =
      pr.where(col("__w") === w)
        .select(col("s").as(s"__$vc"), col("r2").as(out))
    val tagged = rows
      .join(r2(0, "x", "r2x"), col("x") === col("__x"))
      .join(r2(1, "y", "r2y"), col("y") === col("__y"))
    val a = tagged.agg(
      count(lit(1)).as("n"),
      sum(col("r2x").cast(dec)).as("sx"),
      sum(col("r2y").cast(dec)).as("sy"),
      sum(col("r2x").cast(dec) * col("r2y").cast(dec)).as("sxy"),
      sum(col("r2x").cast(dec) * col("r2x").cast(dec)).as("sxx"),
      sum(col("r2y").cast(dec) * col("r2y").cast(dec)).as("syy"))
    val nDec = col("n").cast(dec)
    val num = nDec * col("sxy") - col("sx") * col("sy")
    val dx = nDec * col("sxx") - col("sx") * col("sx")
    val dy = nDec * col("syy") - col("sy") * col("sy")
    // ONE sqrt over the IEEE product of the sig9'd factors (not
    // sqrt·sqrt): when dx = dy (any perfect monotone relation) the
    // product is an exact square and rho lands on exactly ±1
    a.select(
      when(col("n") > 1 && dx > 0 && dy > 0,
        Q.sig9(Q.sig9(num.cast("double")) /
          Q.sig9(sqrt(Q.sig9(dx.cast("double")) *
            Q.sig9(dy.cast("double")))))).as("rho"),
      col("n").cast("long").as("n"))
  }

  /** Kruskal–Wallis H — the k-sample extension of [[mannWhitney]]
    * (does ANY of the k groups' value distributions differ?), with
    * the standard tie correction. The nonparametric screen to run
    * before trusting a k-way mean comparison on heavy-tailed metrics.
    *
    * Determinism: pooled midranks doubled into exact integers (the
    * [[spearman]] convention); per-group rank sums R2_j and the tie
    * term Σ(t³−t) are exact DECIMAL(38,0). The per-group quotients
    * R_j²/n_j = R2_j²/(4n_j) are sig9'd IEEE values folded LEFT TO
    * RIGHT over the k groups in group-key order (a bounded in-row
    * array fold — k is the category count), so the sum is
    * bit-identical on both engines; H is then one sig9'd IEEE chain.
    *
    * Plan: one pooled [[percentRank]] binned prefix pass, one
    * distinct-value equi-join back, one k-row fold. No global-order
    * window at any size.
    *
    * @return one row: (h, dof, n, k, tie_t) — h NULL when k < 2 or
    *         all values tie (the correction denominator hits 0) */
  def kruskalWallis(df: DataFrame, groupCol: String,
      valCol: String): DataFrame = {
    import graft.queries.Q
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val rows = df.select(col(groupCol).cast("string").as("g"),
        col(valCol).cast("double").as("v"))
      .where(col("g").isNotNull && col("v").isNotNull)
      .withColumn("__one", lit(0L))
    val pr = percentRank(rows, Seq("__one"), "v")
      .select(col("s"),
        (lit(2L) * col("n_below") + col("cnt") + lit(1L)).as("r2"),
        col("cnt"))
      .transform(Checkpoints.cut) // read twice: the tie sum, the rank join
    val cntDec = col("cnt").cast(dec)
    val ties = pr.agg(
      sum(cntDec * cntDec * cntDec - cntDec).as("tie_t"),
      sum(col("cnt")).as("n_tot"))
    val grp = rows.join(pr.select(col("s"), col("r2")),
        col("v") === col("s"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("nj"), sum(col("r2").cast(dec)).as("r2j"))
    val term = Q.sig9(
      (Q.sig9(col("r2j").cast("double")) *
        Q.sig9(col("r2j").cast("double"))) /
        (lit(4.0) * col("nj").cast("double")))
    val folded = grp.select(col("g"), term.as("term"))
      .agg(count(lit(1)).as("k"),
        array_sort(collect_list(struct(col("g"), col("term")))).as("a"))
      .select(col("k"),
        aggregate(col("a"), lit(0.0),
          (acc, x) => acc + x.getField("term")).as("sum_terms"))
    val nd = col("n_tot").cast("double")
    val n3 = col("n_tot").cast(dec) * col("n_tot").cast(dec) *
      col("n_tot").cast(dec) - col("n_tot").cast(dec)
    val tied = Q.sig9(col("tie_t").cast("double"))
    val hraw = lit(12.0) / (nd * (nd + lit(1.0))) * col("sum_terms") -
      lit(3.0) * (nd + lit(1.0))
    val corr = lit(1.0) - tied / Q.sig9(n3.cast("double"))
    folded.crossJoin(broadcast(ties))
      .select(
        when(col("k") >= 2 && col("n_tot") > 1 && corr > 0,
          Q.sig9(hraw / corr)).as("h"),
        (col("k") - 1).cast("long").as("dof"),
        coalesce(col("n_tot"), lit(0L)).cast("long").as("n"),
        col("k").cast("long").as("k"),
        when(col("n_tot") > 0, tied).as("tie_t"))
  }

  /** One-way ANOVA F over an INTEGER-VALUED metric column — the
    * parametric k-sample mean test beside [[kruskalWallis]]'s rank
    * form (and the machinery [[brownForsythe]] reuses for variance
    * equality). The integer precondition is what makes the group
    * sums S_j and squared sums Q_j EXACT DECIMAL(38,0) integers (the
    * Graph integer-weight convention); fractional metrics pre-scale
    * to a fixed-point integer first.
    *
    * Determinism: SSB/SSW derive from the exact integers via the
    * S_j²/n_j quotient terms, each sig9'd and folded left-to-right
    * over the k groups in group-key order (bounded in-row array
    * fold), then one sig9'd IEEE chain for F.
    *
    * Plan: one hash group-by, one k-row fold. Nothing global.
    *
    * @return one row: (f, ssb, ssw, dof_between, dof_within, n, k) —
    *         f NULL when k < 2, n ≤ k, or SSW = 0 */
  def oneWayAnova(df: DataFrame, groupCol: String, valCol: String)
      : DataFrame = {
    import graft.queries.Q
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val rows = df.select(col(groupCol).cast("string").as("g"),
        col(valCol).cast("long").as("v"))
      .where(col("g").isNotNull && col("v").isNotNull)
    val grp = rows.groupBy(col("g"))
      .agg(count(lit(1)).as("nj"),
        sum(col("v").cast(dec)).as("sj"),
        sum(col("v").cast(dec) * col("v").cast(dec)).as("qj"))
    val term = Q.sig9(
      (Q.sig9(col("sj").cast("double")) *
        Q.sig9(col("sj").cast("double"))) / col("nj").cast("double"))
    val folded = grp
      .select(col("g"), col("nj"), col("sj"), col("qj"), term.as("term"))
      .agg(count(lit(1)).as("k"), sum(col("nj")).as("n_tot"),
        sum(col("sj")).as("s_tot"), sum(col("qj")).as("q_tot"),
        array_sort(collect_list(struct(col("g"), col("term")))).as("a"))
      .select(col("k"), col("n_tot"), col("s_tot"), col("q_tot"),
        aggregate(col("a"), lit(0.0),
          (acc, x) => acc + x.getField("term")).as("sum_terms"))
    val nd = col("n_tot").cast("double")
    val sd = Q.sig9(col("s_tot").cast("double"))
    val qd = Q.sig9(col("q_tot").cast("double"))
    val ssb = col("sum_terms") - sd * sd / nd
    val ssw = qd - col("sum_terms")
    val kd = col("k").cast("double")
    folded.select(
      when(col("k") >= 2 && col("n_tot") > col("k") && ssw > 0,
        Q.sig9((ssb / (kd - 1.0)) / (ssw / (nd - kd)))).as("f"),
      when(col("n_tot") > 0, Q.sig9(ssb)).as("ssb"),
      when(col("n_tot") > 0, Q.sig9(ssw)).as("ssw"),
      (col("k") - 1).cast("long").as("dof_between"),
      (col("n_tot") - col("k")).cast("long").as("dof_within"),
      coalesce(col("n_tot"), lit(0L)).cast("long").as("n"),
      col("k").cast("long").as("k"))
  }

  /** Brown–Forsythe variance-equality test (Levene's test with the
    * MEDIAN center — the robust form) over an INTEGER-VALUED column:
    * are the k groups' spreads equal, the precondition check before
    * a pooled-variance readout. Per group, deviations from the group
    * median feed [[oneWayAnova]]; a significant F = unequal spreads.
    *
    * Determinism: deviations are carried DOUBLED — med2 = x_(k) +
    * x_(k+1) (or 2·x_(k) for odd n) is an exact integer in
    * half-units, so d2 = |2x − med2| is exact and F is scale
    * invariant (the doubling cancels). Medians are DISCRETE order
    * statistics read off [[percentRank]]'s prefix sums (min value
    * with cum ≥ k — the conformal convention), never interpolated
    * floats.
    *
    * @return [[oneWayAnova]]'s row over the doubled deviations */
  def brownForsythe(df: DataFrame, groupCol: String,
      valCol: String): DataFrame = {
    val rows = df.select(col(groupCol).cast("string").as("g"),
        col(valCol).cast("long").as("v"))
      .where(col("g").isNotNull && col("v").isNotNull)
    val pr = percentRank(rows, Seq("g"), "v")
    val tot = pr.groupBy(col("g"))
      .agg(max(col("n_below") + col("cnt")).as("nj"))
    val withN = pr.join(broadcast(tot), Seq("g"))
      .withColumn("klo", expr("(nj + 1) div 2"))
      .withColumn("khi", expr("(nj div 2) + 1"))
    val m = withN.groupBy(col("g"))
      .agg(min(when(col("n_below") + col("cnt") >= col("klo"),
          col("s"))).as("mlo"),
        min(when(col("n_below") + col("cnt") >= col("khi"),
          col("s"))).as("mhi"))
      .select(col("g"), (col("mlo") + col("mhi")).cast("long").as("med2"))
    val dev = rows.join(m, Seq("g"))
      .select(col("g"), abs(lit(2L) * col("v") - col("med2")).as("d2"))
    oneWayAnova(dev, "g", "d2")
  }

  /** Mutual information (nats) + normalized MI between two
    * categorical columns — the DEPENDENCE STRENGTH companion to
    * [[chiSquare]]'s significance: chi² says "not independent", MI
    * says "how many nats of the row label the column label carries"
    * (feature-selection ranking, redundant-metadata detection).
    * NMI = MI / sqrt(H_row · H_col) ∈ [0, 1].
    *
    * Determinism: all cell and margin counts are exact BIGINTs; each
    * cell's log ratio ln(c·N / (r·k)) takes ONE sig9'd libm ln of a
    * division of sig9'd exact-integer products (the tokenEntropy
    * convention), each contribution is sig9'd, and the sums run
    * through dsumStable(12) (|MI| ≤ ln(cats), so scale 12 is exact).
    *
    * Plan: one (r, c) hash group-by; margins re-aggregate the CELL
    * frame (never a second input scan); two margin equi-joins.
    *
    * @return one row: (mi, nmi, n, r_cats, c_cats) — nmi NULL when
    *         either margin entropy is 0 (a constant column) */
  def mutualInfo(df: DataFrame, rowCol: String, colCol: String)
      : DataFrame = {
    import graft.queries.Q
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cells = df.select(col(rowCol).cast("string").as("r"),
        col(colCol).cast("string").as("c"))
      .where(col("r").isNotNull && col("c").isNotNull)
      .groupBy(col("r"), col("c")).agg(count(lit(1)).as("cnt"))
      .transform(Checkpoints.cut) // read 4x: both margins, total, terms
    val rm = cells.groupBy(col("r")).agg(sum(col("cnt")).as("rn"))
    val cm = cells.groupBy(col("c")).agg(sum(col("cnt")).as("cn"))
    val tot = cells.agg(sum(col("cnt")).as("n"))
    val ratio =
      Q.sig9((col("cnt").cast(dec) * col("n").cast(dec)).cast("double")) /
        Q.sig9((col("rn").cast(dec) * col("cn").cast(dec)).cast("double"))
    val contrib = Q.sig9(col("cnt").cast("double") /
      col("n").cast("double") * Q.sig9(log(ratio)))
    val mi = cells.join(rm, Seq("r")).join(cm, Seq("c"))
      .crossJoin(broadcast(tot))
      .agg(Q.dsumStable(contrib, 12).as("mi"),
        countDistinct(col("r")).cast("long").as("r_cats"),
        countDistinct(col("c")).cast("long").as("c_cats"),
        first(col("n")).as("n"))
    def ent(margin: DataFrame, cc: String, out: String) = {
      val p = col(cc).cast("double") / col("n").cast("double")
      margin.crossJoin(broadcast(tot))
        .agg((lit(0.0) - Q.dsumStable(Q.sig9(p * Q.sig9(log(p))), 12))
          .as(out))
    }
    val hr = ent(rm, "rn", "h_r")
    val hc = ent(cm, "cn", "h_c")
    mi.crossJoin(broadcast(hr)).crossJoin(broadcast(hc))
      .select(
        when(col("n") > 0, col("mi")).as("mi"),
        when(col("n") > 0 && col("h_r") > 0 && col("h_c") > 0,
          Q.sig9(col("mi") /
            Q.sig9(sqrt(col("h_r") * col("h_c"))))).as("nmi"),
        coalesce(col("n"), lit(0L)).cast("long").as("n"),
        col("r_cats"), col("c_cats"))
  }

  /** McNemar's paired-proportion test over per-unit binary flag
    * pairs — did the SAME units flip between two binary states (the
    * paired twin of [[twoProportionZ]], which assumes independent
    * arms). Only the discordant counts matter: b = |a ∧ ¬b|,
    * c = |¬a ∧ b|; chi² = (b−c)²/(b+c), plus the
    * continuity-corrected (|b−c|−1)²/(b+c).
    *
    * Determinism: pure exact-integer counts; each statistic is ONE
    * sig9'd IEEE division of exact longs ((b−c)² stays exact below
    * ~3·10⁹ discordant units — beyond any real paired design).
    *
    * @return one row: (n_units, b, c, chi2, chi2_cc) — NULL stats
    *         when b + c = 0 (no discordant pairs) */
  def mcnemar(units: DataFrame, aCol: String, bCol: String): DataFrame = {
    import graft.queries.Q
    val f = units
      .where(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("boolean").as("fa"),
        col(bCol).cast("boolean").as("fb"))
    val d = abs(col("b") - col("c"))
    f.agg(count(lit(1)).as("n_units"),
        sum(when(col("fa") && !col("fb"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("fa") && col("fb"), 1L).otherwise(0L)).as("c"))
      .select(col("n_units"),
        coalesce(col("b"), lit(0L)).cast("long").as("b"),
        coalesce(col("c"), lit(0L)).cast("long").as("c"))
      .select(col("n_units"), col("b"), col("c"),
        when(col("b") + col("c") > 0, Q.sig9(
          ((col("b") - col("c")) * (col("b") - col("c"))).cast("double") /
            (col("b") + col("c")).cast("double"))).as("chi2"),
        when(col("b") + col("c") > 0, Q.sig9(
          (greatest(d - 1, lit(0L)) * greatest(d - 1, lit(0L)))
            .cast("double") /
            (col("b") + col("c")).cast("double"))).as("chi2_cc"))
  }

  /** Friedman test — the PAIRED k-sample rank test (the within-block
    * twin of [[kruskalWallis]]): does a metric differ across k
    * treatments when every block (user, day, site…) experiences all
    * of them? Ranks are computed WITHIN each complete block, so
    * between-block level differences (the thing that drowns
    * Kruskal–Wallis on heterogeneous users) cancel by construction.
    *
    * Cell value = the block × treatment [[graft.queries.Q.dsum]] of
    * the metric — sig9'd and therefore bit-identical cross-engine
    * (ranking RAW decimal sums would let the two engines' differing
    * double→decimal casts manufacture tie disagreements at the 15th
    * decimal — the multiTouch lesson). Only blocks holding ALL k
    * treatments participate (the textbook complete-block design;
    * k is measured from the full cell frame).
    *
    * Numerics: within-block DOUBLED midranks ρ = 2·(#less) + (#equal,
    * incl. self) + 1 fold inside one bounded k-array (k = distinct
    * treatments, O(k²) per block, no window); the tie-corrected
    * statistic Q = (k−1)·Σ_j (2R_j − n(k+1))² / (Σρ² − n·k·(k+1)²)
    * has an exact DECIMAL(38,0) numerator and denominator (ρ and its
    * squares are small integers), one spearman-style sig9 chain at
    * the end. Ties everywhere degenerate the denominator to 0 → NULL.
    *
    * @return one row per treatment: (treatment, n_blocks, k,
    *         rank_sum2 = 2·R_j, mean_rank, q_stat) — q_stat repeated
    *         on every row; empty when no block is complete */
  def friedman(df: DataFrame, blockCol: String, treatCol: String,
      valCol: String): DataFrame = {
    import graft.queries.Q
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
    val dec0 = DecimalType(38, 0)
    val cell = df
      .where(col(blockCol).isNotNull && col(treatCol).isNotNull &&
        col(valCol).isNotNull)
      .groupBy(col(blockCol).as("b"), col(treatCol).as("tr"))
      .agg(Q.dsum(col(valCol).cast("double")).as("cv"))
      .transform(Checkpoints.cut) // reused: k scalar + the block pack
    val kRow = cell.agg(countDistinct(col("tr")).as("k"))
    val packed = cell.groupBy(col("b"))
      .agg(collect_list(struct(col("tr"), col("cv"))).as("arr"))
      .crossJoin(broadcast(kRow))
      .where(size(col("arr")) === col("k"))
    val ranked = packed.select(explode(transform(col("arr"), x => {
      val m = size(filter(col("arr"),
        y => y.getField("cv") < x.getField("cv")))
      val e = size(filter(col("arr"),
        y => y.getField("cv") === x.getField("cv")))
      struct(x.getField("tr").as("tr"),
        (m.cast(LongType) * 2L + e.cast(LongType) + lit(1L)).as("rho"))
    })).as("r"))
      .select(col("r.tr").as("tr"), col("r.rho").as("rho"))
    val perTr = ranked.groupBy(col("tr"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("rho")).cast(dec0).as("r2"),
        sum(col("rho").cast(dec0) * col("rho")).as("a4c"))
      .transform(Checkpoints.cut) // reused: scalar pass + output rows
    val stat = perTr.agg(
        count(lit(1)).as("kk"), max(col("n_blocks")).as("n"),
        sum(col("a4c")).as("a4"),
        collect_list(struct(col("tr"), col("r2"))).as("rs"))
      .select(col("kk"), col("n"), col("a4"),
        aggregate(col("rs"), lit(0L).cast(dec0), (acc, e) => {
          val dev = e.getField("r2") -
            (col("n") * (col("kk") + 1)).cast(dec0)
          acc + dev * dev
        }).as("ssd"))
      .select(col("kk"), col("n"),
        ((col("kk") - 1).cast(dec0) * col("ssd")).as("num4"),
        (col("a4") - (col("n") * col("kk") *
          (col("kk") + 1) * (col("kk") + 1)).cast(dec0)).as("den4"))
      .select(col("kk"), col("n"),
        when(col("den4") > 0, Q.sig9(
          Q.sig9(col("num4").cast(DoubleType)) /
            Q.sig9(col("den4").cast(DoubleType)))).as("q_stat"))
    perTr.crossJoin(broadcast(stat))
      .select(col("tr").as(treatCol), col("n_blocks"),
        col("kk").cast(LongType).as("k"),
        col("r2").cast(LongType).as("rank_sum2"),
        Q.sig9(col("r2").cast(DoubleType) /
          (col("n_blocks") * 2).cast(DoubleType)).as("mean_rank"),
        col("q_stat"))
  }

  /** Per-group skewness and excess kurtosis of an INTEGER-VALUED
    * column — the shape profile beside [[groupMoments]]'s mean/var
    * (asymmetric? heavy-tailed? the "is a mean-based test even
    * appropriate" pre-check for the A/B family). Integer precondition
    * as in [[oneWayAnova]]: the four power sums S1..S4 are exact
    * DECIMAL(38,0) (S4 stays under 38 digits through ~10¹² rows of
    * |v| ≤ 50-scale metrics; larger values pre-scale), so the whole
    * statistic chain is fixed IEEE arithmetic over the four sig9'd
    * casts — bit-identical on any engine or partitioning, sig9'd once
    * per output. Central moments via the raw-moment expansion;
    * skew = m3/m2^1.5, kurt = m4/m2² − 3.
    *
    * @return per group: (keys..., n, mean, m2, skew, kurt) —
    *         skew/kurt NULL when m2 ≤ 0 or n = 0 */
  def higherMoments(df: DataFrame, keyCols: Seq[String], valCol: String)
      : DataFrame = {
    import graft.queries.Q
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val keys = keyCols.map(col)
    val v = col(valCol).cast("long")
    val vd = v.cast(dec)
    val grp = df.where(v.isNotNull &&
        keyCols.map(col(_).isNotNull).reduceOption(_ && _)
          .getOrElse(lit(true)))
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n"), sum(vd).as("s1"),
        sum(vd * vd).as("s2"), sum(vd * vd * vd).as("s3"),
        sum(vd * vd * vd * vd).as("s4"))
    val nd = col("n").cast("double")
    val s1 = Q.sig9(col("s1").cast("double"))
    val s2 = Q.sig9(col("s2").cast("double"))
    val s3 = Q.sig9(col("s3").cast("double"))
    val s4 = Q.sig9(col("s4").cast("double"))
    val mean = s1 / nd
    val m2 = s2 / nd - mean * mean
    val m3 = s3 / nd - lit(3.0) * mean * (s2 / nd) +
      lit(2.0) * mean * mean * mean
    val m4 = s4 / nd - lit(4.0) * mean * (s3 / nd) +
      lit(6.0) * mean * mean * (s2 / nd) -
      lit(3.0) * mean * mean * mean * mean
    grp.select(keys ++ Seq(
      col("n").cast("long").as("n"),
      when(col("n") > 0, Q.sig9(mean)).as("mean"),
      when(col("n") > 0, Q.sig9(m2)).as("m2"),
      when(col("n") > 0 && m2 > 0,
        Q.sig9(m3 / Q.sig9(sqrt(m2 * m2 * m2)))).as("skew"),
      when(col("n") > 0 && m2 > 0,
        Q.sig9(m4 / (m2 * m2) - lit(3.0))).as("kurt")): _*)
  }

  def schemaDiff(oldDf: DataFrame, newDf: DataFrame): DataFrame = {
    val spark = oldDf.sparkSession
    import spark.implicits._
    val o = oldDf.schema.map(f => f.name -> f.dataType.simpleString).toMap
    val n = newDf.schema.map(f => f.name -> f.dataType.simpleString).toMap
    val rows =
      (n.keySet -- o.keySet).toSeq.sorted.map(c =>
        (c, "added", null.asInstanceOf[String], n(c))) ++
      (o.keySet -- n.keySet).toSeq.sorted.map(c =>
        (c, "removed", o(c), null.asInstanceOf[String])) ++
      (o.keySet & n.keySet).toSeq.sorted.collect {
        case c if o(c) != n(c) => (c, "retyped", o(c), n(c))
      }
    rows.toDF("col_name", "status", "old_type", "new_type")
  }

  /** Row-level snapshot reconciliation — the data diff run before
    * swapping a rebuilt table in ([[schemaDiff]]'s row-level sibling,
    * and the audit face of the SCD2/upsert family): keyed full-outer
    * compare of two snapshots into added / removed / changed /
    * unchanged counts plus a per-column changed count — "the rebuild
    * touched 0.02% of rows, all in column X" is the sign-off a swap
    * needs; a surprise in `removed` blocks it.
    *
    * Scale shape: ONE full-outer shuffle join on the key (both sides
    * pre-projected to key + compared columns — never full-width), one
    * conditional aggregate, a bounded unpivot. Comparison is
    * NULL-SAFE (`<=>`): NULL→value and value→NULL count as changes,
    * NULL→NULL does not.
    *
    * @return long format, one row per metric: (metric, n) — metrics
    *         `added`, `removed`, `changed`, `unchanged`, and
    *         `col_changed:<c>` per compared column (counted over
    *         matched rows only) */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
      keys: Seq[String], compareCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty && compareCols.nonEmpty,
      "need at least one key and one compared column")
    val o = oldDf.select(keys.map(col) ++
      compareCols.map(c => col(c).as(s"__o_$c")) :+
      lit(1).as("__in_o"): _*)
    val n = newDf.select(keys.map(col) ++
      compareCols.map(c => col(c).as(s"__n_$c")) :+
      lit(1).as("__in_n"): _*)
    val j = o.join(n, keys, "full_outer")
    val matched = col("__in_o").isNotNull && col("__in_n").isNotNull
    val colDiff = compareCols.map(c =>
      c -> (matched && !(col(s"__o_$c") <=> col(s"__n_$c"))))
    val anyDiff = colDiff.map(_._2).reduce(_ || _)
    def cnt(cond: Column, out: String) =
      coalesce(sum(when(cond, 1L).otherwise(0L)), lit(0L)).cast("long")
        .as(out)
    val aggs =
      cnt(col("__in_o").isNull, "added") +:
      cnt(col("__in_n").isNull, "removed") +:
      cnt(anyDiff, "changed") +:
      cnt(matched && !anyDiff, "unchanged") +:
      colDiff.map { case (c, d) => cnt(d, s"col_changed:$c") }
    val wide = j.agg(aggs.head, aggs.tail: _*)
    val metrics = Seq("added", "removed", "changed", "unchanged") ++
      compareCols.map(c => s"col_changed:$c")
    wide.select(explode(array(metrics.map(m =>
      struct(lit(m).as("metric"), col(s"`$m`").as("n"))): _*)).as("x"))
      .select(col("x.metric").as("metric"), col("x.n").as("n"))
  }

  /** Empirical-Bayes beta-binomial shrinkage (method of moments) —
    * the standard fix for "this user/item has 1/1 = 100% conversion":
    * fit a Beta(α, β) prior to the OBSERVED per-item rates
    * (μ, σ² → K = μ(1−μ)/σ² − 1, α = μK, β = (1−μ)K) and report each
    * item's posterior-mean rate (x + α)/(n + K) — small-n items pull
    * toward the global mean, big-n items keep their own rate. The
    * smoothing every CTR/quality-score ranking needs before sorting
    * by rate.
    *
    * Scale shape: one item-keyed collapse (n, x), one global moment
    * aggregate over the per-item rates, prior broadcast back as a
    * one-row frame. No window.
    *
    * Determinism: n, x exact; every rate, moment, α, β and shrunk
    * rate is a single sig9 point; rate moments go through
    * [[graft.queries.Q.dsum]]. Degenerate priors (σ² = 0, or
    * σ² ≥ μ(1−μ) where MoM breaks) surface NULL α/β and shrunk =
    * raw — documented, never a division error.
    *
    * @param trials one row per (item) trial with a 0/1 outcome
    * @return per item: (item, n, x, raw_rate, alpha, beta,
    *         shrunk_rate) */
  def ebShrink(trials: DataFrame, itemCol: String,
      flagCol: String): DataFrame = {
    import graft.queries.Q
    import org.apache.spark.sql.types.DoubleType
    val items = trials
      .select(col(itemCol).cast("string").as("item"),
        when(col(flagCol).cast("boolean"), 1L).otherwise(0L).as("f"))
      .where(col("item").isNotNull && col(flagCol).isNotNull)
      .groupBy(col("item"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("f")).cast("long").as("x"))
      .withColumn("raw_rate", Q.sig9(
        col("x").cast(DoubleType) / col("n").cast(DoubleType)))
      .transform(Checkpoints.cut) // moments + the shrink pass reuse it
    val mom = items.agg(
      count(lit(1)).cast("long").as("n_items"),
      Q.dsum(col("raw_rate")).as("s1"),
      Q.dsum(Q.sig9(col("raw_rate") * col("raw_rate"))).as("s2"))
    val mu = Q.sig9(col("s1") / col("n_items").cast(DoubleType))
    val vr = Q.sig9(
      (col("s2") - Q.sig9(col("s1") * col("s1")) /
        col("n_items").cast(DoubleType)) /
        (col("n_items") - 1).cast(DoubleType))
    val prior = mom
      .select(col("n_items"), mu.as("mu"), vr.as("vr"))
      .select(col("n_items"), col("mu"), col("vr"),
        when(col("n_items") > 1 && col("vr") > 0 &&
            col("vr") < Q.sig9(col("mu") * (lit(1.0) - col("mu"))),
          Q.sig9(Q.sig9(col("mu") * (lit(1.0) - col("mu"))) /
            col("vr") - lit(1.0))).as("kk"))
      .select(
        Q.sig9(col("mu") * col("kk")).as("alpha"),
        Q.sig9((lit(1.0) - col("mu")) * col("kk")).as("beta"),
        col("kk"))
    items.crossJoin(broadcast(prior))
      .select(col("item"), col("n"), col("x"), col("raw_rate"),
        col("alpha"), col("beta"),
        when(col("kk").isNotNull, Q.sig9(
          (col("x").cast(DoubleType) + col("alpha")) /
            (col("n").cast(DoubleType) + col("kk"))))
          .otherwise(col("raw_rate")).as("shrunk_rate"))
  }

  /** Quantile treatment effects — WHERE in the outcome distribution
    * the treatment acts: per requested quantile q, the exact per-arm
    * empirical quantile and their difference. An ATE of zero can hide
    * a +10% tail / −10% head trade; the QTE profile is the standard
    * readout. Quantile = the same exact rank arithmetic as
    * [[tailIndex]] (smallest value whose inclusive cumulative count
    * reaches max(1, (n·q) div 1000)) — a DATA value, so the
    * adjudication has no interpolation contract.
    *
    * Scale shape: [[percentRank]] keyed by arm (windowless binned
    * prefix sums), one arm total, one (arm, q) threshold min per
    * requested quantile over the broadcast bounded quantile list, one
    * arm pivot join on q. Determinism: thresholds exact data values,
    * the difference ONE sig9 point.
    *
    * @return per quantile: (q_permille, x_treat, x_control, qte) */
  def quantileTreatmentEffect(df: DataFrame, treatCol: String,
      valCol: String,
      quantilesPerMille: Seq[Int] = Seq(100, 250, 500, 750, 900))
      : DataFrame = {
    import graft.queries.Q
    require(quantilesPerMille.nonEmpty &&
      quantilesPerMille.forall(q => q > 0 && q < 1000),
      "quantiles must be in (0, 1000) per-mille")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(treatCol).cast("long").as("arm"),
        col(valCol).cast("double").as("v"))
      .where(col("arm").isin(0L, 1L) && col("v").isNotNull)
    val pr = percentRank(base, Seq("arm"), "v")
    val totals = pr.groupBy(col("arm"))
      .agg(max(col("n_below") + col("cnt")).as("n"))
    val qs = quantilesPerMille.distinct.sorted.toDF("q_permille")
    val thresholds = pr.join(broadcast(totals), Seq("arm"))
      .crossJoin(broadcast(qs))
      .where(col("n_below") + col("cnt") >= greatest(lit(1L),
        expr("(n * CAST(q_permille AS BIGINT)) div 1000")))
      .groupBy(col("arm"), col("q_permille"))
      .agg(min(col("s")).as("u"))
    thresholds.where(col("arm") === 1)
      .select(col("q_permille"), col("u").as("x_treat"))
      .join(thresholds.where(col("arm") === 0)
        .select(col("q_permille"), col("u").as("x_control")),
        Seq("q_permille"))
      .select(col("q_permille").cast("long").as("q_permille"),
        col("x_treat"), col("x_control"),
        Q.sig9(col("x_treat") - col("x_control")).as("qte"))
  }

  /** Hill tail-index (peaks-over-threshold form) — "how heavy is this
    * distribution's tail": α̂ = k / Σ_{x>u} ln(x/u) over the
    * exceedances of the per-key empirical quantile threshold u
    * (default p90). Small α = heavy tail — the screen that catches a
    * source whose document lengths (or user spend) follow a power law
    * before a mean-based cap mis-sizes it. The threshold variant is
    * chosen over classic rank-k Hill because it needs NO per-key
    * order statistics beyond one quantile — everything stays in
    * [[percentRank]]'s windowless ranks ([[Prefix.below]]).
    *
    * Scale shape: percentRank's collapse, one per-key total, one
    * per-key threshold min-aggregate, one weighted term fold over the
    * DISTINCT values above u. Per-key frames are bounded
    * (broadcast); no global window.
    *
    * Determinism: u is an exact data value picked by exact integer
    * rank arithmetic ((n·qpm) div 1000, min 1); each ln(x/u) and its
    * count-weighted term are single sig9 points, summed via
    * [[graft.queries.Q.dsum]]; α̂ one final sig9 division.
    *
    * @return per key: (keys…, n, u, k_tail, hill_alpha) — α NULL
    *         when the tail is empty or u ≤ 0 */
  def tailIndex(df: DataFrame, keyCols: Seq[String], valCol: String,
      quantilePerMille: Int = 900): DataFrame = {
    import graft.queries.Q
    require(quantilePerMille >= 500 && quantilePerMille < 1000,
      s"quantilePerMille must be in [500, 1000), got $quantilePerMille")
    val keys = keyCols.map(col)
    val pr = percentRank(df, keyCols, valCol)
      .transform(Checkpoints.cut) // totals, threshold and tail fold reuse it
    val totals = pr.groupBy(keys: _*)
      .agg(max(col("n_below") + col("cnt")).as("n"))
      .withColumn("hi", greatest(lit(1L),
        expr(s"(n * CAST($quantilePerMille AS BIGINT)) div 1000")))
    val u = pr.join(broadcast(totals), keyCols)
      .where(col("n_below") + col("cnt") >= col("hi"))
      .groupBy(keys: _*).agg(min(col("s")).as("u"))
    val tail = pr.join(broadcast(u), keyCols)
      .where(col("s") > col("u") && col("u") > 0)
      .groupBy(keys: _*)
      .agg(sum(col("cnt")).cast("long").as("k_tail"),
        Q.dsum(Q.sig9(Q.sig9(log(col("s") / col("u"))) *
          col("cnt").cast("double"))).as("st"))
    totals.join(u, keyCols).join(tail, keyCols, "left_outer")
      .select(keys ++ Seq(col("n"), col("u"),
        coalesce(col("k_tail"), lit(0L)).as("k_tail"),
        when(col("k_tail") > 0 && col("st") > 0, Q.sig9(
          col("k_tail").cast("double") / col("st")))
          .as("hill_alpha")): _*)
  }

  /** Cochran's Q — the binary-outcome sibling of [[friedman]]: do k
    * treatments differ when every block (user, day, site…) reports a
    * 0/1 outcome under ALL of them? Q = (k−1)·[k·ΣT_j² − (ΣT_j)²] /
    * [k·ΣB_i − ΣB_i²] with T_j the treatment totals and B_i the
    * block totals — for k = 2 it collapses to McNemar's statistic.
    *
    * Input contract: one row per (block, treatment) with a 0/1 flag;
    * duplicate rows OR together (max). Only blocks holding ALL k
    * treatments participate (k measured from the full cell frame —
    * the [[friedman]] complete-block rule).
    *
    * Scale shape: one (block, treatment) max collapse, one
    * block-keyed aggregate (completeness + B_i), one treatment-keyed
    * aggregate — every shuffle keys on the block or the bounded
    * treatment set; no window.
    *
    * Determinism: all totals exact BIGINTs, both Q operands exact
    * DECIMAL(38,0), ONE sig9 division; an all-equal denominator (all
    * blocks all-0 or all-1) degenerates to NULL, never throws.
    *
    * @return per treatment: (treatment, t_j, n_blocks, k, q_stat) —
    *         q_stat repeated per row; empty when no complete block */
  def cochranQ(units: DataFrame, blockCol: String, treatCol: String,
      flagCol: String): DataFrame = {
    import graft.queries.Q
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val dec = DecimalType(38, 0)
    val cells = units.select(col(blockCol).cast("string").as("b"),
        col(treatCol).cast("string").as("t"),
        when(col(flagCol).cast("boolean"), 1L).otherwise(0L).as("x"))
      .where(col("b").isNotNull && col("t").isNotNull &&
        col(flagCol).isNotNull)
      .groupBy(col("b"), col("t")).agg(max(col("x")).as("x"))
      .transform(Checkpoints.cut) // k, completeness and both totals reuse it
    val k = cells.select(col("t")).distinct().count()
    val blocks = cells.groupBy(col("b"))
      .agg(count(lit(1)).as("kb"), sum(col("x")).as("bi"))
      .where(col("kb") === k)
    val comp = cells.join(blocks.select(col("b"), col("bi")), Seq("b"))
    val byTreat = comp.groupBy(col("t"))
      .agg(sum(col("x")).cast("long").as("t_j"))
    val tTot = byTreat.agg(
      sum(col("t_j").cast(dec)).as("st"),
      sum(col("t_j").cast(dec) * col("t_j").cast(dec)).as("st2"))
    val bTot = blocks.agg(
      count(lit(1)).as("n_blocks"),
      coalesce(sum(col("bi").cast(dec)), lit(0L).cast(dec)).as("sb"),
      coalesce(sum(col("bi").cast(dec) * col("bi").cast(dec)),
        lit(0L).cast(dec)).as("sb2"))
    val num = lit(k - 1).cast(dec) *
      (lit(k).cast(dec) * col("st2") - col("st") * col("st"))
    val den = lit(k).cast(dec) * col("sb") - col("sb2")
    byTreat.crossJoin(broadcast(tTot)).crossJoin(broadcast(bTot))
      .select(col("t").as("treatment"), col("t_j"),
        col("n_blocks").cast("long").as("n_blocks"),
        lit(k).as("k"),
        when(den > 0, Q.sig9(Q.sig9(num.cast(DoubleType)) /
          Q.sig9(den.cast(DoubleType)))).as("q_stat"))
  }

  /** Mantel–Haenszel pooled 2×2 analysis — the stratified sibling of
    * [[riskRatios]] and the test-statistic face of [[ipwAte]]'s
    * adjustment: K per-stratum 2×2 tables pool into one common odds
    * ratio OR_MH = Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ) and the
    * Cochran–Mantel–Haenszel chi-square
    * (Σaᵢ − ΣEᵢ)² / ΣVᵢ with Eᵢ and Vᵢ the hypergeometric mean /
    * variance — "is the exposure effect real AFTER stratum
    * adjustment". Strata with n < 2 (V undefined) are EXCLUDED and
    * counted, the [[ipwAte]] trimming convention.
    *
    * Scale shape: ONE stratum-keyed conditional aggregate collapses
    * the unit stream to four exact BIGINT cells per stratum; the
    * pooled sums fold over the bounded strata frame. No window.
    *
    * Determinism: every cross-product aᵢdᵢ, hypergeometric numerator
    * and denominator is exact DECIMAL(38,0); each per-stratum term is
    * ONE sig9 point; pooled sums go through [[graft.queries.Q.dsum]];
    * OR_MH and the chi-square are final sig9 chains.
    *
    * @return ONE row: (n_strata, n_excluded, a_total, or_mh,
    *         cmh_chi2) — NULL readouts when no stratum survives or a
    *         pooled denominator is 0 */
  def mantelHaenszel(units: DataFrame, stratumCol: String,
      treatCol: String, flagCol: String): DataFrame = {
    import graft.queries.Q
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val dec = DecimalType(38, 0)
    val t = col(treatCol).cast("long")
    val f = col(flagCol).cast("boolean")
    def cell(cond: Column, out: String) =
      coalesce(sum(when(cond, 1L).otherwise(0L)), lit(0L)).cast("long")
        .as(out)
    val cells = units
      .where(col(stratumCol).isNotNull && t.isNotNull && f.isNotNull &&
        t.isin(0L, 1L))
      .groupBy(col(stratumCol).cast("string").as("s"))
      .agg(cell(t === 1 && f, "a"), cell(t === 1 && !f, "b"),
        cell(t === 0 && f, "c"), cell(t === 0 && !f, "d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
      .withColumn("ok", col("n") >= 2)
    val nd = col("n").cast(DoubleType)
    val terms = cells.where(col("ok")).select(
      col("a"),
      Q.sig9((col("a").cast(dec) * col("d").cast(dec)).cast(DoubleType)
        / nd).as("r"),
      Q.sig9((col("b").cast(dec) * col("c").cast(dec)).cast(DoubleType)
        / nd).as("ss"),
      Q.sig9(((col("a") + col("b")).cast(dec) *
        (col("a") + col("c")).cast(dec)).cast(DoubleType) / nd).as("e"),
      Q.sig9(((col("a") + col("b")).cast(dec) *
        (col("c") + col("d")).cast(dec) *
        (col("a") + col("c")).cast(dec) *
        (col("b") + col("d")).cast(dec)).cast(DoubleType) /
        (col("n").cast(dec) * col("n").cast(dec) *
          (col("n") - 1).cast(dec)).cast(DoubleType)).as("v"))
    val excl = cells.agg(
      coalesce(sum(when(!col("ok"), 1L).otherwise(0L)), lit(0L))
        .cast("long").as("n_excluded"))
    val g = terms.agg(count(lit(1)).cast("long").as("n_strata"),
      coalesce(sum(col("a")), lit(0L)).cast("long").as("a_total"),
      Q.dsum(col("r")).as("rr"), Q.dsum(col("ss")).as("sss"),
      Q.dsum(col("e")).as("ee"), Q.dsum(col("v")).as("vv"))
    g.crossJoin(broadcast(excl))
      .select(col("n_strata"), col("n_excluded"), col("a_total"),
        when(col("n_strata") > 0 && col("sss") > 0,
          Q.sig9(col("rr") / col("sss"))).as("or_mh"),
        when(col("n_strata") > 0 && col("vv") > 0, Q.sig9(
          Q.sig9(Q.sig9(col("a_total").cast(DoubleType) - col("ee")) *
            Q.sig9(col("a_total").cast(DoubleType) - col("ee"))) /
            col("vv"))).as("cmh_chi2"))
  }

  /** Stratified / inverse-propensity-weighted average treatment
    * effect — the observational-causal readout beside the
    * randomized-test suite ([[welchZ]]/[[cupedZ]]/[[didEstimate]]):
    * when assignment is NOT a fair coin within every stratum,
    * the raw mean difference confounds stratum mix with treatment.
    * Three standard estimators over per-stratum estimated
    * propensities e(s) = n_treated(s)/n(s):
    *  - `ate_strat`: Σ_s (n_s/N)·(ȳ_T(s) − ȳ_C(s)) — the direct
    *    stratification estimator,
    *  - `ate_ipw`: (1/N)·Σ_i [T·y/e − (1−T)·y/(1−e)] —
    *    Horvitz–Thompson,
    *  - `ate_hajek`: the weight-normalized (stabilized) form, the one
    *    to read when weights are noisy.
    * Strata violating positivity (all-treated or all-control) are
    * EXCLUDED from all three and counted in `n_excluded` — the
    * standard trimming, documented rather than silent.
    *
    * Scale shape: one stratum-keyed aggregate builds the bounded
    * propensity table (broadcast back — strata are categorical by
    * design), one row-level pass forms the sig9'd weighted terms,
    * one global aggregate folds them; the stratified term folds over
    * the bounded strata frame. No window, no driver data path.
    *
    * Determinism: e, every weighted term, every mean and every
    * estimator are single sig9 points over exact counts /
    * [[graft.queries.Q.dsum]] decimal sums.
    *
    * @param df one row per unit
    * @return ONE row: (n_used, n_excluded, n_treated, ate_strat,
    *         ate_ipw, ate_hajek) — NULL estimators when no stratum
    *         survives positivity */
  def ipwAte(df: DataFrame, treatCol: String, stratumCol: String,
      valCol: String): DataFrame = {
    import graft.queries.Q
    import org.apache.spark.sql.types.DoubleType
    // ONE cluster-width materialization shared by the strata build and
    // the weighted row pass: both aggregates re-derived base before —
    // and the treatment column is typically an expensive expression (a
    // hash arm), so a single-split scan serialized the whole per-row
    // cost onto one core TWICE (measured: every stage of q_x_ipw_ate
    // ran exactly 1 task; guide §2.6 — the spread is gated, a no-op on
    // any input already at cluster width)
    val base = Checkpoints.spreadCut(
      df.select(col(treatCol).cast("long").as("t"),
          col(stratumCol).cast("string").as("s"),
          col(valCol).cast("double").as("y"))
        .where(col("t").isNotNull && col("s").isNotNull &&
          col("y").isNotNull && col("t").isin(0L, 1L)))
    val strata = base.groupBy(col("s"))
      .agg(count(lit(1)).as("n_s"),
        sum(col("t")).as("n1_s"),
        Q.dsum(when(col("t") === 1, col("y"))).as("s1t"),
        Q.dsum(when(col("t") === 0, col("y"))).as("s1c"))
      .withColumn("ok", col("n1_s") > 0 && col("n1_s") < col("n_s"))
      .withColumn("e", when(col("ok"), Q.sig9(
        col("n1_s").cast(DoubleType) / col("n_s").cast(DoubleType))))
      .transform(Checkpoints.cut) // reused: row-pass broadcast + strat fold
    val tot = strata.agg(
      coalesce(sum(when(col("ok"), col("n_s"))), lit(0L)).as("n_used"),
      coalesce(sum(when(!col("ok"), col("n_s"))), lit(0L))
        .as("n_excluded"),
      coalesce(sum(when(col("ok"), col("n1_s"))), lit(0L))
        .as("n_treated"))
    val rows = base
      .join(broadcast(strata.where(col("ok"))
        .select(col("s"), col("e"))), Seq("s"))
      .agg(
        Q.dsum(when(col("t") === 1, Q.sig9(col("y") / col("e")))
          .otherwise(lit(0.0))).as("st_num"),
        Q.dsum(when(col("t") === 1, Q.sig9(lit(1.0) / col("e")))
          .otherwise(lit(0.0))).as("st_den"),
        Q.dsum(when(col("t") === 0,
          Q.sig9(col("y") / (lit(1.0) - col("e"))))
          .otherwise(lit(0.0))).as("sc_num"),
        Q.dsum(when(col("t") === 0,
          Q.sig9(lit(1.0) / (lit(1.0) - col("e"))))
          .otherwise(lit(0.0))).as("sc_den"))
    val strat = strata.where(col("ok")).crossJoin(broadcast(tot))
      .select(when(col("n1_s") < col("n_s") && col("n1_s") > 0,
        Q.sig9(Q.sig9(
          Q.sig9(col("s1t") / col("n1_s").cast(DoubleType)) -
            Q.sig9(col("s1c") /
              (col("n_s") - col("n1_s")).cast(DoubleType))) *
          col("n_s").cast(DoubleType) / col("n_used").cast(DoubleType)))
        .as("term"))
      .agg(Q.dsum(col("term")).as("ate_strat"))
    tot.crossJoin(broadcast(rows)).crossJoin(broadcast(strat))
      .select(col("n_used"), col("n_excluded"), col("n_treated"),
        when(col("n_used") > 0, col("ate_strat")).as("ate_strat"),
        when(col("n_used") > 0, Q.sig9(
          (col("st_num") - col("sc_num")) /
            col("n_used").cast(DoubleType))).as("ate_ipw"),
        when(col("st_den") > 0 && col("sc_den") > 0, Q.sig9(
          Q.sig9(col("st_num") / col("st_den")) -
            Q.sig9(col("sc_num") / col("sc_den")))).as("ate_hajek"))
  }

  /** Per-segment KS drift battery with Benjamini–Hochberg FDR
    * control — the multiple-testing-correct form of "which segments
    * drifted?": for every segment g, the exact two-sample KS distance
    * of its values against the COMPLEMENT (everyone else), the
    * asymptotic two-sided p ≈ min(1, 2·exp(−2·n_eff·D²)) with
    * n_eff = n_g·n_rest/n, and the BH step-up q-value
    * q_i = min_{j≥i} min(1, p_(j)·m/j). Running m segment tests at
    * α each inflates family-wise false positives ~m·α; BH caps the
    * expected FALSE-DISCOVERY share of the flagged set at α — the
    * correction a drift monitor fanning over hundreds of
    * features × segments actually needs.
    *
    * Scale shape: one (segment, value) count collapse, then
    * [[Prefix.below]] PER SEGMENT over the segment × distinct-value
    * grid (each segment's inclusive CDF), and the complement CDF is
    * cum_all − cum_g (the G2 complement-aggregate trick: ONE global
    * grid, no per-segment rescan). The grid costs G·V rows — G is the
    * battery width (segments/features under test, bounded by design: a
    * battery IS an enumerated set); V distinct values shuffle once. The
    * BH fold packs the G per-segment rows into ONE array row (bases
    * idiom, O(G²) work in a single task).
    *
    * Determinism: every cumulative count and KS numerator is exact
    * (DECIMAL(38,0) cross-products); D, n_eff, p and each BH term are
    * single sig9 points, so the suffix-min and the α compare
    * adjudicate bit-for-bit.
    *
    * @return per segment: (segment, n, ks, ks_p, bh_rank, q_value,
    *         significant) — significant = q_value ≤ alpha */
  def ksDriftBattery(df: DataFrame, grpCol: String, valCol: String,
      alpha: Double = 0.05): DataFrame = {
    import graft.queries.Q
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cnt = df
      .select(col(grpCol).cast("string").as("g"),
        col(valCol).cast("double").as("s"))
      .where(col("g").isNotNull && col("s").isNotNull)
      .groupBy(col("g"), col("s")).agg(count(lit(1)).as("c"))
      .transform(Checkpoints.cut) // grid, totals and global CDF all reuse it
    val grid = cnt.select(col("g")).distinct()
      .crossJoin(cnt.select(col("s")).distinct()) // G×V, G bounded
      .join(cnt, Seq("g", "s"), "left_outer")
      .select(col("g"), col("s"), coalesce(col("c"), lit(0L)).as("c"))
    val n = cnt.agg(sum(col("c")).cast("long").as("n"))
    val cumg = Prefix.below(grid, Seq("g"), "s", Seq("c"))
      .crossJoin(broadcast(n))
      .select(col("g"), col("s"), col("n"), col("tot_c").as("n_g"),
        (col("below_c") + col("c")).as("cumg"))
    val cumAll = cumg.groupBy(col("s"))
      .agg(sum(col("cumg")).as("cumall")) // Σ_g cum_g(v) = cum_all(v)
    val perSeg = cumg.join(cumAll, Seq("s"))
      .where(col("n_g") > 0 && col("n_g") < col("n"))
      .withColumn("num", abs(
        col("cumg").cast(dec) * (col("n") - col("n_g")).cast(dec) -
          (col("cumall") - col("cumg")).cast(dec) * col("n_g").cast(dec)))
      .groupBy(col("g"))
      .agg(max(col("num")).as("mx"), first(col("n_g")).as("n_g"),
        first(col("n")).as("n"))
      .withColumn("ks", Q.sig9(col("mx").cast("double") /
        (col("n_g").cast(dec) * (col("n") - col("n_g")).cast(dec))
          .cast("double")))
      .withColumn("neff", Q.sig9(
        (col("n_g").cast(dec) * (col("n") - col("n_g")).cast(dec))
          .cast("double") / col("n").cast("double")))
      .withColumn("ks_p", least(lit(1.0), Q.sig9(
        lit(2.0) * exp(lit(-2.0) * col("neff") * col("ks") * col("ks")))))
      .select(col("g").as("segment"), col("n_g").as("n"),
        col("ks"), col("ks_p"))
    // BH step-up in ONE bounded array row: rank by (p, segment), term
    // t_j = min(1, sig9(p_j·m/j)), q_i = suffix-min of t (O(G²)).
    perSeg.groupBy()
      .agg(array_sort(collect_list(struct(col("ks_p"), col("segment"),
        col("n"), col("ks")))).as("arr"))
      .select(explode(transform(col("arr"), (x, i) => {
        val m = size(col("arr"))
        val term = (e: Column, j: Column) => least(lit(1.0),
          Q.sig9(e.getField("ks_p") * m.cast("double") /
            (j + 1).cast("double")))
        struct(x.getField("segment").as("segment"),
          x.getField("n").as("n"), x.getField("ks").as("ks"),
          x.getField("ks_p").as("ks_p"),
          (i + 1).cast("long").as("bh_rank"),
          aggregate(
            zip_with(slice(col("arr"), i + 1, m - i),
              sequence(i, m - 1), (e, j) => term(e, j)),
            lit(1.0), (acc, t) => least(acc, t)).as("q_value"))
      })).as("x"))
      .select(col("x.segment").as("segment"), col("x.n").as("n"),
        col("x.ks").as("ks"), col("x.ks_p").as("ks_p"),
        col("x.bh_rank").as("bh_rank"), col("x.q_value").as("q_value"),
        (col("x.q_value") <= alpha).as("significant"))
  }

  /** Theil T inequality index with exact within/between decomposition
    * (Theil 1967; Shorrocks 1980) — the DECOMPOSABLE member of the
    * inequality family beside `gini` (which does not decompose):
    * T = Σ_g s_g·T_g + T_between, where for each group g with share
    * s_g = X_g/X,
    *   T_g       = (Σ_g x·ln x − X_g·ln μ_g) / (n_g·μ_g)
    *   T_between = Σ_g s_g · ln(s_g / (n_g/n)).
    * "How concentrated is revenue/tokens/compute, and how much of the
    * concentration is BETWEEN sources vs WITHIN them" — the corpus
    * mix-audit readout.
    *
    * Scale shape: one per-group hash aggregate (per-row ln sig9'd,
    * products summed through the stable decimal route), then O(groups)
    * scalar arithmetic against two broadcast totals. Non-positive
    * values are excluded (ln domain), their count reported.
    *
    * @return one row per group: (groupCol, n, total, share,
    *         theil_within, contribution = s_g·T_g + s_g·ln(...)),
    *         plus column n_nonpos on every row */
  def theilDecomposition(df: DataFrame, groupCol: String,
      valCol: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    import graft.queries.Q
    val x = col(valCol).cast("double")
    val base = df.select(col(groupCol).as("g"), x.as("x"))
    val nonpos = base.agg(
      sum(when(col("x") <= 0.0 || col("x").isNull, 1L).otherwise(0L))
        .cast(LongType).as("n_nonpos"))
    val pos = base.where(col("x") > 0.0)
    val perG = pos.groupBy(col("g"))
      .agg(count(lit(1)).cast(LongType).as("n"),
        Q.dsum(col("x")).as("total"),
        // Σ x·ln x: ln sig9'd per row, product raw (granular x exact
        // double times granular), decimal-stable sum; |x ln x| at
        // 1e6-scale values stays < 2e7, scale 7 keeps 14 digits
        Q.dsumStable(col("x") * Q.sig9(log(col("x"))), 7)
          .as("sxlx"))
    val tot = perG.agg(sum(col("n")).cast(LongType).as("nt"),
      Q.dsumStable(col("total"), 7).as("xt"))
    val mu = Q.sig9(col("total") / col("n").cast("double"))
    val share = Q.sig9(col("total") / col("xt"))
    val tw = Q.sig9((col("sxlx") - col("total") * Q.sig9(log(mu))) /
      (col("n").cast("double") * mu))
    val btw = Q.sig9(log(share /
      (col("n").cast("double") / col("nt").cast("double"))))
    perG.crossJoin(broadcast(tot)).crossJoin(broadcast(nonpos))
      .select(col("g").as(groupCol), col("n"), col("total"),
        share.as("share"), tw.as("theil_within"),
        Q.sig9(share * (tw + btw)).as("contribution"),
        col("n_nonpos"))
  }

  /** Exact weighted quantiles over a BOUNDED integral value domain:
    * the q/1000-th weighted quantile is the smallest value whose
    * cumulative weight reaches q/1000 of the total weight mass. One
    * hash aggregate collapses the corpus to (value, weight-sum) —
    * bounded by the declared domain (quantity-style columns with
    * dozens of levels; continuous doubles go to histSketch /
    * approx_percentile) — then the bounded table folds in ONE packed
    * row with the all-integer hit rule (cum·1000 >= q·total): no
    * global sort, no window, no float anywhere. Both columns must be
    * integral: fractional inputs raise rather than silently truncate
    * (the changePoint contract); integral weights are the caller's
    * job (e.g. price in cents via FLOOR(x·100)).
    *
    * @return one row per q: (q_permille, value, cum_w, total_w) */
  def weightedQuantiles(df: DataFrame, valCol: String, wCol: String,
      qPermille: Seq[Int]): DataFrame = {
    require(qPermille.nonEmpty &&
      qPermille.forall(q => q > 0 && q <= 1000),
      "weightedQuantiles: permilles must be in (0, 1000]")
    def intGuard(c: Column, what: String): Column =
      when(c.cast("double") =!= c.cast("long").cast("double"),
        raise_error(concat(lit(s"weightedQuantiles: fractional $what: "),
          c.cast("string")))).otherwise(c.cast("long"))
    val g = df
      .where(col(valCol).isNotNull && col(wCol).isNotNull)
      .select(intGuard(col(valCol), "value").as("v"),
        intGuard(col(wCol), "weight").as("w"))
      .groupBy(col("v")).agg(sum(col("w")).cast("long").as("w"))
    val packed = g
      .agg(array_sort(collect_list(struct(col("v"), col("w"))))
        .as("arr"), sum(col("w")).cast("long").as("total_w"))
    val rows = packed.select(col("total_w"),
      explode(array(qPermille.map(lit): _*)).as("q_permille"), col("arr"))
      // the hit rule cum·1000 >= q·total_w overflows a signed long at
      // fleet-scale weight mass (cents weights pass 9.2e15 around SF
      // 400) — so the threshold ceil(q·total/1000) is computed ONCE
      // per q in exact DECIMAL and the fold compares plain longs
      .withColumn("__thr", expr(
        "CAST((CAST(q_permille AS DECIMAL(38,0)) * " +
          "CAST(total_w AS DECIMAL(38,0)) + 999) div 1000 AS BIGINT)"))
    // state [found, value, cumBefore, w]; every branch rebuilds the
    // array (the DuckDB list_reduce identity-branch house rule)
    val st = aggregate(col("arr"),
      array(lit(0L), lit(0L), lit(0L), lit(0L)), (acc, e) => {
        val found = element_at(acc, 1) === 1L
        val cum = element_at(acc, 3) + element_at(acc, 4)
        val hits = cum + e.getField("w") >= col("__thr")
        when(found, array(lit(1L), element_at(acc, 2),
          element_at(acc, 3), element_at(acc, 4)))
          .otherwise(when(hits,
            array(lit(1L), e.getField("v"), cum, e.getField("w")))
            .otherwise(array(lit(0L), e.getField("v"), cum,
              e.getField("w"))))
      })
    rows.withColumn("__st", st)
      .where(element_at(col("__st"), 1) === 1L)
      .select(col("q_permille").cast("long").as("q_permille"),
        element_at(col("__st"), 2).as("value"),
        (element_at(col("__st"), 3) + element_at(col("__st"), 4))
          .as("cum_w"),
        col("total_w"))
  }
}
