package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.queries.Q

/** In-engine linear-model training: full-batch logistic regression by
  * gradient descent, expressed as ONE aggregate per iteration — the
  * fastText-style quality-classifier recipe (hand-engineered document
  * features -> a tiny linear model filtering a 100 TB corpus) without
  * leaving the engine or shipping data to a separate trainer.
  *
  * Scale shape: each iteration is a single map-side-combined aggregate
  * over the feature frame (k+0 gradient sums); the weight vector is a
  * bounded driver-side artifact (k doubles — the Bpe-rules precedent),
  * re-broadcast into the next iteration's projection as literals.
  * Nothing shuffles but the k-column aggregate; iterations are the
  * only sequential dimension (inherent to GD).
  *
  * Determinism contract (the reason this can sit under the DuckDB
  * oracle at all): the per-row sigmoid routes through sig9 (the libm
  * normalization every operator here uses), gradient sums accumulate
  * exactly through DECIMAL ([[Q.dsum]]), and the weight update
  * `w - lr * g / n` is a fixed IEEE expression — so the entire
  * training trajectory, not just the final scores, is bit-identical
  * across engines, partitionings and re-runs. A classifier whose
  * weights drift per run cannot gate a reproducible corpus.
  */
object Classifier {

  /** sig9-normalized logistic function (exp is the one libm step). */
  def sigmoid9(z: Column): Column =
    Q.sig9(lit(1.0) / (lit(1.0) + exp(-z)))

  private def zOf(features: Seq[String], w: Array[Double]): Column =
    features.zip(w).map { case (f, wj) => col(f) * lit(wj) }
      .reduce(_ + _)

  /** Full-batch GD from w = 0: `iters` rounds of
    * w_j <- w_j - lr * dsum(err(w·x, y) * x_j) / n, with the error
    * function supplied by the caller (logistic / linear below). */
  private def gdTrain(df: DataFrame, features: Seq[String], label: String,
                      iters: Int, lr: Double,
                      err: (Column, Column) => Column): Array[Double] = {
    require(features.nonEmpty && iters >= 1 && lr > 0,
      "need features, iters >= 1, lr > 0")
    // ONE cluster-width materialization: the count plus every GD
    // round re-aggregates this frame (iters + 1 consumers), and the
    // per-round decimal-gradient work must run at cluster width
    val base = Checkpoints.spreadCut(
      df.select((label +: features).map(col): _*)
        .na.drop(features :+ label))
    val n = base.count().toDouble
    require(n > 0, "empty training frame")
    var w = Array.fill(features.size)(0.0)
    for (_ <- 1 to iters) {
      val e = err(zOf(features, w), col(label))
      val g = base.agg(
        Q.dsum(e * col(features.head)).as("g0"),
        features.tail.zipWithIndex.map { case (f, j) =>
          Q.dsum(e * col(f)).as(s"g${j + 1}")
        }: _*).head()
      w = w.zipWithIndex.map { case (wj, j) =>
        wj - lr * g.getDouble(j) / n
      }
    }
    w
  }

  /** Logistic regression: err = sigmoid9(w·x) - y. Include a constant
    * 1.0 column among `features` for the bias; label must be 0.0/1.0.
    * Returns learned weights in feature order. */
  def logisticTrain(df: DataFrame, features: Seq[String], label: String,
                    iters: Int, lr: Double): Array[Double] =
    gdTrain(df, features, label, iters, lr,
      (z, y) => sigmoid9(z) - y)

  /** Least-squares linear regression by the same GD loop: err =
    * (w·x - y). No libm step ANYWHERE on this path — the trajectory is
    * exact decimal + fixed IEEE arithmetic, no sig9 normalization
    * needed beyond [[Q.dsum]]'s own. Scale features to O(1) so the
    * un-normalized gradient doesn't need a tiny lr. */
  def linearTrain(df: DataFrame, features: Seq[String], label: String,
                  iters: Int, lr: Double): Array[Double] =
    gdTrain(df, features, label, iters, lr, (z, y) => z - y)

  /** Linear prediction w·x (same left-to-right fold as training). */
  def predict(df: DataFrame, features: Seq[String], w: Array[Double],
              outCol: String = "yhat"): DataFrame = {
    require(features.size == w.length, "weights/features length mismatch")
    df.withColumn(outCol, zOf(features, w))
  }

  /** Distinct non-null scores with their positive (p) and negative (q)
    * label counts, checkpointed — the prefix sum and the caller both
    * read it. */
  private def scoreCounts(df: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    val y = col(labelCol)
    df.filter(col(scoreCol).isNotNull && y.isNotNull)
      .groupBy(col(scoreCol).cast("double").as("s"))
      .agg(sum(when(y === 1.0, 1L).otherwise(0L)).as("p"),
        sum(when(y === 1.0, 0L).otherwise(1L)).as("q"))
      .transform(Checkpoints.cut)
  }

  /** Exact ROC AUC (Mann–Whitney with the standard tie correction):
    * AUC = [Σ_s p(s)·negBelow(s) + ½·p(s)·q(s)] / (P·Q) over distinct
    * score values s. The cumulative-negatives rank is
    * [[Prefix.below]], so no global-order window exists at any corpus
    * size (lint-clean, spec-pinned). Counts multiply through
    * DECIMAL(38,0) (P·Q overflows Long at ~10^12-row corpora); the
    * single final division is sig9'd for cross-engine parity. Output:
    * one row (auc, n_pos, n_neg); AUC is NULL when either class is
    * absent. */
  def auc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cum = Prefix.below(scoreCounts(df, scoreCol, labelCol), Nil, "s",
        Seq("q"))
      .withColumnRenamed("below_q", "nb")
    cum.agg(
        sum(col("p").cast(dec) * (lit(2).cast(dec) * col("nb").cast(dec)
          + col("q").cast(dec))).as("num"),
        sum(col("p")).as("pp"), sum(col("q")).as("qq"))
      .select(
        when(col("pp") > 0 && col("qq") > 0,
          Q.sig9(col("num").cast("double") /
            (lit(2.0) * col("pp").cast("double")
              * col("qq").cast("double")))).as("auc"),
        col("pp").cast("long").as("n_pos"),
        col("qq").cast("long").as("n_neg"))
  }

  /** Reliability (calibration) curve over probability scores: fixed
    * [0, 1) bins (no data-dependent range — probabilities have one),
    * per bin the count, the exact mean predicted probability and the
    * observed positive rate. A well-calibrated model tracks the
    * diagonal; the gap is the per-bin calibration error. One bin-keyed
    * aggregate; ratios are exact-decimal / integer divisions. */
  def calibration(df: DataFrame, scoreCol: String, labelCol: String,
                  bins: Int = 10): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    val s = col(scoreCol).cast("double")
    df.where(s.isNotNull && col(labelCol).isNotNull)
      .groupBy(least(lit((bins - 1).toLong),
        floor(s * bins).cast("long")).as("bin"))
      .agg(count(lit(1)).as("n"),
        Q.dsum(s).as("sum_score"),
        sum(col(labelCol).cast("long")).as("n_pos"))
      .select(col("bin"), col("n"),
        (col("sum_score") / col("n")).as("mean_score"),
        (col("n_pos").cast("double") / col("n")).as("obs_rate"))
  }

  /** Closed-form ridge regression on two features (one may be the
    * bias) — the regularized companion to the GD `linearTrain`: solve
    * the 2×2 normal equations (XᵀX + λI)w = Xᵀy exactly instead of
    * iterating, the right tool when the design is tiny and the data
    * is huge (one aggregate pass, no trajectory).
    *
    * Determinism: each cross-product term is sig9'd BEFORE the
    * decimal sum (the NB product rule — raw double products straddle
    * the engines' 15th-decimal cast), the five sums are
    * order-independent decimal reductions, and the Cramer solve is a
    * fixed IEEE chain over sig9'd values, sig9'd once per output.
    *
    * Scale shape: ONE map-side-combined aggregate (five dsums + a
    * count) — nothing else touches the corpus.
    *
    * @return ONE row: (w1, w2, det, n, lambda) — weights NULL when
    *         the regularized determinant is 0 */
  def ridgeFit(df: DataFrame, x1Col: String, x2Col: String,
      yCol: String, lambda: Double): DataFrame = {
    require(lambda >= 0, s"lambda must be >= 0, got $lambda")
    val x1 = col(x1Col).cast("double")
    val x2 = col(x2Col).cast("double")
    val y = col(yCol).cast("double")
    // gated cluster-width spread so the per-row sig9+decimal moment
    // work in the partial aggregate never serializes onto a few
    // scan-split cores (free at scale — see Checkpoints.spread)
    val g = Checkpoints.spread(df
        .where(x1.isNotNull && x2.isNotNull && y.isNotNull)
        .select(x1.as("__x1"), x2.as("__x2"), y.as("__y")))
      .agg(count(lit(1)).cast("long").as("n"),
        Q.dsum(Q.sig9(col("__x1") * col("__x1"))).as("s11"),
        Q.dsum(Q.sig9(col("__x1") * col("__x2"))).as("s12"),
        Q.dsum(Q.sig9(col("__x2") * col("__x2"))).as("s22"),
        Q.dsum(Q.sig9(col("__x1") * col("__y"))).as("sy1"),
        Q.dsum(Q.sig9(col("__x2") * col("__y"))).as("sy2"))
    val a = col("s11") + lit(lambda)
    val c = col("s22") + lit(lambda)
    val det = Q.sig9(a * c - col("s12") * col("s12"))
    g.select(
        col("n"), col("s12"), col("sy1"), col("sy2"),
        a.as("__a"), c.as("__c"), det.as("det"))
      .select(
        when(col("det") =!= 0.0, Q.sig9(
          (col("__c") * col("sy1") - col("s12") * col("sy2")) /
            col("det"))).as("w1"),
        when(col("det") =!= 0.0, Q.sig9(
          (col("__a") * col("sy2") - col("s12") * col("sy1")) /
            col("det"))).as("w2"),
        col("det"), col("n"), lit(lambda).as("lambda"))
  }

  /** Leave-one-group-out ridge influence (data valuation): how much
    * does each SOURCE GROUP of training rows move the fitted model?
    * The group-Cook's-distance / LOGO shape of influence analysis
    * (Cook 1977 generalized to cohorts), and the group-deletion
    * counterpart of the Shapley-style valuation a data marketplace
    * runs: a group whose removal barely moves beta is redundant; one
    * that swings it is load-bearing (or corrupt).
    *
    * Because ridge on two features is a closed form of the 5 moment
    * sums ([[ridgeFit]]), leave-one-out needs NO refit pass: ONE
    * corpus scan builds per-group moment sums, the full-data sums are
    * their bounded rollup, and each group's beta_{-g} solves the 2x2
    * system on (full - group) moments — O(groups) driver-free math
    * after a single aggregation, where the naive protocol re-scans
    * the corpus once per group. At 100 TB with thousands of sources
    * that is the difference between one pass and thousands.
    *
    * Determinism: per-row products are sig9'd then decimal-summed
    * per group ([[Q.dsum]], the ridgeFit contract); full-data sums
    * roll up the granular group sums via [[Q.dsumStable]]; the
    * subtraction and Cramer solve are plain double ops on sig9'd
    * inputs; every emitted coefficient and the influence norm are
    * sig9'd. Degenerate leave-one-out systems (det = 0) yield NULL
    * coefficients and NULL influence rather than a throw.
    *
    * @return one row per group: (group, n, w1_loo, w2_loo,
    *         influence = ||beta_full - beta_loo||_2, w1_full,
    *         w2_full) */
  def ridgeLogoInfluence(df: DataFrame, x1Col: String, x2Col: String,
      yCol: String, groupCol: String, lambda: Double): DataFrame = {
    require(lambda >= 0, s"lambda must be >= 0, got $lambda")
    val x1 = col(x1Col).cast("double")
    val x2 = col(x2Col).cast("double")
    val y = col(yCol).cast("double")
    // spread: per-row sig9+decimal moment work at cluster width; cut:
    // the O(groups) moment frame has TWO consumers (the totals rollup
    // and the final per-group solve) — uncut, the corpus aggregated
    // THREE times (tot is itself consumed twice)
    val g = Checkpoints.spread(df
        .where(x1.isNotNull && x2.isNotNull && y.isNotNull &&
          col(groupCol).isNotNull)
        .select(col(groupCol), x1.as("__x1"), x2.as("__x2"),
          y.as("__y")))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("long").as("n"),
        Q.dsum(Q.sig9(col("__x1") * col("__x1"))).as("s11"),
        Q.dsum(Q.sig9(col("__x1") * col("__x2"))).as("s12"),
        Q.dsum(Q.sig9(col("__x2") * col("__x2"))).as("s22"),
        Q.dsum(Q.sig9(col("__x1") * col("__y"))).as("sy1"),
        Q.dsum(Q.sig9(col("__x2") * col("__y"))).as("sy2"))
      .transform(Checkpoints.cut) // read twice: the totals and the output
    val tot = g.agg(
      Q.dsumStable(col("s11"), 6).as("t11"),
      Q.dsumStable(col("s12"), 6).as("t12"),
      Q.dsumStable(col("s22"), 6).as("t22"),
      Q.dsumStable(col("sy1"), 6).as("ty1"),
      Q.dsumStable(col("sy2"), 6).as("ty2"))
      .transform(Checkpoints.cut) // one row, read by `full` and the output
    // full-data fit once (same Cramer shape as the per-group solves)
    def solve(a: Column, b: Column, c: Column, r1: Column, r2: Column) = {
      val det = Q.sig9(a * c - b * b)
      (det,
        when(det =!= 0.0, Q.sig9((c * r1 - b * r2) / det)),
        when(det =!= 0.0, Q.sig9((a * r2 - b * r1) / det)))
    }
    val (fdet, fw1, fw2) = solve(
      col("t11") + lit(lambda), col("t12"), col("t22") + lit(lambda),
      col("ty1"), col("ty2"))
    val full = tot.select(fdet.as("__fdet"), fw1.as("w1_full"),
      fw2.as("w2_full"))
    val (ldet, lw1, lw2) = solve(
      col("t11") - col("s11") + lit(lambda), col("t12") - col("s12"),
      col("t22") - col("s22") + lit(lambda),
      col("ty1") - col("sy1"), col("ty2") - col("sy2"))
    g.crossJoin(broadcast(tot)).crossJoin(broadcast(full))
      .select(col(groupCol), col("n"),
        lw1.as("w1_loo"), lw2.as("w2_loo"),
        when(lw1.isNotNull && col("w1_full").isNotNull,
          Q.sig9(sqrt(
            (col("w1_full") - lw1) * (col("w1_full") - lw1) +
            (col("w2_full") - lw2) * (col("w2_full") - lw2))))
          .as("influence"),
        col("w1_full"), col("w2_full"))
  }

  /** Decile lift & cumulative-gains table — the model-targeting
    * readout beside [[auc]] (threshold-free ranking quality) and
    * [[calibration]] (probability faithfulness): rank units by score,
    * cut into `bins` equal-depth bins (decile 1 = highest scores),
    * report each bin's observed positive rate, lift vs the base rate
    * and the cumulative gain ("mail the top 2 deciles, capture X% of
    * converters" — the campaign-targeting contract).
    *
    * Binning is [[Profile.equiDepthBins]]'s tie-stable rank
    * definition (tied scores always share a bin — reproducible where
    * NTILE is not; heavy ties make bin sizes uneven by design, the
    * documented quantize tradeoff). Counts are exact BIGINTs; lift
    * ratios are single sig9'd divisions of exact DECIMAL(38,0)
    * products (the assoc-rules convention), so rates, lifts and
    * gains adjudicate bit-for-bit.
    *
    * Scale shape: one (score)-keyed aggregate + the percentRank
    * binned prefix sums (no global window), then everything lives in
    * one bounded ≤bins-row array for the cumulative fold. Totals are
    * a one-row broadcast.
    *
    * @return per decile (1 = top scores): (decile, n, n_pos,
    *         lo_score, hi_score, pos_rate, lift, cum_n, cum_pos,
    *         gain, cum_lift) — lift/gain NULL when the frame has no
    *         positives */
  def liftTable(df: DataFrame, scoreCol: String, labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 1 && bins <= 10000,
      s"bins must be in [1, 10000], got $bins")
    val rows = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(scoreCol).cast("double").as("s"),
        col(labelCol).cast("long").as("y"))
    val posc = rows.groupBy(col("s"))
      .agg(sum(col("y")).cast("long").as("p"))
    val eb = Profile.equiDepthBins(rows, Seq.empty, "s", bins)
    val perBin = eb.join(posc, Seq("s"))
      .groupBy((lit(bins.toLong) - col("bin")).as("decile"))
      .agg(sum(col("cnt")).cast("long").as("n"),
        sum(col("p")).cast("long").as("n_pos"),
        min(col("s")).as("lo_score"), max(col("s")).as("hi_score"))
    // cumulative fold inside ONE bounded <=bins-row array (decile asc)
    val folded = perBin
      .agg(array_sort(collect_list(struct(col("decile"), col("n"),
        col("n_pos"), col("lo_score"), col("hi_score")))).as("a"))
      .select(explode(transform(col("a"), (x, i) => struct(
        x.getField("decile").as("decile"),
        x.getField("n").as("n"),
        x.getField("n_pos").as("n_pos"),
        x.getField("lo_score").as("lo_score"),
        x.getField("hi_score").as("hi_score"),
        aggregate(slice(col("a"), lit(1), i + 1), lit(0L),
          (acc, b) => acc + b.getField("n")).as("cum_n"),
        aggregate(slice(col("a"), lit(1), i + 1), lit(0L),
          (acc, b) => acc + b.getField("n_pos")).as("cum_pos")))).as("r"))
      .select(col("r.*"))
    val tot = rows.agg(count(lit(1)).cast("long").as("nn"),
      sum(col("y")).cast("long").as("pp"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def ratio(a: Column, b: Column, c: Column, d: Column) =
      Q.sig9((a.cast(dec) * b.cast(dec)).cast("double") /
        (c.cast(dec) * d.cast(dec)).cast("double"))
    folded.crossJoin(broadcast(tot)).select(
      col("decile"), col("n"), col("n_pos"), col("lo_score"),
      col("hi_score"),
      Q.sig9(col("n_pos").cast("double") / col("n").cast("double"))
        .as("pos_rate"),
      when(col("pp") > 0,
        ratio(col("n_pos"), col("nn"), col("n"), col("pp"))).as("lift"),
      col("cum_n"), col("cum_pos"),
      when(col("pp") > 0,
        Q.sig9(col("cum_pos").cast("double") / col("pp").cast("double")))
        .as("gain"),
      when(col("pp") > 0,
        ratio(col("cum_pos"), col("nn"), col("cum_n"), col("pp")))
        .as("cum_lift"))
  }

  /** Score a frame with learned weights: sig9'd probability +
    * the 0.5-threshold decision. */
  def score(df: DataFrame, features: Seq[String], w: Array[Double],
            scoreCol: String = "score"): DataFrame = {
    require(features.size == w.length, "weights/features length mismatch")
    df.withColumn(scoreCol, sigmoid9(zOf(features, w)))
      .withColumn(s"${scoreCol}_pred", col(scoreCol) >= 0.5)
  }

  /** Split-conformal thresholds (Vovk; Angelopoulos & Bates '21
    * tutorial formulation), per group ("Mondrian"/label-conditional
    * when keyed): qhat = the k-th SMALLEST calibration nonconformity
    * score with k = ceil((1−α)(n+1)) — the finite-sample-corrected
    * quantile that guarantees P[s_test <= qhat] >= 1−α under
    * exchangeability. A group whose calibration set is too small
    * (k > n) has no finite threshold: qhat is NULL and everything is
    * covered — the standard degenerate case, surfaced rather than
    * clamped.
    *
    * Exactness: qhat is a DISCRETE order statistic — the VALUE at rank
    * k is tie-order-insensitive, so one per-group sort (`row_number`)
    * yields an engine-identical threshold with no float contract
    * beyond the scores themselves. Scale: the sort runs over the
    * CALIBRATION frame only — split conformal holds calibration to a
    * bounded held-out slice by construction, so the per-group window
    * is the right tool (the corpus-sized side below never sorts).
    *
    * @return (keys…, n_calib, k, qhat) */
  def conformalThresholds(calib: DataFrame, keyCols: Seq[String],
      scoreCol: String, alpha: Double): DataFrame =
    conformalThresholdsImpl(calib, keyCols, scoreCol, alpha)

  /** [[conformalThresholds]] + coverage evaluation against a test
    * frame in one call: the corpus-sized test side only ever joins the
    * bounded per-group threshold row (broadcast) and counts — no sort,
    * no window on the big side.
    *
    * @return (keys…, n_calib, k, qhat, n_test, n_covered, coverage) */
  def conformalCoverage(calib: DataFrame, test: DataFrame,
      keyCols: Seq[String], scoreCol: String,
      alpha: Double): DataFrame = {
    val th = conformalThresholdsImpl(calib, keyCols, scoreCol, alpha)
    val cov = test.join(broadcast(th), keyCols)
      .groupBy(keyCols.map(col): _*)
      .agg(count(col(scoreCol)).as("n_test"),
        sum(when(col("qhat").isNull ||
          col(scoreCol) <= col("qhat"), 1L).otherwise(0L))
          .as("n_covered"))
      .withColumn("coverage",
        col("n_covered").cast("double") / col("n_test").cast("double"))
    th.join(cov, keyCols, "left")
      .select(keyCols.map(col) :+ col("n_calib") :+ col("k") :+
        col("qhat") :+ col("n_test") :+ col("n_covered") :+
        col("coverage"): _*)
  }

  private def conformalThresholdsImpl(calib: DataFrame,
      keyCols: Seq[String], scoreCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val kc = keyCols.map(col)
    val n = calib.groupBy(kc: _*).agg(count(lit(1)).as("n_calib"))
      .withColumn("k", ceil(lit(1.0 - alpha) *
        (col("n_calib") + 1).cast("double")).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(kc: _*).orderBy(col(scoreCol).asc)
    val ranked = calib.withColumn("__rk", row_number().over(w))
    ranked.join(broadcast(n), keyCols)
      .groupBy(kc: _*)
      .agg(first(col("n_calib")).as("n_calib"), first(col("k")).as("k"),
        min(when(col("__rk") === col("k"), col(scoreCol))).as("qhat"))
  }

  /** Multi-class confusion rollup: per-class TP / predicted / actual
    * counts with precision, recall and F1, plus an `__all__` row
    * carrying overall accuracy — the evaluation readout for any
    * (true, predicted) label frame ([[NaiveBayes.predict]] output,
    * a thresholded [[score]], a kNN vote). The classes are the UNION
    * of observed true and predicted labels, so a class the model
    * never predicts still reports its zero precision row.
    *
    * Determinism: pure exact BIGINT counts from one (t, p) hash
    * aggregate (margins re-aggregate the CELL frame — never a second
    * input scan, the mutualInfo posture); precision/recall are single
    * sig9'd divisions and F1 is the sig9'd IEEE combine of the two
    * sig9'd ratios.
    *
    * @return per class + `__all__`: (label, tp, n_pred, n_true,
    *         prec, rec, f1) — ratios NULL on zero denominators */
  /** Cohen's kappa — chance-corrected agreement between two
    * label columns (truth vs prediction, or two annotators): κ =
    * (N·agree − Σ_l n_true(l)·n_pred(l)) / (N² − Σ_l n_true·n_pred).
    * Accuracy alone flatters a classifier on an imbalanced label set
    * (predict-the-majority scores its prevalence); κ subtracts the
    * agreement the margins produce by chance.
    *
    * Scale shape: ONE (t,p)-keyed aggregate collapses the stream to
    * the bounded cell table (the [[confusion]] plan); margins
    * re-aggregate the cells, the chance mass is one bounded
    * margin-keyed equi-join, and the final row is the scalar
    * crossJoin idiom.
    *
    * Determinism: all counts exact BIGINTs, the chance mass and both
    * κ terms exact DECIMAL(38,0) products (N ≤ 10⁹ rows keeps N² and
    * Σ nt·np under 38 digits with room to spare), po/pe single sig9'd
    * IEEE divisions, κ the spearman sig9 chain.
    *
    * @return ONE row: (n, agree, po, pe, kappa) — κ NULL when the
    *         denominator is 0 (all mass in one cell) or n = 0 */
  def kappa(pred: DataFrame, trueCol: String, predCol: String)
      : DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val dec0 = DecimalType(38, 0)
    val cells = pred
      .select(col(trueCol).cast("string").as("t"),
        col(predCol).cast("string").as("p"))
      .where(col("t").isNotNull && col("p").isNotNull)
      .groupBy(col("t"), col("p")).agg(count(lit(1)).as("c"))
      .transform(Checkpoints.cut) // reused: totals + both margins
    val tot = cells.agg(
      coalesce(sum(col("c")), lit(0L)).cast("long").as("n"),
      coalesce(sum(when(col("t") === col("p"), col("c"))
        .otherwise(lit(0L))), lit(0L)).cast("long").as("agree"))
    val nt = cells.groupBy(col("t").as("label"))
      .agg(sum(col("c")).as("n_true"))
    val np = cells.groupBy(col("p").as("label"))
      .agg(sum(col("c")).as("n_pred"))
    val chance = nt.join(np, Seq("label"))
      .agg(coalesce(sum(col("n_true").cast(dec0) * col("n_pred")),
        lit(0L).cast(dec0)).as("s"))
    val num = col("n").cast(dec0) * col("agree") - col("s")
    val den = col("n").cast(dec0) * col("n") - col("s")
    tot.crossJoin(chance)
      .select(col("n"), col("agree"),
        when(col("n") > 0, Q.sig9(
          col("agree").cast(DoubleType) / col("n").cast(DoubleType)))
          .as("po"),
        when(col("n") > 0, Q.sig9(
          col("s").cast(DoubleType) /
            (col("n").cast(DoubleType) * col("n").cast(DoubleType))))
          .as("pe"),
        when(den > 0, Q.sig9(
          Q.sig9(num.cast(DoubleType)) / Q.sig9(den.cast(DoubleType))))
          .as("kappa"))
  }

  def confusion(pred: DataFrame, trueCol: String, predCol: String)
      : DataFrame = {
    val cells = pred
      .select(col(trueCol).cast("string").as("t"),
        col(predCol).cast("string").as("p"))
      .where(col("t").isNotNull && col("p").isNotNull)
      .groupBy(col("t"), col("p")).agg(count(lit(1)).as("c"))
      .transform(Checkpoints.cut) // read 5x: classes (twice), tp, np, nt
    val classes = cells.select(col("t").as("label"))
      .union(cells.select(col("p"))).distinct()
    val tp = cells.where(col("t") === col("p"))
      .select(col("t").as("label"), col("c").as("tp"))
    val np = cells.groupBy(col("p").as("label"))
      .agg(sum(col("c")).as("n_pred"))
    val nt = cells.groupBy(col("t").as("label"))
      .agg(sum(col("c")).as("n_true"))
    val j = classes
      .join(tp, Seq("label"), "left")
      .join(np, Seq("label"), "left")
      .join(nt, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("tp"), lit(0L)).cast("long").as("tp"),
        coalesce(col("n_pred"), lit(0L)).cast("long").as("n_pred"),
        coalesce(col("n_true"), lit(0L)).cast("long").as("n_true"))
    val overall = cells.agg(
      sum(when(col("t") === col("p"), col("c")).otherwise(lit(0L)))
        .as("tp"),
      sum(col("c")).as("n"))
      .select(lit("__all__").as("label"),
        coalesce(col("tp"), lit(0L)).cast("long").as("tp"),
        coalesce(col("n"), lit(0L)).cast("long").as("n_pred"),
        coalesce(col("n"), lit(0L)).cast("long").as("n_true"))
    val prec = when(col("n_pred") > 0,
      Q.sig9(col("tp").cast("double") / col("n_pred").cast("double")))
    val rec = when(col("n_true") > 0,
      Q.sig9(col("tp").cast("double") / col("n_true").cast("double")))
    j.unionByName(overall)
      .withColumn("prec", prec)
      .withColumn("rec", rec)
      .withColumn("f1",
        when(col("prec").isNotNull && col("rec").isNotNull &&
            col("prec") + col("rec") > 0,
          Q.sig9(lit(2.0) * col("prec") * col("rec") /
            (col("prec") + col("rec")))))
  }

  /** Average precision (area under the precision–recall curve, the
    * step-interpolated sklearn definition): AP = Σ_s (ΔR_s)·P_s over
    * distinct scores s descending, with ΔR_s = p_s/P and precision
    * P_s = cumP_s/(cumP_s + cumQ_s) on the ≥s prefix. THE ranking
    * metric when positives are rare (quality filtering, dedup
    * verification, contamination flags — ROC-AUC saturates there).
    *
    * Plan: distinct-score counts, then [[Prefix.below]] — no
    * global-order window at any size. The ≥s cumulatives are
    * totals − exclusive-ascending-prefix (exact integers); each
    * threshold term is one sig9'd IEEE expression of exact integers,
    * summed via dsumStable(6).
    *
    * @return one row: (average_precision, n_pos, n_neg, baseline =
    *         P/(P+Q), the random-classifier AP) */
  def prAuc(df: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    val cum = Prefix.below(scoreCounts(df, scoreCol, labelCol), Nil, "s",
        Seq("p", "q"))
      .withColumnRenamed("tot_p", "pt").withColumnRenamed("tot_q", "qt")
      // positives/negatives at score >= s: total − exclusive prefix
      .withColumn("cp", col("pt") - col("below_p"))
      .withColumn("cq", col("qt") - col("below_q"))
      .withColumn("term", when(col("p") > 0, Q.sig9(
        col("p").cast("double") * col("cp").cast("double")
          / (col("cp") + col("cq")).cast("double")))
        .otherwise(lit(0.0)))
    cum.groupBy(col("pt"), col("qt"))
      .agg(Q.dsumStable(col("term"), 6).as("tsum"))
      .select(
        when(col("pt") > 0,
          Q.sig9(col("tsum") / col("pt").cast("double")))
          .as("average_precision"),
        col("pt").as("n_pos"), col("qt").as("n_neg"),
        when(col("pt") + col("qt") > 0, Q.sig9(
          col("pt").cast("double") /
            (col("pt") + col("qt")).cast("double"))).as("baseline"))
  }

  /** Isotonic calibration of a score against a binary label — the
    * PAV-fit monotone probability map (Zadrozny & Elkan 2002), here
    * computed on BINNED scores via the minimax identity
    * ŷ_i = max_{j≤i} min_{k≥i} (Σ_{l=j..k} pos_l)/(Σ_{l=j..k} n_l),
    * which equals the pool-adjacent-violators solution of the
    * weighted isotonic regression on bin positive-rates (Robertson,
    * Wright & Dykstra 1988, Thm 1.4.4) — PAVA's sequential pooling
    * re-expressed as a bounded declarative reduction.
    *
    * Scale shape: ONE corpus pass bins scores over the observed
    * [min, max] (broadcast one-row bounds, exactly the [[Profile.psi]]
    * convention) into B ≤ 256 (bin, n, pos) rows; the minimax runs on
    * the O(B³) interval frame (B=10 → 1,000 rows) — entirely
    * post-aggregate, never touching the corpus again.
    *
    * Determinism: interval rates are single IEEE divisions of exact
    * integer sums (bit-identical across engines); min/max over
    * identical doubles is order-free; only the emitted fit is sig9'd.
    *
    * @return one row per occupied bin: (bin, n, pos, obs_rate, fit) —
    *         fit nondecreasing in bin */
  def isotonicCalibration(df: DataFrame, scoreCol: String,
      labelCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 1 && bins <= 256,
      s"bins must be in [1, 256], got $bins")
    val s = col(scoreCol).cast("double")
    val y = col(labelCol).cast("long")
    val base = df.where(s.isNotNull && y.isNotNull)
    val mm = base.agg(min(s).as("lo"), max(s).as("hi"))
    val binned = base.select(s.as("s"), y.as("y"))
      .crossJoin(broadcast(mm))
      .withColumn("bin",
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(least(lit((bins - 1).toLong),
            greatest(lit(0L),
              floor((col("s") - col("lo"))
                / ((col("hi") - col("lo")) / bins)).cast("long")))))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("pos"))
    // interval sums over occupied bins: (j, k) × member l, all bounded
    val b1 = binned.select(col("bin").as("j"))
    val b2 = binned.select(col("bin").as("k"))
    val members = binned.select(col("bin").as("l"), col("n").as("ln"),
      col("pos").as("lp"))
    val intervals = b1.crossJoin(broadcast(b2)).where(col("j") <= col("k"))
      .join(broadcast(members),
        col("l") >= col("j") && col("l") <= col("k"))
      .groupBy(col("j"), col("k"))
      .agg((sum(col("lp")).cast("double") / sum(col("ln")).cast("double"))
        .as("rate"))
    // fit_i = max over j<=i of (min over k>=i of rate(j,k))
    val fit = binned.select(col("bin").as("i"))
      .join(broadcast(intervals), col("j") <= col("i") &&
        col("k") >= col("i"))
      .groupBy(col("i"), col("j")).agg(min(col("rate")).as("minr"))
      .groupBy(col("i")).agg(Q.sig9(max(col("minr"))).as("fit"))
    binned.join(broadcast(fit), col("bin") === col("i"))
      .select(col("bin"), col("n"), col("pos"),
        Q.sig9(col("pos").cast("double") / col("n").cast("double"))
          .as("obs_rate"),
        col("fit"))
  }

  /** One row: each feature's observed [min, max] as `__lo_<f>` and
    * `__hi_<f>` — the per-feature bounds the stump learners bin by. */
  private def featureBounds(base: DataFrame,
      features: Seq[String]): DataFrame = {
    val bounds = features.flatMap(f => Seq(
      min(col(f).cast("double")).as(s"__lo_$f"),
      max(col(f).cast("double")).as(s"__hi_$f")))
    base.agg(bounds.head, bounds.tail: _*)
  }

  /** Feature f's equi-width bin in [0, bins) over its
    * [[featureBounds]] columns. */
  private def featureBin(f: String, bins: Int): Column = {
    val x = col(f).cast("double")
    val lo = col(s"__lo_$f"); val hi = col(s"__hi_$f")
    when(hi === lo, lit(0L))
      .otherwise(least(lit((bins - 1).toLong),
        greatest(lit(0L),
          floor((x - lo) / ((hi - lo) / bins)).cast("long"))))
  }

  /** Depth-1 decision-tree (stump) split search over binned numeric
    * features — the exact-Gini candidate table a distributed CART /
    * GBDT trainer evaluates at every node (finding THE split is the
    * per-node primitive; XGBoost's approximate histogram algorithm is
    * exactly this shape).
    *
    * ONE corpus pass stacks the features and bins each over its own
    * observed [min, max] (per-feature bounds ride one broadcast row);
    * a per-(feature, bin) count table (F·B rows) is all the split
    * search needs. Candidate split t for a feature sends bins ≤ t
    * left; Gini gain is computed from exact integer prefix counts
    * folded per feature over the bounded bin list (array fold — no
    * window). The best split carries `is_best = true` (ties resolve
    * to the lexicographically smallest feature, then smallest bin —
    * deterministic).
    *
    * @return one row per candidate split — (feature, split_bin) for
    *         every OCCUPIED bin below the feature's last occupied bin
    *         (splits at empty bins are equivalent to the nearest
    *         occupied one below): left/right counts + positives, gini
    *         gain, is_best */
  def stumpSplits(df: DataFrame, features: Seq[String],
      labelCol: String, bins: Int = 16): DataFrame = {
    require(features.nonEmpty, "need at least one feature")
    require(bins >= 2 && bins <= 256,
      s"bins must be in [2, 256], got $bins")
    val y = col(labelCol).cast("long")
    val base = df.where(y.isNotNull &&
      features.map(f => col(f).cast("double").isNotNull)
        .reduce(_ && _))
    val stacked = base.crossJoin(broadcast(featureBounds(base, features)))
      .select(y.as("y"), array(features.map(f =>
        struct(lit(f).as("feature"), featureBin(f, bins).as("bin"))): _*)
        .as("fb"))
      .select(col("y"), explode(col("fb")).as("e"))
      .groupBy(col("e.feature").as("feature"), col("e.bin").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("pos"))
    val tot = stacked.groupBy(col("feature"))
      .agg(sum(col("n")).cast("long").as("nt"),
        sum(col("pos")).cast("long").as("post"))
    def gini(n: Column, pos: Column): Column = {
      val p = pos.cast("double") / n.cast("double")
      lit(1.0) - p * p - (lit(1.0) - p) * (lit(1.0) - p)
    }
    // prefix counts per feature over the bounded sorted bin list
    val withCum = stacked.join(broadcast(tot), Seq("feature"))
      .groupBy(col("feature"), col("nt"), col("post"))
      .agg(array_sort(collect_list(struct(col("bin"), col("n"),
        col("pos")))).as("arr"))
      .select(col("feature"), col("nt"), col("post"),
        explode(expr(
          """aggregate(arr,
            |  struct(CAST(0 AS BIGINT) AS cn, CAST(0 AS BIGINT) AS cp,
            |         CAST(array() AS ARRAY<STRUCT<bin: BIGINT,
            |           cn: BIGINT, cp: BIGINT>>) AS out),
            |  (a, e) -> struct(a.cn + e.n AS cn, a.cp + e.pos AS cp,
            |    array_append(a.out, struct(e.bin AS bin,
            |      a.cn + e.n AS cn, a.cp + e.pos AS cp)) AS out),
            |  a -> a.out)""".stripMargin)).as("c"))
      .select(col("feature"), col("nt"), col("post"),
        col("c.bin").as("split_bin"), col("c.cn").as("left_n"),
        col("c.cp").as("left_pos"))
      .where(col("split_bin") < lit((bins - 1).toLong) &&
        col("left_n") > 0 && col("left_n") < col("nt"))
    val rn = col("nt") - col("left_n")
    val rp = col("post") - col("left_pos")
    val gain = gini(col("nt"), col("post")) -
      (col("left_n").cast("double") / col("nt").cast("double")) *
        gini(col("left_n"), col("left_pos")) -
      (rn.cast("double") / col("nt").cast("double")) * gini(rn, rp)
    val scored = withCum.select(col("feature"), col("split_bin"),
      col("left_n"), col("left_pos"), rn.as("right_n"),
      rp.as("right_pos"), Q.sig9(gain).as("gain"))
    // deterministic argmax: max gain (sig9'd, so equal gains compare
    // equal), ties to the lexicographically smallest (feature, bin)
    val maxg = scored.agg(max(col("gain")).as("mg"))
    val best = scored.crossJoin(broadcast(maxg))
      .where(col("gain") === col("mg"))
      .agg(min(struct(col("feature").as("feature"),
        col("split_bin").as("split_bin"))).as("b"))
    scored.crossJoin(broadcast(best))
      .withColumn("is_best", col("feature") === col("b.feature") &&
        col("split_bin") === col("b.split_bin"))
      .drop("b")
  }

  /** K-fold cross-validated ridge regression from sufficient
    * statistics — the entire (fold × λ) model-selection grid from ONE
    * corpus scan. The trick: ridge on two features needs only the six
    * moments (n, Σx1², Σx1x2, Σx2², Σx1y, Σx2y) plus Σy² for the
    * error, and moments are ADDITIVE — so per-fold EXACT DECIMAL
    * moment rows give every fold's TRAIN moments by subtraction
    * (total − fold) and every fold's TEST SSE in closed form:
    * SSE_f = Σ_f(y − w·x)² = syy_f − 2w₁sy1_f − 2w₂sy2_f + w₁²s11_f +
    * 2w₁w₂s12_f + w₂²s22_f. No per-fold scan, no shuffle of the
    * corpus beyond one k-row aggregate — at 100 TB, k-fold CV costs
    * exactly one pass.
    *
    * Fold assignment is the portable salted hash of `keyCol`
    * (deterministic, join-free); moments accumulate in DECIMAL(38,15)
    * (exact, order-free — fold sums add EXACTLY to the total, which
    * the subtraction needs); each train moment is sig9'd once on
    * entering the double-precision solve (the [[ridgeFit]] chain).
    * `cv_mse` is NULL unless every fold solved (det ≠ 0); `is_best`
    * marks the minimal cv_mse, ties to the smallest λ.
    *
    * @return one row per λ: (lambda, n, cv_mse, w1_full, w2_full,
    *         is_best) — w*_full re-fit on ALL rows at that λ */
  def ridgeCv(df: DataFrame, keyCol: String, x1Col: String,
      x2Col: String, yCol: String, lambdas: Seq[Double],
      folds: Int = 5, salt: String = "rcv"): DataFrame = {
    require(lambdas.nonEmpty, "need at least one lambda")
    require(folds >= 2 && folds <= 64,
      s"folds must be in [2, 64], got $folds")
    val dec = org.apache.spark.sql.types.DecimalType(38, 15)
    val x1 = col(x1Col).cast("double")
    val x2 = col(x2Col).cast("double")
    val y = col(yCol).cast("double")
    def d15(c: Column): Column = c.cast(dec)
    val fm = df
      .where(x1.isNotNull && x2.isNotNull && y.isNotNull &&
        col(keyCol).isNotNull)
      .select(pmod(graft.ext.Hashing.hash60(
          concat(lit(s"$salt:"), col(keyCol).cast("string"))),
        lit(folds.toLong)).as("fold"),
        x1.as("x1"), x2.as("x2"), y.as("y"))
      // spread: the per-row md5 fold draw + 6 decimal moments run in
      // the partial aggregate — cluster width, not scan-split width
      .transform(Checkpoints.spread)
      .groupBy(col("fold"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(d15(col("x1") * col("x1"))).as("s11"),
        sum(d15(col("x1") * col("x2"))).as("s12"),
        sum(d15(col("x2") * col("x2"))).as("s22"),
        sum(d15(col("x1") * col("y"))).as("sy1"),
        sum(d15(col("x2") * col("y"))).as("sy2"),
        sum(d15(col("y") * col("y"))).as("syy"))
      // folds-row frame with TWO consumers (the totals rollup and the
      // (fold, lambda) grid) — cut it or the corpus aggregates twice
      .transform(Checkpoints.cut)
    val tot = fm.agg(sum(col("n")).cast("long").as("nt"),
      sum(col("s11")).as("t11"), sum(col("s12")).as("t12"),
      sum(col("s22")).as("t22"), sum(col("sy1")).as("ty1"),
      sum(col("sy2")).as("ty2"), sum(col("syy")).as("tyy"))
    val lamRows = lambdas.map(l => struct(lit(l).as("lambda")))
    // per (fold, lambda): train = total − fold, solve, closed-form SSE
    val grid = fm.crossJoin(broadcast(tot))
      .select(col("*"), explode(array(lamRows: _*)).as("lam"))
      .select(col("*"), col("lam.lambda").as("lambda")).drop("lam")
    def tr(t: String, f: String) = Q.sig9((col(t) - col(f)).cast("double"))
    def fo(f: String) = Q.sig9(col(f).cast("double"))
    val a = tr("t11", "s11") + col("lambda")
    val c = tr("t22", "s22") + col("lambda")
    val s12t = tr("t12", "s12")
    val det = Q.sig9(a * c - s12t * s12t)
    val solved = grid
      .withColumn("det", det)
      .withColumn("w1", when(col("det") =!= 0.0,
        Q.sig9((c * tr("ty1", "sy1") - s12t * tr("ty2", "sy2"))
          / col("det"))))
      .withColumn("w2", when(col("det") =!= 0.0,
        Q.sig9((a * tr("ty2", "sy2") - s12t * tr("ty1", "sy1"))
          / col("det"))))
      .withColumn("sse", Q.sig9(
        fo("syy") - lit(2.0) * col("w1") * fo("sy1")
          - lit(2.0) * col("w2") * fo("sy2")
          + col("w1") * col("w1") * fo("s11")
          + lit(2.0) * (col("w1") * col("w2")) * fo("s12")
          + col("w2") * col("w2") * fo("s22")))
    val perLambda = solved.groupBy(col("lambda"), col("nt"))
      .agg(count(col("sse")).cast("long").as("n_solved"),
        Q.dsumStable(col("sse"), 6).as("sse_sum"))
      .withColumn("cv_mse", when(col("n_solved") === folds.toLong,
        Q.sig9(col("sse_sum") / col("nt").cast("double"))))
    // full-data refit per lambda (from the exact totals)
    val full = tot
      .select(col("*"), explode(array(lamRows: _*)).as("lam"))
      .select(col("lam.lambda").as("lambda"),
        (Q.sig9(col("t11").cast("double")) + col("lam.lambda"))
          .as("af"),
        (Q.sig9(col("t22").cast("double")) + col("lam.lambda"))
          .as("cf"),
        Q.sig9(col("t12").cast("double")).as("s12f"),
        Q.sig9(col("ty1").cast("double")).as("ty1d"),
        Q.sig9(col("ty2").cast("double")).as("ty2d"))
      .withColumn("detf",
        Q.sig9(col("af") * col("cf") - col("s12f") * col("s12f")))
      .select(col("lambda"),
        when(col("detf") =!= 0.0, Q.sig9(
          (col("cf") * col("ty1d") - col("s12f") * col("ty2d"))
            / col("detf"))).as("w1_full"),
        when(col("detf") =!= 0.0, Q.sig9(
          (col("af") * col("ty2d") - col("s12f") * col("ty1d"))
            / col("detf"))).as("w2_full"))
    val joined = perLambda.join(broadcast(full), Seq("lambda"))
    // deterministic argmin: min cv_mse (sig9'd, equal values compare
    // equal), ties to the smallest lambda — the stumpSplits pattern
    val best = joined.where(col("cv_mse").isNotNull)
      .agg(min(col("cv_mse")).as("mmse"))
    val bestLam = joined.crossJoin(broadcast(best))
      .where(col("cv_mse") === col("mmse"))
      .agg(min(col("lambda")).as("blam"))
    joined.crossJoin(broadcast(bestLam))
      .withColumn("is_best",
        coalesce(col("lambda") === col("blam"), lit(false)))
      .select(col("lambda"), col("nt").as("n"), col("cv_mse"),
        col("w1_full"), col("w2_full"), col("is_best"))
  }

  /** Huber-loss robust simple regression y ~ a + b·x by IRLS
    * (Huber 1964; weights w = min(1, δ/|r|)) — the outlier-resistant
    * twin of [[ridgeFit]] for fitting trends on corrupted feeds where
    * OLS chases the garbage rows.
    *
    * Init = OLS from exact decimal moments; each of `iters` reweighted
    * passes is ONE map-side-combined aggregate (5 weighted moments)
    * over rows joined to the previous fit's one-row broadcast — the
    * [[logisticTrain]] iteration shape, k+1 corpus scans total,
    * nothing sequential but the iterations themselves.
    *
    * Determinism: coefficients are sig9'd after every solve, residuals
    * and weights are fixed IEEE expressions of sig9'd coefficients,
    * and every weighted moment accumulates via [[Q.dsum]] — so the
    * whole IRLS trajectory is engine- and partitioning-identical.
    *
    * @return one row: (a, b, a_ols, b_ols, n, delta, iters) */
  def huberFit(df: DataFrame, xCol: String, yCol: String,
      delta: Double, iters: Int = 3): DataFrame = {
    require(delta > 0, s"delta must be > 0, got $delta")
    require(iters >= 1 && iters <= 16,
      s"iters must be in [1, 16], got $iters")
    val x = col(xCol).cast("double")
    val yc = col(yCol).cast("double")
    // ONE cluster-width materialization of the narrow (x, y) pairs:
    // the OLS init, every IRLS pass and the final report each
    // re-aggregate this frame (iters + 2 consumers), and the
    // decimal-moment work per pass must run at cluster width, not at
    // the width of a small scan (guide §2.6; measured 4 x 2.3 s
    // passes on 3 of 32 cores at sf0.1 before the spread)
    val base = Checkpoints.spreadCut(df.where(x.isNotNull && yc.isNotNull)
      .select(x.as("x"), yc.as("y")))
    def solve(m: DataFrame): DataFrame = {
      val num = Q.sig9(col("sw") * col("swxy") - col("swx") * col("swy"))
      val den = Q.sig9(col("sw") * col("swxx") - col("swx") * col("swx"))
      m.select(col("n"),
          when(den =!= 0.0, Q.sig9(num / den)).as("b"), col("sw"),
          col("swx"), col("swy"), den.as("den"))
        .select(col("n"), col("b"),
          when(col("den") =!= 0.0,
            Q.sig9((col("swy") - col("b") * col("swx")) / col("sw")))
            .as("a"))
    }
    // one-row frame, two consumers (iteration 1's broadcast and the
    // final a_ols/b_ols report): cut it or the report re-runs the
    // whole OLS aggregate a second time
    val ols = solve(base.agg(count(lit(1)).cast("long").as("n"),
      Q.dsum(lit(1.0)).as("sw"), Q.dsum(col("x")).as("swx"),
      Q.dsum(col("x") * col("x")).as("swxx"),
      Q.dsum(col("y")).as("swy"),
      Q.dsum(col("x") * col("y")).as("swxy"))).transform(Checkpoints.cut)
    var fit = ols
    for (_ <- 1 to iters) {
      val r = col("y") - (col("a") + col("b") * col("x"))
      val w = when(abs(r) <= lit(delta), lit(1.0))
        .otherwise(lit(delta) / abs(r))
      fit = solve(base.crossJoin(broadcast(fit.select(col("a"), col("b"))))
        .withColumn("w", w)
        .agg(count(lit(1)).cast("long").as("n"),
          Q.dsum(col("w")).as("sw"),
          Q.dsum(col("w") * col("x")).as("swx"),
          Q.dsum(col("w") * col("x") * col("x")).as("swxx"),
          Q.dsum(col("w") * col("y")).as("swy"),
          Q.dsum(col("w") * col("x") * col("y")).as("swxy")))
    }
    fit.crossJoin(broadcast(ols.select(col("a").as("a_ols"),
        col("b").as("b_ols"))))
      .select(col("a"), col("b"), col("a_ols"), col("b_ols"), col("n"),
        lit(delta).as("delta"), lit(iters.toLong).as("iters"))
  }

  /** AdaBoost over binned decision stumps (Freund & Schapire, JCSS
    * 1997), with the ENTIRE boosting loop running on the bounded
    * bin-cell table: a round's weight update is a function only of a
    * row's (bin vector, label) cell, so after ONE corpus scan
    * collapses the data to <= bins^F * 2 cells, every round — weighted
    * stump search, weight update, ensemble train error — is bounded
    * math on that frame. T rounds of boosting at 100 TB cost exactly
    * one pass; nothing per-round touches the corpus.
    *
    * Determinism (cross-engine trajectory contract): weighted errors
    * accumulate per-cell products in exact decimal and emerge as one
    * sig9'd division; the weight multiplier uses the sqrt identity
    * exp(+-alpha) = rho^{+-1}, rho = sqrt((1-err)/err) — sqrt,
    * multiply and divide are all correctly-rounded IEEE, so the whole
    * weight/margin chain is bit-identical without any libm term; the
    * ensemble's sign test compares the margin PRODUCT against 1
    * (equivalent to sign(sum alpha_t h_t) but exp-free; exact-1 ties
    * predict 0 on both engines). alpha itself is reported via one
    * sig9'd ln. err is clamped to [1e-9, 1 - 1e-9] before the rho so
    * a perfect stump cannot produce an infinite weight.
    *
    * Candidate argmin is deterministic: minimal sig9'd error, ties to
    * the lexicographically smallest "feature|split|polarity" key.
    * Polarity "gt" predicts 1 when bin > split, "le" when bin <= split.
    *
    * @return one row per round: (round, feature, split_bin, polarity,
    *         err, alpha, ens_err) — ens_err is the ensemble's train
    *         error AFTER that round (the full trajectory, adjudicable
    *         term by term) */
  def adaboostStumps(df: DataFrame, features: Seq[String],
      labelCol: String, rounds: Int, bins: Int = 8): DataFrame = {
    require(features.nonEmpty, "adaboostStumps: need at least one feature")
    require(rounds >= 1 && rounds <= 8,
      s"rounds must be in [1, 8], got $rounds")
    require(bins >= 2 && bins <= 64, s"bins must be in [2, 64], got $bins")
    val spark = df.sparkSession
    val y = col(labelCol).cast("long")
    val base = df.where(y.isNotNull &&
      features.map(f => col(f).cast("double").isNotNull).reduce(_ && _))
    // ONE corpus scan -> the bounded cell table the loop runs on
    var cells = base.crossJoin(broadcast(featureBounds(base, features)))
      .select(features.map(f => featureBin(f, bins).as(s"__b_$f")) :+
        y.as("__y"): _*)
      .groupBy(features.map(f => col(s"__b_$f")) :+ col("__y"): _*)
      .agg(count(lit(1)).as("__n"))
      .withColumn("__w", lit(1.0))
      .withColumn("__m", lit(1.0))
      .transform(Checkpoints.cut)
    val splits = spark.range(1).select(
        explode(array(features.map(lit(_)): _*)).as("__feature"))
      .select(col("__feature"),
        explode(sequence(lit(0L), lit((bins - 2).toLong))).as("__s"))
      .select(col("__feature"), col("__s"),
        explode(array(lit("gt"), lit("le"))).as("__pol"))
    def binFor(feature: Column) = features.map(f =>
      when(feature === f, col(s"__b_$f"))).reduce(coalesce(_, _))
    def hOf(feature: Column, s: Column, pol: Column) =
      when(pol === "gt", (binFor(feature) > s).cast("long"))
        .otherwise((binFor(feature) <= s).cast("long"))
    val out = (1 to rounds).map { t =>
      val wtot = cells.agg(
        Q.dsumStable(col("__w") * col("__n").cast("double"), 6).as("__wt"))
      val cand = cells.crossJoin(broadcast(splits))
        .withColumn("__h", hOf(col("__feature"), col("__s"), col("__pol")))
        .groupBy(col("__feature"), col("__s"), col("__pol"))
        .agg(Q.dsumStable(when(col("__h") =!= col("__y"),
          col("__w") * col("__n").cast("double")).otherwise(lit(0.0)), 6)
          .as("__we"))
        .crossJoin(broadcast(wtot))
        .withColumn("__err", Q.sig9(col("__we") / col("__wt")))
        .withColumn("__k", concat(col("__feature"), lit("|"),
          lpad(col("__s").cast("string"), 2, "0"), lit("|"), col("__pol")))
      val minErr = cand.agg(min(col("__err")).as("__me"))
      val bestKey = cand.crossJoin(broadcast(minErr))
        .where(col("__err") === col("__me"))
        .agg(min(col("__k")).as("__bk"))
      val errc = least(greatest(col("__err"), lit(1e-9)),
        lit(1.0) - lit(1e-9))
      val best = cand.crossJoin(broadcast(bestKey))
        .where(col("__k") === col("__bk"))
        .select(col("__feature").as("__bf"), col("__s").as("__bs"),
          col("__pol").as("__bp"), col("__err").as("__berr"),
          sqrt((lit(1.0) - errc) / errc).as("__rho"),
          Q.sig9(lit(0.5) * log((lit(1.0) - errc) / errc)).as("__alpha"))
      val updated = cells.crossJoin(broadcast(best))
        .withColumn("__h", hOf(col("__bf"), col("__bs"), col("__bp")))
        .withColumn("__w", when(col("__h") === col("__y"),
          col("__w") / col("__rho")).otherwise(col("__w") * col("__rho")))
        .withColumn("__m", when(col("__h") === 1L,
          col("__m") * col("__rho")).otherwise(col("__m") / col("__rho")))
        .drop("__bf", "__bs", "__bp", "__berr", "__rho", "__alpha", "__h")
      // Z-normalize (the standard AdaBoost step): unnormalized weights
      // shrink geometrically and would round to zero inside the
      // fixed-scale decimal sums within a few rounds
      val z = updated.agg(
        Q.dsum(col("__w") * col("__n").cast("double")).as("__z"))
      // checkpoint the bounded frame: every downstream consumer (the
      // next round's candidate grid, z, ens) re-reads ~bins^F rows
      // instead of re-deriving the whole prior-round DAG — the corpus
      // is scanned exactly once, at cells0
      cells = updated.crossJoin(broadcast(z))
        .withColumn("__w", col("__w") / col("__z"))
        .drop("__z")
        .transform(Checkpoints.cut)
      val ens = cells.agg(Q.sig9(
        sum(when((col("__m") > 1.0).cast("long") =!= col("__y"),
          col("__n")).otherwise(lit(0L))).cast("double") /
          sum(col("__n")).cast("double")).as("ens_err"))
      best.crossJoin(broadcast(ens))
        .select(lit(t.toLong).as("round"), col("__bf").as("feature"),
          col("__bs").as("split_bin"), col("__bp").as("polarity"),
          col("__berr").as("err"), col("__alpha").as("alpha"),
          col("ens_err"))
    }
    out.reduce(_ unionByName _)
  }

  /** Least-squares gradient boosting over binned stumps (Friedman 2001
    * §4.4, "LS_Boost", with shrinkage): T rounds of fitting a depth-1
    * regression stump to the current residuals, each leaf taking the
    * mean residual of its side, predictions advancing by lr * leaf.
    *
    * Same scale contract as [[adaboostStumps]]: the prediction F(x) is
    * a function of the BIN VECTOR only, so after ONE corpus scan to
    * the bounded cell table (bin vector, n, sum y, sum y^2) every
    * round is closed-form cell arithmetic — residual sums per cell are
    * sy - n*F_cell, split search is a broadcast candidate grid with
    * exact-decimal side sums, and train MSE falls out of (sy2 -
    * 2*F*sy + n*F^2) without ever revisiting a row. The label never
    * needs to be carried per-row because squared loss only needs the
    * first two label moments per cell.
    *
    * Determinism: sy/sy2/side sums ride [[Q.dsumStable]]; leaf values
    * and gains are sig9'd; the F chain is plain double arithmetic over
    * sig9'd increments (IEEE-identical across engines). Split tie-break
    * is the deterministic min key at max gain. Label magnitude must
    * keep |y^2| * 10^6 under 15 digits (|y| <= ~3e4) — the dsumStable
    * scale contract.
    *
    * @return one row per round: round, feature, split_bin, gain,
    *         gamma_le, gamma_gt, mse (train MSE after the round) */
  def gbmStumps(df: DataFrame, features: Seq[String], labelCol: String,
      rounds: Int, bins: Int = 8, lr: Double = 0.5): DataFrame = {
    require(features.nonEmpty, "gbmStumps: need at least one feature")
    require(rounds >= 1 && rounds <= 8,
      s"rounds must be in [1, 8], got $rounds")
    require(bins >= 2 && bins <= 64, s"bins must be in [2, 64], got $bins")
    require(lr > 0 && lr <= 1, s"lr must be in (0, 1], got $lr")
    val y = col(labelCol).cast("double")
    val base = df.where(y.isNotNull &&
      features.map(f => col(f).cast("double").isNotNull).reduce(_ && _))
    // ONE corpus scan -> bounded (bin vector, n, sy, sy2) cell table
    var cells = base.crossJoin(broadcast(featureBounds(base, features)))
      .select(features.map(f => featureBin(f, bins).as(s"__b_$f")) :+
        y.as("__yv"): _*)
      .groupBy(features.map(f => col(s"__b_$f")): _*)
      .agg(count(lit(1)).as("__n"),
        Q.dsumStable(col("__yv"), 6).as("__sy"),
        Q.dsumStable(col("__yv") * col("__yv"), 6).as("__sy2"))
      .transform(Checkpoints.cut) // read twice: f0 and the crossJoin below
    val f0 = cells.agg(Q.dsumStable(col("__sy"), 6).as("__ssy"),
        sum(col("__n")).as("__nn"))
      .select(Q.sig9(col("__ssy") / col("__nn").cast("double")).as("__f0"))
    cells = cells.crossJoin(broadcast(f0))
      .withColumn("__f", col("__f0")).drop("__f0").transform(Checkpoints.cut)
    val spark = df.sparkSession
    val splits = spark.range(1).select(
        explode(array(features.map(lit(_)): _*)).as("__feature"))
      .select(col("__feature"),
        explode(sequence(lit(0L), lit((bins - 2).toLong))).as("__s"))
    def binFor(feature: Column) = features.map(f =>
      when(feature === f, col(s"__b_$f"))).reduce(coalesce(_, _))
    val out = (1 to rounds).map { t =>
      val cand = cells.crossJoin(broadcast(splits))
        .withColumn("__le", binFor(col("__feature")) <= col("__s"))
        .withColumn("__rs",
          col("__sy") - col("__n").cast("double") * col("__f"))
        .groupBy(col("__feature"), col("__s"))
        .agg(
          coalesce(Q.dsumStable(when(col("__le"), col("__rs"))
            .otherwise(lit(0.0)), 6), lit(0.0)).as("__rsle"),
          sum(when(col("__le"), col("__n")).otherwise(lit(0L)))
            .cast("long").as("__nle"),
          coalesce(Q.dsumStable(when(!col("__le"), col("__rs"))
            .otherwise(lit(0.0)), 6), lit(0.0)).as("__rsgt"),
          sum(when(!col("__le"), col("__n")).otherwise(lit(0L)))
            .cast("long").as("__ngt"))
        .withColumn("__gain", Q.sig9(
          when(col("__nle") > 0L, col("__rsle") * col("__rsle") /
            col("__nle").cast("double")).otherwise(lit(0.0)) +
          when(col("__ngt") > 0L, col("__rsgt") * col("__rsgt") /
            col("__ngt").cast("double")).otherwise(lit(0.0)) -
          (col("__rsle") + col("__rsgt")) * (col("__rsle") + col("__rsgt"))
            / (col("__nle") + col("__ngt")).cast("double")))
        .withColumn("__k", concat(col("__feature"), lit("|"),
          lpad(col("__s").cast("string"), 2, "0")))
      val maxGain = cand.agg(max(col("__gain")).as("__mg"))
      val bestKey = cand.crossJoin(broadcast(maxGain))
        .where(col("__gain") === col("__mg"))
        .agg(min(col("__k")).as("__bk"))
      val best = cand.crossJoin(broadcast(bestKey))
        .where(col("__k") === col("__bk"))
        .select(col("__feature").as("__bf"), col("__s").as("__bs"),
          col("__gain").as("__bgain"),
          when(col("__nle") > 0L, Q.sig9(col("__rsle") /
            col("__nle").cast("double"))).otherwise(lit(0.0)).as("__gle"),
          when(col("__ngt") > 0L, Q.sig9(col("__rsgt") /
            col("__ngt").cast("double"))).otherwise(lit(0.0)).as("__ggt"))
      cells = cells.crossJoin(broadcast(best))
        .withColumn("__f", col("__f") + lit(lr) *
          when(binFor(col("__bf")) <= col("__bs"), col("__gle"))
            .otherwise(col("__ggt")))
        .drop("__bf", "__bs", "__bgain", "__gle", "__ggt")
        .transform(Checkpoints.cut)
      val mse = cells.agg(
          Q.dsumStable(col("__sy2") - lit(2.0) * col("__f") * col("__sy") +
            col("__n").cast("double") * col("__f") * col("__f"), 6)
            .as("__sse"),
          sum(col("__n")).as("__nn"))
        .select(Q.sig9(col("__sse") / col("__nn").cast("double"))
          .as("mse"))
      best.crossJoin(broadcast(mse))
        .select(lit(t.toLong).as("round"), col("__bf").as("feature"),
          col("__bs").as("split_bin"), col("__bgain").as("gain"),
          col("__gle").as("gamma_le"), col("__ggt").as("gamma_gt"),
          col("mse"))
    }
    out.reduce(_ unionByName _)
  }
}
