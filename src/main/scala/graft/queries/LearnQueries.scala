package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Shared, Tables}
import graft.ext.{Checkpoints, Classifier, Hashing}
import Q._

/** In-engine model training under the DuckDB oracle: full-batch
  * logistic regression ([[graft.ext.Classifier]]). The oracle
  * re-derives the ENTIRE training trajectory — every gradient sum and
  * weight update across all iterations, generated programmatically as
  * one CTE chain — so the adjudication covers training, not just a
  * frozen scoring pass. Possible because the trajectory is
  * deterministic by construction: sig9'd sigmoids, DECIMAL gradient
  * sums, fixed IEEE update expressions (see Classifier's scaladoc).
  */
object LearnQueries {
  type QFn = (SparkSession, String) => DataFrame

  private val feats = Seq("f1", "f2", "f3")
  private val lrRate = 0.5
  private val iters = 3

  /** Weak-label quality-classifier shape over `documents`: predict
    * lang == 'en' from (scaled length, scaled token count, bias). */
  private val logisticQ: QFn = (s, d) => {
    val toks = Hashing.tokens(col("text"))
    val f = Tables.documents(s, d).select(col("doc_id"),
      (col("n_chars").cast("double") / 1000.0).as("f1"),
      (size(toks).cast("double") / 100.0).as("f2"),
      lit(1.0).as("f3"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
    val w = Classifier.logisticTrain(f, feats, "y", iters, lrRate)
    Classifier.score(f, feats, w)
      .select(col("doc_id"), col("score"), col("score_pred").as("pred"))
  }

  private def sigmoid(z: String) = sqlSig9(s"1.0 / (1.0 + exp(-($z)))")
  // z against the weight columns of CTE w{i}: matches the Spark
  // side's left-to-right fold f1*w1 + f2*w2 + f3*w3
  private def zExpr(wcte: String) = feats.zipWithIndex
    .map { case (f, j) => s"$f * $wcte.a${j + 1}" }.mkString(" + ")

  /** Documents -> (doc_id, f1..f3, y) feature CTE — shared by every
    * learn-family oracle. */
  private val featureCte =
    """  SELECT doc_id,
      |    CAST(n_chars AS DOUBLE) / 1000.0 AS f1,
      |    CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
      |      AS DOUBLE) / 100.0 AS f2,
      |    1.0 AS f3,
      |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
      |  FROM documents""".stripMargin

  /** The GD training trajectory as CTEs (n, w0..w{iters}) over
    * training CTE `trainSrc`, plus a final `sc` CTE scoring
    * `scoreSrc` — ONE generator shared by the logistic, calibration
    * and pipeline-5 oracles so no two rows can disagree on what
    * training computes. */
  private def trajectoryCtes(trainSrc: String, scoreSrc: String): String = {
    val w0 = feats.indices.map(j => s"0.0 AS a${j + 1}").mkString(", ")
    val rounds = (1 to iters).map { i =>
      val prev = s"w${i - 1}"
      val err = s"(${sigmoid(zExpr(prev))} - y)"
      val gs = feats.zipWithIndex.map { case (f, j) =>
        s"${sqlDsum(s"$err * $f")} AS g${j + 1}"
      }.mkString(",\n    ")
      val ws = feats.indices.map { j =>
        s"$prev.a${j + 1} - $lrRate * g${j + 1} / n.n AS a${j + 1}"
      }.mkString(",\n    ")
      s"""g$i AS (
         |  SELECT $gs
         |  FROM $trainSrc CROSS JOIN $prev),
         |w$i AS (
         |  SELECT $ws
         |  FROM $prev CROSS JOIN g$i CROSS JOIN n)""".stripMargin
    }.mkString(",\n")
    s"""n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM $trainSrc),
       |w0 AS (SELECT $w0),
       |$rounds,
       |sc AS (
       |  SELECT $scoreSrc.doc_id, $scoreSrc.y,
       |    ${sigmoid(zExpr(s"w$iters"))} AS score
       |  FROM $scoreSrc CROSS JOIN w$iters)""".stripMargin
  }

  private val logisticCtes =
    s"""f AS (
       |$featureCte),
       |${trajectoryCtes("f", "f")}""".stripMargin

  private val logisticSql =
    s"""WITH $logisticCtes
       |SELECT doc_id, score, score >= 0.5 AS pred FROM sc""".stripMargin

  // ===== closed-form ridge regression =================================

  /** [[graft.ext.Classifier.ridgeFit]] at λ = 0.1 on the linreg
    * feature shape — one aggregate pass instead of a GD trajectory;
    * the oracle mirrors the five sig9'd-product decimal sums and the
    * Cramer solve chain. */
  private val ridgeLambda = 0.1

  private val ridgeQ: QFn = (s, d) =>
    Classifier.ridgeFit(
      Tables.lineitem(s, d).select(
        (col("l_quantity").cast("double") / 50.0).as("x1"),
        lit(1.0).as("x2"),
        (col("l_extendedprice").cast("double") / 100000.0).as("y")),
      "x1", "x2", "y", lambda = ridgeLambda)

  private val ridgeSql = {
    val a = s"(s11 + CAST($ridgeLambda AS DOUBLE))"
    val c = s"(s22 + CAST($ridgeLambda AS DOUBLE))"
    s"""WITH f AS (
       |  SELECT CAST(l_quantity AS DOUBLE) / 50.0 AS x1,
       |    CAST(1.0 AS DOUBLE) AS x2,
       |    CAST(l_extendedprice AS DOUBLE) / 100000.0 AS y
       |  FROM lineitem
       |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
       |g AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    ${sqlDsum(sqlSig9("x1 * x1"))} AS s11,
       |    ${sqlDsum(sqlSig9("x1 * x2"))} AS s12,
       |    ${sqlDsum(sqlSig9("x2 * x2"))} AS s22,
       |    ${sqlDsum(sqlSig9("x1 * y"))} AS sy1,
       |    ${sqlDsum(sqlSig9("x2 * y"))} AS sy2
       |  FROM f),
       |e AS (
       |  SELECT *, ${sqlSig9(s"$a * $c - s12 * s12")} AS det FROM g)
       |SELECT
       |  CASE WHEN det <> 0 THEN ${sqlSig9(
            s"($c * sy1 - s12 * sy2) / det")} END AS w1,
       |  CASE WHEN det <> 0 THEN ${sqlSig9(
            s"($a * sy2 - s12 * sy1) / det")} END AS w2,
       |  det, n, CAST($ridgeLambda AS DOUBLE) AS lambda
       |FROM e""".stripMargin
  }

  // ===== decile lift & cumulative gains ================================

  /** [[graft.ext.Classifier.liftTable]] over the same trained logistic
    * scores as `q_x_logistic` — the campaign-targeting readout. The
    * oracle re-derives the full training trajectory (shared
    * `trajectoryCtes`), then mirrors the tie-stable rank binning and
    * every sig9'd exact-product ratio. */
  private val liftQ: QFn = (s, d) => {
    val toks = Hashing.tokens(col("text"))
    val f = Tables.documents(s, d).select(col("doc_id"),
      (col("n_chars").cast("double") / 1000.0).as("f1"),
      (size(toks).cast("double") / 100.0).as("f2"),
      lit(1.0).as("f3"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
    val w = Classifier.logisticTrain(f, feats, "y", iters, lrRate)
    Classifier.liftTable(Classifier.score(f, feats, w), "score", "y",
      bins = 10)
  }

  private val liftSql = {
    def prodRatio(a: String, b: String, c: String, d: String) = sqlSig9(
      s"CAST(CAST($a AS DECIMAL(38,0)) * $b AS DOUBLE) / " +
        s"CAST(CAST($c AS DECIMAL(38,0)) * $d AS DOUBLE)")
    s"""WITH $logisticCtes,
       |vc AS (
       |  SELECT score AS s, CAST(count(*) AS BIGINT) AS c,
       |    CAST(COALESCE(sum(CAST(y AS BIGINT)), 0) AS BIGINT) AS p
       |  FROM sc GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS nn,
       |  CAST(sum(p) AS BIGINT) AS pp FROM vc),
       |nb AS (
       |  SELECT s, c, p,
       |    CAST(COALESCE(sum(c) OVER (ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS n_below
       |  FROM vc),
       |bb AS (
       |  SELECT s, c, p,
       |    CAST(least(9, (nb.n_below * 10) // tot.nn) AS BIGINT) AS bin
       |  FROM nb CROSS JOIN tot),
       |pb AS (
       |  SELECT CAST(10 - bin AS BIGINT) AS decile,
       |    CAST(sum(c) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS n_pos,
       |    min(s) AS lo_score, max(s) AS hi_score
       |  FROM bb GROUP BY 1),
       |cm AS (
       |  SELECT *, CAST(sum(n) OVER (ORDER BY decile) AS BIGINT) AS cum_n,
       |    CAST(sum(n_pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos
       |  FROM pb)
       |SELECT decile, n, n_pos, lo_score, hi_score,
       |  ${sqlSig9("CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)")}
       |    AS pos_rate,
       |  CASE WHEN pp > 0 THEN ${prodRatio("n_pos", "nn", "n", "pp")}
       |    END AS lift,
       |  cum_n, cum_pos,
       |  CASE WHEN pp > 0 THEN ${sqlSig9(
            "CAST(cum_pos AS DOUBLE) / CAST(pp AS DOUBLE)")} END AS gain,
       |  CASE WHEN pp > 0 THEN ${prodRatio("cum_pos", "nn", "cum_n", "pp")}
       |    END AS cum_lift
       |FROM cm CROSS JOIN tot""".stripMargin
  }

  // ===== linear regression (exact trajectory — no libm at all) =========

  private val linFeats = Seq("x1", "x2")
  private val linIters = 3
  private val linLr = 0.5

  /** Price-from-quantity fit over lineitem (features scaled to O(1)):
    * the GD error is plain (w·x − y), so the whole trajectory is exact
    * decimal + fixed IEEE arithmetic — not even a sig9'd libm step. */
  private val linregQ: QFn = (s, d) => {
    val f = Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      (col("l_quantity").cast("double") / 50.0).as("x1"),
      lit(1.0).as("x2"),
      (col("l_extendedprice").cast("double") / 100000.0).as("y"))
    val w = Classifier.linearTrain(f, linFeats, "y", linIters, linLr)
    Classifier.predict(f, linFeats, w)
      .select(col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        col("yhat"))
  }

  private val linregSql = {
    def z(wcte: String) = linFeats.zipWithIndex
      .map { case (f, j) => s"$f * $wcte.a${j + 1}" }.mkString(" + ")
    val w0 = linFeats.indices.map(j => s"0.0 AS a${j + 1}").mkString(", ")
    val rounds = (1 to linIters).map { i =>
      val prev = s"w${i - 1}"
      val err = s"((${z(prev)}) - y)"
      val gs = linFeats.zipWithIndex.map { case (f, j) =>
        s"${sqlDsum(s"$err * $f")} AS g${j + 1}"
      }.mkString(",\n    ")
      val ws = linFeats.indices.map { j =>
        s"$prev.a${j + 1} - $linLr * g${j + 1} / n.n AS a${j + 1}"
      }.mkString(",\n    ")
      s"""g$i AS (
         |  SELECT $gs
         |  FROM f CROSS JOIN $prev),
         |w$i AS (
         |  SELECT $ws
         |  FROM $prev CROSS JOIN g$i CROSS JOIN n)""".stripMargin
    }.mkString(",\n")
    s"""WITH f AS (
       |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
       |    CAST(l_quantity AS DOUBLE) / 50.0 AS x1,
       |    1.0 AS x2,
       |    CAST(l_extendedprice AS DOUBLE) / 100000.0 AS y
       |  FROM lineitem),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM f),
       |w0 AS (SELECT $w0),
       |$rounds
       |SELECT l_orderkey, l_linenumber, ${z(s"w$linIters")} AS yhat
       |FROM f CROSS JOIN w$linIters""".stripMargin
  }

  // ===== exact AUC =====================================================

  /** Does document length predict English? — AUC of the scaled-length
    * score against the weak label, no model needed (AUC is a property
    * of the score ordering). The oracle is the NAIVE single-window
    * rank; the engine's two-phase binned prefix sum must reproduce the
    * exact Mann–Whitney value including tie correction. */
  private val aucQ: QFn = (s, d) => {
    val f = Tables.documents(s, d).select(
      (col("n_chars").cast("double") / 1000.0).as("sc"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
    Classifier.auc(f, "sc", "y")
  }

  private val aucSql =
    """WITH f AS (
      |  SELECT CAST(n_chars AS DOUBLE) / 1000.0 AS s,
      |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents),
      |g AS (
      |  SELECT s, CAST(SUM(y) AS BIGINT) AS p,
      |         CAST(SUM(1 - y) AS BIGINT) AS q
      |  FROM f GROUP BY s),
      |c AS (
      |  SELECT s, p, q,
      |    CAST(COALESCE(SUM(q) OVER (ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS nb
      |  FROM g),
      |t AS (
      |  SELECT SUM(CAST(p AS DECIMAL(38,0)) *
      |             (2 * CAST(nb AS DECIMAL(38,0))
      |              + CAST(q AS DECIMAL(38,0)))) AS num,
      |         CAST(SUM(p) AS BIGINT) AS pp,
      |         CAST(SUM(q) AS BIGINT) AS qq
      |  FROM c)
      |SELECT CASE WHEN pp > 0 AND qq > 0 THEN """.stripMargin +
      Q.sqlSig9("CAST(num AS DOUBLE) / " +
        "(2.0 * CAST(pp AS DOUBLE) * CAST(qq AS DOUBLE))") +
      """ END AS auc,
      |  pp AS n_pos, qq AS n_neg
      |FROM t""".stripMargin

  // ===== calibration curve =============================================

  /** Reliability curve of the trained logistic model's scores —
    * oracle reuses the SAME training-trajectory CTEs byte-identically.
    * Fine fixed [0,1) bins (1000): a 3-iteration model concentrates
    * its scores inside one decile, and the fine grid still resolves
    * ~14 occupied bins there — the curve, not one aggregate cell. */
  private val calibrationQ: QFn = (s, d) => {
    val toks = Hashing.tokens(col("text"))
    val f = Tables.documents(s, d).select(col("doc_id"),
      (col("n_chars").cast("double") / 1000.0).as("f1"),
      (size(toks).cast("double") / 100.0).as("f2"),
      lit(1.0).as("f3"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
    val w = Classifier.logisticTrain(f, feats, "y", iters, lrRate)
    Classifier.calibration(
      Classifier.score(f, feats, w), "score", "y", bins = 1000)
  }

  private val calibrationSql =
    s"""WITH $logisticCtes
       |SELECT LEAST(999, CAST(floor(score * 1000) AS BIGINT)) AS bin,
       |  CAST(count(*) AS BIGINT) AS n,
       |  ${sqlDsum("score")} / count(*) AS mean_score,
       |  CAST(SUM(CAST(y AS BIGINT)) AS DOUBLE) / count(*) AS obs_rate
       |FROM sc GROUP BY 1""".stripMargin

  // ===== pipeline v5 flagship: the proper ML workflow ==================

  /** Train/val split -> train ONLY on train -> score and evaluate AUC
    * ONLY on val, composed as one program — the leak-free protocol the
    * split-leakage QA row guards, now executed end to end. The oracle
    * chains the adjudicated split-hash, the trajectory generator over
    * the train subset, and the naive-window AUC. */
  private val pipeline5Q: QFn = (s, d) => {
    val toks = Hashing.tokens(col("text"))
    val f = Tables.documents(s, d).select(col("doc_id"),
      (col("n_chars").cast("double") / 1000.0).as("f1"),
      (size(toks).cast("double") / 100.0).as("f2"),
      lit(1.0).as("f3"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
    val sp = graft.ext.Sampling.splitAssign(f, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.2))
    val tr = sp.where(col("split") === "train")
    val vl = sp.where(col("split") === "val")
    val w = Classifier.logisticTrain(tr, feats, "y", iters, lrRate)
    Classifier.auc(Classifier.score(vl, feats, w), "score", "y")
  }

  private val pipeline5Sql = {
    val u = s"CAST(${sqlHash60("'split:' || CAST(doc_id AS VARCHAR)")}" +
      " % 1000000 AS DOUBLE) / 1000000.0"
    s"""WITH f0 AS (
       |$featureCte),
       |fu AS (SELECT *, $u AS u FROM f0),
       |tr AS (SELECT * FROM fu WHERE u < CAST(0.8 AS DOUBLE)),
       |vl AS (SELECT * FROM fu WHERE NOT (u < CAST(0.8 AS DOUBLE))),
       |${trajectoryCtes("tr", "vl")},
       |g AS (
       |  SELECT score AS s, CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS p,
       |         CAST(count(*) - SUM(CAST(y AS BIGINT)) AS BIGINT) AS q
       |  FROM sc GROUP BY score),
       |c AS (
       |  SELECT s, p, q,
       |    CAST(COALESCE(SUM(q) OVER (ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS nb
       |  FROM g),
       |t AS (
       |  SELECT SUM(CAST(p AS DECIMAL(38,0)) *
       |             (2 * CAST(nb AS DECIMAL(38,0))
       |              + CAST(q AS DECIMAL(38,0)))) AS num,
       |         CAST(SUM(p) AS BIGINT) AS pp,
       |         CAST(SUM(q) AS BIGINT) AS qq
       |  FROM c)
       |SELECT CASE WHEN pp > 0 AND qq > 0 THEN ${Q.sqlSig9(
          "CAST(num AS DOUBLE) / " +
            "(2.0 * CAST(pp AS DOUBLE) * CAST(qq AS DOUBLE))")} END AS auc,
       |  pp AS n_pos, qq AS n_neg
       |FROM t""".stripMargin
  }

  // ===== multinomial Naive Bayes language-ID ==========================

  /** Train a multinomial NB on the 80% train split's (lang, tokens),
    * predict the language of every held-out document. The oracle
    * re-derives the WHOLE model — class priors, the complete
    * vocab × class Laplace-smoothed likelihood table, unseen-token
    * fallbacks — then the per-doc log-posterior sums and the argmax,
    * so training-as-counting is adjudicated end to end, like the GD
    * trajectory rows. */
  private val nbPred = Shared("q_x_naive_bayes", "q_x_confusion",
      "q_x_kappa") { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      Hashing.tokens(col("text")).as("tk"))
    val sp = graft.ext.Sampling.splitAssign(docs, "doc_id",
      Seq("train" -> 0.8, "rest" -> 0.2))
    val tr = sp.where(col("split") === "train")
    val vl = sp.where(col("split") =!= "train")
    val pred = graft.ext.NaiveBayes.predict(
      graft.ext.NaiveBayes.score(tr, vl, "doc_id", "lang", "tk"), "doc_id")
    pred
      .join(vl.select(col("doc_id"), col("lang").as("true_lang")),
        Seq("doc_id"))
      .select(col("doc_id"), col("pred"), col("best_score"),
        col("true_lang"))
      .transform(Checkpoints.cut) // shared by three queries
  }

  private val nbQ: QFn = nbPred.fresh

  /** Documents -> (doc_id, lang, tk) token CTE — shared by both NB
    * oracles. */
  private val nbToksCte =
    """toks AS (
      |  SELECT doc_id, lang,
      |    list_filter(string_split(text, ' '), t -> t <> '') AS tk
      |  FROM documents)""".stripMargin

  /** The whole NB model + scoring + argmax as a CTE chain, suffixed so
    * k independent instantiations can coexist in one query: reads
    * `tr$sfx` / `vl$sfx` (doc_id, lang, tk), emits `prd$sfx`
    * (doc_id, pred, best_score). ONE generator shared by the
    * train/score row and every fold of the CV row, so no two oracles
    * can disagree on what NB computes (the trajectoryCtes convention).
    */
  private def nbModelCtes(sfx: String): String =
    s"""trx$sfx AS (SELECT lang, unnest(tk) AS t FROM tr$sfx),
       |clsd$sfx AS (
       |  SELECT lang AS label, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM tr$sfx GROUP BY 1),
       |clst$sfx AS (
       |  SELECT lang AS label, CAST(count(*) AS BIGINT) AS n_toks
       |  FROM trx$sfx GROUP BY 1),
       |cls$sfx AS (
       |  SELECT clsd$sfx.label, n_docs,
       |    COALESCE(n_toks, CAST(0 AS BIGINT)) AS n_toks
       |  FROM clsd$sfx LEFT JOIN clst$sfx USING (label)),
       |tot$sfx AS (
       |  SELECT CAST(sum(n_docs) AS BIGINT) AS n_total_docs FROM cls$sfx),
       |voc$sfx AS (SELECT DISTINCT t FROM trx$sfx),
       |vs$sfx AS (SELECT CAST(count(*) AS BIGINT) AS v_size FROM voc$sfx),
       |clsf$sfx AS (
       |  SELECT label, n_toks, v_size,
       |    ${sqlSig9("ln(CAST(n_docs AS DOUBLE) / CAST(n_total_docs AS DOUBLE))")}
       |      AS lprior,
       |    ${sqlSig9("ln(1.0 / CAST(n_toks + v_size AS DOUBLE))")}
       |      AS lp_unseen
       |  FROM cls$sfx, tot$sfx, vs$sfx),
       |tc$sfx AS (
       |  SELECT t, lang AS label, CAST(count(*) AS BIGINT) AS cnt
       |  FROM trx$sfx GROUP BY 1, 2),
       |tlp$sfx AS (
       |  SELECT voc$sfx.t, c.label,
       |    ${sqlSig9(s"ln((COALESCE(tc$sfx.cnt, 0) + 1.0) / " +
           "CAST(c.n_toks + c.v_size AS DOUBLE))")} AS lp
       |  FROM voc$sfx CROSS JOIN clsf$sfx c
       |  LEFT JOIN tc$sfx ON tc$sfx.t = voc$sfx.t AND tc$sfx.label = c.label),
       |dt$sfx AS (
       |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_total FROM vl$sfx),
       |dtk$sfx AS (
       |  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS dcnt
       |  FROM (SELECT doc_id, unnest(tk) AS t FROM vl$sfx) GROUP BY 1, 2),
       |mt$sfx AS (
       |  SELECT dtk$sfx.doc_id, tlp$sfx.label,
       |    ${sqlDsum(sqlSig9("dcnt * lp"))} AS s_tok,
       |    CAST(sum(dcnt) AS BIGINT) AS m
       |  FROM dtk$sfx JOIN tlp$sfx ON dtk$sfx.t = tlp$sfx.t GROUP BY 1, 2),
       |scl$sfx AS (
       |  SELECT dt$sfx.doc_id, cf.label,
       |    ${sqlSig9(s"cf.lprior + COALESCE(mt$sfx.s_tok, 0.0) + " +
           s"CAST(dt$sfx.n_total - COALESCE(mt$sfx.m, 0) AS DOUBLE) * " +
           "cf.lp_unseen")}
       |      AS score
       |  FROM dt$sfx CROSS JOIN clsf$sfx cf
       |  LEFT JOIN mt$sfx
       |    ON mt$sfx.doc_id = dt$sfx.doc_id AND mt$sfx.label = cf.label),
       |best$sfx AS (
       |  SELECT doc_id, max(score) AS best_score FROM scl$sfx GROUP BY 1),
       |prd$sfx AS (
       |  SELECT scl$sfx.doc_id, min(scl$sfx.label) AS pred,
       |    best$sfx.best_score
       |  FROM scl$sfx JOIN best$sfx
       |    ON scl$sfx.doc_id = best$sfx.doc_id
       |   AND scl$sfx.score = best$sfx.best_score
       |  GROUP BY 1, 3)""".stripMargin

  private val nbSql = {
    val u = s"CAST(${sqlHash60("'split:' || CAST(doc_id AS VARCHAR)")}" +
      " % 1000000 AS DOUBLE) / 1000000.0"
    s"""WITH $nbToksCte,
       |spl AS (SELECT *, $u AS u FROM toks),
       |tr AS (SELECT * FROM spl WHERE u < CAST(0.8 AS DOUBLE)),
       |vl AS (SELECT * FROM spl WHERE NOT (u < CAST(0.8 AS DOUBLE))),
       |${nbModelCtes("")}
       |SELECT prd.doc_id, prd.pred, prd.best_score, vl.lang AS true_lang
       |FROM prd JOIN vl USING (doc_id)""".stripMargin
  }

  // ===== k-fold cross-validated NB (complement counting) ==============

  /** 5-fold CV accuracy. The ENGINE trains every fold's model from
    * (global − fold) count algebra in one corpus pass
    * ([[graft.ext.NaiveBayes.kfoldAccuracy]]); the ORACLE builds each
    * fold's model the naive way — five literal re-trainings on the
    * complements via [[nbModelCtes]] — so the complement-counting
    * shortcut is adjudicated against direct training, fold by fold. */
  private val kfoldQ: QFn = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      Hashing.tokens(col("text")).as("tk"))
    graft.ext.NaiveBayes.kfoldAccuracy(docs, "doc_id", "lang", "tk", k = 5)
  }

  private val kfoldSql = {
    val k = 5
    val chains = (0 until k).map { f =>
      s"""trf$f AS (SELECT doc_id, lang, tk FROM fl WHERE fold <> $f),
         |vlf$f AS (SELECT doc_id, lang, tk FROM fl WHERE fold = $f),
         |${nbModelCtes(s"f$f")},
         |acc$f AS (
         |  SELECT CAST($f AS BIGINT) AS fold,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN p.pred = v.lang THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_correct
         |  FROM prdf$f p JOIN vlf$f v USING (doc_id))""".stripMargin
    }
    s"""WITH $nbToksCte,
       |fl AS (
       |  SELECT doc_id, lang, tk,
       |    ${sqlHash60("'fold:' || CAST(doc_id AS VARCHAR)")} % $k AS fold
       |  FROM toks),
       |${chains.mkString(",\n")}
       |SELECT fold, n_docs, n_correct,
       |  CAST(n_correct AS DOUBLE) / CAST(n_docs AS DOUBLE) AS accuracy
       |FROM (${(0 until k).map(f => s"SELECT * FROM acc$f")
          .mkString(" UNION ALL ")})""".stripMargin
  }

  // ===== split-conformal thresholds + coverage ========================

  /** Per-event-type split-conformal threshold (alpha = 0.1, Mondrian
    * by class) over a deterministic 20% calibration slice of `value`,
    * with empirical coverage on the held-out 80%
    * ([[graft.ext.Classifier.conformalCoverage]]). qhat is a discrete
    * order statistic — no float contract beyond the scores. */
  private val conformalAlpha = 0.1
  private val conformalQ: QFn = (s, d) => {
    val ev = Tables.events(s, d).where(col("value").isNotNull)
    val isCal = pmod(graft.ext.Hashing.hash60(
      concat(lit("cal:"), col("event_id").cast("string"))), lit(5L)) === 0
    graft.ext.Classifier.conformalCoverage(
      ev.where(isCal), ev.where(!isCal),
      Seq("event_type"), "value", alpha = conformalAlpha)
  }

  private val conformalSql = {
    val q1 = 1.0 - conformalAlpha // embedded double, the lit() twin
    s"""WITH base AS (
       |  SELECT event_type, value,
       |    (${sqlHash60("'cal:' || CAST(event_id AS VARCHAR)")} % 5 = 0)
       |      AS is_cal
       |  FROM events WHERE value IS NOT NULL),
       |cal AS (SELECT event_type, value FROM base WHERE is_cal),
       |t AS (SELECT event_type, value FROM base WHERE NOT is_cal),
       |n AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_calib,
       |    CAST(ceil(CAST($q1 AS DOUBLE) *
       |      CAST(count(*) + 1 AS DOUBLE)) AS BIGINT) AS k
       |  FROM cal GROUP BY 1),
       |rk AS (
       |  SELECT event_type, value, row_number() OVER (
       |    PARTITION BY event_type ORDER BY value) AS rk
       |  FROM cal),
       |q AS (
       |  SELECT rk.event_type, n.n_calib, n.k,
       |    min(CASE WHEN rk.rk = n.k THEN value END) AS qhat
       |  FROM rk JOIN n USING (event_type) GROUP BY 1, 2, 3),
       |cov AS (
       |  SELECT t.event_type, CAST(count(t.value) AS BIGINT) AS n_test,
       |    CAST(sum(CASE WHEN q.qhat IS NULL OR t.value <= q.qhat
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
       |  FROM t JOIN q USING (event_type) GROUP BY 1)
       |SELECT q.event_type, n_calib, k, qhat, n_test, n_covered,
       |  CAST(n_covered AS DOUBLE) / CAST(n_test AS DOUBLE) AS coverage
       |FROM q LEFT JOIN cov USING (event_type)""".stripMargin
  }

  // ===== feature engineering ==========================================

  /** Hashing-trick vectorizer over documents
    * ([[graft.ext.Features.featureHash]]): 64-bucket sparse
    * bag-of-words, portable md5 bucket hash — all exact BIGINTs. */
  private val featureHashQ: QFn = (s, d) =>
    graft.ext.Features.featureHash(Tables.documents(s, d), dim = 64)

  private val featureHashSql =
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split(text, ' '), t -> t <> ''))
       |      AS tok
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(${Q.sqlHash60("tok")} % 64 AS BIGINT) AS bucket,
       |  CAST(count(*) AS BIGINT) AS cnt
       |FROM tok GROUP BY 1, 2""".stripMargin

  /** Leave-one-out target encoding of event_type by the event value
    * ([[graft.ext.Features.targetEncodeLoo]]): exact decimal
    * (S_g − x_i), one sig9'd division; singleton categories NULL. */
  private val targetEncodeQ: QFn = (s, d) =>
    graft.ext.Features.targetEncodeLoo(Tables.events(s, d),
      "event_id", "event_type", "value")

  private val targetEncodeSql = {
    val diff = Q.sqlSig9("CAST(sg - CAST(x AS DECIMAL(38,15)) AS DOUBLE)")
    s"""WITH r AS (
       |  SELECT event_id, CAST(event_type AS VARCHAR) AS cat,
       |    CAST(value AS DOUBLE) AS x
       |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
       |g AS (
       |  SELECT cat, sum(CAST(x AS DECIMAL(38,15))) AS sg,
       |    CAST(count(*) AS BIGINT) AS ng
       |  FROM r GROUP BY 1)
       |SELECT r.event_id, r.cat AS event_type,
       |  CASE WHEN ng > 1 THEN ${Q.sqlSig9(
            s"$diff / CAST(ng - 1 AS DOUBLE)")} END AS loo
       |FROM r JOIN g USING (cat)""".stripMargin
  }

  /** Per-flag quantity shape profile
    * ([[graft.ext.Profile.higherMoments]]): exact DECIMAL(38,0) power
    * sums, fixed IEEE central-moment chain, sig9'd outputs. */
  private val momentsQ: QFn = (s, d) =>
    graft.ext.Profile.higherMoments(Tables.lineitem(s, d),
      Seq("l_returnflag"), "l_quantity")

  private val momentsSql = {
    val s1 = Q.sqlSig9("CAST(s1 AS DOUBLE)")
    val s2 = Q.sqlSig9("CAST(s2 AS DOUBLE)")
    val s3 = Q.sqlSig9("CAST(s3 AS DOUBLE)")
    val s4 = Q.sqlSig9("CAST(s4 AS DOUBLE)")
    val nd = "CAST(n AS DOUBLE)"
    val mean = s"($s1 / $nd)"
    val m2 = s"($s2 / $nd - $mean * $mean)"
    val m3 = s"($s3 / $nd - CAST(3.0 AS DOUBLE) * $mean * ($s2 / $nd)" +
      s" + CAST(2.0 AS DOUBLE) * $mean * $mean * $mean)"
    val m4 = s"($s4 / $nd - CAST(4.0 AS DOUBLE) * $mean * ($s3 / $nd)" +
      s" + CAST(6.0 AS DOUBLE) * $mean * $mean * ($s2 / $nd)" +
      s" - CAST(3.0 AS DOUBLE) * $mean * $mean * $mean * $mean)"
    s"""WITH r AS (
       |  SELECT CAST(l_returnflag AS VARCHAR) AS l_returnflag,
       |    CAST(l_quantity AS BIGINT) AS v
       |  FROM lineitem
       |  WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL),
       |g AS (
       |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(v AS DECIMAL(38,0))) AS s1,
       |    sum(CAST(v AS DECIMAL(38,0)) * v) AS s2,
       |    sum(CAST(v AS DECIMAL(38,0)) * v * v) AS s3,
       |    sum(CAST(v AS DECIMAL(38,0)) * v * v * v) AS s4
       |  FROM r GROUP BY 1)
       |SELECT l_returnflag, n,
       |  CASE WHEN n > 0 THEN ${Q.sqlSig9(mean)} END AS mean,
       |  CASE WHEN n > 0 THEN ${Q.sqlSig9(m2)} END AS m2,
       |  CASE WHEN n > 0 AND $m2 > CAST(0.0 AS DOUBLE) THEN
       |    ${Q.sqlSig9(s"$m3 / ${Q.sqlSig9(s"sqrt($m2 * $m2 * $m2)")}")}
       |    END AS skew,
       |  CASE WHEN n > 0 AND $m2 > CAST(0.0 AS DOUBLE) THEN
       |    ${Q.sqlSig9(s"$m4 / ($m2 * $m2) - CAST(3.0 AS DOUBLE)")}
       |    END AS kurt
       |FROM g""".stripMargin
  }

  // ===== confusion / precision-recall-F1 eval =========================

  /** Multi-class eval of the adjudicated NB prediction frame
    * ([[graft.ext.Classifier.confusion]]): per-class TP/margins with
    * precision/recall/F1 and the `__all__` accuracy row; the oracle
    * composes the full nbSql chain as a subquery. */
  private val confusionQ: QFn = (s, d) =>
    graft.ext.Classifier.confusion(nbPred(s, d), "true_lang", "pred")

  private val confusionSql = {
    val prec = Q.sqlSig9(
      "CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE)")
    val rec = Q.sqlSig9(
      "CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE)")
    s"""WITH base AS ($nbSql),
       |cells AS (
       |  SELECT CAST(true_lang AS VARCHAR) AS t,
       |    CAST(pred AS VARCHAR) AS p, CAST(count(*) AS BIGINT) AS c
       |  FROM base WHERE true_lang IS NOT NULL AND pred IS NOT NULL
       |  GROUP BY 1, 2),
       |cls AS (SELECT t AS label FROM cells
       |  UNION SELECT p FROM cells),
       |tpt AS (SELECT t AS label, c AS tp FROM cells WHERE t = p),
       |np AS (SELECT p AS label, CAST(sum(c) AS BIGINT) AS n_pred
       |  FROM cells GROUP BY 1),
       |nt AS (SELECT t AS label, CAST(sum(c) AS BIGINT) AS n_true
       |  FROM cells GROUP BY 1),
       |j AS (
       |  SELECT cls.label, CAST(COALESCE(tpt.tp, 0) AS BIGINT) AS tp,
       |    CAST(COALESCE(np.n_pred, 0) AS BIGINT) AS n_pred,
       |    CAST(COALESCE(nt.n_true, 0) AS BIGINT) AS n_true
       |  FROM cls LEFT JOIN tpt USING (label)
       |    LEFT JOIN np USING (label) LEFT JOIN nt USING (label)),
       |o AS (
       |  SELECT '__all__' AS label,
       |    CAST(COALESCE(sum(CASE WHEN t = p THEN c END), 0)
       |      AS BIGINT) AS tp,
       |    CAST(COALESCE(sum(c), 0) AS BIGINT) AS n_pred,
       |    CAST(COALESCE(sum(c), 0) AS BIGINT) AS n_true
       |  FROM cells),
       |u AS (SELECT * FROM j UNION ALL SELECT * FROM o),
       |r AS (
       |  SELECT label, tp, n_pred, n_true,
       |    CASE WHEN n_pred > 0 THEN $prec END AS prec,
       |    CASE WHEN n_true > 0 THEN $rec END AS rec
       |  FROM u)
       |SELECT label, tp, n_pred, n_true, prec, rec,
       |  CASE WHEN prec IS NOT NULL AND rec IS NOT NULL
       |      AND prec + rec > CAST(0.0 AS DOUBLE)
       |    THEN ${Q.sqlSig9(
              "CAST(2.0 AS DOUBLE) * prec * rec / (prec + rec)")}
       |  END AS f1
       |FROM r""".stripMargin
  }

  // ===== Cohen's kappa ================================================

  /** Chance-corrected agreement of the adjudicated NB prediction
    * frame ([[graft.ext.Classifier.kappa]]): accuracy minus what the
    * label margins would agree on by chance — the imbalance-honest
    * companion of `q_x_confusion`'s accuracy row. The oracle composes
    * the full nbSql chain and mirrors the exact-decimal κ terms. */
  private val kappaQ: QFn = (s, d) =>
    graft.ext.Classifier.kappa(nbPred(s, d), "true_lang", "pred")

  private val kappaSql = {
    val chain = Q.sqlSig9(
      s"${Q.sqlSig9("CAST(num AS DOUBLE)")} / " +
        Q.sqlSig9("CAST(den AS DOUBLE)"))
    s"""WITH base AS ($nbSql),
       |cells AS (
       |  SELECT CAST(true_lang AS VARCHAR) AS t,
       |    CAST(pred AS VARCHAR) AS p, CAST(count(*) AS BIGINT) AS c
       |  FROM base WHERE true_lang IS NOT NULL AND pred IS NOT NULL
       |  GROUP BY 1, 2),
       |tot AS (
       |  SELECT CAST(COALESCE(sum(c), 0) AS BIGINT) AS n,
       |    CAST(COALESCE(sum(CASE WHEN t = p THEN c ELSE 0 END), 0)
       |      AS BIGINT) AS agree
       |  FROM cells),
       |nt AS (SELECT t AS label, CAST(sum(c) AS BIGINT) AS n_true
       |  FROM cells GROUP BY 1),
       |np AS (SELECT p AS label, CAST(sum(c) AS BIGINT) AS n_pred
       |  FROM cells GROUP BY 1),
       |ch AS (
       |  SELECT COALESCE(sum(CAST(n_true AS DECIMAL(38,0)) * n_pred),
       |    CAST(0 AS DECIMAL(38,0))) AS s
       |  FROM nt JOIN np USING (label)),
       |dd AS (
       |  SELECT n, agree, s,
       |    CAST(n AS DECIMAL(38,0)) * agree - s AS num,
       |    CAST(n AS DECIMAL(38,0)) * n - s AS den
       |  FROM tot, ch)
       |SELECT n, agree,
       |  CASE WHEN n > 0 THEN ${Q.sqlSig9(
           "CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)")} END AS po,
       |  CASE WHEN n > 0 THEN ${Q.sqlSig9("CAST(s AS DOUBLE) / " +
           "(CAST(n AS DOUBLE) * CAST(n AS DOUBLE))")} END AS pe,
       |  CASE WHEN den > 0 THEN $chain END AS kappa
       |FROM dd""".stripMargin
  }

  // ===== empirical-Bayes beta-binomial shrinkage ======================

  /** [[graft.ext.Profile.ebShrink]] on per-user purchase rates: the
    * method-of-moments Beta prior over observed rates and each user's
    * posterior-mean rate — small-n users pull to the global mean.
    * The oracle replays μ/σ²/K/α/β and every shrunk rate term for
    * term. */
  private val ebQ: QFn = (s, d) =>
    graft.ext.Profile.ebShrink(
      Tables.events(s, d).select(col("user_id"),
        (col("event_type") === "purchase").as("f")),
      "user_id", "f")

  private val ebSql = {
    val raw = Q.sqlSig9("CAST(x AS DOUBLE) / CAST(n AS DOUBLE)")
    val mu = Q.sqlSig9("s1 / CAST(n_items AS DOUBLE)")
    val vr = Q.sqlSig9(s"(s2 - ${Q.sqlSig9("s1 * s1")} / " +
      "CAST(n_items AS DOUBLE)) / CAST(n_items - 1 AS DOUBLE)")
    val mv = Q.sqlSig9("mu * (1.0 - mu)")
    val kk = Q.sqlSig9(s"${Q.sqlSig9("mu * (1.0 - mu)")} / vr - 1.0")
    s"""WITH it AS (
       |  SELECT CAST(user_id AS VARCHAR) AS item,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
       |      END) AS BIGINT) AS x
       |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
       |rr AS (SELECT item, n, x, $raw AS raw_rate FROM it),
       |mo AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_items,
       |    ${Q.sqlDsum("raw_rate")} AS s1,
       |    ${Q.sqlDsum(Q.sqlSig9("raw_rate * raw_rate"))} AS s2
       |  FROM rr),
       |mm AS (SELECT n_items, $mu AS mu, $vr AS vr FROM mo),
       |pk AS (
       |  SELECT mu, vr,
       |    CASE WHEN n_items > 1 AND vr > 0 AND vr < ($mv)
       |      THEN $kk END AS kk
       |  FROM mm),
       |pr AS (
       |  SELECT ${Q.sqlSig9("mu * kk")} AS alpha,
       |    ${Q.sqlSig9("(1.0 - mu) * kk")} AS beta, kk
       |  FROM pk)
       |SELECT item, n, x, raw_rate, alpha, beta,
       |  CASE WHEN kk IS NOT NULL THEN ${Q.sqlSig9(
            "(CAST(x AS DOUBLE) + alpha) / (CAST(n AS DOUBLE) + kk)")}
       |    ELSE raw_rate END AS shrunk_rate
       |FROM rr, pr""".stripMargin
  }

  // ===== isotonic calibration (binned PAVA via minimax) ===============

  /** [[graft.ext.Classifier.isotonicCalibration]]: the monotone
    * probability map from event value to purchase rate — PAVA on ten
    * score bins, adjudicated through the minimax identity the engine
    * computes (the oracle replays the same O(B³) interval frame). */
  private val isotonicQ: QFn = (s, d) => {
    val ev = Tables.events(s, d)
    Classifier.isotonicCalibration(
      ev.select(col("value"),
        (col("event_type") === "purchase").cast("int").as("y")),
      "value", "y", bins = 10)
  }

  private val isotonicSql =
    s"""WITH b AS (
       |  SELECT CAST(value AS DOUBLE) AS s,
       |    CAST(event_type = 'purchase' AS BIGINT) AS y
       |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
       |mm AS (SELECT min(s) AS lo, max(s) AS hi FROM b),
       |binned AS (
       |  SELECT CASE WHEN mm.hi = mm.lo THEN 0
       |    ELSE LEAST(9, GREATEST(0, CAST(floor((b.s - mm.lo) /
       |      ((mm.hi - mm.lo) / 10)) AS BIGINT))) END AS bin,
       |    CAST(count(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
       |  FROM b CROSS JOIN mm GROUP BY 1),
       |iv AS (
       |  SELECT j.bin AS j, k.bin AS k,
       |    CAST(SUM(l.pos) AS DOUBLE) / CAST(SUM(l.n) AS DOUBLE) AS rate
       |  FROM binned j, binned k, binned l
       |  WHERE j.bin <= k.bin AND l.bin BETWEEN j.bin AND k.bin
       |  GROUP BY 1, 2),
       |mn AS (
       |  SELECT i.bin AS i, iv.j, MIN(iv.rate) AS minr
       |  FROM binned i JOIN iv ON iv.j <= i.bin AND iv.k >= i.bin
       |  GROUP BY 1, 2),
       |fit AS (SELECT i, ${Q.sqlSig9("MAX(minr)")} AS fit
       |  FROM mn GROUP BY i)
       |SELECT binned.bin, binned.n, binned.pos,
       |  ${Q.sqlSig9("CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)")}
       |    AS obs_rate, fit.fit
       |FROM binned JOIN fit ON binned.bin = fit.i""".stripMargin

  // ===== AdaBoost over binned stumps ==================================

  /** [[graft.ext.Classifier.adaboostStumps]] on the same three binned
    * lineitem features as `q_x_stump`, predicting l_returnflag = 'R':
    * 4 boosting rounds, 8 bins — the whole loop on the bounded
    * bin-cell table, one corpus scan total. One row per round with the
    * chosen stump, its weighted error, alpha, and the ensemble's
    * train error after the round; the oracle unrolls all 4 rounds of
    * the identical sqrt-identity weight chain. */
  private val adaRounds = 4
  private val adaBins = 8

  private val adaboostQ: QFn = (s, d) =>
    Classifier.adaboostStumps(
      Tables.lineitem(s, d).select(
        col("l_quantity").cast("double").as("qty"),
        col("l_discount").cast("double").as("disc"),
        col("l_extendedprice").cast("double").as("price"),
        (col("l_returnflag") === "R").cast("int").as("y")),
      Seq("disc", "price", "qty"), "y", rounds = adaRounds,
      bins = adaBins)

  private val adaboostSql = {
    val b = adaBins
    // bin expression per feature, mirroring the engine's binOf
    def binExpr(x: String, lo: String, hi: String) =
      s"CASE WHEN mm.$hi = mm.$lo THEN 0 ELSE LEAST(${b - 1}, " +
        s"GREATEST(0, CAST(floor((f.$x - mm.$lo) / " +
        s"((mm.$hi - mm.$lo) / $b)) AS BIGINT))) END"
    val binCol = "CASE sp.feature WHEN 'disc' THEN c.bd " +
      "WHEN 'price' THEN c.bp ELSE c.bq END"
    val h = s"CASE WHEN sp.pol = 'gt' THEN " +
      s"(CASE WHEN ($binCol) > sp.s THEN 1 ELSE 0 END) ELSE " +
      s"(CASE WHEN ($binCol) <= sp.s THEN 1 ELSE 0 END) END"
    def key(f: String, s: String, p: String) =
      s"$f || '|' || lpad(CAST($s AS VARCHAR), 2, '0') || '|' || $p"
    val hb = "CASE WHEN b.pol = 'gt' THEN (CASE WHEN " +
      "(CASE b.feature WHEN 'disc' THEN c.bd WHEN 'price' THEN c.bp " +
      "ELSE c.bq END) > b.s THEN 1 ELSE 0 END) ELSE (CASE WHEN " +
      "(CASE b.feature WHEN 'disc' THEN c.bd WHEN 'price' THEN c.bp " +
      "ELSE c.bq END) <= b.s THEN 1 ELSE 0 END) END"
    val roundsSql = (1 to adaRounds).map { t =>
      val prev = if (t == 1) "cells0" else s"cells${t - 1}"
      s"""wt$t AS (SELECT
         |  ${Q.sqlDsumStable("w * CAST(n AS DOUBLE)", 6)} AS wt
         |  FROM $prev),
         |cand$t AS MATERIALIZED (
         |  SELECT sp.feature, CAST(sp.s AS BIGINT) AS s, sp.pol,
         |    ${Q.sqlSig9(s"COALESCE(${Q.sqlDsumStable(
              s"CASE WHEN ($h) <> c.y THEN c.w * CAST(c.n AS DOUBLE) " +
                "ELSE 0.0 END", 6)}, 0.0) / max(wt$t.wt)")} AS err
         |  FROM $prev c CROSS JOIN splits sp CROSS JOIN wt$t
         |  GROUP BY 1, 2, 3),
         |mer$t AS (SELECT min(err) AS me FROM cand$t),
         |bk$t AS (SELECT min(${key("feature", "s", "pol")}) AS bk
         |  FROM cand$t, mer$t WHERE err = me),
         |best$t AS MATERIALIZED (
         |  SELECT feature, s, pol, err,
         |    sqrt((1.0 - ec) / ec) AS rho,
         |    ${Q.sqlSig9("0.5 * ln((1.0 - ec) / ec)")} AS alpha
         |  FROM (SELECT *, LEAST(GREATEST(err, 1e-9), 1.0 - 1e-9) AS ec
         |        FROM cand$t) c2, bk$t
         |  WHERE ${key("c2.feature", "c2.s", "c2.pol")} = bk$t.bk),
         |cu$t AS (
         |  SELECT c.bq, c.bd, c.bp, c.y, c.n,
         |    CASE WHEN ($hb) = c.y THEN c.w / b.rho
         |      ELSE c.w * b.rho END AS w,
         |    CASE WHEN ($hb) = 1 THEN c.m * b.rho
         |      ELSE c.m / b.rho END AS m
         |  FROM $prev c CROSS JOIN best$t b),
         |z$t AS (SELECT ${Q.sqlDsum("w * CAST(n AS DOUBLE)")} AS z
         |  FROM cu$t),
         |cells$t AS MATERIALIZED (
         |  SELECT bq, bd, bp, y, n, w / z AS w, m
         |  FROM cu$t CROSS JOIN z$t),
         |ens$t AS (SELECT ${Q.sqlSig9(
              "CAST(sum(CASE WHEN (CASE WHEN m > 1.0 THEN 1 ELSE 0 END) " +
                "<> y THEN n ELSE 0 END) AS DOUBLE) / " +
                "CAST(sum(n) AS DOUBLE)")} AS ens_err
         |  FROM cells$t)""".stripMargin
    }.mkString(",\n")
    val rows = (1 to adaRounds).map { t =>
      s"""SELECT CAST($t AS BIGINT) AS round, feature,
         |  s AS split_bin, pol AS polarity, err, alpha, ens_err
         |FROM best$t, ens$t""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH f AS MATERIALIZED (
       |  SELECT CAST(l_quantity AS DOUBLE) AS xq,
       |    CAST(l_discount AS DOUBLE) AS xd,
       |    CAST(l_extendedprice AS DOUBLE) AS xp,
       |    CAST(l_returnflag = 'R' AS BIGINT) AS y
       |  FROM lineitem
       |  WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
       |    AND l_discount IS NOT NULL AND l_extendedprice IS NOT NULL),
       |mm AS (SELECT min(xq) AS loq, max(xq) AS hiq,
       |  min(xd) AS lod, max(xd) AS hid,
       |  min(xp) AS lop, max(xp) AS hip FROM f),
       |cells0 AS MATERIALIZED (
       |  SELECT bq, bd, bp, y, CAST(count(*) AS BIGINT) AS n,
       |    CAST(1.0 AS DOUBLE) AS w, CAST(1.0 AS DOUBLE) AS m
       |  FROM (SELECT
       |      ${binExpr("xq", "loq", "hiq")} AS bq,
       |      ${binExpr("xd", "lod", "hid")} AS bd,
       |      ${binExpr("xp", "lop", "hip")} AS bp,
       |      f.y
       |    FROM f CROSS JOIN mm)
       |  GROUP BY 1, 2, 3, 4),
       |splits AS (
       |  SELECT fe.feature, se.s, pe.pol FROM
       |    (SELECT unnest(['disc', 'price', 'qty']) AS feature) fe,
       |    (SELECT unnest(range(0, ${b - 1})) AS s) se,
       |    (SELECT unnest(['gt', 'le']) AS pol) pe),
       |$roundsSql
       |$rows""".stripMargin
  }

  // ===== leave-one-group-out ridge influence ==========================

  private val logoLambda = 1.0

  /** [[graft.ext.Classifier.ridgeLogoInfluence]] on the q_x_ridge
    * regression (scaled price on quantity + intercept), grouped by
    * supplier bucket: which supplier cohorts move the fitted slope
    * when their rows are deleted — the one-scan group-deletion data
    * valuation (the naive protocol refits once per group). */
  private val logoQ: QFn = (s, d) =>
    Classifier.ridgeLogoInfluence(
      Tables.lineitem(s, d).select(
        (col("l_quantity").cast("double") / 50.0).as("x1"),
        lit(1.0).as("x2"),
        (col("l_extendedprice").cast("double") / 100000.0).as("y"),
        (col("l_suppkey") % 12).cast("long").as("grp")),
      "x1", "x2", "y", "grp", lambda = logoLambda)

  private val logoSql = {
    val lam = s"CAST($logoLambda AS DOUBLE)"
    val fa = s"(t11 + $lam)"
    val fc = s"(t22 + $lam)"
    val la = s"(t11 - s11 + $lam)"
    val lb = "(t12 - s12)"
    val lc = s"(t22 - s22 + $lam)"
    val lr1 = "(ty1 - sy1)"
    val lr2 = "(ty2 - sy2)"
    s"""WITH f AS (
       |  SELECT CAST(l_quantity AS DOUBLE) / 50.0 AS x1,
       |    CAST(1.0 AS DOUBLE) AS x2,
       |    CAST(l_extendedprice AS DOUBLE) / 100000.0 AS y,
       |    CAST(l_suppkey % 12 AS BIGINT) AS grp
       |  FROM lineitem
       |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
       |    AND l_suppkey IS NOT NULL),
       |g AS (
       |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
       |    ${sqlDsum(sqlSig9("x1 * x1"))} AS s11,
       |    ${sqlDsum(sqlSig9("x1 * x2"))} AS s12,
       |    ${sqlDsum(sqlSig9("x2 * x2"))} AS s22,
       |    ${sqlDsum(sqlSig9("x1 * y"))} AS sy1,
       |    ${sqlDsum(sqlSig9("x2 * y"))} AS sy2
       |  FROM f GROUP BY 1),
       |tot AS (
       |  SELECT ${Q.sqlDsumStable("s11", 6)} AS t11,
       |    ${Q.sqlDsumStable("s12", 6)} AS t12,
       |    ${Q.sqlDsumStable("s22", 6)} AS t22,
       |    ${Q.sqlDsumStable("sy1", 6)} AS ty1,
       |    ${Q.sqlDsumStable("sy2", 6)} AS ty2
       |  FROM g),
       |fb AS (
       |  SELECT *,
       |    CASE WHEN fdet <> 0 THEN ${sqlSig9(
            s"($fc * ty1 - t12 * ty2) / fdet")} END AS w1_full,
       |    CASE WHEN fdet <> 0 THEN ${sqlSig9(
            s"($fa * ty2 - t12 * ty1) / fdet")} END AS w2_full
       |  FROM (SELECT *, ${sqlSig9(s"$fa * $fc - t12 * t12")} AS fdet
       |    FROM tot)),
       |lo AS (
       |  SELECT g.grp, g.n,
       |    CASE WHEN ldet <> 0 THEN ${sqlSig9(
            s"($lc * $lr1 - $lb * $lr2) / ldet")} END AS w1_loo,
       |    CASE WHEN ldet <> 0 THEN ${sqlSig9(
            s"($la * $lr2 - $lb * $lr1) / ldet")} END AS w2_loo,
       |    g.w1_full, g.w2_full
       |  FROM (SELECT g.*, fb.*,
       |      ${sqlSig9(s"$la * $lc - $lb * $lb")} AS ldet
       |    FROM g CROSS JOIN fb) g)
       |SELECT grp, n, w1_loo, w2_loo,
       |  CASE WHEN w1_loo IS NOT NULL AND w1_full IS NOT NULL THEN
       |    ${sqlSig9("SQRT((w1_full - w1_loo) * (w1_full - w1_loo) + " +
            "(w2_full - w2_loo) * (w2_full - w2_loo))")} END AS influence,
       |  w1_full, w2_full
       |FROM lo""".stripMargin
  }

  // ===== least-squares gradient boosting ==============================

  private val gbmRounds = 4
  private val gbmBins = 8

  /** [[graft.ext.Classifier.gbmStumps]] regressing l_quantity on
    * binned (discount, extendedprice, tax): extendedprice carries real
    * signal (it is price*qty), so the boosting trajectory shows
    * genuine gain and falling MSE; the full per-round (split, leaves,
    * gain, mse) trajectory is hash-adjudicated like q_x_adaboost's. */
  private val gbmQ: QFn = (s, d) =>
    Classifier.gbmStumps(
      Tables.lineitem(s, d).select(
        col("l_discount").cast("double").as("disc"),
        col("l_extendedprice").cast("double").as("price"),
        col("l_tax").cast("double").as("tax"),
        col("l_quantity").cast("double").as("yv")),
      Seq("disc", "price", "tax"), "yv", rounds = gbmRounds,
      bins = gbmBins, lr = 0.5)

  private val gbmSql = {
    val b = gbmBins
    def binExpr(x: String, lo: String, hi: String) =
      s"CASE WHEN mm.$hi = mm.$lo THEN 0 ELSE LEAST(${b - 1}, " +
        s"GREATEST(0, CAST(floor((f.$x - mm.$lo) / " +
        s"((mm.$hi - mm.$lo) / $b)) AS BIGINT))) END"
    val binCol = "CASE sp.feature WHEN 'disc' THEN c.bd " +
      "WHEN 'price' THEN c.bp ELSE c.bt END"
    val binColB = "CASE b.feature WHEN 'disc' THEN c.bd " +
      "WHEN 'price' THEN c.bp ELSE c.bt END"
    val roundsSql = (1 to gbmRounds).map { t =>
      val prev = if (t == 1) "c0" else s"c${t - 1}"
      s"""cand$t AS MATERIALIZED (
         |  SELECT sp.feature, CAST(sp.s AS BIGINT) AS s,
         |    COALESCE(${Q.sqlDsumStable(
              s"CASE WHEN ($binCol) <= sp.s THEN " +
                "c.sy - CAST(c.n AS DOUBLE) * c.fv ELSE 0.0 END", 6)},
         |      0.0) AS rsle,
         |    CAST(COALESCE(sum(CASE WHEN ($binCol) <= sp.s THEN c.n
         |      ELSE 0 END), 0) AS BIGINT) AS nle,
         |    COALESCE(${Q.sqlDsumStable(
              s"CASE WHEN NOT (($binCol) <= sp.s) THEN " +
                "c.sy - CAST(c.n AS DOUBLE) * c.fv ELSE 0.0 END", 6)},
         |      0.0) AS rsgt,
         |    CAST(COALESCE(sum(CASE WHEN NOT (($binCol) <= sp.s) THEN c.n
         |      ELSE 0 END), 0) AS BIGINT) AS ngt
         |  FROM $prev c CROSS JOIN splits sp
         |  GROUP BY 1, 2),
         |g$t AS (
         |  SELECT *,
         |    ${Q.sqlSig9(
              "CASE WHEN nle > 0 THEN rsle * rsle / CAST(nle AS DOUBLE) " +
                "ELSE 0.0 END + CASE WHEN ngt > 0 THEN " +
                "rsgt * rsgt / CAST(ngt AS DOUBLE) ELSE 0.0 END - " +
                "(rsle + rsgt) * (rsle + rsgt) / " +
                "CAST(nle + ngt AS DOUBLE)")} AS gain,
         |    feature || '|' || lpad(CAST(s AS VARCHAR), 2, '0') AS k
         |  FROM cand$t),
         |mg$t AS (SELECT max(gain) AS mg FROM g$t),
         |bk$t AS (SELECT min(k) AS bk FROM g$t, mg$t WHERE gain = mg),
         |best$t AS MATERIALIZED (
         |  SELECT feature, s, gain,
         |    CASE WHEN nle > 0 THEN
         |      ${Q.sqlSig9("rsle / CAST(nle AS DOUBLE)")}
         |      ELSE 0.0 END AS gle,
         |    CASE WHEN ngt > 0 THEN
         |      ${Q.sqlSig9("rsgt / CAST(ngt AS DOUBLE)")}
         |      ELSE 0.0 END AS ggt
         |  FROM g$t, bk$t WHERE k = bk),
         |c$t AS MATERIALIZED (
         |  SELECT c.bd, c.bp, c.bt, c.n, c.sy, c.sy2,
         |    c.fv + 0.5 * (CASE WHEN ($binColB) <= b.s THEN b.gle
         |      ELSE b.ggt END) AS fv
         |  FROM $prev c CROSS JOIN best$t b),
         |mse$t AS (
         |  SELECT ${Q.sqlSig9("sse / CAST(nn AS DOUBLE)")} AS mse
         |  FROM (SELECT ${Q.sqlDsumStable(
              "sy2 - 2.0 * fv * sy + CAST(n AS DOUBLE) * fv * fv", 6)}
         |      AS sse, CAST(sum(n) AS BIGINT) AS nn FROM c$t))""".stripMargin
    }.mkString(",\n")
    val rows = (1 to gbmRounds).map { t =>
      s"""SELECT CAST($t AS BIGINT) AS round, feature,
         |  s AS split_bin, gain, gle AS gamma_le, ggt AS gamma_gt, mse
         |FROM best$t, mse$t""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH f AS MATERIALIZED (
       |  SELECT CAST(l_discount AS DOUBLE) AS xd,
       |    CAST(l_extendedprice AS DOUBLE) AS xp,
       |    CAST(l_tax AS DOUBLE) AS xt,
       |    CAST(l_quantity AS DOUBLE) AS yv
       |  FROM lineitem
       |  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
       |    AND l_extendedprice IS NOT NULL AND l_tax IS NOT NULL),
       |mm AS (SELECT min(xd) AS lod, max(xd) AS hid,
       |  min(xp) AS lop, max(xp) AS hip,
       |  min(xt) AS lot, max(xt) AS hit FROM f),
       |cells0 AS MATERIALIZED (
       |  SELECT bd, bp, bt, CAST(count(*) AS BIGINT) AS n,
       |    ${Q.sqlDsumStable("yv", 6)} AS sy,
       |    ${Q.sqlDsumStable("yv * yv", 6)} AS sy2
       |  FROM (SELECT
       |      ${binExpr("xd", "lod", "hid")} AS bd,
       |      ${binExpr("xp", "lop", "hip")} AS bp,
       |      ${binExpr("xt", "lot", "hit")} AS bt,
       |      f.yv
       |    FROM f CROSS JOIN mm)
       |  GROUP BY 1, 2, 3),
       |f0 AS (SELECT ${Q.sqlSig9("ssy / CAST(nn AS DOUBLE)")} AS f0
       |  FROM (SELECT ${Q.sqlDsumStable("sy", 6)} AS ssy,
       |    CAST(sum(n) AS BIGINT) AS nn FROM cells0)),
       |c0 AS MATERIALIZED (
       |  SELECT bd, bp, bt, n, sy, sy2, f0.f0 AS fv FROM cells0, f0),
       |splits AS (
       |  SELECT fe.feature, se.s FROM
       |    (SELECT unnest(['disc', 'price', 'tax']) AS feature) fe,
       |    (SELECT unnest(range(0, ${b - 1})) AS s) se),
       |$roundsSql
       |$rows""".stripMargin
  }

  // ===== decision-stump split search ==================================

  /** [[graft.ext.Classifier.stumpSplits]]: the exact-Gini candidate
    * split table (the per-node primitive of a distributed CART/GBDT
    * trainer) over three binned lineitem features predicting
    * l_returnflag = 'R'; 16 bins per feature, best split flagged with
    * a deterministic tie-break. */
  private val stumpQ: QFn = (s, d) =>
    Classifier.stumpSplits(
      Tables.lineitem(s, d).select(
        col("l_quantity").cast("double").as("qty"),
        col("l_discount").cast("double").as("disc"),
        col("l_extendedprice").cast("double").as("price"),
        (col("l_returnflag") === "R").cast("int").as("y")),
      Seq("disc", "price", "qty"), "y", bins = 16)

  private val stumpSql = {
    val gTot = "(1.0 - (CAST(post AS DOUBLE) / CAST(nt AS DOUBLE)) * " +
      "(CAST(post AS DOUBLE) / CAST(nt AS DOUBLE)) - " +
      "(1.0 - CAST(post AS DOUBLE) / CAST(nt AS DOUBLE)) * " +
      "(1.0 - CAST(post AS DOUBLE) / CAST(nt AS DOUBLE)))"
    def gChild(n: String, p: String) =
      s"(1.0 - (CAST($p AS DOUBLE) / CAST($n AS DOUBLE)) * " +
        s"(CAST($p AS DOUBLE) / CAST($n AS DOUBLE)) - " +
        s"(1.0 - CAST($p AS DOUBLE) / CAST($n AS DOUBLE)) * " +
        s"(1.0 - CAST($p AS DOUBLE) / CAST($n AS DOUBLE)))"
    val gain = s"$gTot - (CAST(left_n AS DOUBLE) / CAST(nt AS DOUBLE))" +
      s" * ${gChild("left_n", "left_pos")}" +
      s" - (CAST(right_n AS DOUBLE) / CAST(nt AS DOUBLE))" +
      s" * ${gChild("right_n", "right_pos")}"
    def feat(name: String, expr: String) =
      s"SELECT '$name' AS feature, CAST($expr AS DOUBLE) AS x, " +
        "CAST(l_returnflag = 'R' AS BIGINT) AS y FROM lineitem " +
        s"WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL " +
        "AND l_discount IS NOT NULL AND l_extendedprice IS NOT NULL"
    s"""WITH f AS (
       |  ${feat("qty", "l_quantity")}
       |  UNION ALL ${feat("disc", "l_discount")}
       |  UNION ALL ${feat("price", "l_extendedprice")}),
       |mm AS (SELECT feature, min(x) AS lo, max(x) AS hi
       |  FROM f GROUP BY 1),
       |cells AS (
       |  SELECT f.feature,
       |    CASE WHEN mm.hi = mm.lo THEN 0
       |      ELSE LEAST(15, GREATEST(0, CAST(floor((f.x - mm.lo) /
       |        ((mm.hi - mm.lo) / 16)) AS BIGINT))) END AS bin,
       |    CAST(count(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
       |  FROM f JOIN mm ON f.feature = mm.feature GROUP BY 1, 2),
       |tot AS (SELECT feature, CAST(SUM(n) AS BIGINT) AS nt,
       |    CAST(SUM(pos) AS BIGINT) AS post
       |  FROM cells GROUP BY 1),
       |cum AS (
       |  SELECT c.feature, c.bin AS split_bin,
       |    CAST(SUM(c.n) OVER w AS BIGINT) AS left_n,
       |    CAST(SUM(c.pos) OVER w AS BIGINT) AS left_pos
       |  FROM cells c
       |  WINDOW w AS (PARTITION BY c.feature ORDER BY c.bin)),
       |cand AS (
       |  SELECT cum.feature, cum.split_bin, cum.left_n, cum.left_pos,
       |    tot.nt - cum.left_n AS right_n,
       |    tot.post - cum.left_pos AS right_pos, tot.nt, tot.post
       |  FROM cum JOIN tot ON cum.feature = tot.feature
       |  WHERE cum.split_bin < 15 AND cum.left_n > 0
       |    AND cum.left_n < tot.nt),
       |scored AS (
       |  SELECT feature, split_bin, left_n, left_pos, right_n,
       |    right_pos, ${Q.sqlSig9(gain)} AS gain
       |  FROM cand),
       |mg AS (SELECT MAX(gain) AS mg FROM scored),
       |best AS (
       |  SELECT feature AS bf, split_bin AS bb
       |  FROM scored CROSS JOIN mg WHERE gain = mg
       |  ORDER BY feature, split_bin LIMIT 1)
       |SELECT scored.*,
       |  scored.feature = best.bf AND scored.split_bin = best.bb
       |    AS is_best
       |FROM scored CROSS JOIN best""".stripMargin
  }

  // ===== average precision (PR-AUC) ===================================

  /** [[graft.ext.Classifier.prAuc]] on the q_x_auc score/label pair:
    * the rare-positive ranking metric (step-interpolated average
    * precision). The oracle computes the same per-threshold terms
    * from a descending-score window (inclusive cum≥ ≡ the engine's
    * totals − exclusive-ascending-prefix, exact integers). */
  private val prAucQ: QFn = (s, d) => {
    val f = Tables.documents(s, d).select(
      (col("n_chars").cast("double") / 1000.0).as("sc"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
    Classifier.prAuc(f, "sc", "y")
  }

  private val prAucSql = {
    val term = Q.sqlSig9("CAST(p AS DOUBLE) * CAST(cp AS DOUBLE) " +
      "/ CAST(cp + cq AS DOUBLE)")
    s"""WITH b AS (
       |  SELECT CAST(n_chars AS DOUBLE) / 1000.0 AS s,
       |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
       |  FROM documents WHERE n_chars IS NOT NULL),
       |c AS (
       |  SELECT s, CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS p,
       |    CAST(SUM(CASE WHEN y = 1.0 THEN 0 ELSE 1 END) AS BIGINT)
       |      AS q
       |  FROM b GROUP BY 1),
       |t AS (SELECT CAST(SUM(p) AS BIGINT) AS pt,
       |             CAST(SUM(q) AS BIGINT) AS qt FROM c),
       |cum AS (
       |  SELECT p, q,
       |    CAST(SUM(p) OVER (ORDER BY s DESC) AS BIGINT) AS cp,
       |    CAST(SUM(q) OVER (ORDER BY s DESC) AS BIGINT) AS cq
       |  FROM c),
       |terms AS (
       |  SELECT CASE WHEN p > 0 THEN $term ELSE 0.0 END AS term
       |  FROM cum),
       |agg AS (SELECT ${Q.sqlDsumStable("term", 6)} AS tsum FROM terms)
       |SELECT
       |  CASE WHEN t.pt > 0 THEN ${Q.sqlSig9(
            "agg.tsum / CAST(t.pt AS DOUBLE)")} END
       |    AS average_precision,
       |  t.pt AS n_pos, t.qt AS n_neg,
       |  CASE WHEN t.pt + t.qt > 0 THEN ${Q.sqlSig9(
            "CAST(t.pt AS DOUBLE) / CAST(t.pt + t.qt AS DOUBLE)")} END
       |    AS baseline
       |FROM t CROSS JOIN agg""".stripMargin
  }

  // ===== k-fold cross-validated ridge (one-pass sufficient stats) ====

  private val ridgeCvLambdas = Seq(0.01, 0.1, 1.0, 10.0)
  private val ridgeCvFolds = 5

  /** [[graft.ext.Classifier.ridgeCv]]: the whole 5-fold × 4-λ
    * model-selection grid from ONE corpus scan — per-fold exact
    * DECIMAL moments, train = total − fold by subtraction, closed-form
    * held-out SSE. The oracle replays the identical moment/solve/SSE
    * chain. */
  private val ridgeCvQ: QFn = (s, d) =>
    Classifier.ridgeCv(
      Tables.lineitem(s, d).select(
        concat(col("l_orderkey").cast("string"), lit(":"),
          col("l_linenumber").cast("string")).as("k"),
        (col("l_quantity").cast("double") / 50.0).as("x1"),
        lit(1.0).as("x2"),
        (col("l_extendedprice").cast("double") / 100000.0).as("y")),
      "k", "x1", "x2", "y", ridgeCvLambdas, folds = ridgeCvFolds)

  private val ridgeCvSql = {
    val dsum15 = (e: String) => s"SUM(CAST(($e) AS DECIMAL(38,15)))"
    val lamList = ridgeCvLambdas
      .map(l => s"CAST($l AS DOUBLE)").mkString(", ")
    def tr(t: String, f: String) = Q.sqlSig9(s"CAST($t - $f AS DOUBLE)")
    val sse = Q.sqlSig9(
      "syyf - 2.0 * w1 * sy1f - 2.0 * w2 * sy2f + w1 * w1 * s11f " +
        "+ 2.0 * (w1 * w2) * s12f + w2 * w2 * s22f")
    s"""WITH b AS (
       |  SELECT CAST(l_orderkey AS VARCHAR) || ':' ||
       |      CAST(l_linenumber AS VARCHAR) AS k,
       |    CAST(l_quantity AS DOUBLE) / 50.0 AS x1,
       |    CAST(1.0 AS DOUBLE) AS x2,
       |    CAST(l_extendedprice AS DOUBLE) / 100000.0 AS y
       |  FROM lineitem
       |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
       |fm AS (
       |  SELECT ${Q.sqlHash60("'rcv:' || k")} % $ridgeCvFolds AS fold,
       |    CAST(count(*) AS BIGINT) AS n,
       |    ${dsum15("x1 * x1")} AS s11, ${dsum15("x1 * x2")} AS s12,
       |    ${dsum15("x2 * x2")} AS s22, ${dsum15("x1 * y")} AS sy1,
       |    ${dsum15("x2 * y")} AS sy2, ${dsum15("y * y")} AS syy
       |  FROM b GROUP BY 1),
       |tot AS (
       |  SELECT CAST(SUM(n) AS BIGINT) AS nt, SUM(s11) AS t11,
       |    SUM(s12) AS t12, SUM(s22) AS t22, SUM(sy1) AS ty1,
       |    SUM(sy2) AS ty2, SUM(syy) AS tyy
       |  FROM fm),
       |lam AS (SELECT unnest([$lamList]) AS lambda),
       |g0 AS (
       |  SELECT lam.lambda, tot.nt,
       |    ${tr("t11", "s11")} + lam.lambda AS a,
       |    ${tr("t22", "s22")} + lam.lambda AS c,
       |    ${tr("t12", "s12")} AS s12t,
       |    ${tr("ty1", "sy1")} AS ty1t, ${tr("ty2", "sy2")} AS ty2t,
       |    ${Q.sqlSig9("CAST(s11 AS DOUBLE)")} AS s11f,
       |    ${Q.sqlSig9("CAST(s12 AS DOUBLE)")} AS s12f,
       |    ${Q.sqlSig9("CAST(s22 AS DOUBLE)")} AS s22f,
       |    ${Q.sqlSig9("CAST(sy1 AS DOUBLE)")} AS sy1f,
       |    ${Q.sqlSig9("CAST(sy2 AS DOUBLE)")} AS sy2f,
       |    ${Q.sqlSig9("CAST(syy AS DOUBLE)")} AS syyf
       |  FROM fm CROSS JOIN tot CROSS JOIN lam),
       |g1 AS (
       |  SELECT *, ${Q.sqlSig9("a * c - s12t * s12t")} AS det
       |  FROM g0),
       |g2 AS (
       |  SELECT lambda, nt, syyf, sy1f, sy2f, s11f, s12f, s22f,
       |    CASE WHEN det <> 0.0 THEN ${Q.sqlSig9(
            "(c * ty1t - s12t * ty2t) / det")} END AS w1,
       |    CASE WHEN det <> 0.0 THEN ${Q.sqlSig9(
            "(a * ty2t - s12t * ty1t) / det")} END AS w2
       |  FROM g1),
       |g3 AS (SELECT lambda, nt, $sse AS sse FROM g2),
       |perl AS (
       |  SELECT lambda, nt, CAST(COUNT(sse) AS BIGINT) AS n_solved,
       |    ${Q.sqlDsumStable("sse", 6)} AS sse_sum
       |  FROM g3 GROUP BY 1, 2),
       |pm AS (
       |  SELECT lambda, nt,
       |    CASE WHEN n_solved = $ridgeCvFolds THEN ${Q.sqlSig9(
            "sse_sum / CAST(nt AS DOUBLE)")} END AS cv_mse
       |  FROM perl),
       |f0 AS (
       |  SELECT lam.lambda,
       |    ${Q.sqlSig9("CAST(t11 AS DOUBLE)")} + lam.lambda AS af,
       |    ${Q.sqlSig9("CAST(t22 AS DOUBLE)")} + lam.lambda AS cf,
       |    ${Q.sqlSig9("CAST(t12 AS DOUBLE)")} AS s12f,
       |    ${Q.sqlSig9("CAST(ty1 AS DOUBLE)")} AS ty1d,
       |    ${Q.sqlSig9("CAST(ty2 AS DOUBLE)")} AS ty2d
       |  FROM tot CROSS JOIN lam),
       |f1 AS (
       |  SELECT *, ${Q.sqlSig9("af * cf - s12f * s12f")} AS detf
       |  FROM f0),
       |ff AS (
       |  SELECT lambda,
       |    CASE WHEN detf <> 0.0 THEN ${Q.sqlSig9(
            "(cf * ty1d - s12f * ty2d) / detf")} END AS w1_full,
       |    CASE WHEN detf <> 0.0 THEN ${Q.sqlSig9(
            "(af * ty2d - s12f * ty1d) / detf")} END AS w2_full
       |  FROM f1),
       |j AS (
       |  SELECT pm.lambda, pm.nt, pm.cv_mse, ff.w1_full, ff.w2_full
       |  FROM pm JOIN ff ON pm.lambda = ff.lambda),
       |best AS (SELECT MIN(cv_mse) AS mmse FROM j
       |  WHERE cv_mse IS NOT NULL),
       |bl AS (SELECT MIN(j.lambda) AS blam
       |  FROM j CROSS JOIN best WHERE j.cv_mse = best.mmse)
       |SELECT j.lambda, j.nt AS n, j.cv_mse, j.w1_full, j.w2_full,
       |  COALESCE(j.lambda = bl.blam, false) AS is_best
       |FROM j CROSS JOIN bl""".stripMargin
  }

  // ===== Huber robust regression (IRLS) ===============================

  private val huberDelta = 0.5
  private val huberIters = 3

  /** [[graft.ext.Classifier.huberFit]]: outlier-resistant fit of
    * scaled extendedprice on quantity; the oracle replays the OLS
    * init and every IRLS reweighting pass as stacked CTEs. */
  private val huberQ: QFn = (s, d) =>
    Classifier.huberFit(
      Tables.lineitem(s, d).select(
        col("l_quantity").cast("double").as("x"),
        (col("l_extendedprice").cast("double") / 10000.0).as("y")),
      "x", "y", delta = huberDelta, iters = huberIters)

  private val huberSql = {
    def solve(m: String, out: String) = {
      val num = Q.sqlSig9("sw * swxy - swx * swy")
      val den = Q.sqlSig9("sw * swxx - swx * swx")
      s"""${out}_p AS (
         |  SELECT n, sw, swx, swy,
         |    CASE WHEN $den <> 0.0 THEN ${Q.sqlSig9(s"($num) / ($den)")}
         |      END AS b,
         |    $den AS den
         |  FROM $m),
         |$out AS (
         |  SELECT n, b,
         |    CASE WHEN den <> 0.0 THEN ${Q.sqlSig9(
              "(swy - b * swx) / sw")} END AS a
         |  FROM ${out}_p)""".stripMargin
    }
    def pass(i: Int, prev: String) =
      s"""m$i AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    ${Q.sqlDsum("w")} AS sw, ${Q.sqlDsum("w * x")} AS swx,
         |    ${Q.sqlDsum("w * x * x")} AS swxx,
         |    ${Q.sqlDsum("w * y")} AS swy,
         |    ${Q.sqlDsum("w * x * y")} AS swxy
         |  FROM (
         |    SELECT x, y, CASE WHEN abs(y - (a + b * x)) <= $huberDelta
         |      THEN 1.0 ELSE $huberDelta / abs(y - (a + b * x)) END AS w
         |    FROM base CROSS JOIN $prev)),
         |${solve(s"m$i", s"fit$i")}""".stripMargin
    s"""WITH base AS (
       |  SELECT CAST(l_quantity AS DOUBLE) AS x,
       |    CAST(l_extendedprice AS DOUBLE) / 10000.0 AS y
       |  FROM lineitem
       |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
       |m0 AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    ${Q.sqlDsum("1.0")} AS sw, ${Q.sqlDsum("x")} AS swx,
       |    ${Q.sqlDsum("x * x")} AS swxx, ${Q.sqlDsum("y")} AS swy,
       |    ${Q.sqlDsum("x * y")} AS swxy
       |  FROM base),
       |${solve("m0", "fit0")},
       |${(1 to huberIters).map(i => pass(i, s"fit${i - 1}"))
          .mkString(",\n")}
       |SELECT f.a, f.b, fit0.a AS a_ols, fit0.b AS b_ols, f.n,
       |  CAST($huberDelta AS DOUBLE) AS delta,
       |  CAST($huberIters AS BIGINT) AS iters
       |FROM fit$huberIters f CROSS JOIN fit0""".stripMargin
  }

  val queries: Map[String, (QFn, String)] = Map(
    "q_x_isotonic" -> (isotonicQ, isotonicSql),
    "q_x_ridge_cv" -> (ridgeCvQ, ridgeCvSql),
    "q_x_pr_auc" -> (prAucQ, prAucSql),
    "q_x_stump" -> (stumpQ, stumpSql),
    "q_x_adaboost" -> (adaboostQ, adaboostSql),
    "q_x_gbm" -> (gbmQ, gbmSql),
    "q_x_logo" -> (logoQ, logoSql),
    "q_x_huber" -> (huberQ, huberSql),
    "q_x_eb_shrink" -> (ebQ, ebSql),
    "q_x_confusion" -> (confusionQ, confusionSql),
    "q_x_kappa" -> (kappaQ, kappaSql),
    "q_x_feature_hash" -> (featureHashQ, featureHashSql),
    "q_x_target_encode" -> (targetEncodeQ, targetEncodeSql),
    "q_x_moments" -> (momentsQ, momentsSql),
    "q_x_conformal" -> (conformalQ, conformalSql),
    "q_x_logistic" -> (logisticQ, logisticSql),
    "q_x_lift" -> (liftQ, liftSql),
    "q_x_ridge" -> (ridgeQ, ridgeSql),
    "q_x_linreg" -> (linregQ, linregSql),
    "q_x_auc" -> (aucQ, aucSql),
    "q_x_calibration" -> (calibrationQ, calibrationSql),
    "q_x_naive_bayes" -> (nbQ, nbSql),
    "q_x_kfold_nb" -> (kfoldQ, kfoldSql),
    "q_x_pipeline5" -> (pipeline5Q, pipeline5Sql))
}
