package graft.ext

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._
import graft.queries.Q

/** Multinomial Naive Bayes over token arrays — the other classic
  * corpus-gating classifier next to [[Classifier.logisticTrain]]
  * (language-ID, topic routing, spam/quality gating): training IS
  * counting, so unlike gradient descent it needs no iteration at all —
  * one pass of map-side-combined aggregates builds the whole model,
  * which is why NB is the first thing trained on any new 100 TB corpus.
  *
  * Scale shape: class statistics are a bounded frame (|classes| rows,
  * broadcast), token statistics one (label, token)-keyed hash
  * aggregate, scoring one token-keyed equi-join + one (doc, class)
  * aggregate. No windows, no iteration, no driver data path.
  *
  * Determinism contract (DuckDB-adjudicable like the GD trajectory):
  * counts are exact integers; each log term — class prior
  * ln(n_docs_c / N), token likelihood ln((cnt+1)/(n_toks_c + V))
  * (Laplace α=1), and the unseen-token fallback ln(1/(n_toks_c + V)) —
  * is one IEEE division plus one libm ln, sig9-normalized; each
  * per-(doc, token, class) product count × sig9(ln) is ITSELF
  * sig9-normalized before the DECIMAL accumulation ([[Q.dsum]]) — a
  * raw double product's 15th decimal is a rounding the engines'
  * differing double→decimal casts can disagree on by 1e-15, while a
  * 9-digit value casts exactly on both (the PageRank term contract). Argmax ties break to the smallest label
  * (scores are sig9'd, so "tie" is engine-independent).
  */
object NaiveBayes {

  /** Per-(doc, class) log-posterior scores.
    *
    * @param train  (idCol, labelCol, toksCol) — labeled documents
    * @param score  (idCol, toksCol) — documents to score (may overlap
    *               train; extra columns pass through ignored)
    * @return (idCol, label, score) with one row per scored doc per
    *         training class — docs with zero/only-unseen tokens still
    *         score on the prior + unseen terms.
    */
  def score(train: DataFrame, scoreDocs: DataFrame, idCol: String,
      labelCol: String, toksCol: String): DataFrame = {
    val lbl = col(labelCol)

    // class doc counts from the UN-exploded frame (empty-token docs
    // still carry prior mass) + token totals from the exploded one
    val trTok = train.select(lbl.as("label"),
      explode(col(toksCol)).as("t"))
    val clsDocs = train.groupBy(lbl.as("label"))
      .agg(count(lit(1)).as("n_docs"))
    val clsToks = trTok.groupBy("label").agg(count(lit(1)).as("n_toks"))
    val cls = clsDocs.join(clsToks, Seq("label"), "left")
      .na.fill(0L, Seq("n_toks"))
    val totals = cls.agg(sum(col("n_docs")).cast("long").as("n_total_docs"))
    val vocab = trTok.select(col("t")).distinct()
    val vsize = vocab.agg(count(lit(1)).as("v_size"))

    // bounded class table with prior + unseen log-probs attached
    val clsFull = cls
      .crossJoin(broadcast(totals)).crossJoin(broadcast(vsize))
      .withColumn("lprior", Q.sig9(log(col("n_docs").cast("double") /
        col("n_total_docs").cast("double"))))
      .withColumn("lp_unseen", Q.sig9(log(lit(1.0) /
        (col("n_toks") + col("v_size")).cast("double"))))

    // complete (token, class) likelihood table: vocab x classes, zero
    // counts filled — so every in-vocab token resolves for EVERY class
    val tokCnt = trTok.groupBy(col("t"), col("label"))
      .agg(count(lit(1)).as("cnt"))
    val tokLp = vocab.crossJoin(broadcast(
        clsFull.select(col("label"), col("n_toks"), col("v_size"))))
      .join(tokCnt, Seq("t", "label"), "left")
      .na.fill(0L, Seq("cnt"))
      .withColumn("lp", Q.sig9(log((col("cnt") + lit(1.0)) /
        (col("n_toks") + col("v_size")).cast("double"))))
      .select(col("t"), col("label"), col("lp"))

    // score side: per-doc token counts + totals (from array size, so
    // token-less docs still get a (doc, class) base row)
    val docTot = scoreDocs.select(col(idCol),
      size(col(toksCol)).cast("long").as("n_total"))
    val docTok = scoreDocs.select(col(idCol), explode(col(toksCol)).as("t"))
      .groupBy(col(idCol), col("t")).agg(count(lit(1)).as("dcnt"))
    val matched = docTok.join(tokLp, Seq("t"))
      .groupBy(col(idCol), col("label"))
      .agg(Q.dsum(Q.sig9(col("dcnt") * col("lp"))).as("s_tok"),
        sum(col("dcnt")).as("m"))

    docTot.crossJoin(broadcast(clsFull.select(
        col("label"), col("lprior"), col("lp_unseen"))))
      .join(matched, Seq(idCol, "label"), "left")
      .na.fill(0.0, Seq("s_tok")).na.fill(0L, Seq("m"))
      .withColumn("score", Q.sig9(col("lprior") + col("s_tok") +
        (col("n_total") - col("m")).cast("double") * col("lp_unseen")))
      .select(col(idCol), col("label"), col("score"))
  }

  /** K-fold cross-validated NB accuracy in ONE pass over the corpus —
    * the complement-counting trick: because NB training IS counting
    * and counts are additive, fold f's training model is just
    * (global counts − fold-f counts). So k-fold CV costs ONE counting
    * pass plus bounded-frame algebra, not k re-trainings — at 100 TB
    * that is the difference between one corpus scan and five. Even the
    * per-fold vocabulary falls out: a token is OUT of fold f's train
    * vocab exactly when all its occurrences sit in fold f
    * (tokTot == tokFold), so V_f = V − |{t exclusive to f}|.
    *
    * Folds come from the deterministic portable hash (the splitAssign
    * family), so assignment is reproducible and oracle-mirrorable. A
    * class with zero training docs in some fold's complement is
    * excluded from that fold's class set (ln 0 is undefined; the
    * standard CV treatment).
    *
    * The adjudication is the point: the DuckDB oracle trains each
    * fold the NAIVE way (k independent model builds on the literal
    * complements), so the complement algebra — counts, vocabulary
    * sizes, priors, likelihoods — is verified against direct
    * training, fold by fold.
    *
    * @return (fold, n_docs, n_correct, accuracy) — one row per fold.
    */
  def kfoldAccuracy(docs: DataFrame, idCol: String, labelCol: String,
      toksCol: String, k: Int, salt: String = "fold"): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val foldOf = pmod(Hashing.hash60(
      concat(lit(salt + ":"), col(idCol).cast("string"))), lit(k.toLong))
      .cast("int")
    // read many times below (doc counts, token explode, scoring):
    // materialize the folded corpus once (the FuzzyJoin convention)
    val base = docs.select(col(idCol).as("id"), col(labelCol).as("label"),
      col(toksCol).as("tk"), foldOf.as("fold")).transform(Checkpoints.cut)
    val tx = base.select(col("label"), col("fold"), explode(col("tk")).as("t"))

    val folds = spark_(base).range(0, k).select(col("id").cast("int").as("fold"))

    // ---- global and per-fold class statistics (all bounded frames)
    val gDocs = base.groupBy("label").agg(count(lit(1)).as("nd_g"))
    val fDocs = base.groupBy("label", "fold").agg(count(lit(1)).as("nd_f"))
    val gToks = tx.groupBy("label").agg(count(lit(1)).as("nt_g"))
    val fToks = tx.groupBy("label", "fold").agg(count(lit(1)).as("nt_f"))

    // ---- per-fold vocabulary size (V_f = V - tokens exclusive to f)
    val cntG = tx.groupBy("t", "label").agg(count(lit(1)).as("cnt_g"))
    val cntF = tx.groupBy("t", "label", "fold").agg(count(lit(1)).as("cnt_f"))
    val tokTot = cntG.groupBy("t").agg(sum(col("cnt_g")).as("tok_tot"))
    val tokFold = cntF.groupBy("t", "fold").agg(sum(col("cnt_f")).as("tok_fold"))
    val vG = tokTot.agg(count(lit(1)).as("v_g"))
    val exclusive = tokFold.join(tokTot, "t")
      .where(col("tok_fold") === col("tok_tot"))
      .groupBy("fold").agg(count(lit(1)).as("n_excl"))
    val vF = folds.join(exclusive, Seq("fold"), "left")
      .na.fill(0L, Seq("n_excl")).crossJoin(broadcast(vG))
      .select(col("fold"), (col("v_g") - col("n_excl")).as("v_size"))

    // ---- per-(class, fold) complement model constants
    val clsGrid = gDocs.join(gToks, Seq("label"), "left")
      .na.fill(0L, Seq("nt_g"))
      .crossJoin(broadcast(folds))
      .join(fDocs, Seq("label", "fold"), "left").na.fill(0L, Seq("nd_f"))
      .join(fToks, Seq("label", "fold"), "left").na.fill(0L, Seq("nt_f"))
      .select(col("label"), col("fold"),
        (col("nd_g") - col("nd_f")).as("nd_tr"),
        (col("nt_g") - col("nt_f")).as("nt_tr"))
      .where(col("nd_tr") > 0)
    val totTr = clsGrid.groupBy("fold").agg(sum(col("nd_tr")).as("n_tot_tr"))
    val clsFull = clsGrid.join(totTr, "fold").join(vF, "fold")
      .withColumn("lprior", graft.queries.Q.sig9(
        log(col("nd_tr").cast("double") / col("n_tot_tr").cast("double"))))
      .withColumn("lp_unseen", graft.queries.Q.sig9(
        log(lit(1.0) / (col("nt_tr") + col("v_size")).cast("double"))))

    // ---- complete per-fold (token, class) likelihood table over V_f
    val tlp = tokTot.crossJoin(broadcast(folds))
      .join(tokFold, Seq("t", "fold"), "left").na.fill(0L, Seq("tok_fold"))
      .where(col("tok_tot") > col("tok_fold")) // t in V_f
      .select(col("t"), col("fold"))
      .join(broadcast(clsFull.select(col("fold"), col("label"),
        col("nt_tr"), col("v_size"))), Seq("fold"))
      .join(cntG, Seq("t", "label"), "left").na.fill(0L, Seq("cnt_g"))
      .join(cntF, Seq("t", "label", "fold"), "left").na.fill(0L, Seq("cnt_f"))
      .withColumn("lp", graft.queries.Q.sig9(
        log((col("cnt_g") - col("cnt_f") + lit(1.0)) /
          (col("nt_tr") + col("v_size")).cast("double"))))
      .select(col("t"), col("fold"), col("label"), col("lp"))

    // ---- score each doc against ITS fold's complement model
    val docTot = base.select(col("id"), col("fold"),
      col("label").as("true_label"), size(col("tk")).cast("long").as("n_total"))
    val docTok = base.select(col("id"), col("fold"), explode(col("tk")).as("t"))
      .groupBy("id", "fold", "t").agg(count(lit(1)).as("dcnt"))
    val matched = docTok.join(tlp, Seq("t", "fold"))
      .groupBy("id", "fold", "label")
      .agg(graft.queries.Q.dsum(
        graft.queries.Q.sig9(col("dcnt") * col("lp"))).as("s_tok"),
        sum(col("dcnt")).as("m"))
    val scored = docTot
      .join(broadcast(clsFull.select(col("fold"), col("label"),
        col("lprior"), col("lp_unseen"))), Seq("fold"))
      .join(matched, Seq("id", "fold", "label"), "left")
      .na.fill(0.0, Seq("s_tok")).na.fill(0L, Seq("m"))
      .withColumn("score", graft.queries.Q.sig9(
        col("lprior") + col("s_tok") +
          (col("n_total") - col("m")).cast("double") * col("lp_unseen")))
      .select(col("id"), col("fold"), col("true_label"),
        col("label"), col("score"))

    val best = scored.groupBy("id").agg(max(col("score")).as("best_score"))
      .withColumnRenamed("id", "__best_id")
    val pred = scored.join(best,
        col("id") === col("__best_id") && col("score") === col("best_score"))
      .groupBy(col("id"), col("fold"), col("true_label"))
      .agg(min(col("label")).as("pred"))

    pred.groupBy("fold").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("pred") === col("true_label"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("accuracy",
        col("n_correct").cast("double") / col("n_docs").cast("double"))
      .select(col("fold").cast("long").as("fold"), col("n_docs"),
        col("n_correct"), col("accuracy"))
  }

  private def spark_(df: DataFrame) = df.sparkSession

  /** Argmax over [[score]] output with smallest-label tie-break:
    * (idCol, pred, best_score). */
  def predict(scored: DataFrame, idCol: String): DataFrame = {
    val best = scored.groupBy(col(idCol))
      .agg(max(col("score")).as("best_score"))
      .withColumnRenamed(idCol, "__best_id")
    scored.join(best,
        col(idCol) === col("__best_id") &&
          col("score") === col("best_score"))
      .groupBy(col(idCol), col("best_score"))
      .agg(min(col("label")).as("pred"))
      .select(col(idCol), col("pred"), col("best_score"))
  }
}
