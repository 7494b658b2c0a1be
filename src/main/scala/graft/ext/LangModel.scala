package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-statistics language-model scoring: per-document signals
  * derived from a unigram frequency model of the corpus itself —
  * the cheap LM-quality proxy every training-data pipeline runs
  * before paying for a neural scorer.
  *
  * All scores are exact rationals (token count ratios), not log-probs:
  * ln() is libm-dependent and order-sensitive, while count ratios are
  * bit-reproducible across engines, runs and partitionings — the same
  * determinism contract as the rest of the dedup/sampling family. The
  * per-document mean routes through DECIMAL(38,15) so the sum is
  * partition-order-independent.
  *
  * Scale shape: one corpus-keyed shuffle for the vocabulary counts,
  * then a token-keyed shuffle join of the exploded corpus against the
  * vocabulary, then one doc-keyed aggregation. The vocabulary join is
  * the skewed one (stopwords hit every partition) — it is a standard
  * equi-join, so AQE skew splitting applies; salting via [[Skew]] is
  * the manual fallback.
  */
object LangModel {

  /** Corpus unigram counts: (tok, c) — the "model". Persist this frame
    * once per corpus snapshot; scoring batches join against it. */
  def unigramCounts(toks: DataFrame, tokCol: String): DataFrame =
    toks.select(explode(col(tokCol)).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))

  /** Per-document unigram scores against `counts` (typically
    * [[unigramCounts]] of the same corpus, or of a reference corpus):
    *
    *  - mean_tok_prob: mean over token POSITIONS of c(tok)/N — high for
    *    documents made of common words;
    *  - min_tok_prob: the rarest token's probability — a gibberish /
    *    OCR-noise tripwire;
    *  - rare_frac: fraction of positions whose token has corpus count
    *    <= rareMax — the "mostly-unseen vocabulary" filter signal.
    *
    * Documents with zero tokens have no positions and drop out (same
    * contract as the explode-based dedup operators).
    *
    * Out-of-vocabulary tokens (absent from `counts` — only possible
    * when scoring against a REFERENCE corpus) score p = 0 and count as
    * rare: the left join keeps every position, so a document the
    * reference has never seen scores as maximally suspicious instead
    * of silently scoring only its common tokens (or vanishing).
    */
  def score(toks: DataFrame, idCol: String, tokCol: String,
            counts: DataFrame, rareMax: Long = 2L): DataFrame = {
    val ex = toks.select(col(idCol), explode(col(tokCol)).as("tok"))
    val total = counts.agg(sum(col("c")).cast("long").as("n_total"))
    val j = ex.join(counts, Seq("tok"), "left")
      .crossJoin(broadcast(total))
      .select(col(idCol),
        (coalesce(col("c"), lit(0L)).cast("double")
          / col("n_total").cast("double")).as("p"),
        coalesce(col("c"), lit(0L)).as("c"))
    j.groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        graft.queries.Q.davg(col("p")).as("mean_tok_prob"),
        min(col("p")).as("min_tok_prob"),
        (sum(when(col("c") <= rareMax, lit(1L)).otherwise(lit(0L)))
          .cast("double") / count(lit(1))).as("rare_frac"))
  }

  /** Adjacent (t1, t2) token pairs; bound through a single-element
    * array so an inlined upstream tokenizer evaluates once (the
    * Dedup.shingles lambda-CSE lesson). */
  private def pairsOf(tk0: org.apache.spark.sql.Column) =
    element_at(transform(array(tk0), tk =>
      when(size(tk) >= 2,
        transform(sequence(lit(0), size(tk) - 2), i =>
          struct(element_at(tk, i + 1).as("t1"),
            element_at(tk, i + 2).as("t2"))))
        .otherwise(array().cast("array<struct<t1:string,t2:string>>"))), 1)

  /** Corpus bigram counts: (t1, t2, c2) — the second model frame.
    * Persist alongside [[unigramCounts]] per corpus snapshot. */
  def bigramCounts(toks: DataFrame, tokCol: String): DataFrame =
    toks.select(explode(pairsOf(col(tokCol))).as("p"))
      .groupBy(col("p.t1").as("t1"), col("p.t2").as("t2"))
      .agg(count(lit(1)).as("c2"))

  /** Pointwise mutual information per adjacent pair — the classic
    * collocation detector (Church & Hanks '90; the word2vec-era
    * phrase-merging criterion): PMI(a,b) =
    * ln((c2/N2) / ((c1(a)/N1)·(c1(b)/N1))). Positive = the pair
    * co-occurs more than its parts predict ("new york"); ~0 =
    * independence; negative = avoidance. `minCount` drops rare pairs
    * whose PMI is noise (the standard practice).
    *
    * Shape: two token-keyed equi-joins against the unigram model +
    * two one-row broadcast totals — scan-bound at any corpus size.
    * Determinism: the probability ratio is fixed IEEE arithmetic on
    * exact counts; ln is the one libm step, sig9'd. */
  def pmi(uni: DataFrame, bi: DataFrame, minCount: Long = 5L): DataFrame = {
    val n1 = uni.agg(sum(col("c")).cast("long").as("n1"))
    val n2 = bi.agg(sum(col("c2")).cast("long").as("n2"))
    bi.where(col("c2") >= minCount)
      .join(uni.select(col("tok").as("t1"), col("c").as("c1a")), "t1")
      .join(uni.select(col("tok").as("t2"), col("c").as("c1b")), "t2")
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .withColumn("pmi", graft.queries.Q.sig9(log(
        (col("c2").cast("double") / col("n2").cast("double")) /
          ((col("c1a").cast("double") / col("n1").cast("double")) *
            (col("c1b").cast("double") / col("n1").cast("double"))))))
      .select(col("t1"), col("t2"), col("c2"), col("pmi"))
  }

  /** Interpolated bigram scoring — the CCNet-style perplexity gate in
    * its engine-portable, ln()-free form. Per bigram position:
    * p = lambda·(c2(t1,t2)/c1(t1)) + (1−lambda)·(c1(t2)/N) — the
    * Jelinek-Mercer interpolation on raw probabilities, so every value
    * stays a ratio of exact BIGINTs combined by identical IEEE ops in
    * any engine. Documents with fewer than two tokens carry no
    * positions and drop (the unigram scorer covers them). OOV tokens
    * (reference-corpus scoring) contribute 0 to both terms; the
    * c1(t1) denominator coalesces to 1 in that case — c2 is
    * necessarily 0, so the bigram term is exactly 0, never 0/0.
    * Output: (idCol, n_bigrams, mean_interp_p, min_interp_p). */
  def bigramScore(toks: DataFrame, idCol: String, tokCol: String,
                  uni: DataFrame, bi: DataFrame,
                  lambda: Double = 0.7): DataFrame = {
    val total = uni.agg(sum(col("c")).cast("long").as("n_total"))
    val ex = toks.select(col(idCol), explode(pairsOf(col(tokCol))).as("p"))
      .select(col(idCol), col("p.t1").as("t1"), col("p.t2").as("t2"))
    val j = ex
      .join(bi, Seq("t1", "t2"), "left")
      .join(uni.select(col("tok").as("t1"), col("c").as("c1_t1")),
        Seq("t1"), "left")
      .join(uni.select(col("tok").as("t2"), col("c").as("c1_t2")),
        Seq("t2"), "left")
      .crossJoin(broadcast(total))
      .select(col(idCol),
        (lit(lambda) * (coalesce(col("c2"), lit(0L)).cast("double")
            / coalesce(col("c1_t1"), lit(1L)).cast("double"))
          + lit(1 - lambda) * (coalesce(col("c1_t2"), lit(0L)).cast("double")
            / col("n_total").cast("double"))).as("p"))
    j.groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        graft.queries.Q.davg(col("p")).as("mean_interp_p"),
        min(col("p")).as("min_interp_p"))
  }

  /** Vocabulary build with coverage accounting — the tokenizer-prep op:
    * the top-V tokens by corpus frequency, each with its rank and the
    * CUMULATIVE fraction of all token positions covered by the
    * vocabulary up to it ("the top 100 tokens cover 38% of the
    * corpus"). The curve is how a vocabulary size is chosen.
    *
    * Scale shape: the vocabulary count is the one aggregation that
    * genuinely needs the full distinct token space (map-side partial
    * aggregation carries it); the top-V cut is TakeOrderedAndProject
    * (per-partition heaps — the full vocabulary is never sorted), and
    * only the V surviving rows enter the single-partition cumulative
    * window. Ties break by token so the vocabulary is re-run-stable.
    *
    * Coverage stays an exact rational: cumulative BIGINT sum divided by
    * the BIGINT total — one correctly-rounded double per row, identical
    * in any engine.
    */
  def vocabCoverage(toks: DataFrame, tokCol: String, topV: Int): DataFrame = {
    // the counts frame feeds BOTH the top-V cut and the grand total;
    // unmaterialized, each consumer would re-run the full corpus scan
    // (vocab-sized checkpoint vs a second 100 TB pass — same contract
    // as the ivfIndex artifact)
    val counts = unigramCounts(toks, tokCol).transform(Checkpoints.cut)
    val total = counts.agg(sum(col("c")).cast("long").as("n_total"))
    val top = counts.orderBy(col("c").desc, col("tok").asc).limit(topV)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("tok").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    top.crossJoin(broadcast(total))
      .select(
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("tok").asc)).cast("long")
          .as("vocab_rank"),
        col("tok"), col("c").as("cnt"),
        (sum(col("c")).over(w).cast("double")
          / col("n_total").cast("double")).as("cum_cov"))
  }
}
