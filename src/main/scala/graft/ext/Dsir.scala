package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.queries.Q

/** Data selection via importance resampling (DSIR, Xie et al. 2023):
  * score every corpus document by how much more likely its hashed
  * n-gram features are under a TARGET domain's feature distribution
  * than under the raw corpus distribution, then keep the top-k.
  * The standard recipe for "give me general-web data that looks like
  * my high-quality target domain" at pretraining scale.
  *
  * Features are unigram + bigram hashes folded into `buckets` buckets
  * (hashed n-gram features are what makes this tractable: the model is
  * a B-row table, not a vocabulary). Per-bucket log ratios
  * ln(p_target(b) / p_raw(b)) with Laplace smoothing are computed once
  * — B rows, the only libm step, sig9-normalized like the BM25 idf —
  * and BROADCAST; the corpus side is one explode + broadcast join +
  * doc-keyed decimal sum. Nothing about the model grows with corpus
  * size, and re-scoring a new batch reuses the frozen ratio table.
  *
  * Determinism contract: each ratio FACTOR is an exact BIGINT cast to
  * double (counts < 2^53 are exact), then multiplied and divided as
  * doubles — two correctly-rounded IEEE steps, bit-identical in any
  * engine, and immune to the BIGINT overflow that an integer product
  * (ct+1)*(Nq+B) would hit once feature totals pass ~1e14 at corpus
  * scale. ln() therefore sees identical input everywhere; sig9 absorbs
  * the ulp spread of libm; per-doc sums are decimal-routed. Selection ranks by
  * (weight desc, id) — the paper's Gumbel-noise sampling is replaced by
  * the deterministic top-k so re-runs pick the same documents.
  */
object Dsir {

  /** Hashed unigram+bigram feature buckets of a token array — NON-
    * distinct (DSIR weights are sums over feature occurrences).
    * Same lambda-binding shape as Dedup.shingles: `toks` is bound once
    * via a single-element array so project collapse cannot inline the
    * tokenizer into every element_at reference. */
  def featureBuckets(toks: Column, buckets: Int): Column = {
    def over(tk: Column) = concat(
      transform(tk, t => Hashing.hashP(t) % buckets),
      when(size(tk) >= 2,
        transform(sequence(lit(0), size(tk) - 2),
          i => Hashing.hashP(concat_ws("_",
            element_at(tk, i + 1), element_at(tk, i + 2))) % buckets))
        .otherwise(array().cast("array<bigint>")))
    element_at(transform(array(toks), tk => over(tk)), 1)
  }

  /** Per-bucket smoothed log importance ratio table:
    * (bucket, lr) with lr = sig9(ln((ct+1)(Nq+B) / ((cq+1)(Nt+B)))) —
    * ct/cq = target/raw occurrence counts of the bucket, Nt/Nq their
    * totals. B rows; built from one aggregate over both exploded
    * feature streams plus two window totals over its rows. */
  def logRatios(targetFeats: DataFrame, rawFeats: DataFrame,
                buckets: Int): DataFrame = {
    // ONE (b)-keyed count aggregate over both corpora's features, and
    // the totals are window sums over its <= B rows: each corpus is
    // featurized once, with no lineage cut (a separate global
    // aggregate would re-run the full tokenize+explode scan). nt is
    // NULL when the target has no features, like a sum over no rows.
    val counts = targetFeats.select(col("b"), lit(1L).as("t"))
      .unionAll(rawFeats.select(col("b"), lit(0L).as("t")))
      .groupBy(col("b"))
      .agg(sum(col("t")).as("ct"), sum(lit(1L) - col("t")).as("cq"))
    val nt = sum(col("ct")).over()
    // raw-side buckets drive the table: a bucket never seen in the raw
    // corpus can never be referenced by a scored document
    counts
      .select(col("b"), col("ct"), col("cq"),
        when(nt > 0L, nt).as("nt"), sum(col("cq")).over().as("nq"))
      .where(col("cq") > 0L)
      .select(col("b"),
        Q.sig9(log(
          ((col("ct") + 1L).cast("double") *
            (col("nq") + buckets).cast("double")) /
          ((col("cq") + 1L).cast("double") *
            (col("nt") + buckets).cast("double"))))
          .as("lr"))
  }

  /** Importance weight per document: decimal-routed sum of the bucket
    * log ratios over the doc's feature occurrences (0.0 for docs with
    * no features — neutral, never selected over real evidence).
    * Output: (idCol, weight). */
  def importanceWeights(docs: DataFrame, target: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text",
                        buckets: Int = 512): DataFrame = {
    val docFeats = docs.select(col(idCol),
      explode(featureBuckets(Hashing.tokens(col(textCol)), buckets)).as("b"))
    val targetFeats = target.select(
      explode(featureBuckets(Hashing.tokens(col(textCol)), buckets)).as("b"))
    val lr = logRatios(targetFeats, docFeats.select(col("b")), buckets)
    val summed = docFeats.join(broadcast(lr), Seq("b"))
      .groupBy(col(idCol)).agg(Q.dsum(col("lr")).as("w"))
    docs.select(col(idCol))
      .join(summed, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("w"), lit(0.0)).as("weight"))
  }

  /** Deterministic top-k selection: every doc with its rank by
    * (weight desc, id asc) and the keep decision.
    *
    * The full ranking is the adjudication face (negatives carry their
    * rank too). At 100 TB rank only the winners:
    * `weights.orderBy(desc("weight"), asc(id)).limit(k)` plans as
    * TakeOrderedAndProject — per-partition heaps, no global sort — and
    * a `weight > kth` semi-filter recovers the selected set; the global
    * row_number here would funnel the corpus through one partition. */
  def selectTopK(weights: DataFrame, k: Int,
                 idCol: String = "doc_id"): DataFrame =
    weights.select(col(idCol), col("weight"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("weight").desc, col(idCol).asc))
          .cast("long").as("sel_rank"))
      .withColumn("selected", col("sel_rank") <= k)
}
