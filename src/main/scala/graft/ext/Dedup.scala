package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Parquet

/** Deduplication operators for an LLM training-data pipeline.
  *
  * Scale design (the part that matters at 100 TB):
  *  - exact dedup is a hash-aggregate on a 128-bit content digest — one
  *    shuffle on the digest, map-side partial aggregation, no full-text
  *    comparisons after the digest projection;
  *  - near-dup is MinHash-LSH with BANDED candidate generation: documents
  *    are joined only within equal (band_id, band_key) buckets — a plain
  *    shuffle-hash join on a compact key. There is NO all-pairs crossJoin
  *    anywhere; candidate count scales with true-duplicate density, not
  *    with corpus size squared. Skewed buckets (boilerplate shingles) are
  *    handled naturally by AQE skew-join splitting since the join is a
  *    standard equi-join.
  *  - the verify stage (exact Jaccard on candidate pairs only) touches
  *    candidate pairs, not the corpus, so its cost is output-bounded.
  *
  * All hashes are the portable md5-based family from [[Hashing]], so
  * identity assignments are reproducible across engines and runs.
  */
object Dedup {
  import Hashing.P

  /** MinHash family geometry: `numHashes` permutations
    * h_i(x) = (a_i * x + b_i) mod P, split into `numBands` bands of
    * numHashes/numBands rows each. Fixed constants per (i) => the
    * signature of a document is a pure function of its text AND the
    * geometry, stable across runs — required for incremental dedup
    * (a signature store is only probe-able with the family that wrote
    * it; [[Dedup.probeSignatures]] takes the family for exactly that
    * reason).
    *
    * Tuning (the S-curve): with r = rows/band and b = bands, a pair at
    * Jaccard j becomes a candidate with probability 1 - (1 - j^r)^b,
    * which rises steeply around the threshold j* ≈ (1/b)^(1/r).
    *  - defaults (16, 4): r=4, j* ≈ 0.71 — the web-dedup sweet spot;
    *  - (32, 8): same r=4, same j*, twice the bands — HIGHER recall
    *    near the threshold (more chances to collide) at ~2x signature
    *    and band-join cost, with precision recovered by the exact
    *    verify stage;
    *  - (32, 4): r=8, j* ≈ 0.84 — a STRICTER curve for
    *    near-identical-only dedup.
    * Candidate cost scales with bands x bucket density; the exact
    * Jaccard verify keeps end precision at any geometry. */
  final case class MinHashFamily(numHashes: Int = 16, numBands: Int = 4) {
    require(numHashes > 0 && numBands > 0 && numHashes % numBands == 0,
      s"numBands must divide numHashes, got ($numHashes, $numBands)")
    val rowsPerBand: Int = numHashes / numBands
    val hashA: Seq[Long] = (1 to numHashes).map(i => 1000003L * i + 12289L)
    val hashB: Seq[Long] = (1 to numHashes).map(i => 7919L * i + 514229L)
  }

  /** The default (16 hashes, 4 bands) family — the geometry every
    * oracle query and the signature-store format use. */
  val DefaultFamily: MinHashFamily = MinHashFamily()
  val numHashes: Int = DefaultFamily.numHashes
  val numBands: Int = DefaultFamily.numBands
  val rowsPerBand: Int = DefaultFamily.rowsPerBand
  val hashA: Seq[Long] = DefaultFamily.hashA
  val hashB: Seq[Long] = DefaultFamily.hashB

  /** Exact dedup: group by 128-bit content digest, keep the smallest id.
    * Output: (content_md5, keep_id, n_copies). */
  def exactDedup(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Consecutive `width`-token segments of a token array (last segment
    * may be shorter) — the segmentation under [[segmentDedup]]. Bound
    * through a single-element array for the same lambda-CSE reason as
    * [[shingles]]. */
  def segments(toks: Column, width: Int): Column = {
    def over(tk: Column) =
      when(size(tk) > 0,
        transform(
          sequence(lit(0),
            floor((size(tk) - 1).cast("double") / width).cast("int")),
          i => array_join(slice(tk, i * width + lit(1), lit(width)), " ")))
        .otherwise(array().cast("array<string>"))
    element_at(transform(array(toks), tk => over(tk)), 1)
  }

  /** Segment-level exact dedup (the C4/CCNet move, reference semantics
    * from Raffel et al. 2020 §2.2 / Wenzek et al. 2020 §3.1, applied at
    * fixed token-window granularity because this corpus has no newline
    * structure): any `width`-token segment occurring in >= `minDocs`
    * DISTINCT documents is boilerplate and is removed from every
    * document; the per-document text is rebuilt from the surviving
    * segments in order.
    *
    * Scale shape: ONE text pass produces the exploded segment frame;
    * occurrence counting groups the distinct (segment-hash, doc) pairs
    * (map-side partial, one shuffle of 8-byte keys); the count joins
    * back to the segment frame as a plain equi-join (AQE skew-splits
    * boilerplate keys — exactly the rows this operator deletes).
    * Documents whose every segment was dropped (or that had no tokens)
    * re-enter through an id-only columnar scan, not a second text pass.
    * Identity is the portable 60-bit md5 hash: collision odds at 2^60
    * are negligible and BOTH engines hash identically, so the decision
    * is reproducible across runs, engines and partitionings.
    * Output: (idCol, n_segs, n_kept, new_text). */
  def segmentDedup(docs: DataFrame, width: Int = 8, minDocs: Int = 2,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val seg = docs
      .select(col(idCol), segments(Hashing.tokens(col(textCol)), width)
        .as("segs"))
      .select(col(idCol), posexplode(col("segs")).as(Seq("pos", "seg")))
      .withColumn("h", Hashing.hash60(col("seg")))
    val nDocs = seg.select(col("h"), col(idCol)).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("n_docs"))
    val rebuilt = seg.join(nDocs, Seq("h"))
      .withColumn("keep", col("n_docs") < minDocs)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            filter(
              array_sort(collect_list(struct(col("pos"),
                when(col("keep"), col("seg")).as("seg")))),
              s => s.getField("seg").isNotNull),
            s => s.getField("seg")),
          " ").as("new_text"))
    docs.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_segs"), lit(0L)).as("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("new_text"), lit("")).as("new_text"))
  }

  /** Overlapping `k`-token windows of a token array (stride 1, one per
    * start position 0..n-k; empty when the document is shorter than k)
    * — the span alphabet under [[spanDedup]]. Bound through a
    * single-element array for the same lambda-CSE reason as
    * [[shingles]]. */
  def spanWindows(toks: Column, k: Int): Column = {
    def over(tk: Column) =
      when(size(tk) >= k,
        transform(sequence(lit(0), size(tk) - k),
          p => array_join(slice(tk, p + 1, lit(k)), " ")))
        .otherwise(array().cast("array<string>"))
    element_at(transform(array(toks), tk => over(tk)), 1)
  }

  /** Exact duplicated-SPAN dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499 §3
    * ExactSubstr, at fixed k-token window granularity instead of
    * suffix-array maximal matches): every k-token span occurring
    * `minOccurs`+ times ANYWHERE in the corpus — across documents or
    * within one — is removed from every occurrence except the first
    * (ordered by (doc, position)). A token survives iff no removed
    * occurrence's window covers it; the text is rebuilt from surviving
    * tokens in order. Two exact copies of a document therefore keep the
    * first copy byte-identical and reduce the second to "" — the
    * suffix-array method's behavior at window resolution.
    *
    * This differs from [[segmentDedup]] (non-overlapping segments,
    * cross-DOCUMENT boilerplate, canonical copy also deleted): sliding
    * windows catch spans at ANY offset, the first occurrence is kept,
    * and within-document repetition counts.
    *
    * Scale shape: one text pass emits the window frame (n-k+1 rows per
    * n-token doc); duplication stats are a hash-aggregate on the 8-byte
    * window hash (map-side partial; `min(struct(doc, pos))` picks the
    * canonical occurrence in the same pass — no window function, so a
    * boilerplate span occurring millions of times costs its ONE reducer
    * only a count+min, and the join back is AQE-skew-splittable);
    * removal intervals then group per document, where interval merging
    * and token filtering are pure map-side array folds. Identity is the
    * portable 60-bit md5 hash (collision odds negligible at 2^60, both
    * engines hash identically).
    * Output: (idCol, n_tokens, n_removed, new_text). */
  def spanDedup(docs: DataFrame, k: Int = 8, minOccurs: Int = 2,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    // tokenize ONCE, at cluster width: toks is consumed three times
    // (both occ builds — stats gates the join back, so they run
    // back-to-back — plus the final reassembly join), and a
    // single-split documents scan runs each tokenize on one core
    // (guide §2.6; the tfidfKeywords shape). spread is a gated no-op
    // at scale; the checkpoint holds the token frame so the window
    // md5s downstream run at cluster width. occ itself is NOT
    // checkpointed: materializing it measured slower cold (block-store
    // cost) than re-hashing the windows wide.
    val toks = Checkpoints
      .spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), Hashing.tokens(col(textCol)).as("tk"))
      .transform(Checkpoints.cut)
    val occ = toks
      .select(col(idCol), posexplode(spanWindows(col("tk"), k))
        .as(Seq("pos", "w")))
      .select(col(idCol), col("pos"), Hashing.hash60(col("w")).as("h"))
    val stats = occ.groupBy(col("h"))
      .agg(count(lit(1)).as("cnt"),
        min(struct(col(idCol).as("cid"), col("pos").as("cpos")))
          .as("canon"))
    val rem = occ.join(stats, Seq("h"))
      .filter(col("cnt") >= minOccurs &&
        !(col(idCol) === col("canon.cid") &&
          col("pos") === col("canon.cpos")))
      .select(col(idCol), col("pos").as("s"), (col("pos") + k).as("e"))
    // per-doc disjoint removal intervals: sort by start, fold-merge
    val ivs = rem.groupBy(col(idCol))
      .agg(aggregate(
        array_sort(collect_list(struct(col("s"), col("e")))),
        array().cast("array<struct<s:int,e:int>>"),
        (acc, iv) => when(size(acc) === 0, array(iv))
          .when(iv.getField("s") <= element_at(acc, -1).getField("e"),
            concat(slice(acc, lit(1), size(acc) - 1),
              array(struct(
                element_at(acc, -1).getField("s").as("s"),
                greatest(element_at(acc, -1).getField("e"),
                  iv.getField("e")).as("e")))))
          .otherwise(concat(acc, array(iv)))).as("ivs"))
    toks.join(ivs, Seq(idCol), "left")
      .select(col(idCol), col("tk"),
        coalesce(col("ivs"), array().cast("array<struct<s:int,e:int>>"))
          .as("ivs"))
      .select(col(idCol),
        size(col("tk")).cast("long").as("n_tokens"),
        filter(col("tk"), (t, i) => !exists(col("ivs"),
          iv => i >= iv.getField("s") && i < iv.getField("e")))
          .as("kept"))
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).as("n_removed"),
        array_join(col("kept"), " ").as("new_text"))
  }

  /** Pick the representative of each duplicate cluster by BEST score
    * (ties to the smallest id) — the production keep rule: after
    * clustering, keep the highest-quality copy, not whichever happens
    * to carry the smallest id. `clusters` = (idCol, cluster_id) as
    * produced by [[dupClusters]]/[[dupClustersStar]]; `scores` =
    * (idCol, scoreCol) from any deterministic quality signal (token
    * count, unigram-LM score, compression ratio, ...).
    *
    * Scale shape: two hash aggregates per cluster (best score, then
    * smallest id among the best-scoring members — type-agnostic, so
    * string/UUID ids work like every other dedup entry point; an
    * arithmetic-negation tie-break would null out on non-numeric ids)
    * plus equi-joins back; everything map-side partials, no sort
    * window.
    *
    * Scores are attached with a LEFT join: a cluster member absent
    * from `scores` stays in the output (NULL score, keep audit
    * completeness — an inner join would silently erase it from the
    * keep/drop ledger) but is treated as WORST — it can only become
    * representative when its whole cluster is unscored, where the
    * smallest id wins (the null-safe `<=>` best-match). Output:
    * (idCol, cluster_id, score, keep). */
  def clusterRepresentatives(clusters: DataFrame, scores: DataFrame,
                             idCol: String = "doc_id",
                             scoreCol: String = "score"): DataFrame = {
    val j = clusters.join(
      scores.select(col(idCol), col(scoreCol).as("score")), Seq(idCol),
      "left")
    // max() skips NULLs: __best is the best SCORED member, or NULL for
    // an all-unscored cluster — where the null-safe match below lets
    // every member through and min(id) picks the rep
    val best = j.groupBy(col("cluster_id"))
      .agg(max(col("score")).as("__best"))
    val rep = j.join(best, Seq("cluster_id"))
      .filter(col("score") <=> col("__best"))
      .groupBy(col("cluster_id")).agg(min(col(idCol)).as("rep_id"))
    j.join(rep, Seq("cluster_id"))
      .select(col(idCol), col("cluster_id"), col("score"),
        (col(idCol) === col("rep_id")).as("keep"))
  }

  /** Distinct token n-gram shingles of a token array.
    *
    * The token expression is bound to a lambda variable via a
    * single-element array before the per-position lambda touches it:
    * Spark evaluates lambda ARGUMENTS once but does no CSE INSIDE
    * higher-order-function lambdas, and project collapse happily
    * inlines an upstream `tokens(text)` projection into every
    * `element_at` reference — n references per position x L positions
    * = O(n*L) re-tokenizations per document (measured 8x on the
    * decontamination query before this binding). */
  def shingles(toks: Column, n: Int = 3): Column = {
    def over(tk: Column) =
      when(size(tk) >= n,
        array_distinct(transform(sequence(lit(0), size(tk) - n),
          i => concat_ws("_",
            (0 until n).map(j => element_at(tk, i + j + 1)): _*))))
        .otherwise(array().cast("array<string>"))
    element_at(transform(array(toks), tk => over(tk)), 1)
  }

  /** Distinct shingle hashes in [0, P). */
  def shingleHashes(toks: Column, n: Int = 3): Column =
    array_distinct(transform(shingles(toks, n), s => Hashing.hashP(s)))

  /** MinHash signature (numHashes longs) of a shingle-hash array — the
    * per-row reference formula (the oracle SQL mirrors this shape).
    * Empty shingle set => NULL minhashes => NULL band keys, which never
    * join (SQL NULL semantics) — tiny docs are skipped, not clustered. */
  def minhashes(sh: Column,
                family: MinHashFamily = DefaultFamily): Column =
    array((family.hashA zip family.hashB).map { case (a, b) =>
      array_min(transform(sh, x => (lit(a) * x + lit(b)) % P))
    }: _*)

  /** Signature frame (id, mh0..mh15, sh) in ONE pass over exploded shingle
    * hashes. Spark does not CSE independent higher-order folds, so the
    * per-row form re-derives the md5 shingle hashes once per permutation;
    * here tokenize+md5 run once, the 16 mins partial-aggregate map-side,
    * and the single doc-keyed exchange is shared by the band and verify
    * branches (ReuseExchange). Docs with no shingles drop out (same
    * outcome as their NULL band keys never joining). */
  def minhashSig(toks: DataFrame, idCol: String, tokCol: String,
                 family: MinHashFamily = DefaultFamily): DataFrame = {
    val ex = toks.select(col(idCol),
      explode(shingleHashes(col(tokCol))).as("h"))
    val minExprs = (family.hashA zip family.hashB).zipWithIndex
      .map { case ((a, b), i) =>
        min((lit(a) * col("h") + lit(b)) % P).as(s"mh$i")
      }
    ex.groupBy(col(idCol))
      .agg(minExprs.head,
        (minExprs.tail :+
          sort_array(collect_set(col("h"))).as("sh")): _*)
  }

  /** (id, mh0..mhN-1, ...) -> exploded (id, band_id, band_key) frame. */
  def banded(sig: DataFrame, idCol: String,
             family: MinHashFamily = DefaultFamily): DataFrame = {
    val bandStructs = array((0 until family.numBands).map { bnd =>
      val key = concat((0 until family.rowsPerBand).flatMap { r =>
        val v = col(s"mh${bnd * family.rowsPerBand + r}").cast("string")
        if (r == 0) Seq(v) else Seq(lit("_"), v)
      }: _*)
      struct(lit(bnd).as("band_id"), key.as("band_key"))
    }: _*)
    sig.select(col(idCol), explode(bandStructs).as("b"))
      .select(col(idCol), col("b.band_id"), col("b.band_key"))
      .filter(col("band_key").isNotNull)
  }

  /** Exact Jaccard of two SORTED distinct-element long arrays (0 when
    * both empty): |I| via the codegen'd merge walk, |U| = |a|+|b|-|I| —
    * no hash-set materialization per pair. */
  def jaccard(a: Column, b: Column): Column =
    graft.functions.VectorExprs.sortedJaccard(a, b)

  /** jaccard for arbitrary (unsorted, any element type) arrays. */
  def jaccardUnsorted(a: Column, b: Column): Column = {
    val u = size(array_union(a, b))
    when(u === 0, lit(0.0))
      .otherwise(size(array_intersect(a, b)).cast("double") / u)
  }

  /** MinHash-LSH near-duplicate pairs: banded candidates, then exact
    * Jaccard verification at `threshold`. Output: (a_id, b_id, jacc),
    * a_id < b_id. */
  def minhashNearDups(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text",
                      threshold: Double = 0.5,
                      family: MinHashFamily = DefaultFamily): DataFrame =
    minhashNearDupsFromTokens(
      docs.select(col(idCol), Hashing.tokens(col(textCol)).as("tk")),
      idCol, "tk", threshold, family)

  /** Same, over a pre-tokenized (idCol, tokCol array<string>) frame. */
  def minhashNearDupsFromTokens(toks: DataFrame, idCol: String,
                                tokCol: String,
                                threshold: Double,
                                family: MinHashFamily = DefaultFamily)
      : DataFrame = {
    // materialize the signature frame ONCE: it feeds the band self-join
    // (twice) and both verify joins, and ObjectHashAggregate subtrees
    // are not deduplicated by ReuseExchange — without this the corpus
    // is shingled ~4x inside one query. A cut (not persist): it is
    // computed eagerly, is invisible to the CacheManager (so repeated
    // runs re-measure honestly), and needs no unpersist hook.
    val sig = Checkpoints.cut(minhashSig(toks, idCol, tokCol, family))
    val bands = banded(sig, idCol, family)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band_id") === col("y.band_id") &&
        col("x.band_key") === col("y.band_key") &&
        col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a_id"), col(s"y.$idCol").as("b_id"))
      .distinct()
    cand
      .join(sig.select(col(idCol).as("a_id"), col("sh").as("sa")), Seq("a_id"))
      .join(sig.select(col(idCol).as("b_id"), col("sh").as("sb")), Seq("b_id"))
      .select(col("a_id"), col("b_id"), jaccard(col("sa"), col("sb")).as("jacc"))
      .filter(col("jacc") >= threshold)
  }

  /** Candidate-stage precision/recall of the LSH banding against
    * EXACT ground truth over a (pre-sampled, bounded) token frame —
    * the band-geometry QA beside the S-curve math: truth = exact
    * Jaccard ≥ `threshold` over shingle-SHARING pairs (an
    * inverted-index equi-join — complete, since jacc > 0 requires a
    * shared shingle; never an all-pairs product); candidates = the
    * band self-join WITHOUT the verify filter (the stage being
    * graded). Pass a deterministic SAMPLE of the corpus — truth is
    * quadratic in matching pairs, so the input must be bounded by the
    * caller (the RECALL_SWEEP discipline, in-engine).
    *
    * @return one row: (n_sample, n_truth, n_cand, n_tp, precision,
    *         recall) — exact counts, two sig9'd divisions */
  def candidateEval(sample: DataFrame, idCol: String, tokCol: String,
      threshold: Double,
      family: MinHashFamily = DefaultFamily): DataFrame = {
    import graft.queries.Q
    // read 4x: the shingle explode, both truth verify joins, banding
    val sig = Checkpoints.cut(minhashSig(sample, idCol, tokCol, family))
    val ex = sig.select(col(idCol), explode(col("sh")).as("h"))
    val truth = ex.as("x").join(ex.as("y"),
        col("x.h") === col("y.h") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a_id"), col(s"y.$idCol").as("b_id"))
      .distinct()
      .join(sig.select(col(idCol).as("a_id"), col("sh").as("sa")),
        Seq("a_id"))
      .join(sig.select(col(idCol).as("b_id"), col("sh").as("sb")),
        Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        jaccard(col("sa"), col("sb")).as("jacc"))
      .where(col("jacc") >= threshold)
      .transform(Checkpoints.cut) // read twice: n_truth and the tp semi-join
    val bands = banded(sig, idCol, family)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_key") === col("y.band_key") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a_id"), col(s"y.$idCol").as("b_id"))
      .distinct()
      .transform(Checkpoints.cut) // read twice: n_cand and tp
    val tp = cand.join(truth.select(col("a_id"), col("b_id")),
      Seq("a_id", "b_id"), "left_semi")
    sample.agg(count(lit(1)).cast("long").as("n_sample"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).cast("long")
        .as("n_truth"))))
      .crossJoin(broadcast(cand.agg(count(lit(1)).cast("long")
        .as("n_cand"))))
      .crossJoin(broadcast(tp.agg(count(lit(1)).cast("long")
        .as("n_tp"))))
      .select(col("n_sample"), col("n_truth"), col("n_cand"),
        col("n_tp"),
        when(col("n_cand") > 0, Q.sig9(col("n_tp").cast("double") /
          col("n_cand").cast("double"))).as("precision"),
        when(col("n_truth") > 0, Q.sig9(col("n_tp").cast("double") /
          col("n_truth").cast("double"))).as("recall"))
  }

  /** 60-bit SimHash of a token multiset: bit j of the print is the sign of
    * sum over tokens of (+1 / -1) on bit j of the token hash.
    *
    * Shape: explode token hashes, 60 conditional sums in one hash
    * aggregate. The 60 sums partial-aggregate map-side, so the doc-keyed
    * shuffle carries one 61-column row per doc — and the md5 token hash is
    * computed exactly once per token (60 independent per-row folds would
    * re-derive it per bit; Spark does not CSE across higher-order
    * lambdas — measured 100x slower). Docs with zero tokens drop out. */
  val simhashBits = 60
  def simhashDf(toks: DataFrame, idCol: String, tokCol: String): DataFrame = {
    val ex = toks.select(col(idCol),
      explode(transform(col(tokCol), t => Hashing.hash60(t))).as("h"))
    val bitSums = (0 until simhashBits).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, lit(1L))
        .otherwise(lit(-1L))).as(s"b$j"))
    ex.groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol), (0 until simhashBits).map(j =>
        when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
  }

  /** SimHash LSH keys: 4 x 15-bit chunks; near-dup candidates share at
    * least one chunk (Hamming <= 3 guaranteed found). Same banded-join
    * shape as MinHash — no all-pairs comparison at scale. */
  def simhashChunks(sh: Column): Seq[Column] =
    (0 until 4).map(b => shiftright(sh, b * 15).bitwiseAND(lit(0x7FFFL)))

  /** Persist a corpus's signature table for INCREMENTAL dedup: new
    * batches probe stored signatures instead of re-shingling the corpus.
    * The store carries ONLY (id, mh0..mh15) — ~136 bytes per document
    * regardless of text length, NOT the full shingle-hash set (which at
    * 8 bytes per shingle is roughly the size of the text itself).
    * Exact-Jaccard verification re-shingles just the CANDIDATE stored
    * docs (see [[probeSignatures]]), so probe cost stays
    * candidate-bounded while the store stays a vanishing fraction of
    * corpus bytes. The portable hash family means any engine (or a
    * later engine version) reproduces signatures bit-for-bit.
    *
    * Scale note: each probe's band join exchanges the stored-side band
    * rows once (a billion-doc store is ~10s of GB — one modest shuffle,
    * and AQE splits skewed boilerplate buckets). If even that shuffle
    * matters at your batch cadence, register the banded form as a
    * catalog table bucketed on band_key (the technique BucketedJoinSpec
    * pins) and the probe join plans exchange-free on the stored side. */
  def writeSignatures(toks: DataFrame, idCol: String, tokCol: String,
                      path: String,
                      family: MinHashFamily = DefaultFamily): Unit =
    minhashSig(toks, idCol, tokCol, family).drop("sh")
      .write.mode("overwrite").parquet(path)

  /** Near-dup pairs of a NEW batch against the stored corpus signatures
    * AND within the batch itself. Output (a_id, b_id, jacc) where a_id is
    * always the new-batch doc.
    *
    * `corpusToks` supplies (idCol, tokCol) for the STORED docs — the
    * kept corpus the store indexes. It is touched only through a
    * semi-join on the candidate ids, so the expensive re-shingling runs
    * on candidate docs alone (LSH-bounded, not corpus-bounded); with a
    * kept table laid out on the id column the scan itself prunes too.
    * Stored candidates missing from `corpusToks` cannot be verified and
    * are skipped. */
  def probeSignatures(newToks: DataFrame, idCol: String, tokCol: String,
                      sigPath: String, threshold: Double,
                      corpusToks: DataFrame,
                      family: MinHashFamily = DefaultFamily): DataFrame = {
    val stored = Parquet.read(newToks.sparkSession, sigPath)
    require(stored.columns.count(_.startsWith("mh")) == family.numHashes,
      s"signature store at $sigPath was written with a different " +
        s"MinHash family than (${family.numHashes}, ${family.numBands})")
    // batch-sized, but still referenced by banding + both verify joins:
    // materialize once (same rationale as minhashNearDupsFromTokens)
    val newSig = Checkpoints.cut(minhashSig(newToks, idCol, tokCol, family))
    val newBands = banded(newSig, idCol, family)
    val allBands = newBands.unionByName(banded(stored, idCol, family))
    // candidate pairs are LSH-bounded; materialize because they feed the
    // b-id semi-join AND the verify join below
    val cand = newBands.as("x").join(allBands.as("y"),
        col("x.band_id") === col("y.band_id") &&
        col("x.band_key") === col("y.band_key") &&
        col(s"x.$idCol") =!= col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a_id"), col(s"y.$idCol").as("b_id"))
      .distinct()
      .transform(Checkpoints.cut) // read twice: the b-id semi-join, verify
    // shingle sets for the b side: batch docs carry them in-flight in
    // newSig; stored candidates are re-shingled from corpusToks after
    // the semi-join prunes it to candidate ids
    val storedCandSh = corpusToks
      .join(cand.select(col("b_id")), corpusToks(idCol) === col("b_id"),
        "left_semi")
      .join(newSig.select(col(idCol)), Seq(idCol), "left_anti")
      .select(col(idCol).as("b_id"),
        sort_array(shingleHashes(col(tokCol))).as("sb"))
    val bSh = newSig.select(col(idCol).as("b_id"), col("sh").as("sb"))
      .unionByName(storedCandSh)
    cand
      .join(newSig.select(col(idCol).as("a_id"), col("sh").as("sa")),
        Seq("a_id"))
      .join(bSh, Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        jaccard(col("sa"), col("sb")).as("jacc"))
      .filter(col("jacc") >= threshold)
  }

  /** Append a batch's signatures (id + minhashes only) to an existing
    * store. */
  def appendSignatures(toks: DataFrame, idCol: String, tokCol: String,
                       path: String,
                       family: MinHashFamily = DefaultFamily): Unit =
    minhashSig(toks, idCol, tokCol, family).drop("sh")
      .write.mode("append").parquet(path)

  /** Tombstone dropped documents: rewrite the store without `ids`
    * (takedowns, retention expiry, re-ingest corrections). The rewrite
    * is STORE-bounded — an anti-join over ~136 B/doc rows, never a
    * corpus pass — and lands via the same staged swap as compaction,
    * so concurrent probes never see a half-written store. Batch
    * tombstones on the same maintenance cadence as [[Layout.compact]];
    * per-document rewrites of a large store are the anti-pattern. */
  def deleteSignatures(ids: DataFrame, idCol: String,
                       sigPath: String): Unit = {
    val spark = ids.sparkSession
    Layout.recoverSwap(spark, sigPath)
    val staging = Layout.hiddenSibling(sigPath, ".tombstone-staging")
    Parquet.read(spark, sigPath)
      .join(ids.select(col(idCol)), Seq(idCol), "left_anti")
      .write.mode("overwrite").parquet(staging)
    Layout.swapIn(spark, sigPath, staging)
  }

  /** Incremental near-dup dedup of a new batch against (and within) the
    * signature store: returns the KEPT rows and appends their signatures,
    * so the next batch probes an up-to-date store. Keep rules: a stored
    * doc always beats a new one; within a batch the smallest id wins.
    * This is the streaming-ingest shape at 100 TB — each batch costs
    * O(batch) shingling plus an LSH-bucket join against stored
    * signatures (~136 B/doc), never a corpus rescan; only candidate
    * stored docs are re-read from `corpus` for exact verification.
    *
    * Each append lands one parquet delta; once the store exceeds
    * `compactAfterFiles` files it is bin-packed via [[Layout.compact]],
    * so a year of hourly batches probes a handful of right-sized files,
    * not 8760 fragments.
    *
    * `keptSink` persists the kept rows and runs BEFORE the signature
    * append: a crash between the two leaves kept docs without
    * signatures — future near-dups of them may be re-admitted
    * (redundancy, recoverable by re-signing). The reverse order would
    * register signatures for docs that never landed, silently dropping
    * every future copy of them. */
  def incrementalDedup(batch: DataFrame, idCol: String, tokCol: String,
                       sigPath: String, threshold: Double,
                       corpus: DataFrame,
                       compactAfterFiles: Int = 64,
                       keptSink: DataFrame => Unit = _ => (),
                       family: MinHashFamily = DefaultFamily): DataFrame = {
    val spark = batch.sparkSession
    // a compaction crash must surface as a recoverable swap, never as a
    // missing store that silently restarts dedup from scratch
    Layout.recoverSwap(spark, sigPath)
    val p = new org.apache.hadoop.fs.Path(sigPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) // first batch: empty store, right schema
      minhashSig(batch.limit(0), idCol, tokCol, family).drop("sh")
        .write.parquet(sigPath)
    val pairs =
      probeSignatures(batch, idCol, tokCol, sigPath, threshold, corpus,
        family)
    val storedIds = Parquet.read(spark, sigPath)
      .select(col(idCol).as("b_id")).distinct()
    val drops = pairs.join(storedIds, Seq("b_id"), "left_semi")
      .select(col("a_id"))
      .unionByName(pairs.filter(col("a_id") > col("b_id"))
        .select(col("a_id")))
      .distinct()
    // materialize before appending: the kept plan READS sigPath, and the
    // signature append WRITES it — break the self-reference first.
    val kept = batch
      .join(drops, batch(idCol) === drops("a_id"), "left_anti")
      .transform(Checkpoints.cut)
    keptSink(kept)
    appendSignatures(kept, idCol, tokCol, sigPath, family)
    if (Layout.dataFiles(spark, sigPath).size > compactAfterFiles)
      Layout.compact(spark, sigPath)
    kept
  }

  /** Connected components via ALTERNATING large-star / small-star
    * rounds — the published two-phase MapReduce algorithm (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14).
    * Each round is two grouped-min aggregations + equi-joins, and the
    * edge set converges to stars (every node linked directly to its
    * component minimum) in O(log n) rounds REGARDLESS of component
    * diameter — where min-label propagation ([[dupClusters]]) needs
    * diameter rounds. Near-dup graphs at web scale contain long
    * mutation chains (A ~ B ~ C ~ ... for progressively edited copies),
    * so this is the difference between ~10 and ~hundreds of shuffles.
    * Same output contract as [[dupClusters]]; an equivalence spec
    * adjudicates them against each other.
    *
    * Regime choice: [[dupClusters]] does less work per round (one
    * join+agg vs two agg+join phases plus a set-difference convergence
    * check), so it wins when components are shallow — the common case
    * for near-dup clusters. Reach for the star variant when component
    * diameter is unknown or large (transitive chains, link graphs).
    */
  def dupClustersStar(pairs: DataFrame, aCol: String = "a_id",
                      bCol: String = "b_id", maxIter: Int = 50): DataFrame = {
    // nodes come from the UNFILTERED pairs: a doc appearing only in a
    // self-pair is a singleton cluster, not absent (same contract as
    // dupClusters)
    val allNodes = Checkpoints.cut(
      pairs.select(col(aCol).as("node"))
        .unionByName(pairs.select(col(bCol).as("node"))).distinct())
    var edges = Checkpoints.cut(
      pairs.select(col(aCol).as("x"), col(bCol).as("y"))
        .filter(col("x") =!= col("y"))
        .distinct())

    // large-star: processed from the SMALLER endpoint u of every edge,
    // each larger neighbor re-links to min(neighborhood(u) + u)
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("y").as("x"), col("x").as("y")))
      val mins = sym.groupBy(col("x")).agg(min(col("y")).as("mn"))
        .select(col("x"), least(col("x"), col("mn")).as("m"))
      sym.join(mins, "x")
        .filter(col("y") > col("x"))
        .select(col("y").as("x"), col("m").as("y"))
        .filter(col("x") =!= col("y"))
        .distinct()
    }

    // small-star: orient big->small; all small neighbors (and the
    // center) re-link to the smallest
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("x"), col("y")).as("x"),
        least(col("x"), col("y")).as("y"))
      val mins = dir.groupBy(col("x")).agg(min(col("y")).as("m"))
      dir.join(mins, "x")
        .select(col("y").as("x"), col("m").as("y"))
        .unionByName(mins.select(col("x"), col("m").as("y")))
        .filter(col("x") =!= col("y"))
        .distinct()
    }

    var converged = false
    var i = 0
    while (i < maxIter && !converged) {
      val next = Checkpoints.cut(smallStar(largeStar(edges)))
      // both sides are distinct sets: equal counts + empty one-sided
      // difference is full set equality at half the anti-join cost
      converged = next.count() == edges.count() &&
        next.exceptAll(edges).isEmpty
      edges = next
      i += 1
    }
    // a NON-converged edge set is not a star forest — labeling it would
    // emit duplicate doc_id rows with conflicting clusters. Fail loudly.
    if (!converged) throw new IllegalStateException(
      s"dupClustersStar did not converge in $maxIter rounds " +
        "(rounds needed = O(log n)); raise maxIter")
    // converged edge set is a star forest: (node, root) with node>root;
    // roots have no outgoing edge and label themselves
    allNodes
      .join(edges.select(col("x").as("node"), col("y").as("cluster")),
        Seq("node"), "left")
      .select(col("node").as("doc_id"),
        coalesce(col("cluster"), col("node")).as("cluster_id"))
  }

  /** Duplicate-cluster assignment: connected components over near-dup
    * pairs, each doc labeled with the minimum doc id in its component
    * (the cluster representative to KEEP; the rest are the drop set).
    *
    * Iterative min-label propagation: every round each node takes the min
    * of its own and its neighbors' labels; converges in diameter rounds
    * (dup clusters are shallow — chains of mutated copies — so this is
    * small). Lineage is truncated per round ([[Checkpoints.cut]]).
    * The per-round convergence count is the standard
    * iterative-algorithm driver check, not a data collect. */
  def dupClusters(pairs: DataFrame, aCol: String = "a_id",
                  bCol: String = "b_id", maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col(aCol).as("x"), col(bCol).as("y"))
    // checkpoint the edge set BEFORE the loop: it is joined every round,
    // and without this the whole upstream pair-generation pipeline
    // (shingling, banding, verification) re-executes per iteration.
    val sym = Checkpoints.cut(
      edges
        .unionByName(edges.select(col("y").as("x"), col("x").as("y")))
        .distinct())
    // start from round 1's state directly: with identity labels the
    // first round computes least(self, min neighbor) — one grouped min,
    // no join. Saves a full join+agg round every query.
    var labels = Checkpoints.cut(
      sym.groupBy(col("x").as("node"))
        .agg(min(col("y")).as("mn"))
        .select(col("node"), least(col("node"), col("mn")).as("cluster")))
    var converged = false
    var i = 0
    while (i < maxIter && !converged) {
      val nbrMin = sym.join(labels, sym("y") === labels("node"))
        .groupBy(col("x")).agg(min(col("cluster")).as("nc"))
      // carry a changed flag through the update so convergence reads the
      // already-materialized checkpoint instead of re-joining old labels
      val updated = Checkpoints.cut(
        labels.as("l")
          .join(nbrMin, col("l.node") === nbrMin("x"), "left")
          .select(col("l.node").as("node"),
            least(col("l.cluster"), coalesce(col("nc"), col("l.cluster")))
              .as("cluster"),
            (col("nc").isNotNull && col("nc") < col("l.cluster"))
              .as("changed")))
      converged = updated.filter(col("changed")).isEmpty
      labels = updated.select(col("node"), col("cluster"))
      i += 1
    }
    labels.select(col("node").as("doc_id"), col("cluster").as("cluster_id"))
  }
}
