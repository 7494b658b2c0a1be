package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Shared, Tables}
import graft.ext.{Dedup, Hashing, Multimodal, Similarity, TextStats}
import Q._

/** The LLM-data-pipeline operator families (dedup, similarity search,
  * multimodal, text analysis) under the DuckDB oracle, over the driver's
  * `documents` / `embeddings` fixtures.
  *
  * All hashing is the portable md5-based family from graft.ext.Hashing, so
  * the oracle SQL reproduces signatures exactly (`CAST('0x'||substr(
  * md5(x),1,15) AS BIGINT)` == Spark `conv(substring(md5(x),1,15),16,10)`).
  * Dot products are left-to-right double folds on both engines
  * (Spark `aggregate` == DuckDB `list_reduce`), so cosine scores are
  * bit-identical. Where an operator is approximate by nature (LSH-bucketed
  * ANN), the query emits a deterministic recall self-check frame and the
  * oracle pins the expected verdict.
  *
  * The fixtures contain no duplicates, so the dedup queries build a corpus
  * with KNOWN duplicates deterministically (id-shifted exact copies /
  * token-truncated near copies / perturbed embeddings) — the same
  * construction in Spark and in the oracle SQL.
  */
object ExtQueries {
  type QFn = (SparkSession, String) => DataFrame

  private val P = Hashing.P
  private val hashSql = (e: String) => sqlHash60(e)
  private val hashPSql = (e: String) => sqlHashP(e)

  /** Tokenized documents CTE (mirrors Hashing.tokens). */
  private val toksSql =
    """toks AS (
      |  SELECT doc_id, lang, text,
      |         list_filter(string_split(text, ' '), t -> t <> '') AS tk
      |  FROM documents)""".stripMargin

  /** Distinct shingle-hash CTE over a (doc_id, tk) frame `src`
    * (mirrors Dedup.shingleHashes). */
  private def shSql(src: String) =
    s"""shs AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(
       |      list_distinct(list_transform(range(0, len(tk) - 2),
       |        i -> tk[i+1] || '_' || tk[i+2] || '_' || tk[i+3])),
       |      s -> ${hashPSql("s")})) AS sh
       |  FROM $src)""".stripMargin

  /** Sequential double fold / dot / norm — delegated to the shared
    * cross-engine definitions in [[Q]]. */
  private def foldSql(listExpr: String) = Q.sqlFold(listExpr)
  private def dotSql(qa: String, ca: String) = Q.sqlDot(qa, ca)
  private def nsqSql(v: String) = Q.sqlNsq(v)

  // ===== text analysis ==================================================

  private val textStats: QFn = (s, d) =>
    TextStats.stats(Tables.documents(s, d))

  private val textStatsSql = {
    val stop = TextStats.stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH $toksSql,
       |st AS (
       |  SELECT doc_id,
       |    len(tk) AS n_tokens,
       |    len(list_distinct(tk)) AS n_uniq_tokens,
       |    length(text) AS n_chars,
       |    CASE WHEN len(tk) = 0 THEN NULL
       |         ELSE CAST(list_sum(list_transform(tk,
       |                t -> CAST(length(t) AS BIGINT))) AS DOUBLE) / len(tk)
       |         END AS avg_token_len,
       |    CASE WHEN len(tk) = 0 THEN NULL
       |         ELSE CAST(len(list_filter(tk, t -> t IN ($stop))) AS DOUBLE)
       |              / len(tk) END AS stopword_ratio,
       |    CASE WHEN length(text) = 0 THEN NULL
       |         ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
       |              AS DOUBLE) / length(text) END AS alpha_ratio
       |  FROM toks)
       |SELECT doc_id, n_tokens, n_uniq_tokens, n_chars, avg_token_len,
       |  stopword_ratio, alpha_ratio,
       |  CASE WHEN stopword_ratio >= CAST(0.03 AS DOUBLE) THEN 'en'
       |       ELSE 'other' END AS lang_guess
       |FROM st""".stripMargin
  }

  private val fingerprint: QFn = (s, d) =>
    TextStats.fingerprints(Tables.documents(s, d))

  private val qualityFilter: QFn = (s, d) =>
    TextStats.qualityFilter(Tables.documents(s, d))

  private val tokenCount: QFn = (s, d) =>
    TextStats.tokenCounts(Tables.documents(s, d))

  /** Heuristic lang-ID confusion counts against the labeled lang column —
    * the evaluation artifact a real lang-ID stage ships with. (The
    * fixture text is synthetic English-ish regardless of label, so the
    * numbers measure the heuristic's determinism, not linguistics.) */
  private val langEval: QFn = (s, d) =>
    TextStats.stats(Tables.documents(s, d))
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang")),
        Seq("doc_id"))
      .groupBy(col("lang"), col("lang_guess"))
      .agg(count(lit(1)).as("n"))

  private val langEvalSql = {
    val stop = TextStats.stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH $toksSql,
       |g AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN (CASE WHEN len(tk) = 0 THEN NULL
       |          ELSE CAST(len(list_filter(tk, t -> t IN ($stop)))
       |               AS DOUBLE) / len(tk) END) >= CAST(0.03 AS DOUBLE)
       |         THEN 'en' ELSE 'other' END AS lang_guess
       |  FROM toks)
       |SELECT lang, lang_guess, COUNT(*) AS n
       |FROM g GROUP BY lang, lang_guess""".stripMargin
  }

  private val tokenCountSql =
    s"""SELECT doc_id,
       |  CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
       |    AS BIGINT) AS n_ws_tokens,
       |  CAST(len(regexp_extract_all(text, '${TextStats.bpeishPattern}'))
       |    AS BIGINT) AS n_bpeish_tokens
       |FROM documents""".stripMargin

  private[queries] val qualityFilterSql =
    s"""WITH $toksSql,
       |st AS (
       |  SELECT doc_id, len(tk) AS n_tokens,
       |    CASE WHEN len(tk) = 0 THEN NULL
       |         ELSE CAST(list_sum(list_transform(tk,
       |                t -> CAST(length(t) AS BIGINT))) AS DOUBLE) / len(tk)
       |         END AS avg_token_len,
       |    CASE WHEN len(tk) = 0 THEN NULL
       |         ELSE CAST(len(list_filter(tk,
       |                t -> t IN (${TextStats.stopwords.map(w => s"'$w'")
                           .mkString(", ")}))) AS DOUBLE)
       |              / len(tk) END AS stopword_ratio,
       |    CASE WHEN length(text) = 0 THEN NULL
       |         ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
       |              AS DOUBLE) / length(text) END AS alpha_ratio
       |  FROM toks),
       |r AS (
       |  SELECT doc_id,
       |    CASE WHEN n_tokens < 10 THEN 'too_short'
       |         WHEN avg_token_len > CAST(12.0 AS DOUBLE) THEN 'gibberish'
       |         WHEN stopword_ratio < CAST(0.01 AS DOUBLE)
       |           THEN 'low_stopword'
       |         WHEN alpha_ratio < CAST(0.5 AS DOUBLE) THEN 'low_alpha'
       |         ELSE 'ok' END AS reason
       |  FROM st)
       |SELECT doc_id, reason, reason = 'ok' AS keep FROM r""".stripMargin

  private val fingerprintSql =
    s"""WITH $toksSql
       |SELECT doc_id,
       |  list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(tk, t -> ${hashPSql("t")})),
       |    (a, b) -> (a * ${Hashing.B} + b) % $P) AS fp
       |FROM toks""".stripMargin

  // ===== dedup: exact ===================================================

  private val dedupExact: QFn = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val corpus = docs.unionByName(
      docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
    Dedup.exactDedup(corpus)
  }

  private val dedupExactSql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000 AS doc_id, text FROM documents
      |  WHERE doc_id % 5 = 0)
      |SELECT md5(text) AS content_md5, MIN(doc_id) AS keep_id,
      |       COUNT(*) AS n_copies
      |FROM corpus GROUP BY md5(text)""".stripMargin

  // ===== dedup: MinHash-LSH near-dup ====================================

  /** Corpus with known near-dups: every 7th doc also appears with its
    * last two tokens dropped, id-shifted by 20000. */
  private def nearCorpus(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), Hashing.tokens(col("text")).as("tk"))
    toks.unionByName(toks.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 20000).as("doc_id"),
        slice(col("tk"), lit(1), greatest(size(col("tk")) - 2, lit(0)))
          .as("tk")))
  }

  private val nearCorpusSql =
    s"""corpus AS (
       |  SELECT doc_id, tk FROM toks
       |  UNION ALL
       |  SELECT doc_id + 20000 AS doc_id,
       |         tk[1:greatest(len(tk) - 2, 0)] AS tk
       |  FROM toks WHERE doc_id % 7 = 0)""".stripMargin

  private val dedupMinhash: QFn = (s, d) =>
    Dedup.minhashNearDupsFromTokens(nearCorpus(s, d), "doc_id", "tk", 0.5)

  /** Shared CTE chain: tokens -> near corpus -> shingle hashes ->
    * minhash signatures -> bands -> candidates -> verified pairs `j`. */
  private val minhashCtes = {
    val mh = (Dedup.hashA zip Dedup.hashB).map { case (a, b) =>
      s"list_min(list_transform(sh, x -> ($a * x + $b) % $P))"
    }
    val mhList = mh.mkString("[", ",\n      ", "]")
    val bandSelects = (0 until Dedup.numBands).map { bnd =>
      val key = (0 until Dedup.rowsPerBand)
        .map(r => s"CAST(mh[${bnd * Dedup.rowsPerBand + r + 1}] AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $bnd AS band_id, $key AS k FROM mh"
    }.mkString("\n  UNION ALL\n  ")
    s"""$toksSql,
       |$nearCorpusSql,
       |${shSql("corpus")},
       |mh AS (
       |  SELECT doc_id, $mhList AS mh FROM shs),
       |b AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM b x JOIN b y
       |    ON x.band_id = y.band_id AND x.k = y.k AND x.doc_id < y.doc_id),
       |j AS (
       |  SELECT a_id, b_id,
       |    CASE WHEN len(list_distinct(sa.sh || sb.sh)) = 0
       |         THEN CAST(0.0 AS DOUBLE)
       |         ELSE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |              / len(list_distinct(sa.sh || sb.sh)) END AS jacc
       |  FROM cand
       |  JOIN shs sa ON sa.doc_id = a_id
       |  JOIN shs sb ON sb.doc_id = b_id)""".stripMargin
  }

  private val dedupMinhashSql =
    s"""WITH $minhashCtes
       |SELECT a_id, b_id, jacc FROM j
       |WHERE jacc >= CAST(0.5 AS DOUBLE)""".stripMargin

  // ===== dedup: LSH candidate-stage quality eval ========================

  /** Candidate-stage precision/recall of the MinHash-LSH banding
    * against EXACT ground truth on a deterministic document sample —
    * "is my band geometry catching the near-dups?" measured in-engine
    * (the RECALL_SWEEP discipline, as an adjudicated query). The
    * sample coin hashes the BASE id (doc_id % 20000) so a planted twin
    * lands in or out WITH its original — sampled truth pairs exist at
    * every SF. Ground truth = exact Jaccard ≥ t over shingle-SHARING
    * sample pairs (an inverted-index equi-join — complete, since
    * jacc > 0 requires a shared shingle; never an all-pairs product).
    * Candidates = the band self-join WITHOUT the verify filter — the
    * stage this query exists to grade. All counts exact; the two
    * ratios are single sig9'd divisions. */
  private val dedupEvalQ: QFn = (s, d) => {
    val sample = nearCorpus(s, d).filter(
      Hashing.hashP(concat(lit("deval:"),
        (col("doc_id") % 20000).cast("string"))) % 4 === 0)
    Dedup.candidateEval(sample, "doc_id", "tk", threshold = 0.5)
  }

  private val dedupEvalSql = {
    val mh = (Dedup.hashA zip Dedup.hashB).map { case (a, b) =>
      s"list_min(list_transform(sh, x -> ($a * x + $b) % $P))"
    }
    val mhList = mh.mkString("[", ",\n      ", "]")
    val bandSelects = (0 until Dedup.numBands).map { bnd =>
      val key = (0 until Dedup.rowsPerBand)
        .map(r => s"CAST(mh[${bnd * Dedup.rowsPerBand + r + 1}] AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $bnd AS band_id, $key AS k FROM mh"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH $toksSql,
       |$nearCorpusSql,
       |samp AS MATERIALIZED (
       |  SELECT doc_id, tk FROM corpus
       |  WHERE ${hashPSql("'deval:' || CAST(doc_id % 20000 AS VARCHAR)")}
       |    % 4 = 0),
       |${shSql("samp")},
       |ex AS (SELECT doc_id, unnest(sh) AS h FROM shs),
       |tp0 AS (
       |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM ex x JOIN ex y ON x.h = y.h AND x.doc_id < y.doc_id),
       |truth AS MATERIALIZED (
       |  SELECT a_id, b_id FROM (
       |    SELECT a_id, b_id,
       |      CASE WHEN len(list_distinct(sa.sh || sb.sh)) = 0
       |           THEN CAST(0.0 AS DOUBLE)
       |           ELSE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |                / len(list_distinct(sa.sh || sb.sh)) END AS jacc
       |    FROM tp0
       |    JOIN shs sa ON sa.doc_id = a_id
       |    JOIN shs sb ON sb.doc_id = b_id)
       |  WHERE jacc >= CAST(0.5 AS DOUBLE)),
       |mh AS (SELECT doc_id, $mhList AS mh FROM shs),
       |b AS (
       |  $bandSelects),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM b x JOIN b y
       |    ON x.band_id = y.band_id AND x.k = y.k
       |      AND x.doc_id < y.doc_id),
       |cnt AS (
       |  SELECT
       |    (SELECT CAST(count(*) AS BIGINT) FROM samp) AS n_sample,
       |    (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
       |    (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
       |    (SELECT CAST(count(*) AS BIGINT) FROM cand c
       |     WHERE EXISTS (SELECT 1 FROM truth t
       |       WHERE t.a_id = c.a_id AND t.b_id = c.b_id)) AS n_tp)
       |SELECT n_sample, n_truth, n_cand, n_tp,
       |  CASE WHEN n_cand > 0 THEN ${Q.sqlSig9(
            "CAST(n_tp AS DOUBLE) / CAST(n_cand AS DOUBLE)")} END
       |    AS precision,
       |  CASE WHEN n_truth > 0 THEN ${Q.sqlSig9(
            "CAST(n_tp AS DOUBLE) / CAST(n_truth AS DOUBLE)")} END
       |    AS recall
       |FROM cnt""".stripMargin
  }

  // ===== dedup: duplicate-cluster assignment (connected components) =====

  // label propagation carries the oracle row (cheapest on the shallow
  // components near-dup graphs actually have); the O(log n)-round star
  // variant is pinned equal by DedupSpec for the deep-graph regime
  private val dedupClusters: QFn = (s, d) =>
    Dedup.dupClusters(
      Dedup.minhashNearDupsFromTokens(nearCorpus(s, d), "doc_id", "tk", 0.5))

  private val dedupClustersSql =
    s"""WITH RECURSIVE $minhashCtes,
       |pairs AS (
       |  SELECT a_id, b_id FROM j WHERE jacc >= CAST(0.5 AS DOUBLE)),
       |nodes(id) AS (
       |  SELECT a_id FROM pairs UNION SELECT b_id FROM pairs),
       |sym(x, y) AS (
       |  SELECT a_id, b_id FROM pairs UNION SELECT b_id, a_id FROM pairs),
       |reach(node, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT s.y, r.r FROM reach r JOIN sym s ON s.x = r.node)
       |SELECT node AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
       |FROM reach GROUP BY node""".stripMargin

  // ===== train/eval split leakage =======================================

  /** Eval-contamination QA: verified near-dup pairs that STRADDLE a
    * train/val/test boundary — the post-split check that keeps held-out
    * sets honest (a near-duplicate of a training document sitting in
    * val/test silently inflates eval). Composes the adjudicated MinHash
    * chain with the deterministic split assignment; at scale the cost
    * is the LSH candidate join (never all-pairs) plus two id-keyed
    * joins against the O(1)-per-row split projection — the split label
    * is a pure hash function of the id, so the "split frame" needs no
    * shuffle of its own. The planted near corpus guarantees straddling
    * pairs exist (pair members draw independent split coins). */
  private val leakWeights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  private val splitLeakage: QFn = (s, d) => {
    val corpus = nearCorpus(s, d)
    val pairs = Dedup.minhashNearDupsFromTokens(corpus, "doc_id", "tk", 0.5)
    val splits = graft.ext.Sampling
      .splitAssign(corpus.select(col("doc_id")), "doc_id", leakWeights)
      .select(col("doc_id"), col("split"))
    pairs
      .join(splits.select(col("doc_id").as("a_id"),
        col("split").as("a_split")), Seq("a_id"))
      .join(splits.select(col("doc_id").as("b_id"),
        col("split").as("b_split")), Seq("b_id"))
      .filter(col("a_split") =!= col("b_split"))
      .select(col("a_id"), col("b_id"), col("jacc"),
        col("a_split"), col("b_split"))
  }

  private val splitLeakageSql = {
    val cum = leakWeights.map(_._2).scanLeft(0.0)(_ + _).tail
    val cases = leakWeights.init.zip(cum.init)
      .map { case ((name, _), c) => s"WHEN u < CAST($c AS DOUBLE) THEN '$name'" }
      .mkString(" ")
    s"""WITH $minhashCtes,
       |sp AS (
       |  SELECT doc_id,
       |    CASE $cases ELSE '${leakWeights.last._1}' END AS split
       |  FROM (
       |    SELECT doc_id,
       |      CAST(${hashSql("'split:' || CAST(doc_id AS VARCHAR)")} % 1000000
       |        AS DOUBLE) / 1000000.0 AS u
       |    FROM corpus))
       |SELECT a_id, b_id, jacc, sa.split AS a_split, sb.split AS b_split
       |FROM j
       |JOIN sp sa ON sa.doc_id = a_id
       |JOIN sp sb ON sb.doc_id = b_id
       |WHERE jacc >= CAST(0.5 AS DOUBLE) AND sa.split <> sb.split""".stripMargin
  }

  // ===== dedup: best-quality cluster representative =====================

  /** The production keep rule on top of the cluster assignment: keep
    * the highest-scoring member (score = token count here — any
    * deterministic quality signal plugs in), ties to the smallest id.
    * Every 7th doc is deliberately UNSCORED so the partial-coverage
    * contract (left-join: unscored members stay in the ledger as
    * worst, never become rep unless the whole cluster is unscored) is
    * itself adjudicated. */
  private val clusterRep: QFn = (s, d) => {
    val corpus = nearCorpus(s, d)
    val clusters = Dedup.dupClusters(
      Dedup.minhashNearDupsFromTokens(corpus, "doc_id", "tk", 0.5))
    Dedup.clusterRepresentatives(clusters,
      corpus.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), size(col("tk")).cast("long").as("score")))
  }

  private val clusterRepSql =
    s"""WITH RECURSIVE $minhashCtes,
       |pairs AS (
       |  SELECT a_id, b_id FROM j WHERE jacc >= CAST(0.5 AS DOUBLE)),
       |nodes(id) AS (
       |  SELECT a_id FROM pairs UNION SELECT b_id FROM pairs),
       |sym(x, y) AS (
       |  SELECT a_id, b_id FROM pairs UNION SELECT b_id, a_id FROM pairs),
       |reach(node, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT s.y, r.r FROM reach r JOIN sym s ON s.x = r.node),
       |cl AS (
       |  SELECT node AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
       |  FROM reach GROUP BY node),
       |jn AS (
       |  SELECT cl.doc_id, cl.cluster_id, sc.score
       |  FROM cl LEFT JOIN (
       |    SELECT doc_id, CAST(len(tk) AS BIGINT) AS score
       |    FROM corpus WHERE doc_id % 7 <> 0) sc USING (doc_id)),
       |best AS (
       |  SELECT cluster_id, doc_id AS rep_id FROM (
       |    SELECT cluster_id, doc_id, ROW_NUMBER() OVER (
       |      PARTITION BY cluster_id
       |      ORDER BY score DESC NULLS LAST, doc_id) AS rn
       |    FROM jn) WHERE rn = 1)
       |SELECT jn.doc_id, jn.cluster_id, jn.score,
       |       jn.doc_id = best.rep_id AS keep
       |FROM jn JOIN best USING (cluster_id)""".stripMargin

  // ===== contrastive training pairs =====================================

  /** (anchor, positive) from the verified near-dup pairs; negative =
    * deterministic bucket-min hash-pick from the near corpus. */
  private val contrastive: QFn = (s, d) => {
    val corpus = nearCorpus(s, d)
    graft.ext.Contrastive.pairs(
      Dedup.minhashNearDupsFromTokens(corpus, "doc_id", "tk", 0.5),
      corpus.select(col("doc_id")))
  }

  private val contrastiveSql =
    s"""WITH $minhashCtes,
       |nd AS (SELECT a_id, b_id FROM j WHERE jacc >= CAST(0.5 AS DOUBLE)),
       |sym AS (
       |  SELECT a_id AS x, b_id AS y FROM nd
       |  UNION
       |  SELECT b_id AS x, a_id AS y FROM nd),
       |bm AS (
       |  SELECT ${hashSql("CAST(doc_id AS VARCHAR)")} % 64 AS bkt,
       |         MIN(doc_id) AS m
       |  FROM corpus GROUP BY 1),
       |pr AS (
       |  SELECT a_id, b_id,
       |         ${hashSql("'neg:' || CAST(a_id AS VARCHAR)")} % 64 AS h0
       |  FROM nd)
       |SELECT pr.a_id AS anchor_id, pr.b_id AS pos_id,
       |  CASE
       |    WHEN m0.m IS NOT NULL AND m0.m <> a_id AND m0.m <> b_id
       |         AND s0.y IS NULL
       |      THEN m0.m
       |    WHEN m1.m IS NOT NULL AND m1.m <> a_id AND m1.m <> b_id
       |         AND s1.y IS NULL
       |      THEN m1.m
       |    WHEN m2.m IS NOT NULL AND m2.m <> a_id AND m2.m <> b_id
       |         AND s2.y IS NULL
       |      THEN m2.m
       |  END AS neg_id
       |FROM pr
       |LEFT JOIN bm m0 ON m0.bkt = pr.h0
       |LEFT JOIN bm m1 ON m1.bkt = (pr.h0 + 1) % 64
       |LEFT JOIN bm m2 ON m2.bkt = (pr.h0 + 2) % 64
       |LEFT JOIN sym s0 ON s0.x = pr.a_id AND s0.y = m0.m
       |LEFT JOIN sym s1 ON s1.x = pr.a_id AND s1.y = m1.m
       |LEFT JOIN sym s2 ON s2.x = pr.a_id AND s2.y = m2.m""".stripMargin

  // ===== dedup: SimHash fingerprints ====================================

  private val simhash: QFn = (s, d) =>
    Dedup.simhashDf(
      Tables.documents(s, d)
        .select(col("doc_id"), Hashing.tokens(col("text")).as("tk")),
      "doc_id", "tk")

  private val simhashSql = {
    val terms = (0 until Dedup.simhashBits).map { j =>
      s"(CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN (x >> $j) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE CAST(0 AS BIGINT) END)"
    }.mkString("\n    + ")
    s"""WITH $toksSql,
       |th AS (
       |  SELECT doc_id, list_transform(tk, t -> ${hashSql("t")}) AS hs
       |  FROM toks)
       |SELECT doc_id,
       |    $terms AS simhash
       |FROM th""".stripMargin
  }

  // ===== dedup: n-gram Jaccard nearest neighbor =========================

  /** Exact n-gram-Jaccard nearest neighbor for a PROBE SET (every 25th
    * doc) against the lang-blocked corpus — the "match an incoming batch
    * against the catalog" shape. Probe-bounded, so cost is
    * O(|probes| x |block|), not corpus-quadratic; full-corpus NN at scale
    * goes through the MinHash-LSH path (q_x_dedup_minhash). */
  private val jaccardNn: QFn = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), Hashing.tokens(col("text")).as("tk"))
    val sig = toks.select(col("doc_id"), col("lang"),
      array_sort(Dedup.shingleHashes(col("tk"))).as("sh"))
    val a = sig.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id"), col("lang"), col("sh").as("sa"))
    val b = sig.select(col("doc_id").as("nn_id"), col("lang"),
      col("sh").as("sb"))
    val pairs = b.join(broadcast(a), Seq("lang"))
      .filter(col("doc_id") =!= col("nn_id"))
      .select(col("doc_id"), col("nn_id"),
        Dedup.jaccard(col("sa"), col("sb")).as("jacc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("jacc").desc, col("nn_id").asc)
    pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("nn_id"), col("jacc"))
  }

  private val jaccardNnSql =
    s"""WITH $toksSql,
       |sh0 AS (
       |  SELECT doc_id, lang,
       |    list_distinct(list_transform(
       |      list_distinct(list_transform(range(0, len(tk) - 2),
       |        i -> tk[i+1] || '_' || tk[i+2] || '_' || tk[i+3])),
       |      s -> ${hashPSql("s")})) AS sh
       |  FROM toks),
       |pairs AS (
       |  SELECT a.doc_id, b.doc_id AS nn_id,
       |    CASE WHEN len(list_distinct(a.sh || b.sh)) = 0
       |         THEN CAST(0.0 AS DOUBLE)
       |         ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |              / len(list_distinct(a.sh || b.sh)) END AS jacc
       |  FROM sh0 a JOIN sh0 b
       |    ON a.lang = b.lang AND a.doc_id <> b.doc_id
       |  WHERE a.doc_id % 25 = 0),
       |r AS (
       |  SELECT doc_id, nn_id, jacc, ROW_NUMBER() OVER (
       |    PARTITION BY doc_id ORDER BY jacc DESC, nn_id) AS rn
       |  FROM pairs)
       |SELECT doc_id, nn_id, jacc FROM r WHERE rn = 1""".stripMargin

  // ===== similarity: brute-force cosine top-k ===========================

  private val annBrute: QFn = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.bruteTopK(emb.filter(col("vec_id") < 20), emb, 5)
  }

  private val annBruteSql =
    s"""WITH n AS (
       |  SELECT vec_id, embedding, ${nsqSql("embedding")} AS nsq
       |  FROM embeddings),
       |p AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid,
       |    ${dotSql("q.embedding", "c.embedding")}
       |      / (sqrt(q.nsq) * sqrt(c.nsq)) AS cosv
       |  FROM n q CROSS JOIN n c
       |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
       |r AS (
       |  SELECT qid, cid, ${sqlSig9("cosv")} AS score FROM p),
       |t AS (
       |  SELECT qid, cid, score, ROW_NUMBER() OVER (
       |    PARTITION BY qid ORDER BY score DESC, cid) AS rn
       |  FROM r)
       |SELECT qid, CAST(rn AS BIGINT) AS "rank", cid, score
       |FROM t WHERE rn <= 5""".stripMargin

  // ===== similarity: MMR diverse re-ranking =============================

  /** Brute top-20 per query (qid < 20) re-ranked to a diverse top-5 by
    * MMR at lambda 0.7. The oracle replays all five selection rounds
    * as generated CTEs — argmax of rel, then argmax of
    * lambda·rel − (1−lambda)·max-sim-to-selected over the shrinking
    * remainder — adjudicating the sequential selection itself. */
  // ===== greedy k-center diversity selection ==========================

  /** Farthest-first core-set over the embedding table: 8 spread-out
    * representatives, seeded at the smallest vec_id. Every distance is
    * the fixed IEEE (nsq+nsq)−2·dot chain over the shared fold
    * contract, so the per-round argmax adjudicates bit-for-bit; the
    * oracle is the same greedy unrolled as 8 MATERIALIZED CTE rounds
    * (the MMR convention — DuckDB's default CTE inlining re-expands
    * the d-chain exponentially). */
  private val kcK = 8

  private val kcenterQ: QFn = (s, d) =>
    graft.ext.Similarity.kCenterSelect(Tables.embeddings(s, d),
        "vec_id", "embedding", k = kcK)
      .select(col("rnk"), col("id").as("vec_id"), col("dist"))

  private val kcenterSql = {
    def sqd(a: String, c: String) =
      s"((${Q.sqlNsq(a)} + ${Q.sqlNsq(c)}) - 2 * ${Q.sqlDot(a, c)})"
    val blocks = new StringBuilder(
      s"""e AS (SELECT vec_id, embedding FROM embeddings),
         |c1 AS (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT 1),
         |d1 AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding,
         |    ${sqd("e.embedding", "c1.embedding")} AS md
         |  FROM e, c1)""".stripMargin)
    for (i <- 2 to kcK) {
      blocks.append(
        s""",
           |c$i AS (SELECT vec_id, embedding, md FROM d${i - 1}
           |  ORDER BY md DESC, vec_id ASC LIMIT 1),
           |d$i AS MATERIALIZED (
           |  SELECT d.vec_id, d.embedding,
           |    LEAST(d.md, ${sqd("d.embedding", s"c$i.embedding")}) AS md
           |  FROM d${i - 1} d, c$i)""".stripMargin)
    }
    val head = "SELECT CAST(1 AS BIGINT) AS rnk, c1.vec_id, " +
      "CAST(NULL AS DOUBLE) AS dist FROM c1"
    val sel = head +: (2 to kcK).map(i =>
      s"SELECT CAST($i AS BIGINT), c$i.vec_id, " +
        s"${Q.sqlSig9(s"c$i.md")} FROM c$i")
    s"WITH $blocks\n${sel.mkString("\nUNION ALL ")}"
  }

  // ===== top principal component (power iteration) ====================

  private val pcaDims = 64 // embeddings fixture dimension
  private val pcaIters = 8

  /** [[graft.ext.Similarity.pcaTop]] over the embedding corpus — the
    * oracle re-derives the sig9'd means, two-pass-centered
    * dsumStable(9) covariance and all eight power-iteration rounds
    * (matrix-vector fold, norm, normalize) as a generated CTE chain,
    * adjudicating the full spectral trajectory. */
  private val pcaQ: QFn = (s, d) =>
    Similarity.pcaTop(Tables.embeddings(s, d), "vec_id", "embedding",
      iters = pcaIters)

  private val pcaSql = {
    val rounds = (1 to pcaIters).map { r =>
      val vp = s"v${r - 1}"
      s"""u$r AS MATERIALIZED (
         |  SELECT c.i AS i,
         |    ${sqlFold(s"list(${sqlSig9("c.m * v.lo")} ORDER BY c.j)")}
         |      AS u
         |  FROM cov c JOIN $vp v ON c.j = v.i GROUP BY 1),
         |nm$r AS MATERIALIZED (
         |  SELECT ${sqlSig9(
              s"sqrt(${sqlFold(s"list(${sqlSig9("u * u")} ORDER BY i)")})")}
         |    AS nrm
         |  FROM u$r),
         |v$r AS MATERIALIZED (
         |  SELECT i, ${sqlSig9("u / nrm")} AS lo
         |  FROM u$r CROSS JOIN nm$r)""".stripMargin
    }.mkString(",\n")
    // each sig9 level lands in its OWN materialized CTE column —
    // sqlSig9 references its argument ~6x, so nesting levels inline
    // exponentially and stall DuckDB on the d²·n pairs frame
    s"""WITH dims AS (SELECT unnest(range(1, ${pcaDims + 1})) AS i),
       |xs AS MATERIALIZED (
       |  SELECT vec_id, dims.i AS i,
       |    ${sqlSig9("CAST(embedding[dims.i] AS DOUBLE)")} AS x
       |  FROM embeddings CROSS JOIN dims
       |  WHERE embedding IS NOT NULL),
       |mu AS (
       |  SELECT i, ${sqlSig9(s"${Q.sqlDsumStable("x", 9)} / " +
            "CAST(count(*) AS DOUBLE)")} AS mu,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM xs GROUP BY 1),
       |nv AS (SELECT max(n) AS n FROM mu),
       |cx AS MATERIALIZED (
       |  SELECT xs.vec_id, xs.i, ${sqlSig9("xs.x - mu.mu")} AS c
       |  FROM xs JOIN mu ON mu.i = xs.i),
       |pairs AS (
       |  SELECT l.i AS i, r.i AS j, ${sqlSig9("l.c * r.c")} AS t
       |  FROM cx l JOIN cx r ON l.vec_id = r.vec_id),
       |cov AS MATERIALIZED (
       |  SELECT i, j, ${sqlSig9(s"${Q.sqlDsumStable("t", 9)} / " +
            "CAST(nv.n - 1 AS DOUBLE)")} AS m
       |  FROM pairs CROSS JOIN nv GROUP BY i, j, nv.n),
       |v0 AS MATERIALIZED (
       |  SELECT i, CASE WHEN i = 1 THEN CAST(1.0 AS DOUBLE)
       |    ELSE CAST(0.0 AS DOUBLE) END AS lo
       |  FROM dims),
       |$rounds
       |SELECT CAST(v$pcaIters.i AS BIGINT) AS i, v$pcaIters.lo AS loading,
       |  nm$pcaIters.nrm AS lambda, nv.n AS n_vecs
       |FROM v$pcaIters CROSS JOIN nm$pcaIters CROSS JOIN nv""".stripMargin
  }

  // ===== k-means centroids over the embedding corpus ==================

  private val kmK = 4
  private val kmIters = 3

  /** Lloyd k-means trajectory ([[graft.ext.Similarity.kmeans]]): the
    * oracle re-derives every round — assignment by the same
    * (nsq + nsq − 2·dot) fold with (d2, cid) tie order, per-dimension
    * sig9(dsum/n) centroid updates, empty-cluster carryover — as a
    * programmatically generated MATERIALIZED CTE chain (the kcenter /
    * logistic-training convention), so the TRAINING is adjudicated,
    * not just the final model. */
  private val kmeansQ: QFn = (s, d) =>
    graft.ext.Similarity.kmeans(Tables.embeddings(s, d), "vec_id",
      "embedding", k = kmK, iters = kmIters)

  private val kmeansSql = {
    def sqd(a: String, c: String) =
      s"((${Q.sqlNsq(a)} + ${Q.sqlNsq(c)}) - 2 * ${Q.sqlDot(a, c)})"
    val toLong = "(x, j) -> struct_pack(d := CAST(j - 1 AS BIGINT), " +
      "x := CAST(x AS DOUBLE))"
    val blocks = new StringBuilder(
      s"""e AS (SELECT vec_id, embedding FROM embeddings),
         |c0 AS MATERIALIZED (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
         |    AS BIGINT) AS cid, embedding AS cv
         |  FROM (SELECT vec_id, embedding FROM e
         |        ORDER BY vec_id LIMIT $kmK)),
         |cl0 AS (
         |  SELECT cid, struct_extract(u, 'd') AS dim,
         |    struct_extract(u, 'x') AS cval
         |  FROM (SELECT cid, unnest(list_transform(cv, $toLong)) AS u
         |        FROM c0))""".stripMargin)
    for (i <- 1 to kmIters) {
      val p = i - 1
      blocks.append(
        s""",
           |d$i AS MATERIALIZED (
           |  SELECT e.vec_id, e.embedding, c.cid,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY ${sqd("e.embedding", "c.cv")}, c.cid) AS rn
           |  FROM e, c$p c),
           |a$i AS MATERIALIZED (
           |  SELECT vec_id, embedding, cid FROM d$i WHERE rn = 1),
           |s$i AS (SELECT cid, CAST(count(*) AS BIGINT) AS n
           |  FROM a$i GROUP BY 1),
           |x$i AS (
           |  SELECT cid, struct_extract(u, 'd') AS dim,
           |    struct_extract(u, 'x') AS x
           |  FROM (SELECT cid, unnest(list_transform(embedding,
           |    $toLong)) AS u FROM a$i)),
           |m$i AS (
           |  SELECT cid, CAST(dim AS BIGINT) AS dim,
           |    ${Q.sqlSig9(s"${Q.sqlDsum("x")} / COUNT(*)")} AS m
           |  FROM x$i GROUP BY 1, 2),
           |cl$i AS MATERIALIZED (
           |  SELECT p.cid, p.dim, COALESCE(m.m, p.cval) AS cval
           |  FROM cl$p p LEFT JOIN m$i m
           |    ON m.cid = p.cid AND m.dim = p.dim),
           |c$i AS MATERIALIZED (
           |  SELECT cid, list(cval ORDER BY dim) AS cv
           |  FROM cl$i GROUP BY 1)""".stripMargin)
    }
    s"""WITH $blocks
       |SELECT cl.cid, cl.dim, cl.cval, COALESCE(s.n, 0) AS n_assigned
       |FROM cl$kmIters cl LEFT JOIN s$kmIters s ON s.cid = cl.cid"""
      .stripMargin
  }

  private val mmrQ: QFn = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val top = Similarity.bruteTopK(emb.filter(col("vec_id") < 20), emb, 20)
    val cands = top
      .join(emb.select(col("vec_id").as("cid"), col("embedding").as("cv")),
        "cid")
      .select(col("qid"), col("cid"), col("score").as("rel"), col("cv"))
    Similarity.mmrRerank(cands, k = 5, lambda = 0.7)
  }

  private val mmrSql = {
    // (1 - lambda) embedded as the engine's DOUBLE (a SQL 1 - 0.7 is
    // decimal-exact, one ulp off — the PageRank base lesson)
    val oml = (1.0 - 0.7).toString
    // AS MATERIALIZED (DuckDB-only; this text never reaches Spark):
    // the cum/s chain references each predecessor several times, and
    // DuckDB's default CTE inlining re-evaluates them — exponential in
    // k (measured: the inlined form never finished; materialized runs
    // in seconds at every SF)
    val steps = (2 to 5).map { i =>
      val prev = s"cum${i - 1}"
      s"""ms$i AS MATERIALIZED (
         |  SELECT pr.qid, pr.ca AS cid, max(pr.sim) AS ms
         |  FROM pr JOIN $prev sl ON pr.qid = sl.qid AND pr.cb = sl.cid
         |  GROUP BY 1, 2),
         |sc$i AS MATERIALIZED (
         |  SELECT rm.qid, rm.cid,
         |    0.7 * rm.rel - CAST($oml AS DOUBLE) * ms$i.ms AS score
         |  FROM (SELECT tv.qid, tv.cid, tv.rel FROM tv
         |        LEFT JOIN $prev sl
         |          ON tv.qid = sl.qid AND tv.cid = sl.cid
         |        WHERE sl.cid IS NULL) rm
         |  JOIN ms$i ON ms$i.qid = rm.qid AND ms$i.cid = rm.cid),
         |b$i AS (SELECT qid, max(score) AS b FROM sc$i GROUP BY 1),
         |s$i AS MATERIALIZED (
         |  SELECT sc$i.qid, min(sc$i.cid) AS cid, b$i.b AS score
         |  FROM sc$i JOIN b$i
         |    ON sc$i.qid = b$i.qid AND sc$i.score = b$i.b
         |  GROUP BY 1, 3),
         |cum$i AS MATERIALIZED (
         |  SELECT qid, cid FROM $prev
         |  UNION ALL SELECT qid, cid FROM s$i)""".stripMargin
    }.mkString(",\n")
    val finalSel = (1 to 5).map(i =>
      s"""SELECT qid, CAST($i AS BIGINT) AS "rank", cid, score AS mmr_score
         |FROM s$i""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH n AS (
       |  SELECT vec_id, embedding, ${nsqSql("embedding")} AS nsq
       |  FROM embeddings),
       |p AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid,
       |    ${dotSql("q.embedding", "c.embedding")}
       |      / (sqrt(q.nsq) * sqrt(c.nsq)) AS cosv
       |  FROM n q CROSS JOIN n c
       |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
       |r AS (
       |  SELECT qid, cid, ${sqlSig9("cosv")} AS score FROM p),
       |t AS (
       |  SELECT qid, cid, score, ROW_NUMBER() OVER (
       |    PARTITION BY qid ORDER BY score DESC, cid) AS rn
       |  FROM r),
       |tm AS (SELECT qid, cid, score AS rel FROM t WHERE rn <= 20),
       |tv AS MATERIALIZED (
       |  SELECT tm.qid, tm.cid, tm.rel, n.embedding AS cv, n.nsq AS cn
       |  FROM tm JOIN n ON n.vec_id = tm.cid),
       |pr AS MATERIALIZED (
       |  SELECT x.qid, x.cid AS ca, y.cid AS cb,
       |    ${sqlSig9(s"${dotSql("x.cv", "y.cv")} / (sqrt(x.cn) * sqrt(y.cn))")}
       |      AS sim
       |  FROM tv x JOIN tv y ON x.qid = y.qid AND x.cid <> y.cid),
       |b1 AS (SELECT qid, max(rel) AS b FROM tv GROUP BY 1),
       |s1 AS MATERIALIZED (
       |  SELECT tv.qid, min(tv.cid) AS cid, b1.b AS score
       |  FROM tv JOIN b1 ON tv.qid = b1.qid AND tv.rel = b1.b
       |  GROUP BY 1, 3),
       |cum1 AS MATERIALIZED (SELECT qid, cid FROM s1),
       |$steps
       |$finalSel""".stripMargin
  }

  // ===== similarity: embedding near-dup (catalog probe) =================

  /** Deterministically perturbed copies of every 5th vector, id-shifted
    * by 30000 — ground-truth near-duplicates of their originals. */
  private def perturbed(s: SparkSession, d: String,
                        idBound: Option[Long] = None): DataFrame =
    Tables.embeddings(s, d)
      // bound BEFORE the +30000 projection: `vec_id < b` is a pushable
      // parquet predicate, `(vec_id + 30000) < b'` is not (ANSI
      // overflow rules block the rewrite), and at 100 TB the bounded
      // serving batch must prune row groups, not scan-and-discard
      .filter(idBound.map(col("vec_id") < _).getOrElse(lit(true)))
      .filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 30000).as("qid"),
        transform(col("embedding"), (x, i) =>
          x.cast("double") +
            lit(0.001) * ((col("vec_id") + i) % 7 - 3).cast("double"))
          .as("qv"))

  private val perturbedSql =
    """q AS (
      |  SELECT vec_id + 30000 AS qid,
      |    list_transform(range(1, len(embedding) + 1),
      |      i -> CAST(embedding[i] AS DOUBLE)
      |           + CAST(0.001 AS DOUBLE)
      |             * CAST((vec_id + i - 1) % 7 - 3 AS DOUBLE)) AS qv
      |  FROM embeddings WHERE vec_id % 5 = 0)""".stripMargin

  private val embedNearDup: QFn = (s, d) =>
    Similarity.nearDupPairs(perturbed(s, d), Tables.embeddings(s, d),
      0.99, "qid", "vec_id", "qv", "embedding")

  private val embedNearDupSql =
    s"""WITH $perturbedSql,
       |qn AS (
       |  SELECT qid, qv, ${foldSql("list_transform(qv, x -> x * x)")} AS nsq
       |  FROM q),
       |n AS (
       |  SELECT vec_id, embedding, ${nsqSql("embedding")} AS nsq
       |  FROM embeddings),
       |p AS (
       |  SELECT qn.qid, c.vec_id AS cid,
       |    ${dotSql("qn.qv", "c.embedding")}
       |      / (sqrt(qn.nsq) * sqrt(c.nsq)) AS cosv
       |  FROM qn CROSS JOIN n c),
       |r AS (
       |  SELECT qid, cid, ${sqlSig9("cosv")} AS score FROM p)
       |SELECT qid, cid, score FROM r
       |WHERE score >= CAST(0.99 AS DOUBLE)""".stripMargin

  // ===== similarity: semantic dedup =====================================

  /** Corpus = base embeddings + the perturbed copies — every perturbed
    * row is a planted semantic duplicate of its original, so the
    * expected decision is fully adjudicated: originals keep, perturbed
    * drop (they pair with a smaller id at cosine ~0.9998), distinct
    * vectors keep. The oracle replicates the ENTIRE deterministic chain
    * — seed selection, argmax assignment, decimal Lloyd step,
    * reassignment, pair threshold — in SQL, so clustering drift on
    * either side turns the row red. */
  private val semDedupQ: QFn = (s, d) => {
    val base = Tables.embeddings(s, d).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val pert = perturbed(s, d)
      .select(col("qid").as("vec_id"), col("qv").as("embedding"))
    Similarity.semDedup(base.unionByName(pert), k = 16, threshold = 0.99)
      .select(col("vec_id"), col("centroid_id").cast("long").as("centroid_id"),
        col("keep"))
  }

  private val semDedupSql = {
    def argmin(src: String): String =
      s"""(SELECT vid, cid FROM (
         |    SELECT c.vid, s.cid,
         |      ${sqlSig9(s"(${dotSql("c.vv", "s.cv")}) / (sqrt(c.nsq) * sqrt(${nsqSql("s.cv")}))")} AS score
         |    FROM corpus c CROSS JOIN $src s)
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vid
         |                             ORDER BY score DESC, cid) = 1)""".stripMargin
    s"""WITH $perturbedSql,
       |corpus AS (
       |  SELECT vec_id AS vid,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv,
       |         ${nsqSql("embedding")} AS nsq
       |  FROM embeddings
       |  UNION ALL
       |  SELECT qid, qv, ${nsqSql("qv")} FROM q),
       |seeds AS (
       |  SELECT vid AS cid, vv AS cv FROM corpus
       |  ORDER BY ${hashSql("'ivfseed:' || CAST(vid AS VARCHAR)")}, vid
       |  LIMIT 16),
       |a0 AS ${argmin("seeds")},
       |mem AS (SELECT a0.cid, c.vv FROM a0 JOIN corpus c USING (vid)),
       |md AS (
       |  SELECT cid, i AS dim, ${sqlDavg("vv[i]")} AS m
       |  FROM mem CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d
       |  GROUP BY cid, i),
       |cents AS (
       |  SELECT cid, list(m ORDER BY dim) AS cv FROM md GROUP BY cid),
       |a1 AS ${argmin("cents")},
       |mm AS (
       |  SELECT a1.cid, c.vid, c.vv, c.nsq FROM a1 JOIN corpus c USING (vid)),
       |p AS (
       |  SELECT a.vid AS aid, b.vid AS bid,
       |    ${sqlSig9(s"(${dotSql("a.vv", "b.vv")}) / (sqrt(a.nsq) * sqrt(b.nsq))")} AS score
       |  FROM mm a JOIN mm b ON a.cid = b.cid AND a.vid < b.vid),
       |dropped AS (
       |  SELECT DISTINCT bid FROM p WHERE score >= CAST(0.99 AS DOUBLE))
       |SELECT mm.vid AS vec_id, CAST(mm.cid AS BIGINT) AS centroid_id,
       |       (dropped.bid IS NULL) AS keep
       |FROM mm LEFT JOIN dropped ON mm.vid = dropped.bid""".stripMargin
  }

  // ===== similarity: LSH ANN recall self-check ==========================

  /** LSH-bucketed ANN recall@1 against exact ground truth (the perturbed
    * queries' originals). Approximate-by-nature => the oracle pins the
    * deterministic verdict frame, not the per-pair scores. */
  private val annLshRecall: QFn = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val q = perturbed(s, d)
      .select(col("qid").as("vec_id"), col("qv").as("embedding"))
    val top1 = Similarity.lshTopK(q, emb, k = 1, bits = 16, dims = 64)
      .filter(col("rank") === 1)
    val hits = q.select(col("vec_id").as("qid"))
      .join(top1, Seq("qid"), "left")
      .select(when(col("cid") === col("qid") - 30000, lit(1.0))
        .otherwise(lit(0.0)).as("hit"))
    hits.agg(count(lit(1)).as("n_queries"),
        (sum(col("hit")) / count(lit(1)) >= 0.75).as("pass"))
      .select(lit("lsh_recall_at_1").as("metric"), col("n_queries"),
        col("pass"))
  }

  private val annLshRecallSql =
    """SELECT 'lsh_recall_at_1' AS metric,
      |  (SELECT COUNT(*) FROM embeddings WHERE vec_id % 5 = 0) AS n_queries,
      |  CAST(1 AS BOOLEAN) AS pass""".stripMargin

  /** The k=16 IVF index (both frames come out of ivfIndex already
    * localCheckpointed). */
  private val ivf16 = Shared("q_x_ann_ivf_recall", "q_x_ann_ivfpq",
      "q_x_ann_ivfpq_res", "q_x_ann_ivfpq_res8") { (s, d) =>
    Similarity.ivfIndex(Tables.embeddings(s, d), k = 16)
  }

  /** The (m=2, k=4) PQ codebook and codes. */
  private val pq24 = Shared("q_x_ann_pq", "q_x_ann_pq_serve") { (s, d) =>
    Similarity.pqTrain(Tables.embeddings(s, d), m = 2, k = 4)
  }

  /** IVF recall@1 self-check, same contract as the LSH one: ground truth
    * is each perturbed query's original; the oracle pins the verdict. */
  private val annIvfRecall: QFn = (s, d) => {
    val emb = Tables.embeddings(s, d)
    // an index is a cross-job artifact: build once, persist, and probe
    // the LOADED parquet tables — the path every later job takes (the
    // in-session frames are localCheckpoints, session-lifetime only)
    val (builtC, builtI) = ivf16.fresh(s, d)
    // fixed per-dataset location, overwritten each run — repeated bench
    // passes must not leak an index copy per invocation
    val idxPath = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-ivf-${Integer.toHexString(d.hashCode)}").getAbsolutePath
    Similarity.saveIndex(builtC, builtI, idxPath)
    val (centroids, index) = Similarity.loadIndex(s, idxPath)
    val q = perturbed(s, d)
      .select(col("qid").as("vec_id"), col("qv").as("embedding"))
    val top1 = Similarity
      .ivfTopK(q, emb, centroids, index, k = 1, nprobe = 2)
      .filter(col("rank") === 1)
    val hits = q.select(col("vec_id").as("qid"))
      .join(top1, Seq("qid"), "left")
      .select(when(col("cid") === col("qid") - 30000, lit(1.0))
        .otherwise(lit(0.0)).as("hit"))
    hits.agg(count(lit(1)).as("n_queries"),
        (sum(col("hit")) / count(lit(1)) >= 0.7).as("pass"))
      .select(lit("ivf_recall_at_1").as("metric"), col("n_queries"),
        col("pass"))
  }

  private val annIvfRecallSql =
    """SELECT 'ivf_recall_at_1' AS metric,
      |  (SELECT COUNT(*) FROM embeddings WHERE vec_id % 5 = 0) AS n_queries,
      |  CAST(1 AS BOOLEAN) AS pass""".stripMargin

  // ===== similarity: int8-quantized ANN (ADC) ===========================

  /** Asymmetric scoring over the int8-quantized corpus: full-precision
    * perturbed queries against dequantized candidates, top-1. The
    * oracle replicates the ENTIRE quantization chain (per-dim min/max,
    * floor(+0.5) codes, clamp, dequantize) and the ranking, so codes
    * and scores are fully adjudicated — not just a recall verdict. */
  private val annInt8: QFn = (s, d) => {
    val dq = Similarity.quantizeInt8(Tables.embeddings(s, d))
      .select(col("vec_id"), col("dequant").as("embedding"))
    val q = perturbed(s, d)
      .select(col("qid").as("vec_id"), col("qv").as("embedding"))
    Similarity.bruteTopK(q, dq, k = 1)
  }

  private val annInt8Sql =
    s"""WITH $perturbedSql,
       |dims AS (SELECT unnest(range(1, 65)) AS i),
       |mm AS (
       |  SELECT d.i AS dim,
       |    MIN(CAST(e.embedding[d.i] AS DOUBLE)) AS mn,
       |    MAX(CAST(e.embedding[d.i] AS DOUBLE)) AS mx
       |  FROM embeddings e CROSS JOIN dims d GROUP BY d.i),
       |st AS (SELECT dim, mn, (mx - mn) / 255.0 AS s FROM mm),
       |dq AS (
       |  SELECT vid, list(v ORDER BY dim) AS cv FROM (
       |    SELECT e.vec_id AS vid, st.dim,
       |      CASE WHEN st.s = 0 THEN st.mn
       |           ELSE st.mn + GREATEST(0, LEAST(255,
       |             FLOOR((CAST(e.embedding[st.dim] AS DOUBLE) - st.mn)
       |                   / st.s + 0.5))) * st.s END AS v
       |    FROM embeddings e CROSS JOIN st)
       |  GROUP BY vid),
       |qn AS (SELECT qid, qv, ${foldSql("list_transform(qv, x -> x * x)")}
       |         AS nsq FROM q),
       |cn AS (SELECT vid, cv, ${foldSql("list_transform(cv, x -> x * x)")}
       |         AS nsq FROM dq),
       |p AS (
       |  SELECT qn.qid, cn.vid AS cid,
       |    ${dotSql("qn.qv", "cn.cv")} / (sqrt(qn.nsq) * sqrt(cn.nsq))
       |      AS cosv
       |  FROM qn CROSS JOIN cn WHERE cn.vid <> qn.qid),
       |r AS (SELECT qid, cid, ${sqlSig9("cosv")} AS score FROM p),
       |t AS (
       |  SELECT qid, cid, score, ROW_NUMBER() OVER (
       |    PARTITION BY qid ORDER BY score DESC, cid) AS rn
       |  FROM r)
       |SELECT qid, CAST(rn AS BIGINT) AS "rank", cid, score
       |FROM t WHERE rn <= 1""".stripMargin

  // ===== similarity: product quantization (ADC) =========================

  /** PQ with m=2 subspaces, 4 codewords each, then IP-ADC top-1 for the
    * perturbed queries. The oracle re-derives EVERYTHING in SQL — the
    * hash-spread seed draw, per-subspace L2 argmin, the decimal Lloyd
    * step, the code assignment, the per-query lookup table and the
    * decimal-summed ADC ranking — so codebooks, codes and scores are
    * all bit-adjudicated. */
  private val annPq: QFn = (s, d) => {
    val (book, codes) = pq24.fresh(s, d)
    val q = perturbed(s, d)
      .select(col("qid").as("vec_id"), col("qv").as("embedding"))
    // serve over the packed one-row-per-vector layout; the oracle's
    // (vid, sub, code) row formulation adjudicates it bit-for-bit
    Similarity.pqTopKPacked(q, book, Similarity.packCodes(codes, 2),
      m = 2, topK = 1)
  }

  /** Bounded-|Q| PQ serving: identical train + ADC path to `q_x_ann_pq`
    * but the query batch is FIXED at the 32 perturbed vectors with
    * vec_id < 160 (present at every SF, soak replicas included). The
    * full-|Q| row's query count grows with the corpus (every 5th
    * vector), so its measured soak exponent (~1.5) tracks |Q|x|N| —
    * not the serving regime the 100 TB story rests on (fixed query
    * batch, growing corpus). This row is the one whose exponent should
    * read ~linear: train is one Lloyd pass over N, serving is a flat
    * ADC scan of N codes for a constant 32 queries. */
  private val annPqServe: QFn = (s, d) => {
    val (book, codes) = pq24(s, d)
    val q = perturbed(s, d, idBound = Some(160L))
      .select(col("qid").as("vec_id"), col("qv").as("embedding"))
    Similarity.pqTopKPacked(q, book, Similarity.packCodes(codes, 2),
      m = 2, topK = 1)
  }

  private def annPqSqlFrom(qCte: String) = {
    // the engine's subSlices for m=2: sub 0 takes [1, ds], sub 1 (the
    // last) takes the remainder
    def sliceSql(v: String) =
      s"(CASE WHEN sub = 1 THEN $v[sub * (len($v) // 2) + 1 : len($v)] " +
        s"ELSE $v[sub * (len($v) // 2) + 1 : " +
        s"sub * (len($v) // 2) + (len($v) // 2)] END)"
    def d2Sql(a: String, b: String) =
      sqlSig9(s"${nsqSql(a)} - 2.0 * (${dotSql(a, b)}) + ${nsqSql(b)}")
    s"""WITH $qCte,
       |corpus AS (
       |  SELECT vec_id AS vid,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
       |  FROM embeddings),
       |subs AS (SELECT unnest(range(0, 2)) AS sub),
       |sv AS (
       |  SELECT vid, sub, ${sliceSql("vv")} AS sv
       |  FROM corpus CROSS JOIN subs),
       |seeds AS (
       |  SELECT vv, CAST(ROW_NUMBER() OVER w - 1 AS BIGINT) AS cid
       |  FROM corpus
       |  WINDOW w AS (
       |    ORDER BY ${hashSql("'ivfseed:' || CAST(vid AS VARCHAR)")}, vid)
       |  QUALIFY ROW_NUMBER() OVER w <= 4),
       |sb AS (
       |  SELECT cid, sub, ${sliceSql("vv")} AS cv
       |  FROM seeds CROSS JOIN subs),
       |a0 AS (
       |  SELECT vid, sub, cid AS code FROM (
       |    SELECT s.vid, s.sub, b.cid,
       |      ROW_NUMBER() OVER (PARTITION BY s.vid, s.sub
       |        ORDER BY ${d2Sql("s.sv", "b.cv")}, b.cid) AS rn
       |    FROM sv s JOIN sb b ON b.sub = s.sub)
       |  WHERE rn = 1),
       |mem AS (
       |  SELECT a0.sub, a0.code AS cid, s.sv
       |  FROM a0 JOIN sv s ON s.vid = a0.vid AND s.sub = a0.sub),
       |mx AS (
       |  SELECT sub, cid, unnest(sv) AS x,
       |         unnest(range(0, len(sv))) AS dim
       |  FROM mem),
       |md AS (
       |  SELECT sub, cid, dim, ${sqlDavg("x")} AS mv
       |  FROM mx GROUP BY sub, cid, dim),
       |cents AS (
       |  SELECT sub, cid, list(mv ORDER BY dim) AS cv
       |  FROM md GROUP BY sub, cid),
       |codes AS (
       |  SELECT vid, sub, cid AS code FROM (
       |    SELECT s.vid, s.sub, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY s.vid, s.sub
       |        ORDER BY ${d2Sql("s.sv", "c.cv")}, c.cid) AS rn
       |    FROM sv s JOIN cents c ON c.sub = s.sub)
       |  WHERE rn = 1),
       |qsub AS (
       |  SELECT qid, sub, ${sliceSql("qv")} AS qsv
       |  FROM q CROSS JOIN subs),
       |lut AS (
       |  SELECT qs.qid, c.sub, c.cid,
       |         ${sqlSig9(dotSql("qs.qsv", "c.cv"))} AS p
       |  FROM qsub qs JOIN cents c ON c.sub = qs.sub),
       |sc AS (
       |  SELECT l.qid, k.vid, ${sqlDsum("p")} AS score
       |  FROM codes k JOIN lut l ON l.sub = k.sub AND l.cid = k.code
       |  GROUP BY l.qid, k.vid),
       |t AS (
       |  SELECT qid, vid, score, ROW_NUMBER() OVER (
       |    PARTITION BY qid ORDER BY score DESC, vid) AS rn
       |  FROM sc)
       |SELECT qid, CAST(rn AS BIGINT) AS "rank", vid AS cid, score
       |FROM t WHERE rn <= 1""".stripMargin
  }

  private val annPqSql = annPqSqlFrom(perturbedSql)

  /** Same adjudicated SQL body with the fixed 32-query batch. */
  private val annPqServeSql = annPqSqlFrom(perturbedSql.replace(
    "WHERE vec_id % 5 = 0)", "WHERE vec_id % 5 = 0 AND vec_id < 160)"))

  // ===== similarity: IVF-PQ recall self-check ===========================

  /** The full serving composition — IVF routing (k=16, nprobe=2) over
    * PQ scoring (m=4, 8 codewords) — recall@1 against each perturbed
    * query's original. Both halves are individually bit-adjudicated
    * (`q_x_ann_ivf_recall`, `q_x_ann_pq`); this row pins the composed
    * verdict (approximate-by-nature, so the oracle pins the
    * deterministic verdict frame like the other recall checks). */
  private val annIvfPq: QFn = (s, d) => {
    val (cents, index) = ivf16(s, d)
    val (book, codes) = Similarity.pqTrain(Tables.embeddings(s, d),
      m = 4, k = 8)
    val q = perturbed(s, d)
      .select(col("qid").as("vec_id"), col("qv").as("embedding"))
    val top1 = Similarity
      .ivfPqTopKPacked(q, cents, index, book,
        Similarity.packCodes(codes, 4), m = 4, topK = 1, nprobe = 2)
      .filter(col("rank") === 1)
    val hits = q.select(col("vec_id").as("qid"))
      .join(top1, Seq("qid"), "left")
      .select(when(col("cid") === col("qid") - 30000, lit(1.0))
        .otherwise(lit(0.0)).as("hit"))
    hits.agg(count(lit(1)).as("n_queries"),
        (sum(col("hit")) / count(lit(1)) >= 0.4).as("pass"))
      .select(lit("ivfpq_recall_at_1").as("metric"), col("n_queries"),
        col("pass"))
  }

  private val annIvfPqSql =
    """SELECT 'ivfpq_recall_at_1' AS metric,
      |  (SELECT COUNT(*) FROM embeddings WHERE vec_id % 5 = 0) AS n_queries,
      |  CAST(1 AS BOOLEAN) AS pass""".stripMargin

  /** The production train-on-sample regime: centroids AND codebooks
    * learned from a deterministic 25% hash subset (FAISS-style — Lloyd
    * cost bounded by the sample, 4x cheaper per round at this frac),
    * while assignment/encoding still covers every vector. Recall must
    * clear the SAME 0.4 bar as the full-train row: a representative
    * sample is all a codebook needs, and this row pins that claim. */
  private val annIvfPqSample: QFn = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val (cents, index) = Similarity.ivfIndex(emb, k = 16, trainFrac = 0.25)
    val (book, codes) = Similarity.pqTrain(emb, m = 4, k = 8,
      trainFrac = 0.25)
    val q = perturbed(s, d)
      .select(col("qid").as("vec_id"), col("qv").as("embedding"))
    val top1 = Similarity
      .ivfPqTopKPacked(q, cents, index, book,
        Similarity.packCodes(codes, 4), m = 4, topK = 1, nprobe = 2)
      .filter(col("rank") === 1)
    val hits = q.select(col("vec_id").as("qid"))
      .join(top1, Seq("qid"), "left")
      .select(when(col("cid") === col("qid") - 30000, lit(1.0))
        .otherwise(lit(0.0)).as("hit"))
    hits.agg(count(lit(1)).as("n_queries"),
        (sum(col("hit")) / count(lit(1)) >= 0.4).as("pass"))
      .select(lit("ivfpq_sample_recall_at_1").as("metric"),
        col("n_queries"), col("pass"))
  }

  private val annIvfPqSampleSql =
    """SELECT 'ivfpq_sample_recall_at_1' AS metric,
      |  (SELECT COUNT(*) FROM embeddings WHERE vec_id % 5 = 0) AS n_queries,
      |  CAST(1 AS BOOLEAN) AS pass""".stripMargin

  /** Residual IVF-PQ at the SAME geometry as `q_x_ann_ivfpq` (k=16,
    * nprobe=2, m=4, 8 codewords): codes quantize r = v - centroid(v),
    * serving adds the exact dot(q, c_v) term. Residuals carry far less
    * variance than raw vectors, so recall@1 must clear a HIGHER bar
    * than the non-residual path's 0.4 — the verdict frame pins that
    * the residual formulation actually buys accuracy, not just
    * different codes. */
  private val annIvfPqRes: QFn = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val (cents, index) = ivf16(s, d)
    val (book, codes) =
      Similarity.ivfPqResidualTrain(emb, cents, index, m = 4, k = 8)
    val q = perturbed(s, d)
      .select(col("qid").as("vec_id"), col("qv").as("embedding"))
    val top1 = Similarity
      .ivfPqResidualTopKPacked(q, cents, index, book,
        Similarity.packCodes(codes, 4), m = 4, topK = 1, nprobe = 2)
      .filter(col("rank") === 1)
    val hits = q.select(col("vec_id").as("qid"))
      .join(top1, Seq("qid"), "left")
      .select(when(col("cid") === col("qid") - 30000, lit(1.0))
        .otherwise(lit(0.0)).as("hit"))
    hits.agg(count(lit(1)).as("n_queries"),
        (sum(col("hit")) / count(lit(1)) >= 0.6).as("pass"))
      .select(lit("ivfpq_residual_recall_at_1").as("metric"),
        col("n_queries"), col("pass"))
  }

  private val annIvfPqResSql =
    """SELECT 'ivfpq_residual_recall_at_1' AS metric,
      |  (SELECT COUNT(*) FROM embeddings WHERE vec_id % 5 = 0) AS n_queries,
      |  CAST(1 AS BOOLEAN) AS pass""".stripMargin

  /** Residual IVF-PQ at the PRODUCTION geometry (m=8 subspaces): the
    * round-9 recall/nprobe sweep (RECALL_SWEEP.json, NOTES_r09 §6)
    * adjudicated the (m=4, k=8) sf0.1 recall sag as codebook CAPACITY
    * (flat-to-declining in nprobe; 1.000 at m=8 at the same serve
    * latency class), so the m-scaled geometry is the one the 100 TB
    * story ships — this row pins it at a 0.9 bar (measured 1.000 at
    * all three SFs) so a codebook/serving refactor that degrades the
    * production operating point fails correctness, not just NOTES. */
  private val annIvfPqRes8: QFn = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val (cents, index) = ivf16(s, d)
    val (book, codes) =
      Similarity.ivfPqResidualTrain(emb, cents, index, m = 8, k = 8)
    val q = perturbed(s, d)
      .select(col("qid").as("vec_id"), col("qv").as("embedding"))
    val top1 = Similarity
      .ivfPqResidualTopKPacked(q, cents, index, book,
        Similarity.packCodes(codes, 8), m = 8, topK = 1, nprobe = 2)
      .filter(col("rank") === 1)
    val hits = q.select(col("vec_id").as("qid"))
      .join(top1, Seq("qid"), "left")
      .select(when(col("cid") === col("qid") - 30000, lit(1.0))
        .otherwise(lit(0.0)).as("hit"))
    hits.agg(count(lit(1)).as("n_queries"),
        (sum(col("hit")) / count(lit(1)) >= 0.9).as("pass"))
      .select(lit("ivfpq_residual8_recall_at_1").as("metric"),
        col("n_queries"), col("pass"))
  }

  private val annIvfPqRes8Sql =
    """SELECT 'ivfpq_residual8_recall_at_1' AS metric,
      |  (SELECT COUNT(*) FROM embeddings WHERE vec_id % 5 = 0) AS n_queries,
      |  CAST(1 AS BOOLEAN) AS pass""".stripMargin

  // ===== sketches: HLL distinct-count self-check ========================

  /** approx_count_distinct (HyperLogLog++) against the exact count — the
    * sketch is deterministic for fixed data/rsd, but its value is
    * engine-specific, so the oracle pins the exact count and the
    * error-bound verdict rather than the sketch itself. */
  private val approxDistinct: QFn = (s, d) => {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"))
    // separate single-purpose aggregates: mixing a distinct and a
    // non-distinct aggregate in one agg() plans an Expand (2x rows
    // through the shuffle); two scans of one pruned column are cheaper
    // at every scale.
    val exact = li.agg(countDistinct(col("l_orderkey")).cast("long")
      .as("exact_n"))
    val approx = li.agg(approx_count_distinct(col("l_orderkey"), 0.02)
      .cast("long").as("approx_n"))
    exact.crossJoin(approx)
      .select(lit("approx_distinct_orderkeys").as("metric"),
        col("exact_n"),
        (abs(col("approx_n") - col("exact_n")).cast("double")
          / col("exact_n") <= 0.05).as("pass"))
  }

  private val approxDistinctSql =
    """SELECT 'approx_distinct_orderkeys' AS metric,
      |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_n,
      |  CAST(1 AS BOOLEAN) AS pass
      |FROM lineitem""".stripMargin

  // ===== streaming batch twin: event-time tumbling window ===============

  /** graft.streaming.EventPipeline.windowedStats run over the batch
    * events table — the same plan a streaming run produces per window
    * once the watermark passes (the analyzer strips the watermark in
    * batch). Streaming-mode behavior is covered by StreamingSpec. */
  private val eventWindow: QFn = (s, d) =>
    graft.streaming.EventPipeline.windowedStats(Tables.events(s, d))

  private val eventWindowSql =
    s"""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       |  event_type, COUNT(*) AS n_events,
       |  ${sqlDsum("value")} AS sum_value
       |FROM events GROUP BY 1, 2""".stripMargin

  // ===== events: stream-stream attribution join (batch twin) ============

  private val attribution: QFn = (s, d) =>
    graft.streaming.EventPipeline.attributedPurchases(Tables.events(s, d))

  private val attributionSql =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
      |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
      |  p.value
      |FROM events c JOIN events p
      |  ON c.event_type = 'click' AND p.event_type = 'purchase'
      | AND c.user_id = p.user_id
      | AND p.ts >= c.ts
      | AND p.ts <= c.ts + INTERVAL 30 MINUTE""".stripMargin

  // ===== events: streaming as-of enrichment (batch twin) ================

  /** EventPipeline.enrichedPurchasesBatch — the exact as-of twin of the
    * flatMapGroupsWithState enrichment (StreamingSpec adjudicates the
    * streaming path against this); oracle is DuckDB's native ASOF. */
  private val enrich: QFn = (s, d) =>
    graft.streaming.EventPipeline.enrichedPurchasesBatch(Tables.events(s, d))
      .select(col("user_id"), col("purchase_id"),
        date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss")
          .as("purchase_ts"),
        col("value"), col("click_id"),
        date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"))

  private val enrichSql =
    """WITH probes AS (
      |  SELECT event_id AS purchase_id, user_id, ts, value
      |  FROM events WHERE event_type = 'purchase'),
      |quotes AS (
      |  -- pre-reduced to one row per (user_id, ts) keeping the GREATEST
      |  -- click_id: bare ASOF leaves the pick among equal-ts quotes
      |  -- unspecified, while the engine tie-breaks deterministically by
      |  -- greatest click_id (asOfJoin tieBreak) — this makes the
      |  -- adjudicated contract total on ANY fixture, not just ones
      |  -- without equal-ts clicks
      |  SELECT user_id, ts, MAX(event_id) AS click_id
      |  FROM events WHERE event_type = 'click'
      |  GROUP BY user_id, ts)
      |SELECT p.user_id, p.purchase_id,
      |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts, p.value,
      |  q.click_id,
      |  strftime(q.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
      |FROM probes p ASOF LEFT JOIN quotes q
      |  ON p.user_id = q.user_id AND p.ts >= q.ts""".stripMargin

  // ===== events: JSON property extraction ===============================

  /** Semi-structured props: JSON path extraction pushed through a typed
    * cast, then keyed aggregation — the props-bag pattern every event
    * pipeline has. */
  private val eventProps: QFn = (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).cast("long").as("sum_k"),
        count(col("k")).as("n_k"))

  private val eventPropsSql =
    """SELECT event_type,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
      |    AS BIGINT) AS sum_k,
      |  COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k
      |FROM events GROUP BY event_type""".stripMargin

  // ===== events: sessionization (batch twin) ============================

  private val userSessionsQ: QFn = (s, d) =>
    graft.streaming.EventPipeline.userSessionsWindowed(
      Tables.events(s, d).filter(col("user_id") % 10 === 0))

  /** Gaps-and-islands rewrite of session_window: a session boundary is an
    * event more than `gap` after its predecessor; cumulative boundary
    * count = session id; session start = min ts per island. */
  private val userSessionsSql =
    s"""WITH e AS (
       |  SELECT user_id, ts, value,
       |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
       |           > INTERVAL 30 MINUTE OR
       |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
       |         THEN 1 ELSE 0 END AS is_start
       |  FROM events WHERE user_id % 10 = 0),
       |i AS (
       |  SELECT user_id, ts, value,
       |    SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
       |      ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM e)
       |SELECT user_id,
       |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       |  COUNT(*) AS n_events,
       |  ${sqlDsum("value")} AS sum_value
       |FROM i GROUP BY user_id, sid""".stripMargin

  // ===== events: time-series window functions ===========================

  /** Per-user event-time series: lag + rolling 3-event mean (decimal-
    * routed so the frame sum is order-exact). The one-shuffle-per-user
    * window is the scale shape for per-entity session features. */
  private val userSeries: QFn = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val w3 = w.rowsBetween(-2, 0)
    Tables.events(s, d)
      .filter(col("user_id") % 20 === 0)
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        sig9(sum(col("value").cast("decimal(38,15)")).over(w3)
          .cast("double") / count(lit(1)).over(w3)).as("mov3"))
  }

  private val userSeriesSql = {
    val frame = "PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW"
    s"""SELECT event_id, user_id,
       |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, value,
       |  lag(value, 1) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id) AS prev_value,
       |  ${sqlSig9(s"(CAST(SUM(CAST(value AS DECIMAL(38,15))) OVER ($frame) AS DOUBLE) / COUNT(*) OVER ($frame))")} AS mov3
       |FROM events WHERE user_id % 20 = 0""".stripMargin
  }

  // ===== multimodal: binary column + metadata + feature stub ============

  private val multimodal: QFn = (s, d) => {
    val media = Multimodal.packAsMedia(Tables.documents(s, d))
    Multimodal.extractFeaturesColumnar(media)
      .join(media.select(col("doc_id"), col("meta.n_bytes").as("n_bytes")),
        Seq("doc_id"))
      .select(col("doc_id"), col("n_bytes"),
        col("feat0"), col("feat1"), col("feat2"), col("feat3"))
  }

  private val multimodalSql = {
    val feats = (0 until 4).map(j =>
      s"CAST('0x' || substr(md5(text), ${j * 4 + 1}, 4) AS BIGINT) " +
        s"/ CAST(65535.0 AS DOUBLE) AS feat$j").mkString(",\n  ")
    s"""SELECT doc_id, octet_length(encode(text)) AS n_bytes,
       |  $feats
       |FROM documents""".stripMargin
  }

  /** The REAL-decode operator's oracle face: documents wrapped as fake
    * media are undecodable by every JRE codec, so each row must take
    * the flagged fallback path (decoded=false, mean_luma = the first
    * md5 stub feature — the same cross-engine md5 contract
    * q_x_multimodal pins). The decode=true path has no SQL oracle by
    * nature (no pixel codec in DuckDB) and is spec-pinned instead on
    * ImageIO-encoded PNG/GIF fixtures with known pixel stats. */
  private val pixelsQ: QFn = (s, d) => {
    val media = Multimodal.packAsMedia(Tables.documents(s, d))
    Multimodal.extractPixelFeatures(media)
      .select(col("doc_id"), col("decoded"), col("mean_luma"))
  }

  private val pixelsSql =
    s"""SELECT doc_id, false AS decoded,
       |  CAST('0x' || substr(md5(text), 1, 4) AS BIGINT)
       |    / CAST(65535.0 AS DOUBLE) AS mean_luma
       |FROM documents""".stripMargin

  // ===== perceptual image dedup (dHash) =================================

  /** The dHash machinery (gradient hash -> 4x15 LSH banding -> exact
    * Hamming verify) adjudicated end to end over DETERMINISTIC luma
    * grids (cell = hash60 arithmetic — the engine-reproducible stand-in
    * for decoded pixels, same convention as q_x_multimodal's stub
    * features; the REAL ImageIO decode->grid path is spec-pinned in
    * MultimodalSpec, no SQL engine has a pixel codec). Every 9th doc
    * plants a near-dup copy with ONE cell perturbed — <= 2 gradient
    * bits flip, so the pair must survive banding AND the Hamming gate;
    * unrelated grids differ in ~30 bits and must not pair. */
  private val imageDedupQ: QFn = (s, d) => {
    val base = Tables.documents(s, d).select(col("doc_id"))
    val corpus = base.unionByName(
      base.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 30000).as("doc_id")))
    val baseId = when(col("doc_id") >= 30000, col("doc_id") - 30000)
      .otherwise(col("doc_id"))
    val cells0 = transform(sequence(lit(0), lit(65)), p =>
      Hashing.hash60(concat(lit("px:"), baseId.cast("string"),
        lit(":"), p.cast("string"))) % 256)
    val cells = transform(cells0, (x, i) =>
      when(col("doc_id") >= 30000 && i === 7, (x + 1) % 256).otherwise(x))
    Multimodal.imageNearDups(
      corpus.select(col("doc_id"), cells.as("grid")), "doc_id", "grid", 3)
  }

  private val imageDedupSql = {
    val cell = (id: String, p: String) =>
      s"${hashSql(s"'px:' || CAST($id AS VARCHAR) || ':' || CAST($p AS VARCHAR)")} % 256"
    val dhTerms = (for { r <- 0 until 6; c <- 0 until 10 } yield {
      val a = r * 11 + c + 1 // 1-based list index of cell (r, c)
      s"CASE WHEN cl[${a + 1}] > cl[$a] THEN ${1L << (r * 10 + c)} ELSE 0 END"
    }).mkString("\n      + ")
    val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, dh, $b AS band_id, (dh >> ${b * 15}) & 32767 AS k FROM dh")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH ids AS (SELECT doc_id FROM documents),
       |corpus AS (
       |  SELECT doc_id FROM ids
       |  UNION ALL
       |  SELECT doc_id + 30000 AS doc_id FROM ids WHERE doc_id % 9 = 0),
       |cl AS (
       |  SELECT doc_id,
       |    list_transform(range(0, 66), p ->
       |      CASE WHEN doc_id >= 30000 AND p = 7
       |           THEN (${cell("base_id", "p")} + 1) % 256
       |           ELSE ${cell("base_id", "p")} END) AS cl
       |  FROM (
       |    SELECT doc_id,
       |      CASE WHEN doc_id >= 30000 THEN doc_id - 30000 ELSE doc_id
       |        END AS base_id
       |    FROM corpus)),
       |dh AS (
       |  SELECT doc_id,
       |    CAST($dhTerms AS BIGINT) AS dh
       |  FROM cl),
       |b AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a_id, x.dh AS a_dh,
       |                  y.doc_id AS b_id, y.dh AS b_dh
       |  FROM b x JOIN b y
       |    ON x.band_id = y.band_id AND x.k = y.k AND x.doc_id < y.doc_id)
       |SELECT a_id, b_id, hamming FROM (
       |  SELECT a_id, b_id,
       |    CAST(bit_count(xor(a_dh, b_dh)) AS BIGINT) AS hamming
       |  FROM cand)
       |WHERE hamming <= 3""".stripMargin
  }

  // ===== repetition signals + PII redaction =============================

  private val repetitionQ: QFn = (s, d) =>
    TextStats.repetition(Tables.documents(s, d))

  private val repetitionSql =
    s"""WITH $toksSql,
       |u AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
       |uc AS (SELECT doc_id, tok, COUNT(*) AS c FROM u GROUP BY 1, 2),
       |uni AS (
       |  SELECT doc_id, CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
       |    AS top_unigram_frac
       |  FROM uc GROUP BY 1),
       |bg0 AS (
       |  SELECT doc_id, list_transform(range(1, len(tk)),
       |    i -> tk[i] || ' ' || tk[i+1]) AS bgs
       |  FROM toks),
       |bge AS (SELECT doc_id, unnest(bgs) AS bg FROM bg0),
       |big AS (
       |  SELECT doc_id, 1.0 - CAST(COUNT(DISTINCT bg) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS dup_bigram_frac
       |  FROM bge GROUP BY 1)
       |SELECT t.doc_id, uni.top_unigram_frac, big.dup_bigram_frac
       |FROM toks t
       |LEFT JOIN uni USING (doc_id)
       |LEFT JOIN big USING (doc_id)""".stripMargin

  /** The fixture corpus is clean, so PII-shaped content is synthesized
    * deterministically from doc_id (same construction in the oracle). */
  private val piiRedact: QFn = (s, d) => {
    val aug = Tables.documents(s, d).select(col("doc_id"),
      concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@mail.example.com or call "),
        (col("doc_id") * lit(987654321L)).cast("string")).as("text"))
    TextStats.redactPii(aug)
  }

  private val piiRedactSql = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val num = "[0-9]{7,}"
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    text || ' contact user' || doc_id || '@mail.example.com or call '
       |      || CAST(doc_id * 987654321 AS VARCHAR) AS text
       |  FROM documents)
       |SELECT doc_id,
       |  regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'),
       |    '$num', '<NUM>', 'g') AS redacted,
       |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '$num')) AS BIGINT) AS n_longnums
       |FROM aug""".stripMargin
  }

  // ===== chunking + deterministic source-mix sampling ===================

  private val chunkingQ: QFn = (s, d) =>
    TextStats.chunk(Tables.documents(s, d), chunkTokens = 50, overlap = 10)

  private val chunkingSql =
    s"""WITH $toksSql,
       |c AS (
       |  SELECT doc_id, tk,
       |    unnest(range(0, CAST(ceil(len(tk) / 40.0) AS BIGINT)))
       |      AS chunk_id
       |  FROM toks WHERE len(tk) > 0)
       |SELECT doc_id, chunk_id,
       |  array_to_string(list_slice(tk, chunk_id*40 + 1, chunk_id*40 + 50),
       |    ' ') AS chunk_text,
       |  CAST(len(list_slice(tk, chunk_id*40 + 1, chunk_id*40 + 50))
       |    AS BIGINT) AS n_chunk_tokens
       |FROM c""".stripMargin

  private val mixRates = Seq("src0" -> 0.9, "src1" -> 0.5, "src2" -> 0.1)
  private val mixDefault = 0.3

  private val sourceMix: QFn = (s, d) =>
    graft.ext.Sampling.stratified(
      Tables.documents(s, d).select(col("doc_id"), col("source")),
      "doc_id", "source", mixRates.toMap, mixDefault)

  private val sourceMixSql = {
    val cases = mixRates
      .map { case (src, r) => s"WHEN '$src' THEN CAST($r AS DOUBLE)" }
      .mkString(" ")
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CAST(${hashSql("'mix:' || CAST(doc_id AS VARCHAR)")} % 1000000
       |      AS DOUBLE) / 1000000.0 AS u
       |  FROM documents)
       |SELECT doc_id, source, u,
       |  u < CASE source $cases ELSE CAST($mixDefault AS DOUBLE) END AS keep
       |FROM t""".stripMargin
  }

  private val sourceCap: QFn = (s, d) =>
    graft.ext.Sampling.capPerStratum(
      Tables.documents(s, d).select(col("doc_id"), col("source")),
      "doc_id", "source", maxPerStratum = 15)

  private val sourceCapSql = {
    val u = s"CAST(${hashSql("'cap:' || CAST(doc_id AS VARCHAR)")} % 1000000" +
      " AS DOUBLE) / 1000000.0"
    s"""SELECT doc_id, source FROM (
       |  SELECT doc_id, source,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY $u, doc_id)
       |      AS rn
       |  FROM documents)
       |WHERE rn <= 15""".stripMargin
  }

  // ===== flagship: the whole training-data prep pipeline ================

  /** quality gate -> exact dedup -> deterministic source sampling ->
    * chunking, composed exactly as a production prep run: one wrong
    * stage anywhere fails the hash. Corpus carries known duplicates
    * (same construction as q_x_dedup_exact). */
  private val pipelineE2e: QFn = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("source"))
    val corpus = docs.unionByName(
      docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"),
          col("source")))
    val quality = TextStats.qualityFilter(corpus)
      .filter(col("keep")).select(col("doc_id"))
    val kept = corpus.join(quality, Seq("doc_id"))
    val keepIds = Dedup.exactDedup(kept)
      .select(col("keep_id").as("doc_id"))
    val deduped = kept.join(keepIds, Seq("doc_id"))
    val sampled = graft.ext.Sampling
      .stratified(deduped, "doc_id", "source", Map.empty, 0.5)
      .filter(col("keep")).select(col("doc_id"), col("text"))
    TextStats.chunk(sampled, chunkTokens = 20, overlap = 5)
  }

  /** Shared gate+dedup CTE prefix (quality gate over the planted-dup
    * corpus, then exact keep-first dedup) — byte-identical to what
    * `q_x_pipeline_e2e` always inlined; factored so `q_x_pipeline4`
    * composes the SAME adjudicated stages rather than a re-derivation
    * that could drift. */
  private lazy val gateDedupCtes = {
    val stop = TextStats.stopwords.map(w => s"'$w'").mkString(", ")
    s"""corpus AS (
       |  SELECT doc_id, text, source FROM documents
       |  UNION ALL
       |  SELECT doc_id + 10000 AS doc_id, text, source FROM documents
       |  WHERE doc_id % 5 = 0),
       |ctoks AS (
       |  SELECT doc_id, source, text,
       |         list_filter(string_split(text, ' '), t -> t <> '') AS tk
       |  FROM corpus),
       |st AS (
       |  SELECT doc_id, len(tk) AS n_tokens,
       |    CASE WHEN len(tk) = 0 THEN NULL
       |         ELSE CAST(list_sum(list_transform(tk,
       |                t -> CAST(length(t) AS BIGINT))) AS DOUBLE) / len(tk)
       |         END AS avg_token_len,
       |    CASE WHEN len(tk) = 0 THEN NULL
       |         ELSE CAST(len(list_filter(tk, t -> t IN ($stop)))
       |              AS DOUBLE) / len(tk) END AS stopword_ratio,
       |    CASE WHEN length(text) = 0 THEN NULL
       |         ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
       |              AS DOUBLE) / length(text) END AS alpha_ratio
       |  FROM ctoks),
       |r AS (
       |  SELECT doc_id,
       |    CASE WHEN n_tokens < 10 THEN 'too_short'
       |         WHEN avg_token_len > CAST(12.0 AS DOUBLE) THEN 'gibberish'
       |         WHEN stopword_ratio < CAST(0.01 AS DOUBLE)
       |           THEN 'low_stopword'
       |         WHEN alpha_ratio < CAST(0.5 AS DOUBLE) THEN 'low_alpha'
       |         ELSE 'ok' END AS reason
       |  FROM st),
       |kept AS (
       |  SELECT c.* FROM ctoks c
       |  JOIN r ON r.doc_id = c.doc_id AND r.reason = 'ok'),
       |keepids AS (
       |  SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
       |ded AS (SELECT k.* FROM kept k JOIN keepids USING (doc_id))"""
      .stripMargin
  }

  private val pipelineE2eSql =
    s"""WITH $gateDedupCtes,
       |samp AS (
       |  SELECT doc_id, tk FROM ded
       |  WHERE CAST(${hashSql("'mix:' || CAST(doc_id AS VARCHAR)")} % 1000000
       |          AS DOUBLE) / 1000000.0 < CAST(0.5 AS DOUBLE)),
       |c AS (
       |  SELECT doc_id, tk,
       |    unnest(range(0, CAST(ceil(len(tk) / 15.0) AS BIGINT)))
       |      AS chunk_id
       |  FROM samp WHERE len(tk) > 0)
       |SELECT doc_id, chunk_id,
       |  array_to_string(list_slice(tk, chunk_id*15 + 1, chunk_id*15 + 20),
       |    ' ') AS chunk_text,
       |  CAST(len(list_slice(tk, chunk_id*15 + 1, chunk_id*15 + 20))
       |    AS BIGINT) AS n_chunk_tokens
       |FROM c""".stripMargin

  // ===== flagship v4: gate -> dedup -> split -> shuffle -> shards =======

  /** The corpus-to-training-layout tail as ONE program: quality gate ->
    * exact dedup -> split assignment -> deterministic epoch shuffle of
    * the survivors -> balanced shard layout. Extends the pipeline
    * flagship family with the round-9 ordering stage: raw text in,
    * (split, global position, shard, shard position) out — what a
    * block writer consumes. One plan, one hash; the oracle chains the
    * SAME adjudicated CTE stages and ranks survivors with the naive
    * global window the distributed shuffle must match exactly. */
  private val pipeline4: QFn = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("source"))
    val corpus = docs.unionByName(
      docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"),
          col("source")))
    val quality = TextStats.qualityFilter(corpus)
      .filter(col("keep")).select(col("doc_id"))
    val kept = corpus.join(quality, Seq("doc_id"))
    val keepIds = Dedup.exactDedup(kept)
      .select(col("keep_id").as("doc_id"))
    val deduped = kept.join(keepIds, Seq("doc_id"))
    val splits = graft.ext.Sampling
      .splitAssign(deduped.select(col("doc_id")), "doc_id", leakWeights)
      .select(col("doc_id"), col("split"))
    val laid = graft.ext.Sampling.epochShuffle(
      splits.select(col("doc_id")), "doc_id", "p4", 256L, 64)
    laid.join(splits, Seq("doc_id"))
      .select(col("doc_id"), col("split"), col("pos"), col("shard"),
        col("shard_pos"))
  }

  private val pipeline4Sql = {
    val cum = leakWeights.map(_._2).scanLeft(0.0)(_ + _).tail
    val cases = leakWeights.init.zip(cum.init)
      .map { case ((name, _), c) => s"WHEN u < CAST($c AS DOUBLE) THEN '$name'" }
      .mkString(" ")
    s"""WITH $gateDedupCtes,
       |sp AS (
       |  SELECT doc_id,
       |    CASE $cases ELSE '${leakWeights.last._1}' END AS split
       |  FROM (
       |    SELECT doc_id,
       |      CAST(${hashSql("'split:' || CAST(doc_id AS VARCHAR)")} % 1000000
       |        AS DOUBLE) / 1000000.0 AS u
       |    FROM ded)),
       |rk AS (
       |  SELECT doc_id,
       |    CAST(ROW_NUMBER() OVER (
       |      ORDER BY ${hashSql("'p4:' || CAST(doc_id AS VARCHAR)")},
       |               doc_id) - 1 AS BIGINT) AS pos
       |  FROM ded)
       |SELECT rk.doc_id, sp.split, rk.pos,
       |  CAST(rk.pos // 256 AS BIGINT) AS shard,
       |  CAST(rk.pos % 256 AS BIGINT) AS shard_pos
       |FROM rk JOIN sp ON sp.doc_id = rk.doc_id""".stripMargin
  }

  // ===== multimodal: REAL container-header decode ======================

  /** Synthesize REAL PNG / JPEG headers byte-for-byte from each doc's
    * (n_chars, doc_id) — signature, IHDR/SOF0 layout, big-endian dims —
    * plus a deliberately corrupt payload every 3rd doc, then run the
    * actual parser ([[Multimodal.decodeHeaders]]) over them. The
    * oracle computes the EXPECTED dims from the same arithmetic
    * without touching bytes, so the build->parse round-trip (magic
    * check, endianness, field offsets, malformed fallback) is fully
    * adjudicated. */
  private val mediaHeadersQ: QFn = (s, d) => {
    def be(c: org.apache.spark.sql.Column, hexLen: Int) =
      unhex(lpad(hex(c), hexLen, "0"))
    val w = col("n_chars") % 1000 + 1
    val h = col("doc_id") % 500 + 1
    val png = concat(unhex(lit("89504E470D0A1A0A0000000D")),
      lit("IHDR").cast("binary"), be(w, 8), be(h, 8),
      unhex(lit("080600000000000000")))
    val jpg = concat(unhex(lit("FFD8FFC0001108")), be(h, 4), be(w, 4),
      unhex(lit("03")))
    val media = Tables.documents(s, d).select(col("doc_id"),
      when(col("doc_id") % 3 === 0, png)
        .when(col("doc_id") % 3 === 1, jpg)
        .otherwise(unhex(lit("0011223344"))).as("media"))
    Multimodal.decodeHeaders(media)
  }

  private val mediaHeadersSql =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'png'
      |       WHEN doc_id % 3 = 1 THEN 'jpeg' END AS format,
      |  CAST(CASE WHEN doc_id % 3 = 2 THEN NULL
      |            ELSE n_chars % 1000 + 1 END AS BIGINT) AS width,
      |  CAST(CASE WHEN doc_id % 3 = 2 THEN NULL
      |            ELSE doc_id % 500 + 1 END AS BIGINT) AS height,
      |  CAST(CASE WHEN doc_id % 3 = 0 THEN 4
      |            WHEN doc_id % 3 = 1 THEN 3 END AS BIGINT) AS channels
      |FROM documents""".stripMargin

  // ===== multimodal: deterministic frame sampling, flattened ===========

  /** sampleFrames exploded to one row per frame with hex'd bytes — the
    * shape a video pipeline feeds to a per-frame model stage; the
    * DuckDB twin reproduces offsets and byte windows on the BLOB. */
  private val framesQ: QFn = (s, d) => {
    val media = Multimodal.packAsMedia(Tables.documents(s, d))
    Multimodal.sampleFrames(media, k = 4, frameBytes = 16)
      .select(col("doc_id"), explode(col("frames")).as("f"))
      .select(col("doc_id"), col("f.frame_idx").as("frame_idx"),
        col("f.offset").as("frame_offset"),
        hex(col("f.bytes")).as("frame_hex"))
  }

  // DuckDB has no BLOB substring/slice; hex the whole payload and slice
  // the hex string instead (2 chars per byte) — byte-exact for any
  // content, clamping at the end like Spark's binary substr.
  private val framesSql =
    """WITH m AS (
      |  SELECT doc_id, hex(encode(text)) AS media_hex,
      |         CAST(octet_length(encode(text)) AS BIGINT) AS n
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, media_hex, n, unnest(range(0, 4)) AS i FROM m)
      |SELECT doc_id, CAST(i AS INT) AS frame_idx,
      |  CAST(FLOOR(i * greatest(n - 16, 1) / 3.0) AS BIGINT)
      |    AS frame_offset,
      |  substring(media_hex,
      |    2 * CAST(FLOOR(i * greatest(n - 16, 1) / 3.0) AS BIGINT) + 1, 32)
      |    AS frame_hex
      |FROM f""".stripMargin

  val queries: Map[String, (QFn, String)] = Map(
    "q_x_media_headers" -> (mediaHeadersQ, mediaHeadersSql),
    "q_x_frames" -> (framesQ, framesSql),
    "q_x_pipeline_e2e" -> (pipelineE2e, pipelineE2eSql),
    "q_x_pipeline4" -> (pipeline4, pipeline4Sql),
    "q_x_source_cap" -> (sourceCap, sourceCapSql),
    "q_x_chunking" -> (chunkingQ, chunkingSql),
    "q_x_source_mix" -> (sourceMix, sourceMixSql),
    "q_x_repetition" -> (repetitionQ, repetitionSql),
    "q_x_pii_redact" -> (piiRedact, piiRedactSql),
    "q_x_text_stats" -> (textStats, textStatsSql),
    "q_x_fingerprint" -> (fingerprint, fingerprintSql),
    "q_x_dedup_exact" -> (dedupExact, dedupExactSql),
    "q_x_dedup_minhash" -> (dedupMinhash, dedupMinhashSql),
    "q_x_dedup_eval" -> (dedupEvalQ, dedupEvalSql),
    "q_x_split_leakage" -> (splitLeakage, splitLeakageSql),
    "q_x_image_dedup" -> (imageDedupQ, imageDedupSql),
    "q_x_simhash" -> (simhash, simhashSql),
    "q_x_jaccard_nn" -> (jaccardNn, jaccardNnSql),
    "q_x_ann_brute" -> (annBrute, annBruteSql),
    "q_x_mmr" -> (mmrQ, mmrSql),
    "q_x_kcenter" -> (kcenterQ, kcenterSql),
    "q_x_kmeans" -> (kmeansQ, kmeansSql),
    "q_x_pca" -> (pcaQ, pcaSql),
    "q_x_embed_neardup" -> (embedNearDup, embedNearDupSql),
    "q_x_semdedup" -> (semDedupQ, semDedupSql),
    "q_x_ann_lsh_recall" -> (annLshRecall, annLshRecallSql),
    "q_x_ann_ivf_recall" -> (annIvfRecall, annIvfRecallSql),
    "q_x_ann_int8" -> (annInt8, annInt8Sql),
    "q_x_ann_pq" -> (annPq, annPqSql),
    "q_x_ann_pq_serve" -> (annPqServe, annPqServeSql),
    "q_x_ann_ivfpq" -> (annIvfPq, annIvfPqSql),
    "q_x_ann_ivfpq_sample" -> (annIvfPqSample, annIvfPqSampleSql),
    "q_x_ann_ivfpq_res" -> (annIvfPqRes, annIvfPqResSql),
    "q_x_ann_ivfpq_res8" -> (annIvfPqRes8, annIvfPqRes8Sql),
    "q_x_multimodal" -> (multimodal, multimodalSql),
    "q_x_pixels" -> (pixelsQ, pixelsSql),
    "q_x_dedup_clusters" -> (dedupClusters, dedupClustersSql),
    "q_x_cluster_rep" -> (clusterRep, clusterRepSql),
    "q_x_contrastive" -> (contrastive, contrastiveSql),
    "q_x_quality_filter" -> (qualityFilter, qualityFilterSql),
    "q_x_token_count" -> (tokenCount, tokenCountSql),
    "q_x_lang_eval" -> (langEval, langEvalSql),
    "q_x_approx_distinct" -> (approxDistinct, approxDistinctSql),
    "q_s_event_window" -> (eventWindow, eventWindowSql),
    "q_s_attribution" -> (attribution, attributionSql),
    "q_s_enrich" -> (enrich, enrichSql),
    "q_s_event_props" -> (eventProps, eventPropsSql),
    "q_s_user_series" -> (userSeries, userSeriesSql),
    "q_s_user_sessions" -> (userSessionsQ, userSessionsSql))
}
