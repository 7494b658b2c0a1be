package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.{Checkpoints, Decontam, Hashing, LangModel, Layout, Retrieval,
  Sampling}
import Q._

/** Round-5 corpus operators under the DuckDB oracle: benchmark
  * decontamination, unigram-LM scoring, BM25 retrieval, deterministic
  * split assignment, and the z-order clustering value. Same parity
  * conventions as [[ExtQueries]] (portable md5 hashing, decimal-routed
  * double aggregation, sig9 normalization of the only libm-dependent
  * step).
  */
object CorpusQueries {
  type QFn = (SparkSession, String) => DataFrame

  private val hashSql = (e: String) => sqlHash60(e)
  private val hashPSql = (e: String) => sqlHashP(e)

  private val toksSql =
    """toks AS (
      |  SELECT doc_id, source,
      |         list_filter(string_split(text, ' '), t -> t <> '') AS tk
      |  FROM documents)""".stripMargin

  /** Distinct 5-gram hashes of a token-array column (mirrors
    * Dedup.shingleHashes(_, 5): distinct shingle strings, then distinct
    * hashes). */
  private def ng5Sql(arr: String) = {
    val shingle = (1 to 5).map(j => s"$arr[i+$j]").mkString(" || '_' || ")
    s"list_distinct(list_transform(list_distinct(list_transform(" +
      s"range(0, len($arr) - 4), i -> $shingle)), s -> ${hashPSql("s")}))"
  }

  // ===== benchmark decontamination ======================================

  /** The benchmark set is a 10-token excerpt (tokens 3..12) of every
    * 31st document — so those documents are planted true positives and
    * the oracle adjudicates both the hit accounting and the negatives. */
  private val decontam: QFn = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), Hashing.tokens(col("text")).as("tk"))
    val benchTk = toks.filter(col("doc_id") % 31 === 0)
      .select(slice(col("tk"), 3, 10).as("bt"))
    Decontam.overlap(toks, "doc_id", "tk",
      Decontam.benchNgrams(benchTk, "bt", 5), 5)
  }

  private val decontamSql =
    s"""WITH $toksSql,
       |bex AS (
       |  SELECT tk[3:12] AS bt FROM toks WHERE doc_id % 31 = 0),
       |bng AS (
       |  SELECT DISTINCT unnest(${ng5Sql("bt")}) AS h FROM bex),
       |dng AS (
       |  SELECT doc_id, ${ng5Sql("tk")} AS ng FROM toks),
       |hits AS (
       |  SELECT u.doc_id, CAST(COUNT(*) AS BIGINT) AS nh
       |  FROM (SELECT doc_id, unnest(ng) AS h FROM dng) u
       |  JOIN bng USING (h)
       |  GROUP BY u.doc_id)
       |SELECT doc_id, CAST(len(ng) AS BIGINT) AS n_ngrams,
       |  CAST(COALESCE(nh, 0) AS BIGINT) AS n_hits,
       |  CASE WHEN len(ng) > 0
       |       THEN CAST(COALESCE(nh, 0) AS DOUBLE) / len(ng)
       |       ELSE NULL END AS contam_frac,
       |  COALESCE(nh, 0) > 0 AS contaminated
       |FROM dng LEFT JOIN hits USING (doc_id)""".stripMargin

  // ===== unigram-LM scoring =============================================

  private val unigramLm: QFn = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), Hashing.tokens(col("text")).as("tk"))
    LangModel.score(toks, "doc_id", "tk",
      LangModel.unigramCounts(toks, "tk"))
  }

  private val unigramLmSql =
    s"""WITH $toksSql,
       |u AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
       |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM u GROUP BY tok),
       |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM c),
       |j AS (
       |  SELECT u.doc_id,
       |         CAST(c.c AS DOUBLE) / CAST(n.n_total AS DOUBLE) AS p,
       |         c.c AS c
       |  FROM u JOIN c USING (tok) CROSS JOIN n)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  ${sqlDavg("p")} AS mean_tok_prob,
       |  MIN(p) AS min_tok_prob,
       |  CAST(SUM(CASE WHEN c <= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
       |    AS rare_frac
       |FROM j GROUP BY doc_id""".stripMargin

  // ===== per-source Jensen–Shannon divergence ===========================

  /** JSD (nats) of every source's token distribution against the whole
    * corpus ([[graft.ext.CorpusDiff.tokenDivergence]]) — "which source
    * is most unlike the rest of the mix". The oracle replays the same
    * closed-form complement fold, so the absent-token tail accounting
    * is adjudicated, not just the in-group sum. */
  private val jsdQ: QFn = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("source"), Hashing.tokens(col("text")).as("tk"))
    graft.ext.CorpusDiff.tokenDivergence(toks, "source", "tk")
  }

  private val jsdSql = {
    val halfLn2 = 0.5 * graft.ext.CorpusDiff.Ln2
    val term = s"CAST(0.5 AS DOUBLE) * p * ${sqlSig9("ln(p / m)")} + " +
      s"CAST(0.5 AS DOUBLE) * q * ${sqlSig9("ln(q / m)")}"
    s"""WITH $toksSql,
       |ex AS (SELECT source AS g, unnest(tk) AS tok FROM toks),
       |cg AS (SELECT tok, CAST(count(*) AS BIGINT) AS cg FROM ex
       |       GROUP BY 1),
       |nt AS (SELECT CAST(sum(cg) AS BIGINT) AS n_tot FROM cg),
       |cs AS (SELECT g, tok, CAST(count(*) AS BIGINT) AS c FROM ex
       |       GROUP BY 1, 2),
       |ns AS (SELECT g, CAST(sum(c) AS BIGINT) AS ns FROM cs GROUP BY 1),
       |j AS (
       |  SELECT cs.g, ns.ns,
       |    CAST(cs.c AS DOUBLE) / CAST(ns.ns AS DOUBLE) AS p,
       |    CAST(cg.cg AS DOUBLE) / CAST(nt.n_tot AS DOUBLE) AS q
       |  FROM cs JOIN cg USING (tok) JOIN ns USING (g) CROSS JOIN nt),
       |jm AS (
       |  SELECT g, ns, p, q, (p + q) / CAST(2.0 AS DOUBLE) AS m FROM j),
       |terms AS (
       |  SELECT g, ns, ${sqlSig9(term)} AS term, ${sqlSig9("q")} AS q9
       |  FROM jm),
       |agg AS (
       |  SELECT g, ${sqlDsumStable("term", 12)} AS t_in,
       |    ${sqlDsumStable("q9", 12)} AS q_in,
       |    min(ns) AS ns, CAST(count(*) AS BIGINT) AS n_vocab
       |  FROM terms GROUP BY 1)
       |SELECT g AS source,
       |  ${sqlSig9(s"t_in + CAST($halfLn2 AS DOUBLE) * " +
          "(CAST(1.0 AS DOUBLE) - q_in)")} AS jsd,
       |  CAST(ns AS BIGINT) AS n_tok_positions, n_vocab
       |FROM agg""".stripMargin
  }

  // ===== per-source token entropy =====================================

  /** Shannon + normalized entropy of each source's token distribution
    * — the repetitiveness gate beside the JSD distance. Identity
    * H = ln N − (Σ c ln c)/N: two aggregates, zero joins; singleton
    * tokens contribute exactly 0 on both engines. */
  private val entropyQ: QFn = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("source"), Hashing.tokens(col("text")).as("tk"))
    graft.ext.CorpusDiff.tokenEntropy(toks, "source", "tk")
  }

  private val entropySql = {
    val term = "CASE WHEN c > 1 THEN " +
      sqlSig9(s"CAST(c AS DOUBLE) * ${sqlSig9("ln(CAST(c AS DOUBLE))")}") +
      " ELSE CAST(0.0 AS DOUBLE) END"
    val h = sqlSig9(sqlSig9("ln(CAST(n_tok AS DOUBLE))") +
      " - s_clogc / CAST(n_tok AS DOUBLE)")
    s"""WITH $toksSql,
       |ex AS (SELECT source AS g, unnest(tk) AS tok FROM toks),
       |cs AS (SELECT g, tok, CAST(count(*) AS BIGINT) AS c FROM ex
       |       GROUP BY 1, 2),
       |agg AS (
       |  SELECT g, CAST(sum(c) AS BIGINT) AS n_tok,
       |    CAST(count(*) AS BIGINT) AS n_vocab,
       |    ${sqlDsumStable(term, 6)} AS s_clogc
       |  FROM cs GROUP BY 1)
       |SELECT g AS source, n_tok, n_vocab,
       |  CASE WHEN n_tok > 0 THEN $h END AS entropy,
       |  CASE WHEN n_tok > 0 AND n_vocab > 1 THEN
       |    ${sqlSig9(s"($h) / ${sqlSig9("ln(CAST(n_vocab AS DOUBLE))")}")}
       |  END AS norm_entropy
       |FROM agg""".stripMargin
  }

  // ===== count-min sketch (mergeable frequency summary) =================

  private val cmsD = 4
  private val cmsW = 512

  /** CMS over the corpus token stream, point-estimating the true top-30
    * tokens ([[graft.ext.Sketch]]). Exact integers end to end: the
    * sketch sums, the estimates (min over rows — always ≥ exact), and
    * the per-key overestimate are all adjudicated bit-for-bit. */
  private val cmsQ: QFn = (s, d) => {
    val ex = Tables.documents(s, d)
      .select(explode(Hashing.tokens(col("text"))).as("tok"))
    // counts materialized ONCE (the FuzzyJoin convention): top-30,
    // sketch build and the final join all read the cut vocabulary
    // frame — the corpus tokenizes and aggregates exactly once
    val exact = ex.groupBy(col("tok")).agg(count(lit(1)).as("exact"))
      .transform(Checkpoints.cut)
    val top = exact.orderBy(col("exact").desc, col("tok").asc).limit(30)
    val sk = graft.ext.Sketch.countMinWeighted(
      exact, "tok", "exact", cmsD, cmsW, "cms")
    graft.ext.Sketch.cmsEstimate(sk, top, "tok", cmsD, cmsW, "cms")
      .join(top, Seq("tok"))
      .select(col("tok"), col("exact").cast("long").as("exact"),
        col("est"), (col("est") - col("exact")).as("overest"))
  }

  private val cmsSql = {
    val js = (0 until cmsD).mkString("[", ", ", "]")
    s"""WITH $toksSql,
       |ex AS (SELECT unnest(tk) AS tok FROM toks),
       |exact AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS exact FROM ex
       |  GROUP BY 1),
       |top AS (SELECT * FROM exact ORDER BY exact DESC, tok LIMIT 30),
       |js AS (SELECT unnest($js) AS j),
       |sk AS (
       |  SELECT j,
       |    ${hashSql("'cms' || j || ':' || tok")} % $cmsW AS bucket,
       |    CAST(count(*) AS BIGINT) AS s
       |  FROM ex CROSS JOIN js GROUP BY 1, 2),
       |probes AS (
       |  SELECT top.tok, js.j,
       |    ${hashSql("'cms' || js.j || ':' || top.tok")} % $cmsW AS bucket
       |  FROM top CROSS JOIN js),
       |est AS (
       |  SELECT p.tok, CAST(min(COALESCE(sk.s, 0)) AS BIGINT) AS est
       |  FROM probes p LEFT JOIN sk USING (j, bucket) GROUP BY 1)
       |SELECT top.tok, top.exact, est.est, est.est - top.exact AS overest
       |FROM top JOIN est USING (tok)""".stripMargin
  }

  // ===== interpolated bigram-LM scoring =================================

  private val bigramLambda = 0.7

  private val bigramLm: QFn = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), Hashing.tokens(col("text")).as("tk"))
    LangModel.bigramScore(toks, "doc_id", "tk",
      LangModel.unigramCounts(toks, "tk"),
      LangModel.bigramCounts(toks, "tk"), bigramLambda)
  }

  private val bigramLmSql = {
    // 1 - 0.7 computed in Scala and embedded at full precision so both
    // engines multiply by the identical IEEE double
    val oneMinus = 1 - bigramLambda
    s"""WITH $toksSql,
       |u AS (SELECT unnest(tk) AS tok FROM toks),
       |c1 AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM u
       |       GROUP BY tok),
       |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM c1),
       |bg AS (
       |  SELECT doc_id, unnest(tk[1:len(tk)-1]) AS t1,
       |         unnest(tk[2:len(tk)]) AS t2
       |  FROM toks),
       |c2 AS (SELECT t1, t2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg
       |       GROUP BY t1, t2),
       |j AS (
       |  SELECT bg.doc_id,
       |    CAST($bigramLambda AS DOUBLE)
       |      * (CAST(COALESCE(c2.c2, 0) AS DOUBLE)
       |         / CAST(COALESCE(a.c, 1) AS DOUBLE))
       |    + CAST($oneMinus AS DOUBLE)
       |      * (CAST(COALESCE(b.c, 0) AS DOUBLE)
       |         / CAST(n.n_total AS DOUBLE)) AS p
       |  FROM bg
       |  LEFT JOIN c2 ON c2.t1 = bg.t1 AND c2.t2 = bg.t2
       |  LEFT JOIN c1 a ON a.tok = bg.t1
       |  LEFT JOIN c1 b ON b.tok = bg.t2
       |  CROSS JOIN n)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |  ${sqlDavg("p")} AS mean_interp_p,
       |  MIN(p) AS min_interp_p
       |FROM j GROUP BY doc_id""".stripMargin
  }

  // ===== PMI collocations ==============================================

  /** Corpus collocations: PMI over adjacent token pairs with count
    * >= 5 — positive for pairs that co-occur beyond what their
    * marginals predict. Counts exact; the probability ratio fixed
    * IEEE; ln sig9'd. */
  private val pmiQ: QFn = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), Hashing.tokens(col("text")).as("tk"))
    LangModel.pmi(LangModel.unigramCounts(toks, "tk"),
      LangModel.bigramCounts(toks, "tk"), minCount = 5L)
  }

  private val pmiSql =
    s"""WITH $toksSql,
       |u AS (SELECT unnest(tk) AS tok FROM toks),
       |c1 AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM u
       |       GROUP BY tok),
       |n1 AS (SELECT CAST(SUM(c) AS BIGINT) AS n1 FROM c1),
       |bg AS (
       |  SELECT unnest(tk[1:len(tk)-1]) AS t1,
       |         unnest(tk[2:len(tk)]) AS t2
       |  FROM toks),
       |c2 AS (SELECT t1, t2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg
       |       GROUP BY t1, t2),
       |n2 AS (SELECT CAST(SUM(c2) AS BIGINT) AS n2 FROM c2)
       |SELECT c2.t1, c2.t2, c2.c2,
       |  ${sqlSig9("ln((CAST(c2.c2 AS DOUBLE) / CAST(n2.n2 AS DOUBLE)) / " +
           "((CAST(a.c AS DOUBLE) / CAST(n1.n1 AS DOUBLE)) * " +
           "(CAST(b.c AS DOUBLE) / CAST(n1.n1 AS DOUBLE))))")} AS pmi
       |FROM c2
       |JOIN c1 a ON a.tok = c2.t1
       |JOIN c1 b ON b.tok = c2.t2
       |CROSS JOIN n1 CROSS JOIN n2
       |WHERE c2.c2 >= 5""".stripMargin

  // ===== BM25 retrieval =================================================

  // ===== reciprocal-rank fusion =========================================

  /** Fuse two per-lang top-10 rankings (by n_chars and by token count)
    * with RRF — the hybrid-retrieval combiner; the whole fused ranking
    * (membership counts, decimal-summed scores, fused ranks) is
    * adjudicated. */
  private val rrfQ: QFn = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val w1 = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val r1 = docs.withColumn("rank", row_number().over(w1))
      .filter(col("rank") <= 10)
      .select(col("lang").as("qid"), col("doc_id"), col("rank"))
    val w2 = Window.partitionBy(col("lang"))
      .orderBy(size(Hashing.tokens(col("text"))).desc, col("doc_id").asc)
    val r2 = docs.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= 10)
      .select(col("lang").as("qid"), col("doc_id"), col("rank"))
    Retrieval.rrf(Seq(r1, r2))
  }

  private val rrfSql =
    s"""WITH $toksSql,
       |r1 AS (
       |  SELECT qid, doc_id, r FROM (
       |    SELECT lang AS qid, doc_id, CAST(ROW_NUMBER() OVER (
       |      PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS BIGINT)
       |      AS r
       |    FROM documents) WHERE r <= 10),
       |r2 AS (
       |  SELECT qid, doc_id, r FROM (
       |    SELECT d.lang AS qid, d.doc_id, CAST(ROW_NUMBER() OVER (
       |      PARTITION BY d.lang ORDER BY len(t.tk) DESC, d.doc_id)
       |      AS BIGINT) AS r
       |    FROM documents d JOIN toks t ON t.doc_id = d.doc_id)
       |  WHERE r <= 10),
       |u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2),
       |f AS (
       |  SELECT qid, doc_id, CAST(COUNT(*) AS BIGINT) AS n_rankings,
       |         ${sqlDsum("1.0 / (60 + r)")} AS rrf_score
       |  FROM u GROUP BY qid, doc_id)
       |SELECT qid, doc_id, n_rankings, rrf_score,
       |  CAST(ROW_NUMBER() OVER (
       |    PARTITION BY qid ORDER BY rrf_score DESC, doc_id) AS BIGINT)
       |    AS fused_rank
       |FROM f""".stripMargin

  private val bm25K1 = 1.2
  private val bm25B = 0.75

  /** Query terms: the distinct first 12 tokens of document 7 — a
    * deterministic stand-in for user query input. */
  private val bm25: QFn = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), Hashing.tokens(col("text")).as("tk"))
    val terms = toks.filter(col("doc_id") === 7)
      .select(explode(slice(col("tk"), 1, 12)).as("term")).distinct()
    Retrieval.bm25TopK(toks, "doc_id", "tk", terms, k = 20,
      k1 = bm25K1, b = bm25B)
  }

  private val bm25Sql = {
    val k1p1 = bm25K1 + 1
    val oneMinusB = 1 - bm25B
    val idfExpr = "ln((CAST(n_docs AS DOUBLE) - df + CAST(0.5 AS DOUBLE)) " +
      "/ (df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))"
    val sExpr = s"(idf * (CAST(tf AS DOUBLE) * CAST($k1p1 AS DOUBLE))) " +
      s"/ (CAST(tf AS DOUBLE) + CAST($bm25K1 AS DOUBLE) " +
      s"* (CAST($oneMinusB AS DOUBLE) " +
      s"+ CAST($bm25B AS DOUBLE) * CAST(dl AS DOUBLE) / avgdl))"
    s"""WITH $toksSql,
       |dl AS (
       |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl
       |  FROM toks WHERE len(tk) > 0),
       |st AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |         ${sqlDavg("CAST(dl AS DOUBLE)")} AS avgdl
       |  FROM dl),
       |terms AS (
       |  SELECT DISTINCT unnest(tk[1:12]) AS term FROM toks
       |  WHERE doc_id = 7),
       |u AS (SELECT doc_id, unnest(tk) AS term FROM toks),
       |tf AS (
       |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM u JOIN terms USING (term) GROUP BY doc_id, term),
       |dfq AS (
       |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
       |idf AS (
       |  SELECT term, ${sqlSig9(idfExpr)} AS idf FROM dfq CROSS JOIN st),
       |sc AS (
       |  SELECT tf.doc_id, $sExpr AS s
       |  FROM tf JOIN idf USING (term) JOIN dl USING (doc_id)
       |  CROSS JOIN st),
       |ag AS (
       |  SELECT doc_id, ${sqlDsum("s")} AS score,
       |         CAST(COUNT(*) AS BIGINT) AS n_terms_matched
       |  FROM sc GROUP BY doc_id),
       |r AS (
       |  SELECT doc_id, score, n_terms_matched,
       |         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rn
       |  FROM ag)
       |SELECT doc_id, CAST(rn AS BIGINT) AS "rank", score, n_terms_matched
       |FROM r WHERE rn <= 20""".stripMargin
  }

  // ===== NDCG@20 of the BM25 ranking ===================================

  /** Ranking-quality readout over the adjudicated BM25 top-20
    * ([[graft.ext.Retrieval.ndcg]]): graded relevance = (same source
    * as the query doc) + (same lang) ∈ {0,1,2}; the oracle composes
    * the full bm25 CTE chain as a subquery (the pipeline convention)
    * and mirrors the bounded literal-weight folds. */
  /** The judged BM25 top-20 list shared by `q_x_ndcg`,
    * `q_x_rank_eval` and the pipeline-10 suite: graded (source, lang)
    * relevance of each ranked doc against doc 7's profile. */
  private def judgedRel(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val qdoc = docs.filter(col("doc_id") === 7)
      .select(col("source").as("qsrc"), col("lang").as("qlang"))
    bm25(s, d)
      .join(docs.select(col("doc_id"), col("source"), col("lang")),
        Seq("doc_id"))
      .crossJoin(broadcast(qdoc))
      .select(col("rank"),
        (when(col("source") === col("qsrc"), 1L).otherwise(0L) +
          when(col("lang") === col("qlang"), 1L).otherwise(0L)).as("rel"))
  }

  private val ndcgQ: QFn = (s, d) =>
    Retrieval.ndcg(judgedRel(s, d), Seq.empty, "rank", "rel", k = 20)

  private val ndcgSql = {
    // the same literal discount weights the engine embeds (shortest-
    // repr double printing parses back to the identical double)
    val w = (1 to 20).map(i =>
      s"CAST(${1.0 / (math.log(i + 1.0) / math.log(2.0))} AS DOUBLE)")
      .mkString("[", ", ", "]")
    s"""WITH base AS ($bm25Sql),
       |q AS (SELECT source AS qsrc, lang AS qlang FROM documents
       |  WHERE doc_id = 7),
       |rl AS (
       |  SELECT base."rank" AS rnk,
       |    CAST(CASE WHEN d.source = q.qsrc THEN 1 ELSE 0 END
       |      + CASE WHEN d.lang = q.qlang THEN 1 ELSE 0 END
       |      AS BIGINT) AS rel
       |  FROM base JOIN documents d USING (doc_id) CROSS JOIN q),
       |g AS (
       |  SELECT
       |    list(struct_pack(r := rnk, rel := rel) ORDER BY rnk)
       |      AS byrank,
       |    list(rel ORDER BY rel DESC, rnk) AS byrel,
       |    CAST(count(*) AS BIGINT) AS n_ranked
       |  FROM rl WHERE rnk >= 1 AND rnk <= 20 AND rel IS NOT NULL),
       |f AS (
       |  SELECT n_ranked,
       |    ${Q.sqlFold("list_transform(byrank, x -> " +
            "CAST(struct_extract(x, 'rel') AS DOUBLE) * " +
            s"($w)[struct_extract(x, 'r')])")} AS dcg_raw,
       |    ${Q.sqlFold("list_transform(byrel, (x, i) -> " +
            s"CAST(x AS DOUBLE) * ($w)[i])")} AS idcg_raw
       |  FROM g)
       |SELECT
       |  CASE WHEN n_ranked > 0 AND idcg_raw > CAST(0.0 AS DOUBLE)
       |    THEN ${Q.sqlSig9("dcg_raw / idcg_raw")} END AS ndcg,
       |  CASE WHEN n_ranked > 0 THEN ${Q.sqlSig9("dcg_raw")} END AS dcg,
       |  CASE WHEN n_ranked > 0 THEN ${Q.sqlSig9("idcg_raw")} END
       |    AS idcg,
       |  COALESCE(n_ranked, 0) AS n_ranked
       |FROM f""".stripMargin
  }

  // ===== binary-relevance rank evaluation (MRR / P@k / R@k) ===========

  /** [[graft.ext.Retrieval.rankEval]] at k = 10 over the same judged
    * BM25 top-20 list as `q_x_ndcg` (relevant = any grade > 0): the
    * recall base is the full 20-row list, so recall@10 exercises the
    * "judged rows past k count toward the base" contract. All exact
    * integers plus three sig9'd single divisions. */
  private val rankEvalK = 10

  private val rankEvalQ: QFn = (s, d) =>
    Retrieval.rankEval(judgedRel(s, d), Seq.empty, "rank", "rel",
      k = rankEvalK)

  private val rankEvalSql = {
    val k = rankEvalK
    s"""WITH base AS ($bm25Sql),
       |q AS (SELECT source AS qsrc, lang AS qlang FROM documents
       |  WHERE doc_id = 7),
       |rl AS (
       |  SELECT base."rank" AS rnk,
       |    CAST(CASE WHEN d.source = q.qsrc THEN 1 ELSE 0 END
       |      + CASE WHEN d.lang = q.qlang THEN 1 ELSE 0 END
       |      AS BIGINT) AS rel
       |  FROM base JOIN documents d USING (doc_id) CROSS JOIN q),
       |g AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_ranked,
       |    CAST(COALESCE(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS n_rel_total,
       |    CAST(COALESCE(sum(CASE WHEN rel > 0 AND rnk <= $k
       |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_rel_at_k,
       |    CAST(min(CASE WHEN rel > 0 AND rnk <= $k THEN rnk END)
       |      AS BIGINT) AS first_rel_rank
       |  FROM rl WHERE rnk >= 1 AND rel IS NOT NULL)
       |SELECT
       |  CASE WHEN first_rel_rank IS NOT NULL THEN ${Q.sqlSig9(
            "CAST(1.0 AS DOUBLE) / CAST(first_rel_rank AS DOUBLE)")}
       |    ELSE CAST(0.0 AS DOUBLE) END AS mrr,
       |  ${Q.sqlSig9(s"CAST(n_rel_at_k AS DOUBLE) / " +
            s"CAST($k.0 AS DOUBLE)")} AS prec_at_k,
       |  CASE WHEN n_rel_total > 0 THEN ${Q.sqlSig9(
            "CAST(n_rel_at_k AS DOUBLE) / CAST(n_rel_total AS DOUBLE)")}
       |    END AS recall_at_k,
       |  CASE WHEN n_rel_at_k > 0 THEN CAST(1 AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END AS hit_at_k,
       |  first_rel_rank, n_rel_at_k, n_rel_total, n_ranked
       |FROM g""".stripMargin
  }

  // ===== pipeline 11: one-plan per-source corpus data card ============

  /** The dataset-card generator: per source, ONE long-format plan
    * reporting volume (docs/tokens/vocab), lexical diversity (TTR,
    * hapax, Yule's K), token entropy (raw + normalized), the quality
    * pass rate and the exact-duplicate rate — the summary table a
    * data curator publishes next to a corpus release. Composition
    * changes nothing: `CorpusCardSpec` pins every row to the
    * standalone adjudicated operator (or its direct recompute), and
    * the oracle composes the component SQLs as subqueries. */
  private val pipeline11Q: QFn = (s, d) => {
    val docs = Tables.documents(s, d)
    def longRow(df: DataFrame, metric: String,
        v: org.apache.spark.sql.Column) =
      df.select(col("source"), lit(metric).as("metric"),
        v.cast("double").as("value"))
    val lex = graft.ext.TextStats.lexicalDiversity(docs)
    val ent = graft.ext.CorpusDiff.tokenEntropy(
      docs.select(col("source"), Hashing.tokens(col("text")).as("tk")),
      "source", "tk")
    val nd = docs.where(col("source").isNotNull)
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
    val qr = graft.ext.TextStats.qualityFilter(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .where(col("source").isNotNull)
      .groupBy(col("source"))
      .agg(Q.sig9(sum(when(col("keep"), 1L).otherwise(0L))
        .cast("double") / count(lit(1)).cast("double"))
        .as("pass_rate"))
    val dr = docs.where(col("source").isNotNull)
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n"),
        count_distinct(md5(col("text"))).cast("long").as("nd"))
      .select(col("source"), Q.sig9((col("n") - col("nd"))
        .cast("double") / col("n").cast("double")).as("dup_rate"))
    longRow(nd, "n_docs", col("n_docs"))
      .unionByName(longRow(lex, "n_tokens", col("n_tokens")))
      .unionByName(longRow(lex, "vocab", col("vocab")))
      .unionByName(longRow(lex, "ttr", col("ttr")))
      .unionByName(longRow(lex, "hapax_rate", col("hapax_rate")))
      .unionByName(longRow(lex, "yule_k", col("yule_k")))
      .unionByName(longRow(ent, "entropy", col("entropy")))
      .unionByName(longRow(ent, "norm_entropy", col("norm_entropy")))
      .unionByName(longRow(qr, "quality_pass_rate", col("pass_rate")))
      .unionByName(longRow(dr, "exact_dup_rate", col("dup_rate")))
  }

  // lazy: lexicalSql is declared later in the file, and object vals
  // initialize in declaration order — a strict val here would embed
  // null into the composed SQL
  private lazy val pipeline11Sql =
    s"""WITH lx AS ($lexicalSql),
       |en AS ($entropySql),
       |qf AS (${ExtQueries.qualityFilterSql}),
       |nd AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM documents WHERE source IS NOT NULL GROUP BY 1),
       |qr AS (
       |  SELECT d.source, ${Q.sqlSig9(
            "CAST(COALESCE(sum(CASE WHEN qf.keep THEN 1 ELSE 0 END), 0)" +
              " AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS pass_rate
       |  FROM qf JOIN documents d USING (doc_id)
       |  WHERE d.source IS NOT NULL GROUP BY 1),
       |dr AS (
       |  SELECT source, ${Q.sqlSig9(
            "CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE) / " +
              "CAST(count(*) AS DOUBLE)")} AS dup_rate
       |  FROM documents WHERE source IS NOT NULL GROUP BY 1)
       |SELECT source, 'n_docs' AS metric, CAST(n_docs AS DOUBLE)
       |  AS value FROM nd
       |UNION ALL SELECT source, 'n_tokens', CAST(n_tokens AS DOUBLE)
       |  FROM lx
       |UNION ALL SELECT source, 'vocab', CAST(vocab AS DOUBLE) FROM lx
       |UNION ALL SELECT source, 'ttr', ttr FROM lx
       |UNION ALL SELECT source, 'hapax_rate', hapax_rate FROM lx
       |UNION ALL SELECT source, 'yule_k', yule_k FROM lx
       |UNION ALL SELECT source, 'entropy', entropy FROM en
       |UNION ALL SELECT source, 'norm_entropy', norm_entropy FROM en
       |UNION ALL SELECT source, 'quality_pass_rate', pass_rate FROM qr
       |UNION ALL SELECT source, 'exact_dup_rate', dup_rate FROM dr"""
      .stripMargin

  // ===== pipeline 10: one-plan retrieval-quality suite ================

  /** NDCG@20 + MRR + precision/recall@10 + hit@10 over the SAME
    * judged BM25 list in ONE long-format plan — the full "how good is
    * this ranking" report. Composition changes nothing:
    * `RetrievalSuiteSpec` pins each row to the standalone operator,
    * and the oracle composes the same CTEs. */
  private val pipeline10Q: QFn = (s, d) => {
    val rel = judgedRel(s, d)
    val naux = lit(null).cast("double").as("aux")
    val nd = Retrieval.ndcg(rel, Seq.empty, "rank", "rel", k = 20)
      .select(lit("ndcg").as("stat"), col("ndcg").as("value"),
        col("dcg").as("aux"), col("n_ranked").as("n"))
    val re = Retrieval.rankEval(rel, Seq.empty, "rank", "rel",
      k = rankEvalK)
    val mrr = re.select(lit("mrr").as("stat"), col("mrr").as("value"),
      col("first_rel_rank").cast("double").as("aux"), col("n_ranked")
        .as("n"))
    val prec = re.select(lit("precision").as("stat"),
      col("prec_at_k").as("value"), naux, col("n_rel_at_k").as("n"))
    val rec = re.select(lit("recall").as("stat"),
      col("recall_at_k").as("value"), naux, col("n_rel_total").as("n"))
    val hit = re.select(lit("hit").as("stat"),
      col("hit_at_k").cast("double").as("value"), naux,
      col("n_ranked").as("n"))
    nd.unionByName(mrr).unionByName(prec).unionByName(rec)
      .unionByName(hit)
  }

  private val pipeline10Sql = {
    val k = rankEvalK
    val w = (1 to 20).map(i =>
      s"CAST(${1.0 / (math.log(i + 1.0) / math.log(2.0))} AS DOUBLE)")
      .mkString("[", ", ", "]")
    s"""WITH base AS ($bm25Sql),
       |q AS (SELECT source AS qsrc, lang AS qlang FROM documents
       |  WHERE doc_id = 7),
       |rl AS MATERIALIZED (
       |  SELECT base."rank" AS rnk,
       |    CAST(CASE WHEN d.source = q.qsrc THEN 1 ELSE 0 END
       |      + CASE WHEN d.lang = q.qlang THEN 1 ELSE 0 END
       |      AS BIGINT) AS rel
       |  FROM base JOIN documents d USING (doc_id) CROSS JOIN q),
       |g AS (
       |  SELECT
       |    list(struct_pack(r := rnk, rel := rel) ORDER BY rnk)
       |      AS byrank,
       |    list(rel ORDER BY rel DESC, rnk) AS byrel,
       |    CAST(count(*) AS BIGINT) AS n_ranked
       |  FROM rl WHERE rnk >= 1 AND rnk <= 20 AND rel IS NOT NULL),
       |f AS (
       |  SELECT n_ranked,
       |    ${Q.sqlFold("list_transform(byrank, x -> " +
            "CAST(struct_extract(x, 'rel') AS DOUBLE) * " +
            s"($w)[struct_extract(x, 'r')])")} AS dcg_raw,
       |    ${Q.sqlFold("list_transform(byrel, (x, i) -> " +
            s"CAST(x AS DOUBLE) * ($w)[i])")} AS idcg_raw
       |  FROM g),
       |ge AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_ranked,
       |    CAST(COALESCE(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS n_rel_total,
       |    CAST(COALESCE(sum(CASE WHEN rel > 0 AND rnk <= $k
       |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_rel_at_k,
       |    CAST(min(CASE WHEN rel > 0 AND rnk <= $k THEN rnk END)
       |      AS BIGINT) AS first_rel_rank
       |  FROM rl WHERE rnk >= 1 AND rel IS NOT NULL)
       |SELECT 'ndcg' AS stat,
       |  CASE WHEN n_ranked > 0 AND idcg_raw > CAST(0.0 AS DOUBLE)
       |    THEN ${Q.sqlSig9("dcg_raw / idcg_raw")} END AS value,
       |  CASE WHEN n_ranked > 0 THEN ${Q.sqlSig9("dcg_raw")} END
       |    AS aux,
       |  n_ranked AS n
       |FROM f
       |UNION ALL SELECT 'mrr',
       |  CASE WHEN first_rel_rank IS NOT NULL THEN ${Q.sqlSig9(
            "CAST(1.0 AS DOUBLE) / CAST(first_rel_rank AS DOUBLE)")}
       |    ELSE CAST(0.0 AS DOUBLE) END,
       |  CAST(first_rel_rank AS DOUBLE), n_ranked FROM ge
       |UNION ALL SELECT 'precision',
       |  ${Q.sqlSig9(s"CAST(n_rel_at_k AS DOUBLE) / " +
            s"CAST($k.0 AS DOUBLE)")},
       |  CAST(NULL AS DOUBLE), n_rel_at_k FROM ge
       |UNION ALL SELECT 'recall',
       |  CASE WHEN n_rel_total > 0 THEN ${Q.sqlSig9(
            "CAST(n_rel_at_k AS DOUBLE) / CAST(n_rel_total AS DOUBLE)")}
       |    END,
       |  CAST(NULL AS DOUBLE), n_rel_total FROM ge
       |UNION ALL SELECT 'hit',
       |  CASE WHEN n_rel_at_k > 0 THEN CAST(1.0 AS DOUBLE)
       |    ELSE CAST(0.0 AS DOUBLE) END,
       |  CAST(NULL AS DOUBLE), n_ranked FROM ge""".stripMargin
  }

  // ===== deterministic split assignment =================================

  private val splitWeights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  // cumulative boundaries computed ONCE here and embedded as literals on
  // both sides, so float-summation order cannot diverge
  private val splitCum =
    splitWeights.map(_._2).scanLeft(0.0)(_ + _).tail

  private val splitAssignQ: QFn = (s, d) =>
    Sampling.splitAssign(
      Tables.documents(s, d).select(col("doc_id"), col("source")),
      "doc_id", splitWeights)

  private val splitAssignSql = {
    val cases = splitWeights.init.zip(splitCum.init)
      .map { case ((name, _), c) =>
        s"WHEN u < CAST($c AS DOUBLE) THEN '$name'"
      }.mkString(" ")
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CAST(${hashSql("'split:' || CAST(doc_id AS VARCHAR)")} % 1000000
       |      AS DOUBLE) / 1000000.0 AS u
       |  FROM documents)
       |SELECT doc_id, source, u,
       |  CASE $cases ELSE '${splitWeights.last._1}' END AS split
       |FROM t""".stripMargin
  }

  // ===== z-order clustering value =======================================

  /** The z-value itself is the oracle-checkable part of z-order
    * clustering (the layout effect is pinned by LayoutSpec on scan
    * metrics): 16-bit interleave of (l_partkey, l_suppkey) per
    * lineitem row. */
  private val zorderQ: QFn = (s, d) =>
    Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
      Layout.zorderValue(col("l_partkey"), col("l_suppkey"), 16).as("zval"))

  private val zorderSql = {
    val terms = (0 until 16).flatMap { i =>
      Seq(
        s"((((CAST(l_partkey AS BIGINT) & 65535) >> $i) & 1) << ${2 * i})",
        s"((((CAST(l_suppkey AS BIGINT) & 65535) >> $i) & 1) << ${2 * i + 1})")
    }.mkString(" + ")
    s"""SELECT l_orderkey, l_linenumber,
       |  CAST($terms AS BIGINT) AS zval
       |FROM lineitem""".stripMargin
  }

  // ===== Hilbert clustering value =======================================

  /** [[graft.ext.Layout.hilbertValue]] of (l_partkey, l_suppkey) per
    * lineitem row — the jump-free space-filling sibling of
    * `q_x_zorder` (consecutive Hilbert cells are always grid-adjacent;
    * LayoutSpec pins bijection + adjacency against the classic
    * reference transform). The oracle replays the identical [d, x, y]
    * integer fold as a DuckDB list_reduce. */
  private val hilbertQ: QFn = (s, d) =>
    Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
      graft.ext.Layout.hilbertValue(col("l_partkey"), col("l_suppkey"),
        16).as("hval"))

  private val hilbertSql = {
    val sList = (15 to 0 by -1).map(i => s"[${1L << i}]")
      .mkString("[", ", ", "]")
    val x0 = "(CAST(l_partkey AS BIGINT) & 65535)"
    val y0 = "(CAST(l_suppkey AS BIGINT) & 65535)"
    s"""SELECT l_orderkey, l_linenumber,
       |  list_reduce(list_prepend(CAST([0, $x0, $y0] AS BIGINT[]),
       |      CAST($sList AS BIGINT[][])),
       |    (acc, e) -> [
       |      acc[1] + e[1] * e[1] * (CASE
       |        WHEN (acc[2] & e[1]) > 0 AND (acc[3] & e[1]) > 0 THEN 2
       |        WHEN (acc[2] & e[1]) > 0 THEN 3
       |        WHEN (acc[3] & e[1]) > 0 THEN 1 ELSE 0 END),
       |      CASE WHEN (acc[3] & e[1]) > 0 THEN acc[2]
       |        WHEN (acc[2] & e[1]) > 0 THEN e[1] - 1 - acc[3]
       |        ELSE acc[3] END,
       |      CASE WHEN (acc[3] & e[1]) > 0 THEN acc[3]
       |        WHEN (acc[2] & e[1]) > 0 THEN e[1] - 1 - acc[2]
       |        ELSE acc[2] END])[1] AS hval
       |FROM lineitem""".stripMargin
  }

  // ===== exact heavy hitters (sketch-pruned) ============================

  /** Spark side runs the Misra–Gries two-pass (candidates never exceed
    * 4k, shuffle is O(k)); the oracle is the direct exact definition —
    * the sketch only prunes, so both must agree token-for-token. */
  private val heavyHittersQ: QFn = (s, d) =>
    graft.ext.TextStats.heavyHitters(Tables.documents(s, d), k = 40)

  private val heavyHittersSql =
    """WITH toks AS (
      |  SELECT unnest(list_filter(string_split(text, ' '), t -> t <> ''))
      |         AS tok
      |  FROM documents),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM toks)
      |SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt, n_total
      |FROM toks, tot
      |GROUP BY tok, n_total
      |HAVING COUNT(*) * 40 > n_total""".stripMargin

  // ===== per-source exact heavy hitters =================================

  /** [[graft.ext.TextStats.heavyHittersBy]]: the grouped face of
    * `q_x_heavy_hitters` — per SOURCE heavy tokens (the per-slice "what
    * dominates this corpus shard" QA view). One grouped Misra–Gries
    * pass (O(groups·4k) shuffle), keyed verify join; exact output, the
    * oracle is the per-group definition. */
  private val heavyHittersByQ: QFn = (s, d) =>
    graft.ext.TextStats.heavyHittersBy(Tables.documents(s, d),
      "source", k = 40)

  private val heavyHittersBySql =
    """WITH toks AS (
      |  SELECT source,
      |    unnest(list_filter(string_split(text, ' '), t -> t <> ''))
      |      AS tok
      |  FROM documents),
      |tot AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_total FROM toks
      |  GROUP BY 1)
      |SELECT t.source, t.tok, CAST(count(*) AS BIGINT) AS cnt,
      |  tot.n_total
      |FROM toks t JOIN tot USING (source)
      |GROUP BY t.source, t.tok, tot.n_total
      |HAVING count(*) * 40 > tot.n_total""".stripMargin

  // ===== DSIR importance resampling =====================================

  /** Target domain = source 'src0'; corpus = all documents. The full
    * ranking is emitted (not just the winners) so both the selection
    * and every negative's rank are adjudicated. */
  private val dsirQ: QFn = (s, d) => {
    val docs = Tables.documents(s, d)
    graft.ext.Dsir.selectTopK(
      graft.ext.Dsir.importanceWeights(
        docs, docs.filter(col("source") === "src0"), buckets = 512),
      k = 100)
  }

  private val dsirSql = {
    val uni = s"list_transform(tk, t -> ${hashPSql("t")} % 512)"
    val bi = "list_transform(range(0, len(tk) - 1), " +
      s"i -> ${hashPSql("tk[i+1] || '_' || tk[i+2]")} % 512)"
    s"""WITH $toksSql,
       |feats AS (
       |  SELECT doc_id, source, unnest(list_concat($uni, $bi)) AS b
       |  FROM toks),
       |tc AS (SELECT b, COUNT(*) AS ct FROM feats
       |       WHERE source = 'src0' GROUP BY b),
       |qc AS (SELECT b, COUNT(*) AS cq FROM feats GROUP BY b),
       |nt AS (SELECT COUNT(*) AS tn FROM feats WHERE source = 'src0'),
       |nq AS (SELECT COUNT(*) AS qn FROM feats),
       |lr AS (
       |  SELECT qc.b,
       |    ${Q.sqlSig9("ln((CAST(COALESCE(tc.ct, 0) + 1 AS DOUBLE) * CAST(nq.qn + 512 AS DOUBLE)) / (CAST(qc.cq + 1 AS DOUBLE) * CAST(nt.tn + 512 AS DOUBLE)))")} AS lr
       |  FROM qc LEFT JOIN tc USING (b), nt, nq),
       |ws AS (
       |  SELECT f.doc_id, ${Q.sqlDsum("lr.lr")} AS w
       |  FROM feats f JOIN lr ON f.b = lr.b GROUP BY f.doc_id),
       |al AS (
       |  SELECT d.doc_id, COALESCE(ws.w, CAST(0.0 AS DOUBLE)) AS weight
       |  FROM documents d LEFT JOIN ws USING (doc_id))
       |SELECT doc_id, weight,
       |  CAST(ROW_NUMBER() OVER (ORDER BY weight DESC, doc_id)
       |       AS BIGINT) AS sel_rank,
       |  (ROW_NUMBER() OVER (ORDER BY weight DESC, doc_id) <= 100)
       |    AS selected
       |FROM al""".stripMargin
  }

  // ===== vocabulary build + coverage ====================================

  private val vocabQ: QFn = (s, d) =>
    graft.ext.LangModel.vocabCoverage(
      Tables.documents(s, d)
        .select(graft.ext.Hashing.tokens(col("text")).as("tk")),
      "tk", topV = 100)

  private val vocabSql =
    s"""WITH $toksSql,
       |cs AS (
       |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(tk) AS tok FROM toks) GROUP BY tok),
       |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM cs),
       |top AS (
       |  SELECT tok, cnt FROM cs ORDER BY cnt DESC, tok LIMIT 100)
       |SELECT
       |  CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS BIGINT)
       |    AS vocab_rank,
       |  tok, cnt,
       |  CAST(SUM(cnt) OVER (ORDER BY cnt DESC, tok
       |         ROWS UNBOUNDED PRECEDING) AS DOUBLE)
       |    / CAST(n_total AS DOUBLE) AS cum_cov
       |FROM top, tot""".stripMargin

  // ===== n-gram novelty =================================================

  private val noveltyQ: QFn = (s, d) =>
    graft.ext.TextStats.novelty(Tables.documents(s, d), n = 3)

  /** Mirrors Dedup.shingleHashes(_, 3): distinct 3-gram strings, then
    * distinct hashes (same two-level distinct as ng5Sql). */
  private val ng3Sql = {
    val shingle = (1 to 3).map(j => s"tk[i+$j]").mkString(" || '_' || ")
    s"list_distinct(list_transform(list_distinct(list_transform(" +
      s"range(0, len(tk) - 2), i -> $shingle)), s -> ${hashPSql("s")}))"
  }

  private val noveltySql =
    s"""WITH $toksSql,
       |dng AS (SELECT doc_id, unnest($ng3Sql) AS h FROM toks),
       |f AS (
       |  SELECT doc_id,
       |         MIN(doc_id) OVER (PARTITION BY h) AS first_id
       |  FROM dng)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
       |  CAST(SUM(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_novel,
       |  CAST(SUM(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END)
       |       AS DOUBLE) / COUNT(*) AS novel_frac
       |FROM f GROUP BY doc_id""".stripMargin

  // ===== deterministic epoch shuffle ====================================

  /** Reproducible pseudo-random global training order + balanced shard
    * layout over the documents corpus. The oracle IS the naive
    * single-window form (`row_number` over the global hash order), so
    * the two-phase hash-bucket prefix sum is adjudicated to exact
    * global positions end to end. */
  private val epochShuffleQ: QFn = (s, d) =>
    Sampling.epochShuffle(
      Tables.documents(s, d).select(col("doc_id")),
      "doc_id", "ep0", 512L, 64)

  private val epochShuffleSql =
    s"""WITH h AS (
       |  SELECT doc_id,
       |    ${hashSql("'ep0:' || CAST(doc_id AS VARCHAR)")} AS hv
       |  FROM documents),
       |r AS (
       |  SELECT doc_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY hv, doc_id) - 1 AS BIGINT) AS pos
       |  FROM h)
       |SELECT doc_id, pos,
       |  CAST(pos // 512 AS BIGINT) AS shard,
       |  CAST(pos % 512 AS BIGINT) AS shard_pos
       |FROM r""".stripMargin

  // ===== weighted sampling without replacement ==========================

  /** Efraimidis–Spirakis A-Res per language: 20 docs per lang with
    * inclusion probability proportional to n_chars. The oracle
    * recomputes the identical sig9(ln(u)/w) keys and ranks them with
    * DuckDB's own window — selection AND rank order adjudicated. */
  private val weightedSampleQ: QFn = (s, d) =>
    graft.ext.Sampling.weightedSample(Tables.documents(s, d), "doc_id",
        "n_chars", k = 20, seed = "s42", stratumCol = Some("lang"))
      .select(col("lang"), col("doc_id"), col("ws_rank"))

  private val weightedSampleSql = {
    val h = hashSql("'wsample:s42:' || CAST(doc_id AS VARCHAR)")
    val key = sqlSig9(s"ln(CAST($h % 1000000 + 1 AS DOUBLE) / 1000001.0)" +
      " / CAST(n_chars AS DOUBLE)")
    s"""WITH b AS (
       |  SELECT lang, doc_id, $key AS k9 FROM documents
       |  WHERE n_chars IS NOT NULL AND n_chars > 0),
       |r AS (
       |  SELECT lang, doc_id,
       |    CAST(row_number() OVER
       |      (PARTITION BY lang ORDER BY k9 DESC, doc_id) AS BIGINT)
       |      AS ws_rank
       |  FROM b)
       |SELECT lang, doc_id, ws_rank FROM r WHERE ws_rank <= 20""".stripMargin
  }

  // ===== HyperLogLog distinct estimate ================================

  private val hllP = 9

  /** HLL vocabulary-size estimate over the corpus token stream
    * ([[graft.ext.Sketch.hyperLogLog]], m = 512 registers), joined
    * with the exact distinct count and the relative error — the
    * register table, harmonic fold, small-range correction and error
    * all adjudicate (sig9 only at the two documented points). */
  private val hllQ: QFn = (s, d) => {
    val ex = Tables.documents(s, d)
      .select(explode(Hashing.tokens(col("text"))).as("tok"))
    val est = graft.ext.Sketch.hyperLogLog(ex, "tok", hllP, "hll")
    val exact = ex.agg(countDistinct(col("tok")).cast("long").as("exact"))
    est.crossJoin(broadcast(exact))
      .select(col("estimate"), col("raw_est"), col("v_zero"),
        col("n_occupied"), col("m"), col("exact"),
        sig9((col("estimate") - col("exact").cast("double"))
          / col("exact").cast("double")).as("rel_err"))
  }

  // ===== HLL merge law as an adjudicated rollup ========================

  /** Per-day HLL register tables over events.user_id merged by
    * union+max vs the direct single-pass sketch — THE 100 TB rollup
    * pattern (per-partition sketches, no raw-key re-scan) certified
    * cross-engine: n_reg_diff adjudicates that the merged and direct
    * register tables are IDENTICAL, and both estimates ride along
    * with the exact count. */
  private val hllMergeQ: QFn = (s, d) => {
    import graft.ext.Sketch
    val ev = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val daily = Sketch.hllRegisters(ev, "user_id", hllP, "hllm",
      Seq("day"))
    val mergedRegs = daily.groupBy(col("bucket"))
      .agg(max(col("M")).cast("long").as("M"))
    val directRegs = Sketch.hllRegisters(ev, "user_id", hllP, "hllm")
    // both inputs are provably one row per bucket (mergedRegs ends in
    // groupBy(bucket).max; directRegs is hllRegisters output), so the
    // estimate's defensive pre-merge pass is skipped
    val estM = Sketch.hllEstimate(mergedRegs, hllP, assumeMerged = true)
      .select(col("estimate").as("est_merged"))
    val estD = Sketch.hllEstimate(directRegs, hllP, assumeMerged = true)
      .select(col("estimate").as("est_direct"))
    val diff = mergedRegs
      .join(directRegs.withColumnRenamed("M", "M2"), Seq("bucket"),
        "full")
      .agg(coalesce(sum(when(!(col("M") <=> col("M2")), 1L)
        .otherwise(0L)), lit(0L)).cast("long").as("n_reg_diff"))
    val exact = ev.agg(countDistinct(col("user_id")).cast("long")
      .as("exact"))
    val days = ev.agg(countDistinct(col("day")).cast("long")
      .as("n_days"))
    estM.crossJoin(broadcast(estD)).crossJoin(broadcast(diff))
      .crossJoin(broadcast(exact)).crossJoin(broadcast(days))
  }

  private val hllMergeSql = {
    val m = 1L << hllP
    val md = m.toDouble
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val thr = 2.5 * m
    val maxRho = 60 - hllP + 1
    val fold = Q.sqlFold("list_transform(arr, mm -> " +
      "CAST(1.0 AS DOUBLE) / CAST((CAST(1 AS BIGINT) << mm) AS DOUBLE))")
    val corrected = Q.sqlSig9(s"CAST($md AS DOUBLE) * " +
      Q.sqlSig9(s"ln(CAST($md AS DOUBLE) / CAST(vz AS DOUBLE))"))
    /* estimate chain over a `<src>` register CTE (bucket, M) */
    def estCtes(src: String, sfx: String) =
      s"""ag$sfx AS (
         |  SELECT CAST(count(*) AS BIGINT) AS occ,
         |    list(M ORDER BY bucket) AS arr
         |  FROM $src),
         |sv$sfx AS (
         |  SELECT occ, $m - occ AS vz,
         |    CAST($m - occ AS DOUBLE) + $fold AS sval
         |  FROM ag$sfx),
         |est$sfx AS (
         |  SELECT vz,
         |    CAST($alpha AS DOUBLE) * CAST($md AS DOUBLE) *
         |      CAST($md AS DOUBLE) / sval AS raw
         |  FROM sv$sfx),
         |fin$sfx AS (
         |  SELECT CASE WHEN raw <= CAST($thr AS DOUBLE) AND vz > 0
         |    THEN $corrected ELSE ${Q.sqlSig9("raw")} END AS estimate
         |  FROM est$sfx)""".stripMargin
    s"""WITH ev AS (
       |  SELECT user_id, CAST(ts AS DATE) AS day FROM events
       |  WHERE user_id IS NOT NULL),
       |hh AS (
       |  SELECT day,
       |    ${hashSql("'hllm:' || CAST(user_id AS VARCHAR)")} AS h
       |  FROM ev),
       |rw AS (SELECT day, h % $m AS bucket, h // $m AS w FROM hh),
       |rho AS (
       |  SELECT day, bucket,
       |    CASE WHEN w = 0 THEN CAST($maxRho AS BIGINT)
       |      ELSE len(bin(w)) - len(rtrim(bin(w), '0')) + 1 END AS rho
       |  FROM rw),
       |daily AS (
       |  SELECT day, bucket, CAST(max(rho) AS BIGINT) AS M FROM rho
       |  GROUP BY 1, 2),
       |merged AS (
       |  SELECT bucket, CAST(max(M) AS BIGINT) AS M FROM daily
       |  GROUP BY 1),
       |direct AS (
       |  SELECT bucket, CAST(max(rho) AS BIGINT) AS M FROM rho
       |  GROUP BY 1),
       |${estCtes("merged", "m")},
       |${estCtes("direct", "d")},
       |diff AS (
       |  SELECT CAST(COALESCE(sum(CASE WHEN merged.M IS DISTINCT FROM
       |      direct.M THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_reg_diff
       |  FROM merged FULL JOIN direct USING (bucket)),
       |ex AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact
       |  FROM ev),
       |dy AS (SELECT CAST(count(DISTINCT day) AS BIGINT) AS n_days
       |  FROM ev)
       |SELECT finm.estimate AS est_merged, find.estimate AS est_direct,
       |  n_reg_diff, exact, n_days
       |FROM finm, find, diff, ex, dy""".stripMargin
  }

  private val hllSql = {
    val m = 1L << hllP
    val md = m.toDouble
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val thr = 2.5 * m
    val maxRho = 60 - hllP + 1
    val fold = Q.sqlFold("list_transform(arr, mm -> " +
      "CAST(1.0 AS DOUBLE) / CAST((CAST(1 AS BIGINT) << mm) AS DOUBLE))")
    val corrected = Q.sqlSig9(s"CAST($md AS DOUBLE) * " +
      Q.sqlSig9(s"ln(CAST($md AS DOUBLE) / CAST(vz AS DOUBLE))"))
    s"""WITH $toksSql,
       |ex AS (SELECT unnest(tk) AS tok FROM toks),
       |hh AS (SELECT ${hashSql("'hll:' || tok")} AS h FROM ex),
       |rw AS (SELECT h % $m AS bucket, h // $m AS w FROM hh),
       |rho AS (
       |  SELECT bucket, CASE WHEN w = 0 THEN CAST($maxRho AS BIGINT)
       |    ELSE len(bin(w)) - len(rtrim(bin(w), '0')) + 1 END AS rho
       |  FROM rw),
       |regs AS (
       |  SELECT bucket, CAST(max(rho) AS BIGINT) AS M FROM rho
       |  GROUP BY 1),
       |ag AS (
       |  SELECT CAST(count(*) AS BIGINT) AS occ,
       |    list(M ORDER BY bucket) AS arr
       |  FROM regs),
       |sv AS (
       |  SELECT occ, $m - occ AS vz,
       |    CAST($m - occ AS DOUBLE) + $fold AS sval
       |  FROM ag),
       |est AS (
       |  SELECT occ, vz,
       |    CAST($alpha AS DOUBLE) * CAST($md AS DOUBLE) *
       |      CAST($md AS DOUBLE) / sval AS raw
       |  FROM sv),
       |fin AS (
       |  SELECT
       |    CASE WHEN raw <= CAST($thr AS DOUBLE) AND vz > 0
       |      THEN $corrected ELSE ${Q.sqlSig9("raw")} END AS estimate,
       |    ${Q.sqlSig9("raw")} AS raw_est,
       |    CAST(vz AS BIGINT) AS v_zero, occ AS n_occupied,
       |    CAST($m AS BIGINT) AS m
       |  FROM est),
       |xct AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS exact
       |  FROM ex)
       |SELECT estimate, raw_est, v_zero, n_occupied, m, exact,
       |  ${Q.sqlSig9("(estimate - CAST(exact AS DOUBLE)) / " +
          "CAST(exact AS DOUBLE)")} AS rel_err
       |FROM fin, xct""".stripMargin
  }

  // ===== exact-size stratified sample =================================

  /** Exactly 200 documents, allocated across sources by Hamilton
    * largest-remainder quotas, selected as each source's smallest
    * salted coins ([[graft.ext.Sampling.stratifiedExact]]). The ORACLE
    * is the naive per-stratum rank ("row_number over (g ORDER BY coin,
    * key) <= quota") — the threshold-selection plan must reproduce it
    * row-for-row, boundary collisions included. */
  private val stratNTotal = 200L

  private val stratExactQ: QFn = (s, d) =>
    graft.ext.Sampling.stratifiedExact(Tables.documents(s, d), "doc_id",
        "source", totalN = stratNTotal, salt = "strat")
      .select(col("source"), col("doc_id"))

  private val stratExactSql = {
    val h = hashSql("'strat:' || CAST(doc_id AS VARCHAR)")
    s"""WITH base AS (
       |  SELECT source AS g, doc_id AS k,
       |    $h % ${graft.ext.Hashing.P} AS hm
       |  FROM documents WHERE source IS NOT NULL),
       |counts AS (
       |  SELECT g, CAST(count(*) AS BIGINT) AS nh FROM base GROUP BY 1),
       |tot AS (SELECT CAST(sum(nh) AS BIGINT) AS n,
       |  CAST(least($stratNTotal, sum(nh)) AS BIGINT) AS nn FROM counts),
       |q0 AS (
       |  SELECT g, nh,
       |    CAST((nh * nn) // n AS BIGINT) AS qb,
       |    CAST((nh * nn) % n AS BIGINT) AS rem
       |  FROM counts, tot),
       |sums AS (SELECT CAST(sum(qb) AS BIGINT) AS sb FROM q0),
       |qr AS (SELECT *, CAST(row_number() OVER (ORDER BY rem DESC, g)
       |  AS BIGINT) AS rk FROM q0),
       |quotas AS (
       |  SELECT g, qb + CASE WHEN rk <= tot.nn - sums.sb
       |    THEN 1 ELSE 0 END AS quota
       |  FROM qr, sums, tot),
       |ranked AS (
       |  SELECT g, k, CAST(row_number() OVER
       |    (PARTITION BY g ORDER BY hm, k) AS BIGINT) AS rn
       |  FROM base)
       |SELECT g AS source, k AS doc_id
       |FROM ranked JOIN quotas USING (g) WHERE rn <= quota""".stripMargin
  }

  // ===== token-budget corpus selection ================================

  /** Fill a 50k-token budget with the longest documents
    * ([[graft.ext.Sampling.budgetSelect]] — score = n_chars, tokens =
    * whitespace token count): whole score groups while they fit,
    * ascending-id greedy fill at the single boundary score. The ORACLE
    * is the naive descending-cumulative window + per-boundary-group
    * prefix. */
  private val budgetTokens = 50000L
  private val budgetSelectQ: QFn = (s, d) =>
    graft.ext.Sampling.budgetSelect(
      Tables.documents(s, d).select(col("doc_id"),
        col("n_chars").cast("double").as("q"),
        size(Hashing.tokens(col("text"))).as("ntok")),
      "doc_id", "q", "ntok", budget = budgetTokens)
      .select(col("doc_id"), col("score"), col("tokens"), col("boundary"))

  private val budgetSelectSql =
    s"""WITH d AS (
       |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS s,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
       |      AS BIGINT) AS tk
       |  FROM documents),
       |g AS (SELECT s, CAST(sum(tk) AS BIGINT) AS gtk FROM d GROUP BY 1),
       |c AS (
       |  SELECT s, gtk, CAST(COALESCE(sum(gtk) OVER (ORDER BY s DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS be
       |  FROM g),
       |fullg AS (SELECT s FROM c WHERE be + gtk <= $budgetTokens),
       |bdry AS (
       |  SELECT s, $budgetTokens - be AS rb FROM c
       |  WHERE be <= $budgetTokens AND be + gtk > $budgetTokens),
       |bd AS (
       |  SELECT d.doc_id, d.s, d.tk, bdry.rb,
       |    sum(d.tk) OVER (PARTITION BY d.s ORDER BY d.doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pfx
       |  FROM d JOIN bdry ON d.s = bdry.s)
       |SELECT d.doc_id, d.s AS score, d.tk AS tokens, FALSE AS boundary
       |FROM d SEMI JOIN fullg ON d.s = fullg.s
       |UNION ALL
       |SELECT doc_id, s AS score, tk AS tokens, TRUE AS boundary
       |FROM bd WHERE pfx <= rb""".stripMargin

  // ===== exact equi-depth quantile binning ============================

  /** Per-language equi-depth deciles of document length
    * ([[graft.ext.Profile.equiDepthBins]] — rank-based, tie-stable,
    * pure integer arithmetic). The ORACLE is the naive per-group
    * count-below window with the same `//` integral division. */
  private val quantizeQ: QFn = (s, d) =>
    graft.ext.Profile.equiDepthBins(
      Tables.documents(s, d).select(col("lang"),
        col("n_chars").cast("double").as("len")),
      Seq("lang"), "len", bins = 10)
      .select(col("lang"), col("s"), col("cnt"), col("n_below"),
        col("bin"))

  private val quantizeSql =
    """WITH d AS (
      |  SELECT lang, CAST(n_chars AS DOUBLE) AS s FROM documents
      |  WHERE n_chars IS NOT NULL),
      |c AS (
      |  SELECT lang, s, CAST(count(*) AS BIGINT) AS cnt
      |  FROM d GROUP BY 1, 2),
      |t AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n FROM c GROUP BY 1),
      |r AS (
      |  SELECT lang, s, cnt,
      |    CAST(COALESCE(sum(cnt) OVER (PARTITION BY lang ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS n_below
      |  FROM c)
      |SELECT r.lang, r.s, r.cnt, r.n_below,
      |  CAST(least(9, (r.n_below * 10) // t.n) AS BIGINT) AS bin
      |FROM r JOIN t USING (lang)""".stripMargin

  // ===== Gini concentration ===========================================

  /** Per-source Gini coefficient of document sizes (n_chars) — "is
    * this source's character mass spread evenly or held by a few giant
    * documents?" The exact pairwise-difference form: T and n·S are
    * exact integers, one sig9'd division per source. Oracle = the
    * naive strictly-below window over distinct sizes, per source. */
  private val giniQ: QFn = (s, d) =>
    graft.ext.Profile.gini(
      Tables.documents(s, d).select(col("source"), col("n_chars")),
      Seq("source"), "n_chars")

  private val giniSql =
    s"""WITH c AS (
       |  SELECT source, n_chars AS s, CAST(count(*) AS BIGINT) AS c
       |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
       |p AS (
       |  SELECT source, s, c,
       |    COALESCE(SUM(c) OVER w, 0) AS nb,
       |    COALESCE(SUM(CAST(s AS DECIMAL(38,0)) * c) OVER w,
       |      CAST(0 AS DECIMAL(38,0))) AS sb
       |  FROM c
       |  WINDOW w AS (PARTITION BY source ORDER BY s
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       |t AS (
       |  SELECT source, CAST(sum(c) AS BIGINT) AS n,
       |    CAST(sum(CAST(s AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS tot,
       |    CAST(sum(CAST(c AS DECIMAL(38,0)) *
       |      (CAST(s AS DECIMAL(38,0)) * nb - sb)) AS DECIMAL(38,0)) AS tt
       |  FROM p GROUP BY 1)
       |SELECT source, n, CAST(tot AS BIGINT) AS total,
       |  CASE WHEN n > 0 AND tot > 0 THEN
       |    ${Q.sqlSig9("CAST(tt AS DOUBLE) / " +
           "CAST(CAST(n AS DECIMAL(38,0)) * tot AS DOUBLE)")}
       |  END AS gini
       |FROM t""".stripMargin

  // ===== vocabulary growth (Heaps law) ================================

  /** Cumulative vocabulary vs cumulative tokens at 10 ingest-order
    * checkpoints — the saturation diagnostic run before adding a
    * source. All exact integers; the oracle recomputes with naive
    * windows + correlated prefix joins. */
  private val vocabGrowthQ: QFn = (s, d) =>
    graft.ext.TextStats.vocabGrowth(Tables.documents(s, d),
      "doc_id", "text", checkpoints = 10)

  private val vocabGrowthSql =
    s"""WITH d AS (
       |  SELECT doc_id, CAST(len(list_filter(string_split(text, ' '),
       |    t -> t <> '')) AS BIGINT) AS ntok
       |  FROM documents),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
       |p AS (SELECT doc_id,
       |  CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS pos
       |  FROM d),
       |cp AS (
       |  SELECT CAST(js.j AS BIGINT) AS j, (js.j * n.n) // 10 AS posj
       |  FROM (SELECT unnest(range(1, 11)) AS j) js, n),
       |cpd AS (
       |  SELECT cp.j, CAST(cp.posj AS BIGINT) AS n_docs,
       |    p.doc_id AS cp_doc_id
       |  FROM cp JOIN p ON p.pos = cp.posj),
       |fp AS (
       |  SELECT tok, min(doc_id) AS fd FROM (
       |    SELECT doc_id, unnest(list_filter(string_split(text, ' '),
       |      t -> t <> '')) AS tok
       |    FROM documents) GROUP BY 1),
       |tc AS (
       |  SELECT cpd.j, CAST(sum(d.ntok) AS BIGINT) AS cum_tokens
       |  FROM cpd JOIN d ON d.doc_id <= cpd.cp_doc_id GROUP BY 1),
       |vc AS (
       |  SELECT cpd.j, CAST(count(*) AS BIGINT) AS cum_vocab
       |  FROM cpd JOIN fp ON fp.fd <= cpd.cp_doc_id GROUP BY 1)
       |SELECT cpd.j, cpd.n_docs, cpd.cp_doc_id,
       |  COALESCE(tc.cum_tokens, 0) AS cum_tokens,
       |  COALESCE(vc.cum_vocab, 0) AS cum_vocab
       |FROM cpd LEFT JOIN tc USING (j) LEFT JOIN vc USING (j)""".stripMargin

  // ===== Zipf rank-frequency fit ======================================

  /** OLS of ln(count) on ln(rank) over the top-512 tokens
    * ([[graft.ext.TextStats.zipfFit]]) — the oracle reproduces the
    * deterministic (count desc, token asc) rank with a naive window
    * over the bounded top-N and mirrors every sig9/dsumStable point. */
  private val zipfQ: QFn = (s, d) =>
    graft.ext.TextStats.zipfFit(Tables.documents(s, d), topN = 512)

  private val zipfSql = {
    val nd = "CAST(n AS DOUBLE)"
    val num = s"($nd * sxy - sx * sy)"
    val dx = s"($nd * sxx - sx * sx)"
    val dy = s"($nd * syy - sy * sy)"
    val slope = Q.sqlSig9(s"$num / $dx")
    s"""WITH tok AS (
       |  SELECT unnest(list_filter(string_split(text, ' '),
       |    t -> t <> '')) AS tok
       |  FROM documents),
       |cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
       |  FROM tok GROUP BY 1),
       |top AS (SELECT tok, cnt FROM cnt ORDER BY cnt DESC, tok LIMIT 512),
       |ranked AS (
       |  SELECT CAST(row_number() OVER (ORDER BY cnt DESC, tok)
       |    AS BIGINT) AS rank, cnt FROM top),
       |pts AS (
       |  SELECT ${Q.sqlSig9("ln(CAST(rank AS DOUBLE))")} AS x,
       |    ${Q.sqlSig9("ln(CAST(cnt AS DOUBLE))")} AS y
       |  FROM ranked),
       |a AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    ${Q.sqlDsumStable("x", 9)} AS sx,
       |    ${Q.sqlDsumStable("y", 9)} AS sy,
       |    ${Q.sqlDsumStable(Q.sqlSig9("x * y"), 9)} AS sxy,
       |    ${Q.sqlDsumStable(Q.sqlSig9("x * x"), 9)} AS sxx,
       |    ${Q.sqlDsumStable(Q.sqlSig9("y * y"), 9)} AS syy
       |  FROM pts)
       |SELECT
       |  CASE WHEN n >= 2 AND $dx > CAST(0.0 AS DOUBLE)
       |    THEN $slope END AS slope,
       |  CASE WHEN n >= 2 AND $dx > CAST(0.0 AS DOUBLE)
       |    THEN ${Q.sqlSig9(s"(sy - $slope * sx) / $nd")} END AS intercept,
       |  CASE WHEN n >= 2 AND $dx > CAST(0.0 AS DOUBLE)
       |      AND $dy > CAST(0.0 AS DOUBLE)
       |    THEN ${Q.sqlSig9(s"$num * $num / ($dx * $dy)")} END AS r2,
       |  COALESCE(n, 0) AS n_ranks
       |FROM a""".stripMargin
  }

  // ===== per-source readability rollup ================================

  private val readabilityQ: QFn = (s, d) =>
    graft.ext.TextStats.readability(Tables.documents(s, d))

  private val readabilitySql = {
    val wps = "(CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))"
    val spw = "(CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))"
    s"""WITH d AS (
       |  SELECT CAST(source AS VARCHAR) AS grp,
       |    CAST(len(list_filter(string_split(text, ' '),
       |      t -> t <> '')) AS BIGINT) AS w,
       |    GREATEST(CAST(1 AS BIGINT),
       |      CAST(len(regexp_extract_all(text, '[.!?]+'))
       |        AS BIGINT)) AS s,
       |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
       |      AS BIGINT)
       |      + CAST(len(list_filter(string_split(text, ' '),
       |        t -> t <> '' AND NOT regexp_matches(t,
       |          '[aeiouyAEIOUY]'))) AS BIGINT) AS y
       |  FROM documents WHERE source IS NOT NULL),
       |g AS (
       |  SELECT grp, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(w) AS BIGINT) AS n_words,
       |    CAST(sum(s) AS BIGINT) AS n_sentences,
       |    CAST(sum(y) AS BIGINT) AS n_syllables
       |  FROM d GROUP BY 1)
       |SELECT grp AS source, n_docs, n_words, n_sentences, n_syllables,
       |  CASE WHEN n_words > 0 THEN ${Q.sqlSig9(
            s"CAST(0.39 AS DOUBLE) * $wps + CAST(11.8 AS DOUBLE) * $spw" +
              " - CAST(15.59 AS DOUBLE)")} END AS fk_grade,
       |  CASE WHEN n_words > 0 THEN ${Q.sqlSig9(
            s"CAST(206.835 AS DOUBLE) - CAST(1.015 AS DOUBLE) * $wps" +
              s" - CAST(84.6 AS DOUBLE) * $spw")} END AS reading_ease
       |FROM g""".stripMargin
  }

  // ===== TF-IDF keyword extraction ====================================

  /** [[graft.ext.TextStats.tfidfKeywords]] top-3 per document — the
    * oracle mirrors the sig9(sig9(tf)·sig9(idf)) chain and the
    * (score desc, token asc) tie order term for term. */
  private val keywordsQ: QFn = (s, d) =>
    graft.ext.TextStats.tfidfKeywords(Tables.documents(s, d), k = 3)

  private val keywordsSql = {
    val tf = Q.sqlSig9("CAST(tf_cnt AS DOUBLE) / CAST(dl AS DOUBLE)")
    val idf = Q.sqlSig9("ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))")
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split(text, ' '),
       |      t -> t <> '')) AS BIGINT) AS dl,
       |    unnest(list_filter(string_split(text, ' '), t -> t <> ''))
       |      AS token
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf_cnt,
       |    CAST(min(dl) AS BIGINT) AS dl
       |  FROM tok GROUP BY 1, 2),
       |dfc AS (SELECT token, CAST(count(*) AS BIGINT) AS df
       |  FROM tf GROUP BY 1),
       |n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
       |  FROM tf),
       |sc AS (
       |  SELECT doc_id, token, tf_cnt, dl, df,
       |    ${Q.sqlSig9(s"$tf * $idf")} AS score
       |  FROM tf JOIN dfc USING (token) CROSS JOIN n),
       |r AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, token) AS BIGINT) AS kw_rank
       |  FROM sc)
       |SELECT doc_id, kw_rank, token, tf_cnt, dl, df, score
       |FROM r WHERE kw_rank <= 3""".stripMargin
  }

  // ===== lexical diversity ============================================

  /** [[graft.ext.TextStats.lexicalDiversity]] — TTR, hapax rate and
    * Yule's K per source; the oracle mirrors the exact DECIMAL(38,0)
    * Σc²/N² products and the three sig9'd divisions. */
  private val lexicalQ: QFn = (s, d) =>
    graft.ext.TextStats.lexicalDiversity(Tables.documents(s, d))

  private val lexicalSql =
    s"""WITH tok AS (
       |  SELECT source AS grp,
       |    unnest(list_filter(string_split(text, ' '), t -> t <> ''))
       |      AS token
       |  FROM documents WHERE source IS NOT NULL),
       |tc AS (
       |  SELECT grp, token, CAST(count(*) AS BIGINT) AS c
       |  FROM tok GROUP BY 1, 2),
       |g AS (
       |  SELECT grp, CAST(sum(c) AS BIGINT) AS n_tokens,
       |    CAST(count(*) AS BIGINT) AS vocab,
       |    CAST(COALESCE(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS n_hapax,
       |    sum(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))
       |      AS c2
       |  FROM tc GROUP BY 1)
       |SELECT grp AS source, n_tokens, vocab, n_hapax,
       |  CASE WHEN n_tokens > 0 THEN ${Q.sqlSig9(
            "CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE)")} END
       |    AS ttr,
       |  CASE WHEN vocab > 0 THEN ${Q.sqlSig9(
            "CAST(n_hapax AS DOUBLE) / CAST(vocab AS DOUBLE)")} END
       |    AS hapax_rate,
       |  CASE WHEN n_tokens > 0 THEN ${Q.sqlSig9(
            "CAST(CAST(10000 AS DECIMAL(38,0)) * " +
              "(c2 - CAST(n_tokens AS DECIMAL(38,0))) AS DOUBLE) / " +
              "CAST(CAST(n_tokens AS DECIMAL(38,0)) * " +
              "CAST(n_tokens AS DECIMAL(38,0)) AS DOUBLE)")} END
       |    AS yule_k
       |FROM g""".stripMargin

  // ===== Good-Turing unseen mass + Chao1 richness =====================

  /** [[graft.ext.TextStats.unseenMass]]: per source, the Good–Turing
    * novel-token probability f1/N, its coverage complement, and the
    * bias-corrected Chao1 vocabulary lower bound — the estimator face
    * of `q_x_vocab_growth`'s empirical curve. */
  private val unseenQ: QFn = (s, d) =>
    graft.ext.TextStats.unseenMass(Tables.documents(s, d))

  private val unseenSql = {
    val p0 = Q.sqlSig9("CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)")
    val excess = Q.sqlSig9(
      "CAST(CAST(f1 AS DECIMAL(38,0)) * CAST(f1 - 1 AS DECIMAL(38,0)) " +
        "AS DOUBLE) / CAST(CAST(2 AS DECIMAL(38,0)) * " +
        "CAST(f2 + 1 AS DECIMAL(38,0)) AS DOUBLE)")
    s"""WITH tok AS (
       |  SELECT source AS grp,
       |    unnest(list_filter(string_split(text, ' '), t -> t <> ''))
       |      AS token
       |  FROM documents WHERE source IS NOT NULL),
       |tc AS (
       |  SELECT grp, token, CAST(count(*) AS BIGINT) AS c
       |  FROM tok GROUP BY 1, 2),
       |g AS (
       |  SELECT grp, CAST(sum(c) AS BIGINT) AS n_tokens,
       |    CAST(count(*) AS BIGINT) AS vocab,
       |    CAST(COALESCE(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS f1,
       |    CAST(COALESCE(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS f2
       |  FROM tc GROUP BY 1)
       |SELECT grp AS source, n_tokens, vocab, f1, f2,
       |  CASE WHEN n_tokens > 0 THEN $p0 END AS p_unseen,
       |  CASE WHEN n_tokens > 0 THEN ${Q.sqlSig9(s"1.0 - ($p0)")} END
       |    AS coverage,
       |  CASE WHEN n_tokens > 0 THEN ${Q.sqlSig9(
            s"CAST(vocab AS DOUBLE) + ($excess)")} END AS chao1
       |FROM g""".stripMargin
  }

  // ===== Hill tail-index of document lengths ==========================

  /** [[graft.ext.Profile.tailIndex]] on per-source document lengths:
    * the peaks-over-p90 Hill estimator — "is this source's length
    * distribution power-law heavy". The oracle replays the exact
    * rank-arithmetic threshold and the count-weighted sig9'd log
    * exceedances with windows. */
  private val tailQ: QFn = (s, d) =>
    graft.ext.Profile.tailIndex(Tables.documents(s, d), Seq("source"),
      "n_chars")

  private val tailSql = {
    val term = Q.sqlSig9(
      s"${Q.sqlSig9("ln(s / u)")} * CAST(c AS DOUBLE)")
    s"""WITH b AS (
       |  SELECT source AS g, CAST(n_chars AS DOUBLE) AS s
       |  FROM documents
       |  WHERE source IS NOT NULL AND n_chars IS NOT NULL),
       |vc AS (SELECT g, s, CAST(count(*) AS BIGINT) AS c
       |       FROM b GROUP BY 1, 2),
       |cum AS (
       |  SELECT g, s, c, SUM(c) OVER (PARTITION BY g ORDER BY s
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ci
       |  FROM vc),
       |nt AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM vc
       |       GROUP BY 1),
       |hi AS (SELECT g, n, GREATEST(1, (n * 900) // 1000) AS hi
       |       FROM nt),
       |uu AS (
       |  SELECT cum.g, min(s) AS u
       |  FROM cum JOIN hi USING (g) WHERE ci >= hi GROUP BY 1),
       |tl AS (
       |  SELECT vc.g, vc.c, $term AS t
       |  FROM vc JOIN uu USING (g) WHERE vc.s > uu.u AND uu.u > 0),
       |ag AS (
       |  SELECT g, CAST(sum(c) AS BIGINT) AS k_tail,
       |    ${Q.sqlDsum("t")} AS st
       |  FROM tl GROUP BY 1)
       |SELECT nt.g AS source, nt.n, uu.u,
       |  COALESCE(ag.k_tail, 0) AS k_tail,
       |  CASE WHEN ag.k_tail > 0 AND ag.st > 0 THEN ${Q.sqlSig9(
            "CAST(ag.k_tail AS DOUBLE) / ag.st")} END AS hill_alpha
       |FROM nt JOIN uu USING (g) LEFT JOIN ag USING (g)""".stripMargin
  }

  // ===== rank-biased overlap of two token rankings ====================

  private val rboK = 20
  private val rboP = 0.9

  /** [[graft.ext.Retrieval.rbo]] between the top-20 token rankings of
    * the even- and odd-doc_id corpus halves — "did the head of the
    * vocabulary drift between the two slices". Rankings come from the
    * TakeOrdered top-k (c desc, token asc — fully deterministic),
    * overlap sizes are exact array intersections, the cumulative RBO
    * folds in exact decimal over sig9'd (1−p)·p^{d−1}·X_d/d terms. */
  private val rboQ: QFn = (s, d) => {
    def ranking(half: Int): DataFrame = {
      val top = Tables.documents(s, d)
        .where(pmod(col("doc_id"), lit(2)) === half)
        .select(explode(graft.ext.Hashing.tokens(col("text")))
          .as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("token").asc).limit(rboK)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("c").desc, col("token").asc) // bounded k-row frame
      top.withColumn("rank", row_number().over(w))
    }
    graft.ext.Retrieval.rbo(ranking(0), ranking(1), "token", "rank",
      rboK, rboP)
  }

  private val rboSql = {
    def rankCte(name: String, half: Int) =
      s"""$name AS (
         |  SELECT token, row_number() OVER (ORDER BY c DESC, token)
         |    AS rank
         |  FROM (
         |    SELECT token, CAST(count(*) AS BIGINT) AS c FROM (
         |      SELECT unnest(list_filter(string_split(text, ' '),
         |          t -> t <> '')) AS token
         |      FROM documents WHERE doc_id % 2 = $half)
         |    GROUP BY 1 ORDER BY c DESC, token LIMIT $rboK))""".stripMargin
    val term = Q.sqlSig9(s"(1.0 - $rboP) * power($rboP, " +
      "CAST(depth AS DOUBLE) - 1) * CAST(x_d AS DOUBLE) / " +
      "CAST(depth AS DOUBLE)")
    s"""WITH ${rankCte("ra", 0)},
       |${rankCte("rb", 1)},
       |la AS (SELECT list(token ORDER BY rank) AS l FROM ra),
       |lb AS (SELECT list(token ORDER BY rank) AS l FROM rb),
       |dp AS (
       |  SELECT CAST(unnest(range(1, $rboK + 1)) AS BIGINT) AS depth),
       |xs AS (
       |  SELECT depth, CAST(len(list_intersect(la.l[1:depth],
       |    lb.l[1:depth])) AS BIGINT) AS x_d
       |  FROM dp, la, lb),
       |tm AS (
       |  SELECT depth, x_d,
       |    ${Q.sqlSig9("CAST(x_d AS DOUBLE) / CAST(depth AS DOUBLE)")}
       |      AS agreement,
       |    $term AS term
       |  FROM xs)
       |SELECT depth, x_d, agreement, term,
       |  ${Q.sqlDecOut(
            s"""SUM(CAST(term AS DECIMAL(38,15))) OVER (ORDER BY depth
               | ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""
              .stripMargin.replace("\n", ""), 12)} AS rbo_at_d
       |FROM tm""".stripMargin
  }

  // ===== Neyman-optimal sampling allocation ===========================

  private val neymanBudget = 1000L

  /** [[graft.ext.Sampling.neymanAllocation]] of a 1000-row inspection
    * budget across event types by value dispersion: n_h ∝ N_h·σ_h
    * with largest-remainder integerization and row-count caps. */
  private val neymanQ: QFn = (s, d) =>
    graft.ext.Sampling.neymanAllocation(Tables.events(s, d),
      "event_type", "value", neymanBudget)

  private val neymanSql = {
    val varE = Q.sqlSig9(s"(s2 - ${Q.sqlSig9("s1 * s1")} / " +
      "CAST(n_rows AS DOUBLE)) / CAST(n_rows - 1 AS DOUBLE)")
    val sd = Q.sqlSig9(s"sqrt(GREATEST(CAST(0.0 AS DOUBLE), $varE))")
    val w = Q.sqlSig9(s"CAST(n_rows AS DOUBLE) * sd")
    val ideal = Q.sqlSig9(
      s"weight / w_total * CAST($neymanBudget AS DOUBLE)")
    s"""WITH st AS (
       |  SELECT CAST(event_type AS VARCHAR) AS stratum,
       |    CAST(count(*) AS BIGINT) AS n_rows,
       |    ${Q.sqlDsum("value")} AS s1,
       |    ${Q.sqlDsum(Q.sqlSig9("value * value"))} AS s2
       |  FROM events
       |  WHERE event_type IS NOT NULL AND value IS NOT NULL
       |  GROUP BY 1),
       |sdd AS (
       |  SELECT stratum, n_rows,
       |    CASE WHEN n_rows > 1 THEN $sd END AS sd
       |  FROM st),
       |wt AS (
       |  SELECT stratum, n_rows, sd,
       |    COALESCE($w, CAST(0.0 AS DOUBLE)) AS weight
       |  FROM sdd),
       |tt AS (SELECT ${Q.sqlDsum("weight")} AS w_total FROM wt),
       |id AS (
       |  SELECT stratum, n_rows, sd, weight,
       |    CASE WHEN w_total > 0 THEN $ideal
       |      ELSE CAST(0.0 AS DOUBLE) END AS ideal,
       |    w_total
       |  FROM wt, tt),
       |fr AS (
       |  SELECT *, CAST(floor(ideal) AS BIGINT) AS fl,
       |    ${Q.sqlSig9("ideal - floor(ideal)")} AS rem
       |  FROM id),
       |rk AS (
       |  SELECT *,
       |    CAST(row_number() OVER (ORDER BY rem DESC, stratum)
       |      AS BIGINT) AS rnk,
       |    CAST($neymanBudget - sum(fl) OVER () AS BIGINT) AS r
       |  FROM fr)
       |SELECT stratum, n_rows, sd, weight, ideal,
       |  CASE WHEN w_total > 0 THEN
       |    LEAST(n_rows, fl + CASE WHEN rnk <= r THEN 1 ELSE 0 END)
       |    ELSE 0 END AS n_alloc
       |FROM rk""".stripMargin
  }

  // ===== team-draft interleaving (online ranker evaluation) ===========

  /** Brands are "queries", parts are "documents": ranker A orders by
    * retail price, ranker B by size; team-draft interleaves their
    * top-10 per brand ([[graft.ext.Retrieval.teamDraftInterleave]],
    * k=10) and a deterministic per-(query, doc) hash click model
    * credits the drafting team. All-integer arithmetic; the oracle
    * replays the identical packed-BIGINT fold in list_reduce. */
  private val interleaveK = 10
  private val interleaveSeed = "td"

  private val interleaveQ: QFn = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val p = Tables.part(s, d).where(col("p_partkey").isNotNull)
    val wa = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
    val wb = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_size").desc, col("p_partkey").asc)
    val ra = p.select(col("p_brand"), col("p_partkey"),
      row_number().over(wa).as("rnk"))
    val rb = p.select(col("p_brand"), col("p_partkey"),
      row_number().over(wb).as("rnk"))
    graft.ext.Retrieval.teamDraftInterleave(ra, rb, "p_brand",
      "p_partkey", "rnk", k = interleaveK, seed = interleaveSeed)
  }

  private val interleaveSql = {
    val k2 = 2 * interleaveK
    val team = s"((${Q.sqlHash60(s"'$interleaveSeed:' || q || ':' || " +
      "CAST((x[1] - 1) // 2 AS VARCHAR)")}) % 2 + ((x[1] - 1) % 2)) % 2"
    val picked = "list_transform(acc, e -> e // 2)"
    val remaining = s"list_filter(CASE WHEN ($team) = 0 THEN la " +
      s"ELSE lb END, d -> NOT list_contains($picked, d))"
    val nxt = s"($remaining)[1]"
    val clickOf = (e: String) => s"(${Q.sqlHashP(
      s"'click:' || q || ':' || CAST(($e) // 2 AS VARCHAR)")}) % 5 = 0"
    s"""WITH ra AS (
       |  SELECT p_brand AS q, p_partkey AS d,
       |    row_number() OVER (PARTITION BY p_brand
       |      ORDER BY p_retailprice DESC, p_partkey ASC) AS rnk
       |  FROM part WHERE p_partkey IS NOT NULL),
       |rb AS (
       |  SELECT p_brand AS q, p_partkey AS d,
       |    row_number() OVER (PARTITION BY p_brand
       |      ORDER BY p_size DESC, p_partkey ASC) AS rnk
       |  FROM part WHERE p_partkey IS NOT NULL),
       |la_t AS (SELECT q, list(CAST(d AS BIGINT) ORDER BY rnk) AS la
       |  FROM ra WHERE rnk <= $interleaveK GROUP BY 1),
       |lb_t AS (SELECT q, list(CAST(d AS BIGINT) ORDER BY rnk) AS lb
       |  FROM rb WHERE rnk <= $interleaveK GROUP BY 1),
       |j AS (SELECT la_t.q, la, lb FROM la_t JOIN lb_t USING (q)),
       |f AS (
       |  SELECT q,
       |    -- exhausted-step picks append a -1 SENTINEL (stripped by the
       |    -- outer list_filter) instead of returning acc unchanged:
       |    -- DuckDB 1.0's list_reduce corrupts the accumulator once the
       |    -- identity ELSE-acc branch fires twice (verified minimal
       |    -- repro); the sentinel keeps every step a fresh append. The
       |    -- engine's skip semantics and this padded fold provably draft
       |    -- the same list: -1 // 2 = -1 never matches a document id, so
       |    -- the picked sets evolve identically.
       |    list_filter(list_reduce(
       |      list_prepend(CAST([] AS BIGINT[]),
       |        list_transform(range(1, ${k2 + 1}),
       |          i -> [CAST(i AS BIGINT)])),
       |      (acc, x) -> list_append(acc,
       |        CASE WHEN ($nxt) IS NOT NULL
       |          THEN ($nxt) * 2 + ($team) ELSE -1 END)),
       |      e -> e >= 0) AS acc
       |  FROM j)
       |SELECT q AS p_brand,
       |  CAST(len(acc) AS BIGINT) AS n_shown,
       |  CAST(len(list_filter(acc, e -> e % 2 = 0
       |    AND ${clickOf("e")})) AS BIGINT) AS credit_a,
       |  CAST(len(list_filter(acc, e -> e % 2 = 1
       |    AND ${clickOf("e")})) AS BIGINT) AS credit_b,
       |  CASE
       |    WHEN len(list_filter(acc, e -> e % 2 = 0
       |      AND ${clickOf("e")})) >
       |      len(list_filter(acc, e -> e % 2 = 1 AND ${clickOf("e")}))
       |      THEN 'A'
       |    WHEN len(list_filter(acc, e -> e % 2 = 1
       |      AND ${clickOf("e")})) >
       |      len(list_filter(acc, e -> e % 2 = 0 AND ${clickOf("e")}))
       |      THEN 'B'
       |    ELSE 'tie' END AS winner
       |FROM f""".stripMargin
  }

  // ===== mergeable-histogram quantile serving ==========================

  /** Distributed percentile serving without a sort: per-month
    * [[graft.ext.Sketch.histSketch]] histograms of l_extendedprice
    * merge by count addition (the histogram merge law), and p50/p90/p99
    * serve from the merged sketch with in-bin interpolation + the
    * half-bin-width error bound ([[graft.ext.Sketch.histQuantiles]]).
    * The engine computes per-shard -> merge; the oracle recomputes the
    * merged histogram DIRECT — equality is the merge-law adjudication.
    * Bin choice is all-integer (cum*1000 >= q*n); lo/hi/w are shared
    * Scala double literals. */
  private val histLo = 0.0
  private val histHi = 110000.0
  private val histBins = 64
  private val histQs = Seq(500, 900, 990)

  private val histQuantQ: QFn = (s, d) => {
    val sk = graft.ext.Sketch.histSketch(
      Tables.lineitem(s, d)
        .withColumn("__m", date_format(col("l_shipdate"), "yyyy-MM")),
      "l_extendedprice", "__m", histLo, histHi, histBins)
    graft.ext.Sketch.histQuantiles(sk, histQs, histLo, histHi, histBins)
  }

  private val histQuantSql = {
    val w = (histHi - histLo) / histBins
    val frac = Q.sqlSig9(
      s"((CAST(q_permille AS DOUBLE) * CAST(n AS DOUBLE) / " +
        s"CAST(1000.0 AS DOUBLE)) - CAST(st[3] AS DOUBLE)) / " +
        "CAST(st[4] AS DOUBLE)")
    s"""WITH h AS (
       |  SELECT LEAST(GREATEST(CAST(floor(
       |      (CAST(l_extendedprice AS DOUBLE) - CAST($histLo AS DOUBLE))
       |        / CAST($w AS DOUBLE)) AS BIGINT), 0),
       |      ${histBins - 1}) AS bin,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
       |packed AS (
       |  SELECT list_sort(list([bin, cnt])) AS arr,
       |    CAST(sum(cnt) AS BIGINT) AS n
       |  FROM h),
       |r AS (
       |  SELECT n, unnest([${histQs.mkString(", ")}]) AS q_permille,
       |    arr
       |  FROM packed),
       |f AS (
       |  SELECT CAST(q_permille AS BIGINT) AS q_permille, n,
       |    list_reduce(
       |      list_prepend(CAST([0, 0, 0, 0] AS BIGINT[]), arr),
       |      (acc, e) -> CASE
       |        WHEN acc[1] = 1
       |          THEN [1, acc[2], acc[3], acc[4]]
       |        WHEN (acc[3] + acc[4] + e[2]) * 1000 >= q_permille * n
       |          THEN [1, e[1], acc[3] + acc[4], e[2]]
       |        ELSE [0, e[1], acc[3] + acc[4], e[2]] END) AS st
       |  FROM r)
       |SELECT q_permille, n, st[2] AS bin,
       |  ${Q.sqlSig9(s"CAST($histLo AS DOUBLE) + CAST($w AS DOUBLE) * " +
            s"(CAST(st[2] AS DOUBLE) + ($frac))")} AS estimate,
       |  ${Q.sqlSig9(s"CAST($w AS DOUBLE) / CAST(2.0 AS DOUBLE)")}
       |    AS max_err
       |FROM f WHERE st[1] = 1""".stripMargin
  }

  // ===== KMV bottom-k distinct sketch with set operations ==============

  private val kmvK = 128

  /** [[graft.ext.Sketch.kmvSketch]] on the customer keys of the 'O'-
    * and 'F'-status order streams: per-month bottom-k sketches merge
    * to the global bottom-k (merge law), then distinct / union /
    * INTERSECTION estimates serve from the two ~1 KB sketches
    * ([[graft.ext.Sketch.kmvSetEstimates]]); the exact distinct counts
    * ride along as the adjudication twin. Intersection is the
    * capability HLL lacks — at 100 TB "how many users appear in BOTH
    * streams" is answered from kilobytes, no join over the raw keys. */
  private val kmvQ: QFn = (s, d) => {
    import graft.ext.Sketch
    val o = Tables.orders(s, d)
      .withColumn("__m", date_format(col("o_orderdate"), "yyyy-MM"))
    val a = o.where(col("o_orderstatus") === "O")
    val b = o.where(col("o_orderstatus") === "F")
    val skA = Sketch.kmvSketch(a, "o_custkey", "__m", kmvK, "kmv")
    val skB = Sketch.kmvSketch(b, "o_custkey", "__m", kmvK, "kmv")
    val ests = Sketch.kmvEstimate(skA, kmvK)
      .select(lit("a").as("set_label"), col("n_sketch"), col("est"))
      .unionAll(Sketch.kmvEstimate(skB, kmvK)
        .select(lit("b").as("set_label"), col("n_sketch"), col("est")))
      .unionAll(Sketch.kmvSetEstimates(skA, skB, kmvK))
    val da = a.select(col("o_custkey")).distinct()
    val db = b.select(col("o_custkey")).distinct()
    def cnt(df: DataFrame, label: String) =
      df.agg(count(lit(1)).cast("long").as("exact"))
        .select(lit(label).as("set_label"), col("exact"))
    val exact = cnt(da, "a")
      .unionAll(cnt(db, "b"))
      .unionAll(cnt(da.unionAll(db).distinct(), "union"))
      .unionAll(cnt(da.join(db, "o_custkey"), "intersect"))
      .unionAll(cnt(da.join(db, Seq("o_custkey"), "left_anti"),
        "a_not_b"))
      .unionAll(cnt(db.join(da, Seq("o_custkey"), "left_anti"),
        "b_not_a"))
    ests.join(broadcast(exact), Seq("set_label"))
  }

  private val kmvSql = {
    // H = 2^60 (exact double) and k-1 share digits with Sketch.KmvH /
    // the Scala literals so both engines evaluate identical IEEE ops
    val h = "CAST(1152921504606846976 AS BIGINT)"
    def estSql(n: String, theta: String) = sqlSig9(
      s"CASE WHEN $n < $kmvK THEN CAST($n AS DOUBLE) " +
        s"ELSE CAST(${kmvK - 1}.0 AS DOUBLE) * CAST($h AS DOUBLE) / " +
        s"CAST($theta AS DOUBLE) END")
    s"""WITH ka AS (
       |  SELECT DISTINCT ${hashSql(
            "'kmv:' || CAST(o_custkey AS VARCHAR)")} AS h
       |  FROM orders WHERE o_orderstatus = 'O'),
       |kb AS (
       |  SELECT DISTINCT ${hashSql(
            "'kmv:' || CAST(o_custkey AS VARCHAR)")} AS h
       |  FROM orders WHERE o_orderstatus = 'F'),
       |ask AS (SELECT h FROM ka ORDER BY h LIMIT $kmvK),
       |bsk AS (SELECT h FROM kb ORDER BY h LIMIT $kmvK),
       |am AS (SELECT CAST(count(*) AS BIGINT) AS n, max(h) AS theta
       |       FROM ask),
       |bm AS (SELECT CAST(count(*) AS BIGINT) AS n, max(h) AS theta
       |       FROM bsk),
       |u AS (SELECT h, max(ia) AS ia, max(ib) AS ib FROM (
       |        SELECT h, 1 AS ia, 0 AS ib FROM ask
       |        UNION ALL SELECT h, 0 AS ia, 1 AS ib FROM bsk) GROUP BY 1),
       |usk AS (SELECT h, ia, ib FROM u ORDER BY h LIMIT $kmvK),
       |um AS (SELECT CAST(count(*) AS BIGINT) AS kp, max(h) AS theta,
       |              CAST(sum(ia * ib) AS BIGINT) AS rho,
       |              CAST(sum(ia * (1 - ib)) AS BIGINT) AS rho_a,
       |              CAST(sum((1 - ia) * ib) AS BIGINT) AS rho_b
       |       FROM usk),
       |um2 AS (SELECT kp, rho, rho_a, rho_b,
       |              ${estSql("kp", "theta")} AS est_u FROM um),
       |est AS (
       |  SELECT 'a' AS set_label, n AS n_sketch,
       |    ${estSql("n", "theta")} AS est FROM am
       |  UNION ALL SELECT 'b', n, ${estSql("n", "theta")} FROM bm
       |  UNION ALL SELECT 'union', kp, est_u FROM um2
       |  UNION ALL SELECT 'intersect', rho,
       |    CASE WHEN kp < $kmvK THEN CAST(rho AS DOUBLE)
       |    ELSE ${sqlSig9(s"CAST(rho AS DOUBLE) * est_u / " +
              s"CAST($kmvK.0 AS DOUBLE)")} END FROM um2
       |  UNION ALL SELECT 'a_not_b', rho_a,
       |    CASE WHEN kp < $kmvK THEN CAST(rho_a AS DOUBLE)
       |    ELSE ${sqlSig9(s"CAST(rho_a AS DOUBLE) * est_u / " +
              s"CAST($kmvK.0 AS DOUBLE)")} END FROM um2
       |  UNION ALL SELECT 'b_not_a', rho_b,
       |    CASE WHEN kp < $kmvK THEN CAST(rho_b AS DOUBLE)
       |    ELSE ${sqlSig9(s"CAST(rho_b AS DOUBLE) * est_u / " +
              s"CAST($kmvK.0 AS DOUBLE)")} END FROM um2),
       |ex AS (
       |  SELECT 'a' AS set_label,
       |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact
       |  FROM orders WHERE o_orderstatus = 'O'
       |  UNION ALL SELECT 'b', CAST(count(DISTINCT o_custkey) AS BIGINT)
       |  FROM orders WHERE o_orderstatus = 'F'
       |  UNION ALL SELECT 'union', CAST(count(*) AS BIGINT) FROM (
       |    SELECT DISTINCT o_custkey FROM orders
       |    WHERE o_orderstatus IN ('O', 'F'))
       |  UNION ALL SELECT 'intersect', CAST(count(*) AS BIGINT) FROM (
       |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
       |    INTERSECT
       |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
       |  UNION ALL SELECT 'a_not_b', CAST(count(*) AS BIGINT) FROM (
       |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
       |    EXCEPT
       |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
       |  UNION ALL SELECT 'b_not_a', CAST(count(*) AS BIGINT) FROM (
       |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
       |    EXCEPT
       |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'))
       |SELECT est.set_label, est.n_sketch, est.est, ex.exact
       |FROM est JOIN ex USING (set_label)""".stripMargin
  }

  // ===== coordinated bottom-k sample (join synopsis) ====================

  private val coordK = 64

  /** [[graft.ext.Sampling.coordinatedKeySample]] as a JOIN SYNOPSIS:
    * sample 63 customer keys by bottom-k hash, filter the
    * lineitem⋈orders join to the sampled keys (coordination makes the
    * filtered slice consistent across tables), and Horvitz–Thompson
    * scale (·H/θ per key) to an unbiased total-revenue estimate — the
    * exact total rides along as the adjudication twin. At 100 TB this
    * is how you answer join aggregates from megabytes: the same keys
    * are sampled in every table, so the synopsis join is a real join. */
  private val coordQ: QFn = (s, d) => {
    import graft.ext.{Sampling, Sketch}
    val o = Tables.orders(s, d).select(col("o_orderkey"),
      col("o_custkey"))
    val li = Tables.lineitem(s, d).select(col("l_orderkey"),
      col("l_extendedprice"), col("l_discount"))
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val sample = Sampling.coordinatedKeySample(
      o.select(col("o_custkey")), "o_custkey", coordK, "coord")
    val joined = li.join(o, col("l_orderkey") === col("o_orderkey"))
    val perCust = joined
      .join(broadcast(sample.select(col("o_custkey"), col("theta"))),
        Seq("o_custkey"))
      .groupBy(col("o_custkey"), col("theta"))
      .agg(Q.dsum(rev).as("rev"))
    val est = perCust.agg(
      count(lit(1)).cast("long").as("n_sampled"),
      Q.dsumStable(when(col("theta") === 0L, col("rev"))
        .otherwise(Q.sig9(col("rev") * (lit(Sketch.KmvH) /
          col("theta").cast("double")))), 2).as("est_revenue"))
    val exact = joined.agg(Q.dsum(rev).as("exact_revenue"))
    est.crossJoin(broadcast(exact))
      .select(col("n_sampled"), col("est_revenue"),
        col("exact_revenue"),
        Q.sig9(col("est_revenue") / col("exact_revenue"))
          .as("est_ratio"))
  }

  private val coordSql = {
    val h = "CAST(1152921504606846976 AS BIGINT)"
    val rev = "l_extendedprice * (1.0 - l_discount)"
    s"""WITH ck AS (
       |  SELECT DISTINCT o_custkey AS k FROM orders
       |  WHERE o_custkey IS NOT NULL),
       |hh AS (
       |  SELECT k, ${hashSql("'coord:' || CAST(k AS VARCHAR)")} AS h
       |  FROM ck),
       |bot AS (SELECT h FROM hh ORDER BY h LIMIT $coordK),
       |th AS (
       |  SELECT CASE WHEN count(*) < $coordK THEN CAST(0 AS BIGINT)
       |    ELSE max(h) END AS theta
       |  FROM bot),
       |samp AS (
       |  SELECT hh.k, th.theta FROM hh CROSS JOIN th
       |  WHERE th.theta = 0 OR hh.h < th.theta),
       |pc AS (
       |  SELECT o.o_custkey, s.theta, ${sqlDsum(rev)} AS rev
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN samp s ON s.k = o.o_custkey
       |  GROUP BY 1, 2),
       |est AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_sampled,
       |    ${Q.sqlDsumStable(
            s"CASE WHEN theta = 0 THEN rev ELSE ${Q.sqlSig9(
              s"rev * (CAST($h AS DOUBLE) / CAST(theta AS DOUBLE))")} " +
              "END", 2)} AS est_revenue
       |  FROM pc),
       |ex AS (
       |  SELECT ${sqlDsum(rev)} AS exact_revenue
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
       |SELECT n_sampled, est_revenue, exact_revenue,
       |  ${Q.sqlSig9("est_revenue / exact_revenue")} AS est_ratio
       |FROM est CROSS JOIN ex""".stripMargin
  }

  // ===== CMS inner-product join-cardinality estimate ====================

  private val jcD = 4
  // w sized to the error target eps ~ ||a||1*||b||1/w (the planner's
  // knob): 512 buckets on ~15k distinct keys inflated the estimate
  // 30x; 8k buckets (a 256 KB sketch) brings the bound to ~4x
  private val jcW = 8192

  /** Planner face of count-min
    * ([[graft.ext.Sketch.cmsJoinCardinality]]): |lineitem ⋈
    * orders_1995| estimated from two (d=4, w=8192) sketches' inner
    * product min_j Σ_b sA·sB — kilobytes answering a question whose
    * exact answer needs the join. The exact count rides along as the
    * adjudication twin; over_ratio quantifies collision inflation. */
  private val joinCardQ: QFn = (s, d) => {
    import graft.ext.Sketch
    val li = Tables.lineitem(s, d).select(col("l_orderkey"))
    val ord = Tables.orders(s, d)
      .where(year(col("o_orderdate")) === 1995)
      .select(col("o_orderkey"))
    val est = Sketch.cmsJoinCardinality(
      Sketch.countMin(li, "l_orderkey", jcD, jcW, "jc"),
      Sketch.countMin(ord, "o_orderkey", jcD, jcW, "jc"))
    val exact = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).cast("long").as("exact_card"))
    est.crossJoin(broadcast(exact))
      .select(col("est_card"), col("exact_card"),
        Q.sig9(col("est_card").cast("double") /
          col("exact_card").cast("double")).as("over_ratio"))
  }

  private val joinCardSql = {
    val js = (0 until jcD).mkString("[", ", ", "]")
    s"""WITH js AS (SELECT unnest($js) AS j),
       |ca AS (SELECT CAST(l_orderkey AS VARCHAR) AS k,
       |              CAST(count(*) AS BIGINT) AS c
       |       FROM lineitem GROUP BY 1),
       |cb AS (SELECT CAST(o_orderkey AS VARCHAR) AS k,
       |              CAST(count(*) AS BIGINT) AS c
       |       FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
       |ska AS (SELECT j,
       |    ${hashSql("'jc' || CAST(j AS VARCHAR) || ':' || k")} % $jcW
       |      AS bucket,
       |    CAST(sum(c) AS BIGINT) AS s
       |  FROM ca CROSS JOIN js GROUP BY 1, 2),
       |skb AS (SELECT j,
       |    ${hashSql("'jc' || CAST(j AS VARCHAR) || ':' || k")} % $jcW
       |      AS bucket,
       |    CAST(sum(c) AS BIGINT) AS s
       |  FROM cb CROSS JOIN js GROUP BY 1, 2),
       |ip AS (SELECT a.j,
       |    sum(CAST(a.s AS DECIMAL(38,0)) * CAST(b.s AS DECIMAL(38,0)))
       |      AS ip
       |  FROM ska a JOIN skb b USING (j, bucket) GROUP BY 1),
       |est AS (
       |  SELECT CAST(COALESCE(min(COALESCE(ip.ip, 0)), 0) AS BIGINT)
       |    AS est_card
       |  FROM js LEFT JOIN ip USING (j)),
       |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_card
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  WHERE year(o.o_orderdate) = 1995)
       |SELECT est_card, exact_card,
       |  ${sqlSig9("CAST(est_card AS DOUBLE) / " +
            "CAST(exact_card AS DOUBLE)")} AS over_ratio
       |FROM est CROSS JOIN ex""".stripMargin
  }

  // ===== layout skipping effectiveness ================================

  /** [[graft.ext.Layout.skippingStats]]: measure what each layout key
    * buys a min/max-pruning scan — 64 equal-width chunks per layout
    * (natural orderkey vs z-order vs Hilbert on (partkey, suppkey)),
    * two range probes. The natural layout's skip_frac ≈ 0 vs the
    * curves' ≈ 1 is the measured economic argument for clustering
    * (q_x_zorder/q_x_hilbert produce the keys; this row prices them). */
  private val skippingQ: QFn = (s, d) =>
    graft.ext.Layout.skippingStats(
      Tables.lineitem(s, d),
      Seq(
        "natural" -> col("l_orderkey").cast("long"),
        "zorder" -> graft.ext.Layout.zorderValue(col("l_partkey"),
          col("l_suppkey"), 16),
        "hilbert" -> graft.ext.Layout.hilbertValue(col("l_partkey"),
          col("l_suppkey"), 16)),
      Seq(("part_100_199", "l_partkey", 100L, 199L),
        ("supp_10_19", "l_suppkey", 10L, 19L)),
      chunks = 64)

  private val skippingSql = {
    val zTerms = (0 until 16).flatMap { i =>
      Seq(
        s"((((CAST(l_partkey AS BIGINT) & 65535) >> $i) & 1) << ${2 * i})",
        s"((((CAST(l_suppkey AS BIGINT) & 65535) >> $i) & 1) << ${2 * i + 1})")
    }.mkString(" + ")
    val sList = (15 to 0 by -1).map(i => s"[${1L << i}]")
      .mkString("[", ", ", "]")
    val x0 = "(CAST(l_partkey AS BIGINT) & 65535)"
    val y0 = "(CAST(l_suppkey AS BIGINT) & 65535)"
    val hKey =
      s"""list_reduce(list_prepend(CAST([0, $x0, $y0] AS BIGINT[]),
         |      CAST($sList AS BIGINT[][])),
         |    (acc, e) -> [
         |      acc[1] + e[1] * e[1] * (CASE
         |        WHEN (acc[2] & e[1]) > 0 AND (acc[3] & e[1]) > 0 THEN 2
         |        WHEN (acc[2] & e[1]) > 0 THEN 3
         |        WHEN (acc[3] & e[1]) > 0 THEN 1 ELSE 0 END),
         |      CASE WHEN (acc[3] & e[1]) > 0 THEN acc[2]
         |        WHEN (acc[2] & e[1]) > 0 THEN e[1] - 1 - acc[3]
         |        ELSE acc[3] END,
         |      CASE WHEN (acc[3] & e[1]) > 0 THEN acc[3]
         |        WHEN (acc[2] & e[1]) > 0 THEN e[1] - 1 - acc[2]
         |        ELSE acc[2] END])[1]""".stripMargin
    def layoutCtes(l: String, keySql: String) =
      s"""${l}_b AS (
         |  SELECT CAST(($keySql) AS DOUBLE) AS k, l_partkey, l_suppkey
         |  FROM lineitem
         |  WHERE ($keySql) IS NOT NULL),
         |${l}_mm AS (SELECT min(k) AS lo, max(k) AS hi FROM ${l}_b),
         |${l}_ch AS (
         |  SELECT CASE WHEN mm.hi = mm.lo THEN 0
         |    ELSE LEAST(63, GREATEST(0, CAST(floor((b.k - mm.lo) /
         |      ((mm.hi - mm.lo) / 64)) AS BIGINT))) END AS chunk,
         |    b.l_partkey, b.l_suppkey
         |  FROM ${l}_b b CROSS JOIN ${l}_mm mm),
         |${l}_st AS (
         |  SELECT chunk, CAST(count(*) AS BIGINT) AS n,
         |    CAST(min(l_partkey) AS BIGINT) AS mn_p,
         |    CAST(max(l_partkey) AS BIGINT) AS mx_p,
         |    CAST(min(l_suppkey) AS BIGINT) AS mn_s,
         |    CAST(max(l_suppkey) AS BIGINT) AS mx_s
         |  FROM ${l}_ch GROUP BY 1)""".stripMargin
    def probeRow(l: String, pname: String, mn: String, mx: String,
        lo: Long, hi: Long) =
      s"""SELECT '$l' AS layout, '$pname' AS probe,
         |  CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(SUM(CASE WHEN $mx >= $lo AND $mn <= $hi THEN 1 ELSE 0
         |    END) AS BIGINT) AS n_hit,
         |  CAST(SUM(CASE WHEN $mx >= $lo AND $mn <= $hi THEN n ELSE 0
         |    END) AS BIGINT) AS scan_rows,
         |  CAST(SUM(n) AS BIGINT) AS total_rows
         |FROM ${l}_st""".stripMargin
    val rows = Seq("natural", "zorder", "hilbert").flatMap(l => Seq(
      probeRow(l, "part_100_199", "mn_p", "mx_p", 100L, 199L),
      probeRow(l, "supp_10_19", "mn_s", "mx_s", 10L, 19L)))
      .mkString("\nUNION ALL\n")
    s"""WITH ${layoutCtes("natural", "CAST(l_orderkey AS BIGINT)")},
       |${layoutCtes("zorder", zTerms)},
       |${layoutCtes("hilbert", hKey)},
       |u AS (
       |$rows)
       |SELECT layout, probe, n_chunks, n_hit, scan_rows, total_rows,
       |  CASE WHEN n_chunks > 0 THEN ${sqlSig9(
            "1.0 - CAST(n_hit AS DOUBLE) / CAST(n_chunks AS DOUBLE)")}
       |    END AS skip_frac,
       |  CASE WHEN total_rows > 0 THEN ${sqlSig9(
            "CAST(scan_rows AS DOUBLE) / CAST(total_rows AS DOUBLE)")}
       |    END AS scan_frac
       |FROM u""".stripMargin
  }

  val queries: Map[String, (QFn, String)] = Map(
    "q_x_skipping" -> (skippingQ, skippingSql),
    "q_x_kmv" -> (kmvQ, kmvSql),
    "q_x_join_card" -> (joinCardQ, joinCardSql),
    "q_x_hilbert" -> (hilbertQ, hilbertSql),
    "q_x_coord_sample" -> (coordQ, coordSql),
    "q_x_hist_quantile" -> (histQuantQ, histQuantSql),
    "q_x_interleave" -> (interleaveQ, interleaveSql),
    "q_x_rbo" -> (rboQ, rboSql),
    "q_x_neyman" -> (neymanQ, neymanSql),
    "q_x_tail_index" -> (tailQ, tailSql),
    "q_x_unseen_mass" -> (unseenQ, unseenSql),
    "q_x_lexical" -> (lexicalQ, lexicalSql),
    "q_x_keywords" -> (keywordsQ, keywordsSql),
    "q_x_zipf" -> (zipfQ, zipfSql),
    "q_x_readability" -> (readabilityQ, readabilitySql),
    "q_x_ndcg" -> (ndcgQ, ndcgSql),
    "q_x_rank_eval" -> (rankEvalQ, rankEvalSql),
    "q_x_pipeline10" -> (pipeline10Q, pipeline10Sql),
    "q_x_pipeline11" -> (pipeline11Q, pipeline11Sql),
    "q_x_entropy" -> (entropyQ, entropySql),
    "q_x_vocab_growth" -> (vocabGrowthQ, vocabGrowthSql),
    "q_x_gini" -> (giniQ, giniSql),
    "q_x_budget_select" -> (budgetSelectQ, budgetSelectSql),
    "q_x_quantize" -> (quantizeQ, quantizeSql),
    "q_x_weighted_sample" -> (weightedSampleQ, weightedSampleSql),
    "q_x_epoch_shuffle" -> (epochShuffleQ, epochShuffleSql),
    "q_x_decontam" -> (decontam, decontamSql),
    "q_x_unigram_lm" -> (unigramLm, unigramLmSql),
    "q_x_jsd" -> (jsdQ, jsdSql),
    "q_x_cms" -> (cmsQ, cmsSql),
    "q_x_stratified_exact" -> (stratExactQ, stratExactSql),
    "q_x_hll" -> (hllQ, hllSql),
    "q_x_hll_merge" -> (hllMergeQ, hllMergeSql),
    "q_x_bigram_lm" -> (bigramLm, bigramLmSql),
    "q_x_pmi" -> (pmiQ, pmiSql),
    "q_x_bm25" -> (bm25, bm25Sql),
    "q_x_split" -> (splitAssignQ, splitAssignSql),
    "q_x_zorder" -> (zorderQ, zorderSql),
    "q_x_heavy_hitters" -> (heavyHittersQ, heavyHittersSql),
    "q_x_heavy_hitters_by" -> (heavyHittersByQ, heavyHittersBySql),
    "q_x_dsir" -> (dsirQ, dsirSql),
    "q_x_vocab_coverage" -> (vocabQ, vocabSql),
    "q_x_novelty" -> (noveltyQ, noveltySql),
    "q_x_rrf" -> (rrfQ, rrfSql))
}
