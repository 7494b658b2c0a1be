package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.{Anomaly, Bpe, CorpusDiff, Curriculum, Dedup, Hashing,
  Packing, Profile, Sampling, Similarity}
import Q._

/** Round-6 training-prep operators under the DuckDB oracle: k-NN label
  * propagation, segment-level (C4/CCNet-style) dedup, sequence packing,
  * temperature-based source mixing, and ingest anomaly detection. Same
  * parity conventions as [[ExtQueries]]/[[CorpusQueries]] (portable md5
  * hashing, decimal-routed double aggregation, sig9 normalization of
  * every libm-dependent value before it is compared or thresholded).
  */
object PrepQueries {
  type QFn = (SparkSession, String) => DataFrame

  private val toksSql =
    """toks AS (
      |  SELECT doc_id, source,
      |         list_filter(string_split(text, ' '), t -> t <> '') AS tk
      |  FROM documents)""".stripMargin

  // ===== k-NN label classification ======================================

  /** Queries = every 20th vector (the "unlabeled" slice), references =
    * the rest; k = 5 cosine neighbors, majority vote. The true labels
    * ride along so accuracy itself is part of the adjudicated output. */
  private val knnLabel: QFn = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.knnClassify(emb.filter(col("vec_id") % 20 === 0),
      emb.filter(col("vec_id") % 20 =!= 0), k = 5)
  }

  private val knnLabelSql =
    s"""WITH n AS (
       |  SELECT vec_id, label, embedding, ${sqlNsq("embedding")} AS nsq
       |  FROM embeddings),
       |p AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid,
       |    CAST(c.label AS BIGINT) AS nlabel,
       |    ${sqlDot("q.embedding", "c.embedding")}
       |      / (sqrt(q.nsq) * sqrt(c.nsq)) AS cosv
       |  FROM n q CROSS JOIN n c
       |  WHERE q.vec_id % 20 = 0 AND c.vec_id % 20 <> 0),
       |r AS (SELECT qid, cid, nlabel, ${sqlSig9("cosv")} AS score FROM p),
       |t AS (
       |  SELECT qid, nlabel, ROW_NUMBER() OVER (
       |    PARTITION BY qid ORDER BY score DESC, cid) AS rn
       |  FROM r),
       |v AS (
       |  SELECT qid, nlabel, CAST(COUNT(*) AS BIGINT) AS votes,
       |         MIN(rn) AS best_rank
       |  FROM t WHERE rn <= 5 GROUP BY qid, nlabel),
       |w AS (
       |  SELECT qid, nlabel, votes, ROW_NUMBER() OVER (
       |    PARTITION BY qid ORDER BY votes DESC, best_rank, nlabel) AS wr
       |  FROM v)
       |SELECT w.qid, w.nlabel AS pred_label, w.votes,
       |  CAST(e.label AS BIGINT) AS true_label,
       |  w.nlabel = CAST(e.label AS BIGINT) AS correct
       |FROM w JOIN embeddings e ON w.qid = e.vec_id
       |WHERE w.wr = 1""".stripMargin

  // ===== segment-level exact dedup ======================================

  private val segWidth = 8

  private val segmentDedupQ: QFn = (s, d) =>
    Dedup.segmentDedup(Tables.documents(s, d), width = segWidth, minDocs = 2)

  private val segmentDedupSql = {
    val w = segWidth
    s"""WITH $toksSql,
       |segd AS (
       |  SELECT doc_id,
       |    CASE WHEN len(tk) > 0 THEN
       |      list_transform(range(0, CAST(ceil(len(tk) / $w.0) AS BIGINT)),
       |        i -> array_to_string(tk[i*$w+1 : i*$w+$w], ' '))
       |    ELSE CAST([] AS VARCHAR[]) END AS segs
       |  FROM toks),
       |u AS (
       |  SELECT doc_id, unnest(segs) AS seg,
       |         unnest(range(0, len(segs))) AS pos
       |  FROM segd),
       |hd AS (
       |  SELECT ${sqlHash60("seg")} AS h,
       |         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
       |  FROM u GROUP BY 1),
       |j AS (
       |  SELECT u.doc_id, u.pos, u.seg, hd.n_docs
       |  FROM u JOIN hd ON ${sqlHash60("u.seg")} = hd.h),
       |r AS (
       |  SELECT doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_segs,
       |    CAST(COUNT(*) FILTER (WHERE n_docs < 2) AS BIGINT) AS n_kept,
       |    COALESCE(string_agg(seg, ' ' ORDER BY pos)
       |             FILTER (WHERE n_docs < 2), '') AS new_text
       |  FROM j GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(r.n_segs, CAST(0 AS BIGINT)) AS n_segs,
       |  COALESCE(r.n_kept, CAST(0 AS BIGINT)) AS n_kept,
       |  COALESCE(r.new_text, '') AS new_text
       |FROM documents d LEFT JOIN r USING (doc_id)""".stripMargin
  }

  // ===== duplicated-span (ExactSubstr-style) dedup ======================

  private val spanK = 8

  private val spanDedupQ: QFn = (s, d) =>
    Dedup.spanDedup(Tables.documents(s, d), k = spanK, minOccurs = 2)

  /** The oracle is the flat window-position formulation: every k-token
    * window hashed, occurrence count + first-occurrence rank per hash
    * via windows over h (fine in DuckDB — the engine side uses the
    * skew-safe groupBy+min instead), covered token positions expanded
    * and anti-joined against the token frame. */
  private val spanDedupSql = {
    val k = spanK
    s"""WITH $toksSql,
       |wf AS (
       |  SELECT doc_id,
       |    CASE WHEN len(tk) >= $k THEN
       |      list_transform(range(0, len(tk) - $k + 1),
       |        p -> array_to_string(tk[p+1 : p+$k], ' '))
       |    ELSE CAST([] AS VARCHAR[]) END AS wins
       |  FROM toks),
       |u AS (
       |  SELECT doc_id, unnest(wins) AS w,
       |         unnest(range(0, len(wins))) AS pos
       |  FROM wf),
       |o AS (SELECT doc_id, pos, ${sqlHash60("w")} AS h FROM u),
       |o2 AS (
       |  SELECT doc_id, pos,
       |    COUNT(*) OVER (PARTITION BY h) AS cnt,
       |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
       |  FROM o),
       |rem0 AS (SELECT doc_id, pos FROM o2 WHERE cnt >= 2 AND rn > 1),
       |rem AS (
       |  SELECT DISTINCT doc_id, pos + unnest(range(0, $k)) AS t
       |  FROM rem0),
       |tp AS (
       |  SELECT doc_id, unnest(tk) AS tok,
       |         unnest(range(0, len(tk))) AS p
       |  FROM toks),
       |kept AS (
       |  SELECT tp.doc_id, tp.tok, tp.p
       |  FROM tp LEFT JOIN rem ON rem.doc_id = tp.doc_id AND rem.t = tp.p
       |  WHERE rem.t IS NULL),
       |r AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
       |         string_agg(tok, ' ' ORDER BY p) AS new_text
       |  FROM kept GROUP BY doc_id),
       |n AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM toks)
       |SELECT n.doc_id, n.n_tokens,
       |  n.n_tokens - COALESCE(r.n_kept, CAST(0 AS BIGINT)) AS n_removed,
       |  COALESCE(r.new_text, '') AS new_text
       |FROM n LEFT JOIN r USING (doc_id)""".stripMargin
  }

  // ===== sequence packing ===============================================

  private val packCap = 256

  private val seqPackQ: QFn = (s, d) =>
    Packing.packSequences(
      Tables.documents(s, d).select(col("doc_id"), col("source"),
        size(Hashing.tokens(col("text"))).cast("long").as("n_tokens")),
      capacity = packCap, bucketSize = 64L)

  /** The oracle is the single-window form — the two-phase bucket scan
    * must be bit-identical to it. */
  private val seqPackSql =
    s"""WITH $toksSql,
       |t AS (
       |  SELECT source, doc_id, CAST(len(tk) AS BIGINT) AS n_tokens
       |  FROM toks),
       |o AS (
       |  SELECT source, doc_id, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (
       |      PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS tok_offset
       |  FROM t)
       |SELECT source, doc_id, n_tokens, tok_offset,
       |  CAST(tok_offset // $packCap AS BIGINT) AS first_seq,
       |  CAST((tok_offset + GREATEST(n_tokens, 1) - 1) // $packCap
       |       AS BIGINT) AS last_seq,
       |  (tok_offset // $packCap)
       |    <> ((tok_offset + GREATEST(n_tokens, 1) - 1) // $packCap)
       |    AS spans_boundary
       |FROM o""".stripMargin

  // ===== sequence block emission ========================================

  /** The block-writer face of packing: coordinates -> one row per
    * (sequence, document-slice). The oracle derives the same layout
    * from the single-window offsets, so the explode arithmetic
    * (complementary slices across a spanned boundary, len-0 rows for
    * empty docs) is fully adjudicated. */
  private val seqBlocksQ: QFn = (s, d) =>
    Packing.emitBlocks(
      Packing.packSequences(
        Tables.documents(s, d).select(col("doc_id"), col("source"),
          size(Hashing.tokens(col("text"))).cast("long").as("n_tokens")),
        capacity = packCap, bucketSize = 64L),
      capacity = packCap)

  private val seqBlocksSql =
    s"""WITH $toksSql,
       |t AS (
       |  SELECT source, doc_id, CAST(len(tk) AS BIGINT) AS n_tokens
       |  FROM toks),
       |o AS (
       |  SELECT source, doc_id, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (
       |      PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS tok_offset
       |  FROM t),
       |b AS (
       |  SELECT source, doc_id, n_tokens, tok_offset,
       |    CAST(tok_offset // $packCap AS BIGINT) AS first_seq,
       |    CAST((tok_offset + GREATEST(n_tokens, 1) - 1) // $packCap
       |         AS BIGINT) AS last_seq
       |  FROM o),
       |u AS (
       |  SELECT source, doc_id, n_tokens, tok_offset,
       |         unnest(range(first_seq, last_seq + 1)) AS seq_id
       |  FROM b)
       |SELECT source, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
       |  CAST(GREATEST(tok_offset - seq_id * $packCap, 0) AS BIGINT)
       |    AS seq_off,
       |  CAST(GREATEST(seq_id * $packCap - tok_offset, 0) AS BIGINT)
       |    AS doc_off,
       |  CAST(LEAST(tok_offset + n_tokens, (seq_id + 1) * $packCap)
       |       - GREATEST(tok_offset, seq_id * $packCap) AS BIGINT) AS len
       |FROM u""".stripMargin

  // ===== temperature-based source mixing ================================

  private val tempFrac = 0.5

  /** A synthetic NULL-lang row rides along on BOTH sides so the
    * null-safe stratum contract (a NULL stratum IS a stratum: groupBy
    * keeps it, the `<=>` join keeps its rows, accept stays a real
    * decision) is adjudicated rather than merely documented — the
    * fixture itself has no NULL langs. */
  private val temperatureMixQ: QFn = (s, d) =>
    Sampling.temperatureMix(
      Tables.documents(s, d).select(col("doc_id"), col("lang"))
        .unionByName(s.range(1).select(lit(-1L).as("doc_id"),
          lit(null).cast("string").as("lang"))),
      "doc_id", "lang", targetFrac = tempFrac)

  private val temperatureMixSql =
    s"""WITH docs2 AS (
       |  SELECT doc_id, lang FROM documents
       |  UNION ALL
       |  SELECT CAST(-1 AS BIGINT), CAST(NULL AS VARCHAR)),
       |c AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_s
       |  FROM docs2 GROUP BY lang),
       |w AS (
       |  SELECT lang, n_s,
       |    power(CAST(n_s AS DOUBLE), CAST(0.5 AS DOUBLE)) AS w_raw
       |  FROM c),
       |t AS (
       |  SELECT ${sqlDsum("w_raw")} AS denom,
       |         CAST(SUM(n_s) AS BIGINT) AS n_total
       |  FROM w),
       |r AS (
       |  SELECT lang, n_s,
       |    ${sqlSig9(s"LEAST(CAST(1.0 AS DOUBLE), CAST($tempFrac AS DOUBLE) * CAST(n_total AS DOUBLE) * w_raw / denom / CAST(n_s AS DOUBLE))")}
       |      AS rate
       |  FROM w CROSS JOIN t),
       |p AS (
       |  SELECT d.lang, d.doc_id, r.n_s, r.rate,
       |    CAST(${sqlHash60("'temp:' || CAST(doc_id AS VARCHAR)")} % 1000000
       |      AS DOUBLE) / 1000000.0 AS u
       |  FROM docs2 d LEFT JOIN r ON d.lang IS NOT DISTINCT FROM r.lang)
       |SELECT lang, doc_id, n_s, rate, u,
       |  COALESCE(u < rate, false) AS accept
       |FROM p""".stripMargin

  // ===== ingest anomaly detection =======================================

  private val anomalyQ: QFn = (s, d) =>
    Anomaly.dailyVolume(Tables.events(s, d))

  private val anomalySql = {
    val vr = "(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)" +
      " / CAST(n_win AS DOUBLE)) / CAST(n_win AS DOUBLE)"
    s"""WITH daily AS (
       |  SELECT event_type AS stream, CAST(ts AS DATE) AS day,
       |         CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1, 2),
       |m AS (
       |  SELECT stream, day, cnt,
       |    CAST(COUNT(cnt) OVER win AS BIGINT) AS n_win,
       |    CAST(COALESCE(SUM(cnt) OVER win, 0) AS BIGINT) AS s1,
       |    CAST(COALESCE(SUM(cnt * cnt) OVER win, 0) AS BIGINT) AS s2
       |  FROM daily
       |  WINDOW win AS (PARTITION BY stream ORDER BY day
       |                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
       |z AS (
       |  SELECT stream, day, cnt, n_win,
       |    CASE WHEN n_win = 7 THEN
       |      ${sqlSig9("CAST(s1 AS DOUBLE) / CAST(n_win AS DOUBLE)")}
       |    END AS mean_cnt,
       |    CASE WHEN n_win = 7 AND $vr > 0 THEN
       |      ${sqlSig9(s"(CAST(cnt AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n_win AS DOUBLE)) / sqrt($vr)")}
       |    END AS z
       |  FROM m)
       |SELECT stream, strftime(day, '%Y-%m-%d') AS day, cnt, n_win,
       |  mean_cnt, z,
       |  COALESCE(abs(z) > 3.0, false) AS is_anomaly
       |FROM z""".stripMargin
  }

  // ===== BPE vocabulary induction =======================================

  private val bpeQ: QFn = (s, d) =>
    Bpe.train(Tables.documents(s, d)
      .select(Hashing.tokens(col("text")).as("tk")), "tk", merges = 3)

  /** One CTE chain per merge round, each applying the same 4-pass
    * padded replace as the engine (replace is left-to-right
    * non-overlapping in both engines — the semantics ARE the
    * contract).
    *
    * Fixture assumption: the oracle unconditionally emits 3 rounds
    * while the engine truncates on vocabulary exhaustion; the
    * documents fixture is nowhere near exhaustion in 3 merges (its
    * word dict keeps thousands of multi-symbol entries), so the two
    * agree — a fixture that exhausts within 3 merges would need the
    * round SELECTs guarded with WHERE EXISTS on the pair CTE. */
  private def bpeRep4(inner: String) = (1 to 4).foldLeft(inner)((acc, _) =>
    s"replace($acc, ' '||l||' '||r||' ', ' '||l||r||' ')")

  private val bpeSql = {
    def rep4(inner: String) = bpeRep4(inner)
    def pairs(w: String) =
      s"""(SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS pair_count
         |   FROM (SELECT unnest(s[1:len(s)-1]) AS l,
         |                unnest(s[2:len(s)]) AS r, cnt
         |         FROM (SELECT string_split(trim(sym), ' ') AS s, cnt
         |               FROM $w))
         |   GROUP BY l, r)""".stripMargin
    def top(p: String) =
      s"(SELECT l, r, pair_count FROM $p ORDER BY pair_count DESC, l, r LIMIT 1)"
    def merge(w: String, t: String) =
      s"(SELECT ${rep4("sym")} AS sym, cnt FROM $w CROSS JOIN $t)"
    s"""WITH $toksSql,
       |w0 AS (
       |  SELECT ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' '
       |           AS sym,
       |         cnt
       |  FROM (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
       |        FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY w)),
       |t1 AS ${top(pairs("w0"))},
       |w1 AS ${merge("w0", "t1")},
       |t2 AS ${top(pairs("w1"))},
       |w2 AS ${merge("w1", "t2")},
       |t3 AS ${top(pairs("w2"))}
       |SELECT CAST(1 AS BIGINT) AS step, l AS lhs, r AS rhs,
       |       l||r AS merged, pair_count FROM t1
       |UNION ALL
       |SELECT CAST(2 AS BIGINT), l, r, l||r, pair_count FROM t2
       |UNION ALL
       |SELECT CAST(3 AS BIGINT), l, r, l||r, pair_count FROM t3""".stripMargin
  }

  // ===== BPE encoding (apply trained merges) ============================

  /** Train 3 merges, then tokenize the corpus with them — the full
    * text -> symbol-sequence path a training pipeline feeds into
    * Packing. The oracle re-derives the SAME rules (t1..t3 chain) and
    * folds the distinct-word dict through them, so rule learning AND
    * application are both adjudicated in one row-hash. */
  private val bpeEncodeQ: QFn = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), Hashing.tokens(col("text")).as("tk"))
    Bpe.encode(toks, "doc_id", "tk", Bpe.train(toks, "tk", merges = 3))
  }

  /** Shared train-3-rounds + encode CTE chain (w0..t3 relearn the
    * rules; d0..d3 fold the distinct-word dict through them; e/r
    * rebuild per-doc symbol sequences) — reused by the encode, ids and
    * pipeline-3 oracles so the contract has ONE definition. Same
    * fixture assumption as [[bpeSql]] (3 non-exhausted rounds). */
  private val bpeEncodeCtes = {
    def pairs(w: String) =
      s"""(SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS pair_count
         |   FROM (SELECT unnest(s[1:len(s)-1]) AS l,
         |                unnest(s[2:len(s)]) AS r, cnt
         |         FROM (SELECT string_split(trim(sym), ' ') AS s, cnt
         |               FROM $w))
         |   GROUP BY l, r)""".stripMargin
    def top(p: String) =
      s"(SELECT l, r, pair_count FROM $p ORDER BY pair_count DESC, l, r LIMIT 1)"
    def merge(w: String, t: String) =
      s"(SELECT ${bpeRep4("sym")} AS sym, cnt FROM $w CROSS JOIN $t)"
    def applyRule(d0: String, t: String) =
      s"(SELECT w, ${bpeRep4("sym")} AS sym FROM $d0 CROSS JOIN $t)"
    s"""w0 AS (
       |  SELECT ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' '
       |           AS sym,
       |         cnt
       |  FROM (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
       |        FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY w)),
       |t1 AS ${top(pairs("w0"))},
       |w1 AS ${merge("w0", "t1")},
       |t2 AS ${top(pairs("w1"))},
       |w2 AS ${merge("w1", "t2")},
       |t3 AS ${top(pairs("w2"))},
       |d0 AS (
       |  SELECT w, ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' '
       |           AS sym
       |  FROM (SELECT DISTINCT unnest(tk) AS w FROM toks)),
       |d1 AS ${applyRule("d0", "t1")},
       |d2 AS ${applyRule("d1", "t2")},
       |d3 AS ${applyRule("d2", "t3")},
       |e AS (
       |  SELECT doc_id, unnest(tk) AS w,
       |         unnest(range(0, len(tk))) AS pos
       |  FROM toks),
       |r AS (
       |  SELECT doc_id,
       |    CAST(SUM(len(string_split(trim(sym), ' '))) AS BIGINT) AS n_syms,
       |    string_agg(trim(sym), ' ' ORDER BY pos) AS bpe_text
       |  FROM e JOIN d3 USING (w) GROUP BY doc_id)""".stripMargin
  }

  private val bpeEncodeSql =
    s"""WITH $toksSql,
       |$bpeEncodeCtes
       |SELECT d.doc_id,
       |  COALESCE(r.n_syms, CAST(0 AS BIGINT)) AS n_syms,
       |  COALESCE(r.bpe_text, '') AS bpe_text
       |FROM documents d LEFT JOIN r USING (doc_id)""".stripMargin

  // ===== BPE id-stream decode ===========================================

  /** decode(encodeIds(docs)) from the ids ALONE must reproduce
    * encode's symbol streams — the oracle is the SAME adjudicated
    * train+encode CTE chain restricted to token-bearing docs, so a
    * decode bug (ordering, vocab join, unk handling) hash-fails. */
  private val bpeDecodeQ: QFn = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), Hashing.tokens(col("text")).as("tk"))
    val rules = Bpe.train(toks, "tk", merges = 3)
    val voc = Bpe.vocab(Bpe.alphabet(toks, "tk"), rules)
    Bpe.decodeIds(
      Bpe.encodeIds(toks, "doc_id", "tk", rules, vocabTable = Some(voc)),
      voc)
  }

  private val bpeDecodeSql =
    s"""WITH $toksSql,
       |$bpeEncodeCtes
       |SELECT doc_id, n_syms, bpe_text FROM r""".stripMargin

  // ===== BPE vocabulary ids =============================================

  /** Symbol-sequence to integer ids: alphabet ranked lexicographically,
    * merges at C + step - 1 (the Sennrich id layout). One row per
    * (doc, position). */
  private val bpeIdsQ: QFn = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), Hashing.tokens(col("text")).as("tk"))
    val rules = Bpe.train(toks, "tk", merges = 3)
    // ids from the persisted tokenizer artifact (training alphabet +
    // rules), the batch-independent path — here the encoded batch IS
    // the training corpus, so the oracle's derive-from-docs SQL agrees
    Bpe.encodeIds(toks, "doc_id", "tk", rules,
      vocabTable = Some(Bpe.vocab(Bpe.alphabet(toks, "tk"), rules)))
  }

  private val bpeIdsSql =
    s"""WITH $toksSql,
       |$bpeEncodeCtes,
       |alpha AS (
       |  SELECT sym,
       |    CAST(ROW_NUMBER() OVER (ORDER BY sym) - 1 AS BIGINT) AS sym_id
       |  FROM (SELECT DISTINCT unnest(string_split(trim(sym), ' ')) AS sym
       |        FROM d0)),
       |voc AS (
       |  SELECT sym, CAST(MIN(sym_id) AS BIGINT) AS sym_id FROM (
       |    SELECT sym, sym_id FROM alpha
       |    UNION ALL
       |    SELECT l || r,
       |      (SELECT COUNT(*) FROM alpha) + st - 1 FROM (
       |        SELECT l, r, 1 AS st FROM t1
       |        UNION ALL SELECT l, r, 2 FROM t2
       |        UNION ALL SELECT l, r, 3 FROM t3))
       |  GROUP BY sym),
       |px AS (
       |  SELECT doc_id, unnest(string_split(bpe_text, ' ')) AS sym,
       |         unnest(range(0, len(string_split(bpe_text, ' ')))) AS pos
       |  FROM r WHERE n_syms > 0)
       |SELECT px.doc_id, CAST(px.pos AS BIGINT) AS pos, px.sym, voc.sym_id
       |FROM px JOIN voc USING (sym)""".stripMargin

  // ===== pipeline v3: text -> tokenizer -> blocks =======================

  /** The full training-data path composed as ONE program: learn a BPE
    * tokenizer, encode the corpus with it, split train/val/test, pack
    * the token counts into fixed-capacity sequences and emit the
    * per-sequence block layout — raw text in, block coordinates out,
    * one plan, one hash. */
  private val pipeline3Q: QFn = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), Hashing.tokens(col("text")).as("tk"))
    val enc = Bpe.encode(toks, "doc_id", "tk", Bpe.train(toks, "tk", 3))
      .select(col("doc_id"), col("n_syms").as("n_tokens"))
    val split = Sampling.splitAssign(enc, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("n_tokens"), col("split"))
    Packing.emitBlocks(
      Packing.packSequences(split, capacity = 128, groupCol = "split",
        bucketSize = 64L),
      capacity = 128, groupCol = "split")
  }

  private val pipeline3Sql =
    s"""WITH $toksSql,
       |$bpeEncodeCtes,
       |enc AS (
       |  SELECT d.doc_id, COALESCE(r.n_syms, CAST(0 AS BIGINT)) AS n_tokens
       |  FROM documents d LEFT JOIN r USING (doc_id)),
       |sp AS (
       |  SELECT doc_id, n_tokens,
       |    CASE WHEN CAST(${sqlHash60("'split:' || CAST(doc_id AS VARCHAR)")}
       |           % 1000000 AS DOUBLE) / 1000000.0 < CAST(0.8 AS DOUBLE)
       |         THEN 'train'
       |         WHEN CAST(${sqlHash60("'split:' || CAST(doc_id AS VARCHAR)")}
       |           % 1000000 AS DOUBLE) / 1000000.0
       |           < CAST(${0.8 + 0.1} AS DOUBLE)
       |         THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM enc),
       |o AS (
       |  SELECT split, doc_id, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (
       |      PARTITION BY split ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS tok_offset
       |  FROM sp),
       |b AS (
       |  SELECT split, doc_id, n_tokens, tok_offset,
       |    CAST(tok_offset // 128 AS BIGINT) AS first_seq,
       |    CAST((tok_offset + GREATEST(n_tokens, 1) - 1) // 128
       |         AS BIGINT) AS last_seq
       |  FROM o),
       |u AS (
       |  SELECT split, doc_id, n_tokens, tok_offset,
       |         unnest(range(first_seq, last_seq + 1)) AS seq_id
       |  FROM b)
       |SELECT split, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
       |  CAST(GREATEST(tok_offset - seq_id * 128, 0) AS BIGINT) AS seq_off,
       |  CAST(GREATEST(seq_id * 128 - tok_offset, 0) AS BIGINT) AS doc_off,
       |  CAST(LEAST(tok_offset + n_tokens, (seq_id + 1) * 128)
       |       - GREATEST(tok_offset, seq_id * 128) AS BIGINT) AS len
       |FROM u""".stripMargin

  // ===== column profiling ===============================================

  private val profileCols = Seq("doc_id", "lang", "source", "n_chars")

  private val profileQ: QFn = (s, d) =>
    Profile.profile(Tables.documents(s, d), profileCols)

  private val profileSql = profileCols.map { c =>
    s"""SELECT * FROM (
       |  SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    CAST(COUNT(*) - COUNT(vc) AS BIGINT) AS n_nulls,
       |    CAST(COUNT(DISTINCT vc) AS BIGINT) AS n_distinct,
       |    MIN(vc) AS min_value, MAX(vc) AS max_value
       |  FROM (SELECT CAST($c AS VARCHAR) AS vc FROM documents))
       |LEFT JOIN (
       |  SELECT vc AS top_value, CAST(COUNT(*) AS BIGINT) AS top_count
       |  FROM (SELECT CAST($c AS VARCHAR) AS vc FROM documents)
       |  WHERE vc IS NOT NULL
       |  GROUP BY vc ORDER BY top_count DESC, top_value LIMIT 1) ON TRUE"""
      .stripMargin
  }.mkString("\nUNION ALL\n")

  // ===== corpus version diff ============================================

  /** New version derived deterministically from the same table on both
    * sides: every 17th doc removed, every 13th doc's text edited,
    * every 23rd doc re-added under a shifted id. */
  private val corpusDiffQ: QFn = (s, d) => {
    val docs = Tables.documents(s, d)
    val newV = docs.filter(col("doc_id") % 17 =!= 0)
      .withColumn("text", when(col("doc_id") % 13 === 0,
        concat(col("text"), lit(" v2"))).otherwise(col("text")))
      .unionByName(docs.filter(col("doc_id") % 23 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    CorpusDiff.diff(docs, newV)
  }

  private val corpusDiffSql =
    """WITH newv AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END
      |      AS text
      |  FROM documents WHERE doc_id % 17 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text
      |  FROM documents WHERE doc_id % 23 = 0),
      |o AS (SELECT doc_id AS id, md5(text) AS old_md5 FROM documents),
      |n AS (SELECT doc_id AS id, md5(text) AS new_md5 FROM newv)
      |SELECT COALESCE(o.id, n.id) AS doc_id, old_md5, new_md5,
      |  CASE WHEN old_md5 IS NULL THEN 'added'
      |       WHEN new_md5 IS NULL THEN 'removed'
      |       WHEN old_md5 <> new_md5 THEN 'changed'
      |       ELSE 'unchanged' END AS status
      |FROM o FULL OUTER JOIN n ON o.id = n.id""".stripMargin

  // ===== curriculum ordering ============================================

  private val curriculumQ: QFn = (s, d) =>
    Curriculum.buckets(
      Tables.documents(s, d).select(col("doc_id"),
        size(Hashing.tokens(col("text"))).cast("long").as("score")),
      "doc_id", "score", nBuckets = 4)

  private val curriculumSql =
    s"""WITH $toksSql,
       |sc AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS score FROM toks),
       |b AS (SELECT list_transform(quantile_cont(score, [0.25, 0.5, 0.75]),
       |               x -> ${sqlSig9("x")}) AS bounds
       |      FROM sc)
       |SELECT doc_id, score,
       |  CAST(len(list_filter(bounds, x -> CAST(score AS DOUBLE) > x))
       |       AS BIGINT) AS bucket,
       |  CAST(${sqlHash60("'curriculum:' || CAST(doc_id AS VARCHAR)")}
       |       % 1000000 AS DOUBLE) / 1000000.0 AS ord
       |FROM sc CROSS JOIN b""".stripMargin

  // ===== text normalization =============================================

  /** Input is deliberately perturbed on BOTH sides (upper-cased thirds,
    * injected runs and tabs) so the oracle adjudicates the lowering,
    * control-char mapping, and whitespace collapse — on the raw fixture
    * text normalization would be a no-op. */
  private val normalizeQ: QFn = (s, d) => {
    val perturbed = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 3 === 0, upper(col("text")))
          .otherwise(col("text")).as("text"))
      .withColumn("text", regexp_replace(col("text"), " the ", "  the\t"))
    graft.ext.TextStats.normalize(perturbed)
      .select(col("doc_id"), col("norm_text"), col("n_chars_norm"))
  }

  private val normalizeSql =
    """WITH p AS (
      |  SELECT doc_id,
      |    regexp_replace(
      |      CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END,
      |      ' the ', e'  the\t', 'g') AS text
      |  FROM documents),
      |n AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(regexp_replace(lower(text),
      |      '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g')) AS norm_text
      |  FROM p)
      |SELECT doc_id, norm_text,
      |  CAST(length(norm_text) AS BIGINT) AS n_chars_norm
      |FROM n""".stripMargin

  // ===== epoch-aware oversampling =======================================

  private val epochsByLang = Seq("en" -> 1.0, "fr" -> 2.5, "de" -> 2.0,
    "es" -> 1.5, "zh" -> 0.5)

  private val epochMixQ: QFn = (s, d) =>
    Sampling.epochMix(
      Tables.documents(s, d).select(col("doc_id"), col("lang")),
      "doc_id", "lang", epochsByLang.toMap)

  private val epochMixSql = {
    val cases = epochsByLang.reverse.map { case (l, v) =>
      s"WHEN lang = '$l' THEN CAST($v AS DOUBLE)"
    }.mkString(" ")
    s"""WITH p AS (
       |  SELECT doc_id, lang,
       |    CASE $cases ELSE CAST(1.0 AS DOUBLE) END AS e,
       |    CAST(${sqlHash60("'epoch:' || CAST(doc_id AS VARCHAR)")}
       |      % 1000000 AS DOUBLE) / 1000000.0 AS u
       |  FROM documents),
       |n AS (
       |  SELECT doc_id, lang, u,
       |    CAST(floor(e) + CASE WHEN u < e - floor(e) THEN 1 ELSE 0 END
       |         AS BIGINT) AS n_copies
       |  FROM p)
       |SELECT doc_id, lang, u, n_copies,
       |       CAST(unnest(range(0, n_copies)) AS BIGINT) AS copy_idx
       |FROM n""".stripMargin
  }

  // ===== pipeline v2 (round-6 flagship composition) =====================

  /** The round-6 stages composed as ONE program: segment dedup ->
    * min-length gate on the deduped text -> temperature mix over lang
    * -> split assignment -> sequence packing per split. Each stage is
    * individually oracle-checked; this query adjudicates that they
    * COMPOSE (one plan, one hash) against a single DuckDB CTE chain. */
  private val pipeline2Q: QFn = (s, d) => {
    val docs = Tables.documents(s, d)
    val deduped = Dedup.segmentDedup(docs, width = segWidth, minDocs = 2)
      .select(col("doc_id"),
        size(Hashing.tokens(col("new_text"))).cast("long").as("n_tokens"))
    val gated = deduped.filter(col("n_tokens") >= 40)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val mixed = Sampling.temperatureMix(gated, "doc_id", "lang",
        targetFrac = tempFrac)
      .filter(col("accept"))
    val split = Sampling.splitAssign(
      mixed.select(col("doc_id"), col("lang"), col("n_tokens")),
      "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("split"))
    Packing.packSequences(split, capacity = packCap,
        groupCol = "split", bucketSize = 64L)
      .join(split.select(col("doc_id"), col("lang")), Seq("doc_id"))
  }

  private val pipeline2Sql = {
    val w = segWidth
    val rateExpr = sqlSig9(s"LEAST(CAST(1.0 AS DOUBLE), " +
      s"CAST($tempFrac AS DOUBLE) * CAST(n_total AS DOUBLE) * w_raw " +
      s"/ denom / CAST(n_s AS DOUBLE))")
    s"""WITH $toksSql,
       |segd AS (
       |  SELECT doc_id,
       |    CASE WHEN len(tk) > 0 THEN
       |      list_transform(range(0, CAST(ceil(len(tk) / $w.0) AS BIGINT)),
       |        i -> array_to_string(tk[i*$w+1 : i*$w+$w], ' '))
       |    ELSE CAST([] AS VARCHAR[]) END AS segs
       |  FROM toks),
       |u AS (
       |  SELECT doc_id, unnest(segs) AS seg,
       |         unnest(range(0, len(segs))) AS pos
       |  FROM segd),
       |hd AS (
       |  SELECT ${sqlHash60("seg")} AS h,
       |         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
       |  FROM u GROUP BY 1),
       |j AS (
       |  SELECT u.doc_id, u.pos, u.seg, hd.n_docs
       |  FROM u JOIN hd ON ${sqlHash60("u.seg")} = hd.h),
       |r AS (
       |  SELECT doc_id,
       |    COALESCE(string_agg(seg, ' ' ORDER BY pos)
       |             FILTER (WHERE n_docs < 2), '') AS new_text
       |  FROM j GROUP BY doc_id),
       |dd AS (
       |  SELECT d.doc_id,
       |    CAST(len(list_filter(string_split(COALESCE(r.new_text, ''), ' '),
       |                         t -> t <> '')) AS BIGINT) AS n_tokens
       |  FROM documents d LEFT JOIN r USING (doc_id)),
       |gated AS (
       |  SELECT dd.doc_id, dd.n_tokens, d.lang
       |  FROM dd JOIN documents d USING (doc_id)
       |  WHERE dd.n_tokens >= 40),
       |c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_s
       |      FROM gated GROUP BY lang),
       |wts AS (
       |  SELECT lang, n_s,
       |    power(CAST(n_s AS DOUBLE), CAST(0.5 AS DOUBLE)) AS w_raw
       |  FROM c),
       |tt AS (
       |  SELECT ${sqlDsum("w_raw")} AS denom,
       |         CAST(SUM(n_s) AS BIGINT) AS n_total
       |  FROM wts),
       |rates AS (
       |  SELECT lang, $rateExpr AS rate FROM wts CROSS JOIN tt),
       |mixed AS (
       |  SELECT g.doc_id, g.lang, g.n_tokens
       |  FROM gated g JOIN rates USING (lang)
       |  WHERE CAST(${sqlHash60("'temp:' || CAST(doc_id AS VARCHAR)")}
       |        % 1000000 AS DOUBLE) / 1000000.0 < rates.rate),
       |sp AS (
       |  SELECT doc_id, lang, n_tokens,
       |    CASE WHEN CAST(${sqlHash60("'split:' || CAST(doc_id AS VARCHAR)")}
       |           % 1000000 AS DOUBLE) / 1000000.0 < CAST(0.8 AS DOUBLE)
       |         THEN 'train'
       |         WHEN CAST(${sqlHash60("'split:' || CAST(doc_id AS VARCHAR)")}
       |           % 1000000 AS DOUBLE) / 1000000.0
       |           < CAST(${0.8 + 0.1} AS DOUBLE)
       |         THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM mixed),
       |o AS (
       |  SELECT split, doc_id, lang, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (
       |      PARTITION BY split ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS tok_offset
       |  FROM sp)
       |SELECT doc_id, split, n_tokens, tok_offset,
       |  CAST(tok_offset // $packCap AS BIGINT) AS first_seq,
       |  CAST((tok_offset + GREATEST(n_tokens, 1) - 1) // $packCap
       |       AS BIGINT) AS last_seq,
       |  (tok_offset // $packCap)
       |    <> ((tok_offset + GREATEST(n_tokens, 1) - 1) // $packCap)
       |    AS spans_boundary,
       |  lang
       |FROM o""".stripMargin
  }

  // ===== grouped exact-decimal Pearson correlation ======================

  /** corr(l_quantity, l_extendedprice) per (returnflag, linestatus):
    * the oracle recomputes the identical sufficient-statistic combine
    * (NOT DuckDB's corr() — float-sum corr is partition-order dependent
    * and would not hash-match itself across runs, which is the point of
    * the decimal routing). */
  private val groupCorrQ: QFn = (s, d) =>
    graft.ext.Profile.groupCorr(Tables.lineitem(s, d),
      Seq("l_returnflag", "l_linestatus"), "l_quantity", "l_extendedprice")

  private val groupCorrSql = {
    val sx = sqlDsum("x"); val sy = sqlDsum("y")
    val sxx = sqlDsum("x * x"); val syy = sqlDsum("y * y")
    val sxy = sqlDsum("x * y")
    s"""WITH b AS (
       |  SELECT l_returnflag, l_linestatus,
       |         CAST(l_quantity AS DOUBLE) AS x,
       |         CAST(l_extendedprice AS DOUBLE) AS y
       |  FROM lineitem
       |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
       |a AS (
       |  SELECT l_returnflag, l_linestatus,
       |    CAST(count(*) AS BIGINT) AS n,
       |    $sx AS sx, $sy AS sy, $sxx AS sxx, $syy AS syy, $sxy AS sxy
       |  FROM b GROUP BY 1, 2)
       |SELECT l_returnflag, l_linestatus, n,
       |  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
       |        AND CAST(n AS DOUBLE) * syy - sy * sy > 0
       |    THEN ${Q.sqlSig9(
              "(CAST(n AS DOUBLE) * sxy - sx * sy) / " +
              "sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) * " +
              "(CAST(n AS DOUBLE) * syy - sy * sy))")}
       |  END AS corr
       |FROM a""".stripMargin
  }

  // ===== equi-width histogram ===========================================

  private val histogramQ: QFn = (s, d) =>
    graft.ext.Profile.histogram(Tables.lineitem(s, d),
      "l_extendedprice", bins = 16)

  private val histogramSql =
    """WITH v AS (
      |  SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
      |  WHERE l_extendedprice IS NOT NULL),
      |s AS (SELECT min(x) AS lo, max(x) AS hi FROM v),
      |w AS (SELECT lo, hi, (hi - lo) / 16 AS wd FROM s),
      |b AS (
      |  SELECT CASE WHEN hi > lo
      |           THEN LEAST(CAST(floor((x - lo) / wd) AS BIGINT), 15)
      |           ELSE 0 END AS bin,
      |         lo, wd
      |  FROM v CROSS JOIN w)
      |SELECT bin, lo + CAST(bin AS DOUBLE) * wd AS bin_lo,
      |  lo + CAST(bin + 1 AS DOUBLE) * wd AS bin_hi,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM b GROUP BY bin, lo, wd""".stripMargin

  // ===== PSI drift detection ============================================

  /** Reference = all event values; current = purchase values only — a
    * genuinely shifted sub-distribution, so the row adjudicates
    * non-trivial contributions, the clamping, and the share math. */
  private val psiQ: QFn = (s, d) => {
    val ev = Tables.events(s, d)
    graft.ext.Profile.psi(ev, ev.where(col("event_type") === "purchase"),
      "value", bins = 10)
  }

  private val psiSql = {
    val bin = (src: String) =>
      s"""SELECT CASE WHEN s.hi = s.lo THEN 0
         |  ELSE LEAST(9, GREATEST(0, CAST(floor((x - s.lo) /
         |    ((s.hi - s.lo) / 10)) AS BIGINT))) END AS bin,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM $src CROSS JOIN s GROUP BY 1""".stripMargin
    s"""WITH rv AS (
       |  SELECT CAST(value AS DOUBLE) AS x FROM events
       |  WHERE value IS NOT NULL),
       |cv AS (
       |  SELECT CAST(value AS DOUBLE) AS x FROM events
       |  WHERE value IS NOT NULL AND event_type = 'purchase'),
       |s AS (SELECT min(x) AS lo, max(x) AS hi FROM rv),
       |rb AS (${bin("rv")}),
       |cb AS (${bin("cv")}),
       |j AS (
       |  SELECT COALESCE(rb.bin, cb.bin) AS bin,
       |    COALESCE(rb.n, 0) AS ref_n, COALESCE(cb.n, 0) AS cur_n
       |  FROM rb FULL JOIN cb ON rb.bin = cb.bin),
       |t AS (SELECT CAST(SUM(ref_n) AS BIGINT) AS rt,
       |             CAST(SUM(cur_n) AS BIGINT) AS ct FROM j)
       |SELECT bin, ref_n, cur_n,
       |  CAST(ref_n AS DOUBLE) / CAST(rt AS DOUBLE) AS ref_frac,
       |  CAST(cur_n AS DOUBLE) / CAST(ct AS DOUBLE) AS cur_frac,
       |  ref_n = 0 OR cur_n = 0 AS degenerate,
       |  CASE WHEN ref_n = 0 OR cur_n = 0 THEN 0.0
       |    ELSE (CAST(ref_n AS DOUBLE) / CAST(rt AS DOUBLE)
       |          - CAST(cur_n AS DOUBLE) / CAST(ct AS DOUBLE)) *
       |      ${Q.sqlSig9("ln((CAST(ref_n AS DOUBLE) / CAST(rt AS DOUBLE)) / " +
              "(CAST(cur_n AS DOUBLE) / CAST(ct AS DOUBLE)))")}
       |  END AS contrib
       |FROM j CROSS JOIN t""".stripMargin
  }

  // ===== one-row binned drift battery (PSI + binned KS + chi2) =======

  /** [[graft.ext.Profile.binnedDrift]] over the q_x_psi ref/cur pair
    * (all values vs purchase values): the ONE-ROW drift battery whose
    * streaming face is `EventPipeline.driftMonitor` — PSI, the
    * bin-boundary KS sup-distance (exact integer argmax, ties to the
    * smallest bin) and the 2×B homogeneity chi-square on the shared
    * reference binning. */
  private val binnedDriftQ: QFn = (s, d) => {
    val ev = Tables.events(s, d)
    graft.ext.Profile.binnedDrift(ev,
      ev.where(col("event_type") === "purchase"), "value", bins = 10)
  }

  private val binnedDriftSql = {
    val bin = (src: String) =>
      s"""SELECT CASE WHEN s.hi = s.lo THEN 0
         |  ELSE LEAST(9, GREATEST(0, CAST(floor((x - s.lo) /
         |    ((s.hi - s.lo) / 10)) AS BIGINT))) END AS bin,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM $src CROSS JOIN s GROUP BY 1""".stripMargin
    val rf = "(CAST(rn AS DOUBLE) / CAST(rt AS DOUBLE))"
    val cf = "(CAST(cn AS DOUBLE) / CAST(ct AS DOUBLE))"
    val pc = s"CASE WHEN rn > 0 AND cn > 0 THEN ${Q.sqlSig9(
      s"($rf - $cf) * ${Q.sqlSig9(s"ln($rf / $cf)")}")} ELSE 0.0 END"
    val n = "CAST(rt + ct AS DOUBLE)"
    val bt = "CAST(rn + cn AS DOUBLE)"
    val er = s"(CAST(rt AS DOUBLE) * $bt / $n)"
    val ec = s"(CAST(ct AS DOUBLE) * $bt / $n)"
    val dr = s"(CAST(rn AS DOUBLE) - $er)"
    val dc = s"(CAST(cn AS DOUBLE) - $ec)"
    val xc = s"CASE WHEN rt > 0 AND ct > 0 THEN ${Q.sqlSig9(
      s"$dr * $dr / $er")} + ${Q.sqlSig9(s"$dc * $dc / $ec")} " +
      "ELSE 0.0 END"
    s"""WITH rv AS (
       |  SELECT CAST(value AS DOUBLE) AS x FROM events
       |  WHERE value IS NOT NULL),
       |cv AS (
       |  SELECT CAST(value AS DOUBLE) AS x FROM events
       |  WHERE value IS NOT NULL AND event_type = 'purchase'),
       |s AS (SELECT min(x) AS lo, max(x) AS hi FROM rv),
       |rb AS (${bin("rv")}),
       |cb AS (${bin("cv")}),
       |j AS (
       |  SELECT COALESCE(rb.bin, cb.bin) AS bin,
       |    COALESCE(rb.n, 0) AS rn, COALESCE(cb.n, 0) AS cn
       |  FROM rb FULL JOIN cb ON rb.bin = cb.bin),
       |t AS (SELECT CAST(SUM(rn) AS BIGINT) AS rt,
       |             CAST(SUM(cn) AS BIGINT) AS ct FROM j),
       |c AS (
       |  SELECT j.bin, j.rn, j.cn, t.rt, t.ct, $pc AS pc, $xc AS xc,
       |    SUM(j.rn) OVER (ORDER BY j.bin) AS cumr,
       |    SUM(j.cn) OVER (ORDER BY j.bin) AS cumc
       |  FROM j CROSS JOIN t),
       |k AS (
       |  SELECT bin, abs(CAST(cumr AS HUGEINT) * ct
       |    - CAST(cumc AS HUGEINT) * rt) AS num FROM c),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS nocc,
       |    ${Q.sqlDsumStable("pc", 9)} AS psi_raw,
       |    ${Q.sqlDsumStable("xc", 6)} AS chi2_raw
       |  FROM c),
       |kmax AS (SELECT max(num) AS mx FROM k),
       |kbin AS (
       |  SELECT CAST(min(k.bin) AS BIGINT) AS ks_bin
       |  FROM k CROSS JOIN kmax WHERE k.num = kmax.mx)
       |SELECT CAST(10 AS BIGINT) AS bins, t.rt AS n_ref, t.ct AS n_cur,
       |  agg.nocc AS n_bins_occ,
       |  CASE WHEN t.rt > 0 AND t.ct > 0 THEN agg.psi_raw END AS psi,
       |  CASE WHEN t.rt > 0 AND t.ct > 0 THEN ${Q.sqlSig9(
            "CAST(kmax.mx AS DOUBLE) / " +
              "(CAST(t.rt AS DOUBLE) * CAST(t.ct AS DOUBLE))")} END
       |    AS ks,
       |  kbin.ks_bin AS ks_bin,
       |  CASE WHEN t.rt > 0 AND t.ct > 0 THEN agg.chi2_raw END AS chi2,
       |  agg.nocc - 1 AS dof
       |FROM t CROSS JOIN agg CROSS JOIN kmax CROSS JOIN kbin""".stripMargin
  }

  // ===== distribution-distance battery (W1 / TV / Hellinger) =========

  /** [[graft.ext.Profile.distanceBattery]] over the q_x_psi ref/cur
    * pair: Wasserstein-1 (how far did the distribution move, in value
    * units), total-variation and Hellinger distance on the shared
    * reference binning — the "how much" companions to q_x_binned_drift's
    * "did it" tests. All three reduce to the same additive per-bin
    * count state, so they share the drift monitor's streaming shape. */
  private val wassersteinQ: QFn = (s, d) => {
    val ev = Tables.events(s, d)
    graft.ext.Profile.distanceBattery(ev,
      ev.where(col("event_type") === "purchase"), "value", bins = 10)
  }

  private val wassersteinSql = {
    val bin = (src: String) =>
      s"""SELECT CASE WHEN s.hi = s.lo THEN 0
         |  ELSE LEAST(9, GREATEST(0, CAST(floor((x - s.lo) /
         |    ((s.hi - s.lo) / 10)) AS BIGINT))) END AS bin,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM $src CROSS JOIN s GROUP BY 1""".stripMargin
    val rf = "(CAST(rn AS DOUBLE) / CAST(rt AS DOUBLE))"
    val cf = "(CAST(cn AS DOUBLE) / CAST(ct AS DOUBLE))"
    val bc = s"CASE WHEN rn > 0 AND cn > 0 THEN ${Q.sqlSig9(
      s"sqrt($rf * $cf)")} ELSE 0.0 END"
    val rtct = "(CAST(t.rt AS DOUBLE) * CAST(t.ct AS DOUBLE))"
    s"""WITH rv AS (
       |  SELECT CAST(value AS DOUBLE) AS x FROM events
       |  WHERE value IS NOT NULL),
       |cv AS (
       |  SELECT CAST(value AS DOUBLE) AS x FROM events
       |  WHERE value IS NOT NULL AND event_type = 'purchase'),
       |s AS (SELECT min(x) AS lo, max(x) AS hi FROM rv),
       |rb AS (${bin("rv")}),
       |cb AS (${bin("cv")}),
       |j AS (
       |  SELECT COALESCE(rb.bin, cb.bin) AS bin,
       |    COALESCE(rb.n, 0) AS rn, COALESCE(cb.n, 0) AS cn
       |  FROM rb FULL JOIN cb ON rb.bin = cb.bin),
       |t AS (SELECT CAST(SUM(rn) AS BIGINT) AS rt,
       |             CAST(SUM(cn) AS BIGINT) AS ct FROM j),
       |c AS (
       |  SELECT j.bin, j.rn, j.cn, t.rt, t.ct, $bc AS bc,
       |    abs(CAST(j.rn AS HUGEINT) * t.ct
       |      - CAST(j.cn AS HUGEINT) * t.rt) AS tvn,
       |    SUM(j.rn) OVER (ORDER BY j.bin) AS cumr,
       |    SUM(j.cn) OVER (ORDER BY j.bin) AS cumc,
       |    COALESCE(LEAD(j.bin) OVER (ORDER BY j.bin), 10) AS nxt
       |  FROM j CROSS JOIN t),
       |agg AS (
       |  SELECT SUM(abs(CAST(cumr AS HUGEINT) * ct
       |      - CAST(cumc AS HUGEINT) * rt) * (nxt - bin)) AS w1n,
       |    SUM(tvn) AS tvn,
       |    ${Q.sqlDsumStable("bc", 9)} AS bc_raw
       |  FROM c)
       |SELECT CAST(10 AS BIGINT) AS bins, t.rt AS n_ref, t.ct AS n_cur,
       |  ${Q.sqlSig9("(s.hi - s.lo) / 10")} AS bin_width,
       |  CASE WHEN t.rt > 0 AND t.ct > 0 THEN ${Q.sqlSig9(
            s"CAST(agg.w1n AS DOUBLE) / $rtct * ((s.hi - s.lo) / 10)")} END
       |    AS w1,
       |  CASE WHEN t.rt > 0 AND t.ct > 0 THEN ${Q.sqlSig9(
            s"CAST(agg.tvn AS DOUBLE) / $rtct / 2.0")} END AS tv,
       |  CASE WHEN t.rt > 0 AND t.ct > 0 THEN ${Q.sqlSig9(
            "sqrt(GREATEST(0.0, 1.0 - agg.bc_raw))")} END AS hellinger
       |FROM t CROSS JOIN agg CROSS JOIN s""".stripMargin
  }

  // ===== IPF / raking mixture calibration =============================

  /** [[graft.ext.Mixture.ipfRake]]: rake the full documents corpus's
    * source × lang cell weights to the marginals of the high-quality
    * slice (n_chars ≥ 306, ~half the fixture) — the "reweight the
    * crawl to the curated profile" mixture-calibration op. Two full
    * row+column sweeps, unrolled in the oracle as four half-step CTEs
    * replaying the exact sig9/dsumStable chain. */
  private val ipfQ: QFn = (s, d) => {
    val docs = Tables.documents(s, d)
    graft.ext.Mixture.ipfRake(docs, docs.where(col("n_chars") >= 306),
      "source", "lang", rounds = 2)
  }

  private val ipfSql = {
    val mass = sqlSig9("CAST(p.n AS DOUBLE) * p.w")
    def tm(dim: String, slice: String, name: String) =
      s"""${name}_tn AS (
         |  SELECT $dim AS k, CAST(count(*) AS BIGINT) AS tn
         |  FROM documents WHERE $slice GROUP BY 1),
         |${name}_tt AS (SELECT CAST(SUM(tn) AS BIGINT) AS tt
         |  FROM ${name}_tn),
         |$name AS (
         |  SELECT k, ${sqlSig9("CAST(nc AS DOUBLE) * CAST(tn AS DOUBLE)" +
            " / CAST(tt AS DOUBLE)")} AS tm
         |  FROM ${name}_tn CROSS JOIN ${name}_tt CROSS JOIN tot)"""
        .stripMargin
    def step(i: Int, prev: String, dim: String, tmTab: String) =
      s"""s$i AS (
         |  SELECT p.$dim AS k, ${sqlDsumStable(mass, 6)} AS cs
         |  FROM $prev p GROUP BY p.$dim),
         |w$i AS (
         |  SELECT p.r, p.c, p.n,
         |    ${sqlSig9(s"p.w * COALESCE(CASE WHEN s$i.cs > 0 THEN " +
            sqlSig9(s"$tmTab.tm / s$i.cs") + " END, 0.0)")} AS w
         |  FROM $prev p LEFT JOIN s$i ON p.$dim = s$i.k
         |    LEFT JOIN $tmTab ON p.$dim = $tmTab.k)""".stripMargin
    s"""WITH cells AS (
       |  SELECT source AS r, lang AS c, CAST(count(*) AS BIGINT) AS n
       |  FROM documents GROUP BY 1, 2),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nc FROM cells),
       |${tm("source", "n_chars >= 306", "tmr")},
       |${tm("lang", "n_chars >= 306", "tmc")},
       |w0 AS (SELECT r, c, n, CAST(1.0 AS DOUBLE) AS w FROM cells),
       |${step(1, "w0", "r", "tmr")},
       |${step(2, "w1", "c", "tmc")},
       |${step(3, "w2", "r", "tmr")},
       |${step(4, "w3", "c", "tmc")}
       |SELECT r AS source, c AS lang, n, w AS weight,
       |  ${sqlSig9("CAST(n AS DOUBLE) * w")} AS mass
       |FROM w4""".stripMargin
  }

  // ===== pipeline 14: calibrate → filter → rake =======================

  /** Flagship composition #14 — the calibrated-quality-filter +
    * mixture-rebalance chain every curation pass runs: score docs
    * (scaled length), ISOTONIC-calibrate the score against the weak
    * en label ([[graft.ext.Classifier.isotonicCalibration]]), accept
    * the bins whose calibrated rate beats the corpus base rate, then
    * [[graft.ext.Mixture.ipfRake]] the accepted subset BACK to the
    * full corpus's source × lang profile (filtering skews the mix;
    * raking repairs it). One engine plan, one DuckDB CTE chain, one
    * hash. */
  private val pipeline14Q: QFn = (s, d) => {
    val docs = Tables.documents(s, d)
    val scored = docs.select(col("doc_id"), col("source"), col("lang"),
      (col("n_chars").cast("double") / 1000.0).as("sc"),
      (col("lang") === "en").cast("int").as("y"))
    val fit = graft.ext.Classifier.isotonicCalibration(
      scored, "sc", "y", bins = 10)
    val base = scored.where(col("sc").isNotNull && col("y").isNotNull)
    val mm = base.agg(min(col("sc")).as("lo"), max(col("sc")).as("hi"))
    val rate = base.agg(Q.sig9(sum(col("y")).cast("double") /
      count(lit(1)).cast("double")).as("base_rate"))
    val binned = base.crossJoin(broadcast(mm))
      .withColumn("bin",
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(least(lit(9L), greatest(lit(0L),
            floor((col("sc") - col("lo"))
              / ((col("hi") - col("lo")) / 10)).cast("long")))))
    val accepted = binned
      .join(broadcast(fit.select(col("bin"), col("fit"))), Seq("bin"))
      .crossJoin(broadcast(rate))
      .where(col("fit") > col("base_rate"))
      .select(col("doc_id"), col("source"), col("lang"))
    graft.ext.Mixture.ipfRake(accepted, docs, "source", "lang",
      rounds = 2)
  }

  private val pipeline14Sql = {
    // isotonic fit on the documents score (the q_x_isotonic chain,
    // re-based onto documents)
    val iso =
      s"""sb AS (
         |  SELECT doc_id, source, lang,
         |    CAST(n_chars AS DOUBLE) / 1000.0 AS s,
         |    CAST(lang = 'en' AS BIGINT) AS y
         |  FROM documents WHERE n_chars IS NOT NULL
         |    AND lang IS NOT NULL),
         |smm AS (SELECT min(s) AS lo, max(s) AS hi FROM sb),
         |sbin AS (
         |  SELECT sb.*, CASE WHEN smm.hi = smm.lo THEN 0
         |    ELSE LEAST(9, GREATEST(0, CAST(floor((sb.s - smm.lo) /
         |      ((smm.hi - smm.lo) / 10)) AS BIGINT))) END AS bin
         |  FROM sb CROSS JOIN smm),
         |bcts AS (
         |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(y) AS BIGINT) AS pos
         |  FROM sbin GROUP BY 1),
         |iv AS (
         |  SELECT j.bin AS j, k.bin AS k,
         |    CAST(SUM(l.pos) AS DOUBLE) / CAST(SUM(l.n) AS DOUBLE)
         |      AS rate
         |  FROM bcts j, bcts k, bcts l
         |  WHERE j.bin <= k.bin AND l.bin BETWEEN j.bin AND k.bin
         |  GROUP BY 1, 2),
         |mn AS (
         |  SELECT i.bin AS i, iv.j, MIN(iv.rate) AS minr
         |  FROM bcts i JOIN iv ON iv.j <= i.bin AND iv.k >= i.bin
         |  GROUP BY 1, 2),
         |fit AS (SELECT i, ${Q.sqlSig9("MAX(minr)")} AS fit
         |  FROM mn GROUP BY i),
         |brate AS (SELECT ${Q.sqlSig9(
            "CAST(SUM(y) AS DOUBLE) / CAST(count(*) AS DOUBLE)")}
         |    AS base_rate
         |  FROM sb),
         |acc AS (
         |  SELECT sbin.doc_id, sbin.source, sbin.lang
         |  FROM sbin JOIN fit ON sbin.bin = fit.i CROSS JOIN brate
         |  WHERE fit.fit > brate.base_rate)""".stripMargin
    // rake the accepted subset to the FULL corpus marginals (the
    // q_x_ipf chain with accepted cells + corpus targets)
    val mass = sqlSig9("CAST(p.n AS DOUBLE) * p.w")
    def tm(dim: String, name: String) =
      s"""${name}_tn AS (
         |  SELECT $dim AS k, CAST(count(*) AS BIGINT) AS tn
         |  FROM documents GROUP BY 1),
         |${name}_tt AS (SELECT CAST(SUM(tn) AS BIGINT) AS tt
         |  FROM ${name}_tn),
         |$name AS (
         |  SELECT k, ${sqlSig9("CAST(nc AS DOUBLE) * CAST(tn AS DOUBLE)" +
            " / CAST(tt AS DOUBLE)")} AS tm
         |  FROM ${name}_tn CROSS JOIN ${name}_tt CROSS JOIN tot)"""
        .stripMargin
    def step(i: Int, prev: String, dim: String, tmTab: String) =
      s"""s$i AS (
         |  SELECT p.$dim AS k, ${sqlDsumStable(mass, 6)} AS cs
         |  FROM $prev p GROUP BY p.$dim),
         |w$i AS (
         |  SELECT p.r, p.c, p.n,
         |    ${sqlSig9(s"p.w * COALESCE(CASE WHEN s$i.cs > 0 THEN " +
            sqlSig9(s"$tmTab.tm / s$i.cs") + " END, 0.0)")} AS w
         |  FROM $prev p LEFT JOIN s$i ON p.$dim = s$i.k
         |    LEFT JOIN $tmTab ON p.$dim = $tmTab.k)""".stripMargin
    s"""WITH $iso,
       |cells AS (
       |  SELECT source AS r, lang AS c, CAST(count(*) AS BIGINT) AS n
       |  FROM acc GROUP BY 1, 2),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nc FROM cells),
       |${tm("source", "tmr")},
       |${tm("lang", "tmc")},
       |w0 AS (SELECT r, c, n, CAST(1.0 AS DOUBLE) AS w FROM cells),
       |${step(1, "w0", "r", "tmr")},
       |${step(2, "w1", "c", "tmc")},
       |${step(3, "w2", "r", "tmr")},
       |${step(4, "w3", "c", "tmc")}
       |SELECT r AS source, c AS lang, n, w AS weight,
       |  ${sqlSig9("CAST(n AS DOUBLE) * w")} AS mass
       |FROM w4""".stripMargin
  }

  // ===== Benford first-digit conformance ==============================

  /** First-digit profile of order totals vs Benford's law — the
    * forensic screen for fabricated/truncated amount feeds. Digits by
    * exact integer+string arithmetic (no libm log10); expectations as
    * Scala-computed literals on both engines. */
  private val benfordQ: QFn = (s, d) =>
    graft.ext.Profile.benford(Tables.orders(s, d), "o_totalprice")

  private val benfordSql = {
    val vals = (1 to 9).map(dd =>
      s"($dd, CAST('${math.log10(1.0 + 1.0 / dd)}' AS DOUBLE))")
      .mkString(", ")
    val e = Q.sqlSig9("g.p * CAST(t.n_total AS DOUBLE)")
    val d0 = s"(CAST(COALESCE(o.n_obs, 0) AS DOUBLE) - ($e))"
    s"""WITH v AS (
       |  SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
       |  WHERE o_totalprice IS NOT NULL AND o_totalprice > 0),
       |o AS (
       |  SELECT CAST(substr(CAST(CAST(floor(
       |      CASE WHEN x < 1.0 THEN x * 1e9 ELSE x END) AS BIGINT)
       |      AS VARCHAR), 1, 1) AS BIGINT) AS digit,
       |    CAST(count(*) AS BIGINT) AS n_obs
       |  FROM v GROUP BY 1),
       |g AS (SELECT * FROM (VALUES $vals) AS gg(digit, p)),
       |t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM o)
       |SELECT CAST(g.digit AS BIGINT) AS digit,
       |  COALESCE(o.n_obs, 0) AS n_obs, t.n_total,
       |  $e AS expected,
       |  CASE WHEN t.n_total > 0 THEN
       |    ${Q.sqlSig9(s"$d0 * $d0 / ($e)")}
       |  END AS contrib
       |FROM g LEFT JOIN o ON o.digit = g.digit CROSS JOIN t""".stripMargin
  }

  val queries: Map[String, (QFn, String)] = Map(
    "q_x_benford" -> (benfordQ, benfordSql),
    "q_x_psi" -> (psiQ, psiSql),
    "q_x_binned_drift" -> (binnedDriftQ, binnedDriftSql),
    "q_x_wasserstein" -> (wassersteinQ, wassersteinSql),
    "q_x_ipf" -> (ipfQ, ipfSql),
    "q_x_pipeline14" -> (pipeline14Q, pipeline14Sql),
    "q_x_histogram" -> (histogramQ, histogramSql),
    "q_x_group_corr" -> (groupCorrQ, groupCorrSql),
    "q_x_knn_label" -> (knnLabel, knnLabelSql),
    "q_x_segment_dedup" -> (segmentDedupQ, segmentDedupSql),
    "q_x_span_dedup" -> (spanDedupQ, spanDedupSql),
    "q_x_seq_pack" -> (seqPackQ, seqPackSql),
    "q_x_seq_blocks" -> (seqBlocksQ, seqBlocksSql),
    "q_x_temperature_mix" -> (temperatureMixQ, temperatureMixSql),
    "q_x_anomaly" -> (anomalyQ, anomalySql),
    "q_x_bpe" -> (bpeQ, bpeSql),
    "q_x_bpe_encode" -> (bpeEncodeQ, bpeEncodeSql),
    "q_x_bpe_decode" -> (bpeDecodeQ, bpeDecodeSql),
    "q_x_bpe_ids" -> (bpeIdsQ, bpeIdsSql),
    "q_x_pipeline3" -> (pipeline3Q, pipeline3Sql),
    "q_x_profile" -> (profileQ, profileSql),
    "q_x_corpus_diff" -> (corpusDiffQ, corpusDiffSql),
    "q_x_curriculum" -> (curriculumQ, curriculumSql),
    "q_x_normalize" -> (normalizeQ, normalizeSql),
    "q_x_epoch_mix" -> (epochMixQ, epochMixSql),
    "q_x_pipeline2" -> (pipeline2Q, pipeline2Sql))
}
