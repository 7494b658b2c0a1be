package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for an LLM training-data pipeline: per-document
  * quality/statistics features, heuristic language ID, and document
  * fingerprints. Everything is a narrow per-row projection over built-in
  * expressions — embarrassingly parallel, no shuffle, whole-stage
  * codegen'd; at 100 TB this runs at parquet-scan speed with the text
  * column pruned in.
  */
object TextStats {

  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "in", "to")

  /** Canonical text normalization — the first stage of every corpus
    * pipeline: lowercase, control characters to spaces, whitespace runs
    * collapsed, ends trimmed. Deliberately ASCII-conservative (no
    * Unicode NFC/NFKC — normalization forms are locale/library
    * artifacts that differ across engines; the portable subset here is
    * identical in any RE2/Java regex engine). Pure codegen'd per-row
    * projection, scan-speed. Output adds `norm_text`, `n_chars_norm`
    * next to the original. */
  def normalize(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val cleaned = trim(regexp_replace(
      regexp_replace(lower(col(textCol)), "[\\x00-\\x1f\\x7f]", " "),
      "\\s+", " "))
    docs.withColumn("norm_text", cleaned)
      .withColumn("n_chars_norm", length(col("norm_text")).cast("long"))
  }

  /** Per-document stats frame:
    * n_tokens, n_uniq_tokens, n_chars, avg_token_len, stopword_ratio,
    * alpha_ratio, lang_guess (stopword-frequency heuristic language ID —
    * a real n-gram LM is a model artifact, not an operator; the pipeline
    * shape is identical).
    */
  def stats(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame = {
    val toks = Hashing.tokens(col(textCol))
    val nTok = size(toks).cast("long")
    val sumLen = aggregate(transform(toks, t => length(t).cast("long")),
      lit(0L), (acc, v) => acc + v)
    val nStop = size(filter(toks, t => t.isin(stopwords: _*))).cast("long")
    val nAlpha = length(regexp_replace(col(textCol), "[^A-Za-z]", ""))
      .cast("long")
    val nChars = length(col(textCol)).cast("long")
    val stopRatio = when(nTok === 0, lit(null).cast("double"))
      .otherwise(nStop.cast("double") / nTok)
    docs.select(
      col(idCol),
      nTok.as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_uniq_tokens"),
      nChars.as("n_chars"),
      when(nTok === 0, lit(null).cast("double"))
        .otherwise(sumLen.cast("double") / nTok).as("avg_token_len"),
      stopRatio.as("stopword_ratio"),
      when(nChars === 0, lit(null).cast("double"))
        .otherwise(nAlpha.cast("double") / nChars).as("alpha_ratio"),
      when(stopRatio >= 0.03, lit("en")).otherwise(lit("other"))
        .as("lang_guess"))
  }

  /** Document fingerprints (rolling polynomial hash over the token
    * stream) — order-sensitive content identity for incremental dedup. */
  def fingerprints(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      Hashing.fingerprint(Hashing.tokens(col(textCol))).as("fp"))

  /** BPE-ish sub-word tokenization approximation: letter runs, digit
    * runs, and single non-alphanumeric marks — the pre-merge word-piece
    * boundary pass of a GPT-2-style tokenizer (the merge table itself is
    * a model artifact; counting these units tracks real token counts
    * closely enough for length budgeting). Pattern kept to constructs
    * with identical semantics in Java regex and RE2-style engines. */
  val bpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit(bpeishPattern), lit(0))

  /** Token-count frame: whitespace tokens vs BPE-ish units per doc. */
  def tokenCounts(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      size(Hashing.tokens(col(textCol))).cast("long").as("n_ws_tokens"),
      size(bpeishTokens(col(textCol))).cast("long").as("n_bpeish_tokens"))

  /** Fixed-size token chunking with overlap — the pre-training prep step
    * that turns documents into model-context-sized windows. Chunk i
    * covers tokens [i*step, i*step + chunkTokens) with
    * step = chunkTokens - overlap; starts are every step boundary below
    * the document length (a short trailing chunk is kept — standard
    * practice, the tail is real data). Generator-style explode: output
    * size is corpus tokens / step, embarrassingly parallel. */
  def chunk(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text", chunkTokens: Int = 50,
            overlap: Int = 10): DataFrame = {
    require(overlap < chunkTokens, "overlap must be < chunkTokens")
    val step = (chunkTokens - overlap).toLong
    val base = docs
      .select(col(idCol), Hashing.tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) > 0) // sequence(0,-1) would count DOWN
    val nChunks = ceil(size(col("tk")).cast("double") / step)
    base
      .select(col(idCol), col("tk"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        array_join(
          slice(col("tk"), col("chunk_id") * step + 1, lit(chunkTokens)),
          " ").as("chunk_text"),
        size(slice(col("tk"), col("chunk_id") * step + 1, lit(chunkTokens)))
          .cast("long").as("n_chunk_tokens"))
  }

  /** Gopher-style repetition signals (the "repetitious document" family
    * of training-data filters): fraction of the document taken by its
    * most frequent token, and fraction of duplicate bigrams. Computed by
    * explode + per-doc aggregation — two shuffles keyed by doc id (the
    * measured-faster shape vs per-row array folds), embarrassingly
    * parallel across documents at any corpus size. */
  def repetition(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val base = docs.select(col(idCol), Hashing.tokens(col(textCol)).as("tk"))
    val uni = base
      .select(col(idCol), explode(col("tk")).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg((max(col("c")).cast("double") / sum(col("c")).cast("double"))
        .as("top_unigram_frac"))
    val bigrams = zip_with(
      slice(col("tk"), lit(1), size(col("tk")) - 1),
      slice(col("tk"), lit(2), size(col("tk")) - 1),
      (x, y) => concat_ws(" ", x, y))
    // two-level aggregate, not countDistinct+count in one agg: mixing a
    // distinct and a plain aggregate plans an Expand (2x rows through
    // the shuffle); per-(doc, bigram) counts partial-aggregate map-side
    // and the second level reads distinct-count as count(*) for free
    val big = base
      .select(col(idCol), explode(bigrams).as("bg"))
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg((lit(1.0) - count(lit(1)).cast("double") /
        sum(col("c")).cast("double")).as("dup_bigram_frac"))
    base.select(col(idCol))
      .join(uni, Seq(idCol), "left")
      .join(big, Seq(idCol), "left")
  }

  /** PII redaction: mask emails and long digit runs (id/phone-shaped),
    * reporting per-doc match counts for drop-rate accounting. Patterns
    * restricted to constructs with identical semantics in Java regex and
    * RE2-style engines (no backrefs, no lookaround). */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val longNumPattern = "[0-9]{7,}"

  def redactPii(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.select(col(idCol),
      regexp_replace(
        regexp_replace(t, emailPattern, "<EMAIL>"),
        longNumPattern, "<NUM>").as("redacted"),
      size(regexp_extract_all(t, lit(emailPattern), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(t, lit(longNumPattern), lit(0)))
        .cast("long").as("n_longnums"))
  }

  /** Quality gate: per-doc keep/drop with the FIRST failing rule as the
    * reason (the standard LLM training-data filter; rule order is part of
    * the contract so drop accounting is stable). */
  def qualityFilter(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", minTokens: Long = 10L,
                    maxAvgTokenLen: Double = 12.0,
                    minStopwordRatio: Double = 0.01,
                    minAlphaRatio: Double = 0.5): DataFrame = {
    val st = stats(docs, idCol, textCol)
    val reason =
      when(col("n_tokens") < minTokens, lit("too_short"))
        .when(col("avg_token_len") > maxAvgTokenLen, lit("gibberish"))
        .when(col("stopword_ratio") < minStopwordRatio, lit("low_stopword"))
        .when(col("alpha_ratio") < minAlphaRatio, lit("low_alpha"))
        .otherwise(lit("ok"))
    st.select(col(idCol), reason.as("reason"),
      (reason === "ok").as("keep"))
  }

  /** N-gram novelty: per document, the fraction of its distinct n-gram
    * hashes whose GLOBAL first occurrence (min doc id) is this document
    * — the duplication-aware curriculum/memorization-risk signal: a doc
    * of mostly already-seen n-grams adds little new text even if no
    * single near-duplicate exists.
    *
    * Skew-safe shape: first occurrence is `groupBy(h).agg(min(id))` —
    * partial aggregation is skew-immune, a pathologically hot n-gram
    * (boilerplate) collapses map-side — then an equi-join back, which
    * AQE skew-splits. The window-over-h alternative pays one fewer
    * text pass but concentrates every occurrence of a hot n-gram on
    * ONE window partition, and AQE splits skewed JOINS, not windows —
    * that is the 100 TB killer this shape avoids. The price is the
    * exploded frame being derived twice (two map-side tokenize+md5
    * passes; materializing it would cost more than recomputing), and
    * both shuffles stay bounded. Deterministic: first occurrence is
    * min over ids, not arrival order. Docs too short for an n-gram
    * drop out (dedup-family contract).
    * Output: (idCol, n_ngrams, n_novel, novel_frac).
    */
  def novelty(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text", n: Int = 3): DataFrame = {
    def ex = docs.select(col(idCol),
      explode(Dedup.shingleHashes(Hashing.tokens(col(textCol)), n)).as("h"))
    val firstIds = ex.groupBy(col("h")).agg(min(col(idCol)).as("first_id"))
    ex.join(firstIds, Seq("h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("first_id") === col(idCol), lit(1L)).otherwise(lit(0L)))
          .as("n_novel"))
      .select(col(idCol), col("n_ngrams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_ngrams")).as("novel_frac"))
  }

  /** Compression-ratio quality signal: DEFLATE ratio of the UTF-8 text
    * (compressed bytes / raw bytes) — the cheap information-density
    * gate: templated/repeated boilerplate compresses far below natural
    * prose, while random noise / base64 blobs sit near (or above) 1.0.
    *
    * Per-partition codec reuse (one `Deflater` reset per document, not
    * allocated per row) via the same Row-encoder mapPartitions shape as
    * Multimodal.extractFeatures — embarrassingly parallel, no shuffle.
    * Fixed level + strategy keeps the signal deterministic for a given
    * zlib build; it feeds threshold gates, not hash-compared outputs,
    * so there is deliberately NO DuckDB twin (no SQL engine exposes
    * zlib) — covered by spec, like the other I/O-boundary operators.
    * Output: (idCol, n_bytes, n_deflate, deflate_ratio — NULL for empty
    * text).
    */
  def compressionRatio(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val in = docs.select(col(idCol), col(textCol))
    val outSchema = StructType(Seq(in.schema.head,
      StructField("n_bytes", LongType, false),
      StructField("n_deflate", LongType, false),
      StructField("deflate_ratio", DoubleType, true)))
    in.mapPartitions { it =>
      val deflater = new java.util.zip.Deflater(6)
      val buf = new Array[Byte](8192)
      it.map { r =>
        val raw = Option(r.getString(1)).getOrElse("")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        deflater.reset()
        deflater.setInput(raw)
        deflater.finish()
        var n = 0L
        while (!deflater.finished()) n += deflater.deflate(buf)
        org.apache.spark.sql.Row(r.get(0), raw.length.toLong, n,
          if (raw.length == 0) null else n.toDouble / raw.length)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Exact corpus heavy hitters — every token with frequency > N/k —
    * computed sketch-first so the distinct token space never shuffles:
    *
    *  pass 1: one scan reduced map-side to a Misra–Gries summary of
    *          `4*k` counters per partition (graft.functions.MisraGries;
    *          merged summaries provably retain every token with
    *          freq > N/(4k+1), a strict superset of the > N/k answer)
    *          plus the total token count, in ONE aggregate — the only
    *          data that moves is the per-partition summaries;
    *  pass 2: a second scan counts ONLY the <= 4k candidate tokens
    *          (broadcast hash semi-join on the exploded summary), so the
    *          exact-count shuffle carries at most 4k groups.
    *
    * The naive groupBy(token).count shuffles the full vocabulary —
    * web-scale corpora have billions of distinct tokens, nearly all of
    * frequency 1. Here the shuffled bytes are O(k + partitions*k)
    * regardless of corpus size, and the output is EXACT (the sketch only
    * prunes; it never decides), so the result is partition-order
    * invariant and hash-matchable against any engine.
    *
    * Output: (tok, cnt, n_total) for tokens with cnt * k > n_total.
    */
  def heavyHitters(docs: DataFrame, k: Int, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val toks = docs.select(
      explode(Hashing.tokens(col(textCol))).as("tok"))
    val summary = toks.agg(
      graft.functions.SketchAggs.misraGries(col("tok"), 4 * k).as("cands"),
      count(lit(1)).as("n_total"))
    val cands = summary.select(col("n_total"),
      explode(col("cands")).as("tok"))
    toks.join(broadcast(cands), Seq("tok"))
      .groupBy(col("tok"), col("n_total"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * k > col("n_total"))
      .select(col("tok"), col("cnt"), col("n_total"))
  }

  /** Per-group exact heavy hitters — [[heavyHitters]] with the
    * Misra–Gries candidate pass keyed by a group column: one
    * GROUPED TypedImperativeAggregate pass bounds candidates at 4k
    * PER GROUP (the native sketch agg composes under groupBy — its
    * partial states merge map-side per group key, so shuffle stays
    * O(groups · k) however large the corpus), then the verify join is
    * keyed on (group, token). Output is EXACT per group, same
    * contract as the global operator.
    *
    * @return (groupCol, tok, cnt, n_total) for per-group tokens with
    *         cnt · k > that group's n_total */
  def heavyHittersBy(docs: DataFrame, groupCol: String, k: Int,
                     textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(groupCol).as("grp"),
      explode(Hashing.tokens(col(textCol))).as("tok"))
    val summary = toks.groupBy(col("grp")).agg(
      graft.functions.SketchAggs.misraGries(col("tok"), 4 * k)
        .as("cands"),
      count(lit(1)).as("n_total"))
    val cands = summary.select(col("grp"), col("n_total"),
      explode(col("cands")).as("tok"))
    toks.join(cands, Seq("grp", "tok"))
      .groupBy(col("grp"), col("tok"), col("n_total"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * k > col("n_total"))
      .select(col("grp").as(groupCol), col("tok"), col("cnt"),
        col("n_total"))
  }

  /** Vocabulary-growth (Heaps-law) curve: cumulative distinct-token
    * count vs cumulative token count at `checkpoints` evenly spaced
    * points of the ingest order (doc_id ascending) — the standard
    * "is this corpus still contributing new vocabulary, or are we
    * re-crawling the same material?" saturation diagnostic before
    * adding a source to the mix.
    *
    * The trick that keeps it one-pass: a token's contribution to
    * EVERY prefix is fully determined by its FIRST occurrence, so
    * cumulative-distinct-at-p collapses to `count(first_doc <= p)` —
    * one min aggregate over the exploded stream, never a
    * distinct-per-prefix rescan. Document positions come from
    * [[Profile.percentRank]]'s binned prefix sums (no global-order
    * window); the J checkpoint thresholds are one tiny broadcast, and
    * both cumulative sums are range joins against it (fan-out J, a
    * constant).
    *
    * All counts are exact BIGINTs — no float contract at all.
    *
    * @return one row per checkpoint j = 1..checkpoints: (j, n_docs,
    *         cp_doc_id, cum_tokens, cum_vocab) */
  def vocabGrowth(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", checkpoints: Int = 10): DataFrame = {
    require(checkpoints >= 1, s"checkpoints must be >= 1, got $checkpoints")
    val perDoc = docs.select(col(idCol).cast("long").as("doc_id"),
        Hashing.tokens(col(textCol)).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("ntok"),
        col("tk"))
      // read three times (positions, counts, explode)
      .transform(Checkpoints.cut)
    // position of each doc in ingest order, windowlessly
    val pos = Profile.percentRank(
        perDoc.select(lit(1).as("__g"), col("doc_id")),
        Seq("__g"), "doc_id")
      .select(col("s").cast("long").as("doc_id"),
        (col("n_below") + 1).as("pos"))
    val n = perDoc.agg(count(lit(1)).as("n"))
    // checkpoint thresholds: pos_j = (j*N) div J, j = 1..J
    val cps = n.select(explode(sequence(lit(1L), lit(checkpoints.toLong)))
        .as("j"), col("n"))
      .withColumn("posj", expr(s"(j * n) div $checkpoints"))
      .join(pos, col("posj") === col("pos"))
      .select(col("j"), col("posj").as("n_docs"),
        col("doc_id").as("cp_doc_id"))
    val firstPos = perDoc
      .select(col("doc_id"), explode(col("tk")).as("tok"))
      .groupBy(col("tok")).agg(min(col("doc_id")).as("fd"))
    val tokCum = perDoc.join(broadcast(cps),
        col("doc_id") <= col("cp_doc_id"))
      .groupBy(col("j")).agg(sum(col("ntok")).as("cum_tokens"))
    val vocCum = firstPos.join(broadcast(cps),
        col("fd") <= col("cp_doc_id"))
      .groupBy(col("j")).agg(count(lit(1)).as("cum_vocab"))
    cps.join(tokCum, Seq("j"), "left").join(vocCum, Seq("j"), "left")
      .select(col("j"), col("n_docs"), col("cp_doc_id"),
        coalesce(col("cum_tokens"), lit(0L)).as("cum_tokens"),
        coalesce(col("cum_vocab"), lit(0L)).as("cum_vocab"))
  }

  /** Zipf's-law fit over the top-`topN` token frequencies: OLS of
    * ln(count) on ln(rank) — slope ≈ −1 is the natural-language
    * signature; a flat slope flags templated/duplicated corpora and a
    * cliff flags boilerplate domination. The companion to
    * [[vocabGrowth]]'s Heaps curve (rank-frequency shape vs
    * vocabulary saturation).
    *
    * Rank is the DETERMINISTIC (count desc, token asc) order — ties
    * never depend on partitioning. Scale shape: one token count
    * aggregate, a TakeOrdered top-N (per-partition heaps, no global
    * sort), then everything downstream lives in ONE bounded
    * `topN`-element array row (the vocabGrowth checkpoint posture) —
    * rank assignment is a posexplode over the sorted array, never a
    * global window.
    *
    * Determinism: counts exact; x = sig9(ln rank), y = sig9(ln cnt)
    * (the single-libm-step convention); the five OLS sums run over
    * sig9'd granular terms through dsumStable(9) (|sum| ≤ topN·ln²cnt
    * stays far under the 10⁶ bound); slope/intercept/r2 are sig9'd
    * IEEE chains.
    *
    * @return one row: (slope, intercept, r2, n_ranks) — NULLs when
    *         fewer than 2 distinct tokens survive (dx = 0) */
  def zipfFit(docs: DataFrame, topN: Int = 512, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import graft.queries.Q
    require(topN >= 2, s"topN must be >= 2, got $topN")
    val counts = docs
      .select(explode(Hashing.tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val top = counts.orderBy(col("cnt").desc, col("tok").asc).limit(topN)
    val ranked = top
      .agg(array_sort(collect_list(struct(
        (lit(Long.MaxValue) - col("cnt")).as("k"), col("tok"),
        col("cnt")))).as("a"))
      .select(posexplode(col("a")).as(Seq("i", "x")))
      .select((col("i") + 1).cast("long").as("rank"),
        col("x.cnt").as("cnt"))
    val pts = ranked.select(
      Q.sig9(log(col("rank").cast("double"))).as("x"),
      Q.sig9(log(col("cnt").cast("double"))).as("y"))
    val a = pts.agg(count(lit(1)).as("n"),
      Q.dsumStable(col("x"), 9).as("sx"),
      Q.dsumStable(col("y"), 9).as("sy"),
      Q.dsumStable(Q.sig9(col("x") * col("y")), 9).as("sxy"),
      Q.dsumStable(Q.sig9(col("x") * col("x")), 9).as("sxx"),
      Q.dsumStable(Q.sig9(col("y") * col("y")), 9).as("syy"))
    val nd = col("n").cast("double")
    val num = nd * col("sxy") - col("sx") * col("sy")
    val dx = nd * col("sxx") - col("sx") * col("sx")
    val dy = nd * col("syy") - col("sy") * col("sy")
    val slope = Q.sig9(num / dx)
    a.select(
      when(col("n") >= 2 && dx > 0, slope).as("slope"),
      when(col("n") >= 2 && dx > 0,
        Q.sig9((col("sy") - slope * col("sx")) / nd)).as("intercept"),
      when(col("n") >= 2 && dx > 0 && dy > 0,
        Q.sig9(num * num / (dx * dy))).as("r2"),
      coalesce(col("n"), lit(0L)).cast("long").as("n_ranks"))
  }

  /** Top-k TF-IDF keywords per document — the standard "what is this
    * document about" extractive summary, the lexical face of topic
    * tagging (and the query-term miner feeding [[Retrieval.bm25TopK]]
    * audits). tf = c/dl (term count over document length), idf =
    * ln(N/df) — unsmoothed, so a token present in every document
    * scores exactly 0 and cannot displace discriminative terms.
    *
    * Determinism: counts are exact BIGINTs; tf is ONE IEEE division
    * of exact longs (sig9'd), idf ONE libm ln over an exact ratio
    * (sig9'd — the bm25/zipf convention), the product one IEEE
    * multiply sig9'd once; rank ties break (score desc, token asc)
    * over the sig9'd scores, so the top-k set is engine-portable.
    *
    * Scale shape: one explode + one (doc, token) hash aggregate +
    * one token-keyed df aggregate joined back (both map-side
    * partial); N is a one-row broadcast. The only window partitions
    * BY DOCUMENT — bounded by per-doc vocabulary, never corpus-sized,
    * so a billion docs fan out flat.
    *
    * @return (idCol, kw_rank 1..k, token, tf_cnt, dl, df, score) */
  def tfidfKeywords(docs: DataFrame, k: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import graft.queries.Q
    require(k >= 1 && k <= 1000, s"k must be in [1, 1000], got $k")
    val toks = Hashing.tokens(col(textCol))
    // tokenize ONCE and at cluster width: the tf subtree is consumed
    // three times below (scored / dfc / n_docs) with three different
    // pruned schemas, so ReuseExchange cannot dedupe it — without the
    // cut the corpus tokenizes three times, and a single-split
    // documents scan runs each pass on one core (guide §2.6). spread
    // is a gated no-op once the scan arrives at cluster width; the
    // cut holds the small aggregated (doc, token) frame.
    val tf = Checkpoints.spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), size(toks).cast("long").as("dl"),
        explode(toks).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).cast("long").as("tf_cnt"),
        min(col("dl")).as("dl"))
      .transform(Checkpoints.cut)
    val dfc = tf.groupBy(col("token"))
      .agg(count(lit(1)).cast("long").as("df"))
    val nDocs = tf.select(col(idCol)).distinct()
      .agg(count(lit(1)).cast("long").as("n_docs"))
    val scored = tf.join(dfc, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .select(col(idCol), col("token"), col("tf_cnt"), col("dl"),
        col("df"),
        Q.sig9(Q.sig9(col("tf_cnt").cast("double") /
            col("dl").cast("double")) *
          Q.sig9(log(col("n_docs").cast("double") /
            col("df").cast("double")))).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)) // bounded: per-doc vocabulary
      .orderBy(col("score").desc, col("token").asc)
    scored.withColumn("kw_rank", row_number().over(w).cast("long"))
      .where(col("kw_rank") <= k)
      .select(col(idCol), col("kw_rank"), col("token"), col("tf_cnt"),
        col("dl"), col("df"), col("score"))
  }

  /** Per-source lexical diversity — type-token ratio, hapax rate and
    * Yule's K (the classic repeated-vocabulary concentration index,
    * 10⁴·(Σc² − N)/N²): the "is this source natural prose or template
    * spam" gate beside [[CorpusDiff]]'s entropy (K is length-robust
    * where raw TTR is not, which is why both ship).
    *
    * One explode + one (source, token) aggregate + one source rollup
    * (all map-side partial). Counts and the Σc²/N² products are exact
    * DECIMAL(38,0); the three indices are single sig9'd divisions —
    * no float aggregation anywhere.
    *
    * @return per source: (source, n_tokens, vocab, n_hapax, ttr,
    *         hapax_rate, yule_k) — NULLs for an empty source */
  def lexicalDiversity(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text"): DataFrame = {
    import graft.queries.Q
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val tok = docs
      .select(col(groupCol).as("grp"),
        explode(Hashing.tokens(col(textCol))).as("token"))
      .where(col("grp").isNotNull)
      .groupBy(col("grp"), col("token"))
      .agg(count(lit(1)).cast("long").as("c"))
    val g = tok.groupBy(col("grp"))
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("vocab"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).cast("long")
          .as("n_hapax"),
        sum(col("c").cast(dec) * col("c").cast(dec)).as("__c2"))
    g.select(col("grp").as(groupCol), col("n_tokens"), col("vocab"),
      col("n_hapax"),
      when(col("n_tokens") > 0,
        Q.sig9(col("vocab").cast("double") /
          col("n_tokens").cast("double"))).as("ttr"),
      when(col("vocab") > 0,
        Q.sig9(col("n_hapax").cast("double") /
          col("vocab").cast("double"))).as("hapax_rate"),
      when(col("n_tokens") > 0, Q.sig9(
        (lit(10000L).cast(dec) *
          (col("__c2") - col("n_tokens").cast(dec))).cast("double") /
          (col("n_tokens").cast(dec) * col("n_tokens").cast(dec))
            .cast("double"))).as("yule_k"))
  }

  /** Per-source readability rollup: Flesch–Kincaid grade and Flesch
    * reading ease from exact corpus-level word / sentence / syllable
    * counts — the "is this source textbook prose or keyword soup?"
    * profile before mixing.
    *
    * Heuristic contract (deterministic, regex-portable, documented
    * rather than linguistically perfect): words = the whitespace
    * tokens every other operator uses; sentences = runs of [.!?]
    * clamped to ≥ 1 per document; syllables = vowel-class runs
    * ([aeiouy]+, case-folded) with vowel-less words counting 1.
    * All three are exact per-document BIGINTs — one codegen'd
    * projection, then one hash aggregate per source; the two scores
    * are fixed IEEE chains over the exact totals, sig9'd once each.
    *
    * @return per source: (source, n_docs, n_words, n_sentences,
    *         n_syllables, fk_grade, reading_ease) — scores NULL when
    *         the source has no words */
  def readability(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text"): DataFrame = {
    import graft.queries.Q
    val toks = Hashing.tokens(col(textCol))
    val w = size(toks).cast("long")
    val sents = greatest(lit(1L),
      regexp_count(col(textCol), lit("[.!?]+")).cast("long"))
    val sylRuns = regexp_count(lower(col(textCol)), lit("[aeiouy]+"))
      .cast("long")
    val vowelless = (size(toks) -
      size(filter(toks, t => t.rlike("[aeiouyAEIOUY]")))).cast("long")
    val perDoc = docs.select(col(groupCol).cast("string").as("grp"),
        w.as("w"), sents.as("s"), (sylRuns + vowelless).as("y"))
      .where(col("grp").isNotNull)
    val g = perDoc.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
        sum(col("s")).as("n_sentences"), sum(col("y")).as("n_syllables"))
    val wps = col("n_words").cast("double") /
      col("n_sentences").cast("double")
    val spw = col("n_syllables").cast("double") /
      col("n_words").cast("double")
    g.select(col("grp").as(groupCol), col("n_docs"),
      col("n_words").cast("long").as("n_words"),
      col("n_sentences").cast("long").as("n_sentences"),
      col("n_syllables").cast("long").as("n_syllables"),
      when(col("n_words") > 0,
        Q.sig9(lit(0.39) * wps + lit(11.8) * spw - lit(15.59)))
        .as("fk_grade"),
      when(col("n_words") > 0,
        Q.sig9(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw))
        .as("reading_ease"))
  }

  /** Good–Turing unseen mass + Chao1 vocabulary richness per source —
    * "how much of this source's token distribution have we NOT seen
    * yet": the Good–Turing estimate of the probability that the next
    * token is novel is P₀ = f₁/N (f₁ = singleton types), its
    * complement the coverage; Chao1 (bias-corrected,
    * V + f₁(f₁−1)/(2(f₂+1))) lower-bounds the TRUE vocabulary size —
    * together the standard "is more crawling of this source worth it"
    * readout, the estimator face of [[vocabGrowth]]'s empirical
    * curve.
    *
    * Scale shape: exactly [[lexicalDiversity]]'s — one (source,
    * token) count collapse (map-side partial), one source-keyed
    * re-aggregate. No window, no join.
    *
    * Determinism: N, V, f₁, f₂ exact BIGINTs; f₁(f₁−1) and 2(f₂+1)
    * exact DECIMAL(38,0) products; P₀, coverage and the Chao1 excess
    * are single sig9 points, Chao1 one more sig9 over the exact V
    * plus the 9-digit excess.
    *
    * @return per source: (source, n_tokens, vocab, f1, f2, p_unseen,
    *         coverage, chao1) — estimates NULL on an empty source */
  def unseenMass(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text"): DataFrame = {
    import graft.queries.Q
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val tok = docs
      .select(col(groupCol).as("grp"),
        explode(Hashing.tokens(col(textCol))).as("token"))
      .where(col("grp").isNotNull)
      .groupBy(col("grp"), col("token"))
      .agg(count(lit(1)).cast("long").as("c"))
    val g = tok.groupBy(col("grp"))
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("vocab"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).cast("long")
          .as("f1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).cast("long")
          .as("f2"))
    val p0 = Q.sig9(col("f1").cast("double") /
      col("n_tokens").cast("double"))
    val excess = Q.sig9(
      (col("f1").cast(dec) * (col("f1") - 1).cast(dec)).cast("double") /
        (lit(2L).cast(dec) * (col("f2") + 1).cast(dec)).cast("double"))
    g.select(col("grp").as(groupCol), col("n_tokens"), col("vocab"),
      col("f1"), col("f2"),
      when(col("n_tokens") > 0, p0).as("p_unseen"),
      when(col("n_tokens") > 0, Q.sig9(lit(1.0) - p0)).as("coverage"),
      when(col("n_tokens") > 0,
        Q.sig9(col("vocab").cast("double") + excess)).as("chao1"))
  }
}
