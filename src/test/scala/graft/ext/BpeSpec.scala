package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {
  import spark.implicits._

  // the classic Sennrich et al. fixture: low x5, lower x2, newest x6,
  // widest x3
  private def corpus = {
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    Seq(Tuple1(words)).toDF("tk")
  }

  test("spaced pads and separates characters") {
    val r = Seq(Tuple1("abc")).toDF("w")
      .select(Bpe.spaced(col("w"))).as[String].head()
    assert(r == " a b c ")
  }

  test("reference fixture learns (e,s), (es,t), (l,o) in order") {
    val rules = Bpe.train(corpus, "tk", merges = 3)
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(rules == Seq(
      (1L, "e", "s", "es", 9L),   // e-s 9 ties s-t 9 -> lex smaller left
      (2L, "es", "t", "est", 9L),
      (3L, "l", "o", "lo", 7L)))  // l-o 7 ties o-w 7
  }

  test("vocabulary exhaustion stops the loop instead of wiping the dict") {
    // single-character words carry no pairs after one merge is learned
    val tiny = Seq(Tuple1(Seq("ab", "ab", "c", "d"))).toDF("tk")
    val rules = Bpe.train(tiny, "tk", merges = 5)
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(rules == Seq((1L, "a", "b", "ab", 2L))) // then exhausted
    // no pairs at all -> empty rules frame with the right schema
    val none = Seq(Tuple1(Seq("x", "y"))).toDF("tk")
    val r2 = Bpe.train(none, "tk", merges = 2)
    assert(r2.columns.toSeq ==
      Seq("step", "lhs", "rhs", "merged", "pair_count"))
    assert(r2.count() == 0)
  }

  test("consecutive merge runs resolve greedily (a a a a -> aa aa)") {
    val rep = Seq(Tuple1(Seq.fill(3)("aaaa"))).toDF("tk")
    val rules = Bpe.train(rep, "tk", merges = 2)
      .as[(Long, String, String, String, Long)].collect().toSeq
    // 3 adjacent a-a pairs per word x 3 words = 9; after the merge each
    // word is "aa aa" (greedy), giving ONE aa-aa pair per word
    assert(rules == Seq(
      (1L, "a", "a", "aa", 9L),
      (2L, "aa", "aa", "aaaa", 3L)))
  }

  test("odd self-merge runs pin the PORTABLE placement, not greedy " +
      "('aaaaa' -> 'aa a aa', never 'aa aa a')") {
    // the documented contract deviation: non-overlapping replace
    // strands the odd symbol mid-run, greedy BPE at the end; both
    // engines share the replace semantics, so round-2 counts follow
    // the portable placement
    val odd = Seq(Tuple1(Seq.fill(2)("aaaaa"))).toDF("tk")
    val rules = Bpe.train(odd, "tk", merges = 2)
      .as[(Long, String, String, String, Long)].collect().toSeq
    // round 1: 4 a-a pairs x 2 words = 8; dict word becomes "aa a aa",
    // whose pairs are (aa,a) and (a,aa) x 2 words each; argmax at equal
    // count 2 is lexicographic -> (a, aa). Greedy placement "aa aa a"
    // would have learned (aa, aa) counts instead.
    assert(rules == Seq(
      (1L, "a", "a", "aa", 8L),
      (2L, "a", "aa", "aaa", 2L)))
  }

  test("encode applies trained rules to the corpus (dict two-level " +
      "shape) and keeps token-less docs") {
    val docs = Seq(
      (1L, Seq("low", "lower", "newest")),
      (2L, Seq("widest", "low")),
      (3L, Seq.empty[String])).toDF("doc_id", "tk")
    val rules = Bpe.train(corpus, "tk", merges = 3)
    val enc = Bpe.encode(docs, "doc_id", "tk", rules)
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // rules: (e,s), (es,t), (l,o) — "low" -> "lo w", "lower" ->
    // "lo w e r", "newest" -> "n e w est", "widest" -> "w i d est"
    assert(enc(1L) == (10L, "lo w lo w e r n e w est"))
    assert(enc(2L) == (6L, "w i d est lo w"))
    assert(enc(3L) == (0L, ""))
  }

  test("encode pins the odd-run portable placement and validates rule " +
      "contiguity") {
    val docs = Seq((1L, Seq("aaaaa"))).toDF("doc_id", "tk")
    val rule = Seq((1L, "a", "a", "aa", 4L))
      .toDF("step", "lhs", "rhs", "merged", "pair_count")
    val enc = Bpe.encode(docs, "doc_id", "tk", rule)
      .as[(Long, Long, String)].head()
    assert(enc == ((1L, 3L, "aa a aa")))
    val gap = Seq((2L, "a", "a", "aa", 4L))
      .toDF("step", "lhs", "rhs", "merged", "pair_count")
    val e = intercept[IllegalArgumentException] {
      Bpe.encode(docs, "doc_id", "tk", gap)
    }
    assert(e.getMessage.contains("contiguous"))
  }

  test("vocab: alphabet ranked lexicographically, merges appended in " +
      "learned order; encodeIds maps every position") {
    val docs = Seq((1L, Seq("low", "lower")), (2L, Seq("newest")))
      .toDF("doc_id", "tk")
    val corpusToks = corpus
    val rules = Bpe.train(corpusToks, "tk", merges = 3) // (e,s),(es,t),(l,o)
    // alphabet of the ENCODED docs' corpus is derived from docs
    val v = Bpe.vocab(docs, "tk", rules)
      .as[(String, Long)].collect().toMap
    // distinct chars of {low, lower, newest}: d? no - e,l,n,o,r,s,t,w
    val alpha = Seq("e", "l", "n", "o", "r", "s", "t", "w")
    alpha.zipWithIndex.foreach { case (ch, i) => assert(v(ch) == i.toLong) }
    assert(v("es") == alpha.size + 0L)
    assert(v("est") == alpha.size + 1L)
    assert(v("lo") == alpha.size + 2L)
    val ids = Bpe.encodeIds(docs, "doc_id", "tk", rules)
      .as[(Long, Long, String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(t => (t._3, t._4)))
      .toMap
    // doc 1: "low lower" -> lo w lo w e r
    assert(ids(1L).toSeq == Seq("lo" -> v("lo"), "w" -> v("w"),
      "lo" -> v("lo"), "w" -> v("w"), "e" -> v("e"), "r" -> v("r")))
    // doc 2: newest -> n e w est
    assert(ids(2L).toSeq == Seq("n" -> v("n"), "e" -> v("e"),
      "w" -> v("w"), "est" -> v("est")))
  }

  test("single-pass local encode == SQL-fold twin on the Sennrich " +
      "fixture and the odd-run edge") {
    val docs = Seq(
      (1L, Seq("low", "lower", "newest")),
      (2L, Seq("widest", "low", "aaaaa")),
      (3L, Seq("aaaa", "abab")),
      (4L, Seq.empty[String])).toDF("doc_id", "tk")
    // rules trained on the fixture PLUS a self-merge rule family so the
    // odd-run stranding path (the documented contract deviation from
    // greedy BPE) is exercised through BOTH encoders
    val trained = Bpe.train(corpus, "tk", merges = 3)
    val selfish = Seq(
      (4L, "a", "a", "aa", 0L), (5L, "aa", "aa", "aaaa", 0L))
      .toDF("step", "lhs", "rhs", "merged", "pair_count")
    val rules = trained.unionByName(selfish)
    val local = Bpe.encode(docs, "doc_id", "tk", rules)
      .as[(Long, Long, String)].collect().toSet
    val fold = Bpe.encodeSqlFold(docs, "doc_id", "tk", rules)
      .as[(Long, Long, String)].collect().toSet
    assert(local == fold)
    // and the odd-run placement is the portable one, through the local path
    val m = local.map(r => r._1 -> r._3).toMap
    assert(m(2L).endsWith("aa a aa")) // "aaaaa" strands mid-run
    assert(m(3L).startsWith("aaaa"))  // "aaaa" fully merges via rule 5
  }

  test("local encode == SQL-fold twin at a trained many-rule artifact " +
      "on a rich synthetic vocabulary (the BPE_BENCH.json encode fixture)") {
    // deterministic rich corpus: per-(token, doc) base-36 suffixes, the
    // same enrichment BPE_BENCH.json's encode rows were measured under —
    // so the local==fold contract is pinned on the REGIME the bench
    // reports, not only the 5-rule Sennrich fixture
    val base = Seq("low", "lower", "newest", "widest", "news", "wide",
      "lowest", "est", "rowed", "stew")
    val docs = (1L to 40L).map { d =>
      (d, (0 until 12).map { i =>
        val t = base(((d * 13 + i * 7) % base.size).toInt)
        t + "_" + java.lang.Long.toString((d * 31 + i * 17) % 1296, 36)
      })
    }.toDF("doc_id", "tk")
    val rules = Bpe.trainBatched(docs, "tk", merges = 64, batch = 8)
    assert(rules.count() >= 48, "rich fixture must learn most of 64 rules")
    val local = Bpe.encode(docs, "doc_id", "tk", rules)
      .as[(Long, Long, String)].collect().toSet
    val fold = Bpe.encodeSqlFold(docs, "doc_id", "tk", rules)
      .as[(Long, Long, String)].collect().toSet
    assert(local == fold)
  }

  test("local encode plan shape is flat in R (one stage regardless of " +
      "rule count)") {
    val docs = Seq((1L, Seq("low", "newest"))).toDF("doc_id", "tk")
    def synthRules(n: Int) =
      (1 to n).map(i => (i.toLong, s"z$i", "q", s"z${i}q", 1L))
        .toDF("step", "lhs", "rhs", "merged", "pair_count")
    def planNodes(n: Int) = {
      val plan = Bpe.encode(docs, "doc_id", "tk", synthRules(n))
        .queryExecution.optimizedPlan
      (plan.collect { case p => p }.length, plan.toString)
    }
    val (n4, _) = planNodes(4)
    val (n64, p64) = planNodes(64)
    assert(n4 == n64,
      s"local-path plan must not grow with R: R=4 -> $n4 nodes, R=64 -> $n64")
    // the R-fold's signature shape (one broadcast crossJoin per rule)
    // must be absent entirely
    assert(!p64.contains("Cross"), s"unexpected cross join in:\n$p64")
  }

  test("vocab ids are a pure function of the tokenizer artifact " +
      "across batches; unseen symbols surface as NULL") {
    val rules = Bpe.train(corpus, "tk", merges = 3) // (e,s),(es,t),(l,o)
    val artifact = Bpe.vocab(Bpe.alphabet(corpus, "tk"), rules)
    // batch A: a subset of the training corpus's token shapes
    val a = Seq((1L, Seq("low", "newest"))).toDF("doc_id", "tk")
    // batch B: shares symbols with A but has a DIFFERENT character set
    // (adds 'x' / 'z', drops most of A's); pre-fix, deriving the
    // alphabet from each batch would shift every shared id
    val b = Seq((9L, Seq("low", "xz"))).toDF("doc_id", "tk")
    def ids(df: org.apache.spark.sql.DataFrame) =
      Bpe.encodeIds(df, "doc_id", "tk", rules, vocabTable = Some(artifact))
        .select(col("sym"), col("sym_id")).as[(String, Option[Long])]
        .collect().toMap
    val ia = ids(a)
    val ib = ids(b)
    // shared symbols agree across batches — the artifact decides
    for (sym <- Seq("lo", "w")) assert(ia(sym) == ib(sym), sym)
    // training corpus chars: d,e,i,l,n,o,r,s,t,w (10) -> merges at 10..12
    assert(ib("lo") == Some(12L))
    // batch-B symbols outside the artifact alphabet surface as NULL
    assert(ib("x").isEmpty && ib("z").isEmpty)
  }

  test("trainBatched(batch=1) degenerates exactly to sequential train") {
    for (corpusDf <- Seq(corpus,
        Seq(Tuple1(Seq.fill(2)("aaaaa"))).toDF("tk"))) {
      val seqR = Bpe.train(corpusDf, "tk", merges = 3)
        .as[(Long, String, String, String, Long)].collect().toSeq
      val batR = Bpe.trainBatched(corpusDf, "tk", merges = 3, batch = 1)
        .as[(Long, String, String, String, Long)].collect().toSeq
      assert(seqR == batR)
    }
  }

  test("trainBatched keeps only non-interacting pairs per round and " +
      "numbers steps contiguously") {
    // Round-1 pair counts on the Sennrich fixture, ordered (count desc,
    // lex): (e,s) 9, (s,t) 9, (w,e) 8, (l,o) 7, (o,w) 7, (e,w) 6,
    // (n,e) 6, (d,e) 3, (i,d) 3, (w,i) 3, (e,r) 2. The greedy disjoint
    // walk keeps (e,s), skips (s,t)/(w,e) [s, e taken], keeps (l,o),
    // skips (o,w)/(e,w)/(n,e)/(d,e) [o, e taken], keeps (i,d) — round 1
    // = 3 rules. Round 2 recounts on the merged dict and learns (es,t)
    // count 9 — the pair sequential BPE would have learned at step 2
    // arrives at step 4, the documented stale-count trade.
    val rules = Bpe.trainBatched(corpus, "tk", merges = 4, batch = 8)
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(rules == Seq(
      (1L, "e", "s", "es", 9L),
      (2L, "l", "o", "lo", 7L),
      (3L, "i", "d", "id", 3L),
      (4L, "es", "t", "est", 9L)))
  }

  test("trainBatched output drives encode like any rule table") {
    val docs = Seq((1L, Seq("low", "newest", "widest"))).toDF("doc_id", "tk")
    val rules = Bpe.trainBatched(corpus, "tk", merges = 4, batch = 8)
    val enc = Bpe.encode(docs, "doc_id", "tk", rules)
      .as[(Long, Long, String)].collect()
      .map { case (k, _, t) => k -> t }.toMap
    // rules (e,s),(l,o),(i,d),(es,t): low -> "lo w", newest ->
    // "n e w est", widest -> "w id est"
    assert(enc(1L) == "lo w n e w est w id est")
  }

  test("tokenizer artifact round-trips through parquet and encodes " +
      "identically") {
    val dir = java.nio.file.Files.createTempDirectory("bpetok").toString
    val rules = Bpe.train(corpus, "tk", merges = 3)
    val alpha = Bpe.alphabet(corpus, "tk")
    Bpe.saveTokenizer(rules, alpha, dir)
    val (rules2, alpha2) = Bpe.loadTokenizer(spark, dir)
    val docs = Seq((1L, Seq("low", "newest"))).toDF("doc_id", "tk")
    def ids(r: org.apache.spark.sql.DataFrame,
            a: org.apache.spark.sql.DataFrame) =
      Bpe.encodeIds(docs, "doc_id", "tk", r,
        vocabTable = Some(Bpe.vocab(a, r)))
        .as[(Long, Long, String, Option[Long])].collect().sortBy(t => (t._1, t._2)).toSeq
    assert(ids(rules, alpha) == ids(rules2, alpha2))
  }

  test("decodeIds round-trips encodeIds from the ids alone; unknown " +
      "ids surface as <unk>") {
    val docs = Seq((1L, Seq("low", "lowest")), (2L, Seq("newest")),
      (3L, Seq.empty[String])).toDF("doc_id", "tk")
    val rules = Bpe.train(corpus, "tk", merges = 3)
    val voc = Bpe.vocab(Bpe.alphabet(corpus, "tk"), rules)
    val ids = Bpe.encodeIds(docs, "doc_id", "tk", rules,
      vocabTable = Some(voc))
    val decoded = Bpe.decodeIds(ids, voc)
      .as[(Long, Long, String)].collect().toSet
    val expected = Bpe.encode(docs, "doc_id", "tk", rules)
      .filter(col("n_syms") > 0)
      .as[(Long, Long, String)].collect().toSet
    assert(decoded === expected) // doc 3 (token-less) absent from both
    // corrupt one id beyond the vocabulary: surfaced, not dropped
    val bad = ids.withColumn("sym_id",
      when(col("doc_id") === 2L && col("pos") === 0L, lit(99999L))
        .otherwise(col("sym_id")))
    val d2 = Bpe.decodeIds(bad, voc).filter(col("doc_id") === 2L)
      .as[(Long, Long, String)].head()
    assert(d2._3.startsWith("<unk>"))
    assert(d2._2 == expected.find(_._1 == 2L).get._2,
      "unk must keep its position, not shrink the stream")
  }

  test("train with a durable checkpointDir matches the local path") {
    val dir = java.nio.file.Files.createTempDirectory("bpeck").toString
    val a = Bpe.train(corpus, "tk", merges = 3)
      .as[(Long, String, String, String, Long)].collect().toSeq
    val b = SparkSpec.withCheckpointDir(dir) {
      Bpe.train(corpus, "tk", merges = 3)
        .as[(Long, String, String, String, Long)].collect().toSeq
    }
    assert(a == b)
  }
}
