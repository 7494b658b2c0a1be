package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight again"),
    (2L, "the quick brown fox jumps over the lazy dog tonight"), // near-dup of 1
    (3L, "completely different words about spark query engines here"),
    (4L, "the quick brown fox jumps over the lazy dog tonight again"), // exact dup of 1
    (5L, "tiny doc")) // < 3 tokens after shingling guard
    .toDF("doc_id", "text")

  test("exactDedup groups identical content, keeps smallest id") {
    val r = Dedup.exactDedup(corpus)
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(r == Set((1L, 2L), (2L, 1L), (3L, 1L), (5L, 1L)))
  }

  test("minhash LSH finds near and exact dup pairs, not unrelated docs") {
    val pairs = Dedup.minhashNearDups(corpus, threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // exact dup: jaccard 1.0
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // near-dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("jaccard: exact on known sets, 0 on empty") {
    val r = Seq(
      (Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)),
      (Seq.empty[Long], Seq.empty[Long]))
      .toDF("a", "b")
      .select(Dedup.jaccard(col("a"), col("b"))).as[Double].collect()
    assert(r(0) == 0.5 && r(1) == 0.0)
  }

  private def simhashes: Map[Long, Long] =
    Dedup.simhashDf(
      corpus.select(col("doc_id"), Hashing.tokens(col("text")).as("tk")),
      "doc_id", "tk").as[(Long, Long)].collect().toMap

  test("simhash: identical docs equal; near-dups within small hamming") {
    val r = simhashes
    assert(r(1L) == r(4L))
    val hamming = java.lang.Long.bitCount(r(1L) ^ r(2L))
    assert(hamming <= 20, s"near-dup hamming too large: $hamming")
    val hammingFar = java.lang.Long.bitCount(r(1L) ^ r(3L))
    assert(hammingFar > hamming)
  }

  test("simhashChunks: equal fingerprints share all 4 chunks") {
    val r = simhashes
    val chunks = Seq(r(1L), r(4L)).toDF("sh")
      .select(Dedup.simhashChunks(col("sh")).head)
      .as[Long].collect()
    assert(chunks(0) == chunks(1))
  }

  test("jaccard (sorted merge-walk) equals jaccardUnsorted") {
    val pairs = Seq(
      (Seq(1L, 2L, 3L, 9L), Seq(2L, 3L, 4L)),
      (Seq(1L, 5L), Seq(7L, 9L)),
      (Seq(1L, 2L), Seq(1L, 2L)))
      .toDF("a", "b")
      .select(Dedup.jaccard(col("a"), col("b")).as("s"),
        Dedup.jaccardUnsorted(col("a"), col("b")).as("u"))
      .as[(Double, Double)].collect()
    pairs.foreach { case (s, u) => assert(s == u) }
  }

  test("dupClusters labels each component with its min doc id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (7L, 9L))
      .toDF("a_id", "b_id")
    val r = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      7L -> 7L, 8L -> 7L, 9L -> 7L))
  }

  test("incremental: probe a new batch against stored signatures") {
    val dir = java.nio.file.Files.createTempDirectory("sigs").toFile
      .getAbsolutePath
    val toks = corpus.select(col("doc_id"),
      Hashing.tokens(col("text")).as("tk"))
    Dedup.writeSignatures(toks, "doc_id", "tk", s"$dir/sigs")
    // batch: one near-dup of stored doc 1, one fresh doc
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight"),
      (101L, "entirely novel content no overlap with anything stored"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), Hashing.tokens(col("text")).as("tk"))
    val pairs = Dedup
      .probeSignatures(batch, "doc_id", "tk", s"$dir/sigs", 0.5, toks)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((100L, 1L)) && pairs.contains((100L, 4L)))
    assert(!pairs.exists(p => p._1 == 101L))
    // the store is id + minhashes only — never the shingle sets, whose
    // bytes scale with the text
    assert(!spark.read.parquet(s"$dir/sigs").columns.contains("sh"))
  }

  test("signature store is a vanishing fraction of corpus bytes and " +
      "compaction keeps its file count bounded") {
    val dir = java.nio.file.Files.createTempDirectory("sigsz").toString
    val docs = (1 to 200).map { i =>
      (i.toLong, (1 to 300).map(j => s"tok${i}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    val toks = docs.select(col("doc_id"),
      Hashing.tokens(col("text")).as("tk"))
    val corpusBytes = docs.select(sum(length(col("text"))))
      .head.getLong(0)
    // simulate an append-per-batch ingest cadence
    (0 until 10).foreach { b =>
      Dedup.appendSignatures(toks.filter(col("doc_id") % 10 === b),
        "doc_id", "tk", s"$dir/sigs")
    }
    val storeBytes = Layout.dataFileSizes(spark, s"$dir/sigs").map(_._2).sum
    assert(storeBytes < corpusBytes / 5,
      s"store $storeBytes B vs corpus $corpusBytes B — not bounded")
    assert(Layout.dataFiles(spark, s"$dir/sigs").size >= 10)
    Layout.compact(spark, s"$dir/sigs", targetBytes = 64L * 1024 * 1024)
    assert(Layout.dataFiles(spark, s"$dir/sigs").size <= 2)
    val ids = spark.read.parquet(s"$dir/sigs")
      .select("doc_id").as[Long].collect().toSet
    assert(ids == (1L to 200L).toSet)
  }

  test("dupClustersStar equals dupClusters on chains, random graphs " +
      "and the known fixture") {
    def labelsOf(df: org.apache.spark.sql.DataFrame) = {
      val rows = df.as[(Long, Long)].collect()
      // exactly one row per doc — toMap must not mask duplicates
      assert(rows.length == rows.map(_._1).distinct.length,
        "cluster assignment emitted duplicate doc_id rows")
      rows.toMap
    }
    // long chain: diameter 100 — the case star rounds exist for
    val chain = (0L until 100L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val starChain = labelsOf(Dedup.dupClustersStar(chain))
    assert(starChain == (0L to 100L).map(_ -> 0L).toMap)
    // a self-pair-only doc is a singleton cluster, not absent
    assert(labelsOf(Dedup.dupClustersStar(
      Seq((5L, 5L), (1L, 2L)).toDF("a_id", "b_id"))) ==
      Map(5L -> 5L, 1L -> 1L, 2L -> 1L))
    // the hand-checked fixture
    val fix = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (7L, 9L))
      .toDF("a_id", "b_id")
    assert(labelsOf(Dedup.dupClustersStar(fix)) ==
      labelsOf(Dedup.dupClusters(fix)))
    // random graphs: both implementations must agree exactly
    val rnd = new scala.util.Random(11)
    (1 to 3).foreach { _ =>
      val pairs = (1 to 150)
        .map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter(p => p._1 != p._2)
        .toDF("a_id", "b_id")
      assert(labelsOf(Dedup.dupClustersStar(pairs)) ==
        labelsOf(Dedup.dupClusters(pairs, maxIter = 100)))
    }
  }

  test("deleteSignatures tombstones dropped docs; later probes no " +
      "longer match them") {
    val dir = java.nio.file.Files.createTempDirectory("tomb").toString
    val toks = corpus.select(col("doc_id"),
      Hashing.tokens(col("text")).as("tk"))
    Dedup.writeSignatures(toks, "doc_id", "tk", s"$dir/sigs")
    Dedup.deleteSignatures(Seq(1L, 4L).toDF("doc_id"), "doc_id",
      s"$dir/sigs")
    val left = spark.read.parquet(s"$dir/sigs")
      .select("doc_id").as[Long].collect().toSet
    assert(left == Set(2L, 3L)) // 5 never stored (no shingles)
    // an exact copy of doc 2 now matches ONLY doc 2 — 1/4 are gone
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), Hashing.tokens(col("text")).as("tk"))
    val hit = Dedup
      .probeSignatures(batch, "doc_id", "tk", s"$dir/sigs", 0.5, toks)
      .select("b_id").as[Long].collect().toSet
    assert(hit == Set(2L))
  }

  test("incrementalDedup compacts the store on cadence and keeps " +
      "kept-before-signatures ordering") {
    val dir = java.nio.file.Files.createTempDirectory("inc").toString
    var sinkCalls = 0
    (1 to 6).foreach { b =>
      val batch = Seq((b * 10L, (1 to 25).map(j => s"w${b}_$j").mkString(" ")))
        .toDF("doc_id", "text")
        .select(col("doc_id"), Hashing.tokens(col("text")).as("tk"))
      val kept = Dedup.incrementalDedup(batch, "doc_id", "tk",
        s"$dir/sigs", 0.5, corpus = batch.limit(0),
        compactAfterFiles = 2,
        keptSink = k => { sinkCalls += 1; assert(k.count() == 1) })
      assert(kept.count() == 1) // all docs distinct: everything kept
    }
    assert(sinkCalls == 6)
    // the append-per-batch cadence was compacted back under the bound
    assert(Layout.dataFiles(spark, s"$dir/sigs").size <= 3,
      "store file count must stay bounded by the compaction cadence")
    assert(spark.read.parquet(s"$dir/sigs").count() == 6)
  }

  test("MinHash family geometry moves candidate recall on the S-curve: " +
      "(32, 8) finds more moderate-Jaccard planted pairs than (16, 4)") {
    // 60 planted near-dup pairs at shingle-Jaccard ~0.43 (12 tokens,
    // last 4 replaced: 6 shared of 14 distinct 3-gram shingles) - well
    // BELOW the r=4 threshold j* ~ 0.71, where band count is the only
    // recall lever: P(candidate) = 1-(1-j^4)^b ~ 13% at b=4, ~24% at
    // b=8. The fixture is deterministic, so the found sets are frozen;
    // the assertion pins the S-curve direction, and the exact verify
    // keeps precision 1.0 at either geometry.
    val docs = (0 until 60).flatMap { i =>
      val base = (0 until 12).map(j => s"w${i}_$j")
      val near = base.take(8) ++ (8 until 12).map(j => s"x${i}_$j")
      Seq((i.toLong * 2, base.mkString(" ")),
        (i.toLong * 2 + 1, near.mkString(" ")))
    }.toDF("doc_id", "text")
    def found(family: Dedup.MinHashFamily): Set[(Long, Long)] =
      Dedup.minhashNearDups(docs, threshold = 0.3, family = family)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val planted = (0 until 60)
      .map(i => (i.toLong * 2, i.toLong * 2 + 1)).toSet
    val small = found(Dedup.MinHashFamily(16, 4))
    val big = found(Dedup.MinHashFamily(32, 8))
    assert(small.subsetOf(planted) && big.subsetOf(planted),
      "verify stage must keep only planted pairs (precision)")
    assert(big.size > small.size,
      s"expected more bands -> more recall, got ${big.size} vs ${small.size}")
    // geometry validation is loud
    intercept[IllegalArgumentException](Dedup.MinHashFamily(16, 5))
  }

  test("production families (64,16)/(128,32) recover planted " +
      "0.8-Jaccard near-dups at the production threshold with " +
      "exact-verify precision 1.0") {
    // 150 planted pairs at shingle-Jaccard ~0.806: 30 tokens, last 2
    // replaced -> 3-gram shingles share 25 of 31. Both production
    // geometries have r=4 (j* = (1/b)^(1/4): 0.50 at b=16, 0.42 at
    // b=32), so at j=0.8 the S-curve predicts candidate recall
    // 1-(1-j^4)^b ~ 0.9998 (b=16) and ~1-5e-8 (b=32); the exact
    // Jaccard verify at 0.7 then keeps only true pairs. Numbers are
    // recorded in NOTES_r08.md so a user picks a family from data.
    val docs = (0 until 150).flatMap { i =>
      val base = (0 until 30).map(j => s"w${i}_$j")
      val near = base.take(28) ++ Seq(s"x${i}_28", s"x${i}_29")
      Seq((i.toLong * 2, base.mkString(" ")),
        (i.toLong * 2 + 1, near.mkString(" ")))
    }.toDF("doc_id", "text")
    val planted = (0 until 150)
      .map(i => (i.toLong * 2, i.toLong * 2 + 1)).toSet
    for (fam <- Seq(Dedup.MinHashFamily(64, 16),
        Dedup.MinHashFamily(128, 32))) {
      val found = Dedup.minhashNearDups(docs, threshold = 0.7, family = fam)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      val hit = found.intersect(planted).size
      val recall = hit.toDouble / planted.size
      val precision =
        if (found.isEmpty) 0.0 else hit.toDouble / found.size
      info(f"family (${fam.numHashes},${fam.numBands}): " +
        f"recall=$recall%.4f precision=$precision%.4f " +
        f"(${found.size} found / ${planted.size} planted)")
      assert(precision == 1.0,
        s"exact verify must keep only planted pairs, found $found")
      assert(recall >= 0.95,
        f"family (${fam.numHashes},${fam.numBands}) recall $recall%.4f " +
          "below the production expectation")
    }
  }

  test("dupClusters/dupClustersStar with a durable checkpointDir match " +
      "the local path") {
    val dir = java.nio.file.Files.createTempDirectory("ccck").toString
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (7L, 9L))
      .toDF("a_id", "b_id")
    val local = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    val localS = Dedup.dupClustersStar(pairs).as[(Long, Long)].collect().toMap
    SparkSpec.withCheckpointDir(dir) {
      assert(Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap ==
        local)
      assert(Dedup.dupClustersStar(pairs).as[(Long, Long)].collect().toMap ==
        localS)
    }
  }

  test("shingles: fewer than n tokens -> empty, order-sensitive") {
    val r = Seq("a b", "a b c d").toDF("t")
      .select(Dedup.shingles(Hashing.tokens(col("t"))))
      .as[Seq[String]].collect()
    assert(r(0).isEmpty)
    assert(r(1) == Seq("a_b_c", "b_c_d"))
  }

  test("per-row minhashes formula equals the aggregate-form signature") {
    // the cross-form contract: the oracle SQL mirrors the per-row
    // formula (minhashes), the engine computes the explode+min
    // aggregate (minhashSig) — they must agree signature-for-signature
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs today ok"),
      (3L, "the quick brown fox jumps over the lazy cat"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), Hashing.tokens(col("text")).as("tk"))
    val perRow = docs
      .select(col("doc_id"),
        Dedup.minhashes(Dedup.shingleHashes(col("tk"))).as("mh"))
      .as[(Long, Seq[Long])].collect().toMap
    val agg = Dedup.minhashSig(docs, "doc_id", "tk")
      .select(col("doc_id"),
        array((0 until 16).map(i => col(s"mh$i")): _*).as("mh"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(perRow.keySet == agg.keySet)
    perRow.foreach { case (id, mh) => assert(mh == agg(id), s"doc $id") }
  }

  test("spanDedup: first occurrence kept, later cross-doc / within-doc " +
      "occurrences removed, overlaps merged, short docs untouched") {
    val docs = Seq(
      (1L, "w1 w2 a b c d w3 w4"), // canonical home of "a b c d"
      (2L, "x1 a b c d x2"), //        later occurrence -> span removed
      (3L, "p q r s p q r s"), //      within-doc repeat of "p q r s"
      (4L, "u v w"), //                shorter than k -> no windows
      (5L, "m n o p q"), //            canonical copy of the exact dup
      (6L, "m n o p q"), //            exact dup: overlapping windows
      (7L, "")) //                     empty doc
      .toDF("doc_id", "text")
    val r = Dedup.spanDedup(docs, k = 4, minOccurs = 2)
      .select("doc_id", "n_tokens", "n_removed", "new_text")
      .as[(Long, Long, Long, String)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4))).toMap
    assert(r(1L) == ((8L, 0L, "w1 w2 a b c d w3 w4")))
    assert(r(2L) == ((6L, 4L, "x1 x2")))
    assert(r(3L) == ((8L, 4L, "p q r s")))
    assert(r(4L) == ((3L, 0L, "u v w")))
    assert(r(5L) == ((5L, 0L, "m n o p q")))
    // both windows of the dup removed; [0,4) and [1,5) merge to [0,5)
    assert(r(6L) == ((5L, 5L, "")))
    assert(r(7L) == ((0L, 0L, "")))
  }

  test("spanDedup plan: no window functions (duplication stats are a " +
      "skew-safe hash aggregate)") {
    val docs = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val plan = Dedup.spanDedup(docs, k = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "spanDedup must not plan a Window operator:\n" + plan.take(500))
  }

  // ===== candidate-stage eval =========================================

  test("candidateEval: a planted near-dup is both truth and candidate; " +
      "disjoint docs contribute nothing; ratios are exact") {
    val toks = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i"), // near-dup of 1 (high Jaccard)
      (3L, "q r s t u v w x y z")) // disjoint
      .toDF("doc_id", "text")
      .select(col("doc_id"), Hashing.tokens(col("text")).as("tk"))
    val r = Dedup.candidateEval(toks, "doc_id", "tk", threshold = 0.5)
      .head()
    assert(r.getAs[Long]("n_sample") == 3L)
    assert(r.getAs[Long]("n_truth") == 1L) // only (1,2)
    assert(r.getAs[Long]("n_tp") == 1L) // banding catches it
    assert(r.getAs[Long]("n_cand") >= 1L)
    assert(r.getAs[Double]("recall") == 1.0)
    assert(r.getAs[Double]("precision") ==
      graft.functions.GraftMath.sig9(
        1.0 / r.getAs[Long]("n_cand").toDouble))
  }

  test("candidateEval: no near-dups -> zero truth, NULL recall") {
    val toks = Seq((1L, "a b c"), (2L, "x y z"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), Hashing.tokens(col("text")).as("tk"))
    val r = Dedup.candidateEval(toks, "doc_id", "tk", threshold = 0.5)
      .head()
    assert(r.getAs[Long]("n_truth") == 0L)
    assert(r.isNullAt(r.fieldIndex("recall")))
  }
}
