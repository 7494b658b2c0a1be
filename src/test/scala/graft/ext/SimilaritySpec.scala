package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // deterministic pseudo-random 8-dim vectors (period 97 > id range, so
  // no two ids share a vector and cosine ties cannot shadow rank 1)
  private def vec(id: Long): Seq[Float] =
    (0 until 8).map(j => (((id * 131 + j * 37) % 97) - 48).toFloat / 48f)

  private val base = (0L until 40L).map(i => (i, vec(i)))
    .toDF("vec_id", "embedding")

  test("dot is a sequential fold matching local computation") {
    val r = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b").select(Similarity.dot(col("a"), col("b")))
      .as[Double].head()
    assert(r == (1.0 * 4 + 2.0 * 5) + 3.0 * 6)
  }

  test("native dot_product expression is bit-identical to the fold") {
    // float x float over the corpus vectors
    val both = base.as("x").crossJoin(base.as("y"))
      .select(
        Similarity.dot(col("x.embedding"), col("y.embedding")).as("native"),
        Similarity.dotFold(col("x.embedding"), col("y.embedding")).as("fold"))
    assert(both.filter(col("native") =!= col("fold")).count() == 0)
    // mixed double x float and NULL propagation
    val mixed = Seq((Seq(0.5, -1.5), Seq(2.0f, 4.0f))).toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b")).as("n"),
        Similarity.dotFold(col("a"), col("b")).as("f"))
      .as[(Double, Double)].head()
    assert(mixed._1 == mixed._2)
    val nul = Seq((Option.empty[Seq[Double]], Some(Seq(1.0))))
      .toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b"))).as[Option[Double]].head()
    assert(nul.isEmpty)
  }

  test("bruteTopK ranks a perturbed copy's original at rank 1") {
    val queries = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000).as("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") + lit(0.001)).as("embedding"))
    val top = Similarity.bruteTopK(queries, base, k = 3)
    val rank1 = top.filter(col("rank") === 1)
      .select("qid", "cid").as[(Long, Long)].collect().toMap
    (0L until 40L by 10).foreach { id =>
      assert(rank1(id + 1000) == id, s"query ${id + 1000}")
    }
  }

  test("lshTopK achieves high recall@1 on perturbed copies") {
    val queries = base
      .select((col("vec_id") + 1000).as("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") + lit(0.0005)).as("embedding"))
    val top1 = Similarity.lshTopK(queries, base, k = 1, bits = 8, dims = 8)
      .filter(col("rank") === 1)
    val hits = top1
      .filter(col("cid") === col("qid") - 1000).count()
    assert(hits >= 30, s"recall@1 = $hits/40")
  }

  test("native expressions resolve in SQL via GraftExtensions") {
    base.createOrReplaceTempView("emb_t")
    val r = spark.sql(
      """SELECT dot_product(embedding, embedding) AS n,
        |       sorted_intersect_count(array(1L, 2L, 5L),
        |                              array(2L, 5L, 9L)) AS c
        |FROM emb_t WHERE vec_id = 0""".stripMargin)
      .as[(Double, Long)].head()
    assert(r._1 > 0.0 && r._2 == 2L)
  }

  test("dot_product rejects non-numeric-array inputs at analysis") {
    val bad = Seq((Seq("a"), Seq(1.0f))).toDF("a", "b")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      bad.select(Similarity.dot(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.contains("dot_product"))
  }

  test("ivfIndex assigns every vector; ivfTopK finds perturbed originals") {
    val (centroids, index) = Similarity.ivfIndex(base, k = 4)
    assert(index.count() == 40)
    assert(centroids.count() == 4)
    assert(index.select("centroid_id").distinct().count() <= 4)
    val queries = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000).as("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") + lit(0.0005)).as("embedding"))
    val top1 = Similarity
      .ivfTopK(queries, base, centroids, index, k = 1, nprobe = 2)
      .filter(col("rank") === 1)
      .select("qid", "cid").as[(Long, Long)].collect().toMap
    val hits = (0L until 40L by 10)
      .count(id => top1.get(id + 1000).contains(id))
    assert(hits >= 3, s"ivf recall $hits/4")
  }

  test("trainFrac: sampled-Lloyd centroids still cover EVERY vector, " +
      "deterministically; frac=1 is exactly the full-train path") {
    val (cF, iF) = Similarity.ivfIndex(base, k = 4)
    val (c1, i1) = Similarity.ivfIndex(base, k = 4, trainFrac = 1.0)
    // frac=1 is the identical program, not merely an equivalent one
    assert(c1.collect().toSet === cF.collect().toSet)
    assert(i1.collect().toSet === iF.collect().toSet)
    val (cS, iS) = Similarity.ivfIndex(base, k = 4, trainFrac = 0.5)
    assert(iS.count() == 40, "sampled train must still index all vectors")
    val (cS2, iS2) = Similarity.ivfIndex(base, k = 4, trainFrac = 0.5)
    assert(cS.collect().toSet === cS2.collect().toSet,
      "sampled centroids must be a pure function of the corpus")
    assert(iS.collect().toSet === iS2.collect().toSet)
    val (book, codes) = Similarity.pqTrain(base, m = 2, k = 4,
      trainFrac = 0.5)
    assert(codes.select("vid").distinct().count() == 40,
      "sampled-train PQ must still encode all vectors")
    assert(book.select("sub").distinct().count() == 2)
    intercept[IllegalArgumentException] {
      Similarity.ivfIndex(base, k = 4, trainFrac = 0.0)
    }
  }

  test("saveIndex/loadIndex round-trips; probing the loaded artifact " +
      "gives the same top-1 as the in-session index") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    val (centroids, index) = Similarity.ivfIndex(base, k = 4)
    Similarity.saveIndex(centroids, index, s"$dir/idx")
    val (lc, li) = Similarity.loadIndex(spark, s"$dir/idx")
    assert(lc.as[(Long, Seq[Double])].collect().toMap ==
      centroids.as[(Long, Seq[Double])].collect().toMap)
    assert(li.as[(Long, Long)].collect().toMap ==
      index.as[(Long, Long)].collect().toMap)
    val queries = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000).as("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") + lit(0.0005)).as("embedding"))
    def top1(c: org.apache.spark.sql.DataFrame,
             i: org.apache.spark.sql.DataFrame) =
      Similarity.ivfTopK(queries, base, c, i, k = 1, nprobe = 2)
        .filter(col("rank") === 1)
        .select("qid", "cid", "score")
        .as[(Long, Long, Double)].collect().toSet
    assert(top1(lc, li) == top1(centroids, index))
  }

  test("extendIndex assigns new vectors to the frozen centroids " +
      "without a rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("ivfext").toString
    val (centroids, index) = Similarity.ivfIndex(base, k = 4)
    Similarity.saveIndex(centroids, index, s"$dir/idx")
    // clones of vectors 0..9 under new ids — must land on the same
    // centroids as their originals (same scores, same tie-break)
    val extra = (0L until 10L).map(i => (i + 100, vec(i)))
      .toDF("vec_id", "embedding")
    Similarity.extendIndex(extra, s"$dir/idx")
    val (_, li) = Similarity.loadIndex(spark, s"$dir/idx")
    val m = li.as[(Long, Long)].collect().toMap
    assert(m.size == 50)
    (0L until 10L).foreach(i => assert(m(i + 100) == m(i)))
  }

  test("hash-spread seeding keeps clusters balanced on an id-sorted " +
      "corpus (the id-prefix trap fixture)") {
    // ids arrive SORTED BY CONTENT: block b = ids [20b, 20b+20) all sit
    // near axis b. Seeding by smallest ids would put all 8 seeds in
    // block 0 and leave the other 7 blocks split across whatever
    // centroid drifted their way; hash-spread seeds + one Lloyd step
    // must keep per-centroid membership near the 20-vector mean.
    def blockVec(id: Long): Seq[Float] = {
      val b = (id / 20).toInt
      (0 until 8).map(j => (if (j == b) 1f else 0f) +
        (((id * 131 + j * 37) % 97) - 48).toFloat / 4800f)
    }
    val sorted = (0L until 160L).map(i => (i, blockVec(i)))
      .toDF("vec_id", "embedding")
    val (_, index) = Similarity.ivfIndex(sorted, k = 8)
    val sizes = index.groupBy("centroid_id").count()
      .as[(Long, Long)].collect().map(_._2)
    val maxOverMean = sizes.max.toDouble / (160.0 / 8)
    assert(maxOverMean <= 2.0,
      s"unbalanced clusters: sizes=${sizes.sorted.mkString(",")}")
  }

  test("extra Lloyd iterations refine deterministically; durable " +
      "checkpointDir path matches the local one") {
    val dir = java.nio.file.Files.createTempDirectory("ivfck").toString
    val (c1, i1) = Similarity.ivfIndex(base, k = 4, iters = 2)
    assert(i1.count() == 40)
    SparkSpec.withCheckpointDir(dir) {
      val (c2, i2) = Similarity.ivfIndex(base, k = 4, iters = 2)
      assert(c1.as[(Long, Seq[Double])].collect().toMap ==
        c2.as[(Long, Seq[Double])].collect().toMap)
      assert(i1.as[(Long, Long)].collect().toMap ==
        i2.as[(Long, Long)].collect().toMap)
    }
  }

  test("quantizeInt8: codes in [0,255], endpoints exact, constant dims " +
      "safe, dequant error bounded by scale/2, ADC recall intact") {
    val r = Similarity.quantizeInt8(base)
      .as[(Long, Seq[Int], Seq[Double])].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(r.size == 40)
    val orig = (0L until 40L).map(i => i -> vec(i)).toMap
    // per-dim min/max + scale recomputed locally
    val dims = 0 until 8
    val mn = dims.map(j => orig.values.map(_(j).toDouble).min)
    val mx = dims.map(j => orig.values.map(_(j).toDouble).max)
    val sc = dims.map(j => (mx(j) - mn(j)) / 255.0)
    r.foreach { case (id, (codes, dq)) =>
      codes.foreach(c => assert(c >= 0 && c <= 255))
      dims.foreach { j =>
        assert(math.abs(dq(j) - orig(id)(j)) <= sc(j) / 2 + 1e-12,
          s"id=$id dim=$j")
        // endpoints map exactly to codes 0 / 255
        if (orig(id)(j).toDouble == mn(j)) assert(codes(j) == 0)
        if (orig(id)(j).toDouble == mx(j)) assert(codes(j) == 255)
      }
    }
    // a constant dimension codes to 0 and dequantizes to the value
    val const = (0L until 5L).map(i => (i, Seq(1.5f, i.toFloat)))
      .toDF("vec_id", "embedding")
    val c = Similarity.quantizeInt8(const)
      .as[(Long, Seq[Int], Seq[Double])].collect()
    assert(c.forall(t => t._2.head == 0 && t._3.head == 1.5))
    // asymmetric scoring on dequantized vectors still finds originals
    val dq = Similarity.quantizeInt8(base)
      .select(col("vec_id"), col("dequant").as("embedding"))
    val queries = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000).as("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") + lit(0.0005)).as("embedding"))
    val top1 = Similarity.bruteTopK(queries, dq, k = 1)
      .filter(col("rank") === 1)
      .select("qid", "cid").as[(Long, Long)].collect().toMap
    val hits = (0L until 40L by 10).count(id => top1.get(id + 1000).contains(id))
    assert(hits == 4, s"ADC recall $hits/4")
  }

  test("pqTrain: one code per (vector, subspace), codes reproducible; " +
      "pqTopK ADC finds exact-duplicate queries' originals") {
    val (book, codes) = Similarity.pqTrain(base, m = 2, k = 4)
    // codebook: subspaces 0/1, <= 4 codewords each, 4-dim sub-vectors
    val b = book.as[(Int, Long, Seq[Double])].collect()
    assert(b.map(_._1).toSet == Set(0, 1))
    assert(b.forall(_._3.size == 4))
    assert(b.count(_._1 == 0) <= 4 && b.count(_._1 == 1) <= 4)
    val c = codes.as[(Long, Int, Long)].collect()
    assert(c.length == 40 * 2)
    assert(c.groupBy(t => (t._1, t._2)).forall(_._2.length == 1))
    // bit-reproducible across runs
    val (_, codes2) = Similarity.pqTrain(base, m = 2, k = 4)
    assert(codes2.as[(Long, Int, Long)].collect().toSet == c.toSet)
    // ADC: an EXACT copy of a corpus vector shares its codes, so its
    // reconstructed score ties the original's and rank-1 must be a
    // vector with the same code pair (usually the original itself)
    val q = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000).as("vec_id"), col("embedding"))
    val top1 = Similarity.pqTopK(q, book, codes, m = 2, topK = 1)
      .select("qid", "cid").as[(Long, Long)].collect().toMap
    val codeOf = c.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    (0L until 40L by 10).foreach { id =>
      val got = top1(id + 1000)
      assert(codeOf(got) == codeOf(id),
        s"query ${id + 1000}: rank-1 $got has different codes than $id")
    }
  }

  test("pqTrain covers EVERY dimension when m does not divide d " +
      "(the last subspace takes the remainder)") {
    // 11-dim vectors, m=3: per-slice double-truncated offsets would
    // slice [1..3],[4..6],[8..11] and silently drop element 7
    val odd = (0L until 30L).map(i => (i, (0 until 11)
      .map(j => (((i * 37 + j * 13) % 23) - 11).toFloat / 11f)))
      .toDF("vec_id", "embedding")
    val (book, codes) = Similarity.pqTrain(odd, m = 3, k = 4)
    val bySub = book.as[(Int, Long, Seq[Double])].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3.size).toSet).toMap
    assert(bySub(0) == Set(3) && bySub(1) == Set(3) && bySub(2) == Set(5),
      s"subspace widths wrong: $bySub")
    assert(codes.as[(Long, Int, Long)].collect().length == 30 * 3)
  }

  test("ivfPqTopK: code-only serving path finds exact-copy queries' " +
      "code-equivalents; candidates come only from probed lists") {
    val (cents, index) = Similarity.ivfIndex(base, k = 4)
    val (book, codes) = Similarity.pqTrain(base, m = 2, k = 8)
    val q = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000).as("vec_id"), col("embedding"))
    val top1 = Similarity
      .ivfPqTopK(q, cents, index, book, codes, m = 2, topK = 1, nprobe = 2)
      .select("qid", "cid").as[(Long, Long)].collect().toMap
    val codeOf = codes.as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val listOf = index.as[(Long, Long)].collect().toMap
    (0L until 40L by 10).foreach { id =>
      val got = top1(id + 1000)
      // the winner shares the exact query's PQ codes (usually IS the
      // original) and came from a probed inverted list
      assert(codeOf(got) == codeOf(id), s"query ${id + 1000}")
      assert(listOf.contains(got))
    }
  }

  test("packCodes round-trips bit-exactly and raises on malformed " +
      "code tables") {
    val (_, codes) = Similarity.pqTrain(base, m = 2, k = 4)
    val packed = Similarity.packCodes(codes, 2)
    // one row per vector, tinyint elements
    assert(packed.count() == 40)
    assert(packed.schema("pcodes").dataType.simpleString == "array<tinyint>")
    val back = Similarity.unpackCodes(packed).as[(Long, Int, Long)]
      .collect().toSet
    assert(back == codes.as[(Long, Int, Long)].collect().toSet)
    // a vector missing a subspace row raises
    val broken = codes.filter(!(col("vid") === 7L && col("sub") === 1))
    val e = intercept[Exception] {
      Similarity.packCodes(broken, 2).collect()
    }
    assert(e.getMessage.contains("packCodes"), e.getMessage)
    // an out-of-range code raises
    val big = Seq((1L, 0, 300L), (1L, 1, 2L)).toDF("vid", "sub", "code")
    val e2 = intercept[Exception] {
      Similarity.packCodes(big, 2).collect()
    }
    assert(e2.getMessage.contains("0..255"), e2.getMessage)
  }

  test("packInt8 round-trips qcodes bit-exactly at 1 byte per code") {
    val quant = Similarity.quantizeInt8(base)
    val packed = Similarity.packInt8(quant)
    assert(packed.schema("pcodes").dataType.simpleString == "array<tinyint>")
    val back = Similarity.unpackInt8(packed)
      .as[(Long, Seq[Int])].collect().toMap
    quant.select(col("vec_id"), col("qcodes")).as[(Long, Seq[Int])]
      .collect().foreach { case (id, qs) => assert(back(id) == qs, s"id $id") }
  }

  test("packed serving paths score identically to the row layout " +
      "(pqTopKPacked and ivfPqTopKPacked)") {
    val (cents, index) = Similarity.ivfIndex(base, k = 4)
    val (book, codes) = Similarity.pqTrain(base, m = 2, k = 8)
    val packed = Similarity.packCodes(codes, 2)
    val q = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000).as("vec_id"), col("embedding"))
    val rowPq = Similarity.pqTopK(q, book, codes, m = 2, topK = 3)
      .as[(Long, Long, Long, Double)].collect().toSet
    val pkdPq = Similarity.pqTopKPacked(q, book, packed, m = 2, topK = 3)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(rowPq == pkdPq)
    val rowIvf = Similarity
      .ivfPqTopK(q, cents, index, book, codes, m = 2, topK = 3, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    val pkdIvf = Similarity
      .ivfPqTopKPacked(q, cents, index, book, packed, m = 2, topK = 3,
        nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(rowIvf == pkdIvf)
  }

  // 4 well-separated centers + small deterministic noise — the regime
  // an IVF index explains most variance in, which is exactly the regime
  // residual PQ exists for (residual energy << vector energy). On
  // unclustered data the residual/plain ordering is seeding luck.
  private def cvec(i: Long): Seq[Float] = {
    val c = (i % 4).toInt
    (0 until 8).map { j =>
      val center = if (j / 2 == c) 3.0f else 0.0f
      center + (((i * 131 + j * 37) % 97) - 48).toFloat / 480f
    }
  }
  private val clustered = (0L until 40L).map(i => (i, cvec(i)))
    .toDF("vec_id", "embedding")

  test("residual IVF-PQ: ADC scores approximate the exact inner product " +
      "strictly better than non-residual codes; training deterministic") {
    val base = clustered
    val (cents, index) = Similarity.ivfIndex(base, k = 4, iters = 3)
    val q = base.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 1000).as("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") + lit(0.002)).as("embedding"))
    // exact IPs for every (query, corpus) pair — the approximation target
    val exact = q.as("q").crossJoin(base.as("c"))
      .select(col("q.vec_id").as("qid"), col("c.vec_id").as("cid"),
        Similarity.dot(col("q.embedding"), col("c.embedding")).as("ip"))
      .as[(Long, Long, Double)].collect()
      .map(x => (x._1, x._2) -> x._3).toMap
    def mse(scored: Array[(Long, Long, Double)]): Double = {
      val errs = scored.map { case (qid, cid, s) =>
        val e = s - exact((qid, cid)); e * e
      }
      errs.sum / errs.length
    }
    val (rbook, rcodes) =
      Similarity.ivfPqResidualTrain(base, cents, index, m = 2, k = 8)
    val resScored = Similarity
      .ivfPqResidualTopKPacked(q, cents, index, rbook,
        Similarity.packCodes(rcodes, 2), m = 2, topK = 40, nprobe = 2)
      .select(col("qid"), col("cid"), col("score"))
      .as[(Long, Long, Double)].collect()
    val (book, codes) = Similarity.pqTrain(base, m = 2, k = 8)
    val plainScored = Similarity
      .ivfPqTopKPacked(q, cents, index, book,
        Similarity.packCodes(codes, 2), m = 2, topK = 40, nprobe = 2)
      .select(col("qid"), col("cid"), col("score"))
      .as[(Long, Long, Double)].collect()
    // identical routing -> identical candidate sets; only scores differ
    assert(resScored.map(x => (x._1, x._2)).toSet ==
      plainScored.map(x => (x._1, x._2)).toSet)
    assert(mse(resScored) < mse(plainScored),
      s"residual MSE ${mse(resScored)} not < plain ${mse(plainScored)}")
    // training is a pure function of (corpus, IVF): bit-equal on re-run
    val (_, rcodes2) =
      Similarity.ivfPqResidualTrain(base, cents, index, m = 2, k = 8)
    assert(rcodes.as[(Long, Int, Long)].collect().toSet ==
      rcodes2.as[(Long, Int, Long)].collect().toSet)
    // and it genuinely quantizes residuals, not the raw vectors
    assert(rcodes.as[(Long, Int, Long)].collect().toSet !=
      codes.as[(Long, Int, Long)].collect().toSet)
  }

  test("pqEncode against the frozen codebook reproduces training codes; " +
      "extendPq serves appended vectors retrain-free") {
    val dir = java.nio.file.Files.createTempDirectory("pqstore").toString
    val (book, codes) = Similarity.pqTrain(base, m = 2, k = 8)
    // encoding the training corpus with the frozen book == the codes
    // pqTrain itself produced (same assignment kernel)
    val re = Similarity.pqEncode(base, book, m = 2)
      .as[(Long, Int, Long)].collect().toSet
    assert(re == codes.as[(Long, Int, Long)].collect().toSet)
    // append-only store: save base artifact, extend with a new batch
    Similarity.savePq(book, Similarity.packCodes(codes, 2), dir)
    val appended = base.filter(col("vec_id") < 10)
      .select((col("vec_id") + 500).as("vec_id"), col("embedding"))
    Similarity.extendPq(appended, dir, m = 2)
    val (book2, packed2) = Similarity.loadPq(spark, dir)
    assert(packed2.count() == 50)
    // retrain-free parity: the appended copies carry the SAME codes as
    // their originals (exact duplicates under a frozen codebook), and
    // the packed serving path ranks a perturbed query of an appended
    // vector onto a code-equivalent of it
    val codeOf = Similarity.unpackCodes(packed2).as[(Long, Int, Long)]
      .collect().groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    (0L until 10L).foreach(id => assert(codeOf(id + 500) == codeOf(id)))
    val q = base.filter(col("vec_id") < 3)
      .select((col("vec_id") + 2000).as("vec_id"), col("embedding"))
    val top1 = Similarity.pqTopKPacked(q, book2, packed2, m = 2, topK = 1)
      .select("qid", "cid").as[(Long, Long)].collect().toMap
    (0L until 3L).foreach { id =>
      assert(codeOf(top1(id + 2000)) == codeOf(id), s"query ${id + 2000}")
    }
  }

  test("mmrRerank: diversity beats redundancy at the second pick") {
    // candidates for one query: two near-identical high-rel vectors
    // (0.95, 0.94) and one orthogonal-ish lower-rel vector (0.80).
    // Pure relevance ranks the twin second; MMR at lambda .7 must
    // pick the diverse one instead.
    val cands = Seq(
      (1L, 10L, 0.95, Seq(1.0f, 0.0f)),
      (1L, 11L, 0.94, Seq(0.999f, 0.01f)),
      (1L, 12L, 0.80, Seq(0.0f, 1.0f)))
      .toDF("qid", "cid", "rel", "cv")
    val out = Similarity.mmrRerank(cands, k = 3, lambda = 0.7)
      .orderBy("rank").select("rank", "cid")
      .as[(Long, Long)].collect().toSeq
    assert(out === Seq((1L, 10L), (2L, 12L), (3L, 11L)))
  }

  test("mmrRerank: rank-1 is pure relevance argmax; ties to smaller cid") {
    val cands = Seq(
      (1L, 21L, 0.9, Seq(1.0f, 0.0f)),
      (1L, 20L, 0.9, Seq(0.0f, 1.0f))) // same rel — 20 wins
      .toDF("qid", "cid", "rel", "cv")
    val out = Similarity.mmrRerank(cands, 1, 0.7)
      .select("rank", "cid").as[(Long, Long)].collect()
    assert(out.toSeq === Seq((1L, 20L)))
  }

  test("mmrRerank: pool smaller than k stops early, per query") {
    val cands = Seq(
      (1L, 1L, 0.9, Seq(1.0f, 0.0f)),
      (2L, 2L, 0.8, Seq(1.0f, 0.0f)),
      (2L, 3L, 0.7, Seq(0.0f, 1.0f)))
      .toDF("qid", "cid", "rel", "cv")
    val out = Similarity.mmrRerank(cands, 5, 0.7)
      .select("qid", "rank", "cid").as[(Long, Long, Long)].collect().toSet
    assert(out === Set((1L, 1L, 1L), (2L, 1L, 2L), (2L, 2L, 3L)))
  }

  test("mmrRerank: invalid params rejected") {
    val c = Seq((1L, 1L, 0.9, Seq(1.0f))).toDF("qid", "cid", "rel", "cv")
    intercept[IllegalArgumentException] { Similarity.mmrRerank(c, 0, 0.7) }
    intercept[IllegalArgumentException] { Similarity.mmrRerank(c, 1, 1.0) }
  }

  test("nearDupPairs finds only true near-duplicates at 0.99") {
    val queries = base.filter(col("vec_id") < 5)
      .select((col("vec_id") + 1000).as("qid"),
        transform(col("embedding"),
          x => x.cast("double") * lit(1.001)).as("qv"))
    val pairs = Similarity.nearDupPairs(queries, base, 0.99,
        "qid", "vec_id", "qv", "embedding")
      .select("qid", "cid").as[(Long, Long)].collect()
    // scaled copy has cosine exactly ~1 with its original
    (0L until 5L).foreach(id => assert(pairs.contains((id + 1000, id))))
  }

  test("kCenterSelect: farthest-first picks in the documented order " +
      "with exact IEEE covering radii") {
    import spark.implicits._
    val pts = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(0.1f, 0.0f)),
      (3L, Array(10.0f, 0.0f)), (4L, Array(5.0f, 5.0f)),
      (5L, Array(0.0f, 9.0f)))
    val got = Similarity.kCenterSelect(
        pts.toDF("vec_id", "embedding").repartition(3),
        "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double])))
    // replica of the engine chain: LTR double folds over the floats
    def nsq(a: Array[Float]) = a.foldLeft(0.0)((s, x) =>
      s + x.toDouble * x.toDouble)
    def dot(a: Array[Float], b: Array[Float]) =
      a.zip(b).foldLeft(0.0)((s, p) =>
        s + p._1.toDouble * p._2.toDouble)
    def sqd(a: Array[Float], b: Array[Float]) =
      (nsq(a) + nsq(b)) - 2.0 * dot(a, b)
    val m = pts.toMap
    val s9 = graft.functions.GraftMath.sig9 _
    // greedy: seed 1, then 3 (d 100), 5 (81), 4 (41), 2 (0.01)
    assert(got.map(_._2).toSeq === Seq(1L, 3L, 5L, 4L, 2L))
    assert(got(0)._3.isEmpty)
    assert(got(1)._3 === Some(s9(sqd(m(3L), m(1L)))))
    assert(got(2)._3 === Some(s9(sqd(m(5L), m(1L)))))
    assert(got(3)._3 === Some(s9(math.min(sqd(m(4L), m(1L)),
      math.min(sqd(m(4L), m(3L)), sqd(m(4L), m(5L)))))))
    assert(got(4)._3 === Some(s9(sqd(m(2L), m(1L)))))
  }

  test("kCenterSelect: partition-count invariant") {
    import spark.implicits._
    val pts = (1 to 40).map(i =>
      (i.toLong, Array(((i * 37) % 11).toFloat, ((i * 53) % 13).toFloat)))
    def run(parts: Int) = Similarity.kCenterSelect(
        pts.toDF("vec_id", "embedding").repartition(parts),
        "vec_id", "embedding", k = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(run(1) === run(7))
  }

  // ===== PCA top component ============================================

  test("pcaTop: recovers the axis of a rank-one point cloud with its " +
      "variance as the eigenvalue") {
    import spark.implicits._
    // points t·(0.6, 0.8), t in {-2..2}: top axis (0.6, 0.8), and the
    // sample variance along it is (4+1+0+1+4)/4 = 2.5
    val pts = Seq(-2, -1, 0, 1, 2).zipWithIndex.map { case (t, i) =>
      (i.toLong, Array(0.6f * t, 0.8f * t))
    }
    val got = Similarity.pcaTop(pts.toDF("vec_id", "embedding"),
        "vec_id", "embedding", iters = 12)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Double]("loading"), r.getAs[Double]("lambda"),
          r.getAs[Long]("n_vecs")))).toMap
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L)._3 == 5L)
    assert(got(1L)._2 == got(2L)._2) // one eigenvalue, repeated per row
    assert(math.abs(got(1L)._2 - 2.5) < 1e-6)
    assert(math.abs(got(1L)._1 - 0.6) < 1e-6)
    assert(math.abs(got(2L)._1 - 0.8) < 1e-6)
  }

  test("pcaTop: deterministic across re-runs and partitionings") {
    import spark.implicits._
    val pts = (1 to 30).map(i => (i.toLong,
      Array(((i * 31) % 7).toFloat, ((i * 17) % 5).toFloat,
        ((i * 13) % 3).toFloat)))
    def run(parts: Int) = Similarity.pcaTop(
        pts.toDF("vec_id", "embedding").repartition(parts),
        "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getAs[Double]("loading"),
        r.getAs[Double]("lambda"))).sortBy(_._1).toSeq
    assert(run(1) === run(8))
  }

  test("pcaTop: ragged embedding arrays fail loudly instead of " +
      "corrupting the covariance") {
    import spark.implicits._
    val pts = Seq((1L, Array(1.0f, 2.0f, 3.0f)), (2L, Array(4.0f, 5.0f)),
      (3L, Array(6.0f, 7.0f, 8.0f)))
    val e = intercept[IllegalArgumentException] {
      Similarity.pcaTop(pts.toDF("vec_id", "embedding"),
        "vec_id", "embedding")
    }
    assert(e.getMessage.contains("ragged"))
  }
}
