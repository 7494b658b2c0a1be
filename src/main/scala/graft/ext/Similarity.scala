package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Parquet

/** Similarity search over an embedding column (array<float>).
  *
  * Numeric contract: dot products are LEFT-TO-RIGHT double folds
  * (`aggregate` over `zip_with`) — bit-identical to a sequential sum in
  * any engine (the DuckDB oracle mirrors it with list_reduce), so scores
  * and therefore rankings are deterministic across partitionings.
  *
  * Scale design:
  *  - brute-force top-k broadcasts the (small) query set against the
  *    (huge) candidate side — candidates stream through a map-side
  *    scoring projection; only (n_queries x k)-bounded data shuffles for
  *    the final per-query top-k;
  *  - the LSH path buckets both sides by a deterministic sign-random-
  *    projection signature and joins bucket-to-bucket (equi-join, AQE
  *    skew-safe) — candidate scoring cost scales with bucket density,
  *    not corpus size. Signatures use fixed integer hyperplanes so the
  *    index is reproducible and incrementally extendable.
  */
object Similarity {

  /** Left-to-right double product sum. The native codegen'd expression
    * (graft.functions.DotProduct via GraftExtensions) — bit-identical to
    * the composable fold below, which stays as the reference
    * implementation the tests compare against. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dotProduct(a, b)

  /** Reference implementation: higher-order fold (CodegenFallback). */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def normSq(a: Column): Column = dot(a, a)

  /** cosine from precomputed squared norms. */
  def cosine(dotAb: Column, nsqA: Column, nsqB: Column): Column =
    dotAb / (sqrt(nsqA) * sqrt(nsqB))

  /** Project `raw` once, then round it to 9 significant digits in a
    * SECOND projection. sig9 references its argument ~5 times and Spark
    * does not subexpression-eliminate across when() branches, so
    * inlining sig9(cosine(dot(...))) recomputes the dot product per
    * reference (measured 4-5x per pair). The projection boundary pins
    * one evaluation — CollapseProject keeps it because a non-cheap
    * producer expression with multiple consumer references is not
    * merged. */
  private def sig9Score(df: DataFrame, keepCols: Seq[String], raw: Column,
                        scoreName: String): DataFrame =
    df.select(keepCols.map(col) :+ raw.as("__raw_score"): _*)
      .select(keepCols.map(col) :+
        graft.queries.Q.sig9(col("__raw_score")).as(scoreName): _*)

  /** Deterministic integer hyperplane family for sign-LSH:
    * plane(b)(j) in [-1000, 1000]. */
  def plane(b: Int, dims: Int): Seq[Long] =
    (0 until dims).map(j => ((1103515245L * (b * dims + j) + 12345L) % 2001L) - 1000L)

  /** Sign-random-projection bucket id from `bits` hyperplanes. */
  def lshBucket(vec: Column, bits: Int, dims: Int): Column =
    (0 until bits).map { b =>
      val planeArr = array(plane(b, dims).map(l => lit(l.toDouble)): _*)
      when(dot(vec, planeArr) > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Brute-force cosine top-k: for each query row (idCol, vecCol) the k
    * nearest candidate rows by cosine, score rounded to 9 significant
    * digits before ranking (rank ties broken by candidate id).
    * Output: (qid, rank, cid, score). */
  def bruteTopK(queries: DataFrame, candidates: DataFrame, k: Int,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      normSq(col(vecCol)).as("qn"))
    val c = candidates.select(col(idCol).as("cid"), col(vecCol).as("cv"),
      normSq(col(vecCol)).as("cn"))
    val scored = sig9Score(
      c.crossJoin(broadcast(q)).filter(col("cid") =!= col("qid")),
      Seq("qid", "cid"),
      cosine(dot(col("qv"), col("cv")), col("qn"), col("cn")), "score")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("cid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("cid"), col("score"))
  }

  /** LSH-bucketed approximate top-k: candidates only from the query's
    * bucket. Same output shape as bruteTopK. */
  def lshTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              bits: Int = 16, dims: Int = 64,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      normSq(col(vecCol)).as("qn"),
      lshBucket(col(vecCol), bits, dims).as("bucket"))
    val c = candidates.select(col(idCol).as("cid"), col(vecCol).as("cv"),
      normSq(col(vecCol)).as("cn"),
      lshBucket(col(vecCol), bits, dims).as("bucket"))
    val scored = sig9Score(
      c.join(q, Seq("bucket")).filter(col("cid") =!= col("qid")),
      Seq("qid", "cid"),
      cosine(dot(col("qv"), col("cv")), col("qn"), col("cn")), "score")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("cid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("cid"), col("score"))
  }

  /** IVF (inverted-file) index: K centroids from deterministic
    * hash-spread seeds + `iters` Lloyd refinements, then every vector
    * assigned to its nearest centroid. At scale this is the classic
    * two-level ANN layout: the centroid table is tiny and broadcast;
    * the corpus carries a `centroid_id` partition/cluster key, so a
    * probe touches only nprobe/K of the data. Centroid refinement is a
    * posexplode + per-(centroid, dim) average — decimal-routed so the
    * index is bit-reproducible across topologies (an index that drifts
    * per run cannot be incrementally maintained).
    *
    * Seeding: the k vectors MINIMIZING the salted portable hash of
    * their id (ties to the smaller id) — a deterministic uniform draw
    * over the corpus. Seeding by smallest ids (the obvious stable
    * choice) is id-CORRELATED: ingest order usually correlates with
    * content (crawl batches, sorted exports), so id-prefix seeds start
    * every centroid in one corner of the embedding space, and one
    * Lloyd step from there leaves unbalanced clusters — which turns
    * every downstream `centroid_id` equi-join (ivfTopK, semDedup) into
    * a hot-key join and depresses recall. The hash draw is just as
    * reproducible (pure function of ids) without the correlation;
    * selection is a TakeOrderedAndProject top-k, never a full sort.
    * The per-iteration and index cuts go through [[Checkpoints.cut]]. */
  /** Nearest-centroid assignment of a (vid, vv) frame against a
    * broadcast (cid, cv) centroid table — the shared kernel of index
    * build and incremental extension. The argmax is a struct-max hash
    * aggregate (max score, ties to the smallest cid via negated id),
    * which partial-aggregates map-side — cheaper than a sort-window
    * rank at every scale, and the n x K scored rows never shuffle. */
  private def assignToCentroids(v: DataFrame, cents: DataFrame): DataFrame = {
    val scored = sig9Score(
      v.crossJoin(broadcast(cents)),
      Seq("vid", "cid"),
      cosine(dot(col("vv"), col("cv")),
        normSq(col("vv")), normSq(col("cv"))), "score")
    scored.groupBy(col("vid"))
      .agg(max(struct(col("score"), (-col("cid")).as("negCid"))).as("b"))
      .select(col("vid"), (-col("b.negCid")).cast("long").as("cid"))
  }

  /** Salt for the seed draw — distinct from every sampling salt so the
    * seed choice is independent of any keep/drop decision. */
    private val seedSalt = "ivfseed:"

  /** Salt for the training-subset draw ([[ivfIndex]]/[[pqTrain]]
    * trainFrac) — independent of the seed draw and of every sampling
    * salt. */
  private val trainSalt = "ivftrain:"

  /** Deterministic hash-coin training subset: the FAISS-style
    * train-on-sample move. Lloyd cost is O(|train| x K x d) per round
    * while assignment stays O(N) — at corpus scale the codebook only
    * needs a representative sample (256·K vectors is the standard
    * guidance), so `trainFrac` bounds the train scan instead of paying
    * the full corpus per refinement round. Pure function of ids:
    * reproducible across runs/topologies like every other draw here. */
  private def trainSubset(v: DataFrame, trainFrac: Double): DataFrame = {
    require(trainFrac > 0.0 && trainFrac <= 1.0,
      s"trainFrac must be in (0, 1], got $trainFrac")
    if (trainFrac >= 1.0) v
    else v.where(Hashing.hashP(concat(lit(trainSalt),
      col("vid").cast("string"))).cast("double") <
      lit(trainFrac * Hashing.P.toDouble))
  }

  def ivfIndex(vectors: DataFrame, k: Int, idCol: String = "vec_id",
               vecCol: String = "embedding", iters: Int = 1,
               trainFrac: Double = 1.0): (DataFrame, DataFrame) = {
    require(iters >= 1, "iters must be >= 1")
    val v = vectors.select(col(idCol).as("vid"), col(vecCol).as("vv"))
    val tv = trainSubset(v, trainFrac)
    // deterministic hash-spread seeds: k minimum-by-hash60 ids (see
    // scaladoc); top-k select, not a global sort
    val seeds = tv
      .orderBy(Hashing.hash60(concat(lit(seedSalt),
        col("vid").cast("string"))).asc, col("vid").asc)
      .limit(k)
      .select(col("vid").as("cid"), col("vv").as("cv"))
    def assign(cents: DataFrame): DataFrame =
      assignToCentroids(tv, cents.select(col("cid"), col("cv")))
    // Lloyd refinement: mean vector per assigned cluster, per dim.
    // Each round's centroid table is the loop-carried artifact —
    // materialized per iteration or round i lazily re-runs rounds 1..i-1.
    var cents = seeds
    for (_ <- 1 to iters) {
      val a = assign(cents)
      cents = Checkpoints.cut(
        tv.join(a, Seq("vid"))
          .select(col("cid"), posexplode(col("vv")).as(Seq("dim", "x")))
          .groupBy(col("cid"), col("dim"))
          .agg(graft.queries.Q.davg(col("x").cast("double")).as("m"))
          .groupBy(col("cid"))
          .agg(array_sort(collect_list(struct(col("dim"), col("m"))))
            .as("dm"))
          .select(col("cid"),
            transform(col("dm"), s => s.getField("m")).as("cv")))
    }
    // An index IS a materialized artifact: the centroid table above is
    // already cut; materialize the assignment too, or every consumer
    // (probe stage, candidate join, recall check) re-runs it lazily.
    val centOut = cents.select(col("cid").as("centroid_id"), col("cv"))
    // assignment always covers the FULL corpus, whatever trained the
    // centroids — train-on-sample never drops vectors from the index
    val index = Checkpoints.cut(
      assignToCentroids(v, cents.select(col("cid"), col("cv")))
        .select(col("vid").as(idCol), col("cid").as("centroid_id")))
    (centOut, index)
  }

  /** Persist an IVF index (centroids + assignments) as parquet. An
    * index is a cross-job ARTIFACT: the two assignment passes and the
    * Lloyd step are paid once per corpus version at build time, and any
    * number of later probe jobs read the parquet tables instead of
    * re-running them (the localCheckpoint inside [[ivfIndex]] is
    * session-lifetime only). The assignments table is the natural
    * clustering key for the corpus itself — co-partition the vectors by
    * centroid_id and a probe touches nprobe/K of the data. */
  def saveIndex(centroids: DataFrame, index: DataFrame,
                path: String): Unit = {
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    index.write.mode("overwrite").parquet(s"$path/assignments")
  }

  /** Load a persisted IVF index: (centroids, assignments) — the same
    * pair [[ivfIndex]] returns, ready for [[ivfTopK]]. */
  def loadIndex(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    (Parquet.read(spark, s"$path/centroids"),
      Parquet.read(spark, s"$path/assignments"))

  /** Incrementally extend a persisted index: assign ONLY the new
    * vectors to the existing (frozen) centroids and append their
    * assignments — O(batch x K) per ingest batch, never a rebuild.
    * Centroids are immutable within an index version (the standard IVF
    * maintenance contract: rebuild to re-center once drift matters),
    * so signatures stay reproducible and probes of old and new vectors
    * agree on the partitioning. */
  def extendIndex(newVectors: DataFrame, path: String,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): Unit = {
    val spark = newVectors.sparkSession
    val cents = Parquet.read(spark, s"$path/centroids")
      .select(col("centroid_id").as("cid"), col("cv"))
    assignToCentroids(
        newVectors.select(col(idCol).as("vid"), col(vecCol).as("vv")),
        cents)
      .select(col("vid").as(idCol), col("cid").as("centroid_id"))
      .write.mode("append").parquet(s"$path/assignments")
  }

  /** IVF top-k: probe the `nprobe` nearest centroids, exact-rank inside
    * their inverted lists. */
  def ivfTopK(queries: DataFrame, vectors: DataFrame, centroids: DataFrame,
              index: DataFrame, k: Int, nprobe: Int = 2,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      normSq(col(vecCol)).as("qn"))
    val probes = sig9Score(
      q.crossJoin(broadcast(centroids)),
      Seq("qid", "centroid_id"),
      cosine(dot(col("qv"), col("cv")), col("qn"), normSq(col("cv"))),
      "cscore")
    val wp = Window.partitionBy(col("qid"))
      .orderBy(col("cscore").desc, col("centroid_id").asc)
    val probed = probes.withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("centroid_id"))
    val cands = sig9Score(
      probed
        .join(index.withColumnRenamed(idCol, "cid"), Seq("centroid_id"))
        .join(q, Seq("qid"))
        .join(vectors.select(col(idCol).as("cid"), col(vecCol).as("cv"),
          normSq(col(vecCol)).as("cn")), Seq("cid"))
        .filter(col("cid") =!= col("qid")),
      Seq("qid", "cid"),
      cosine(dot(col("qv"), col("cv")), col("qn"), col("cn")), "score")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("cid").asc)
    cands.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("cid"), col("score"))
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster the
    * embedding space, then drop near-duplicates WITHIN each cluster —
    * the cluster assignment turns the quadratic all-pairs problem into
    * an equi-join on `centroid_id`, so candidate-pair count scales with
    * cluster density, not corpus size. Reuses [[ivfIndex]] (hash-spread
    * deterministic seeds + decimal-routed Lloyd steps), so the
    * clustering — and therefore the dedup decision — is
    * bit-reproducible across runs, partitionings and engines.
    *
    * Keep rule: a vector is dropped iff some SMALLER-id vector in its
    * cluster has sig9(cosine) >= threshold — the same deterministic
    * keep-first contract as the exact/minhash dedup family (greedy
    * transitive closure would make the decision order-dependent).
    *
    * At 100 TB: k should grow ~sqrt(n) so per-cluster membership stays
    * bounded; the pair join is AQE-skew-safe and the per-pair kernel is
    * the codegen'd dot_product. Output: (idCol, centroid_id, keep).
    */
  def semDedup(vectors: DataFrame, k: Int, threshold: Double,
               idCol: String = "vec_id",
               vecCol: String = "embedding", iters: Int = 1): DataFrame = {
    val (cents, index) = ivfIndex(vectors, k, idCol, vecCol, iters)
    val v = vectors.select(col(idCol).as("vid"), col(vecCol).as("vv"),
      normSq(col(vecCol)).as("nsq"))
    val m = v.join(index.withColumnRenamed(idCol, "vid"), Seq("vid"))
    val a = m.select(col("centroid_id"), col("vid").as("aid"),
      col("vv").as("av"), col("nsq").as("an"))
    val b = m.select(col("centroid_id"), col("vid").as("bid"),
      col("vv").as("bv"), col("nsq").as("bn"))
    val pairs = sig9Score(
      a.join(b, Seq("centroid_id")).filter(col("aid") < col("bid")),
      Seq("aid", "bid"),
      cosine(dot(col("av"), col("bv")), col("an"), col("bn")), "score")
    val dropped = pairs.filter(col("score") >= threshold)
      .select(col("bid").as("vid")).distinct()
      .withColumn("is_dup", lit(true))
    // the (vid, centroid_id) universe IS the checkpointed index frame —
    // rebuilding it from m would re-scan the vectors and re-join
    index.withColumnRenamed(idCol, "vid")
      .join(dropped, Seq("vid"), "left")
      .select(col("vid").as(idCol), col("centroid_id"),
        col("is_dup").isNull.as("keep"))
  }

  /** k-NN label classification over embeddings: each query vector takes
    * the majority label of its k nearest (cosine) labeled reference
    * vectors. The label-propagation face of the ANN stack — auto-label
    * new corpus slices from a small curated seed set.
    *
    * Ties are broken deterministically: most votes, then the label whose
    * nearest voting neighbor ranks closest, then the smaller label — so
    * the prediction is a pure function of the data (re-runs and engines
    * agree, which is what makes propagated labels auditable).
    *
    * Scale shape: [[bruteTopK]] broadcasts the (small) query set and
    * streams the reference corpus map-side; the |Q| x k winner frame is
    * then itself broadcast back against the reference labels, so the big
    * side is scanned, never shuffled. The argmax over (votes, rank,
    * label) is a struct-max hash aggregate — no sort window.
    * Output: (qid, pred_label, votes, true_label, correct). */
  def knnClassify(queries: DataFrame, refs: DataFrame, k: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  labelCol: String = "label"): DataFrame = {
    val top = bruteTopK(queries, refs, k, idCol, vecCol)
    val nbr = refs
      .select(col(idCol).as("cid"), col(labelCol).cast("long").as("nlabel"))
      .join(broadcast(top), Seq("cid"))
    val votes = nbr.groupBy(col("qid"), col("nlabel"))
      .agg(count(lit(1)).as("votes"), min(col("rank")).as("best_rank"))
    val pred = votes.groupBy(col("qid"))
      .agg(max(struct(col("votes"), (-col("best_rank")).as("nbr"),
        (-col("nlabel")).as("nnl"))).as("b"))
      .select(col("qid"), (-col("b.nnl")).cast("long").as("pred_label"),
        col("b.votes").as("votes"))
    val truth = queries.select(col(idCol).as("qid"),
      col(labelCol).cast("long").as("true_label"))
    pred.join(broadcast(truth), Seq("qid"))
      .select(col("qid"), col("pred_label"), col("votes"), col("true_label"),
        (col("pred_label") === col("true_label")).as("correct"))
  }

  /** Per-dimension affine int8 quantization of an embedding corpus —
    * the standard 4x storage/bandwidth cut for billion-vector ANN
    * serving (a 100 TB float corpus becomes 25 TB of codes + a
    * 64-row stats table). code = clamp(floor((x - mn)/scale + 0.5),
    * 0, 255) with scale = (mx - mn)/255; `floor(+0.5)` instead of
    * round() because round's half-way rule differs across engines and
    * the codes must be bit-reproducible (the dedup-family contract).
    * Constant dimensions (scale 0) code to 0 and dequantize to mn —
    * no ANSI division-by-zero.
    *
    * Scale shape: per-dim stats are a posexplode + (dim)-keyed
    * min/max aggregate — O(dims) output, partial-aggregated map-side —
    * broadcast back over one corpus pass; codes and the dequantized
    * vectors reassemble via the same sorted collect_list as the IVF
    * centroid build. Output: (idCol, qcodes array<int>, dequant
    * array<double>). Asymmetric scoring (full-precision query against
    * dequantized candidates — ADC) goes through [[bruteTopK]] /
    * [[lshTopK]] on the `dequant` column unchanged. */
  def quantizeInt8(vectors: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val ex = vectors.select(col(idCol).as("vid"),
      posexplode(col(vecCol)).as(Seq("dim", "x")))
      .select(col("vid"), col("dim"), col("x").cast("double").as("x"))
    val stats = ex.groupBy(col("dim"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .withColumn("scale", (col("mx") - col("mn")) / 255.0)
    val coded = ex.join(broadcast(stats), Seq("dim"))
      .withColumn("code",
        when(col("scale") === 0.0, lit(0L))
          .otherwise(greatest(lit(0L), least(lit(255L),
            floor((col("x") - col("mn")) / col("scale") + 0.5)))))
      .withColumn("v", col("mn") + col("code") * col("scale"))
    coded.groupBy(col("vid"))
      .agg(array_sort(collect_list(struct(col("dim"), col("code"), col("v"))))
        .as("dcv"))
      .select(col("vid").as(idCol),
        transform(col("dcv"), s => s.getField("code").cast("int"))
          .as("qcodes"),
        transform(col("dcv"), s => s.getField("v")).as("dequant"))
  }

  /** 1-byte serving layout for [[quantizeInt8]] codes: (idCol, pcodes
    * array<tinyint>) storing code - 128 — int8's qcodes column is
    * already one row per vector, but its array<int> elements cost 4
    * bytes each; this is the actual-8-bit form a serving table ships
    * (the remaining 4x of the quantization's promised storage cut).
    * qcodes stays the oracle layout; [[unpackInt8]] restores it
    * bit-exactly. */
  def packInt8(quantized: DataFrame, idCol: String = "vec_id"): DataFrame =
    quantized.select(col(idCol),
      transform(col("qcodes"), c => (c - 128).cast("byte")).as("pcodes"))

  /** Restore the array<int> qcodes layout from [[packInt8]] output. */
  def unpackInt8(packed: DataFrame, idCol: String = "vec_id"): DataFrame =
    packed.select(col(idCol),
      transform(col("pcodes"), c => c.cast("int") + 128).as("qcodes"))

  /** The m contiguous subspace slices of a (double-array) vector: the
    * last subspace takes the remainder when m does not divide d. ONE
    * definition shared by PQ training, encoding and query-side LUT
    * building — slice boundaries may never diverge between them.
    *
    * ds is truncated to int ONCE: `size/m` is double division, and
    * letting each slice's start offset truncate independently
    * (s * (d/m) cast per slice) drops interior dimensions whenever m
    * does not divide d — e.g. d=11, m=3 sliced [1..3],[4..6],[8..11],
    * silently ignoring element 7 in every codebook and score. */
  private def subSlices(vv: Column, m: Int): Column = {
    val ds = (size(vv) / m).cast("int")
    transform(sequence(lit(0), lit(m - 1)), s =>
      when(s === m - 1, slice(vv, s * ds + 1, size(vv)))
        .otherwise(slice(vv, s * ds + 1, ds)))
  }

  /** Per-query ADC lookup table: inner product of each query subspace
    * against each codeword — ONE definition shared by [[pqTopK]] and
    * [[ivfPqTopK]] so the two serving paths can never de-synchronize.
    * Output: (qid, sub, cid, p). */
  private def adcLut(q: DataFrame, codebook: DataFrame, m: Int): DataFrame = {
    val qsub = q.select(col("qid"),
      posexplode(subSlices(col("qv"), m)).as(Seq("sub", "qsv")))
    // pd: the partial pre-cast to DECIMAL(38,15) HERE, on the |Q|*m*k
    // LUT rows, so the candidate-side sum adds decimals instead of
    // re-running the Double.toString-backed cast once per scored
    // (qid, vid, sub) row — the profiled hotspot of ADC serving.
    sig9Score(qsub.join(broadcast(codebook), Seq("sub")),
        Seq("qid", "sub", "cid"), dot(col("qsv"), col("cv")), "p")
      .withColumn("pd", graft.queries.Q.dec15(col("p")))
  }

  /** [[adcLut]] folded to ONE row per query: an array indexed by sub
    * (subspaces are always dense 0..m-1 — [[subSlices]] generates all
    * of them) of small cid -> dec15-partial maps — the broadcast side
    * of the per-row packed serving fold ([[packedAdcSum]]). The
    * two-level shape keeps the per-code lookup at one O(1) array index
    * plus a <= k-entry map probe (a single flat map would linear-scan
    * all m x k entries per lookup — measured +0.4 s on the m=8
    * geometry). */
  private def adcLutMap(q: DataFrame, codebook: DataFrame,
                        m: Int): DataFrame =
    adcLut(q, codebook, m)
      .groupBy(col("qid"), col("sub"))
      .agg(map_from_entries(collect_list(struct(
        col("cid").cast("int").as("k"), col("pd").as("v")))).as("sm"))
      .groupBy(col("qid"))
      // comparator form: the default array_sort cannot order structs
      // carrying a map column; sub is unique per qid so the diff is a
      // total order
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("sm"))),
          (l, r) => l.getField("sub") - r.getField("sub")),
        s => s.getField("sm")).as("__lut"))

  /** Per-candidate ADC sum as ONE row-local expression: each packed
    * candidate row looks its m codes up in the query's [[adcLutMap]]
    * map and folds the partials — the per-row replacement for the
    * m-way code explode + 3-key LUT join + (qid, vid) hash aggregate
    * of the row-layout path. At corpus scale this removes m rows per
    * candidate from the serving stage and the whole aggregation pass.
    *
    * Exactness (the oracle-hash contract): the terms are the same
    * DECIMAL(38,15) partials the row path sums. The fold carries them
    * at DECIMAL(25,15) — ANSI-loud if a partial ever exceeds 10
    * integer digits — and adds them as a BALANCED tree, so interior
    * precisions stay <= (25 + ceil(log2 m), 15): every addition is
    * exact, and the final value widened back to DECIMAL(38,15) is
    * bit-identical to the row path's sum() aggregate. A code whose
    * (sub, cid) is missing from the LUT (a codeword dropped in the
    * Lloyd step — impossible for codes assigned under the same
    * codebook) contributes 0, matching the inner join's dropped-row
    * semantics. */
  private def packedAdcSum(pcodes: Column, lut: Column, m: Int): Column = {
    val acc = org.apache.spark.sql.types.DecimalType(25, 15)
    val terms = (0 until m).map { s =>
      coalesce(
        try_element_at(element_at(lut, s + 1),
          (element_at(pcodes, s + 1).cast("int") + lit(128)).cast("int")),
        lit(0).cast(org.apache.spark.sql.types.DecimalType(38, 15)))
        .cast(acc)
    }
    def bal(ts: Seq[Column]): Column =
      if (ts.size == 1) ts.head
      else bal(ts.grouped(2).map(g =>
        if (g.size == 2) g(0) + g(1) else g(0)).toSeq)
    bal(terms).cast(org.apache.spark.sql.types.DecimalType(38, 15))
  }

  /** Product quantization (Jégou et al. 2011): split each vector into
    * `m` contiguous subspaces and learn a `k`-codeword codebook per
    * subspace (hash-spread seeds + one decimal-routed Lloyd step — the
    * same deterministic kernel as [[ivfIndex]], so codebooks are a
    * pure function of the corpus). A vector stores m small codes
    * instead of d floats: at m=16, k=256 a 64-dim float corpus
    * compresses 16x, and asymmetric scoring ([[pqTopK]]) ranks against
    * codes without reconstructing the corpus.
    *
    * Scale shape: subspaces are EXPLODED into one frame (vid, sub,
    * subvec) — codebook training and assignment are single plans over
    * it (broadcast-codebook L2 argmin, per-(sub, cid, dim) decimal
    * means), never m driver-side loops. Codeword assignment minimizes
    * sig9'd squared L2 distance with ties to the smaller codeword id,
    * so codes are bit-reproducible across engines and partitionings.
    * Seeds are ONE hash-spread draw of k vectors sliced per subspace
    * (rank inside one bounded collect_list row — no global window).
    * Codes are (vid, sub, code) rows — the SQL-portable layout; a
    * serving layer would pivot to a packed array column.
    *
    * Returns (codebook, codes): codebook = (sub, cid, cv), codes =
    * (vid, sub, code). Codewords that lose every member in the Lloyd
    * step drop out (standard k-means-with-empty-clusters behavior). */
  def pqTrain(vectors: DataFrame, m: Int, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              trainFrac: Double = 1.0)
      : (DataFrame, DataFrame) = {
    require(m >= 1 && k >= 1, "m and k must be >= 1")
    val v = vectors.select(col(idCol).as("vid"),
      transform(col(vecCol), x => x.cast("double")).as("vv"))
    val tv = trainSubset(v, trainFrac)
    val sv = v.select(col("vid"),
      posexplode(subSlices(col("vv"), m)).as(Seq("sub", "sv")))
    val tsv = if (trainFrac >= 1.0) sv
      else tv.select(col("vid"),
        posexplode(subSlices(col("vv"), m)).as(Seq("sub", "sv")))
    // seed codebook: the k hash-spread vectors, ranked 0..k-1 by the
    // draw order inside ONE bounded row, sliced per subspace
    val seedbook = tv
      .withColumn("__h", Hashing.hash60(concat(lit(seedSalt),
        col("vid").cast("string"))))
      .orderBy(col("__h").asc, col("vid").asc).limit(k)
      .agg(array_sort(collect_list(struct(col("__h"), col("vid"),
        col("vv")))).as("a"))
      .select(posexplode(col("a")).as(Seq("cid", "s")))
      .select(col("cid").cast("long").as("cid"),
        posexplode(subSlices(col("s.vv"), m)).as(Seq("sub", "cv")))
    // one Lloyd step over the TRAINING subset: per-(sub, codeword, dim)
    // decimal mean; code assignment below always covers the full corpus
    val a0 = pqAssign(tsv, seedbook)
    val codebook = Checkpoints.cut(
      tsv.join(a0, Seq("vid", "sub"))
        .select(col("sub"), col("code").as("cid"),
          posexplode(col("sv")).as(Seq("dim", "x")))
        .groupBy(col("sub"), col("cid"), col("dim"))
        .agg(graft.queries.Q.davg(col("x")).as("mv"))
        .groupBy(col("sub"), col("cid"))
        .agg(array_sort(collect_list(struct(col("dim"), col("mv"))))
          .as("dm"))
        .select(col("sub"), col("cid"),
          transform(col("dm"), s => s.getField("mv")).as("cv")))
    // lazy: codes have exactly ONE consumer per query (the packCodes
    // pivot feeding the serving path), so the eager cut was a pure
    // serial job barrier; the codebook above stays EAGER — the code
    // assignment and the serving LUT broadcast consume it from two
    // concurrent exchange futures, and a lazy cut materializes it twice
    // (measured +0.5 s on q_x_ann_pq).
    val codes = Checkpoints.cutLazy(pqAssign(sv, codebook))
    (codebook, codes)
  }

  /** Codeword assignment of an exploded (vid, sub, sv) subspace frame
    * against a broadcast codebook — the shared kernel of [[pqTrain]]
    * and [[pqEncode]] (sig9'd squared L2 argmin, ties to the smaller
    * codeword id, so codes are bit-reproducible). */
  private def pqAssign(sv: DataFrame, book: DataFrame): DataFrame =
    sig9Score(sv.join(broadcast(book), Seq("sub")),
        Seq("vid", "sub", "cid"),
        normSq(col("sv")) - lit(2.0) * dot(col("sv"), col("cv"))
          + normSq(col("cv")), "d2")
      .groupBy(col("vid"), col("sub"))
      .agg(min(struct(col("d2"), col("cid"))).as("b"))
      .select(col("vid"), col("sub"), col("b.cid").as("code"))

  /** Encode a vector batch against a FROZEN trained codebook — the
    * appending half of the PQ artifact ([[extendIndex]]'s twin on the
    * code side): O(batch x k) per ingest batch, never a retrain. Uses
    * the exact assignment kernel [[pqTrain]] used for its own codes,
    * so encoding the training corpus reproduces the training codes
    * bit-for-bit (spec-pinned), and appended batches rank identically
    * to a from-scratch assignment under the same codebook (codebooks
    * are immutable within an artifact version — the IVF centroid
    * contract). `m` must equal the training m. Output: (vid, sub,
    * code) rows; [[packCodes]] for the serving layout. */
  def pqEncode(newVectors: DataFrame, codebook: DataFrame, m: Int,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val v = newVectors.select(col(idCol).as("vid"),
      transform(col(vecCol), x => x.cast("double")).as("vv"))
    val sv = v.select(col("vid"),
      posexplode(subSlices(col("vv"), m)).as(Seq("sub", "sv")))
    pqAssign(sv, codebook)
  }

  /** Persist a PQ artifact: codebook + PACKED codes (the serving
    * layout — one row, m bytes per vector). */
  def savePq(codebook: DataFrame, packed: DataFrame, path: String): Unit = {
    codebook.write.mode("overwrite").parquet(s"$path/codebook")
    packed.write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Load a persisted PQ artifact: (codebook, packed codes). */
  def loadPq(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    (Parquet.read(spark, s"$path/codebook"),
      Parquet.read(spark, s"$path/codes"))

  /** Incrementally extend a persisted PQ artifact: encode ONLY the new
    * vectors against the frozen codebook and append their packed
    * rows — the PQ half of the append-only ingest pattern
    * ([[extendIndex]] keeps the IVF routing current; this keeps the
    * code table current; probes of old and new vectors then share one
    * serving path). */
  def extendPq(newVectors: DataFrame, path: String, m: Int,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): Unit = {
    val book = Parquet.read(newVectors.sparkSession, s"$path/codebook")
    packCodes(pqEncode(newVectors, book, m, idCol, vecCol), m)
      .write.mode("append").parquet(s"$path/codes")
  }

  /** Asymmetric-distance top-k over PQ codes: per query, an m x k
    * lookup table of inner products against the codebook (tiny,
    * broadcast), then each candidate's score is the order-independent
    * decimal sum of its m looked-up partials — the corpus side touches
    * only (vid, sub, code) rows, never a float vector. Ranking is by
    * inner product with the RECONSTRUCTED vector (IP-ADC); rank ties
    * break on candidate id. `m` must equal the training m. Output:
    * (qid, rank, cid, score). */
  def pqTopK(queries: DataFrame, codebook: DataFrame, codes: DataFrame,
             m: Int, topK: Int, idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("qid"),
      transform(col(vecCol), x => x.cast("double")).as("qv"))
    val lut = adcLut(q, codebook, m)
    // The LUT join multiplies the corpus side |Q|-fold, but any
    // upstream shuffle (packCodes' pivot, a parquet scan of a small
    // code table) is sized by AQE from its INPUT bytes — a few KB of
    // codes coalesce to one partition, and the |Q| x N x m explosion
    // plus the (qid, vid) aggregation then run on one core. Spread the
    // corpus side by vid first (explicit partition count, so AQE
    // cannot re-coalesce it): vid is a subset of the grouping keys, so
    // the partial agg completes without a further exchange. The count
    // must DIFFER from spark.sql.shuffle.partitions: packCodes'
    // groupBy(vid) upstream already emits HashPartitioning(vid, n),
    // and a repartition identical to its child's partitioning is
    // optimized away — which re-opens the one-core trap it exists to
    // close (caught by the sf1.0 soak; PlanShapeSpec pins the survival).
    val spread = codes.repartition(
      2 * codes.sparkSession.sessionState.conf.numShufflePartitions,
      col("vid"))
    val scored = spread
      .join(broadcast(lut),
        spread("sub") === lut("sub") && spread("code") === lut("cid"))
      .groupBy(col("qid"), col("vid"))
      .agg(graft.queries.Q.dsumPre(col("pd")).as("score"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("vid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("rank"), col("vid").as("cid"), col("score"))
  }

  /** Pivot (vid, sub, code) PQ code rows into ONE row per vector:
    * (vid, pcodes array<tinyint>) with pcodes(sub) storing code - 128
    * (exact for the k <= 256 codeword range PQ uses; out-of-range
    * codes and vectors missing a subspace raise). This is the SERVING
    * layout: the row form costs m rows per vector through every
    * downstream shuffle, the packed form one row and one byte per
    * code — at m=16 over a billion vectors, the difference between a
    * join side that fits and one that doesn't. The row layout stays
    * the SQL-portable oracle form ([[unpackCodes]] restores it
    * bit-exactly; SimilaritySpec pins the round-trip and packed==row
    * serving parity). */
  def packCodes(codes: DataFrame, m: Int): DataFrame =
    codes.groupBy(col("vid"))
      .agg(array_sort(collect_list(struct(col("sub"), col("code")))).as("sc"))
      .select(col("vid"),
        when(size(col("sc")) === m,
          transform(col("sc"), s =>
            when(s.getField("code").between(0, 255),
              (s.getField("code") - 128).cast("byte"))
              .otherwise(raise_error(concat(lit("packCodes: code "),
                s.getField("code").cast("string"),
                lit(" outside the tinyint-packable range 0..255"))))))
          .otherwise(raise_error(concat(lit("packCodes: vector "),
            col("vid").cast("string"), lit(" carries "),
            size(col("sc")).cast("string"),
            lit(s" subspace codes, expected $m"))))
          .as("pcodes"))

  /** Restore the (vid, sub, code) row layout from [[packCodes]] output
    * — the oracle/back-compat direction; also the in-plan unpack the
    * packed serving paths use right before the (broadcast) ADC LUT
    * join, where the explode is map-side and never crosses a
    * shuffle. */
  def unpackCodes(packed: DataFrame): DataFrame =
    packed.select(col("vid"), posexplode(col("pcodes")).as(Seq("sub", "pc")))
      .select(col("vid"), col("sub"),
        (col("pc").cast("long") + 128L).as("code"))

  /** [[pqTopK]] over the packed (vid, pcodes) layout: identical scores
    * and ranking (SimilaritySpec pins packed == row), but served
    * per-row — each packed candidate row folds its m codes through the
    * query's broadcast LUT map ([[packedAdcSum]]) instead of exploding
    * into m rows, joining the LUT on (qid, sub, code) and re-grouping.
    * The corpus side stays one row per vector through the WHOLE serving
    * stage, and the |Q| x N x m aggregation pass disappears. */
  def pqTopKPacked(queries: DataFrame, codebook: DataFrame,
                   packed: DataFrame, m: Int, topK: Int,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("qid"),
      transform(col(vecCol), x => x.cast("double")).as("qv"))
    val lutM = adcLutMap(q, codebook, m)
    // Same spread rationale as [[pqTopK]]: the packed corpus arrives
    // from a tiny upstream shuffle AQE coalesces to one partition, and
    // the |Q|-fold scoring fan-out would inherit it (PlanShapeSpec pins
    // the REPARTITION_BY_NUM survival; the count must differ from the
    // upstream hashpartitioning(vid, n) or the exchange is elided).
    val spread = packed.repartition(
      2 * packed.sparkSession.sessionState.conf.numShufflePartitions,
      col("vid"))
    val scored = spread.crossJoin(broadcast(lutM))
      .select(col("qid"), col("vid"),
        graft.queries.Q.sig9(
          packedAdcSum(col("pcodes"), col("__lut"), m).cast("double"))
          .as("score"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("vid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("rank"), col("vid").as("cid"), col("score"))
  }

  /** IVF-PQ: the billion-scale serving composition — route each query
    * to its `nprobe` nearest IVF centroids (cosine, like [[ivfTopK]]),
    * then rank ONLY those inverted lists' members by PQ codes
    * ([[pqTopK]]'s ADC lookup-table sum). The corpus contributes its
    * (vid, centroid_id) routing rows and (vid, sub, code) code rows —
    * float vectors are never touched at query time, which is the whole
    * point: at m=16/k=256 the serving set is ~17 bytes/vector vs 256
    * for the floats.
    *
    * Scale shape: probes and the per-query LUT are tiny and broadcast
    * (catalog-probe contract: |Q| bounded; for huge query sets swap
    * the broadcast hints for plain equi-joins and let AQE choose);
    * candidate scoring is an equi-join on the candidate (qid, vid)
    * pairs — cost tracks list density x nprobe/K, not corpus size.
    * Routing is cosine, ranking is reconstructed inner product
    * (IP-ADC) — the standard mixed-metric IVF-PQ posture. Output:
    * (qid, rank, cid, score). */
  def ivfPqTopK(queries: DataFrame, centroids: DataFrame, index: DataFrame,
                codebook: DataFrame, codes: DataFrame, m: Int, topK: Int,
                nprobe: Int = 2, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame =
    ivfPqCore(queries, centroids, index, codebook, m, topK, nprobe, idCol,
      vecCol,
      cands => cands.join(codes.select(col("vid"), col("sub"), col("code")),
        Seq("vid")))

  /** [[ivfPqTopK]] over the packed (vid, pcodes) layout: identical
    * scores and ranking (SimilaritySpec pins packed == row), served
    * per-row — the candidate (qid, vid) pairs join ONE packed row per
    * vector and fold their m codes through the query's broadcast LUT
    * map ([[packedAdcSum]]); no explode, no per-(qid, vid, sub) join,
    * no aggregation pass. */
  def ivfPqTopKPacked(queries: DataFrame, centroids: DataFrame,
                      index: DataFrame, codebook: DataFrame,
                      packed: DataFrame, m: Int, topK: Int,
                      nprobe: Int = 2, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame =
    ivfPqServePacked(queries, centroids, index, codebook, packed, m, topK,
      nprobe, idCol, vecCol, residual = false)

  /** Residual IVF-PQ training (Jégou et al. 2011 §III): PQ codebooks
    * learned on r = v - centroid(v) instead of v. Residuals concentrate
    * around zero with far less variance than raw vectors, so the same
    * (m, k) code budget quantizes them with less error — the standard
    * IVF-PQ formulation. Assignment/centroid frames come from
    * [[ivfIndex]]; training reuses [[pqTrain]] verbatim on the residual
    * frame (broadcast k-row centroid attach + one zip_with — map-side),
    * so codebooks stay a pure deterministic function of (corpus, IVF).
    * Returns (codebook, codes) in pqTrain's shapes; [[packCodes]] for
    * the serving layout. Serve with [[ivfPqResidualTopKPacked]] —
    * residual codes are meaningless to the non-residual scorers. */
  def ivfPqResidualTrain(vectors: DataFrame, centroids: DataFrame,
                         index: DataFrame, m: Int, k: Int,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding")
      : (DataFrame, DataFrame) = {
    val v = vectors.select(col(idCol).as("vid"),
      transform(col(vecCol), x => x.cast("double")).as("vv"))
    val r = v
      .join(index.select(col(idCol).as("vid"), col("centroid_id")),
        Seq("vid"))
      .join(broadcast(centroids.select(col("centroid_id"), col("cv"))),
        Seq("centroid_id"))
      .select(col("vid"),
        zip_with(col("vv"), col("cv"), (a, b) => a - b).as("rv"))
    pqTrain(r, m, k, idCol = "vid", vecCol = "rv")
  }

  /** [[ivfPqTopKPacked]] over residual codes: identical routing,
    * candidate and LUT shapes (the LUT is the RAW query against the
    * residual codebook), plus the exact per-(query, probed-centroid)
    * dot(q, c_v) correction — see [[ivfPqCore]]. Output:
    * (qid, rank, cid, score), score = IP against the residual
    * reconstruction c_v + r-hat. */
  def ivfPqResidualTopKPacked(queries: DataFrame, centroids: DataFrame,
                              index: DataFrame, codebook: DataFrame,
                              packed: DataFrame, m: Int, topK: Int,
                              nprobe: Int = 2, idCol: String = "vec_id",
                              vecCol: String = "embedding"): DataFrame =
    ivfPqServePacked(queries, centroids, index, codebook, packed, m, topK,
      nprobe, idCol, vecCol, residual = true)

  /** Shared IVF routing + candidate build of the row and packed serving
    * cores: returns (q, cands) with q = (qid, qv) and cands =
    * (qid, vid[, qcd]) — one row per candidate, spread by the grouping
    * keys (see the in-body comment). With `residual = true` each
    * candidate carries qcd, the exact dot(q, centroid(v)) correction:
    * dot(q, v-hat) = dot(q, c_v) + sum_sub dot(q_sub, codeword_sub) —
    * computed once per (query, probed centroid) on the tiny probe
    * frame, never per candidate. */
  private def ivfPqCands(queries: DataFrame, centroids: DataFrame,
                         index: DataFrame, nprobe: Int, idCol: String,
                         vecCol: String,
                         residual: Boolean): (DataFrame, DataFrame) = {
    val q = queries.select(col(idCol).as("qid"),
      transform(col(vecCol), x => x.cast("double")).as("qv"),
      normSq(col(vecCol)).as("qn"))
    // two raw scores through one projection boundary (the sig9Score
    // move, widened): routing cosine + the residual correction dot
    val probes = q.crossJoin(broadcast(centroids))
      .select(col("qid"), col("centroid_id"),
        cosine(dot(col("qv"), col("cv")), col("qn"), normSq(col("cv")))
          .as("__rc"),
        (if (residual) dot(col("qv"), col("cv")) else lit(0.0)).as("__rq"))
      .select(col("qid"), col("centroid_id"),
        graft.queries.Q.sig9(col("__rc")).as("cscore"),
        graft.queries.Q.sig9(col("__rq")).as("qc"))
    val wp = Window.partitionBy(col("qid"))
      .orderBy(col("cscore").desc, col("centroid_id").asc)
    val probed = probes.withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nprobe)
      .select(Seq(col("qid"), col("centroid_id")) ++
        (if (residual) Seq(graft.queries.Q.dec15(col("qc")).as("qcd"))
         else Nil): _*)
    // Same explosion-after-tiny-shuffle trap as pqTopK: the candidate
    // (qid, vid) pairs fan out |Q| x listDensity x nprobe-fold from
    // byte-small inputs (probe pairs + the id-only index), so AQE
    // under-partitions them; everything downstream (code attach, m-way
    // explode, LUT join, aggregation) inherits that. Spread by the
    // grouping keys with an explicit count — when the code table is
    // big enough to force a real vid-shuffle join instead of a
    // broadcast, that join's own distribution supersedes this one, so
    // the spread only pays where it is needed.
    val cands = probed
      .join(index.select(col(idCol).as("vid"), col("centroid_id")),
        Seq("centroid_id"))
      .filter(col("vid") =!= col("qid"))
      .select(Seq(col("qid"), col("vid")) ++
        (if (residual) Seq(col("qcd")) else Nil): _*)
      .repartition(
        2 * queries.sparkSession.sessionState.conf.numShufflePartitions,
        col("qid"), col("vid"))
    (q.select(col("qid"), col("qv")), cands)
  }

  /** Per-query top-k from a scored (qid, vid, score) frame — the shared
    * tail of every PQ serving path (ties break on candidate id). */
  private def rankTopK(scored: DataFrame, topK: Int): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("vid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("rank"), col("vid").as("cid"), col("score"))
  }

  /** The packed serving core ([[ivfPqTopKPacked]] and the residual
    * path): candidates join ONE packed row per vector and ONE broadcast
    * LUT-map row per query, and every candidate's score is a row-local
    * decimal fold ([[packedAdcSum]]) — bit-identical to the row-layout
    * core's explode + LUT join + sum() (exactness argument on the
    * fold's scaladoc; the residual correction term is added at the same
    * DECIMAL(38,15) types as the row core's sum + max, so the final
    * double is the same). */
  private def ivfPqServePacked(queries: DataFrame, centroids: DataFrame,
                               index: DataFrame, codebook: DataFrame,
                               packed: DataFrame, m: Int, topK: Int,
                               nprobe: Int, idCol: String, vecCol: String,
                               residual: Boolean): DataFrame = {
    val (q, cands) = ivfPqCands(queries, centroids, index, nprobe, idCol,
      vecCol, residual)
    val lutM = adcLutMap(q, codebook, m)
    val sumDec = packedAdcSum(col("pcodes"), col("__lut"), m)
    val scoreExpr =
      if (residual)
        graft.queries.Q.sig9((sumDec + col("qcd")).cast("double"))
      else graft.queries.Q.sig9(sumDec.cast("double"))
    val scored = cands
      .join(packed, Seq("vid"))
      .join(broadcast(lutM), Seq("qid"))
      .select(col("qid"), col("vid"), scoreExpr.as("score"))
    rankTopK(scored, topK)
  }

  /** The row-layout serving core ([[ivfPqTopK]] — also the reference
    * implementation SimilaritySpec pins the packed core against):
    * `attachCodes` turns the candidate (qid, vid) pairs into
    * (qid, vid, sub, code) rows, scored via the broadcast ADC LUT and
    * a (qid, vid) decimal-sum aggregate. */
  private def ivfPqCore(queries: DataFrame, centroids: DataFrame,
                        index: DataFrame, codebook: DataFrame, m: Int,
                        topK: Int, nprobe: Int, idCol: String,
                        vecCol: String,
                        attachCodes: DataFrame => DataFrame,
                        residual: Boolean = false): DataFrame = {
    val (q, cands) = ivfPqCands(queries, centroids, index, nprobe, idCol,
      vecCol, residual)
    val lutR = adcLut(q.select(col("qid"), col("qv")), codebook, m)
      .select(col("qid").as("__lq"), col("sub").as("__ls"),
        col("cid").as("__lc"), col("pd"))
    val scored = attachCodes(cands)
      .join(broadcast(lutR),
        col("qid") === col("__lq") && col("sub") === col("__ls") &&
          col("code") === col("__lc"))
      .groupBy(col("qid"), col("vid"))
      .agg(
        if (residual)
          // qcd is constant within the (qid, vid) group (one probed
          // centroid per candidate); max() reads it deterministically
          graft.queries.Q.sig9(
            (sum(col("pd")) + max(col("qcd"))).cast("double")).as("score")
        else graft.queries.Q.dsumPre(col("pd")).as("score"))
    rankTopK(scored, topK)
  }

  /** MMR (Maximal Marginal Relevance, Carbonell & Goldstein '98)
    * diverse re-ranking: from a per-query candidate pool, pick k items
    * one at a time by argmax of
    * `lambda·rel(c) − (1−lambda)·max_{s∈selected} sim(c, s)` — the
    * standard redundancy-killer between retrieval and a RAG prompt
    * (ten near-identical top hits waste nine context slots).
    *
    * Shape: selection is inherently sequential in k but the frames it
    * touches are BOUNDED — candidates come pre-cut to a per-query
    * top-M, so the pairwise sim matrix is (M²·|Q|) rows and each of
    * the k rounds is an equi-join + argmax over it. The corpus-sized
    * work (scoring + top-M) happens once, upstream, in
    * [[bruteTopK]]/[[lshTopK]]; re-ranking cost is independent of
    * corpus size. Each round's argmax ties break to the smallest
    * candidate id (scores are sig9-derived, so ties are
    * engine-independent); (1−lambda) must be embedded as the SAME
    * double on both engines (a SQL `1 - 0.7` is decimal-exact, one
    * ulp off the engine's double — the PageRank base lesson).
    *
    * @param cands (qid, cid, rel, cv) — per-query candidate pool:
    *              sig9'd relevance + the candidate's vector
    * @return (qid, rank, cid, mmr_score) — rank 1..k per query
    *         (fewer if the pool is smaller); rank-1 score is the raw
    *         relevance (nothing selected yet to be redundant with)
    */
  def mmrRerank(cands: DataFrame, k: Int, lambda: Double): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambda > 0 && lambda < 1, s"lambda must be in (0,1), got $lambda")
    val oml = 1.0 - lambda
    // read by both pair sides, the rank-1 argmax and every round
    val base = cands.select(col("qid"), col("cid"), col("rel"), col("cv"))
      .withColumn("cn", normSq(col("cv"))).transform(Checkpoints.cut)
    val a = base.select(col("qid"), col("cid").as("cid_a"),
      col("cv").as("va"), col("cn").as("na"))
    val b = base.select(col("qid"), col("cid").as("cid_b"),
      col("cv").as("vb"), col("cn").as("nb"))
    val pair = sig9Score(
      a.join(b, "qid").filter(col("cid_a") =!= col("cid_b")),
      Seq("qid", "cid_a", "cid_b"),
      cosine(dot(col("va"), col("vb")), col("na"), col("nb")), "sim")
      .transform(Checkpoints.cut) // read by every one of the k-1 rounds

    def argmaxPerQ(df: DataFrame): DataFrame = {
      val best = df.groupBy("qid").agg(max(col("score")).as("__b"))
      df.join(best, "qid").where(col("score") === col("__b"))
        .groupBy(col("qid"), col("__b")).agg(min(col("cid")).as("cid"))
        .select(col("qid"), col("cid"), col("__b").as("score"))
    }

    var selected = argmaxPerQ(base.select(col("qid"), col("cid"),
        col("rel").as("score")))
      .withColumn("rank", lit(1L))
    for (i <- 2 to k) {
      val rem = base.select(col("qid"), col("cid"), col("rel"))
        .join(selected.select("qid", "cid"), Seq("qid", "cid"), "left_anti")
      val ms = pair
        .join(selected.select(col("qid"), col("cid").as("cid_b")),
          Seq("qid", "cid_b"))
        .groupBy(col("qid"), col("cid_a").as("cid"))
        .agg(max(col("sim")).as("ms"))
      val scored = rem.join(ms, Seq("qid", "cid"))
        .withColumn("score",
          lit(lambda) * col("rel") - lit(oml) * col("ms"))
        .select(col("qid"), col("cid"), col("score"))
      selected = selected
        .unionByName(argmaxPerQ(scored).withColumn("rank", lit(i.toLong)))
        .transform(Checkpoints.cut)
    }
    selected.select(col("qid"), col("rank"), col("cid"),
      col("score").as("mmr_score"))
  }

  /** Embedding near-duplicate pairs: each query row's candidates with
    * cosine >= threshold. Queries broadcast (catalog-probe shape). */
  def nearDupPairs(queries: DataFrame, candidates: DataFrame,
                   threshold: Double, qIdCol: String, cIdCol: String,
                   qVecCol: String, cVecCol: String): DataFrame = {
    val q = queries.select(col(qIdCol).as("qid"), col(qVecCol).as("qv"),
      normSq(col(qVecCol)).as("qn"))
    val c = candidates.select(col(cIdCol).as("cid"), col(cVecCol).as("cv"),
      normSq(col(cVecCol)).as("cn"))
    sig9Score(c.crossJoin(broadcast(q)), Seq("qid", "cid"),
        cosine(dot(col("qv"), col("cv")), col("qn"), col("cn")), "score")
      .filter(col("score") >= threshold)
  }

  /** Greedy k-center (farthest-first traversal) selection — the
    * classic 2-approximation of the metric k-center coverage problem
    * (Gonzalez 1985), used as a DIVERSITY sampler for training data:
    * each round keeps the point farthest from everything already
    * kept, so k rounds produce a spread-out core-set and the returned
    * `dist` column is the (squared) covering-radius sequence.
    *
    * Scale shape: k corpus passes, each ONE map-side projection
    * (least(md, dist-to-newest-center)) plus ONE TakeOrdered(1) —
    * the newest center rides into the plan as a broadcast literal,
    * nothing shuffles, and lineage is cut per round through
    * [[Checkpoints.cut]]. The k driver-side single-row collects are the
    * bounded artifact the operator exists to produce (k = O(10³) at
    * most), same class as the BPE merge table.
    *
    * Determinism: every squared distance is the fixed IEEE chain
    * (nsq(x) + nsq(c)) − 2·dot(x, c) over the native left-to-right
    * dot fold (the sqlFold contract), so md values are bit-identical
    * across engines and partitionings; argmax ties break to the
    * smallest id; only the REPORTED dist is sig9'd. First center =
    * smallest id (deterministic seed). If k exceeds the number of
    * distinct points the tail re-selects deterministically (md = 0
    * everywhere) — callers want k ≤ |distinct|.
    *
    * @return k rows: (rnk, id, dist) — dist NULL for the seed row */
  def kCenterSelect(emb: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = emb.sparkSession
    import spark.implicits._
    val base = Checkpoints.cut(
      emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v")))
    def sqd(v: Column, c: Seq[Float]): Column = {
      val cl = typedlit(c)
      (normSq(v) + normSq(cl)) - lit(2.0) * dot(v, cl)
    }
    val first = base.orderBy(col("id").asc).limit(1).head()
    var picks = Vector((1L, first.getLong(0), Option.empty[Double]))
    var cvec = first.getSeq[Float](1)
    var state = Checkpoints.cut(
      base.withColumn("md", sqd(col("v"), cvec)))
    for (i <- 2 to k) {
      val nxt = state.orderBy(col("md").desc, col("id").asc)
        .limit(1).head()
      picks :+= ((i.toLong, nxt.getLong(0),
        Some(graft.functions.GraftMath.sig9(nxt.getDouble(2)))))
      cvec = nxt.getSeq[Float](1)
      state = Checkpoints.cut(
        state.withColumn("md", least(col("md"), sqd(col("v"), cvec))))
    }
    picks.toDF("rnk", "id", "dist")
  }

  /** Lloyd's k-means over an embedding column — the centroid model
    * behind SemDedup-style cluster pruning and IVF coarse quantizers,
    * trained fully in-engine with a BIT-REPRODUCIBLE trajectory (the
    * Classifier-GD posture: every round's centroids are a bounded
    * k·dim driver artifact re-broadcast as literals, so the same data
    * yields the same model on any partitioning or engine).
    *
    * Deterministic contract: init = the k smallest ids' vectors (cid
    * 0..k−1 in id order); assignment distance is the fixed IEEE chain
    * (nsq(x) + nsq(c)) − 2·dot(x, c) over the left-to-right dot fold
    * (the [[kCenterSelect]] convention), ties to the smallest cid;
    * each new centroid coordinate is sig9(dsum(x)/n) (exact decimal
    * sum, one sig9'd division); an EMPTY cluster keeps its previous
    * centroid (surfaced via n_assigned = 0, never respawned).
    *
    * Scale shape per iteration: assignment is ONE map-side projection
    * (k literal-centroid distances folded through an in-row
    * array_min — no shuffle, no join); the update is ONE
    * (cid, dim)-keyed hash aggregate over the posexploded vectors
    * (map-side partial, k·dim output rows). Lineage is cut per round
    * via [[Checkpoints.cut]].
    *
    * @return k·dim rows: (cid, dim, cval, n_assigned) — the trained
    *         centroids after `iters` rounds in long format, with each
    *         cluster's population from the FINAL assignment pass */
  def kmeans(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = emb.sparkSession
    import spark.implicits._
    import graft.queries.Q
    val base = Checkpoints.cut(
      emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v")))
    var centers: Seq[(Long, Seq[Double])] = base
      .orderBy(col("id").asc).limit(k).collect()
      .sortBy(_.getLong(0)).zipWithIndex
      .map { case (r, i) =>
        (i.toLong, r.getSeq[Float](1).map(_.toDouble).toSeq)
      }.toSeq
    var lastSizes: DataFrame = null
    for (_ <- 1 to iters) {
      val dists = centers.map { case (cid, cv) =>
        val cl = typedlit(cv)
        struct(
          ((normSq(col("v")) + normSq(cl)) - lit(2.0) * dot(col("v"), cl))
            .as("d2"),
          lit(cid).as("cid"))
      }
      val assigned = Checkpoints.cut(base.withColumn("cid",
        array_min(array(dists: _*)).getField("cid")))
      lastSizes = assigned.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_assigned"))
      val means = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cid"), col("dim").cast("long").as("dim"))
        .agg(Q.sig9(Q.dsum(col("x").cast("double")) / count(lit(1)))
          .as("m"))
      val prevLong = centers.flatMap { case (cid, cv) =>
        cv.zipWithIndex.map { case (x, d) => (cid, d.toLong, x) }
      }.toDF("cid", "dim", "prev")
      val updated = prevLong.join(means, Seq("cid", "dim"), "left")
        .select(col("cid"), col("dim"),
          coalesce(col("m"), col("prev")).as("cval"))
        .collect()
      centers = updated.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
        .map { case (cid, rows) =>
          (cid, rows.sortBy(_.getLong(1)).map(_.getDouble(2)).toSeq)
        }
    }
    val centersDf = centers.flatMap { case (cid, cv) =>
      cv.zipWithIndex.map { case (x, d) => (cid, d.toLong, x) }
    }.toDF("cid", "dim", "cval")
    centersDf.join(lastSizes, Seq("cid"), "left")
      .select(col("cid"), col("dim"), col("cval"),
        coalesce(col("n_assigned"), lit(0L)).as("n_assigned"))
  }

  /** Top principal component by power iteration — the embedding-drift
    * / intrinsic-dimension probe ("is this corpus's embedding mass
    * collapsing onto one axis?") and the projection axis for 1-D
    * visualization and whitening checks.
    *
    * Two corpus passes, both map-side + one (dim)-keyed aggregate:
    * (1) per-dimension means; (2) the d×d covariance from a DOUBLE
    * posexplode of each vector (d² terms per row produced map-side —
    * no self-join, no shuffle wider than the d²-row partial
    * aggregate). The spectral solve then runs on the COLLECTED d²-row
    * covariance — a bounded driver artifact (32 KB at d = 64, the
    * kmeans-centroid convention), where distributing 64-row
    * matrix-vector products would be pure overhead.
    *
    * Determinism contract (oracle-replayable end to end): inputs
    * sig9'd; means sig9(dsumStable(sig9(x), 9) / n) — two-pass
    * centering (the CUPED cancellation lesson); covariance terms
    * sig9(c_i·c_j) summed via dsumStable(9), cells sig9(S/(n−1)).
    * The iteration starts at v0 = e_1 and each round computes
    * u_i = fold_{j asc}(+ sig9(m_ij·v_j)) (left-to-right IEEE, the
    * sqlFold contract), nrm = sig9(sqrt(fold_{i asc}(+ sig9(u_i²)))),
    * v_i = sig9(u_i / nrm) — every step exact or bit-identical IEEE
    * on both engines, so the whole trajectory adjudicates like the
    * GD/kmeans ones.
    *
    * @return d rows: (i [1-based dim], loading, lambda, n_vecs) —
    *         lambda = the final iterate's norm (the eigenvalue
    *         estimate); loadings NULL if the covariance is all zero */
  def pcaTop(emb: DataFrame, idCol: String, vecCol: String,
      iters: Int = 8): DataFrame = {
    require(iters >= 1 && iters <= 64,
      s"iters must be in [1, 64], got $iters")
    val spark = emb.sparkSession
    import spark.implicits._
    import graft.queries.Q
    // spread the vectors before the d²-way fan-out: a small embedding
    // table often arrives as ONE input split, and the covariance
    // explode+aggregate would otherwise run on a single task. The
    // partition count is EXPLICIT because AQE sizes partitions by the
    // shuffled BYTES (n×d floats — tiny) and would coalesce right back
    // to one task, blind to the d²-per-row work downstream (measured:
    // 26 s single-task vs ~2 s spread at sf0.1). At cluster scale the
    // table is already many splits and this is one narrow shuffle.
    val base = emb.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .where(col("__v").isNotNull)
      .repartition(emb.sparkSession.sparkContext.defaultParallelism,
        col("__id"))
    val xs = base
      .select(posexplode(col("__v")).as(Seq("__p", "__x")))
      .select((col("__p") + 1).cast("long").as("i"),
        Q.sig9(col("__x").cast("double")).as("x"))
    val muRows = xs.groupBy(col("i"))
      .agg(Q.sig9(Q.dsumStable(col("x"), 9) /
        count(lit(1)).cast("double")).as("mu"),
        count(lit(1)).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .sortBy(_._1)
    val d = muRows.length
    require(d >= 1, "empty embedding frame")
    val nVecs = muRows.head._3
    require(nVecs > 1, "need at least two vectors")
    // fixed-d contract: every vector must carry all d dimensions —
    // ragged input would mix per-dim sample sizes into the (n-1)
    // divisor and null out element_at(muLit, ·) past the short end,
    // silently corrupting the covariance. Fail loudly instead.
    require(muRows.forall(_._3 == nVecs),
      s"pcaTop: ragged embedding arrays — per-dim counts " +
        s"${muRows.map(_._3).min}..${muRows.map(_._3).max} differ; " +
        s"all vectors must share one length d=$d")
    val muLit = array(muRows.map(m => lit(m._2)): _*)
    // d^2 centered products per vector, produced MAP-SIDE (posexplode
    // twice over the retained array — no self-join)
    val cov = base
      .select(posexplode(col("__v")).as(Seq("__p1", "__x1")), col("__v"))
      .select((col("__p1") + 1).cast("long").as("i"),
        Q.sig9(Q.sig9(col("__x1").cast("double")) -
          element_at(muLit, col("__p1") + 1)).as("ci"),
        posexplode(col("__v")).as(Seq("__p2", "__x2")))
      .select(col("i"), (col("__p2") + 1).cast("long").as("j"),
        Q.sig9(col("ci") * Q.sig9(Q.sig9(col("__x2").cast("double")) -
          element_at(muLit, col("__p2") + 1))).as("t"))
      .groupBy(col("i"), col("j"))
      .agg(Q.sig9(Q.dsumStable(col("t"), 9) /
        lit((nVecs - 1).toDouble)).as("m"))
    // bounded driver artifact: the d^2 covariance cells
    val mArr = Array.ofDim[Double](d + 1, d + 1)
    cov.collect().foreach(r =>
      mArr(r.getLong(0).toInt)(r.getLong(1).toInt) = r.getDouble(2))
    import graft.functions.GraftMath.sig9
    var v = Array.tabulate(d + 1)(i => if (i == 1) 1.0 else 0.0)
    var lambda = 0.0
    var degenerate = false
    (1 to iters).foreach { _ =>
      if (!degenerate) {
        val u = Array.tabulate(d + 1) { i =>
          if (i == 0) 0.0
          else (1 to d).foldLeft(0.0)((acc, j) =>
            acc + sig9(mArr(i)(j) * v(j)))
        }
        val nrm = sig9(math.sqrt(
          (1 to d).foldLeft(0.0)((acc, i) => acc + sig9(u(i) * u(i)))))
        if (nrm == 0.0) degenerate = true
        else {
          v = Array.tabulate(d + 1)(i =>
            if (i == 0) 0.0 else sig9(u(i) / nrm))
          lambda = nrm
        }
      }
    }
    (1 to d).map { i =>
      (i.toLong,
        if (degenerate) None else Some(v(i)),
        if (degenerate) None else Some(lambda), nVecs)
    }.toDF("i", "loading", "lambda", "n_vecs")
  }
}
