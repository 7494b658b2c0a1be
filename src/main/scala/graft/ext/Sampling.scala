package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for corpus construction.
  *
  * Training-data pipelines re-weight sources (web 1 epoch, books 3,
  * code 0.5, ...) by sampling. rand()-based sampling is useless there:
  * re-runs, retries, and incremental additions must make the SAME
  * keep/drop decision per document, or the corpus drifts and ablations
  * don't reproduce. So the sampling coin is a pure function of the
  * document id: a salted portable hash mapped to [0, 1), compared
  * against the stratum's rate. Embarrassingly parallel, no shuffle,
  * and adding documents later never flips an earlier decision.
  */
object Sampling {

  private val M = 1000000L

  /** Deterministic uniform [0,1) coin from a key column (salted so
    * different sampling decisions are independent). */
  def unitHash(key: Column, salt: String): Column =
    (Hashing.hash60(concat(lit(salt + ":"), key.cast("string"))) % M)
      .cast("double") / M.toDouble

  /** Coordinated bottom-k key sample (Cohen & Kaplan 2007 "Summarizing
    * data using bottom-k sketches"): the sampled keys are exactly the
    * k−1 distinct keys whose salted hashes fall strictly below the
    * k-th smallest hash θ. Because the hash is a pure function of the
    * key, every table sampled with the SAME (k, salt) picks the SAME
    * keys — coordinated samples are JOINABLE (join synopses: filter
    * fact tables to the sampled dimension keys and estimate join
    * aggregates from the tiny consistent slice), and the sample merges
    * like a sketch (bottom-k of a union = bottom-k of bottom-k's).
    * Conditioned on θ, each sampled key was included with probability
    * θ/H (H = 2^60), so Horvitz–Thompson totals scale by H/θ.
    *
    * Scale shape: the bottom-k comes from the [[graft.ext.Sketch]]
    * keyed-window build (never a global sort) packed to one row; keys
    * join against the broadcast θ. Degenerate inputs with fewer than k
    * distinct keys return ALL keys with theta = 0 marking the sample
    * exact (scale factor 1).
    *
    * @return (keyCol, h, theta) — one row per sampled key */
  def coordinatedKeySample(df: DataFrame, keyCol: String, k: Int,
      salt: String): DataFrame = {
    require(k >= 2, s"coordinatedKeySample: need k >= 2, got $k")
    import org.apache.spark.sql.expressions.Window
    val hashed = df.where(col(keyCol).isNotNull)
      .select(col(keyCol)).distinct()
      .withColumn("h", Hashing.hash60(concat(lit(s"$salt:"),
        col(keyCol).cast("string"))))
    // per-partition-free bottom-k: global candidates via one keyed
    // window over a CONSTANT shard of the hash itself (bounded 64
    // shards), then the packed merge — same shape as kmvSketch
    val w = Window.partitionBy(col("__sh")).orderBy(col("h"))
    val theta = hashed
      .withColumn("__sh", pmod(col("h"), lit(64L)))
      .withColumn("__r", row_number().over(w))
      .where(col("__r") <= k)
      .agg(slice(array_sort(collect_list(col("h"))), 1, k).as("arr"))
      .select(
        when(size(col("arr")) < k, lit(0L))
          .otherwise(element_at(col("arr"), k)).as("theta"))
    hashed.crossJoin(broadcast(theta))
      .where(col("theta") === 0L || col("h") < col("theta"))
      .select(col(keyCol), col("h"), col("theta"))
  }

  /** Per-stratum literal lookup as a CASE chain — ONE definition shared
    * by [[stratified]] and [[epochMix]] so the two sampling halves can
    * never diverge on stratum matching (conditions are disjoint, fold
    * order is irrelevant; a NULL stratum falls through to the default). */
  private def stratumCase(stratumCol: String, values: Map[String, Double],
                          default: Double): Column =
    values.foldLeft(lit(default)) { case (acc, (s, v)) =>
      when(col(stratumCol) === s, lit(v)).otherwise(acc)
    }

  /** Per-stratum keep/drop: `rates` maps stratum value -> keep rate,
    * `defaultRate` covers unlisted strata. Output keeps every input row
    * with its coin and decision (filter on `keep` to materialize the
    * sample; keeping the flag makes drop accounting auditable). */
  def stratified(df: DataFrame, keyCol: String, stratumCol: String,
                 rates: Map[String, Double], defaultRate: Double,
                 salt: String = "mix"): DataFrame = {
    val rate = stratumCase(stratumCol, rates, defaultRate)
    df.withColumn("u", unitHash(col(keyCol), salt))
      .withColumn("keep", col("u") < rate)
  }

  /** Deterministic train/val/test split assignment: the same salted
    * hash coin as [[stratified]], cut at the cumulative weight
    * boundaries. Appending documents later never reassigns an earlier
    * one, and the same key always lands in the same split across runs
    * and engines — the property that keeps eval sets honest. Cumulative
    * boundaries are computed once in driver Scala and embedded as
    * literals, so float-summation order is fixed.
    *
    * `weights`: ordered (name, weight) pairs summing to 1; the last
    * split takes the remainder so rounding can never orphan a row. */
  def splitAssign(df: DataFrame, keyCol: String,
                  weights: Seq[(String, Double)],
                  salt: String = "split"): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 >= 0) &&
      math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      "weights must be non-negative and sum to 1")
    val u = unitHash(col(keyCol), salt)
    val cum = weights.map(_._2).scanLeft(0.0)(_ + _).tail
    val split = weights.init.zip(cum.init)
      .foldRight(lit(weights.last._1): Column) { case (((name, _), c), acc) =>
        when(u < c, lit(name)).otherwise(acc)
      }
    df.withColumn("u", u).withColumn("split", split)
  }

  /** Temperature-based stratum re-weighting (the multilingual-sampling
    * move, e.g. XLM-R: p_s ∝ n_s^alpha with alpha < 1 upsampling tail
    * strata relative to their natural share). Sampling weight
    * w_s = n_s^alpha / Σ n_s^alpha; the per-stratum acceptance rate is
    * min(1, targetFrac·N·w_s / n_s), applied with the same deterministic
    * per-key hash coin as [[stratified]]. Re-runs are bit-identical; the
    * per-key coin is append-stable, but the RATES recompute with corpus
    * composition (inherent to temperature mixing — the natural shares
    * move), so pin a rate schedule (the broadcast `rates` frame) when
    * incremental batches must agree with a frozen mix.
    *
    * Determinism contract: the weight normalizer Σ n_s^alpha routes
    * through the decimal order-independent sum and the final rate is
    * sig9-normalized BEFORE the coin comparison, so both engines gate on
    * the identical number. Per-stratum counts and the one-row totals
    * frame are broadcast; the corpus side is one map-side pass. */
  def temperatureMix(df: DataFrame, keyCol: String, stratumCol: String,
                     targetFrac: Double, alpha: Double = 0.5,
                     salt: String = "temp"): DataFrame = {
    import graft.queries.Q
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("n_s"))
    val wr = counts.withColumn("w_raw", pow(col("n_s").cast("double"), alpha))
    val tot = wr.agg(Q.dsum(col("w_raw")).as("denom"),
      sum(col("n_s")).as("n_total"))
    val rates = wr.crossJoin(broadcast(tot))
      .withColumn("rate", Q.sig9(
        least(lit(1.0), lit(targetFrac) * col("n_total").cast("double")
          * col("w_raw") / col("denom") / col("n_s").cast("double"))))
      .select(col(stratumCol).as("__stratum"), col("n_s"), col("rate"))
    // null-safe join: a NULL stratum is a stratum (groupBy keeps it as
    // a group; a plain equi-join would silently drop its rows and break
    // the family's keep-every-row audit contract)
    df.join(broadcast(rates), col(stratumCol) <=> col("__stratum"), "left")
      .drop("__stratum")
      .withColumn("u", unitHash(col(keyCol), salt))
      .withColumn("accept", coalesce(col("u") < col("rate"), lit(false)))
  }

  /** Epoch-aware oversampling — the other half of source re-weighting:
    * [[temperatureMix]] subsamples heavy strata, this REPEATS light
    * high-value ones (the books-see-3-epochs move in published LLM
    * data mixes). Each row emits floor(e_s) copies plus one more when
    * its deterministic coin lands under frac(e_s), so the stratum's
    * expected multiplicity is exactly e_s while every decision stays a
    * pure function of the key (re-runs identical, appends never flip
    * earlier rows). Rows with zero copies (e_s < 1 and coin high) drop
    * out. Output: one row per (row, copy) with `copy_idx` 0..n-1 — the
    * copy index is the downstream shuffle/pack discriminator so
    * repeated copies can land in different training sequences.
    * Embarrassingly parallel: no shuffle, the per-row explode is
    * bounded by ceil(max epochs). */
  def epochMix(df: DataFrame, keyCol: String, stratumCol: String,
               epochs: Map[String, Double], defaultEpochs: Double = 1.0,
               salt: String = "epoch"): DataFrame = {
    // finiteness + sanity bound: floor(Infinity) would defer to an
    // obscure runtime sequence/explode failure, and a finite 1e9 is an
    // accidental 1e9x row explosion, not a data mix
    def sane(v: Double) =
      java.lang.Double.isFinite(v) && v >= 0 && v <= 1000
    require(epochs.values.forall(sane) && sane(defaultEpochs),
      "epochs must be finite and in [0, 1000]")
    val e = stratumCase(stratumCol, epochs, defaultEpochs)
    df.withColumn("u", unitHash(col(keyCol), salt))
      .withColumn("n_copies",
        (floor(e) + when(col("u") < e - floor(e), 1L).otherwise(0L))
          .cast("long"))
      .withColumn("copy_idx",
        explode(when(col("n_copies") > 0,
          sequence(lit(0L), col("n_copies") - 1))
          .otherwise(array().cast("array<bigint>"))))
  }

  /** Cap each stratum at `maxPerStratum` rows ("at most N documents per
    * domain"): rows ranked by the salted hash coin (tie-broken by key)
    * so the retained subset is a uniform, reproducible sample of the
    * stratum, not whatever N arrived first. One keyed window shuffle;
    * heavy strata are exactly the ones the cap shrinks. */
  def capPerStratum(df: DataFrame, keyCol: String, stratumCol: String,
                    maxPerStratum: Int, salt: String = "cap"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(unitHash(col(keyCol), salt).asc, col(keyCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxPerStratum)
      .drop("__rn")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis 2006,
    * algorithm A-Res): keep the k rows maximizing u^(1/w) where u is a
    * uniform draw — inclusion probability proportional to weight, no
    * replacement, single pass. The draw here is the deterministic
    * salted hash coin (re-runs and retries keep the same sample; the
    * rand() version cannot build reproducible eval panels or
    * importance-weighted subsets).
    *
    * Portability: ranked by sig9(ln(u)/w) — the same ordering as
    * u^(1/w) (monotone transform) but with the libm step normalized to
    * 9 significant digits ([[graft.queries.Q.sig9]]) so both engines
    * rank identical keys; ln spreads values instead of compressing
    * them against 1.0, so the 9 digits resolve any weight scale
    * (selection order is invariant to weight rescaling — only relative
    * weights matter). Ties (coins collide at the 1e-6 resolution)
    * break on the row key. u ∈ (0, 1]: never a log(0).
    *
    * Rows with NULL or non-positive weight are excluded (E-S: w=0 is
    * never selected). With `stratumCol`, k rows per stratum via a
    * stratum-keyed window (bounded partitions); without, a global
    * top-k (TakeOrdered — per-partition heads merge, no global sort)
    * ranked after the limit on the ≤k-row result (the O(k) small-frame
    * window exception documented in PLANS.md).
    *
    * Output: input columns + `ws_rank` (1-based selection rank). */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
                     k: Int, seed: String,
                     stratumCol: Option[String] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val h = Hashing.hash60(concat(lit(s"wsample:$seed:"),
      col(keyCol).cast("string"))) % M
    val u = (h + 1).cast("double") / (M + 1).toDouble
    val key9 = graft.queries.Q.sig9(log(u) / col(weightCol).cast("double"))
    val base = df
      .where(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__wk", key9)
    stratumCol match {
      case Some(s) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(s))
          .orderBy(col("__wk").desc, col(keyCol).asc)
        base.withColumn("ws_rank", row_number().over(w).cast("long"))
          .filter(col("ws_rank") <= k)
          .drop("__wk")
      case None =>
        val top = base.orderBy(col("__wk").desc, col(keyCol).asc).limit(k)
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("__wk").desc, col(keyCol).asc)
        top.withColumn("ws_rank", row_number().over(w).cast("long"))
          .drop("__wk")
    }
  }

  /** Exact-size stratified sample: EXACTLY min(totalN, n) rows total,
    * allocated across strata by Hamilton largest-remainder rounding of
    * the proportional quotas (the apportionment rule that never
    * over/under-shoots and never strands a row to float rounding), and
    * selected within each stratum as the quota's smallest salted
    * coins — deterministic across runs, partitionings and engines.
    * [[stratified]] keeps a RATE per stratum (append-stable,
    * approximate size); this keeps a SIZE (exact, and therefore — by
    * construction, not by accident — NOT append-stable: adding rows
    * moves quotas and thresholds; pin the input snapshot).
    *
    * Scale shape: quota math runs on the O(#strata) counts frame
    * (integer-exact through DECIMAL(38,0) products — n·N overflows
    * Long at ~10^10·10^9; the one window is over strata,
    * post-aggregate bounded, the G2 convention). Selection is the
    * percentRank binned prefix sum over coins per stratum — NO
    * per-stratum global sort, so a hot stratum cannot pin a task:
    * whole coin-groups below the quota pass directly, and only the
    * single boundary coin-group (hash-collision-sized) pays a window,
    * ordered by key (the budgetSelect boundary convention).
    *
    * Selected set == "row_number over (stratum ORDER BY coin, key)
    * <= quota" — the naive form the oracle replays.
    *
    * @return (stratumCol, keyCol) of the selected rows */
  def stratifiedExact(df: DataFrame, keyCol: String, stratumCol: String,
      totalN: Long, salt: String = "strat"): DataFrame = {
    require(totalN >= 0, s"totalN must be >= 0, got $totalN")
    import org.apache.spark.sql.expressions.Window
    // 31-bit coin: exact in the double percentRank bins; collisions
    // land in the boundary window and break on key
    val coin = Hashing.hash60(
      concat(lit(s"$salt:"), col(keyCol).cast("string"))) % Hashing.P
    val base = df.where(col(stratumCol).isNotNull)
      .select(col(stratumCol).as("__g"), col(keyCol).as("__k"),
        coin.as("__hm"))
    val counts = base.groupBy(col("__g")).agg(count(lit(1)).as("__nh"))
    val tot = counts.agg(sum(col("__nh")).cast("long").as("__n"))
    val q0 = counts.crossJoin(broadcast(tot))
      .withColumn("__NN", least(lit(totalN), col("__n")))
      .withColumn("__qb",
        expr("(CAST(__nh AS DECIMAL(38,0)) * __NN) div __n"))
      .withColumn("__rem",
        expr("CAST((CAST(__nh AS DECIMAL(38,0)) * __NN) % __n AS BIGINT)"))
    val sums = q0.agg(sum(col("__qb")).cast("long").as("__sb"),
      min(col("__NN")).as("__NNm"))
    val wRem = Window.orderBy(col("__rem").desc, col("__g").asc)
    val quotas = q0
      .withColumn("__rk", row_number().over(wRem).cast("long"))
      .crossJoin(broadcast(sums))
      .select(col("__g"), (col("__qb") +
        when(col("__rk") <= col("__NNm") - col("__sb"), lit(1L))
          .otherwise(lit(0L))).as("__quota"))
    val pr = Profile.percentRank(base, Seq("__g"), "__hm")
      .select(col("__g"), col("s"), col("cnt"), col("n_below"))
    val dec = pr.join(broadcast(quotas), Seq("__g"))
      .withColumn("__take",
        when(col("n_below") + col("cnt") <= col("__quota"),
          lit(Long.MaxValue))
          .when(col("n_below") < col("__quota"),
            col("__quota") - col("n_below"))
          .otherwise(lit(0L)))
      .where(col("__take") > 0L)
      .select(col("__g"), col("s"), col("__take"))
    val rows = base.withColumn("s", col("__hm").cast("double"))
      .join(dec, Seq("__g", "s"))
    val whole = rows.where(col("__take") === Long.MaxValue)
    val wB = Window.partitionBy(col("__g"), col("s"))
      .orderBy(col("__k").asc)
    val boundary = rows.where(col("__take") =!= Long.MaxValue)
      .withColumn("__rn", row_number().over(wB).cast("long"))
      .where(col("__rn") <= col("__take"))
      .drop("__rn")
    whole.unionByName(boundary)
      .select(col("__g").as(stratumCol), col("__k").as(keyCol))
  }

  /** Deterministic epoch shuffle + shard layout: assign every row an
    * exact global position 0..n-1 in a reproducible pseudo-random
    * training order (rank by salted portable hash of the key, ties to
    * the key), plus the balanced shard it lands in — the
    * randomize-then-shard step between corpus construction and block
    * writing. `rand()` cannot do this job (re-runs must produce the
    * same order for resumable training and ablation parity), and the
    * obvious `row_number() OVER (ORDER BY hash)` is a GLOBAL sort — a
    * single-reducer rank that dies at corpus scale.
    *
    * Scale shape — the Packing / [[Prefix]] two-phase prefix sum, with a
    * twist that makes it immune to the id-range caveat documented on
    * [[Packing.packSequences]]: the bucket is the hash value's own
    * high bits (`h div 2^60/nBuckets`), which is monotone in the rank
    * key BY CONSTRUCTION and uniform because h is — so bucket sizes
    * concentrate at n/nBuckets regardless of key distribution, no
    * densify step ever needed. Within-bucket `row_number` runs on
    * bounded partitions; per-bucket counts reduce to ONE O(nBuckets)
    * row whose array fold yields each bucket's base (the
    * Curriculum/league-scalar lint posture — no global-order window
    * anywhere), joined back un-hinted (AQE broadcasts while small).
    *
    * `pos` is exact and gap-free, so `shard = pos div shardSize` gives
    * every shard except the last exactly `shardSize` rows, in training
    * order — a block writer partitions by `shard` and sorts by
    * `shard_pos`. By design NOT append-stable: a shuffle is an
    * artifact of one corpus version + seed (new docs must be able to
    * land anywhere in the order); version the output like any index.
    *
    * Output: key column, `pos`, `shard`, `shard_pos`. Integer `div`
    * arithmetic throughout — positions in a 100 TB corpus exceed
    * 2^53. */
  /** Token-budget corpus selection: keep the highest-`scoreCol`
    * documents whose `tokensCol` totals fit inside `budget` — the
    * "fill a 10T-token pretraining budget with the best documents"
    * primitive. Selection is by SCORE GROUP, descending: every
    * document of a score group whose cumulative token total (inclusive
    * of the group) fits the budget is selected; the single BOUNDARY
    * group where the cumulative crosses the budget fills greedily in
    * ascending-id order until its remaining budget is exhausted. Tied
    * scores are therefore never split arbitrarily — id order decides,
    * reproducibly.
    *
    * Plan: one group-by collapses the corpus to distinct-score token
    * totals; the cross-group cumulative is [[Prefix.below]] on the
    * NEGATED score (descending order, no global window at any size);
    * full-group selection is a semi-join of the corpus against the
    * fitting scores; only the boundary GROUP — one score value — sees
    * a per-id running window,
    * sized by that group alone (documented boundary cost, same family
    * as the post-aggregate O(groups) windows). Integer token sums
    * throughout — no float contract beyond the scores' own values.
    *
    * @return selected docs: (idCol, score, tokens, boundary) */
  def budgetSelect(docs: DataFrame, idCol: String, scoreCol: String,
      tokensCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val d = docs.select(col(idCol), col(scoreCol).cast("double").as("s"),
        col(tokensCol).cast("long").as("tk"))
      .where(col("s").isNotNull && col("tk").isNotNull)
    val g = d.groupBy(col("s")).agg(sum(col("tk")).as("gtk"))
      .withColumn("o", -col("s")) // ascending o == descending score
      .transform(Checkpoints.cut) // read by both Prefix.below passes
    val cum = Prefix.below(g, Nil, "o", Seq("gtk"))
      .select(col("s"), col("gtk"), col("below_gtk").as("before"))
    val fullScores = cum.where(col("before") + col("gtk") <= budget)
      .select(col("s"))
    val boundary = cum
      .where(col("before") <= budget && col("before") + col("gtk") > budget)
      .select(col("s"), (lit(budget) - col("before")).as("rb"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("s")).orderBy(col(idCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val boundaryDocs = d.join(broadcast(boundary), Seq("s"))
      .withColumn("pfx", sum(col("tk")).over(wB))
      .where(col("pfx") <= col("rb"))
      .select(col(idCol), col("s"), col("tk"), lit(true).as("boundary"))
    // semi-join, NOT a broadcast hint: the fitting-score set is
    // distinct-score-sized (corpus-scale in the worst case) — let
    // Catalyst/AQE pick the strategy from runtime stats
    d.join(fullScores, Seq("s"), "left_semi")
      .select(col(idCol), col("s"), col("tk"), lit(false).as("boundary"))
      .unionByName(boundaryDocs)
      .select(col(idCol), col("s").as("score"), col("tk").as("tokens"),
        col("boundary"))
  }

  def epochShuffle(df: DataFrame, keyCol: String, seed: String,
                   shardSize: Long, nBuckets: Int = 256): DataFrame = {
    require(shardSize > 0, "shardSize must be positive")
    require(nBuckets > 0 && (nBuckets & (nBuckets - 1)) == 0,
      "nBuckets must be a power of two (exact 2^60 bucket split)")
    val bucketWidth = (1L << 60) / nBuckets
    val b = df.select(col(keyCol).as("key"))
      .withColumn("h",
        Hashing.hash60(concat(lit(seed + ":"), col("key").cast("string"))))
      .withColumn("bkt", expr(s"h div ${bucketWidth}L"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bkt")).orderBy(col("h").asc, col("key").asc)
    val within = b.withColumn("local", row_number().over(wIn).cast("long") - 1L)
    // per-bucket bases: prefix over the bucket axis inside ONE
    // O(nBuckets) row (array fold) — no unpartitioned window
    val bases = b.groupBy(col("bkt")).agg(count(lit(1)).as("bkt_n"))
      .agg(array_sort(collect_list(struct(col("bkt"), col("bkt_n")))).as("a"))
      .select(explode(transform(col("a"), (x, i) =>
        struct(x.getField("bkt").as("bkt"),
          aggregate(slice(col("a"), lit(1), i), lit(0L),
            (acc, y) => acc + y.getField("bkt_n")).as("base")))).as("p"))
      .select(col("p.bkt").as("bkt"), col("p.base").as("base"))
    within.join(bases, Seq("bkt"))
      .withColumn("pos", col("base") + col("local"))
      .withColumn("shard", expr(s"pos div ${shardSize}L"))
      .withColumn("shard_pos", col("pos") - col("shard") * shardSize)
      .select(col("key").as(keyCol), col("pos"), col("shard"),
        col("shard_pos"))
  }

  /** Neyman-optimal stratified sample allocation — how to SPLIT a
    * fixed labeling/inspection budget B across strata: n_h ∝ N_h·σ_h
    * (big AND internally-variable strata earn more samples; a huge
    * but constant stratum needs almost none). This is the design-time
    * complement of [[stratifiedExact]]: first decide the per-stratum
    * budgets here, then draw them deterministically.
    *
    * Integerization is classic largest-remainder (Hamilton): floor
    * every ideal share, hand the R = B − Σfloor leftover units to the
    * R largest sig9'd remainders (ties → stratum ascending), then cap
    * each allocation at the stratum's row count. Saturation is NOT
    * redistributed (single-pass contract, documented): with a budget
    * near a stratum's size, inspect `ideal` vs `n_alloc`. A
    * zero-signal frame (every σ = 0 or NULL) allocates nothing.
    *
    * Scale shape: one stratum-keyed moment aggregate; the
    * integerization runs on the bounded strata frame inside ONE array
    * fold (strata are categorical by design — the ipwAte convention).
    *
    * @return per stratum: (stratum, n_rows, sd, weight, ideal,
    *         n_alloc) */
  def neymanAllocation(df: DataFrame, stratumCol: String,
      valCol: String, budget: Long): DataFrame = {
    import graft.queries.Q
    import org.apache.spark.sql.types.{DoubleType, LongType}
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val strata = df
      .select(col(stratumCol).cast("string").as("stratum"),
        col(valCol).cast("double").as("v"))
      .where(col("stratum").isNotNull && col("v").isNotNull)
      .groupBy(col("stratum"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        Q.dsum(col("v")).as("s1"),
        Q.dsum(Q.sig9(col("v") * col("v"))).as("s2"))
      .withColumn("sd", when(col("n_rows") > 1, Q.sig9(sqrt(
        greatest(lit(0.0), Q.sig9(
          (col("s2") - Q.sig9(col("s1") * col("s1")) /
            col("n_rows").cast(DoubleType)) /
            (col("n_rows") - 1).cast(DoubleType)))))))
      .withColumn("weight",
        coalesce(Q.sig9(col("n_rows").cast(DoubleType) * col("sd")),
          lit(0.0)))
    val tot = strata.agg(Q.dsum(col("weight")).as("w_total"))
    val ideal = strata.crossJoin(broadcast(tot))
      .withColumn("ideal", when(col("w_total") > 0, Q.sig9(
        col("weight") / col("w_total") * lit(budget.toDouble)))
        .otherwise(lit(0.0)))
      .withColumn("fl", floor(col("ideal")).cast(LongType))
      .withColumn("rem", Q.sig9(col("ideal") - col("fl")))
    // ONE bounded array row, sorted (remainder desc, stratum asc):
    // index < R earns the +1; then cap at n_rows
    val packed = ideal.agg(
      array_sort(collect_list(struct(
        (-col("rem")).as("negrem"), col("stratum").as("stratum"),
        col("n_rows").as("n_rows"), col("sd").as("sd"),
        col("weight").as("weight"), col("ideal").as("ideal"),
        col("fl").as("fl")))).as("arr"),
      coalesce(sum(col("fl")), lit(0L)).as("fl_total"),
      max(col("w_total")).as("w_total"))
    val r = lit(budget) - col("fl_total")
    packed.select(col("w_total"),
      explode(transform(col("arr"), (x, i) =>
        struct(x.getField("stratum").as("stratum"),
          x.getField("n_rows").as("n_rows"), x.getField("sd").as("sd"),
          x.getField("weight").as("weight"),
          x.getField("ideal").as("ideal"),
          least(x.getField("n_rows"),
            x.getField("fl") + when(i < r, 1L).otherwise(0L))
            .as("n_alloc")))).as("x"))
      .select(col("x.stratum").as("stratum"),
        col("x.n_rows").as("n_rows"), col("x.sd").as("sd"),
        col("x.weight").as("weight"), col("x.ideal").as("ideal"),
        when(col("w_total") > 0, col("x.n_alloc")).otherwise(lit(0L))
          .as("n_alloc"))
  }
}
