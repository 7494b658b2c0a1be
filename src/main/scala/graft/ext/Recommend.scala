package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Item-item collaborative filtering over co-occurrence baskets —
  * "customers who bought X also bought Y", the serving table behind
  * most production recommenders (Linden/Smith/York, IEEE Internet
  * Computing 2003).
  *
  * Similarity is co-occurrence cosine: sim(a, b) = n_ab /
  * sqrt(n_a * n_b) where n_x counts baskets containing x and n_ab
  * baskets containing both. All counts are exact integers; the cosine
  * is one sig9'd IEEE expression, so rankings are deterministic and
  * engine-portable.
  *
  * 100 TB shape: pair generation is the classic quadratic trap — one
  * power basket with 10^5 items yields 10^10 pairs. Two guards keep it
  * linear-ish and are part of the CONTRACT, not tuning hints:
  * `maxBasketSize` drops degenerate baskets before the self-join (a
  * crawler hitting every item carries no preference signal), and
  * `minSupport` prunes rare items before pairing (their cosines are
  * noise). What remains is a basket-keyed equi-join — partial
  * map-side aggregation, no window until the final bounded top-k per
  * item (rank over at most the surviving item count, keyed by item).
  */
object Recommend {

  /** Top-k most-similar items per item, by co-occurrence cosine.
    *
    * Pair generation is the basket-array explode (group each basket's
    * distinct items into one sorted array, explode the a < b pairs
    * map-side), NOT a basket-keyed self-join: the explode produces the
    * identical pair multiset with ONE basket-keyed shuffle (the
    * groupBy) instead of re-shuffling the kept rows into a self-join,
    * and its fan-out is bounded by the already-applied basket-size
    * guard. Support pruning and the basket guard apply to the pair
    * stream as joins against the (small by construction) pruned item
    * table — broadcast under the measured budget, plain equi-joins
    * past it — and the guard's VIOLATOR set (baskets over
    * `maxBasketSize`, contractually rare at any scale: the guard
    * exists to drop degenerate outliers) anti-joins broadcast. The
    * only shuffles that grow with data are the basket groupBy and the
    * (a, b) pair-count aggregate (map-side partial).
    *
    * @param baskets    (basketCol, itemCol) rows; duplicates collapse.
    * @param minSupport items in fewer baskets than this are dropped
    *                   BEFORE pairing.
    * @param topK       neighbors kept per item (cosine desc, item asc).
    * @param maxBasketSize baskets with more distinct items than this
    *                   are dropped before pairing.
    * @param prebuilt   optional shared frames derived from `baskets`:
    *                   (distinct (basketCol, itemCol) rows,
    *                    per-basket a<b distinct pair rows
    *                    (basketCol, a, b)). Must be exactly what this
    *                   method would derive itself — the caller owns
    *                   that contract (in-repo: the shared
    *                   co-purchase result of the graph family).
    */
  def itemItemCf(baskets: DataFrame, basketCol: String, itemCol: String,
      minSupport: Int, topK: Int, maxBasketSize: Int,
      prebuilt: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val b = prebuilt.map { case (bi, _) =>
      bi.select(col(basketCol).as("__b"), col(itemCol).as("__i"))
        .where(col("__b").isNotNull && col("__i").isNotNull)
    }.getOrElse(baskets
      .where(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .distinct())

    // per-item basket counts, support-pruned; checkpointed — the
    // basket-size guard and both post-aggregate count attaches fold
    // over it, and as a fresh aggregate each use would re-run the
    // distinct scan (guide §5: cheap lineage cut for a 3x-read frame)
    val itemN = b.groupBy("__i").agg(count(lit(1)).as("__n"))
      .where(col("__n") >= minSupport)
      .transform(Checkpoints.cut)
    val itemSide: DataFrame => DataFrame =
      if (Graph.measure(itemN)._2 <= Graph.broadcastBudget(
          baskets.sparkSession)) (df: DataFrame) => broadcast(df)
      else (df: DataFrame) => df

    // degenerate-basket guard (computed AFTER support pruning so the
    // size reflects the items that would actually pair); the VIOLATOR
    // set is what joins — rare by contract, so it broadcasts at any
    // scale where the guard is doing its documented job
    val badBaskets = b.join(itemSide(itemN.select(col("__i"))), "__i")
      .groupBy("__b").agg(count(lit(1)).as("__sz"))
      .where(col("__sz") > maxBasketSize)
      .select("__b")

    val rawPairs = prebuilt.map { case (_, pf) =>
      pf.select(col(basketCol).as("__b"), col("a"), col("b"))
        .where(col("__b").isNotNull)
    }.getOrElse {
      val ord = b.groupBy("__b")
        .agg(array_sort(collect_list(col("__i"))).as("ps"))
      // cut first, so the fan-out below runs at cluster width instead
      // of the AQE-coalesced partitions of the groupBy (guide §2.6)
      Checkpoints.spread(Checkpoints.cut(ord))
        .select(col("__b"), explode(col("ps")).as("a"), col("ps"))
        .select(col("__b"), col("a"), explode(col("ps")).as("b"))
        .where(col("a") < col("b"))
    }

    // support-prune both pair sides, drop guarded baskets, then ONE
    // (a, b) count aggregate; na/nb attach AFTER the aggregate on the
    // bounded distinct-pair frame (guide §2.3 — project early, carry
    // two longs less through the big shuffle)
    val nab = rawPairs
      .join(itemSide(itemN.select(col("__i").as("a"))), "a")
      .join(itemSide(itemN.select(col("__i").as("b"))), "b")
      .join(broadcast(badBaskets), Seq("__b"), "left_anti")
      .groupBy(col("a").as("ia"), col("b").as("ib"))
      .agg(count(lit(1)).as("nab"))
    val cos = graft.queries.Q.sig9(
      col("nab").cast("double") /
        sqrt(col("na").cast("double") * col("nb").cast("double")))
    // cosine computed ONCE per distinct pair, and both directions come
    // out of ONE explode — the pair-count subtree has a single
    // consumer, so it runs once with no lineage cut (a symmetrizing
    // union would read it twice)
    val sym = nab
      .join(itemSide(itemN.select(col("__i").as("ia"),
        col("__n").as("na"))), "ia")
      .join(itemSide(itemN.select(col("__i").as("ib"),
        col("__n").as("nb"))), "ib")
      .withColumn("cosine", cos)
      .select(explode(array(
          struct(col("ia").as("item"), col("ib").as("neighbor")),
          struct(col("ib").as("item"), col("ia").as("neighbor")))).as("e"),
        col("nab"), col("cosine"))
      .select(col("e.item").as("item"), col("e.neighbor").as("neighbor"),
        col("nab"), col("cosine"))

    val w = Window.partitionBy(col("item"))
      .orderBy(col("cosine").desc, col("neighbor").asc)
    sym.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= topK)
      .select(col("item"), col("rnk").cast("long").as("rnk"),
        col("neighbor"), col("nab").cast("long").as("n_both"),
        col("cosine"))
  }

  /** Rank-2 alternating least squares matrix factorization
    * (Zhou et al. 2008, "Large-scale Parallel Collaborative
    * Filtering") over an implicit-count ratings frame — the latent-
    * factor recommender beside [[itemItemCf]]'s memory-based one.
    *
    * k = 2 is fixed so the per-entity normal equations
    * (XᵀX + λI)p = Xᵀr solve in CLOSED FORM (2×2 cofactor inverse) —
    * no per-group matrix library, no driver-side solver: each half-
    * step is ONE ratings⋈factors equi-join + ONE keyed aggregate of
    * five moment columns, then five scalar expressions. That is the
    * full 100 TB shape — factors co-partition with the join key and
    * nothing but the two shuffles moves data. (Higher k changes the
    * solve, not the dataflow.)
    *
    * Determinism (the trajectory-adjudication contract, see
    * [[graft.ext.Classifier]]): item factors initialize from the item
    * id itself (f1 = 1, f2 = (hash60(id) mod 1000)/1000 − 0.5 — the
    * portable md5-prefix hash of [[graft.ext.Hashing]]: deterministic,
    * seed-free, sign-safe on negative ids, and full-rank for any id
    * set), every
    * moment accumulates via DECIMAL [[graft.queries.Q.dsum]], and
    * det/factors are sig9'd after each solve, so every half-step is
    * engine- and partitioning-identical. λ > 0 keeps the system PD;
    * det is still guarded (NULL factors rather than an ANSI throw on
    * a degenerate rounding).
    *
    * @param ratings (userCol, itemCol, rCol) — one row per pair
    * @return item factors after `iters` full (user, item) sweeps:
    *         (item, f1, f2, n_users) */
  def als2(ratings: DataFrame, userCol: String, itemCol: String,
      rCol: String, lambda: Double, iters: Int = 2): DataFrame = {
    require(lambda > 0, s"lambda must be > 0, got $lambda")
    require(iters >= 1 && iters <= 8,
      s"iters must be in [1, 8], got $iters")
    import graft.queries.Q
    // Materialize the ratings frame once at cluster width: all four
    // half-step joins re-reference it (its derivation — typically a
    // join+aggregate — would otherwise sit 4x in one plan tree), and
    // the loop-carried factor frames below are cut per half-step like
    // every other iterative operator (Checkpoints scaladoc; guide §5 —
    // localCheckpoint to truncate lineage).
    val base = Checkpoints.spreadCut(
      ratings.select(col(userCol).as("u"), col(itemCol).as("i"),
          col(rCol).cast("double").as("r"))
        .where(col("u").isNotNull && col("i").isNotNull &&
          col("r").isNotNull))
    def solve(m: DataFrame): DataFrame = {
      val det = Q.sig9((col("a11") + lit(lambda)) *
        (col("a22") + lit(lambda)) - col("a12") * col("a12"))
      m.withColumn("det", det)
        .select(col("id"), col("n"),
          when(col("det") =!= 0.0, Q.sig9(
            ((col("a22") + lit(lambda)) * col("b1")
              - col("a12") * col("b2")) / col("det"))).as("f1"),
          when(col("det") =!= 0.0, Q.sig9(
            ((col("a11") + lit(lambda)) * col("b2")
              - col("a12") * col("b1")) / col("det"))).as("f2"))
    }
    def halfStep(factors: DataFrame, keyCol: String,
        otherCol: String): DataFrame =
      solve(base
        .join(factors.select(col("id").as("__fid"), col("f1"),
          col("f2")), col(otherCol) === col("__fid"))
        .groupBy(col(keyCol).as("id"))
        .agg(count(lit(1)).cast("long").as("n"),
          Q.dsum(col("f1") * col("f1")).as("a11"),
          Q.dsum(col("f1") * col("f2")).as("a12"),
          Q.dsum(col("f2") * col("f2")).as("a22"),
          Q.dsum(col("r") * col("f1")).as("b1"),
          Q.dsum(col("r") * col("f2")).as("b2")))
    // init f2 from the PORTABLE hash60 of the id, not id mod k: the
    // md5-prefix hash is sign-safe and engine-identical (SQL `%` on a
    // negative id differs from pmod), and it can never hand the sweeps
    // a rank-1 start the way an id set congruent mod k could
    // NOTE: the factor frames deliberately stay UNCUT (measured: cutting
    // each half-step cost +1.1 s at sf0.1 — the four materializations and
    // the stats-free ExistingRDD joins outweigh the bounded 4-level
    // lineage; each half-step is referenced exactly once, so nothing
    // recomputes).
    var items = base.select(col("i").as("id")).distinct()
      .select(col("id"), lit(1L).as("n"), lit(1.0).as("f1"),
        ((Hashing.hash60(col("id").cast("string")) % 1000L).cast("double")
          / lit(1000.0) - lit(0.5)).as("f2"))
    for (_ <- 1 to iters) {
      val users = halfStep(items, "u", "i")
      items = halfStep(users, "i", "u")
    }
    items.select(col("id").as("item"), col("f1"), col("f2"),
      col("n").as("n_users"))
  }
}
