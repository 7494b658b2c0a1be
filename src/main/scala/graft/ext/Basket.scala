package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Market-basket association mining: frequent item PAIRS with
  * support / confidence / lift — the co-occurrence analytics behind
  * "customers who bought X also bought Y" and, in a training-data
  * pipeline, "which sources / tags co-select" (Agrawal-Srikant
  * a-priori, truncated at pair order — the level that covers the
  * overwhelming share of production uses).
  *
  * Scale shape: the ONLY quadratic step is the within-basket pair
  * join, and it runs AFTER two reductions — (basket, item) distinct
  * collapse, then the a-priori item prune (a pair can only reach
  * minSupport if BOTH items do; anti-monotonicity, Agrawal & Srikant
  * 1994) — so the fan-out is bounded by the per-basket count of
  * FREQUENT items, not raw line items. The pair join itself is a
  * basket-keyed equi-join (one shuffle partition-wise); at 100 TB a
  * pathological basket holding thousands of frequent items would
  * concentrate its own O(b²) in one task — that is a data-quality
  * signal (carts are small; document tag-sets are small) for the
  * caller's profiling pass to surface, not something to silently cap.
  *
  * Determinism: every count is an exact BIGINT; support, the two
  * confidences and lift are single sig9'd divisions of exact-cast
  * integers (the Q contract).
  */
object Basket {

  /** Frequent-pair rules over (basket, item) transactions.
    *
    * @param tx         transaction frame (one row per basket-item
    *                   incidence; duplicates collapse)
    * @param basketCol  basket / transaction id column
    * @param itemCol    item id column
    * @param minSupport minimum number of baskets a pair (and each of
    *                   its items) must appear in
    * @return one row per unordered frequent pair (i1 < i2):
    *         (item1, item2, pair_n, item1_n, item2_n, n_baskets,
    *         support, conf_1to2, conf_2to1, lift) */
  def pairRules(tx: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    val dec = DecimalType(38, 0)
    val items = tx
      .select(col(basketCol).as("b"), col(itemCol).as("i"))
      .where(col("b").isNotNull && col("i").isNotNull)
      .distinct()
      .transform(Checkpoints.cut) // read 4x: itemN, nB, both pair sides
    val itemN = items.groupBy(col("i")).agg(count(lit(1)).as("c"))
      .where(col("c") >= minSupport)
    val nB = items.agg(countDistinct(col("b")).as("n_baskets"))
    // a-priori prune BEFORE the quadratic step: only frequent items
    // can participate in a frequent pair
    val pruned = items.join(itemN, Seq("i"))
      .select(col("b"), col("i"), col("c"))
    val pairs = pruned.as("l")
      .join(pruned.as("r"), col("l.b") === col("r.b") &&
        col("l.i") < col("r.i"))
      .groupBy(col("l.i").as("item1"), col("r.i").as("item2"))
      .agg(count(lit(1)).as("pair_n"),
        first(col("l.c")).as("item1_n"), first(col("r.c")).as("item2_n"))
      .where(col("pair_n") >= minSupport)
    val q = graft.queries.Q.sig9 _
    pairs.crossJoin(broadcast(nB))
      .select(col("item1"), col("item2"), col("pair_n"),
        col("item1_n"), col("item2_n"), col("n_baskets"),
        q(col("pair_n").cast("double") / col("n_baskets").cast("double"))
          .as("support"),
        q(col("pair_n").cast("double") / col("item1_n").cast("double"))
          .as("conf_1to2"),
        q(col("pair_n").cast("double") / col("item2_n").cast("double"))
          .as("conf_2to1"),
        q((col("pair_n").cast(dec) * col("n_baskets").cast(dec))
            .cast("double") /
          (col("item1_n").cast(dec) * col("item2_n").cast(dec))
            .cast("double")).as("lift"))
  }
}
