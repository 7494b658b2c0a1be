package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Curriculum construction: assign every document to a score-quantile
  * bucket (easy -> hard stages) plus a deterministic within-bucket
  * order, so a trainer can stream stage 0, then stage 1, ... with a
  * reproducible shuffle inside each stage.
  *
  * Scale design: neither `ntile() OVER (ORDER BY score)` (a
  * single-reducer corpus sort) nor Spark's exact `percentile`
  * aggregate (an O(distinct-scores) OpenHashMap buffer merged on ONE
  * final reducer — on continuous scores, distinct ~ corpus rows, so
  * the "no global sort" pitch would hide a corpus-sized driver-style
  * buffer). The exact boundaries are instead computed as distributed
  * order statistics with bounded state everywhere:
  *
  *  1. `groupBy(score).count()` — the distinct-score histogram; one
  *     shuffle, map-side partial aggregation, skew-immune (a hot score
  *     collapses to one row before the exchange);
  *  2. cumulative counts over the histogram via [[Prefix.below]] (no
  *     global window; every sort is bounded by a value bin and spills,
  *     where an aggregation buffer would not);
  *  3. each target rank k = p*(n-1) (Spark's Percentile formula,
  *     reproduced exactly: floor/ceil neighbors, linear interpolation)
  *     finds its value by a broadcast range-probe into the cumulative
  *     frame — 2*(nBuckets-1) probe rows against O(distinct) rows,
  *     map-side.
  *
  * The interpolated boundaries are sig9-normalized before comparing
  * (Spark and DuckDB interpolate quantiles with differently-ordered
  * same-value formulas, and a raw 1-ulp boundary difference could flip
  * the bucket of a score sitting exactly on it); the result is
  * bit-identical to `percentile(score, probs)` — the DuckDB
  * `quantile_cont` oracle adjudicates that — with every aggregation
  * buffer bounded by O([[Prefix.Bins]]) and every sort bounded by a
  * bin.
  *
  * With heavy score ties the buckets are unequal by exactly the tie
  * mass — the price of a deterministic, order-free assignment (ntile
  * would break ties by arbitrary row order: not reproducible, and not
  * engine-portable). The within-bucket order is the salted unit hash —
  * the same append-stable coin as the sampling family. NULL scores are
  * skipped for boundary estimation (percentile semantics) and land in
  * bucket 0.
  */
object Curriculum {

  def buckets(df: DataFrame, keyCol: String, scoreCol: String,
              nBuckets: Int, salt: String = "curriculum"): DataFrame = {
    require(nBuckets >= 2, "nBuckets must be >= 2")
    val bounds = exactBoundaries(df, scoreCol, nBuckets)
    df.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        aggregate(col("bounds"), lit(0L),
          (acc, b) => acc + when(col(scoreCol) > b, 1L).otherwise(0L)))
      .withColumn("ord", Sampling.unitHash(col(keyCol), salt))
      .drop("bounds")
  }

  /** One-row frame with `bounds`: the nBuckets-1 interior quantile
    * boundaries of `scoreCol`, sig9-normalized, ascending —
    * bit-identical to
    * `transform(percentile(score, probs), sig9)` but with bounded
    * state (see object doc). Exposed for callers that want the
    * boundary artifact itself (e.g. to freeze a stage schedule). */
  def exactBoundaries(df: DataFrame, scoreCol: String,
                      nBuckets: Int): DataFrame = {
    // 1. distinct-score histogram (null-skipping, like percentile).
    // Materialized once: it feeds the binning, the per-bin totals and
    // the rank count — without this the score projection re-scans per
    // consumer.
    val counts = df.filter(col(scoreCol).isNotNull)
      .groupBy(col(scoreCol).cast("double").as("s"))
      .agg(count(lit(1)).as("c"))
      .transform(Checkpoints.cut)
    // 2. count of scores strictly below each distinct score
    val cum = Prefix.below(counts, Nil, "s", Seq("c"))
      .select(col("s"), col("c"), col("below_c").as("cum_before"))
    // 3. target ranks: position = p * (n - 1), v = interpolate between
    // the floor/ceil order statistics — Spark Percentile's exact
    // formula, term order preserved
    val tot = counts.agg(sum(col("c")).as("n"))
    val probs = array((1 until nBuckets).map(i =>
      lit(i.toDouble / nBuckets)): _*)
    val positions = tot
      .select(col("n"), posexplode(probs).as(Seq("bi", "p")))
      .withColumn("pos", col("p") * (col("n") - 1).cast("double"))
      .withColumn("klo", floor(col("pos")).cast("long"))
      .withColumn("khi", ceil(col("pos")).cast("long"))
    def probe(kCol: String, out: String) =
      cum.join(broadcast(positions.select(col("bi"), col(kCol).as("__k"))),
          col("cum_before") <= col("__k") &&
            col("__k") < col("cum_before") + col("c"))
        .select(col("bi"), col("s").as(out))
    val interp = positions
      .join(probe("klo", "vlo"), Seq("bi"))
      .join(probe("khi", "vhi"), Seq("bi"))
      .select(col("bi"),
        when(col("klo") === col("khi"), col("vlo"))
          .otherwise((col("khi").cast("double") - col("pos")) * col("vlo")
            + (col("pos") - col("klo").cast("double")) * col("vhi"))
          .as("v"))
    interp.agg(
      transform(
        array_sort(collect_list(struct(col("bi"),
          graft.queries.Q.sig9(col("v")).as("v")))),
        x => x.getField("v")).as("bounds"))
  }
}
