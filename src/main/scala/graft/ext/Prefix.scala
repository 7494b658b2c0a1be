package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact running sums in value order WITHOUT a global-order window —
  * the one plan behind every rank and CDF operator here (percent rank,
  * KS / CvM / Mann–Whitney, Gini, AUC, average precision, exact
  * quantile boundaries, budget selection).
  *
  * The naive `SUM(c) OVER (PARTITION BY keys ORDER BY order)` sorts
  * each key group in one task and dies on a hot group. Instead, the
  * two-phase binned prefix sum:
  *  1. one broadcast row per group gives its (lo, hi), and the group's
  *     order range splits into [[Bins]] equal-width bins;
  *  2. a running sum WITHIN each (group, bin) runs on partitions
  *     bounded by per-bin density;
  *  3. per-bin totals collapse into ONE O(Bins) array row per group,
  *     whose fold gives each bin's base (the sum over earlier bins);
  *  4. below = base + within-bin running sum.
  * The binning is monotone in `order`, so every bin width gives the
  * same exact sums: the bins decide only how the work is partitioned,
  * never a result. Nothing here cuts lineage; a caller that reads the
  * input several times checkpoints it first. */
object Prefix {

  /** Equi-width bins per key group. */
  val Bins = 1024

  /** `counts` — one row per distinct (keys…, order), `order` non-null —
    * plus, per row: its group's `lo` and `hi` of `order`; `tot_<c>`, the
    * group total of each column c in `sums`; and `below_<c>`, the exact
    * sum of c over the group's rows strictly below this row in `order`.
    * Each sum keeps the type Spark's `sum` gives it (a decimal column
    * sums as a decimal). */
  def below(counts: DataFrame, keys: Seq[String], order: String,
      sums: Seq[String]): DataFrame = {
    require(sums.nonEmpty, "Prefix.below needs at least one sum column")
    val k = keys.map(col)
    val mm = counts.groupBy(k: _*).agg(min(col(order)).as("lo"),
      max(col(order)).as("hi") +: sums.map(c => sum(col(c)).as(s"tot_$c")): _*)
    val binned = (if (keys.isEmpty) counts.crossJoin(broadcast(mm))
      else counts.join(broadcast(mm), keys))
      .withColumn("bin",
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(least(lit(Bins - 1L),
            floor((col(order) - col("lo")).cast("double")
              / ((col("hi") - col("lo")).cast("double") / Bins))
              .cast("long"))))
    val perBin = binned.groupBy(k :+ col("bin"): _*)
      .agg(sum(col(sums.head)).as(sums.head),
        sums.tail.map(c => sum(col(c)).as(c)): _*)
    val sumType = sums.map(c => c -> perBin.schema(c).dataType).toMap
    def zero(c: String) = lit(0).cast(sumType(c))
    val wIn = Window.partitionBy(k :+ col("bin"): _*).orderBy(col(order))
      .rowsBetween(Window.unboundedPreceding, -1)
    val within = binned.select(col("*") +: sums.map(c =>
      coalesce(sum(col(c)).over(wIn), zero(c)).as(s"__in_$c")): _*)
    val bases = perBin.groupBy(k: _*)
      .agg(array_sort(collect_list(struct(col("bin") +: sums.map(col): _*)))
        .as("a"))
      .select(k :+ explode(transform(col("a"), (x, i) =>
        struct(x.getField("bin").as("bin") +: sums.map(c =>
          aggregate(slice(col("a"), lit(1), i), zero(c),
            (acc, b) => (acc + b.getField(c)).cast(sumType(c)))
            .as(s"__base_$c")): _*)))
        .as("b"): _*)
      .select(k ++ (col("b.bin").as("bin") +:
        sums.map(c => col(s"b.__base_$c").as(s"__base_$c"))): _*)
    sums.foldLeft(within.join(bases, keys :+ "bin")) { (df, c) =>
      df.withColumn(s"below_$c",
          (col(s"__base_$c") + col(s"__in_$c")).cast(sumType(c)))
        .drop(s"__base_$c", s"__in_$c")
    }.drop("bin")
  }
}
