package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import scala.util.Random

/** [[Prefix.below]] against the global-order window it replaces: the
  * same lo, hi, totals and strictly-below sums, with the same types,
  * row for row. */
class PrefixSpec extends SparkSpec {
  import spark.implicits._

  private def naive(counts: DataFrame, keys: Seq[String], order: String,
      sums: Seq[String]): DataFrame = {
    val group = Window.partitionBy(keys.map(col): _*)
    val run = group.orderBy(col(order))
      .rowsBetween(Window.unboundedPreceding, -1)
    sums.foldLeft(counts
        .withColumn("lo", min(col(order)).over(group))
        .withColumn("hi", max(col(order)).over(group))) { (df, c) =>
      val tot = df.withColumn(s"tot_$c", sum(col(c)).over(group))
      tot.withColumn(s"below_$c", coalesce(sum(col(c)).over(run),
        lit(0).cast(tot.schema(s"tot_$c").dataType)))
    }
  }

  private def check(counts: DataFrame, keys: Seq[String], order: String,
      sums: Seq[String]): Unit = {
    val got = Prefix.below(counts, keys, order, sums)
    val want = naive(counts, keys, order, sums)
    val cols = counts.columns.toSeq ++ Seq("lo", "hi") ++
      sums.flatMap(c => Seq(s"tot_$c", s"below_$c"))
    assert(got.columns.sorted.toSeq == cols.sorted)
    assert(cols.map(got.schema(_).dataType) ==
      cols.map(want.schema(_).dataType))
    def rows(df: DataFrame) =
      df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    assert(rows(got) == rows(want))
  }

  /** One row per distinct (g, v) with its row count `c`. */
  private def counts(rows: Seq[(String, Double)]): DataFrame =
    rows.toDF("g", "v").groupBy(col("g"), col("v"))
      .agg(count(lit(1)).as("c"))

  test("keyed: ties, negative values and a one-value group (hi == lo)") {
    val rnd = new Random(11)
    val rows = Seq.fill(500)("ties" -> (rnd.nextInt(101) - 50) / 4.0) ++
      Seq.fill(300)("neg" -> rnd.nextGaussian() * 1e3) ++
      Seq.fill(5)("solo" -> 3.5)
    check(counts(rows), Seq("g"), "v", Seq("c"))
  }

  test("unkeyed, two sums") {
    val rnd = new Random(12)
    val df = counts(Seq.fill(400)("" -> (rnd.nextInt(61) - 30).toDouble))
      .select(col("v"), col("c"), (col("c") * col("v").cast("long"))
        .as("w"))
    check(df, Nil, "v", Seq("c", "w"))
  }

  test("decimal sums keep their type; a long order column") {
    val rnd = new Random(13)
    val df = Seq.fill(600)((s"k${rnd.nextInt(3)}", rnd.nextInt(200) - 40L))
      .toDF("g", "x").groupBy(col("g"), col("x")).agg(count(lit(1)).as("c"))
      .withColumn("d0",
        col("x").cast(DecimalType(38, 0)) * col("c").cast(DecimalType(38, 0)))
      .withColumn("d2", (col("x") / 4).cast(DecimalType(12, 2)))
    check(df, Seq("g"), "x", Seq("c", "d0", "d2"))
  }

  test("empty input: no rows, keyed or not") {
    val empty = counts(Seq.empty)
    check(empty, Seq("g"), "v", Seq("c"))
    check(empty.drop("g"), Nil, "v", Seq("c"))
    assert(Prefix.below(empty, Seq("g"), "v", Seq("c")).count() == 0)
  }

  test("more distinct values than bins, and a far outlier that puts " +
      "almost every value into bin 0") {
    val rnd = new Random(14)
    val rows = Seq.fill(3000)("wide" -> rnd.nextDouble() * 100.0) ++
      Seq.fill(2000)("far" -> rnd.nextDouble()) ++ Seq("far" -> 1e12)
    val df = counts(rows)
    assert(df.where(col("g") === "wide").count() > Prefix.Bins)
    check(df, Seq("g"), "v", Seq("c"))
  }
}
