package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class PlanLintSpec extends SparkSpec {
  import spark.implicits._

  private def df = (1L to 100L).map(i => (i, s"g${i % 5}", i * 2))
    .toDF("id", "grp", "v")

  test("global-order window over raw rows is flagged as an error") {
    val bad = df.withColumn("rn",
      row_number().over(Window.orderBy(col("v"))))
    val checks = PlanLint.findings(bad).map(f => f.check -> f.severity)
    assert(checks.contains("global-window" -> "error"))
    assert(!PlanLint.clean(bad))
  }

  test("cartesian product is flagged; keyed join is not") {
    val d = df
    val other = (1L to 10L).toDF("k")
    val cart = d.crossJoin(other.hint("shuffle_replicate_nl"))
    assert(PlanLint.findings(cart)
      .exists(f => f.check == "cartesian-product" && f.severity == "error"))
    val keyed = d.join(other, d("id") === other("k"))
    assert(PlanLint.clean(keyed))
  }

  test("partitioned windows and aggregates lint clean with shuffle count") {
    val good = df.groupBy("grp").agg(sum("v").as("s"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("grp").orderBy(col("s"))))
    val fs = PlanLint.findings(good)
    assert(PlanLint.clean(good))
    val info = fs.filter(_.check == "shuffle-count")
    assert(info.size == 1 && info.head.severity == "info")
  }

  test("post-execution (materialized AQE stages) still lints dirty") {
    val d = df
    val other = (1L to 10L).toDF("k")
    val cart = d.crossJoin(other.hint("shuffle_replicate_nl"))
      .groupBy("grp").count()
    cart.collect() // AQE materializes stages; subtree moves off children
    assert(PlanLint.findings(cart)
      .exists(f => f.check == "cartesian-product"), "stage walk lost it")
  }

  test("findings are not duplicated through the adaptive root") {
    val bad = df.withColumn("rn",
      row_number().over(Window.orderBy(col("v"))))
    val gw = PlanLint.findings(bad).filter(_.check == "global-window")
    assert(gw.size == 1, s"expected one finding, got ${gw.size}")
  }

  test("exact Percentile aggregate is flagged once; the " +
      "histogram-refine boundaries are not") {
    val bad = df.agg(expr("percentile(v, array(0.25, 0.5, 0.75))"))
    val hits = PlanLint.findings(bad).filter(_.check == "exact-percentile")
    assert(hits.size == 1 && hits.head.severity == "warn")
    val good = Curriculum.exactBoundaries(df, "v", 4)
    assert(!PlanLint.findings(good).exists(_.check == "exact-percentile"))
    assert(PlanLint.clean(good))
  }

  test("window keyed on an exploded frame is flagged; the groupBy+join " +
      "novelty shape is not") {
    // the pre-fix novelty shape: explode n-grams, window over the hash
    val ex = df.select(col("id"),
      explode(split(lit("a b c a"), " ")).as("h"))
    val bad = ex.withColumn("first_id",
      min(col("id")).over(Window.partitionBy(col("h"))))
    assert(PlanLint.findings(bad)
      .exists(f => f.check == "window-after-explode" && f.severity == "warn"))
    // an aggregation barrier between explode and window resets
    // cardinality - must NOT flag
    val barrier = ex.groupBy("h").agg(min("id").as("m"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("h").orderBy(col("m"))))
    assert(!PlanLint.findings(barrier)
      .exists(_.check == "window-after-explode"))
    // the post-fix implementation itself
    val docs = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    val post = TextStats.novelty(docs)
    assert(!PlanLint.findings(post).exists(_.check == "window-after-explode"))
    assert(PlanLint.clean(post))
  }

  test("an un-cut 64-round iterative fold is flagged deep-plan; the " +
      "Checkpoints-cut version of the same loop is clean") {
    import org.apache.spark.sql.functions.broadcast
    val one = Seq(Tuple1(1L)).toDF("o")
    def round(d: org.apache.spark.sql.DataFrame, cut: Boolean, i: Int) = {
      val next = d.crossJoin(broadcast(one))
        .select((col("id") + col("o")).as("id"))
      if (cut && i % 16 == 0) Checkpoints.cut(next) else next
    }
    val base = Seq(Tuple1(0L)).toDF("id")
    val uncut = (1 to 64).foldLeft(base)((d, i) => round(d, cut = false, i))
    val hits = PlanLint.findings(uncut).filter(_.check == "deep-plan")
    assert(hits.size == 1 && hits.head.severity == "warn", hits.toString)
    // the same loop with per-16-round lineage cuts stays shallow
    val cutted = (1 to 64).foldLeft(base)((d, i) => round(d, cut = true, i))
    assert(!PlanLint.findings(cutted).exists(_.check == "deep-plan"))
    // and the single-pass BPE encoder (the operator this check guards)
    // is structurally flat regardless of rule count
    val rules = (1 to 64).map(i => (i.toLong, s"z$i", "q", s"z${i}q", 1L))
      .toDF("step", "lhs", "rhs", "merged", "pair_count")
    val docs = Seq((1L, Seq("low", "newest"))).toDF("doc_id", "tk")
    assert(!PlanLint.findings(Bpe.encode(docs, "doc_id", "tk", rules))
      .exists(_.check == "deep-plan"))
  }

  test("a broadcast build side above autoBroadcastJoinThreshold is " +
      "flagged; bounded broadcasts are not") {
    import org.apache.spark.sql.functions.broadcast
    val conf = spark.conf
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = conf.get(key)
    try {
      conf.set(key, "1024") // 1 KiB: the 200-row side below exceeds it
      val big = (1 to 200)
        .map(i => (i.toLong, "x" * 64)).toDF("id", "pad")
      val joined = df.join(broadcast(big), Seq("id"))
      val hits = PlanLint.findings(joined)
        .filter(_.check == "oversized-broadcast")
      assert(hits.size == 1 && hits.head.severity == "warn", hits.toString)
      // a genuinely tiny broadcast under the same threshold is clean
      val small = Seq((1L, "a")).toDF("id", "tag")
      assert(!PlanLint.findings(df.join(broadcast(small), Seq("id")))
        .exists(_.check == "oversized-broadcast"))
    } finally conf.set(key, saved)
  }

  test("lint output is a composable DataFrame") {
    val out = PlanLint.lint(df.groupBy("grp").count())
    assert(out.columns.toSeq ==
      Seq("check", "severity", "node", "detail"))
    assert(out.filter(col("severity") === "error").count() == 0)
  }
}
