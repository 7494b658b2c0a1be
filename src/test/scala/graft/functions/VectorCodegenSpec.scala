package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Regression: the native expressions must COMPILE under whole-stage
  * codegen. The suite session runs with `spark.sql.codegen.fallback`
  * off ([[graft.core.Session]]), so a compile failure fails here. A silent Janino failure means every ANN /
  * near-dup query runs interpreted — correct but several times slower,
  * which at 100 TB is the whole ballgame. */
class VectorCodegenSpec extends SparkSpec {
  import spark.implicits._

  test("dot_product compiles in whole-stage codegen (no fallback)") {
    val df = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f)),
      (Array(0.5f, 0.5f), Array(2.0f, 2.0f))).toDF("a", "b")
    val out = df
      .select(call_function("dot_product", col("a"), col("b")).as("d"))
      .as[Double].collect().sorted
    assert(out.toSeq == Seq(2.0, 11.0))
  }

  test("sorted_intersect_count compiles in whole-stage codegen") {
    val df = Seq((Array(1L, 3L, 5L), Array(3L, 4L, 5L)))
      .toDF("a", "b")
    val out = df.select(
      call_function("sorted_intersect_count", col("a"), col("b")).as("c"))
      .as[Long].head()
    assert(out == 2L)
  }

  test("sorted_jaccard compiles in whole-stage codegen, matches composed") {
    val df = Seq(
      (Array(1L, 3L, 5L), Array(3L, 4L, 5L)), // |I|=2 |U|=4
      (Array.empty[Long], Array.empty[Long]), // empty union -> 0.0
      (Array(1L, 2L), Array(3L, 4L))) // disjoint -> 0.0
      .toDF("a", "b")
    val out = df.select(
      call_function("sorted_jaccard", col("a"), col("b")).as("j"))
      .as[Double].collect().sorted
    assert(out.toSeq == Seq(0.0, 0.0, 0.5))
  }

  test("dot_product null-element propagates NULL, and nullable is declared") {
    val df = Seq(1).toDF("x").select(
      array(lit(1.0), lit(null).cast("double")).as("a"),
      array(lit(1.0), lit(2.0)).as("b"))
    val r = df.select(call_function("dot_product", col("a"), col("b")))
      .collect()(0)
    assert(r.isNullAt(0))
  }
}
