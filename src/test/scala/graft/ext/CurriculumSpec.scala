package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CurriculumSpec extends SparkSpec {
  import spark.implicits._

  test("distinct scores split into near-equal quantile buckets") {
    val df = (1L to 100L).map(i => (i, i)).toDF("id", "score")
    val r = Curriculum.buckets(df, "id", "score", nBuckets = 4)
    val sizes = r.groupBy("bucket").count()
      .as[(Long, Long)].collect().toMap
    assert(sizes == Map(0L -> 25L, 1L -> 25L, 2L -> 25L, 3L -> 25L))
    // bucket ordering respects score ordering
    val maxB0 = r.filter(col("bucket") === 0).agg(max("score"))
      .as[Long].head()
    val minB3 = r.filter(col("bucket") === 3).agg(min("score"))
      .as[Long].head()
    assert(maxB0 < minB3)
  }

  test("constant scores collapse into bucket 0 deterministically") {
    val df = (1L to 50L).map(i => (i, 7L)).toDF("id", "score")
    val r = Curriculum.buckets(df, "id", "score", nBuckets = 4)
    assert(r.filter(col("bucket") =!= 0).count() == 0)
  }

  test("within-bucket order is reproducible") {
    val df = (1L to 60L).map(i => (i, i % 10)).toDF("id", "score")
    val a = Curriculum.buckets(df, "id", "score", 3)
      .select("id", "bucket", "ord").collect().toSet
    val b = Curriculum.buckets(df, "id", "score", 3)
      .select("id", "bucket", "ord").collect().toSet
    assert(a == b)
  }

  /** One definition of "what percentile would have said" (sig9'd), so
    * the parity tests below adjudicate the histogram-refine boundaries
    * against Spark's exact aggregate bit-for-bit. */
  private def percentileRef(df: org.apache.spark.sql.DataFrame,
                            nBuckets: Int): Seq[Double] = {
    val probs = (1 until nBuckets).map(i => lit(i.toDouble / nBuckets))
    df.agg(transform(
        percentile(col("score").cast("double"), array(probs: _*)),
        b => graft.queries.Q.sig9(b)).as("p"))
      .as[Seq[Double]].head()
  }

  test("boundaries are bit-identical to exact percentile on ties + " +
      "interpolation") {
    // duplicates AND boundaries that interpolate between distinct values
    val df = Seq(1.0, 1.0, 2.0, 2.0, 3.0, 3.0, 10.0, 10.0, 50.5)
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "score")
    for (nb <- Seq(2, 3, 4, 7)) {
      val got = Curriculum.exactBoundaries(df, "score", nb)
        .as[Seq[Double]].head()
      assert(got == percentileRef(df, nb), s"nBuckets=$nb")
    }
  }

  test("1e6 distinct continuous scores: boundaries match exact " +
      "percentile with bounded state (no Percentile aggregate planned)") {
    val n = 1000000L
    // sqrt gives a million DISTINCT doubles with non-uniform density -
    // exactly the regime where exact Percentile's buffer is corpus-sized
    val df = spark.range(n).select(col("id"),
      sqrt(col("id").cast("double")).as("score"))
    val bf = Curriculum.exactBoundaries(df, "score", 4)
    // the whole point of the rewrite: no exact-Percentile buffer
    // anywhere in the plan (PlanLint is the mechanized auditor)
    assert(!PlanLint.findings(bf).exists(_.check == "exact-percentile"))
    assert(bf.as[Seq[Double]].head() == percentileRef(df, 4))
  }

  test("NULL scores are skipped for boundaries and land in bucket 0") {
    val df = Seq[(Long, java.lang.Double)]((1L, 10.0), (2L, 20.0),
      (3L, 30.0), (4L, 40.0), (5L, null)).toDF("id", "score")
    val r = Curriculum.buckets(df, "id", "score", nBuckets = 2)
    assert(r.filter(col("id") === 5).select("bucket").as[Long].head() == 0L)
    // non-null rows bucket exactly as percentile over the non-null set
    val bounds = Curriculum.exactBoundaries(df, "score", 2)
      .as[Seq[Double]].head()
    assert(bounds == percentileRef(df.filter(col("score").isNotNull), 2))
  }
}
