package graft.ext

import graft.SparkSpec
import graft.functions.GraftMath
import org.apache.spark.sql.functions._

class KsDistanceSpec extends SparkSpec {
  import spark.implicits._

  private def run(a: Seq[Double], b: Seq[Double]) =
    Profile.ksDistance(a.toDF("v"), b.toDF("v"), "v").head()

  /** Brute-force KS on sorted distinct values, inclusive CDFs. */
  private def ref(a: Seq[Double], b: Seq[Double]): (Double, Double) = {
    val vs = (a ++ b).distinct.sorted
    val cands = vs.map { v =>
      val fa = a.count(_ <= v).toLong * b.size
      val fb = b.count(_ <= v).toLong * a.size
      (math.abs(fa - fb), v)
    }
    val mx = cands.map(_._1).max
    val at = cands.filter(_._1 == mx).map(_._2).min
    (GraftMath.sig9(mx.toDouble / (a.size.toLong * b.size)), at)
  }

  test("identical samples -> ks 0; disjoint samples -> ks 1") {
    val s = Seq(1.0, 2.0, 3.0, 4.0)
    val same = run(s, s)
    assert(same.getAs[Double]("ks") == 0.0)
    val disj = run(Seq(1.0, 2.0), Seq(10.0, 11.0))
    assert(disj.getAs[Double]("ks") == 1.0)
    assert(disj.getAs[Double]("ks_at") == 2.0) // CDF_a complete at 2
  }

  test("textbook asymmetric case with ties matches brute force") {
    val a = Seq(1.0, 1.0, 2.0, 3.0, 5.0, 8.0)
    val b = Seq(2.0, 2.0, 3.0, 4.0, 4.0)
    val got = run(a, b)
    val (ks, at) = ref(a, b)
    assert(got.getAs[Double]("ks") == ks)
    assert(got.getAs[Double]("ks_at") == at)
    assert(got.getAs[Long]("n_a") == 6L && got.getAs[Long]("n_b") == 5L)
  }

  test("pseudo-random samples: engine == brute force across bin counts " +
      "and partitionings") {
    val a = (1 to 400).map(i => ((i * 7919) % 1000).toDouble / 100.0)
    val b = (1 to 300).map(i => ((i * 104729) % 1100).toDouble / 100.0)
    // one far value in b stretches the range over the fixed bins, so
    // the other values share about 4, then 64 occupied bins; at 11.0
    // they spread over nearly all of them
    for (far <- Seq(2800.0, 176.0, 11.0)) {
      val bf = b :+ far
      val (ks, at) = ref(a, bf)
      val got = Profile.ksDistance(
        a.toDF("v").repartition(5), bf.toDF("v").repartition(3), "v")
        .head()
      assert(got.getAs[Double]("ks") == ks, s"far=$far")
      assert(got.getAs[Double]("ks_at") == at, s"far=$far")
    }
  }

  test("empty side -> NULL ks") {
    val r = run(Seq(1.0, 2.0), Seq.empty)
    assert(r.isNullAt(r.fieldIndex("ks")))
  }

  // ===== Cramér–von Mises =============================================

  private def runCvm(a: Seq[Double], b: Seq[Double]) = {
    import spark.implicits._
    Profile.cvmDistance(a.toDF("v"), b.toDF("v"), "v").head()
  }

  test("cvm: identical or distribution-identical samples score 0; a " +
      "known small case follows the weighted-square chain exactly") {
    import graft.functions.GraftMath.sig9
    assert(runCvm(Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0))
      .getAs[Double]("cvm") == 0.0)
    // ties across samples, same shape -> every gap 0
    assert(runCvm(Seq(1.0, 1.0), Seq(1.0)).getAs[Double]("cvm") == 0.0)
    // a = {1,2}, b = {3,4}: gaps 0.5, 1, 0.5, 0; weights 1 each
    val r = runCvm(Seq(1.0, 2.0), Seq(3.0, 4.0))
    val sum = sig9(1.0 * sig9(0.5 * 0.5)) + sig9(1.0 * sig9(1.0)) +
      sig9(1.0 * sig9(0.5 * 0.5)) + sig9(1.0 * sig9(0.0))
    assert(r.getAs[Double]("sum_wd2") == sig9(sum))
    assert(r.getAs[Double]("cvm") == sig9(sig9(4.0 / 16.0) * sig9(sum)
      / 4.0))
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
  }

  test("cvm: accumulates spread-out drift KS undersells; empty side " +
      "-> NULL") {
    // shifted-by-epsilon EVERYWHERE (a 1/50 gap at all 100 pooled
    // points) vs one value nudged (a 1/50 gap at a single point):
    // KS scores both identically; CvM separates them
    val base = (1 to 50).map(_.toDouble)
    val shifted = base.map(_ + 0.5)
    val nudged = base.updated(24, 25.5)
    val cShift = runCvm(base, shifted).getAs[Double]("cvm")
    val cNudge = runCvm(base, nudged).getAs[Double]("cvm")
    val ksShift = Profile.ksDistance(base.toDF("v"), shifted.toDF("v"),
      "v").head().getAs[Double]("ks")
    val ksNudge = Profile.ksDistance(base.toDF("v"), nudged.toDF("v"),
      "v").head().getAs[Double]("ks")
    assert(ksShift == ksNudge) // KS is blind to the difference
    assert(cShift > 0 && cNudge > 0)
    assert(cShift > 10 * cNudge) // every-gap accumulation separates
    val e = runCvm(Seq(1.0), Seq.empty)
    assert(e.isNullAt(e.fieldIndex("cvm")))
  }
}
