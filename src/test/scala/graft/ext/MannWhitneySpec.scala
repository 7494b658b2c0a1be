package graft.ext

import graft.SparkSpec
import graft.functions.GraftMath
import org.apache.spark.sql.functions._

class MannWhitneySpec extends SparkSpec {
  import spark.implicits._

  /** Local replica of the documented statistic: exact integer 2U and
    * tie term over sorted distinct values, then the sig9'd z chain. */
  private def ref(a: Seq[Double], b: Seq[Double])
      : (Double, Option[Double], Double) = {
    val vs = (a ++ b).distinct.sorted
    var bBelow = 0L
    var u2 = BigInt(0)
    var tiet = BigInt(0)
    vs.foreach { v =>
      val ac = a.count(_ == v).toLong
      val bc = b.count(_ == v).toLong
      u2 += BigInt(ac) * (2 * bBelow + bc)
      val t = BigInt(ac + bc)
      tiet += t * t * t - t
      bBelow += bc
    }
    val u2d = GraftMath.sig9(u2.toDouble)
    val td = GraftMath.sig9(tiet.toDouble)
    val na = a.size.toDouble; val nb = b.size.toDouble; val n = na + nb
    val varU = na * nb / 12.0 * ((n + 1.0) - td / (n * (n - 1.0)))
    val z =
      if (a.isEmpty || b.isEmpty || n <= 1 || !(math.sqrt(varU) > 0)) None
      else Some(GraftMath.sig9(
        (u2d - na * nb) / (2.0 * GraftMath.sig9(math.sqrt(varU)))))
    (u2d, z, td)
  }

  private def run(a: Seq[Double], b: Seq[Double]) =
    Profile.mannWhitney(a.toDF("v").repartition(3),
      b.toDF("v").repartition(2), "v").head()

  test("no-tie textbook case: exact 2U, z matches the rank-sum formula") {
    val a = Seq(1.0, 3.0, 5.0, 7.0)
    val b = Seq(2.0, 4.0, 6.0)
    val got = run(a, b)
    // U_a counts (a > b) pairs... here U_a (b below a): 0+1+2+3? direct:
    // pairs (a_i, b_j) with b_j < a_i: a=1:0, a=3:1, a=5:2, a=7:3 -> U=6
    assert(got.getAs[Double]("u2") == 12.0)
    val (u2, z, td) = ref(a, b)
    assert(got.getAs[Double]("u2") == u2)
    assert(Option(got.getAs[Double]("z")) == z)
    assert(got.getAs[Double]("tie_t") == td && td == 0.0)
    assert(got.getAs[Long]("n_a") == 4L && got.getAs[Long]("n_b") == 3L)
  }

  test("heavy ties: midrank halves stay exact in 2U, tie term corrects z") {
    val a = Seq(1.0, 2.0, 2.0, 3.0, 3.0, 3.0)
    val b = Seq(2.0, 2.0, 3.0, 4.0, 4.0)
    val got = run(a, b)
    val (u2, z, td) = ref(a, b)
    assert(got.getAs[Double]("u2") == u2)
    assert(Option(got.getAs[Double]("z")) == z)
    assert(got.getAs[Double]("tie_t") == td && td > 0.0)
  }

  test("pseudo-random samples: engine == reference across bin counts") {
    val a = (1 to 311).map(i => ((i * 7919) % 97).toDouble)
    val b = (1 to 253).map(i => ((i * 104729) % 101).toDouble)
    // one far value in b stretches the range over the fixed bins, so
    // the other values share about 4, then 64 occupied bins; at 101
    // each distinct value has a bin of its own
    for (far <- Seq(25000.0, 1600.0, 101.0)) {
      val bf = b :+ far
      val (u2, z, td) = ref(a, bf)
      val got = run(a, bf)
      assert(got.getAs[Double]("u2") == u2, s"far=$far")
      assert(Option(got.getAs[Double]("z")) == z, s"far=$far")
      assert(got.getAs[Double]("tie_t") == td, s"far=$far")
    }
  }

  test("identical constant samples -> sigma 0 -> NULL z; empty side") {
    val c = run(Seq(5.0, 5.0), Seq(5.0, 5.0))
    assert(c.isNullAt(c.fieldIndex("z")))
    assert(c.getAs[Double]("u2") == 4.0) // all ties: 2U = na*nb
    val e = run(Seq(1.0, 2.0), Seq.empty)
    assert(e.isNullAt(e.fieldIndex("u2")) && e.isNullAt(e.fieldIndex("z")))
    assert(e.getAs[Long]("n_a") == 2L && e.getAs[Long]("n_b") == 0L)
  }

  // ===== effect sizes =================================================

  private def runEff(a: Seq[Double], b: Seq[Double]) =
    Profile.effectSizes(a.toDF("v").repartition(3),
      b.toDF("v").repartition(2), "v").head()

  test("effectSizes: textbook d/g/delta over the exact MWU and " +
      "moment chains") {
    import GraftMath.sig9
    val r = runEff(Seq(1.0, 2.0, 3.0, 4.0), Seq(3.0, 4.0, 5.0, 6.0))
    assert(r.getAs[Double]("mean_a") == 2.5 &&
      r.getAs[Double]("mean_b") == 4.5)
    val v9 = sig9(5.0 / 3.0)
    assert(r.getAs[Double]("var_a") == v9 &&
      r.getAs[Double]("var_b") == v9)
    val sd = sig9(math.sqrt(sig9((3.0 * v9 + 3.0 * v9) / 6.0)))
    val d = sig9(sig9(2.5 - 4.5) / sd)
    assert(r.getAs[Double]("cohens_d") == d)
    assert(r.getAs[Double]("hedges_g") ==
      sig9(d * (1.0 - 3.0 / (4.0 * 8.0 - 9.0))))
    // pairs: 1 strict a>b, 2 ties, 13 strict a<b -> delta = -0.75
    assert(r.getAs[Double]("cliffs_delta") == -0.75)
  }

  test("effectSizes: degenerate pooled sd -> NULL d/g; all-tie " +
      "samples land delta exactly 0") {
    val r = runEff(Seq(5.0, 5.0), Seq(5.0, 5.0))
    assert(r.isNullAt(r.fieldIndex("cohens_d")) &&
      r.isNullAt(r.fieldIndex("hedges_g")))
    assert(r.getAs[Double]("cliffs_delta") == 0.0)
  }
}
