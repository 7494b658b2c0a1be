package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Pipeline 8 (the experiment readout) must report EXACTLY the
  * standalone operators' statistics — composition may not change a
  * value (the DriftSuiteSpec convention). */
class ExperimentSuiteSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("each suite row equals its standalone query's statistic") {
    val suite = SparkEntry.queries("q_x_pipeline8")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((Option(r.get(1)).map(_.asInstanceOf[Double]),
          Option(r.get(2)).map(_.asInstanceOf[Double]),
          r.getLong(3), r.getLong(4)))).toMap
    assert(suite.keySet ===
      Set("welch", "mwu", "prop", "cuped_raw", "cuped_adj"))

    val ab = SparkEntry.queries("q_x_abtest")(spark, sf).head()
    assert(suite("welch")._1 === Option(ab.getAs[Double]("z")))

    val mwu = SparkEntry.queries("q_x_mwu")(spark, sf).head()
    assert(suite("mwu")._1 === Option(mwu.getAs[Double]("z")))

    val pt = SparkEntry.queries("q_x_prop_test")(spark, sf).head()
    assert(suite("prop")._1 === Option(pt.getAs[Double]("z")))
    assert(suite("prop")._3 === pt.getAs[Long]("n_a"))
    assert(suite("prop")._4 === pt.getAs[Long]("n_b"))

    val cu = SparkEntry.queries("q_x_cuped")(spark, sf).head()
    assert(suite("cuped_raw")._1 === Option(cu.getAs[Double]("z_raw")))
    assert(suite("cuped_adj")._1 === Option(cu.getAs[Double]("z_adj")))
    assert(suite("cuped_raw")._2 === Option(cu.getAs[Double]("theta")))
  }
}
