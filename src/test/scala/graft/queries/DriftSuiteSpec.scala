package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Pipeline 7 (the drift suite) must report EXACTLY the standalone
  * operators' statistics — composition may not change a value. */
class DriftSuiteSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("each suite row equals its standalone query's statistic") {
    val suite = SparkEntry.queries("q_x_pipeline7")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (Option(r.get(1)).map(_.asInstanceOf[Double]),
          r.getLong(3), r.getLong(4))).toMap
    assert(suite.keySet ==
      Set("welch", "mwu", "ks", "psi", "chisq"))

    val mwu = SparkEntry.queries("q_x_mwu")(spark, sf).head()
    assert(suite("mwu")._1 == Option(mwu.getAs[Double]("z")))
    assert(suite("mwu")._2 == mwu.getAs[Long]("n_a"))

    val ks = SparkEntry.queries("q_x_ks")(spark, sf).head()
    assert(suite("ks")._1 == Option(ks.getAs[Double]("ks")))
    assert(suite("ks")._3 == ks.getAs[Long]("n_b"))

    val ab = SparkEntry.queries("q_x_abtest")(spark, sf).head()
    assert(suite("welch")._1 == Option(ab.getAs[Double]("z")))

    // chisq here runs on events event_type x arm (not the documents
    // table) — check the shape instead: dof = (5-1)(2-1) = 4
    assert(suite("chisq")._3 == 4L)
    assert(suite("psi")._1.exists(_ >= 0.0))
  }
}
