package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.ext.Profile
import graft.core.Tables

/** Pipeline 9 (the dependence suite) must report EXACTLY the
  * standalone operators' statistics — composition may not change a
  * value (the DriftSuiteSpec convention). Cramér's V, the one derived
  * row, is pinned against a local recompute from the adjudicated
  * chi-square outputs. */
class DependenceSuiteSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("each suite row equals its standalone query's statistic") {
    val suite = SparkEntry.queries("q_x_pipeline9")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((Option(r.get(1)).map(_.asInstanceOf[Double]),
          Option(r.get(2)).map(_.asInstanceOf[Double]),
          r.getLong(3)))).toMap
    assert(suite.keySet === Set("pearson", "spearman", "anova_f",
      "levene_f", "kruskal_h", "chi2", "cramers_v", "mi"))

    val li = Tables.lineitem(spark, sf)
    val pe = Profile.groupCorr(li, Seq.empty, "l_quantity",
      "l_extendedprice").head()
    assert(suite("pearson")._1 === Option(pe.getAs[Double]("corr")))
    assert(suite("pearson")._3 === pe.getAs[Long]("n"))

    val sp = SparkEntry.queries("q_x_spearman")(spark, sf).head()
    assert(suite("spearman")._1 === Option(sp.getAs[Double]("rho")))

    val an = SparkEntry.queries("q_x_anova")(spark, sf).head()
    assert(suite("anova_f")._1 === Option(an.getAs[Double]("f")))
    assert(suite("anova_f")._2 === Option(an.getAs[Double]("ssb")))

    val lv = SparkEntry.queries("q_x_levene")(spark, sf).head()
    assert(suite("levene_f")._1 === Option(lv.getAs[Double]("f")))

    val kw = Profile.kruskalWallis(li, "l_returnflag", "l_quantity")
      .head()
    assert(suite("kruskal_h")._1 === Option(kw.getAs[Double]("h")))
    assert(suite("kruskal_h")._2 === Option(kw.getAs[Double]("tie_t")))

    val chi = Profile.chiSquare(li, "l_returnflag", "l_linestatus")
      .head()
    assert(suite("chi2")._1 === Option(chi.getAs[Double]("chi2")))
    val minCat = math.min(chi.getAs[Long]("n_rows_cat"),
      chi.getAs[Long]("n_cols_cat"))
    val vRef = graft.functions.GraftMath.sig9(math.sqrt(
      chi.getAs[Double]("chi2") /
        (chi.getAs[Long]("n").toDouble * (minCat - 1))))
    assert(suite("cramers_v")._1 === Some(vRef))
    assert(suite("cramers_v")._1.get >= 0.0 &&
      suite("cramers_v")._1.get <= 1.0)

    val mi = Profile.mutualInfo(li, "l_returnflag", "l_linestatus")
      .head()
    assert(suite("mi")._1 === Option(mi.getAs[Double]("mi")))
    assert(suite("mi")._2 === Option(mi.getAs[Double]("nmi")))
  }
}
