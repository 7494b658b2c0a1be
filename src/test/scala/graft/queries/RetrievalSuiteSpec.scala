package graft.queries

import graft.SparkSpec

/** Pipeline 10 (the retrieval-quality suite) must report EXACTLY the
  * standalone `q_x_ndcg` / `q_x_rank_eval` statistics — composition
  * may not change a value (the DriftSuiteSpec convention).
  */
class RetrievalSuiteSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("each suite row equals its standalone query's statistic") {
    val suite = CorpusQueries.queries("q_x_pipeline10")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((Option(r.get(1)).map(_.asInstanceOf[Double]),
          Option(r.get(2)).map(_.asInstanceOf[Double]),
          r.getLong(3)))).toMap
    assert(suite.keySet === Set("ndcg", "mrr", "precision", "recall",
      "hit"))

    val nd = CorpusQueries.queries("q_x_ndcg")(spark, sf).head()
    assert(suite("ndcg")._1 === Option(nd.getAs[Double]("ndcg")))
    assert(suite("ndcg")._2 === Option(nd.getAs[Double]("dcg")))
    assert(suite("ndcg")._3 === nd.getAs[Long]("n_ranked"))

    val re = CorpusQueries.queries("q_x_rank_eval")(spark, sf).head()
    assert(suite("mrr")._1 === Option(re.getAs[Double]("mrr")))
    assert(suite("mrr")._2 ===
      Option(re.getAs[Long]("first_rel_rank").toDouble))
    assert(suite("precision")._1 ===
      Option(re.getAs[Double]("prec_at_k")))
    assert(suite("precision")._3 === re.getAs[Long]("n_rel_at_k"))
    assert(suite("recall")._1 === Option(re.getAs[Double]("recall_at_k")))
    assert(suite("recall")._3 === re.getAs[Long]("n_rel_total"))
    assert(suite("hit")._1 ===
      Option(re.getAs[Long]("hit_at_k").toDouble))
  }
}
