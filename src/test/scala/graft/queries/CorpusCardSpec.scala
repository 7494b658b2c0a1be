package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.core.Tables
import org.apache.spark.sql.functions._

/** Pipeline 11 (the per-source corpus data card) must report EXACTLY
  * the standalone operators' values — composition may not change a
  * number (the DriftSuiteSpec convention). The two derived rates
  * (quality pass, exact dup) are pinned against direct recomputes
  * from the adjudicated per-doc operators.
  */
class CorpusCardSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("each card row equals its standalone operator's value") {
    val card = SparkEntry.queries("q_x_pipeline11")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
    val sources = card.keys.map(_._1).toSet
    assert(sources.size > 1)
    assert(card.keys.map(_._2).toSet === Set("n_docs", "n_tokens",
      "vocab", "ttr", "hapax_rate", "yule_k", "entropy",
      "norm_entropy", "quality_pass_rate", "exact_dup_rate"))

    val lex = SparkEntry.queries("q_x_lexical")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    val ent = SparkEntry.queries("q_x_entropy")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    sources.foreach { s =>
      assert(card((s, "n_tokens")) ===
        Some(lex(s).getAs[Long]("n_tokens").toDouble))
      assert(card((s, "ttr")) === Option(lex(s).getAs[Double]("ttr")))
      assert(card((s, "yule_k")) ===
        Option(lex(s).getAs[Double]("yule_k")))
      assert(card((s, "entropy")) ===
        Option(ent(s).getAs[Double]("entropy")))
    }

    // derived rates vs direct recomputes from the adjudicated per-doc
    // operators
    val docs = Tables.documents(spark, sf)
    val qf = graft.ext.TextStats.qualityFilter(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg((sum(when(col("keep"), 1L).otherwise(0L)).cast("double") /
        count(lit(1)).cast("double")).as("r"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    sources.foreach { s =>
      assert(card((s, "quality_pass_rate")) ===
        Some(graft.functions.GraftMath.sig9(qf(s))))
    }
    // fixture documents are unique texts -> exact-dup rate 0 everywhere
    sources.foreach { s =>
      assert(card((s, "exact_dup_rate")) === Some(0.0))
    }
  }
}
