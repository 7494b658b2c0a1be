package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared-prefix ledger Bench emits into BENCH.json, derived from
  * the [[graft.core.Shared]] declarations, must stay coherent with the
  * declared query surface: every consumer and owner is a real query,
  * no query owns a result it consumes, and the owner chains always
  * terminate at a query that recomputes from scratch (the
  * owner-always-recomputes discipline needs one always-fresh root per
  * result). The registry under both: each query is declared in one
  * module only, always with its oracle SQL. */
class BenchSharedPrefixSpec extends AnyFunSuite {

  test("no query name is declared by two modules") {
    val names = SparkEntry.modules.flatMap(_.keys)
    val twice = names.diff(names.distinct)
    assert(twice.isEmpty, s"declared by two modules: ${twice.mkString(",")}")
    assert(SparkEntry.modules.size == 13)
    assert(names.size == SparkEntry.queries.size)
    assert(SparkEntry.queries.size == 307)
  }

  test("the oracles cover exactly the queries") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("no oracle SQL is null or empty") {
    val blank = SparkEntry.oracleSql.collect {
      case (name, sql) if sql == null || sql.trim.isEmpty => name
    }
    assert(blank.isEmpty, s"null or empty oracle SQL: ${blank.mkString(",")}")
  }

  private lazy val prefix = SparkEntry.sharedPrefix

  test("every shared-prefix consumer and owner is a declared query") {
    assert(prefix.nonEmpty)
    prefix.foreach { case (consumer, owners) =>
      assert(SparkEntry.queries.contains(consumer),
        s"consumer $consumer is not a declared query")
      assert(owners.nonEmpty && owners == owners.distinct.sorted,
        s"owners of $consumer are not a sorted, distinct, non-empty list")
      owners.foreach(o => assert(SparkEntry.queries.contains(o),
        s"owner $o is not a declared query"))
    }
  }

  test("no query owns a result it consumes") {
    prefix.foreach { case (consumer, owners) =>
      assert(!owners.contains(consumer), s"$consumer owns its own prefix")
    }
  }

  test("owner chains terminate (no memo cycles)") {
    def visit(q: String, path: List[String]): Unit = {
      assert(!path.contains(q),
        s"owner chain ${(q :: path).reverse.mkString(" -> ")} cycles")
      prefix.getOrElse(q, Nil).foreach(visit(_, q :: path))
    }
    prefix.keys.foreach(visit(_, Nil))
  }

  test("the ledger keeps every consumer -> owner pair of the old hand map") {
    val expected = Seq(
      "q_x_ppr" -> "q_x_pagerank",
      "q_x_linkpred" -> "q_x_triangles",
      "q_x_assortativity" -> "q_x_triangles",
      "q_x_kcore" -> "q_x_triangles",
      "q_x_lpa" -> "q_x_triangles",
      "q_x_modularity" -> "q_x_lpa",
      "q_x_clustering_coef" -> "q_x_triangles",
      "q_x_item_cf" -> "q_x_triangles",
      "q_x_confusion" -> "q_x_naive_bayes",
      "q_x_kappa" -> "q_x_naive_bayes",
      "q_x_ann_ivfpq" -> "q_x_ann_ivf_recall",
      "q_x_ann_ivfpq_res" -> "q_x_ann_ivf_recall",
      "q_x_ann_ivfpq_res8" -> "q_x_ann_ivf_recall",
      "q_x_ann_pq_serve" -> "q_x_ann_pq",
      // pagerank derives its edges from the triangles pair frame
      "q_x_pagerank" -> "q_x_triangles")
    expected.foreach { case (consumer, owner) =>
      assert(prefix.getOrElse(consumer, Nil).contains(owner),
        s"$consumer -> $owner missing from ${prefix.get(consumer)}")
    }
    assert(prefix("q_x_modularity") == Seq("q_x_lpa", "q_x_triangles"))
  }
}
