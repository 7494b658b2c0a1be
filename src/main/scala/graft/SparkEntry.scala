package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.queries._

/** The entry points of SURVEY.md §7: the flagship `entry` query, and
  * the oracle-checked query surface, where each query is declared once
  * with the DuckDB SQL that checks it. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Revenue by region/year across the full dimension chain — exercises
    * scan pushdown, two broadcast joins, one shuffle agg, and a window.
    */
  def entry(spark: SparkSession): DataFrame = {
    GraftExtensions.ensureRegistered(spark)
    val d = "/root/testdata/sf0.001"
    val li = Tables.lineitem(spark, d)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val o = Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val c = Tables.customer(spark, d)
      .select(col("c_custkey"), col("c_nationkey"))
    val n = Tables.nation(spark, d)
    val r = Tables.region(spark, d)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), year(col("o_orderdate")).as("yr"))
      .agg(Q.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"), count(lit(1)).as("n_items"))
  }

  /** The query modules. Each declares every query once, as
    * `name -> (build, oracleSql)`, so no query exists without the
    * ANSI SQL that DuckDB runs as its oracle on the same parquet tables.
    * One entry per implemented operator from SURVEY.md §2, plus the KBO
    * metric core (M1-M12 + wide records) and the LLM-data-pipeline ext/
    * operators (dedup, similarity, text stats, multimodal). */
  private[graft] lazy val modules = Seq(RelationalQueries.queries,
    KboQueries.queries, ExtQueries.queries, TemporalQueries.queries,
    CorpusQueries.queries, PrepQueries.queries, LinkQueries.queries,
    BehaviorQueries.queries, LearnQueries.queries, TimeSeriesQueries.queries,
    StatsQueries.queries, GovernQueries.queries, SpatialQueries.queries)

  /** Every query's build function, by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatten.map { case (name, (fn, _)) =>
      name -> { (s: SparkSession, d: String) =>
        // native expressions resolve through the function registry; make
        // the surface work even on sessions built without
        // spark.sql.extensions=graft.GraftExtensions
        GraftExtensions.ensureRegistered(s)
        fn(s, d)
      }
    }.toMap

  /** Every query's oracle SQL, by name: the same keys as [[queries]]. */
  lazy val oracleSql: Map[String, String] =
    modules.flatten.map { case (name, (_, sql)) => name -> sql }.toMap

  /** The sorted query names of a comma list. Empty or unknown names
    * fail loudly: a typo must not produce a vacuous green run. */
  def named(list: String): Seq[String] = {
    val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(queries.contains)
    require(names.nonEmpty && unknown.isEmpty,
      s"empty or unknown queries in '$list': ${unknown.mkString(",")}")
    names.distinct.sorted
  }

  /** The queries a harness main runs, sorted: every query, or the
    * subset named by `SPARK_GRAFT_QUERIES=a,b,c`. */
  def selected: Seq[String] =
    sys.env.get("SPARK_GRAFT_QUERIES").fold(queries.keys.toSeq.sorted)(named)

  /** Consumer query -> the sorted owner queries of the
    * [[graft.core.Shared]] results it reuses. */
  def sharedPrefix: Map[String, Seq[String]] = {
    queries // initializes every query object, which declares its results
    graft.core.Shared.owners
  }
}
