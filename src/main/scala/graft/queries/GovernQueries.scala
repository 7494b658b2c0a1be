package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.Govern

/** Data-governance audits under the DuckDB oracle
  * ([[graft.ext.Govern]]): k-anonymity / l-diversity over declared
  * quasi-identifiers, and the declared-constraint battery (functional
  * dependencies + candidate keys). These are the release gates a
  * training-data pipeline runs before a corpus ships — one-pass hash
  * aggregations whose verdicts must be exact, not sampled.
  */
object GovernQueries {
  type QFn = (SparkSession, String) => DataFrame

  // ===== k-anonymity / l-diversity =====================================

  /** Quasi-identifiers (c_nationkey, c_mktsegment) — the "public"
    * attributes a linker would join on; sensitive attribute = the
    * account-balance band floor(c_acctbal/1000). One row per
    * equivalence class with the k>=10 / l>=3 verdicts. */
  private val kanonQ: QFn = (s, d) =>
    Govern.kAnonymity(
      Tables.customer(s, d)
        .withColumn("bal_band", floor(col("c_acctbal") / 1000).cast("long")),
      Seq("c_nationkey", "c_mktsegment"), "bal_band", k = 10, l = 3)

  private val kanonSql =
    """WITH b AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band
      |  FROM customer),
      |ps AS (
      |  SELECT c_nationkey, c_mktsegment, bal_band,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM b GROUP BY 1, 2, 3)
      |SELECT c_nationkey, c_mktsegment,
      |  CAST(sum(c) AS BIGINT) AS n_rows,
      |  CAST(count(*) AS BIGINT) AS l_distinct,
      |  sum(c) >= 10 AS k_anonymous,
      |  count(*) >= 3 AS l_diverse
      |FROM ps GROUP BY 1, 2""".stripMargin

  // ===== t-closeness ===================================================

  /** t-closeness over the SAME quasi-identifier set and sensitive
    * banding as `q_x_kanon`, so the two audits read side by side: a
    * class can be k-anonymous yet leak the balance distribution — the
    * attack t-closeness bounds. Ordered-domain EMD (telescoped optimal
    * transport), t = 0.2. One row per equivalence class. */
  private val tclsT = 0.2

  private val tclosenessQ: QFn = (s, d) =>
    Govern.tCloseness(
      Tables.customer(s, d)
        .withColumn("bal_band", floor(col("c_acctbal") / 1000).cast("long")),
      Seq("c_nationkey", "c_mktsegment"), "bal_band", t = tclsT)

  private val tclosenessSql = {
    val tEmd = Q.sqlSig9(
      s"${Q.sqlDecOut("tot", 13)} / CAST(m - 1 AS DOUBLE)")
    s"""WITH b AS (
       |  SELECT c_nationkey, c_mktsegment,
       |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS sv
       |  FROM customer WHERE c_acctbal IS NOT NULL),
       |dom AS (SELECT sv, CAST(count(*) AS BIGINT) AS gc
       |  FROM b GROUP BY 1),
       |mt AS (SELECT CAST(count(*) AS BIGINT) AS m,
       |  CAST(sum(gc) AS BIGINT) AS nt FROM dom),
       |grp AS (SELECT c_nationkey, c_mktsegment,
       |  CAST(count(*) AS BIGINT) AS n_rows FROM b GROUP BY 1, 2),
       |cell AS (SELECT c_nationkey, c_mktsegment, sv,
       |  CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2, 3),
       |grid AS (
       |  SELECT g.c_nationkey, g.c_mktsegment, g.n_rows, d.sv,
       |    CAST(CAST(COALESCE(cl.c, 0) AS DOUBLE) /
       |        CAST(g.n_rows AS DOUBLE) -
       |      CAST(d.gc AS DOUBLE) / CAST(mt.nt AS DOUBLE)
       |      AS DECIMAL(25,15)) AS diff
       |  FROM grp g CROSS JOIN dom d CROSS JOIN mt
       |  LEFT JOIN cell cl ON cl.c_nationkey = g.c_nationkey
       |    AND cl.c_mktsegment = g.c_mktsegment AND cl.sv = d.sv),
       |cum AS (
       |  SELECT c_nationkey, c_mktsegment, n_rows,
       |    CAST(SUM(diff) OVER (PARTITION BY c_nationkey, c_mktsegment
       |      ORDER BY sv) AS DECIMAL(25,15)) AS cd
       |  FROM grid),
       |agg AS (
       |  SELECT c_nationkey, c_mktsegment, n_rows,
       |    SUM(ABS(cd)) AS tot
       |  FROM cum GROUP BY 1, 2, 3)
       |SELECT a.c_nationkey, a.c_mktsegment, a.n_rows,
       |  CASE WHEN mt.m <= 1 THEN 0.0 ELSE $tEmd END AS t_emd,
       |  (CASE WHEN mt.m <= 1 THEN 0.0 ELSE $tEmd END) <= $tclsT
       |    AS t_close
       |FROM agg a CROSS JOIN mt""".stripMargin
  }

  // ===== declared-constraint battery (FDs + keys) ======================

  /** Three declared FDs of very different truth status — the nation
    * dimension's real FD (n_nationkey -> n_regionkey, holds), a
    * catalog FD a modeler might wrongly assume (p_brand -> p_type,
    * violated), and a fact-table FD that fails because orders carry
    * multiple return flags (l_orderkey -> l_returnflag) — plus two
    * candidate-key audits (orders' true key; lineitem's order key,
    * which is NOT a key). One unioned verdict table. */
  private val fdAuditQ: QFn = (s, d) => {
    val fd1 = Govern.fdAudit(Tables.nation(s, d), "fd_nation_region",
      Seq("n_nationkey"), "n_regionkey")
    val fd2 = Govern.fdAudit(Tables.part(s, d), "fd_brand_type",
      Seq("p_brand"), "p_type")
    val fd3 = Govern.fdAudit(Tables.lineitem(s, d), "fd_order_flag",
      Seq("l_orderkey"), "l_returnflag")
    val k1 = Govern.keyAudit(Tables.orders(s, d), "key_orders",
      Seq("o_orderkey"))
      .select(col("audit"), col("n_distinct").as("n_groups"),
        lit(null).cast("long").as("violating_groups"),
        col("dup_rows").as("violating_rows"),
        (lit(1.0) - col("uniqueness")).as("violation_rate"))
    val k2 = Govern.keyAudit(Tables.lineitem(s, d), "key_lineitem_order",
      Seq("l_orderkey"))
      .select(col("audit"), col("n_distinct").as("n_groups"),
        lit(null).cast("long").as("violating_groups"),
        col("dup_rows").as("violating_rows"),
        (lit(1.0) - col("uniqueness")).as("violation_rate"))
    fd1.unionByName(fd2).unionByName(fd3).unionByName(k1).unionByName(k2)
  }

  private def sqlFd(name: String, table: String, lhs: String,
      rhs: String) =
    s"""SELECT '$name' AS audit,
       |  CAST(count(*) AS BIGINT) AS n_groups,
       |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS violating_groups,
       |  CAST(sum(CASE WHEN nd > 1 THEN rws ELSE 0 END) AS BIGINT)
       |    AS violating_rows,
       |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) /
       |    CAST(count(*) AS DOUBLE) AS violation_rate
       |FROM (
       |  SELECT $lhs, CAST(count(*) AS BIGINT) AS nd,
       |    CAST(sum(c) AS BIGINT) AS rws
       |  FROM (SELECT $lhs, $rhs, CAST(count(*) AS BIGINT) AS c
       |        FROM $table WHERE $lhs IS NOT NULL GROUP BY 1, 2)
       |  GROUP BY 1)""".stripMargin

  private def sqlKey(name: String, table: String, keyCol: String) =
    s"""SELECT '$name' AS audit,
       |  CAST(count(*) AS BIGINT) AS n_groups,
       |  CAST(NULL AS BIGINT) AS violating_groups,
       |  CAST(sum(c) - count(*) AS BIGINT) AS violating_rows,
       |  CAST(1.0 AS DOUBLE) - (CAST(count(*) AS DOUBLE) /
       |    CAST(sum(c) AS DOUBLE)) AS violation_rate
       |FROM (SELECT $keyCol, CAST(count(*) AS BIGINT) AS c
       |      FROM $table GROUP BY 1)""".stripMargin

  private val fdAuditSql = Seq(
    sqlFd("fd_nation_region", "nation", "n_nationkey", "n_regionkey"),
    sqlFd("fd_brand_type", "part", "p_brand", "p_type"),
    sqlFd("fd_order_flag", "lineitem", "l_orderkey", "l_returnflag"),
    sqlKey("key_orders", "orders", "o_orderkey"),
    sqlKey("key_lineitem_order", "lineitem", "l_orderkey"))
    .mkString("\nUNION ALL\n")

  // ===== seeded differentially-private count release ===================

  /** The release face of the privacy family: per-(nation, segment)
    * customer counts with seeded Laplace(1/eps) noise
    * ([[graft.ext.Govern.dpNoisyCounts]], eps = 1). The draw is
    * deterministic per (seed, group) — reproducible releases; the
    * oracle replays the portable-hash inverse-CDF draw exactly. */
  private val dpSeed = "r11"
  private val dpEps = 1.0

  private val dpReleaseQ: QFn = (s, d) =>
    Govern.dpNoisyCounts(Tables.customer(s, d),
      Seq("c_nationkey", "c_mktsegment"), epsilon = dpEps, seed = dpSeed)

  private val dpReleaseSql = {
    val p = graft.ext.Hashing.P
    val hash = Q.sqlHashP(
      s"'$dpSeed' || '|' || CAST(c_nationkey AS VARCHAR) || '|' || " +
        "c_mktsegment")
    val noise = Q.sqlSig9(
      s"CAST(${-1.0 / dpEps} AS DOUBLE) * CAST(sign(cc) AS DOUBLE) * " +
        "ln(CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) * abs(cc))")
    s"""WITH g AS (
       |  SELECT c_nationkey, c_mktsegment,
       |    CAST(count(*) AS BIGINT) AS n_true
       |  FROM customer GROUP BY 1, 2),
       |h AS (
       |  SELECT *,
       |    (CAST($hash AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
       |      CAST($p AS DOUBLE) - CAST(0.5 AS DOUBLE) AS cc
       |  FROM g),
       |nz AS (SELECT c_nationkey, c_mktsegment, n_true,
       |  $noise AS noise FROM h)
       |SELECT c_nationkey, c_mktsegment, n_true, noise,
       |  ${Q.sqlSig9("CAST(n_true AS DOUBLE) + noise")} AS n_released
       |FROM nz""".stripMargin
  }

  // ===== DP quantile release ===========================================

  private val dpqEps = 1.0
  private val dpqSeed = "dpq"
  // q_x_hist_quantile's exact binning, so the privacy-utility gap is
  // directly readable across the two rows
  private val dpqLo = 0.0
  private val dpqHi = 110000.0
  private val dpqBins = 64
  private val dpqQs = Seq(500, 900, 990)

  /** Percentiles released under ε-DP: the equi-width histogram's bin
    * counts pass through [[graft.ext.Govern.dpNoisyCounts]] (seeded
    * Laplace, sensitivity 1 — one row moves one bin count by one),
    * clamp to >= 0 and round (floor(x+0.5), one shared rule), and
    * [[graft.ext.Sketch.histQuantiles]] serves p50/p90/p99 from the
    * NOISY histogram — the standard private-percentile path (the
    * released support is the occupied-bin set, the histogram-release
    * convention). Compare against `q_x_hist_quantile` for the utility
    * cost of ε = 1. */
  private val dpQuantQ: QFn = (s, d) => {
    import graft.ext.Sketch
    val w = (dpqHi - dpqLo) / dpqBins
    val bin = least(greatest(
      floor((col("l_extendedprice").cast("double") - dpqLo) / w)
        .cast("long"), lit(0L)), lit(dpqBins - 1L))
    val noisy = Govern.dpNoisyCounts(
      Tables.lineitem(s, d).where(col("l_extendedprice").isNotNull)
        .select(bin.as("bin")),
      Seq("bin"), epsilon = dpqEps, seed = dpqSeed)
    val hist = noisy.select(col("bin"),
      greatest(lit(0L), floor(col("n_released") + lit(0.5)))
        .as("cnt"))
      .where(col("cnt") > 0L)
    Sketch.histQuantiles(hist, dpqQs, dpqLo, dpqHi, dpqBins)
  }

  private val dpQuantSql = {
    val w = (dpqHi - dpqLo) / dpqBins
    val p = graft.ext.Hashing.P
    val hash = Q.sqlHashP(s"'$dpqSeed' || '|' || CAST(bin AS VARCHAR)")
    val noise = Q.sqlSig9(
      s"CAST(${-1.0 / dpqEps} AS DOUBLE) * CAST(sign(cc) AS DOUBLE) * " +
        "ln(CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) * abs(cc))")
    val frac = Q.sqlSig9(
      s"((CAST(q_permille AS DOUBLE) * CAST(n AS DOUBLE) / " +
        s"CAST(1000.0 AS DOUBLE)) - CAST(st[3] AS DOUBLE)) / " +
        "CAST(st[4] AS DOUBLE)")
    s"""WITH hb AS (
       |  SELECT LEAST(GREATEST(CAST(floor(
       |      (CAST(l_extendedprice AS DOUBLE) - CAST($dpqLo AS DOUBLE))
       |        / CAST($w AS DOUBLE)) AS BIGINT), 0),
       |      ${dpqBins - 1}) AS bin,
       |    CAST(count(*) AS BIGINT) AS n_true
       |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
       |nz AS (
       |  SELECT bin, n_true,
       |    (CAST($hash AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
       |      CAST($p AS DOUBLE) - CAST(0.5 AS DOUBLE) AS cc
       |  FROM hb),
       |nz2 AS (SELECT bin, n_true, $noise AS noise FROM nz),
       |h AS (
       |  SELECT bin,
       |    GREATEST(CAST(0 AS BIGINT), CAST(FLOOR(
       |      ${Q.sqlSig9("CAST(n_true AS DOUBLE) + noise")} + 0.5)
       |      AS BIGINT)) AS cnt
       |  FROM nz2),
       |h2 AS (SELECT bin, cnt FROM h WHERE cnt > 0),
       |packed AS (
       |  SELECT list_sort(list([bin, cnt])) AS arr,
       |    CAST(sum(cnt) AS BIGINT) AS n
       |  FROM h2),
       |r AS (
       |  SELECT n, unnest([${dpqQs.mkString(", ")}]) AS q_permille, arr
       |  FROM packed),
       |f AS (
       |  SELECT CAST(q_permille AS BIGINT) AS q_permille, n,
       |    list_reduce(
       |      list_prepend(CAST([0, 0, 0, 0] AS BIGINT[]), arr),
       |      (acc, e) -> CASE
       |        WHEN acc[1] = 1
       |          THEN [1, acc[2], acc[3], acc[4]]
       |        WHEN (acc[3] + acc[4] + e[2]) * 1000 >= q_permille * n
       |          THEN [1, e[1], acc[3] + acc[4], e[2]]
       |        ELSE [0, e[1], acc[3] + acc[4], e[2]] END) AS st
       |  FROM r)
       |SELECT q_permille, n, st[2] AS bin,
       |  ${Q.sqlSig9(s"CAST($dpqLo AS DOUBLE) + CAST($w AS DOUBLE) * " +
            s"(CAST(st[2] AS DOUBLE) + ($frac))")} AS estimate,
       |  ${Q.sqlSig9(s"CAST($w AS DOUBLE) / CAST(2.0 AS DOUBLE)")}
       |    AS max_err
       |FROM f WHERE st[1] = 1""".stripMargin
  }

  // ===== referential-integrity audit ===================================

  /** Three declared foreign keys of the star schema: lineitem->orders
    * and orders->customer (both hold in the fixture) plus
    * lineitem->part restricted to part's Brand#11 slice (deliberately
    * violated — the "parent got filtered upstream" incident the audit
    * exists to catch). Child sides collapse to key domains before the
    * anti-join. */
  private val riAuditQ: QFn = (s, d) => {
    val ri1 = Govern.riAudit(Tables.lineitem(s, d), "ri_li_orders",
      "l_orderkey", Tables.orders(s, d), "o_orderkey")
    val ri2 = Govern.riAudit(Tables.orders(s, d), "ri_orders_customer",
      "o_custkey", Tables.customer(s, d), "c_custkey")
    val ri3 = Govern.riAudit(Tables.lineitem(s, d), "ri_li_part11",
      "l_partkey",
      Tables.part(s, d).where(col("p_brand") === "Brand#11"),
      "p_partkey")
    ri1.unionByName(ri2).unionByName(ri3)
  }

  private def sqlRi(name: String, child: String, fk: String,
      parent: String, pk: String, parentWhere: String = "") =
    s"""SELECT '$name' AS audit, n_rows, null_fk_rows, n_fks,
       |  orphan_fks, orphan_rows,
       |  CAST(orphan_rows AS DOUBLE) / CAST(n_rows AS DOUBLE)
       |    AS orphan_rate
       |FROM
       |  (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM $child),
       |  (SELECT CAST(COALESCE(sum(CASE WHEN $fk IS NULL THEN 1 END), 0)
       |     AS BIGINT) AS null_fk_rows FROM $child),
       |  (SELECT CAST(count(DISTINCT $fk) AS BIGINT) AS n_fks
       |   FROM $child WHERE $fk IS NOT NULL),
       |  (SELECT CAST(count(*) AS BIGINT) AS orphan_fks,
       |     CAST(COALESCE(sum(c), 0) AS BIGINT) AS orphan_rows
       |   FROM (SELECT $fk AS fkv, CAST(count(*) AS BIGINT) AS c
       |         FROM $child WHERE $fk IS NOT NULL GROUP BY 1) ck
       |   WHERE NOT EXISTS (SELECT 1 FROM $parent p
       |     WHERE p.$pk = ck.fkv $parentWhere))""".stripMargin

  private val riAuditSql = Seq(
    sqlRi("ri_li_orders", "lineitem", "l_orderkey", "orders",
      "o_orderkey"),
    sqlRi("ri_orders_customer", "orders", "o_custkey", "customer",
      "c_custkey"),
    sqlRi("ri_li_part11", "lineitem", "l_partkey", "part", "p_partkey",
      "AND p.p_brand = 'Brand#11'"))
    .mkString("\nUNION ALL\n")

  val queries: Map[String, (QFn, String)] = Map(
    "q_x_tcloseness" -> (tclosenessQ, tclosenessSql),
    "q_x_kanon" -> (kanonQ, kanonSql),
    "q_x_fd_audit" -> (fdAuditQ, fdAuditSql),
    "q_x_dp_release" -> (dpReleaseQ, dpReleaseSql),
    "q_x_dp_quantile" -> (dpQuantQ, dpQuantSql),
    "q_x_ri_audit" -> (riAuditQ, riAuditSql))
}
