package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Shared, Tables}
import graft.ext.{Checkpoints, FuzzyJoin, Hashing, Scd2}
import Q._

/** Record-linkage and dimension-historization operators under the
  * DuckDB oracle: the exact-threshold set-similarity JOIN
  * ([[graft.ext.FuzzyJoin]]) and SCD2 historization
  * ([[graft.ext.Scd2]]). Same parity conventions as [[ExtQueries]]
  * (portable md5 hashing, second-formatted timestamps, integer-ratio
  * doubles left raw — single IEEE divisions are bit-identical).
  */
object LinkQueries {
  type QFn = (SparkSession, String) => DataFrame

  private val fmt = "yyyy-MM-dd HH:mm:ss"

  // ===== exact-threshold fuzzy join (entity resolution) ================

  /** Two catalogs = two brands of the `part` table; match products by
    * Jaccard >= 0.5 over (name + type) token hashes. The DuckDB twin is
    * the NAIVE cross join — the prefix-filtered plan is adjudicated
    * against brute force, which is the point: prefix filtering is an
    * exact method, so the result sets must be identical, not merely
    * high-recall. */
  private val fuzzyJoin: QFn = (s, d) => {
    val toks = Hashing.tokens(concat_ws(" ", col("p_name"), col("p_type")))
    def side(brand: String) = Tables.part(s, d)
      .where(col("p_brand") === brand)
      .select(col("p_partkey"), toks.as("tk"))
    FuzzyJoin.jaccardJoin(
      side("Brand#11"), "p_partkey", "tk",
      side("Brand#22"), "p_partkey", "tk", threshold = 0.5)
  }

  private val fuzzyJoinSql = {
    val hs = "list_sort(list_distinct(list_transform(" +
      "list_filter(string_split(p_name || ' ' || p_type, ' '), " +
      s"t -> t <> ''), t -> ${sqlHashP("t")})))"
    s"""WITH l AS (
       |  SELECT p_partkey AS id, $hs AS hs FROM part
       |  WHERE p_brand = 'Brand#11'),
       |r AS (
       |  SELECT p_partkey AS id, $hs AS hs FROM part
       |  WHERE p_brand = 'Brand#22'),
       |p AS (
       |  SELECT l.id AS left_id, r.id AS right_id,
       |    CAST(len(list_intersect(l.hs, r.hs)) AS DOUBLE) /
       |      (len(l.hs) + len(r.hs) - len(list_intersect(l.hs, r.hs)))
       |      AS jaccard
       |  FROM l, r WHERE len(l.hs) > 0 AND len(r.hs) > 0)
       |SELECT left_id, right_id, jaccard FROM p
       |WHERE jaccard >= CAST(0.5 AS DOUBLE)""".stripMargin
  }

  // ===== set-containment join (subsumption matching) ==================

  /** Brand#11 part NAMES contained (C >= 0.6) in Brand#22's richer
    * name+type descriptions — the asymmetric subsumption form of the
    * fuzzy join ([[graft.ext.FuzzyJoin.containmentJoin]]). The DuckDB
    * twin is the NAIVE cross join; containment is an exact
    * integer-ratio division, so the exact-method contract is identical
    * result SETS, not merely high recall. */
  private val containThreshold = 0.6

  private val containQ: QFn = (s, d) => {
    val l = Tables.part(s, d).where(col("p_brand") === "Brand#11")
      .select(col("p_partkey"), Hashing.tokens(col("p_name")).as("tk"))
    val r = Tables.part(s, d).where(col("p_brand") === "Brand#22")
      .select(col("p_partkey"),
        Hashing.tokens(concat_ws(" ", col("p_name"), col("p_type")))
          .as("tk"))
    FuzzyJoin.containmentJoin(l, "p_partkey", "tk",
      r, "p_partkey", "tk", containThreshold)
  }

  private val containSql = {
    def hs(expr: String) = "list_sort(list_distinct(list_transform(" +
      s"list_filter(string_split($expr, ' '), t -> t <> ''), " +
      s"t -> ${sqlHashP("t")})))"
    s"""WITH l AS (
       |  SELECT p_partkey AS id, ${hs("p_name")} AS hs FROM part
       |  WHERE p_brand = 'Brand#11'),
       |r AS (
       |  SELECT p_partkey AS id, ${hs("p_name || ' ' || p_type")} AS hs
       |  FROM part WHERE p_brand = 'Brand#22'),
       |p AS (
       |  SELECT l.id AS left_id, r.id AS right_id,
       |    CAST(len(list_intersect(l.hs, r.hs)) AS DOUBLE) /
       |      CAST(len(l.hs) AS DOUBLE) AS containment
       |  FROM l, r WHERE len(l.hs) > 0 AND len(r.hs) > 0)
       |SELECT left_id, right_id, containment FROM p
       |WHERE containment >= CAST($containThreshold AS DOUBLE)""".stripMargin
  }

  // ===== edit-distance join (typo-tolerant key matching) ==============

  /** Supplier names within ONE edit of each other (they differ only in
    * digit positions, so d=1 pairs are single-digit substitutions) —
    * the deletion-neighborhood plan adjudicated against the naive
    * cross-join + levenshtein oracle. Exact method: identical result
    * sets, not merely high recall. */
  private val editJoin: QFn = (s, d) => {
    val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))
    FuzzyJoin.editJoin(sup, "s_suppkey", "s_name",
        sup, "s_suppkey", "s_name", maxDist = 1)
      .where(col("left_id") < col("right_id"))
  }

  /** Jaro–Winkler re-scoring of the FastSS edit-distance candidates
    * (the native codegen'd `jaro_winkler` expression —
    * [[graft.functions.JaroWinkler]], bit-matched to DuckDB's
    * rapidfuzz port): candidate generation stays the anti-quadratic
    * deletion-neighborhood equi-join, the scorer runs once per
    * surviving pair inside whole-stage codegen, and the link rule
    * keeps pairs at jw >= 0.9 — the classic blocked-then-scored
    * record-linkage shape (block cheap, score precise). */
  private val jwLinkQ: QFn = (s, d) => {
    val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))
    val pairs = FuzzyJoin.editJoin(sup, "s_suppkey", "s_name",
        sup, "s_suppkey", "s_name", maxDist = 1)
      .where(col("left_id") < col("right_id"))
    val a = sup.select(col("s_suppkey").as("left_id"),
      col("s_name").as("left_name"))
    val b = sup.select(col("s_suppkey").as("right_id"),
      col("s_name").as("right_name"))
    pairs.join(a, "left_id").join(b, "right_id")
      .withColumn("jw", Q.sig9(
        call_function("jaro_winkler", col("left_name"), col("right_name"))))
      .where(col("jw") >= 0.9)
      .select(col("left_id"), col("right_id"), col("dist"), col("jw"))
  }

  private val jwLinkSql =
    s"""SELECT left_id, right_id, dist, jw FROM (
       |  SELECT a.s_suppkey AS left_id, b.s_suppkey AS right_id,
       |    CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist,
       |    ${Q.sqlSig9("jaro_winkler_similarity(a.s_name, b.s_name)")}
       |      AS jw
       |  FROM supplier a, supplier b
       |  WHERE a.s_suppkey < b.s_suppkey
       |    AND levenshtein(a.s_name, b.s_name) <= 1)
       |WHERE jw >= 0.9""".stripMargin

  private val editJoinSql =
    """SELECT a.s_suppkey AS left_id, b.s_suppkey AS right_id,
      |  CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist
      |FROM supplier a, supplier b
      |WHERE a.s_suppkey < b.s_suppkey
      |  AND levenshtein(a.s_name, b.s_name) <= 1""".stripMargin

  // ===== PageRank over the part co-purchase graph =====================

  /** Weighted PageRank on the graph whose nodes are parts and whose
    * edge (a, b) counts the orders containing both — "product
    * importance" link analysis. 5 power iterations; parts that never
    * co-occur are dangling nodes whose mass redistributes uniformly.
    * The oracle replays the IDENTICAL trajectory as generated
    * iteration CTEs (the GD-trajectory convention), so the
    * adjudication covers every rank vector, not a converged fixpoint.
    */
  private val pagerankIters = 5
  private val pagerankDamp = "0.85"

  /** Directed weighted co-purchase edges (w = orders holding both
    * parts) and the part node frame, derived from the shared a<b pair
    * frame: the per-pair row count, plus its swapped copy, is the a≠b
    * self-join count without a second basket build. */
  private val coEdges = Shared("q_x_pagerank", "q_x_ppr") { (s, d) =>
    val w = coPurchase(s, d).pairs.groupBy("a", "b")
      .agg(count(lit(1)).as("w"))
    // both shared by two queries, each reading them every iteration
    val e = w.unionByName(w.select(col("b").as("a"), col("a").as("b"),
        col("w")))
      .transform(Checkpoints.cut)
    val nodes = Tables.lineitem(s, d).select(col("l_partkey")).distinct()
      .transform(Checkpoints.cut)
    (e, nodes)
  }

  private val pagerankQ: QFn = (s, d) => {
    val (e, nodes) = coEdges.fresh(s, d)
    graft.ext.Graph.pageRank(e, "a", "b", "w", nodes, "l_partkey",
        iters = pagerankIters, damping = pagerankDamp.toDouble)
      .select(col("node").cast("long").as("part"), col("rank"))
  }

  private val pagerankSql = {
    val dmp = pagerankDamp
    val scale = graft.ext.Graph.SumScale
    // (1 - d) is computed ONCE here in DOUBLE arithmetic and embedded
    // at full round-trip precision: a bare SQL "(1.0 - 0.85)" would be
    // exact DECIMAL subtraction (0.15) in both DuckDB and Spark SQL,
    // one ulp away from the engine's double 1.0 - 0.85 — enough to
    // flip sig9 at a rounding tie (the decay-lambda convention)
    val baseNum = 1.0 - pagerankDamp.toDouble
    // AS MATERIALIZED on the iteration chain (DuckDB-only; the oracle
    // text never reaches Spark): each r CTE is referenced three times
    // by the next round, and DuckDB's default inlining re-evaluates
    // the whole prefix — exponential in the iteration count (the MMR
    // oracle lesson)
    val iterCtes = (1 to pagerankIters).map { i =>
      val rp = s"r${i - 1}"
      s"""c$i AS MATERIALIZED (
         |  SELECT e.b AS v,
         |    ${sqlDsumStable(sqlSig9(
             "rp.r * CAST(e.w AS DOUBLE) / CAST(ow.ow AS DOUBLE)"), scale)}
         |      AS s
         |  FROM e JOIN $rp rp ON e.a = rp.v JOIN ow ON ow.v = e.a
         |  GROUP BY 1),
         |d$i AS MATERIALIZED (
         |  SELECT COALESCE(${sqlDsumStable("rp.r", scale)}, 0.0) AS dm
         |  FROM $rp rp LEFT JOIN ow ON ow.v = rp.v WHERE ow.v IS NULL),
         |r$i AS MATERIALIZED (
         |  SELECT nodes.v, ${sqlSig9(s"CAST($baseNum AS DOUBLE) + $dmp * " +
             "(COALESCE(c.s, 0.0) + d.dm / CAST(nn.n AS DOUBLE))")} AS r
         |  FROM nodes CROSS JOIN d$i d CROSS JOIN nn
         |  LEFT JOIN c$i c ON c.v = nodes.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |ord AS (
       |  SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS ps
       |  FROM li GROUP BY 1),
       |ea AS (SELECT unnest(ps) AS a, ps FROM ord),
       |eb AS (SELECT a, unnest(ps) AS b FROM ea),
       |e AS (
       |  SELECT a, b, CAST(count(*) AS BIGINT) AS w FROM eb
       |  WHERE a <> b GROUP BY 1, 2),
       |nodes AS (SELECT DISTINCT l_partkey AS v FROM li),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |ow AS (SELECT a AS v, CAST(sum(w) AS BIGINT) AS ow FROM e GROUP BY 1),
       |r0 AS (SELECT v, CAST(1.0 AS DOUBLE) AS r FROM nodes),
       |$iterCtes
       |SELECT v AS part,
       |  ${sqlSig9(s"r$pagerankIters.r / CAST(nn.n AS DOUBLE)")} AS rank
       |FROM r$pagerankIters, nn""".stripMargin
  }

  // ===== personalized PageRank from a brand seed set ==================

  /** [[graft.ext.Graph.personalizedPageRank]] on the same co-purchase
    * graph as `q_x_pagerank`, teleporting to the parts of ONE brand —
    * "rank every part relative to Brand#23's catalog", the
    * related-item serving face. Dangling mass returns to the seeds
    * (the PPR convention); the oracle replays all iterations as
    * MATERIALIZED CTEs with the identical seed-indicator arithmetic. */
  private val pprIters = 3
  private val pprBrand = "Brand#23"

  private val pprQ: QFn = (s, d) => {
    val (e, nodes) = coEdges(s, d)
    val seeds = Tables.part(s, d).where(col("p_brand") === pprBrand)
      .select(col("p_partkey"))
    graft.ext.Graph.personalizedPageRank(e, "a", "b", "w", nodes,
        "l_partkey", seeds, "p_partkey", iters = pprIters,
        damping = pagerankDamp.toDouble)
      .select(col("node").cast("long").as("part"), col("rank"))
  }

  private val pprSql = {
    val dmp = pagerankDamp
    val scale = graft.ext.Graph.SumScale
    val baseNum = 1.0 - pagerankDamp.toDouble
    val seedMass = "(CAST(nn.n AS DOUBLE) / CAST(ss.s AS DOUBLE))"
    val iterCtes = (1 to pprIters).map { i =>
      val rp = s"r${i - 1}"
      s"""c$i AS MATERIALIZED (
         |  SELECT e.b AS v,
         |    ${sqlDsumStable(sqlSig9(
             "rp.r * CAST(e.w AS DOUBLE) / CAST(ow.ow AS DOUBLE)"), scale)}
         |      AS s
         |  FROM e JOIN $rp rp ON e.a = rp.v JOIN ow ON ow.v = e.a
         |  GROUP BY 1),
         |d$i AS MATERIALIZED (
         |  SELECT COALESCE(${sqlDsumStable("rp.r", scale)}, 0.0) AS dm
         |  FROM $rp rp LEFT JOIN ow ON ow.v = rp.v WHERE ow.v IS NULL),
         |r$i AS MATERIALIZED (
         |  SELECT nodes.v, ${sqlSig9(
             s"CASE WHEN sd.v IS NOT NULL THEN CAST($baseNum AS DOUBLE) " +
               s"* $seedMass + $dmp * (d.dm / CAST(ss.s AS DOUBLE)) " +
               s"ELSE 0.0 END + $dmp * COALESCE(c.s, 0.0)")} AS r
         |  FROM nodes CROSS JOIN d$i d CROSS JOIN nn CROSS JOIN ss
         |  LEFT JOIN sd ON sd.v = nodes.v
         |  LEFT JOIN c$i c ON c.v = nodes.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |ord AS (
       |  SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS ps
       |  FROM li GROUP BY 1),
       |ea AS (SELECT unnest(ps) AS a, ps FROM ord),
       |eb AS (SELECT a, unnest(ps) AS b FROM ea),
       |e AS (
       |  SELECT a, b, CAST(count(*) AS BIGINT) AS w FROM eb
       |  WHERE a <> b GROUP BY 1, 2),
       |nodes AS (SELECT DISTINCT l_partkey AS v FROM li),
       |sd AS (
       |  SELECT DISTINCT p.p_partkey AS v FROM part p
       |  JOIN nodes ON nodes.v = p.p_partkey
       |  WHERE p.p_brand = '$pprBrand'),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |ss AS (SELECT CAST(count(*) AS BIGINT) AS s FROM sd),
       |ow AS (SELECT a AS v, CAST(sum(w) AS BIGINT) AS ow FROM e GROUP BY 1),
       |r0 AS (
       |  SELECT nodes.v,
       |    CASE WHEN sd.v IS NOT NULL THEN $seedMass
       |      ELSE CAST(0.0 AS DOUBLE) END AS r
       |  FROM nodes CROSS JOIN nn CROSS JOIN ss
       |  LEFT JOIN sd ON sd.v = nodes.v),
       |$iterCtes
       |SELECT v AS part,
       |  ${sqlSig9(s"r$pprIters.r / CAST(nn.n AS DOUBLE)")} AS rank
       |FROM r$pprIters, nn""".stripMargin
  }

  // ===== HITS over the buyer->product bipartite graph =================

  /** Weighted HITS (mean-1 normalized — see Graph.hits) on the
    * directed customer→part purchase graph: hubs = buyers whose
    * baskets concentrate on authoritative parts, authorities = parts
    * bought by strong hubs. Part node ids offset by 10^8 to keep the
    * two id spaces disjoint. The oracle replays all four iterations
    * (both half-steps + normalization totals) as generated
    * MATERIALIZED CTEs. */
  private val hitsIters = 4
  private val partNodeOffset = 100000000L

  private val hitsQ: QFn = (s, d) => {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val e = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("c"),
        (col("l_partkey") + partNodeOffset).as("p"))
      .agg(count(lit(1)).as("w"))
    val nodes = e.select(col("c").as("v"))
      .unionByName(e.select(col("p").as("v"))).distinct()
    graft.ext.Graph.hits(e, "c", "p", "w", nodes, "v", iters = hitsIters)
      .select(col("node"), col("hub"), col("authority"))
  }

  private val hitsSql = {
    val scale = graft.ext.Graph.SumScale
    def half(i: Int, src: String, prev: String, prevCol: String,
        edgeKey: String, groupKey: String, out: String,
        outCol: String) =
      s"""${out}r$i AS MATERIALIZED (
         |  SELECT e.$groupKey AS v,
         |    ${sqlDsumStable(sqlSig9(
             s"p.$prevCol * CAST(e.w AS DOUBLE)"), scale)} AS raw
         |  FROM e JOIN $prev p ON e.$edgeKey = p.v GROUP BY 1),
         |${out}t$i AS MATERIALIZED (
         |  SELECT COALESCE(${sqlDsumStable("raw", scale)}, 0.0) AS tot
         |  FROM ${out}r$i),
         |$out$i AS MATERIALIZED (
         |  SELECT nodes.v,
         |    CASE WHEN t.tot > 0.0
         |         THEN ${sqlSig9("COALESCE(r.raw, 0.0) * " +
               "CAST(nn.n AS DOUBLE) / t.tot")}
         |         ELSE 0.0 END AS $outCol
         |  FROM nodes CROSS JOIN ${out}t$i t CROSS JOIN nn
         |  LEFT JOIN ${out}r$i r ON r.v = nodes.v)""".stripMargin
    val rounds = (1 to hitsIters).map { i =>
      half(i, "c", s"h${i - 1}", "h", "c", "p", "a", "a") + ",\n" +
        half(i, "p", s"a$i", "a", "p", "c", "h", "h")
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT o.o_custkey AS c, l.l_partkey + $partNodeOffset AS p,
       |    CAST(count(*) AS BIGINT) AS w
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  GROUP BY 1, 2),
       |nodes AS (
       |  SELECT DISTINCT v FROM (
       |    SELECT c AS v FROM e UNION ALL SELECT p AS v FROM e)),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |h0 AS (SELECT v, CAST(1.0 AS DOUBLE) AS h FROM nodes),
       |$rounds
       |SELECT h$hitsIters.v AS node, h$hitsIters.h AS hub,
       |  a$hitsIters.a AS authority
       |FROM h$hitsIters JOIN a$hitsIters ON h$hitsIters.v = a$hitsIters.v""".stripMargin
  }

  // ===== triangle counting ============================================

  /** The co-purchase family's shared prefix (triangles, clustering
    * coef, link prediction, assortativity, k-core, LPA, modularity,
    * pagerank, item_cf): `ord`, the checkpointed (l_orderkey, ps)
    * basket-array frame, and `pairs`, its basket-squared explode into
    * raw a<b pair rows (order multiplicities kept), ~2 s of work at
    * sf0.1. The basket id rides along in `pairs` (one long per row):
    * q_x_item_cf needs per-basket pair rows for its basket-size guard
    * and explodes `ord` for its distinct (basket, item) rows; the graph
    * queries select (a, b) and never see it. The basket frame is cut
    * before the explode so the fan-out runs at cluster width instead of
    * the AQE-coalesced handful of partitions of the groupBy output
    * (guide §2.6). */
  private[graft] final case class CoPurchase(ord: DataFrame, pairs: DataFrame)
  private[graft] val coPurchase = Shared("q_x_triangles", "q_x_pagerank",
      "q_x_linkpred", "q_x_assortativity", "q_x_kcore", "q_x_lpa",
      "q_x_modularity", "q_x_clustering_coef", "q_x_item_cf") { (s, d) =>
    val ord = Tables.lineitem(s, d).groupBy("l_orderkey")
      .agg(array_sort(array_distinct(collect_list(col("l_partkey"))))
        .as("ps"))
    val ordCk = Checkpoints.spread(Checkpoints.cut(ord))
    val pairs = ordCk
      .select(col("l_orderkey").as("o"), explode(col("ps")).as("a"),
        col("ps"))
      .select(col("o"), col("a"), explode(col("ps")).as("b"))
      .where(col("a") < col("b"))
      .transform(Checkpoints.cut) // shared by eight queries
    CoPurchase(ordCk, pairs)
  }
  private def coPurchasePairs(s: SparkSession, d: String): DataFrame =
    coPurchase(s, d).pairs

  /** Per-node triangle counts: clusteringCoef grades the SAME wedge
    * recount triangleCounts runs, and the O(m^1.5) closing join is the
    * bench's second most expensive prefix. */
  private val triCounts = Shared("q_x_triangles", "q_x_clustering_coef") {
    (s, d) =>
      graft.ext.Graph.triangleCounts(coPurchasePairs(s, d), "a", "b")
        .transform(Checkpoints.cut) // shared by two queries
  }

  /** Per-part triangle counts over the undirected co-purchase graph.
    * ENGINE: degree-ordered orientation (O(m^1.5) wedges); ORACLE: the
    * naive a<b<c three-way self-join — brute force adjudicates the
    * orientation trick, integer-exact. */
  private val trianglesQ: QFn = (s, d) => {
    coPurchase.fresh(s, d)
    triCounts.fresh(s, d)
      .select(col("node").cast("long").as("part"), col("n_tri"))
  }

  private val trianglesSql =
    """WITH ord AS (
      |  SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS ps
      |  FROM lineitem GROUP BY 1),
      |ea AS (SELECT unnest(ps) AS a, ps FROM ord),
      |eb AS (SELECT a, unnest(ps) AS b FROM ea),
      |e AS MATERIALIZED (
      |  SELECT DISTINCT a, b FROM eb WHERE a < b),
      |t AS MATERIALIZED (
      |  SELECT e1.a AS u, e1.b AS v, e2.b AS w
      |  FROM e e1
      |  JOIN e e2 ON e2.a = e1.b
      |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |n AS (
      |  SELECT u AS node FROM t
      |  UNION ALL SELECT v FROM t
      |  UNION ALL SELECT w FROM t)
      |SELECT node AS part, CAST(count(*) AS BIGINT) AS n_tri
      |FROM n GROUP BY 1""".stripMargin

  // ===== link prediction (capped common neighbors) ====================

  /** "Parts you may co-purchase": for non-adjacent part pairs sharing
    * common neighbors in the CAPPED (k=10 heaviest) co-purchase
    * adjacency, the common-neighbor count and capped-set Jaccard. The
    * cap is the operator's scale semantics (adjudicated, not an
    * approximation) — see Graph.linkPredict. */
  private val linkpredK = 10
  private val linkpredMaxPop = 50

  private val linkpredQ: QFn = (s, d) => {
    val pairs = coPurchasePairs(s, d).withColumn("w", lit(1L))
    graft.ext.Graph.linkPredict(pairs, "a", "b", "w", k = linkpredK,
        maxPopularity = linkpredMaxPop)
      .select(col("v").cast("long").as("v"), col("w").cast("long").as("w"),
        col("cn"), col("jaccard"))
  }

  private val linkpredSql =
    s"""WITH ord AS (
       |  SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS ps
       |  FROM lineitem GROUP BY 1),
       |ea AS (SELECT unnest(ps) AS a, ps FROM ord),
       |eb AS (SELECT a, unnest(ps) AS b FROM ea),
       |und AS MATERIALIZED (
       |  SELECT a, b, CAST(count(*) AS BIGINT) AS w FROM eb
       |  WHERE a < b GROUP BY 1, 2),
       |adjall AS (
       |  SELECT a AS u, b AS nb, w FROM und
       |  UNION ALL SELECT b AS u, a AS nb, w FROM und),
       |adj0 AS MATERIALIZED (
       |  SELECT u, nb FROM (
       |    SELECT u, nb, ROW_NUMBER() OVER (
       |      PARTITION BY u ORDER BY w DESC, nb) AS rn
       |    FROM adjall)
       |  WHERE rn <= $linkpredK),
       |keep AS (
       |  SELECT nb FROM adj0 GROUP BY nb
       |  HAVING count(*) <= $linkpredMaxPop),
       |adj AS MATERIALIZED (
       |  SELECT adj0.u, adj0.nb FROM adj0 JOIN keep USING (nb)),
       |ss AS MATERIALIZED (
       |  SELECT u, CAST(count(*) AS BIGINT) AS sz FROM adj GROUP BY 1),
       |cnc AS MATERIALIZED (
       |  SELECT x.u AS v, y.u AS w, CAST(count(*) AS BIGINT) AS cn
       |  FROM adj x JOIN adj y ON x.nb = y.nb AND x.u < y.u
       |  GROUP BY 1, 2)
       |SELECT cnc.v, cnc.w, cnc.cn,
       |  CAST(cnc.cn AS DOUBLE) /
       |    CAST(sv.sz + sw.sz - cnc.cn AS DOUBLE) AS jaccard
       |FROM cnc
       |LEFT JOIN und ON und.a = cnc.v AND und.b = cnc.w
       |JOIN ss sv ON sv.u = cnc.v
       |JOIN ss sw ON sw.u = cnc.w
       |WHERE und.a IS NULL""".stripMargin

  // ===== k-hop BFS reach ==============================================

  /** Hop distances from the %100==1 seed suppliers over the UNDIRECTED
    * supplier↔part bipartite supply graph (both edge directions passed
    * explicitly — [[graft.ext.Graph.khopDistances]] is directed).
    * k = 3: parts supplied (1), co-suppliers of those parts (2), their
    * parts (3). The ORACLE unrolls the three frontier rounds as
    * generated MATERIALIZED CTEs with NOT-EXISTS seen-set guards —
    * integer-exact, so min-distance semantics adjudicate bit-for-bit. */
  private val khopK = 3

  private val khopQ: QFn = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select(col("l_suppkey"), col("l_partkey"))
    val fwd = li.select(col("l_suppkey").as("a"),
      (col("l_partkey") + partNodeOffset).as("b"))
    val und = fwd.unionAll(fwd.select(col("b").as("a"), col("a").as("b")))
    val seeds = Tables.supplier(s, d)
      .where(col("s_suppkey") % 100 === 1)
      .select(col("s_suppkey").cast("long").as("v"))
    graft.ext.Graph.khopDistances(und, "a", "b", seeds, "v", khopK)
      .select(col("node").cast("long").as("node"), col("dist"))
  }

  private val khopSql = {
    val rounds = (1 to khopK).map { i =>
      val rp = s"r${i - 1}"
      s"""f$i AS MATERIALIZED (
         |  SELECT DISTINCT e.dst AS node
         |  FROM e JOIN $rp ON e.src = $rp.node AND $rp.dist = ${i - 1}
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM $rp s WHERE s.node = e.dst)),
         |r$i AS MATERIALIZED (
         |  SELECT node, dist FROM $rp
         |  UNION ALL SELECT node, CAST($i AS BIGINT) AS dist FROM f$i)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH fwd AS (
       |  SELECT DISTINCT l_suppkey AS a,
       |    l_partkey + $partNodeOffset AS b FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM fwd
       |  UNION SELECT b, a FROM fwd),
       |r0 AS MATERIALIZED (
       |  SELECT DISTINCT CAST(s_suppkey AS BIGINT) AS node,
       |    CAST(0 AS BIGINT) AS dist
       |  FROM supplier WHERE s_suppkey % 100 = 1),
       |$rounds
       |SELECT node, dist FROM r$khopK""".stripMargin
  }

  // ===== k-core peel ==================================================

  /** [[graft.ext.Graph.kCore]] at k = 60 over the part co-purchase
    * graph (the pagerank edge build, unweighted/distinct): which
    * parts sit in the densely co-ordered core once sparse hangers-on
    * are peeled away. Rounds = 4 covers the peel depth at every SF;
    * the ORACLE unrolls the identical degree→filter→semi-join rounds
    * as MATERIALIZED CTEs — all exact integers. */
  private val kcoreK = 60
  private val kcoreRounds = 4

  private val kcoreQ: QFn = (s, d) =>
    graft.ext.Graph.kCore(coPurchaseEdges(s, d), "a", "b", kcoreK,
        kcoreRounds)
      .select(col("node").cast("long").as("node"), col("degree"))

  private val kcoreSql = {
    val rounds = (1 to kcoreRounds).map { i =>
      val ep = s"e${i - 1}"
      s"""d$i AS (
         |  SELECT src, CAST(count(*) AS BIGINT) AS c FROM $ep
         |  GROUP BY 1),
         |k$i AS MATERIALIZED (
         |  SELECT src AS node FROM d$i WHERE c >= $kcoreK),
         |e$i AS MATERIALIZED (
         |  SELECT $ep.src, $ep.dst FROM $ep
         |  JOIN k$i s ON $ep.src = s.node
         |  JOIN k$i t ON $ep.dst = t.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT l.i AS src, r.i AS dst
       |  FROM p l JOIN p r ON l.o = r.o AND l.i <> r.i),
       |$rounds
       |SELECT CAST(src AS BIGINT) AS node,
       |  CAST(count(*) AS BIGINT) AS degree
       |FROM e$kcoreRounds GROUP BY 1""".stripMargin
  }

  // ===== weighted shortest paths (bounded Bellman-Ford) ===============

  /** [[graft.ext.Graph.shortestPaths]] over the UNDIRECTED
    * supplier↔part supply graph weighted by the minimum order
    * quantity per edge (integral by fixture contract, exact-long
    * min-plus), seeds = the khop %100==1 suppliers, 4 relaxation
    * rounds. The engine runs DELTA relaxation; the oracle unrolls
    * FULL per-round relaxation — after round i both equal
    * Bellman-Ford's dist_i exactly (improvements propagate, minima
    * are retained), which is the adjudicated claim. */
  private val ssspRounds = 4

  private val ssspQ: QFn = (s, d) => {
    val fwd = Tables.lineitem(s, d)
      .groupBy(col("l_suppkey").as("a"),
        (col("l_partkey") + partNodeOffset).as("b"))
      .agg(min(col("l_quantity")).cast("long").as("w"))
    val und = fwd.unionAll(fwd.select(col("b").as("a"), col("a").as("b"),
      col("w")))
    val seeds = Tables.supplier(s, d)
      .where(col("s_suppkey") % 100 === 1)
      .select(col("s_suppkey").cast("long").as("v"))
    graft.ext.Graph.shortestPaths(und, "a", "b", "w", seeds, "v",
        ssspRounds)
      .select(col("node").cast("long").as("node"), col("dist"))
  }

  private val ssspSql = {
    val rounds = (1 to ssspRounds).map { i =>
      val rp = s"r${i - 1}"
      s"""c$i AS MATERIALIZED (
         |  SELECT e.dst AS node, CAST(min($rp.dist + e.w) AS BIGINT)
         |    AS nd
         |  FROM e JOIN $rp ON e.src = $rp.node GROUP BY 1),
         |r$i AS MATERIALIZED (
         |  SELECT COALESCE(r.node, c.node) AS node,
         |    CAST(CASE WHEN r.dist IS NULL THEN c.nd
         |      WHEN c.nd IS NULL THEN r.dist
         |      WHEN c.nd < r.dist THEN c.nd ELSE r.dist END
         |      AS BIGINT) AS dist
         |  FROM $rp r FULL JOIN c$i c ON r.node = c.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH fwd AS (
       |  SELECT l_suppkey AS a, l_partkey + $partNodeOffset AS b,
       |    CAST(min(l_quantity) AS BIGINT) AS w
       |  FROM lineitem GROUP BY 1, 2),
       |e AS MATERIALIZED (
       |  SELECT a AS src, b AS dst, w FROM fwd
       |  UNION ALL SELECT b, a, w FROM fwd),
       |r0 AS MATERIALIZED (
       |  SELECT DISTINCT CAST(s_suppkey AS BIGINT) AS node,
       |    CAST(0 AS BIGINT) AS dist
       |  FROM supplier WHERE s_suppkey % 100 = 1),
       |$rounds
       |SELECT node, dist FROM r$ssspRounds""".stripMargin
  }

  // ===== SCD2 historization ===========================================

  /** events as a change log of each user's `event_type` attribute:
    * consecutive same-type events collapse, each surviving change
    * opens a version closed by the next change. The oracle rebuilds
    * the identical history with DuckDB's own window functions. */
  private val scd2: QFn = (s, d) => {
    val log = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
    Scd2.historize(log, Seq("user_id"), "ts",
        tracked = Seq("event_type"), tieBreak = Seq("event_id"))
      .select(col("user_id"), col("event_type"), col("event_id"),
        date_format(col("valid_from"), fmt).as("valid_from_s"),
        date_format(col("valid_to"), fmt).as("valid_to_s"),
        col("is_current"))
  }

  private val scd2Sql =
    """WITH o AS (
      |  SELECT user_id, event_type, event_id, ts,
      |         row_number() OVER w AS rn,
      |         lag(event_type) OVER w AS prev
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |c AS (
      |  SELECT user_id, event_type, event_id, ts AS valid_from
      |  FROM o WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
      |v AS (
      |  SELECT user_id, event_type, event_id, valid_from,
      |         lead(valid_from) OVER
      |           (PARTITION BY user_id ORDER BY valid_from, event_id)
      |           AS valid_to
      |  FROM c)
      |SELECT user_id, event_type, event_id,
      |  strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from_s,
      |  strftime(valid_to, '%Y-%m-%d %H:%M:%S') AS valid_to_s,
      |  valid_to IS NULL AS is_current
      |FROM v""".stripMargin

  // ===== market-basket association rules ==============================

  /** Frequent part pairs across orders (support >= 2 baskets), with
    * confidence and lift — "ordered together" mining over the
    * lineitem incidence. The a-priori item prune runs before the
    * quadratic within-basket join; all metrics are single sig9'd
    * divisions of exact counts. */
  private val assocMinSupport = 2L

  private val assocQ: QFn = (s, d) =>
    graft.ext.Basket.pairRules(
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", "l_partkey", minSupport = assocMinSupport)

  private val assocSql =
    s"""WITH tx AS (
       |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
       |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
       |ic AS (
       |  SELECT i, CAST(count(*) AS BIGINT) AS c FROM tx GROUP BY 1
       |  HAVING count(*) >= $assocMinSupport),
       |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n_baskets
       |  FROM tx),
       |pt AS (SELECT tx.b, tx.i, ic.c FROM tx JOIN ic USING (i)),
       |pp AS (
       |  SELECT l.i AS item1, r.i AS item2,
       |    CAST(count(*) AS BIGINT) AS pair_n,
       |    CAST(min(l.c) AS BIGINT) AS item1_n,
       |    CAST(min(r.c) AS BIGINT) AS item2_n
       |  FROM pt l JOIN pt r ON l.b = r.b AND l.i < r.i
       |  GROUP BY 1, 2 HAVING count(*) >= $assocMinSupport)
       |SELECT item1, item2, pair_n, item1_n, item2_n, nb.n_baskets,
       |  ${Q.sqlSig9("CAST(pair_n AS DOUBLE) / CAST(nb.n_baskets AS DOUBLE)")}
       |    AS support,
       |  ${Q.sqlSig9("CAST(pair_n AS DOUBLE) / CAST(item1_n AS DOUBLE)")}
       |    AS conf_1to2,
       |  ${Q.sqlSig9("CAST(pair_n AS DOUBLE) / CAST(item2_n AS DOUBLE)")}
       |    AS conf_2to1,
       |  ${Q.sqlSig9("CAST(CAST(pair_n AS DECIMAL(38,0)) * nb.n_baskets " +
           "AS DOUBLE) / CAST(CAST(item1_n AS DECIMAL(38,0)) * item2_n " +
           "AS DOUBLE)")} AS lift
       |FROM pp CROSS JOIN nb""".stripMargin

  // ===== label-propagation communities ================================

  /** [[graft.ext.Graph.labelPropagation]] over the part co-purchase
    * graph (the kcore edge build): which parts cluster into ordering
    * communities. Deterministic most-votes-then-smallest-label
    * updates; the ORACLE unrolls the identical synchronous rounds as
    * MATERIALIZED CTEs with a window argmax — all exact integers. */
  private val lpaRounds = 3

  /** Co-purchase edge frame shared by the LPA and modularity rows. */
  /** Symmetric distinct co-purchase edges (a≠b, both directions),
    * derived from the shared a<b pair frame: distinct of a<b pairs
    * union their swaps — exactly the set the old explode-then-distinct
    * produced, without re-paying the basket-squared explode. */
  private def coPurchaseEdges(s: SparkSession, d: String): DataFrame = {
    val p = coPurchasePairs(s, d).select(col("a"), col("b")).distinct()
    p.unionByName(p.select(col("b").as("a"), col("a").as("b")))
  }

  /** The LPA assignment: its iteration chain costs ~6 s at sf0.1, and
    * q_x_modularity grades the very partition q_x_lpa emits. */
  private val lpaAssign = Shared("q_x_lpa", "q_x_modularity") { (s, d) =>
    graft.ext.Graph.labelPropagation(coPurchaseEdges(s, d), "a", "b",
      lpaRounds).transform(Checkpoints.cut) // shared by two queries
  }

  private val lpaQ: QFn = (s, d) =>
    lpaAssign.fresh(s, d)
      .select(col("node").cast("long").as("node"), col("community"))

  private val lpaSql = {
    val rounds = (1 to lpaRounds).map { i =>
      val lp = s"l${i - 1}"
      s"""v$i AS (
         |  SELECT e.src AS node, l.lbl AS lbl,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM e JOIN $lp l ON e.dst = l.node GROUP BY 1, 2),
         |l$i AS MATERIALIZED (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl, ROW_NUMBER() OVER (PARTITION BY node
         |      ORDER BY c DESC, lbl ASC) AS rn FROM v$i)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT l.i AS src, r.i AS dst
       |  FROM p l JOIN p r ON l.o = r.o AND l.i <> r.i),
       |l0 AS MATERIALIZED (
       |  SELECT DISTINCT CAST(src AS BIGINT) AS node,
       |    CAST(src AS BIGINT) AS lbl
       |  FROM e),
       |$rounds
       |SELECT CAST(node AS BIGINT) AS node,
       |  CAST(lbl AS BIGINT) AS community
       |FROM l$lpaRounds""".stripMargin
  }

  // ===== row-level snapshot reconciliation ============================

  /** [[graft.ext.Profile.snapshotDiff]] of orders against a
    * deterministically mutated rebuild (hash-picked removals, +1.0
    * price changes, re-keyed additions): added / removed / changed /
    * unchanged plus per-column change attribution — the pre-swap
    * audit beside `q_x_scd2`'s historization. */
  private val snapDiffQ: QFn = (s, d) => {
    val base = Tables.orders(s, d)
    def flag(tag: String, m: Int) = pmod(Hashing.hash60(
      concat(lit(tag), col("o_orderkey").cast("string"))),
      lit(m.toLong)) === 0
    val newDf = base.where(!flag("rm:", 97))
      .withColumn("o_totalprice",
        when(flag("ch:", 13), col("o_totalprice") + lit(1.0))
          .otherwise(col("o_totalprice")))
      .unionByName(base.where(flag("ad:", 101))
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L)))
    graft.ext.Profile.snapshotDiff(base, newDf, Seq("o_orderkey"),
      Seq("o_totalprice", "o_orderstatus"))
  }

  private val snapDiffSql = {
    def flag(tag: String, m: Int) =
      s"(${Q.sqlHash60(s"'$tag' || CAST(o_orderkey AS VARCHAR)")} " +
        s"% $m = 0)"
    s"""WITH nw AS (
       |  SELECT o_orderkey,
       |    CASE WHEN ${flag("ch:", 13)} THEN o_totalprice + 1.0
       |      ELSE o_totalprice END AS o_totalprice,
       |    o_orderstatus
       |  FROM orders WHERE NOT ${flag("rm:", 97)}
       |  UNION ALL
       |  SELECT o_orderkey + 100000000, o_totalprice, o_orderstatus
       |  FROM orders WHERE ${flag("ad:", 101)}),
       |j AS (
       |  SELECT o.o_orderkey AS ko, n.o_orderkey AS kn,
       |    o.o_totalprice AS op, n.o_totalprice AS np,
       |    o.o_orderstatus AS os, n.o_orderstatus AS ns
       |  FROM orders o FULL OUTER JOIN nw n
       |    ON o.o_orderkey = n.o_orderkey),
       |fl AS (
       |  SELECT ko IS NOT NULL AND kn IS NOT NULL AS matched,
       |    ko IS NULL AS is_added, kn IS NULL AS is_removed,
       |    (ko IS NOT NULL AND kn IS NOT NULL AND
       |      NOT (op IS NOT DISTINCT FROM np)) AS dp,
       |    (ko IS NOT NULL AND kn IS NOT NULL AND
       |      NOT (os IS NOT DISTINCT FROM ns)) AS ds
       |  FROM j),
       |w AS (
       |  SELECT
       |    CAST(COALESCE(sum(CASE WHEN is_added THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS added,
       |    CAST(COALESCE(sum(CASE WHEN is_removed THEN 1 ELSE 0 END),
       |      0) AS BIGINT) AS removed,
       |    CAST(COALESCE(sum(CASE WHEN dp OR ds THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS changed,
       |    CAST(COALESCE(sum(CASE WHEN matched AND NOT (dp OR ds)
       |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS unchanged,
       |    CAST(COALESCE(sum(CASE WHEN dp THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS cp,
       |    CAST(COALESCE(sum(CASE WHEN ds THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS cs
       |  FROM fl)
       |SELECT 'added' AS metric, added AS n FROM w
       |UNION ALL SELECT 'removed', removed FROM w
       |UNION ALL SELECT 'changed', changed FROM w
       |UNION ALL SELECT 'unchanged', unchanged FROM w
       |UNION ALL SELECT 'col_changed:o_totalprice', cp FROM w
       |UNION ALL SELECT 'col_changed:o_orderstatus', cs FROM w"""
      .stripMargin
  }

  // ===== degree assortativity (graph mixing summary) ==================

  /** Newman degree assortativity of the part co-purchase graph (same
    * undirected simple edges as `q_x_triangles`): the Pearson r over
    * endpoint degrees of every directed stub
    * ([[graft.ext.Graph.assortativity]]). Degrees are exact integers,
    * the moments exact DECIMAL(38,0) sums, so the only IEEE ops are
    * the final sig9'd divisions — the oracle replays them term for
    * term. */
  private val assortQ: QFn = (s, d) =>
    graft.ext.Graph.assortativity(coPurchasePairs(s, d), "a", "b")

  private val assortSql = {
    val num = sqlSig9("CAST(sxy * n - sx * sy AS DOUBLE)")
    val dx = sqlSig9("CAST(sxx * n - sx * sx AS DOUBLE)")
    val dy = sqlSig9("CAST(syy * n - sy * sy AS DOUBLE)")
    s"""WITH ord AS (
       |  SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS ps
       |  FROM lineitem GROUP BY 1),
       |ea AS (SELECT unnest(ps) AS a, ps FROM ord),
       |eb AS (SELECT a, unnest(ps) AS b FROM ea),
       |e AS MATERIALIZED (SELECT DISTINCT a, b FROM eb WHERE a < b),
       |stubs AS (
       |  SELECT a AS u, b AS v FROM e
       |  UNION ALL SELECT b AS u, a AS v FROM e),
       |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS dg
       |  FROM stubs GROUP BY 1),
       |pr AS (
       |  SELECT du.dg AS du, dv.dg AS dv
       |  FROM stubs JOIN deg du ON stubs.u = du.u
       |  JOIN deg dv ON stubs.v = dv.u),
       |m AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(du AS DECIMAL(38,0))) AS sx,
       |    sum(CAST(dv AS DECIMAL(38,0))) AS sy,
       |    sum(CAST(du AS DECIMAL(38,0)) * dv) AS sxy,
       |    sum(CAST(du AS DECIMAL(38,0)) * du) AS sxx,
       |    sum(CAST(dv AS DECIMAL(38,0)) * dv) AS syy
       |  FROM pr),
       |cnt AS (
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
       |    (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       |    (SELECT CAST(max(dg) AS BIGINT) FROM deg) AS max_degree)
       |SELECT n_nodes, n_edges,
       |  ${sqlSig9("CAST(2.0 AS DOUBLE) * CAST(n_edges AS DOUBLE) / " +
            "CAST(n_nodes AS DOUBLE)")} AS mean_degree,
       |  max_degree,
       |  CASE WHEN ($dx) > 0 AND ($dy) > 0 THEN
       |    ${sqlSig9(s"($num) / ${sqlSig9(s"sqrt(($dx) * ($dy))")}")}
       |  END AS assortativity
       |FROM m, cnt""".stripMargin
  }

  // ===== modularity of the LPA communities ============================

  /** Community-quality readout: Newman–Girvan modularity of the
    * `q_x_lpa` label-propagation partition over the co-purchase graph
    * ([[graft.ext.Graph.modularity]]) — one row per community
    * (members, intra edges, degree mass, contribution) with the
    * graph-level Q broadcast on. The oracle replays the FULL LPA
    * iteration chain as a subquery, then the same exact-integer
    * modularity sums. */
  private val modularityQ: QFn = (s, d) =>
    graft.ext.Graph.modularity(coPurchaseEdges(s, d), "a", "b",
      lpaAssign(s, d), "node", "community")

  private val modularitySql = {
    val frac = sqlSig9("CAST(l_c AS DOUBLE) / CAST(m_edges AS DOUBLE)")
    val half = sqlSig9("CAST(d_c AS DOUBLE) / " +
      "(CAST(2.0 AS DOUBLE) * CAST(m_edges AS DOUBLE))")
    val contrib = sqlSig9(s"($frac) - ${sqlSig9(s"($half) * ($half)")}")
    s"""WITH comm AS MATERIALIZED (
       |  SELECT node, community AS cm FROM ($lpaSql)),
       |pp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS i
       |  FROM lineitem),
       |eu AS MATERIALIZED (
       |  SELECT DISTINCT LEAST(l.i, r.i) AS a, GREATEST(l.i, r.i) AS b
       |  FROM pp l JOIN pp r ON l.o = r.o AND l.i <> r.i),
       |stubs AS (SELECT a AS node FROM eu
       |  UNION ALL SELECT b FROM eu),
       |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d
       |  FROM stubs GROUP BY 1),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM eu),
       |intra AS (
       |  SELECT ca.cm AS cm, CAST(count(*) AS BIGINT) AS l_c
       |  FROM eu JOIN comm ca ON eu.a = ca.node
       |  JOIN comm cb ON eu.b = cb.node
       |  WHERE ca.cm = cb.cm GROUP BY 1),
       |mass AS (
       |  SELECT comm.cm, CAST(sum(deg.d) AS BIGINT) AS d_c,
       |    CAST(count(*) AS BIGINT) AS members
       |  FROM deg JOIN comm ON deg.node = comm.node GROUP BY 1),
       |per AS (
       |  SELECT mass.cm, members, COALESCE(intra.l_c, 0) AS l_c, d_c,
       |    m_edges
       |  FROM mass LEFT JOIN intra ON mass.cm = intra.cm, mm),
       |rows_ AS (
       |  SELECT cm AS community, members, l_c, d_c,
       |    $contrib AS contribution, m_edges
       |  FROM per),
       |qq AS (
       |  SELECT ${sqlDsumStable("contribution", 13)} AS modularity
       |  FROM rows_)
       |SELECT community, members, l_c, d_c, contribution, m_edges,
       |  modularity
       |FROM rows_, qq""".stripMargin
  }

  // ===== Fellegi–Sunter probabilistic record linkage ==================

  /** Supplier self-linkage blocked on nation
    * ([[graft.ext.Linkage.fsLink]]): comparison vector = (name within
    * one edit, acctbal in the same 1000-band), DECLARED m/u weights
    * (no EM — the deterministic scoring half of FS), log2-odds score,
    * link / possible / non_link at (6, 0). The oracle replays the
    * blocked join and the exact weight literals. */
  private val fsName = graft.ext.Linkage.FsField("name",
    levenshtein(col("l_s_name"), col("r_s_name")) <= 1, m = 0.95,
    u = 0.01)
  private val fsBand = graft.ext.Linkage.FsField("band",
    col("l_band") === col("r_band"), m = 0.6, u = 0.1)
  private val fsUpper = 6.0
  private val fsLower = 0.0

  private val fsLinkQ: QFn = (s, d) => {
    val sup = Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        floor(col("s_acctbal") / 1000).cast("long").as("band"))
    graft.ext.Linkage.fsLink(sup, sup, "s_suppkey",
      Seq("s_nationkey"), Seq(fsName, fsBand), upper = fsUpper,
      lower = fsLower, selfPairs = true)
  }

  private val fsLinkSql = {
    val score = sqlSig9(
      s"(CASE WHEN agree_name THEN CAST(${fsName.wAgree} AS DOUBLE) " +
        s"ELSE CAST(${fsName.wDisagree} AS DOUBLE) END + " +
        s"CASE WHEN agree_band THEN CAST(${fsBand.wAgree} AS DOUBLE) " +
        s"ELSE CAST(${fsBand.wDisagree} AS DOUBLE) END)")
    s"""WITH sup AS (
       |  SELECT s_suppkey, s_name, s_nationkey,
       |    CAST(floor(s_acctbal / 1000) AS BIGINT) AS band
       |  FROM supplier),
       |pairs AS (
       |  SELECT l.s_suppkey AS left_id, r.s_suppkey AS right_id,
       |    COALESCE(levenshtein(l.s_name, r.s_name) <= 1, FALSE)
       |      AS agree_name,
       |    COALESCE(l.band = r.band, FALSE) AS agree_band
       |  FROM sup l JOIN sup r ON l.s_nationkey = r.s_nationkey
       |    AND l.s_suppkey < r.s_suppkey),
       |scored AS (SELECT *, $score AS score FROM pairs)
       |SELECT left_id, right_id, agree_name, agree_band, score,
       |  CASE WHEN score >= $fsUpper THEN 'link'
       |    WHEN score <= $fsLower THEN 'non_link'
       |    ELSE 'possible' END AS decision
       |FROM scored""".stripMargin
  }

  // ===== pipeline 13: entity resolution end-to-end ====================

  /** ER pipeline: FS-scored blocked matching (`q_x_fs_link`'s exact
    * chain) -> 'link' pairs -> connected components (large-star/
    * small-star, [[graft.ext.Dedup.dupClustersStar]]) -> survivorship:
    * one canonical record per entity cluster — the min-key member
    * carries the name (stability rule), the completeness rule keeps
    * the best acctbal seen across members. Suppliers with no link
    * survive as singleton clusters, so the output is a full canonical
    * registry, not a duplicates report. The oracle replays matching
    * verbatim and closes components with a recursive CTE — the
    * O(log n)-round star algorithm must agree with transitive closure
    * exactly. */
  private val pipeline13Q: QFn = (s, d) => {
    val sup = Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal"),
        floor(col("s_acctbal") / 1000).cast("long").as("band"))
    val links = graft.ext.Linkage.fsLink(sup, sup, "s_suppkey",
      Seq("s_nationkey"), Seq(fsName, fsBand), upper = fsUpper,
      lower = fsLower, selfPairs = true)
      .where(col("decision") === "link")
      .select(col("left_id").as("a_id"), col("right_id").as("b_id"))
    val cc = graft.ext.Dedup.dupClustersStar(links)
    val labeled = sup
      .join(cc.select(col("doc_id").as("s_suppkey"), col("cluster_id")),
        Seq("s_suppkey"), "left")
      .select(col("s_suppkey"), col("s_acctbal"),
        coalesce(col("cluster_id"), col("s_suppkey")).as("cluster_id"))
    val agg = labeled.groupBy(col("cluster_id"))
      .agg(count(lit(1)).cast("long").as("n_members"),
        min(col("s_suppkey")).cast("long").as("canon_suppkey"),
        max(col("s_acctbal")).as("best_acctbal"))
    agg.join(sup.select(col("s_suppkey").as("canon_suppkey"),
        col("s_name").as("canon_name")), Seq("canon_suppkey"))
      .select(col("cluster_id").cast("long").as("cluster_id"),
        col("n_members"), col("canon_suppkey"), col("canon_name"),
        col("best_acctbal"))
  }

  private val pipeline13Sql = {
    val score = sqlSig9(
      s"(CASE WHEN COALESCE(levenshtein(l.s_name, r.s_name) <= 1, " +
        s"FALSE) THEN CAST(${fsName.wAgree} AS DOUBLE) " +
        s"ELSE CAST(${fsName.wDisagree} AS DOUBLE) END + " +
        s"CASE WHEN COALESCE(l.band = r.band, FALSE) " +
        s"THEN CAST(${fsBand.wAgree} AS DOUBLE) " +
        s"ELSE CAST(${fsBand.wDisagree} AS DOUBLE) END)")
    s"""WITH RECURSIVE sup AS (
       |  SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
       |    CAST(floor(s_acctbal / 1000) AS BIGINT) AS band
       |  FROM supplier),
       |pairs AS (
       |  SELECT l.s_suppkey AS a, r.s_suppkey AS b
       |  FROM sup l JOIN sup r ON l.s_nationkey = r.s_nationkey
       |    AND l.s_suppkey < r.s_suppkey
       |  WHERE $score >= $fsUpper),
       |sym(x, y) AS (
       |  SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
       |reach(node, r) AS (
       |  SELECT s_suppkey, s_suppkey FROM sup
       |  UNION
       |  SELECT s.y, r.r FROM reach r JOIN sym s ON s.x = r.node),
       |lab AS (
       |  SELECT node, CAST(MIN(r) AS BIGINT) AS cluster_id
       |  FROM reach GROUP BY node),
       |agg AS (
       |  SELECT l.cluster_id, CAST(count(*) AS BIGINT) AS n_members,
       |    CAST(min(l.node) AS BIGINT) AS canon_suppkey,
       |    max(s.s_acctbal) AS best_acctbal
       |  FROM lab l JOIN sup s ON s.s_suppkey = l.node GROUP BY 1)
       |SELECT a.cluster_id, a.n_members, a.canon_suppkey,
       |  s.s_name AS canon_name, a.best_acctbal
       |FROM agg a JOIN sup s ON s.s_suppkey = a.canon_suppkey""".stripMargin
  }

  // ===== clustering coefficients / transitivity =======================

  /** [[graft.ext.Graph.clusteringCoef]] on the co-purchase graph (same
    * undirected simple edges as `q_x_triangles`): per-node local
    * coefficients 2·tri/(d(d−1)) summed through the decimal route plus
    * the global transitivity 3·T/wedges — the standard "how cliquish
    * is this graph" readout beside degree mixing (assortativity). Each
    * c(v) is one IEEE division of exact integers; the oracle replays
    * the triangle join and the identical arithmetic. */
  private val ccoefQ: QFn = (s, d) =>
    graft.ext.Graph.clusteringCoef(coPurchasePairs(s, d), "a", "b",
      triCounts = Some(triCounts(s, d)))

  private val ccoefSql = {
    val cc = "CAST(2 * tri AS DOUBLE) / CAST(d * (d - 1) AS DOUBLE)"
    s"""WITH ord AS (
       |  SELECT l_orderkey, list_sort(list_distinct(list(l_partkey)))
       |    AS ps
       |  FROM lineitem GROUP BY 1),
       |ea AS (SELECT unnest(ps) AS a, ps FROM ord),
       |eb AS (SELECT a, unnest(ps) AS b FROM ea),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a, b FROM eb WHERE a < b),
       |t AS MATERIALIZED (
       |  SELECT e1.a AS u, e1.b AS v, e2.b AS w
       |  FROM e e1
       |  JOIN e e2 ON e2.a = e1.b
       |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
       |ntri AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS tri FROM (
       |    SELECT u AS node FROM t
       |    UNION ALL SELECT v FROM t
       |    UNION ALL SELECT w FROM t) GROUP BY 1),
       |deg AS (
       |  SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
       |    SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
       |nd AS (
       |  SELECT deg.v, deg.d, COALESCE(ntri.tri, 0) AS tri
       |  FROM deg LEFT JOIN ntri ON deg.v = ntri.node
       |  WHERE deg.d >= 2),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_nodes_deg2,
       |    CAST(sum(tri) // 3 AS BIGINT) AS n_triangles,
       |    CAST(sum(d * (d - 1)) // 2 AS BIGINT) AS n_wedges,
       |    ${Q.sqlDsumStable(cc, 9)} AS sum_cc
       |  FROM nd)
       |SELECT n_nodes_deg2, n_triangles, n_wedges,
       |  CASE WHEN n_wedges > 0 THEN ${Q.sqlSig9(
            "CAST(3 * n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)")}
       |    END AS transitivity,
       |  sum_cc,
       |  CASE WHEN n_nodes_deg2 > 0 THEN ${Q.sqlSig9(
            "sum_cc / CAST(n_nodes_deg2 AS DOUBLE)")}
       |    END AS avg_cc
       |FROM agg""".stripMargin
  }

  // ===== neighborhood function: exact + HyperBall =====================

  /** Shared graph for the neighborhood-function pair: the undirected
    * supplier↔part bipartite graph restricted to suppliers ≡ 1
    * (mod 16) — pruned because the EXACT pair frame is
    * Θ(Σ_v |ball_r(v)|) and densifies super-linearly (the
    * q_x_ann_brute adjudication-baseline pattern; [[Graph.hyperBall]]
    * is the scale path and runs on the SAME graph so its estimate is
    * directly readable against the exact twin). */
  private def nbrhoodEdges(s: SparkSession, d: String): DataFrame = {
    // ONE distinct scan of lineitem, cut, then both directions from
    // the materialized pair set (the un-cut union re-scanned lineitem
    // once per direction; the operators' own edge distinct then
    // dedups the pre-distinct frame a second time)
    val li = Checkpoints.spreadCut(Tables.lineitem(s, d)
      .where(col("l_suppkey") % 16 === 1)
      .select(col("l_suppkey").as("a"),
        (col("l_partkey") + partNodeOffset).as("b"))
      .distinct())
    li.unionAll(li.select(col("b").as("a"), col("a").as("b")))
  }

  private val nbrhoodRounds = 2

  private val nbrhoodQ: QFn = (s, d) =>
    graft.ext.Graph.neighborhoodExact(nbrhoodEdges(s, d), "a", "b",
      rounds = nbrhoodRounds)

  private val nbrhoodSql = {
    val rounds = (1 to nbrhoodRounds).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT v, u FROM r${i - 1}
         |  UNION
         |  SELECT r${i - 1}.v, e.dst AS u
         |  FROM r${i - 1} JOIN e ON r${i - 1}.u = e.src)""".stripMargin
    }.mkString(",\n")
    val rows = (0 to nbrhoodRounds).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS r,
         |  (SELECT CAST(count(*) AS BIGINT) FROM r$i) AS n_pairs,
         |  nt.n_nodes,
         |  ${Q.sqlSig9(s"CAST((SELECT count(*) FROM r$i) AS DOUBLE) " +
            "/ CAST(nt.n_nodes AS DOUBLE)")} AS avg_ball
         |FROM nt""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH li AS (
       |  SELECT DISTINCT l_suppkey AS s, l_partkey + $partNodeOffset
       |    AS p
       |  FROM lineitem WHERE l_suppkey % 16 = 1),
       |e AS MATERIALIZED (
       |  SELECT s AS src, p AS dst FROM li
       |  UNION SELECT p, s FROM li),
       |n AS (SELECT DISTINCT src AS v FROM e
       |  UNION SELECT DISTINCT dst FROM e),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM n),
       |r0 AS MATERIALIZED (SELECT v, v AS u FROM n),
       |$rounds
       |$rows""".stripMargin
  }

  /** [[graft.ext.Graph.hyperBall]] on the q_x_nbrhood graph: the HLL
    * neighborhood function (Boldi & Vigna 2013) whose per-round N̂(r)
    * is directly comparable to the exact twin's N(r). The oracle
    * replays the whole register propagation — per-node singleton
    * registers from the portable hash60, two max-merge rounds along
    * edges, the per-node HLL estimate (linear-counting branch
    * included) and the dsumStable(4) sum — in DuckDB. */
  private val hyperballP = 7

  private val hyperballQ: QFn = (s, d) =>
    graft.ext.Graph.hyperBall(nbrhoodEdges(s, d), "a", "b",
      rounds = nbrhoodRounds, p = hyperballP, salt = "hb")

  private val hyperballSql = {
    val m = 1L << hyperballP
    val md = m.toDouble
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val thr = 2.5 * m
    val maxRho = 60 - hyperballP + 1
    val fold = Q.sqlFold("list_transform(arr, mm -> " +
      "CAST(1.0 AS DOUBLE) / CAST((CAST(1 AS BIGINT) << mm) AS DOUBLE))")
    val corrected = Q.sqlSig9(s"CAST($md AS DOUBLE) * " +
      Q.sqlSig9(s"ln(CAST($md AS DOUBLE) / CAST(vz AS DOUBLE))"))
    def estRow(i: Int) =
      s"""ag$i AS (
         |  SELECT node, CAST(count(*) AS BIGINT) AS occ,
         |    list(M ORDER BY bucket) AS arr
         |  FROM g$i GROUP BY 1),
         |sv$i AS (
         |  SELECT node, occ, $m - occ AS vz,
         |    CAST($m - occ AS DOUBLE) + $fold AS sval
         |  FROM ag$i),
         |est$i AS (
         |  SELECT node,
         |    CAST($alpha AS DOUBLE) * CAST($md AS DOUBLE) *
         |      CAST($md AS DOUBLE) / sval AS raw, vz
         |  FROM sv$i),
         |fin$i AS (
         |  SELECT ${Q.sqlDsumStable(
            s"CASE WHEN raw <= CAST($thr AS DOUBLE) AND vz > 0 " +
              s"THEN $corrected ELSE ${Q.sqlSig9("raw")} END", 4)}
         |    AS nf_est
         |  FROM est$i)""".stripMargin
    val rounds = (1 to nbrhoodRounds).map { i =>
      s"""g$i AS MATERIALIZED (
         |  SELECT node, bucket, CAST(max(M) AS BIGINT) AS M FROM (
         |    SELECT e.src AS node, g.bucket, g.M
         |    FROM e JOIN g${i - 1} g ON e.dst = g.node
         |    UNION ALL SELECT node, bucket, M FROM g${i - 1})
         |  GROUP BY 1, 2),
         |${estRow(i)}""".stripMargin
    }.mkString(",\n")
    val rows = (0 to nbrhoodRounds).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS r, nt.n_nodes, fin$i.nf_est,
         |  ${Q.sqlSig9("fin$.nf_est / CAST(nt.n_nodes AS DOUBLE)")
            .replace("fin$", s"fin$i")} AS avg_ball_est
         |FROM nt CROSS JOIN fin$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH li AS (
       |  SELECT DISTINCT l_suppkey AS s, l_partkey + $partNodeOffset
       |    AS p
       |  FROM lineitem WHERE l_suppkey % 16 = 1),
       |e AS MATERIALIZED (
       |  SELECT s AS src, p AS dst FROM li
       |  UNION SELECT p, s FROM li),
       |n AS (SELECT DISTINCT src AS node FROM e
       |  UNION SELECT DISTINCT dst FROM e),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM n),
       |h0 AS (SELECT node,
       |  ${Q.sqlHash60("'hb:' || CAST(node AS VARCHAR)")} AS h
       |  FROM n),
       |g0 AS MATERIALIZED (
       |  SELECT node, h % $m AS bucket,
       |    CASE WHEN h // $m = 0 THEN CAST($maxRho AS BIGINT)
       |      ELSE len(bin(h // $m)) - len(rtrim(bin(h // $m), '0')) + 1
       |    END AS M
       |  FROM h0),
       |${estRow(0)},
       |$rounds
       |$rows""".stripMargin
  }

  val queries: Map[String, (QFn, String)] = Map(
    "q_x_nbrhood" -> (nbrhoodQ, nbrhoodSql),
    "q_x_hyperball" -> (hyperballQ, hyperballSql),
    "q_x_pipeline13" -> (pipeline13Q, pipeline13Sql),
    "q_x_ppr" -> (pprQ, pprSql),
    "q_x_clustering_coef" -> (ccoefQ, ccoefSql),
    "q_x_modularity" -> (modularityQ, modularitySql),
    "q_x_fs_link" -> (fsLinkQ, fsLinkSql),
    "q_x_assortativity" -> (assortQ, assortSql),
    "q_x_snapshot_diff" -> (snapDiffQ, snapDiffSql),
    "q_x_lpa" -> (lpaQ, lpaSql),
    "q_x_assoc_rules" -> (assocQ, assocSql),
    "q_x_fuzzy_join" -> (fuzzyJoin, fuzzyJoinSql),
    "q_x_contain_join" -> (containQ, containSql),
    "q_x_edit_join" -> (editJoin, editJoinSql),
    "q_x_jw_link" -> (jwLinkQ, jwLinkSql),
    "q_x_pagerank" -> (pagerankQ, pagerankSql),
    "q_x_hits" -> (hitsQ, hitsSql),
    "q_x_triangles" -> (trianglesQ, trianglesSql),
    "q_x_linkpred" -> (linkpredQ, linkpredSql),
    "q_x_khop" -> (khopQ, khopSql),
    "q_x_kcore" -> (kcoreQ, kcoreSql),
    "q_x_sssp" -> (ssspQ, ssspSql),
    "q_x_scd2" -> (scd2, scd2Sql))
}
