package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.{Hashing, Spatial}

/** Spatial operators under the DuckDB oracle ([[graft.ext.Spatial]]):
  * the exact grid distance join and grid density clustering.
  *
  * The fixtures carry no geography, so both queries derive a
  * deterministic planar point per customer from the portable md5-prefix
  * hash (the [[graft.ext.Hashing.hash60]] cross-engine contract — both
  * engines compute the identical coordinate, so cell membership and
  * distances are bit-comparable). The layout is DENSITY-STABILIZED: the
  * box side grows with sqrt(n), so point density — and with it the
  * distance join's output per point — is constant across scale factors.
  * That is the honest scale shape of geo data (more data means more
  * area covered at sensor density, not the same city sampled 10x), and
  * it is what makes the soak exponent of an output-bound operator
  * meaningful.
  */
object SpatialQueries {
  type QFn = (SparkSession, String) => DataFrame

  /** Uniform [0,1) hash coordinate, portable across engines. */
  private def u(tag: String, c: Column): Column =
    (Hashing.hash60(concat(lit(tag), c.cast("string"))) % 1000000L)
      .cast("double") / 1000000.0

  private def sqlU(tag: String, e: String): String =
    s"(CAST(${Q.sqlHash60(s"'$tag' || CAST($e AS VARCHAR)")} % 1000000 " +
      "AS DOUBLE) / 1000000.0)"

  // ===== exact grid distance join ======================================

  private val joinRadius = 300.0

  /** [[graft.ext.Spatial.distSelfJoin]] over the density-stabilized
    * customer layout: every pair of customers within 300 planar meters,
    * with the exact distance. The oracle is the same grid construction
    * in SQL — exactness of the 3x3 probe is adjudicated by
    * `SpatialSpec`'s brute-force parity sweep, so the oracle here may
    * share the (proven-complete) grid shape rather than paying the
    * all-pairs cross join at every SF. */
  private val geoJoinQ: QFn = (s, d) => {
    val cust = Tables.customer(s, d).select(col("c_custkey").as("id"))
    val tot = cust.agg(count(lit(1)).cast("long").as("__n"))
    val pts = cust.crossJoin(tot).select(col("id"),
      (u("gx:", col("id")) * sqrt(col("__n").cast("double")) * 1000.0)
        .as("x"),
      (u("gy:", col("id")) * sqrt(col("__n").cast("double")) * 1000.0)
        .as("y"))
    Spatial.distSelfJoin(pts, "id", "x", "y", joinRadius)
  }

  private val geoJoinSql =
    s"""WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer),
       |p AS (
       |  SELECT c_custkey AS id,
       |    ${sqlU("gx:", "c_custkey")} * SQRT(CAST(n AS DOUBLE)) * 1000.0
       |      AS x,
       |    ${sqlU("gy:", "c_custkey")} * SQRT(CAST(n AS DOUBLE)) * 1000.0
       |      AS y
       |  FROM customer, t),
       |g AS (
       |  SELECT id, x, y,
       |    CAST(FLOOR(x / $joinRadius) AS BIGINT) AS gx,
       |    CAST(FLOOR(y / $joinRadius) AS BIGINT) AS gy
       |  FROM p),
       |pr AS (
       |  SELECT id, x, y, gx + dx.d AS gx, gy + dy.d AS gy
       |  FROM g, (VALUES (-1), (0), (1)) dx(d),
       |       (VALUES (-1), (0), (1)) dy(d))
       |SELECT a.id AS a_id, b.id AS b_id,
       |  ${Q.sqlSig9("SQRT((a.x - b.x) * (a.x - b.x) + " +
        "(a.y - b.y) * (a.y - b.y))")} AS dist
       |FROM g a JOIN pr b ON a.gx = b.gx AND a.gy = b.gy AND a.id < b.id
       |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
       |  <= ${joinRadius * joinRadius}""".stripMargin

  // ===== grid density clustering =======================================

  private val clusterCell = 200.0
  private val clusterMinPts = 3L

  /** Hotspot-mixed layout: 30% of customers snap to one of 8 hash-
    * placed attractor centers (+-50 m jitter) — genuine dense blobs for
    * the core-cell machinery to find; the rest stay uniform background
    * that lands below minPts. Same portable-hash construction on both
    * engines. */
  private def hotspotPts(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).select(col("c_custkey").as("id"))
    val tot = cust.agg(count(lit(1)).cast("long").as("__n"))
    val l = sqrt(col("__n").cast("double")) * 1000.0
    val hot = (Hashing.hash60(concat(lit("hs:"), col("id").cast("string")))
      % 10L) < 3L
    val attr = Hashing.hash60(concat(lit("ha:"), col("id").cast("string"))) % 8L
    def jitter(tag: String): Column =
      ((Hashing.hash60(concat(lit(tag), col("id").cast("string"))) % 2001L)
        .cast("double") - 1000.0) / 1000.0 * 50.0
    cust.crossJoin(tot).select(col("id"),
      when(hot, u("cx:", attr) * l + jitter("jx:"))
        .otherwise(u("gx:", col("id")) * l).as("x"),
      when(hot, u("cy:", attr) * l + jitter("jy:"))
        .otherwise(u("gy:", col("id")) * l).as("y"))
  }

  /** [[graft.ext.Spatial.gridCluster]] on the hotspot layout: one row
    * per density cluster with its population and core-cell bounding
    * box. The oracle reproduces the cell grid and labels components
    * with a recursive CTE over the (tiny) core-cell adjacency — the
    * same recursive-oracle pattern as `q_x_dedup_clusters`. */
  private val geoClusterQ: QFn = (s, d) => {
    val asg = Spatial.gridCluster(hotspotPts(s, d), "id", "x", "y",
      clusterCell, clusterMinPts)
    asg.where(col("cluster_id").isNotNull)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_points"),
        count_distinct((col("gx") + lit(1048576L)) * lit(2097152L) +
          col("gy") + lit(1048576L)).cast("long").as("n_cells"),
        min(col("gx")).as("gx_min"), max(col("gx")).as("gx_max"),
        min(col("gy")).as("gy_min"), max(col("gy")).as("gy_max"))
  }

  private val geoClusterSql = {
    val off = 1048576L
    val side = 2097152L
    s"""WITH RECURSIVE
       |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer),
       |p AS (
       |  SELECT c_custkey AS id,
       |    CASE WHEN ${Q.sqlHash60("'hs:' || CAST(c_custkey AS VARCHAR)")}
       |           % 10 < 3
       |      THEN ${sqlU("cx:",
        s"${Q.sqlHash60("'ha:' || CAST(c_custkey AS VARCHAR)")} % 8")}
       |        * SQRT(CAST(n AS DOUBLE)) * 1000.0
       |        + (CAST(${Q.sqlHash60("'jx:' || CAST(c_custkey AS VARCHAR)")}
       |           % 2001 AS DOUBLE) - 1000.0) / 1000.0 * 50.0
       |      ELSE ${sqlU("gx:", "c_custkey")}
       |        * SQRT(CAST(n AS DOUBLE)) * 1000.0 END AS x,
       |    CASE WHEN ${Q.sqlHash60("'hs:' || CAST(c_custkey AS VARCHAR)")}
       |           % 10 < 3
       |      THEN ${sqlU("cy:",
        s"${Q.sqlHash60("'ha:' || CAST(c_custkey AS VARCHAR)")} % 8")}
       |        * SQRT(CAST(n AS DOUBLE)) * 1000.0
       |        + (CAST(${Q.sqlHash60("'jy:' || CAST(c_custkey AS VARCHAR)")}
       |           % 2001 AS DOUBLE) - 1000.0) / 1000.0 * 50.0
       |      ELSE ${sqlU("gy:", "c_custkey")}
       |        * SQRT(CAST(n AS DOUBLE)) * 1000.0 END AS y
       |  FROM customer, t),
       |g AS (
       |  SELECT id,
       |    CAST(FLOOR(x / $clusterCell) AS BIGINT) AS gx,
       |    CAST(FLOOR(y / $clusterCell) AS BIGINT) AS gy
       |  FROM p),
       |cells AS (
       |  SELECT gx, gy, CAST(count(*) AS BIGINT) AS cn
       |  FROM g GROUP BY 1, 2),
       |core AS (
       |  SELECT gx, gy, (gx + $off) * $side + (gy + $off) AS cid
       |  FROM cells WHERE cn >= $clusterMinPts),
       |sym(xc, yc) AS (
       |  SELECT a.cid, b.cid FROM core a JOIN core b
       |    ON abs(a.gx - b.gx) <= 1 AND abs(a.gy - b.gy) <= 1),
       |reach(node, r) AS (
       |  SELECT cid, cid FROM core
       |  UNION
       |  SELECT s.yc, r.r FROM reach r JOIN sym s ON s.xc = r.node),
       |lab AS (SELECT node AS cid, MIN(r) AS cluster_id
       |  FROM reach GROUP BY 1),
       |asg AS (
       |  SELECT g.id, core.gx, core.gy, core.cid, lab.cluster_id
       |  FROM g JOIN core ON g.gx = core.gx AND g.gy = core.gy
       |  JOIN lab ON core.cid = lab.cid)
       |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_points,
       |  CAST(count(DISTINCT cid) AS BIGINT) AS n_cells,
       |  MIN(gx) AS gx_min, MAX(gx) AS gx_max,
       |  MIN(gy) AS gy_min, MAX(gy) AS gy_max
       |FROM asg GROUP BY 1""".stripMargin
  }

  val queries: Map[String, (QFn, String)] = Map(
    "q_x_geo_join" -> (geoJoinQ, geoJoinSql),
    "q_x_geo_cluster" -> (geoClusterQ, geoClusterSql))
}
