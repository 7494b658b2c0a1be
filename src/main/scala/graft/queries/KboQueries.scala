package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.kbo.{Metrics, Records}
import Q._

/** The KBO analytics core (SURVEY.md §2.F M1–M12 + wide records J3/J4/J7 +
  * W1) under the DuckDB oracle. The metric formulas live in graft.kbo; here
  * we bind them to KBO-shaped frames derived DETERMINISTICALLY from the
  * neutral TPC-H fixtures (modular arithmetic on keys — the same derivation
  * is expressed once in Spark and once in the oracle SQL CTEs below), so a
  * transposed wOBA coefficient or a wrong join key hash-mismatches at
  * sf0.01.
  *
  * Formula citations (all into /root/reference):
  *   park factor dags/001_park_factor_calculation.py:42-72
  *   wOBA        dags/011_calculate_hitter_wOBA.py:41-42
  *   wRC         dags/012_calculate_hitter_wRC.py:82,93
  *   rates/BABIP dags/013_calculate_hitter_metrics.py:44-46
  *   FIP, x/9    dags/021_calculate_pitcher_metrics.py:66,83-86
  *   wRC+/OPS+   dags/041_calculate_hitter_metrics_with_park_factor.py:142-151
  *   wide record dags/050_insert_hitter_intergration_data.py:87-127,
  *               dags/060_insert_pitcher_integration_data.py:84-124
  */
object KboQueries {
  type QFn = (SparkSession, String) => DataFrame

  // ===== fixture -> KBO-shaped frame derivations (Spark side) ==========

  /** game_records from orders: stadium = order priority (5 "stadiums"). */
  def kboGames(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey").as("id"),
      col("o_orderpriority").as("stadium"),
      (floor(col("o_totalprice")).cast("long") % 10).as("home_score"),
      (col("o_custkey") % 10).as("away_score"))

  private val gamesSql =
    """games AS (
      |  SELECT o_orderkey AS id, o_orderpriority AS stadium,
      |         CAST(FLOOR(o_totalprice) AS BIGINT) % 10 AS home_score,
      |         o_custkey % 10 AS away_score
      |  FROM orders)""".stripMargin

  /** hitters from customer: counting stats by modular arithmetic on the
    * key; rate stats as exact-double derivations. pa >= 4 so the wOBA
    * denominator guard (pa-ibb-sac = 0) triggers on a real row subset. */
  def kboHitters(s: SparkSession, d: String): DataFrame = {
    val k = col("c_custkey")
    Tables.customer(s, d).select(
      k.as("hitter_id"),
      col("c_name").as("player_name"),
      concat(lit("T"), (col("c_nationkey") % 5).cast("string")).as("team_name"),
      (k % 40 + 4).as("pa"),
      (k % 7).as("bb"), (k % 3).as("ibb"), (k % 2).as("hbp"),
      (k % 20).as("hits"), (k % 5).as("doubles"), (k % 2).as("triples"),
      (k % 4).as("hr"), (k % 6).as("sb"), (k % 2).as("cs"),
      (k % 3).as("sac"), (k % 8).as("so"), (k % 3).as("sf"),
      ((k % 40 + 4) - (k % 7) - (k % 2) - (k % 3)).as("ab"),
      ((k % 300).cast("double") / lit(1000.0) + lit(0.2)).as("obp"),
      ((k % 400).cast("double") / lit(1000.0) + lit(0.3)).as("slg"))
  }

  private val hittersSql =
    """hitters AS (
      |  SELECT c_custkey AS hitter_id, c_name AS player_name,
      |         'T' || CAST(c_nationkey % 5 AS VARCHAR) AS team_name,
      |         c_custkey % 40 + 4 AS pa,
      |         c_custkey % 7 AS bb, c_custkey % 3 AS ibb,
      |         c_custkey % 2 AS hbp, c_custkey % 20 AS hits,
      |         c_custkey % 5 AS doubles, c_custkey % 2 AS triples,
      |         c_custkey % 4 AS hr, c_custkey % 6 AS sb,
      |         c_custkey % 2 AS cs, c_custkey % 3 AS sac,
      |         c_custkey % 8 AS so, c_custkey % 3 AS sf,
      |         (c_custkey % 40 + 4) - (c_custkey % 7) - (c_custkey % 2)
      |           - (c_custkey % 3) AS ab,
      |         CAST(c_custkey % 300 AS DOUBLE) / CAST(1000.0 AS DOUBLE)
      |           + CAST(0.2 AS DOUBLE) AS obp,
      |         CAST(c_custkey % 400 AS DOUBLE) / CAST(1000.0 AS DOUBLE)
      |           + CAST(0.3 AS DOUBLE) AS slg
      |  FROM customer)""".stripMargin

  /** pitchers from supplier, ip as the reference's "W T/3" fraction STRING
    * (parsed back by Exprs.ipToFloat — F3); whole innings = suppkey%9 so
    * ip_f = 0 rows exist and exercise the FIP zero-IP guard; era NULL every
    * 11th pitcher exercises the null-skipping league average (G5). */
  def kboPitchers(s: SparkSession, d: String): DataFrame = {
    val k = col("s_suppkey")
    val whole = (k % 9).cast("string")
    val thirds = k % 3
    Tables.supplier(s, d).select(
      k.as("pitcher_id"),
      col("s_name").as("player_name"),
      concat(lit("T"), (col("s_nationkey") % 5).cast("string")).as("team_name"),
      (k % 5).as("hr"), (k % 6).as("bb"), (k % 9).as("so"),
      when(k % 11 === 0, lit(null).cast("double"))
        .otherwise((k % 60).cast("double") / lit(10.0) + lit(1.0)).as("era"),
      when(thirds > 0,
          concat(whole, lit(" "), thirds.cast("string"), lit("/3")))
        .otherwise(whole).as("ip"))
  }

  private val pitchersSql =
    """pitchers AS (
      |  SELECT s_suppkey AS pitcher_id, s_name AS player_name,
      |         'T' || CAST(s_nationkey % 5 AS VARCHAR) AS team_name,
      |         s_suppkey % 5 AS hr, s_suppkey % 6 AS bb, s_suppkey % 9 AS so,
      |         CASE WHEN s_suppkey % 11 = 0 THEN NULL
      |              ELSE CAST(s_suppkey % 60 AS DOUBLE) / CAST(10.0 AS DOUBLE)
      |                   + CAST(1.0 AS DOUBLE) END AS era,
      |         CAST(s_suppkey % 9 AS DOUBLE)
      |           + CAST(s_suppkey % 3 AS DOUBLE) / CAST(3 AS DOUBLE) AS ip_f
      |  FROM supplier)""".stripMargin

  /** wOBA CTE (shared by the wRC and park-adjusted oracles). */
  private val wobaSql =
    """woba AS (
      |  SELECT hitter_id, pa,
      |         (CAST(0.7 AS DOUBLE) * (bb - ibb + hbp)
      |          + CAST(0.9 AS DOUBLE) * hits
      |          + CAST(1.25 AS DOUBLE) * doubles
      |          + CAST(1.6 AS DOUBLE) * triples
      |          + CAST(2.0 AS DOUBLE) * hr
      |          + CAST(0.25 AS DOUBLE) * sb
      |          - CAST(0.5 AS DOUBLE) * cs) / (pa - ibb - sac) AS v
      |  FROM hitters WHERE pa - ibb - sac <> 0)""".stripMargin

  /** wRC CTE on top of hitters+games+woba. */
  private val wrcSql =
    s"""scal AS (
       |  SELECT
       |    (SELECT CAST(CAST(SUM(away_score) + SUM(home_score) AS BIGINT)
       |       AS DOUBLE) FROM games) AS league_runs,
       |    (SELECT CAST(CAST(SUM(pa) AS BIGINT) AS DOUBLE) FROM hitters)
       |       AS league_pa,
       |    (SELECT ${sqlDavg("obp")} FROM hitters) AS league_obp,
       |    (SELECT ${sqlDavg("slg")} FROM hitters) AS league_slg,
       |    (SELECT ${sqlDavg("v")} FROM woba) AS league_woba),
       |wrc AS (
       |  SELECT w.hitter_id,
       |    ((w.v - s.league_woba)
       |       / ((s.league_woba - s.league_obp) / (s.league_slg - s.league_obp))
       |     + s.league_runs / s.league_pa) * w.pa AS v
       |  FROM woba w CROSS JOIN scal s)""".stripMargin

  // ===== M1: park factor ================================================

  private val m1: QFn = (s, d) => Metrics.parkFactor(kboGames(s, d))

  private val m1Sql =
    s"""WITH $gamesSql,
       |per AS (
       |  SELECT stadium,
       |    CAST(SUM(home_score) AS BIGINT) AS scored,
       |    CAST(SUM(away_score) AS BIGINT) AS allowed_score,
       |    COUNT(*) AS games FROM games GROUP BY stadium),
       |tot AS (
       |  SELECT *, CAST(SUM(scored) OVER () - scored AS BIGINT) AS oth_s,
       |         CAST(SUM(allowed_score) OVER () - allowed_score AS BIGINT) AS oth_a,
       |         CAST(SUM(games) OVER () - games AS BIGINT) AS oth_g
       |  FROM per)
       |SELECT stadium,
       |  CASE WHEN oth_g = 0 OR (oth_s + oth_a) = 0 THEN NULL
       |       ELSE (CAST(scored + allowed_score AS DOUBLE) / games)
       |            / (CAST(oth_s + oth_a AS DOUBLE) / oth_g) END AS park_factor
       |FROM tot""".stripMargin

  // ===== M2: wOBA =======================================================

  private val m2: QFn = (s, d) =>
    Metrics.hitterWoba(kboHitters(s, d))
      .select(col("hitter_id"), col("wOBA").as("woba"))

  private val m2Sql =
    s"""WITH $hittersSql, $wobaSql
       |SELECT hitter_id, v AS woba FROM woba""".stripMargin

  // ===== M3+M4: wOBA scale + wRC =======================================

  private val m3m4: QFn = (s, d) => {
    val hitters = kboHitters(s, d)
    Metrics.hitterWrc(kboGames(s, d), hitters, Metrics.hitterWoba(hitters))
      .select(col("hitter_id"), col("wRC").as("wrc"))
  }

  private val m3m4Sql =
    s"""WITH $gamesSql, $hittersSql, $wobaSql, $wrcSql
       |SELECT hitter_id, v AS wrc FROM wrc""".stripMargin

  // ===== M5-M7: k_rate / bb_rate / BABIP ================================

  private val m5m7: QFn = (s, d) =>
    Metrics.hitterRates(kboHitters(s, d))

  private val m5m7Sql =
    s"""WITH $hittersSql
       |SELECT hitter_id,
       |  CAST(so AS DOUBLE) / pa AS k_rate,
       |  CAST(bb AS DOUBLE) / pa AS bb_rate,
       |  CAST(hits - hr AS DOUBLE) / (ab - so - hr + sf) AS babip
       |FROM hitters WHERE pa <> 0 AND ab - so - hr + sf <> 0""".stripMargin

  // ===== M8-M10: FIP + per-9 rates ======================================

  private val m8m10: QFn = (s, d) =>
    Metrics.pitcherMetrics(kboPitchers(s, d))

  private val m8m10Sql =
    s"""WITH $pitchersSql,
       |lg AS (
       |  SELECT CAST(CAST(SUM(hr) AS BIGINT) AS DOUBLE) AS lg_hr,
       |         CAST(CAST(SUM(bb) AS BIGINT) AS DOUBLE) AS lg_bb,
       |         CAST(CAST(SUM(so) AS BIGINT) AS DOUBLE) AS lg_so,
       |         ${sqlDsum("ip_f")} AS lg_ip,
       |         ${sqlDavg("era")} AS lg_era
       |  FROM pitchers)
       |SELECT pitcher_id,
       |  (13 * hr + 3 * bb - 2 * so) / ip_f
       |    + (lg_era - (CAST(13 AS DOUBLE) * lg_hr + CAST(3 AS DOUBLE) * lg_bb
       |       - CAST(2 AS DOUBLE) * lg_so) / lg_ip) AS fip,
       |  CAST(so AS DOUBLE) * CAST(9.0 AS DOUBLE) / ip_f AS k_rate,
       |  CAST(bb AS DOUBLE) * CAST(9.0 AS DOUBLE) / ip_f AS bb_rate,
       |  CAST(hr AS DOUBLE) * CAST(9.0 AS DOUBLE) / ip_f AS hr_rate
       |FROM pitchers CROSS JOIN lg WHERE ip_f <> 0""".stripMargin

  // ===== M11+M12: park-adjusted wRC+ / OPS+ =============================

  /** lineup rows derived from every 3rd customer; stadium S0..S6 while the
    * park-factor table only covers S0..S4 — S5/S6 hit the defaultdict
    * pf=0 => NULL path (J6); position = custkey%10, 0 = pitcher (F2). */
  def kboLineup(s: SparkSession, d: String): DataFrame = {
    val k = col("c_custkey")
    Tables.customer(s, d).filter(k % 3 === 0).select(
      col("c_name").as("player"),
      concat(lit("T"), (col("c_nationkey") % 5).cast("string")).as("team"),
      concat(lit("S"), (k % 7).cast("string")).as("stadium"),
      (k % 10).as("position"))
  }

  private val lineupSql =
    """lineup AS (
      |  SELECT c_name AS player,
      |         'T' || CAST(c_nationkey % 5 AS VARCHAR) AS team,
      |         'S' || CAST(c_custkey % 7 AS VARCHAR) AS stadium,
      |         c_custkey % 10 AS pos
      |  FROM customer WHERE c_custkey % 3 = 0)""".stripMargin

  def kboParkFactors(s: SparkSession, d: String): DataFrame =
    Tables.region(s, d).select(
      concat(lit("S"), col("r_regionkey").cast("string")).as("stadium"),
      (col("r_regionkey").cast("double") * lit(0.1) + lit(0.8))
        .as("park_factor"))

  private val pfSql =
    """pf AS (
      |  SELECT 'S' || CAST(r_regionkey AS VARCHAR) AS stadium,
      |         CAST(r_regionkey AS DOUBLE) * CAST(0.1 AS DOUBLE)
      |           + CAST(0.8 AS DOUBLE) AS park_factor
      |  FROM region)""".stripMargin

  private val m11m12: QFn = (s, d) => {
    val hitters = kboHitters(s, d)
    val woba = Metrics.hitterWoba(hitters)
    val wrc = Metrics.hitterWrc(kboGames(s, d), hitters, woba)
    val scalars = Metrics.leagueScalars(hitters, wrc)
    Metrics.parkAdjusted(kboLineup(s, d), hitters, wrc,
        kboParkFactors(s, d), scalars)
      .select(col("hitter_id"), col("player_name"), col("team_name"),
        col("stadium"), col("wRC_plus").as("wrc_plus"),
        col("OPS_plus").as("ops_plus"))
  }

  private val m11m12Sql =
    s"""WITH $gamesSql, $hittersSql, $wobaSql, $wrcSql, $lineupSql, $pfSql,
       |scal2 AS (
       |  SELECT (SELECT ${sqlDavg("obp")} FROM hitters) AS league_obp,
       |         (SELECT ${sqlDavg("slg")} FROM hitters) AS league_slg,
       |         (SELECT CAST(CAST(SUM(pa) AS BIGINT) AS DOUBLE) FROM hitters)
       |           AS league_pa,
       |         (SELECT ${sqlDsum("v")} FROM wrc) AS league_wrc)
       |SELECT h.hitter_id, h.player_name, h.team_name, l.stadium,
       |  CASE WHEN COALESCE(p.park_factor, 0.0) = 0.0 OR h.pa = 0 THEN NULL
       |       ELSE (w.v / h.pa)
       |            / ((s2.league_wrc / s2.league_pa)
       |               / COALESCE(p.park_factor, 0.0))
       |            * CAST(100.0 AS DOUBLE) END AS wrc_plus,
       |  CASE WHEN COALESCE(p.park_factor, 0.0) = 0.0 THEN NULL
       |       ELSE (CAST(100.0 AS DOUBLE) / COALESCE(p.park_factor, 0.0))
       |            * (h.obp / s2.league_obp + h.slg / s2.league_slg
       |               - CAST(1.0 AS DOUBLE)) END AS ops_plus
       |FROM lineup l
       |JOIN hitters h ON l.player = h.player_name AND l.team = h.team_name
       |JOIN wrc w ON w.hitter_id = h.hitter_id
       |LEFT JOIN pf p ON l.stadium = p.stadium
       |CROSS JOIN scal2 s2
       |WHERE l.pos <> 0""".stripMargin

  // ===== 070: first-5-innings result (G4 array form + F10) ==============

  /** Scoreboard with per-inning ARRAY columns derived from lineitem
    * (inning i = linenumber i), then Metrics.fiveInningResult: slice
    * innings 1..5, fold, sign. Exercises the array-typed variant of G4 —
    * the column-typed variant is covered by q_g4/q_f10.
    * l_linenumber repeats within an order, so the sort key is
    * (linenumber, run value): the array_sort(struct(...)) total order
    * Spark applies, mirrored by ORDER BY ln, value in the oracle —
    * beyond that ties are between equal values and cannot change the
    * first-5 sum. */
  private val m070: QFn = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_partkey") % 5).cast("int").as("away_runs"),
        (col("l_suppkey") % 5).cast("int").as("home_runs"))
    val board = li.groupBy(col("l_orderkey"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("l_linenumber"),
            col("away_runs")))), x => x.getField("away_runs"))
          .as("away_innings"),
        transform(
          array_sort(collect_list(struct(col("l_linenumber"),
            col("home_runs")))), x => x.getField("home_runs"))
          .as("home_innings"))
      .select(col("l_orderkey").as("game_date"),
        lit("AWAY").as("away_team"), lit("HOME").as("home_team"),
        col("away_innings"), col("home_innings"))
    Metrics.fiveInningResult(board)
      .select(col("game_date"), col("away_team"), col("home_team"),
        col("result").cast("long").as("result"))
  }

  private val m070Sql =
    """WITH b AS (
      |  SELECT l_orderkey AS game_date,
      |    list(CAST(l_partkey % 5 AS INTEGER)
      |         ORDER BY l_linenumber, CAST(l_partkey % 5 AS INTEGER))
      |      AS ai,
      |    list(CAST(l_suppkey % 5 AS INTEGER)
      |         ORDER BY l_linenumber, CAST(l_suppkey % 5 AS INTEGER))
      |      AS hi
      |  FROM lineitem GROUP BY l_orderkey),
      |s AS (
      |  SELECT game_date,
      |    list_sum(ai[1:least(5, len(ai))]) AS a5,
      |    list_sum(hi[1:least(5, len(hi))]) AS h5
      |  FROM b)
      |SELECT game_date, 'AWAY' AS away_team, 'HOME' AS home_team,
      |  CAST(CASE WHEN a5 > h5 THEN -1 WHEN a5 = h5 THEN 0 ELSE 1 END
      |    AS BIGINT) AS result
      |FROM s""".stripMargin

  // ===== wide records (J1-J4/J7 + W1 + nested recent games) =============
  //
  // The nested recent_games array<struct> is digested to (recent_n,
  // recent_qty_sum) for the oracle compare — cross-engine hashing of nested
  // struct serialization is not contract-stable; the digest pins the same
  // window/top-k/join semantics. Full 75/77-col shape conformance is
  // asserted in WideSchemaSpec against Schemas.hitterRecords/pitcherRecords.

  /** opponent/stadium split tables: player x 5 regions. The value column
    * is named `val0`; Records.wideRecord prefixes it to opponent_val0 /
    * stadium_val0 (the reference's column-prefix convention, J3/J4). */
  private def splits(base: DataFrame, idCol: String,
                     k: org.apache.spark.sql.Column, region: DataFrame,
                     tag: String, mult: Int): DataFrame = {
    val m = col("r_regionkey").cast("long")
    base.crossJoin(region.select(col("r_regionkey"))).select(
      k.as(idCol),
      concat(lit(if (tag == "opponent") "T" else "S"), m.cast("string"))
        .as(if (tag == "opponent") "opponent_team" else "stadium"),
      ((k * mult + m) % 50).as("val0"))
  }

  /** Digest of the nested recent_games column for the oracle compare:
    * explicit NULL when the left join found no games (independent of
    * spark.sql.legacy.sizeOfNull). */
  private def recentDigest(wide: DataFrame): DataFrame =
    wide
      .withColumn("recent_n",
        when(col("recent_games").isNull, lit(null).cast("long"))
          .otherwise(size(col("recent_games")).cast("long")))
      .withColumn("recent_qty_sum",
        aggregate(col("recent_games"), lit(0L),
          (acc, x) => acc + x.getField("qty")))
      .drop("recent_games")

  private def recHitter: QFn = (s, d) => {
    val k = col("c_custkey")
    val cust = Tables.customer(s, d)
    val region = Tables.region(s, d)
    val lineup = cust.filter(k % 4 === 0).select(
      col("c_name").as("player"),
      concat(lit("T"), (col("c_nationkey") % 5).cast("string")).as("team"),
      concat(lit("T"), ((col("c_nationkey") + 1) % 5).cast("string"))
        .as("opponent"),
      concat(lit("S"), (k % 7).cast("string")).as("stadium"),
      (k % 10).as("position"))
    val players = kboHitters(s, d)
    // %3 vs the lineup's %4 filter => some lineup rows have no metrics
    // row, exercising the J2 left-join NULL pad.
    val metrics = cust.filter(k % 3 === 0).select(
      k.as("hitter_id"),
      ((k % 97).cast("double") / lit(97.0)).as("met_a"),
      ((k % 89).cast("double") / lit(89.0)).as("met_b"))
    val opponents = splits(cust, "hitter_id", k, region, "opponent", 7)
    val stadiums  = splits(cust, "hitter_id", k, region, "stadium", 11)
    val recent = Tables.orders(s, d).select(
      col("o_custkey").as("hitter_id"),
      col("o_orderdate").as("game_date"),
      concat(lit("T"), (col("o_orderkey") % 5).cast("string"))
        .as("opponent_team"),
      (floor(col("o_totalprice")).cast("long") % 100).as("qty"),
      col("o_orderkey").as("game_id"))
    recentDigest(Records.wideRecord(lineup, players, metrics, opponents,
      stadiums, recent, "hitter_id", isPitcher = false, recentK = 5,
      recentOrderCols = Seq("game_date", "opponent_team", "game_id")))
  }

  private val recHitterSql =
    s"""WITH $hittersSql,
       |lineup AS (
       |  SELECT c_name AS player,
       |         'T' || CAST(c_nationkey % 5 AS VARCHAR) AS team,
       |         'T' || CAST((c_nationkey + 1) % 5 AS VARCHAR) AS opponent,
       |         'S' || CAST(c_custkey % 7 AS VARCHAR) AS stadium,
       |         c_custkey % 10 AS pos
       |  FROM customer WHERE c_custkey % 4 = 0),
       |met AS (
       |  SELECT c_custkey AS hitter_id,
       |         CAST(c_custkey % 97 AS DOUBLE) / CAST(97.0 AS DOUBLE) AS met_a,
       |         CAST(c_custkey % 89 AS DOUBLE) / CAST(89.0 AS DOUBLE) AS met_b
       |  FROM customer WHERE c_custkey % 3 = 0),
       |opp AS (
       |  SELECT c_custkey AS hitter_id,
       |         'T' || CAST(r_regionkey AS VARCHAR) AS opponent_team,
       |         (c_custkey * 7 + CAST(r_regionkey AS BIGINT)) % 50
       |           AS opponent_val0
       |  FROM customer CROSS JOIN region),
       |std AS (
       |  SELECT c_custkey AS hitter_id,
       |         'S' || CAST(r_regionkey AS VARCHAR) AS stadium,
       |         (c_custkey * 11 + CAST(r_regionkey AS BIGINT)) % 50
       |           AS stadium_val0
       |  FROM customer CROSS JOIN region),
       |rec AS (
       |  SELECT hitter_id, COUNT(*) AS recent_n,
       |         CAST(SUM(qty) AS BIGINT) AS recent_qty_sum
       |  FROM (
       |    SELECT o_custkey AS hitter_id,
       |           CAST(FLOOR(o_totalprice) AS BIGINT) % 100 AS qty,
       |           ROW_NUMBER() OVER (PARTITION BY o_custkey
       |             ORDER BY o_orderdate DESC,
       |                      'T' || CAST(o_orderkey % 5 AS VARCHAR) DESC,
       |                      o_orderkey DESC) AS rn
       |    FROM orders) t WHERE rn <= 5 GROUP BY hitter_id)
       |SELECT l.player AS player_name, l.team AS team_name,
       |  l.opponent AS opponent_team, l.stadium, l.pos AS "position",
       |  h.hitter_id, h.pa, h.bb, h.ibb, h.hbp, h.hits, h.doubles, h.triples,
       |  h.hr, h.sb, h.cs, h.sac, h.so, h.sf, h.ab, h.obp, h.slg,
       |  m.met_a, m.met_b, o.opponent_val0, st.stadium_val0,
       |  r.recent_n, r.recent_qty_sum
       |FROM lineup l
       |JOIN hitters h ON l.player = h.player_name AND l.team = h.team_name
       |LEFT JOIN met m ON m.hitter_id = h.hitter_id
       |LEFT JOIN opp o ON o.hitter_id = h.hitter_id
       |  AND l.opponent = o.opponent_team
       |LEFT JOIN std st ON st.hitter_id = h.hitter_id
       |  AND l.stadium = st.stadium
       |LEFT JOIN rec r ON r.hitter_id = h.hitter_id
       |WHERE l.pos <> 0""".stripMargin

  private def recPitcher: QFn = (s, d) => {
    val k = col("s_suppkey")
    val supp = Tables.supplier(s, d)
    val region = Tables.region(s, d)
    val lineup = supp.filter(k % 2 === 0).select(
      col("s_name").as("player"),
      concat(lit("T"), (col("s_nationkey") % 5).cast("string")).as("team"),
      concat(lit("T"), ((col("s_nationkey") + 2) % 5).cast("string"))
        .as("opponent"),
      concat(lit("S"), (k % 7).cast("string")).as("stadium"),
      when(k % 3 === 0, lit(0L)).otherwise(k % 9 + 1).as("position"))
    val players = kboPitchers(s, d)
    // %4 vs the lineup's %2 filter => NULL-padded metrics rows exist.
    val metrics = supp.filter(k % 4 === 0).select(
      k.as("pitcher_id"),
      ((k % 83).cast("double") / lit(83.0)).as("met_fip"))
    val opponents = splits(supp, "pitcher_id", k, region, "opponent", 7)
    val stadiums  = splits(supp, "pitcher_id", k, region, "stadium", 11)
    val recent = Tables.orders(s, d).select(
      (col("o_custkey") % 100 + 1).as("pitcher_id"),
      col("o_orderdate").as("game_date"),
      concat(lit("T"), (col("o_orderkey") % 5).cast("string"))
        .as("opponent_team"),
      (floor(col("o_totalprice")).cast("long") % 100).as("qty"),
      col("o_orderkey").as("game_id"))
    recentDigest(Records.wideRecord(lineup, players, metrics, opponents,
      stadiums, recent, "pitcher_id", isPitcher = true, recentK = 5,
      recentOrderCols = Seq("game_date", "opponent_team", "game_id")))
  }

  private val recPitcherSql =
    s"""WITH $pitchersSqlFull,
       |lineup AS (
       |  SELECT s_name AS player,
       |         'T' || CAST(s_nationkey % 5 AS VARCHAR) AS team,
       |         'T' || CAST((s_nationkey + 2) % 5 AS VARCHAR) AS opponent,
       |         'S' || CAST(s_suppkey % 7 AS VARCHAR) AS stadium,
       |         CASE WHEN s_suppkey % 3 = 0 THEN CAST(0 AS BIGINT)
       |              ELSE s_suppkey % 9 + 1 END AS pos
       |  FROM supplier WHERE s_suppkey % 2 = 0),
       |met AS (
       |  SELECT s_suppkey AS pitcher_id,
       |         CAST(s_suppkey % 83 AS DOUBLE) / CAST(83.0 AS DOUBLE)
       |           AS met_fip
       |  FROM supplier WHERE s_suppkey % 4 = 0),
       |opp AS (
       |  SELECT s_suppkey AS pitcher_id,
       |         'T' || CAST(r_regionkey AS VARCHAR) AS opponent_team,
       |         (s_suppkey * 7 + CAST(r_regionkey AS BIGINT)) % 50
       |           AS opponent_val0
       |  FROM supplier CROSS JOIN region),
       |std AS (
       |  SELECT s_suppkey AS pitcher_id,
       |         'S' || CAST(r_regionkey AS VARCHAR) AS stadium,
       |         (s_suppkey * 11 + CAST(r_regionkey AS BIGINT)) % 50
       |           AS stadium_val0
       |  FROM supplier CROSS JOIN region),
       |rec AS (
       |  SELECT pitcher_id, COUNT(*) AS recent_n,
       |         CAST(SUM(qty) AS BIGINT) AS recent_qty_sum
       |  FROM (
       |    SELECT o_custkey % 100 + 1 AS pitcher_id,
       |           CAST(FLOOR(o_totalprice) AS BIGINT) % 100 AS qty,
       |           ROW_NUMBER() OVER (PARTITION BY o_custkey % 100 + 1
       |             ORDER BY o_orderdate DESC,
       |                      'T' || CAST(o_orderkey % 5 AS VARCHAR) DESC,
       |                      o_orderkey DESC) AS rn
       |    FROM orders) t WHERE rn <= 5 GROUP BY pitcher_id)
       |SELECT l.player AS player_name, l.team AS team_name,
       |  l.opponent AS opponent_team, l.stadium,
       |  p.pitcher_id, p.hr, p.bb, p.so, p.era, p.ip,
       |  m.met_fip, o.opponent_val0, st.stadium_val0,
       |  r.recent_n, r.recent_qty_sum
       |FROM lineup l
       |JOIN pitchers p ON l.player = p.player_name AND l.team = p.team_name
       |LEFT JOIN met m ON m.pitcher_id = p.pitcher_id
       |LEFT JOIN opp o ON o.pitcher_id = p.pitcher_id
       |  AND l.opponent = o.opponent_team
       |LEFT JOIN std st ON st.pitcher_id = p.pitcher_id
       |  AND l.stadium = st.stadium
       |LEFT JOIN rec r ON r.pitcher_id = p.pitcher_id
       |WHERE l.pos = 0""".stripMargin

  /** pitchers CTE variant that keeps the ip STRING (the wide record carries
    * it verbatim; m8m10's variant carries the parsed ip_f instead). */
  private lazy val pitchersSqlFull =
    """pitchers AS (
      |  SELECT s_suppkey AS pitcher_id, s_name AS player_name,
      |         'T' || CAST(s_nationkey % 5 AS VARCHAR) AS team_name,
      |         s_suppkey % 5 AS hr, s_suppkey % 6 AS bb, s_suppkey % 9 AS so,
      |         CASE WHEN s_suppkey % 11 = 0 THEN NULL
      |              ELSE CAST(s_suppkey % 60 AS DOUBLE) / CAST(10.0 AS DOUBLE)
      |                   + CAST(1.0 AS DOUBLE) END AS era,
      |         CASE WHEN s_suppkey % 3 > 0
      |              THEN CAST(s_suppkey % 9 AS VARCHAR) || ' ' ||
      |                   CAST(s_suppkey % 3 AS VARCHAR) || '/3'
      |              ELSE CAST(s_suppkey % 9 AS VARCHAR) END AS ip
      |  FROM supplier)""".stripMargin

  // ===== flagship: the whole hitter metric chain in one artifact ========

  /** DailyChain.hitterMetricsTable over the fixture-derived KBO frames —
    * wOBA -> wRC -> rates -> park-adjusted composed exactly as production
    * runs them, hash-checked end to end. One transposed coefficient or
    * wrong join anywhere in the chain fails this row. */
  private val chainHitterMetrics: QFn = (s, d) =>
    graft.jobs.DailyChain.hitterMetricsTable(
        kboGames(s, d), kboHitters(s, d), kboLineup(s, d),
        kboParkFactors(s, d))
      .select(col("hitter_id"), col("wOBA").as("woba"),
        col("wRC").as("wrc"), col("k_rate"), col("bb_rate"), col("babip"),
        col("wRC_plus").as("wrc_plus"), col("OPS_plus").as("ops_plus"))

  private val chainHitterMetricsSql =
    s"""WITH $gamesSql, $hittersSql, $wobaSql, $wrcSql, $lineupSql, $pfSql,
       |rates AS (
       |  SELECT hitter_id,
       |    CAST(so AS DOUBLE) / pa AS k_rate,
       |    CAST(bb AS DOUBLE) / pa AS bb_rate,
       |    CAST(hits - hr AS DOUBLE) / (ab - so - hr + sf) AS babip
       |  FROM hitters WHERE pa <> 0 AND ab - so - hr + sf <> 0),
       |scal2 AS (
       |  SELECT (SELECT ${sqlDavg("obp")} FROM hitters) AS league_obp,
       |         (SELECT ${sqlDavg("slg")} FROM hitters) AS league_slg,
       |         (SELECT CAST(CAST(SUM(pa) AS BIGINT) AS DOUBLE) FROM hitters)
       |           AS league_pa,
       |         (SELECT ${sqlDsum("v")} FROM wrc) AS league_wrc),
       |adj AS (
       |  SELECT h.hitter_id, l.stadium,
       |    CASE WHEN COALESCE(p.park_factor, 0.0) = 0.0 OR h.pa = 0
       |         THEN NULL
       |         ELSE (w.v / h.pa)
       |              / ((s2.league_wrc / s2.league_pa)
       |                 / COALESCE(p.park_factor, 0.0))
       |              * CAST(100.0 AS DOUBLE) END AS wrc_plus,
       |    CASE WHEN COALESCE(p.park_factor, 0.0) = 0.0 THEN NULL
       |         ELSE (CAST(100.0 AS DOUBLE) / COALESCE(p.park_factor, 0.0))
       |              * (h.obp / s2.league_obp + h.slg / s2.league_slg
       |                 - CAST(1.0 AS DOUBLE)) END AS ops_plus
       |  FROM lineup l
       |  JOIN hitters h ON l.player = h.player_name AND l.team = h.team_name
       |  JOIN wrc w ON w.hitter_id = h.hitter_id
       |  LEFT JOIN pf p ON l.stadium = p.stadium
       |  CROSS JOIN scal2 s2
       |  WHERE l.pos <> 0),
       |adj1 AS (
       |  SELECT hitter_id, wrc_plus, ops_plus FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY hitter_id
       |      ORDER BY stadium) AS rn FROM adj) t
       |  WHERE rn = 1)
       |SELECT w.hitter_id, w.v AS woba, wr.v AS wrc,
       |  r.k_rate, r.bb_rate, r.babip, a.wrc_plus, a.ops_plus
       |FROM woba w
       |LEFT JOIN wrc wr ON wr.hitter_id = w.hitter_id
       |LEFT JOIN rates r ON r.hitter_id = w.hitter_id
       |LEFT JOIN adj1 a ON a.hitter_id = w.hitter_id""".stripMargin

  val queries: Map[String, (QFn, String)] = Map(
    "q_m1_park_factor" -> (m1, m1Sql),
    "q_m2_woba" -> (m2, m2Sql),
    "q_m3m4_wrc" -> (m3m4, m3m4Sql),
    "q_m5m7_rates" -> (m5m7, m5m7Sql),
    "q_m8m10_fip" -> (m8m10, m8m10Sql),
    "q_m070_five_inning" -> (m070, m070Sql),
    "q_m11m12_park_adjusted" -> (m11m12, m11m12Sql),
    "q_rec_wide_hitter" -> (recHitter, recHitterSql),
    "q_rec_wide_pitcher" -> (recPitcher, recPitcherSql),
    "q_chain_hitter_metrics" -> (chainHitterMetrics, chainHitterMetricsSql))
}
