package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.functions.Exprs
import graft.sinks.UpsertWriter
import Q._

/** SURVEY.md §2 operator classes F/G/J/W/A instantiated over the neutral
  * driver fixtures (TESTDATA.md), each with a DuckDB oracle twin in
  * `oracles`. The KBO-domain semantics live in graft.kbo; these queries
  * bind the same operators to the TPC-H-ish tables so the driver can
  * hash-compare against DuckDB.
  */
object RelationalQueries {
  type QFn = (SparkSession, String) => DataFrame

  // --- F1: date-equality / range predicate after reformat --------------
  private val f1: QFn = (s, d) =>
    Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1997-01-01").cast("timestamp") &&
              col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"),
        col("o_orderpriority"))

  private val f1Sql =
    """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS od, o_orderpriority
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      |  AND o_orderpriority = '1-URGENT'""".stripMargin

  // --- F3: innings-pitched fraction parse ------------------------------
  // Build "W T/3"-style strings from lineitem, parse with Exprs.ipToFloat.
  private val f3: QFn = (s, d) => {
    val li = Tables.lineitem(s, d)
    val qty = floor(col("l_quantity")).cast("long")
    val thirds = qty % 3
    val ln = col("l_linenumber").cast("long")
    val fracOnly = (ln % 7 === 0) && (thirds > 0)
    val ip = when(fracOnly, concat(thirds.cast("string"), lit("/3")))
      .otherwise(when(thirds > 0,
          concat(ln.cast("string"), lit(" "), thirds.cast("string"), lit("/3")))
        .otherwise(ln.cast("string")))
    li.select(col("l_orderkey"), ln.as("ln"), ip.as("ip"),
      Exprs.ipToFloat(ip).as("ip_f"))
  }

  private val f3Sql =
    """WITH t AS (
      |  SELECT l_orderkey,
      |         CAST(l_linenumber AS BIGINT) AS ln,
      |         CAST(FLOOR(l_quantity) AS BIGINT) % 3 AS thirds
      |  FROM lineitem)
      |SELECT l_orderkey, ln,
      |  CASE WHEN ln % 7 = 0 AND thirds > 0 THEN thirds || '/3'
      |       WHEN thirds > 0 THEN ln || ' ' || thirds || '/3'
      |       ELSE CAST(ln AS VARCHAR) END AS ip,
      |  CASE WHEN ln % 7 = 0 AND thirds > 0 THEN thirds / 3.0
      |       WHEN thirds > 0 THEN ln + thirds / 3.0
      |       ELSE CAST(ln AS DOUBLE) END AS ip_f
      |FROM t""".stripMargin

  // --- F4/F5: "-" placeholder -> NULL cast; percent normalize ----------
  private val f4: QFn = (s, d) => {
    val li = Tables.lineitem(s, d)
    val raw = when(col("l_returnflag") === "R", lit("-"))
      .otherwise(floor(col("l_quantity")).cast("long").cast("string"))
    li.select(col("l_orderkey"), col("l_linenumber").cast("long").as("ln"),
      Exprs.dashNull(raw).as("val"), Exprs.percent(raw).as("pct"))
  }

  private val f4Sql =
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln,
      |  CASE WHEN l_returnflag = 'R' THEN NULL
      |       ELSE CAST(CAST(FLOOR(l_quantity) AS BIGINT) AS DOUBLE) END AS val,
      |  CASE WHEN l_returnflag = 'R' THEN NULL
      |       ELSE CAST(CAST(FLOOR(l_quantity) AS BIGINT) AS DOUBLE) END / 100.0 AS pct
      |FROM lineitem""".stripMargin

  // --- F6/F7/F11: regex bundle parses + first-token cleanup ------------
  private val f6: QFn = (s, d) => {
    val o = Tables.orders(s, d)
    val ascore = (col("o_custkey") % 10).cast("string")
    val hscore = (floor(col("o_totalprice")).cast("long") % 10).cast("string")
    val bundle = concat(lit("HANWHA"), ascore, lit("vs"), hscore, lit("SAMSUNG"))
    val sched = concat(lit("LG"), lit("vs"), col("o_orderstatus"))
    val noisy = concat(col("o_orderpriority"), lit("  LIONS"))
    o.select(col("o_orderkey"),
      Exprs.bundleAway(bundle).as("b_away"),
      Exprs.bundleAScore(bundle).cast("long").as("b_ascore"),
      Exprs.bundleHScore(bundle).cast("long").as("b_hscore"),
      Exprs.bundleHome(bundle).as("b_home"),
      Exprs.schedAway(sched).as("s_away"),
      Exprs.schedHome(sched).as("s_home"),
      Exprs.firstToken(noisy).as("tok"))
  }

  private val f6Sql =
    """WITH t AS (
      |  SELECT o_orderkey,
      |    'HANWHA' || CAST(o_custkey % 10 AS VARCHAR) || 'vs' ||
      |      CAST(CAST(FLOOR(o_totalprice) AS BIGINT) % 10 AS VARCHAR) || 'SAMSUNG' AS bundle,
      |    'LG' || 'vs' || o_orderstatus AS sched,
      |    o_orderpriority || '  LIONS' AS noisy
      |  FROM orders)
      |SELECT o_orderkey,
      |  regexp_extract(bundle, '^(\D+)(\d+)vs(\d+)(\D+)$', 1) AS b_away,
      |  CAST(regexp_extract(bundle, '^(\D+)(\d+)vs(\d+)(\D+)$', 2) AS BIGINT) AS b_ascore,
      |  CAST(regexp_extract(bundle, '^(\D+)(\d+)vs(\d+)(\D+)$', 3) AS BIGINT) AS b_hscore,
      |  regexp_extract(bundle, '^(\D+)(\d+)vs(\d+)(\D+)$', 4) AS b_home,
      |  regexp_extract(sched, '^(.+?)vs(.+)$', 1) AS s_away,
      |  regexp_extract(sched, '^(.+?)vs(.+)$', 2) AS s_home,
      |  regexp_extract(trim(noisy), '^(\S+)', 1) AS tok
      |FROM t""".stripMargin

  // --- F8/F9/F12: datetime parsing (weekday strip, year inject) --------
  private val f8: QFn = (s, d) => {
    val o = Tables.orders(s, d)
    val yr = year(col("o_orderdate"))
    val raw8 = concat(date_format(col("o_orderdate"), "MM.dd"), lit("(수)"),
      date_format(col("o_orderdate"), "HH:mm"))
    val raw9 = date_format(col("o_orderdate"), "MM.dd")
    val raw12 = date_format(col("o_orderdate"), "yyyy.MM.dd HH:mm")
    o.select(col("o_orderkey"),
      date_format(Exprs.parseGameDatetime(raw8, yr), "yyyy-MM-dd HH:mm").as("ts8"),
      Exprs.rebuildDate(raw9, yr).cast("string").as("dt9"),
      date_format(Exprs.parseDotTimestamp(raw12), "yyyy-MM-dd HH:mm").as("ts12"))
  }

  private val f8Sql =
    """SELECT o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d %H:%M') AS ts8,
      |  strftime(o_orderdate, '%Y-%m-%d') AS dt9,
      |  strftime(o_orderdate, '%Y-%m-%d %H:%M') AS ts12
      |FROM orders""".stripMargin

  // --- F10: game-result sign ------------------------------------------
  private val f10: QFn = (s, d) => {
    val o = Tables.orders(s, d)
    val away = (col("o_custkey") % 10).cast("int")
    val home = (floor(col("o_totalprice")).cast("long") % 10).cast("int")
    o.select(col("o_orderkey"), away.cast("long").as("away"),
      home.cast("long").as("home"),
      Exprs.resultSign(away, home).cast("long").as("result"))
  }

  private val f10Sql =
    """SELECT o_orderkey,
      |  CAST(o_custkey % 10 AS BIGINT) AS away,
      |  CAST(CAST(FLOOR(o_totalprice) AS BIGINT) % 10 AS BIGINT) AS home,
      |  CAST(CASE WHEN o_custkey % 10 > CAST(FLOOR(o_totalprice) AS BIGINT) % 10 THEN -1
      |            WHEN o_custkey % 10 = CAST(FLOOR(o_totalprice) AS BIGINT) % 10 THEN 0
      |            ELSE 1 END AS BIGINT) AS result
      |FROM orders""".stripMargin

  // --- G1: hash group-by with multiple aggregates ----------------------
  private val g1: QFn = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("cnt"))

  private val g1Sql =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlDsum("l_quantity")} AS sum_qty,
       |  ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       |  ${sqlDavg("l_discount")} AS avg_disc,
       |  COUNT(*) AS cnt
       |FROM lineitem
       |GROUP BY l_returnflag, l_linestatus""".stripMargin

  // --- G2: complement (anti-group) aggregate ---------------------------
  private val g2: QFn = (s, d) => {
    val per = Tables.orders(s, d).groupBy(col("o_orderpriority")).agg(
      lsum(col("o_custkey") % 10).as("scored"),
      lsum(floor(col("o_totalprice")).cast("long") % 10).as("allowed"),
      count(lit(1)).as("games"))
    val w = Window.partitionBy()
    per.withColumn("oth_scored", sum(col("scored")).over(w) - col("scored"))
      .withColumn("oth_allowed", sum(col("allowed")).over(w) - col("allowed"))
      .withColumn("oth_games", sum(col("games")).over(w) - col("games"))
      .select(col("o_orderpriority"), col("scored"), col("allowed"),
        col("games"), col("oth_scored"), col("oth_allowed"), col("oth_games"))
  }

  private val g2Sql =
    """WITH per AS (
      |  SELECT o_orderpriority,
      |    CAST(SUM(o_custkey % 10) AS BIGINT) AS scored,
      |    CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT) % 10) AS BIGINT) AS allowed,
      |    COUNT(*) AS games
      |  FROM orders GROUP BY o_orderpriority)
      |SELECT o_orderpriority, scored, allowed, games,
      |  CAST(SUM(scored) OVER () - scored AS BIGINT) AS oth_scored,
      |  CAST(SUM(allowed) OVER () - allowed AS BIGINT) AS oth_allowed,
      |  CAST(SUM(games) OVER () - games AS BIGINT) AS oth_games
      |FROM per""".stripMargin

  // --- G3: league-wide scalar aggregates (one row) ----------------------
  private val g3: QFn = (s, d) => {
    val li = Tables.lineitem(s, d)
    // countDistinct kept OUT of the main agg: mixing a distinct with
    // non-distinct aggregates plans an Expand (rows x 2 through the
    // shuffle, with the decimal sums along for the ride). Two scans of
    // pruned columns + a 1-row cross join are ~3x cheaper.
    val main = li.agg(
      dsum(col("l_quantity")).as("sum_qty"),
      dsum(col("l_extendedprice")).as("sum_price"),
      davg(col("l_discount")).as("avg_disc"),
      count(lit(1)).as("cnt"))
    val nd = li.agg(
      countDistinct(col("l_orderkey")).cast("long").as("n_orders"))
    main.crossJoin(nd)
  }

  private val g3Sql =
    s"""SELECT ${sqlDsum("l_quantity")} AS sum_qty,
       |  ${sqlDsum("l_extendedprice")} AS sum_price,
       |  ${sqlDavg("l_discount")} AS avg_disc,
       |  COUNT(*) AS cnt,
       |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
       |FROM lineitem""".stripMargin

  // --- G4: first-5 window sum (innings 1..5) ---------------------------
  private val g4: QFn = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_linenumber") <= 5)
      .groupBy(col("l_orderkey"))
      .agg(lsum(floor(col("l_quantity")).cast("long")).as("qty5"),
        count(lit(1)).as("n"))

  private val g4Sql =
    """SELECT l_orderkey,
      |  CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS qty5,
      |  COUNT(*) AS n
      |FROM lineitem WHERE l_linenumber <= 5
      |GROUP BY l_orderkey""".stripMargin

  // --- G5: null-skipping league totals (bad-value tolerance) -----------
  private val g5: QFn = (s, d) => {
    val li = Tables.lineitem(s, d)
    val v = when(col("l_returnflag") === "R", lit(null).cast("double"))
      .otherwise(col("l_extendedprice"))
    li.groupBy(col("l_linestatus")).agg(
      davg(v).as("avg_valid"),
      count(v).as("n_valid"),
      count(lit(1)).as("n_total"))
  }

  private val g5Sql = {
    val v = "CASE WHEN l_returnflag = 'R' THEN NULL ELSE l_extendedprice END"
    s"""SELECT l_linestatus,
       |  ${sqlDavg(v)} AS avg_valid,
       |  COUNT($v) AS n_valid,
       |  COUNT(*) AS n_total
       |FROM lineitem GROUP BY l_linestatus""".stripMargin
  }

  // --- G6: zero-denominator guard (filter-then-project) ----------------
  private val g6: QFn = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_suppkey"))
      .agg(dsum(col("l_extendedprice")).as("num"),
        sum(when(col("l_returnflag") === "N",
          floor(col("l_quantity")).cast("long")).otherwise(lit(0L)))
          .cast("long").as("den"))
      .filter(col("den") =!= 0)
      .select(col("l_suppkey"), (col("num") / col("den")).as("ratio"))

  private val g6Sql =
    s"""WITH t AS (
       |  SELECT l_suppkey,
       |    ${sqlDsum("l_extendedprice")} AS num,
       |    CAST(SUM(CASE WHEN l_returnflag = 'N'
       |      THEN CAST(FLOOR(l_quantity) AS BIGINT) ELSE 0 END) AS BIGINT) AS den
       |  FROM lineitem GROUP BY l_suppkey)
       |SELECT l_suppkey, num / den AS ratio FROM t WHERE den <> 0""".stripMargin

  // --- G7: hierarchical rollup (subtotals + grand total) ----------------
  // Not in the reference surface (SURVEY notes it comes free from Spark);
  // declared + oracle-checked so the capability is verified, not assumed.
  private val g7: QFn = (s, d) =>
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(lsum(floor(col("l_quantity")).cast("long")).as("sum_qty"),
        count(lit(1)).as("cnt"))

  private val g7Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
      |  COUNT(*) AS cnt
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin

  // --- G10: full cube (every grouping-set combination) ------------------
  // Rollup's lattice twin: all four grouping sets of the two dims, with
  // the grouping id carried so subtotal NULLs are distinguishable from
  // data NULLs (gid bit order: first cube column = MSB on both engines).
  private val g10: QFn = (s, d) =>
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(lsum(floor(col("l_quantity")).cast("long")).as("sum_qty"),
        count(lit(1)).as("cnt"),
        grouping_id().cast("long").as("gid"))

  private val g10Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
      |  COUNT(*) AS cnt,
      |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
      |    AS BIGINT) AS gid
      |FROM lineitem
      |GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin

  // --- G8: exact percentiles (median / p90) -----------------------------
  private val g8: QFn = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(percentile(col("l_quantity"), lit(0.5)).as("p50"),
        percentile(col("l_quantity"), lit(0.9)).as("p90"),
        count(lit(1)).as("cnt"))

  private val g8Sql =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.5) AS p50,
      |  quantile_cont(l_quantity, 0.9) AS p90,
      |  COUNT(*) AS cnt
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // --- G9: pivot (long -> wide reshaping) -------------------------------
  // Explicit pivot values => deterministic output columns (never let
  // pivot() scan for values at scale — that is an extra job over the
  // whole input).
  private val g9: QFn = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_linestatus"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum(floor(col("l_quantity")).cast("long")).cast("long"))

  private val g9Sql = {
    def c(f: String) =
      s"""CAST(SUM(CASE WHEN l_returnflag = '$f'
         |  THEN CAST(FLOOR(l_quantity) AS BIGINT) END) AS BIGINT) AS "$f""""
        .stripMargin.replace("\n", " ")
    s"""SELECT l_linestatus, ${c("A")}, ${c("N")}, ${c("R")}
       |FROM lineitem GROUP BY l_linestatus""".stripMargin
  }

  // --- F15: generator (explode array -> rows) ---------------------------
  private val f15: QFn = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") % 100 === 0)
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("ln"),
        posexplode(sequence(lit(1L), col("l_linenumber").cast("long"))))
      .select(col("l_orderkey"), col("ln"), col("pos").cast("long").as("pos"),
        col("col").as("val"))

  private val f15Sql =
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln,
      |  u.val - 1 AS pos, u.val
      |FROM lineitem,
      |  LATERAL (SELECT unnest(range(1, l_linenumber + 1)) AS val) u
      |WHERE l_orderkey % 100 = 0""".stripMargin

  // --- J9: semi / anti joins --------------------------------------------
  private val j9: QFn = (s, d) => {
    val c = Tables.customer(s, d)
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("c_custkey"))
    val semi = c.join(urgent, Seq("c_custkey"), "left_semi")
      .agg(count(lit(1)).as("n_cust"))
      .select(lit("with_urgent").as("kind"), col("n_cust"))
    val anti = c.join(urgent, Seq("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_cust"))
      .select(lit("without_urgent").as("kind"), col("n_cust"))
    semi.unionByName(anti)
  }

  private val j9Sql =
    """SELECT 'with_urgent' AS kind, COUNT(*) AS n_cust FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      |              AND o.o_orderpriority = '1-URGENT')
      |UNION ALL
      |SELECT 'without_urgent', COUNT(*) FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                  AND o.o_orderpriority = '1-URGENT')""".stripMargin

  // --- SET: union / intersect / except ----------------------------------
  private val setOps: QFn = (s, d) => {
    val o = Tables.orders(s, d)
    def custs(yr: Int) = o.filter(year(col("o_orderdate")) === yr)
      .select(col("o_custkey")).distinct()
    val a = custs(1995)
    val b = custs(1996)
    Seq(
      ("union", a.union(b).distinct()),
      ("intersect", a.intersect(b)),
      ("except", a.except(b)))
      .map { case (k, df) =>
        df.agg(count(lit(1)).as("n")).select(lit(k).as("op"), col("n"))
      }
      .reduce(_ unionByName _)
  }

  private val setOpsSql =
    """WITH a AS (SELECT DISTINCT o_custkey FROM orders
      |           WHERE EXTRACT(YEAR FROM o_orderdate) = 1995),
      |b AS (SELECT DISTINCT o_custkey FROM orders
      |      WHERE EXTRACT(YEAR FROM o_orderdate) = 1996)
      |SELECT 'union' AS op,
      |  (SELECT COUNT(*) FROM (SELECT * FROM a UNION SELECT * FROM b)) AS n
      |UNION ALL
      |SELECT 'intersect',
      |  (SELECT COUNT(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b))
      |UNION ALL
      |SELECT 'except',
      |  (SELECT COUNT(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b))""".stripMargin

  // --- J1: dimension-chain inner join (broadcast) -----------------------
  private val j1: QFn = (s, d) => {
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), davg(col("c_acctbal")).as("avg_bal"))
  }

  private val j1Sql =
    s"""SELECT r_name, n_name, COUNT(*) AS n_cust,
       |  ${sqlDavg("c_acctbal")} AS avg_bal
       |FROM customer
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY r_name, n_name""".stripMargin

  // --- J2: left join with NULL padding ----------------------------------
  // Orders pre-aggregate BEFORE the left join: the join input shrinks to
  // one row per customer and the post-join re-shuffle of wide joined rows
  // disappears — same answer, one less exchange at any scale.
  private val j2: QFn = (s, d) => {
    val c = Tables.customer(s, d)
    val perCust = Tables.orders(s, d)
      .filter(col("o_totalprice") > 300000.0)
      .groupBy(col("o_custkey"))
      .agg(count(col("o_orderkey")).as("cnt"),
        dsum(col("o_totalprice")).as("tot"))
    c.join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"),
        coalesce(col("cnt"), lit(0L)).as("n_big"),
        coalesce(col("tot"), lit(0.0)).as("sum_big"))
  }

  private val j2Sql =
    s"""SELECT c_custkey, COUNT(o_orderkey) AS n_big,
       |  COALESCE(${sqlDsum("o_totalprice")}, 0.0) AS sum_big
       |FROM customer
       |LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 300000.0) o
       |  ON c_custkey = o_custkey
       |GROUP BY c_custkey""".stripMargin

  // --- J5: fact-to-dimension chain with revenue rollup ------------------
  private val j5: QFn = (s, d) => {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"),
        countDistinct(col("c_custkey")).cast("long").as("n_cust"))
  }

  private val j5Sql =
    s"""SELECT n_name, ${sqlDsum("o_totalprice")} AS revenue,
       |  COUNT(*) AS n_orders,
       |  CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_cust
       |FROM orders
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY n_name""".stripMargin

  // --- J6: defaulted lookup join with zero -> NULL guard -----------------
  private val j6: QFn = (s, d) => {
    val c = Tables.customer(s, d)
    val factor = Tables.supplier(s, d)
      .filter(col("s_acctbal") > 0.0)
      .groupBy(col("s_nationkey"))
      .agg(davg(col("s_acctbal")).as("f"))
    c.join(broadcast(factor), col("c_nationkey") === col("s_nationkey"), "left")
      .withColumn("pf", coalesce(col("f"), lit(0.0)))
      .select(col("c_custkey"), col("pf"),
        when(col("pf") === 0.0, lit(null).cast("double"))
          .otherwise(col("c_acctbal") / col("pf")).as("adjusted"))
  }

  private val j6Sql =
    s"""WITH factor AS (
       |  SELECT s_nationkey, ${sqlDavg("s_acctbal")} AS f
       |  FROM supplier WHERE s_acctbal > 0.0 GROUP BY s_nationkey)
       |SELECT c_custkey, COALESCE(f, 0.0) AS pf,
       |  CASE WHEN COALESCE(f, 0.0) = 0.0 THEN NULL
       |       ELSE c_acctbal / COALESCE(f, 0.0) END AS adjusted
       |FROM customer LEFT JOIN factor ON c_nationkey = s_nationkey""".stripMargin

  // --- W1: top-k per group (recent-5 window) ----------------------------
  private val w1: QFn = (s, d) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"),
        col("rn").cast("long").as("rn"))
  }

  private val w1Sql =
    """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS od,
      |  CAST(rn AS BIGINT) AS rn
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
      |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |      FROM orders) t
      |WHERE rn <= 5""".stripMargin

  // --- A12: upsert merge (latest-wins by natural key) --------------------
  private val a12: QFn = (s, d) => {
    val o = Tables.orders(s, d)
    val existing = o.filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey").as("key"), col("o_totalprice").as("val"),
        lit(0L).as("updated_at"))
    val incoming = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").as("key"),
        (col("o_totalprice") * 1.1).as("val"), lit(1L).as("updated_at"))
    UpsertWriter.merge(existing, incoming, Seq("key"), "updated_at")
  }

  private val a12Sql =
    """WITH e AS (
      |  SELECT o_orderkey AS key, o_totalprice AS val,
      |         CAST(0 AS BIGINT) AS updated_at, 0 AS src
      |  FROM orders WHERE o_orderkey % 3 <> 0),
      |i AS (
      |  SELECT o_orderkey, o_totalprice * 1.1, CAST(1 AS BIGINT), 1
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |u AS (SELECT * FROM e UNION ALL SELECT * FROM i),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY key
      |        ORDER BY src DESC, updated_at DESC) AS rn FROM u)
      |SELECT key, val, updated_at FROM r WHERE rn = 1""".stripMargin

  // ===== G11: pivot (cross-tab) =======================================

  /** Weekday × event-type count matrix via the DataFrame `pivot` API
    * with an EXPLICIT value list (data-independent output schema —
    * the contract a warehouse cross-tab needs; an absent type is a
    * zero column, never a missing one). One hash aggregate under an
    * Expand — no second scan per pivot column. Oracle = conditional
    * aggregation; Spark dayofweek = DuckDB dayofweek + 1. */
  private val g11Pivot: QFn = (s, d) =>
    Tables.events(s, d)
      .withColumn("dow", dayofweek(col("ts")).cast("long"))
      .groupBy(col("dow"))
      .pivot("event_type",
        Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)

  private val g11PivotSql = {
    val cols = Seq("click", "error", "purchase", "signup", "view")
      .map(t => s"CAST(COALESCE(sum(CASE WHEN event_type = '$t' " +
        s"THEN 1 END), 0) AS BIGINT) AS $t").mkString(",\n  ")
    s"""SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
       |  $cols
       |FROM events GROUP BY 1""".stripMargin
  }

  // ===== 2-D skyline (Pareto frontier) ==================================

  /** Part-catalog Pareto frontier on (minimize p_retailprice, maximize
    * p_size) via [[graft.ext.Skyline.skyline2d]] — grid-pruned: one
    * broadcast prefix-max kills cross-bucket dominance, only same-
    * bucket pairs meet in an equi-join. The oracle is the NOT-EXISTS
    * dominance definition verbatim, so the pruning must be
    * result-invariant (any binning yields the same frontier). */
  private val skylineQ: QFn = (s, d) =>
    graft.ext.Skyline.skyline2d(
      Tables.part(s, d).select(col("p_partkey"), col("p_retailprice"),
        col("p_size")),
      "p_partkey", "p_retailprice", "p_size", 64)
      .select(col("p_partkey").cast("long").as("p_partkey"),
        col("p_retailprice"),
        col("p_size").cast("long").as("p_size"))

  private val skylineSql =
    """SELECT CAST(p.p_partkey AS BIGINT) AS p_partkey,
      |  p.p_retailprice, CAST(p.p_size AS BIGINT) AS p_size
      |FROM part p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part q
      |  WHERE q.p_retailprice <= p.p_retailprice
      |    AND q.p_size >= p.p_size
      |    AND (q.p_retailprice < p.p_retailprice
      |      OR q.p_size > p.p_size))""".stripMargin

  val queries: Map[String, (QFn, String)] = Map(
    "q_x_skyline" -> (skylineQ, skylineSql),
    "q_g11_pivot" -> (g11Pivot, g11PivotSql),
    "q_f1_date_filter" -> (f1, f1Sql),
    "q_f3_ip_parse" -> (f3, f3Sql),
    "q_f4_dash_null" -> (f4, f4Sql),
    "q_f6_regex_bundle" -> (f6, f6Sql),
    "q_f8_datetime_parse" -> (f8, f8Sql),
    "q_f10_sign" -> (f10, f10Sql),
    "q_g1_groupby_agg" -> (g1, g1Sql),
    "q_g2_complement_agg" -> (g2, g2Sql),
    "q_g3_league_scalars" -> (g3, g3Sql),
    "q_g4_first5_sum" -> (g4, g4Sql),
    "q_g5_nullskip_avg" -> (g5, g5Sql),
    "q_g6_guarded_ratio" -> (g6, g6Sql),
    "q_g7_rollup" -> (g7, g7Sql),
    "q_g10_cube" -> (g10, g10Sql),
    "q_g8_percentiles" -> (g8, g8Sql),
    "q_g9_pivot" -> (g9, g9Sql),
    "q_f15_explode" -> (f15, f15Sql),
    "q_j9_semi_anti" -> (j9, j9Sql),
    "q_set_ops" -> (setOps, setOpsSql),
    "q_j1_star_inner" -> (j1, j1Sql),
    "q_j2_left_null_pad" -> (j2, j2Sql),
    "q_j5_revenue_rollup" -> (j5, j5Sql),
    "q_j6_default_zero_lookup" -> (j6, j6Sql),
    "q_w1_topk_per_group" -> (w1, w1Sql),
    "q_a12_upsert_merge" -> (a12, a12Sql))
}
