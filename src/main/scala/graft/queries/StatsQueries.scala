package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.Profile

/** The k-sample / dependence statistics family under the DuckDB oracle
  * ([[graft.ext.Profile]]): Spearman rank correlation, Kruskal–Wallis,
  * one-way ANOVA, Brown–Forsythe variance equality, mutual information
  * and McNemar's paired test. These extend the two-sample A/B suite
  * (Welch `q_x_abtest`, MWU `q_x_mwu`, KS `q_x_ks`, chi-square
  * `q_x_chisq`) to k groups, paired designs and dependence strength —
  * the full pre-launch metric-QA toolbox. Every oracle mirrors the
  * engine's exact-integer + sig9'd-IEEE chains term for term.
  */
object StatsQueries {
  type QFn = (SparkSession, String) => DataFrame

  // ===== Spearman: does price rise monotonically with quantity? ======

  private val spearmanQ: QFn = (s, d) =>
    Profile.spearman(Tables.lineitem(s, d), "l_quantity",
      "l_extendedprice")

  private val spearmanSql = {
    val rhoChain = Q.sqlSig9(
      s"${Q.sqlSig9("CAST(num AS DOUBLE)")} / " +
        Q.sqlSig9(s"sqrt(${Q.sqlSig9("CAST(dx AS DOUBLE)")} * " +
          s"${Q.sqlSig9("CAST(dy AS DOUBLE)")})"))
    s"""WITH r AS (
       |  SELECT CAST(l_quantity AS DOUBLE) AS x,
       |    CAST(l_extendedprice AS DOUBLE) AS y
       |  FROM lineitem
       |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
       |vx AS (SELECT x AS s, CAST(count(*) AS BIGINT) AS c
       |  FROM r GROUP BY 1),
       |cx AS (SELECT s, 2 * COALESCE(sum(c) OVER (ORDER BY s
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    + c + 1 AS r2 FROM vx),
       |vy AS (SELECT y AS s, CAST(count(*) AS BIGINT) AS c
       |  FROM r GROUP BY 1),
       |cy AS (SELECT s, 2 * COALESCE(sum(c) OVER (ORDER BY s
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    + c + 1 AS r2 FROM vy),
       |t AS (
       |  SELECT cx.r2 AS r2x, cy.r2 AS r2y
       |  FROM r JOIN cx ON r.x = cx.s JOIN cy ON r.y = cy.s),
       |a AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(r2x AS DECIMAL(38,0))) AS sx,
       |    sum(CAST(r2y AS DECIMAL(38,0))) AS sy,
       |    sum(CAST(r2x AS DECIMAL(38,0)) * CAST(r2y AS DECIMAL(38,0)))
       |      AS sxy,
       |    sum(CAST(r2x AS DECIMAL(38,0)) * CAST(r2x AS DECIMAL(38,0)))
       |      AS sxx,
       |    sum(CAST(r2y AS DECIMAL(38,0)) * CAST(r2y AS DECIMAL(38,0)))
       |      AS syy
       |  FROM t),
       |d AS (
       |  SELECT n,
       |    CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS num,
       |    CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS dx,
       |    CAST(n AS DECIMAL(38,0)) * syy - sy * sy AS dy
       |  FROM a)
       |SELECT
       |  CASE WHEN n > 1 AND dx > 0 AND dy > 0 THEN $rhoChain END AS rho,
       |  n
       |FROM d""".stripMargin
  }

  // ===== Friedman paired k-sample rank test ==========================

  /** [[graft.ext.Profile.friedman]] blocking on the user: does spend
    * differ across event types once per-user level differences cancel
    * — the within-block twin of `q_x_kruskal`. Cells are sig9'd dsum
    * totals (deterministic cross-engine ties); the oracle replays the
    * doubled within-block midranks with window rank/count and the
    * exact-integer statistic chain. */
  private val friedmanQ: QFn = (s, d) =>
    Profile.friedman(Tables.events(s, d), "user_id", "event_type",
      "value")

  private val friedmanSql = {
    val chain = Q.sqlSig9(
      s"${Q.sqlSig9("CAST(num4 AS DOUBLE)")} / " +
        Q.sqlSig9("CAST(den4 AS DOUBLE)"))
    s"""WITH cell AS (
       |  SELECT user_id AS b, event_type AS tr,
       |    ${Q.sqlDsum("value")} AS cv
       |  FROM events
       |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
       |    AND value IS NOT NULL
       |  GROUP BY 1, 2),
       |kk AS (SELECT CAST(count(DISTINCT tr) AS BIGINT) AS k FROM cell),
       |cb AS (SELECT b, CAST(count(*) AS BIGINT) AS nt FROM cell
       |  GROUP BY 1),
       |comp AS (
       |  SELECT cell.b, cell.tr, cell.cv
       |  FROM cell JOIN cb USING (b), kk WHERE cb.nt = kk.k),
       |rk AS (
       |  SELECT b, tr,
       |    CAST(2 * (RANK() OVER (PARTITION BY b ORDER BY cv) - 1)
       |      + count(*) OVER (PARTITION BY b, cv) + 1 AS BIGINT) AS rho
       |  FROM comp),
       |pt AS (
       |  SELECT tr, CAST(count(*) AS BIGINT) AS n_blocks,
       |    sum(CAST(rho AS DECIMAL(38,0))) AS r2,
       |    sum(CAST(rho AS DECIMAL(38,0)) * rho) AS a4c
       |  FROM rk GROUP BY 1),
       |sc AS (
       |  SELECT CAST(count(*) AS BIGINT) AS kk, max(n_blocks) AS n,
       |    sum(a4c) AS a4
       |  FROM pt),
       |sd AS (
       |  SELECT sum((r2 - CAST(sc.n * (sc.kk + 1) AS DECIMAL(38,0))) *
       |             (r2 - CAST(sc.n * (sc.kk + 1) AS DECIMAL(38,0))))
       |    AS ssd
       |  FROM pt, sc),
       |st AS (
       |  SELECT sc.kk, sc.n,
       |    CAST(sc.kk - 1 AS DECIMAL(38,0)) * sd.ssd AS num4,
       |    sc.a4 - CAST(sc.n * sc.kk * (sc.kk + 1) * (sc.kk + 1)
       |      AS DECIMAL(38,0)) AS den4
       |  FROM sc, sd),
       |qq AS (
       |  SELECT kk, CASE WHEN den4 > 0 THEN $chain END AS q_stat
       |  FROM st)
       |SELECT pt.tr AS event_type, pt.n_blocks, qq.kk AS k,
       |  CAST(pt.r2 AS BIGINT) AS rank_sum2,
       |  ${Q.sqlSig9("CAST(pt.r2 AS DOUBLE) / " +
           "CAST(pt.n_blocks * 2 AS DOUBLE)")} AS mean_rank,
       |  qq.q_stat
       |FROM pt, qq""".stripMargin
  }

  // ===== first-order partial correlation ==============================

  /** [[graft.ext.Profile.partialCorr]] of (quantity, revenue | price):
    * how much of the quantity↔revenue dependence survives once the
    * unit price is held fixed — the confounder screen. The oracle
    * mirrors the nine decimal sums, each pairwise sig9'd r and the
    * guarded partial chain. */
  private val partialQ: QFn = (s, d) =>
    Profile.partialCorr(
      Tables.lineitem(s, d).select(col("l_quantity").as("x"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("y"),
        (col("l_extendedprice") / greatest(col("l_quantity"),
          lit(1.0))).as("z")),
      "x", "y", "z")

  private val partialSql = {
    def r(sab: String, sa: String, sb: String, saa: String,
        sbb: String) = {
      val num = s"(nd * $sab - $sa * $sb)"
      val va = s"(nd * $saa - $sa * $sa)"
      val vb = s"(nd * $sbb - $sb * $sb)"
      s"CASE WHEN $va > 0 AND $vb > 0 THEN ${Q.sqlSig9(
        s"$num / sqrt($va * $vb)")} END"
    }
    val den = "((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz))"
    s"""WITH b AS (
       |  SELECT CAST(l_quantity AS DOUBLE) AS x,
       |    CAST(l_extendedprice * (1.0 - l_discount) AS DOUBLE) AS y,
       |    CAST(l_extendedprice / greatest(l_quantity, 1.0) AS DOUBLE)
       |      AS z
       |  FROM lineitem
       |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
       |    AND l_discount IS NOT NULL),
       |a AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(count(*) AS DOUBLE) AS nd,
       |    ${Q.sqlDsum("x")} AS sx, ${Q.sqlDsum("y")} AS sy,
       |    ${Q.sqlDsum("z")} AS sz,
       |    ${Q.sqlDsum("x * x")} AS sxx, ${Q.sqlDsum("y * y")} AS syy,
       |    ${Q.sqlDsum("z * z")} AS szz,
       |    ${Q.sqlDsum("x * y")} AS sxy, ${Q.sqlDsum("x * z")} AS sxz,
       |    ${Q.sqlDsum("y * z")} AS syz
       |  FROM b),
       |rr AS (
       |  SELECT n,
       |    ${r("sxy", "sx", "sy", "sxx", "syy")} AS r_xy,
       |    ${r("sxz", "sx", "sz", "sxx", "szz")} AS r_xz,
       |    ${r("syz", "sy", "sz", "syy", "szz")} AS r_yz
       |  FROM a)
       |SELECT n, r_xy, r_xz, r_yz,
       |  CASE WHEN r_xy IS NOT NULL AND r_xz IS NOT NULL
       |      AND r_yz IS NOT NULL AND $den > 0
       |    THEN ${Q.sqlSig9(s"(r_xy - r_xz * r_yz) / sqrt($den)")} END
       |    AS r_xy_z
       |FROM rr""".stripMargin
  }

  // ===== Kruskal–Wallis: value distributions across event types ======

  private val kruskalQ: QFn = (s, d) =>
    Profile.kruskalWallis(Tables.events(s, d), "event_type", "value")

  /** Kruskal–Wallis oracle over any `(g, v)` rows SELECT — shared by
    * the standalone query and the pipeline-9 suite. */
  private def kruskalSqlFor(rowsSelect: String) = {
    val r2d = Q.sqlSig9("CAST(r2j AS DOUBLE)")
    val term = Q.sqlSig9(
      s"($r2d * $r2d) / (CAST(4.0 AS DOUBLE) * CAST(nj AS DOUBLE))")
    val nd = "CAST(n_tot AS DOUBLE)"
    val tied = Q.sqlSig9("CAST(tie_t AS DOUBLE)")
    val n3d = Q.sqlSig9("CAST(CAST(n_tot AS DECIMAL(38,0)) * n_tot " +
      "* n_tot - n_tot AS DOUBLE)")
    val hraw = s"CAST(12.0 AS DOUBLE) / ($nd * ($nd + " +
      s"CAST(1.0 AS DOUBLE))) * sum_terms - CAST(3.0 AS DOUBLE) * " +
      s"($nd + CAST(1.0 AS DOUBLE))"
    val corr = s"(CAST(1.0 AS DOUBLE) - $tied / $n3d)"
    s"""WITH r AS (
       |  $rowsSelect),
       |vd AS (SELECT v AS s, CAST(count(*) AS BIGINT) AS c
       |  FROM r GROUP BY 1),
       |cum AS (SELECT s, c,
       |    2 * COALESCE(sum(c) OVER (ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    + c + 1 AS r2 FROM vd),
       |ties AS (
       |  SELECT sum(CAST(c AS DECIMAL(38,0)) * c * c - c) AS tie_t,
       |    CAST(sum(c) AS BIGINT) AS n_tot FROM vd),
       |grp AS (
       |  SELECT g, CAST(count(*) AS BIGINT) AS nj,
       |    sum(CAST(r2 AS DECIMAL(38,0))) AS r2j
       |  FROM r JOIN cum ON r.v = cum.s GROUP BY 1),
       |terms AS (SELECT g, $term AS term FROM grp),
       |folded AS (
       |  SELECT CAST(count(*) AS BIGINT) AS k,
       |    ${Q.sqlFold("list(term ORDER BY g)")} AS sum_terms
       |  FROM terms)
       |SELECT
       |  CASE WHEN k >= 2 AND n_tot > 1 AND $corr > CAST(0.0 AS DOUBLE)
       |    THEN ${Q.sqlSig9(s"($hraw) / $corr")} END AS h,
       |  k - 1 AS dof,
       |  COALESCE(n_tot, 0) AS n,
       |  k,
       |  CASE WHEN n_tot > 0 THEN $tied END AS tie_t
       |FROM folded, ties""".stripMargin
  }

  private val kruskalSql = kruskalSqlFor(
    "SELECT CAST(event_type AS VARCHAR) AS g, CAST(value AS DOUBLE) AS v\n" +
      "  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL")

  // ===== one-way ANOVA: quantity means across return flags ===========

  private val anovaQ: QFn = (s, d) =>
    Profile.oneWayAnova(Tables.lineitem(s, d), "l_returnflag",
      "l_quantity")

  /** Shared ANOVA oracle tail over a `rows_(g, v)` CTE (v integral) —
    * [[anovaSql]] and [[leveneSql]] both end in this exact chain. */
  private def anovaSqlTail: String = {
    val sjd = Q.sqlSig9("CAST(sj AS DOUBLE)")
    val term = Q.sqlSig9(s"($sjd * $sjd) / CAST(nj AS DOUBLE)")
    val nd = "CAST(n_tot AS DOUBLE)"
    val sd = Q.sqlSig9("CAST(s_tot AS DOUBLE)")
    val qd = Q.sqlSig9("CAST(q_tot AS DOUBLE)")
    val ssb = s"(sum_terms - $sd * $sd / $nd)"
    val ssw = s"($qd - sum_terms)"
    val kd = "CAST(k AS DOUBLE)"
    s"""grp AS (
       |  SELECT g, CAST(count(*) AS BIGINT) AS nj,
       |    sum(CAST(v AS DECIMAL(38,0))) AS sj,
       |    sum(CAST(v AS DECIMAL(38,0)) * v) AS qj
       |  FROM rows_ GROUP BY 1),
       |terms AS (SELECT g, nj, sj, qj, $term AS term FROM grp),
       |folded AS (
       |  SELECT CAST(count(*) AS BIGINT) AS k,
       |    CAST(sum(nj) AS BIGINT) AS n_tot,
       |    sum(sj) AS s_tot, sum(qj) AS q_tot,
       |    ${Q.sqlFold("list(term ORDER BY g)")} AS sum_terms
       |  FROM terms)
       |SELECT
       |  CASE WHEN k >= 2 AND n_tot > k AND $ssw > CAST(0.0 AS DOUBLE)
       |    THEN ${Q.sqlSig9(s"($ssb / ($kd - CAST(1.0 AS DOUBLE))) / " +
            s"($ssw / ($nd - $kd))")} END AS f,
       |  CASE WHEN n_tot > 0 THEN ${Q.sqlSig9(ssb)} END AS ssb,
       |  CASE WHEN n_tot > 0 THEN ${Q.sqlSig9(ssw)} END AS ssw,
       |  k - 1 AS dof_between,
       |  n_tot - k AS dof_within,
       |  COALESCE(n_tot, 0) AS n,
       |  k
       |FROM folded""".stripMargin
  }

  private val anovaSql =
    s"""WITH rows_ AS (
       |  SELECT CAST(l_returnflag AS VARCHAR) AS g,
       |    CAST(l_quantity AS BIGINT) AS v
       |  FROM lineitem
       |  WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL),
       |$anovaSqlTail""".stripMargin

  // ===== Brown–Forsythe: quantity spreads across return flags ========

  private val leveneQ: QFn = (s, d) =>
    Profile.brownForsythe(Tables.lineitem(s, d), "l_returnflag",
      "l_quantity")

  private val leveneSql =
    s"""WITH base AS (
       |  SELECT CAST(l_returnflag AS VARCHAR) AS g,
       |    CAST(l_quantity AS BIGINT) AS v
       |  FROM lineitem
       |  WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL),
       |vd AS (SELECT g, v AS s, CAST(count(*) AS BIGINT) AS c
       |  FROM base GROUP BY 1, 2),
       |cum AS (SELECT g, s, c,
       |    COALESCE(sum(c) OVER (PARTITION BY g ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
       |  FROM vd),
       |tot AS (SELECT g, CAST(max(nb + c) AS BIGINT) AS nj
       |  FROM cum GROUP BY 1),
       |m AS (
       |  SELECT cum.g,
       |    CAST(min(CASE WHEN nb + c >= (nj + 1) // 2 THEN s END)
       |      + min(CASE WHEN nb + c >= nj // 2 + 1 THEN s END)
       |      AS BIGINT) AS med2
       |  FROM cum JOIN tot ON cum.g = tot.g GROUP BY 1),
       |rows_ AS (
       |  SELECT base.g, ABS(2 * v - med2) AS v
       |  FROM base JOIN m ON base.g = m.g),
       |$anovaSqlTail""".stripMargin

  // ===== mutual information: documents source × lang =================

  private val miQ: QFn = (s, d) =>
    Profile.mutualInfo(Tables.documents(s, d), "source", "lang")

  /** Mutual-information oracle over any `(r, c)` base SELECT — shared
    * by the standalone query and the pipeline-9 suite. */
  private def miSqlFor(baseSelect: String) = {
    val ratio = s"(${Q.sqlSig9(
        "CAST(CAST(cnt AS DECIMAL(38,0)) * n AS DOUBLE)")} / " +
      s"${Q.sqlSig9("CAST(CAST(rn AS DECIMAL(38,0)) * cn AS DOUBLE)")})"
    val contrib = Q.sqlSig9("CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE) * " +
      Q.sqlSig9(s"ln($ratio)"))
    def entTerm(cc: String) = {
      val p = s"(CAST($cc AS DOUBLE) / CAST(n AS DOUBLE))"
      Q.sqlSig9(s"$p * ${Q.sqlSig9(s"ln($p)")}")
    }
    s"""WITH base AS (
       |  $baseSelect),
       |cells AS (SELECT r, c, CAST(count(*) AS BIGINT) AS cnt
       |  FROM base GROUP BY 1, 2),
       |rm AS (SELECT r, CAST(sum(cnt) AS BIGINT) AS rn
       |  FROM cells GROUP BY 1),
       |cm AS (SELECT c, CAST(sum(cnt) AS BIGINT) AS cn
       |  FROM cells GROUP BY 1),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM cells),
       |j AS (
       |  SELECT cells.r, cells.c, cells.cnt, rm.rn, cm.cn, tot.n
       |  FROM cells JOIN rm USING (r) JOIN cm USING (c) CROSS JOIN tot),
       |mi AS (
       |  SELECT ${Q.sqlDsumStable(contrib, 12)} AS mi,
       |    CAST(count(DISTINCT r) AS BIGINT) AS r_cats,
       |    CAST(count(DISTINCT c) AS BIGINT) AS c_cats,
       |    min(n) AS n
       |  FROM j),
       |hr AS (
       |  SELECT (CAST(0.0 AS DOUBLE) -
       |    ${Q.sqlDsumStable(entTerm("rn"), 12)}) AS h_r
       |  FROM rm CROSS JOIN tot),
       |hc AS (
       |  SELECT (CAST(0.0 AS DOUBLE) -
       |    ${Q.sqlDsumStable(entTerm("cn"), 12)}) AS h_c
       |  FROM cm CROSS JOIN tot)
       |SELECT
       |  CASE WHEN n > 0 THEN mi END AS mi,
       |  CASE WHEN n > 0 AND h_r > CAST(0.0 AS DOUBLE)
       |      AND h_c > CAST(0.0 AS DOUBLE)
       |    THEN ${Q.sqlSig9(
              s"mi / ${Q.sqlSig9("sqrt(h_r * h_c)")}")} END AS nmi,
       |  COALESCE(n, 0) AS n, r_cats, c_cats
       |FROM mi, hr, hc""".stripMargin
  }

  private val miSql = miSqlFor(
    "SELECT CAST(source AS VARCHAR) AS r, CAST(lang AS VARCHAR) AS c\n" +
      "  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL")

  // ===== McNemar: clicked-vs-purchased flips per user =================

  private val mcnemarQ: QFn = (s, d) => {
    val units = Tables.events(s, d).groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("fa"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("fb"))
    Profile.mcnemar(units, "fa", "fb")
  }

  private val mcnemarSql = {
    val dd = "GREATEST(ABS(b - c) - 1, 0)"
    s"""WITH u AS (
       |  SELECT user_id,
       |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS fa,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS fb
       |  FROM events GROUP BY 1),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_units,
       |    CAST(COALESCE(sum(CASE WHEN fa = 1 AND fb = 0 THEN 1 ELSE 0
       |      END), 0) AS BIGINT) AS b,
       |    CAST(COALESCE(sum(CASE WHEN fa = 0 AND fb = 1 THEN 1 ELSE 0
       |      END), 0) AS BIGINT) AS c
       |  FROM u)
       |SELECT n_units, b, c,
       |  CASE WHEN b + c > 0 THEN ${Q.sqlSig9(
            "CAST((b - c) * (b - c) AS DOUBLE) / CAST(b + c AS DOUBLE)")}
       |    END AS chi2,
       |  CASE WHEN b + c > 0 THEN ${Q.sqlSig9(
            s"CAST($dd * $dd AS DOUBLE) / CAST(b + c AS DOUBLE)")}
       |    END AS chi2_cc
       |FROM agg""".stripMargin
  }

  // ===== pipeline 9: the dependence suite =============================

  /** Flagship 9 — ONE plan emitting the full dependence/k-sample
    * report over lineitem: Pearson r and Spearman rho of
    * (quantity, extendedprice), ANOVA F / Brown–Forsythe F /
    * Kruskal–Wallis H of quantity across return flags, chi-square +
    * Cramér's V + mutual information of returnflag × linestatus.
    * Long format (stat, value, aux, n); every row reuses the exact
    * component operator, so each equals the standalone query's value
    * (the pipeline-7/8 convention). Cramér's V is the one derived
    * statistic: sqrt(chi2 / (n·min(r−1, c−1))), a sig9'd IEEE chain
    * over the adjudicated chi-square outputs. */
  private val pipeline9Q: QFn = (s, d) => {
    val li = Tables.lineitem(s, d)
    val naux = lit(null).cast("double").as("aux")
    val pearson = Profile
      .groupCorr(li, Seq.empty, "l_quantity", "l_extendedprice")
      .select(lit("pearson").as("stat"), col("corr").as("value"), naux,
        col("n").cast("long").as("n"))
    val spear = Profile.spearman(li, "l_quantity", "l_extendedprice")
      .select(lit("spearman").as("stat"), col("rho").as("value"), naux,
        col("n"))
    val anova = Profile.oneWayAnova(li, "l_returnflag", "l_quantity")
      .select(lit("anova_f").as("stat"), col("f").as("value"),
        col("ssb").as("aux"), col("n"))
    val lev = Profile.brownForsythe(li, "l_returnflag", "l_quantity")
      .select(lit("levene_f").as("stat"), col("f").as("value"), naux,
        col("n"))
    val kw = Profile.kruskalWallis(li, "l_returnflag", "l_quantity")
      .select(lit("kruskal_h").as("stat"), col("h").as("value"),
        col("tie_t").as("aux"), col("n"))
    val chi = Profile.chiSquare(li, "l_returnflag", "l_linestatus")
    val chiRow = chi.select(lit("chi2").as("stat"),
      col("chi2").as("value"), col("dof").cast("double").as("aux"),
      col("n").cast("long").as("n"))
    val mincat = least(col("n_rows_cat"), col("n_cols_cat"))
    val vRow = chi.select(lit("cramers_v").as("stat"),
      when(col("chi2").isNotNull && mincat > 1 && col("n") > 0,
        Q.sig9(sqrt(col("chi2") / (col("n").cast("double") *
          (mincat - 1).cast("double"))))).as("value"),
      naux, col("n").cast("long").as("n"))
    val mi = Profile.mutualInfo(li, "l_returnflag", "l_linestatus")
      .select(lit("mi").as("stat"), col("mi").as("value"),
        col("nmi").as("aux"), col("n"))
    pearson.unionByName(spear).unionByName(anova).unionByName(lev)
      .unionByName(kw).unionByName(chiRow).unionByName(vRow)
      .unionByName(mi)
  }

  private val pipeline9Sql = {
    val liPair = "SELECT CAST(l_quantity AS DOUBLE) AS x, " +
      "CAST(l_extendedprice AS DOUBLE) AS y FROM lineitem " +
      "WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL"
    val pearsonSql = {
      val sx = Q.sqlDsum("x"); val sy = Q.sqlDsum("y")
      val sxx = Q.sqlDsum("x * x"); val syy = Q.sqlDsum("y * y")
      val sxy = Q.sqlDsum("x * y")
      s"""WITH b AS ($liPair),
         |a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    $sx AS sx, $sy AS sy, $sxx AS sxx, $syy AS syy, $sxy AS sxy
         |  FROM b)
         |SELECT n,
         |  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
         |        AND CAST(n AS DOUBLE) * syy - sy * sy > 0
         |    THEN ${Q.sqlSig9(
                "(CAST(n AS DOUBLE) * sxy - sx * sy) / " +
                "sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) * " +
                "(CAST(n AS DOUBLE) * syy - sy * sy))")}
         |  END AS corr
         |FROM a""".stripMargin
    }
    val liRows = "SELECT CAST(l_returnflag AS VARCHAR) AS g, " +
      "CAST(l_quantity AS DOUBLE) AS v FROM lineitem " +
      "WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL"
    val liCats = "SELECT CAST(l_returnflag AS VARCHAR) AS r, " +
      "CAST(l_linestatus AS VARCHAR) AS c FROM lineitem " +
      "WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL"
    val chiSub = TimeSeriesQueries.chisqSqlFor(liCats)
    val vExpr = Q.sqlSig9("sqrt(chi2 / (CAST(n AS DOUBLE) * " +
      "CAST(LEAST(n_rows_cat, n_cols_cat) - 1 AS DOUBLE)))")
    s"""SELECT 'pearson' AS stat, corr AS value,
       |  CAST(NULL AS DOUBLE) AS aux, n FROM ($pearsonSql)
       |UNION ALL
       |SELECT 'spearman', rho, CAST(NULL AS DOUBLE), n
       |FROM ($spearmanSql)
       |UNION ALL
       |SELECT 'anova_f', f, ssb, n FROM ($anovaSql)
       |UNION ALL
       |SELECT 'levene_f', f, CAST(NULL AS DOUBLE), n FROM ($leveneSql)
       |UNION ALL
       |SELECT 'kruskal_h', h, tie_t, n FROM (${kruskalSqlFor(liRows)})
       |UNION ALL
       |SELECT 'chi2', chi2, CAST(dof AS DOUBLE), n FROM ($chiSub)
       |UNION ALL
       |SELECT 'cramers_v',
       |  CASE WHEN chi2 IS NOT NULL AND LEAST(n_rows_cat, n_cols_cat) > 1
       |        AND n > 0 THEN $vExpr END,
       |  CAST(NULL AS DOUBLE), n FROM ($chiSub)
       |UNION ALL
       |SELECT 'mi', mi, nmi, n FROM (${miSqlFor(liCats)})""".stripMargin
  }

  // ===== per-segment KS drift battery with BH FDR control ============

  /** [[graft.ext.Profile.ksDriftBattery]] over event values segmented
    * by type: exact per-segment KS vs the complement, asymptotic
    * p = min(1, 2·exp(−2·n_eff·D²)), Benjamini–Hochberg q-values and
    * the α = 0.05 discovery flags. The oracle re-derives the whole
    * chain with windows (the engine side is windowless past the
    * bounded (segment, bin) partitions). */
  private val ksBatteryQ: QFn = (s, d) =>
    Profile.ksDriftBattery(Tables.events(s, d), "event_type", "value")

  private val ksBatterySql = {
    val ks = Q.sqlSig9("CAST(mx AS DOUBLE) / CAST(CAST(n_g AS " +
      "DECIMAL(38,0)) * (n - n_g) AS DOUBLE)")
    val neff = Q.sqlSig9("CAST(CAST(n_g AS DECIMAL(38,0)) * (n - n_g) " +
      "AS DOUBLE) / CAST(n AS DOUBLE)")
    val p = Q.sqlSig9("2.0 * exp(-2.0 * neff * ks * ks)")
    val t = Q.sqlSig9(
      "ks_p * CAST(m AS DOUBLE) / CAST(bh_rank AS DOUBLE)")
    s"""WITH b AS (
       |  SELECT CAST(event_type AS VARCHAR) AS g,
       |    CAST(value AS DOUBLE) AS s
       |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
       |c AS (SELECT g, s, CAST(count(*) AS BIGINT) AS c
       |      FROM b GROUP BY 1, 2),
       |grid AS (
       |  SELECT gg.g, vv.s, COALESCE(c.c, 0) AS c
       |  FROM (SELECT DISTINCT g FROM c) gg
       |  CROSS JOIN (SELECT DISTINCT s FROM c) vv
       |  LEFT JOIN c ON c.g = gg.g AND c.s = vv.s),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c),
       |cum AS (
       |  SELECT g, s, SUM(c) OVER (PARTITION BY g ORDER BY s
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumg
       |  FROM grid),
       |ca AS (SELECT s, CAST(sum(cumg) AS BIGINT) AS cumall
       |       FROM cum GROUP BY 1),
       |ngt AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_g FROM c
       |        GROUP BY 1),
       |pseg AS (
       |  SELECT cum.g, ngt.n_g, tot.n,
       |    max(abs(CAST(cumg AS DECIMAL(38,0)) * (tot.n - ngt.n_g)
       |      - CAST(ca.cumall - cumg AS DECIMAL(38,0)) * ngt.n_g))
       |      AS mx
       |  FROM cum JOIN ca USING (s) JOIN ngt USING (g) CROSS JOIN tot
       |  WHERE ngt.n_g > 0 AND ngt.n_g < tot.n
       |  GROUP BY 1, 2, 3),
       |kd AS (SELECT g AS segment, n_g AS n_seg, $ks AS ks,
       |              $neff AS neff FROM pseg),
       |kp AS (SELECT segment, n_seg, ks,
       |              LEAST(CAST(1.0 AS DOUBLE), $p) AS ks_p FROM kd),
       |rk AS (SELECT segment, n_seg, ks, ks_p,
       |    CAST(row_number() OVER (ORDER BY ks_p, segment) AS BIGINT)
       |      AS bh_rank,
       |    count(*) OVER () AS m
       |  FROM kp),
       |tm AS (SELECT segment, n_seg, ks, ks_p, bh_rank,
       |              LEAST(CAST(1.0 AS DOUBLE), $t) AS t FROM rk),
       |qv AS (SELECT segment, n_seg, ks, ks_p, bh_rank,
       |    MIN(t) OVER (ORDER BY bh_rank
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
       |      AS q_value
       |  FROM tm)
       |SELECT segment, n_seg AS n, ks, ks_p, bh_rank, q_value,
       |  q_value <= CAST(0.05 AS DOUBLE) AS significant
       |FROM qv""".stripMargin
  }

  // ===== Cochran's Q over engagement-depth flags ======================

  /** [[graft.ext.Profile.cochranQ]] with users as blocks, event types
    * as treatments and "≥ 2 events of this type" as the 0/1 outcome —
    * do the event types differ in engagement depth across the same
    * users? Only users holding all k types participate (the friedman
    * complete-block rule); everything is exact integers up to ONE
    * sig9 division. */
  private val cochranQ2: QFn = (s, d) =>
    Profile.cochranQ(
      Tables.events(s, d)
        .where(col("user_id").isNotNull && col("event_type").isNotNull)
        .groupBy(col("user_id"), col("event_type"))
        .agg((count(lit(1)) >= 2).as("x")),
      "user_id", "event_type", "x")

  private val cochranSql = {
    val q = Q.sqlSig9(s"${Q.sqlSig9(
      "CAST((k.k - 1) * (k.k * st2 - st * st) AS DOUBLE)")} / ${Q.sqlSig9(
      "CAST(k.k * sb - sb2 AS DOUBLE)")}")
    s"""WITH pc AS (
       |  SELECT CAST(user_id AS VARCHAR) AS b,
       |    CAST(event_type AS VARCHAR) AS t,
       |    CASE WHEN count(*) >= 2 THEN 1 ELSE 0 END AS x
       |  FROM events
       |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
       |  GROUP BY 1, 2),
       |k AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS k FROM pc),
       |bl AS (
       |  SELECT b, CAST(count(*) AS BIGINT) AS kb,
       |    CAST(sum(x) AS BIGINT) AS bi
       |  FROM pc GROUP BY 1),
       |cb AS (SELECT bl.b, bl.bi FROM bl, k WHERE bl.kb = k.k),
       |ct AS (
       |  SELECT pc.t, CAST(sum(pc.x) AS BIGINT) AS t_j
       |  FROM pc JOIN cb USING (b) GROUP BY 1),
       |tt AS (
       |  SELECT sum(CAST(t_j AS DECIMAL(38,0))) AS st,
       |    sum(CAST(t_j AS DECIMAL(38,0)) * t_j) AS st2
       |  FROM ct),
       |bt AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_blocks,
       |    COALESCE(sum(CAST(bi AS DECIMAL(38,0))),
       |      CAST(0 AS DECIMAL(38,0))) AS sb,
       |    COALESCE(sum(CAST(bi AS DECIMAL(38,0)) * bi),
       |      CAST(0 AS DECIMAL(38,0))) AS sb2
       |  FROM cb)
       |SELECT ct.t AS treatment, ct.t_j, bt.n_blocks, k.k AS k,
       |  CASE WHEN (k.k * sb - sb2) > 0 THEN $q END AS q_stat
       |FROM ct, tt, bt, k""".stripMargin
  }

  // ===== propensity-style nearest-score matching (ATT) ================

  /** Matching estimator on the events fixture: units are users,
    * "treatment" = has a purchase event, balancing score = mean view
    * value (a deterministic activity proxy standing in for a fitted
    * propensity), outcome = click count. Caliper 2.0; nearest control
    * with replacement via the banded equi-join
    * ([[graft.ext.Causal.matchAtt]]). The oracle replays the identical
    * three-bucket probe and (gap, control-id) argmin. */
  private val psmCaliper = 2.0

  private val psmQ: QFn = (s, d) => {
    val units = Tables.events(s, d)
      .where(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        max(col("event_type") === "purchase").as("treated"),
        Q.dsum(when(col("event_type") === "view", col("value")))
          .as("__vs"),
        count(when(col("event_type") === "view", col("value")))
          .as("__vc"),
        count(when(col("event_type") === "click", lit(1))).as("__cc"))
      .select(col("user_id"), col("treated"),
        when(col("__vc") > 0,
          Q.sig9(col("__vs") / col("__vc").cast("double"))).as("score"),
        col("__cc").cast("double").as("y"))
    graft.ext.Causal.matchAtt(units, "user_id", "treated", "score", "y",
      caliper = psmCaliper)
  }

  private val psmSql = {
    val score = Q.sqlSig9(
      s"${Q.sqlDsum("CASE WHEN event_type = 'view' THEN value END")} / " +
        "CAST(count(CASE WHEN event_type = 'view' AND value IS NOT NULL " +
        "THEN 1 END) AS DOUBLE)")
    s"""WITH units AS (
       |  SELECT user_id,
       |    bool_or(event_type = 'purchase') AS treated,
       |    CASE WHEN count(CASE WHEN event_type = 'view'
       |        AND value IS NOT NULL THEN 1 END) > 0
       |      THEN $score END AS score,
       |    CAST(count(CASE WHEN event_type = 'click' THEN 1 END)
       |      AS DOUBLE) AS y
       |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
       |t AS (
       |  SELECT user_id AS t_id, score AS t_s, y AS t_y,
       |    CAST(floor(score / $psmCaliper) AS BIGINT) AS bkt
       |  FROM units WHERE treated AND score IS NOT NULL),
       |c AS (
       |  SELECT user_id AS c_id, score AS c_s, y AS c_y,
       |    CAST(floor(score / $psmCaliper) AS BIGINT) AS cb
       |  FROM units WHERE NOT treated AND score IS NOT NULL),
       |probes AS (
       |  SELECT t_id, t_s, t_y, unnest([bkt - 1, bkt, bkt + 1]) AS cb
       |  FROM t),
       |cand AS (
       |  SELECT t_id, t_y, c_id, c_y, abs(c_s - t_s) AS gap
       |  FROM probes JOIN c USING (cb)
       |  WHERE abs(c_s - t_s) <= $psmCaliper),
       |m AS (
       |  SELECT t_id, t_y, c_y, gap,
       |    row_number() OVER (PARTITION BY t_id ORDER BY gap, c_id) AS rn
       |  FROM cand),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_matched,
       |    ${Q.sqlDsum("t_y - c_y")} AS dsum,
       |    ${Q.sqlDsum("gap")} AS gsum
       |  FROM m WHERE rn = 1),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_treated FROM t),
       |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_control FROM c)
       |SELECT n_treated, n_control, n_matched,
       |  n_treated - n_matched AS n_unmatched,
       |  ${Q.sqlSig9("dsum / CAST(n_matched AS DOUBLE)")} AS att,
       |  ${Q.sqlSig9("gsum / CAST(n_matched AS DOUBLE)")}
       |    AS mean_score_gap
       |FROM agg, nt, nc""".stripMargin
  }

  // ===== sharp regression discontinuity ===============================

  /** Does crossing acctbal 0 shift order volume? Local linear fits on
    * [-2000, 0) and [0, 2000] of per-customer order counts against
    * account balance ([[graft.ext.Causal.rddEstimate]]); tau is the
    * intercept jump at the cutoff. (The fixture randomizes orders
    * independently of balance, so tau ~ 0 — the null readout is the
    * point: the estimator must not manufacture a jump.) */
  private val rddBandwidth = 2000.0

  private val rddQ: QFn = (s, d) => {
    val oc = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("__no"))
    val units = Tables.customer(s, d)
      .join(oc, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(col("c_acctbal").as("x"),
        coalesce(col("__no"), lit(0L)).cast("double").as("y"))
    graft.ext.Causal.rddEstimate(units, "x", "y", cutoff = 0.0,
      bandwidth = rddBandwidth)
  }

  private val rddSql = {
    def fit(side: String, cond: String) = {
      val den = Q.sqlSig9("CAST(n AS DOUBLE) * sxx - sx * sx")
      val b = Q.sqlSig9(s"(CAST(n AS DOUBLE) * sxy - sx * sy) / ($den)")
      s"""SELECT CAST(n AS BIGINT) AS n_$side,
         |  ${Q.sqlSig9(s"(sy - ($b) * sx) / CAST(n AS DOUBLE)")}
         |    AS a_$side,
         |  $b AS b_$side
         |FROM (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    ${Q.sqlDsum("u")} AS sx, ${Q.sqlDsum("y")} AS sy,
         |    ${Q.sqlDsum("u * u")} AS sxx, ${Q.sqlDsum("u * y")} AS sxy
         |  FROM base WHERE $cond)""".stripMargin
    }
    s"""WITH oc AS (
       |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS no
       |  FROM orders GROUP BY 1),
       |base AS (
       |  SELECT CAST(c_acctbal AS DOUBLE) AS u,
       |    CAST(COALESCE(no, 0) AS DOUBLE) AS y
       |  FROM customer LEFT JOIN oc ON c_custkey = o_custkey
       |  WHERE c_acctbal IS NOT NULL
       |    AND c_acctbal >= -$rddBandwidth AND c_acctbal <= $rddBandwidth),
       |l AS (${fit("left", "u < 0")}),
       |r AS (${fit("right", "u >= 0")})
       |SELECT n_left, n_right, a_left, b_left, a_right, b_right,
       |  ${Q.sqlSig9("a_right - a_left")} AS tau
       |FROM l, r""".stripMargin
  }

  // ===== always-valid sequential test (mSPRT) =========================

  /** The streaming readout of `q_x_abtest`: same hash arms, same value
    * metric, but bucketed by day with the normal-mixture always-valid
    * log likelihood ratio per day ([[graft.ext.Causal.msprt]]);
    * tau2 = 1, alpha = 0.05. The oracle replays the per-arm prefix
    * sums and the sig9'd logLambda chain; the ln(1/alpha) boundary is
    * ONE Scala-computed double embedded in both engines (the
    * decay-lambda convention). */
  private val msprtTau2 = 1.0
  private val msprtAlpha = 0.05

  private val msprtQ: QFn = (s, d) => {
    val grp = pmod(graft.ext.Hashing.hash60(
      concat(lit("ab:"), col("user_id").cast("string"))), lit(2L))
    graft.ext.Causal.msprt(
      Tables.events(s, d).withColumn("arm", grp)
        .withColumn("day", to_date(col("ts"))),
      "arm", "day", "value", tau2 = msprtTau2, alpha = msprtAlpha)
      .select(date_format(col("day"), "yyyy-MM-dd").as("day_s"),
        col("n_t"), col("n_c"), col("m_t"), col("m_c"), col("delta"),
        col("log_lambda"), col("crossed"),
        date_format(col("first_cross_day"), "yyyy-MM-dd")
          .as("first_cross_day_s"))
  }

  private val msprtSql = {
    val thr = math.log(1.0 / msprtAlpha)
    val v = Q.sqlSig9("sigma2 * (CAST(1.0 AS DOUBLE) / " +
      "CAST(n_t AS DOUBLE) + CAST(1.0 AS DOUBLE) / CAST(n_c AS DOUBLE))")
    val logLambda = Q.sqlSig9(
      s"${Q.sqlSig9(s"CAST(0.5 AS DOUBLE) * ln(v / (v + $msprtTau2))")} + " +
        Q.sqlSig9(s"delta * delta * $msprtTau2 / " +
          s"(CAST(2.0 AS DOUBLE) * v * (v + $msprtTau2))"))
    s"""WITH e AS (
       |  SELECT CAST(${Q.sqlHash60("'ab:' || CAST(user_id AS VARCHAR)")}
       |      % 2 AS BIGINT) AS g,
       |    CAST(ts AS DATE) AS d, value AS x
       |  FROM events WHERE value IS NOT NULL),
       |sig AS (
       |  SELECT ${Q.sqlSig9("(s2 - s1 * s1 / CAST(n AS DOUBLE)) / " +
            "CAST(n - 1 AS DOUBLE)")} AS sigma2
       |  FROM (SELECT CAST(count(*) AS BIGINT) AS n,
       |    ${Q.sqlDsum("x")} AS s1, ${Q.sqlDsum("x * x")} AS s2 FROM e)),
       |daily AS (
       |  SELECT g, d, CAST(count(*) AS BIGINT) AS nd,
       |    sum(CAST(x AS DECIMAL(38,15))) AS sd
       |  FROM e GROUP BY 1, 2),
       |cum AS (
       |  SELECT g, d,
       |    CAST(sum(nd) OVER w AS BIGINT) AS cn,
       |    ${Q.sqlSig9("CAST(sum(sd) OVER w AS DOUBLE)")} AS cs
       |  FROM daily
       |  WINDOW w AS (PARTITION BY g ORDER BY d
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |t AS (SELECT d AS day, cn AS n_t,
       |  ${Q.sqlSig9("cs / CAST(cn AS DOUBLE)")} AS m_t
       |  FROM cum WHERE g = 1),
       |c AS (SELECT d AS day, cn AS n_c,
       |  ${Q.sqlSig9("cs / CAST(cn AS DOUBLE)")} AS m_c
       |  FROM cum WHERE g = 0),
       |j AS (
       |  SELECT day, n_t, n_c, m_t, m_c,
       |    ${Q.sqlSig9("m_t - m_c")} AS delta, $v AS v
       |  FROM t JOIN c USING (day), sig),
       |p AS (
       |  SELECT day, n_t, n_c, m_t, m_c, delta,
       |    $logLambda AS log_lambda
       |  FROM j),
       |pd AS (
       |  SELECT *, log_lambda > CAST($thr AS DOUBLE) AS crossed FROM p),
       |fc AS (
       |  SELECT min(CASE WHEN crossed THEN day END) AS first_cross_day
       |  FROM pd)
       |SELECT strftime(day, '%Y-%m-%d') AS day_s, n_t, n_c, m_t, m_c,
       |  delta, log_lambda, crossed,
       |  strftime(first_cross_day, '%Y-%m-%d') AS first_cross_day_s
       |FROM pd, fc""".stripMargin
  }

  // ===== instrumental-variable (Wald) estimator =======================

  /** Encouragement-design readout on the events fixture: instrument
    * z = the `q_x_abtest` hash arm, endogenous "uptake" x = per-user
    * click count, outcome y = per-user total value
    * ([[graft.ext.Causal.ivWald]]). beta_IV = ITT / first-stage; the
    * hash split is independent of behavior, so the first stage is
    * near zero and the estimator must surface that honestly (NULL
    * only at exact zero, a huge unstable ratio otherwise — both
    * adjudicated). */
  private val ivQ: QFn = (s, d) => {
    val units = Tables.events(s, d)
      .where(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        count(when(col("event_type") === "click", lit(1)))
          .cast("double").as("x"),
        Q.dsum(col("value")).as("y"))
      .withColumn("z", pmod(graft.ext.Hashing.hash60(
        concat(lit("ab:"), col("user_id").cast("string"))), lit(2L)))
    graft.ext.Causal.ivWald(units, "z", "x", "y")
  }

  private val ivSql = {
    def arm(z: Int) =
      s"""SELECT n AS n_$z,
         |  ${Q.sqlSig9(s"sx / CAST(n AS DOUBLE)")} AS mean_x$z,
         |  ${Q.sqlSig9(s"sy / CAST(n AS DOUBLE)")} AS mean_y$z
         |FROM (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    ${Q.sqlDsumStable("x", 6)} AS sx,
         |    ${Q.sqlDsumStable("y", 6)} AS sy
         |  FROM units WHERE z = $z AND y IS NOT NULL)""".stripMargin
    val itt = Q.sqlSig9("mean_y1 - mean_y0")
    val fs = Q.sqlSig9("mean_x1 - mean_x0")
    s"""WITH units AS (
       |  SELECT user_id,
       |    CAST(count(CASE WHEN event_type = 'click' THEN 1 END)
       |      AS DOUBLE) AS x,
       |    ${Q.sqlDsum("value")} AS y,
       |    CAST(${Q.sqlHash60("'ab:' || CAST(user_id AS VARCHAR)")}
       |      % 2 AS BIGINT) AS z
       |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
       |a0 AS (${arm(0)}),
       |a1 AS (${arm(1)})
       |SELECT n_0, n_1, mean_x0, mean_x1, mean_y0, mean_y1,
       |  $itt AS itt, $fs AS first_stage,
       |  CASE WHEN ($fs) <> 0.0 THEN ${Q.sqlSig9(s"($itt) / ($fs)")}
       |    END AS beta_iv
       |FROM a0, a1""".stripMargin
  }

  // ===== offline policy evaluation (IPS / SNIPS) ======================

  /** [[graft.ext.Causal.ipsPolicyEval]] on the event log read as
    * logged bandit feedback: context = user_id % 16, action =
    * event_type, reward = value; empirical logging propensities; the
    * target policy plays each context's best-logged-mean action. IPS,
    * weight-capped IPS (cap 4) and capped-SNIPS in one row — the
    * counterfactual "what would this policy have earned" readout that
    * gates a ranker rollout without an online test. */
  private val ipsCap = 4.0

  private val ipsEvalQ: QFn = (s, d) =>
    graft.ext.Causal.ipsPolicyEval(
      Tables.events(s, d).select(
        (col("user_id") % 16).cast("long").as("ctx"),
        col("event_type").as("act"),
        col("value").cast("double").as("reward")),
      "ctx", "act", "reward", cap = ipsCap)

  private val ipsEvalSql =
    s"""WITH b AS (
       |  SELECT CAST(user_id % 16 AS BIGINT) AS x, event_type AS a,
       |    CAST(value AS DOUBLE) AS r
       |  FROM events
       |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
       |    AND value IS NOT NULL),
       |cells AS (
       |  SELECT x, a, CAST(count(*) AS BIGINT) AS na,
       |    ${Q.sqlDsum("r")} AS rs
       |  FROM b GROUP BY 1, 2),
       |cells2 AS (SELECT x, a, na, rs,
       |  ${Q.sqlSig9("rs / CAST(na AS DOUBLE)")} AS mean FROM cells),
       |ctx AS (SELECT x, CAST(sum(na) AS BIGINT) AS nx,
       |  max(mean) AS mbest FROM cells2 GROUP BY 1),
       |pi AS (SELECT c.x, min(c.a) AS abest
       |  FROM cells2 c JOIN ctx ON c.x = ctx.x AND c.mean = ctx.mbest
       |  GROUP BY 1),
       |m AS (SELECT c.x, c.na, c.rs,
       |    CAST(ctx.nx AS DOUBLE) / CAST(c.na AS DOUBLE) AS w,
       |    LEAST(CAST(ctx.nx AS DOUBLE) / CAST(c.na AS DOUBLE),
       |      CAST($ipsCap AS DOUBLE)) AS wc
       |  FROM cells2 c JOIN ctx ON c.x = ctx.x
       |  JOIN pi ON c.x = pi.x AND c.a = pi.abest),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(count(DISTINCT x) AS BIGINT) AS n_contexts FROM b),
       |s AS (SELECT
       |  CAST(COALESCE(sum(na), 0) AS BIGINT) AS matched_rows,
       |  COALESCE(${Q.sqlDsumStable("w * rs", 6)}, 0.0) AS swr,
       |  COALESCE(${Q.sqlDsumStable("wc * rs", 6)}, 0.0) AS swcr,
       |  COALESCE(${Q.sqlDsumStable("wc * CAST(na AS DOUBLE)", 6)}, 0.0)
       |    AS swc
       |  FROM m)
       |SELECT n, n_contexts, matched_rows,
       |  ${Q.sqlSig9("swr / CAST(n AS DOUBLE)")} AS ips,
       |  ${Q.sqlSig9("swcr / CAST(n AS DOUBLE)")} AS ips_capped,
       |  CASE WHEN swc = 0.0 THEN 0.0
       |    ELSE ${Q.sqlSig9("swcr / swc")} END AS snips
       |FROM tot, s""".stripMargin

  // ===== exact weighted quantiles =====================================

  /** [[graft.ext.Profile.weightedQuantiles]] on lineitem: revenue-
    * weighted quantity quantiles — "the median shipped unit sits on an
    * order line of quantity X when lines are weighted by what they
    * bill". Value domain = the ~50 quantity levels (declared-bounded,
    * the operator's scale contract); weight = price in cents via
    * FLOOR(x·100) (the double→int cast-parity rule). All integer:
    * zero float contract, no global sort, no window in the engine. */
  private val wquantQ: QFn = (s, d) =>
    Profile.weightedQuantiles(
      Tables.lineitem(s, d).select(col("l_quantity").as("v"),
        floor(col("l_extendedprice") * 100).cast("long").as("w")),
      "v", "w", Seq(250, 500, 750, 900, 990))

  private val wquantSql =
    """WITH g AS (
      |  SELECT CAST(FLOOR(l_quantity) AS BIGINT) AS v,
      |    CAST(sum(CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
      |      AS BIGINT) AS w
      |  FROM lineitem
      |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
      |  GROUP BY 1),
      |t AS (SELECT CAST(sum(w) AS BIGINT) AS total_w FROM g),
      |c AS (SELECT v, w,
      |        CAST(sum(w) OVER (ORDER BY v) AS BIGINT) AS cum
      |      FROM g),
      |qs AS (SELECT unnest([250, 500, 750, 900, 990]) AS q_permille),
      |hit AS (
      |  SELECT qs.q_permille, c.v, c.cum, t.total_w,
      |    row_number() OVER (PARTITION BY qs.q_permille ORDER BY c.v)
      |      AS rn
      |  FROM qs CROSS JOIN t
      |  JOIN c ON c.cum >= ((CAST(qs.q_permille AS HUGEINT) *
      |    t.total_w + 999) // 1000))
      |SELECT CAST(q_permille AS BIGINT) AS q_permille, v AS value,
      |  cum AS cum_w, total_w
      |FROM hit WHERE rn = 1""".stripMargin

  // ===== Theil inequality decomposition ================================

  /** [[graft.ext.Profile.theilDecomposition]] of order revenue across
    * nations: the decomposable inequality readout beside `q_x_gini` —
    * per-nation Theil-within, revenue share, and the exact
    * contribution s_g·T_g + s_g·ln(s_g/(n_g/n)) whose sum is total T.
    * The oracle mirrors the sig9'd ln points and both stable decimal
    * sums term for term. */
  private val theilQ: QFn = (s, d) =>
    Profile.theilDecomposition(
      Tables.orders(s, d)
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey")),
      "n_name", "o_totalprice")

  private val theilSql = {
    val mu = Q.sqlSig9("total / CAST(n AS DOUBLE)")
    val share = Q.sqlSig9("total / xt")
    val tw = Q.sqlSig9(
      s"(sxlx - total * ${Q.sqlSig9(s"ln($mu)")}) / " +
        s"(CAST(n AS DOUBLE) * $mu)")
    val btw = Q.sqlSig9(
      s"ln($share / (CAST(n AS DOUBLE) / CAST(nt AS DOUBLE)))")
    s"""WITH base AS (
       |  SELECT nn.n_name AS g, CAST(o.o_totalprice AS DOUBLE) AS x
       |  FROM orders o
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation nn ON c.c_nationkey = nn.n_nationkey),
       |np AS (
       |  SELECT CAST(sum(CASE WHEN x <= 0 OR x IS NULL THEN 1 ELSE 0
       |    END) AS BIGINT) AS n_nonpos
       |  FROM base),
       |pg AS (
       |  SELECT g, CAST(count(*) AS BIGINT) AS n,
       |    ${Q.sqlDsum("x")} AS total,
       |    ${Q.sqlDsumStable(
            s"x * ${Q.sqlSig9("ln(x)")}", 7)} AS sxlx
       |  FROM base WHERE x > 0 GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS nt,
       |    ${Q.sqlDsumStable("total", 7)} AS xt
       |  FROM pg)
       |SELECT pg.g AS n_name, pg.n, pg.total,
       |  $share AS share, $tw AS theil_within,
       |  ${Q.sqlSig9(s"$share * (($tw) + ($btw))")} AS contribution,
       |  np.n_nonpos
       |FROM pg CROSS JOIN tot CROSS JOIN np""".stripMargin
  }

  val queries: Map[String, (QFn, String)] = Map(
    "q_x_ips_eval" -> (ipsEvalQ, ipsEvalSql),
    "q_x_theil" -> (theilQ, theilSql),
    "q_x_weighted_quantile" -> (wquantQ, wquantSql),
    "q_x_iv" -> (ivQ, ivSql),
    "q_x_psm" -> (psmQ, psmSql),
    "q_x_rdd" -> (rddQ, rddSql),
    "q_x_msprt" -> (msprtQ, msprtSql),
    "q_x_cochran_q" -> (cochranQ2, cochranSql),
    "q_x_ks_battery" -> (ksBatteryQ, ksBatterySql),
    "q_x_pipeline9" -> (pipeline9Q, pipeline9Sql),
    "q_x_spearman" -> (spearmanQ, spearmanSql),
    "q_x_partial_corr" -> (partialQ, partialSql),
    "q_x_kruskal" -> (kruskalQ, kruskalSql),
    "q_x_friedman" -> (friedmanQ, friedmanSql),
    "q_x_anova" -> (anovaQ, anovaSql),
    "q_x_levene" -> (leveneQ, leveneSql),
    "q_x_mutual_info" -> (miQ, miSql),
    "q_x_mcnemar" -> (mcnemarQ, mcnemarSql))
}
