package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries.Q

/** Training-mixture calibration: iterative proportional fitting
  * (raking) of per-cell sampling weights so a corpus's joint
  * (row × col) mixture matches TARGET marginals on both dimensions —
  * the classical survey-calibration algorithm (Deming & Stephan 1940)
  * and the workhorse behind "reweight the crawl to the curated slice's
  * source × language profile" in LLM data pipelines.
  *
  * Everything runs on the BOUNDED cell table (distinct row × col
  * categories), never on the corpus: one hash aggregate collapses the
  * corpus to cell counts, and each IPF half-step is a groupBy + two
  * broadcast joins over O(cells) rows. At 100 TB the corpus pass is
  * the one scan; the iterations are metadata-sized.
  */
object Mixture {

  /** Rake per-cell weights so the weighted corpus matches the target's
    * row and column marginals.
    *
    * Masses are kept in "effective document count" units: the target
    * row mass for category r is N·(tn_r/tN) where N is the CORPUS
    * total and tn_r/tN the TARGET's row-marginal fraction, so after a
    * row step the weighted total is exactly N again. `rounds` full
    * (row then column) sweeps are unrolled (IPF converges
    * geometrically; 2-3 sweeps close all but degenerate gaps —
    * residual imbalance is readable off the output masses).
    *
    * Determinism contract: per-cell mass is sig9(n·w); per-category
    * sums go through dsumStable(`sumScale`) (pick sumScale so
    * N·10^scale stays under 15 digits — 6 covers N < 10^9, use 3 at
    * trillion-document scale); scale factors are sig9(tm/cs) guarded
    * to 0 when the current mass is 0, and categories ABSENT from the
    * target rake to weight 0 (they have no place in the calibrated
    * mixture). Categories present in the target but absent from the
    * corpus are unreachable and ignored. A NULL category is treated as
    * absent-from-target (weight 0, row retained) — the convention plain
    * SQL equality joins give, pinned on both engines.
    *
    * @param df     corpus; one row per document
    * @param target slice/frame whose (rowCol, colCol) marginals are
    *               the calibration targets (e.g. a curated subset)
    * @return one row per occupied cell: (rowCol, colCol, n, weight,
    *         mass = sig9(n·weight))
    */
  def ipfRake(df: DataFrame, target: DataFrame, rowCol: String,
      colCol: String, rounds: Int = 2, sumScale: Int = 6): DataFrame = {
    // cut the bounded frames: each IPF half-step references its input
    // twice (marginal sums + the base), so an uncut lineage would
    // re-run the corpus aggregate 4^rounds times — the cut pins "one
    // corpus scan per side", and per-sweep cuts below keep the
    // iteration's plan depth linear
    val cells = df.groupBy(col(rowCol), col(colCol))
      .agg(count(lit(1)).as("n"))
      .transform(Checkpoints.cut)
    def tn(dim: String): DataFrame =
      target.groupBy(col(dim)).agg(count(lit(1)).as("tn"))
        .select(col(dim).as("k"), col("tn"))
    rakeCells(cells, rowCol, colCol, tn(rowCol), tn(colCol), rounds,
      sumScale)
  }

  /** The IPF sweep chain over an ALREADY-AGGREGATED cell table — the
    * shared core of [[ipfRake]] (which collapses a corpus to cells
    * first) and the streaming rake sink (whose per-batch state IS the
    * cumulative cell table). `rowTn`/`colTn` are bounded (k, tn)
    * target-marginal count frames; target masses rescale to the cell
    * table's CURRENT total each call, so the same target artifact
    * serves every batch. Arithmetic is step-identical to what ipfRake
    * always ran (the oracle chain): sig9'd masses, dsumStable(sumScale)
    * marginal sums, plain-equality marginal joins (NULL categories rake
    * to 0).
    */
  def rakeCells(cells: DataFrame, rowCol: String, colCol: String,
      rowTn: DataFrame, colTn: DataFrame, rounds: Int = 2,
      sumScale: Int = 6): DataFrame = {
    require(rounds >= 1 && rounds <= 16,
      s"rounds must be in [1, 16], got $rounds")
    val tot = cells.agg(sum(col("n")).cast("long").as("n_corpus"))

    def targetMass(tn: DataFrame, dim: String, out: String): DataFrame = {
      val tt = tn.agg(sum(col("tn")).cast("long").as("t_total"))
      tn.crossJoin(broadcast(tt)).crossJoin(broadcast(tot))
        .select(col("k").as(s"__$dim"),
          Q.sig9(col("n_corpus").cast("double")
            * col("tn").cast("double")
            / col("t_total").cast("double")).as(out))
    }
    // each read by every round's half-step
    val rowTm = targetMass(rowTn, rowCol, "tm_r").transform(Checkpoints.cut)
    val colTm = targetMass(colTn, colCol, "tm_c").transform(Checkpoints.cut)

    def halfStep(cur: DataFrame, dim: String, tm: DataFrame,
        tmCol: String): DataFrame = {
      val mass = Q.sig9(col("n").cast("double") * col("w"))
      val sums = cur.groupBy(col(dim))
        .agg(Q.dsumStable(mass, sumScale).as("__cs"))
        .withColumnRenamed(dim, s"__k")
      // plain equality, NOT null-safe <=>: a NULL category never joins
      // its marginal, so its cells rake to weight 0 — the same rule the
      // SQL oracle's `p.$dim = s.k` LEFT JOINs apply. (A null-safe join
      // here would rake NULL cells normally on the engine side only and
      // break hash parity on nullable category data.)
      cur.join(broadcast(sums), col(dim) === col("__k"), "left")
        .join(broadcast(tm), col(dim) === col(s"__$dim"), "left")
        .withColumn("w", Q.sig9(col("w") *
          coalesce(when(col("__cs") > 0.0,
            Q.sig9(col(tmCol) / col("__cs"))), lit(0.0))))
        .drop("__k", s"__$dim", "__cs", tmCol)
    }

    var cur = cells.withColumn("w", lit(1.0))
    for (_ <- 1 to rounds) {
      cur = halfStep(cur, rowCol, rowTm, "tm_r")
      cur = halfStep(cur, colCol, colTm, "tm_c").transform(Checkpoints.cut)
    }
    cur.select(col(rowCol), col(colCol), col("n"), col("w").as("weight"),
      Q.sig9(col("n").cast("double") * col("w")).as("mass"))
  }
}
