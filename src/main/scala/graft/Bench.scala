package graft

import java.nio.file.{Files, Paths}

/** Per-round benchmark over the full oracle-checked query surface.
  *
  * Methodology (evolved over rounds 1–12):
  *
  * Round 11's driver bench TIMED OUT (rc=124, no JSON reached the log):
  * the r1–r11 harness ran an untimed full warm-up pass + two full timed
  * passes + iso-runs for every >3 s query — ~2,300 s of wall at 296
  * queries. Round 12 restructures the harness around a fixed wall
  * budget without changing what a per-query number MEANS (best observed
  * steady-state, full materialization):
  *
  *  - a SMALL shared warm-up (one cheap representative query per
  *    fixture family) replaces the full untimed pass — it warms JIT,
  *    codegen and parquet footer caches in ~10 s instead of ~450 s;
  *  - pass 1 times every query, in sorted order. A provisional
  *    BENCH.json is written as soon as pass 1 completes, so even an
  *    external kill mid-refinement can never lose the whole run;
  *  - the iso pass (System.gc() + settle, then one quiet run — the
  *    same-JVM isolation proxy from r8) runs FIRST after pass 1,
  *    capped at the IsoCap slowest queries with p1 > IsoTriggerSec:
  *    the slow tier contributes the most headline seconds per sample,
  *    so its second (quieter) sample is the refinement that must
  *    never be shed (dry-run 1 of r12 ordered iso last and measured
  *    cold-only slow queries up to 1.7× their warm minima);
  *  - pass 2 then re-times the remaining queries in DESCENDING p1
  *    order — when the budget sheds the tail, it sheds the sub-second
  *    queries where host noise dwarfs the delta (r8's adjudication);
  *  - every optional run (iso, pass 2) checks the wall budget
  *    (SPARK_GRAFT_BENCH_BUDGET seconds, default 1450) before starting;
  *    past ~85% of budget the harness stops refining and finalizes
  *    with what it has. Pass 1 always completes — the budget only
  *    sheds refinement, never coverage;
  *  - full materialization via queryExecution.toRdd.count() — NOT
  *    DataFrame.count(), which lets Catalyst prune projections and
  *    answer unfiltered parquet scans from footer metadata;
  *  - headline per-query number = min over all runs; all components
  *    (p1/p2/iso + GC deltas) stay in BENCH.json for audit;
  *  - failures are recorded per-query and fail the run (nonzero exit),
  *    never silently timed as fast queries;
  *  - the JSON line goes to stdout AND to BENCH.json in the working
  *    directory so log-tail truncation cannot lose it;
  *  - `shared_prefix` maps each consumer query to the sorted list of
  *    owner queries whose [[graft.core.Shared]] results it reuses (a
  *    query may consume several owners' results: q_x_modularity reads
  *    q_x_lpa's assignment and q_x_triangles' pair frame). A consumer's
  *    minimum comes from a run where those results were warm, so it is
  *    not its standalone cost.
  */
object Bench {
  private val IsoTriggerSec = 3.0
  private val IsoCap = 12

  /** One cheap query per fixture family — warms the session (JIT,
    * codegen cache, parquet footers for all ten tables) without a full
    * untimed pass. Chosen for coverage-per-second: each reads a
    * distinct table set and exercises the native expression registry. */
  private val WarmupReps = Seq(
    "q_g1_groupby_agg",      // lineitem, dsum/sig9 path
    "q_f1_date_filter",      // events, KST exprs
    "q_j1_star_inner",       // nation/region/customer star
    "q_x_text_stats",        // documents, tokenizer exprs
    "q_x_ann_brute",         // embeddings, vector exprs
    "q_m1_park_factor",      // kbo metric path (orders/lineitem)
    "q_x_rfm",               // customer/orders
    "q_w1_topk_per_group")   // window path

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "1450").toDouble
    val spark = graft.core.Session("graft-bench")
    // fixture-vintage gate (same as Verify): fail loudly in one place
    // on fixture schema drift instead of timing 150 broken queries
    graft.core.Tables.preflight(spark, sfDir)

    import scala.jdk.CollectionConverters._
    def gcMillis(): Long =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum

    val wall0 = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - wall0) / 1e9
    def budgetLeft: Boolean = elapsedSec < budgetSec * 0.85

    /** (wallSec, gcDeltaMs, ok) */
    def runOnce(name: String): (Double, Long, Boolean) = {
      val g0 = gcMillis()
      val t0 = System.nanoTime()
      val ok =
        try { SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
        }
      ((System.nanoTime() - t0) / 1e9, gcMillis() - g0, ok)
    }

    // SPARK_GRAFT_QUERIES=a,b,c restricts the run to a subset — the
    // isolation knob for re-measuring one query without the other 100
    // sharing the same JVM.
    val names = SparkEntry.selected
    val sharedPrefix = SparkEntry.sharedPrefix

    WarmupReps.filter(SparkEntry.queries.contains).foreach(runOnce)
    System.err.println(f"[bench] warm-up done at ${elapsedSec}%.0f s; pass 1 over ${names.size} queries")

    val pass1 = names.map { n =>
      val r = runOnce(n)
      n -> r
    }.toMap
    System.err.println(f"[bench] pass 1 done at ${elapsedSec}%.0f s (sum ${pass1.values.map(_._1).sum}%.0f s)")

    def writeJson(results: Seq[(String, (Double, Boolean))],
        pass2: Map[String, (Double, Long, Boolean)],
        iso: Map[String, (Double, Long, Boolean)],
        provisional: Boolean): String = {
      val failed = results.collect { case (n, (_, false)) => n }
      def f(d: Double): String = (math.rint(d * 10000) / 10000).toString
      val qs = results.map { case (n, (sec, _)) => s"\"$n\":${f(sec)}" }
        .mkString("{", ",", "}")
      val detail = results.map { case (n, _) =>
        val p2Part = pass2.get(n).map { case (t, g, _) => s""","p2":${f(t)},"gcMs2":$g""" }.getOrElse("")
        val isoPart = iso.get(n).map { case (t, g, _) => s""","iso":${f(t)},"isoGcMs":$g""" }.getOrElse("")
        s""""$n":{"p1":${f(pass1(n)._1)},"gcMs1":${pass1(n)._2}$p2Part$isoPart}"""
      }.mkString("{", ",", "}")
      val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      val total = results.map(_._2._1).sum
      val prov = if (provisional) ""","provisional":true""" else ""
      val shared = results.flatMap { case (n, _) => sharedPrefix.get(n)
          .map(os => s""""$n":${os.map("\"" + _ + "\"").mkString("[", ",", "]")}""") }
        .mkString("{", ",", "}")
      val json = s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,"passes":$detail,"shared_prefix":$shared,"failed":$failedJson,"sf":"$sfDir"$prov}"""
      Files.writeString(Paths.get("BENCH.json"), json + "\n")
      json
    }
    def currentResults(pass2: Map[String, (Double, Long, Boolean)],
        iso: Map[String, (Double, Long, Boolean)]): Seq[(String, (Double, Boolean))] =
      names.map { n =>
        val (t1, _, ok1) = pass1(n)
        val best = Seq(Some(t1), pass2.get(n).map(_._1), iso.get(n).map(_._1))
          .flatten.min
        val ok = ok1 && pass2.get(n).forall(_._3) && iso.get(n).forall(_._3)
        n -> (best, ok)
      }

    // pass-1-only provisional snapshot: an external kill from here on
    // loses refinement, not the run
    writeJson(currentResults(Map.empty, Map.empty), Map.empty, Map.empty,
      provisional = true)

    // Quiet re-run for the slowest queries FIRST: full GC + settle,
    // then one more timed run. If the quiet time collapses (like
    // q_g1's r8 36 s -> 1.8 s isolated), the slowness was JVM state,
    // not the plan. These are the headline's biggest terms — their
    // second sample is guaranteed before any band refinement spends
    // budget.
    val isoCandidates = names
      .filter(n => pass1(n)._3 && pass1(n)._1 > IsoTriggerSec)
      .sortBy(n => -pass1(n)._1).take(IsoCap)
    val iso: Map[String, (Double, Long, Boolean)] = isoCandidates.flatMap { n =>
      if (budgetLeft) {
        System.gc(); Thread.sleep(300)
        Some(n -> runOnce(n))
      } else None
    }.toMap
    System.err.println(f"[bench] iso done at ${elapsedSec}%.0f s (${iso.size} of ${isoCandidates.size} candidates run)")

    // Second timed sample for everything else, most-expensive first:
    // when the budget sheds the tail it sheds sub-second queries,
    // where host noise dwarfs what a re-run could correct.
    val pass2 = names
      .filter(n => pass1(n)._3 && !iso.contains(n))
      .sortBy(n => -pass1(n)._1)
      .flatMap(n => if (budgetLeft) Some(n -> runOnce(n)) else None)
      .toMap
    System.err.println(f"[bench] pass 2 done at ${elapsedSec}%.0f s (${pass2.size} of ${names.size - iso.size} queries re-timed)")

    val results = currentResults(pass2, iso)
    val failed = results.collect { case (n, (_, false)) => n }
    val json = writeJson(results, pass2, iso, provisional = false)
    println(json)
    spark.stop()
    // The log-tail consumer keeps only the last ~2000 characters; the
    // full per-query line above is longer than that, so its head (with
    // the "metric" key) falls outside the window. Emit a compact,
    // self-contained summary as the LAST line so whatever survives the
    // tail is parseable; per-query detail stays in BENCH.json and the
    // full line above.
    def f(d: Double): String = (math.rint(d * 10000) / 10000).toString
    val total = results.map(_._2._1).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val compact = s"""{"metric":"total","value":${f(total)},"unit":"sec","n_queries":${results.size},"failed":$failedJson,"sf":"$sfDir","wall_sec":${f(elapsedSec)},"detail":"BENCH.json"}"""
    println(compact)
    if (failed.nonEmpty) sys.exit(1)
  }
}
