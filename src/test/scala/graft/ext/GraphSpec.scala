package graft.ext

import graft.SparkSpec
import graft.functions.GraftMath
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def edges(rows: (Long, Long, Long)*): DataFrame =
    rows.toDF("a", "b", "w")
  private def nodes(ids: Long*): DataFrame = ids.toDF("v")

  /** `body` with `dir`, when given, as the durable checkpoint dir. */
  private def durable[T](dir: Option[String])(body: => T): T =
    dir.fold(body)(SparkSpec.withCheckpointDir(_)(body))

  private def run(e: DataFrame, n: DataFrame, iters: Int)
      : Map[Long, Double] =
    Graph.pageRank(e, "a", "b", "w", n, "v", iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** Reference power iteration replicating the documented formula —
    * N-scaled mass, sig9'd terms, stable decimal sum (dec15 per term,
    * decimal-space round to SumScale places, then sig9) at the same
    * points as the engine, final /N projection. */
  private def stableSum(terms: Seq[Double]): Double =
    GraftMath.sig9(terms
      .map(t => BigDecimal(t).setScale(15, BigDecimal.RoundingMode.HALF_UP))
      .sum.setScale(Graph.SumScale, BigDecimal.RoundingMode.HALF_UP)
      .toDouble)

  private def ref(e: Seq[(Long, Long, Long)], ns: Seq[Long], iters: Int,
      d: Double = 0.85): Map[Long, Double] = {
    val nN = ns.size
    val outW = e.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var m = ns.map(_ -> 1.0).toMap
    for (_ <- 1 to iters) {
      val terms = e.map { case (a, b, w) =>
        b -> GraftMath.sig9(m(a) * w.toDouble / outW(a).toDouble) }
      val s = terms.groupBy(_._1).view
        .mapValues(ts => stableSum(ts.map(_._2))).toMap
      val dangling = ns.filter(v => !outW.contains(v))
      val dm = if (dangling.isEmpty) 0.0
        else stableSum(dangling.map(m))
      m = ns.map(v => v -> GraftMath.sig9(
        (1.0 - d) + d * (s.getOrElse(v, 0.0) + dm / nN))).toMap
    }
    m.view.mapValues(x => GraftMath.sig9(x / nN)).toMap
  }

  test("ranks match the reference trajectory exactly (sig9 points incl.)") {
    val e = Seq((1L, 2L, 1L), (2L, 1L, 1L), (2L, 3L, 3L), (3L, 1L, 2L),
      (1L, 3L, 1L))
    val ns = Seq(1L, 2L, 3L, 4L) // 4 is dangling AND unreferenced
    assert(run(edges(e: _*), nodes(ns: _*), 4) === ref(e, ns, 4))
  }

  test("rank mass is conserved (sums to ~1 with dangling nodes present)") {
    val e = Seq((1L, 2L, 1L), (2L, 3L, 1L)) // 3 dangles
    val r = run(edges(e: _*), nodes(1L, 2L, 3L), 6)
    assert(math.abs(r.values.sum - 1.0) < 1e-6)
  }

  test("heavier-in-weight node outranks its peers") {
    // everyone points at 1; 2 and 3 only get the base share
    val e = Seq((2L, 1L, 5L), (3L, 1L, 5L), (1L, 2L, 1L), (1L, 3L, 1L))
    val r = run(edges(e: _*), nodes(1L, 2L, 3L), 5)
    assert(r(1L) > r(2L) && r(1L) > r(3L))
    assert(r(2L) === r(3L)) // symmetric positions tie exactly
  }

  test("partition-invariant (decimal sums)") {
    val e = edges((1L, 2L, 1L), (2L, 3L, 2L), (3L, 1L, 1L), (1L, 3L, 4L))
    val n = nodes(1L, 2L, 3L)
    assert(run(e.repartition(7), n.repartition(3), 3) === run(e, n, 3))
  }

  // ===== HITS =========================================================

  private def runHits(e: DataFrame, n: DataFrame, iters: Int)
      : Map[Long, (Double, Double)] =
    Graph.hits(e, "a", "b", "w", n, "v", iters)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap

  private def refHits(e: Seq[(Long, Long, Long)], ns: Seq[Long],
      iters: Int): Map[Long, (Double, Double)] = {
    val nN = ns.size
    var h = ns.map(_ -> 1.0).toMap
    var a = ns.map(_ -> 0.0).toMap
    def half(scores: Map[Long, Double],
        key: ((Long, Long, Long)) => Long,
        grp: ((Long, Long, Long)) => Long): Map[Long, Double] = {
      val raw = e.groupBy(grp).view.mapValues(es =>
        stableSum(es.map(t => GraftMath.sig9(scores(key(t)) * t._3)))).toMap
      val tot = if (raw.isEmpty) 0.0 else stableSum(raw.values.toSeq)
      ns.map(v => v -> (if (tot > 0.0)
        GraftMath.sig9(raw.getOrElse(v, 0.0) * nN / tot) else 0.0)).toMap
    }
    for (_ <- 1 to iters) {
      a = half(h, _._1, _._2)
      h = half(a, _._2, _._1)
    }
    ns.map(v => v -> ((h(v), a(v)))).toMap
  }

  test("hits matches the reference trajectory exactly") {
    val e = Seq((1L, 10L, 2L), (1L, 11L, 1L), (2L, 10L, 1L),
      (3L, 11L, 3L), (2L, 12L, 1L))
    val ns = Seq(1L, 2L, 3L, 10L, 11L, 12L, 99L) // 99 isolated
    assert(runHits(edges(e: _*), nodes(ns: _*), 3) === refHits(e, ns, 3))
  }

  test("hits on a bipartite graph: mass separates by side") {
    val e = Seq((1L, 10L, 3L), (2L, 10L, 1L), (2L, 11L, 1L))
    val r = runHits(edges(e: _*), nodes(1L, 2L, 10L, 11L), 4)
    // sources have zero authority, targets zero hub
    assert(r(1L)._2 === 0.0 && r(2L)._2 === 0.0)
    assert(r(10L)._1 === 0.0 && r(11L)._1 === 0.0)
    // the heavier-bought part is the stronger authority
    assert(r(10L)._2 > r(11L)._2)
    // hub scores mean ~1 over all nodes (nonzero mass present)
    assert(math.abs(r.values.map(_._1).sum / 4 - 1.0) < 1e-9)
  }

  test("hits is partition-invariant") {
    val e = edges((1L, 10L, 1L), (2L, 10L, 2L), (1L, 11L, 1L))
    val n = nodes(1L, 2L, 10L, 11L)
    assert(runHits(e.repartition(5), n.repartition(3), 3) ===
      runHits(e, n, 3))
  }

  // ===== triangle counting ============================================

  private def runTri(e: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.triangleCounts(e.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def bruteTri(e: Seq[(Long, Long)]): Map[Long, Long] = {
    val und = e.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(p => p._1 != p._2).distinct.toSet
    val ns = und.flatMap(p => Seq(p._1, p._2)).toSeq.distinct
    val tris = for {
      u <- ns; v <- ns if u < v; w <- ns if v < w
      if und(( u, v)) && und((v, w)) && und((u, w))
    } yield Seq(u, v, w)
    tris.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
  }

  test("triangles: known graph (two sharing an edge + an isolated path)") {
    // triangle 1-2-3, triangle 2-3-4 (share edge 2-3), path 5-6
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L), (5L, 6L))
    assert(runTri(e) === Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("triangles: orientation matches brute force on a random-ish graph") {
    val e = (for (i <- 1L to 12L; j <- 1L to 12L
      if i < j && (i * 7 + j * 13) % 3 == 0) yield (i, j)).toSeq
    assert(runTri(e) === bruteTri(e))
  }

  test("triangles: duplicates, reversed edges and self-loops normalize") {
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 1L),
      (1L, 2L))
    assert(runTri(e) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  // ===== link prediction ==============================================

  private def runLp(e: Seq[(Long, Long, Long)], k: Int,
      maxPop: Int = Int.MaxValue): Map[(Long, Long), (Long, Double)] =
    Graph.linkPredict(e.toDF("a", "b", "w"), "a", "b", "w", k, maxPop)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap

  test("linkPredict: classic open triad scores; closed pairs excluded") {
    // star around 1: neighbors 2,3,4; plus edge 2-3 (already linked)
    val e = Seq((1L, 2L, 5L), (1L, 3L, 4L), (1L, 4L, 3L), (2L, 3L, 1L))
    val lp = runLp(e, k = 10)
    // (2,4) and (3,4) share neighbor 1 and are unlinked; (2,3) IS an
    // edge -> excluded
    assert(lp.keySet === Set((2L, 4L), (3L, 4L)))
    // capped sets: N(2)={1,3}, N(4)={1}; cn=1 -> J = 1/(2+1-1) = 0.5
    assert(lp((2L, 4L)) === ((1L, 0.5)))
    assert(lp((3L, 4L)) === ((1L, 0.5)))
  }

  test("linkPredict: the cap keeps only the k heaviest neighbors") {
    // node 1's k=2 cap keeps 2 and 3 — but 4's own (single-entry) set
    // still holds 1, so wedges through 1 survive for all pairs; the
    // cap's effect shows in the SIZES: sz(1)=2 not 3
    val e = Seq((1L, 2L, 9L), (1L, 3L, 8L), (1L, 4L, 1L))
    val lp = runLp(e, k = 2)
    assert(lp.keySet === Set((2L, 3L), (2L, 4L), (3L, 4L)))
    // sz(2)=sz(3)=sz(4)=1 ({1}); cn=1 -> J=1 for every pair
    assert(lp.values.toSet === Set((1L, 1.0)))
  }

  test("linkPredict: hyper-popular common neighbors are stopworded") {
    // 1 is everyone's neighbor; maxPopularity=2 drops it from all sets
    val e = Seq((1L, 2L, 9L), (1L, 3L, 8L), (1L, 4L, 1L))
    assert(runLp(e, k = 10, maxPop = 2) === Map.empty)
  }

  test("linkPredict: cap ties break by neighbor id") {
    // equal weights: k=1 keeps the smaller-id neighbor deterministically
    val e = Seq((1L, 5L, 7L), (1L, 3L, 7L), (2L, 5L, 7L), (2L, 3L, 7L))
    val lp = runLp(e, k = 1)
    // every node keeps exactly one neighbor: 1->3, 2->3, 3->1, 5->1
    // wedges: through 3: (1,2); through 1: (3,5)
    assert(lp.keySet === Set((1L, 2L), (3L, 5L)))
  }

  // ===== k-hop BFS ====================================================

  private def runKhop(e: Seq[(Long, Long)], seeds: Seq[Long], k: Int,
      dir: Option[String] = None): Map[Long, Long] = durable(dir) {
    Graph.khopDistances(e.toDF("a", "b"), "a", "b", seeds.toDF("v"), "v", k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Naive per-round relaxation reference. */
  private def refKhop(e: Seq[(Long, Long)], seeds: Seq[Long], k: Int)
      : Map[Long, Long] = {
    var dist = seeds.distinct.map(_ -> 0L).toMap
    for (i <- 1 to k) {
      val frontier = dist.filter(_._2 == i - 1).keySet
      val reached = e.filter(x => frontier(x._1)).map(_._2).distinct
      dist = dist ++ reached.filterNot(dist.contains).map(_ -> i.toLong)
    }
    dist
  }

  test("khop: min distances on a branchy graph with a cycle; " +
      "unreachable nodes absent") {
    // 1 -> 2 -> 3 -> 1 (cycle), 2 -> 4 -> 5, 6 -> 7 (disconnected)
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L), (4L, 5L),
      (6L, 7L))
    val got = runKhop(e, Seq(1L), 3)
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 3L))
    assert(!got.contains(6L) && !got.contains(7L))
    assert(got === refKhop(e, Seq(1L), 3))
  }

  test("khop: multi-source takes the MIN over seeds; k=0 is seeds only") {
    val e = Seq((1L, 2L), (2L, 3L), (5L, 3L))
    assert(runKhop(e, Seq(1L, 5L), 2) ===
      Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 3L -> 1L))
    assert(runKhop(e, Seq(1L, 5L), 0) === Map(1L -> 0L, 5L -> 0L))
  }

  test("khop: directed — reverse edges do not propagate; duplicate " +
      "edges and seeds collapse; early exhaustion stops cleanly") {
    val e = Seq((2L, 1L), (2L, 1L), (3L, 2L))
    // from seed 1 nothing is reachable forward; k exceeds the diameter
    assert(runKhop(e, Seq(1L, 1L), 5) === Map(1L -> 0L))
    assert(runKhop(e, Seq(3L), 5) === Map(3L -> 0L, 2L -> 1L, 1L -> 2L))
  }

  test("khop: durable checkpointDir bit-matches localCheckpoint") {
    val dir = java.nio.file.Files.createTempDirectory("khopck").toString
    val e = Seq((1L, 2L), (2L, 3L), (2L, 4L), (4L, 5L), (5L, 1L))
    assert(runKhop(e, Seq(1L), 4, Some(dir)) === runKhop(e, Seq(1L), 4))
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .count() > 0, "durable checkpoint dir should be non-empty")
  }

  // ===== durable checkpointing (VERDICT r9 #1) ========================

  test("durable checkpointDir bit-matches the localCheckpoint path on " +
      "all four ops") {
    val dir = java.nio.file.Files.createTempDirectory("graphck").toString
    val e3 = Seq((1L, 2L, 2L), (2L, 3L, 1L), (3L, 1L, 3L), (1L, 3L, 1L))
    val ns = Seq(1L, 2L, 3L, 4L)
    val pr0 = run(edges(e3: _*), nodes(ns: _*), 3)
    val h0 = runHits(edges(e3: _*), nodes(ns: _*), 3)
    val te = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L))
    val t0 = runTri(te)
    val le = Seq((1L, 2L, 5L), (1L, 3L, 4L), (1L, 4L, 3L), (2L, 3L, 1L))
    val l0 = runLp(le, k = 10)
    SparkSpec.withCheckpointDir(dir) {
      assert(run(edges(e3: _*), nodes(ns: _*), 3) === pr0)
      assert(runHits(edges(e3: _*), nodes(ns: _*), 3) === h0)
      assert(runTri(te) === t0)
      assert(runLp(le, k = 10) === l0)
    }
    // and the durable blocks actually landed on disk
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .count() > 0, "durable checkpoint dir should be non-empty")
  }

  // ===== byte-based broadcast budget (VERDICT r9 #4) ==================

  test("tiny edge frames broadcast; an over-budget frame plans the " +
      "shuffle join — same results in both regimes") {
    def hasBroadcast(df: DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("BroadcastExchange")
    val te = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L))
    // default budget (64 MiB floor): tiny frame broadcasts
    val small = Graph.triangleCounts(te.toDF("a", "b"), "a", "b")
    assert(hasBroadcast(small), "tiny edge frame should broadcast")
    val expected = runTri(te)
    // shrink the hint budget below the measured frame size (and turn
    // Catalyst's own auto-broadcast off so nothing else broadcasts):
    // the same graph now plans the shuffle path, same answer
    val auto0 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(Graph.BroadcastBytesConf, "1")
    try {
      val shuffled = Graph.triangleCounts(te.toDF("a", "b"), "a", "b")
      assert(!hasBroadcast(shuffled),
        "over-budget frame must not broadcast")
      assert(shuffled.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap === expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", auto0)
      spark.conf.unset(Graph.BroadcastBytesConf)
    }
  }

  test("measure counts string bytes, not rows") {
    val narrow = Seq.tabulate(100)(i => (i.toLong, i.toLong))
      .toDF("a", "b")
    val wide = Seq.tabulate(100)(i => (("x" * 1000) + i, i.toString))
      .toDF("a", "b")
    val (nr, nb) = Graph.measure(narrow)
    val (wr, wb) = Graph.measure(wide)
    assert(nr === 100L && wr === 100L)
    assert(nb === 100L * 16) // two longs
    assert(wb > 100L * 1000, "wide string ids must dominate the estimate")
  }

  test("invalid params rejected") {
    intercept[IllegalArgumentException] {
      Graph.pageRank(edges((1L, 2L, 1L)), "a", "b", "w", nodes(1L, 2L),
        "v", iters = 0)
    }
    intercept[IllegalArgumentException] {
      Graph.pageRank(edges((1L, 2L, 1L)), "a", "b", "w", nodes(1L, 2L),
        "v", iters = 1, damping = 1.5)
    }
  }

  // ===== k-core peel ==================================================

  private def und(rows: (Long, Long)*): DataFrame = {
    val fwd = rows.toDF("a", "b")
    fwd.unionAll(fwd.select(col("b").as("a"), col("a").as("b")))
  }

  private def runCore(e: DataFrame, k: Int, rounds: Int,
      dir: Option[String] = None): Map[Long, Long] = durable(dir) {
    Graph.kCore(e, "a", "b", k, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("kCore: pendants peel in cascade; the clique survives with its " +
      "inner degrees; extra rounds past convergence are no-ops") {
    // 4-clique {1,2,3,4}, pendant chain 6-5-1
    val e = und((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (5L, 1L), (6L, 5L))
    val want = Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L)
    // round 1 peels 6 (deg 1); round 2 peels the now-deg-1 node 5
    assert(runCore(e, k = 2, rounds = 3) === want)
    assert(runCore(e, k = 2, rounds = 10) === want) // converged no-op
    // one round is NOT enough: 5 still has degree 2 after peeling 6
    assert(runCore(e, k = 2, rounds = 1).keySet.contains(5L))
    // k above the clique's inner degree empties the core
    assert(runCore(e, k = 4, rounds = 5) === Map.empty[Long, Long])
  }

  test("kCore: self-loops dropped, duplicate edges collapse; durable " +
      "checkpointDir bit-matches") {
    val e = und((1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (7L, 7L))
    val want = Map(1L -> 2L, 2L -> 2L, 3L -> 2L) // triangle; 7 is gone
    assert(runCore(e, k = 2, rounds = 2) === want)
    val dir = java.nio.file.Files.createTempDirectory("kcoreck").toString
    assert(runCore(e, k = 2, rounds = 2, Some(dir)) === want)
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .count() > 0)
  }

  // ===== weighted shortest paths ======================================

  private def runSp(e: Seq[(Long, Long, Long)], seeds: Seq[Long],
      rounds: Int, dir: Option[String] = None): Map[Long, Long] =
    durable(dir) {
      Graph.shortestPaths(e.toDF("a", "b", "w"), "a", "b", "w",
          seeds.toDF("v"), "v", rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }

  test("shortestPaths: a cheaper two-hop route beats the direct edge; " +
      "the round budget bounds path length") {
    val e = Seq((1L, 2L, 1L), (2L, 4L, 1L), (1L, 3L, 5L), (3L, 4L, 1L),
      (1L, 4L, 10L))
    assert(runSp(e, Seq(1L), 3) ===
      Map(1L -> 0L, 2L -> 1L, 3L -> 5L, 4L -> 2L))
    // one round: only direct edges relax
    assert(runSp(e, Seq(1L), 1) ===
      Map(1L -> 0L, 2L -> 1L, 3L -> 5L, 4L -> 10L))
    // directed: nothing reaches backward from seed 4
    assert(runSp(e, Seq(4L), 3) === Map(4L -> 0L))
  }

  test("shortestPaths: multi-source min, parallel edges collapse to " +
      "min weight, unreachable absent; durable dir bit-matches") {
    val e = Seq((1L, 2L, 7L), (1L, 2L, 3L), (5L, 2L, 1L), (9L, 10L, 1L))
    val want = Map(1L -> 0L, 5L -> 0L, 2L -> 1L)
    assert(runSp(e, Seq(1L, 5L), 2) === want)
    val dir = java.nio.file.Files.createTempDirectory("ssspck").toString
    assert(runSp(e, Seq(1L, 5L), 2, Some(dir)) === want)
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .count() > 0)
  }

  // ===== label-propagation communities ================================

  private def runLpa(e: Seq[(Long, Long)], rounds: Int,
      ck: Option[String] = None, parts: Int = 3): Map[Long, Long] = {
    val und = (e ++ e.map(p => (p._2, p._1))).toDF("a", "b")
      .repartition(parts)
    durable(ck) {
      Graph.labelPropagation(und, "a", "b", rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
  }

  test("labelPropagation: two triangles over a bridge separate; the " +
      "synchronous min-tie trajectory is exact") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    // hand-propagated synchronous rounds (ties -> smallest label):
    // r1: 1->2 2->1 3->1 4->3 5->4 6->4
    assert(runLpa(e, 1) === Map(1L -> 2L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 4L, 6L -> 4L))
    // r3: the two triangles settle on labels 1 and 3
    assert(runLpa(e, 3) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
  }

  test("labelPropagation: partition-invariant and durable-checkpoint " +
      "path bit-matches") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L), (10L, 11L))
    val a = runLpa(e, 3, parts = 2)
    val b = runLpa(e, 3, parts = 7)
    assert(a === b)
    val dir = java.nio.file.Files.createTempDirectory("lpack").toString
    assert(runLpa(e, 3, Some(dir)) === a)
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .count() > 0)
  }

  test("personalizedPageRank: hand-computed trajectory, zero mass on " +
      "unreachable nodes, dangling mass returns to seeds") {
    import spark.implicits._
    def run(edges: Seq[(Long, Long)], nodes: Seq[Long], seeds: Seq[Long],
        iters: Int) = Graph.personalizedPageRank(
      edges.map { case (a, b) => (a, b, 1L) }.toDF("a", "b", "w"),
      "a", "b", "w", nodes.toDF("v"), "v", seeds.toDF("s"), "s",
      iters, damping = 0.5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // 2-cycle + isolated node, seed {1}: hand-rolled masses after 2
    // rounds are (2.25, 0.75, 0) of n=3 -> ranks (0.75, 0.25, 0)
    val cyc = run(Seq((1L, 2L), (2L, 1L)), Seq(1L, 2L, 3L), Seq(1L), 2)
    assert(cyc === Map(1L -> 0.75, 2L -> 0.25, 3L -> 0.0))
    // 1 -> 2 with 2 dangling: round 2 returns 2's mass to the seed
    val dang = run(Seq((1L, 2L)), Seq(1L, 2L, 3L), Seq(1L), 2)
    assert(dang === Map(1L -> 0.75, 2L -> 0.25, 3L -> 0.0))
    // mass sums to 1 on a bigger graph; seeds outside nodes rejected
    val big = run((1L to 20L).map(i => (i, i % 20 + 1)),
      (1L to 25L), Seq(5L, 7L), 3)
    assert(math.abs(big.values.sum - 1.0) < 1e-7)
    assert(big(23L) === 0.0)
    val err = intercept[IllegalArgumentException] {
      run(Seq((1L, 2L)), Seq(1L, 2L), Seq(99L), 1)
    }
    assert(err.getMessage.contains("seed set is empty"))
  }

  test("clusteringCoef: K3 is fully clustered, P3 and a star have " +
      "zero clustering, K4 minus an edge is hand-exact") {
    import spark.implicits._
    def row(e: Seq[(Long, Long)]) =
      Graph.clusteringCoef(e.toDF("a", "b"), "a", "b").collect()(0)
    val k3 = row(Seq((1L, 2L), (2L, 3L), (1L, 3L)))
    assert(k3.getAs[Long]("n_triangles") === 1L &&
      k3.getAs[Long]("n_wedges") === 3L &&
      k3.getAs[Double]("transitivity") === 1.0 &&
      k3.getAs[Double]("avg_cc") === 1.0)
    val p3 = row(Seq((1L, 2L), (2L, 3L)))
    assert(p3.getAs[Long]("n_nodes_deg2") === 1L &&
      p3.getAs[Long]("n_triangles") === 0L &&
      p3.getAs[Double]("transitivity") === 0.0 &&
      p3.getAs[Double]("avg_cc") === 0.0)
    val star = row(Seq((9L, 1L), (9L, 2L), (9L, 3L), (9L, 4L)))
    assert(star.getAs[Long]("n_wedges") === 6L &&
      star.getAs[Double]("transitivity") === 0.0)
    // K4 minus edge (3,4): tri(1)=tri(2)=2 of d=3 wedges (cc=2/3),
    // tri(3)=tri(4)=1 of d=2 (cc=1); T=2, wedges=3+3+1+1=8
    val k4m = row(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L)))
    assert(k4m.getAs[Long]("n_triangles") === 2L &&
      k4m.getAs[Long]("n_wedges") === 8L)
    assert(math.abs(k4m.getAs[Double]("transitivity") - 0.75) < 1e-9)
    assert(math.abs(k4m.getAs[Double]("avg_cc") -
      (2.0 / 3 + 2.0 / 3 + 1 + 1) / 4) < 1e-8)
    // a two-node graph has no deg-2 node: NULLs, not 0/0
    val e2 = row(Seq((1L, 2L)))
    assert(e2.getAs[Long]("n_nodes_deg2") === 0L &&
      e2.isNullAt(e2.fieldIndex("transitivity")) &&
      e2.isNullAt(e2.fieldIndex("avg_cc")))
  }

  // undirected path 1-2-3-4 (both directions listed)
  private def pathEdges = Seq(
    (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L), (4L, 3L))

  test("neighborhoodExact: hand-computed ball sizes on a path graph") {
    import spark.implicits._
    val got = Graph.neighborhoodExact(pathEdges.toDF("a", "b"),
      "a", "b", rounds = 3).orderBy("r").collect()
      .map(r => (r.getAs[Long]("r"), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("n_nodes"), r.getAs[Double]("avg_ball")))
    // r0: each node reaches itself; r1 balls: 2,3,3,2; r2: 3,4,4,3;
    // r3: saturated at 16
    assert(got.toSeq == Seq(
      (0L, 4L, 4L, 1.0), (1L, 10L, 4L, 2.5),
      (2L, 14L, 4L, 3.5), (3L, 16L, 4L, 4.0)))
  }

  test("hyperBall tracks the exact neighborhood function and is " +
      "nondecreasing in the radius") {
    import spark.implicits._
    val df = pathEdges.toDF("a", "b")
    val exact = Graph.neighborhoodExact(df, "a", "b", 3)
      .orderBy("r").collect().map(_.getAs[Long]("n_pairs"))
    val est = Graph.hyperBall(df, "a", "b", rounds = 3, p = 7)
      .orderBy("r").collect().map(_.getAs[Double]("nf_est"))
    assert(est.length == 4)
    est.zip(exact).foreach { case (e, x) =>
      assert(math.abs(e - x) / x < 0.1,
        s"HLL estimate $e too far from exact $x")
    }
    est.zip(est.tail).foreach { case (a, b) =>
      assert(a <= b, "neighborhood function must be nondecreasing")
    }
    // register-merge law face: one extra round past saturation is a
    // fixpoint (max-merge of identical registers changes nothing)
    val sat = Graph.hyperBall(df, "a", "b", rounds = 4, p = 7)
      .orderBy("r").collect().map(_.getAs[Double]("nf_est"))
    assert(sat(4) == sat(3))
  }
}
