package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries.Q

/** Link-analysis operators over edge frames: weighted PageRank — the
  * classic "which nodes matter" primitive (product importance over a
  * co-purchase graph, domain authority over a hyperlink graph, account
  * influence over an interaction graph). Brin & Page 1998; the
  * weighted variant distributes a node's rank over its out-edges
  * proportional to edge weight.
  *
  * Scale shape: one iteration = one equi-join of the rank frame
  * against the edge frame (both keyed on the source node) + one hash
  * aggregate keyed on the destination — the standard message-passing
  * decomposition, nothing global but the two O(1)-row scalars
  * (node count, dangling mass). The rank frame is node-sized and
  * NEVER collected: iterations chain DataFrame-to-DataFrame with a
  * lineage cut per round to keep the plan bounded (lineage would
  * otherwise grow linearly in iterations). Every cut goes through
  * [[Checkpoints.cut]]: durable when the session has
  * `spark.checkpoint.dir` (HDFS/S3 — the cluster posture, an executor
  * loss replays the round from storage instead of failing the whole
  * iteration chain), executor-local `localCheckpoint` otherwise.
  *
  * Numeric design: the power iteration runs on N-SCALED mass
  * `R = N·rank` (mean 1.0 at any graph size), and only the final
  * output divides by N. Unscaled ranks shrink as 1/N, so at web scale
  * they underflow ANY fixed decimal sum scale — scaled mass keeps
  * every intermediate in O(1e-6 .. 1e4) regardless of N, which is
  * both the 100 TB posture and the precondition for the cross-engine
  * determinism contract below.
  *
  * Determinism contract (oracle-adjudicable trajectory, like GD) —
  * the iterated-sum-of-sums shape needs BOTH halves of the stable-sum
  * recipe, each closing a distinct cross-engine tie (measured on the
  * co-purchase fixture under either half alone):
  *   - every edge contribution sig9(R·w/outW) is normalized to 9
  *     significant digits BEFORE the DECIMAL(38,15) cast, because a
  *     9-digit value whose shortest decimal repr fits in 15 decimals
  *     (true for |x| >= ~1e-6 — guaranteed by the scaling) casts
  *     EXACTLY on both engines, while a raw double's 15th decimal is
  *     itself a rounding the engines may disagree on by 1e-15 (Spark
  *     casts the shortest-repr string, DuckDB the binary value);
  *   - per-destination sums round IN DECIMAL SPACE to 11 places
  *     before the double cast ([[Q.dsumStable]]), because sums of
  *     granular terms land exactly on rounding half-steps where the
  *     engines' differing DECIMAL->DOUBLE casts would tip the final
  *     sig9 apart; 11 places keeps the cast exact for sums < 1e4
  *     (per-node in-mass, bounded by total mass N for pathological
  *     hubs — fine through ~1e4-node fixtures and ~1e5-degree hubs;
  *     beyond that, raise the documented bound consciously).
  * With both, every arithmetic step is exact or bit-identical IEEE,
  * so each iteration's mass vector matches across engines,
  * partitionings and re-runs. The dangling mass is the same stable
  * sum; the update (1−d) + d·(S + Dm/N) is a fixed IEEE expression.
  */
object Graph {
  import Checkpoints.cut

  /** Decimal-round scale for the per-destination mass sums — see the
    * determinism contract above. */
  val SumScale = 11

  /** Session conf key for the explicit-hint broadcast budget (bytes);
    * see [[broadcastBudget]]. */
  val BroadcastBytesConf = "graft.graph.broadcastBytes"

  /** Default for [[BroadcastBytesConf]]: 64 MiB. */
  val DefaultBroadcastBytes: Long = 64L * 1024 * 1024

  /** Broadcast budget for the explicit join-strategy hints below.
    *
    * Checkpointed loop frames carry no Catalyst statistics, so the
    * operators here decide the strategy themselves from a MEASURED
    * size ([[measure]] — exact row count, exact string bytes), not the
    * stats-free guess `spark.sql.autoBroadcastJoinThreshold`'s 10 MB
    * default is calibrated to distrust. A deliberately measured side
    * can therefore use a larger budget than the AUTO threshold:
    * max(autoBroadcastJoinThreshold, graft.graph.broadcastBytes
    * [default 64 MiB]) — sessions that raised the AUTO threshold get
    * at least that; sessions that need a smaller hint budget (or want
    * to force the shuffle path) set [[BroadcastBytesConf]] down. */
  def broadcastBudget(spark: org.apache.spark.sql.SparkSession): Long = {
    val auto = spark.sessionState.conf.autoBroadcastJoinThreshold
    val own = spark.conf.getOption(BroadcastBytesConf)
      .map(_.toLong).getOrElse(DefaultBroadcastBytes)
    math.max(math.max(auto, 0L), own)
  }

  /** One-pass (rows, estimatedBytes) of a frame: strings by measured
    * `octet_length` + 8 bytes field overhead, everything else by its
    * type's `defaultSize` — so a 2 M-row edge list of long ids and one
    * of wide string ids get DIFFERENT answers (row count alone was the
    * round-9 proxy; bytes are what a broadcast actually ships).
    * String-free schemas have a constant row width, so their byte
    * estimate is exact from the row COUNT alone — same driver pass the
    * round-9 heuristic already paid, no sum aggregate added. */
  private[ext] def measure(df: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.types.StringType
    val fixed = df.schema.fields
      .collect { case f if f.dataType != StringType => f.dataType.defaultSize }
    if (fixed.length == df.schema.fields.length) {
      val rows = df.count()
      (rows, rows * fixed.sum)
    } else {
      val perRow = df.schema.fields.map { f =>
        f.dataType match {
          case StringType =>
            coalesce(octet_length(col(f.name)).cast("long"), lit(0L)) +
              lit(8L)
          case dt => lit(dt.defaultSize.toLong)
        }
      }.reduce(_ + _)
      val r = df.agg(count(lit(1)).as("__rows"),
        coalesce(sum(perRow), lit(0L)).as("__bytes")).head()
      (r.getLong(0), r.getLong(1))
    }
  }

  /** Weighted PageRank with `iters` fixed power iterations.
    *
    * Weights are truncated to LONG (`cast("long")`) on ingest — an
    * integer-weight precondition, deliberate: the out-weight sums
    * (`__ow`, and the oracle's `sum(w)`) are then exact integer
    * arithmetic on both engines, which the cross-engine determinism
    * contract above rests on. Fractional-weight graphs must pre-scale
    * to integers (e.g. ×10^k) before calling; passing raw fractional
    * weights silently floors them. Same precondition in [[hits]] and
    * [[linkPredict]].
    *
    * @param edges (srcCol, dstCol, wCol) — directed weighted edges;
    *              parallel edges should be pre-aggregated
    * @param nodes single-column frame of ALL node ids (nodes with no
    *              out-edges hold + redistribute rank as dangling mass;
    *              nodes absent from `edges` entirely still rank)
    * @return (node, rank) — sig9'd doubles summing to ~1
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String, nodes: DataFrame, nodeCol: String,
      iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0 && damping < 1,
      s"damping must be in (0, 1), got $damping")
    val n = cut(nodes.select(col(nodeCol).as("node")).distinct())
    // checkpointed frames carry no size statistics, so Catalyst will
    // NEVER auto-broadcast them — left alone, every iteration
    // shuffle-joins the full edge frame against the node-sized rank
    // frame (measured 6x slower at sf0.1). Pick the join strategy
    // explicitly from the MEASURED node-frame size (one bounded driver
    // pass — [[measure]]): broadcast the node-sized sides while the
    // rank frame (id bytes + one 8-byte double per row) fits the
    // budget, co-partition the edge frame on the join key once
    // otherwise (the iteration then shuffles only the rank frame — the
    // honest web-scale shape).
    val (nNodes, nBytes) = measure(n)
    val broadcastable =
      nBytes + 8L * nNodes <= broadcastBudget(nodes.sparkSession)
    def nodeSide(df: DataFrame): DataFrame =
      if (broadcastable) broadcast(df) else df
    val e0 = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"),
      col(wCol).cast("long").as("__w"))
    val e = cut(if (broadcastable) e0 else e0.repartition(col("__src")))
    val outW = cut(e.groupBy(col("__src").as("node"))
      .agg(sum(col("__w")).as("__ow")))
    // The out-weight is STATIC across rounds: fold it onto each edge
    // once (one join here) instead of re-joining outW inside every
    // round (guide §2.4 — remove per-round shuffles/joins outright).
    // __w and __ow stay separate columns, so the per-edge contribution
    // (m * __w) / __ow associates exactly as before.
    val ew = cut(e.join(nodeSide(outW.withColumnRenamed("node", "__src")),
      "__src"))
    val nn = n.agg(count(lit(1)).as("__n"))
    val d = lit(damping)
    // folds to the double 1 - damping; the oracle embeds the SAME
    // double (a SQL "1.0 - 0.85" would be decimal-exact, 1 ulp off)
    val base = lit(1.0) - d

    // The dangling-node SET is static too (nodes with no out-edge):
    // flag it once on the node frame, carried through the loop frame,
    // so the per-round dangling mass is a filter+aggregate over the
    // already-cut mass frame instead of a mass⋈outW join per round.
    val nd = cut(n.join(outW, Seq("node"), "left")
      .select(col("node"), col("__ow").isNull.as("__dang")))

    // R0 = 1: uniform unit mass per node
    var mass = cut(nd.withColumn("m", lit(1.0)))

    for (_ <- 1 to iters) {
      val contrib = ew
        .join(nodeSide(mass.select(col("node").as("__src"), col("m"))),
          "__src")
        .groupBy(col("__dst").as("node"))
        .agg(Q.dsumStable(Q.sig9(col("m") * col("__w").cast("double") /
          col("__ow").cast("double")), SumScale).as("__s"))
      val dangling = mass.where(col("__dang"))
        .agg(coalesce(Q.dsumStable(col("m"), SumScale), lit(0.0))
          .as("__dm"))
      // contrib is node-sized: under the measured budget it rides the
      // same broadcast the scores do, so the rescale join needs no
      // exchange at all (guide §3.1); above it, same shuffle as before.
      mass = nd
        .crossJoin(broadcast(dangling)).crossJoin(broadcast(nn))
        .join(nodeSide(contrib), Seq("node"), "left")
        .select(col("node"), col("__dang"), Q.sig9(base + d *
          (coalesce(col("__s"), lit(0.0)) +
            col("__dm") / col("__n").cast("double"))).as("m"))
      mass = cut(mass)
    }
    mass.crossJoin(broadcast(nn))
      .select(col("node"),
        Q.sig9(col("m") / col("__n").cast("double")).as("rank"))
  }

  /** Personalized PageRank (Page et al. '99 §6; Jeh & Widom '03): the
    * teleport vector concentrates on a SEED SET instead of the uniform
    * distribution — "rank relative to these nodes", the serving face
    * behind related-item panels and seed-expansion labeling. Same
    * fixed-iteration, exact-decimal-sum regime as [[pageRank]]:
    * m(v) = 1_seed(v)·((1−d)·n/|S| + d·dm/|S|) + d·Σ contrib, where
    * dangling mass dm teleports BACK TO THE SEEDS (the PPR
    * convention), and the unit-mean invariant Σm = n holds every
    * round. Seeds outside `nodes` are ignored (inner-joined away);
    * the seed set must be nonempty.
    *
    * Same size-aware join strategy and integer-weight precondition as
    * [[pageRank]].
    *
    * @return (node, rank) — sig9'd doubles summing to ~1, zero for
    *         nodes unreachable from the seeds */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
      dstCol: String, wCol: String, nodes: DataFrame, nodeCol: String,
      seeds: DataFrame, seedCol: String, iters: Int,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0 && damping < 1,
      s"damping must be in (0, 1), got $damping")
    val n = cut(nodes.select(col(nodeCol).as("node")).distinct())
    val sd = cut(seeds.select(col(seedCol).as("node")).distinct()
      .join(n, Seq("node")))
    require(measure(sd)._1 > 0,
      "personalizedPageRank: seed set is empty (or disjoint from nodes)")
    val (nNodes, nBytes) = measure(n)
    val broadcastable =
      nBytes + 8L * nNodes <= broadcastBudget(nodes.sparkSession)
    def nodeSide(df: DataFrame): DataFrame =
      if (broadcastable) broadcast(df) else df
    val e0 = edges.select(col(srcCol).as("__src"),
      col(dstCol).as("__dst"), col(wCol).cast("long").as("__w"))
    val e = cut(if (broadcastable) e0 else e0.repartition(col("__src")))
    val outW = cut(e.groupBy(col("__src").as("node"))
      .agg(sum(col("__w")).as("__ow")))
    // Same static-artifact folds as [[pageRank]]: out-weight onto the
    // edge frame once, seed + dangling flags onto the node frame once —
    // the round body then touches only ew, the cut mass frame and the
    // node-sized contrib (guide §2.4).
    val ew = cut(e.join(nodeSide(outW.withColumnRenamed("node", "__src")),
      "__src"))
    val nn = n.agg(count(lit(1)).as("__n"))
    val ss = sd.agg(count(lit(1)).as("__sn"))
    val d = lit(damping)
    val base = lit(1.0) - d
    val seeded = cut(n.join(nodeSide(sd.withColumn("__seed", lit(1))),
        Seq("node"), "left")
      .join(outW, Seq("node"), "left")
      .select(col("node"), col("__seed"),
        col("__ow").isNull.as("__dang")))
    // R0: mass n/|S| on each seed (unit mean; one IEEE division)
    var mass = cut(seeded
      .crossJoin(broadcast(nn)).crossJoin(broadcast(ss))
      .select(col("node"), col("__seed"), col("__dang"),
        when(col("__seed").isNotNull,
          col("__n").cast("double") / col("__sn").cast("double"))
          .otherwise(lit(0.0)).as("m")))
    for (_ <- 1 to iters) {
      val contrib = ew
        .join(nodeSide(mass.select(col("node").as("__src"), col("m"))),
          "__src")
        .groupBy(col("__dst").as("node"))
        .agg(Q.dsumStable(Q.sig9(col("m") * col("__w").cast("double") /
          col("__ow").cast("double")), SumScale).as("__c"))
      val dangling = mass.where(col("__dang"))
        .agg(coalesce(Q.dsumStable(col("m"), SumScale), lit(0.0))
          .as("__dm"))
      mass = seeded
        .crossJoin(broadcast(dangling)).crossJoin(broadcast(nn))
        .crossJoin(broadcast(ss))
        .join(nodeSide(contrib), Seq("node"), "left")
        .select(col("node"), col("__seed"), col("__dang"), Q.sig9(
          when(col("__seed").isNotNull,
            base * (col("__n").cast("double") /
              col("__sn").cast("double")) +
              d * (col("__dm") / col("__sn").cast("double")))
            .otherwise(lit(0.0)) +
            d * coalesce(col("__c"), lit(0.0))).as("m"))
      mass = cut(mass)
    }
    mass.crossJoin(broadcast(nn))
      .select(col("node"),
        Q.sig9(col("m") / col("__n").cast("double")).as("rank"))
  }

  /** HITS hubs & authorities (Kleinberg '99), weighted, with per-round
    * MEAN-1 normalization: each iteration sets
    * a_raw(u) = Σ_{v→u} h(v)·w and h_raw(v) = Σ_{v→u} a(u)·w, then
    * rescales each vector to mean 1 (a = a_raw·N/Σa_raw). Mean-1 (L1)
    * replaces the classical L2 norm deliberately: no sqrt, so the
    * whole trajectory stays in the same exact-IEEE + stable-decimal-
    * sum regime as [[pageRank]] and adjudicates bit-exactly; the
    * fixpoint direction is the same (normalization choice only
    * rescales). On a bipartite graph (the classic use: buyers→
    * products) hub mass concentrates on the source side and authority
    * mass on the target side.
    *
    * Same scale shape, size-aware join strategy and integer-weight
    * precondition as [[pageRank]]; the two normalization totals are
    * O(1)-row broadcast
    * scalars. Graphs with no edges yield all-zero scores (guarded —
    * mean-1 rescale of a zero vector would divide by zero).
    *
    * @return (node, hub, authority) — sig9'd, each column mean 1
    *         across nodes (when nonzero mass exists on that side)
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String, nodes: DataFrame, nodeCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val n = cut(nodes.select(col(nodeCol).as("node")).distinct())
    val (nNodes, nBytes) = measure(n)
    val broadcastable =
      nBytes + 8L * nNodes <= broadcastBudget(nodes.sparkSession)
    def nodeSide(df: DataFrame): DataFrame =
      if (broadcastable) broadcast(df) else df
    val e0 = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"),
      col(wCol).cast("long").as("__w"))
    val e = cut(if (broadcastable) e0 else e0.repartition(col("__src")))
    val nn = n.agg(count(lit(1)).as("__n"))

    /** raw scores summed over `e` keyed on `keyCol`→`outCol`, then
      * mean-1 rescaled over the full node frame. */
    def halfStep(scores: DataFrame, scoreCol: String, joinKey: String,
        groupKey: String, outCol: String): DataFrame = {
      val raw = e
        .join(nodeSide(scores.withColumnRenamed("node", joinKey)
          .select(col(joinKey), col(scoreCol))), joinKey)
        .groupBy(col(groupKey).as("node"))
        .agg(Q.dsumStable(Q.sig9(col(scoreCol) *
          col("__w").cast("double")), SumScale).as("__raw"))
      val total = raw.agg(
        coalesce(Q.dsumStable(col("__raw"), SumScale), lit(0.0))
          .as("__tot"))
      // raw is node-sized: under the measured budget the rescale join
      // broadcasts it (no exchange); above it, same shuffle as before.
      val res = n.join(nodeSide(raw), Seq("node"), "left")
        .crossJoin(broadcast(total)).crossJoin(broadcast(nn))
        .select(col("node"),
          when(col("__tot") > 0.0, Q.sig9(
            coalesce(col("__raw"), lit(0.0)) *
              col("__n").cast("double") / col("__tot")))
            .otherwise(0.0).as(outCol))
      // lazy: each round's score frame has exactly ONE consumer (the
      // next half-step's node-side build; the final join's two sides
      // materialize in separate stages), so the eager cut was a pure
      // serial job barrier per half-step — 10 of them at 5 iterations
      Checkpoints.cutLazy(res)
    }

    var hubs = cut(n.withColumn("hub", lit(1.0)))
    var auth = hubs.select(col("node"), lit(0.0).as("authority"))
    for (_ <- 1 to iters) {
      auth = halfStep(hubs, "hub", "__src", "__dst", "authority")
      hubs = halfStep(auth, "authority", "__dst", "__src", "hub")
    }
    hubs.join(auth, "node")
      .select(col("node"), col("hub"), col("authority"))
  }

  /** Per-node triangle counts over an UNDIRECTED simple graph —
    * the local clustering signal behind community/anomaly detection
    * ("how clique-ish is this node's neighborhood").
    *
    * Plan: degree-ordered orientation (Cohen '09 / Suri &
    * Vassilvitskii WWW'11 — the standard distributed formulation).
    * Every edge is oriented from its lower-(degree, id) endpoint to
    * the higher; each triangle then has exactly ONE apex with two
    * out-edges, so triangles = oriented wedges (u→v, u→w, v≺w) closed
    * by an oriented edge v→w. Out-degrees under this orientation are
    * O(√m), so the wedge set is O(m^1.5) — versus Σ d² for the naive
    * neighbor join, which a hub node turns quadratic. Three hash
    * joins + one aggregate; integer-only, so cross-engine
    * adjudication is exact with no float contract at all. The oracle
    * (LinkQueries) is the NAIVE three-way self-join — the orientation
    * trick is adjudicated against brute force.
    *
    * @param edges undirected edges as (aCol, bCol) pairs — any
    *              orientation/duplication; self-loops dropped
    * @return (node, n_tri) for nodes in >= 1 triangle
    */
  def triangleCounts(edges: DataFrame, aCol: String,
      bCol: String): DataFrame =
    triangleCountsCanonical(
      edges.select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
        .where(col("a") =!= col("b"))
        .distinct())

  /** [[triangleCounts]] over edges ALREADY in canonical form
    * ((a, b) with a < b, distinct, no self-loops) — callers that have
    * canonicalized for their own degree pass ([[clusteringCoef]])
    * skip the redundant second least/greatest + distinct shuffle. */
  private[ext] def triangleCountsCanonical(undIn: DataFrame): DataFrame = {
    val und = cut(undIn)
    // size-aware join strategy (the pageRank lesson): checkpointed
    // frames have no stats, so hint explicitly — the WEDGE set is the
    // big side (O(m^1.5)); while the ORIENTED edge frame (the measured
    // two-id edge bytes + one 8-byte rank-key column per row) fits the
    // budget, broadcast the edge/degree sides so wedges never shuffle.
    // Past that, the equi-joins shuffle on their keys — the honest
    // web-scale shape.
    val (mEdges, undBytes) = measure(und)
    val edgeBroadcast =
      undBytes + 8L * mEdges <= broadcastBudget(undIn.sparkSession)
    val edgeSide: DataFrame => DataFrame =
      if (edgeBroadcast) broadcast else identity
    val deg = cut(und.select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d")))
    // orient low-(d, id) -> high-(d, id); carry the dst's rank key for
    // the wedge-ordering filter
    val withDeg = und
      .join(edgeSide(deg.select(col("v").as("a"), col("d").as("da"))), "a")
      .join(edgeSide(deg.select(col("v").as("b"), col("d").as("db"))), "b")
    // lexicographic (d, id) compare spelled as PRIMITIVE comparisons:
    // a struct<long,long> '<' routes through interpreted row ordering
    // per evaluation — measured as the dominant per-row cost of the
    // wedge stage (guide step 4: codegen-friendly expressions)
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oe = withDeg.select(
        when(aFirst,
          struct(col("a").as("src"), col("b").as("dst"),
            col("db").as("dd")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"),
            col("da").as("dd"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.dd").as("dd"))
    val oeCut = cut(oe)
    // Spread the wedge exchanges by the MEASURED wedge count
    // Σ c·(c−1)/2 over per-src out-degrees (one cheap O(m) aggregate):
    // AQE sizes partitions by the shuffled BYTES of the small
    // oriented-edge frame and is blind to the quadratic fan-out each
    // src produces downstream (the PCA posexplode lesson) — at sf1 the
    // default partition count spilled the wedge join (163 s pass-1
    // with 2.3 s GC, r10 verdict watch item). ~40 B/wedge row,
    // ~64 MB/partition target, clamped to [defaultParallelism, 4096].
    val wedgeRows = {
      val s = oeCut.groupBy(col("src")).agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("c") * (col("c") - lit(1L))), lit(0L))
          .cast("long"))
        .head().getLong(0)
      s / 2
    }
    val spreadParts = {
      val ideal = (wedgeRows * 40L + (32L << 20) - 1) / (32L << 20)
      val base = undIn.sparkSession.sparkContext.defaultParallelism.toLong
      math.min(4096L, math.max(base, ideal)).toInt
    }
    val wedges = oeCut
      .select(col("src"), col("dst").as("v"), col("dd").as("dv"))
      .repartition(spreadParts, col("src"))
      .join(edgeSide(
        oeCut.select(col("src"), col("dst").as("w"), col("dd").as("dw"))),
        "src")
      .where(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
    // under a broadcast edge side the closing join is map-side on the
    // already-spread wedges (re-partitioning the wedge set would ADD
    // an exchange of the biggest frame); past the budget the join
    // shuffles anyway — pin its partition count to the wedge-sized one
    val wedgesSpread =
      if (edgeBroadcast) wedges
      else wedges.repartition(spreadParts, col("v"), col("w"))
    val closed = wedgesSpread.join(
      edgeSide(oeCut.select(col("src").as("v"), col("dst").as("w"))),
      Seq("v", "w"))
    closed.select(explode(array(col("src"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }

  /** Link-prediction candidate scores by CAPPED common-neighbor
    * counting: for every non-adjacent pair sharing >= 1 common
    * neighbor (within the cap), the common-neighbor count and the
    * Jaccard of the two capped neighbor sets — the classic
    * "people you may know" / co-purchase recommendation features
    * (Liben-Nowell & Kleinberg '03).
    *
    * The caps ARE the scale design — exact all-pairs common-neighbor
    * counting blows up on both skew axes, and each gets its knob:
    *   - `k` caps every node's own neighbor set to its k heaviest
    *     edges (weight desc, id asc — deterministic): a node's wedge
    *     contribution is then <= k rows, the neighbor-sampling move
    *     every production graph system makes;
    *   - `maxPopularity` drops common-neighbor candidates that more
    *     than that many nodes kept: a node everyone is adjacent to
    *     generates quadratic pairs AND carries no signal (everyone
    *     shares it) — the stopword-node removal standard in link
    *     prediction.
    * Scores are computed over the capped, popularity-filtered sets —
    * that IS the operator's semantics (numerator and denominator use
    * the same sets), and the oracle applies the identical caps, so
    * nothing here is an unadjudicated approximation of something
    * else. Integer counts + one exact integer-ratio division — no
    * float contract needed.
    *
    * @return (v, w, cn, jaccard) with v < w, pairs not already edges
    */
  def linkPredict(edges: DataFrame, aCol: String, bCol: String,
      wCol: String, k: Int,
      maxPopularity: Int = Int.MaxValue): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxPopularity >= 1, s"maxPopularity must be >= 1")
    val und = cut(edges
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"),
        col(wCol).cast("long").as("w"))
      .where(col("a") =!= col("b"))
      .groupBy("a", "b").agg(sum(col("w")).as("w")))
    // symmetric adjacency, capped to the k heaviest neighbors
    val adjAll = und.select(col("a").as("u"), col("b").as("nb"), col("w"))
      .unionAll(und.select(col("b").as("u"), col("a").as("nb"), col("w")))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("u")).orderBy(col("w").desc, col("nb").asc)
    val adj0 = adjAll.withColumn("__rn", row_number().over(win))
      .where(col("__rn") <= k).select(col("u"), col("nb"))
    // popularity filter on the COMMON-NEIGHBOR side: nb values kept by
    // too many nodes are dropped from everyone's set
    val keep = adj0.groupBy(col("nb")).agg(count(lit(1)).as("__pop"))
      .where(col("__pop") <= maxPopularity).select(col("nb"))
    val adj = cut(adj0.join(keep, "nb"))
    val setSize = adj.groupBy(col("u")).agg(count(lit(1)).as("sz"))
    // wedges keyed on the common neighbor: cn(v, w) counts nb values
    // present in BOTH capped sets — the same sets the sizes use
    val cn = adj.select(col("nb").as("cu"), col("u").as("v"))
      .join(adj.select(col("nb").as("cu"), col("u").as("w")), "cu")
      .where(col("v") < col("w"))
      .groupBy("v", "w").agg(count(lit(1)).as("cn"))
    cn
      .join(und.select(col("a").as("v"), col("b").as("w")),
        Seq("v", "w"), "left_anti") // only NOT-yet-linked pairs
      .join(setSize.select(col("u").as("v"), col("sz").as("sv")), "v")
      .join(setSize.select(col("u").as("w"), col("sz").as("sw")), "w")
      .select(col("v"), col("w"), col("cn"),
        (col("cn").cast("double") /
          (col("sv") + col("sw") - col("cn")).cast("double"))
          .as("jaccard"))
  }

  /** Multi-source k-hop BFS: the minimum hop distance (≤ k) from any
    * seed to every reachable node over a DIRECTED edge list —
    * "everything within k hops of these accounts/documents/parts", the
    * neighborhood-expansion primitive under fraud blast-radius,
    * influence reach and graph-sampling queries. Undirected graphs
    * pass both edge directions.
    *
    * Frontier-delta propagation, not whole-set relaxation: round i
    * expands ONLY the nodes first reached at round i−1 (the delta),
    * then anti-joins the seen set — each edge is traversed at most
    * once per endpoint discovery, so total work is O(edges within the
    * k-ball), not O(k · edges). All joins are equi-joins; the frontier
    * side is MEASURED each round ([[measure]] — loop frames carry no
    * Catalyst stats) and broadcast while it fits [[broadcastBudget]],
    * the usual BFS regime (frontiers are small until the ball
    * saturates); past that it shuffles — the honest web-scale shape.
    * Per-round lineage cuts via [[Checkpoints.cut]]. Everything is
    * exact integer arithmetic — no float contract at all.
    *
    * @param seeds single-column frame of seed node ids (dist 0)
    * @return (node, dist) — one row per node within k hops; nodes
    *         unreachable in k hops are absent */
  def khopDistances(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, k: Int): DataFrame = {
    require(k >= 0, s"k must be >= 0, got $k")
    val spark = edges.sparkSession
    val e = cut(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct())
    var dist = cut(seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("dist", lit(0L)))
    var frontier = dist.select(col("node"))
    var exhausted = false
    (1 to k).foreach { i =>
      if (!exhausted) {
        val (fRows, fBytes) = measure(frontier)
        if (fRows == 0L) exhausted = true
        else {
          val fSide: DataFrame => DataFrame =
            if (fBytes <= broadcastBudget(spark)) broadcast else identity
          val reached = e
            .join(fSide(frontier.select(col("node").as("src"))), "src")
            .select(col("dst").as("node")).distinct()
          val fresh = cut(
            reached.join(dist.select(col("node")), Seq("node"), "left_anti"))
          dist = cut(dist.unionByName(
            fresh.withColumn("dist", lit(i.toLong))))
          frontier = fresh
        }
      }
    }
    dist
  }

  /** k-core peel: iteratively delete nodes of degree < k (in the
    * SURVIVING subgraph) for `rounds` rounds — the density-core
    * extractor behind community seeding, spam-farm detection and
    * "drop the long tail before the expensive pass" graph pruning.
    * The true k-core is the fixpoint; a fixed round budget keeps the
    * result oracle-adjudicable (the khop convention): once a round
    * removes nothing the peel has CONVERGED and remaining rounds
    * no-op, so any `rounds` >= the peel depth yields the exact core.
    * Undirected graphs pass both edge directions; self-loops are
    * dropped (they inflate their own degree — the standard core
    * convention).
    *
    * Scale shape per round: one (src)-keyed degree aggregate
    * (map-side partial) + two semi-joins of the edge frame against
    * the survivor set — the survivor side is MEASURED ([[measure]])
    * and broadcast under [[broadcastBudget]], shuffled past it; the
    * edge frame is never widened. Early exit when a round removes no
    * node (one O(1) count against the previous round). Per-round
    * lineage cuts via [[Checkpoints.cut]] (durable dir = the cluster
    * posture). Exact integer arithmetic throughout — no float
    * contract at all.
    *
    * @return surviving (node, degree) after the peel — degree within
    *         the surviving subgraph; nodes peeled out are absent */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = edges.sparkSession
    var e = cut(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct())
    var prevNodes = -1L
    var converged = false
    (1 to rounds).foreach { _ =>
      if (!converged) {
        val deg = e.groupBy(col("src"))
          .agg(count(lit(1)).cast("long").as("deg"))
        val keep = cut(deg.where(col("deg") >= k)
          .select(col("src").as("node")))
        val (kRows, kBytes) = measure(keep)
        if (kRows == prevNodes) converged = true
        else {
          prevNodes = kRows
          val kSide: DataFrame => DataFrame =
            if (kBytes <= broadcastBudget(spark)) broadcast else identity
          e = cut(e
            .join(kSide(keep.select(col("node").as("src"))), "src")
            .join(kSide(keep.select(col("node").as("dst"))), "dst"))
        }
      }
    }
    e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("long").as("degree"))
  }

  /** Multi-source weighted shortest paths — bounded-round
    * Bellman-Ford over a DIRECTED edge list with INTEGER weights
    * (the pageRank integer-weight precondition: exact min-plus
    * arithmetic end to end; fractional-weight graphs pre-scale to a
    * fixed denominator). "Cheapest route within R legs from any of
    * these hubs" — the weighted twin of [[khopDistances]].
    *
    * Delta relaxation: round i relaxes ONLY from nodes whose label
    * improved in round i−1 (new or lowered), merged by min — after
    * round i the labels equal full Bellman-Ford's dist_i exactly
    * (improvements propagate, minima are retained), so a
    * full-relaxation oracle adjudicates bit-for-bit while the engine
    * pays O(edges from the improved set) per round, not O(edges).
    * `rounds` bounds path LENGTH (hops): any rounds >= the longest
    * shortest path converges, later rounds no-op and the loop exits
    * early on an empty frontier. The frontier is measured and
    * broadcast under [[broadcastBudget]] (the BFS regime), shuffled
    * past it; per-round lineage cuts via [[Checkpoints.cut]].
    *
    * @param wCol integer edge weight (>= 0; parallel edges collapse
    *             to their minimum weight)
    * @return (node, dist) — min total weight over paths of <= rounds
    *         hops from any seed; unreached nodes are absent */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String, seeds: DataFrame, seedCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val spark = edges.sparkSession
    val e = cut(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(wCol).cast("long").as("w"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("w").isNotNull && col("w") >= 0)
      .groupBy(col("src"), col("dst"))
      .agg(min(col("w")).as("w")))
    var dist = cut(seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("dist", lit(0L)))
    var frontier = dist
    var exhausted = false
    (1 to rounds).foreach { _ =>
      if (!exhausted) {
        val (fRows, fBytes) = measure(frontier)
        if (fRows == 0L) exhausted = true
        else {
          val fSide: DataFrame => DataFrame =
            if (fBytes <= broadcastBudget(spark)) broadcast else identity
          val cand = e
            .join(fSide(frontier.select(col("node").as("src"),
              col("dist").as("fd"))), "src")
            .groupBy(col("dst").as("node"))
            .agg(min(col("fd") + col("w")).as("nd"))
          val improved = cut(cand
            .join(dist.select(col("node"), col("dist").as("old")),
              Seq("node"), "left_outer")
            .where(col("old").isNull || col("nd") < col("old"))
            .select(col("node"), col("nd").as("dist")))
          dist = cut(dist
            .join(improved.select(col("node")), Seq("node"), "left_anti")
            .unionByName(improved))
          frontier = improved
        }
      }
    }
    dist
  }

  /** Synchronous label-propagation communities (Raghavan et al. 2007)
    * — the near-linear community detector: every node starts as its
    * own label and, each round, SIMULTANEOUSLY adopts the label held
    * by the most neighbors (ties → smallest label, the deterministic
    * variant; the classic randomized tie-break would be
    * un-adjudicable). Pass both edge directions for undirected graphs
    * (the [[kCore]] convention); self-loops are dropped. A fixed
    * round budget keeps the result oracle-adjudicable (the khop
    * convention) — synchronous LPA can oscillate on bipartite
    * structures, so `rounds` IS the semantics, not a convergence
    * heuristic.
    *
    * Scale shape per round: one edges×labels equi-join (the label
    * frame is MEASURED once, before the rounds, and broadcast under
    * [[broadcastBudget]], shuffled past it), one (node, label)-keyed
    * count (map-side partial), one node-keyed struct-max argmax —
    * (count, −label) max picks most-votes-then-smallest-label in a
    * single aggregate, no window — and one left join carrying
    * isolated nodes unchanged.
    * Per-round lineage cuts via [[Checkpoints.cut]] (durable dir =
    * the cluster posture). Labels are node ids: exact integers end to
    * end, no float contract.
    *
    * @return (node, community) after `rounds` synchronous updates */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = edges.sparkSession
    val e = cut(edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct())
    var lab = cut(e.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node")))
    // The argmax ("most votes, then smallest label") over a
    // struct(c, -lbl) max pays an INTERPRETED row ordering per
    // comparison — on an edge-sized vote frame that is the round's
    // dominant per-task cost (the triangle-wedge lesson, guide §1.2).
    // When the measured bounds allow it, pack both keys into ONE long
    // — c in the high 31 bits, the bit-inverted label in the low 32 —
    // so the argmax is a codegen'd long max. Labels are node ids and
    // never leave the initial id set, and any per-(node, lbl) count is
    // bounded by the edge count, so the gate (ids in [0, 2^32), edges
    // < 2^31) is checked ONCE on measured values; graphs past the
    // bound take the struct path unchanged.
    // The label frame keeps one fixed-width row per node through every
    // round, so the same aggregate also sizes it once for the
    // broadcast decision.
    val idBounds = lab.agg(min(col("node")), max(col("node")),
      count(lit(1))).head()
    val eRows = measure(e)._1
    val packable = !idBounds.isNullAt(0) && idBounds.getLong(0) >= 0L &&
      idBounds.getLong(1) < (1L << 32) && eRows < (1L << 31)
    val lBytes =
      idBounds.getLong(2) * lab.schema.map(_.dataType.defaultSize).sum
    val lSide: DataFrame => DataFrame =
      if (lBytes <= broadcastBudget(spark)) broadcast else identity
    val lowMask = (1L << 32) - 1L
    (1 to rounds).foreach { _ =>
      val votes = e
        .join(lSide(lab.select(col("node").as("dst"), col("lbl"))),
          "dst")
        .groupBy(col("src").as("node"), col("lbl"))
        .agg(count(lit(1)).cast("long").as("c"))
      val winner = if (packable)
        votes.groupBy(col("node"))
          .agg(max(shiftleft(col("c"), 32) +
            (lit(lowMask) - col("lbl"))).as("pk"))
          .select(col("node"),
            (lit(lowMask) - col("pk").bitwiseAND(lit(lowMask)))
              .as("new_lbl"))
      else votes.groupBy(col("node"))
        .agg(max(struct(col("c").as("c"), (-col("lbl")).as("nl")))
          .as("w"))
        .select(col("node"), (-col("w.nl")).as("new_lbl"))
      lab = cut(lab
        .join(winner, Seq("node"), "left_outer")
        .select(col("node"),
          coalesce(col("new_lbl"), col("lbl")).as("lbl")))
    }
    lab.select(col("node"), col("lbl").as("community"))
  }

  /** Newman–Girvan modularity of a community assignment over an
    * undirected simple graph: Q = sum_c (L_c / m - (D_c / 2m)^2),
    * where L_c counts intra-community edges and D_c sums member
    * degrees. The community-quality readout for `labelPropagation`
    * (or any clustering) — Q near 0 says the partition is no better
    * than chance; Q > ~0.3 says real structure.
    *
    * One degree aggregate, two community joins on the edge endpoints
    * (keyed equi-joins), one per-community aggregate, and a bounded
    * per-community contribution row summed into the scalar by an
    * exact granular decimal sum. All counts exact integers; the per-
    * community contribution is the only IEEE chain.
    *
    * Output: one row per community (members, intra edges, degree
    * mass, sig9'd contribution) plus the graph-level Q broadcast onto
    * every row — the per-community rows are the actionable readout
    * (which communities are cohesive), Q the headline.
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      communities: DataFrame, nodeCol: String,
      commCol: String): DataFrame = {
    import graft.queries.Q
    val e = edges
      .select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    val comm = communities.select(col(nodeCol).cast("long").as("node"),
      col(commCol).as("cm"))
    val stubs = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
    val deg = stubs.groupBy(col("node")).agg(count(lit(1)).as("d"))

    val withCa = e.join(comm.select(col("node").as("a"),
      col("cm").as("ca")), "a")
    val withBoth = withCa.join(comm.select(col("node").as("b"),
      col("cm").as("cb")), "b")
    val intra = withBoth.where(col("ca") === col("cb"))
      .groupBy(col("ca").as("cm"))
      .agg(count(lit(1)).cast("long").as("l_c"))
    val mass = deg.join(comm, "node").groupBy(col("cm"))
      .agg(sum(col("d")).cast("long").as("d_c"),
        count(lit(1)).cast("long").as("members"))
    val m = e.agg(count(lit(1)).cast("long").as("m_edges"))

    val per = mass.join(intra, Seq("cm"), "left_outer")
      .select(col("cm"), col("members"),
        coalesce(col("l_c"), lit(0L)).as("l_c"), col("d_c"))
      .crossJoin(m)
    val frac = Q.sig9(col("l_c").cast("double") /
      col("m_edges").cast("double"))
    val half = Q.sig9(col("d_c").cast("double") /
      (lit(2.0) * col("m_edges").cast("double")))
    val contrib = Q.sig9(frac - Q.sig9(half * half))
    val rows = per.withColumn("contribution", contrib)
    val q = rows.agg(Q.dsumStable(col("contribution"), 13)
      .as("modularity"))
    rows.crossJoin(q)
      .select(col("cm").as("community"), col("members"), col("l_c"),
        col("d_c"), col("contribution"), col("m_edges"),
        col("modularity"))
  }

  /** Degree assortativity of an undirected simple graph (Newman, PRL
    * 2002): the Pearson correlation of endpoint degrees over all
    * directed edge stubs. Positive r = hubs attach to hubs (social
    * shape); negative = hubs attach to leaves (web/biology shape) —
    * the one-number summary of whether skew-aware join salting will
    * pay off on this graph.
    *
    * Input: one row per undirected edge (src < dst, deduplicated by
    * the caller or here via distinct). Degrees come from one
    * aggregation over the stub list; the correlation is exact
    * DECIMAL(38,0) integer moment sums (degrees are integers, so the
    * only IEEE ops are the final sig9'd divisions). Two shuffles
    * total (degree agg + edge-degree join), no windows.
    *
    * Output one row: n_nodes, n_edges, mean_degree, max_degree,
    * assortativity (NULL when the degree distribution is constant).
    */
  def assortativity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    import graft.queries.Q
    val e = edges
      .select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    // directed stubs: each undirected edge contributes (a,b) and (b,a)
    val stubs = e.select(col("a").as("u"), col("b").as("v"))
      .unionByName(e.select(col("b").as("u"), col("a").as("v")))
    val deg = stubs.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val du = deg.select(col("u"), col("d").as("du"))
    val dv = deg.select(col("u").as("v"), col("d").as("dv"))
    val pairs = stubs.join(du, "u").join(dv, "v")
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
    val m = pairs.agg(
      count(lit(1)).cast("long").as("n"),
      sum(dec(col("du"))).as("sx"),
      sum(dec(col("dv"))).as("sy"),
      sum(dec(col("du")) * dec(col("dv"))).as("sxy"),
      sum(dec(col("du")) * dec(col("du"))).as("sxx"),
      sum(dec(col("dv")) * dec(col("dv"))).as("syy"))
    val counts = e.agg(count(lit(1)).cast("long").as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).cast("long").as("n_nodes"),
        max(col("d")).cast("long").as("max_degree")))
    val num = Q.sig9((col("sxy") * col("n") - col("sx") * col("sy"))
      .cast("double"))
    val dx = Q.sig9((col("sxx") * col("n") - col("sx") * col("sx"))
      .cast("double"))
    val dy = Q.sig9((col("syy") * col("n") - col("sy") * col("sy"))
      .cast("double"))
    m.crossJoin(counts)
      .select(col("n_nodes"), col("n_edges"),
        Q.sig9(lit(2.0) * col("n_edges").cast("double") /
          col("n_nodes").cast("double")).as("mean_degree"),
        col("max_degree"),
        when(dx > 0 && dy > 0,
          Q.sig9(num / Q.sig9(sqrt(dx * dy)))).as("assortativity"))
  }

  /** Clustering summary (Watts & Strogatz 1998; Newman 2003 §III.B):
    * local coefficient c(v) = 2·tri(v) / (d(v)·(d(v)−1)) for nodes
    * with degree >= 2, global transitivity = 3·triangles / wedges with
    * wedges = Σ_v d(v)(d(v)−1)/2. Triangles come from
    * [[triangleCounts]] (oriented wedge join, O(m^1.5)); everything
    * downstream is two hash aggregates over exact integers, and each
    * c(v) is ONE IEEE division of exact integers (bit-identical on
    * both engines) summed through the decimal route.
    *
    * Output one row: (n_nodes_deg2, n_triangles, n_wedges,
    * transitivity, sum_cc, avg_cc) — transitivity/avg NULL on a
    * wedge-free graph rather than 0/0. */
  def clusteringCoef(edges: DataFrame, aCol: String,
      bCol: String, triCounts: Option[DataFrame] = None): DataFrame = {
    val und = edges
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .where(col("a").isNotNull && col("a") =!= col("b"))
      .distinct()
    val deg = und.select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // callers that already hold this graph's per-node triangle counts
    // ((node, n_tri), the triangleCounts output — identical by
    // construction since both canonicalize the same way) pass them in
    // and skip the O(m^1.5) wedge recount; the degree pass is cheap
    val tri = triCounts.getOrElse(triangleCountsCanonical(und))
    val nodes = deg
      .join(tri.select(col("node").as("v"), col("n_tri")), Seq("v"),
        "left")
      .select(col("v"), col("d"),
        coalesce(col("n_tri"), lit(0L)).as("tri"))
      .where(col("d") >= 2L)
    val cc = (lit(2L) * col("tri")).cast("double") /
      (col("d") * (col("d") - 1L)).cast("double")
    nodes.agg(
      count(lit(1)).cast("long").as("n_nodes_deg2"),
      // integral divides: tri sums to 3 per triangle, d(d-1) is even
      expr("sum(tri) div 3").cast("long").as("n_triangles"),
      expr("sum(d * (d - 1)) div 2").cast("long").as("n_wedges"),
      // scale 9: sum_cc can reach ~10^5 on large well-clustered
      // graphs; 10^5 * 10^9 = 10^14 keeps the rounded decimal <= 14
      // significant digits (exact double cast on both engines)
      Q.dsumStable(cc, 9).as("sum_cc"))
    .select(col("n_nodes_deg2"), col("n_triangles"), col("n_wedges"),
      when(col("n_wedges") > 0L, Q.sig9(
        (lit(3L) * col("n_triangles")).cast("double") /
          col("n_wedges").cast("double"))).as("transitivity"),
      col("sum_cc"),
      when(col("n_nodes_deg2") > 0L, Q.sig9(col("sum_cc") /
        col("n_nodes_deg2").cast("double"))).as("avg_cc"))
  }

  /** Exact neighborhood function N(r) — for each radius r ≤ `rounds`,
    * the total number of (v, u) pairs with dist(v, u) ≤ r, i.e. the
    * sum of all r-ball sizes (Palmer et al. 2002's ANF target, here
    * computed exactly). avg_ball = N(r)/|V| is the expansion curve
    * whose knee is the graph's effective diameter.
    *
    * ADJUDICATION BASELINE, not the scale path: the pair frame is
    * Θ(Σ_v |ball_r(v)|) — inherently super-linear on densifying
    * graphs (this is WHY HyperBall exists). [[hyperBall]] is the
    * 100 TB face: same N(r) within HLL error at O(|V|·2^p) state.
    * Keep exact runs to small r / pruned graphs — the q_x_ann_brute
    * precedent.
    *
    * @return one row per radius 0..rounds:
    *         (r, n_pairs, n_nodes, avg_ball) */
  def neighborhoodExact(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 0 && rounds <= 16,
      s"rounds must be in [0, 16], got $rounds")
    val e = cut(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct())
    val nodes = e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v"))).distinct()
    // one O(1) driver-side count instead of a per-round
    // crossJoin(broadcast(nTot)) — the node-count subtree (union of
    // two e scans + distinct + agg, two Exchanges) was otherwise
    // replanned once per radius, feeding a BroadcastNestedLoopJoin
    // each time (guide §2.4: remove repeated subtrees; recomputed on
    // every invocation, so nothing is cached across runs)
    val nNodes = nodes.count()
    def row(r: Int, reach: DataFrame): DataFrame =
      reach.agg(count(lit(1)).cast("long").as("n_pairs"))
        .select(lit(r.toLong).as("r"), col("n_pairs"),
          lit(nNodes).as("n_nodes"),
          Q.sig9(col("n_pairs").cast("double") /
            lit(nNodes.toDouble)).as("avg_ball"))
    // loop-carried frames are spreadCut, not plain cut: the r-ball
    // frame is small after round r's distinct (AQE coalesces it), but
    // round r+1's edge join fans it out by the mean degree — that
    // stage must run at cluster width (measured 17.7 s on 2 of 32
    // cores at sf0.1 before the spread; guide §2.6). The LAST round's
    // frame feeds exactly one count — no cut at all, so its pair
    // frame is never materialized to executor storage.
    var reach = Checkpoints.spreadCut(
      nodes.select(col("v"), col("v").as("u")))
    var out = row(0, reach)
    (1 to rounds).foreach { r =>
      val nxt = reach
        .join(e, col("u") === col("src")).select(col("v"),
          col("dst").as("u"))
        .unionByName(reach).distinct()
      if (r < rounds) {
        reach = Checkpoints.spreadCut(nxt)
        out = out.unionByName(row(r, reach))
      } else out = out.unionByName(row(r, nxt))
    }
    out
  }

  /** HyperBall (Boldi & Vigna 2013): the neighborhood function
    * estimated with one HyperLogLog counter per node — the scale path
    * for [[neighborhoodExact]]. Each round max-merges every node's
    * register table with its out-neighbors' (counter(v) ← counter(v)
    * ∪ ∪_{(v,w)∈E} counter(w)); after r rounds counter(v) sketches
    * ball_r(v) exactly because register max IS set union under HLL.
    *
    * Scale shape: state is the sparse per-node register table
    * (≤ min(|ball|, 2^p) rows per node, id + bucket + one long);
    * a round is ONE edges⋈registers equi-join + ONE
    * (node, bucket)-keyed max aggregate — message passing with
    * bounded messages, never a pair frame. Estimates come from
    * [[Sketch.hllEstimateBySlice]] per round; their sum over nodes is
    * N̂(r).
    *
    * Determinism: registers are exact integers (portable hash60
    * buckets/ranks, order-free max); only the per-node estimate math
    * carries sig9'd doubles, summed via dsumStable(4).
    *
    * @return one row per radius 0..rounds:
    *         (r, n_nodes, nf_est, avg_ball_est) */
  def hyperBall(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int, p: Int = 8, salt: String = "hb"): DataFrame = {
    require(rounds >= 0 && rounds <= 64,
      s"rounds must be in [0, 64], got $rounds")
    val e = cut(edges
      .select(col(srcCol).as("esrc"), col(dstCol).as("edst"))
      .where(col("esrc").isNotNull && col("edst").isNotNull)
      .distinct())
    // The register table is the big side (up to |V|·2^p rows by the
    // last round); the edge frame is two longs per edge. Under the
    // measured budget, broadcast the EDGES so the per-round pull join
    // never shuffles the registers — only the (node, bucket) max
    // aggregate does, with map-side partial max (guide §3.1; the
    // pageRank measured-budget pattern).
    val eBytes = measure(e)._2
    val eSide: DataFrame => DataFrame =
      if (eBytes <= broadcastBudget(edges.sparkSession))
        (df: DataFrame) => broadcast(df)
      else (df: DataFrame) => df
    val nodes = e.select(col("esrc").as("node"))
      .unionByName(e.select(col("edst").as("node"))).distinct()
    // node count as a literal (same rationale as [[neighborhoodExact]]:
    // the count subtree was replanned per radius into a
    // BroadcastNestedLoopJoin); assumeMerged skips the estimate's
    // (node, bucket) max pre-merge — the loop's own aggregate (and
    // hllRegisters at round 0) already guarantees one row per
    // (node, bucket), so that pass was a full redundant
    // exchange+aggregate over the largest frame of each round
    val nNodes = nodes.count()
    def row(r: Int, regs: DataFrame): DataFrame =
      Sketch.hllEstimateBySlice(regs, p, Seq("node"), assumeMerged = true)
        .agg(Q.dsumStable(col("estimate"), 4).as("nf_est"))
        .select(lit(r.toLong).as("r"), lit(nNodes).as("n_nodes"),
          col("nf_est"),
          Q.sig9(col("nf_est") / lit(nNodes.toDouble))
            .as("avg_ball_est"))
    // spreadCut, not cut: the register table coalesces small after
    // each round's (node, bucket) max-aggregate, and the next round's
    // edge join fans it out by the mean degree — cluster-width rule,
    // same as [[neighborhoodExact]] (measured 5.8 s on 2 of 32 cores
    // at sf0.1 before the spread).
    var regs = Checkpoints.spreadCut(Sketch.hllRegisters(
      nodes.select(col("node"), col("node").as("k")), "k", p, salt,
      sliceCols = Seq("node")))
    var out = row(0, regs)
    (1 to rounds).foreach { r =>
      val pulled = eSide(e)
        .join(regs.withColumnRenamed("node", "w"),
          col("edst") === col("w"))
        .select(col("esrc").as("node"), col("bucket"), col("M"))
      val merged = pulled.unionByName(regs)
        .groupBy(col("node"), col("bucket"))
        .agg(max(col("M")).cast("long").as("M"))
      // the LAST round's registers feed exactly one consumer (their
      // estimate row), so cutting them would materialize the largest
      // register table of the run purely as a serial job barrier —
      // skip it, exactly like [[neighborhoodExact]]'s last round
      if (r < rounds) {
        regs = Checkpoints.spreadCut(merged)
        out = out.unionByName(row(r, regs))
      } else out = out.unionByName(row(r, merged))
    }
    out
  }
}
