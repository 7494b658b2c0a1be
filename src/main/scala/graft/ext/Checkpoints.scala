package graft.ext

import org.apache.spark.sql.DataFrame

/** The one lineage-cut policy: every cut in graft goes through here.
  *
  * Iterative operators (connected components, Lloyd refinement, BPE
  * rounds) cut their loop-carried frame each round, or each iteration
  * lazily re-runs all prior ones; multi-consumer frames are cut so N
  * consumers read one materialization instead of N recomputations.
  *
  * Durability is a property of the context, not of the call: when the
  * SparkContext has a checkpoint dir (`--conf
  * spark.checkpoint.dir=hdfs://…`, which Spark installs at context
  * start), every cut is a durable `checkpoint()` into it. Otherwise it
  * is `localCheckpoint()`: blocks on the executors — right for a
  * single-JVM session, and invisible to the CacheManager — but a local
  * checkpoint truncates lineage, so a block lost with its executor
  * fails the job instead of being recomputed. */
object Checkpoints {

  private def durable(df: DataFrame): Boolean =
    df.sparkSession.sparkContext.getCheckpointDir.isDefined

  /** Cut `df`'s lineage, eagerly: `checkpoint()` into the context's
    * checkpoint dir when it has one, else `localCheckpoint()`. */
  def cut(df: DataFrame): DataFrame =
    if (durable(df)) df.checkpoint() else df.localCheckpoint()

  /** [[cut]] whose local branch defers materialization into the first
    * consumer's job (`localCheckpoint(eager = false)`) — for a frame
    * with EXACTLY ONE consumer, where the eager cut is a pure serial
    * job barrier. Only for deterministic frames (a racy partition
    * recompute must be value-identical). A second consumer — another
    * branch of the same plan, or two concurrent exchange futures —
    * races the first to build the blocks and computes partitions twice
    * (the log shows "Block rdd_N already exists"; measured +0.5 s on
    * q_x_ann_pq when the PQ codebook, read by both the code assignment
    * and the serving LUT broadcast, was made lazy): use [[cut]] there.
    * The durable branch stays eager. */
  def cutLazy(df: DataFrame): DataFrame =
    if (durable(df)) df.checkpoint() else df.localCheckpoint(eager = false)

  /** [[cut]] that first restores cluster-width parallelism when the
    * frame has collapsed below it. Iterative operators carry small
    * frames between rounds (a 95k-row reach set, a centroid table's
    * assignment); AQE rightly coalesces their post-shuffle layout to
    * one or two partitions — and then the NEXT round's join fans the
    * frame out 100-1000x and inherits those two partitions, leaving
    * the rest of the cluster idle (guide §2.6: the fan-out stage must
    * run at cluster width, not at the width of its small input). The
    * repartition is GATED on the observed partition count so a frame
    * that is already at or above `defaultParallelism` — every
    * at-scale case — pays nothing; only a coalesced-small frame pays
    * one cheap exchange of its own (small) bytes before the expensive
    * stage. */
  def spreadCut(df: DataFrame): DataFrame = cut(spread(df))

  /** The no-materialization half of [[spreadCut]]: gated cluster-width
    * repartition with NO lineage cut — for a SINGLE heavy consumer
    * (one wide decimal-moment aggregate, one expensive per-row
    * projection) where a checkpoint would be pure overhead. Partial
    * aggregation runs at the width of its input; when a scan yields
    * fewer splits than cores (small files, one row group), the whole
    * per-row decimal/hash cost serializes onto those few cores. The
    * gate makes it free at scale: a frame already at or above
    * `defaultParallelism` is returned untouched. */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }
}
