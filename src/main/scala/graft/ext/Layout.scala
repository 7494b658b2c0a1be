package graft.ext

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Parquet

/** Physical data-layout utilities for the lake tables.
  *
  * At 100 TB the dominant cost of most queries is the scan, and the scan
  * cost is set by layout decided at WRITE time:
  *  - many small files -> per-file open/footer overhead and starved
  *    vectorized readers (the classic streaming-ingest pathology);
  *  - rows unsorted on the hot predicate column -> every parquet row
  *    group straddles the full value range, so min/max stats prune
  *    nothing and a narrow time-range query reads the whole table.
  *
  * `compact` bin-packs small files to a target size; `sortedWrite`
  * range-partitions and sorts on the hot column so row-group stats
  * become selective (the poor man's clustering key — same idea as
  * Delta/Iceberg OPTIMIZE ... ZORDER with one dimension).
  *
  * All paths go through the Hadoop `FileSystem` API, so these run
  * unchanged on file://, hdfs:// and s3a:// — the substrates a real
  * 100 TB lake lives on. The staged-swap rename in `compact` is an
  * atomic metadata operation on HDFS; on S3-like object stores rename
  * is a copy, so there compaction should target per-partition
  * directories (bounded rewrite unit) or be delegated to a table
  * format's OPTIMIZE. Readers concurrent with the swap window on an
  * object store can observe a missing directory — the single-writer,
  * no-concurrent-reader maintenance contract of a manual lake.
  */
object Layout {

  private def fsFor(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Parquet data files under a table path with their sizes (ignores
    * _SUCCESS and other sidecars), via the recursive listing so
    * partitioned layouts are covered. */
  def dataFileSizes(spark: SparkSession, path: String): Seq[(Path, Long)] = {
    val (fs, root) = fsFor(spark, path)
    if (!fs.exists(root)) return Nil
    val it = fs.listFiles(root, true)
    val buf = Seq.newBuilder[(Path, Long)]
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet"))
        buf += ((f.getPath, f.getLen))
    }
    buf.result()
  }

  /** Parquet data files under a table path (ignores _SUCCESS etc). */
  def dataFiles(spark: SparkSession, path: String): Seq[Path] =
    dataFileSizes(spark, path).map(_._1)

  /** Sibling of `path` named `.<name><suffix>` — the dot prefix makes
    * it invisible to Spark's partition discovery, so staging/backup
    * dirs for a partition can live inside the table tree without being
    * read as partition values (a crash must never poison the table). */
  private[ext] def hiddenSibling(path: String, suffix: String): String = {
    val p = new Path(path)
    new Path(p.getParent, "." + p.getName + suffix).toString
  }

  private def oldPathOf(path: String): String =
    hiddenSibling(path, ".swap-old")

  /** Recover from a crash inside a previous [[swapIn]]: if the table
    * dir is missing but its swap backup exists, restore the backup.
    * Call before reading any swap-maintained table. Returns true if a
    * restore happened. */
  def recoverSwap(spark: SparkSession, path: String): Boolean = {
    val (fs, root) = fsFor(spark, path)
    val old = new Path(oldPathOf(path))
    if (!fs.exists(root) && fs.exists(old)) fs.rename(old, root)
    else false
  }

  /** Replace the table at `path` with the directory at `staging` via
    * two renames, so a reader never sees a half-written table (see the
    * class doc for object-store rename caveats). The staging dir must
    * be on the same filesystem. A crash between the renames leaves the
    * data intact in the hidden `.swap-old` sibling; [[recoverSwap]]
    * restores it. */
  def swapIn(spark: SparkSession, path: String, staging: String): Unit = {
    val (fs, root) = fsFor(spark, path)
    val old = new Path(oldPathOf(path))
    fs.delete(old, true) // stale leftover from a crashed earlier run
    if (!fs.rename(root, old))
      throw new java.io.IOException(s"swapIn: cannot stage out $root")
    if (!fs.rename(new Path(staging), root)) { // restore, then fail loudly
      fs.rename(old, root)
      throw new java.io.IOException(s"swapIn: cannot swap in $staging")
    }
    fs.delete(old, true)
  }

  /** Rewrite a parquet table into ceil(totalBytes/targetBytes) files.
    * Two full passes over the data (read + write) but only of THIS
    * table; on a partitioned lake you compact per partition, so the
    * unit of rewrite stays bounded no matter how big the table grows.
    * The rewrite goes through a staging dir and a directory swap, so a
    * reader never sees a half-written table. */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024): Unit = {
    recoverSwap(spark, path)
    val files = dataFileSizes(spark, path)
    if (files.isEmpty) return
    val total = files.map(_._2).sum
    val n = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    val staging = hiddenSibling(path, ".compact-staging")
    Parquet.read(spark, path)
      .repartition(n)
      .write.mode(SaveMode.Overwrite).parquet(staging)
    swapIn(spark, path, staging)
  }

  /** Compact each leaf partition directory of a partitioned table
    * independently (e.g. the `__bucket=N` dirs the bucketed upsert sink
    * writes — every upsert batch appends files to its touched buckets).
    * The unit of rewrite is ONE partition, so maintenance cost is
    * bounded by partition size no matter how large the table grows, and
    * partitions can be compacted on independent cadences. Partition
    * values stay encoded in the directory names, so rewriting a leaf
    * dir in place preserves the table's partitioning for readers of the
    * root path. Only partitions fragmented past `minFiles` are
    * rewritten. */
  def compactPartitions(spark: SparkSession, path: String,
                        targetBytes: Long = 128L * 1024 * 1024,
                        minFiles: Int = 2): Unit = {
    val (fs, root) = fsFor(spark, path)
    if (!fs.exists(root)) return
    // recurse to LEAF partition dirs: compacting a non-leaf level would
    // read nested partition columns as data and flatten the layout
    def leaves(dir: Path): Seq[Path] = {
      val parts = fs.listStatus(dir).filter(s =>
        s.isDirectory && s.getPath.getName.contains("=") &&
          !s.getPath.getName.startsWith("."))
      if (parts.isEmpty) Seq(dir)
      else parts.toSeq.flatMap(p => leaves(p.getPath))
    }
    leaves(root).filter(_ != root).foreach { part =>
      if (dataFileSizes(spark, part.toString).size > minFiles)
        compact(spark, part.toString, targetBytes)
    }
  }

  /** Range-partition on `sortCol` and sort rows within each partition
    * before writing: each output file (and each row group inside it)
    * covers a narrow, nearly disjoint slice of the sort-column domain,
    * so parquet min/max stats prune row groups for range predicates.
    * `partitions` sizes the files (pick totalBytes/targetBytes). */
  def sortedWrite(df: DataFrame, path: String, sortCol: String,
                  partitions: Int,
                  extraSortCols: Seq[String] = Nil): Unit =
    df.repartitionByRange(partitions, col(sortCol))
      .sortWithinPartitions((sortCol +: extraSortCols).map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Z-order (Morton) value of two non-negative integer columns: the
    * low `bits` bits of each, interleaved (a on even positions, b on
    * odd). Rows close in z-value are close in BOTH dimensions, so
    * clustering a table by z makes parquet min/max stats selective for
    * predicates on either column — the two-dimensional generalization
    * of [[sortedWrite]]'s single clustering key (what Delta/Iceberg
    * OPTIMIZE ZORDER does). Statically unrolled bit ops — one codegen'd
    * projection, no UDF. Values above 2^bits wrap via masking; rank or
    * bucket wide-domain columns into the bit budget first. */
  def zorderValue(a: Column, b: Column, bits: Int = 16): Column =
    zorderValueN(Seq(a, b), bits)

  /** N-column z-value: bit i of column j lands at position i*k + j.
    * k*bits must fit a positive long (<= 63). */
  def zorderValueN(cols: Seq[Column], bits: Int): Column = {
    val k = cols.size
    require(k >= 1 && bits >= 1 && k * bits <= 63,
      s"need 1 <= cols*bits <= 63, got $k x $bits")
    val mask = (1L << bits) - 1
    val masked = cols.map(_.cast("long").bitwiseAND(lit(mask)))
    (for { i <- 0 until bits; (c, j) <- masked.zipWithIndex }
      yield shiftleft(shiftrightunsigned(c, i).bitwiseAND(lit(1L)), i * k + j))
      .reduce(_ bitwiseOR _)
  }

  /** Hilbert-curve index of (a, b) on the 2^bits × 2^bits grid — the
    * stronger space-filling clustering key beside [[zorderValue]]:
    * consecutive Hilbert cells are always GRID-ADJACENT (the curve
    * never jumps, unlike Z-order's quadrant seams), so range reads of
    * a Hilbert-clustered table touch tighter 2-D rectangles — why
    * modern OPTIMIZE implementations offer it over Z-order for skewed
    * multi-dimensional predicates.
    *
    * The classic xy→d transform (one quadrant decision + rotation per
    * bit level) runs as the NATIVE codegen'd expression
    * [[graft.functions.HilbertXY]] — one static-method call per row
    * inside whole-stage codegen (the interpreted higher-order-fold
    * formulation measured ~6 us/row and dominated Hilbert clustering
    * cost; ~20x off the unrolled z-order). The oracle replays the
    * identical per-level loop as a DuckDB list_reduce. Values above
    * 2^bits wrap via masking, like zorderValue. */
  def hilbertValue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && 2 * bits <= 62,
      s"need 1 <= bits <= 31, got $bits")
    call_function("hilbert_xy", a.cast("long"), b.cast("long"),
      lit(bits))
  }

  /** Write `df` clustered by the z-order of `zCols`: range-partition on
    * the z-value, sort within partitions, drop the helper column. After
    * this, a range predicate on ANY of the clustered columns prunes row
    * groups/files by min/max stats (LayoutSpec proves it on scan
    * metrics); a single-column sort only serves its own column. */
  def zorderedWrite(df: DataFrame, path: String, zCols: Seq[String],
                    partitions: Int, bits: Int = 16): Unit =
    df.withColumn("__z", zorderValueN(zCols.map(col), bits))
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Materialize a corpus in TRAINING ORDER as balanced shard files —
    * the writer half of [[Sampling.epochShuffle]]. Input rows carry
    * `shardCol`/`orderCol` (shard id + position within shard); output
    * is one directory per shard (`shard=<k>/`) holding ONE parquet
    * file whose row order is exactly the training order, so a data
    * loader streams shard k sequentially with zero further sorting.
    *
    * Shape: `repartition(shardCol)` co-locates each shard on one task
    * (a shard is sized to fit a worker by construction — shardSize is
    * the knob), the within-partition sort orders by (shard, pos)
    * without any global sort, and `partitionBy` splits tasks that hold
    * several shards into per-shard files. Parquet preserves row order,
    * so ordered-read-back is a format guarantee, not luck. */
  def shardedWrite(df: DataFrame, path: String,
                   shardCol: String = "shard",
                   orderCol: String = "shard_pos"): Unit =
    df.repartition(col(shardCol))
      .sortWithinPartitions(col(shardCol), col(orderCol))
      .write.mode(SaveMode.Overwrite).partitionBy(shardCol).parquet(path)

  // ===== file-level data-skipping manifest ==============================

  /** Manifest location: hidden sibling, invisible to partition
    * discovery (the [[hiddenSibling]] contract). */
  def manifestPath(path: String): String = hiddenSibling(path, ".manifest")

  /** Build + persist a FILE-level min/max manifest for `cols` — the
    * Delta/Iceberg data-skipping move, one tier above parquet's own
    * row-group stats. Parquet pruning still OPENS every file to read
    * its footer; at 100 TB a narrow time-range query against a
    * [[sortedWrite]]/[[zorderedWrite]] layout spends its wall-clock on
    * that file-open storm. The manifest is one tiny parquet table
    * (file, size, n_rows, min/max per tracked column), so planning
    * reads ONE object and hands Spark only the overlapping files.
    *
    * Cost: one pruned scan of exactly `cols` (+ the file name), one
    * hash aggregate keyed on the file — rebuild after maintenance
    * ([[compact]]/[[swapIn]] invalidate it; [[prunedFiles]] detects
    * staleness and fails loudly rather than silently missing files). */
  def writeManifest(spark: SparkSession, path: String,
                    cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "manifest needs at least one column")
    // identity = (file name, size): part-file names carry a write-UUID,
    // and the FileSystem listing (scheme-free) must agree with the
    // scan-side input_file_name (a URI) — joining on the name sidesteps
    // scheme/authority/encoding mismatches between the two views
    val sizes = dataFileSizes(spark, path)
      .map { case (p, len) => (p.getName, len) }
    val sizeDf = spark.createDataFrame(sizes).toDF("file_name", "size")
    val aggs = cols.flatMap { c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))
    } :+ count(lit(1)).as("n_rows")
    val stats = Parquet.read(spark, path)
      .groupBy(input_file_name().as("file_path"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("file_name",
        element_at(split(url_decode(col("file_path")), "/"), -1))
    val staging = hiddenSibling(path, ".manifest-staging")
    val (fs, _) = fsFor(spark, path)
    fs.delete(new Path(staging), true)
    stats.join(sizeDf, Seq("file_name"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(staging)
    val mp = new Path(manifestPath(path))
    fs.delete(mp, true)
    if (!fs.rename(new Path(staging), mp))
      throw new java.io.IOException(s"writeManifest: cannot move into $mp")
  }

  /** Files whose [min, max] range on `colName` overlaps [lo, hi] —
    * the planning-time skip, returned as readable URIs. All-NULL files
    * prune too (a range predicate never matches NULL). Fails loudly if
    * the manifest does not exactly describe the current data files
    * (name + size): a stale manifest must never silently hide rows.
    *
    * Driver footprint (the 100 TB posture): the (name, size) census
    * check runs as two DISTRIBUTED anti-joins — the manifest table is
    * never collected; the only driver-side materializations are the
    * FileSystem listing itself (the same O(#files) metadata pass
    * Spark's own file index performs at planning time) and the MATCHED
    * file list, which is the function's bounded output. At 10^5–10^6
    * files the old collect-both-sides set compare hauled the whole
    * manifest to the driver per query; the anti-joins ship back two
    * counts. */
  def prunedFiles(spark: SparkSession, path: String, colName: String,
                  lo: Any, hi: Any): Seq[String] = {
    val man = Parquet.read(spark, manifestPath(path))
    val current = spark.createDataFrame(dataFileSizes(spark, path)
        .map { case (p, len) => (p.getName, len) })
      .toDF("file_name", "size")
    censusCheck(man.select(col("file_name"), col("size")), current, path)
    man.where(col(s"min_$colName") <= lit(hi) &&
        col(s"max_$colName") >= lit(lo))
      .select("file_path").collect().map(_.getString(0)).toSeq
  }

  /** The distributed half of [[prunedFiles]]' staleness gate: both
    * frames are (file_name, size); equality-as-sets is decided by two
    * anti-joins whose only driver traffic is the two mismatch COUNTS.
    * Package-private so the scale spec can drive it with a synthetic
    * 10^4-entry census without writing 10^4 real files. */
  private[ext] def censusCheck(manKeys: DataFrame, current: DataFrame,
      path: String): Unit = {
    val newFiles = current.join(manKeys, Seq("file_name", "size"),
      "left_anti").count()
    val vanished = manKeys.join(current, Seq("file_name", "size"),
      "left_anti").count()
    if (newFiles > 0 || vanished > 0)
      throw new IllegalStateException(
        s"stale manifest for $path: rebuild with writeManifest " +
          s"($newFiles new, $vanished vanished files)")
  }

  /** Range read through the manifest: open only overlapping files,
    * then apply the exact residual predicate. Equal to the naive
    * full-table filter by construction (LayoutSpec proves equality and
    * counts the skipped files). */
  def prunedRead(spark: SparkSession, path: String, colName: String,
                 lo: Any, hi: Any): DataFrame = {
    val files = prunedFiles(spark, path, colName, lo, hi)
    val base =
      if (files.isEmpty)
        Parquet.read(spark, path).limit(0)
      else Parquet.read(spark, files: _*)
    base.where(col(colName) >= lit(lo) && col(colName) <= lit(hi))
  }

  /** Data-layout skipping effectiveness — QUANTIFY what a clustering
    * key buys before rewriting a 100 TB table: lay the rows out in
    * `chunks` equal-width ranges of each candidate layout key (the
    * OPTIMIZE ... ZORDER BY range-chunking model: a chunk ≈ a file /
    * row group whose per-column min/max land in the scan index), keep
    * each chunk's min/max per probed column, and for every probe
    * range report how many chunks — and how many ROWS — a min/max-
    * pruning scan must still touch. `skip_frac` near 0 on the natural
    * layout vs near 1 on a space-filling-curve layout is the whole
    * economic argument for [[zorderValue]]/[[hilbertValue]],
    * measured rather than asserted.
    *
    * Plan: ONE pass over `df` per layout (key + probed columns →
    * equi-width chunk bin via the broadcast min/max row, then a
    * chunk-keyed min/max/count aggregate — bounded `chunks` rows);
    * everything downstream is scalar math on the bounded chunk
    * table. Chunk hit test is exact integer interval overlap; the
    * two fractions are the only sig9'd doubles.
    *
    * Rows with a NULL layout key are EXCLUDED per layout (a NULL key
    * has no position in that layout's range chunking) — the SQL oracle
    * filters the same rows, so total_rows agrees across engines even
    * on nullable keys.
    *
    * @param layouts ordered (name, layout-key column) candidates
    * @param probes  (probe name, probed column, lo, hi) inclusive
    *                range scans to evaluate
    * @return one row per (layout, probe): (layout, probe, n_chunks,
    *         n_hit, scan_rows, total_rows, skip_frac, scan_frac) */
  def skippingStats(df: DataFrame, layouts: Seq[(String, Column)],
      probes: Seq[(String, String, Long, Long)],
      chunks: Int = 64): DataFrame = {
    require(layouts.nonEmpty && probes.nonEmpty,
      "need at least one layout and one probe")
    require(chunks >= 1 && chunks <= 65536,
      s"chunks must be in [1, 65536], got $chunks")
    import graft.queries.Q
    val probeCols = probes.map(_._2).distinct
    val perLayout = layouts.map { case (lname, key) =>
      val base = df.select(key.cast("double").as("k") +:
        probeCols.map(col): _*)
        .where(col("k").isNotNull)
      val mm = base.agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
      val chunked = base.crossJoin(broadcast(mm))
        .withColumn("chunk",
          when(col("hi") === col("lo"), lit(0L))
            .otherwise(least(lit((chunks - 1).toLong),
              greatest(lit(0L),
                floor((col("k") - col("lo"))
                  / ((col("hi") - col("lo")) / chunks)).cast("long")))))
      val aggs = count(lit(1)).cast("long").as("n") +:
        probeCols.flatMap(c => Seq(
          min(col(c)).cast("long").as(s"mn_$c"),
          max(col(c)).cast("long").as(s"mx_$c")))
      val stats = chunked.groupBy(col("chunk"))
        .agg(aggs.head, aggs.tail: _*)
      probes.map { case (pname, c, lo, hi) =>
        val hit = col(s"mx_$c") >= lit(lo) && col(s"mn_$c") <= lit(hi)
        stats.agg(
            count(lit(1)).cast("long").as("n_chunks"),
            sum(when(hit, 1L).otherwise(0L)).cast("long").as("n_hit"),
            sum(when(hit, col("n")).otherwise(0L)).cast("long")
              .as("scan_rows"),
            sum(col("n")).cast("long").as("total_rows"))
          .select(lit(lname).as("layout"), lit(pname).as("probe"),
            col("n_chunks"), col("n_hit"), col("scan_rows"),
            col("total_rows"),
            when(col("n_chunks") > 0,
              Q.sig9(lit(1.0) - col("n_hit").cast("double")
                / col("n_chunks").cast("double"))).as("skip_frac"),
            when(col("total_rows") > 0,
              Q.sig9(col("scan_rows").cast("double")
                / col("total_rows").cast("double"))).as("scan_frac"))
      }.reduce(_ unionByName _)
    }
    perLayout.reduce(_ unionByName _)
  }
}
