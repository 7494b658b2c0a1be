package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Parquet

/** A12 — upsert semantics (`INSERT ... ON DUPLICATE KEY UPDATE`) without a
  * transactional table format. Ref: dags/utils/queries.py:5-261.
  *
  * Lake mode: latest-wins merge by natural key. The incoming batch wins
  * over the existing table; within a batch, ties break on `versionCol`
  * (typically updated_at) then deterministic arrival order — the reference
  * relies on MySQL row-at-a-time ordering (dags/utils/queries.py:13), which
  * is nondeterministic under parallelism; we make the tie-break explicit so
  * the merge is idempotent: upsert(upsert(t,d),d) == upsert(t,d).
  *
  * At scale this is one shuffle on the key; with a bucketed base table the
  * window reuses the bucketing and the merge is shuffle-free on the base
  * side.
  */
object UpsertWriter {

  /** Pure merge (no I/O) — unit-testable core. `incoming` beats `existing`
    * on key collision; duplicate keys inside either side collapse to the
    * row with the highest (versionCol, srcRank). */
  def merge(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
            versionCol: String): DataFrame = {
    val tagged = existing.withColumn("__src", lit(0))
      .unionByName(incoming.withColumn("__src", lit(1)))
    // Total order: src, version, then every remaining column — two rows
    // with equal key AND equal version must still collapse the same way on
    // every run/topology, or the merge is nondeterministic exactly when
    // the input is dirtiest.
    val rest = tagged.columns
      .filterNot(c => keys.contains(c) || c == "__src" || c == versionCol)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((col("__src").desc +: col(versionCol).desc +:
        rest.map(col(_).desc)).toIndexedSeq: _*)
    tagged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__src", "__rn")
  }

  /** One row per key, latest-wins by `versionCol` — [[merge]] against
    * an empty table. A table's first batch goes through this too, so
    * keys re-delivered inside it never land twice. */
  private def collapse(df: DataFrame, keys: Seq[String],
                       versionCol: String): DataFrame =
    merge(df.limit(0), df, keys, versionCol)

  /** Advisory writer lock — the lake upserts assume a SINGLE WRITER per
    * table (the reference runs them from a serial DAG chain). Without
    * it, two concurrent merges on overlapping buckets silently lose one
    * writer's rows: the second read-merge-overwrite never saw the
    * first's. The lock makes that contract explicit and LOUD: an
    * atomic exclusive create of `<path>.__lock` guards the
    * read-merge-write window, a competing writer fails fast instead of
    * corrupting, and a crashed writer's lock is broken once older than
    * `staleMs`. Atomic create is a real mutex on HDFS and local
    * filesystems; on S3-like stores create-no-overwrite is best-effort
    * — there, serialize writers externally (scheduler-level, as the
    * reference does) or move the table to a transactional format. */
  def withWriterLock[T](spark: SparkSession, path: String,
                        staleMs: Long = 30L * 60 * 1000)(body: => T): T = {
    val lock = new Path(path + ".__lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the token identifies THIS writer's lock: release deletes only a
    // lock we still own, never one a stale-break usurper re-created
    val token = java.util.UUID.randomUUID().toString
    def tryAcquire(): Boolean =
      try {
        val out = fs.create(lock, false) // throws if the lock exists
        out.writeLong(System.currentTimeMillis())
        out.writeUTF(token); out.close(); true
      } catch { case _: java.io.IOException => false }
    def readLock(): Option[(Long, String)] =
      try {
        val in = fs.open(lock)
        try Some((in.readLong(), in.readUTF())) finally in.close()
      } catch { case _: java.io.IOException => None } // gone or unreadable
    var acquired = tryAcquire()
    if (!acquired) {
      val stale = readLock() match {
        case Some((ts, _)) => System.currentTimeMillis() - ts > staleMs
        case None => true // vanished or unreadable: retry the acquire
      }
      if (stale) {
        // break by RENAME (atomic): of N waiters, exactly one moves the
        // stale lock aside; a plain delete could remove the winner's
        // freshly created lock and let two writers in
        val broken = new Path(path + ".__lock.broken")
        fs.delete(broken, false)
        if (fs.rename(lock, broken)) fs.delete(broken, false)
        acquired = tryAcquire()
      }
    }
    if (!acquired) throw new IllegalStateException(
      s"upsert target $path is locked by a concurrent writer " +
        s"(single-writer contract; stale locks break after ${staleMs}ms — " +
        "set staleMs above the worst-case upsert duration)")
    try body finally {
      // release only our own lock: if it outlived staleMs and was
      // usurped, the usurper's lock must survive us
      if (readLock().exists(_._2 == token)) fs.delete(lock, false)
    }
  }

  /** Lake upsert: read current table (if any), merge, overwrite atomically
    * via a staging write.
    *
    * NOTE: full-table rewrite — correct but O(table) per batch. Use
    * [[upsertBucketed]] for anything that grows: it rewrites only the
    * key-buckets the incoming batch touches. */
  def upsertParquet(incoming: DataFrame, path: String, keys: Seq[String],
                    versionCol: String): Unit = {
    val spark = incoming.sparkSession
    withWriterLock(spark, path) {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val exists = fs.exists(new org.apache.hadoop.fs.Path(path))
      val merged =
        if (exists) merge(Parquet.read(spark, path), incoming, keys, versionCol)
        else collapse(incoming, keys, versionCol)
      val staging = path + "__staging"
      merged.write.mode(SaveMode.Overwrite).parquet(staging)
      Parquet.read(spark, staging).write.mode(SaveMode.Overwrite).parquet(path)
      fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    }
  }

  private val BucketCol = "__bucket"

  /** Scale-safe lake upsert: the base table is hash-partitioned on a
    * key-derived bucket column; an incoming batch (1) computes its touched
    * buckets, (2) reads ONLY those partitions back (partition pruning on
    * the scan), (3) merges, and (4) rewrites ONLY those partitions via
    * dynamic partition overwrite. A daily few-GB batch against a 100 TB
    * base rewrites a few buckets, not the table — and untouched partition
    * directories are bit-untouched on disk (asserted by UpsertWriterSpec).
    */
  def upsertBucketed(incoming: DataFrame, path: String, keys: Seq[String],
                     versionCol: String, numBuckets: Int = 256): Unit = {
    val spark = incoming.sparkSession
    withWriterLock(spark, path) {
      upsertBucketedLocked(incoming, spark, path, keys, versionCol, numBuckets)
    }
  }

  private def upsertBucketedLocked(incoming: DataFrame, spark: SparkSession,
                                   path: String, keys: Seq[String],
                                   versionCol: String,
                                   numBuckets: Int): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val bucket = pmod(hash(keys.map(col): _*), lit(numBuckets))
    val tagged = incoming.withColumn(BucketCol, bucket)
    val exists = fs.exists(new org.apache.hadoop.fs.Path(path))
    val merged = if (exists) {
      // Touched buckets: tiny distinct-aggregate on the (small) batch.
      val touched = tagged.select(col(BucketCol)).distinct()
        .collect().map(_.getInt(0)).sorted
      val base = Parquet.read(spark, path)
        .filter(col(BucketCol).isin(touched.toIndexedSeq.map(Integer.valueOf): _*))
      merge(base, tagged, keys :+ BucketCol, versionCol)
    } else collapse(tagged, keys :+ BucketCol, versionCol)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try merged.write.mode(SaveMode.Overwrite)
      .partitionBy(BucketCol).parquet(path)
    finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Read a bucketed-upsert table without the internal bucket column. */
  def readBucketed(spark: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame =
    Parquet.read(spark, path).drop(BucketCol)

  /** JDBC upsert mode (the reference's INSERT ... ON DUPLICATE KEY UPDATE,
    * dags/utils/queries.py:5-261): per-partition statements over a pooled
    * connection. Same latest-wins contract as the lake modes — the incoming
    * frame is pre-collapsed per key, so statement order within a batch
    * cannot change the outcome.
    *
    * Dialects:
    *  - "mysql": batched `INSERT ... ON DUPLICATE KEY UPDATE` (the
    *    reference's statement shape, fastest where supported);
    *  - "generic": portable UPDATE-else-INSERT per row — works on any
    *    ANSI JDBC database (exercised against embedded Derby in
    *    UpsertWriterSpec).
    */
  def upsertJdbc(incoming: DataFrame, url: String, table: String,
                 keys: Seq[String], versionCol: String,
                 props: java.util.Properties = new java.util.Properties(),
                 batchSize: Int = 1000, dialect: String = "mysql"): Unit = {
    val collapsed = collapse(incoming, keys, versionCol)
    val cols = collapsed.columns.toSeq
    val nonKeys = cols.filterNot(keys.contains)
    collapsed.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      val conn = java.sql.DriverManager.getConnection(url, props)
      try {
        conn.setAutoCommit(false)
        dialect match {
          case "mysql" =>
            val placeholders = cols.map(_ => "?").mkString(", ")
            val updates = nonKeys.map(c => s"$c = VALUES($c)").mkString(", ")
            val st = conn.prepareStatement(
              s"INSERT INTO $table (${cols.mkString(", ")}) " +
                s"VALUES ($placeholders) ON DUPLICATE KEY UPDATE $updates")
            var n = 0
            rows.foreach { r =>
              cols.indices.foreach(i => st.setObject(i + 1, r.get(i)))
              st.addBatch(); n += 1
              if (n % batchSize == 0) st.executeBatch()
            }
            st.executeBatch()
          case "generic" =>
            val upd = conn.prepareStatement(
              s"UPDATE $table SET ${nonKeys.map(_ + " = ?").mkString(", ")} " +
                s"WHERE ${keys.map(_ + " = ?").mkString(" AND ")}")
            val ins = conn.prepareStatement(
              s"INSERT INTO $table (${cols.mkString(", ")}) " +
                s"VALUES (${cols.map(_ => "?").mkString(", ")})")
            rows.foreach { r =>
              nonKeys.zipWithIndex.foreach { case (c, i) =>
                upd.setObject(i + 1, r.get(cols.indexOf(c))) }
              keys.zipWithIndex.foreach { case (k, i) =>
                upd.setObject(nonKeys.size + i + 1, r.get(cols.indexOf(k))) }
              if (upd.executeUpdate() == 0) {
                cols.indices.foreach(i => ins.setObject(i + 1, r.get(i)))
                ins.executeUpdate()
              }
            }
          case other =>
            throw new IllegalArgumentException(s"unknown dialect: $other")
        }
        conn.commit()
      } finally conn.close()
    }
  }
}

/** A14 — the reference's per-player recent-games CSV sidecar layout
  * `data/{hitter|pitcher}/{game_date}/{id}.csv`
  * (ref: dags/050_insert_hitter_intergration_data.py:124-127). Partitioned
  * write keyed the same way; kept for byte-fidelity, but the nested
  * `recent_games` array column in Records is the primary representation.
  */
object CsvSidecar {
  def write(recentGames: DataFrame, idCol: String, root: String): Unit =
    recentGames.write.mode(SaveMode.Overwrite)
      .partitionBy("game_date", idCol)
      .option("header", "true")
      .csv(root)
}
