package graft.sinks

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import java.nio.file.Files

class UpsertWriterSpec extends SparkSpec {
  import spark.implicits._

  private def canon(df: DataFrame): Set[(Long, Double, Long)] =
    df.as[(Long, Double, Long)].collect().toSet

  private val rowGen = for {
    k <- Gen.choose(0L, 8L)
    v <- Gen.choose(0, 1000)
    ver <- Gen.choose(0L, 3L)
  } yield (k, v / 10.0, ver)

  private val frameGen = Gen.listOfN(12, rowGen)

  private def sample(seed: Long): List[(Long, Double, Long)] =
    frameGen.apply(Gen.Parameters.default, Seed(seed)).get

  test("merge: upsert(upsert(t,d),d) == upsert(t,d) (idempotence)") {
    (1 to 10).foreach { i =>
      val tDf = sample(i * 2L).toDF("key", "val", "updated_at")
      val dDf = sample(i * 2L + 1).toDF("key", "val", "updated_at")
      val once = UpsertWriter.merge(tDf, dDf, Seq("key"), "updated_at")
      val twice = UpsertWriter.merge(once, dDf, Seq("key"), "updated_at")
      assert(canon(once) == canon(twice), s"seed pair $i")
    }
  }

  test("merge: incoming beats existing on key collision") {
    val t = Seq((1L, 1.0, 9L)).toDF("key", "val", "updated_at")
    val d = Seq((1L, 2.0, 0L)).toDF("key", "val", "updated_at")
    assert(canon(UpsertWriter.merge(t, d, Seq("key"), "updated_at")) ==
      Set((1L, 2.0, 0L)))
  }

  test("merge: within a side, highest version wins deterministically") {
    val t = spark.emptyDataset[(Long, Double, Long)]
      .toDF("key", "val", "updated_at")
    val d = Seq((1L, 1.0, 1L), (1L, 2.0, 3L), (1L, 3.0, 2L))
      .toDF("key", "val", "updated_at")
    assert(canon(UpsertWriter.merge(t, d, Seq("key"), "updated_at")) ==
      Set((1L, 2.0, 3L)))
  }

  test("upsertBucketed: merges correctly and rewrites only touched buckets") {
    val dir = Files.createTempDirectory("upsert").toFile.getAbsolutePath
    val path = s"$dir/t"
    val base = (0L until 64L).map(k => (k, k * 1.0, 0L))
      .toDF("key", "val", "updated_at")
    UpsertWriter.upsertBucketed(base, path, Seq("key"), "updated_at", 8)

    // capture per-partition file state before the incremental batch
    def fileState(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(path))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> f.lastModified()).toMap
    }
    val before = fileState()

    val batch = Seq((3L, -3.0, 1L), (3000L, 1.0, 1L))
      .toDF("key", "val", "updated_at")
    UpsertWriter.upsertBucketed(batch, path, Seq("key"), "updated_at", 8)

    val after = UpsertWriter.readBucketed(spark, path)
    assert(canon(after) ==
      ((0L until 64L).filter(_ != 3L).map(k => (k, k * 1.0, 0L)).toSet
        + ((3L, -3.0, 1L)) + ((3000L, 1.0, 1L))))

    // untouched bucket partitions must be bit-untouched on disk
    val touched = batch
      .select(pmod(hash(col("key")), lit(8)).as("b")).distinct()
      .as[Int].collect().map(b => s"__bucket=$b").toSet
    val untouchedBefore = before.filterNot { case (p, _) =>
      touched.exists(p.contains)
    }
    val afterState = fileState()
    untouchedBefore.foreach { case (p, ts) =>
      assert(afterState.get(p).contains(ts),
        s"untouched partition file rewritten: $p")
    }
    assert(untouchedBefore.nonEmpty, "test must cover untouched buckets")
  }

  test("a new table's first batch collapses re-delivered keys " +
      "latest-wins (bucketed and full-rewrite)") {
    val dir = Files.createTempDirectory("upsert-day0").toFile.getAbsolutePath
    val day0 = Seq((1L, 1.0, 1L), (1L, 1.5, 3L), (1L, 1.2, 2L),
      (2L, 2.0, 1L), (3L, 3.0, 1L), (3L, 3.5, 2L))
      .toDF("key", "val", "updated_at")
    val expected = Set((1L, 1.5, 3L), (2L, 2.0, 1L), (3L, 3.5, 2L))
    UpsertWriter.upsertBucketed(day0, s"$dir/b", Seq("key"), "updated_at", 4)
    val bucketed = UpsertWriter.readBucketed(spark, s"$dir/b")
    assert(bucketed.count() == 3)
    assert(canon(bucketed) == expected)
    UpsertWriter.upsertParquet(day0, s"$dir/p", Seq("key"), "updated_at")
    val full = graft.core.Parquet.read(spark, s"$dir/p")
    assert(full.count() == 3)
    assert(canon(full) == expected)
  }

  test("writer lock: a held lock fails a second writer fast; a stale " +
      "lock is broken; the lock is released after success") {
    val dir = java.nio.file.Files.createTempDirectory("lock").toString
    val path = s"$dir/t"
    val batch = Seq((1L, 1.0, 1L)).toDF("k", "v", "ver")
    // hold the lock as a concurrent writer would
    UpsertWriter.withWriterLock(spark, path) {
      val e = intercept[IllegalStateException] {
        UpsertWriter.upsertBucketed(batch, path, Seq("k"), "ver", 4)
      }
      assert(e.getMessage.contains("single-writer"))
    }
    // released on exit: the same upsert now succeeds
    UpsertWriter.upsertBucketed(batch, path, Seq("k"), "ver", 4)
    // stale lock (crashed writer): acquired by breaking, not an error
    val lock = new org.apache.hadoop.fs.Path(s"$path.__lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(lock, false)
    out.writeLong(System.currentTimeMillis() - 60L * 60 * 1000)
    out.close()
    UpsertWriter.upsertBucketed(
      Seq((2L, 2.0, 1L)).toDF("k", "v", "ver"), path, Seq("k"), "ver", 4)
    assert(!fs.exists(lock))
    assert(UpsertWriter.readBucketed(spark, path)
      .as[(Long, Double, Long)].collect().toSet ==
      Set((1L, 1.0, 1L), (2L, 2.0, 1L)))
  }

  test("upsertJdbc(generic) round-trips latest-wins through embedded Derby") {
    val url = "jdbc:derby:memory:graftdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE players (k BIGINT PRIMARY KEY, v DOUBLE, ver BIGINT)")
    conn.close()

    val b1 = Seq((1L, 1.0, 1L), (2L, 2.0, 1L)).toDF("k", "v", "ver")
    UpsertWriter.upsertJdbc(b1, url, "players", Seq("k"), "ver",
      dialect = "generic")
    // update k=1 (newer version), insert k=3, and a within-batch dup of
    // k=3 that must collapse to the higher version before any statement
    val b2 = Seq((1L, 9.0, 2L), (3L, 3.0, 1L), (3L, 30.0, 2L))
      .toDF("k", "v", "ver")
    UpsertWriter.upsertJdbc(b2, url, "players", Seq("k"), "ver",
      dialect = "generic")

    // A11 JDBC read mode closes the loop
    val back = graft.sources.Ingest
      .jdbcTable(spark, url, "players",
        partitionOn = Some(("k", 0L, 10L, 2)))
      .as[(Long, Double, Long)].collect().toSet
    assert(back == Set((1L, 9.0, 2L), (2L, 2.0, 1L), (3L, 30.0, 2L)))
  }
}
