package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Seed-swept property checks for the round-6 operators (same style as
  * UpsertWriterSpec: deterministic scalacheck samples, explicit
  * seeds, plain asserts — reproducible failures). */
class PrepPropertySpec extends SparkSpec {
  import spark.implicits._

  private val rowGen = for {
    g <- Gen.oneOf("a", "b", "c")
    id <- Gen.choose(0L, 5000L)
    n <- Gen.choose(0L, 50L)
  } yield (g, id, n)

  private def sample(seed: Long, n: Int): List[(String, Long, Long)] =
    Gen.listOfN(n, rowGen).apply(Gen.Parameters.default, Seed(seed)).get
      .distinctBy(t => (t._1, t._2))

  test("curriculum: histogram-refine boundaries == exact percentile " +
      "on random distributions (ties, negatives, skew, tiny frames)") {
    val scoreGen = Gen.oneOf(
      Gen.choose(-1000.0, 1000.0),                  // continuous
      Gen.choose(-5L, 5L).map(_.toDouble),          // heavy ties
      Gen.choose(0.0, 1.0).map(x => x * x * x))     // skewed
    (1 to 8).foreach { i =>
      val n = Seq(1, 2, 3, 7, 50, 200, 512, 1000)(i - 1)
      val rows = Gen.listOfN(n, scoreGen)
        .apply(Gen.Parameters.default, Seed(i * 97L)).get
        .zipWithIndex.map { case (sc, id) => (id.toLong, sc) }
      val df = rows.toDF("id", "score")
      val nb = Seq(2, 3, 4, 10)(i % 4)
      val probs = (1 until nb).map(j => lit(j.toDouble / nb))
      val exp = df.agg(transform(
          percentile(col("score"), array(probs: _*)),
          b => graft.queries.Q.sig9(b)).as("p"))
        .as[Seq[Double]].head()
      val got = Curriculum.exactBoundaries(df, "score", nb)
        .as[Seq[Double]].head()
      assert(got == exp, s"seed $i n=$n nBuckets=$nb")
    }
  }

  test("packing: two-phase == single-window on random frames/buckets") {
    (1 to 8).foreach { i =>
      val df = sample(i * 31L, 120).toDF("source", "doc_id", "n_tokens")
      val bs = Seq(1L, 7L, 64L, 100000L)(i % 4)
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val ref = df.withColumn("exp",
        coalesce(sum("n_tokens").over(w), lit(0L)))
      val got = Packing.packSequences(df, capacity = 32, bucketSize = bs)
      assert(got.join(ref, Seq("source", "doc_id"))
        .filter(col("tok_offset") =!= col("exp")).count() == 0,
        s"seed $i bucketSize $bs")
    }
  }

  private val wordGen = Gen.choose(0, 20).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf("x", "y", "z", "w", "v")))

  test("segmentDedup with unreachable minDocs is the identity") {
    (1 to 5).foreach { i =>
      val docs = Gen.listOfN(30, wordGen)
        .apply(Gen.Parameters.default, Seed(i * 7L)).get
        .zipWithIndex.map { case (ws, j) => (j.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val r = Dedup.segmentDedup(docs, width = 4, minDocs = Int.MaxValue)
        .as[(Long, Long, Long, String)].collect()
      val orig = docs.select(col("doc_id"),
          array_join(Hashing.tokens(col("text")), " "))
        .as[(Long, String)].collect().toMap
      r.foreach { case (id, nSegs, nKept, txt) =>
        assert(nSegs == nKept, s"doc $id seed $i")
        assert(txt == orig(id), s"doc $id seed $i")
      }
    }
  }

  test("curriculum buckets are monotone in score") {
    (1 to 5).foreach { i =>
      val df = sample(i * 13L, 100).map(t => (t._2, t._3))
        .distinctBy(_._1).toDF("id", "score")
      val r = Curriculum.buckets(df, "id", "score", nBuckets = 4)
        .select("score", "bucket").as[(Long, Long)].collect()
        .sortBy(_._1)
      r.sliding(2).foreach {
        case Array((s1, b1), (s2, b2)) =>
          assert(b1 <= b2, s"seed $i: score $s1->$s2 bucket $b1->$b2")
        case _ =>
      }
    }
  }

  test("epochShuffle: two-phase == single-window on random id sets " +
      "(sparse/negative ids, nBuckets beyond n, tiny frames)") {
    val idGen = Gen.oneOf(
      Gen.choose(-5000L, 5000L),                    // negatives included
      Gen.choose(0L, Long.MaxValue / 4))            // sparse 60-bit-ish
    (1 to 8).foreach { i =>
      val n = Seq(1, 2, 3, 10, 64, 150, 400, 777)(i - 1)
      val ids = Gen.listOfN(n, idGen)
        .apply(Gen.Parameters.default, Seed(i * 53L)).get.distinct
      val df = ids.toDF("id")
      val nb = Seq(1, 2, 16, 256)(i % 4)
      val got = Sampling.epochShuffle(df, "id", s"pp$i", 37L, nb)
        .select("id", "pos").as[(Long, Long)].collect().toMap
      val ref = df
        .withColumn("h", Hashing.hash60(
          concat(lit(s"pp$i:"), col("id").cast("string"))))
        .withColumn("pos", row_number().over(
          Window.orderBy(col("h").asc, col("id").asc)).cast("long") - 1L)
        .select("id", "pos").as[(Long, Long)].collect().toMap
      assert(got == ref, s"seed $i n=${ids.size} nBuckets=$nb")
    }
  }
}
