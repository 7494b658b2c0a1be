package graft

import graft.core.{Parquet, Tables}
import graft.ext.Similarity
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Residual IVF-PQ recall/nprobe curve (VERDICT r8 #6).
  *
  * Round 8 measured recall@1 of 0.90 / 0.93 / 0.80 at sf0.001/0.01/0.1
  * with the query geometry fixed at (K=16 centroids, nprobe=2, m=4,
  * 8 codewords). The sf0.1 sag has two candidate causes with opposite
  * remedies: a probe-budget artifact (the true neighbor's list isn't
  * among the 2 probed — fix: raise nprobe) or codebook-capacity limit
  * (the residual quantizer can't separate neighbors at 2k vectors —
  * fix: bigger m/k). This main sweeps nprobe at fixed codebooks over
  * all three SFs, timing each serve, so the curve separates the two:
  * recall that climbs with nprobe at flat-ish latency = probe budget;
  * recall that plateaus low = capacity.
  *
  * Train artifacts (centroids, index, codebook, packed codes) are
  * cached and materialized once per SF — the serving regime this
  * measures is "train once, serve many", so per-serve timings must not
  * re-run Lloyd.
  *
  * Output: one JSON line per (sf, nprobe) to stdout + RECALL_SWEEP.json.
  */
object RecallSweep {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Session("graft-recall-sweep")

    val sfs = sys.env.getOrElse("SPARK_GRAFT_SWEEP_SFS", "0.001,0.01,0.1")
      .split(",").map(_.trim).toSeq
    val nprobes = sys.env.getOrElse("SPARK_GRAFT_SWEEP_NPROBES", "1,2,3,4,6,8")
      .split(",").map(_.trim.toInt).toSeq
    // PQ geometry knobs, for the capacity half of the diagnosis: if
    // recall is flat in nprobe but climbs with m/k, the sag is codebook
    // capacity, not probe budget.
    val pqM = sys.env.getOrElse("SPARK_GRAFT_SWEEP_M", "4").toInt
    val pqK = sys.env.getOrElse("SPARK_GRAFT_SWEEP_K", "8").toInt

    val rows = for (sf <- sfs; d = s"/root/testdata/sf$sf") yield {
      val emb = Tables.embeddings(spark, d)
      val (centsL, indexL) = Similarity.ivfIndex(emb, k = 16)
      val (bookL, codesL) =
        Similarity.ivfPqResidualTrain(emb, centsL, indexL, m = pqM, k = pqK)
      val cents = centsL.cache(); val index = indexL.cache()
      val book = bookL.cache()
      val packed = Similarity.packCodes(codesL, pqM).cache()
      Seq(cents, index, book, packed).foreach(_.count()) // materialize
      val q = Parquet.read(spark, s"$d/embeddings.parquet")
        .filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 30000).as("qid"),
          transform(col("embedding"), (x, i) =>
            x.cast("double") +
              lit(0.001) * ((col("vec_id") + i) % 7 - 3).cast("double"))
            .as("qv"))
        .select(col("qid").as("vec_id"), col("qv").as("embedding"))
        .cache()
      val nQ = q.count()
      val out = nprobes.map { np =>
        val t0 = System.nanoTime()
        val top1 = Similarity
          .ivfPqResidualTopKPacked(q, cents, index, book, packed,
            m = pqM, topK = 1, nprobe = np)
          .filter(col("rank") === 1)
        val recall = q.select(col("vec_id").as("qid"))
          .join(top1, Seq("qid"), "left")
          .agg(avg(when(col("cid") === col("qid") - 30000, 1.0)
            .otherwise(0.0)).as("r"))
          .head().getDouble(0)
        val sec = (System.nanoTime() - t0) / 1e9
        val line = f"""{"sf":"$sf","m":$pqM,"k":$pqK,"nprobe":$np,"n_queries":$nQ,"recall_at_1":$recall%.4f,"serve_sec":$sec%.3f}"""
        println(line)
        line
      }
      Seq(cents, index, book, packed, q).foreach(_.unpersist())
      out
    }
    Files.writeString(Paths.get("RECALL_SWEEP.json"),
      rows.flatten.mkString("", "\n", "\n"))
    spark.stop()
  }
}
