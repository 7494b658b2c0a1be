package graft

import graft.core.Tables
import graft.ext.{Bpe, Hashing}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** BPE training wall-clock at production merge counts (VERDICT r8 #8).
  *
  * [[graft.ext.Bpe.train]] runs R sequential pair-count rounds — the
  * inherent BPE dependency chain — so its wall-clock is
  * R x (scheduler floor + pair-agg). This main measures where that
  * lands at sf0.1 for growing R, against [[graft.ext.Bpe.trainBatched]]
  * (up to `batch` non-interacting rules per round), so the NOTES table
  * records measured numbers instead of the r8 verdict's extrapolation.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_BPE_SEQ_RS (default "64,256" — sequential rounds get
  * expensive fast), SPARK_GRAFT_BPE_BATCH_RS (default "256,1024,4096"),
  * SPARK_GRAFT_BPE_BATCH (default 32).
  * Output: one JSON line per measurement to stdout + BPE_BENCH.json.
  */
object BpeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Session("graft-bpe-bench")

    def rs(env: String, dflt: String): Seq[Int] =
      sys.env.getOrElse(env, dflt).split(",").map(_.trim.toInt).toSeq
    val seqRs = rs("SPARK_GRAFT_BPE_SEQ_RS", "64,256")
    val batchRs = rs("SPARK_GRAFT_BPE_BATCH_RS", "256,1024,4096")
    val batch = sys.env.getOrElse("SPARK_GRAFT_BPE_BATCH", "32").toInt

    val toks = Tables.documents(spark, sfDir)
      .select(Hashing.tokens(col("text")).as("tk"))

    def time(tag: String, r: Int, f: () => org.apache.spark.sql.DataFrame)
        : String = {
      val t0 = System.nanoTime()
      val n = f().count()
      val sec = (System.nanoTime() - t0) / 1e9
      val line =
        f"""{"path":"$tag","merges":$r,"rows":$n,"sec":$sec%.2f,"sf":"$sfDir"}"""
      println(line)
      line
    }

    val trainLines =
      seqRs.map(r => time("sequential", r,
        () => Bpe.train(toks, "tk", merges = r))) ++
      batchRs.map(r => time(s"batched($batch)", r,
        () => Bpe.trainBatched(toks, "tk", merges = r, batch = batch)))

    // ---- encode at production rule counts (VERDICT r9 #7) ----------
    // The sf0.1 fixture vocabulary saturates near 90 learnable merges
    // (the train rows above), far below a production tokenizer's
    // 1k-100k. Enrich the word space deterministically: every token
    // occurrence gets a per-(token, doc) base-36 suffix, so distinct
    // words (and so learnable pairs) grow to corpus scale while the
    // text length distribution stays fixture-shaped. Then measure the
    // two encoders against the SAME trained artifact:
    //  - encode (production): one mapPartitions fold, plan flat in R;
    //  - encodeSqlFold (oracle twin): R sequential literal-replace
    //    projections — scheduler-bound linear in R by construction,
    //    which is WHY it is capped here (SPARK_GRAFT_BPE_FOLD_CAP,
    //    default 1024) and the local path is the deployment one.
    val encodeRs = rs("SPARK_GRAFT_BPE_ENCODE_RS", "256,1024,4096")
    val foldCap = sys.env.getOrElse("SPARK_GRAFT_BPE_FOLD_CAP", "1024").toInt
    val rich = Tables.documents(spark, sfDir)
      .select(col("doc_id"), Hashing.tokens(col("text")).as("tk0"))
      .select(col("doc_id"), transform(col("tk0"), t =>
        concat(t, lit("_"), conv(pmod(xxhash64(concat(t, lit("#"),
          col("doc_id"))), lit(1296L)).cast("string"), 10, 36)))
        .as("tk"))
      .localCheckpoint()
    val t0 = System.nanoTime()
    val rules = Bpe.trainBatched(rich, "tk", merges = encodeRs.max,
      batch = batch).localCheckpoint()
    val nRules = rules.count()
    val trainRichLine =
      f"""{"path":"train_rich_batched($batch)","merges":${encodeRs.max},"rules":$nRules,"sec":${(System.nanoTime() - t0) / 1e9}%.2f,"sf":"$sfDir"}"""
    println(trainRichLine)
    val encodeLines = encodeRs.flatMap { r =>
      val sub = rules.filter(col("step") <= r)
      val local = time("encode_local", r,
        () => Bpe.encode(rich, "doc_id", "tk", sub))
      if (r <= foldCap)
        Seq(local, time("encode_fold", r,
          () => Bpe.encodeSqlFold(rich, "doc_id", "tk", sub)))
      else Seq(local)
    }

    Files.writeString(Paths.get("BPE_BENCH.json"),
      (trainLines ++ Seq(trainRichLine) ++ encodeLines)
        .mkString("", "\n", "\n"))
    spark.stop()
  }
}
