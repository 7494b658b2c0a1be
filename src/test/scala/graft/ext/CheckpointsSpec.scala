package graft.ext

import graft.SparkSpec
import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(1, 2, 3).toDF("x").select(col("x") * 2 as "y")

  /** The reliable checkpoint file behind a cut frame (None when the cut
    * is executor-local). */
  private def ckFile(cut: DataFrame): Option[String] =
    cut.queryExecution.logical.collectFirst { case l: LogicalRDD => l.rdd }
      .get.getCheckpointFile

  private def files(d: Path): Long =
    Files.walk(d).iterator().asScala.count(Files.isRegularFile(_))

  test("with a context checkpoint dir every cut writes under it and " +
      "returns the local rows; with none, nothing is written") {
    val cuts = Seq[(String, DataFrame => DataFrame)](
      "cut" -> Checkpoints.cut, "cutLazy" -> Checkpoints.cutLazy,
      "spreadCut" -> Checkpoints.spreadCut)
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    for ((name, cut) <- cuts) {
      val local = cut(df)
      val want = local.as[Int].collect().sorted.toSeq
      assert(want == Seq(2, 4, 6), name)
      assert(ckFile(local).isEmpty, s"$name wrote a checkpoint file")
      val d = SparkSpec.tempDir(s"ck-$name")
      SparkSpec.withCheckpointDir(d.toString) {
        val durable = cut(df)
        assert(durable.as[Int].collect().sorted.toSeq == want, name)
        assert(ckFile(durable).exists(_.contains(d.getFileName.toString)),
          s"$name: ${ckFile(durable)} is not under $d")
      }
      assert(files(d) > 0, s"$name wrote nothing under the checkpoint dir")
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "withCheckpointDir must clear the dir it set")
  }
}
