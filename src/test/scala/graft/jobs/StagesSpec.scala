package graft.jobs

import graft.SparkSpec
import graft.jobs.stages._

/** The deployment face: run every per-stage main in the reference DAG
  * order over sf0.001, exchanging parquet tables through a temp lake,
  * and adjudicate that the STAGED composition lands exactly what the
  * in-process [[DailyChain]] composition computes from the same landed
  * inputs — the two faces of the chain may never diverge. */
class StagesSpec extends SparkSpec {

  private val fixture = "/root/testdata/sf0.001"

  test("staged mains run the reference chain end-to-end and match the " +
      "in-process DailyChain on every output table") {
    val lake = SparkSpec.tempDir("graft-lake").toString
    // the reference DAG order: 000 -> 001 -> 011 -> 012 -> 013 -> 021
    // -> 041 -> 050 -> 060 (parallel branches run fine sequentially)
    Stage000LandTables.main(Array(fixture, lake))
    Stage001ParkFactor.main(Array(lake))
    Stage011HitterWoba.main(Array(lake))
    Stage012HitterWrc.main(Array(lake))
    Stage013HitterRates.main(Array(lake))
    Stage021PitcherMetrics.main(Array(lake))
    Stage041HitterMetrics.main(Array(lake))
    Stage050HitterRecords.main(Array(lake))
    Stage060PitcherRecords.main(Array(lake))
    // the standalone 070 DAG (reference runs it as its own cron)
    Stage070FiveInnings.main(Array(lake))

    def landed(t: String) = StageIO.read(spark, lake, t)

    // in-process chain over the SAME landed inputs, plus the 070
    // transform recomputed from the landed scoreboard
    val expected = DailyChain.run(
      landed("game_records"), landed("hitters"), landed("pitchers"),
      landed("today_lineup"), landed("hitter_opponents"),
      landed("hitter_stadiums"), landed("hitter_games"),
      landed("pitcher_opponents"), landed("pitcher_stadiums"),
      landed("pitcher_games")) +
      ("game_records_until_5_innings" ->
        graft.kbo.Metrics.fiveInningResult(landed("scoreboard")))

    expected.foreach { case (table, exp) =>
      val got = landed(table)
      assert(got.count() > 0, s"$table is empty")
      assert(got.columns.sorted.sameElements(exp.columns.sorted),
        s"$table columns diverge")
      val cols = exp.columns.sorted.toSeq
      val canon = (df: org.apache.spark.sql.DataFrame) =>
        df.selectExpr(cols.map(c => s"`$c`"): _*)
          .collect().map(_.toString).sorted.toSeq
      assert(canon(got) == canon(exp), s"$table rows diverge")
    }
  }
}
