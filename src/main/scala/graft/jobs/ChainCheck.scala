package graft.jobs

import graft.jobs.stages.StageIO

/** CI adjudicator for the deployment face: given a lake directory the
  * staged mains have run over (see `tools/run_dag_smoke.py`, which
  * executes `deploy/airflow/graft_daily_chain_dag.py`'s wiring), read
  * the landed INPUT tables, recompute every chain output with the
  * in-process [[DailyChain]] composition, and fail loudly if any
  * landed OUTPUT table diverges — the same equality StagesSpec proves
  * in-JVM, exposed as a spark-submit-able main so an orchestrated run
  * (Airflow, the smoke runner, a real cluster) can assert it
  * end-to-end. Exit 0 and `[chaincheck] PASS` on equality. */
object ChainCheck {
  def main(args: Array[String]): Unit = {
    val Array(lake) = args
    val s = graft.core.Session("graft-chain-check")
    def landed(t: String) = StageIO.read(s, lake, t)
    val expected = DailyChain.run(
      landed("game_records"), landed("hitters"), landed("pitchers"),
      landed("today_lineup"), landed("hitter_opponents"),
      landed("hitter_stadiums"), landed("hitter_games"),
      landed("pitcher_opponents"), landed("pitcher_stadiums"),
      landed("pitcher_games")) +
      // the standalone 070 DAG's output (graft_five_innings_dag.py):
      // recompute from the landed scoreboard with the same transform
      ("game_records_until_5_innings" ->
        graft.kbo.Metrics.fiveInningResult(landed("scoreboard")))
    var failed = List.empty[String]
    expected.foreach { case (table, exp) =>
      val got = landed(table)
      val cols = exp.columns.sorted.toSeq
      def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.selectExpr(cols.map(c => s"`$c`"): _*)
          .collect().map(_.toString).sorted.toSeq
      val n = got.count()
      if (n == 0) failed ::= s"$table: empty"
      else if (!got.columns.sorted.sameElements(exp.columns.sorted))
        failed ::= s"$table: columns diverge"
      else if (canon(got) != canon(exp))
        failed ::= s"$table: rows diverge from in-process chain"
      else println(s"[chaincheck] $table OK ($n rows)")
    }
    if (failed.nonEmpty) {
      failed.foreach(f => System.err.println(s"[chaincheck] FAIL $f"))
      sys.exit(1)
    }
    println(s"[chaincheck] PASS tables=${expected.size}")
  }
}
