package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev profiler: for each named query, a warm run (JIT, codegen,
  * footers), then a profiled run. Prints the query's final
  * `explain("formatted")` plan (as AQE re-planned it at runtime), then
  * its job/stage/task shape — how many jobs the query submits, each
  * job's wall time, and per-stage task counts/total task time. The
  * diagnostic for "is this slow because of one heavy stage or a
  * hundred tiny ones" (guide §1/§2.2), and for a stage whose task
  * count collapsed to 1; a query that anti-scales with cores usually
  * shows up here as dozens of sub-100 ms jobs.
  *
  * Usage: runMain graft.JobProf <sfDir> <q1[,q2,…]>
  * (cores from SPARK_GRAFT_CPUS, see [[graft.core.Session]]).
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, list) = args
    val names = SparkEntry.named(list)
    val spark = graft.core.Session("graft-jobprof")
    val sc = spark.sparkContext

    case class St(var name: String = "", var tasks: Int = 0,
      var taskMs: Long = 0L, var t0: Long = 0L, var wallMs: Long = 0L,
      durs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty)
    val jobs = mutable.LinkedHashMap[Int, (Long, Long)]() // id -> (t0, t1)
    val stages = mutable.LinkedHashMap[Int, St]()
    val stageJob = mutable.HashMap[Int, Int]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs(j.jobId) = (System.nanoTime(), 0L)
        j.stageIds.foreach(sid => stageJob(sid) = j.jobId)
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobs.get(j.jobId).foreach { case (t0, _) =>
          jobs(j.jobId) = (t0, System.nanoTime()) }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
        val st = stages.getOrElseUpdate(s.stageInfo.stageId, St())
        st.name = s.stageInfo.name.takeWhile(_ != '\n').take(90)
        st.t0 = System.nanoTime()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.get(s.stageInfo.stageId).foreach { st =>
          st.wallMs = (System.nanoTime() - st.t0) / 1000000 }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        stages.get(t.stageId).foreach { st =>
          st.tasks += 1
          if (t.taskInfo != null) {
            st.taskMs += t.taskInfo.duration
            st.durs += t.taskInfo.duration
          }
        }
    })

    names.foreach { q =>
      SparkEntry.queries(q)(spark, sfDir).queryExecution.toRdd.count()
      // the listener-bus thread fills the maps: let it deliver every
      // event of the warm run before clearing, and of the profiled run
      // before reading
      ListenerBusDrain.drain(sc)
      jobs.clear(); stages.clear(); stageJob.clear()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.queryExecution.toRdd.count()
      val wall = (System.nanoTime() - t0) / 1e9
      ListenerBusDrain.drain(sc)

      println(s"\n===== $q =====")
      df.explain("formatted")
      println(f"=== $q wall ${wall}%.2f s, ${jobs.size} jobs, ${stages.size} stages ===")
      val byJob = stages.groupBy(kv => stageJob.getOrElse(kv._1, -1))
      jobs.foreach { case (jid, (a, b)) =>
        val ms = if (b > 0) (b - a) / 1000000 else -1
        val ss = byJob.getOrElse(jid, Map.empty)
        val tk = ss.values.map(_.tasks).sum
        println(f"job $jid%3d  ${ms}%6d ms  ${ss.size}%2d stages ${tk}%4d tasks")
        ss.toSeq.sortBy(_._1).foreach { case (sid, st) =>
          val d = st.durs.sorted
          val med = if (d.isEmpty) 0L else d(d.size / 2)
          val mx = if (d.isEmpty) 0L else d.last
          println(f"    stage $sid%4d ${st.wallMs}%6d ms wall ${st.taskMs}%6d ms task-sum ${st.tasks}%4d tasks med=${med}%5d max=${mx}%6d  ${st.name}")
        }
      }
    }
    spark.stop()
  }
}
