package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer. `parent` is the id of the enclosing span
  * (-1 at the top); `run` identifies the benchmark run. */
final case class Span(id: Int, parent: Int, name: String, run: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. Spans are kept until the run ends and then
  * written out as JSON lines; nothing is recorded while disabled. */
final class Spans(run: String) {
  var enabled = false
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, run, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** name -> (count, total seconds, self seconds); self time is a span's
    * duration minus the time its direct children cover. */
  def summary: Map[String, (Int, Double, Double)] = {
    val childNs = done.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    done.groupBy(_.name).map { case (n, ss) =>
      val total = ss.map(s => s.endNs - s.startNs).sum
      val self = ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum
      n -> (ss.size, total / 1e9, self / 1e9)
    }
  }

  def write(path: String): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = done.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${q(s.name)},""" +
        s""""run":${q(s.run)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

/** Scheduler counters of the jobs submitted under one scope label. */
final class SchedAgg {
  var jobs = 0
  var stages = 0
  var tasks = 0
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var output = 0L

  def add(o: SchedAgg): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs ++= o.taskMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; output += o.output
  }
}

/** Attributes every job, stage and task to the scope label that was set
  * (as a local property) on the thread that submitted the job. Jobs with
  * no label are not counted. */
final class SchedListener extends SparkListener {
  private val byScope = mutable.HashMap.empty[String, SchedAgg]
  private val stageScope = mutable.HashMap.empty[Int, String]

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    Option(j.properties).flatMap(p => Option(p.getProperty(Ctx.ScopeKey)))
      .foreach { scope =>
        byScope.getOrElseUpdate(scope, new SchedAgg).jobs += 1
        j.stageIds.foreach(stageScope(_) = scope)
      }
  }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageScope.get(s.stageInfo.stageId).foreach(sc =>
        byScope(sc).stages += 1)
    }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    stageScope.get(t.stageId).foreach { sc =>
      val a = byScope(sc)
      a.tasks += 1
      if (t.taskInfo != null) a.taskMs += t.taskInfo.duration
      val m = t.taskMetrics
      if (m != null) {
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
        a.output += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Merged counters of every scope whose label satisfies `p`. */
  def collect(p: String => Boolean): SchedAgg = synchronized {
    val out = new SchedAgg
    byScope.foreach { case (k, v) => if (p(k)) out.add(v) }
    out
  }
}

/** Per-trigger progress of the streaming queries run while tracing. */
final class StreamListener extends StreamingQueryListener {
  @volatile var recording = false
  val progress = mutable.ArrayBuffer.empty[
    org.apache.spark.sql.streaming.StreamingQueryProgress]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (recording) synchronized { progress += e.progress }
}

/** What every workload shares: the session, the run's options, and the
  * instrumentation. `call` times one call into the program; while
  * tracing is on it also records a span and labels the call's Spark
  * jobs with `label`. */
final class Ctx(val spark: SparkSession, val data: String, val work: String,
                val seed: Long, val seconds: Double, val trace: Boolean,
                val corrupt: Boolean) {
  val spans = new Spans(s"seed-$seed")
  val sched = new SchedListener
  val stream = new StreamListener
  if (trace) {
    spark.sparkContext.addSparkListener(sched)
    spark.streams.addListener(stream)
  }
  private var scopes = List.empty[String]

  /** Turn span and job recording on or off (traced runs alternate). */
  def tracing(on: Boolean): Unit = {
    spans.enabled = trace && on
    stream.recording = trace && on
  }

  def call[T](label: String)(body: => T): (T, Double) = {
    val sc = spark.sparkContext
    val outer = scopes
    if (spans.enabled) {
      scopes = label :: scopes
      sc.setLocalProperty(Ctx.ScopeKey, label)
    }
    val t0 = System.nanoTime()
    try {
      val r = spans(label)(body)
      (r, (System.nanoTime() - t0) / 1e9)
    } finally if (spans.enabled) {
      scopes = outer
      sc.setLocalProperty(Ctx.ScopeKey, outer.headOption.orNull)
    }
  }

  def time(label: String)(body: => Any): Double = call(label)(body)._2

  /** Block until the listeners have seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** The scheduler metrics of every labelled job, per round, over
    * `rounds` rounds of `wallS` seconds in all (busy share against all
    * cores). */
  def schedMetrics(rounds: Double, wallS: Double): Map[String, Double] = {
    drain()
    val a = sched.collect(_ => true)
    val d = a.taskMs.sorted
    val cores = spark.sparkContext.defaultParallelism
    val per = math.max(rounds, 1.0)
    Map(
      "spark.jobs" -> a.jobs / per,
      "spark.stages" -> a.stages / per,
      "spark.tasks" -> a.tasks / per,
      "spark.task_ms_sum" -> d.sum / per,
      "spark.task_ms_p50" -> (if (d.isEmpty) 0.0 else d(d.size / 2).toDouble),
      "spark.task_ms_max" -> (if (d.isEmpty) 0.0 else d.last.toDouble),
      "spark.busy_share" ->
        (if (wallS <= 0) 0.0 else d.sum / 1000.0 / (wallS * cores)),
      "spark.shuffle_read_bytes" -> a.shuffleRead / per,
      "spark.shuffle_write_bytes" -> a.shuffleWrite / per,
      "spark.spill_bytes" -> a.spill / per,
      "spark.output_bytes" -> a.output / per)
  }

  def jobsIn(p: String => Boolean): Int = { drain(); sched.collect(p).jobs }
}

object Ctx {
  val ScopeKey = "perfbench.scope"
}
