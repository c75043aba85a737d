package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/** Spark work done between two instants: the counters a span carries. */
final case class Work(jobs: Long, stages: Long, tasks: Long, taskMs: Long,
    shuffleBytes: Long, spillBytes: Long, planningMs: Long) {
  def -(o: Work): Work = Work(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskMs - o.taskMs, shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes,
    planningMs - o.planningMs)
}

/** Counts Spark work session-wide: jobs, stages and tasks from the scheduler,
  * task run time, shuffle bytes written, bytes spilled, and the planning
  * phases (analysis, optimization, physical planning) of every executed
  * query. Registered only for traced runs. */
final class WorkCounter extends SparkListener with QueryExecutionListener {
  private val jobs, stages, tasks, taskMs, shuffle, spill, planning = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planning.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()

  def now: Work = Work(jobs.get, stages.get, tasks.get, taskMs.get, shuffle.get,
    spill.get, planning.get)
}

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that was open when this one started (-1 for none); spans of one request
  * share `req`. */
final case class Span(id: Int, parent: Int, name: String, req: Int,
    startNs: Long, endNs: Long, work: Work) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder for the traced run. Spans are opened and closed on one
  * thread (the traced run is sequential), kept in memory and written out
  * when the run ends. With `enabled = false` every call is a plain call. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val counter = new WorkCounter
  if (enabled) {
    spark.sparkContext.addSparkListener(counter)
    spark.listenerManager.register(counter)
  }
  private val done = ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var nextId = 0
  private var ownNs = 0L

  /** Reads the counters once every event posted so far is delivered. */
  private def work(): Work = {
    val t0 = System.nanoTime()
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val w = counter.now
    ownNs += System.nanoTime() - t0
    w
  }

  /** Time the tracer itself has held up its caller, in ms: waiting for the
    * listener bus and reading the counters at span boundaries. */
  def overheadMs: Double = ownNs / 1e6

  def span[A](name: String, req: Int = -1)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val w0 = work()
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        val w1 = work()
        open = open.tail
        done += Span(id, parent, name, req, t0, t1, w1 - w0)
      }
    }

  def spans: Seq[Span] = done.toSeq
  def named(name: String): Seq[Span] = done.filter(_.name == name).toSeq

  def write(path: String): Unit = {
    val t0 = done.map(_.startNs).minOption.getOrElse(0L)
    val lines = done.sortBy(_.startNs).map { s =>
      val w = s.work
      JsonMethods.compact(JsonMethods.render(
        ("id" -> s.id) ~ ("parent" -> s.parent) ~ ("name" -> s.name) ~ ("req" -> s.req) ~
          ("start_ms" -> (s.startNs - t0) / 1e6) ~ ("end_ms" -> (s.endNs - t0) / 1e6) ~
          ("jobs" -> w.jobs) ~ ("stages" -> w.stages) ~ ("tasks" -> w.tasks) ~
          ("task_ms" -> w.taskMs) ~ ("shuffle_bytes" -> w.shuffleBytes) ~
          ("spill_bytes" -> w.spillBytes) ~ ("planning_ms" -> w.planningMs)))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
