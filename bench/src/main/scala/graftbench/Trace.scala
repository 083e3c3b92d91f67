package graftbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for one traced pass.
  *
  * The harness opens spans around its own calls (pass, query, build,
  * sink write) and tags the driver thread with the innermost span id, so
  * every Spark job the engine submits carries its parent span in the job
  * properties. Jobs and planning phases arrive through the listeners
  * below; nothing inside the engine is instrumented. Times are epoch
  * milliseconds, the clock Spark's own events use.
  */
final class Trace(sc: SparkContext, passId: Int) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val qes = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var nextId = 0

  /** Runs `body` inside a span of `kind`, nested under `parent`. */
  def span[T](kind: String, name: String, parent: Int)(body: Int => T): T = {
    val id = { nextId += 1; nextId }
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id.toString)
    val start = System.currentTimeMillis()
    try body(id)
    finally {
      val end = System.currentTimeMillis()
      sc.setLocalProperty(SpanKey, prev)
      synchronized {
        spans += mutable.Map("id" -> id, "parent" -> parent, "pass" -> passId,
          "kind" -> kind, "name" -> name, "start_ms" -> start, "end_ms" -> end)
      }
    }
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(0)
      e.stageIds.foreach(stageJob(_) = e.jobId)
      jobs(e.jobId) = mutable.Map("id" -> e.jobId, "parent" -> span,
        "pass" -> passId, "kind" -> "job", "start_ms" -> e.time,
        "end_ms" -> e.time) ++ counters.map(_ -> 0L)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_("end_ms") = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { add(e.stageInfo.stageId, "stages", 1L) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = e.stageId
      add(s, "tasks", 1L)
      if (e.reason != Success) add(s, "task_failures", 1L)
      val m = e.taskMetrics
      if (m != null) {
        add(s, "executor_run_ms", m.executorRunTime)
        add(s, "executor_cpu_ns", m.executorCpuTime)
        add(s, "gc_ms", m.jvmGCTime)
        add(s, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add(s, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add(s, "spill_bytes", m.diskBytesSpilled)
      }
    }
  }

  private def add(stage: Int, key: String, v: Long): Unit =
    stageJob.get(stage).flatMap(jobs.get).foreach { j =>
      j(key) = j(key).asInstanceOf[Long] + v
    }

  /** Catalyst phases of every QueryExecution that completes; a new
    * session does not inherit this listener, so each pass registers it
    * on the session it runs. */
  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.map { case (k, p) =>
        k -> Map("start_ms" -> p.startTimeMs, "end_ms" -> p.endTimeMs)
      }
      synchronized { qes += Map("pass" -> passId, "phases" -> phases) }
    }
  }

  def toJson: Map[String, Any] = synchronized {
    Map("spans" -> spans.map(_.toMap).toList,
      "jobs" -> jobs.values.map(_.toMap).toList,
      "qes" -> qes.toList)
  }
}

object Trace {
  val SpanKey = "graftbench.span"
  val counters = Seq("stages", "tasks", "task_failures", "executor_run_ms",
    "executor_cpu_ns", "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes")
}
