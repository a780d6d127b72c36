package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.catalog.CreateTableEvent
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. `kind` is request, sql, job or stage; a span's
  * `parent` is the span that caused it (a job's SQL execution, or its
  * request when it ran outside one); all spans of a request share
  * `request`. Times are epoch milliseconds. */
final case class Span(kind: String, id: String, parent: String,
    request: String, name: String, start: Long, end: Long)

/** Spark-side observer for traced passes: a SparkListener for jobs, stages,
  * tasks and unpersists, plus a QueryExecutionListener for Catalyst phase
  * times. Jobs are tied to the request that caused them by the job group
  * the harness sets before each request. Everything is kept in memory;
  * the harness drains the listener bus before reading it. */
final class Trace extends SparkListener with QueryExecutionListener {
  // per-pass counters, reset by `reset`
  val counts: mutable.Map[String, Double] =
    mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val unpersisted = mutable.Set.empty[Int]
  val createdTables = mutable.ArrayBuffer.empty[String]
  // spans for the whole run
  val spans = mutable.ArrayBuffer.empty[Span]

  private val jobStart = mutable.Map.empty[Int, (Long, String, String)]
  private val stageJob = mutable.Map.empty[Int, (String, String)]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val sqlStart = mutable.Map.empty[Long, (Long, String)]
  private val sqlRequest = mutable.Map.empty[Long, String]

  def reset(): Unit = synchronized {
    counts.clear(); jobIntervals.clear(); unpersisted.clear()
    createdTables.clear()
  }

  private def add(k: String, v: Double): Unit = counts(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val sqlId = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    sqlId.foreach(s => sqlRequest.getOrElseUpdate(s.toLong, group))
    val parent = sqlId.map("sql-" + _).getOrElse(group)
    jobStart(e.jobId) = (e.time, group, parent)
    e.stageIds.foreach(s => stageJob(s) = (s"job-${e.jobId}", group))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, group, parent) =>
      add("jobs", 1)
      jobIntervals += ((t0, e.time))
      spans += Span("job", s"job-${e.jobId}", parent, group,
        s"job ${e.jobId}", t0, e.time)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageSubmitted(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      add("stages", 1)
      val (job, group) = stageJob.getOrElse(si.stageId, ("", ""))
      spans += Span("stage", s"stage-${si.stageId}.${si.attemptNumber()}",
        job, group, si.name, si.submissionTime.getOrElse(0L),
        si.completionTime.getOrElse(0L))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    if (!e.taskInfo.successful) add("tasks_failed", 1)
    stageSubmitted.get(e.stageId).foreach { s =>
      add("task_queue_ms", math.max(0L, e.taskInfo.launchTime - s).toDouble)
    }
    Option(e.taskMetrics).foreach { m =>
      add("run_ms", m.executorRunTime.toDouble)
      add("cpu_ns", m.executorCpuTime.toDouble)
      add("gc_ms", m.jvmGCTime.toDouble)
      add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spill_memory_bytes", m.memoryBytesSpilled.toDouble)
      add("spill_disk_bytes", m.diskBytesSpilled.toDouble)
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
    synchronized { unpersisted += e.rddId }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlStart(s.executionId) = (s.time, s.description)
      case s: SparkListenerSQLExecutionEnd =>
        sqlStart.remove(s.executionId).foreach { case (t0, desc) =>
          val req = sqlRequest.remove(s.executionId).getOrElse("")
          spans += Span("sql", s"sql-${s.executionId}", req, req,
            desc.take(80), t0, s.time)
        }
      case c: CreateTableEvent => createdTables += c.name
      case _ => ()
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    add("executions", 1)
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      ph.get(p).foreach(s => add(s"${p}_ms", s.durationMs.toDouble))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = phases(qe)

  /** Wall time covered by at least one job, in seconds. */
  def jobBusySeconds: Double = synchronized {
    val sorted = jobIntervals.sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    sorted.foreach { case (s, e) =>
      if (curE < 0 || s > curE) {
        if (curE >= 0) busy += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE >= 0) busy += curE - curS
    busy / 1000.0
  }
}
