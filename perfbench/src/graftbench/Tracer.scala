package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what Spark's public listeners report while the traced run
  * executes: jobs, stages (with their aggregated task metrics), per-task
  * durations and peak memory, finished query executions (plan phases,
  * physical-plan size, operator row counts, files written) and streaming
  * micro-batch progress. Everything stays in memory and is handed to the
  * run record at the end; spans are derived from it there.
  *
  * Attach once per process with [[attach]] and remove with [[detach]].
  */
final class Tracer {
  private val jobs = mutable.LinkedHashMap[Int, mutable.Map[String, Any]]()
  private val stages = mutable.LinkedHashMap[(Int, Int), mutable.Map[String, Any]]()
  private val stageJob = mutable.Map[Int, Int]()
  private val taskTimes = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()
  private val taskPeak = mutable.Map[(Int, Int), Long]()
  private val taskFailed = mutable.Map[(Int, Int), Int]()
  private val queries = mutable.ArrayBuffer[Map[String, Any]]()
  private val batches = mutable.ArrayBuffer[Map[String, Any]]()

  private var sc: SparkContext = _
  private var session: SparkSession = _

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock {
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      jobs(e.jobId) = mutable.Map("id" -> e.jobId, "start_ms" -> e.time,
        "stages" -> e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock {
      jobs.get(e.jobId).foreach { j =>
        j("end_ms") = e.time
        j("ok") = e.jobResult == JobSucceeded
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock {
      val key = (e.stageId, e.stageAttemptId)
      if (e.taskInfo != null) {
        taskTimes.getOrElseUpdate(key, mutable.ArrayBuffer()) += e.taskInfo.duration
        if (!e.taskInfo.successful)
          taskFailed(key) = taskFailed.getOrElse(key, 0) + 1
      }
      if (e.taskMetrics != null)
        taskPeak(key) = math.max(taskPeak.getOrElse(key, 0L),
          e.taskMetrics.peakExecutionMemory)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock {
      val i = e.stageInfo
      val key = (i.stageId, i.attemptNumber())
      val m = i.taskMetrics
      val rec = mutable.Map[String, Any]("id" -> i.stageId,
        "attempt" -> i.attemptNumber(),
        "job" -> stageJob.getOrElse(i.stageId, -1),
        "start_ms" -> i.submissionTime.getOrElse(0L),
        "end_ms" -> i.completionTime.getOrElse(0L),
        "tasks" -> i.numTasks,
        "failed" -> i.failureReason.isDefined,
        "failed_tasks" -> taskFailed.getOrElse(key, 0),
        "task_ms" -> taskTimes.getOrElse(key, Nil).toSeq,
        "peak_task_bytes" -> taskPeak.getOrElse(key, 0L))
      if (m != null) rec ++= Seq(
        "run_ms" -> m.executorRunTime,
        "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "input_bytes" -> m.inputMetrics.bytesRead,
        "input_records" -> m.inputMetrics.recordsRead,
        "output_bytes" -> m.outputMetrics.bytesWritten,
        "output_records" -> m.outputMetrics.recordsWritten,
        "shuffle_read_bytes" -> (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead),
        "shuffle_read_records" -> m.shuffleReadMetrics.recordsRead,
        "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "memory_spill_bytes" -> m.memoryBytesSpilled,
        "disk_spill_bytes" -> m.diskBytesSpilled)
      stages(key) = rec
      taskTimes.remove(key); taskPeak.remove(key); taskFailed.remove(key)
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(f, qe, ns, ok = true)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(f, qe, 0L, ok = false)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = lock {
      batches += Tracer.progress(e.progress)
    }
  }

  private def lock[T](f: => T): T = synchronized(f)

  private def record(f: String, qe: QueryExecution, ns: Long, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> Map("start_ms" -> p.startTimeMs, "end_ms" -> p.endTimeMs)
    }
    val nodes = try Tracer.nodes(qe.executedPlan) catch { case _: Throwable => Nil }
    def metric(p: SparkPlan, name: String): Long =
      p.metrics.get(name).map(_.value).getOrElse(0L)
    val entry = Map[String, Any]("func" -> f, "ok" -> ok,
      "done_ms" -> System.currentTimeMillis(), "duration_ms" -> ns / 1e6,
      "phases" -> phases, "nodes" -> nodes.size,
      "max_rows" -> (0L +: nodes.map(metric(_, "numOutputRows"))).max,
      "files_written" -> nodes.filter(_.nodeName.startsWith("Execute "))
        .map(metric(_, "numFiles")).sum)
    lock { queries += entry }
  }

  def attach(spark: SparkSession): Unit = {
    session = spark; sc = spark.sparkContext
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = if (sc != null) {
    sc.removeSparkListener(sparkListener)
    session.listenerManager.unregister(queryListener)
    session.streams.removeListener(streamListener)
    sc = null
  }

  /** Block until the listener bus has delivered every posted event. */
  def drain(): Unit = if (sc != null) Tracer.drain(sc)

  def snapshot(): Map[String, Any] = lock {
    Map("jobs" -> jobs.values.map(_.toMap).toSeq,
      "stages" -> stages.values.map(_.toMap).toSeq,
      "queries" -> queries.toSeq, "batches" -> batches.toSeq)
  }
}

object Tracer {

  /** Every physical operator of an executed plan, looking through the
    * adaptive wrapper and its query stages into the final plan. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children.flatMap(nodes) ++
      other.subqueries.flatMap(nodes))
  }

  def progress(p: org.apache.spark.sql.streaming.StreamingQueryProgress)
      : Map[String, Any] = Map(
    "batch" -> p.batchId,
    "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
    "rows" -> p.numInputRows,
    "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)

  /** Wait for Spark's listener bus to empty. The bus is not public API,
    * so it is reached reflectively; if that fails, wait for a short quiet
    * period instead. */
  def drain(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      ()
    } catch { case _: Throwable => Thread.sleep(1000) }
}
