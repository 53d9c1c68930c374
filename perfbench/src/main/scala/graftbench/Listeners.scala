package graftbench

import java.time.Instant
import java.util.Properties

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** The execution the harness is running now. Listener events are
  * delivered asynchronously, but the harness drains the listener bus
  * after every execution, so an event delivered while `id` is set
  * belongs to that execution. */
object Current {
  @volatile var id: String = ""
}

/** Micro-batch progress, as a user of a streaming query sees it. Always
  * registered: `batch_p50_ms` and `events_per_s` are end-to-end metrics. */
final class ProgressCollector extends StreamingQueryListener {
  val starts = ArrayBuffer.empty[Map[String, Any]]
  val batches = ArrayBuffer.empty[Map[String, Any]]

  override def onQueryStarted(e: QueryStartedEvent): Unit = synchronized {
    starts += Map("exec" -> Current.id, "run" -> e.runId.toString,
      "start_ms" -> Instant.parse(e.timestamp).toEpochMilli)
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val ops = p.stateOperators.toSeq.map { s =>
      Map("op" -> s.operatorName, "rows" -> s.numRowsTotal,
        "mem_bytes" -> s.memoryUsedBytes, "commit_ms" -> s.commitTimeMs,
        "custom" -> s.customMetrics.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    }
    batches += Map("exec" -> Current.id, "run" -> p.runId.toString,
      "batch" -> p.batchId, "start_ms" -> Instant.parse(p.timestamp).toEpochMilli,
      "rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "state" -> ops)
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  def clear(): Unit = synchronized { starts.clear(); batches.clear() }
}

/** Spark jobs, stages and Catalyst phases of the traced passes. Jobs and
  * stages carry the harness's local properties (execution id and
  * build/exec phase); a job's call site names the first frame outside
  * Spark, e.g. `parquet at Tables.scala:13`. Jobs that adaptive execution
  * submits for its query stages run on a Spark thread pool, so their own
  * call site names no library frame; `sql_site` keeps the call site of
  * the SQL execution they belong to. */
final class Tracer extends SparkListener with QueryExecutionListener {
  val jobs = ArrayBuffer.empty[Map[String, Any]]
  val jobEnds = scala.collection.mutable.Map.empty[Int, Long]
  val stages = ArrayBuffer.empty[Map[String, Any]]
  val plans = ArrayBuffer.empty[Map[String, Any]]
  private val stageProps = scala.collection.mutable.Map.empty[(Int, Int), Map[String, Any]]
  private val sqlSites = scala.collection.mutable.Map.empty[String, String]

  private def tags(p: Properties): Map[String, Any] = {
    def get(k: String) = Option(p).flatMap(q => Option(q.getProperty(k))).getOrElse("")
    Map("exec" -> get(Harness.ExecKey), "phase" -> get(Harness.PhaseKey),
      "site" -> get("callSite.short"), "sql" -> get("spark.sql.execution.id"),
      "stream" -> get("sql.streaming.queryId").nonEmpty)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val t = tags(e.properties)
    // Without an explicit call site, the job's is its result stage's
    // name: the last stage the job created.
    val site = if (t("site") != "") t("site")
      else e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    jobs += t ++ Map("site" -> site, "job" -> e.jobId, "start_ms" -> e.time)
  }

  // the description of a SQL execution is its caller's short call site
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { sqlSites(s.executionId.toString) = s.description }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnds(e.jobId) = e.time
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageProps((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = tags(e.properties)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    val base = stageProps.remove((si.stageId, si.attemptNumber())).getOrElse(tags(null))
    stages += base ++ Map(
      "tasks" -> si.numTasks,
      "run_ms" -> m.executorRunTime,
      "cpu_ns" -> m.executorCpuTime,
      "gc_ms" -> m.jvmGCTime,
      "input_bytes" -> m.inputMetrics.bytesRead,
      "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
      "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "spill_bytes" -> m.diskBytesSpilled)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    plan(qe)

  private def plan(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(p => p.endTimeMs - p.startTimeMs).sum
    plans += Map("exec" -> Current.id, "plan_ms" -> ms)
  }

  def jobRows: Seq[Map[String, Any]] = synchronized {
    jobs.toSeq.map(j => j + ("end_ms" -> jobEnds.getOrElse(j("job").asInstanceOf[Int], -1L)) +
      ("sql_site" -> sqlSites.getOrElse(j("sql").toString, "")))
  }
}
