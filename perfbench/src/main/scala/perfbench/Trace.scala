package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw per-layer events of a traced window, recorded from outside the
  * engine: a SparkListener for jobs, stages and tasks, and a
  * QueryExecutionListener for each executed command's Catalyst phases and
  * final plan. Records stay in memory as JSON objects and are written out
  * when the run ends; spans and per-layer totals are derived from them
  * afterwards (perfbench/benchlib.py). */
final class Trace extends SparkListener with QueryExecutionListener {
  private val buf = ArrayBuffer[String]()
  private def add(fields: (String, Any)*): Unit =
    buf.synchronized { buf += Json.obj(fields: _*) }

  def records: Seq[String] = buf.synchronized(buf.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).orNull
    add("kind" -> "job", "job" -> e.jobId, "t0" -> e.time,
      "group" -> prop("spark.jobGroup.id"),
      "exec_id" -> prop("spark.sql.execution.id"),
      "stages" -> e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    add("kind" -> "job_end", "job" -> e.jobId, "t1" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      add("kind" -> "sql", "exec_id" -> s.executionId, "t0" -> s.time,
        "group" -> s.jobGroupId)
    case s: SparkListenerSQLExecutionEnd =>
      add("kind" -> "sql_end", "exec_id" -> s.executionId, "t1" -> s.time,
        "query_id" -> Bridge.queryId(s))
    case _ =>
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    add("kind" -> "stage", "stage" -> s.stageId, "attempt" -> s.attemptNumber(),
      "t0" -> s.submissionTime.getOrElse(0L),
      "t1" -> s.completionTime.getOrElse(0L), "tasks" -> s.numTasks,
      "failed" -> s.failureReason.isDefined)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m == null) {
      add("kind" -> "task", "stage" -> e.stageId,
        "stage_attempt" -> e.stageAttemptId, "attempt" -> i.attemptNumber,
        "ok" -> i.successful, "t0" -> i.launchTime, "t1" -> i.finishTime)
      return
    }
    val sr = m.shuffleReadMetrics
    val sw = m.shuffleWriteMetrics
    add("kind" -> "task", "stage" -> e.stageId,
        "stage_attempt" -> e.stageAttemptId, "attempt" -> i.attemptNumber,
      "ok" -> i.successful, "t0" -> i.launchTime, "t1" -> i.finishTime,
      "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
      "gc_ms" -> m.jvmGCTime, "deser_ms" -> m.executorDeserializeTime,
      "ser_ms" -> m.resultSerializationTime,
      "get_ms" -> (if (i.gettingResult) i.finishTime - i.gettingResultTime
        else 0L),
      "in_bytes" -> m.inputMetrics.bytesRead,
      "in_rows" -> m.inputMetrics.recordsRead,
      "out_bytes" -> m.outputMetrics.bytesWritten,
      "out_rows" -> m.outputMetrics.recordsWritten,
      "sw_bytes" -> sw.bytesWritten, "sw_ns" -> sw.writeTime,
      "sr_bytes" -> (sr.remoteBytesRead + sr.localBytesRead),
      "fetch_ms" -> sr.fetchWaitTime,
      "spill_mem" -> m.memoryBytesSpilled, "spill_disk" -> m.diskBytesSpilled,
      "peak_mem" -> m.peakExecutionMemory)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = command(funcName, qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = command(funcName, qe, ok = false)

  private def command(funcName: String, qe: QueryExecution,
      ok: Boolean): Unit = {
    val t = qe.tracker
    val phases = t.phases.toSeq.map { case (k, p) =>
      k -> Json.Raw(Json.obj("t0" -> p.startTimeMs, "t1" -> p.endTimeMs))
    }
    val rules = t.rules.values
    val nodes = try Trace.walk(qe.executedPlan).toList
      catch { case _: Exception => Nil }
    add("kind" -> "command", "query_id" -> qe.id, "func" -> funcName,
      "ok" -> ok, "phases" -> Json.Raw(Json.obj(phases: _*)),
      "rule_calls" -> rules.map(_.numInvocations).sum,
      "rule_effective" -> rules.map(_.numEffectiveInvocations).sum,
      "exchanges" -> nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      "broadcasts" -> nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
      "scan_ms" -> nodes.collect { case s: FileSourceScanExec =>
        s.metrics.get("scanTime").map(_.value).getOrElse(0L)
      }.sum)
  }
}

object Trace {
  /** Every node of an executed plan, looking through adaptive wrappers
    * and query stages into the final plan; a reused exchange is counted
    * once, where it was built. */
  def walk(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case _: ReusedExchangeExec => Iterator.empty
    case other =>
      Iterator(other) ++ (other.children ++ other.subqueries).iterator
        .flatMap(walk)
  }
}
