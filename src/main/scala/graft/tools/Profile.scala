package graft.tools

import scala.collection.mutable

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ListenerBridge

import graft.{Json, Session, SparkEntry}
import graft.plans.Explain

/** Where one query's wall time goes, as one JSON record per query name:
  *
  *   tools/run_graft.sh graft.tools.Profile <sfDir> <reps> <name>... [k=v]
  *
  * `k=v` arguments are session confs; `graft.artifacts.reuse` is false
  * (standalone cost) unless one is given. Each record holds
  *  - `reps`: per rep, `wall_s` = `construct_s` (DataFrame building,
  *    including eager checkpoints and artifact builds) + `plan_s`
  *    (forcing `executedPlan`) + `exec_s` (the noop write). Rep 1 is
  *    cold: there is no hidden warm-up.
  *  - of the fastest rep: Catalyst's `analysis_s`, `optimization_s` and
  *    `planning_s` from the QueryExecution phase tracker; `jobs` (id,
  *    wall, stage ids); `stages` per (stage id, attempt) with task
  *    count, median/max/summed task seconds and the stage's CPU, GC,
  *    input, shuffle and spill totals.
  *  - `plan`: the formatted physical plan.
  * With `reps` = 0 nothing executes: the record holds `construct_s`, the
  * phase split and `plan`.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Profile <sfDir> <reps> <name>... [k=v]")
    val (confs, names) = args.drop(2).toSeq.partition(_.contains('='))
    val kvs = confs.map(_.split("=", 2)).map { case Array(k, v) => k -> v }
    val spark = Session.local()
    try run(spark, args(0), args(1).toInt, names, kvs.toMap).foreach(println)
    finally spark.stop()
  }

  /** One record per name, run on `spark` with `confs` set for the
    * duration of the call (the session's own values are restored). */
  def run(spark: SparkSession, sfDir: String, reps: Int, names: Seq[String],
      confs: Map[String, String]): Seq[String] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val settings = Map("graft.artifacts.reuse" -> "false") ++ confs
    val saved = settings.keys.map(k => k -> spark.conf.getOption(k))
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    try names.map(profile(spark, sfDir, reps, _, rec))
    finally {
      spark.sparkContext.removeSparkListener(rec)
      saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }

  private def num(x: Double): String = (math.rint(x * 1e4) / 1e4).toString

  /** A JSON object of already-encoded values. */
  private def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")

  private def profile(spark: SparkSession, sfDir: String, reps: Int,
      name: String, rec: Recorder): String = {
    val sc = spark.sparkContext
    /** One invocation: its DataFrame and construct/plan/exec nanos. */
    def invoke(execute: Boolean): (DataFrame, Seq[Long]) = {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      if (execute) df.write.mode("overwrite").format("noop").save()
      (df, Seq(t1 - t0, t2 - t1, System.nanoTime() - t2))
    }
    val (df, timing) = if (reps == 0) {
      val (df, ns) = invoke(execute = false)
      (df, Seq("construct_s" -> num(ns.head / 1e9)))
    } else {
      // only the fastest rep's DataFrame is kept: holding every rep's
      // would pin every rep's checkpoint blocks
      var best: Option[(Long, DataFrame, Seq[(String, String)])] = None
      val rows = (1 to reps).map { _ =>
        ListenerBridge.drain(sc)
        rec.reset()
        val (df, ns) = invoke(execute = true)
        ListenerBridge.drain(sc)
        if (best.forall(_._1 > ns.sum)) best = Some((ns.sum, df, rec.fields))
        obj((("wall_s" -> ns.sum) +: Seq("construct_s", "plan_s", "exec_s").zip(ns))
          .map { case (k, v) => k -> num(v / 1e9) }: _*)
      }
      val (_, df, trace) = best.get
      (df, ("reps" -> rows.mkString("[", ",", "]")) +: trace)
    }
    val phases = df.queryExecution.tracker.phases
    val catalyst = Seq("analysis", "optimization", "planning").map { p =>
      s"${p}_s" -> num(phases.get(p).fold(0L)(_.durationMs) / 1e3)
    }
    obj((("name" -> Json.str(name)) +: timing) ++ catalyst :+
      ("plan" -> Json.str(Explain.physical(df))): _*)
  }

  /** Jobs, stage attempts and task durations seen since the last reset.
    * Tasks are attributed by (stage id, attempt), so a stage shared by
    * several jobs (a reused exchange) is counted once. */
  private final class Recorder extends SparkListener {
    private val jobs = mutable.LinkedHashMap[Int, (Long, Seq[Int])]()
    private val jobEnds = mutable.Map[Int, Long]()
    private val stages = mutable.Map[(Int, Int), StageInfo]()
    private val taskMs = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized { jobs(e.jobId) = (e.time, e.stageIds) }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized { jobEnds(e.jobId) = e.time }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        stages((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = e.stageInfo
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer()) += e.taskInfo.duration
    }

    def reset(): Unit = synchronized {
      jobs.clear(); jobEnds.clear(); stages.clear(); taskMs.clear()
    }

    /** The `jobs` and `stages` fields of a record. */
    def fields: Seq[(String, String)] = synchronized {
      val js = jobs.map { case (id, (start, sids)) =>
        obj("id" -> id,
          "wall_s" -> num(jobEnds.get(id).fold(-1.0)(end => (end - start) / 1e3)),
          "stages" -> sids.mkString("[", ",", "]"))
      }
      val ss = (stages.keySet ++ taskMs.keySet).toSeq.sorted.map { case key @ (id, attempt) =>
        val ts = taskMs.get(key).fold(Seq.empty[Long])(_.toSeq.sorted)
        val info = stages.get(key)
        def metric(f: TaskMetrics => Long) =
          info.flatMap(i => Option(i.taskMetrics)).fold(0L)(f)
        obj("id" -> id, "attempt" -> attempt,
          "name" -> Json.str(info.fold("?")(_.name)),
          "tasks" -> ts.size,
          "median_s" -> num(if (ts.isEmpty) 0.0 else ts(ts.size / 2) / 1e3),
          "max_s" -> num(ts.lastOption.getOrElse(0L) / 1e3),
          "sum_s" -> num(ts.sum / 1e3),
          "cpu_s" -> num(metric(_.executorCpuTime) / 1e9),
          "gc_s" -> num(metric(_.jvmGCTime) / 1e3),
          "input_bytes" -> metric(_.inputMetrics.bytesRead),
          "shuffle_read_bytes" -> metric(_.shuffleReadMetrics.totalBytesRead),
          "shuffle_write_bytes" -> metric(_.shuffleWriteMetrics.bytesWritten),
          "spill_mem_bytes" -> metric(_.memoryBytesSpilled),
          "spill_disk_bytes" -> metric(_.diskBytesSpilled))
      }
      Seq("jobs" -> js.mkString("[", ",", "]"), "stages" -> ss.mkString("[", ",", "]"))
    }
  }
}
