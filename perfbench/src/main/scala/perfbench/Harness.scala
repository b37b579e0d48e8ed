package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side. It drives the engine only through its public
  * entry points — `graft.Session.local()`,
  * `graft.sql.SparkSqlRunner.ensureRegistered`, `graft.SparkEntry.queries`
  * and the DataFrame write — and records raw timings as JSON lines.
  * perfbench/run.py plans the run (query orders from the seed), starts
  * this process and turns its records into metrics.
  *
  * Usage: `perfbench.Harness <config file>` (see [[Config]]), or
  * `perfbench.Harness --digest <dir>` to print the digest of every parquet
  * result directory under `dir` (perfbench/anchor.py uses it). */
object Harness {

  /** The run plan written by run.py: one `key value` per line, and one
    * `pass <pass> <client> <name,name,...>` line per client per pass. */
  final case class Config(
      sfDir: String, register: Boolean, sink: String,
      reuse: Boolean, freshSessionPerPass: Boolean, minPasses: Int,
      budgetS: Double, windowS: Double, hardS: Double, trace: Boolean,
      out: String, work: String,
      passes: Seq[Seq[Seq[String]]])

  object Config {
    def read(path: String): Config = {
      val lines = Files.readAllLines(Paths.get(path)).asScala.toSeq
        .map(_.trim).filter(_.nonEmpty).map(_.split("\\s+", 2).toSeq)
      val kv = lines.collect { case Seq(k, v) if k != "pass" => k -> v }.toMap
      val passLines = lines.collect { case Seq("pass", rest) =>
        val Array(p, c, names) = rest.split("\\s+", 3)
        (p.toInt, c.toInt, names.split(",").toSeq)
      }
      val passes = passLines.groupBy(_._1).toSeq.sortBy(_._1)
        .map(_._2.sortBy(_._2).map(_._3))
      Config(kv("sf_dir"), kv("register") == "1", kv("sink"),
        kv("reuse").toBoolean, kv("fresh_session_per_pass") == "1",
        kv("min_passes").toInt, kv("budget_s").toDouble,
        kv("window_s").toDouble, kv("hard_s").toDouble, kv("trace") == "1",
        kv("out"), kv("work"), passes)
    }
  }

  // One clock for every record: epoch milliseconds, the unit Spark's own
  // event times use, carried at nanosecond resolution.
  private val epoch0Ms = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0Ms + (System.nanoTime() - nano0) / 1e6

  private val records = ArrayBuffer[String]()
  private def emit(fields: (String, Any)*): Unit =
    records.synchronized { records += Json.obj(fields: _*) }

  private lazy val moduleOf: Map[String, String] =
    Seq("Relational" -> graft.queries.Relational.queries.keySet,
      "Pipeline" -> graft.queries.Pipeline.queries.keySet,
      "Dialect" -> graft.queries.Dialect.queries.keySet)
      .flatMap { case (m, ks) => ks.map(_ -> m) }.toMap

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--digest")) return digestDir(args(1))
    val cfg = Config.read(args(0))
    val tSession0 = nowMs
    val spark = graft.Session.local()
    val tSession1 = nowMs
    if (cfg.register) graft.sql.SparkSqlRunner.ensureRegistered(spark, cfg.sfDir)
    val tTables = nowMs
    // Warm-up: the plan's first pass, untimed, so JIT and codegen caches
    // are warm when timing starts. Artifact reuse stays off during it, so
    // the artifact registry is still empty afterwards.
    spark.conf.set("graft.artifacts.reuse", "false")
    runPass(spark, cfg, 0, "warm", None, Double.MaxValue)
    val tWarm = nowMs
    spark.conf.set("graft.artifacts.reuse", cfg.reuse.toString)
    emit("kind" -> "setup",
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_start_ms" -> tSession0, "session_ready_ms" -> tSession1,
      "tables_ready_ms" -> tTables, "warm_ready_ms" -> tWarm)
    emit("kind" -> "host",
      "cores" -> Runtime.getRuntime.availableProcessors,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "spark" -> spark.version, "java" -> System.getProperty("java.version"),
      "jvm" -> System.getProperty("java.vm.name"))
    // A traced run times its traced window first, in the position an
    // untraced run's window has, then an untraced window over the same
    // passes as the base of the tracing overhead.
    if (cfg.trace) window(spark, cfg, "traced", traced = true)
    window(spark, cfg, "plain", traced = false)
    emit("kind" -> "end", "peak_rss_kb" -> peakRssKb())
    Files.write(Paths.get(cfg.out), records.synchronized(records.toList).asJava)
    // Anything still running (an invocation past its budget that ignored
    // cancellation) must not keep the process alive.
    System.exit(0)
  }

  private var firstTimedPass = true

  /** Timed passes from plan pass 1 on: at least `minPasses` whole passes,
    * then more until the window has passed, so the set of invocations a
    * run measures depends on the workload and the seed's orders, never on
    * where the clock stopped. */
  private def window(spark: SparkSession, cfg: Config, label: String,
      traced: Boolean): Unit = {
    val sc = spark.sparkContext
    val trace = if (traced) Some(new Trace) else None
    trace.foreach(sc.addSparkListener)
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcs.map(_.getCollectionTime).sum
    val (cpu0, gc0, t0) = (os.getProcessCpuTime, gcMs, nowMs)
    val hardEnd = t0 + cfg.hardS * 1e3
    var p = 1
    while (p < cfg.passes.size && nowMs < hardEnd &&
        (p <= cfg.minPasses || nowMs - t0 < cfg.windowS * 1e3)) {
      // Each pass starts from an empty artifact registry, as a fresh gate
      // run does: the run's first timed pass in the set-up session, later
      // ones in new sessions.
      val session =
        if (cfg.freshSessionPerPass && !firstTimedPass) {
          val s = spark.newSession()
          graft.sql.SparkSqlRunner.ensureRegistered(s, cfg.sfDir)
          s
        } else spark
      firstTimedPass = false
      runPass(session, cfg, p, label, trace, hardEnd)
      p += 1
    }
    val (cpu1, gc1, t1) = (os.getProcessCpuTime, gcMs, nowMs)
    trace.foreach { t =>
      org.apache.spark.sql.perfbench.Bridge.drain(sc)
      sc.removeSparkListener(t)
      records.synchronized { records ++= t.records }
    }
    emit("kind" -> "window", "window" -> label, "t0" -> t0, "t1" -> t1,
      "passes" -> (p - 1), "cpu_ns" -> (cpu1 - cpu0),
      "gc_ms" -> (gc1 - gc0))
  }

  /** One pass: each client on its own thread, through its own order. */
  private def runPass(session: SparkSession, cfg: Config, pass: Int,
      label: String, trace: Option[Trace], hardEnd: Double): Unit = {
    trace.foreach(session.listenerManager.register)
    val clients = cfg.passes(pass).zipWithIndex.map { case (names, c) =>
      val th = new Thread(() => names.zipWithIndex.foreach { case (n, k) =>
        if (nowMs < hardEnd)
          invoke(session, cfg, label, pass, c, k, n, trace.isDefined)
      }, s"perfbench-client-$c")
      th.start()
      th
    }
    clients.foreach(_.join())
    trace.foreach(session.listenerManager.unregister)
    if (cfg.sink == "parquet") rm(new File(s"${cfg.work}/$label/$pass"))
  }

  /** One invocation: construct the query, write its result, digest it.
    * It runs on its own thread under job group
    * `<window>-<pass>-<client>-<seq>` and a time budget; past the budget
    * the group is cancelled and the invocation is recorded as a timeout. */
  private def invoke(spark: SparkSession, cfg: Config, label: String,
      pass: Int, client: Int, seq: Int, name: String,
      traced: Boolean): Unit = {
    val sc = spark.sparkContext
    val id = s"$label-$pass-$client-$seq"
    @volatile var t0, tc, t1 = 0.0
    @volatile var status = "running"  // set by the worker until it times out
    @volatile var error = ""
    @volatile var digest: Option[Digest] = None
    val worker = new Thread(() => {
      sc.setJobGroup(id, name, interruptOnCancel = true)
      try {
        t0 = nowMs
        val df = graft.SparkEntry.queries(name)(spark, cfg.sfDir)
        tc = nowMs
        digest = write(df, cfg.sink, id, s"${cfg.work}/$label/$pass/$name")
        t1 = nowMs
        if (cfg.sink == "parquet") {
          sc.setJobGroup(s"check-$id", name, interruptOnCancel = true)
          digest = write(spark.read.parquet(s"${cfg.work}/$label/$pass/$name"),
            "digest", id, "")
        }
        status = "ok"
      } catch {
        case e: Throwable =>
          status = "error"
          error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}"
            .take(300)
      } finally sc.clearJobGroup()
    }, s"perfbench-$id")
    worker.setDaemon(true)
    worker.start()
    worker.join((cfg.budgetS * 1000).toLong)
    if (worker.isAlive) {
      sc.cancelJobGroup(id)
      sc.cancelJobGroup(s"check-$id")
      worker.join(5000)
      status = "timeout"
    }
    val tEnd = if (status == "ok") t1 else nowMs
    val cached = if (traced) sc.getRDDStorageInfo.filter(_.isCached)
      else Array.empty[org.apache.spark.storage.RDDInfo]
    emit("kind" -> "inv", "window" -> label, "id" -> id, "pass" -> pass,
      "client" -> client, "seq" -> seq, "name" -> name,
      "module" -> moduleOf.getOrElse(name, "other"), "status" -> status,
      "error" -> error, "t0" -> t0, "tc" -> tc, "t1" -> tEnd,
      "rows" -> digest.map(_.rows), "h1" -> digest.map(d => f"${d.h1}%016x"),
      "h2" -> digest.map(d => f"${d.h2}%016x"),
      "schema" -> digest.map(_.schema),
      "cached_rdds" -> cached.length,
      "cached_bytes" -> cached.map(r => r.memSize + r.diskSize).sum)
  }

  /** The write each workload times: the digest sink (`noop`-shaped), or
    * the Verify shape — one parquet file per result. */
  private def write(df: DataFrame, sink: String, id: String,
      path: String): Option[Digest] = sink match {
    case "digest" =>
      df.write.format(classOf[DigestSink].getName).option("key", id)
        .mode("overwrite").save()
      DigestSink.take(id)
    case "parquet" =>
      df.coalesce(1).write.mode("overwrite").parquet(path)
      None
  }

  private def digestDir(dir: String): Unit = {
    val spark = graft.Session.local()
    val dirs = Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(d => d.isDirectory && new File(d, "_SUCCESS").exists)
    for (d <- dirs.sortBy(_.getName)) {
      write(spark.read.parquet(d.getPath), "digest", d.getName, "").foreach { g =>
        println(Json.obj("name" -> d.getName, "rows" -> g.rows,
          "h1" -> f"${g.h1}%016x", "h2" -> f"${g.h2}%016x",
          "schema" -> g.schema))
      }
    }
    spark.stop()
  }

  private def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(): Unit
  }

  private def peakRssKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong)
      .getOrElse(0L)
    catch { case _: Exception => 0L }
}
