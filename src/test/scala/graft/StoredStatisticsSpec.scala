package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogStatistics
import org.apache.spark.sql.graftbridge.ListenerBridge

import graft.sql.SparkSqlRunner

/** `Tables.registerOne` analyzes a table once per data version and stores
  * the result under the directory's database; a later registration of the
  * same files reads it back. These pin that a registration from the store
  * is indistinguishable from an analyzed one (statistics, schemas, plans),
  * launches no job, falls back to ANALYZE whenever the key or the file is
  * off, and that concurrent registrations leave complete files. */
class StoredStatisticsSpec extends SparkSpec {

  /** The ids of the jobs `body` launched, and its result. */
  private def jobsOf[T](body: => T): (Seq[Int], T) = {
    val sc = spark.sparkContext
    val jobs = mutable.ArrayBuffer[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized { jobs += e.jobId }
    }
    ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    val out =
      try body
      finally {
        ListenerBridge.drain(sc)
        sc.removeSparkListener(listener)
      }
    (jobs.synchronized(jobs.toList), out)
  }

  private def catalogName(n: String) = if (n == "events") "events_raw" else n

  private def storeFile(s: SparkSession, dir: String, n: String): Path =
    StoredStatistics.file(s, Tables.database(dir), catalogName(n))
      .getOrElse(fail(s"no store file for $n"))

  /** The store's entry for `n`, read as a registration now would, in the
    * shape of [[entry]]. */
  private def stored(s: SparkSession, dir: String, n: String) =
    StoredStatistics.read(storeFile(s, dir, n), StoredStatistics.version(
      s, new java.io.File(s"$dir/$n.parquet").toURI.toString).get)
      .map { case (schema, stats) => (schema, Some(stats)) }

  /** `n`'s schema and statistics as the catalog holds them. */
  private def entry(s: SparkSession, dir: String, n: String) = {
    val t = s.sessionState.catalog.getTableMetadata(
      TableIdentifier(catalogName(n), Some(Tables.database(dir))))
    (t.schema, t.stats)
  }

  private val planned: Seq[String] =
    graft.queries.Dialect.queries.keys.toSeq.sorted :+ "p90_fk_discovery"

  /** Per catalog table its schema and statistics, and per planned query
    * its plan fingerprint, executed plan (expression and plan ids elided)
    * and the optimizer's root statistics. */
  private def snapshot(s: SparkSession, dir: String) = {
    val tables = Tables.names.map(n => n -> entry(s, dir, n)).toMap
    val plans = planned.map { q =>
      val qe = SparkEntry.queries(q)(s, dir).queryExecution
      val plan = qe.executedPlan.toString
      q -> (graft.tools.PlanFingerprint.of(plan),
        plan.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id="),
        qe.optimizedPlan.stats.simpleString)
    }.toMap
    (tables, plans)
  }

  test("a registration from stored statistics equals an analyzed one and " +
      "launches no job") {
    withLinkedCopy("graft-stored-sfdir") { dir =>
      val s = spark.newSession()
      // full plans, the same on both sides: no checkpoint cuts, no artifacts
      s.conf.set("graft.stage.materialize", "none")
      s.conf.set("graft.artifacts.reuse", "false")
      val (analyzing, _) = jobsOf(SparkSqlRunner.ensureRegistered(s, dir))
      assert(analyzing.size >= Tables.names.size, analyzing)
      Tables.names.foreach(n => assert(stored(s, dir, n).isDefined, n))
      val analyzed = snapshot(s, dir)
      // SparkSqlRunner has recorded the directory, so re-register directly,
      // as a new JVM's first registration would
      val (jobs, failed) = jobsOf(Tables.registerSome(s, dir, Tables.names))
      assert(failed.isEmpty, failed)
      assert(jobs.isEmpty, jobs)
      val fromStore = snapshot(s, dir)
      Tables.names.foreach { n =>
        val (schema, stats) = analyzed._1(n)
        assert(stats.exists(st => st.rowCount.isDefined &&
          st.colStats.nonEmpty), n)
        assert(fromStore._1(n) == (schema, stats), n)
      }
      assert(analyzed._2.size == 39)
      planned.foreach(q => assert(fromStore._2(q) == analyzed._2(q), q))
    }
  }

  test("a replaced data file, a changed statistics conf and a torn or " +
      "garbage store file each fall back to ANALYZE and rewrite the file") {
    withLinkedCopy("graft-restat-sfdir") { dir =>
      val s = spark.newSession()
      /** Register `region`; returns whether it ran jobs (ANALYZE). */
      def register(s: SparkSession): Boolean = {
        val (jobs, failed) = jobsOf(Tables.registerSome(s, dir, Seq("region")))
        assert(failed.isEmpty, failed)
        jobs.nonEmpty
      }
      def rewritten(s: SparkSession, why: String): Unit = {
        assert(register(s), s"$why: no ANALYZE")
        assert(stored(s, dir, "region") == Some(entry(s, dir, "region")), why)
        assert(!register(s), s"$why: the rewritten file is not read")
      }
      rewritten(s, "first registration")
      val file = storeFile(s, dir, "region")

      val data = Paths.get(dir, "region.parquet")
      val target = Files.readSymbolicLink(data)
      // same bytes, another mtime
      Files.delete(data)
      Files.copy(target, data)
      Files.setLastModifiedTime(data, FileTime.fromMillis(
        Files.getLastModifiedTime(target).toMillis + 60000))
      rewritten(s, "new mtime")
      // another length (and schema): nation's rows in region's place
      Files.copy(Paths.get(s"$sf/nation.parquet"), data,
        StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(data, FileTime.fromMillis(
        Files.getLastModifiedTime(target).toMillis + 60000))
      rewritten(s, "new length")
      assert(entry(s, dir, "region")._1.fieldNames.contains("n_nationkey"))

      val ndv = s.newSession()
      ndv.conf.set("spark.sql.statistics.ndv.maxError", "0.02")
      rewritten(ndv, "ndv.maxError")
      // the other confs' entry no longer matches either
      rewritten(s, "ndv.maxError back")

      val bytes = Files.readAllBytes(file)
      Files.write(file, bytes.take(bytes.length / 2))
      rewritten(s, "truncated")
      Files.write(file, "schema=\\u12zz\n\u0000garbage".getBytes("UTF-8"))
      rewritten(s, "garbage")
    }
  }

  test("two sessions registering one fresh directory at once leave one " +
      "complete, readable file per table") {
    withLinkedCopy("graft-twice-sfdir") { dir =>
      val sessions = Seq(spark.newSession(), spark.newSession())
      val start = new java.util.concurrent.CountDownLatch(1)
      @volatile var errors = List.empty[Throwable]
      val threads = sessions.map(s => new Thread(() => {
        start.await()
        try SparkSqlRunner.ensureRegistered(s, dir)
        catch { case t: Throwable => errors ::= t }
      }))
      threads.foreach(_.start())
      start.countDown()
      threads.foreach(_.join())
      assert(errors.isEmpty, errors)
      Tables.names.foreach(n =>
        assert(stored(spark, dir, n) == Some(entry(spark, dir, n)), n))
      val db = storeFile(spark, dir, "region").getParent
      val left = Files.list(db).toArray.map(_.toString.split('/').last).toSet
      assert(left == Tables.names.map(n => s"${catalogName(n)}.stats").toSet,
        left)
    }
  }

  test("concurrent writers of one store file never expose a partial file") {
    val dir = Files.createTempDirectory("graft-store-race")
    try {
      val file = dir.resolve("t.stats")
      val version = Seq("format" -> "test", "files" -> "t.parquet 1 2")
      val schema = Tables.region(spark, sf).schema
      def stats(rows: Int) =
        CatalogStatistics(BigInt(100 * rows), Some(BigInt(rows)))
      val want = Set(stats(1), stats(2))
      StoredStatistics.write(file, version, schema, stats(1))
      @volatile var stop = false
      val writers = Seq(1, 2).map(r => new Thread(() =>
        (1 to 200).foreach(_ =>
          StoredStatistics.write(file, version, schema, stats(r)))))
      val reads = mutable.ArrayBuffer[Option[CatalogStatistics]]()
      val reader = new Thread(() =>
        while (!stop) reads += StoredStatistics.read(file, version).map(_._2))
      reader.start()
      writers.foreach(_.start())
      writers.foreach(_.join())
      stop = true
      reader.join()
      assert(reads.nonEmpty)
      assert(reads.forall(_.exists(want.contains)),
        reads.filterNot(_.exists(want.contains)).take(3))
      assert(Files.list(dir).count() == 1)
    } finally {
      Files.list(dir).toArray.foreach(p => Files.delete(p.asInstanceOf[Path]))
      Files.delete(dir)
    }
  }
}
