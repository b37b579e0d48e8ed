package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogStatistics,
  CreateTableEvent}
import org.apache.spark.sql.graftbridge.ListenerBridge

/** `Tables.registerSome` registers a batch of tables concurrently; these
  * pin what the concurrency must not change: the statistics CBO costs
  * joins with, the caller's job group on every job it launches, and that
  * an interrupted caller throws before its first catalog write. Each test
  * registers a fresh linked copy of `sf`, whose new database starts with
  * an empty statistics store, so every table runs CREATE + ANALYZE. */
class TablesRegistrationSpec extends SparkSpec {

  private def catalogStats(
      dir: String): Map[String, Option[CatalogStatistics]] =
    Tables.names.map { n =>
      val table = if (n == "events") "events_raw" else n
      val id = TableIdentifier(table, Some(Tables.database(dir)))
      n -> spark.sessionState.catalog.getTableMetadata(id).stats
    }.toMap

  test("concurrent registration records the statistics one-at-a-time " +
      "registration records") {
    withLinkedCopy("graft-together-sfdir") { together =>
      withLinkedCopy("graft-alone-sfdir") { alone =>
        assert(Tables.registerSome(spark, together, Tables.names).isEmpty)
        Tables.names.foreach(n =>
          assert(Tables.registerSome(spark, alone, Seq(n)).isEmpty, n))
        val (t, a) = (catalogStats(together), catalogStats(alone))
        Tables.names.foreach { n =>
          val st = t(n).getOrElse(fail(s"$n has no statistics"))
          assert(st.rowCount.exists(_ > 0) && st.colStats.nonEmpty, n)
          // sizeInBytes, rowCount and every column's distinctCount, min,
          // max, nullCount, avgLen and maxLen
          assert(t(n) == a(n), n)
        }
      }
    }
  }

  test("every job registration launches carries the caller's job group") {
    val sc = spark.sparkContext
    val groups = mutable.ArrayBuffer[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.synchronized {
          groups += Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.jobGroup.id")))
        }
    }
    withLinkedCopy("graft-jobgroup-sfdir") { dir =>
      ListenerBridge.drain(sc)
      sc.addSparkListener(listener)
      sc.setJobGroup("graft-registration-spec", "registration")
      try assert(Tables.registerSome(spark, dir, Tables.names).isEmpty)
      finally {
        sc.clearJobGroup()
        ListenerBridge.drain(sc)
        sc.removeSparkListener(listener)
      }
    }
    val seen = groups.synchronized(groups.toList)
    // at least one ANALYZE job per table
    assert(seen.size >= Tables.names.size, seen)
    assert(seen.forall(_.contains("graft-registration-spec")), seen)
  }

  test("an interrupted registration stops its other tables before it throws") {
    // a new directory, so its database is new too: had the call reached
    // CREATE DATABASE, Spark would swallow the interrupt while posting the
    // catalog event ("Interrupted while posting") and drop SharedState's
    // catalog-event listener, and all ten tables would register
    withLinkedCopy("graft-interrupt-sfdir") { dir =>
      @volatile var thrown: Option[Throwable] = None
      val caller = new Thread(() => {
        Thread.currentThread.interrupt()
        try Tables.registerSome(spark, dir, Tables.names): Unit
        catch { case t: Throwable => thrown = Some(t) }
      })
      caller.start()
      caller.join()
      assert(thrown.exists(_.isInstanceOf[InterruptedException]), thrown)
      // it threw before the first catalog write, so no table started
      assert(!spark.catalog.databaseExists(Tables.database(dir)))
      // SharedState still forwards catalog events to the listener bus
      val created = mutable.ArrayBuffer[String]()
      val listener = new SparkListener {
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case c: CreateTableEvent if c.database == Tables.database(dir) =>
            created.synchronized(created += c.name): Unit
          case _ => ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        assert(Tables.registerSome(spark, dir, Tables.names).isEmpty)
        ListenerBridge.drain(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(created.synchronized(created.toSet).contains("lineitem"), created)
      assert(catalogStats(dir).values.forall(_.exists(_.rowCount.isDefined)))
    }
  }
}
