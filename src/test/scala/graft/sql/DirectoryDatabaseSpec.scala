package graft.sql

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.types.TimestampType

import graft.{SparkSpec, Tables}

/** One catalog database per scale-factor directory, registered once per
  * SparkContext: sessions over different directories must not see each
  * other's rows or statistics, and a session over a directory that is
  * already registered only points its current database at it. */
class DirectoryDatabaseSpec extends SparkSpec {
  private val Sf01 = "/root/testdata/sf0.01"

  test("sessions on two directories each read their own rows and statistics") {
    val a = spark.newSession()
    SparkSqlRunner.ensureRegistered(a, Sf01)
    val b = a.newSession()
    SparkSqlRunner.ensureRegistered(b, sf)
    val want = Map(a -> Tables.lineitem(a, Sf01).count(),
      b -> Tables.lineitem(b, sf).count())
    assert(want(a) != want(b), want)
    def check(when: String): Unit = Seq(a, b).foreach { s =>
      assert(s.sql("SELECT count(*) FROM lineitem").collect()(0).getLong(0) ==
        want(s), when)
      val stats = s.sessionState.catalog
        .getTableMetadata(TableIdentifier("lineitem")).stats
      assert(stats.flatMap(_.rowCount).contains(BigInt(want(s))),
        s"$when: $stats")
    }
    check("before refreshTable")
    a.catalog.refreshTable("lineitem")
    check("after refreshTable")
  }

  test("a fresh session on a registered directory launches no job and " +
      "resolves events with a timestamp ts") {
    SparkSqlRunner.ensureRegistered(spark, sf)
    val sc = spark.sparkContext
    val jobs = mutable.ArrayBuffer[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized { jobs += e.jobId }
    }
    val fresh = spark.newSession()
    ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    val ts =
      try {
        SparkSqlRunner.ensureRegistered(fresh, sf)
        fresh.table("events").schema("ts").dataType
      } finally {
        ListenerBridge.drain(sc)
        sc.removeSparkListener(listener)
      }
    assert(jobs.synchronized(jobs.isEmpty), jobs)
    assert(ts == TimestampType, ts)
    assert(fresh.table("events").count() == Tables.events(fresh, sf).count())
  }

  test("a directory's database lives under the warehouse, named per " +
      "normalized path") {
    SparkSqlRunner.ensureRegistered(spark, sf)
    assert(Tables.database(sf) == Tables.database(s"$sf/"))
    assert(Tables.database(sf) != Tables.database(Sf01))
    def local(uri: String) = Paths.get(
      new org.apache.hadoop.fs.Path(uri).toUri.getPath).toAbsolutePath.normalize
    val loc = local(spark.catalog.getDatabase(Tables.database(sf)).locationUri)
    val warehouse = local(spark.conf.get("spark.sql.warehouse.dir"))
    assert(loc.startsWith(warehouse), s"$loc not under $warehouse")
    assert(!loc.startsWith(local(sf)), s"$loc under the test data")
  }
}
