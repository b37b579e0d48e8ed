package graft.sql

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class SparkSqlRunnerSpec extends SparkSpec {

  test("registered views answer full ANSI SQL with correct values") {
    val got = SparkSqlRunner.run(spark, sf,
      """SELECT n_name, count(*) AS n_cust
        |FROM nation JOIN customer ON n_nationkey = c_nationkey
        |GROUP BY n_name HAVING count(*) > 0""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = Tables.nation(spark, sf)
      .join(Tables.customer(spark, sf), col("n_nationkey") === col("c_nationkey"))
      .groupBy("n_name").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("every catalog table is queryable by name after full registration") {
    SparkSqlRunner.ensureRegistered(spark, sf)
    Tables.names.foreach { t =>
      assert(spark.sql(s"SELECT * FROM $t LIMIT 1").columns.nonEmpty, t)
    }
  }

  test("registration is lazy per referenced table (r18: the catalog build " +
      "is no longer billed to the session's first statement)") {
    // word-boundary, case-insensitive reference detection over the SQL
    assert(SparkSqlRunner.referencedTables(
      "SELECT p_partkey FROM Part JOIN LINEITEM ON p_partkey = l_partkey " +
        "WHERE p_name LIKE '%PARTITION%'") == Seq("part", "lineitem"))
    assert(SparkSqlRunner.referencedTables("SELECT 1").isEmpty)
    // a statement touching one table registers only what it names: a
    // directory of its own starts with an empty database
    withLinkedCopy("graft-lazy-sfdir") { dir =>
      val db = Tables.database(dir)
      val s2 = spark.newSession()
      assert(SparkSqlRunner.run(s2, dir, "SELECT count(*) AS n FROM region")
        .collect()(0).getLong(0) > 0)
      assert(s2.catalog.tableExists(db, "region"))
      assert(!s2.catalog.tableExists(db, "supplier"))
      // the events view rides its raw table's registration
      assert(SparkSqlRunner.run(s2, dir,
        "SELECT count(*) AS n FROM events").collect()(0).getLong(0) > 0)
      assert(s2.catalog.tableExists(db, "events_raw"))
    }
  }

  test("the registered events view carries a usable timestamp, not raw nanos") {
    val hours = SparkSqlRunner.run(spark, sf,
      "SELECT date_trunc('hour', ts) AS h FROM events LIMIT 5")
    assert(hours.schema("h").dataType.typeName == "timestamp")
  }

  test("one broken table does not take down queries that never touch it") {
    // round 8 regression: a single events-view failure inside registration
    // darked all 38 SQL-front-end queries. Registration must be isolated
    // per table (the reference opens each table lazily at scan creation,
    // RandomInitialPlan.java:76-89, and has exactly this property).
    withLinkedCopy("graft-broken-sfdir", except = "events") { dir =>
      Files.writeString(
        Paths.get(dir, "events.parquet"), "this is not parquet"): Unit
      val s2 = spark.newSession()
      SparkSqlRunner.ensureRegistered(s2, dir)
      // untouched tables still answer (this is s04_sql_join2's shape)
      val n = s2.sql(
        """SELECT count(*) AS n FROM nation
          |JOIN customer ON n_nationkey = c_nationkey""".stripMargin)
        .collect()(0).getLong(0)
      assert(n > 0)
      // the broken table fails loudly at analysis, not silently-stale
      intercept[org.apache.spark.sql.AnalysisException] {
        s2.sql("SELECT * FROM events LIMIT 1").collect()
      }
    }
  }
}
