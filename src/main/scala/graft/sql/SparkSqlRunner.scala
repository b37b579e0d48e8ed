package graft.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Full ANSI Spark SQL over the catalog — the second query front end next
  * to the reference-dialect parser (MiniSql). A statement registers
  * (CREATE + ANALYZE, see `Tables.registerOne`) only the tables it names,
  * never the whole catalog (r17 billed all ten tables' registration to
  * whichever query ran first, VERDICT r17 §next-round #4), each once per
  * (SparkContext, directory, table) in the directory's own database
  * (`Tables.database`). ANALYZE itself runs once per data version: a
  * registration of unchanged files reads the schema and statistics stored
  * under that database and launches no job. The catalog belongs to the
  * SparkContext; a session only points its current database at the
  * directory it reads, so a new session registers nothing, and sessions
  * over two directories each see their own rows and statistics.
  */
object SparkSqlRunner {
  // the tables attempted per (SparkContext, database) — failed attempts
  // too: the per-table stderr diagnostic fired and the query fails loudly
  // at analysis; retrying per statement would re-pay the failure each time
  private val attempted =
    scala.collection.mutable.Map[(SparkContext, String), Set[String]]()

  /** Register everything (QueryMain's interactive catalog, spec setup).
    * Throws only when every table failed (a wrong `sfDir`), with the first
    * cause; a partial failure stays with the per-table diagnostics. */
  def ensureRegistered(spark: SparkSession, sfDir: String): Unit = {
    val failed = ensureTables(spark, sfDir, Tables.names)
    if (failed.size == Tables.names.size)
      throw new IllegalStateException(
        s"every table failed to register from $sfDir — first cause: " +
          failed.head._2.getMessage, failed.head._2)
  }

  /** The catalog tables `sql` references — known names matched
    * case-insensitively on word boundaries. Over-matching (a table name
    * inside a string literal) merely registers an unused table; a missed
    * reference cannot read another directory's data because bare names
    * resolve in the current directory's database, so it fails loudly
    * with TABLE_OR_VIEW_NOT_FOUND instead. */
  private[graft] def referencedTables(sql: String): Seq[String] = {
    val lc = sql.toLowerCase
    Tables.names.filter(n => s"\\b$n\\b".r.findFirstIn(lc).isDefined)
  }

  /** Idempotent per-(SparkContext, directory, table) registration, then
    * `sfDir`'s database becomes the session's current one; returns the
    * tables that failed to register just now. */
  private[graft] def ensureTables(spark: SparkSession, sfDir: String,
      tables: Seq[String]): Seq[(String, Exception)] =
    attempted.synchronized {
      val key = (spark.sparkContext, Tables.database(sfDir))
      val done = attempted.get(key)
      val missing = tables.filterNot(done.getOrElse(Set.empty))
      // registerSome creates the database, so a directory's first call
      // runs it even for a statement that names no table
      val failed = if (missing.isEmpty && done.isDefined) Nil
        else Tables.registerSome(spark, sfDir, missing)
      attempted(key) = done.getOrElse(Set.empty) ++ missing
      spark.catalog.setCurrentDatabase(key._2)
      failed
    }

  def run(spark: SparkSession, sfDir: String, sql: String): DataFrame = {
    ensureTables(spark, sfDir, referencedTables(sql)): Unit
    spark.sql(sql)
  }
}
