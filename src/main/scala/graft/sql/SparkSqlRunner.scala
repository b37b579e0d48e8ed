package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Full ANSI Spark SQL over the catalog — the second query front end next
  * to the reference-dialect parser (MiniSql). Tables of a scale-factor
  * directory are registered (CREATE + ANALYZE, see `Tables.registerOne`)
  * lazily, PER REFERENCED TABLE, once per (session, directory, table): a
  * statement pays only for the tables it names, never for the whole
  * catalog build (r17 billed all ten tables' registration to whichever
  * query ran first — the sf0.1 sweep's s24 absorbed 6+ s of it, VERDICT
  * r17 §next-round #4). A batch of tables registers concurrently
  * (`Tables.registerSome`).
  */
object SparkSqlRunner {
  // per-session registration state: the directory registered plus the
  // set of table names already attempted for it (failed attempts are
  // recorded too — the per-table stderr diagnostic fired and the query
  // fails loudly at analysis; retrying per statement would re-pay the
  // failure every time)
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        (String, java.util.Set[String])]())

  /** Register everything (QueryMain's interactive catalog, spec setup).
    * Throws only when every table failed (`Tables.requireAny`). */
  def ensureRegistered(spark: SparkSession, sfDir: String): Unit =
    Tables.requireAny(sfDir, ensureTables(spark, sfDir, Tables.names))

  /** The catalog tables `sql` references — known names matched
    * case-insensitively on word boundaries. Over-matching (a table name
    * inside a string literal) merely registers an unused table; a missed
    * reference cannot read stale data because a directory switch drops
    * the previous directory's registrations first, so it fails loudly
    * with TABLE_OR_VIEW_NOT_FOUND instead. */
  private[graft] def referencedTables(sql: String): Seq[String] = {
    val lc = sql.toLowerCase
    Tables.names.filter(n => s"\\b$n\\b".r.findFirstIn(lc).isDefined)
  }

  /** Idempotent per-(session, directory, table) registration; returns
    * the tables that failed to register just now. */
  private[graft] def ensureTables(spark: SparkSession, sfDir: String,
      tables: Seq[String]): Seq[(String, Exception)] =
    registered.synchronized {
      var st = registered.get(spark)
      if (st == null || st._1 != sfDir) {
        // directory switch: the old directory's tables must not keep
        // answering under the new one
        if (st != null) st._2.forEach(n => Tables.unregister(spark, n))
        st = (sfDir, new java.util.HashSet[String]())
        registered.put(spark, st): Unit
      }
      val missing = tables.filterNot(st._2.contains)
      val failed = if (missing.isEmpty) Nil
        else Tables.registerSome(spark, sfDir, missing)
      missing.foreach(n => st._2.add(n): Unit)
      failed
    }

  def run(spark: SparkSession, sfDir: String, sql: String): DataFrame = {
    ensureTables(spark, sfDir, referencedTables(sql)): Unit
    spark.sql(sql)
  }
}
