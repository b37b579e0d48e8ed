package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table catalog over a scale-factor directory.
  *
  * Spark-native replacement for the reference's serialized-tuple scan
  * (`/root/reference/src/qp/operators/Scan.java:19-109`): `spark.read.parquet`
  * gives us schema, column stats, predicate pushdown and column pruning for
  * free, and parallel split reads at cluster scale.
  */
object Tables {
  /** All driver-provided tables (TESTDATA.md). */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet schema per (path, mtime): `spark.read.parquet` with no
    * schema runs a footer-reading Spark JOB per call (~100 ms on this
    * host), and every query invocation re-reads every table it touches —
    * ~35% of the sf0.1 bench was this planning tax (OPTIMIZATION_r17.md
    * §measure). A real deployment resolves schemas from a catalog once;
    * this cache is that catalog for the DataFrame path. Keyed on the
    * file's mtime so a rewritten fixture (tests, ScaleUp rungs) can
    * never serve a stale schema; only metadata is cached — every query
    * still scans the parquet data itself. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[
      (String, Long), org.apache.spark.sql.types.StructType]

  /** Resolve `path` through Hadoop's FileSystem API — the same resolver
    * Spark's own scans use — so paths on HDFS/S3/any non-local scheme
    * report real sizes and mtimes. `java.io.File` (the r17
    * implementation) silently answered length 0 / mtime 0 for every
    * remote URI, which (a) froze the schema cache on a rewritten remote
    * fixture and (b) inverted the [[balanced]] guard at exactly the
    * properly-split cluster inputs it promises never to touch. */
  private def hadoopStatus(spark: SparkSession, path: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path,
         Option[org.apache.hadoop.fs.FileStatus]) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    (fs, fs.makeQualified(p), st)
  }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val (_, qualified, st) = hadoopStatus(spark, path)
    val key = (qualified.toString, st.map(_.getModificationTime).getOrElse(0L))
    val schema = schemaCache.computeIfAbsent(key,
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Scale-adaptive scan balancing: `df` repartitioned to the session
    * default parallelism when the table's scan would otherwise run on
    * (much) fewer tasks than cores — the byte-sized-parallelism class
    * from the round-16 sf10 audit, which also governs the driver's
    * single-row-group bench files: every map-side stage (filters, join
    * probes, partial aggregation, per-row digests) inherits a ONE-task
    * scan no matter how heavy its per-row work is, and AQE cannot see it
    * (it sizes by bytes, not FLOPs).
    *
    * The split estimate is the same arithmetic Spark's own
    * FilePartition packing uses (bytes / maxPartitionBytes, one split
    * floor per file), so the guard self-disables exactly where the scan
    * is already wide: at 100 TB the condition is false and the plan is
    * untouched — no repartition shuffle is ever added where the input
    * is properly split. Keys make the exchange deterministic (guide
    * §2.5: hash on a real high-cardinality column, never rand()). */
  private[graft] def balanced(s: SparkSession, d: String, name: String,
      keys: Seq[String]): DataFrame = {
    val df = apply(s, d, name)
    val cores = s.sparkContext.defaultParallelism
    if (scanSplits(s, s"$d/$name.parquet") * 2 >= cores) df
    else df.repartition(cores, keys.map(col): _*)
  }

  /** Spark's split count for a parquet path: ceil(bytes/maxSplit) summed
    * per file. Over-estimates when row groups clump (a single-row-group
    * file larger than maxSplit still scans as one task), which errs
    * toward NOT repartitioning at big rungs — the safe side. Resolved
    * through Hadoop's FileSystem (see [[hadoopStatus]]) so the count is
    * real on every scheme a Spark scan can read, not just `file:`. A
    * missing path reports 1 split — [[apply]]'s schema inference then
    * fails with the real error. */
  private[graft] def scanSplits(s: SparkSession, path: String): Long = {
    val maxSplit = s.sessionState.conf.filesMaxPartitionBytes
    val (fs, _, root) = hadoopStatus(s, path)
    def walk(st: org.apache.hadoop.fs.FileStatus): Long = {
      val n = st.getPath.getName
      if (st.isDirectory) fs.listStatus(st.getPath).map(walk).sum
      else if (n.endsWith(".parquet") || n.startsWith("part-"))
        math.max(1L, (st.getLen + maxSplit - 1) / maxSplit)
      else 0L
    }
    math.max(1L, root.map(walk).getOrElse(1L))
  }

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** The driver has shipped `events.ts` under two physical parquet
    * encodings across rounds — TIMESTAMP(NANOS) (rounds ≤7; Spark's reader
    * rejects it, so `spark.sql.legacy.parquet.nanosAsLong` in graft.Session
    * surfaces it as a nanos-since-epoch long) and `timestamp[us]` with
    * isAdjustedToUTC=false (round 8+; Spark reads TimestampNTZType). The
    * data contract here is *instants*, not encodings: inspect the scanned
    * dtype and normalize every variant to the same microsecond, session-UTC
    * TimestampType, so downstream queries and the DuckDB oracle agree
    * regardless of which encoding a regeneration produced.
    *
    * - long → `timestamp_micros(ts div 1000)`: the same ns→µs truncation
    *   DuckDB applies natively;
    * - TimestampNTZ → cast to TimestampType: the session zone is pinned to
    *   UTC, so the naive wall-clock becomes the identical UTC instant;
    * - TimestampType → already the target type.
    *
    * EventsContractSpec pins all three paths against fixture files so the
    * next silent regeneration turns a test red instead of darking the gate. */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.withColumn("ts", expr(tsSql(df.schema("ts").dataType)))

  /** The SQL expression [[normalizeTs]] projects for a `ts` scanned as
    * `dt`; the registered `events` view uses the same one. */
  private def tsSql(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType         => "timestamp_micros(ts div 1000)"
      case TimestampNTZType => "CAST(ts AS TIMESTAMP)"
      case TimestampType    => "ts"
      case other => throw new IllegalStateException(
        s"events.ts arrived as unsupported physical type $other — " +
        "extend Tables.normalizeTs for the new testdata encoding")
    }
  }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(apply(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Column types ANALYZE … FOR COLUMNS accepts (AnalyzeColumnCommand's
    * own support set); everything else only contributes to the row count.
    * TimestampNTZ is deliberately EXCLUDED even though ANALYZE accepts it:
    * Spark 4.1's stats estimation then dies with
    * `MatchError: TimestampNTZType` inside JoinSelectionHelper
    * .canBroadcastBySize (joins.scala:368) the first time a plan over the
    * table computes CBO stats — parquet `timestamp[ms]` columns (orders.
    * o_orderdate) arrive as NTZ, so collecting their min/max would break
    * every query that touches the table. Row count + the other columns'
    * NDVs are what join reorder needs anyway. */
  private def analyzable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType | StringType | BinaryType | BooleanType |
           DateType | TimestampType => true
      case _ => false
    }
  }

  /** The columns of `schema` that registration analyzes, in schema order. */
  private[graft] def analyzedColumns(
      schema: org.apache.spark.sql.types.StructType): Seq[String] =
    schema.fields.toSeq.collect { case f if analyzable(f.dataType) => f.name }

  /** The catalog database holding `sfDir`'s tables, named from its
    * normalized absolute path so `d` and `d/` share one. */
  def database(sfDir: String): String = {
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(absolute(sfDir).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    "graft_" + sha.take(8).map(b => f"$b%02x").mkString
  }

  // LOCATION resolves RELATIVE paths against the warehouse dir, not the
  // process CWD — a relative sfDir (e.g. the scale rungs under tools/)
  // would register ten empty tables and fail every SQL query with
  // UNABLE_TO_INFER_SCHEMA while the DataFrame path reads the same
  // directory fine. Qualify it once here.
  private def absolute(sfDir: String): String =
    new java.io.File(sfDir).getAbsoluteFile.toPath.normalize.toString

  /** Register one table in database `db` so `spark.sql` / the mini-SQL
    * front end can resolve its name, with the statistics the cost-based
    * optimizer reorders joins with (the Catalyst counterpart of the
    * reference's `.stat` files, `RandomOptimizer.java:126-216`). Returns
    * whether the statistics came from [[StoredStatistics]].
    *
    * The table becomes an EXTERNAL catalog table over the parquet
    * location, carrying row counts + per-column NDV/min/max from `ANALYZE
    * TABLE … COMPUTE STATISTICS FOR COLUMNS` over its `analyzable` columns,
    * which is what `CostBasedJoinReorder` needs on every join input (a temp
    * view over a bare parquet read exposes only sizeInBytes, and CBO stays
    * inert). ANALYZE runs once per data version: when the store holds the
    * schema and statistics of exactly these files (and statistics confs),
    * the table is created from the stored schema — no inference job — and
    * given the stored statistics, so registering launches no Spark job.
    * Otherwise CREATE infers the schema, ANALYZE scans the table, and the
    * result is stored for the next JVM. Every name is qualified with `db`:
    * [[registerSome]] runs this for several tables at once on its own
    * threads, so it touches only table `n`'s own catalog entries and no
    * session's current database.
    *
    * `events` needs a normalization expression a catalog table cannot
    * carry (normalizeTs), so it is registered as catalog table `events_raw`
    * (ANALYZE'd like the rest) plus view `events` projecting the
    * normalized `ts` over it — Catalyst's ProjectEstimation propagates the
    * raw table's row count and per-column stats through the aliasing
    * projection, so CBO sees events joins like any other table's. */
  private def registerOne(spark: SparkSession, db: String, sfDir: String,
      n: String): Boolean = {
    val name = if (n == "events") "events_raw" else n
    val table = s"$db.$name"
    val id = org.apache.spark.sql.catalyst.TableIdentifier(name, Some(db))
    val catalog = spark.sessionState.catalog
    val loc = new java.io.File(s"${absolute(sfDir)}/$n.parquet").toURI
    val store = for (f <- StoredStatistics.file(spark, db, name);
        v <- StoredStatistics.version(spark, loc.toString)) yield (f, v)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val stored = for ((f, v) <- store;
        (schema, stats) <- StoredStatistics.read(f, v)) yield {
      spark.sql(s"CREATE TABLE $table (${schema.toDDL}) USING parquet " +
        s"LOCATION '$loc'")
      catalog.alterTableStats(id, Some(stats))
      schema
    }
    val schema = stored.getOrElse {
      spark.sql(s"CREATE TABLE $table USING parquet LOCATION '$loc'")
      // FOR ALL COLUMNS refuses tables with any non-analyzable column
      // (embeddings carries ARRAY<FLOAT>), so enumerate the supported
      // ones; the bare form still records the row count either way
      val schema = catalog.getTableMetadata(id).schema
      val cols = analyzedColumns(schema).map(c => s"`$c`")
      if (cols.isEmpty) spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS")
      else spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS " +
        s"FOR COLUMNS ${cols.mkString(", ")}")
      for ((f, v) <- store; stats <- catalog.getTableMetadata(id).stats)
        StoredStatistics.write(f, v, schema, stats)
      schema
    }
    if (n == "events") {
      val proj = schema.fields.map(f =>
        if (f.name == "ts") s"${tsSql(f.dataType)} AS ts" else s"`${f.name}`")
      spark.sql(s"CREATE OR REPLACE VIEW $db.events AS " +
        s"SELECT ${proj.mkString(", ")} FROM $table")
    }
    stored.isDefined
  }

  /** Register `tables` of `sfDir` in its [[database]], created under
    * `spark.sql.warehouse.dir` if needed. Per-table registration is
    * failure-isolated: one table with a broken path or an unreadable
    * encoding must not take down queries that never reference it (the
    * reference has the same property — each table is opened lazily at
    * scan creation, `RandomInitialPlan.java:76-89`). A failed table is
    * left unregistered, so a query that *does* reference it fails loudly
    * at analysis with TABLE_OR_VIEW_NOT_FOUND. Returns the names that
    * failed with their causes, in `tables` order, and prints one stderr
    * line counting the tables registered from stored statistics, analyzed
    * and failed, so a run's log shows which path it paid for.
    *
    * Each table is analyzed only when the store holds no statistics for
    * its current data version (see [[registerOne]]); otherwise it
    * registers from the store and launches no job. The tables register
    * concurrently on up to `defaultParallelism` threads (one core or one
    * table: one thread), overlapping their
    * ANALYZE scans and Janino compiles: cold sf0.01 registration of all ten
    * on 4 vCPU, median 14.9 s serial vs 11.9 s concurrent (PLANS.md
    * "Catalog registration made concurrent"). The pool is made per call
    * and its threads are created from the caller's thread, so they
    * inherit its local properties: a job-group cancel reaches the ANALYZE
    * jobs. Returns only after every table is done — registering in the
    * background would move the cost into the first queries, not remove
    * it.
    *
    * A caller that is already interrupted gets an InterruptedException
    * before the first catalog write: Spark's `ExternalCatalogWithListener`
    * swallows an interrupt that arrives while it posts a catalog event
    * (CREATE DATABASE, CREATE TABLE) and removes SharedState's
    * catalog-event listener for the rest of the JVM. */
  def registerSome(spark: SparkSession, sfDir: String,
      tables: Seq[String]): Seq[(String, Exception)] = {
    if (Thread.interrupted())
      throw new InterruptedException(s"registration of $sfDir interrupted")
    val db = database(sfDir)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    def attempt(n: String): Either[(String, Exception), Boolean] =
      try Right(registerOne(spark, db, sfDir, n))
      catch { case e: Exception =>
        System.err.println(
          s"[graft] registration of table '$n' failed (queries over it " +
          s"will not resolve): ${e.getMessage}")
        // drop any half-registered state so resolution fails cleanly
        try {
          if (n == "events") spark.sql(s"DROP VIEW IF EXISTS $db.events")
          val table = if (n == "events") "events_raw" else n
          spark.sql(s"DROP TABLE IF EXISTS $db.$table")
        } catch { case _: Exception => () }
        Left(n -> e)
      }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(tables.size, spark.sparkContext.defaultParallelism)))
    val done = try tables.map(n => pool.submit(() => attempt(n))).map { f =>
      try f.get()
      catch { case e: java.util.concurrent.ExecutionException =>
        throw e.getCause } // an Error: `attempt` keeps every Exception
    } finally {
      // on a throw (a worker's Error, an interrupted caller) stop the other
      // tables and wait for them, so no DROP, CREATE, ANALYZE or failure
      // cleanup still runs against the catalog after this returns
      pool.shutdownNow(): Unit
      pool.awaitTermination(Long.MaxValue,
        java.util.concurrent.TimeUnit.NANOSECONDS): Unit
    }
    val failed = done.collect { case Left(f) => f }
    val stored = done.count(_ == Right(true))
    System.err.println(s"[graft] tables of $sfDir in $db: $stored from " +
      s"stored statistics, ${done.size - stored - failed.size} analyzed, " +
      s"${failed.size} failed")
    failed
  }
}
