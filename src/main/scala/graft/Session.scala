package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's SparkSession recipe so Verify, Bench and the
  * tests run identical configs.
  *
  * - the local width and shuffle.partitions both come from
  *   `SPARK_GRAFT_CPUS` (else the host's processor count) instead of
  *   Spark's 200 — at cluster scale shuffle.partitions is the knob sized
  *   to data volume, and AQE coalescing handles the small-partition end;
  * - AQE on: runtime re-planning (join strategy demotion/promotion, skew
  *   splitting, partition coalescing) is the scale story for every query
  *   in this repo;
  * - nanosAsLong: some testdata generations carry `events.ts` as
  *   TIMESTAMP(NANOS) parquet, which Spark's vectorized reader refuses;
  *   the flag surfaces that encoding as a raw long for Tables.normalizeTs
  *   to convert explicitly, and is a no-op for µs-encoded files (the
  *   current generation), so it stays on for either contract;
  * - codegen.cache.maxEntries 4096 instead of Spark's 100: the JVM-wide
  *   LRU of Janino-compiled classes must hold the working set, or every
  *   pass evicts its own classes and recompiles them (and the JIT starts
  *   over on the fresh ones). One Bench pass alone needs 231 entries.
  *   A full Verify run fills 3062 at sf0.01 and 3076 at sf0.1 (1773 and
  *   1780 distinct sources; an entry is a source per class loader, so
  *   most sources sit twice, for the driver and for the tasks); the rest
  *   is headroom for the ~265 classes per pass that differ on every
  *   invocation and only churn the LRU tail. Cost of holding the set,
  *   read after one Verify run at sf0.01 and a full GC: Metaspace
  *   190 → 213 MB, code heap unchanged (135 → 133 MB). A static conf:
  *   it is read once, when the first class is generated in the JVM.
  */
object Session {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // cost-based join reorder over ANALYZE TABLE stats — the Catalyst
      // analogue of the reference's randomized join-order search over
      // .stat files (RandomOptimizer.java:126-216, PlanCost.java:123-189);
      // stats are collected once per data version of each table and
      // stored under the directory's own catalog database, which every
      // later JVM registers them from (Tables.registerSome via
      // SparkSqlRunner); plans without stats are untouched
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
