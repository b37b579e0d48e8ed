package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Ingestion: delimited text → parquet, the Spark-native analogue of the
  * reference's `ConvertTxtToTbl` (tab-delimited `.txt` + serialized
  * schema → `.tbl` of Java-serialized tuples,
  * /root/reference/src/ConvertTxtToTbl.java:16-75).
  *
  * Differences that matter at scale: the read is split across executors,
  * values are coerced by the declared schema during parsing (not row by
  * row on a single thread), and the output is columnar with min/max
  * stats, so downstream scans get pushdown + pruning for free.
  */
object Ingest {

  /** Read `path` (delimited text, no header by default) with an explicit
    * schema, mirroring the reference's externally-declared `.md` schema. */
  def readDelimited(
      spark: SparkSession,
      path: String,
      schema: StructType,
      sep: String = "\t",
      header: Boolean = false): DataFrame =
    spark.read
      .option("sep", sep)
      .option("header", header.toString)
      .schema(schema)
      .csv(path)

  /** Full ConvertTxtToTbl analogue: text in, parquet table out. */
  def csvToParquet(
      spark: SparkSession,
      inPath: String,
      schema: StructType,
      outPath: String,
      sep: String = "\t"): Unit =
    readDelimited(spark, inPath, schema, sep)
      .write.mode(SaveMode.Overwrite).parquet(outPath)

  /** Result sink in the spirit of the reference's output format — a
    * header line then tab-separated value rows (`QueryMain.executeQuery`,
    * /root/reference/src/QueryMain.java:162-226). NOT byte-identical to
    * the reference: QueryMain prints the header with double-space
    * separators, a trailing tab after every value, and `-NULL-` for
    * nulls, while Spark's CSV sink emits a sep-joined header, no trailing
    * tab, empty strings for nulls, and quotes fields containing the
    * separator. The default writes a single part file so concatenating
    * the directory yields one result stream (reference results are
    * human-sized); pass `singleFile = false` for a sharded write of large
    * results, where each part file carries its own header. */
  def writeDelimited(
      df: DataFrame,
      outPath: String,
      sep: String = "\t",
      header: Boolean = true,
      singleFile: Boolean = true,
      preserveOrder: Boolean = false): Unit =
    // repartition(1), not coalesce(1): coalesce would propagate the
    // single-task constraint up through the whole final stage and run a
    // map-only query serially; the explicit exchange keeps the compute
    // parallel and only the write is one task. The exception is an
    // ORDER BY result (preserveOrder): a round-robin exchange would
    // scramble the global sort, so there coalesce(1) concatenates the
    // range-sorted partitions in order — the reference's sorted result
    // file, paid for with the serial final stage it implies.
    (if (!singleFile) df
     else if (preserveOrder) df.coalesce(1)
     else df.repartition(1)).write
      .mode(SaveMode.Overwrite)
      .option("sep", sep)
      .option("header", header.toString)
      .csv(outPath)
}
