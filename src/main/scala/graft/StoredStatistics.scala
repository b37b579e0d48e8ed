package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat,
  CatalogStatistics}
import org.apache.spark.sql.types.{DataType, StructType}

/** The catalog entry `ANALYZE TABLE` leaves for one table — its schema and
  * its `CatalogStatistics` — stored in a file per table under the table's
  * database location (`<warehouse>/graft_<hash>.db/<table>.stats`), so a
  * new JVM registers unchanged data without re-deriving either. This is the
  * Catalyst counterpart of the reference's `.stat` files, computed once
  * when the data is made and only read by the optimizer
  * (`RandomDB.java:32-171`, `PlanCost.java:244-304`).
  *
  * An entry is valid for one data version: the store format, the Spark
  * version, every data file's path, length and mtime, the analyzed column
  * list and the session confs ANALYZE's results depend on. Column
  * statistics use Spark's own `CatalogColumnStat.toMap`/`fromMap`, the
  * form its Hive catalog persists them in. A SHA-256 over the entries
  * makes a torn or foreign file read as absent; a write goes to a fresh
  * temporary name and is renamed into place, so a concurrent reader sees
  * the old file or the new one, never a part. Statistics steer plans and
  * never rows; the key is there so that a stale entry costs no plan
  * either.
  *
  * Nothing here throws: a store that cannot be read or written (a missing
  * directory, a non-local warehouse) only means the table is analyzed.
  */
private[graft] object StoredStatistics {
  /** Bump when the layout or the meaning of an entry changes. */
  private val Format = "1"

  // the session confs ANALYZE … FOR COLUMNS reads: NDV precision, and
  // whether (and how finely) it builds equi-height histograms
  private val Confs = Seq(
    "spark.sql.statistics.ndv.maxError",
    "spark.sql.statistics.histogram.enabled",
    "spark.sql.statistics.histogram.numBins",
    "spark.sql.statistics.percentile.accuracy")

  /** The data version of the table at `loc`, as `spark` would analyze it
    * now: every key of an entry but the analyzed columns (they follow from
    * the schema, see [[read]]). None when `loc` cannot be listed. */
  def version(spark: SparkSession, loc: String): Option[Seq[(String, String)]] =
    try {
      val p = new org.apache.hadoop.fs.Path(loc)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def walk(st: org.apache.hadoop.fs.FileStatus): Seq[String] =
        if (st.isDirectory)
          fs.listStatus(st.getPath).sortBy(_.getPath.toString).toSeq
            .flatMap(walk)
        else Seq(s"${st.getPath} ${st.getLen} ${st.getModificationTime}")
      Some(Seq("format" -> Format, "spark" -> org.apache.spark.SPARK_VERSION,
        "files" -> walk(fs.getFileStatus(p)).mkString("\n")) ++
        Confs.map(k => s"conf.$k" -> spark.conf.get(k)))
    } catch { case NonFatal(_) => None }

  /** Where `db.table`'s entry lives; None when the database location is
    * not a local path. */
  def file(spark: SparkSession, db: String, table: String): Option[Path] =
    try Some(Paths.get(spark.sessionState.catalog.getDatabaseMetadata(db)
      .locationUri).resolve(s"$table.stats"))
    catch { case NonFatal(_) => None }

  /** The stored schema and statistics when `file` holds an intact entry
    * for exactly `version`; None when it is missing, torn, foreign or for
    * another data version. */
  def read(file: Path, version: Seq[(String, String)])
      : Option[(StructType, CatalogStatistics)] =
    try {
      val props = new java.util.Properties
      val r = Files.newBufferedReader(file, UTF_8)
      try props.load(r) finally r.close()
      val e = props.asScala.toMap
      val schema = DataType.fromJson(e("schema")).asInstanceOf[StructType]
      val intact = e.get("sha256").contains(digest(e - "sha256")) &&
        (version :+ columns(schema)).forall { case (k, v) =>
          e.get(k).contains(v)
        }
      Option.when(intact) {
        val stat = e.collect {
          case (k, v) if k.startsWith("stat.") => k.stripPrefix("stat.") -> v
        }
        val colStats = e("statColumns").split("\n").filter(_.nonEmpty)
          .map(c => c -> CatalogColumnStat.fromMap(file.toString, c, stat).get)
          .toMap
        (schema, CatalogStatistics(BigInt(e("sizeInBytes")),
          e.get("rowCount").map(BigInt(_)), colStats))
      }
    } catch { case NonFatal(_) => None }

  /** Store `schema` and `stats` as the entry for `version`. */
  def write(file: Path, version: Seq[(String, String)], schema: StructType,
      stats: CatalogStatistics): Unit =
    try {
      val e = (version :+ columns(schema)) ++ Seq(
        "schema" -> schema.json,
        "sizeInBytes" -> stats.sizeInBytes.toString,
        "statColumns" -> stats.colStats.keys.toSeq.sorted.mkString("\n")) ++
        stats.rowCount.map("rowCount" -> _.toString) ++
        stats.colStats.toSeq.flatMap { case (c, cs) =>
          cs.toMap(c).map { case (k, v) => s"stat.$k" -> v }
        }
      val props = new java.util.Properties
      (e :+ ("sha256" -> digest(e.toMap))).foreach { case (k, v) =>
        props.setProperty(k, v)
      }
      Files.createDirectories(file.getParent)
      val tmp =
        Files.createTempFile(file.getParent, s"${file.getFileName}.", ".tmp")
      try {
        val w = Files.newBufferedWriter(tmp, UTF_8)
        try props.store(w, "graft stored statistics") finally w.close()
        Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE): Unit
      } finally Files.deleteIfExists(tmp): Unit
    } catch { case NonFatal(e) =>
      System.err.println(
        s"[graft] statistics not stored to $file: ${e.getMessage}")
    }

  private def columns(schema: StructType): (String, String) =
    "columns" -> Tables.analyzedColumns(schema).mkString("\n")

  private def digest(e: Map[String, String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(e.toSeq.sorted.map { case (k, v) => s"$k\u0000$v\u0000" }
        .mkString.getBytes(UTF_8))
      .map(b => f"$b%02x").mkString
}
