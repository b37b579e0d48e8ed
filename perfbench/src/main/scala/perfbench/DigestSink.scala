package perfbench

import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Order-insensitive digest of a result: row count plus two independent
  * 64-bit lanes, each the wrapping sum of a per-row hash. Equal multisets
  * of rows give equal digests; `schema` carries column names and types. */
final case class Digest(rows: Long, h1: Long, h2: Long, schema: String)

/** A `noop`-shaped DataFrame sink that digests every row it is handed.
  * It consumes the final rows exactly as the `noop` sink does, and adds
  * one hash per row, so it can stand in for `noop` while checking the
  * result. Use: `df.write.format(classOf[DigestSink].getName)
  * .option("key", k).mode("overwrite").save()`, then [[DigestSink.take]]. */
class DigestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new DigestTable(properties.get("key"))
}

object DigestSink {
  private val results = new ConcurrentHashMap[String, Digest]()

  /** The digest committed under `key`, removed from the registry. */
  def take(key: String): Option[Digest] = Option(results.remove(key))

  private[perfbench] def put(key: String, d: Digest): Unit = {
    results.put(key, d): Unit
  }

  private val Seed1 = 0x243F6A8885A308D3L
  private val Seed2 = 0x13198A2E03707344L

  private def fmix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }
  private def step(h: Long, v: Long): Long =
    fmix(h ^ (v + 0x9E3779B97F4A7C15L + (h << 6) + (h >>> 2)))

  private def bytes(h0: Long, b: Array[Byte]): Long = {
    var h = step(h0, b.length.toLong)
    var i = 0
    while (i < b.length) {
      var w = 0L
      var j = 0
      while (j < 8 && i + j < b.length) {
        w |= (b(i + j) & 0xffL) << (8 * j)
        j += 1
      }
      h = step(h, w)
      i += 8
    }
    h
  }

  private def value(h: Long, g: SpecializedGetters, i: Int,
      dt: DataType): Long =
    if (g.isNullAt(i)) step(h, 0x6e756c6cL)
    else dt match {
      case BooleanType => step(h, if (g.getBoolean(i)) 1L else 2L)
      case ByteType => step(h, g.getByte(i).toLong)
      case ShortType => step(h, g.getShort(i).toLong)
      case IntegerType | DateType | _: YearMonthIntervalType =>
        step(h, g.getInt(i).toLong)
      case LongType | TimestampType | TimestampNTZType |
           _: DayTimeIntervalType => step(h, g.getLong(i))
      // floatToIntBits: -0.0 and 0.0 differ, every NaN is one NaN
      case FloatType =>
        step(h, java.lang.Float.floatToIntBits(g.getFloat(i)).toLong)
      case DoubleType =>
        step(h, java.lang.Double.doubleToLongBits(g.getDouble(i)))
      case _: StringType => bytes(h, g.getUTF8String(i).getBytes)
      case BinaryType => bytes(h, g.getBinary(i))
      case d: DecimalType =>
        val v = g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
        bytes(step(h, v.scale.toLong), v.unscaledValue.toByteArray)
      case ArrayType(et, _) =>
        val a = g.getArray(i)
        var x = step(h, a.numElements.toLong)
        var j = 0
        while (j < a.numElements) { x = value(x, a, j, et); j += 1 }
        x
      case MapType(kt, vt, _) =>
        val m = g.getMap(i)
        val (k, v) = (m.keyArray, m.valueArray)
        var x = step(h, m.numElements.toLong)
        var j = 0
        while (j < m.numElements) {
          x = value(value(x, k, j, kt), v, j, vt)
          j += 1
        }
        x
      case s: StructType => row(h, g.getStruct(i, s.size), s)
      case other =>
        throw new UnsupportedOperationException(s"digest of $other")
    }

  private def row(h0: Long, r: InternalRow, s: StructType): Long = {
    var h = h0
    var i = 0
    while (i < s.size) { h = value(h, r, i, s.fields(i).dataType); i += 1 }
    h
  }

  private[perfbench] def rowHashes(r: InternalRow,
      s: StructType): (Long, Long) = (row(Seed1, r, s), row(Seed2, r, s))

  def schemaString(s: StructType): String =
    s.fields.map(f => s"${f.name}:${f.dataType.catalogString}").mkString(",")
}

private final class DigestTable(key: String) extends Table with SupportsWrite {
  override def name(): String = "perfbench-digest"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new DigestBatch(key, info.schema())
      }
    }
}

private final case class PartDigest(rows: Long, h1: Long, h2: Long)
  extends WriterCommitMessage

private final class DigestBatch(key: String, schema: StructType)
    extends BatchWrite {
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = new DigestWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val parts = messages.collect { case p: PartDigest => p }
    DigestSink.put(key, Digest(parts.map(_.rows).sum, parts.map(_.h1).sum,
      parts.map(_.h2).sum, DigestSink.schemaString(schema)))
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private final class DigestWriterFactory(schema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] = new DataWriter[InternalRow] {
    private var rows, h1, h2 = 0L
    override def write(r: InternalRow): Unit = {
      val (a, b) = DigestSink.rowHashes(r, schema)
      rows += 1
      h1 += a
      h2 += b
    }
    override def commit(): WriterCommitMessage = PartDigest(rows, h1, h2)
    override def abort(): Unit = ()
    override def close(): Unit = ()
  }
}
