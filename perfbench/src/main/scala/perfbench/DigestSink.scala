package perfbench

import java.security.MessageDigest
import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A sink that works like Spark's `noop` sink (every row of every column is
  * produced, nothing is stored) but folds each row into an order-independent
  * digest: the sum, modulo 2^64, of the first 8 bytes of the MD5 of the row's
  * canonical text. Timing a lane through this sink keeps the lane's plan
  * exactly as the noop contract has it and checks its output in the same
  * pass.
  *
  * Use: `df.write.format(classOf[DigestSink].getName).mode("overwrite")
  * .option("key", k).save()`, then `DigestSink.take(k)`.
  *
  * The canonical text has to match `oracle.py`'s, which digests DuckDB's
  * result of the lane's oracle SQL: columns in name order, separated by `|`;
  * integral numbers (of any type, floats included) as `i<n>`, other floats as
  * `d<hex of the double's bits>`, strings length-prefixed, timestamps as
  * epoch micros (a date as its midnight's), nulls as `N`.
  */
class DigestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new DigestTable(schema, properties.get("key"))
}

object DigestSink {
  /** Rows and digest of one written frame. */
  final case class Digest(rows: Long, sum: Long)

  private val results = new ConcurrentHashMap[String, Digest]()

  /** The digest written under `key`, removed from the registry. */
  def take(key: String): Option[Digest] = Option(results.remove(key))

  private[perfbench] def put(key: String, d: Digest): Unit = results.put(key, d)

  /** Field indices in name order: the column order of the canonical text. */
  def nameOrder(schema: StructType): Array[Int] =
    schema.fields.indices.sortBy(i => schema.fields(i).name).toArray

  def canonRow(sb: java.lang.StringBuilder, row: InternalRow, schema: StructType,
               order: Array[Int]): Unit = {
    var k = 0
    while (k < order.length) {
      if (k > 0) sb.append('|')
      canon(sb, row, order(k), schema.fields(order(k)).dataType)
      k += 1
    }
  }

  private def num(sb: java.lang.StringBuilder, d: Double): Unit =
    if (d.isNaN) sb.append("nan")
    else if (d.isInfinite) sb.append(if (d > 0) "inf" else "-inf")
    else if (d == math.rint(d) && math.abs(d) < 1e15) sb.append('i').append(d.toLong)
    else sb.append('d').append(java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d)))

  private def canon(sb: java.lang.StringBuilder, row: InternalRow, i: Int, dt: DataType): Unit =
    if (row.isNullAt(i)) sb.append('N')
    else dt match {
      case BooleanType => sb.append(if (row.getBoolean(i)) "b1" else "b0")
      case ByteType => sb.append('i').append(row.getByte(i).toLong)
      case ShortType => sb.append('i').append(row.getShort(i).toLong)
      case IntegerType => sb.append('i').append(row.getInt(i).toLong)
      case LongType => sb.append('i').append(row.getLong(i))
      case FloatType => num(sb, row.getFloat(i).toDouble)
      case DoubleType => num(sb, row.getDouble(i))
      case d: DecimalType =>
        val bd = row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.stripTrailingZeros()
        if (bd.scale() <= 0) sb.append('i').append(bd.toBigIntegerExact)
        else num(sb, bd.doubleValue())
      case StringType => val s = row.getUTF8String(i).toString
        sb.append('s').append(s.codePointCount(0, s.length)).append(':').append(s)
      case BinaryType => sb.append('x')
        row.getBinary(i).foreach(b => sb.append(f"${b & 0xff}%02x"))
      case DateType => sb.append('t').append(row.getInt(i).toLong * 86400000000L)
      case TimestampType | TimestampNTZType => sb.append('t').append(row.getLong(i))
      case a: ArrayType => canonArray(sb, row.getArray(i), a.elementType)
      case s: StructType =>
        val r = row.getStruct(i, s.size)
        sb.append('{')
        s.fields.indices.foreach { j =>
          if (j > 0) sb.append(',')
          canon(sb, r, j, s.fields(j).dataType)
        }
        sb.append('}')
      case other => sb.append(row.get(i, other).toString)
    }

  private def canonArray(sb: java.lang.StringBuilder, a: ArrayData, et: DataType): Unit = {
    sb.append('[')
    val n = a.numElements()
    val row = InternalRow.fromSeq(a.toSeq[Any](et))
    (0 until n).foreach { j =>
      if (j > 0) sb.append(',')
      canon(sb, row, j, et)
    }
    sb.append(']')
  }

  /** First 8 bytes of the MD5 of `s`, big-endian. */
  def hash64(md: MessageDigest, s: String): Long = {
    val h = md.digest(s.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }
}

private class DigestTable(schema: StructType, key: String) extends Table with SupportsWrite {
  override def name(): String = s"digest($key)"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new DigestBatchWrite(info.schema(), key)
      }
    }
}

private final case class DigestMessage(rows: Long, sum: Long) extends WriterCommitMessage

private class DigestBatchWrite(schema: StructType, key: String) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new DigestWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ms = messages.collect { case m: DigestMessage => m }
    DigestSink.put(key, DigestSink.Digest(ms.map(_.rows).sum, ms.map(_.sum).sum))
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private class DigestWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val md = MessageDigest.getInstance("MD5")
      private val sb = new java.lang.StringBuilder
      private val order = DigestSink.nameOrder(schema)
      private var rows = 0L
      private var sum = 0L
      override def write(row: InternalRow): Unit = {
        sb.setLength(0)
        DigestSink.canonRow(sb, row, schema, order)
        sum += DigestSink.hash64(md, sb.toString)
        rows += 1
      }
      override def commit(): WriterCommitMessage = DigestMessage(rows, sum)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
