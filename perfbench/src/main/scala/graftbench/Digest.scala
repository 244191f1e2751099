package graftbench

import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{SpecializedGetters, XXH64}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.Platform

/** Row count and order-insensitive checksum of a query result. */
final case class Digest(rows: Long, checksum: Long)

/** Value-level row hash. Doubles and floats are rounded to 1e-6 before
  * hashing so a last-bit difference from summation order does not read
  * as a wrong answer; map entries are combined order-insensitively. */
object RowHash {
  private val NullMark = 0x9E3779B97F4A7C15L

  def row(r: InternalRow, schema: StructType): Long = fields(r, schema, 42L)

  private def fields(g: SpecializedGetters, schema: StructType, seed: Long): Long = {
    var h = seed
    var i = 0
    while (i < schema.length) { h = at(g, i, schema(i).dataType, h); i += 1 }
    h
  }

  private def dbl(x: Double, h: Long): Long =
    if (x.isNaN || x.isInfinite || math.abs(x) >= 1e12) XXH64.hashLong(java.lang.Double.doubleToLongBits(x), h)
    else XXH64.hashLong(math.round(x * 1e6), h)

  private def at(g: SpecializedGetters, i: Int, t: DataType, h: Long): Long =
    if (g.isNullAt(i)) XXH64.hashLong(NullMark, h)
    else t match {
      case BooleanType => XXH64.hashInt(if (g.getBoolean(i)) 1 else 0, h)
      case ByteType => XXH64.hashInt(g.getByte(i).toInt, h)
      case ShortType => XXH64.hashInt(g.getShort(i).toInt, h)
      case IntegerType | DateType => XXH64.hashInt(g.getInt(i), h)
      case LongType | TimestampType | TimestampNTZType => XXH64.hashLong(g.getLong(i), h)
      case FloatType => dbl(g.getFloat(i).toDouble, h)
      case DoubleType => dbl(g.getDouble(i), h)
      case d: DecimalType =>
        val b = g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.toPlainString.getBytes("UTF-8")
        XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, h)
      case _: StringType =>
        val s = g.getUTF8String(i)
        XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, h)
      case BinaryType =>
        val b = g.getBinary(i)
        XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, h)
      case ArrayType(et, _) =>
        val a = g.getArray(i)
        var x = XXH64.hashInt(a.numElements(), h)
        var j = 0
        while (j < a.numElements()) { x = at(a, j, et, x); j += 1 }
        x
      case MapType(kt, vt, _) =>
        val m = g.getMap(i)
        var acc = 0L
        var j = 0
        while (j < m.numElements()) {
          acc += at(m.valueArray(), j, vt, at(m.keyArray(), j, kt, 17L)); j += 1
        }
        XXH64.hashLong(acc, XXH64.hashInt(m.numElements(), h))
      case s: StructType => fields(g.getStruct(i, s.length), s, h)
      case NullType => XXH64.hashLong(NullMark, h)
      case other =>
        val b = String.valueOf(g.get(i, other)).getBytes("UTF-8")
        XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, h)
    }
}

/** The benchmark's sink: a DataSource V2 write that executes the query's
  * complete physical plan (every output column, the final sort) and folds
  * each row into a [[Digest]] in the same pass. Unlike `count()`, it
  * gives Catalyst no column it may prune. */
object Sink {
  private[graftbench] val results = new ConcurrentHashMap[String, Digest]()

  def digest(df: DataFrame): Digest = {
    val id = java.util.UUID.randomUUID().toString
    df.write.format(classOf[DigestSource].getName).mode("overwrite").option("id", id).save()
    Option(results.remove(id)).getOrElse(throw new IllegalStateException("digest write did not commit"))
  }
}

class DigestSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = DigestTable
}

object DigestTable extends Table with SupportsWrite {
  override def name(): String = "graftbench-digest"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new DigestWriteBuilder(info.schema(), info.options().get("id"))
}

final class DigestWriteBuilder(schema: StructType, id: String)
    extends WriteBuilder with SupportsTruncate {
  override def truncate(): WriteBuilder = this
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new BatchWrite {
      override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
        new DigestWriterFactory(schema)
      override def useCommitCoordinator(): Boolean = false
      override def commit(messages: Array[WriterCommitMessage]): Unit = {
        val parts = messages.collect { case d: DigestMessage => d }
        Sink.results.put(id, Digest(parts.map(_.rows).sum, parts.map(_.checksum).sum))
      }
      override def abort(messages: Array[WriterCommitMessage]): Unit = ()
    }
  }
}

final case class DigestMessage(rows: Long, checksum: Long) extends WriterCommitMessage

final class DigestWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private var rows = 0L
      private var sum = 0L
      override def write(r: InternalRow): Unit = { rows += 1; sum += RowHash.row(r, schema) }
      override def commit(): WriterCommitMessage = DigestMessage(rows, sum)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
