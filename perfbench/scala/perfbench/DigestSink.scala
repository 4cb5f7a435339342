package perfbench

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The `noop` sink plus a content digest: it discards every row like
  * Spark's `noop` source, but first folds the row into a count and an
  * order-insensitive digest (the sum of per-row 64-bit hashes, mod 2^64).
  * The query runner writes each timed query here, so the rows checked
  * against the pins are the rows of the timed execution itself and no
  * second execution is needed.
  *
  * Doubles hash at float precision, so a last-ulp difference from another
  * summation order cannot flip a digest. Maps hash order-insensitively.
  */
class DigestSink extends TableProvider with DataSourceRegister {
  override def shortName(): String = "perfbench-digest"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = DigestTable
}

object DigestSink {
  @volatile private var acc: (Long, Long) = (0L, 0L)
  def reset(): Unit = synchronized { acc = (0L, 0L) }
  private[perfbench] def add(rows: Long, sum: Long): Unit =
    synchronized { acc = (acc._1 + rows, acc._2 + sum) }
  /** (rows, digest as 16 hex digits) of the writes since `reset`. */
  def result: (Long, String) = synchronized { (acc._1, f"${acc._2}%016x") }

  private val Seed = 42L
  private def mix(h: Long, v: Long): Long = XXH64.hashLong(v, h)

  def hashRow(r: InternalRow, t: StructType): Long = {
    var h = Seed
    var i = 0
    while (i < t.length) {
      h = mix(h, if (r.isNullAt(i)) 0x9e3779b9L else hashValue(r.get(i, t(i).dataType), t(i).dataType))
      i += 1
    }
    h
  }

  def hashValue(v: Any, t: DataType): Long = t match {
    case _ if v == null => 0x9e3779b9L
    case DoubleType => XXH64.hashInt(java.lang.Float.floatToIntBits(v.asInstanceOf[Double].toFloat), Seed)
    case FloatType => XXH64.hashInt(java.lang.Float.floatToIntBits(v.asInstanceOf[Float]), Seed)
    case BooleanType => if (v.asInstanceOf[Boolean]) 1L else 2L
    case ByteType | ShortType | IntegerType | DateType =>
      XXH64.hashLong(v.asInstanceOf[Number].longValue, Seed)
    case LongType | TimestampType | TimestampNTZType => XXH64.hashLong(v.asInstanceOf[Long], Seed)
    case s: StringType =>
      val u = v.asInstanceOf[UTF8String]
      XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, Seed)
    case BinaryType =>
      val b = v.asInstanceOf[Array[Byte]]
      XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, Seed)
    case st: StructType => hashRow(v.asInstanceOf[InternalRow], st)
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      var h = Seed + a.numElements
      var i = 0
      while (i < a.numElements) {
        h = mix(h, if (a.isNullAt(i)) 0x9e3779b9L else hashValue(a.get(i, et), et))
        i += 1
      }
      h
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      var s = 0L
      var i = 0
      while (i < m.numElements) {
        s += mix(hashValue(m.keyArray.get(i, kt), kt),
          if (m.valueArray.isNullAt(i)) 0x9e3779b9L else hashValue(m.valueArray.get(i, vt), vt))
        i += 1
      }
      mix(s, m.numElements)
    case _ =>
      val u = UTF8String.fromString(v.toString)
      XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, Seed)
  }
}

private object DigestTable extends Table with SupportsWrite {
  override def name(): String = "perfbench-digest"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val schema = info.schema()
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new DigestBatchWrite(schema)
      }
    }
  }
}

private case class DigestMessage(rows: Long, sum: Long) extends WriterCommitMessage

private class DigestBatchWrite(schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new DigestWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = messages.foreach {
    case DigestMessage(n, s) => DigestSink.add(n, s)
    case _ =>
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private class DigestWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private var rows = 0L
      private var sum = 0L
      override def write(r: InternalRow): Unit = {
        rows += 1
        sum += DigestSink.hashRow(r, schema)
      }
      override def commit(): WriterCommitMessage = DigestMessage(rows, sum)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
