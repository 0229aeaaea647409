package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A write sink that reads every column of every row, like Spark's `noop`
  * format, and reduces the output to an order-insensitive fingerprint:
  * the row count plus the wrapping sum of each row's xxhash64 (the same
  * hash the SQL `xxhash64(*)` expression computes). The plan Spark runs is
  * the plan a `noop` write runs, so a sort or a projection is never elided.
  */
class FingerprintSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new FingerprintTable(schema, properties.get("token"))
}

final case class Fingerprint(rows: Long, hash: Long) extends WriterCommitMessage

class FingerprintTable(tableSchema: StructType, token: String)
    extends Table with SupportsWrite {
  override def name(): String = s"fingerprint-$token"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val writeSchema = info.schema()
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
            new FingerprintWriterFactory(writeSchema)
          override def commit(messages: Array[WriterCommitMessage]): Unit = {
            val fps = messages.collect { case f: Fingerprint => f }
            Sink.results.put(token, Fingerprint(fps.map(_.rows).sum, fps.map(_.hash).sum))
          }
          override def abort(messages: Array[WriterCommitMessage]): Unit = ()
        }
      }
    }
  }
}

class FingerprintWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val types = schema.fields.map(_.dataType)
      private var rows = 0L
      private var hash = 0L
      override def write(row: InternalRow): Unit = {
        var h = 42L
        var i = 0
        while (i < types.length) {
          if (!row.isNullAt(i)) h = XxHash64Function.hash(row.get(i, types(i)), types(i), h)
          i += 1
        }
        rows += 1
        hash += h
      }
      override def commit(): WriterCommitMessage = Fingerprint(rows, hash)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

object Sink {
  private[perfbench] val results = new ConcurrentHashMap[String, Fingerprint]()
  private val counter = new java.util.concurrent.atomic.AtomicLong

  /** Runs `df` to completion into the fingerprint sink and returns
    * `rows:hash:schemaHash`. Column names and types are part of the
    * fingerprint, so a renamed or retyped column is a different output.
    */
  def fingerprint(df: org.apache.spark.sql.Dataset[_]): String = {
    val token = counter.incrementAndGet().toString
    df.write.format(classOf[FingerprintSource].getName).option("token", token)
      .mode("append").save()
    val fp = results.remove(token)
    require(fp != null, s"fingerprint sink committed no result for token $token")
    f"${fp.rows}:${fp.hash}%016x:${ofString(df.schema.simpleString)}"
  }

  /** Fingerprint of a scalar or collected result, given in canonical text. */
  def ofString(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
  }
}
