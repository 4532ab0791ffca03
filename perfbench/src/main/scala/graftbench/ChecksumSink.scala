package graftbench

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A `noop`-shaped write sink that also fingerprints what it is given.
  *
  * `df.write.format(ChecksumSink.Format).mode("overwrite").save()` plans
  * exactly like the `noop` sink graft.Bench uses (a V2 overwrite of a
  * schema-less table), so the measured plan keeps its final sort and
  * every projection.  Each task hashes its rows (XXH64 of the UnsafeRow
  * bytes) and the commit sums the hashes, so the fingerprint does not
  * depend on row order or partitioning.  [[take]] returns the (rows,
  * fingerprint) of the last committed write; the benchmark has one
  * client thread, so "last" is unambiguous. */
class ChecksumSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ChecksumSink.SinkTable(schema)
}

object ChecksumSink {
  val Format: String = classOf[ChecksumSink].getName

  @volatile private var last: (Long, Long) = (-1L, 0L)

  /** (rows, order-free fingerprint) of the last committed write. */
  def take(): (Long, Long) = { val r = last; last = (-1L, 0L); r }

  final case class Msg(rows: Long, hash: Long) extends WriterCommitMessage

  class SinkTable(schema: StructType) extends Table with SupportsWrite {
    override def name(): String = "graftbench_checksum"
    override def schema(): StructType = schema
    override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite = new Batch(info.schema())
        }
      }
  }

  class Batch(schema: StructType) extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new Factory(schema)
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      var rows = 0L; var hash = 0L
      messages.foreach { case Msg(r, h) => rows += r; hash += h; case _ => () }
      last = (rows, hash)
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  class Factory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new Writer(schema)
  }

  class Writer(schema: StructType) extends DataWriter[InternalRow] {
    private lazy val proj = UnsafeProjection.create(schema)
    private var rows = 0L
    private var hash = 0L
    override def write(row: InternalRow): Unit = {
      val u = row match {
        case u: UnsafeRow => u
        case other => proj(other)
      }
      rows += 1
      hash += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
    }
    override def commit(): WriterCommitMessage = Msg(rows, hash)
    override def abort(): Unit = ()
    override def close(): Unit = ()
  }
}
