package graft.sources.v2

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** `graft-replay` write path: append (and truncate-overwrite) parquet
  * slices that the replay reader can cursor over.
  *
  * Design for the replay-log shape: every task writes its own uniquely
  * named file (no cross-task coordination, no renames across
  * directories — object-store friendly), made visible atomically by a
  * task-commit rename from a dot-prefixed in-progress name (dot-files are
  * invisible to the reader's `.parquet` listing). Parquet writes ts
  * min/max statistics per row group as a matter of course, so everything
  * this writer produces is immediately prunable by [[ReplayScan]]'s
  * footer index, which reads the footers of the committed files (and only
  * those) at its next listing.
  *
  * Truncate (`SaveMode.Overwrite`) captures the pre-existing file set at
  * job start on the driver and deletes it only in job-level `commit`,
  * after every task has committed — a failed job leaves the old table
  * intact.
  */
final class ReplayWriteBuilder(path: String, schema: StructType)
    extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new ReplayBatchWrite(path, schema, doTruncate)
  }
}

final case class ReplayCommit(file: String, rows: Long) extends WriterCommitMessage

final class ReplayBatchWrite(path: String, schema: StructType, truncate: Boolean)
    extends BatchWrite {

  // validate the schema up front on the driver: unsupported types must
  // fail at planning, not per-task
  ReplayWriter.parquetSchema(schema)

  private val conf = ReplayDataSource.sessionConf(SparkSession.active)

  /** Files present before the job ran — the truncate set; an append lists
    * nothing. */
  private val preExisting: Seq[String] =
    if (!truncate) Seq.empty
    else {
      val p = new Path(path)
      val fs = p.getFileSystem(conf.value.value)
      if (fs.exists(p) && fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).toSeq.map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).map(_.toString)
      else Seq.empty
    }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ReplayWriterFactory(path, schema, conf)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(conf.value.value)
    preExisting.foreach(f => fs.delete(new Path(f), false))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(conf.value.value)
    messages.collect { case ReplayCommit(f, _) => fs.delete(new Path(f), false) }
  }
}

final class ReplayWriterFactory(path: String, schema: StructType,
    conf: Broadcast[SerializableConfiguration]) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      // the parquet writer sets its own keys: on this task's copy
      private val hadoopConf = ReplayDataSource.taskConf(conf, Map.empty)
      private val fileName =
        f"part-$partitionId%05d-$taskId-${UUID.randomUUID().toString.take(8)}.parquet"
      private val tmpPath = new Path(path, s".$fileName.inprogress")
      private val finalPath = new Path(path, fileName)
      private val parquetType: MessageType = ReplayWriter.parquetSchema(schema)
      private val factory = new SimpleGroupFactory(parquetType)
      private val fields = schema.fields
      @SuppressWarnings(Array("deprecation"))
      private val writer = ExampleParquetWriter.builder(tmpPath)
        .withConf(hadoopConf).withType(parquetType).build()
      private var rows = 0L

      override def write(record: InternalRow): Unit = {
        val g = factory.newGroup()
        var i = 0
        while (i < fields.length) {
          if (!record.isNullAt(i)) fields(i).dataType match {
            case BooleanType => g.add(i, record.getBoolean(i))
            case IntegerType => g.add(i, record.getInt(i))
            case LongType => g.add(i, record.getLong(i))
            case FloatType => g.add(i, record.getFloat(i))
            case DoubleType => g.add(i, record.getDouble(i))
            case _ => g.add(i, Binary.fromString(record.getUTF8String(i).toString))
          }
          i += 1
        }
        writer.write(g)
        rows += 1
      }

      override def commit(): WriterCommitMessage = {
        writer.close()
        val fs = finalPath.getFileSystem(hadoopConf)
        // unique names make the rename race-free; visibility is atomic
        require(fs.rename(tmpPath, finalPath), s"rename failed: $tmpPath -> $finalPath")
        ReplayCommit(finalPath.toString, rows)
      }

      override def abort(): Unit = {
        writer.close()
        val fs = tmpPath.getFileSystem(hadoopConf)
        fs.delete(tmpPath, false): Unit
      }

      override def close(): Unit = ()
    }
}

object ReplayWriter {

  /** StructType → parquet MessageType, the exact inverse of
    * [[ReplayDataSource.sparkSchema]] (LongType stays plain INT64 — the
    * engine's ts-nanos convention round-trips as longs). */
  def parquetSchema(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      f.dataType match {
        case BooleanType => b.addField(Types.optional(PrimitiveTypeName.BOOLEAN).named(f.name))
        case IntegerType => b.addField(Types.optional(PrimitiveTypeName.INT32).named(f.name))
        case LongType => b.addField(Types.optional(PrimitiveTypeName.INT64).named(f.name))
        case FloatType => b.addField(Types.optional(PrimitiveTypeName.FLOAT).named(f.name))
        case DoubleType => b.addField(Types.optional(PrimitiveTypeName.DOUBLE).named(f.name))
        case StringType => b.addField(Types.optional(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(f.name))
        case other => throw new IllegalArgumentException(
          s"graft-replay writes flat primitive schemas only; got $other (${f.name})")
      }
    }
    b.named("graft_replay")
  }
}
