package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DELTA-based row-level operations (`SupportsDelta`) — SQL UPDATE /
  * MERGE / complex DELETE as MERGE-ON-READ: instead of rewriting every
  * touched file (the group-based copy-on-write in [[SnapshotRowLevel]]),
  * tasks emit positional DELETE records (the row's `_file`/`_pos` row id)
  * and INSERT records (new row images), and the driver commits ONE
  * snapshot carrying every pre-existing data file by reference plus the
  * delete files and insert fragments. Statement cost is proportional to
  * the AFFECTED ROWS — Iceberg's SparkPositionDeltaWrite, selected the
  * same way (write.update.mode / write.merge.mode / write.delete.mode =
  * merge-on-read table properties; copy-on-write remains the default).
  *
  * Updates arrive as delete+insert pairs (`representUpdateAsDeleteAndInsert`),
  * so the writer needs only two shapes. Readers already understand the
  * artifacts — they are exactly the positional delete files and appended
  * fragments of `deleteWhereMoR`/`updateWhereMoR`; `rewriteDataFiles`
  * folds them away.
  */
private[sources] class SnapshotDeltaBuilder(root: String,
    snap: SnapshotLog.Snapshot, info: RowLevelOperationInfo)
    extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new SnapshotDeltaOperation(root, snap, info.command)
}

private[sources] class SnapshotDeltaOperation(root: String,
    snap: SnapshotLog.Snapshot, cmd: RowLevelOperation.Command)
    extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  /** The row identity IS its physical coordinate: data file + ordinal —
    * the coordinate system positional delete files use. */
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column("_file"), Expressions.column("_pos"))

  /** UPDATE rows arrive as a delete of the old coordinate plus an insert
    * of the new image — the two shapes the artifacts can express. */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty

  /** The operation scan: the ordinary pruning scan (pushed predicates
    * prune via manifest stats/partitions; `_file`/`_pos` are served by
    * the row reader). No group tracking is needed — nothing is replaced. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapshotLogScanBuilder(snap, root)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite =
          new SnapshotDeltaBatchWrite(root, snap, info.schema(),
            cmd.toString.toLowerCase)
      }
    }
}

private[sources] case class SnapshotDeltaMessage(dataPath: String,
    deletePath: String, affectedFiles: Seq[String])
    extends WriterCommitMessage

private[sources] class SnapshotDeltaBatchWrite(root: String,
    snap: SnapshotLog.Snapshot, schema: StructType, operation: String)
    extends DeltaBatchWrite {

  private val dataDir =
    new Path(new Path(root, "data"), java.util.UUID.randomUUID().toString.take(12))
  private val delDir =
    new Path(new Path(root, "deletes"), java.util.UUID.randomUUID().toString.take(12))

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new SnapshotDeltaWriterFactory(dataDir.toString, delDir.toString, schema.json)

  /** Every affected data file gets the statement's delete files; the
    * inserted fragments get bloom coverage like any other commit. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val msgs = messages.collect { case m: SnapshotDeltaMessage => m }
    val newFiles = msgs.flatMap(m => Option(m.dataPath)).toSeq
    val delFiles = msgs.flatMap(m => Option(m.deletePath)).toSeq.sorted
    if (newFiles.isEmpty && delFiles.isEmpty) {
      abort(messages)
      // statement matched nothing: no snapshot, but a moved head refuses
      // like any other statement planned against `snap`
      val head = SnapshotLog.pick(spark, root, None, None).version
      if (head != snap.version)
        throw SnapshotLog.movedSincePlanned(operation, snap, head)
      return
    }
    val affected = msgs.flatMap(_.affectedFiles).distinct
    SnapshotLog.commitRowLevel(spark, root, snap, operation,
      Map("write.mode" -> "merge-on-read-delta") ++
        SnapshotLog.takePendingCommitProps(),
      schema, newFiles, Set.empty,
      affected.map(_ -> delFiles).toMap, Seq(dataDir, delDir))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = SnapshotLog.fsFor(spark, new Path(root))
    fs.delete(dataDir, true)
    fs.delete(delDir, true): Unit
  }
}

private[sources] class SnapshotDeltaWriterFactory(dataDir: String,
    delDir: String, schemaJson: String) extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new SnapshotDeltaWriter(dataDir, delDir, partitionId, taskId,
      DataType.fromJson(schemaJson).asInstanceOf[StructType])
}

/** Per-task delta writer: positional deletes into one (file_path, pos)
  * parquet, inserts into one data parquet — both opened LAZILY so a task
  * that receives no rows of a shape leaves no file behind. */
private[sources] class SnapshotDeltaWriter(dataDir: String, delDir: String,
    partitionId: Int, taskId: Long, schema: StructType)
    extends DeltaWriter[InternalRow] {
  import LogicalTypeAnnotation._

  private val conf = new Configuration()
  private val dataMsg: MessageType = SnapshotParquetWrite.messageType(schema)
  private val delMsg: MessageType = Types.buildMessage()
    .addField(Types.required(BINARY).as(stringType()).named("file_path"))
    .addField(Types.required(INT64).named("pos"))
    .named("spark_schema")

  private var dataWriter: org.apache.parquet.hadoop.ParquetWriter[
    org.apache.parquet.example.data.Group] = _
  private var delWriter: org.apache.parquet.hadoop.ParquetWriter[
    org.apache.parquet.example.data.Group] = _
  private val dataPath = new Path(dataDir, f"part-$partitionId%05d-t$taskId.parquet")
  private val delPath = new Path(delDir, f"part-$partitionId%05d-t$taskId.parquet")
  private val affected = scala.collection.mutable.LinkedHashSet[String]()

  private def dw() = {
    if (dataWriter == null) {
      val c = new Configuration(conf)
      GroupWriteSupport.setSchema(dataMsg, c)
      dataWriter = ExampleParquetWriter.builder(dataPath).withConf(c).build()
    }
    dataWriter
  }
  private def delw() = {
    if (delWriter == null) {
      val c = new Configuration(conf)
      GroupWriteSupport.setSchema(delMsg, c)
      delWriter = ExampleParquetWriter.builder(delPath).withConf(c).build()
    }
    delWriter
  }

  /** `id` is the rowId projection in declared order: (_file, _pos). */
  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    val file = SnapshotLog.norm(id.getUTF8String(0).toString)
    val g = new SimpleGroup(delMsg)
    g.add(0, Binary.fromString(file))
    g.add(1, id.getLong(1))
    delw().write(g)
    affected += file: Unit
  }

  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit =
    throw new IllegalStateException(
      "snapshotlog delta writer: updates must arrive as delete+insert " +
        "(representUpdateAsDeleteAndInsert)")

  override def insert(row: InternalRow): Unit = {
    require(row.numFields == schema.length,
      s"snapshotlog delta writer: insert row has ${row.numFields} fields, " +
        s"schema has ${schema.length}")
    val g = new SimpleGroup(dataMsg)
    var i = 0
    while (i < schema.length) {
      if (!row.isNullAt(i))
        SnapshotParquetWrite.append(g, i, row, i, schema(i).dataType)
      i += 1
    }
    dw().write(g)
  }

  override def commit(): WriterCommitMessage = {
    if (dataWriter != null) dataWriter.close()
    if (delWriter != null) delWriter.close()
    SnapshotDeltaMessage(
      if (dataWriter != null) dataPath.toString else null,
      if (delWriter != null) delPath.toString else null,
      affected.toSeq)
  }

  override def abort(): Unit = {
    if (dataWriter != null) dataWriter.close()
    if (delWriter != null) delWriter.close()
    val fs = dataPath.getFileSystem(conf)
    fs.delete(dataPath, false)
    fs.delete(delPath, false): Unit
  }

  override def close(): Unit = ()
}
