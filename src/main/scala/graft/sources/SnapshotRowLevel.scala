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
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL `UPDATE` / `MERGE INTO` / complex `DELETE` on SnapshotLog tables via
  * Spark's row-level-operation API (`SupportsRowLevelOperations`,
  * group-based = copy-on-write) — the engine-integrated form of the
  * reference's Iceberg MERGE surface (bodo/io/iceberg/merge_into.py,
  * BodoSQL tests test_iceberg_merge_into/). The flow is Iceberg's:
  *
  *  1. Spark asks the operation for a SCAN; the pushed condition prunes the
  *     manifest (stats + hidden partitions) to the AFFECTED FILES — the
  *     "groups". All filters stay residual, so the scan yields every row of
  *     those files (matched AND unmatched — a copy-on-write group is
  *     replaced whole; Spark itself splits updated vs carried rows).
  *  2. Spark computes the replacement rows and hands them to this
  *     operation's WRITE: each task writes one immutable parquet file
  *     (parquet-mr Group API — the write twin of [[SnapshotFileReader]]).
  *  3. `commit` is one commit-kernel publish
  *     ([[SnapshotLog.commitRowLevel]]): untouched files carried by
  *     reference (stats/sizes/partition tuples preserved), scanned files
  *     replaced by the new ones (footer-walk stats), zero-row outputs
  *     dropped. A concurrent commit between scan pin and publish surfaces
  *     as a refusal — never a lost update.
  *
  * The simple-predicate DELETE still takes the cheaper `SupportsDelete`
  * metadata path; Spark routes only what that refuses (or UPDATE/MERGE)
  * here.
  */
private[sources] class SnapshotRowLevelBuilder(root: String,
    snap: SnapshotLog.Snapshot, info: RowLevelOperationInfo)
    extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new SnapshotRowLevelOperation(root, snap, info.command)
}

private[sources] class SnapshotRowLevelOperation(root: String,
    snap: SnapshotLog.Snapshot, cmd: RowLevelOperation.Command)
    extends RowLevelOperation {

  /** Table root for prune-side bloom consultation. */
  private[sources] def tableRoot: String = root

  /** The scan this operation built — its kept files ARE the replaced
    * groups; scan and write coordinate through this field (the same
    * pairing Iceberg's SparkCopyOnWriteScan/Write use). */
  @volatile private[sources] var builtScan: SnapshotLogScan = _

  override def command(): RowLevelOperation.Command = cmd

  /** Ask for `_file` alongside the data (Iceberg does the same): the
    * rewritten read relation then carries the metadata column, which is
    * what the runtime group-filtering subquery resolves `_file` against —
    * and Spark switches to the metadata-aware writing task, handing the
    * writer PROJECTED data rows (no `__row_operation` marker). */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_file"))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapshotLogScanBuilder(snap, root) {
      override def build(): org.apache.spark.sql.connector.read.Scan = {
        val s = new SnapshotCowScan(snap, buildRequired, buildPushed,
          buildKept, op = SnapshotRowLevelOperation.this)
        builtScan = s
        s
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write
          with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
        import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
        import org.apache.spark.sql.connector.expressions.Expressions

        /** Replaced bytes, from manifest metadata (pre-runtime-filter —
          * an upper bound). */
        private def replacedBytes: Long = {
          val scanned = Option(builtScan).map(_.keptFiles).getOrElse(Seq.empty)
          scanned.flatMap(f => snap.sizes.get(SnapshotLog.norm(f))).sum
        }
        private def small: Boolean =
          replacedBytes > 0 && replacedBytes < (1L << 30) &&
            snap.schema.nonEmpty

        /** Small-files discipline: a sliced UPDATE replacing a few files
          * must not fan its rewrite across every shuffle partition (32
          * near-empty outputs per statement). A SMALL rewrite (the common
          * trickle UPDATE/MERGE) is clustered on the leading column into
          * ceil(bytes/128MB) partitions — the inserted shuffle is
          * proportional to the rewrite, not the table, and the clustering
          * keeps the replacement files' manifest stats tight. A BIG
          * rewrite keeps upstream partitioning: many output files is then
          * correct, and forcing a shuffle would be the real cost. */
        override def requiredDistribution: Distribution =
          if (small)
            Distributions.clustered(
              Array(Expressions.column(snap.schema.fields.head.name)))
          else Distributions.unspecified()

        override def requiredOrdering
            : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
          Array.empty

        override def requiredNumPartitions(): Int =
          if (small)
            math.max(1L, (replacedBytes + (128L << 20) - 1) / (128L << 20)).toInt
          else 0 // no requirement

        override def toBatch: BatchWrite =
          new SnapshotReplaceBatchWrite(root, snap,
            () => Option(builtScan).map(_.keptFiles)
              .getOrElse(Seq.empty),
            info.schema(),
            cmd.toString.toLowerCase)
      }
    }
}

/** The copy-on-write scan: a [[SnapshotLogScan]] that ALSO accepts
  * runtime group filters (`SupportsRuntimeV2Filtering` via the v1-Filter
  * flavor). For MERGE, Spark plans a DPP-style subquery over the source
  * join keys and feeds the resulting IN-set here BEFORE execution — the
  * affected-file set narrows from "statically matching" to "holding rows
  * whose keys the source actually touches". At 100 TB this is the
  * difference between rewriting the table and rewriting the handful of
  * files a trickle MERGE touches (Iceberg's SparkCopyOnWriteScan does
  * exactly this). The write replaces the POST-filter file set. */
private[sources] class SnapshotCowScan(snap: SnapshotLog.Snapshot,
    required: StructType, pushed: Array[org.apache.spark.sql.sources.Filter],
    kept0: Seq[String], op: SnapshotRowLevelOperation)
    extends SnapshotLogScan(snap, required, pushed, kept0)
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  @volatile private var current: Seq[String] = kept0

  override def keptFiles: Seq[String] = current

  override def planInputPartitions()
      : Array[org.apache.spark.sql.connector.read.InputPartition] =
    partitionsFor(current) // carries MoR dels + field-id maps (parent helper)

  /** Anchor runtime filtering on the `_file` metadata column (exactly
    * Iceberg's choice): Spark's group-filter subquery projects the files
    * of rows matching the command condition, and the IN-set that arrives
    * below is the PRECISE affected-file list — no stats heuristics. (One
    * attribute, not all columns: Spark builds a single IN over the whole
    * declared set, and a multi-column struct-IN is untranslatable.) */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_file"))

  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    filters.foreach {
      case In("_file", vs) if vs != null =>
        val keep = vs.filter(_ != null).map(v => SnapshotLog.norm(v.toString)).toSet
        current = current.filter(f => keep.contains(SnapshotLog.norm(f)))
      case EqualTo("_file", v) if v != null =>
        val keep = SnapshotLog.norm(v.toString)
        current = current.filter(f => SnapshotLog.norm(f) == keep)
      case other => // any data-column filter still prunes via stats/partitions
        if (SnapshotStatsFilter.usable(other))
          current = SnapshotLogScanBuilder.prune(snap, current, Array(other),
            op.tableRoot)
    }
  }
}

/** Group-replacing batch write: tasks write immutable parquet files; the
  * driver commit swaps scanned files for written files in ONE manifest
  * publish. */
private[sources] class SnapshotReplaceBatchWrite(root: String,
    snap: SnapshotLog.Snapshot, scannedFiles: () => Seq[String],
    schema: StructType, operation: String) extends BatchWrite {

  private val dataDir =
    new Path(new Path(root, "data"), java.util.UUID.randomUUID().toString.take(12))

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new SnapshotReplaceWriterFactory(dataDir.toString, schema.json)

  /** Zero-row outputs (a task that received no rows still opened a
    * writer) are dropped — deleting a whole group's rows must shrink the
    * table. Replaced files' rows were re-derived through the
    * dels-applying scan, so their delete baggage folds; untouched files
    * keep theirs. The new files get bloom coverage (a DML-heavy table
    * must not bleed point-lookup pruning file by file until compaction). */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val written = messages.collect {
      case SnapshotReplaceMessage(path) if path != null => path
    }.toSeq
    SnapshotLog.commitRowLevel(SparkSession.active, root, snap, operation,
      SnapshotLog.takePendingCommitProps(), schema, written,
      scannedFiles().map(SnapshotLog.norm).toSet, Map.empty, Seq(dataDir))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = SnapshotLog.fsFor(spark, new Path(root))
    fs.delete(dataDir, true): Unit
  }
}

private[sources] case class SnapshotReplaceMessage(path: String)
    extends WriterCommitMessage

private[sources] class SnapshotReplaceWriterFactory(dataDir: String,
    schemaJson: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new SnapshotReplaceDataWriter(dataDir, partitionId, taskId,
      DataType.fromJson(schemaJson).asInstanceOf[StructType])
}

/** Writes one immutable parquet data file through the public parquet-mr
  * Group API — the exact write twin of [[SnapshotFileReader]] (same type
  * envelope: INT64 µs timestamps, INT32 dates, BINARY-UTF8 strings).
  * Runs with a default Hadoop conf — correct for file: roots (this
  * environment); a cluster deployment would broadcast the session conf. */
private[sources] class SnapshotReplaceDataWriter(dataDir: String,
    partitionId: Int, taskId: Long, schema: StructType)
    extends DataWriter[InternalRow] {

  private val msgType: MessageType = SnapshotParquetWrite.messageType(schema)
  private val path =
    new Path(dataDir, f"part-$partitionId%05d-t$taskId.parquet")
  private val conf = new Configuration()
  GroupWriteSupport.setSchema(msgType, conf)
  private val writer = ExampleParquetWriter.builder(path).withConf(conf).build()

  /** Metadata-aware task shape: `write(metadata, data)` — the metadata
    * (the row's original `_file`) served its purpose in group filtering;
    * the replacement file needs only the data. */
  override def write(meta: InternalRow, data: InternalRow): Unit = write(data)

  override def write(row: InternalRow): Unit = {
    // Group-based replace plans prepend RowDeltaUtils.OPERATION_COLUMN
    // (an int marker, WRITE=5 / WRITE_WITH_METADATA=6) that the plain
    // writing task does NOT strip (Spark only projects it away when the
    // operation declares metadata attributes). Detect and skip it; any
    // other layout or marker is a wiring bug — fail, never write garbage.
    val off = row.numFields - schema.length
    require(off == 0 || off == 1,
      s"snapshotlog replace writer: row has ${row.numFields} fields, " +
        s"schema has ${schema.length} (${schema.fieldNames.mkString(",")})")
    if (off == 1) {
      val op = row.getInt(0)
      require(op == 5 || op == 6,
        s"snapshotlog replace writer: unexpected row operation $op")
    }
    val g = new SimpleGroup(msgType)
    var i = 0
    while (i < schema.length) {
      if (!row.isNullAt(i + off))
        SnapshotParquetWrite.append(g, i, row, i + off, schema(i).dataType)
      i += 1
    }
    writer.write(g)
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    SnapshotReplaceMessage(path.toString)
  }

  override def abort(): Unit = {
    writer.close()
    val fs = path.getFileSystem(conf)
    fs.delete(path, false): Unit
  }

  override def close(): Unit = ()
}

private[sources] object SnapshotParquetWrite {
  import LogicalTypeAnnotation._

  /** Spark schema → parquet message type, matching what Spark's own writer
    * produces under Sessions.build (TIMESTAMP_MICROS, no INT96) so the
    * files are indistinguishable to every reader and the footer-stats
    * lift. */
  def messageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val t = f.dataType match {
        case LongType => Types.optional(INT64)
        case IntegerType => Types.optional(INT32)
        case DoubleType => Types.optional(DOUBLE)
        case FloatType => Types.optional(FLOAT)
        case BooleanType => Types.optional(BOOLEAN)
        case StringType => Types.optional(BINARY).as(stringType())
        case TimestampType =>
          Types.optional(INT64).as(timestampType(true, TimeUnit.MICROS))
        case TimestampNTZType =>
          Types.optional(INT64).as(timestampType(false, TimeUnit.MICROS))
        case DateType => Types.optional(INT32).as(dateType())
        case ShortType => Types.optional(INT32).as(intType(16, true))
        case ByteType => Types.optional(INT32).as(intType(8, true))
        case d: DecimalType if d.precision <= 9 =>
          Types.optional(INT32).as(decimalType(d.scale, d.precision))
        case d: DecimalType if d.precision <= 18 =>
          Types.optional(INT64).as(decimalType(d.scale, d.precision))
        case d: DecimalType =>
          Types.optional(FIXED_LEN_BYTE_ARRAY)
            .length(minBytesForPrecision(d.precision))
            .as(decimalType(d.scale, d.precision))
        case other => throw new UnsupportedOperationException(
          s"snapshotlog writer: unsupported column type $other")
      }
      b.addField(t.named(f.name))
    }
    b.named("spark_schema")
  }

  /** Smallest byte width whose two's-complement range covers `precision`
    * decimal digits (the same sizing Spark's parquet writer uses). */
  def minBytesForPrecision(precision: Int): Int = {
    var n = 1
    while (math.log10(2) * (8 * n - 1) < precision) n += 1
    n
  }

  /** Append row ordinal `j` as group field `i` (j = i + operation-column
    * offset). */
  def append(g: SimpleGroup, i: Int, row: InternalRow, j: Int, dt: DataType): Unit =
    dt match {
      case LongType => g.add(i, row.getLong(j))
      case IntegerType => g.add(i, row.getInt(j))
      case DoubleType => g.add(i, row.getDouble(j))
      case FloatType => g.add(i, row.getFloat(j))
      case BooleanType => g.add(i, row.getBoolean(j))
      case StringType =>
        g.add(i, Binary.fromConstantByteArray(row.getUTF8String(j).getBytes))
      case TimestampType | TimestampNTZType => g.add(i, row.getLong(j))
      case DateType => g.add(i, row.getInt(j))
      case ShortType => g.add(i, row.getShort(j).toInt)
      case ByteType => g.add(i, row.getByte(j).toInt)
      case d: DecimalType =>
        val dec = row.getDecimal(j, d.precision, d.scale)
        if (d.precision <= 9) g.add(i, dec.toUnscaledLong.toInt)
        else if (d.precision <= 18) g.add(i, dec.toUnscaledLong)
        else {
          val unscaled = dec.toJavaBigDecimal.unscaledValue().toByteArray
          val width = minBytesForPrecision(d.precision)
          val padded = new Array[Byte](width)
          // sign-extend into the fixed width (two's complement)
          val sign: Byte = if (unscaled(0) < 0) -1 else 0
          java.util.Arrays.fill(padded, sign)
          System.arraycopy(unscaled, 0, padded, width - unscaled.length,
            unscaled.length)
          g.add(i, Binary.fromConstantByteArray(padded))
        }
      case other => throw new UnsupportedOperationException(
        s"snapshotlog writer: unsupported column type $other")
    }
}
