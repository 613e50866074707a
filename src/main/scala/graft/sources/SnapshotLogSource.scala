package graft.sources

import java.util.OptionalLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.schema.{MessageType, PrimitiveType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, Statistics => V2Statistics}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** DataSource V2 front door for [[SnapshotLog]] tables — the planner-
  * integrated form of the reference's Iceberg reader
  * (bodo/ir/iceberg_ext.py:411, bodo/io/iceberg/filter_conversion.py):
  *
  *   spark.read.format("snapshotlog")
  *     .option("asOfVersion", 2)          // or asOfTimestampMs
  *     .load(root)
  *     .filter($"k" >= 400 && $"tag" === "b")   // ANY predicate
  *
  * Catalyst pushes the data filters into [[SnapshotLogScanBuilder]]
  * (`SupportsPushDownFilters`), which evaluates them against the
  * manifest's per-file min/max stats and plans ONLY the surviving files —
  * Iceberg's manifest-level data skipping, now automatic for every query
  * shape instead of `readPruned`'s single-column probe. Column pruning
  * (`SupportsPushDownRequiredColumns`) reaches the parquet projection, and
  * a `COUNT(*)` never opens a data page at all (row counts come from
  * footers). All pushed filters are ALSO returned as residuals, so Spark
  * re-applies the exact predicate — pruning can only skip files, never
  * change results.
  *
  * Snapshot pinning: the manifest is resolved ONCE per `getTable`, so
  * every scan of the returned table (including self-joins) sees one
  * consistent version — snapshot isolation against concurrent commits.
  *
  * The scan reports manifest-recorded sizes through
  * `SupportsReportStatistics`, so a pruned probe of a big table becomes
  * broadcast-eligible from METADATA, before any file is opened.
  *
  * Scale posture: planning is O(files-in-manifest) driver-side metadata;
  * each surviving file is one input partition read by a self-contained
  * parquet reader (footer projection + per-row materialization). The
  * bulk-scan path for full-table reads remains `SnapshotLog.read`
  * (Spark's vectorized reader over the pinned file list); this scan is the
  * probe path, where file skipping dominates decode speed.
  */
class SnapshotLogSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "snapshotlog"

  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SnapshotLogSource.nullable(
      SnapshotLogSource.resolve(options.asCaseSensitiveMap().asScala.toMap).schema)

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val opts = properties.asScala.toMap
    new SnapshotLogTable(SnapshotLogSource.rootOf(opts),
      SnapshotLogSource.resolve(opts), opts)
  }
}

object SnapshotLogSource {
  /** Additive schema evolution null-fills pre-evolution files, so every
    * surfaced column is nullable regardless of how the committing
    * DataFrame's schema was flagged. */
  private[sources] def nullable(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  private[sources] def rootOf(opts: Map[String, String]): String =
    opts.collectFirst { case (k, v) if k.equalsIgnoreCase("path") => v }
      .getOrElse(throw new IllegalArgumentException(
        "snapshotlog: a table root is required — spark.read.format(\"snapshotlog\").load(root)"))

  private[sources] def opt(opts: Map[String, String], name: String): Option[String] =
    opts.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }

  /** Pin the manifest named by the options (version / AS-OF ts / latest).
    * With `fromVersion`, the pinned snapshot is RESTRICTED to the files
    * appended in `(fromVersion, pinnedVersion]` — the incremental change
    * feed as an ordinary DSv2 table, so stats pruning, column pruning, and
    * metadata statistics all apply to the delta scan unchanged. */
  private[sources] def resolve(opts: Map[String, String]): SnapshotLog.Snapshot = {
    val spark = SparkSession.active
    val root = rootOf(opts)
    // asOfTag / branch: a named ref resolves to its pinned version
    // (Iceberg tag or branch head — branch reads are ref-addressed)
    val tagVersion = opt(opts, "asOfTag").orElse(opt(opts, "branch")).map { name =>
      SnapshotLog.refs(spark, root).getOrElse(name,
        throw new NoSuchElementException(
          s"snapshotlog: no ref '$name' at $root"))
    }
    val snap = SnapshotLog.pick(spark, root,
      tagVersion.orElse(opt(opts, "asOfVersion").map(_.toInt)),
      opt(opts, "asOfTimestampMs").map(_.toLong))
    opt(opts, "fromVersion").map(_.toInt) match {
      case None => snap
      case Some(from) =>
        val skip = opt(opts, "skipNonAppends").exists(_.toBoolean)
        val added = SnapshotLog.addedFiles(spark, root, from, snap.version, skip)
          .flatMap(_._2)
        val keep = added.map(SnapshotLog.norm).toSet
        snap.copy(files = added,
          stats = snap.stats.view.filterKeys(keep.contains).toMap,
          sizes = snap.sizes.view.filterKeys(keep.contains).toMap)
    }
  }
}

private[sources] class SnapshotLogTable(root: String,
    snap: SnapshotLog.Snapshot, opts: Map[String, String] = Map.empty)
    extends Table with SupportsRead with SupportsWrite
    with SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** Iceberg's `_file` metadata column: the data file each row came from.
    * Selectable in queries (`SELECT _file, …`) and the anchor of MERGE
    * runtime group filtering (`_file IN (files holding matching rows)` —
    * precise file-granular pruning, no stats heuristics). */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_file"
        override def dataType(): org.apache.spark.sql.types.DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String = "data file path of the row"
      },
      // Iceberg's `_pos`: the row's ordinal within its data file — the
      // coordinate system of positional delete files (merge-on-read DML)
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_pos"
        override def dataType(): org.apache.spark.sql.types.DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String = "row ordinal within the data file"
      })

  /** SQL UPDATE / MERGE INTO / complex DELETE — group-based copy-on-write
    * ([[SnapshotRowLevelOperation]]); the simple-predicate DELETE keeps the
    * cheaper SupportsDelete metadata path. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    // write.<command>.mode=merge-on-read selects the DELTA operation
    // (positional delete files + insert fragments, cost ∝ affected rows);
    // group-based copy-on-write remains the default — Iceberg's exact
    // property scheme and default
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    val key = info.command() match {
      case Command.DELETE => "write.delete.mode"
      case Command.UPDATE => "write.update.mode"
      case Command.MERGE => "write.merge.mode"
    }
    val mor = SnapshotLog.tableProps(SparkSession.active, root)
      .get(key).contains("merge-on-read")
    if (mor) new SnapshotDeltaBuilder(root, snap, info)
    else new SnapshotRowLevelBuilder(root, snap, info)
  }
  override def name(): String = s"snapshotlog:$root@v${snap.version}"
  override def schema(): StructType = SnapshotLogSource.nullable(snap.schema)

  /** Table-level properties (DESCRIBE EXTENDED / SHOW TBLPROPERTIES). */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    SnapshotLog.tableProps(SparkSession.active, root)
      .foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** Surface the hidden-partition spec (DESCRIBE TABLE / EXPLAIN). */
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val B = """bucket\[(\d+)\]""".r
    val T = """truncate\[(\d+)\]""".r
    snap.spec.map {
      case (c, "identity") => Expressions.identity(c)
      case (c, B(n)) => Expressions.bucket(n.toInt, c)
      case (c, "day") => Expressions.days(c)
      case (c, T(w)) => Expressions.apply("truncate",
        Expressions.literal(w.toInt), Expressions.column(c))
      case (c, tr) => throw new IllegalStateException(
        s"snapshotlog: unknown spec transform $tr on $c")
    }.toArray
  }
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapshotLogScanBuilder(snap, root, opts)

  /** SQL `DELETE FROM … WHERE …` as Iceberg's file-granular copy-on-write:
    * files whose manifest stats PROVE no row can match are carried by
    * reference untouched (metadata only); only stat-touched files are read,
    * filtered to their surviving rows, and rewritten — so a delete of one
    * time slice rewrites that slice's files and nothing else. NULL
    * condition rows survive (SQL DELETE removes only WHERE=TRUE). Refused
    * (canDeleteWhere=false) when any pushed filter has no faithful Column
    * translation — correctness over convenience. Acts on the CURRENT
    * snapshot at execution time, committing a "delete" snapshot. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => SnapshotStatsFilter.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val spark = SparkSession.active
    val cur = SnapshotLog.pick(spark, root, None, None)
    // write.delete.mode=merge-on-read (Iceberg's property, same name):
    // route the SQL DELETE through positional delete files — a KB-scale
    // write instead of a file rewrite, the trickle-delete regime
    if (SnapshotLog.tableProps(spark, root)
        .get("write.delete.mode").contains("merge-on-read")) {
      val cond = filters.map(f => SnapshotStatsFilter.toColumn(f).getOrElse(
        throw new UnsupportedOperationException(
          s"snapshotlog: cannot translate delete filter $f")))
        .reduceOption(_ && _).getOrElse(lit(true))
      SnapshotLog.deleteWhereMoR(spark, root, cond,
        SnapshotLog.nextCommitTs(spark, root))
      return
    }
    val schema = cur.schema
    // same pruning as the scan (field-id stats rekey + blooms included)
    val touched = SnapshotLogScanBuilder.prune(cur, cur.files, filters, root)
    if (touched.isEmpty) return // stats prove nothing matches: no-op
    val cond = filters.map(f => SnapshotStatsFilter.toColumn(f).getOrElse(
      throw new UnsupportedOperationException(
        s"snapshotlog: cannot translate delete filter $f")))
      .reduceOption(_ && _).getOrElse(lit(true))
    // apply any merge-on-read dels first (a positionally deleted row must
    // not be resurrected into the rewritten files), and resolve renamed
    // columns by field id when the table has diverged physical names
    val touchedDels = cur.dels.view
      .filterKeys(k => touched.exists(f => SnapshotLog.norm(f) == k)).toMap
    val conformed =
      if (cur.renameDivergent ||
          SnapshotLog.defaultsNeedConform(cur, Some(touched)))
        SnapshotLog.readConformed(spark, cur, touched)
      else {
        val rawTouched = spark.read.schema(schema).parquet(touched: _*)
        if (touchedDels.isEmpty) rawTouched
        else SnapshotLog.applyDels(spark, rawTouched, touchedDels)
      }
    val keep = conformed.filter(not(coalesce(cond, lit(false))))
    SnapshotLog.rewriteTouched(spark, root, cur, touched, keep,
      SnapshotLog.nextCommitTs(spark, root)): Unit
  }

  /** INSERT INTO / INSERT OVERWRITE / CTAS-append through the V1
    * insertable-relation fallback: the whole query DataFrame reaches
    * `SnapshotLog.commit` as ONE distributed parquet write + footer walk +
    * manifest publish — the identical commit path as the programmatic API,
    * with its conflict detection, instead of a hand-rolled per-row DSv2
    * writer. Writes always commit on the CURRENT table state (a
    * time-traveled load still appends to the head — Iceberg semantics). */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                                ignored: Boolean): Unit = {
              val spark = data.sparkSession
              // a hidden-partitioned table keeps its layout on every
              // insert: route through the spec-aware commit (overwrite
              // re-lays the whole table out by the same spec)
              val spec = SnapshotLog.pick(spark, root, None, None).spec
              if (spec.nonEmpty)
                SnapshotLog.commitPartitioned(data, root, spec,
                  overwrite = overwrite,
                  commitTsMs = SnapshotLog.nextCommitTs(spark, root)): Unit
              else
                SnapshotLog.commit(data, root, overwrite = overwrite,
                  commitTsMs = SnapshotLog.nextCommitTs(spark, root)): Unit
            }
          }
      }
    }
}

private[sources] class SnapshotLogScanBuilder(snap: SnapshotLog.Snapshot,
    root: String = "", opts: Map[String, String] = Map.empty)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  private var required: StructType = SnapshotLogSource.nullable(snap.schema)
  private var pushed: Array[Filter] = Array.empty
  private var aggResult: Option[(StructType, Seq[Seq[Any]])] = None
  private var limitN: Option[Int] = None
  // (order column, descending?, k) — first sort key only; see pushTopN
  private var topN: Option[(String, Boolean, Int)] = None

  /** LIMIT-aware file planning: `SELECT * FROM t LIMIT n` needs only a
    * prefix of files whose manifest row counts reach n — on a 10⁶-file
    * table that is one file opened, not a million planned. PARTIAL push:
    * Spark keeps its own Limit, the scan just plans fewer files, so
    * over-planning is impossible and under-planning is prevented by
    * counting a file as 0 rows whenever its live count is uncertain
    * (merge-on-read deletes attached, or a pre-rowcount manifest). */
  override def pushLimit(l: Int): Boolean = { limitN = Some(l); true }
  override def isPartiallyPushed(): Boolean = true

  /** TOP-K file skipping (ORDER BY … LIMIT k): any answer row must rank
    * at least k-th on the FIRST sort key, and manifest stats bound every
    * file's key range — so pick the tightest threshold T with ≥ k
    * provably-qualifying NON-NULL rows above it (null counts from the
    * commit-time sidecar; rows with deletes or unknown counts count 0)
    * and skip every file whose bounds sit strictly beyond T. PARTIAL
    * push: Spark still runs its TakeOrdered, the scan only plans fewer
    * files. On a time-clustered 100-TB table, `ORDER BY ts DESC LIMIT
    * 100` opens the newest file or two. Only Spark's default null
    * orderings are accepted (ASC+NULLS FIRST / DESC+NULLS LAST); other
    * combinations refuse the push and scan normally. */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      l: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, NullOrdering}
    orders.headOption.map { o =>
      o.expression() match {
        case ref: NamedReference if ref.fieldNames().length == 1 &&
            snap.schema.fieldNames.contains(ref.fieldNames()(0)) =>
          val desc = o.direction() == SortDirection.DESCENDING
          val nullsFirst = o.nullOrdering() == NullOrdering.NULLS_FIRST
          if (desc == nullsFirst) false // non-default null ordering
          else {
            topN = Some((ref.fieldNames()(0), desc, l))
            true
          }
        case _ => false
      }
    }.getOrElse(false)
  }

  /** METADATA-ONLY aggregates (Iceberg's aggregate pushdown): with no
    * residual filters and no merge-on-read deletes in play, COUNT(*)
    * answers from the manifest's per-file row counts and MIN/MAX from its
    * per-file stats — ZERO data files opened, driver-side arithmetic
    * over metadata. On a 100 TB table `SELECT count(*), max(ts)` becomes
    * an O(files) in-memory fold. Anything the manifest cannot answer
    * EXACTLY (deletes, missing stats, filters, group-by, count(col),
    * pre-r13 manifests without row counts) refuses, and Spark runs the
    * ordinary scan+agg plan. */
  private def tryComputeAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Seq[Any]])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    if (pushed.nonEmpty) return None // residuals would falsify the values
    // defense in depth: Spark never pushes an aggregate AND a limit/topN
    // into one scan (a Limit between them blocks either side), but a
    // metadata-computed count over a limit-planned file subset would be
    // silently wrong — refuse if that invariant ever breaks
    if (limitN.nonEmpty || topN.nonEmpty) return None
    val allFiles = buildKept
    if (allFiles.exists(f => snap.dels.contains(SnapshotLog.norm(f)))) return None
    val schema = snap.schema

    def colName(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        Some(r.fieldNames()(0))
      case _ => None
    }
    // canonical manifest scalar -> Catalyst internal value for `dt`
    def internal(v: Any, dt: DataType): Option[Any] = (v, dt) match {
      case (l: java.lang.Long, LongType) => Some(l)
      case (l: java.lang.Long, IntegerType) => Some(Int.box(l.toInt))
      case (l: java.lang.Long, TimestampType | TimestampNTZType) => Some(l)
      case (d: java.lang.Double, DoubleType) => Some(d)
      case (d: java.lang.Double, FloatType) => Some(Float.box(d.toFloat))
      case (s: String, StringType) => Some(UTF8String.fromString(s))
      case _ => None
    }
    def bound(files: Seq[String], name: String, wantMin: Boolean): Option[Any] = {
      if (!schema.fieldNames.contains(name)) return None
      if (files.isEmpty) return Some(null) // empty group: SQL min/max = null
      val perFile = files.map { f =>
        val st = snap.stats.getOrElse(SnapshotLog.norm(f), Map.empty)
        snap.physName(f, name).flatMap(st.get)
      }
      if (perFile.exists(_.isEmpty)) None // a file without stats: refuse
      else {
        val vals = perFile.map(o => if (wantMin) o.get._1 else o.get._2)
        // Parquet writers may TRUNCATE long binary min/max footer stats
        // (parquet.statistics.truncate.length): a truncated bound is a
        // valid pruning bound but NOT an actual data value, so returning
        // it as the exact MIN/MAX would be wrong. Refuse string bounds
        // long enough to be truncation-suspect (truncation defaults start
        // at 64 bytes in the column-index path).
        if (vals.exists {
          case s: String =>
            s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length >= 64
          case _ => false
        }) return None
        // Spark's min/max over strings orders by UTF-8 BYTES (UTF8String
        // binary), not java's UTF-16 code units — the two diverge on
        // supplementary characters. Pruning only needed conservative
        // ordering; an EXACT pushed answer must match the scan's order.
        def ord(a: Any, b: Any): Int = (a, b) match {
          case (x: String, y: String) =>
            UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y))
          case _ => SnapshotLog.cmp(a, b)
        }
        val best = vals.reduce((a, b) =>
          if (wantMin) (if (ord(a, b) <= 0) a else b)
          else (if (ord(a, b) >= 0) a else b))
        internal(best, schema(name).dataType)
      }
    }
    // one output row's agg columns over a file subset; None = refuse
    def aggRow(files: Seq[String]): Option[Seq[(StructField, Any)]] = {
      val out = agg.aggregateExpressions().toSeq.map {
        case _: CountStar =>
          val counts = files.map(f => snap.rows.get(SnapshotLog.norm(f)))
          if (counts.exists(_.isEmpty)) None // pre-r13 manifest
          else Some((StructField("count(*)", LongType, nullable = false),
            Long.box(counts.flatten.sum)))
        case m: Min =>
          colName(m.column()).flatMap(n =>
            bound(files, n, wantMin = true).map(v =>
              (StructField(s"min($n)", schema(n).dataType), v)))
        case m: Max =>
          colName(m.column()).flatMap(n =>
            bound(files, n, wantMin = false).map(v =>
              (StructField(s"max($n)", schema(n).dataType), v)))
        case _ => None
      }
      if (out.exists(_.isEmpty)) None else Some(out.flatten)
    }

    val gb = agg.groupByExpressions().toSeq
    if (gb.isEmpty) {
      aggRow(allFiles).map(row =>
        (StructType(row.map(_._1)), Seq(row.map(_._2))))
    } else {
      // GROUP BY over IDENTITY-partition source columns: identity layout
      // means every row of a file carries exactly the file's tuple value,
      // so the per-group aggregate is the fold over that group's files —
      // still zero data IO (Iceberg's partition-metadata group-by)
      val gbCols = gb.map(colName)
      if (gbCols.exists(_.isEmpty)) return None
      val names = gbCols.flatten
      // Only int/long/string identity keys: for those types the manifest
      // string is provably round-trippable (raw.toLong / unescape). Other
      // identity types (date/timestamp/double/bool) are NOT Long-parseable,
      // and conflating "unrepresentable" with NULL would silently collapse
      // every group into one NULL-keyed row — refuse pushdown instead and
      // let Spark run the real scan+agg.
      if (names.exists { n =>
        schema.fields.find(_.name == n) match {
          case Some(f) => f.dataType != IntegerType &&
            f.dataType != LongType && f.dataType != StringType
          case None => true // metadata/virtual column: refuse
        }
      }) return None
      // per file: the group key (typed; Some(null) = genuine NULL key), or
      // refuse (None) if any gb column is not identity-partitioned, the
      // tuple is missing, or a value cannot be represented exactly
      val keyed = allFiles.map { f =>
        val key = SnapshotLog.norm(f)
        val fspec = snap.specOf(f)
        val tuple = snap.parts.getOrElse(key, Seq.empty)
        if (tuple.size != fspec.size) None
        else {
          val vals: Seq[Option[Any]] = names.map { n =>
            val i = fspec.indexWhere { case (src, tr) =>
              src == n && tr == "identity" }
            if (i < 0) None
            else if (tuple(i) == SnapshotPartition.NullMarker)
              Some(null) // only the Hive null marker is a NULL group key
            else SnapshotPartition
              .parsePartValue(tuple(i), schema(n).dataType, "identity")
              .flatMap(v => internal(v, schema(n).dataType)) // None = refuse
          }
          if (vals.exists(_.isEmpty)) None
          else Some(vals.map(_.get))
        }
      }
      if (keyed.exists(_.isEmpty)) return None
      val groups = allFiles.zip(keyed.map(_.get)).groupBy(_._2)
      val keySchema = names.map(n => StructField(n, schema(n).dataType))
      val rows = groups.toSeq.map { case (keyVals, fileKeys) =>
        aggRow(fileKeys.map(_._1)) match {
          case Some(aggVals) => Some((aggVals.map(_._1), keyVals ++ aggVals.map(_._2)))
          case None => None
        }
      }
      if (rows.isEmpty) {
        // no files: zero groups is the correct GROUP BY result
        aggRow(Seq.empty).map(r =>
          (StructType(keySchema ++ r.map(_._1)), Seq.empty[Seq[Any]]))
      } else if (rows.exists(_.isEmpty)) None
      else Some((StructType(keySchema ++ rows.head.get._1),
        rows.map(_.get._2)))
    }
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = tryComputeAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = tryComputeAgg(agg) match {
    case some @ Some(_) => aggResult = some; true
    case None => false
  }

  /** Accept every filter the stats can say something about (for pruning +
    * explain), and return ALL filters as residuals — Spark re-applies the
    * exact predicate, so stat-pruning is pure skipping, never semantics. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // ngram-usable substring shapes prune through trigram-bloom sidecars
    // (no-op on tables that never opted in — one FS probe at plan time)
    pushed = filters.filter(f => SnapshotStatsFilter.usable(f) ||
      SnapshotNgramBlooms.usable(f))
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  protected def buildRequired: StructType = required
  protected def buildPushed: Array[Filter] = pushed
  protected def buildKept: Seq[String] = {
    val base = SnapshotLogScanBuilder.prune(snap, snap.files, pushed, root)
    // limit/top-k planning composes only on a filter-free scan (Spark
    // already never pushes either past a residual Filter; double-guard)
    if (pushed.nonEmpty) base
    else topN match {
      case Some((c, desc, k)) =>
        SnapshotLogScanBuilder.topKKeep(snap, base, root, c, desc, k)
      case None => limitN match {
        case Some(l) => SnapshotLogScanBuilder.limitKeep(snap, base, l)
        case None => base
      }
    }
  }

  override def build(): Scan = aggResult match {
    case Some((aggSchema, rows)) =>
      new SnapshotAggScan(snap, aggSchema, rows)
    case None =>
      new SnapshotLogScan(snap, required, pushed, buildKept, root, opts)
  }
}

/** The metadata-answered aggregate: one driver-computed row, zero data
  * files opened (surfaced in EXPLAIN as `files=0(metadata-agg)`). */
private[graft] class SnapshotAggScan(snap: SnapshotLog.Snapshot,
    aggSchema: StructType, rows: Seq[Seq[Any]]) extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"snapshotlog v${snap.version} files=0(metadata-agg) " +
      s"ReadSchema: ${aggSchema.catalogString}"
  override def planInputPartitions(): Array[InputPartition] =
    Array(SnapshotAggPartition(rows.map(_.toArray).toArray))
  override def createReaderFactory(): PartitionReaderFactory =
    SnapshotAggReaderFactory()
}

private[sources] case class SnapshotAggPartition(rows: Array[Array[Any]])
    extends InputPartition

private[sources] case class SnapshotAggReaderFactory()
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val rows = partition.asInstanceOf[SnapshotAggPartition].rows
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = new GenericInternalRow(rows(i))
      override def close(): Unit = ()
    }
}

private[graft] object SnapshotLogScan {
  /** Largest runtime IN-set the scan will probe against driver-side
    * metadata (stats / partition tuples / blooms). Past this the build
    * side is not selective enough to pay the O(keys × files) probe.
    * Tunable via -Dgraft.snapshotlog.dfp.maxKeys. */
  def maxRuntimeKeys: Int =
    Integer.getInteger("graft.snapshotlog.dfp.maxKeys", 10000)

  /** Target bytes per scan task: files materially larger than this split
    * into byte ranges (row-group-aligned at read time). Matches Spark's
    * files.maxPartitionBytes default; tunable via
    * -Dgraft.snapshotlog.split.targetBytes (tests shrink it). */
  def splitTargetBytes: Long =
    java.lang.Long.getLong("graft.snapshotlog.split.targetBytes", 128L << 20)

  /** Backstop against a pathological size/target ratio. */
  def maxSplitsPerFile: Int =
    Integer.getInteger("graft.snapshotlog.split.maxPerFile", 256)
}

private[graft] object SnapshotLogScanBuilder {

  /** A file's LIVE row count, provable from metadata alone: manifest row
    * count, unless merge-on-read deletes are attached or the count is
    * unrecorded (pre-r13 manifest) — then 0, so limit/top-k planning can
    * only ever UNDER-count and keep extra files, never starve the query. */
  private def provableRows(snap: SnapshotLog.Snapshot, f: String): Long = {
    val key = SnapshotLog.norm(f)
    if (snap.dels.contains(key)) 0L
    else snap.rows.getOrElse(key, 0L)
  }

  /** Keep a manifest-order prefix of files whose provable rows reach
    * `limit`; if they never do, keep everything. */
  def limitKeep(snap: SnapshotLog.Snapshot, candidates: Seq[String],
                limit: Int): Seq[String] = {
    var acc = 0L
    val taken = candidates.takeWhile { f =>
      val more = acc < limit
      if (more) acc += provableRows(snap, f)
      more
    }
    if (acc >= limit) taken else candidates
  }

  /** Top-k file skipping for ORDER BY <col> [DESC] LIMIT k under Spark's
    * default null orderings. DESC (nulls last): find the largest
    * threshold T — a candidate file min — such that files with min ≥ T
    * provably hold ≥ k non-null rows; every answer row then has value
    * ≥ T, so files with max < T are skipped. ASC (nulls first) mirrors
    * with maxes, after first serving up to k rows from provable nulls.
    * Files with unknown stats/rows/null-counts are never skipped and
    * contribute 0 to the proofs — absent metadata degrades to a plain
    * scan, never to a wrong answer. Deletes only remove rows, so
    * bound-based skipping stays valid on delete-carrying files (their
    * counts already contribute 0). */
  def topKKeep(snap: SnapshotLog.Snapshot, candidates: Seq[String],
               root: String, column: String, desc: Boolean,
               k: Int): Seq[String] = {
    if (k <= 0) return candidates
    val allNulls = SnapshotNulls.nullsAt(root)
    final case class Meta(f: String, lo: Option[Any], hi: Option[Any],
                          nonNull: Long, provableNoNulls: Boolean,
                          knownNulls: Long)
    val metas = candidates.map { f =>
      val key = SnapshotLog.norm(f)
      val physStats = snap.stats.getOrElse(key, Map.empty[String, (Any, Any)])
      val phys: Option[String] =
        if (snap.fids.isEmpty || !snap.colIds.contains(key)) Some(column)
        else snap.physName(f, column)
      val bound = phys.flatMap(physStats.get)
      val nn: Option[Long] = phys.flatMap(p =>
        allNulls.get(key).flatMap(_.get(p)))
      val rows = provableRows(snap, f)
      val nonNull = nn match {
        case Some(n) if rows > 0L => math.max(0L, rows - n)
        case _ => 0L
      }
      Meta(f, bound.map(_._1), bound.map(_._2), nonNull,
        provableNoNulls = nn.contains(0L),
        knownNulls = if (snap.dels.contains(key)) 0L else nn.getOrElse(0L))
    }
    import SnapshotLog.cmp
    if (desc) {
      // threshold candidates: file mins, best-first
      val cands = metas.filter(m => m.lo.isDefined && m.nonNull > 0)
        .sortWith((a, b) => cmp(a.lo.get, b.lo.get) > 0)
      var acc = 0L
      var thr: Option[Any] = None
      val it = cands.iterator
      while (thr.isEmpty && it.hasNext) {
        val m = it.next()
        acc += m.nonNull // all files seen so far have min >= m.lo
        if (acc >= k) thr = m.lo
      }
      thr match {
        case Some(t) =>
          metas.filter(m => m.hi.isEmpty || cmp(m.hi.get, t) >= 0).map(_.f)
        case None => candidates
      }
    } else {
      // nulls sort FIRST: k provable nulls answer the query from the
      // null-carrying files alone; otherwise serve k - knownNulls from
      // the smallest value ranges
      val n0 = metas.map(_.knownNulls).sum
      if (n0 >= k) metas.filterNot(_.provableNoNulls).map(_.f)
      else {
        val need = k - n0
        val cands = metas.filter(m => m.hi.isDefined && m.nonNull > 0)
          .sortWith((a, b) => cmp(a.hi.get, b.hi.get) < 0)
        var acc = 0L
        var thr: Option[Any] = None
        val it = cands.iterator
        while (thr.isEmpty && it.hasNext) {
          val m = it.next()
          acc += m.nonNull
          if (acc >= need) thr = m.hi
        }
        thr match {
          case Some(t) =>
            metas.filter(m => !m.provableNoNulls || m.lo.isEmpty ||
              cmp(m.lo.get, t) <= 0).map(_.f)
          case None => candidates
        }
      }
    }
  }

  /** A large IN-set compiled ONCE per prune call: literals normalized
    * into stat space and sorted (per-file range probe becomes a binary
    * search, O(log k) instead of O(k)) and bloom hashes precomputed
    * (per-file probe pays lookups, never re-hashing). Without this a
    * runtime join filter of 10k keys against 10^5 zone-mapped files is
    * 10^9 comparisons on the driver; with it, ~10^5 log k. */
  private[graft] final case class CompiledIn(
      attr: String, statsKeepAlways: Boolean, bloomKeepAlways: Boolean,
      sortedLits: Array[Any], hashes: Array[Long]) {
    import SnapshotLog.cmp
    /** ∃ value in [mn, mx]? — smallest value ≥ mn, then check ≤ mx. */
    def statsMayMatch(stats: Map[String, (Any, Any)]): Boolean =
      statsKeepAlways || (stats.get(attr) match {
        case Some((mn, mx)) =>
          var lo = 0; var hi = sortedLits.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (cmp(sortedLits(mid), mn) < 0) lo = mid + 1 else hi = mid
          }
          lo < sortedLits.length && cmp(sortedLits(lo), mx) <= 0
        case None => true
      })
    def bloomMayMatch(
        bloomOf: String => Option[org.apache.spark.util.sketch.BloomFilter])
        : Boolean =
      bloomKeepAlways || (bloomOf(attr) match {
        case Some(bf) =>
          var i = 0
          while (i < hashes.length) {
            if (bf.mightContainLong(hashes(i))) return true
            i += 1
          }
          false
        case None => true
      })
  }

  private[graft] def compileIn(in: In, schema: StructType): CompiledIn = {
    import SnapshotLog.cmp
    val field = schema.fields.find(_.name == in.attribute)
    val lits = in.values.filter(_ != null)
      .map(v => SnapshotStatsFilter.statLitOf(schema, in.attribute, v))
    val hashes = field.map(fd => in.values.filter(_ != null)
      .map(v => SnapshotBlooms.probeHash(v, fd.dataType)))
      .getOrElse(Array.empty[Option[Long]])
    CompiledIn(in.attribute,
      statsKeepAlways = in.values.exists(_ == null) || lits.exists(_.isEmpty),
      bloomKeepAlways = in.values.exists(_ == null) || field.isEmpty ||
        hashes.exists(_.isEmpty),
      sortedLits = lits.flatten.sortWith(cmp(_, _) < 0),
      hashes = hashes.flatten)
  }

  /** IN-sets this long take the compiled path; short ones stay on the
    * simple per-value probe (same answers, less setup). */
  private val CompileInThreshold = 32

  /** Files of `candidates` that may hold a row matching every filter,
    * per manifest stats AND hidden-partition tuples (the pruning min/max
    * stats cannot do — bucket probes on hashed keys) AND, when `root` is
    * supplied and the table opted in, per-file BLOOM sidecars (the
    * needle-lookup case stats AND partitioning cannot serve: equality/IN
    * on a high-cardinality unsorted column). */
  def prune(snap: SnapshotLog.Snapshot, candidates: Seq[String],
            filters: Array[Filter], root: String = ""): Seq[String] = {
    val schema = snap.schema
    // load blooms only when some filter could consult them (equality/IN
    // shapes) — a bloom-free table pays one FS existence probe, nothing
    // else; sidecar parses are JVM-cached (immutable files)
    val blooms: Map[String, Map[String, org.apache.spark.util.sketch.BloomFilter]] =
      if (root.nonEmpty && filters.exists(SnapshotStatsFilter.usable))
        SnapshotBlooms.bloomsAt(root)
      else Map.empty
    // trigram blooms serve SUBSTRING shapes (contains/startsWith/endsWith/
    // string equality) — loaded only when such a filter is present
    val ngrams: Map[String, Map[String, (Int, org.apache.spark.util.sketch.BloomFilter)]] =
      if (root.nonEmpty && filters.exists(SnapshotNgramBlooms.usable))
        SnapshotNgramBlooms.ngramsAt(root)
      else Map.empty
    // each needle's gram hashes computed once per gram size present in
    // the sidecars (not per file per gram)
    val gramProbes: Map[(String, Int), Array[Long]] =
      if (ngrams.isEmpty) Map.empty
      else SnapshotNgramBlooms.compileGrams(filters,
        ngrams.valuesIterator.flatMap(_.valuesIterator.map(_._1)).toSet)
    val probes: Map[Filter, CompiledIn] = filters.collect {
      case in @ In(_, vs) if vs != null && vs.length > CompileInThreshold =>
        (in: Filter) -> compileIn(in, schema)
    }.toMap
    // a file that provably LACKS a defaulted column serves the default
    // for every row — its effective bound is (default, default), so a
    // probe on any OTHER value prunes pre-evolution files wholesale
    val defaultBounds: Map[String, (Any, Any)] = defaultStatBounds(schema)
    // per-file stat checks are independent and pure: at very large file
    // counts (10^5-10^6, the 100-TB decade) fan the driver-side prune
    // across cores instead of walking a million entries serially
    if (candidates.length > 20000 && filters.nonEmpty) {
      val arr = candidates.toArray
      val keep = new Array[Boolean](arr.length)
      java.util.stream.IntStream.range(0, arr.length).parallel()
        .forEach(i => keep(i) =
          mayKeep(snap, schema, arr(i), filters, blooms, probes,
            defaultBounds, ngrams, gramProbes))
      return arr.indices.collect { case i if keep(i) => arr(i) }
    }
    candidates.filter(f =>
      mayKeep(snap, schema, f, filters, blooms, probes, defaultBounds, ngrams,
        gramProbes))
  }

  /** Stat-space (min, max) = (default, default) for every column with a
    * declared existence default: Int→Long / Float→Double / UTF8String→
    * String to match the manifest's recorded scalar space. Columns whose
    * default cannot convert are simply absent (conservative). */
  private def defaultStatBounds(schema: StructType): Map[String, (Any, Any)] = {
    val k = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
      .EXISTS_DEFAULT_COLUMN_METADATA_KEY
    if (!schema.fields.exists(_.metadata.contains(k))) return Map.empty
    org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
      .getExistenceDefaultValues(schema).zip(schema.fields)
      .collect { case (v, f) if v != null && f.metadata.contains(k) =>
        val statV: Option[Any] = v match {
          case i: java.lang.Integer => Some(Long.box(i.longValue()))
          case l: java.lang.Long => Some(l)
          case fl: java.lang.Float => Some(Double.box(fl.doubleValue()))
          case d: java.lang.Double => Some(d)
          case s: UTF8String => Some(s.toString)
          case _ => None
        }
        statV.map(sv => f.name -> ((sv, sv): (Any, Any)))
      }.flatten.toMap
  }

  /** May data file `f` hold a row matching every filter? Pure per-file
    * check (manifest stats + hidden-partition tuple) — safe to evaluate
    * from any thread. */
  private def mayKeep(snap: SnapshotLog.Snapshot, schema: StructType,
                      f: String, filters: Array[Filter],
                      blooms: Map[String, Map[String, org.apache.spark.util.sketch.BloomFilter]]
                        = Map.empty,
                      probes: Map[Filter, CompiledIn] = Map.empty,
                      defaultBounds: Map[String, (Any, Any)] = Map.empty,
                      ngrams: Map[String, Map[String, (Int, org.apache.spark.util.sketch.BloomFilter)]]
                        = Map.empty,
                      gramProbes: Map[(String, Int), Array[Long]] = Map.empty)
      : Boolean = {
    val key = SnapshotLog.norm(f)
    val physStats = snap.stats.getOrElse(key, Map.empty[String, (Any, Any)])
    // stats are keyed by the file's PHYSICAL column names; filters use
    // CURRENT names — rekey through the field-id mapping so pruning
    // stays correct (and effective) after a rename. A forced-null-fill
    // column simply has no stats entry (conservative: keep the file —
    // the reader null-fills it, and the residual filter applies).
    val stats =
      if (snap.fids.isEmpty || !snap.colIds.contains(key)) physStats
      else schema.fieldNames.flatMap { n =>
        snap.physName(f, n).flatMap(p => physStats.get(p)).map(n -> _)
      }.toMap
    // augment with (default, default) bounds for defaulted columns this
    // file PROVABLY lacks — its every row serves the default, so the
    // bound is exact, and real recorded stats always win
    val effStats =
      if (defaultBounds.isEmpty) stats
      else defaultBounds.filter { case (n, _) =>
        !stats.contains(n) && {
          val cs = snap.cols.get(key)
          val phys =
            if (snap.fids.isEmpty || !snap.colIds.contains(key)) Some(n)
            else snap.physName(f, n)
          phys match {
            case None => true // field ids prove the file predates the column
            case Some(p) => cs.exists(!_.contains(p))
          }
        }
      } ++ stats
    filters.forall(flt => probes.get(flt) match {
      case Some(p) => p.statsMayMatch(effStats)
      case None => SnapshotStatsFilter.mayMatch(effStats, schema, flt)
    }) && {
      // spec EVOLUTION: each file prunes under the spec it was WRITTEN
      // with (its recorded tuple aligns with that spec, not the
      // currently-active one)
      val tuple = snap.parts.getOrElse(key, Seq.empty)
      val fspec = snap.specOf(f)
      fspec.isEmpty || tuple.isEmpty ||
        filters.forall(SnapshotPartition.mayMatch(fspec, tuple, schema, _))
    } && (blooms.isEmpty || {
      // bloom sidecars key by the column's name AT COMMIT TIME — resolve
      // the current name through the field-id map like the stats above,
      // so renames neither lose pruning nor (worse) probe a wrong bloom
      def bloomOf(n: String): Option[org.apache.spark.util.sketch.BloomFilter] = {
        val phys =
          if (snap.fids.isEmpty || !snap.colIds.contains(key)) Some(n)
          else snap.physName(f, n)
        phys.flatMap(blooms.get).flatMap(_.get(key))
      }
      filters.forall(flt => probes.get(flt) match {
        case Some(p) => p.bloomMayMatch(bloomOf)
        case None => SnapshotBlooms.mayMatch(bloomOf, schema, flt)
      })
    }) && (ngrams.isEmpty || {
      // trigram-bloom sidecars: same commit-time-name resolution through
      // the field-id map as the value blooms above
      def ngramOf(n: String): Option[(Int, org.apache.spark.util.sketch.BloomFilter)] = {
        val phys =
          if (snap.fids.isEmpty || !snap.colIds.contains(key)) Some(n)
          else snap.physName(f, n)
        phys.flatMap(ngrams.get).flatMap(_.get(key))
      }
      filters.forall(SnapshotNgramBlooms.mayMatch(ngramOf, _, gramProbes))
    })
  }
}

/** Evaluates v1 `Filter` trees against per-file (min, max) manifest stats.
  * Tri-state collapsed to "may the file contain a matching row": any
  * unrecognised filter shape, missing stat, or non-comparable literal is
  * `true` (keep the file — conservative, like Iceberg's residual
  * evaluation). Null-semantics filters (IsNull/IsNotNull/Not) are always
  * `true`: the manifest records value bounds, not null counts. */
private[sources] object SnapshotStatsFilter {
  import SnapshotLog.cmp

  /** Filters worth reporting as pushed (they can prune given stats). */
  def usable(f: Filter): Boolean = f match {
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual | _: LessThan |
         _: LessThanOrEqual | _: In | _: StringStartsWith => true
    case EqualNullSafe(_, v) => v != null
    case And(l, r) => usable(l) || usable(r)
    case Or(l, r) => usable(l) && usable(r)
    case _ => false
  }

  /** [[statLit]] for the compiled IN-probe path. */
  private[sources] def statLitOf(schema: StructType, attr: String,
                                 v: Any): Option[Any] = statLit(schema, attr, v)

  /** Normalize a pushed literal into manifest-stat space (timestamps →
    * epoch-µs longs, the unit commit records). None = not comparable. */
  private def statLit(schema: StructType, attr: String, v: Any): Option[Any] = v match {
    case null => None
    case t: java.sql.Timestamp =>
      Some(Long.box(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000))
    case i: java.time.Instant =>
      Some(Long.box(i.getEpochSecond * 1000000L + i.getNano / 1000))
    case l: java.time.LocalDateTime =>
      val inst = l.toInstant(java.time.ZoneOffset.UTC)
      Some(Long.box(inst.getEpochSecond * 1000000L + inst.getNano / 1000))
    case n: Number => Some(n)
    case s: String => Some(s)
    case u: UTF8String => Some(u.toString)
    case _ => None
  }

  def mayMatch(stats: Map[String, (Any, Any)], schema: StructType, f: Filter): Boolean = {
    def bound(attr: String, v: Any)(p: (Any, Any, Any) => Boolean): Boolean =
      (stats.get(attr), statLit(schema, attr, v)) match {
        case (Some((mn, mx)), Some(w)) => p(mn, mx, w)
        case _ => true
      }
    f match {
      case And(l, r) => mayMatch(stats, schema, l) && mayMatch(stats, schema, r)
      case Or(l, r) => mayMatch(stats, schema, l) || mayMatch(stats, schema, r)
      case EqualTo(a, v) => bound(a, v)((mn, mx, w) => cmp(w, mn) >= 0 && cmp(w, mx) <= 0)
      case EqualNullSafe(a, v) if v != null =>
        bound(a, v)((mn, mx, w) => cmp(w, mn) >= 0 && cmp(w, mx) <= 0)
      case GreaterThan(a, v) => bound(a, v)((_, mx, w) => cmp(mx, w) > 0)
      case GreaterThanOrEqual(a, v) => bound(a, v)((_, mx, w) => cmp(mx, w) >= 0)
      case LessThan(a, v) => bound(a, v)((mn, _, w) => cmp(mn, w) < 0)
      case LessThanOrEqual(a, v) => bound(a, v)((mn, _, w) => cmp(mn, w) <= 0)
      case In(a, vs) =>
        if (vs == null || vs.isEmpty) true
        else vs.exists(v => v == null ||
          bound(a, v)((mn, mx, w) => cmp(w, mn) >= 0 && cmp(w, mx) <= 0))
      case StringStartsWith(a, p) => stats.get(a) match {
        // s startsWith p ⟹ mn.take(|p|) <= p <= mx.take(|p|)
        case Some((mn: String, mx: String)) =>
          mn.take(p.length) <= p && mx.take(p.length) >= p
        case _ => true
      }
      case _ => true
    }
  }

  /** EXACT Column form of a v1 Filter (for the DELETE rewrite's residual
    * row predicate). None = shape we cannot translate faithfully — the
    * caller must refuse the delete rather than guess. */
  def toColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit, not}
    def l(v: Any) = lit(v)
    f match {
      case EqualTo(a, v) => Some(col(a) === l(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> l(v))
      case GreaterThan(a, v) => Some(col(a) > l(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= l(v))
      case LessThan(a, v) => Some(col(a) < l(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= l(v))
      case In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case And(x, y) => for (cx <- toColumn(x); cy <- toColumn(y)) yield cx && cy
      case Or(x, y) => for (cx <- toColumn(x); cy <- toColumn(y)) yield cx || cy
      case Not(x) => toColumn(x).map(not)
      case StringStartsWith(a, p) => Some(col(a).startsWith(p))
      case StringEndsWith(a, p) => Some(col(a).endsWith(p))
      case StringContains(a, p) => Some(col(a).contains(p))
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }
}

private[graft] class SnapshotLogScan(snap: SnapshotLog.Snapshot,
    required: StructType, pushed: Array[Filter], kept: Seq[String],
    root: String = "", opts: Map[String, String] = Map.empty)
    extends Scan with Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** `spark.readStream.format("snapshotlog").load(root)` — the snapshot
    * log AS A STREAM (Iceberg/Delta streaming-read analog). Offsets are
    * snapshot VERSIONS: each micro-batch reads exactly the files appended
    * by the versions in `(startOffset, endOffset]`, so the stream is
    * exactly-once by construction (versions are immutable and the offset
    * log replays deterministically). Starts after `streamFromVersion`
    * (default 0 = the table's full history, Iceberg's earliest). Rewrite
    * snapshots are skipped (no content change); overwrite/delete throw
    * unless `skipNonAppends` — a content-changing snapshot has no
    * append-delta. Column pruning flows through `required` unchanged. */
  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SnapshotLogMicroBatchStream(root, required,
      SnapshotLogSource.opt(opts, "streamFromVersion").map(_.toInt).getOrElse(0),
      SnapshotLogSource.opt(opts, "skipNonAppends").exists(_.toBoolean),
      SnapshotLogSource.opt(opts, "maxFilesPerTrigger").map(_.toInt))

  /** Surfaced in EXPLAIN: snapshot pin, files pruned (LIVE count — after
    * any runtime filtering), pushed filters. */
  override def description(): String =
    s"snapshotlog v${snap.version} files=${keptFiles.size}/${snap.files.size} " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}"

  /** Kept-file count, for plan assertions (PlanShapeSpec / ddl gates). */
  def keptFiles: Seq[String] = liveKept

  // ---- DYNAMIC PARTITION PRUNING (runtime filtering): Spark's
  // PartitionPruning rule plans a subquery over the build side of a join
  // whose key matches one of filterAttributes, and feeds the resulting
  // IN-set here BEFORE execution — a star-schema probe then opens only
  // the fact files whose partition tuple / stats can hold the dim keys
  // the query actually selects. At 100 TB this is the difference between
  // scanning the fact table and scanning a few buckets of it. ----

  @volatile private var liveKept: Seq[String] = kept

  /** Columns whose per-file BLOOM sidecars can answer a runtime IN-set:
    * a schema field counts as covered when at least one live file holds a
    * bloom for it (resolved through the field-id map, so renamed columns
    * stay covered). Computed once per Scan — the sidecar parse itself is
    * JVM-cached by [[SnapshotBlooms.bloomsAt]]. */
  private lazy val bloomCoveredCols: Seq[String] = {
    if (root.isEmpty) Seq.empty
    else {
      val blooms = SnapshotBlooms.bloomsAt(root)
      if (blooms.isEmpty) Seq.empty
      else snap.schema.fieldNames.filter { n =>
        kept.exists { f =>
          val key = SnapshotLog.norm(f)
          val phys =
            if (snap.fids.isEmpty || !snap.colIds.contains(key)) Some(n)
            else snap.physName(f, n)
          phys.flatMap(blooms.get).exists(_.contains(key))
        }
      }.toSeq
    }
  }

  /** Runtime-filterable columns — the DYNAMIC FILE PRUNING anchors:
    * the partition spec's SOURCE columns (a runtime IN-set prunes via
    * recorded tuples, bucket equality probes included), bloom-covered
    * columns (skip files whose bloom provably lacks every build-side
    * key — the needle-join case), and EVERY stat-typed top-level column
    * (zone maps: manifest min/max ranges serve a runtime IN-set on any
    * clustered or naturally-ordered join key — large sets probe as one
    * binary search per file via [[SnapshotLogScanBuilder.CompiledIn]]).
    * Advertising a column costs nothing until a join actually feeds an
    * IN-set, and [[filter]] caps probe work at dfp.maxKeys; an unsorted
    * low-correlation column simply prunes nothing (kept files are always
    * correct). Empty = no DFP anchor (Spark then never calls filter). */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    (snap.spec.map(_._1) ++ bloomCoveredCols ++
      SnapshotLog.statColsOf(snap.schema).map(_._1)).distinct
      // Spark resolves these against the scan's (column-pruned) OUTPUT —
      // advertising a pruned-away column fails analysis
      .filter(required.fieldNames.contains)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  override def filter(filters: Array[Filter]): Unit =
    filters.foreach { f =>
      // cap runtime IN-set size: probing stats/blooms is O(keys × files)
      // on the driver — a non-selective build side (100k+ distinct keys)
      // would cost more to probe than it prunes, so skip it (pruning is
      // an accelerator; keeping every file is always correct)
      val tooWide = f match {
        case In(_, vs) => vs.length > SnapshotLogScan.maxRuntimeKeys
        case _ => false
      }
      if (!tooWide && SnapshotStatsFilter.usable(f))
        liveKept = SnapshotLogScanBuilder.prune(snap, liveKept, Array(f), root)
    }

  /** VECTORIZED when every kept file physically holds every required
    * column (decided from the manifest's recorded column lists — no
    * footer reopens): the scan then runs Spark's own vectorized parquet
    * reader and feeds ColumnarBatches into whole-stage codegen. Files
    * predating an additive schema change (or manifests predating the
    * `cols` field, or projections touching `_file`) take the row reader,
    * which null-fills. The mode is scan-uniform because Spark requires
    * one answer per scan. */
  protected def columnarOk(files: Seq[String]): Boolean =
    required.fields.nonEmpty &&
      !required.fieldNames.contains("_file") &&
      !required.fieldNames.contains("_pos") &&
      // merge-on-read deletes STAY columnar (the vector reader applies
      // positional ordinal-skips and equality key-probes per batch) —
      // refuse only when an equality delete's key type cannot be probed
      // bit-identically from vectors (the row reader then handles it)
      files.forall { f =>
        eqKeysFor(f).forall(k =>
          snap.schema.fields.find(_.name == k)
            .exists(fd => SnapshotDeletes.vectorCanonical(fd.dataType)))
      } &&
      // nested projections go through the row-based Group reader; the
      // flat primitives stay on the vectorized ColumnarBatch path
      required.fields.forall(f => f.dataType match {
        case _: StructType | _: ArrayType | _: MapType => false
        case _ => true
      }) &&
      // field-id resolution: vectorized only when every required column
      // resolves to ITS OWN name in the file (no rename remap in play)
      files.forall(f => physMapFor(f).isEmpty) &&
      files.forall { f =>
        snap.cols.get(SnapshotLog.norm(f))
          .exists(cs => required.fieldNames.forall(cs.contains))
      }

  /** Equality-delete KEY columns (current schema names) that apply to
    * data file `f` — the delete parquet's schema IS its key list. One
    * planning-time Hadoop conf per scan and one footer probe per
    * DISTINCT delete file per JVM ([[SnapshotDeletes.schemaOf]] caches),
    * never per kept data file. */
  @transient private lazy val planningConf =
    SparkSession.active.sessionState.newHadoopConf()
  protected def eqKeysFor(f: String): Seq[String] =
    snap.dels.get(SnapshotLog.norm(f)).fold(Seq.empty[String]) { dfs =>
      dfs.flatMap(df => SnapshotDeletes.eqKeysOf(df, planningConf)).distinct
    }

  /** Field-id name resolution for one file: required name -> physical
    * name when they DIFFER ("" = forced null-fill: the file predates the
    * column's id, e.g. dropped-then-readded). Empty map = pure name-based
    * (the common case; costs nothing downstream).
    *
    * Equality-delete KEY columns are resolved alongside the projection
    * even when the query pruned them away: a data file written before a
    * column rename stores the OLD physical name, and a delete staged
    * AFTER the rename keys on the NEW name — without the remap the
    * reader's name-based applicability check would silently drop the
    * delete and deleted rows would resurrect. A non-identity key entry
    * here also refuses columnar (columnarOk's isEmpty guard), routing
    * the file to the row reader, which honors the remap. */
  protected def physMapFor(f: String): Map[String, String] =
    if (snap.fids.isEmpty) Map.empty
    else (required.fields.iterator.map(_.name)
      .filter(n => n != "_file" && n != "_pos") ++ eqKeysFor(f).iterator)
      .distinct
      .flatMap { n =>
        snap.physName(f, n) match {
          case Some(p) if p == n => None
          case Some(p) => Some(n -> p)
          case None => Some(n -> "")
        }
      }.toMap

  /** Partition construction shared with the copy-on-write scan: every
    * scan over snapshot files must carry the file's MoR delete list and
    * field-id name map, or deleted rows resurrect / renamed columns read
    * null in DML rewrites. */
  protected def partitionsFor(files: Seq[String]): Array[InputPartition] = {
    val columnar = columnarOk(files)
    val keys = spjFileKeys
    // SPLIT large files into ~target-byte tasks (row-group-aligned at
    // read time): a pruned scan of a few multi-GB files must still fan
    // across a cluster's cores, not serialize one task per file. Never
    // split under KeyGroupedPartitioning — Spark CONCATENATES same-tuple
    // partitions into one task (no gain) and concatenated runs would
    // break the ≤1-file-per-tuple sort-order proof. A contiguous range
    // of a key-sorted file stays sorted, so SupportsReportOrdering and
    // splits compose fine outside SPJ.
    val target = SnapshotLogScan.splitTargetBytes
    def ranges(f: String): Seq[Option[(Long, Long)]] = {
      val size = snap.sizes.getOrElse(SnapshotLog.norm(f), 0L)
      // double math: a sentinel target like Long.MaxValue must not
      // overflow into "split everything"
      if (keys.nonEmpty || target <= 0 ||
          size.toDouble <= target.toDouble * 1.2) Seq(None)
      else {
        val n = math.max(1, math.min(
          math.ceil(size.toDouble / target).toLong,
          SnapshotLogScan.maxSplitsPerFile.toLong).toInt)
        val step = (size + n - 1) / n
        (0 until n).map(i =>
          Some((i * step, math.min((i + 1L) * step, size))))
      }
    }
    files.flatMap { f =>
      val dels = snap.dels.getOrElse(SnapshotLog.norm(f), Nil)
      val pm = physMapFor(f)
      val pk = keys.flatMap(_.get(SnapshotLog.norm(f)))
      ranges(f).map(r => SnapshotFilePartition(f, columnar, dels, pm, pk, r))
    }.toArray
  }

  // ---- STORAGE-PARTITIONED JOIN (Iceberg SPJ analog): when every kept
  // file carries a full partition tuple under the CURRENT spec and every
  // spec transform is identity/bucket, the scan reports
  // KeyGroupedPartitioning and each InputPartition its tuple — a join of
  // two co-partitioned snapshot tables on the source keys then plans with
  // ZERO shuffle (Spark groups splits by key and zips partitions), the
  // single biggest exchange eliminated at 100 TB. Files written under an
  // older spec or null tuples degrade to UnknownPartitioning — never
  // wrong, just shuffled. ----

  /** The ONE partition spec every kept file was written under, or empty
    * when the kept set is mixed-spec / unpartitioned. SPEC EVOLUTION
    * (r17, Iceberg task-grouping analog): a long-lived table whose spec
    * evolved keeps old-generation files around, but a QUERY whose pruned
    * file set lands entirely in one generation (the common case after
    * evolution + compaction, or with partition predicates) still deserves
    * SPJ — group by the KEPT files' own spec, not the table's active one.
    * A genuinely mixed kept set degrades to UnknownPartitioning (shuffled,
    * never wrong). */
  @transient protected lazy val spjEffSpec: Seq[(String, String)] =
    kept.map(f => snap.specOf(f)).distinct match {
      case Seq(one) => one
      case _ => Seq.empty
    }

  /** Catalyst-internal key values per kept file, in spec-field order;
    * None = ineligible (report UnknownPartitioning). */
  @transient protected lazy val spjFileKeys: Option[Map[String, Seq[Any]]] = {
    val B = """bucket\[(\d+)\]""".r
    def keyOf(raw: String, src: String, tr: String): Option[Any] = {
      if (raw == SnapshotPartition.NullMarker) return None
      val dt = snap.schema.fields.find(_.name == src).map(_.dataType)
      tr match {
        case B(_) => raw.toIntOption
        // day tuples are UTC epoch days (written as LONG strings); the
        // V2 days() function's result type is DateType, so the key value
        // is the Int day ordinal
        case "day" => raw.toLongOption.filter(_.isValidInt)
          .map(l => Int.box(l.toInt)) // out-of-range tuple: degrade, never wrap
        case "identity" => dt.flatMap {
          case IntegerType => raw.toIntOption
          case LongType => raw.toLongOption
          case StringType => Some(org.apache.spark.unsafe.types.UTF8String
            .fromString(SnapshotPartition.unescape(raw)))
          case DateType =>
            try Some(java.time.LocalDate.parse(raw).toEpochDay.toInt)
            catch { case _: Exception => None }
          case _ => None
        }
        case _ => None
      }
    }
    // truncate is EXCLUDED even though the catalog exposes a V2 truncate
    // function: Spark's KeyGroupedPartitioning.supportsExpressions only
    // accepts single-reference transforms (bucket's width is special-cased
    // into numBucketsOpt by V2ExpressionUtils; truncate's width stays a
    // second child), so reporting it would group scan tasks by tuple —
    // losing per-file parallelism — while the join still shuffles.
    val specOk = spjEffSpec.nonEmpty && spjEffSpec.forall {
      case (_, "identity") | (_, "day") | (_, B(_)) => true
      case _ => false
    }
    if (!specOk) None
    else {
      val perFile = kept.map { f =>
        val k = SnapshotLog.norm(f)
        val tuple = snap.parts.getOrElse(k, Seq.empty)
        val vals =
          if (tuple.length != spjEffSpec.length) Seq.empty
          else spjEffSpec.zip(tuple).flatMap { case ((src, tr), raw) =>
            keyOf(raw, src, tr)
          }
        k -> vals
      }
      if (perFile.forall(_._2.length == spjEffSpec.length))
        Some(perFile.toMap)
      else None
    }
  }

  /** Distinct tuple count, computed once (outputPartitioning can be
    * consulted several times per plan; a 10^6-file table should not
    * rebuild a tuple set each call). */
  @transient private lazy val spjNumGroups: Int =
    spjFileKeys.map(_.values.toSet.size).getOrElse(0)

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, UnknownPartitioning}
    val B = """bucket\[(\d+)\]""".r
    spjFileKeys match {
      case Some(keys) if keys.nonEmpty =>
        // cluster by the KEPT files' spec (== active spec except under
        // spec evolution, where a pruned single-generation kept set
        // reports its own generation's grouping)
        val clustering = spjEffSpec.map {
          case (c, "identity") => Expressions.identity(c)
          case (c, "day") => Expressions.days(c)
          case (c, B(n)) => Expressions.bucket(n.toInt, c)
          case (c, tr) => throw new IllegalStateException(
            s"spj: unexpected transform $tr on $c") // spjFileKeys gated
        }.toArray[org.apache.spark.sql.connector.expressions.Expression]
        new KeyGroupedPartitioning(clustering, spjNumGroups)
      case _ => new UnknownPartitioning(keptFiles.size)
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    partitionsFor(keptFiles)

  // ---- SORT-ORDER REPORTING (Iceberg sort orders): when every kept file
  // is recorded key-sorted by rewriteDataFiles(clusterBy) AND the layout
  // makes per-task order provable, report the ordering so a co-sorted
  // co-partitioned join skips BOTH the Exchange (SPJ) and the Sort. The
  // conservative gates are CORRECTNESS gates, not optimizations — a
  // merge join trusting a falsely-reported order returns wrong rows:
  //  - every kept file shares one recorded order (a mixed layout's
  //    concatenation proves nothing);
  //  - the sort columns survive projection (Spark must resolve the
  //    ordering against the scan output) and are rename-free for every
  //    file (recorded orders are physical names at rewrite time);
  //  - under KeyGroupedPartitioning, at most ONE file per key tuple:
  //    Spark's SPJ grouping CONCATENATES same-tuple files into one task,
  //    and concatenated sorted runs are not sorted. Per-file tasks
  //    (UnknownPartitioning) are always safe — one file, one task. ----
  @transient private lazy val reportedOrdering
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    computeOrdering()

  private def computeOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection}
    val sorts = SnapshotSorts.sortsAt(root)
    if (sorts.isEmpty || kept.isEmpty) return Array.empty
    val perFile = kept.map(f => sorts.get(SnapshotLog.norm(f)))
    if (perFile.exists(_.isEmpty)) return Array.empty
    val distinct = perFile.flatten.distinct
    if (distinct.size != 1) return Array.empty
    val order = distinct.head
    val outCols = required.fieldNames.toSet
    if (!order.forall(outCols.contains)) return Array.empty
    // rename safety: a recorded (physical) name that no longer equals the
    // current name fails the outCols check above; additionally refuse if
    // any file resolves a sort column to a DIFFERENT physical name
    if (snap.fids.nonEmpty && kept.exists(f =>
      order.exists(c => !snap.physName(f, c).contains(c))))
      return Array.empty
    val spjSafe = spjFileKeys match {
      case Some(keys) =>
        kept.groupBy(f => keys(SnapshotLog.norm(f))).forall(_._2.size <= 1)
      case None => true
    }
    if (!spjSafe) return Array.empty
    order.map(c => Expressions.sort(Expressions.column(c),
      SortDirection.ASCENDING, NullOrdering.NULLS_FIRST)).toArray
  }

  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    reportedOrdering

  override def createReaderFactory(): PartitionReaderFactory =
    SnapshotLogReaderFactory(required.json, Some(snap.schema.json))

  /** Post-pruning size/rows from manifest metadata — a pruned probe of a
    * huge table reads as broadcast-small BEFORE any file is opened — plus
    * per-column NDV/null/min-max statistics from the newest ANALYZE
    * sidecar ([[SnapshotLog.colStatsFor]]), which Spark's
    * `transformV2Stats` maps into per-attribute CBO estimates: filter
    * selectivity then shrinks plan sizes, flipping join strategies the
    * way real engines use Puffin/theta stats (SnapshotStatsSpec). */
  override def estimateStatistics(): V2Statistics = {
    val rowsKnown = kept.forall(f => snap.rows.contains(SnapshotLog.norm(f))) &&
      kept.forall(f => !snap.dels.contains(SnapshotLog.norm(f))) // MoR: rows uncounted
    val numRowsV: OptionalLong =
      if (rowsKnown && kept.nonEmpty)
        OptionalLong.of(kept.map(f => snap.rows(SnapshotLog.norm(f))).sum)
      else if (kept.isEmpty) OptionalLong.of(0L)
      else OptionalLong.empty()
    val colStatsV: java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val m = new java.util.HashMap[org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      if (root.nonEmpty) {
        val loaded = try SnapshotLog.colStatsFor(SparkSession.active, root, snap.version)
                     catch { case _: Exception => None }
        loaded.foreach { case (_, _, cols) =>
          cols.foreach { case (name, cs) =>
            snap.schema.fields.find(_.name == name).foreach { fd =>
              // fold per-file footer bounds over the KEPT files into
              // catalyst-internal min/max (numeric/time types only — the
              // ones FilterEstimation consumes)
              def bound(wantMin: Boolean): Option[Any] = {
                val per = kept.map(f => snap.physName(f, name)
                  .flatMap(p => snap.stats.getOrElse(SnapshotLog.norm(f), Map.empty).get(p)))
                if (per.isEmpty || per.exists(_.isEmpty)) None
                else {
                  val vs = per.map(o => if (wantMin) o.get._1 else o.get._2)
                  val best = vs.reduce((a, b) =>
                    if (wantMin) (if (SnapshotLog.cmp(a, b) <= 0) a else b)
                    else (if (SnapshotLog.cmp(a, b) >= 0) a else b))
                  (best, fd.dataType) match {
                    case (l: java.lang.Long, LongType | TimestampType | TimestampNTZType) => Some(l)
                    case (l: java.lang.Long, IntegerType) => Some(Int.box(l.toInt))
                    case (d: java.lang.Double, DoubleType) => Some(d)
                    case (d: java.lang.Double, FloatType) => Some(Float.box(d.toFloat))
                    case _ => None
                  }
                }
              }
              val mn = bound(wantMin = true)
              val mx = bound(wantMin = false)
              // equi-height histogram from the sidecar (numeric cols):
              // transformV2Stats maps it into the catalyst Histogram
              // FilterEstimation consumes for skewed predicates
              val histV: java.util.Optional[
                  org.apache.spark.sql.connector.read.colstats.Histogram] =
                cs.hist match {
                  case Some(h) =>
                    java.util.Optional.of(
                      new org.apache.spark.sql.connector.read.colstats.Histogram {
                        override def height(): Double = h.height
                        override def bins(): Array[
                            org.apache.spark.sql.connector.read.colstats.HistogramBin] =
                          h.bins.map { case (l, u, d) =>
                            new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                              override def lo(): Double = l
                              override def hi(): Double = u
                              override def ndv(): Long = d
                            }
                          }.toArray
                      })
                  case None =>
                    java.util.Optional.empty[
                      org.apache.spark.sql.connector.read.colstats.Histogram]()
                }
              m.put(org.apache.spark.sql.connector.expressions.Expressions.column(name),
                new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                  override def distinctCount(): OptionalLong = OptionalLong.of(cs.ndv)
                  override def nullCount(): OptionalLong = OptionalLong.of(cs.nulls)
                  override def avgLen(): OptionalLong = OptionalLong.of(math.max(1L, cs.avgLen))
                  override def maxLen(): OptionalLong = OptionalLong.of(math.max(1L, cs.maxLen))
                  override def min(): java.util.Optional[Object] =
                    mn.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                      .getOrElse(java.util.Optional.empty[Object]())
                  override def max(): java.util.Optional[Object] =
                    mx.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                      .getOrElse(java.util.Optional.empty[Object]())
                  override def histogram(): java.util.Optional[
                      org.apache.spark.sql.connector.read.colstats.Histogram] = histV
                })
            }
          }
        }
      }
      m
    }
    new V2Statistics {
      override def sizeInBytes(): OptionalLong = {
        val known = kept.flatMap(f => snap.sizes.get(SnapshotLog.norm(f)))
        if (known.size == kept.size) OptionalLong.of(math.max(1L, known.sum))
        else OptionalLong.empty() // pre-sizes manifest: no estimate
      }
      override def numRows(): OptionalLong = numRowsV
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStatsV
    }
  }
}

/** Stream offset = committed snapshot version (monotone, exactly the
  * transaction-log position — the natural resume token). */
private[sources] case class SnapshotVersionOffset(version: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"version":$version}"""
}

/** Micro-batch stream over a SnapshotLog: `latestOffset` is one manifest
  * listing (driver-side metadata), `planInputPartitions(a, b)` is the
  * append-delta of `(a, b]` — one partition per new data file. Paired with
  * `StreamingOps.snapshotLogSink` this closes the loop: snapshot table →
  * stream → snapshot table, exactly-once on both edges.
  *
  * `maxFilesPerTrigger` (Iceberg's streaming rate limit): admission
  * control advances the end offset only as far as ~N new files per
  * micro-batch (always ≥1 version when data is pending), so a stream
  * catching up on a long table history processes bounded batches instead
  * of one giant one. */
private[sources] class SnapshotLogMicroBatchStream(root: String,
    required: StructType, fromVersion: Int, skipNonAppends: Boolean,
    maxFilesPerTrigger: Option[Int] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private def spark = SparkSession.active

  private def head: Int =
    SnapshotLog.snapshots(spark, root).lastOption
      .map(_.version).getOrElse(fromVersion)

  override def initialOffset(): Offset = SnapshotVersionOffset(fromVersion)

  override def latestOffset(): Offset = SnapshotVersionOffset(head)

  // Derive the default limit from the option (FileStreamSource does the
  // same): the engine then threads it back through latestOffset(start,
  // limit), and Trigger.AvailableNow's composed limits keep working.
  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def reportLatestOffset(): Offset = SnapshotVersionOffset(head)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val a = start.asInstanceOf[SnapshotVersionOffset].version
    val h = head
    // SupportsAdmissionControl contract: the ReadLimit argument is the
    // source of truth (Trigger.AvailableNow re-plans through it); the
    // maxFilesPerTrigger option is only what getDefaultReadLimit / our
    // caller derived it from. Honor an explicit ReadMaxFiles if passed.
    val effectiveCap = limit match {
      case mf: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        Some(mf.maxFiles())
      case _ => maxFilesPerTrigger
    }
    effectiveCap match {
      case None => SnapshotVersionOffset(h)
      case Some(cap) =>
        val perVersion = SnapshotLog.addedFiles(spark, root, a, h, skipNonAppends)
        // admit contiguous versions until the NEXT one would cross the
        // cap (at least one version when data is pending — a single
        // oversized commit must still make progress)
        var files = 0
        var end = a
        val it = perVersion.iterator
        var full = false
        while (it.hasNext && !full) {
          val (v, fs) = it.next()
          if (end == a || fs.isEmpty || files + fs.size <= cap) {
            files += fs.size
            end = v
          } else full = true
        }
        SnapshotVersionOffset(end)
    }
  }

  override def deserializeOffset(json: String): Offset =
    SnapshotVersionOffset(
      SnapshotLogMicroBatchStream.om.readTree(json).get("version").asInt())

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val a = start.asInstanceOf[SnapshotVersionOffset].version
    val b = end.asInstanceOf[SnapshotVersionOffset].version
    SnapshotLog.addedFiles(spark, root, a, b, skipNonAppends)
      .flatMap(_._2).map(f => SnapshotFilePartition(f)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    SnapshotLogReaderFactory(required.json)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] object SnapshotLogMicroBatchStream {
  // shared, thread-safe: deserializeOffset is called per micro-batch and
  // must not pay JsonMapper construction each time
  val om: com.fasterxml.jackson.databind.ObjectMapper =
    com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
}

private[sources] case class SnapshotFilePartition(file: String,
    columnar: Boolean = false,
    deletes: Seq[String] = Nil,
    physMap: Map[String, String] = Map.empty,
    // catalyst-internal partition-tuple values (SPJ); Spark calls
    // partitionKey() only when the scan reported KeyGroupedPartitioning,
    // which spjFileKeys gates on every file carrying one
    partKey: Option[Seq[Any]] = None,
    // byte range [start, end) for SPLIT reads of large files: the reader
    // serves only row groups whose midpoint falls in range (parquet-mr's
    // split rule), with row ordinals offset so merge-on-read positional
    // deletes stay exact. None = the whole file (one task).
    range: Option[(Long, Long)] = None) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    partKey.map(vs => new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(vs.toArray)).orNull
}

private[sources] object SnapshotLogReaderFactory {
  /** Driver-side capture of the session Hadoop conf for executor-side
    * readers (s3a credentials, filesystem tuning — a bare
    * `new Configuration()` would drop them on a real cluster). */
  def sessionConf(): org.apache.spark.util.SerializableConfiguration =
    new org.apache.spark.util.SerializableConfiguration(
      SparkSession.active.sessionState.newHadoopConf())
}

private[sources] case class SnapshotLogReaderFactory(requiredJson: String,
    tableJson: Option[String] = None,
    conf: org.apache.spark.util.SerializableConfiguration =
      SnapshotLogReaderFactory.sessionConf())
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SnapshotFilePartition]
    // existence defaults live on the TABLE schema's field metadata (the
    // pruned `required` may have shed it through Spark's attribute plumbing)
    val table = DataType.fromJson(tableJson.getOrElse(requiredJson))
      .asInstanceOf[StructType]
    val defaults: Map[String, Any] =
      org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
        .getExistenceDefaultValues(table).zip(table.fieldNames)
        .collect { case (v, n) if v != null => (n, v) }.toMap
    new SnapshotFileReader(p.file,
      DataType.fromJson(requiredJson).asInstanceOf[StructType], p.deletes,
      p.physMap, Some(conf.value), defaults, p.range)
  }

  override def supportColumnarReads(partition: InputPartition): Boolean =
    partition.asInstanceOf[SnapshotFilePartition].columnar

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[SnapshotFilePartition]
    new SnapshotVectorReader(p.file,
      DataType.fromJson(requiredJson).asInstanceOf[StructType],
      DataType.fromJson(tableJson.getOrElse(requiredJson))
        .asInstanceOf[StructType],
      p.deletes, Some(conf.value), p.range)
  }
}

/** Shared merge-on-read delete-file mechanics for BOTH reader paths.
  * A delete parquet's schema decides its flavor: exactly
  * (file_path, pos) = POSITIONAL, anything else = EQUALITY keys (the
  * key list IS the schema — Iceberg's two delete-file kinds). Delete
  * files are immutable once committed, so their schemas memoize
  * JVM-wide: the planner's columnar-eligibility check and every task's
  * flavor dispatch cost one footer open per delete file per JVM. */
private[sources] object SnapshotDeletes {
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  /** DELETION-VECTOR delete files (Iceberg v3 Puffin-DV analog; reference
    * Puffin machinery bodo/libs/_puffin.cpp): one `.dv` binary sidecar per
    * (commit, data file) holding a RoaringBitmap of that ONE file's
    * deleted row ordinals — no file_path column, no per-task parse of
    * other files' coordinates, O(1) membership, and a JVM-wide cache
    * keyed by the immutable path. Classified by extension so the footer
    * probe never opens them as parquet. */
  val VectorExt = ".dv"
  /** Sentinel "schema" reported for vector delete files: never positional,
    * never a usable equality key set. */
  val VectorSentinel = "__dv__"
  private val VectorMagic = 0x47445631 // "GDV1"

  def isVector(path: String): Boolean = path.endsWith(VectorExt)

  def schemaOf(df: String, conf: Configuration): Seq[String] =
    if (isVector(df)) Seq(VectorSentinel)
    else schemaCache.computeIfAbsent(SnapshotLog.norm(df), _ => {
      val r = SnapshotLog.openFooter(new Path(df), conf)
      try r.getFooter.getFileMetaData.getSchema.getFields.asScala
        .map(_.getName).toSeq
      finally r.close()
    })

  def isPositional(schema: Seq[String]): Boolean =
    schema == Seq("file_path", "pos")

  /** Equality-key columns of a delete file: Nil for positional AND vector
    * flavors (shared guard for every key-enumeration site). */
  def eqKeysOf(df: String, conf: Configuration): Seq[String] = {
    val ks = schemaOf(df, conf)
    if (isPositional(ks) || ks == Seq(VectorSentinel)) Nil else ks
  }

  /** Serialize one data file's deleted ordinals as a `.dv` sidecar
    * (magic + RoaringBitmap-64). Caller owns naming and placement. */
  def writeVector(fs: org.apache.hadoop.fs.FileSystem, dest: Path,
                  bm: org.roaringbitmap.longlong.Roaring64NavigableMap): Unit = {
    bm.runOptimize()
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(fs.create(dest, false)))
    try { out.writeInt(VectorMagic); bm.serialize(out) } finally out.close()
  }

  /** Sorted ordinal array of one `.dv` sidecar — parsed once per JVM
    * (immutable uuid-named file ⇒ path-keyed cache; the array is the
    * readers' merge-walk form). */
  private val dvCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
  def loadVector(dv: String, conf: Configuration): Array[Long] =
    dvCache.computeIfAbsent(SnapshotLog.norm(dv), _ => {
      val p = new Path(dv)
      val fs = p.getFileSystem(conf)
      val in = new java.io.DataInputStream(
        new java.io.BufferedInputStream(fs.open(p)))
      try {
        require(in.readInt() == VectorMagic,
          s"snapshotlog: $dv is not a deletion-vector file")
        val bm = new org.roaringbitmap.longlong.Roaring64NavigableMap()
        bm.deserialize(in)
        bm.toArray // ascending
      } finally in.close()
    })

  /** Canonical value space shared by data rows and delete keys (both
    * sides conform at write time): integrals → Long, floats → Double,
    * UTF8 binary → String, boolean → Boolean. */
  def canonGroup(g: Group, idx: Int, t: org.apache.parquet.schema.Type): Any = {
    import PrimitiveType.PrimitiveTypeName._
    if (g.getFieldRepetitionCount(idx) == 0) null
    else t.asPrimitiveType().getPrimitiveTypeName match {
      case INT32 => Long.box(g.getInteger(idx, 0).toLong)
      case INT64 => Long.box(g.getLong(idx, 0))
      case FLOAT => Double.box(g.getFloat(idx, 0).toDouble)
      case DOUBLE => Double.box(g.getDouble(idx, 0))
      case BOOLEAN => Boolean.box(g.getBoolean(idx, 0))
      case _ => g.getBinary(idx, 0).toStringUsingUTF8
    }
  }

  /** The same canonical space read from a ColumnarBatch vector typed by
    * the table's SPARK type (delete keys were cast to the table column
    * types at stage time, so both sides land on identical scalars). */
  def canonVector(v: org.apache.spark.sql.vectorized.ColumnVector,
                  dt: DataType, row: Int): Any =
    if (v.isNullAt(row)) null
    else dt match {
      case LongType | TimestampType | TimestampNTZType => Long.box(v.getLong(row))
      case IntegerType | DateType => Long.box(v.getInt(row).toLong)
      case ShortType => Long.box(v.getShort(row).toLong)
      case ByteType => Long.box(v.getByte(row).toLong)
      case DoubleType => Double.box(v.getDouble(row))
      case FloatType => Double.box(v.getFloat(row).toDouble)
      case BooleanType => Boolean.box(v.getBoolean(row))
      case StringType => v.getUTF8String(row).toString
      case BinaryType => UTF8String.fromBytes(v.getBinary(row)).toString
      case d: DecimalType if d.precision <= 18 =>
        // INT32/INT64-backed on disk: canonGroup sees the unscaled long
        Long.box(v.getDecimal(row, d.precision, d.scale).toUnscaledLong)
      case other => throw new IllegalStateException(
        s"snapshotlog: equality-delete key type $other not vector-canonical")
    }

  /** Can the VECTOR path evaluate an equality-delete key of this Spark
    * type bit-identically to the row reader? (The planner refuses
    * columnar mode otherwise.) */
  def vectorCanonical(dt: DataType): Boolean = dt match {
    case LongType | TimestampType | TimestampNTZType | IntegerType |
         DateType | ShortType | ByteType | DoubleType | FloatType |
         BooleanType | StringType | BinaryType => true
    case d: DecimalType => d.precision <= 18
    case _ => false
  }

  /** Sorted ordinals `dataFile` must not serve, folded over the given
    * positional delete parquets and/or `.dv` deletion vectors (a `.dv`
    * in this list is BY CONSTRUCTION the data file's own — the manifest
    * maps each vector to exactly one data file — so its ordinals apply
    * without any file_path probe). */
  def loadPositions(posFiles: Seq[String], dataFile: String,
                    conf: Configuration): Array[Long] = {
    if (posFiles.isEmpty) return Array.emptyLongArray
    val (dvs, parquets) = posFiles.partition(isVector)
    val me = SnapshotLog.norm(dataFile)
    val acc = scala.collection.mutable.ArrayBuffer[Long]()
    parquets.foreach { df =>
      val r = ParquetReader.builder(new GroupReadSupport(), new Path(df))
        .withConf(conf).build()
      try {
        var g = r.read()
        while (g != null) {
          if (g.getString(0, 0) == me) acc += g.getLong(1, 0)
          g = r.read()
        }
      } finally r.close()
    }
    dvs.foreach(dv => acc ++= loadVector(dv, conf))
    if (dvs.isEmpty && parquets.size == 1) acc.toArray.sorted
    else acc.toArray.distinct.sorted // stacked flavors may overlap ordinals
  }

  /** All key tuples of one equality-delete parquet, in canonical form. */
  def loadEqKeys(df: String, conf: Configuration): java.util.HashSet[Vector[Any]] = {
    val set = new java.util.HashSet[Vector[Any]]()
    val r = ParquetReader.builder(new GroupReadSupport(), new Path(df))
      .withConf(conf).build()
    try {
      var g = r.read()
      while (g != null) {
        val t = g.getType
        set.add((0 until t.getFieldCount)
          .map(i => canonGroup(g, i, t.getType(i))).toVector)
        g = r.read()
      }
    } finally r.close()
    set
  }
}

/** Vectorized read of one data file through Spark's own
  * `VectorizedParquetRecordReader` — the same decode path `spark.read
  * .parquet` uses (ColumnarBatch output, whole-stage codegen consumes
  * the vectors directly). Planned only for files the manifest proves
  * hold every required column.
  *
  * DELETE-AWARE (Iceberg's vectorized-read-with-deletion-vectors
  * analog): a file carrying merge-on-read deletes stays on this path.
  * Positional deletes become a sorted ordinal skip applied per batch —
  * batches containing no deleted ordinal pass through ZERO-COPY, and a
  * batch that does pays one surviving-rows copy into fresh vectors.
  * Equality deletes probe each row's canonical key tuple against the
  * delete sets during that same copy (key columns are read as hidden
  * extras when the projection pruned them, then dropped from the output
  * batch). A trickle of MoR deletes therefore no longer demotes the
  * whole scan to the row reader — the permanent decode tax the r13
  * review flagged. */
private[sources] class SnapshotVectorReader(file: String, required: StructType,
    tableSchema: StructType,
    deleteFiles: Seq[String] = Nil,
    hadoopConf: Option[Configuration] = None,
    range: Option[(Long, Long)] = None)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
  import scala.jdk.CollectionConverters._

  private val conf = hadoopConf.getOrElse(new Configuration())
  private val (posDeleteFiles, eqDeleteFiles) = deleteFiles.partition(df =>
    SnapshotDeletes.isVector(df) ||
      SnapshotDeletes.isPositional(SnapshotDeletes.schemaOf(df, conf)))

  // equality deletes applicable to THIS file: every key column must
  // physically exist here (a file missing a key column cannot match
  // non-null keys — same rule as the row reader)
  private val fileFields: Set[String] =
    if (eqDeleteFiles.isEmpty) Set.empty
    else {
      val r = SnapshotLog.openFooter(new Path(file), conf)
      try r.getFooter.getFileMetaData.getSchema.getFields.asScala
        .map(_.getName).toSet
      finally r.close()
    }
  private val eqApplicable: Seq[(String, Seq[String])] = eqDeleteFiles
    .map(df => df -> SnapshotDeletes.schemaOf(df, conf))
    .filter(_._2.forall(fileFields.contains))

  // the parquet projection: required columns first, then any eq-key
  // columns the query pruned away (read for the probe, dropped from the
  // output batch)
  private val extraKeys: Seq[String] = eqApplicable.flatMap(_._2).distinct
    .filterNot(required.fieldNames.contains)
  private val readCols: Seq[String] = required.fieldNames.toSeq ++ extraKeys
  private def sparkTypeOf(n: String): DataType =
    required.fields.find(_.name == n).orElse(tableSchema.fields.find(_.name == n))
      .getOrElse(throw new IllegalStateException(
        s"snapshotlog: eq-delete key $n not in table schema")).dataType

  private val eqSets: Seq[(Array[Int], Array[DataType], java.util.HashSet[Vector[Any]])] =
    eqApplicable.map { case (df, keyCols) =>
      (keyCols.map(readCols.indexOf).toArray,
        keyCols.map(sparkTypeOf).toArray,
        SnapshotDeletes.loadEqKeys(df, conf))
    }

  private val deletedPos: Array[Long] =
    SnapshotDeletes.loadPositions(posDeleteFiles, file, conf)
  private var delPtr = 0
  // ranged splits start their ordinal count past the skipped row groups
  // (same midpoint rule the split uses) so positional deletes keep their
  // file-level coordinates; whole-file reads pay no footer open here
  private var rowsSeen: Long = range match {
    case Some((s, _)) if posDeleteFiles.nonEmpty =>
      val r = SnapshotLog.openFooter(new Path(file), conf)
      try r.getFooter.getBlocks.asScala
        .filter(b => b.getStartingPos + b.getCompressedSize / 2 < s)
        .map(_.getRowCount).sum
      finally r.close()
    case _ => 0L
  }

  private val reader =
    new org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, 4096)
  locally {
    // split-based initialize: unlike the (path, columns) helper — which
    // builds a BARE Configuration internally — this path reads the
    // TaskAttemptContext's conf, so the SESSION hadoop conf (s3a
    // credentials, fs tuning) reaches the vectorized read on a real
    // cluster. The projection travels as Spark's requested-schema conf
    // (required columns first, then hidden eq-key extras — batch column
    // order follows this struct), and columns missing from a file
    // null-fill via the reader's own constant-null vectors.
    val readStruct = StructType(readCols.map { n =>
      required.fields.find(_.name == n)
        .getOrElse(tableSchema.fields.find(_.name == n).getOrElse(
          throw new IllegalStateException(s"snapshotlog: no schema for $n")))
    }.map(f => StructField(f.name, f.dataType, nullable = true)))
    val c = new Configuration(conf)
    c.set(org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
      .SPARK_ROW_REQUESTED_SCHEMA, readStruct.json)
    c.set("parquet.read.support.class",
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport].getName)
    // ParquetToSparkSchemaConverter(conf) requires these present (no
    // fallback in its ctor); session values win, Spark defaults fill in
    def ensure(key: String, dflt: String): Unit = {
      val v = c.get(key)
      if (v == null || v == "null") c.set(key, dflt)
    }
    ensure("spark.sql.parquet.binaryAsString", "false")
    ensure("spark.sql.parquet.int96AsTimestamp", "true")
    ensure("spark.sql.caseSensitive", "false")
    ensure("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    ensure("spark.sql.legacy.parquet.nanosAsLong", "false")
    val split = range match {
      case Some((s, e)) => new org.apache.hadoop.mapred.FileSplit(
        new Path(file), s, e - s, Array.empty[String])
      case None => new org.apache.hadoop.mapred.FileSplit(
        new Path(file), 0, Long.MaxValue, Array.empty[String])
    }
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      c, new org.apache.hadoop.mapreduce.TaskAttemptID())
    reader.initialize(split, ctx)
    reader.enableReturningBatches()
  }

  private var out: ColumnarBatch = _

  private def eqMatched(src: ColumnarBatch, row: Int): Boolean =
    eqSets.exists { case (idxs, dts, set) =>
      var i = 0
      var hasNull = false
      val tuple = new Array[Any](idxs.length)
      while (i < idxs.length) {
        val v = SnapshotDeletes.canonVector(src.column(idxs(i)), dts(i), row)
        if (v == null) hasNull = true
        tuple(i) = v
        i += 1
      }
      !hasNull && set.contains(tuple.toVector)
    }

  /** Copy the surviving rows of `src` into fresh on-heap vectors over the
    * REQUIRED schema (hidden eq-key extras dropped). Type dispatch is per
    * column, not per cell. */
  private def filterBatch(src: ColumnarBatch, keep: Array[Int]): ColumnarBatch = {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    val vecs = OnHeapColumnVector.allocateColumns(math.max(keep.length, 1), required)
    var c = 0
    while (c < required.length) {
      val sv = src.column(c)
      val dv = vecs(c)
      val n = keep.length
      required.fields(c).dataType match {
        case LongType | TimestampType | TimestampNTZType =>
          var i = 0; while (i < n) {
            val r = keep(i)
            if (sv.isNullAt(r)) dv.putNull(i) else dv.putLong(i, sv.getLong(r))
            i += 1
          }
        case IntegerType | DateType =>
          var i = 0; while (i < n) {
            val r = keep(i)
            if (sv.isNullAt(r)) dv.putNull(i) else dv.putInt(i, sv.getInt(r))
            i += 1
          }
        case DoubleType =>
          var i = 0; while (i < n) {
            val r = keep(i)
            if (sv.isNullAt(r)) dv.putNull(i) else dv.putDouble(i, sv.getDouble(r))
            i += 1
          }
        case FloatType =>
          var i = 0; while (i < n) {
            val r = keep(i)
            if (sv.isNullAt(r)) dv.putNull(i) else dv.putFloat(i, sv.getFloat(r))
            i += 1
          }
        case BooleanType =>
          var i = 0; while (i < n) {
            val r = keep(i)
            if (sv.isNullAt(r)) dv.putNull(i) else dv.putBoolean(i, sv.getBoolean(r))
            i += 1
          }
        case ShortType =>
          var i = 0; while (i < n) {
            val r = keep(i)
            if (sv.isNullAt(r)) dv.putNull(i) else dv.putShort(i, sv.getShort(r))
            i += 1
          }
        case ByteType =>
          var i = 0; while (i < n) {
            val r = keep(i)
            if (sv.isNullAt(r)) dv.putNull(i) else dv.putByte(i, sv.getByte(r))
            i += 1
          }
        case StringType | BinaryType =>
          var i = 0; while (i < n) {
            val r = keep(i)
            if (sv.isNullAt(r)) dv.putNull(i)
            else { val b = sv.getBinary(r); dv.putByteArray(i, b, 0, b.length): Unit }
            i += 1
          }
        case d: DecimalType =>
          var i = 0; while (i < n) {
            val r = keep(i)
            if (sv.isNullAt(r)) dv.putNull(i)
            else dv.putDecimal(i, sv.getDecimal(r, d.precision, d.scale), d.precision)
            i += 1
          }
        case other => throw new IllegalStateException(
          s"snapshotlog: vectorized copy unsupported for $other")
      }
      c += 1
    }
    new ColumnarBatch(vecs.asInstanceOf[Array[ColumnVector]], keep.length)
  }

  override def next(): Boolean = {
    while (reader.nextKeyValue()) {
      val src = reader.getCurrentValue.asInstanceOf[ColumnarBatch]
      val n = src.numRows()
      val base = rowsSeen
      rowsSeen += n
      // positional deletes intersecting this batch's ordinal range
      while (delPtr < deletedPos.length && deletedPos(delPtr) < base) delPtr += 1
      val hasPosDel =
        delPtr < deletedPos.length && deletedPos(delPtr) < base + n
      if (!hasPosDel && eqSets.isEmpty) {
        // fast path: nothing to filter — pass the batch through zero-copy
        // (extraKeys is empty when eqSets is, so the shape is `required`)
        out = src
        return true
      }
      var p = delPtr
      val keep = new Array[Int](n)
      var k = 0
      var r = 0
      while (r < n) {
        val ord = base + r
        while (p < deletedPos.length && deletedPos(p) < ord) p += 1
        val posDeleted = p < deletedPos.length && deletedPos(p) == ord
        if (!posDeleted && !(eqSets.nonEmpty && eqMatched(src, r))) {
          keep(k) = r; k += 1
        }
        r += 1
      }
      if (k > 0) {
        out = filterBatch(src, java.util.Arrays.copyOf(keep, k))
        return true
      }
      // batch fully deleted: fall through to the next one
    }
    false
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = out

  override def close(): Unit = reader.close()
}

/** Reads one immutable data file into `InternalRow`s through the public
  * parquet-mr API (footer-driven projection + Group materialization).
  * Schema evolution: required columns absent from the file read as null
  * (the manifest carries the CURRENT schema; old files predate additive
  * columns). An empty effective projection (COUNT(*), or a file with none
  * of the required columns) emits footer row counts without opening a
  * single data page. Runs with a default Hadoop conf — correct for file:
  * roots (this environment); a cluster deployment would broadcast the
  * session conf alongside the factory. */
private[sources] class SnapshotFileReader(file: String, required: StructType,
    deleteFiles: Seq[String] = Nil,
    physMap: Map[String, String] = Map.empty,
    hadoopConf: Option[Configuration] = None,
    existenceDefaults: Map[String, Any] = Map.empty,
    range: Option[(Long, Long)] = None)
    extends PartitionReader[InternalRow] {

  /** Per required field: the internal value to emit when the FILE lacks
    * the column (null unless an existence default was declared). A
    * present-but-null cell stays null — defaults are initial values for
    * pre-evolution rows, never a null-rewriting coalesce. */
  private val absentFill: Array[Any] =
    required.fields.map(f => existenceDefaults.getOrElse(f.name, null))

  // fresh copy per reader: the projection set below must not leak into
  // the shared session conf the factory captured
  private val conf =
    hadoopConf.map(new Configuration(_)).getOrElse(new Configuration())
  private val path = new Path(file)

  /** Physical column name to read for required column `n` in THIS file:
    * None = forced null-fill (field-id says the file predates the
    * column); identity unless the planner supplied a rename remap. */
  private def phys(n: String): Option[String] = physMap.get(n) match {
    case Some("") => None
    case Some(p) => Some(p)
    case None => Some(n)
  }

  private def deleteSchemaOf(df: String): Seq[String] =
    SnapshotDeletes.schemaOf(df, hadoopConf.getOrElse(new Configuration()))
  private val (posDeleteFiles, eqDeleteFiles) = deleteFiles.partition(df =>
    SnapshotDeletes.isVector(df) ||
      SnapshotDeletes.isPositional(deleteSchemaOf(df)))

  private var projIdx: Array[Int] = _
  private var reader: ParquetReader[Group] = _
  private var nullRows: Long = 0L
  private var projType: MessageType = _
  // equality-delete state: per delete file, the key tuples (canonical
  // form) and each key's position in the DATA projection
  private var eqSets: Seq[(Array[Int], java.util.HashSet[Vector[Any]])] = Nil
  private var ord0 = 0L // ordinal of the range's first row within the FILE
  locally {
    val pfr = SnapshotLog.openFooter(path, conf)
    val (fileSchema, rowCount) =
      try {
        val blocks = pfr.getFooter.getBlocks.asScala
        // parquet-mr's split rule: a row group belongs to the range whose
        // [start, end) contains its MIDPOINT — mirror it exactly so row
        // ordinals (the coordinate system of positional deletes) offset
        // by precisely the rows the ranged reader will skip
        def mid(b: org.apache.parquet.hadoop.metadata.BlockMetaData): Long =
          b.getStartingPos + b.getCompressedSize / 2
        val inRange = range match {
          case Some((s, e)) => blocks.filter(b => mid(b) >= s && mid(b) < e)
          case None => blocks
        }
        ord0 = range.fold(0L) { case (s, _) =>
          blocks.filter(b => mid(b) < s).map(_.getRowCount).sum }
        (pfr.getFooter.getFileMetaData.getSchema,
          inRange.map(_.getRowCount).sum)
      }
      finally pfr.close()
    // -1 = absent (null-fill), -2 = the _file metadata column, -3 = the
    // _pos metadata column (both served from the reader itself, never
    // read from the file)
    def marker(n: String): Int = n match {
      case "_file" => -2; case "_pos" => -3; case _ => -1
    }
    val present = required.fields.flatMap(f =>
      if (f.name == "_file" || f.name == "_pos") None
      else phys(f.name).filter(fileSchema.containsField).map(p => (f, p)))
    // equality deletes whose every key column physically exists in this
    // file (a file missing a key column cannot match non-null keys)
    val eqApplicable: Seq[(String, Seq[String])] = eqDeleteFiles
      .map(df => df -> deleteSchemaOf(df))
      .filter(_._2.forall(k =>
        phys(k).exists(fileSchema.containsField)))
    // the projection must carry the eq-key columns even when the query
    // pruned them away — membership is evaluated per row
    val eqExtraPhys: Seq[String] = eqApplicable
      .flatMap(_._2).distinct.map(k => phys(k).get)
      .filterNot(p => present.exists(_._2 == p))
    if (present.isEmpty && eqApplicable.isEmpty) {
      projIdx = required.fields.map(f => marker(f.name))
      nullRows = rowCount
    } else {
      present.foreach { case (f, p) => validate(f, p, fileSchema) }
      val projPhys = present.map(_._2).toSeq ++ eqExtraPhys
      projType = new MessageType(fileSchema.getName,
        projPhys.map(p => fileSchema.getType(fileSchema.getFieldIndex(p))): _*)
      conf.set(ReadSupport.PARQUET_READ_SCHEMA, projType.toString)
      val pos = present.map(_._1.name).zipWithIndex.toMap
      projIdx = required.fields.map(f => pos.getOrElse(f.name, marker(f.name)))
      val physPos = projPhys.zipWithIndex.toMap
      eqSets = eqApplicable.map { case (df, keyCols) =>
        val idxs = keyCols.map(k => physPos(phys(k).get)).toArray
        (idxs, loadEqKeys(df))
      }
      val b = ParquetReader.builder(new GroupReadSupport(), path)
        .withConf(conf)
      reader = range.fold(b)(r => b.withFileRange(r._1, r._2)).build()
    }
  }

  /** Canonical value space shared by data rows and delete keys (both
    * sides conform at write time): integrals → Long, floats → Double,
    * UTF8 binary → String, boolean → Boolean. */
  private def canonAt(g: Group, idx: Int, t: org.apache.parquet.schema.Type): Any =
    SnapshotDeletes.canonGroup(g, idx, t)

  private def loadEqKeys(df: String): java.util.HashSet[Vector[Any]] =
    SnapshotDeletes.loadEqKeys(df, hadoopConf.getOrElse(new Configuration()))

  /** True iff the current data row's key tuple appears in ANY equality
    * delete set (null key components never match — SQL equality). */
  private def eqMatched(g: Group): Boolean =
    eqSets.exists { case (idxs, set) =>
      val tuple = idxs.map(i => canonAt(g, i, projType.getType(i))).toVector
      !tuple.contains(null) && set.contains(tuple)
    }

  private val filePathValue = UTF8String.fromString(file)

  /** Sorted ordinals this file must NOT serve (merge-on-read positional
    * deletes): each delete parquet holds (file_path, pos) rows sorted by
    * file_path — opened once per task, filtered to this data file. The
    * scan walks data rows sequentially, so membership is a merge-walk
    * pointer, O(1) per row. */
  private val deletedPos: Array[Long] = SnapshotDeletes.loadPositions(
    posDeleteFiles, file, hadoopConf.getOrElse(new Configuration()))
  private var delPtr = 0
  // current row's ordinal within the data FILE (not the range): ranged
  // splits start past the skipped row groups so positional deletes keep
  // their coordinates
  private var ord = ord0 - 1L

  /** Advance the delete pointer past `o`; true iff `o` is deleted. */
  private def isDeleted(o: Long): Boolean = {
    while (delPtr < deletedPos.length && deletedPos(delPtr) < o) delPtr += 1
    delPtr < deletedPos.length && deletedPos(delPtr) == o
  }

  private def validate(f: StructField, physName: String,
                       fileSchema: MessageType): Unit = {
    val t = fileSchema.getType(fileSchema.getFieldIndex(physName))
    f.dataType match {
      case TimestampType | TimestampNTZType =>
        val prim = t.asPrimitiveType().getPrimitiveTypeName
        require(prim == PrimitiveType.PrimitiveTypeName.INT64,
          s"snapshotlog: timestamp column ${f.name} stored as $prim; only " +
            "INT64 TIMESTAMP(MICROS) is supported (INT96 is legacy — " +
            "Sessions.build pins outputTimestampType=TIMESTAMP_MICROS)")
      case _ => ()
    }
  }

  private var current: Group = _

  override def next(): Boolean = {
    if (reader == null) {
      while (ord + 1 < nullRows) {
        ord += 1
        if (!isDeleted(ord)) return true
      }
      false
    } else {
      while (true) {
        current = reader.read()
        if (current == null) return false
        ord += 1
        if (!isDeleted(ord) && !eqMatched(current)) return true
      }
      false // unreachable
    }
  }

  override def get(): InternalRow = {
    val row = new GenericInternalRow(required.length)
    var i = 0
    while (i < required.length) {
      val j = projIdx(i)
      if (j == -2) row.update(i, filePathValue)
      else if (j == -3) row.update(i, ord)
      else if (j < 0) row.update(i, absentFill(i)) // file predates the column
      else if (current == null || current.getFieldRepetitionCount(j) == 0)
        row.update(i, null) // genuine NULL cell in a present column
      else row.update(i, extract(current, j, required.fields(i).dataType))
      i += 1
    }
    row
  }

  private def extract(g: Group, idx: Int, dt: DataType): Any = dt match {
    case LongType => g.getLong(idx, 0)
    case IntegerType => g.getInteger(idx, 0)
    case DoubleType => g.getDouble(idx, 0)
    case FloatType => g.getFloat(idx, 0)
    case BooleanType => g.getBoolean(idx, 0)
    case StringType => UTF8String.fromBytes(g.getBinary(idx, 0).getBytes)
    case TimestampType | TimestampNTZType => g.getLong(idx, 0) // INT64 µs
    case DateType => g.getInteger(idx, 0) // INT32 days
    case ShortType => g.getInteger(idx, 0).toShort
    case ByteType => g.getInteger(idx, 0).toByte
    case d: DecimalType =>
      // dispatch on the file's physical type (INT32/INT64 unscaled for
      // small precisions, fixed-len two's-complement bytes beyond 18)
      g.getType.getType(idx).asPrimitiveType().getPrimitiveTypeName match {
        case PrimitiveType.PrimitiveTypeName.INT32 =>
          org.apache.spark.sql.types.Decimal(
            g.getInteger(idx, 0).toLong, d.precision, d.scale)
        case PrimitiveType.PrimitiveTypeName.INT64 =>
          org.apache.spark.sql.types.Decimal(
            g.getLong(idx, 0), d.precision, d.scale)
        case _ =>
          val bytes = g.getBinary(idx, 0).getBytes
          org.apache.spark.sql.types.Decimal(
            new java.math.BigDecimal(new java.math.BigInteger(bytes), d.scale),
            d.precision, d.scale)
      }
    case other => extractAt(g, idx, 0, other)
  }

  /** Recursive Group→Catalyst conversion for the non-flat types
    * (binary, struct, array, map) at (fieldIdx, repIdx). Spark writes
    * standard parquet logical structure — 3-level LIST
    * (`group (LIST) { repeated group list { element } }`) and
    * `key_value` MAP — which is what this walks; legacy 2-level layouts
    * are rejected at commit time, never at read time. */
  private def extractAt(g: Group, idx: Int, rep: Int, dt: DataType): Any = dt match {
    case BinaryType => g.getBinary(idx, rep).getBytes
    case StringType => UTF8String.fromBytes(g.getBinary(idx, rep).getBytes)
    case LongType => g.getLong(idx, rep)
    case IntegerType => g.getInteger(idx, rep)
    case DoubleType => g.getDouble(idx, rep)
    case FloatType => g.getFloat(idx, rep)
    case BooleanType => g.getBoolean(idx, rep)
    case TimestampType | TimestampNTZType => g.getLong(idx, rep)
    case DateType => g.getInteger(idx, rep)
    case ShortType => g.getInteger(idx, rep).toShort
    case ByteType => g.getInteger(idx, rep).toByte
    case st: StructType =>
      val inner = g.getGroup(idx, rep)
      val schema = inner.getType
      val row = new GenericInternalRow(st.length)
      var i = 0
      while (i < st.length) {
        val f = st.fields(i)
        // nested schema evolution: a field absent from the file's struct
        // null-fills, same as top-level additive evolution
        if (!schema.containsField(f.name)) row.update(i, null)
        else {
          val j = schema.getFieldIndex(f.name)
          if (inner.getFieldRepetitionCount(j) == 0) row.update(i, null)
          else row.update(i, extractAt(inner, j, 0, f.dataType))
        }
        i += 1
      }
      row
    case ArrayType(et, _) =>
      val outer = g.getGroup(idx, rep) // the (LIST) group
      val n = outer.getFieldRepetitionCount(0) // repeated `list` entries
      val arr = new Array[Any](n)
      var i = 0
      while (i < n) {
        val holder = outer.getGroup(0, i) // one `list { element }` record
        arr(i) =
          if (holder.getFieldRepetitionCount(0) == 0) null
          else extractAt(holder, 0, 0, et)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
    case MapType(kt, vt, _) =>
      val outer = g.getGroup(idx, rep) // the (MAP) group
      val n = outer.getFieldRepetitionCount(0) // repeated `key_value`
      val keys = new Array[Any](n)
      val vals = new Array[Any](n)
      var i = 0
      while (i < n) {
        val kv = outer.getGroup(0, i)
        keys(i) = extractAt(kv, 0, 0, kt) // parquet map keys are required
        vals(i) =
          if (kv.getFieldRepetitionCount(1) == 0) null
          else extractAt(kv, 1, 0, vt)
        i += 1
      }
      org.apache.spark.sql.catalyst.util.ArrayBasedMapData(keys, vals)
    case d: DecimalType => extract(g, idx, d) // shares the physical dispatch
    case other => throw new UnsupportedOperationException(
      s"snapshotlog reader: unsupported column type $other")
  }

  override def close(): Unit = if (reader != null) reader.close()
}
