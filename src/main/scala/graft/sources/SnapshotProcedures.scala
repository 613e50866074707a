package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** SQL stored procedures for snapshot-table MAINTENANCE — Iceberg's
  * procedure surface (`CALL catalog.system.rewrite_data_files(...)`,
  * `expire_snapshots(...)`; reference: Iceberg Spark procedures the
  * BodoSQL Iceberg catalogs expose):
  *
  *   CALL snap.system.rewrite_data_files('ns.t')
  *   CALL snap.system.rewrite_data_files('ns.t', 134217728, 'k')
  *   CALL snap.system.expire_snapshots('ns.t', 3)
  *   CALL snap.system.expire_snapshots('ns.t', 3, true)  -- orphan scan
  *
  * Each returns a one-row result relation describing what happened —
  * table maintenance runs from plain SQL, no Scala API needed. */
private[sources] object SnapshotProcedures {

  def list(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      Array(
        Identifier.of(Array("system"), "rewrite_data_files"),
        Identifier.of(Array("system"), "expire_snapshots"),
        Identifier.of(Array("system"), "create_tag"),
        Identifier.of(Array("system"), "drop_tag"),
        Identifier.of(Array("system"), "create_branch"),
        Identifier.of(Array("system"), "drop_branch"),
        Identifier.of(Array("system"), "fast_forward"),
        Identifier.of(Array("system"), "merge_branch"),
        Identifier.of(Array("system"), "delete_branch_where"),
        Identifier.of(Array("system"), "update_branch_where"),
        Identifier.of(Array("system"), "rewrite_position_delete_files"),
        Identifier.of(Array("system"), "create_changelog_view"),
        Identifier.of(Array("system"), "create_mv"),
        Identifier.of(Array("system"), "create_join_mv"),
        Identifier.of(Array("system"), "refresh_mv"),
        Identifier.of(Array("system"), "import_parquet"),
        Identifier.of(Array("system"), "rollback_to_snapshot"),
        Identifier.of(Array("system"), "set_current_snapshot"),
        Identifier.of(Array("system"), "rebuild_file_indexes"))
    else Array.empty

  def load(warehouse: String, ident: Identifier): UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"snapshotlog catalog: unknown procedure namespace " +
        ident.namespace().mkString("."))
    ident.name().toLowerCase match {
      case "rewrite_data_files" => new RewriteDataFilesProc(warehouse)
      case "expire_snapshots" => new ExpireSnapshotsProc(warehouse)
      case "create_tag" => new CreateTagProc(warehouse)
      case "drop_tag" => new DropTagProc(warehouse)
      case "create_branch" => new CreateBranchProc(warehouse)
      case "drop_branch" => new DropBranchProc(warehouse)
      case "fast_forward" => new FastForwardProc(warehouse)
      case "merge_branch" => new MergeBranchProc(warehouse)
      case "delete_branch_where" => new DeleteBranchWhereProc(warehouse)
      case "update_branch_where" => new UpdateBranchWhereProc(warehouse)
      case "rewrite_position_delete_files" =>
        new RewriteDeleteFilesProc(warehouse)
      case "analyze_table" => new AnalyzeTableProc(warehouse)
      case "create_changelog_view" => new CreateChangelogViewProc(warehouse)
      case "create_mv" => new CreateMvProc(warehouse)
      case "create_join_mv" => new CreateJoinMvProc(warehouse)
      case "refresh_mv" => new RefreshMvProc(warehouse)
      case "import_parquet" => new ImportParquetProc(warehouse)
      case "rollback_to_snapshot" =>
        new AdoptSnapshotProc(warehouse, restricted = true)
      case "set_current_snapshot" =>
        new AdoptSnapshotProc(warehouse, restricted = false)
      case "rebuild_file_indexes" => new RebuildFileIndexesProc(warehouse)
      case other => throw new UnsupportedOperationException(
        s"snapshotlog catalog: unknown procedure $other")
    }
  }

  private def rootFor(warehouse: String, table: String): String =
    warehouse + "/" + table.replace('.', '/')

  /** One-row result relation — Spark requires procedure output to be a
    * LocalScan (driver-local rows, no distributed read). */
  private def resultScan(schema: StructType, row: Seq[Any]): Scan =
    new org.apache.spark.sql.connector.read.LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] = Array(
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          row.map {
            case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
            case other => other.asInstanceOf[Any]
          }.toArray))
    }

  private class RewriteDataFilesProc(warehouse: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "rewrite_data_files"
    override def description(): String =
      "bin-pack (optionally cluster) a snapshot table's small data files " +
        "into a new rewrite snapshot"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table as 'ns.t'").build(),
      ProcedureParameter.in("target_bytes", LongType)
        .defaultValue("134217728").build(),
      ProcedureParameter.in("cluster_by", StringType)
        .defaultValue("''")
        .comment("comma-separated sort columns; empty = bin-pack only").build(),
      ProcedureParameter.in("zorder_by", StringType)
        .defaultValue("''")
        .comment("comma-separated z-order columns (2-6, numeric); " +
          "mutually exclusive with cluster_by").build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val root = rootFor(warehouse, input.getUTF8String(0).toString)
      val targetBytes = input.getLong(1)
      def cols(i: Int): Seq[String] = Option(input.getUTF8String(i))
        .map(_.toString).filter(_.nonEmpty)
        .map(_.split(',').map(_.trim).toSeq).getOrElse(Seq.empty)
      val before = SnapshotLog.pick(spark, root, None, None)
      val v = SnapshotLog.rewriteDataFiles(spark, root,
        commitTsMs = SnapshotLog.nextCommitTs(spark, root),
        targetBytes = targetBytes, clusterBy = cols(2), zorderBy = cols(3))
      val after = SnapshotLog.pick(spark, root, None, None)
      Iterator(resultScan(
        StructType(Seq(
          StructField("version", IntegerType, nullable = false),
          StructField("rewrote", BooleanType, nullable = false),
          StructField("files_before", LongType, nullable = false),
          StructField("files_after", LongType, nullable = false))),
        Seq(v, v != before.version, before.files.size.toLong,
          after.files.size.toLong))).asJava
    }
  }

  /** CALL snap.system.create_changelog_view(table => 'ns.t',
    * from_version => 1) — Iceberg's create_changelog_view procedure:
    * registers a TEMP VIEW over [[SnapshotLog.changes]] (net
    * insert/delete rows tagged _change_type/_commit_version) and returns
    * the view name, so the changelog is queryable from plain SQL. The
    * view's plan is the lazy touched-files diff — registering it runs
    * nothing. */
  private class CreateChangelogViewProc(warehouse: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "create_changelog_view"
    override def description(): String =
      "register a temp view of the net row-level changes in " +
        "(from_version, to_version]"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table as 'ns.t'").build(),
      ProcedureParameter.in("from_version", IntegerType)
        .defaultValue("0").build(),
      ProcedureParameter.in("to_version", IntegerType)
        .defaultValue("-1").comment("-1 = current head").build(),
      ProcedureParameter.in("view_name", StringType)
        .defaultValue("''").comment("default: <table>_changes").build(),
      ProcedureParameter.in("net_changes", BooleanType)
        .defaultValue("false")
        .comment("net across the whole range: intermediate churn vanishes, " +
          "rows carry the last touching version").build(),
      ProcedureParameter.in("identifier_columns", StringType)
        .defaultValue("''")
        .comment("comma-separated key columns: pair each version's " +
          "delete+insert of a key into update_preimage/update_postimage " +
          "rows (not combinable with net_changes)").build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val table = input.getUTF8String(0).toString
      val root = rootFor(warehouse, table)
      val fromV = input.getInt(1)
      val toV = input.getInt(2) match { case -1 => None; case v => Some(v) }
      val view = Option(input.getUTF8String(3)).map(_.toString)
        .filter(_.nonEmpty)
        .getOrElse(table.substring(table.lastIndexOf('.') + 1) + "_changes")
      val idCols = Option(input.getUTF8String(5)).map(_.toString)
        .getOrElse("").split(",").map(_.trim).filter(_.nonEmpty).toSeq
      SnapshotLog.changes(spark, root, fromV, toV,
        netChanges = !input.isNullAt(4) && input.getBoolean(4),
        identifierCols = idCols)
        .createOrReplaceTempView(view)
      Iterator(resultScan(
        StructType(Seq(
          StructField("changelog_view", StringType, nullable = false))),
        Seq(view))).asJava
    }
  }

  /** CALL snap.system.analyze_table('ns.t') — one distributed pass
    * computing per-column KMV sketches + null counts, persisted as the
    * Puffin-style sidecar the planner's CBO statistics read
    * ([[SnapshotLog.analyze]]). */
  /** CALL snap.system.rebuild_file_indexes('ns.t') — backfill bloom +
    * ngram sidecars for live files missing coverage (arming the index
    * properties on an existing table covers only later commits; this
    * covers the history without rewriting a byte of data). */
  private class RebuildFileIndexesProc(warehouse: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "rebuild_file_indexes"
    override def description(): String =
      "backfill per-file bloom/ngram sidecars for live files that " +
        "predate the index properties"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val root = rootFor(warehouse, input.getUTF8String(0).toString)
      val (b, n) = SnapshotLog.rebuildFileIndexes(spark, root)
      Iterator(resultScan(
        StructType(Seq(
          StructField("bloom_files", IntegerType, nullable = false),
          StructField("ngram_files", IntegerType, nullable = false))),
        Seq[Any](b, n))).asJava
    }
  }

  private class AnalyzeTableProc(warehouse: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "analyze_table"
    override def description(): String =
      "compute per-column NDV/null statistics (KMV sketches) for the " +
        "current snapshot and persist them for the planner"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("k", IntegerType).defaultValue("256").build(),
      // equi-height histogram bins for numeric columns (0 disables)
      ProcedureParameter.in("hist_bins", IntegerType)
        .defaultValue("64").build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val root = rootFor(warehouse, input.getUTF8String(0).toString)
      val v = SnapshotLog.analyze(spark, root, input.getInt(1),
        histBins = input.getInt(2))
      val stats = SnapshotLog.colStatsFor(spark, root, v)
      Iterator(resultScan(
        StructType(Seq(
          StructField("analyzed_version", IntegerType, nullable = false),
          StructField("row_count", LongType, nullable = false),
          StructField("n_columns", LongType, nullable = false))),
        Seq[Any](v, stats.map(_._2).getOrElse(0L),
          stats.map(_._3.size.toLong).getOrElse(0L)))).asJava
    }
  }

  /** `CALL snap.system.create_mv('ns.base', 'ns.mv', 'day,cc', 'v')` —
    * materialize the canonical group/count/sum aggregate and register it
    * durably for transparent query rewrite + incremental refresh. */
  private class CreateMvProc(warehouse: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "create_mv"
    override def description(): String =
      "materialize a group/count/sum aggregate over a snapshot table " +
        "and register it for transparent rewrite + incremental refresh"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("mv_table", StringType).build(),
      ProcedureParameter.in("group_cols", StringType).build(),
      // one measure or a comma-separated list — each gets nv_<c>/s_<c>
      ProcedureParameter.in("value_cols", StringType).build(),
      // optional min/max measures — each gets mn_<c>/mx_<c>, served only
      // while the table's history since create is insert-only
      ProcedureParameter.in("minmax_cols", StringType)
        .defaultValue("''").build(),
      // optional EXPRESSION keys, ';'-separated "expr AS name" entries
      // (exprs contain commas): group_exprs =>
      // "date_trunc('day', ts) AS day" — the time-grain MV surface
      ProcedureParameter.in("group_exprs", StringType)
        .defaultValue("''").build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val root = rootFor(warehouse, input.getUTF8String(0).toString)
      val mvTable = input.getUTF8String(1).toString
      def split(i: Int, sep: Char): Seq[String] = Option(input.getUTF8String(i))
        .map(_.toString).getOrElse("")
        .split(sep).map(_.trim).filter(_.nonEmpty).toSeq
      def cols(i: Int): Seq[String] = split(i, ',')
      val applied = graft.operators.IncrementalMv.create(spark, root,
        mvTable, cols(2) ++ split(5, ';'), cols(3), cols(4))
      Iterator(resultScan(
        StructType(Seq(
          StructField("mv_table", StringType, nullable = false),
          StructField("applied_base_version", IntegerType, nullable = false))),
        Seq[Any](org.apache.spark.unsafe.types.UTF8String.fromString(mvTable),
          applied))).asJava
    }
  }

  /** `CALL snap.system.create_join_mv('ns.fact', 'ns.dim', 'ck', 'dk',
    * 'ns.mv', 'grp,seg', 'v')` — materialize the star-schema aggregate
    * `fact JOIN dim ON fact.ck = dim.dk GROUP BY …` with the dim pinned
    * at its current version, and register it durably for transparent
    * rewrite + incremental (fact-delta) refresh. Re-running after a dim
    * change is the full-refresh path (the rewrite refuses newer-dim
    * reads until then). */
  private class CreateJoinMvProc(warehouse: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "create_join_mv"
    override def description(): String =
      "materialize a fact-join-dim group/count/sum aggregate (dim " +
        "pinned + watermarked) and register it for transparent rewrite " +
        "+ incremental fact-delta refresh"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("fact_table", StringType).build(),
      ProcedureParameter.in("dim_table", StringType).build(),
      ProcedureParameter.in("fact_key", StringType).build(),
      ProcedureParameter.in("dim_key", StringType).build(),
      ProcedureParameter.in("mv_table", StringType).build(),
      ProcedureParameter.in("group_cols", StringType).build(),
      ProcedureParameter.in("value_cols", StringType).build(),
      // optional min/max measures — parity with create_mv (served only
      // while the FACT's history since create is insert-only)
      ProcedureParameter.in("minmax_cols", StringType)
        .defaultValue("''").build(),
      // optional EXPRESSION keys, ';'-separated "expr AS name" entries
      // (may reference fact OR dim columns — computed post-join)
      ProcedureParameter.in("group_exprs", StringType)
        .defaultValue("''").build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val factRoot = rootFor(warehouse, input.getUTF8String(0).toString)
      val mvTable = input.getUTF8String(4).toString
      def split(i: Int, sep: Char): Seq[String] = Option(input.getUTF8String(i))
        .map(_.toString).getOrElse("")
        .split(sep).map(_.trim).filter(_.nonEmpty).toSeq
      def cols(i: Int): Seq[String] = split(i, ',')
      // dim_table/fact_key/dim_key accept PARALLEL comma lists — the
      // snowflake form ('ns.cust,ns.nation', 'ck,nk', 'dk,nnk'); a
      // single value is the plain star shape
      val dimRoots = cols(1).map(t => rootFor(warehouse, t))
      val (fks, dks) = (cols(2), cols(3))
      require(dimRoots.size == fks.size && fks.size == dks.size,
        "create_join_mv: dim_table, fact_key, dim_key must be " +
          "comma-lists of one length")
      val applied = graft.operators.IncrementalMv.createJoins(spark,
        factRoot, dimRoots.lazyZip(fks).lazyZip(dks).map((r, f, k) =>
          (r, f, k)), mvTable, cols(5) ++ split(8, ';'), cols(6),
        minMaxCols = cols(7))
      // the FULL ordered dim-version list (one per join step, snowflake
      // included) — a truncated or defaulted report would mask an
      // unreadable watermark; fail loudly instead
      val dimVs = graft.operators.IncrementalMv.appliedDimVersions(spark,
        rootFor(warehouse, mvTable)).getOrElse(
        throw new IllegalStateException(
          s"create_join_mv: $mvTable committed but its dim watermark " +
            "props are unreadable"))
      Iterator(resultScan(
        StructType(Seq(
          StructField("mv_table", StringType, nullable = false),
          StructField("applied_fact_version", IntegerType, nullable = false),
          StructField("applied_dim_versions", StringType, nullable = false))),
        Seq[Any](org.apache.spark.unsafe.types.UTF8String.fromString(mvTable),
          applied,
          org.apache.spark.unsafe.types.UTF8String.fromString(
            dimVs.mkString(","))))).asJava
    }
  }

  /** `CALL snap.system.refresh_mv('ns.base')` — apply every unapplied
    * base version to the registered MV (one changelog read, one MERGE);
    * for a JOIN MV, every unapplied DIM version is applied too
    * ([[graft.operators.IncrementalMv.maintainDims]], r20 — a
    * slowly-changing dim refreshes incrementally instead of forcing a
    * re-create). Idempotent at the heads. */
  private class RefreshMvProc(warehouse: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "refresh_mv"
    override def description(): String =
      "incrementally refresh the registered materialization of a " +
        "snapshot table from its net_changes delta (join MVs: fact AND " +
        "dim deltas)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val root = rootFor(warehouse, input.getUTF8String(0).toString)
      val mv = graft.operators.IncrementalMv.registered(root).getOrElse(
        throw new IllegalArgumentException(
          s"refresh_mv: no materialization registered for " +
            input.getUTF8String(0).toString))
      // MV tables live in the same warehouse: root path back to ns.t name
      val mvTable = mv.mvRoot.stripPrefix(s"$warehouse/").replace('/', '.')
      val applied = graft.operators.IncrementalMv.maintain(spark, root,
        mvTable, mv.groupCols, mv.valueCols)
      val dimVs =
        if (mv.joins.isEmpty) Seq.empty[Int]
        else graft.operators.IncrementalMv.maintainDims(spark, root,
          mvTable, mv.groupCols, mv.valueCols)
      Iterator(resultScan(
        StructType(Seq(
          StructField("mv_table", StringType, nullable = false),
          StructField("applied_base_version", IntegerType, nullable = false),
          StructField("applied_dim_versions", StringType, nullable = false))),
        Seq[Any](org.apache.spark.unsafe.types.UTF8String.fromString(mvTable),
          applied,
          org.apache.spark.unsafe.types.UTF8String.fromString(
            dimVs.mkString(","))))).asJava
    }
  }

  /** `CALL snap.system.rollback_to_snapshot('ns.t', 3)` /
    * `CALL snap.system.set_current_snapshot('ns.t', 3)` — the
    * incident-recovery surface (Iceberg's procedures of the same names):
    * ONE new linear commit re-adopting the target snapshot's exact
    * content. rollback_to_snapshot demands the target be a mainline
    * ancestor of the head (an undo, never an adoption);
    * set_current_snapshot re-points at any retained snapshot. */
  private class AdoptSnapshotProc(warehouse: String, restricted: Boolean)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String =
      if (restricted) "rollback_to_snapshot" else "set_current_snapshot"
    override def description(): String =
      if (restricted)
        "roll the table back to a prior mainline snapshot via one new " +
          "linear commit (history and time travel preserved)"
      else
        "re-point the table head at any retained snapshot's content " +
          "via one new linear commit"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("version", IntegerType).build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val root = rootFor(warehouse, input.getUTF8String(0).toString)
      val toV = input.getInt(1)
      val previous = SnapshotLog.pick(spark, root, None, None).version
      val ts = SnapshotLog.nextCommitTs(spark, root)
      val head =
        if (restricted) SnapshotLog.rollbackTo(spark, root, toV, ts)
        else SnapshotLog.setCurrentSnapshot(spark, root, toV, ts)
      Iterator(resultScan(
        StructType(Seq(
          StructField("previous_version", IntegerType, nullable = false),
          StructField("current_version", IntegerType, nullable = false),
          StructField("restored_version", IntegerType, nullable = false))),
        Seq[Any](previous, head, toV))).asJava
    }
  }

  /** `CALL snap.system.import_parquet('/path/to/dir', 'ns.t')` — adopt an
    * existing parquet directory as a snapshot table IN PLACE (Iceberg's
    * `snapshot` procedure): no data moves, footer stats lift into the
    * manifest, and the source files are never garbage-collected. */
  private class ImportParquetProc(warehouse: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "import_parquet"
    override def description(): String =
      "adopt an existing parquet directory as snapshot version 1 " +
        "in place (zero data movement; source files never reclaimed)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("source_dir", StringType).build(),
      ProcedureParameter.in("table", StringType).build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val src = input.getUTF8String(0).toString
      val root = rootFor(warehouse, input.getUTF8String(1).toString)
      val v = SnapshotLog.importParquetDir(spark, src, root,
        System.currentTimeMillis())
      val snap = SnapshotLog.snapshots(spark, root).last
      Iterator(resultScan(
        StructType(Seq(
          StructField("imported_version", IntegerType, nullable = false),
          StructField("n_files", LongType, nullable = false),
          StructField("n_rows", LongType, nullable = false))),
        Seq[Any](v, snap.files.size.toLong, snap.rows.values.sum))).asJava
    }
  }

  private class ExpireSnapshotsProc(warehouse: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "expire_snapshots"
    override def description(): String =
      "delete manifests below keep_from_version and reclaim data files " +
        "no surviving snapshot references"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("keep_from_version", IntegerType).build(),
      ProcedureParameter.in("orphan_scan", BooleanType)
        .defaultValue("false").build(),
      // grace window for the orphan scan (Iceberg remove_orphan_files
      // older_than): never reap dirs younger than this — they may be
      // in-flight commits whose manifest hasn't published yet
      ProcedureParameter.in("older_than_ms", LongType)
        .defaultValue((24L * 3600 * 1000).toString).build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val root = rootFor(warehouse, input.getUTF8String(0).toString)
      val (manifests, files) = SnapshotLog.expireSnapshots(spark, root,
        input.getInt(1), orphanScan = input.getBoolean(2),
        orphanGraceMs = input.getLong(3))
      Iterator(resultScan(
        StructType(Seq(
          StructField("manifests_deleted", LongType, nullable = false),
          StructField("files_deleted", LongType, nullable = false))),
        Seq(manifests.toLong, files.toLong))).asJava
    }
  }

  /** CALL snap.system.create_tag('ns.t', 'v1-release', 2) — pin a named
    * ref to a snapshot version (Iceberg tag). Tagged versions survive
    * expire_snapshots. */
  private class CreateTagProc(warehouse: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "create_tag"
    override def description(): String =
      "pin a named tag to a snapshot version; tags survive expiry"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("tag", StringType).build(),
      ProcedureParameter.in("version", IntegerType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val root = rootFor(warehouse, input.getUTF8String(0).toString)
      val tag = input.getUTF8String(1).toString
      SnapshotLog.createTag(spark, root, tag, input.getInt(2))
      Iterator(resultScan(
        StructType(Seq(
          StructField("tag", StringType, nullable = false),
          StructField("version", IntegerType, nullable = false))),
        Seq(tag, input.getInt(2)))).asJava
    }
  }

  /** CALL snap.system.drop_tag('ns.t', 'v1-release'). */
  private class DropTagProc(warehouse: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "drop_tag"
    override def description(): String = "remove a named tag"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("tag", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val root = rootFor(warehouse, input.getUTF8String(0).toString)
      val tag = input.getUTF8String(1).toString
      SnapshotLog.dropTag(spark, root, tag)
      Iterator(resultScan(
        StructType(Seq(StructField("dropped", StringType, nullable = false))),
        Seq(tag))).asJava
    }
  }

  /** CALL snap.system.create_branch('ns.t', 'audit', 2) — fork a writable
    * branch from a snapshot (write-audit-publish). */
  private class CreateBranchProc(warehouse: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "create_branch"
    override def description(): String =
      "fork a writable branch from a snapshot version"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("branch", StringType).build(),
      ProcedureParameter.in("version", IntegerType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val root = rootFor(warehouse, input.getUTF8String(0).toString)
      val br = input.getUTF8String(1).toString
      SnapshotLog.createBranch(spark, root, br, input.getInt(2))
      Iterator(resultScan(
        StructType(Seq(
          StructField("branch", StringType, nullable = false),
          StructField("version", IntegerType, nullable = false))),
        Seq(br, input.getInt(2)))).asJava
    }
  }

  private class DropBranchProc(warehouse: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "drop_branch"
    override def description(): String = "remove a branch ref"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("branch", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val root = rootFor(warehouse, input.getUTF8String(0).toString)
      val br = input.getUTF8String(1).toString
      SnapshotLog.dropBranch(spark, root, br)
      Iterator(resultScan(
        StructType(Seq(StructField("dropped", StringType, nullable = false))),
        Seq(br))).asJava
    }
  }

  /** CALL snap.system.fast_forward('ns.t', 'audit') — publish a branch to
    * main: append when the branch descends from the main head, overwrite
    * when histories diverged. */
  private class FastForwardProc(warehouse: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "fast_forward"
    override def description(): String =
      "publish a branch's content to the main line"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("branch", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val root = rootFor(warehouse, input.getUTF8String(0).toString)
      val br = input.getUTF8String(1).toString
      val v = SnapshotLog.fastForward(spark, root, br,
        SnapshotLog.nextCommitTs(spark, root))
      Iterator(resultScan(
        StructType(Seq(
          StructField("branch", StringType, nullable = false),
          StructField("published_version", IntegerType, nullable = false))),
        Seq(br, v))).asJava
    }
  }

  /** CALL snap.system.merge_branch('ns.t', 'audit', 'fix_view', 'k') —
    * SQL surface for WAP MERGE ([[SnapshotLog.upsertEqualityMoR]] with `branch`):
    * ONE branch snapshot equality-deletes the source view's keys from
    * the branch head and appends its rows, so the whole
    * write-audit-publish loop (create_branch → DML → audit →
    * fast_forward) runs verbatim from SQL, like the MV loop. A branch
    * head that moved during staging REFUSES (re-proved at commit AND at
    * ref-write; a lost ref race surfaces the orphan snapshot version in
    * the error). Reference: MERGE INTO as the primary surface,
    * bodo/io/iceberg/merge_into.py. */
  private class MergeBranchProc(warehouse: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "merge_branch"
    override def description(): String =
      "merge (upsert-by-key) a view's rows into a branch as one " +
        "merge-on-read snapshot; refuses if the branch head moved"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("branch", StringType).build(),
      ProcedureParameter.in("source", StringType)
        .comment("temp view / table name holding the merge rows").build(),
      ProcedureParameter.in("key_cols", StringType)
        .comment("comma-separated equality key columns").build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val root = rootFor(warehouse, input.getUTF8String(0).toString)
      val branch = input.getUTF8String(1).toString
      val source = spark.table(input.getUTF8String(2).toString)
      val keys = input.getUTF8String(3).toString
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val v = SnapshotLog.upsertEqualityMoR(spark, root, source, keys,
        SnapshotLog.nextCommitTs(spark, root), branch = Some(branch))
      Iterator(resultScan(
        StructType(Seq(
          StructField("branch", StringType, nullable = false),
          StructField("merged_version", IntegerType, nullable = false))),
        Seq(branch, v))).asJava
    }
  }

  /** CALL snap.system.delete_branch_where('ns.t', 'audit', 'bal < 0') —
    * the audit-delete half of WAP DML from SQL
    * ([[SnapshotLog.deleteWhereMoR]] with `branch`). */
  private class DeleteBranchWhereProc(warehouse: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "delete_branch_where"
    override def description(): String =
      "merge-on-read DELETE on a branch by SQL predicate; refuses if " +
        "the branch head moved"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("branch", StringType).build(),
      ProcedureParameter.in("predicate", StringType)
        .comment("SQL boolean expression over the table's columns").build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val root = rootFor(warehouse, input.getUTF8String(0).toString)
      val branch = input.getUTF8String(1).toString
      val v = SnapshotLog.deleteWhereMoR(spark, root,
        org.apache.spark.sql.functions.expr(
          input.getUTF8String(2).toString),
        SnapshotLog.nextCommitTs(spark, root), branch = Some(branch))
      Iterator(resultScan(
        StructType(Seq(
          StructField("branch", StringType, nullable = false),
          StructField("deleted_version", IntegerType, nullable = false))),
        Seq(branch, v))).asJava
    }
  }

  /** CALL snap.system.update_branch_where('ns.t', 'audit', 'k % 10 = 1',
    * 'bal = bal + 1000') — the audit-fix half of WAP DML from SQL
    * ([[SnapshotLog.updateWhereMoR]] with `branch`). `set_exprs` is a
    * ';'-separated list of `col = sql-expr` assignments (exprs may
    * contain commas). */
  private class UpdateBranchWhereProc(warehouse: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "update_branch_where"
    override def description(): String =
      "merge-on-read UPDATE on a branch by SQL predicate and " +
        "assignment list; refuses if the branch head moved"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("branch", StringType).build(),
      ProcedureParameter.in("predicate", StringType).build(),
      ProcedureParameter.in("set_exprs", StringType)
        .comment("';'-separated `col = expr` assignments").build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val root = rootFor(warehouse, input.getUTF8String(0).toString)
      val branch = input.getUTF8String(1).toString
      val sets = input.getUTF8String(3).toString.split(';').toSeq
        .map(_.trim).filter(_.nonEmpty).map { a =>
          val i = a.indexOf('=')
          require(i > 0, s"update_branch_where: malformed assignment '$a'")
          a.take(i).trim ->
            org.apache.spark.sql.functions.expr(a.drop(i + 1).trim)
        }.toMap
      val v = SnapshotLog.updateWhereMoR(spark, root,
        org.apache.spark.sql.functions.expr(
          input.getUTF8String(2).toString),
        sets, SnapshotLog.nextCommitTs(spark, root), branch = Some(branch))
      Iterator(resultScan(
        StructType(Seq(
          StructField("branch", StringType, nullable = false),
          StructField("updated_version", IntegerType, nullable = false))),
        Seq(branch, v))).asJava
    }
  }

  /** CALL snap.system.rewrite_position_delete_files('ns.t') — fold a
    * trickle of small positional delete files into one, data untouched. */
  private class RewriteDeleteFilesProc(warehouse: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "rewrite_position_delete_files"
    override def description(): String =
      "merge the snapshot's positional delete files into one sorted file"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val root = rootFor(warehouse, input.getUTF8String(0).toString)
      val before = SnapshotLog.pick(spark, root, None, None)
      val v = SnapshotLog.rewriteDeleteFiles(spark, root,
        SnapshotLog.nextCommitTs(spark, root))
      Iterator(resultScan(
        StructType(Seq(
          StructField("version", IntegerType, nullable = false),
          StructField("rewrote", BooleanType, nullable = false))),
        Seq(v, v != before.version))).asJava
    }
  }
}
