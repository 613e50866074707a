package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.spark
import graft.sources.SnapshotLog

/** SQL-surface lifecycle of the `snap` TableCatalog (SnapshotLogCatalog):
  * CTAS, INSERT INTO/OVERWRITE, Spark-native VERSION/TIMESTAMP AS OF time
  * travel, SHOW TABLES, RENAME, DROP — all served from the manifest log,
  * with reads going through the pinned DSv2 scan. */
class SnapshotLogCatalogSpec extends AnyFunSuite {
  import spark.implicits._

  private val wh = "/tmp/graft_snap_warehouse"

  private def dropNs(ns: String): Unit = {
    val p = new Path(s"$wh/$ns")
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true): Unit
  }

  test("CTAS + INSERT INTO + time travel, all in SQL") {
    dropNs("spec1")
    spark.sql(
      "CREATE TABLE snap.spec1.t AS SELECT id AS k, id * 2.0 AS v FROM range(5)")
    // CTAS = v1 create (empty, schema only) + v2 append (the query result)
    val root = s"$wh/spec1/t"
    assert(SnapshotLog.history(spark, root).select("operation")
      .as[String].collect().toSeq === Seq("create", "append"))
    assert(spark.sql("SELECT count(*) FROM snap.spec1.t").as[Long].head() === 5)

    spark.sql("INSERT INTO snap.spec1.t SELECT id AS k, 0.0 AS v FROM range(100, 103)")
    assert(spark.table("snap.spec1.t").count() === 8)

    // Spark-native time travel syntax, served by loadTable(ident, version)
    assert(spark.sql("SELECT count(*) FROM snap.spec1.t VERSION AS OF 2")
      .as[Long].head() === 5)
    assert(spark.sql("SELECT count(*) FROM snap.spec1.t VERSION AS OF 1")
      .as[Long].head() === 0) // the created-empty snapshot
    // TIMESTAMP AS OF: exactly v2's commit instant picks v2
    val ts2 = SnapshotLog.snapshots(spark, root)(1).commitTsMs
    val lit = java.time.Instant.ofEpochMilli(ts2).toString.replace("T", " ").replace("Z", "")
    assert(spark.sql(
      s"SELECT count(*) FROM snap.spec1.t TIMESTAMP AS OF '$lit'")
      .as[Long].head() === 5)

    // INSERT OVERWRITE commits an overwrite snapshot; old versions remain
    spark.sql("INSERT OVERWRITE snap.spec1.t SELECT id AS k, 9.0 AS v FROM range(2)")
    assert(spark.table("snap.spec1.t").count() === 2)
    assert(spark.sql("SELECT count(*) FROM snap.spec1.t VERSION AS OF 3")
      .as[Long].head() === 8)
    assert(SnapshotLog.snapshots(spark, root).last.operation === "overwrite")
  }

  test("catalog reads keep DSv2 stats pruning for pushed predicates") {
    dropNs("spec2")
    spark.sql("CREATE TABLE snap.spec2.t AS SELECT id AS k FROM range(0, 100)")
    spark.sql("INSERT INTO snap.spec2.t SELECT id FROM range(100, 200)")
    spark.sql("INSERT INTO snap.spec2.t SELECT id FROM range(200, 300)")
    val df = spark.sql("SELECT * FROM snap.spec2.t WHERE k >= 250")
    val scan = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[graft.sources.SnapshotLogScan]
    }.head
    assert(scan.keptFiles.size === 2, // the third slice's 2 files only
      s"planned ${scan.keptFiles.size} files: ${scan.description()}")
    assert(df.count() === 50)
  }

  test("SHOW TABLES, RENAME, DROP, and error shapes") {
    dropNs("spec3")
    dropNs("snap") // residue of a misparsed rename target from older runs
    spark.sql("CREATE TABLE snap.spec3.a AS SELECT 1 AS x")
    spark.sql("CREATE TABLE snap.spec3.b AS SELECT 2 AS x")
    val shown = spark.sql("SHOW TABLES IN snap.spec3")
      .select("tableName").as[String].collect().sorted.toSeq
    assert(shown === Seq("a", "b"))

    // RENAME is refused, like Iceberg's path-based HadoopCatalog: the
    // identity IS the path and manifests hold absolute file paths
    intercept[UnsupportedOperationException](
      spark.sql("ALTER TABLE snap.spec3.a RENAME TO spec3.c"))

    spark.sql("DROP TABLE snap.spec3.b")
    assert(spark.sql("SHOW TABLES IN snap.spec3").count() === 1)
    intercept[Exception](spark.table("snap.spec3.b").collect())
    // duplicate create is refused; IF NOT EXISTS is honored
    intercept[Exception](spark.sql("CREATE TABLE snap.spec3.a AS SELECT 3 AS x"))
    spark.sql("CREATE TABLE IF NOT EXISTS snap.spec3.a AS SELECT 3 AS x")
    assert(spark.table("snap.spec3.a").as[Int].head() === 1) // untouched
  }

  test("SQL DELETE is file-granular copy-on-write: untouched slices carried by reference") {
    dropNs("spec5")
    spark.sql("CREATE TABLE snap.spec5.t AS SELECT id AS k, id * 1.5 AS v FROM range(0, 100)")
    spark.sql("INSERT INTO snap.spec5.t SELECT id, id * 1.5 FROM range(100, 200)")
    spark.sql("INSERT INTO snap.spec5.t SELECT id, id * 1.5 FROM range(200, 300)")
    val root = s"$wh/spec5/t"
    val before = SnapshotLog.snapshots(spark, root).last
    assert(before.files.size === 6)

    // delete hits only the middle slice's stats range
    spark.sql("DELETE FROM snap.spec5.t WHERE k >= 120 AND k < 150")
    val after = SnapshotLog.snapshots(spark, root).last
    assert(after.operation === "delete")
    // the 4 files of slices 1 and 3 are the SAME files (by-reference carry)
    val carried = before.files.toSet.intersect(after.files.toSet)
    assert(carried.size === 4, s"expected 4 carried files, got ${carried.size}")
    assert(spark.table("snap.spec5.t").count() === 270)
    assert(spark.sql("SELECT count(*) FROM snap.spec5.t WHERE k BETWEEN 120 AND 149")
      .as[Long].head() === 0)
    // surviving middle-slice rows are intact
    assert(spark.sql("SELECT count(*) FROM snap.spec5.t WHERE k BETWEEN 100 AND 199")
      .as[Long].head() === 70)
    // pre-delete version still time-travels (copy-on-write)
    assert(spark.sql(s"SELECT count(*) FROM snap.spec5.t VERSION AS OF ${before.version}")
      .as[Long].head() === 300)

    // delete whose stats prove no match is a metadata NO-OP (no new version)
    spark.sql("DELETE FROM snap.spec5.t WHERE k > 5000")
    assert(SnapshotLog.snapshots(spark, root).last.version === after.version)

    // deleting every row of a slice drops its files entirely (no empty husks)
    spark.sql("DELETE FROM snap.spec5.t WHERE k >= 200")
    val fin = SnapshotLog.snapshots(spark, root).last
    assert(spark.table("snap.spec5.t").count() === 170)
    assert(fin.files.size === 4, s"expected 4 files, got ${fin.files.size}")
  }

  test("writes from the DataFrame API land as snapshot commits") {
    dropNs("spec4")
    spark.sql("CREATE TABLE snap.spec4.t (k BIGINT, s STRING) USING snapshotlog")
    Seq((1L, "a"), (2L, "b")).toDF("k", "s")
      .writeTo("snap.spec4.t").append()
    assert(spark.table("snap.spec4.t").count() === 2)
    val ops = SnapshotLog.history(spark, s"$wh/spec4/t")
      .select("operation").as[String].collect().toSeq
    assert(ops === Seq("create", "append"))
  }

  test("CALL snap.system procedures: rewrite_data_files + expire_snapshots") {
    dropNs("spec10")
    spark.sql("CREATE TABLE snap.spec10.t AS SELECT id AS k FROM range(100)")
    spark.sql("INSERT INTO snap.spec10.t SELECT id FROM range(100, 200)")
    spark.sql("INSERT INTO snap.spec10.t SELECT id FROM range(200, 300)")
    val root = s"$wh/spec10/t"
    assert(SnapshotLog.snapshots(spark, root).last.files.size === 6)

    val rw = spark.sql(
      "CALL snap.system.rewrite_data_files('spec10.t')").collect().head
    assert(rw.getBoolean(1), "expected a rewrite to commit")
    assert(rw.getLong(2) === 6L && rw.getLong(3) === 1L)
    assert(spark.table("snap.spec10.t").count() === 300)

    val ex = spark.sql(
      s"CALL snap.system.expire_snapshots('spec10.t', ${rw.getInt(0)})")
      .collect().head
    assert(ex.getLong(0) === 4L, s"4 manifests expected, got ${ex.getLong(0)}")
    assert(ex.getLong(1) === 6L, s"6 files expected, got ${ex.getLong(1)}")
    assert(spark.table("snap.spec10.t").count() === 300)

    // clustered rewrite via the named third argument
    dropNs("spec10b")
    spark.sql("CREATE TABLE snap.spec10b.t AS SELECT id AS k FROM range(100)")
    spark.sql("INSERT INTO snap.spec10b.t SELECT id FROM range(100, 200)")
    val rw2 = spark.sql(
      "CALL snap.system.rewrite_data_files('spec10b.t', 134217728, 'k')")
      .collect().head
    assert(rw2.getBoolean(1) && rw2.getLong(3) === 1L)
    assert(spark.table("snap.spec10b.t").count() === 200)
  }

  test("metadata tables: snap.ns.t.history / .files / .snapshots in SQL") {
    dropNs("spec9")
    spark.sql("CREATE TABLE snap.spec9.t AS SELECT id AS k FROM range(10)")
    spark.sql("INSERT INTO snap.spec9.t SELECT id FROM range(10, 20)")
    val hist = spark.sql(
      "SELECT version, operation, n_files FROM snap.spec9.t.history ORDER BY version")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(hist.toSeq === Seq((1, "create", 0L), (2, "append", 2L), (3, "append", 4L)))
    val files = spark.sql("SELECT file_path, size_bytes FROM snap.spec9.t.files")
      .collect()
    assert(files.length === 4 && files.forall(_.getLong(1) > 0))
    // snapshots carries commit props (the streaming batch-id channel)
    assert(spark.sql("SELECT props_json FROM snap.spec9.t.snapshots LIMIT 1")
      .collect().head.getString(0) === "{}")
    // a partitioned table's files expose the partition tuple
    dropNs("spec9p")
    spark.sql(
      """CREATE TABLE snap.spec9p.t (k BIGINT) USING snapshotlog
        |PARTITIONED BY (bucket(2, k))""".stripMargin)
    spark.sql("INSERT INTO snap.spec9p.t SELECT id FROM range(10)")
    val parts = spark.sql("SELECT partition FROM snap.spec9p.t.files")
      .collect().map(_.getString(0)).sorted
    assert(parts.forall(_.startsWith("k=")))
  }

  test("catalog reads run Spark's vectorized parquet reader when files allow") {
    dropNs("spec8")
    spark.sql("CREATE TABLE snap.spec8.t AS SELECT id AS k, id * 2.0 AS v FROM range(1000)")
    val df = spark.sql("SELECT k, v FROM snap.spec8.t WHERE k < 100")
    val scanExec = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head
    assert(scanExec.supportsColumnar,
      "DSv2 snapshot scan should take the vectorized (ColumnarBatch) path")
    assert(df.count() === 100)
    // schema evolution stays vectorized: the reader serves the column
    // pre-evolution files lack as null
    spark.sql("ALTER TABLE snap.spec8.t ADD COLUMN tag STRING")
    val evolved = spark.sql("SELECT k, tag FROM snap.spec8.t WHERE k < 10")
    val scan2 = evolved.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head
    assert(scan2.supportsColumnar)
    assert(evolved.count() === 10)
    assert(evolved.where("tag IS NULL").count() === 10)
    // the _file projection takes the row reader
    val withFile = spark.sql("SELECT k, _file FROM snap.spec8.t WHERE k < 10")
    assert(withFile.count() === 10)
  }

  test("ALTER TABLE ADD COLUMN: metadata-only evolution, old files read null") {
    dropNs("spec6")
    spark.sql("CREATE TABLE snap.spec6.t AS SELECT id AS k FROM range(3)")
    spark.sql("ALTER TABLE snap.spec6.t ADD COLUMN score DOUBLE")
    val root = s"$wh/spec6/t"
    val alterSnap = SnapshotLog.snapshots(spark, root).last
    assert(alterSnap.operation === "alter")
    // metadata only: the alter carried the parent's exact file set
    assert(alterSnap.files ===
      SnapshotLog.snapshots(spark, root)(1).files)
    spark.sql("INSERT INTO snap.spec6.t SELECT id, id * 0.5 FROM range(10, 12)")
    val t = spark.table("snap.spec6.t")
    assert(t.count() === 5)
    assert(t.filter($"score".isNull).count() === 3) // pre-evolution rows
    assert(t.filter($"score" === 5.5).count() === 1)
    // time travel BEFORE the alter sees the old schema
    assert(spark.sql("SELECT * FROM snap.spec6.t VERSION AS OF 2")
      .columns.toSeq === Seq("k"))
    // incremental read across the alter: schema change adds no rows
    assert(SnapshotLog.readIncremental(spark, root, fromVersion = 2,
      toVersion = Some(3)).count() === 0)
    // rename/drop are now metadata-only via field ids (SnapshotLogSpec
    // covers the semantics; here just the SQL surface)
    spark.sql("ALTER TABLE snap.spec6.t DROP COLUMN score")
    assert(spark.table("snap.spec6.t").columns.toSeq === Seq("k"))
  }

  test("CREATE TABLE PARTITIONED BY maps transforms onto the hidden-partition spec") {
    dropNs("spec7")
    spark.sql(
      """CREATE TABLE snap.spec7.t (k BIGINT, v DOUBLE)
        |USING snapshotlog PARTITIONED BY (bucket(4, k))""".stripMargin)
    val root = s"$wh/spec7/t"
    assert(SnapshotLog.snapshots(spark, root).last.spec === Seq("k" -> "bucket[4]"))
    spark.sql("INSERT INTO snap.spec7.t SELECT id, id * 1.0 FROM range(0, 100)")
    val snap = SnapshotLog.snapshots(spark, root).last
    assert(snap.spec === Seq("k" -> "bucket[4]"))
    assert(snap.parts.size === snap.files.size, "every file carries its tuple")
    // SQL equality probe prunes to one bucket through the catalog read
    val probe = spark.sql("SELECT v FROM snap.spec7.t WHERE k = 42")
    val planned = probe.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[graft.sources.SnapshotLogScan].keptFiles.size
    }.head
    assert(planned === 1, s"expected 1 bucket planned, got $planned")
    assert(probe.as[Double].head() === 42.0)
    // the spec survives appends; a second insert adds its own bucket files
    spark.sql("INSERT INTO snap.spec7.t SELECT id, id * 1.0 FROM range(100, 200)")
    assert(spark.sql("SELECT count(*) FROM snap.spec7.t WHERE k = 42")
      .as[Long].head() === 1)
  }

  test(".manifests inventory: inline-only table reports one live block; " +
       "totals always reconcile with the live file count") {
    spark.sql("DROP TABLE IF EXISTS snap.spec8.t")
    spark.sql("CREATE TABLE snap.spec8.t AS SELECT id AS k FROM range(0, 50)")
    spark.sql("INSERT INTO snap.spec8.t SELECT id FROM range(50, 80)")
    val inv = spark.sql(
      "SELECT kind, n_entries, n_live, n_tombstoned, size_bytes " +
        "FROM snap.spec8.t.manifests").collect()
    assert(inv.length === 1, "unsharded table = one inline block row")
    val r = inv.head
    assert(r.getString(0) === "inline")
    assert(r.getLong(2) === r.getLong(1) && r.getLong(3) === 0L)
    assert(r.getLong(4) > 0L)
    val root = s"$wh/spec8/t"
    val liveFiles = SnapshotLog.snapshots(spark, root).last.files.size.toLong
    assert(r.getLong(2) === liveFiles,
      ".manifests live total must equal the snapshot's live file count")
    // time travel applies to the metadata relation too
    val v2 = spark.sql(
      "SELECT sum(n_live) FROM snap.spec8.t.manifests VERSION AS OF 2")
      .as[Long].head()
    assert(v2 < liveFiles)
  }

  test("FunctionCatalog: bucket resolves under existing namespaces, " +
    "nonexistent namespaces throw NoSuchNamespace/NoSuchFunction") {
    val cat = spark.sessionState.catalogManager.catalog("snap")
      .asInstanceOf[graft.sources.SnapshotLogCatalog]
    import org.apache.spark.sql.connector.catalog.Identifier
    // bare-name probe (how the SPJ resolver asks) and empty-ns listing
    assert(cat.loadFunction(Identifier.of(Array.empty[String], "bucket"))
      .name() == "bucket")
    assert(cat.listFunctions(Array.empty[String]).map(_.name()).toSeq ==
      Seq("bucket", "days", "truncate"))
    intercept[org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException] {
      cat.listFunctions(Array("no_such_namespace_xyz"))
    }
    intercept[org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException] {
      cat.loadFunction(Identifier.of(Array("no_such_namespace_xyz"), "bucket"))
    }
    intercept[org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException] {
      cat.loadFunction(Identifier.of(Array.empty[String], "no_such_fn"))
    }
  }

  test("V2 functions: null width/numBuckets -> null; nonpositive widths " +
    "fail loudly, never divide by zero") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types._
    val trunc = graft.sources.SnapshotFunctions.TruncateUnbound
      .bind(StructType(Seq(StructField("w", IntegerType),
        StructField("v", LongType))))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Any]]
    assert(trunc.produceResult(
      new GenericInternalRow(Array[Any](null, 7L))) == null)
    assert(trunc.produceResult(
      new GenericInternalRow(Array[Any](100, null))) == null)
    assert(trunc.produceResult(
      new GenericInternalRow(Array[Any](100, 734L))) == 700L)
    intercept[IllegalArgumentException](trunc.produceResult(
      new GenericInternalRow(Array[Any](0, 7L))))
    val bucket = graft.sources.SnapshotFunctions.BucketUnbound
      .bind(StructType(Seq(StructField("n", IntegerType),
        StructField("v", LongType))))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]]
    assert(bucket.produceResult(
      new GenericInternalRow(Array[Any](null, 7L))) == null)
    intercept[IllegalArgumentException](bucket.produceResult(
      new GenericInternalRow(Array[Any](0, 7L))))
    val b = bucket.produceResult(new GenericInternalRow(Array[Any](8, 7L)))
    assert(b >= 0 && b < 8)
  }
}
