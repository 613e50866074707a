package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.spark
import graft.sources.{SnapshotLog, SnapshotPartition}

/** Regressions for the r13→r14 advisory findings: exactness of the
  * metadata-answered aggregate path, dropped-column containment in
  * `SnapshotLog.read` (the programmatic read, once a separate bulk path
  * and now the DSv2 scan), mainline isolation of the CDC upsert, and writer/pruner
  * agreement of the day transform in far-range long arithmetic.
  */
class SnapshotAdviceR14Spec extends AnyFunSuite {
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val root = s"/tmp/graft_advice_r14/$tag"
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(root), true)
    root
  }

  private def aggScanOf(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
        if r.scan.isInstanceOf[graft.sources.SnapshotAggScan] => r.scan
    }

  test("metadata group-by REFUSES non-representable identity keys (date) " +
       "instead of collapsing all groups into one NULL key") {
    val root = freshRoot("gb_date")
    val df = spark.range(0, 90).selectExpr(
      "date_add(DATE'2024-01-01', CAST(id % 3 AS INT)) AS d", "id AS v")
    SnapshotLog.commitPartitioned(df, root, Seq("d" -> "identity"),
      overwrite = true, commitTsMs = 100L)
    val t = spark.read.format("snapshotlog").load(root)
    val gq = t.groupBy(col("d")).agg(count(lit(1)).as("n"))
    // a date identity value is not Long-parseable from the manifest tuple:
    // the pushdown must refuse (fall back to a real scan), never answer
    assert(aggScanOf(gq).isEmpty,
      "date identity group-by must not be metadata-answered:\n" +
        gq.queryExecution.optimizedPlan.toString)
    val got = gq.collect().map(r => (r.getDate(0).toString, r.getLong(1))).sortBy(_._1)
    assert(got === Array(("2024-01-01", 30L), ("2024-01-02", 30L), ("2024-01-03", 30L)))
  }

  test("metadata group-by still answers long/string identity keys, with a " +
       "genuine NULL partition as its own group") {
    val root = freshRoot("gb_null")
    val df = spark.range(0, 100).selectExpr(
      "CASE WHEN id % 5 = 4 THEN CAST(NULL AS LONG) ELSE id % 5 END AS g",
      "id AS v")
    SnapshotLog.commitPartitioned(df, root, Seq("g" -> "identity"),
      overwrite = true, commitTsMs = 100L)
    val t = spark.read.format("snapshotlog").load(root)
    val gq = t.groupBy(col("g")).agg(count(lit(1)).as("n"))
    assert(aggScanOf(gq).nonEmpty, "expected metadata group-by:\n" +
      gq.queryExecution.optimizedPlan.toString)
    val got = gq.collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    assert(got === Array((-1L, 20L), (0L, 20L), (1L, 20L), (2L, 20L), (3L, 20L)))
  }

  test("exact string MIN/MAX pushdown orders by UTF-8 bytes like Spark, " +
       "not UTF-16 code units") {
    val root = freshRoot("utf8_bounds")
    // U+1F600 (surrogate pair, UTF-8 F0 9F 98 80) vs U+FFFF (EF BF BF):
    // UTF-16 code-unit order says U+FFFF is larger; UTF-8 byte order
    // (Spark's string order) says the emoji is. The pushed answer must
    // match what the real scan would return.
    val df = Seq("apple", "￿", "😀").toDF("s")
    SnapshotLog.commit(df, root, overwrite = true, 100L)
    val t = spark.read.format("snapshotlog").load(root)
    val q = t.agg(max(col("s")).as("mx"), min(col("s")).as("mn"))
    assert(aggScanOf(q).nonEmpty, "expected the metadata-agg scan:\n" +
      q.queryExecution.optimizedPlan.toString)
    val r = q.head()
    val expected = df.agg(max(col("s")), min(col("s"))).head()
    assert(r.getString(0) === expected.getString(0))
    assert(r.getString(0) === "😀")
    assert(r.getString(1) === expected.getString(1))
  }

  test("string MIN/MAX pushdown refuses truncation-suspect (>=64 byte) bounds") {
    val root = freshRoot("trunc_bounds")
    val long1 = "z" * 100
    SnapshotLog.commit(Seq("a", long1).toDF("s"), root, overwrite = true, 100L)
    val t = spark.read.format("snapshotlog").load(root)
    val q = t.agg(max(col("s")).as("mx"))
    assert(aggScanOf(q).isEmpty,
      "a >=64-byte footer bound must not be answered as exact")
    assert(q.head().getString(0) === long1)
  }

  test("dropColumn: the dropped physical column does NOT resurface through " +
       "the bulk read path") {
    val root = freshRoot("drop_leak")
    SnapshotLog.commit(
      spark.range(0, 10).selectExpr("id AS k", "concat('pii-', id) AS secret"),
      root, overwrite = true, 100L)
    SnapshotLog.dropColumn(spark, root, "secret", 200L)
    val bulk = SnapshotLog.read(spark, root)
    assert(bulk.columns.toSeq === Seq("k"),
      s"bulk read leaked dropped columns: ${bulk.columns.mkString(",")}")
    assert(bulk.count() === 10)
    // time travel still reads the pre-drop schema
    assert(SnapshotLog.read(spark, root, asOfVersion = Some(1))
      .columns.toSet === Set("k", "secret"))
  }

  test("upsertEqualityMoR builds on the MAINLINE head, not an unpublished " +
       "branch commit") {
    val root = freshRoot("upsert_branch")
    SnapshotLog.commit(
      Seq((1L, "main-a"), (2L, "main-b")).toDF("k", "s"),
      root, overwrite = true, 100L)
    SnapshotLog.createBranch(spark, root, "audit", 1)
    val bv = SnapshotLog.commit(Seq((9L, "branch-only")).toDF("k", "s"),
      root, overwrite = false, 200L, branch = Some("audit"))
    // the branch commit is the latest snapshot overall
    assert(SnapshotLog.snapshots(spark, root).last.version === bv)
    val uv = SnapshotLog.upsertEqualityMoR(spark, root,
      Seq((2L, "upserted"), (3L, "new")).toDF("k", "s"), Seq("k"), 300L)
    assert(uv === bv + 1, "upsert must allocate past the branch head version")
    val got = spark.read.format("snapshotlog").load(root)
      .as[(Long, String)].collect().sortBy(_._1)
    assert(got === Array((1L, "main-a"), (2L, "upserted"), (3L, "new")),
      "upsert must neither publish branch data nor build on the branch head")
    // the branch itself is untouched by the mainline upsert
    val branchRows = SnapshotLog.read(spark, root, asOfVersion = Some(bv))
      .as[(Long, String)].collect().sortBy(_._1)
    assert(branchRows.contains((9L, "branch-only")))
  }

  test("mainline MoR DML after an unpublished branch commit allocates past " +
       "the branch version instead of colliding") {
    val root = freshRoot("dml_branch_seq")
    SnapshotLog.commit(
      spark.range(0, 20).selectExpr("id AS k", "id AS v"),
      root, overwrite = true, 100L)
    SnapshotLog.createBranch(spark, root, "wip", 1)
    val bv = SnapshotLog.commit(spark.range(100, 105).selectExpr("id AS k", "id AS v"),
      root, overwrite = false, 200L, branch = Some("wip"))
    val dv = SnapshotLog.deleteWhereMoR(spark, root, col("k") < 5, 300L)
    assert(dv === bv + 1)
    assert(spark.read.format("snapshotlog").load(root).count() === 15)
  }

  test("SQL row-level DML after an unpublished branch commit allocates " +
       "past the branch version (delta and group-based paths)") {
    val wh = "/tmp/graft_snap_warehouse"
    val fs = new Path(s"$wh/advsql").getFileSystem(
      spark.sessionState.newHadoopConf())
    fs.delete(new Path(s"$wh/advsql"), true)
    spark.sql("DROP TABLE IF EXISTS snap.advsql.t")
    spark.sql("CREATE TABLE snap.advsql.t AS SELECT id AS k, id AS v FROM range(0, 50)")
    val root = s"$wh/advsql/t"
    val mainHead = SnapshotLog.snapshots(spark, root).last.version
    SnapshotLog.createBranch(spark, root, "wip", mainHead)
    val bv = SnapshotLog.commit(spark.range(100, 105).selectExpr("id AS k", "id AS v"),
      root, overwrite = false, SnapshotLog.nextCommitTs(spark, root),
      branch = Some("wip"))
    spark.sql("UPDATE snap.advsql.t SET v = -1 WHERE k = 7") // group CoW
    val afterCow = SnapshotLog.snapshots(spark, root)
      .filter(_.branch.isEmpty).last
    assert(afterCow.version === bv + 1,
      s"CoW DML must allocate past branch v$bv, got v${afterCow.version}")
    SnapshotLog.setTableProps(spark, root,
      Map("write.update.mode" -> "merge-on-read"))
    spark.sql("UPDATE snap.advsql.t SET v = -2 WHERE k = 8") // delta path
    val afterDelta = SnapshotLog.snapshots(spark, root)
      .filter(_.branch.isEmpty).last
    assert(afterDelta.version === bv + 2)
    val t = spark.table("snap.advsql.t")
    assert(t.count() === 50, "SQL DML must not publish branch rows")
    assert(t.filter(col("v") === -1).count() === 1)
    assert(t.filter(col("v") === -2).count() === 1)
  }

  test("day transform: writer value equals floorDiv pruning value in exact " +
       "long arithmetic far beyond 2^53 microseconds") {
    val df = spark.sql(
      """SELECT ts, unix_micros(ts) AS us FROM VALUES
        |  (TIMESTAMP'1969-12-31 23:59:59.999999'),
        |  (TIMESTAMP'1960-02-29 00:00:00'),
        |  (TIMESTAMP'2024-06-15 12:34:56.789'),
        |  (TIMESTAMP'3000-06-15 23:59:59.999999'),
        |  (TIMESTAMP'9999-12-31 23:59:59.999999') AS t(ts)""".stripMargin)
    val got = df.select(
      SnapshotPartition.transformCol("ts", "day",
        org.apache.spark.sql.types.TimestampType).as("d"),
      col("us")).collect()
    got.foreach { r =>
      val want = Math.floorDiv(r.getLong(1), 86400000000L)
      assert(r.getLong(0) === want,
        s"writer day ${r.getLong(0)} != floorDiv ${want} for us=${r.getLong(1)}")
    }
  }
}
