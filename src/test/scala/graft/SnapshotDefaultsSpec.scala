package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.spark
import graft.sources.SnapshotLog

/** COLUMN DEFAULTS on schema evolution (Iceberg v3 initial-default /
  * SQL column DEFAULT): ADD COLUMN … DEFAULT d makes every
  * pre-evolution row read as d (not null), while post-evolution rows
  * keep their written values — including explicit nulls. The default
  * rides Spark's own EXISTS_DEFAULT/CURRENT_DEFAULT field metadata, so
  * INSERTs omitting the column take it at analysis time for free. */
class SnapshotDefaultsSpec extends AnyFunSuite {
  import spark.implicits._

  private def fresh(name: String): String = {
    val root = s"/tmp/graft_defaults/$name"
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(root), true)
    root
  }

  test("pre-evolution rows read the default; new rows keep their values " +
       "(DSv2 scan)") {
    val root = fresh("basic")
    SnapshotLog.commit(spark.range(0, 100).selectExpr("id AS k"),
      root, overwrite = true, 1000L)
    SnapshotLog.addColumn(spark, root, "flag", IntegerType, Some("7"), 2000L)
    SnapshotLog.commit(
      spark.range(100, 120).selectExpr("id AS k",
        "CASE WHEN id % 2 = 0 THEN CAST(NULL AS INT) ELSE 9 END AS flag"),
      root, overwrite = false, 3000L)
    val t = spark.read.format("snapshotlog").load(root)
    assert(t.filter(col("k") < 100).select("flag").distinct()
      .as[Option[Int]].collect().toSet === Set(Some(7)),
      "every pre-evolution row must read the default")
    assert(t.filter(col("k") >= 100 && col("k") % 2 === 1)
      .select("flag").distinct().as[Option[Int]].collect().toSet ===
      Set(Some(9)))
    assert(t.filter(col("k") >= 100 && col("k") % 2 === 0)
      .select("flag").distinct().as[Option[Int]].collect().toSet ===
      Set(None), "an explicitly-written NULL must stay NULL")
    // aggregate sanity: 100 defaults + 10 nines
    assert(t.agg(sum(col("flag"))).as[Long].head() === 700L + 90L)
  }

  test("bulk read() fills defaults identically to the DSv2 scan") {
    val root = fresh("bulk")
    SnapshotLog.commit(spark.range(0, 50).selectExpr("id AS k"),
      root, overwrite = true, 1000L)
    SnapshotLog.addColumn(spark, root, "tag", StringType,
      Some("'unknown'"), 2000L)
    SnapshotLog.commit(
      spark.range(50, 60).selectExpr("id AS k", "'real' AS tag"),
      root, overwrite = false, 3000L)
    // read() is the DSv2 scan on the vectorized reader; with `_file`
    // projected it takes the row reader, which must serve the same rows
    val bulk = SnapshotLog.read(spark, root)
    assert(bulk.filter(col("k") < 50).select("tag").distinct()
      .as[String].collect().toSeq === Seq("unknown"))
    assert(bulk.filter(col("k") >= 50).select("tag").distinct()
      .as[String].collect().toSeq === Seq("real"))
    assert(bulk.select("k", "tag").as[(Long, String)].collect().sorted ===
      bulk.select("k", "tag", "_file").as[(Long, String, String)].collect()
        .map(t => (t._1, t._2)).sorted)
  }

  test("SQL DDL end-to-end: ALTER ADD COLUMN DEFAULT + INSERT omitting " +
       "the column") {
    val ns = "defaults_sql"
    val fs = new Path("/tmp/graft_snap_warehouse")
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(s"/tmp/graft_snap_warehouse/$ns"), true)
    spark.sql(s"DROP TABLE IF EXISTS snap.$ns.t")
    spark.sql(s"CREATE TABLE snap.$ns.t AS SELECT id AS k FROM range(0, 30)")
    spark.sql(s"ALTER TABLE snap.$ns.t ADD COLUMN sev INT DEFAULT 3")
    // INSERT that omits sev takes the CURRENT default at analysis time
    spark.sql(s"INSERT INTO snap.$ns.t (k) VALUES (100)")
    spark.sql(s"INSERT INTO snap.$ns.t VALUES (200, 5)")
    val rows = spark.table(s"snap.$ns.t")
      .groupBy(col("sev")).count().as[(Option[Int], Long)].collect().toMap
    assert(rows === Map(Some(3) -> 31L, Some(5) -> 1L),
      "30 pre-evolution rows + 1 defaulted INSERT at 3; explicit 5 once")
  }

  test("no default keeps null-fill; bad defaults are commit-time errors") {
    val root = fresh("nulls")
    SnapshotLog.commit(spark.range(0, 10).selectExpr("id AS k"),
      root, overwrite = true, 1000L)
    SnapshotLog.addColumn(spark, root, "plain", LongType, None, 2000L)
    val t = spark.read.format("snapshotlog").load(root)
    assert(t.select("plain").distinct().as[Option[Long]].collect().toSet ===
      Set(None))
    intercept[Exception] {
      SnapshotLog.addColumn(spark, root, "bad", IntegerType,
        Some("'not-a-number'"), 3000L)
    }
    intercept[Exception] { // non-foldable default
      SnapshotLog.addColumn(spark, root, "bad2", LongType,
        Some("k + 1"), 4000L)
    }
  }

  test("defaults compose with MoR deletes and time travel") {
    val root = fresh("mor")
    SnapshotLog.commit(spark.range(0, 40).selectExpr("id AS k"),
      root, overwrite = true, 1000L)
    SnapshotLog.addColumn(spark, root, "flag", LongType, Some("5"), 2000L)
    SnapshotLog.deleteWhereMoR(spark, root, col("k") >= 30L, 3000L)
    val t = spark.read.format("snapshotlog").load(root)
    assert(t.count() === 30)
    assert(t.agg(sum(col("flag"))).as[Long].head() === 150L,
      "surviving pre-evolution rows all read the default")
    // pre-evolution version has no column at all
    val v1 = spark.read.format("snapshotlog").option("asOfVersion", 1)
      .load(root)
    assert(!v1.columns.contains("flag"))
  }

  test("compaction MATERIALIZES the default, never null: rewritten files " +
       "keep serving it") {
    val root = fresh("compact")
    SnapshotLog.commit(spark.range(0, 40).selectExpr("id AS k"),
      root, overwrite = true, 1000L)
    SnapshotLog.addColumn(spark, root, "flag", LongType, Some("5"), 2000L)
    SnapshotLog.commit(spark.range(40, 50)
      .selectExpr("id AS k", "id AS flag"), root, overwrite = false, 3000L)
    SnapshotLog.rewriteDataFiles(spark, root, 4000L, targetBytes = 1L << 30)
    val t = spark.read.format("snapshotlog").load(root)
    assert(t.filter(col("k") < 40).select("flag").distinct()
      .as[Long].collect().toSeq === Seq(5L),
      "pre-evolution rows must still read the default AFTER compaction " +
        "(the rewritten file physically holds it now)")
    assert(t.filter(col("k") >= 40).agg(sum(col("flag"))).as[Long].head() ===
      (40L until 50L).sum)
    // same hazard on the copy-on-write DELETE rewrite path
    val ns = "defaults_cow"
    val root2 = s"/tmp/graft_snap_warehouse/$ns/t"
    new Path(root2).getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new Path(s"/tmp/graft_snap_warehouse/$ns"), true)
    spark.sql(s"DROP TABLE IF EXISTS snap.$ns.t")
    spark.sql(s"CREATE TABLE snap.$ns.t AS SELECT id AS k FROM range(0, 30)")
    SnapshotLog.addColumn(spark, root2, "flag", LongType, Some("7"),
      SnapshotLog.nextCommitTs(spark, root2))
    spark.sql(s"DELETE FROM snap.$ns.t WHERE k >= 20")
    val t2 = spark.table(s"snap.$ns.t")
    assert(t2.count() === 20)
    assert(t2.select("flag").distinct().as[Long].collect().toSeq === Seq(7L),
      "CoW delete must rewrite surviving rows WITH the default")
  }

  test("defaults prune: a probe on a non-default value skips files that " +
       "provably hold only the default") {
    val root = fresh("prune")
    for (i <- 0 until 3) // 3 pre-evolution files
      SnapshotLog.commit(
        spark.range(i * 100L, i * 100L + 100L).selectExpr("id AS k"),
        root, overwrite = i == 0, 1000L * (i + 1), 1)
    SnapshotLog.addColumn(spark, root, "flag", LongType, Some("5"), 9000L)
    SnapshotLog.commit(spark.range(300, 400)
      .selectExpr("id AS k", "id AS flag"), root, overwrite = false, 10000L, 1)
    val t = spark.read.format("snapshotlog").load(root)
    def planned(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan.asInstanceOf[graft.sources.SnapshotLogScan].keptFiles.size
      }.head
    // non-default probe: the 3 pre-evolution files provably hold only 5
    val q9 = t.filter(col("flag") === 350L)
    assert(planned(q9) === 1, s"expected 1/4 files, got ${planned(q9)}")
    assert(q9.select("k").as[Long].collect().toSeq === Seq(350L))
    // the default itself: pre-evolution files must all be KEPT
    val q5 = t.filter(col("flag") === 5L)
    assert(planned(q5) >= 3)
    assert(q5.count() === 300L)
    // range probe excluding the default prunes them too
    val qr = t.filter(col("flag") > 300L && col("flag") <= 360L)
    assert(planned(qr) === 1)
    assert(qr.count() === 60L)
  }

  test("changelog rows from pre-default versions carry the default") {
    val root = fresh("cdc")
    SnapshotLog.commit(spark.range(0, 20).selectExpr("id AS k"),
      root, overwrite = true, 1000L)
    SnapshotLog.addColumn(spark, root, "flag", IntegerType, Some("2"), 2000L)
    SnapshotLog.deleteWhereMoR(spark, root, col("k") >= 15L, 3000L)
    val ch = SnapshotLog.changes(spark, root, fromVersion = 0)
    val v1Inserts = ch.filter(col("_commit_version") === 1)
    assert(v1Inserts.count() === 20)
    assert(v1Inserts.select("flag").distinct()
      .as[Option[Int]].collect().toSet === Set(Some(2)),
      "v1 insert images conform to the end schema WITH the default")
    val v3Deletes = ch.filter(col("_change_type") === "delete")
    assert(v3Deletes.count() === 5)
    assert(v3Deletes.select("flag").distinct()
      .as[Option[Int]].collect().toSet === Set(Some(2)))
  }
}
