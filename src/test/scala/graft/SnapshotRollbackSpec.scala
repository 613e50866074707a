package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.spark
import graft.sources.SnapshotLog

/** Incident-recovery surface: rollbackTo / setCurrentSnapshot (Iceberg's
  * rollback_to_snapshot / set_current_snapshot) — one new LINEAR commit
  * re-adopting a retained snapshot's content, history and time travel
  * preserved, misuse refused loudly. */
class SnapshotRollbackSpec extends AnyFunSuite {
  import spark.implicits._

  private def fresh(name: String): String = {
    val root = s"/tmp/graft_rollback/$name"
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(root), true)
    root
  }

  private def rows(n: Long, tag: String): DataFrame =
    spark.range(0, n).selectExpr("id AS k", s"'$tag' AS src")

  private def read(root: String, v: Option[Int] = None): DataFrame = {
    var r = spark.read.format("snapshotlog")
    v.foreach(x => r = r.option("asOfVersion", x))
    r.load(root)
  }

  test("rollback restores the prior state; history stays linear and " +
       "time-travelable; changelog nets to empty across the undo") {
    val root = fresh("basic")
    SnapshotLog.commit(rows(100, "good"), root, overwrite = true, 1000L)
    SnapshotLog.commit(rows(50, "good2"), root, overwrite = false, 2000L)
    SnapshotLog.commit(rows(30, "BAD"), root, overwrite = false, 3000L)
    val head = SnapshotLog.rollbackTo(spark, root, 2,
      SnapshotLog.nextCommitTs(spark, root))
    assert(head === 4, "rollback is a NEW commit, not a history rewrite")
    assert(read(root).count() === 150)
    assert(read(root).filter(col("src") === "BAD").count() === 0)
    // nothing deleted: the bad version still reads
    assert(read(root, Some(3)).count() === 180)
    // linear history: the new head's parent is the PRE-rollback head
    val snaps = SnapshotLog.snapshots(spark, root)
    assert(snaps.last.operation === "rollback")
    assert(snaps.last.parentVersion === 3)
    // the undo IS the changelog: from v2, net changes cancel to empty
    assert(SnapshotLog.changes(spark, root, 2, netChanges = true).isEmpty)
    // and the per-version changelog shows insert(v3) + delete(v4) pairs
    val byType = SnapshotLog.changes(spark, root, 2)
      .groupBy(col("_commit_version"), col("_change_type")).count()
      .as[(Int, String, Long)].collect().toSet
    assert(byType === Set((3, "insert", 30L), (4, "delete", 30L)))
  }

  test("rollback refuses: unknown version, branch target, non-mainline; " +
       "no-op at the current head") {
    val root = fresh("refuse")
    SnapshotLog.commit(rows(10, "a"), root, overwrite = true, 1000L)
    SnapshotLog.commit(rows(5, "b"), root, overwrite = false, 2000L)
    intercept[NoSuchElementException] {
      SnapshotLog.rollbackTo(spark, root, 99, 3000L)
    }
    // a branch snapshot is not a mainline ancestor — refuse with guidance
    SnapshotLog.createBranch(spark, root, "audit", 2)
    SnapshotLog.commit(rows(3, "br"), root,
      overwrite = false, 3000L, branch = Some("audit"))
    val e = intercept[IllegalArgumentException] {
      SnapshotLog.rollbackTo(spark, root, 3, 4000L)
    }
    assert(e.getMessage.contains("setCurrentSnapshot"))
    // rolling back to the head itself is a no-op, not a new commit
    assert(SnapshotLog.rollbackTo(spark, root, 2, 5000L) === 2)
    assert(SnapshotLog.snapshots(spark, root).last.version === 3) // branch tip
  }

  test("setCurrentSnapshot adopts ANY retained snapshot — including a " +
       "branch head — and can roll forward again") {
    val root = fresh("setcur")
    SnapshotLog.commit(rows(20, "main1"), root, overwrite = true, 1000L)
    SnapshotLog.createBranch(spark, root, "wip", 1)
    SnapshotLog.commit(rows(7, "branch"), root,
      overwrite = false, 2000L, branch = Some("wip"))
    // adopt the branch snapshot's content on MAIN without fast_forward
    val v = SnapshotLog.setCurrentSnapshot(spark, root, 2,
      SnapshotLog.nextCommitTs(spark, root))
    assert(v === 3)
    assert(read(root).filter(col("src") === "branch").count() === 7)
    assert(read(root).count() === 27)
    // roll FORWARD again: set back to v1 (pre-adoption)
    val v2 = SnapshotLog.setCurrentSnapshot(spark, root, 1,
      SnapshotLog.nextCommitTs(spark, root))
    assert(v2 === 4)
    assert(read(root).count() === 20)
  }

  test("rollback re-adopts MoR delete state exactly; expire after " +
       "rollback keeps every file the restored head references") {
    val root = fresh("mor")
    SnapshotLog.commit(rows(100, "x"), root, overwrite = true, 1000L)
    SnapshotLog.deleteWhereMoR(spark, root, col("k") >= 80, 2000L) // v2: 80 rows
    SnapshotLog.commit(rows(10, "BAD").withColumn("k", col("k") + 1000),
      root, overwrite = false, 3000L)                              // v3: 90
    SnapshotLog.rollbackTo(spark, root, 2,
      SnapshotLog.nextCommitTs(spark, root))                       // v4: 80
    assert(read(root).count() === 80)
    assert(read(root).filter(col("k") >= 80).count() === 0,
      "the MoR delete files must ride the rollback")
    // expiring everything below the rollback keeps the restored files
    val (expired, _) = SnapshotLog.expireSnapshots(spark, root,
      keepFromVersion = 4)
    assert(expired === 3)
    assert(read(root).count() === 80)
  }

  test("SQL procedures: rollback_to_snapshot + set_current_snapshot " +
       "round-trip through the snap catalog") {
    val ns = "rbproc"
    val wh = spark.conf.getOption("spark.sql.catalog.snap.warehouse")
      .getOrElse("/tmp/graft_snap_warehouse")
    val fs = new Path(wh).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(s"$wh/$ns"), true)
    val root = s"$wh/$ns/t"
    SnapshotLog.commit(rows(40, "g"), root, overwrite = true, 1000L)
    SnapshotLog.commit(rows(15, "BAD"), root, overwrite = false, 2000L)
    val r = spark.sql(
      s"CALL snap.system.rollback_to_snapshot('$ns.t', 1)").collect().head
    assert((r.getInt(0), r.getInt(1), r.getInt(2)) === ((2, 3, 1)))
    assert(spark.table(s"snap.$ns.t").count() === 40)
    val r2 = spark.sql(
      s"CALL snap.system.set_current_snapshot('$ns.t', 2)").collect().head
    assert(r2.getInt(1) === 4)
    assert(spark.table(s"snap.$ns.t").count() === 55)
  }
}
