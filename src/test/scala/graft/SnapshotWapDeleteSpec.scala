package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.spark
import graft.sources.SnapshotLog

/** MoR DELETE on a branch (deleteWhereMoR with `branch`) — write-audit-publish
  * with DML: stage, audit (delete failing rows ON the branch), publish. */
class SnapshotWapDeleteSpec extends AnyFunSuite {
  import spark.implicits._

  private def fresh(tag: String): String = {
    val root = s"/tmp/graft_wapdel_spec/$tag"
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(root), true)
    root
  }

  private def branchRead(root: String, b: String) =
    spark.read.format("snapshotlog").option("branch", b).load(root)

  test("audit delete hits only the branch; publish carries the deletes; " +
       "pre-audit branch state stays time-travelable") {
    val root = fresh("basic")
    SnapshotLog.commit(
      spark.range(0, 100).selectExpr("id AS k", "id AS v"),
      root, overwrite = true, 1000L) // main: 0..99
    SnapshotLog.createBranch(spark, root, "audit", 1)
    SnapshotLog.commit(spark.range(100, 200).selectExpr("id AS k", "id AS v"),
      root, overwrite = false, 2000L, branch = Some("audit"))
    val dv = SnapshotLog.deleteWhereMoR(spark, root, col("k") >= 150,
      3000L, branch = Some("audit"))
    assert(dv === 3)
    // branch: staged minus audited-out rows
    assert(branchRead(root, "audit").count() === 150)
    // main: untouched
    assert(SnapshotLog.read(spark, root).count() === 100)
    // pre-audit branch snapshot (v2) still serves the full staged set
    assert(SnapshotLog.read(spark, root, asOfVersion = Some(2)).count() === 200)
    // publish: main adopts the audited content, as an append
    SnapshotLog.fastForward(spark, root, "audit", 4000L)
    val main = SnapshotLog.read(spark, root)
    assert(main.count() === 150)
    assert(main.agg(max(col("k"))).as[Long].head() === 149L)
    assert(SnapshotLog.snapshots(spark, root)
      .filter(_.branch.isEmpty).last.operation === "append")
  }

  test("deletion-vector flavor stages .dv sidecars on the branch too") {
    val root = fresh("dv")
    SnapshotLog.commit(
      spark.range(0, 50).selectExpr("id AS k", "id AS v"),
      root, overwrite = true, 1000L)
    SnapshotLog.setTableProps(spark, root,
      Map("write.delete.vector" -> "true"))
    SnapshotLog.createBranch(spark, root, "audit", 1)
    SnapshotLog.commit(spark.range(50, 100).selectExpr("id AS k", "id AS v"),
      root, overwrite = false, 2000L, branch = Some("audit"))
    SnapshotLog.deleteWhereMoR(spark, root, col("k") % 10 === 7,
      3000L, branch = Some("audit"))
    assert(branchRead(root, "audit").count() === 90)
    val snap = SnapshotLog.snapshots(spark, root).last
    assert(snap.dels.values.flatten.exists(_.endsWith(".dv")),
      s"expected vector sidecars in ${snap.dels.values.flatten.toSeq}")
    assert(SnapshotLog.read(spark, root).count() === 50)
  }

  test("audit FIX: updateWhereMoRBranch rewrites failing rows on the " +
       "branch; publish carries the corrected values") {
    val root = fresh("fix")
    SnapshotLog.commit(
      spark.range(0, 100).selectExpr("id AS k", "id AS v"),
      root, overwrite = true, 1000L)
    SnapshotLog.createBranch(spark, root, "audit", 1)
    SnapshotLog.commit(spark.range(100, 200).selectExpr("id AS k", "id * 0 - 5 AS v"),
      root, overwrite = false, 2000L, branch = Some("audit"))
    // audit finds the staged batch wrote sentinel v = -5 — fix on branch
    SnapshotLog.updateWhereMoR(spark, root, col("v") < 0,
      Map("v" -> (col("k") * 10)), 3000L, branch = Some("audit"))
    val b = branchRead(root, "audit")
    assert(b.count() === 200)
    assert(b.filter(col("v") < 0).count() === 0)
    assert(b.filter(col("k") === 150).select("v").as[Long].head() === 1500L)
    // main untouched pre-publish
    assert(SnapshotLog.read(spark, root).count() === 100)
    SnapshotLog.fastForward(spark, root, "audit", 4000L)
    val main = SnapshotLog.read(spark, root)
    assert(main.count() === 200)
    assert(main.filter(col("v") < 0).count() === 0)
    assert(main.filter(col("k") === 199).select("v").as[Long].head() === 1990L)
  }

  test("misuse refuses: no such branch, tag ref, empty-match no-op") {
    val root = fresh("refuse")
    SnapshotLog.commit(
      spark.range(0, 10).selectExpr("id AS k", "id AS v"),
      root, overwrite = true, 1000L)
    intercept[NoSuchElementException] {
      SnapshotLog.deleteWhereMoR(spark, root, col("k") > 5,
        2000L, branch = Some("nope"))
    }
    SnapshotLog.createTag(spark, root, "rel", 1)
    intercept[IllegalArgumentException] {
      SnapshotLog.deleteWhereMoR(spark, root, col("k") > 5,
        2000L, branch = Some("rel"))
    }
    SnapshotLog.createBranch(spark, root, "b", 1)
    val v = SnapshotLog.deleteWhereMoR(spark, root, col("k") > 1000,
      2000L, branch = Some("b"))
    assert(v === 1, "a delete matching nothing must not commit")
  }
}
