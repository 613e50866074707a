package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.spark
import graft.sources.SnapshotLog

/** WAP MERGE (upsertEqualityMoR with `branch`) and equality DELETE
  * (deleteEqualityMoR with `branch`) on a branch — the r19 completion of branch
  * DML parity with mainline: audit-fix with upsert semantics happens
  * PRE-publish, and concurrent branch writers are refused
  * deterministically (test seam), never silently overwritten. */
class SnapshotWapMergeSpec extends AnyFunSuite {
  import spark.implicits._

  private def fresh(tag: String): String = {
    val root = s"/tmp/graft_wapmerge_spec/$tag"
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(root), true)
    root
  }

  private def branchRead(root: String, b: String) =
    spark.read.format("snapshotlog").option("branch", b).load(root)

  test("merge on branch replaces by key + inserts new keys; main is " +
       "untouched until fast_forward publishes as an append") {
    val root = fresh("merge")
    SnapshotLog.commit(
      spark.range(0, 100).selectExpr("id AS k", "id AS v"),
      root, overwrite = true, 1000L)
    SnapshotLog.createBranch(spark, root, "audit", 1)
    SnapshotLog.commit(spark.range(100, 200).selectExpr("id AS k", "id AS v"),
      root, overwrite = false, 2000L, branch = Some("audit"))
    // fix keys 150..159 (v := v + 10000), insert keys 500..504
    val batch = spark.range(150, 160).selectExpr("id AS k", "id + 10000 AS v")
      .unionByName(spark.range(500, 505).selectExpr("id AS k", "id AS v"))
    val mv = SnapshotLog.upsertEqualityMoR(spark, root, batch,
      Seq("k"), 3000L, branch = Some("audit"))
    assert(mv === 3)
    val b = branchRead(root, "audit")
    assert(b.count() === 205)
    assert(b.filter(col("k") === 155).select("v").as[Long].head() === 10155L)
    assert(b.filter(col("k") >= 500).count() === 5)
    // the branch snapshot is a ref-tagged equality upsert
    val sn = SnapshotLog.snapshots(spark, root).find(_.version == 3).get
    assert(sn.branch.contains("audit") && sn.operation === "upsert")
    // main untouched pre-publish
    assert(SnapshotLog.read(spark, root).count() === 100)
    // publish: branch descends from main head → append
    SnapshotLog.fastForward(spark, root, "audit", 4000L)
    val m = SnapshotLog.read(spark, root)
    assert(m.count() === 205)
    assert(m.filter(col("k") === 155).select("v").as[Long].head() === 10155L)
    assert(SnapshotLog.snapshots(spark, root)
      .filter(_.branch.isEmpty).last.operation === "append")
  }

  test("equality delete on branch removes the key set pre-publish; " +
       "misuse refuses (no branch, tag ref)") {
    val root = fresh("eqdel")
    SnapshotLog.commit(
      spark.range(0, 100).selectExpr("id AS k", "id AS v"),
      root, overwrite = true, 1000L)
    SnapshotLog.createBranch(spark, root, "audit", 1)
    SnapshotLog.commit(spark.range(100, 150).selectExpr("id AS k", "id AS v"),
      root, overwrite = false, 2000L, branch = Some("audit"))
    val dv = SnapshotLog.deleteEqualityMoR(spark, root,
      spark.range(120, 140).selectExpr("id AS k"),
      3000L, branch = Some("audit"))
    assert(dv === 3)
    assert(branchRead(root, "audit").count() === 130)
    assert(SnapshotLog.read(spark, root).count() === 100)
    // the pre-delete branch state stays time-travelable
    assert(SnapshotLog.read(spark, root, asOfVersion = Some(2)).count() === 150)
    intercept[NoSuchElementException] {
      SnapshotLog.deleteEqualityMoR(spark, root, spark.range(0, 1).selectExpr("id AS k"),
        4000L, branch = Some("nope"))
    }
    SnapshotLog.createTag(spark, root, "t1", 1)
    intercept[IllegalArgumentException] {
      SnapshotLog.deleteEqualityMoR(spark, root, spark.range(0, 1).selectExpr("id AS k"),
        5000L, branch = Some("t1"))
    }
  }

  test("concurrent branch-head movement between staging and commit " +
       "REFUSES the merge (deterministic via the test seam) and adopts " +
       "the concurrent writer's head") {
    val root = fresh("race")
    SnapshotLog.commit(
      spark.range(0, 50).selectExpr("id AS k", "id AS v"),
      root, overwrite = true, 1000L)
    SnapshotLog.createBranch(spark, root, "audit", 1)
    SnapshotLog.commit(spark.range(50, 100).selectExpr("id AS k", "id AS v"),
      root, overwrite = false, 2000L, branch = Some("audit"))
    // the seam fires after the merge's staging: a concurrent writer
    // advances the branch ref underneath it
    SnapshotLog.branchDmlAfterStage = () => {
      SnapshotLog.branchDmlAfterStage = () => ()
      SnapshotLog.commit(spark.range(100, 110).selectExpr("id AS k", "id AS v"),
        root, overwrite = false, 2500L, branch = Some("audit")): Unit
    }
    try {
      intercept[SnapshotLog.CommitConflictException] {
        SnapshotLog.upsertEqualityMoR(spark, root,
          spark.range(60, 70).selectExpr("id AS k", "id + 5000 AS v"),
          Seq("k"),
          3000L, branch = Some("audit"))
      }
    } finally SnapshotLog.branchDmlAfterStage = () => ()
    // the concurrent writer's snapshot IS the branch head; the refused
    // merge changed nothing (no upsert on the chain, no key rewritten)
    val b = branchRead(root, "audit")
    assert(b.count() === 110)
    assert(b.filter(col("k") === 65).select("v").as[Long].head() === 65L)
    assert(!SnapshotLog.snapshots(spark, root).exists(sn =>
      sn.branch.contains("audit") && sn.operation == "upsert"))
    // the equality-delete flavor refuses through the same seam
    SnapshotLog.branchDmlAfterStage = () => {
      SnapshotLog.branchDmlAfterStage = () => ()
      SnapshotLog.commit(spark.range(110, 115).selectExpr("id AS k", "id AS v"),
        root, overwrite = false, 3500L, branch = Some("audit")): Unit
    }
    try {
      intercept[SnapshotLog.CommitConflictException] {
        SnapshotLog.deleteEqualityMoR(spark, root,
          spark.range(0, 10).selectExpr("id AS k"), 4000L, branch = Some("audit"))
      }
    } finally SnapshotLog.branchDmlAfterStage = () => ()
    assert(branchRead(root, "audit").count() === 115)
    // the WHERE flavors refuse through the same seam (r19 symmetry:
    // every branch DML path is deterministically race-tested)
    SnapshotLog.branchDmlAfterStage = () => {
      SnapshotLog.branchDmlAfterStage = () => ()
      SnapshotLog.commit(spark.range(115, 120).selectExpr("id AS k", "id AS v"),
        root, overwrite = false, 4500L, branch = Some("audit")): Unit
    }
    try {
      intercept[SnapshotLog.CommitConflictException] {
        SnapshotLog.deleteWhereMoR(spark, root, col("k") < 5,
          5000L, branch = Some("audit"))
      }
    } finally SnapshotLog.branchDmlAfterStage = () => ()
    assert(branchRead(root, "audit").count() === 120)
    SnapshotLog.branchDmlAfterStage = () => {
      SnapshotLog.branchDmlAfterStage = () => ()
      SnapshotLog.commit(spark.range(120, 125).selectExpr("id AS k", "id AS v"),
        root, overwrite = false, 5500L, branch = Some("audit")): Unit
    }
    try {
      intercept[SnapshotLog.CommitConflictException] {
        SnapshotLog.updateWhereMoR(spark, root, col("k") < 5,
          Map("v" -> (col("v") + 100L)), 6000L, branch = Some("audit"))
      }
    } finally SnapshotLog.branchDmlAfterStage = () => ()
    val b2 = branchRead(root, "audit")
    assert(b2.count() === 125)
    assert(b2.filter(col("k") === 2).select("v").as[Long].head() === 2L,
      "the refused update must not have rewritten any row")
  }

  test("a branch append staged while a mainline append and a second " +
       "branch writer land re-applies on the new branch head") {
    val root = fresh("append_race")
    SnapshotLog.commit(
      spark.range(0, 50).selectExpr("id AS k", "id AS v"),
      root, overwrite = true, 1000L)
    SnapshotLog.createBranch(spark, root, "audit", 1)
    var fired = false
    SnapshotLog.branchDmlAfterStage = () => {
      SnapshotLog.branchDmlAfterStage = () => ()
      fired = true
      // a mainline append claims the version slot the staged append saw
      // as next, and a second branch writer advances the branch
      SnapshotLog.commit(spark.range(500, 510).selectExpr("id AS k", "id AS v"),
        root, overwrite = false, 1500L)
      SnapshotLog.commit(spark.range(100, 110).selectExpr("id AS k", "id AS v"),
        root, overwrite = false, 1600L, branch = Some("audit")): Unit
    }
    val v = try SnapshotLog.commit(
      spark.range(50, 100).selectExpr("id AS k", "id AS v"),
      root, overwrite = false, 2000L, branch = Some("audit"))
    finally SnapshotLog.branchDmlAfterStage = () => ()
    assert(fired, "the staging seam must fire for branch appends")
    assert(v === 4)
    assert(SnapshotLog.refs(spark, root)("audit") === 4)
    assert(SnapshotLog.snapshots(spark, root).find(_.version == 4).get
      .parent === 3, "the append builds on the concurrent writer's snapshot")
    assert(branchRead(root, "audit").count() === 110)
    assert(SnapshotLog.read(spark, root).count() === 60)
  }

  test("a branch writer that commits between a branch append's publish " +
       "and its ref write stays on the branch chain (the append refuses)") {
    val root = fresh("append_ref_race")
    SnapshotLog.commit(
      spark.range(0, 50).selectExpr("id AS k", "id AS v"),
      root, overwrite = true, 1000L)
    SnapshotLog.createBranch(spark, root, "audit", 1)
    SnapshotLog.branchDmlBeforeRefWrite = () => {
      SnapshotLog.branchDmlBeforeRefWrite = () => ()
      SnapshotLog.commit(spark.range(100, 110).selectExpr("id AS k", "id AS v"),
        root, overwrite = false, 5000L, branch = Some("audit")): Unit
    }
    val e = try intercept[SnapshotLog.CommitConflictException] {
      SnapshotLog.commit(spark.range(50, 100).selectExpr("id AS k", "id AS v"),
        root, overwrite = false, 2000L, branch = Some("audit"))
    } finally SnapshotLog.branchDmlBeforeRefWrite = () => ()
    assert(e.orphanVersion.contains(2))
    // the concurrent writer's snapshot is the branch head — not dropped
    assert(SnapshotLog.refs(spark, root)("audit") === 3)
    assert(branchRead(root, "audit").count() === 60)
  }

  test("the SQL surface (merge_branch CALL) refuses concurrent head " +
       "movement through the same seam") {
    val ns = "wapsql_race"
    val fs = new Path(s"/tmp/graft_snap_warehouse/$ns")
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(s"/tmp/graft_snap_warehouse/$ns"), true)
    spark.sql(s"DROP TABLE IF EXISTS snap.$ns.t")
    spark.sql(s"CREATE TABLE snap.$ns.t AS " +
      "SELECT id AS k, id AS v FROM range(0, 50)")
    val root = s"/tmp/graft_snap_warehouse/$ns/t"
    spark.sql(s"CALL snap.system.create_branch('$ns.t', 'audit', 2)")
    spark.range(50, 60).selectExpr("id AS k", "id AS v")
      .createOrReplaceTempView("wapsql_race_src")
    SnapshotLog.branchDmlAfterStage = () => {
      SnapshotLog.branchDmlAfterStage = () => ()
      SnapshotLog.commit(spark.range(900, 905).selectExpr("id AS k", "id AS v"),
        root, overwrite = false, SnapshotLog.nextCommitTs(spark, root),
        branch = Some("audit")): Unit
    }
    val e = try intercept[Exception] {
      spark.sql(s"CALL snap.system.merge_branch('$ns.t', 'audit', " +
        "'wapsql_race_src', 'k')").collect()
    } finally SnapshotLog.branchDmlAfterStage = () => ()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("advanced during the merge")),
      s"CALL must surface the refusal, got: ${messages(e).mkString(" | ")}")
    // the concurrent writer's rows are the branch state; no upsert landed
    assert(branchRead(root, "audit").count() === 55)
  }

  test("a ref-write race AFTER the snapshot committed surfaces the " +
       "ORPHAN version in the refusal, and deliberate expiry reclaims " +
       "its staged files") {
    val root = fresh("orphan")
    SnapshotLog.commit(
      spark.range(0, 50).selectExpr("id AS k", "id AS v"),
      root, overwrite = true, 1000L)
    SnapshotLog.createBranch(spark, root, "audit", 1)
    SnapshotLog.commit(spark.range(50, 100).selectExpr("id AS k", "id AS v"),
      root, overwrite = false, 2000L, branch = Some("audit"))
    // the narrow window: the commit closure's head check passed, the
    // snapshot is durable — THEN a concurrent writer advances the ref
    // (ts past the in-flight upsert's 3000: the DML snapshot is already
    // durable when this concurrent writer lands)
    SnapshotLog.branchDmlBeforeRefWrite = () => {
      SnapshotLog.branchDmlBeforeRefWrite = () => ()
      SnapshotLog.commit(spark.range(100, 110).selectExpr("id AS k", "id AS v"),
        root, overwrite = false, 5000L, branch = Some("audit")): Unit
    }
    val e = try intercept[SnapshotLog.CommitConflictException] {
      SnapshotLog.upsertEqualityMoR(spark, root,
        spark.range(60, 70).selectExpr("id AS k", "id + 5000 AS v"),
        Seq("k"),
        3000L, branch = Some("audit"))
    } finally SnapshotLog.branchDmlBeforeRefWrite = () => ()
    val orphan = e.orphanVersion.getOrElse(
      fail("ref-write refusal must carry the orphan version"))
    // the orphan IS in the log (a durable child of the old head) but is
    // NOT the branch head — the concurrent writer's snapshot is
    val snaps = SnapshotLog.snapshots(spark, root)
    assert(snaps.exists(sn => sn.version == orphan &&
      sn.branch.contains("audit") && sn.operation == "upsert"))
    assert(SnapshotLog.refs(spark, root)("audit") !== orphan)
    assert(branchRead(root, "audit").count() === 110,
      "the branch must serve the concurrent writer's state")
    // the surfaced handle enables deliberate reclamation: expiring below
    // the live head drops the orphan's manifest and its staged files
    val orphanFiles = snaps.find(_.version == orphan).get.files
      .filterNot(snaps.filter(_.version != orphan).flatMap(_.files).toSet)
    assert(orphanFiles.nonEmpty, "the orphan staged new data files")
    SnapshotLog.expireSnapshots(spark, root,
      keepFromVersion = orphan + 1, orphanScan = false)
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    assert(orphanFiles.forall(f => !fs.exists(new Path(f))),
      "expiry below the orphan must reclaim its staged files")
  }

  test("ALTER and compaction on main stamp past a newer branch snapshot: " +
       "commitTsMs stays strictly monotone per table") {
    val root = fresh("monotone")
    SnapshotLog.commit(spark.range(0, 100).selectExpr("id AS k", "id AS v"),
      root, overwrite = true, 100L)
    SnapshotLog.createBranch(spark, root, "audit", 1)
    def branchAt(ts: Long): Unit = SnapshotLog.commit(
      spark.range(100, 110).selectExpr("id AS k", "id AS v"),
      root, overwrite = false, ts, branch = Some("audit")): Unit
    // each main commit asks for a ts past main's head but behind the
    // branch's newest snapshot
    branchAt(1000L)
    SnapshotLog.alterSchema(spark, root,
      SnapshotLog.snapshots(spark, root).head.schema.add("x", "string"), 500L)
    branchAt(3000L)
    SnapshotLog.renameColumn(spark, root, "v", "w", 2000L)
    branchAt(5000L)
    SnapshotLog.rewriteDataFiles(spark, root, 4000L)
    val snaps = SnapshotLog.snapshots(spark, root)
    assert(snaps.filter(_.branch.isEmpty).map(_.operation) ===
      Seq("overwrite", "alter", "alter", "rewrite"))
    snaps.sliding(2).foreach { case Seq(a, b) =>
      assert(b.commitTsMs > a.commitTsMs,
        s"v${b.version} (${b.operation}) at ${b.commitTsMs} must follow " +
          s"v${a.version} at ${a.commitTsMs}")
    }
    assert(SnapshotLog.read(spark, root).count() === 100)
  }
}
