package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.spark

/** Functional coverage of manifest-list sharding (r14) with the shard
  * threshold forced low, over REAL tables: append reuse, DML tombstones,
  * schema-evolution drift re-homing, time travel, branches, and expiry
  * garbage collection of dead shards. Legacy (inline) manifests must
  * keep reading unchanged — every pre-r14 table is one.
  */
class SnapshotShardSpec extends AnyFunSuite {
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val root = s"/tmp/graft_shard_spec/$tag"
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(root), true)
    root
  }

  private def withShardMin[A](m: Int)(body: => A): A = {
    val key = "spark.graft.snapshot.shardMin"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, m.toString)
    try body finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def shardsIn(root: String): Seq[String] = {
    val dir = new Path(root, "_log")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("shard-")).toSeq
  }

  test("append chain shards once and reuses; reads identical to inline") {
    val root = freshRoot("chain")
    withShardMin(4) {
      SnapshotLog.commit(spark.range(0, 800).selectExpr("id AS k"),
        root, overwrite = true, 100L, 6)
      SnapshotLog.commit(spark.range(800, 1000).selectExpr("id AS k"),
        root, overwrite = false, 200L, 4)
      val v1 = SnapshotLog.snapshots(spark, root).head
      val v2 = SnapshotLog.snapshots(spark, root).last
      assert(v1.shardPaths.size === 1)
      assert(v2.shardPaths.size === 2, "append adds one shard, reuses parent's")
      assert(v2.shardPaths.head === v1.shardPaths.head)
      assert(v2.files.size === 10)
      assert(spark.read.format("snapshotlog").load(root)
        .agg(sum("k")).head().getLong(0) === (0L until 1000L).sum)
      // time travel to v1 through its shard
      assert(SnapshotLog.read(spark, root, asOfVersion = Some(1)).count() === 800)
      // stats survived the shard round-trip: pruning still works
      val pruned = spark.read.format("snapshotlog").load(root)
        .filter(col("k") === 5L)
      assert(pruned.count() === 1)
    }
  }

  test("copy-on-write DML over a sharded table tombstones the rewritten " +
       "file and stays correct") {
    val root = freshRoot("dml")
    withShardMin(4) {
      SnapshotLog.commit(
        spark.range(0, 1000, 1, 1).selectExpr("id AS k", "id AS v"),
        root, overwrite = true, 100L, 8)
      val ns = "shardns"
      // route SQL through the catalog against this root
      spark.sql(s"DROP TABLE IF EXISTS snap.$ns.t")
      val wh = "/tmp/graft_snap_warehouse"
      val fsw = new Path(s"$wh/$ns").getFileSystem(
        spark.sessionState.newHadoopConf())
      fsw.delete(new Path(s"$wh/$ns"), true)
      spark.sql(s"CREATE TABLE snap.$ns.t AS SELECT id AS k, id AS v FROM range(0, 1000)")
      // the CTAS table itself is sharded (catalog warehouse root)
      val ctasRoot = s"$wh/$ns/t"
      SnapshotLog.commit(spark.range(1000, 2000).selectExpr("id AS k", "id AS v"),
        ctasRoot, overwrite = false, SnapshotLog.nextCommitTs(spark, ctasRoot), 8)
      spark.sql(s"UPDATE snap.$ns.t SET v = -1 WHERE k = 7")
      val t = spark.table(s"snap.$ns.t")
      assert(t.count() === 2000)
      assert(t.filter(col("v") === -1).count() === 1)
      assert(t.filter(col("k") === 7 && col("v") =!= -1).count() === 0)
      val head = SnapshotLog.snapshots(spark, ctasRoot).last
      // the rewritten source file must not resurrect through its shard
      assert(head.files.size === head.files.map(SnapshotLog.norm).distinct.size)
    }
  }

  test("MoR deletes + compaction on a sharded table round-trip") {
    val root = freshRoot("mor")
    withShardMin(4) {
      SnapshotLog.commit(spark.range(0, 1200).selectExpr("id AS k"),
        root, overwrite = true, 100L, 6)
      SnapshotLog.deleteWhereMoR(spark, root, col("k") % 100 === 0, 200L)
      assert(spark.read.format("snapshotlog").load(root).count() === 1188)
      SnapshotLog.rewriteDataFiles(spark, root, 300L, targetBytes = 1L << 30)
      assert(spark.read.format("snapshotlog").load(root).count() === 1188)
      val head = SnapshotLog.snapshots(spark, root).last
      assert(head.dels.isEmpty, "compaction folds the deletes")
    }
  }

  test("schema evolution (rename) over sharded files: drifted colIds " +
       "re-home and resolution still works") {
    val root = freshRoot("evolve")
    withShardMin(4) {
      SnapshotLog.commit(spark.range(0, 600).selectExpr("id AS k", "id * 2 AS v"),
        root, overwrite = true, 100L, 6)
      SnapshotLog.renameColumn(spark, root, "v", "vv", 200L)
      val t = spark.read.format("snapshotlog").load(root)
      assert(t.columns.toSeq === Seq("k", "vv"))
      assert(t.agg(sum("vv")).head().getLong(0) === (0L until 600L).map(_ * 2).sum)
    }
  }

  test("expiry deletes shards referenced only by dead versions") {
    val root = freshRoot("expire")
    withShardMin(4) {
      SnapshotLog.commit(spark.range(0, 500).selectExpr("id AS k"),
        root, overwrite = true, 100L, 5)
      // overwrite drops every v1 file: v2 gets its own shard
      SnapshotLog.commit(spark.range(0, 600).selectExpr("id AS k"),
        root, overwrite = true, 200L, 5)
      assert(shardsIn(root).size === 2)
      SnapshotLog.expireSnapshots(spark, root, keepFromVersion = 2)
      assert(shardsIn(root).size === 1, "v1's shard should be reaped")
      assert(spark.read.format("snapshotlog").load(root).count() === 600)
    }
  }

  test("legacy inline manifests read unchanged and migrate on the next " +
       "above-threshold commit") {
    val root = freshRoot("legacy")
    // legacy: default threshold keeps this inline
    SnapshotLog.commit(spark.range(0, 300).selectExpr("id AS k"),
      root, overwrite = true, 100L, 3)
    assert(shardsIn(root).isEmpty)
    assert(SnapshotLog.snapshots(spark, root).last.shardPaths.isEmpty)
    withShardMin(4) {
      SnapshotLog.commit(spark.range(300, 400).selectExpr("id AS k"),
        root, overwrite = false, 200L, 2)
      val head = SnapshotLog.snapshots(spark, root).last
      assert(head.shardPaths.size === 1,
        "legacy inline entries migrate into the first shard")
      assert(head.files.size === 5)
      assert(spark.read.format("snapshotlog").load(root)
        .agg(sum("k")).head().getLong(0) === (0L until 400L).sum)
    }
  }

  test("branches and write-audit-publish across sharded manifests") {
    val root = freshRoot("branch")
    withShardMin(4) {
      SnapshotLog.commit(spark.range(0, 500).selectExpr("id AS k"),
        root, overwrite = true, 100L, 5)
      SnapshotLog.createBranch(spark, root, "audit", 1)
      SnapshotLog.commit(spark.range(500, 600).selectExpr("id AS k"),
        root, overwrite = false, 200L, branch = Some("audit"))
      // main unchanged
      assert(spark.read.format("snapshotlog").load(root).count() === 500)
      SnapshotLog.fastForward(spark, root, "audit", 300L)
      assert(spark.read.format("snapshotlog").load(root).count() === 600)
    }
  }
}
