package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.spark
import graft.sources.SnapshotLog

/** Model-based property test for the snapshot-table DML surface: a
  * random (but seeded-deterministic) sequence of appends, positional
  * deletes, equality deletes, merge-on-read updates, upserts and
  * compactions is applied BOTH to the real table and to an in-memory
  * model; after every operation, both read paths (bulk and DSv2) must
  * equal the model exactly. This is the net that catches interplay
  * orderings no hand-written scenario covers — stacked delete flavors,
  * update-after-delete, compaction mid-sequence, expiry at the end.
  * The branch rows run the same DML on a branch forked after the seed
  * content (main and branches share one commit kernel, so they must
  * agree), while compaction, publishes and ANALYZE stay on main.
  */
class SnapshotDmlPropertySpec extends AnyFunSuite {
  import spark.implicits._

  private def stateOf(root: String): Map[Long, Long] =
    spark.read.format("snapshotlog").load(root)
      .as[(Long, Long)].collect().toMap

  private def bulkStateOf(root: String): Map[Long, Long] =
    SnapshotLog.read(spark, root).as[(Long, Long)].collect().toMap

  private def branchStateOf(root: String, b: String): Map[Long, Long] =
    spark.read.format("snapshotlog").option("branch", b).load(root)
      .as[(Long, Long)].collect().toMap

  private def branchBulkStateOf(root: String, b: String): Map[Long, Long] =
    SnapshotLog.read(spark, root, asOfVersion = Some(SnapshotLog.refs(spark, root)(b)))
      .as[(Long, Long)].collect().toMap

  // (seed, shard threshold, ref): the None-shard rows run the legacy
  // single-manifest layout; the Some(4) rows force MANIFEST-LIST
  // SHARDING (r14) so the same random interplay exercises shard reuse,
  // tombstones, and re-homing under every DML flavor; the Some(branch)
  // rows run the DML on that branch
  for ((seed, shardMin, branch) <- Seq((7, None, None), (23, None, None),
         (91, None, None), (41, Some(4), None), (67, Some(4), None),
         (23, None, Some("dev")), (67, Some(4), Some("dev")))) {
    test(s"random DML sequence equals the model (seed $seed" +
         shardMin.map(m => s", shardMin $m").getOrElse("") +
         branch.map(b => s", on branch $b").getOrElse("") + ")") {
      val shardKey = "spark.graft.snapshot.shardMin"
      val oldShard = spark.conf.getOption(shardKey)
      shardMin.foreach(m => spark.conf.set(shardKey, m.toString))
      try {
      val rnd = new scala.util.Random(seed)
      val tag = s"${seed}_${shardMin.getOrElse(0)}${branch.fold("")("_" + _)}"
      val root = s"/tmp/graft_snaplog_spec/dmlprop_$tag"
      val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new Path(root), true)

      var model = Map.empty[Long, Long] // the ref the DML runs on
      var nextKey = 0L
      var ts = 1000L
      def tick(): Long = { ts += 1000; ts }

      def appendBatch(n: Int, ref: Option[String]): Unit = {
        val rows = (0 until n).map { _ =>
          nextKey += 1; (nextKey, rnd.nextInt(1000).toLong)
        }
        SnapshotLog.commit(rows.toDF("k", "v"), root,
          overwrite = model.isEmpty && SnapshotLog.snapshots(spark, root).isEmpty,
          commitTsMs = tick(), branch = ref)
        model ++= rows
      }

      appendBatch(30, None) // seed content
      // main's own state: the model itself unless the DML runs on a branch
      var mainModel = model
      def setMain(m: Map[Long, Long]): Unit =
        if (branch.isEmpty) model = m else mainModel = m
      def mainNow: Map[Long, Long] = if (branch.isEmpty) model else mainModel
      branch.foreach(b => SnapshotLog.createBranch(spark, root, b, 1))

      // incremental MV over the same random history: count/sum per value
      // bucket, created at the seed version, maintained mid-run and at the
      // end — must equal a from-scratch rebuild at every refresh
      val mvTable = s"mvprop.mv_$tag"
      new Path(s"/tmp/graft_snap_warehouse/mvprop").getFileSystem(
        spark.sessionState.newHadoopConf()).delete(
        new Path(s"/tmp/graft_snap_warehouse/" +
          mvTable.replace('.', '/')), true)
      graft.operators.IncrementalMv.create(spark, root, mvTable, "v", "k")
      def mvMatchesRebuild(ctx: String): Unit = {
        graft.operators.IncrementalMv.maintain(spark, root, mvTable, "v", "k")
        val got = spark.table(s"snap.$mvTable").collect()
          .map(r => (r.getAs[Long]("v"),
            (r.getAs[Long]("n"), r.getAs[Long]("s_k")))).toMap
        val want = mainNow.toSeq.groupBy(_._2).map { case (v, kvs) =>
          v -> (kvs.size.toLong, kvs.map(_._1).sum)
        }
        assert(got === want, s"incremental MV diverged from rebuild ($ctx)")
      }

      val opNames = scala.collection.mutable.ArrayBuffer[String]()
      var sawShards = false
      var branchN = 0
      for (step <- 0 until 14) {
        val existing = model.keys.toSeq.sorted
        rnd.nextInt(8) match {
          case 0 => // append new keys
            opNames += "append"
            appendBatch(5 + rnd.nextInt(10), branch)
          case 1 => // positional delete by predicate
            opNames += "posDelete"
            val m = 2 + rnd.nextInt(5)
            val r = rnd.nextInt(m)
            SnapshotLog.deleteWhereMoR(spark, root,
              col("k") % m === r.toLong, tick(), branch)
            model = model.filter { case (k, _) => k % m != r }
          case 2 => // equality delete of sampled keys
            opNames += "eqDelete"
            val victims = rnd.shuffle(existing).take(3 + rnd.nextInt(4))
            if (victims.nonEmpty) {
              SnapshotLog.deleteEqualityMoR(spark, root,
                victims.toDF("k"), tick(), branch)
              model = model -- victims
            }
          case 3 => // merge-on-read update
            opNames += "morUpdate"
            val m = 2 + rnd.nextInt(4)
            val r = rnd.nextInt(m)
            val delta = 1 + rnd.nextInt(100)
            SnapshotLog.updateWhereMoR(spark, root,
              col("k") % m === r.toLong,
              Map("v" -> (col("v") + delta.toLong)), tick(), branch = branch)
            model = model.map { case (k, v) =>
              k -> (if (k % m == r) v + delta else v) }
          case 4 => // upsert: update some existing + insert fresh
            opNames += "upsert"
            val ups = rnd.shuffle(existing).take(3)
              .map(k => (k, rnd.nextInt(1000).toLong))
            val ins = (0 until 3).map { _ =>
              nextKey += 1; (nextKey, rnd.nextInt(1000).toLong)
            }
            val batch = (ups ++ ins).toDF("k", "v")
            SnapshotLog.upsertEqualityMoR(spark, root, batch, Seq("k"), tick(),
              branch = branch)
            model ++= ups ++ ins
          case 5 => // compaction folds everything so far (on main)
            opNames += "rewrite"
            SnapshotLog.rewriteDataFiles(spark, root, tick(),
              targetBytes = 1L << 30)
          case 6 => // full write-audit-publish cycle: stage on a branch,
            // main must be UNCHANGED mid-cycle, publish lands the rows
            opNames += "wap"
            branchN += 1
            val br = s"audit$branchN"
            val headV = SnapshotLog.snapshots(spark, root)
              .filter(_.branch.isEmpty).last.version
            SnapshotLog.createBranch(spark, root, br, headV)
            val staged = (0 until 4).map { _ =>
              nextKey += 1; (nextKey, rnd.nextInt(1000).toLong)
            }
            SnapshotLog.commit(staged.toDF("k", "v"), root, overwrite = false,
              tick(), branch = Some(br))
            assert(stateOf(root) === mainNow,
              s"main leaked branch rows mid-WAP (seed=$seed step=$step)")
            SnapshotLog.fastForward(spark, root, br, tick())
            SnapshotLog.dropBranch(spark, root, br)
            setMain(mainNow ++ staged)
          case 7 => // ANALYZE: stats sidecar must never change results
            opNames += "analyze"
            SnapshotLog.analyze(spark, root, k = 64)
        }
        if (shardMin.isDefined &&
            SnapshotLog.snapshots(spark, root).last.shardPaths.nonEmpty)
          sawShards = true
        val ctx = s"seed=$seed step=$step ops=${opNames.mkString(",")}"
        assert(stateOf(root) === mainNow, s"DSv2 read diverged ($ctx)")
        assert(bulkStateOf(root) === mainNow, s"bulk read diverged ($ctx)")
        branch.foreach { b =>
          assert(branchStateOf(root, b) === model,
            s"DSv2 branch read diverged ($ctx)")
          assert(branchBulkStateOf(root, b) === model,
            s"bulk branch read diverged ($ctx)")
        }
        // refresh the incremental MV mid-run at a couple of random points
        // (multi-version catch-up ranges), not just at the end
        if (step == 6 || step == 11) mvMatchesRebuild(ctx)
      }
      mvMatchesRebuild(s"seed=$seed end-of-run")

      // CDC invariant over the WHOLE random history (before expiry drops
      // old manifests): replaying the changelog from genesis — net insert
      // multiplicity per (k, v) — must reconstruct the model exactly, and
      // the net_changes view must BE the model as pure inserts (genesis
      // start set is empty, so intermediate churn cancels to the end state)
      {
        val net = scala.collection.mutable.Map.empty[(Long, Long), Long]
        SnapshotLog.changes(spark, root, fromVersion = 0).collect().foreach { r =>
          val key = (r.getAs[Long]("k"), r.getAs[Long]("v"))
          val d = if (r.getAs[String]("_change_type") == "insert") 1L else -1L
          net(key) = net.getOrElse(key, 0L) + d
        }
        assert(net.values.forall(c => c == 0L || c == 1L),
          s"changelog net multiplicities out of {0,1} (seed=$seed)")
        val replayed = net.collect { case ((k, v), 1L) => k -> v }.toMap
        assert(replayed === mainNow, s"changelog replay diverged (seed=$seed)")
        val nv = SnapshotLog.changes(spark, root, fromVersion = 0,
          netChanges = true).collect()
        assert(nv.forall(_.getAs[String]("_change_type") == "insert"),
          s"genesis net view must be pure inserts (seed=$seed)")
        assert(nv.map(r =>
          r.getAs[Long]("k") -> r.getAs[Long]("v")).toMap === mainNow,
          s"net_changes view diverged from the model (seed=$seed)")
        // compute_updates invariant: pairing is a pure RETAG — mapping
        // pre→delete / post→insert reproduces the plain changelog's
        // multiset exactly, and per (key, version) images come in
        // complete pairs (k is unique per version in this model)
        val plain = SnapshotLog.changes(spark, root, fromVersion = 0)
          .collect()
        val cu = SnapshotLog.changes(spark, root, fromVersion = 0,
          identifierCols = Seq("k")).collect()
        def ms(rows: Array[org.apache.spark.sql.Row],
               remap: String => String) =
          rows.groupBy(r => (r.getAs[Long]("k"), r.getAs[Long]("v"),
            r.getAs[Int]("_commit_version"),
            remap(r.getAs[String]("_change_type"))))
            .view.mapValues(_.length).toMap
        val demoted = ms(cu, {
          case "update_preimage" => "delete"
          case "update_postimage" => "insert"
          case t => t
        })
        assert(demoted === ms(plain, identity),
          s"compute_updates is not a pure retag (seed=$seed)")
        cu.groupBy(r => (r.getAs[Long]("k"),
            r.getAs[Int]("_commit_version"))).foreach { case (kv, rows) =>
          val pre = rows.count(_.getAs[String]("_change_type") == "update_preimage")
          val post = rows.count(_.getAs[String]("_change_type") == "update_postimage")
          assert(pre == post && pre <= 1,
            s"unbalanced update images at $kv (seed=$seed)")
        }
      }

      // final fold + expiry: physical state still equals the model
      SnapshotLog.rewriteDataFiles(spark, root, tick(), targetBytes = 1L << 30)
      val head = SnapshotLog.snapshots(spark, root).last.version
      SnapshotLog.expireSnapshots(spark, root, keepFromVersion = head)
      assert(stateOf(root) === mainNow, s"post-expiry read diverged (seed=$seed)")
      assert(SnapshotLog.snapshots(spark, root).filter(_.branch.isEmpty)
        .last.dels.isEmpty)
      branch.foreach(b => assert(branchStateOf(root, b) === model,
        s"post-expiry branch read diverged (seed=$seed)"))
      if (shardMin.isDefined) {
        // the sharded variants must have actually exercised shards at
        // some point (the final compaction may fold below the threshold)
        assert(sawShards,
          s"shardMin=${shardMin.get} run never sharded (seed=$seed)")
      }
      } finally oldShard match {
        case Some(v) => spark.conf.set(shardKey, v)
        case None => spark.conf.unset(shardKey)
      }
    }
  }
}
