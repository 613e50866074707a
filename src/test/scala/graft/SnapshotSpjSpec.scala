package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.spark
import graft.sources.SnapshotLog

/** Storage-partitioned joins (r16 — Iceberg SPJ analog): two snapshot
  * tables laid out under the SAME partition spec report
  * KeyGroupedPartitioning from the DSv2 scan, and Spark joins them with
  * ZERO shuffle — the dominant exchange of a repeated co-located join
  * eliminated. `bucket[N]` transforms resolve through the catalog's V2
  * bucket function ([[graft.sources.SnapshotFunctions]]); `identity`
  * resolves natively. Ineligible layouts (spec evolution mid-table,
  * missing tuples) must DEGRADE to a shuffled join, never mis-join.
  */
class SnapshotSpjSpec extends AnyFunSuite {
  import spark.implicits._

  private val wh = "/tmp/graft_snap_warehouse"

  private def freshTable(ns: String, name: String): String = {
    val root = s"$wh/$ns/$name"
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(root), true)
    root
  }

  private def withConfs[A](kv: (String, String)*)(body: => A): A = {
    val olds = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def shuffles(df: DataFrame): Int = {
    df.collect() // materialize so AQE finalizes the plan
    // shuffle nodes print as "Exchange hashpartitioning(...)"; broadcast
    // exchanges are not shuffles
    val s = df.queryExecution.executedPlan.toString
    "Exchange".r.findAllIn(s).size - "BroadcastExchange".r.findAllIn(s).size
  }

  private def noBroadcast[A](body: => A): A =
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  test("co-bucketed tables join with zero shuffle (V2 bucket function)") {
    val l = freshTable("spj", "fact_l")
    val r = freshTable("spj", "fact_r")
    val spec = Seq("k" -> "bucket[8]")
    SnapshotLog.commitPartitioned(
      spark.range(0, 2000).selectExpr("id AS k", "id * 2 AS v"),
      l, spec, overwrite = true, 1000L)
    SnapshotLog.commitPartitioned(
      spark.range(0, 2000, 4).selectExpr("id AS k", "id + 7 AS w"),
      r, spec, overwrite = true, 1000L)
    noBroadcast {
      val j = spark.table("snap.spj.fact_l")
        .join(spark.table("snap.spj.fact_r"), "k")
        .select(col("k"), col("v"), col("w"))
      assert(shuffles(j) === 0,
        "co-bucketed snapshotlog tables must storage-partition-join:\n" +
          j.queryExecution.executedPlan)
      val got = j.as[(Long, Long, Long)].collect().toSet
      assert(got === (0L until 2000L by 4).map(k => (k, k * 2, k + 7)).toSet)
    }
  }

  test("co-identity-partitioned tables join with zero shuffle") {
    val l = freshTable("spj", "dim_l")
    val r = freshTable("spj", "dim_r")
    val spec = Seq("g" -> "identity")
    SnapshotLog.commitPartitioned(
      spark.range(0, 1000).selectExpr("id % 7 AS g", "id AS v"),
      l, spec, overwrite = true, 1000L)
    SnapshotLog.commitPartitioned(
      spark.range(0, 70).selectExpr("id % 7 AS g", "id AS w"),
      r, spec, overwrite = true, 1000L)
    noBroadcast {
      val j = spark.table("snap.spj.dim_l")
        .join(spark.table("snap.spj.dim_r"), "g")
      assert(shuffles(j) === 0,
        "identity-co-partitioned join must not shuffle:\n" +
          j.queryExecution.executedPlan)
      assert(j.count() === 1000L * 10) // each g matches 10 right rows
    }
  }

  test("one-sided layout degrades to a shuffled join with exact results") {
    val l = freshTable("spj", "mix_l")
    val r = freshTable("spj", "mix_r")
    SnapshotLog.commitPartitioned(
      spark.range(0, 500).selectExpr("id AS k", "id AS v"),
      l, Seq("k" -> "bucket[8]"), overwrite = true, 1000L)
    SnapshotLog.commit( // unpartitioned right side
      spark.range(0, 500, 5).selectExpr("id AS k", "id AS w"),
      r, overwrite = true, 1000L)
    noBroadcast {
      val j = spark.table("snap.spj.mix_l")
        .join(spark.table("snap.spj.mix_r"), "k")
      assert(shuffles(j) > 0, "unpartitioned side cannot SPJ")
      assert(j.count() === 100L)
    }
  }

  test("a plain append breaking the layout disables SPJ but stays correct") {
    val l = freshTable("spj", "evo_l")
    val r = freshTable("spj", "evo_r")
    val spec = Seq("k" -> "bucket[8]")
    SnapshotLog.commitPartitioned(
      spark.range(0, 400).selectExpr("id AS k", "id AS v"),
      l, spec, overwrite = true, 1000L)
    // tuple-less append: those files have no partition key -> ineligible
    SnapshotLog.commit(
      spark.range(400, 500).selectExpr("id AS k", "id AS v"),
      l, overwrite = false, 2000L)
    SnapshotLog.commitPartitioned(
      spark.range(0, 500, 10).selectExpr("id AS k", "id AS w"),
      r, spec, overwrite = true, 1000L)
    noBroadcast {
      val j = spark.table("snap.spj.evo_l")
        .join(spark.table("snap.spj.evo_r"), "k")
      assert(shuffles(j) > 0,
        "files without tuples must degrade to a shuffled join")
      assert(j.count() === 50L)
    }
  }

  test("co-day-partitioned tables join with zero shuffle (V2 days function)") {
    val l = freshTable("spj", "day_l")
    val r = freshTable("spj", "day_r")
    val spec = Seq("ts" -> "day")
    // ts spans ~12 distinct UTC days; equality on ts implies same day,
    // so the day-grouped layout co-locates every join match
    SnapshotLog.commitPartitioned(
      spark.range(0, 1000).selectExpr(
        "timestamp_seconds(id * 1000) AS ts", "id AS v"),
      l, spec, overwrite = true, 1000L)
    SnapshotLog.commitPartitioned(
      spark.range(0, 1000, 4).selectExpr(
        "timestamp_seconds(id * 1000) AS ts", "id AS w"),
      r, spec, overwrite = true, 1000L)
    noBroadcast {
      val j = spark.table("snap.spj.day_l")
        .join(spark.table("snap.spj.day_r"), "ts")
        .select(col("v"), col("w"))
      assert(shuffles(j) === 0,
        "day-co-partitioned snapshot tables must storage-partition-join:\n" +
          j.queryExecution.executedPlan)
      assert(j.as[(Long, Long)].collect().toSet ===
        (0L until 1000L by 4).map(i => (i, i)).toSet)
    }
  }

  test("truncate-partitioned tables keep full scan parallelism and join " +
       "shuffled (Spark's SPJ supports single-reference transforms only)") {
    // Spark's KeyGroupedPartitioning.supportsExpressions rejects
    // TransformExpressions with >1 child; bucket's width is special-cased
    // into numBucketsOpt, truncate's width is not — so a truncate spec
    // must NOT report key-grouped partitioning (it would group scan tasks
    // by tuple, shrinking parallelism, while the join still shuffles).
    val l = freshTable("spj", "tr_l")
    val r = freshTable("spj", "tr_r")
    val spec = Seq("k" -> "truncate[100]")
    SnapshotLog.commitPartitioned(
      spark.range(0, 2000).selectExpr("id AS k", "id AS v"),
      l, spec, overwrite = true, 1000L)
    SnapshotLog.commitPartitioned(
      spark.range(0, 2000, 8).selectExpr("id AS k", "id AS w"),
      r, spec, overwrite = true, 1000L)
    val single = spark.table("snap.spj.tr_l")
    single.collect()
    val leaf = single.queryExecution.executedPlan.collectLeaves().head
    assert(leaf.outputPartitioning.toString.startsWith("UnknownPartitioning"),
      s"truncate spec must not key-group the scan: ${leaf.outputPartitioning}")
    // one task per FILE (20 tuples × 1 file), not one per tuple-group;
    // a 1-byte task size keeps small files from sharing a task
    withConfs("spark.sql.files.maxPartitionBytes" -> "1") {
      assert(spark.table("snap.spj.tr_l").rdd.getNumPartitions >= 20,
        "per-file scan parallelism must survive a truncate spec")
    }
    noBroadcast {
      val j = spark.table("snap.spj.tr_l")
        .join(spark.table("snap.spj.tr_r"), "k")
      assert(shuffles(j) > 0) // honest: no SPJ for truncate
      assert(j.count() === 250L)
    }
  }

  test("group-by on the partition key aggregates with zero shuffle") {
    val t = freshTable("spj", "agg_t")
    SnapshotLog.commitPartitioned(
      spark.range(0, 3000).selectExpr("id % 11 AS g", "id AS v"),
      t, Seq("g" -> "identity"), overwrite = true, 1000L)
    val a = spark.table("snap.spj.agg_t")
      .groupBy(col("g")).agg(sum(col("v")).as("sv"))
    assert(shuffles(a) === 0,
      "identity-partitioned group-by must aggregate in place:\n" +
        a.queryExecution.executedPlan)
    val got = a.as[(Long, Long)].collect().toMap
    val want = (0L until 3000L).groupBy(_ % 11).map { case (g, vs) => g -> vs.sum }
    assert(got === want)
  }

  test("SPJ survives layout-preserving compaction and trickle appends") {
    val l = freshTable("spj", "cmp_l")
    val r = freshTable("spj", "cmp_r")
    val spec = Seq("k" -> "bucket[8]")
    // trickle: 3 small partitioned appends -> multiple files per bucket
    (0 until 3).foreach { i =>
      SnapshotLog.commitPartitioned(
        spark.range(i * 500, (i + 1) * 500).selectExpr("id AS k", "id AS v"),
        l, spec, overwrite = i == 0, 1000L * (i + 1))
    }
    SnapshotLog.commitPartitioned(
      spark.range(0, 1500, 6).selectExpr("id AS k", "id AS w"),
      r, spec, overwrite = true, 1000L)
    noBroadcast {
      val j0 = spark.table("snap.spj.cmp_l")
        .join(spark.table("snap.spj.cmp_r"), "k")
      assert(shuffles(j0) === 0,
        "multi-file-per-bucket trickle layout must still SPJ:\n" +
          j0.queryExecution.executedPlan)
      assert(j0.count() === 250L)
    }
    // compaction preserves the partition layout -> SPJ still holds
    SnapshotLog.rewriteDataFiles(spark, l, commitTsMs = 9000L,
      targetBytes = 1L << 30)
    noBroadcast {
      val j = spark.table("snap.spj.cmp_l")
        .join(spark.table("snap.spj.cmp_r"), "k")
      assert(shuffles(j) === 0,
        "layout-preserving compaction must keep the SPJ layout:\n" +
          j.queryExecution.executedPlan)
      assert(j.count() === 250L)
    }
  }

  test("SPJ composes with MoR deletes: suppressed rows stay deleted") {
    val l = freshTable("spj", "mor_l")
    val r = freshTable("spj", "mor_r")
    val spec = Seq("k" -> "bucket[4]")
    SnapshotLog.commitPartitioned(
      spark.range(0, 200).selectExpr("id AS k", "id AS v"),
      l, spec, overwrite = true, 1000L)
    SnapshotLog.commitPartitioned(
      spark.range(0, 200).selectExpr("id AS k", "id AS w"),
      r, spec, overwrite = true, 1000L)
    SnapshotLog.deleteWhereMoR(spark, l, col("k") % 2 === 0, 2000L)
    noBroadcast {
      val j = spark.table("snap.spj.mor_l")
        .join(spark.table("snap.spj.mor_r"), "k")
      assert(shuffles(j) === 0,
        "MoR deletes must not break the key-grouped layout:\n" +
          j.queryExecution.executedPlan)
      assert(j.select("k").as[Long].collect().toSet ===
        (1L until 200L by 2).toSet)
    }
  }

  test("spec evolution: a query whose kept files land in ONE generation " +
       "still SPJs — pruning pre-evolution files re-arms the join") {
    val l = freshTable("spj", "evo_l")
    val r = freshTable("spj", "evo_r")
    // L: v1 under bucket[4] (keys < 1000), evolved v2 under bucket[8]
    // (keys >= 1000); R: single-generation bucket[8] (keys >= 1000)
    SnapshotLog.commitPartitioned(
      spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS v"),
      l, Seq("k" -> "bucket[4]"), overwrite = true, 1000L)
    SnapshotLog.commitPartitioned(
      spark.range(1000, 2000).selectExpr("id AS k", "id * 2 AS v"),
      l, Seq("k" -> "bucket[8]"), overwrite = false, 2000L)
    SnapshotLog.commitPartitioned(
      spark.range(1000, 2000, 4).selectExpr("id AS k", "id + 7 AS w"),
      r, Seq("k" -> "bucket[8]"), overwrite = true, 1000L)
    noBroadcast {
      // filtered: min/max stats prune every bucket[4]-generation file,
      // the kept set is single-spec bucket[8] => SPJ fires
      val j = spark.table("snap.spj.evo_l").filter(col("k") >= 1000L)
        .join(spark.table("snap.spj.evo_r"), "k")
        .select(col("k"), col("v"), col("w"))
      assert(shuffles(j) === 0,
        "single-generation kept set must storage-partition-join:\n" +
          j.queryExecution.executedPlan)
      assert(j.as[(Long, Long, Long)].collect().toSet ===
        (1000L until 2000L by 4).map(k => (k, k * 2, k + 7)).toSet)

      // unfiltered: mixed-generation kept set degrades to a shuffled
      // join — and stays CORRECT
      val mixed = spark.table("snap.spj.evo_l")
        .join(spark.table("snap.spj.evo_r"), "k")
        .select(col("k"), col("v"), col("w"))
      assert(shuffles(mixed) > 0,
        "mixed-spec kept set must degrade to a shuffled join:\n" +
          mixed.queryExecution.executedPlan)
      assert(mixed.as[(Long, Long, Long)].collect().toSet ===
        (1000L until 2000L by 4).map(k => (k, k * 2, k + 7)).toSet)
    }
  }

  test("spec evolution: the OLD generation alone also SPJs under its own " +
       "spec when both sides match it") {
    val l = freshTable("spj", "evo_old_l")
    val r = freshTable("spj", "evo_old_r")
    // both tables: v1 bucket[4] over keys < 500, evolved v2 bucket[8]
    // over keys >= 500 — a query pinned to the OLD key range groups by
    // the old generation's bucket[4] on both sides
    Seq((l, "v"), (r, "w")).foreach { case (root, c) =>
      SnapshotLog.commitPartitioned(
        spark.range(0, 500).selectExpr("id AS k", s"id * 2 AS $c"),
        root, Seq("k" -> "bucket[4]"), overwrite = true, 1000L)
      SnapshotLog.commitPartitioned(
        spark.range(500, 1000).selectExpr("id AS k", s"id * 2 AS $c"),
        root, Seq("k" -> "bucket[8]"), overwrite = false, 2000L): Unit
    }
    noBroadcast {
      val j = spark.table("snap.spj.evo_old_l").filter(col("k") < 500L)
        .join(spark.table("snap.spj.evo_old_r").filter(col("k") < 500L), "k")
        .select(col("k"), col("v"), col("w"))
      assert(shuffles(j) === 0,
        "both sides pruned to the old generation must SPJ under bucket[4]:\n" +
          j.queryExecution.executedPlan)
      assert(j.as[(Long, Long, Long)].collect().toSet ===
        (0L until 500L).map(k => (k, k * 2, k * 2)).toSet)
    }
  }
}
