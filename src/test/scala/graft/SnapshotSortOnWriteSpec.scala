package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.spark
import graft.sources.{SnapshotLog, SnapshotSorts}

/** Sort-on-write (`write.sort.order`, the Iceberg write.sort-order
  * analog): every commit range-partitions across its files and sorts
  * within them, recording the order sidecar — ingest-time clustering, so
  * zone-map pruning and top-k skipping engage without compaction. */
class SnapshotSortOnWriteSpec extends AnyFunSuite {
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val root = s"/tmp/graft_sortwrite_spec/$tag"
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(root), true)
    root
  }

  private def filesPlanned(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[graft.sources.SnapshotLogScan].keptFiles.size
    }.head

  private def boot(root: String): Unit =
    SnapshotLog.commit(
      spark.sql("SELECT CAST(-1 AS BIGINT) AS k, CAST(-1 AS BIGINT) AS v"),
      root, overwrite = true, 100L, 1)

  test("commits range-cluster their files: disjoint zone maps, recorded " +
       "order, pruning + top-k engage; rows bit-identical") {
    val root = freshRoot("basic")
    boot(root)
    SnapshotLog.setTableProps(spark, root, Map("write.sort.order" -> "k"))
    // scrambled input — the WRITE must impose the clustering
    val df = spark.range(0, 40000).selectExpr(
      "cast(xxhash64(id) % 1000000 AS bigint) AS k", "id AS v")
    SnapshotLog.commit(df, root, overwrite = false, 200L, 8)
    val t = spark.read.format("snapshotlog").load(root)
    assert(t.count() === 40001)
    // every committed file carries the recorded order
    val snap = SnapshotLog.snapshots(spark, root).last
    val rec = SnapshotSorts.sortsAt(root)
    assert(snap.files.size === 9)
    assert(rec.count(_._2 == Seq("k")) === 8,
      "all 8 data files must record the sort order (bootstrap predates it)")
    // zone maps are disjoint: per-file (min,max) ranges must not overlap
    // (stats are keyed by normalized path; bootstrap's (-1,-1) included)
    val ranges = snap.stats.valuesIterator
      .flatMap(_.get("k")).toSeq
      .map { case (mn, mx) =>
        (mn.asInstanceOf[Number].longValue(), mx.asInstanceOf[Number].longValue()) }
      .filterNot(_ == ((-1L, -1L))) // the pre-property bootstrap file
      .sortBy(_._1)
    assert(ranges.size === 8)
    assert(ranges.sliding(2).forall {
      case Seq((_, aMax), (bMin, _)) => aMax <= bMin
      case _ => true
    }, s"range-partitioned files must have non-overlapping key ranges: $ranges")
    // a narrow range probe plans ~1 file of 9
    val probeK = ranges(4)._1 // a real key-range interior point
    val probe = t.filter(col("k").between(probeK, probeK + 10))
    assert(filesPlanned(probe) <= 2,
      s"sorted layout must range-prune, planned ${filesPlanned(probe)}/9")
    // top-k skipping composes: the max-key file alone serves DESC LIMIT
    val topk = t.orderBy(col("k").desc).limit(5)
    assert(filesPlanned(topk) <= 2,
      s"top-k over the sorted layout planned ${filesPlanned(topk)}/9")
    // and the data really is what was committed
    assert(t.agg(sum(col("v"))).as[Long].head() ===
      (0L until 40000L).sum - 1L)
  }

  test("partitioned sort-on-write: a freshly ingested co-bucketed pair " +
       "joins with ZERO exchanges AND zero sorts — no compaction needed") {
    val wh = "/tmp/graft_snap_warehouse"
    val ns = "sortwrite_spj"
    val fs = new Path(wh).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(s"$wh/$ns"), true)
    spark.sql(s"DROP TABLE IF EXISTS snap.$ns.l")
    spark.sql(s"DROP TABLE IF EXISTS snap.$ns.r")
    val spec = Seq("k" -> "bucket[4]")
    val seed = spark.sql("SELECT CAST(-1 AS BIGINT) AS k, " +
      "CAST(-1 AS BIGINT) AS v")
    def build(name: String, df: org.apache.spark.sql.DataFrame): String = {
      val root = s"$wh/$ns/$name"
      // create → arm the property → the REAL ingest overwrites the seed,
      // so every live tuple has exactly one key-sorted file
      SnapshotLog.commitPartitioned(seed.toDF(df.columns: _*), root, spec,
        overwrite = true, 1000L)
      SnapshotLog.setTableProps(spark, root, Map("write.sort.order" -> "k"))
      SnapshotLog.commitPartitioned(df, root, spec,
        overwrite = true, 2000L)
      s"snap.$ns.$name"
    }
    val lt = build("l", spark.range(0, 2000).selectExpr("id AS k", "id * 2 AS v"))
    val rt = build("r", spark.range(0, 2000, 4).selectExpr("id AS k", "id + 7 AS w"))
    val old = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table(lt).hint("merge").join(spark.table(rt), "k")
        .select(col("k"), col("v"), col("w"))
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      val shuffles = "Exchange".r.findAllIn(p).size -
        "BroadcastExchange".r.findAllIn(p).size
      val sorts = "\\bSort \\[".r.findAllIn(p).size
      assert(shuffles === 0, s"expected SPJ (no exchange):\n$p")
      assert(sorts === 0,
        s"sort-on-write files must skip the merge-join Sort:\n$p")
      assert(j.as[(Long, Long, Long)].collect().toSet ===
        (0L until 2000L by 4).map(k => (k, k * 2, k + 7)).toSet)
    } finally old match {
      case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("a missing sort column disables the feature for that commit — " +
       "unsorted, unrecorded, never failed") {
    val root = freshRoot("missing")
    boot(root)
    SnapshotLog.setTableProps(spark, root,
      Map("write.sort.order" -> "no_such_column"))
    SnapshotLog.commit(
      spark.range(0, 100).selectExpr("id AS k", "id AS v"),
      root, overwrite = false, 200L, 2)
    val t = spark.read.format("snapshotlog").load(root)
    assert(t.count() === 101)
    assert(SnapshotSorts.sortsAt(root).isEmpty,
      "an inapplicable order must not be recorded")
  }

  test("branch commits and streaming micro-batches inherit sort-on-write") {
    val root = freshRoot("inherit")
    boot(root)
    SnapshotLog.setTableProps(spark, root, Map("write.sort.order" -> "k"))
    // branch commit: staged data arrives clustered too
    SnapshotLog.createBranch(spark, root, "b", 1)
    SnapshotLog.commit(spark.range(0, 500).selectExpr(
        "cast(xxhash64(id) % 1000 AS bigint) AS k", "id AS v"), root, overwrite = false,
      200L, 2, branch = Some("b"))
    assert(SnapshotSorts.sortsAt(root).count(_._2 == Seq("k")) === 2,
      "the branch commit's files must record the sort order")
    // streaming micro-batch: commitStreamBatch rides commit(), so the
    // sink's files cluster and record without any sink-side code
    val ok = graft.streaming.StreamingOps.commitStreamBatch(
      spark.range(500, 900).selectExpr(
        "cast(xxhash64(id) % 1000 AS bigint) AS k", "id AS v")
        .repartition(7), root, batchId = 0L)
    assert(ok)
    assert(SnapshotSorts.sortsAt(root).count(_._2 == Seq("k")) === 4,
      "the micro-batch's files must record the sort order (2 branch + 2)")
  }

  test("zorder(x,y) on write: fresh commits lay out multi-dimensionally — " +
       "range probes on EITHER dimension prune; no linear order recorded") {
    val root = freshRoot("zorder")
    SnapshotLog.commit(
      spark.sql("SELECT CAST(-1 AS BIGINT) AS x, CAST(-1 AS BIGINT) AS y, " +
        "CAST(0 AS BIGINT) AS v"),
      root, overwrite = true, 100L, 1)
    SnapshotLog.setTableProps(spark, root,
      Map("write.sort.order" -> "zorder(x, y)"))
    // scrambled 2-D keys; ONE fresh 4-file commit = a 2×2 half-grid
    val df = spark.range(0, 40000).selectExpr(
      "cast(xxhash64(id) % 1024 AS bigint) % 1024 AS x0",
      "cast(xxhash64(id + 7) % 1024 AS bigint) AS y0", "id AS v")
      .selectExpr("abs(x0) AS x", "abs(y0) AS y", "v")
    SnapshotLog.commit(df, root, overwrite = false, 200L, 4)
    val t = spark.read.format("snapshotlog").load(root)
    assert(t.count() === 40001)
    // one-sided range probes prune on BOTH dimensions: ideal is 2 of the
    // 4 fresh files (a 2×2 half-grid), but repartitionByRange SAMPLES its
    // boundaries, so one straddling file is tolerated (≤3). The tight
    // under-half pin lives in the ddl_zorder_on_write gate, whose 32-file
    // commits give the sampling real margin.
    val px = t.filter(col("x") >= 100L && col("x") < 200L)
    val py = t.filter(col("y") >= 700L && col("y") < 800L)
    assert(filesPlanned(px) <= 3,
      s"x-range over z-laid files planned ${filesPlanned(px)}/5")
    assert(filesPlanned(py) <= 3,
      s"y-range over z-laid files planned ${filesPlanned(py)}/5")
    // z-laid files are NOT totally ordered by any single column: no
    // linear sort order may be recorded (reporting one would be a lie)
    assert(SnapshotSorts.sortsAt(root).isEmpty)
    // rows bit-identical through the re-layout
    assert(t.agg(sum(col("v"))).as[Long].head() === (0L until 40000L).sum)
  }

  test("zorder misuse refuses the commit (single column, non-numeric); " +
       "a missing z column disables conservatively") {
    val root = freshRoot("zmisuse")
    SnapshotLog.commit(
      spark.range(0, 10).selectExpr("id AS x", "id AS y",
        "cast(id AS string) AS s"),
      root, overwrite = true, 100L, 1)
    val df = spark.range(10, 20).selectExpr("id AS x", "id AS y",
      "cast(id AS string) AS s")
    SnapshotLog.setTableProps(spark, root,
      Map("write.sort.order" -> "zorder(x)"))
    intercept[IllegalArgumentException] {
      SnapshotLog.commit(df, root, overwrite = false, 200L, 1)
    }
    SnapshotLog.setTableProps(spark, root,
      Map("write.sort.order" -> "zorder(x, s)"))
    intercept[IllegalArgumentException] {
      SnapshotLog.commit(df, root, overwrite = false, 300L, 1)
    }
    // refusals really refused: nothing landed
    assert(spark.read.format("snapshotlog").load(root).count() === 10)
    // a z column missing from the commit's schema skips shaping (same
    // conservative rule as the linear path), never fails the commit
    SnapshotLog.setTableProps(spark, root,
      Map("write.sort.order" -> "zorder(x, nope)"))
    SnapshotLog.commit(df, root, overwrite = false, 400L, 1)
    assert(spark.read.format("snapshotlog").load(root).count() === 20)
    assert(SnapshotSorts.sortsAt(root).isEmpty)
  }

  test("later appends keep clustering; multi-column orders record whole") {
    val root = freshRoot("multi")
    boot(root)
    SnapshotLog.setTableProps(spark, root, Map("write.sort.order" -> "k, v"))
    val df = spark.range(0, 1000).selectExpr(
      "cast(id % 7 AS bigint) AS k", "id AS v")
    SnapshotLog.commit(df, root, overwrite = false, 200L, 2)
    SnapshotLog.commit(df, root, overwrite = false, 300L, 2)
    val rec = SnapshotSorts.sortsAt(root)
    assert(rec.count(_._2 == Seq("k", "v")) === 4,
      "both appends' files must record the two-column order")
  }
}
