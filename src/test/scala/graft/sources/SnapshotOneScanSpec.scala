package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.spark

/** Every programmatic read of snapshot data — `read`, `readPruned`,
  * `readIncremental`, `changes`, compaction input — goes through the DSv2
  * scan, so merge-on-read deletes, field-id renames and dropped columns
  * apply the same way on each, no read plans a delete join, and
  * `input_file_name()` names the file a row came from. Evolved tables stay
  * on the vectorized reader, and small files share a task.
  */
class SnapshotOneScanSpec extends AnyFunSuite {
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val root = s"/tmp/graft_snaplog_spec/onescan_$tag"
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(root), true)
    root
  }

  private def joins(plan: LogicalPlan): Int =
    plan.collect { case j: Join => j }.size

  private def keys(df: DataFrame): Seq[Long] =
    df.select("k").as[Long].collect().sorted.toSeq

  private def batchScan(df: DataFrame) =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head

  /** Rows as strings, sorted: one value space for any schema. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("evolved tables read vectorized, with the row reader's answers") {
    import org.apache.spark.sql.types._
    val root = freshRoot("evolved")
    SnapshotLog.commit(spark.range(0, 30).selectExpr("id AS k",
      "concat('s', CAST(id AS STRING)) AS s", "id * 2 AS gone",
      "named_struct('a', id, 'b', CAST(id AS STRING)) AS st"),
      root, overwrite = true, 100L, 2)
    SnapshotLog.addColumn(spark, root, "x", LongType, None, 200L)
    SnapshotLog.addColumn(spark, root, "d", IntegerType, Some("7"), 300L)
    SnapshotLog.renameColumn(spark, root, "s", "label", 400L)
    // dropped then re-added: the old files' `gone` is another column
    SnapshotLog.dropColumn(spark, root, "gone", 500L)
    SnapshotLog.addColumn(spark, root, "gone", LongType, None, 600L)
    SnapshotLog.commit(spark.range(30, 40).selectExpr("id AS k",
      "concat('s', CAST(id AS STRING)) AS label",
      "named_struct('a', id, 'b', CAST(id AS STRING)) AS st",
      "id AS x", "CAST(NULL AS INT) AS d", "id AS gone"),
      root, overwrite = false, 700L, 1)
    val t = spark.read.format("snapshotlog").load(root)
    for (cols <- Seq(Seq("k", "label", "x", "d", "gone"), Seq("k", "st"),
                     Seq("d", "label"), Seq("x", "d"))) {
      val vec = t.select(cols.map(col): _*)
      assert(batchScan(vec).supportsColumnar, cols.mkString(","))
      // `_file` forces the row reader; dropped after the read
      val row = t.select((cols :+ "_file").map(col): _*)
      assert(!batchScan(row).supportsColumnar)
      assert(rows(vec) === row.collect().map(r =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq.init).toString).sorted.toSeq,
        cols.mkString(","))
    }
    val got = t.select("k", "label", "x", "d", "gone", "st.a")
      .as[(Long, String, Option[Long], Option[Int], Option[Long], Long)]
      .collect().sortBy(_._1)
    assert(got.toSeq === (0L until 40L).map(k =>
      if (k < 30) (k, s"s$k", None, Some(7), None, k)
      else (k, s"s$k", Some(k), None, Some(k), k)))
    // the compaction input takes the same reader and answers
    SnapshotLog.rewriteDataFiles(spark, root, 800L)
    assert(rows(SnapshotLog.read(spark, root).select("k", "label", "x", "d", "gone"))
      === rows(t.select("k", "label", "x", "d", "gone")))
  }

  test("small files share a task; deletes, renames and input_file_name() " +
       "stay per file") {
    val root = freshRoot("packed")
    SnapshotLog.commit(spark.range(0, 600).selectExpr("id AS k", "id % 7 AS g"),
      root, overwrite = true, 100L, 60)
    SnapshotLog.renameColumn(spark, root, "g", "grp", 200L)
    SnapshotLog.deleteWhereMoR(spark, root, col("k") % 5 === 0, 300L)
    SnapshotLog.deleteEqualityMoR(spark, root, Seq(3L).toDF("grp"), 400L)
    def norm(p: String) = p.replaceFirst("^file:/*", "/")
    val files = SnapshotLog.snapshots(spark, root).last.files.map(norm).toSet
    assert(files.size === 60)
    val expected = (0L until 600L).filterNot(k => k % 5 == 0 || k % 7 == 3)
    val t = spark.read.format("snapshotlog").load(root)
    for (df <- Seq(t, t.select("k", "grp", "_file"), SnapshotLog.read(spark, root))) {
      val tasks = batchScan(df).inputRDD.getNumPartitions
      assert(tasks < 60, s"$tasks tasks for 60 small files")
      assert(keys(df) === expected)
      val perFile = df.groupBy(input_file_name().as("f")).count()
        .as[(String, Long)].collect()
      assert(perFile.map(p => norm(p._1)).toSet === files)
    }
    assert(t.select(col("_file"), input_file_name().as("f")).as[(String, String)]
      .collect().forall { case (a, b) => norm(a) == norm(b) })
  }

  test("input_file_name() names each row's data file on snapshot scans") {
    val root = freshRoot("ifn")
    SnapshotLog.commit(spark.range(0, 40).toDF("k"), root,
      overwrite = true, 100L, 2)
    SnapshotLog.commit(spark.range(40, 60).toDF("k"), root,
      overwrite = false, 200L, 1)
    def norm(p: String) = p.replaceFirst("^file:/*", "/")
    val files = SnapshotLog.snapshots(spark, root).last.files.map(norm).toSet
    val viaFormat = spark.read.format("snapshotlog").load(root)
    // columnar reader (plain projection) and row reader (`_file` forces it)
    for (df <- Seq(viaFormat, viaFormat.select("k", "_file"),
                   SnapshotLog.read(spark, root))) {
      val perFile = df.groupBy(input_file_name().as("f")).count()
        .as[(String, Long)].collect()
      assert(perFile.map(p => norm(p._1)).toSet === files)
      assert(perFile.map(_._2).sum === 60L)
    }
  }

  test("readPruned after a merge-on-read delete returns only live rows") {
    val root = freshRoot("pruned_mor")
    SnapshotLog.commit(spark.range(0, 100).toDF("k"), root,
      overwrite = true, 100L, 2)
    SnapshotLog.deleteWhereMoR(spark, root, col("k") % 2 === 0, 200L)
    assert(SnapshotLog.read(spark, root).count() === 50)
    val pruned = SnapshotLog.readPruned(spark, root, "k", 0L, 99L)
    assert(keys(pruned) === (1L until 100L by 2).toSeq)
  }

  test("readPruned and readIncremental hide a dropped column") {
    val root = freshRoot("dropped")
    SnapshotLog.commit(Seq((1L, "s1"), (2L, "s2")).toDF("k", "secret"), root,
      overwrite = true, 100L)
    SnapshotLog.commit(Seq((3L, "s3")).toDF("k", "secret"), root,
      overwrite = false, 200L)
    SnapshotLog.dropColumn(spark, root, "secret", 300L)
    assert(SnapshotLog.read(spark, root).columns.toSeq === Seq("k"))
    val pruned = SnapshotLog.readPruned(spark, root, "k", 0L, 10L)
    assert(pruned.columns.toSeq === Seq("k"))
    assert(keys(pruned) === Seq(1L, 2L, 3L))
    val inc = SnapshotLog.readIncremental(spark, root, fromVersion = 1)
    assert(inc.columns.toSeq === Seq("k"))
    assert(keys(inc) === Seq(3L))
  }

  test("readPruned after renameColumn filters on the new name and reads " +
       "the pre-rename files") {
    val root = freshRoot("renamed")
    SnapshotLog.commit(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"),
      root, overwrite = true, 100L, 1)
    SnapshotLog.renameColumn(spark, root, "v", "w", 200L)
    SnapshotLog.commit(Seq((4L, 40L)).toDF("k", "w"), root,
      overwrite = false, 300L, 1)
    val got = SnapshotLog.readPruned(spark, root, "w", 15L, 40L)
    assert(got.columns.toSeq === Seq("k", "w"))
    assert(got.as[(Long, Long)].collect().sorted.toSeq ===
      Seq((2L, 20L), (3L, 30L), (4L, 40L)))
  }

  test("readIncremental with skipNonAppends over a merge-on-read delete " +
       "matches the fromVersion option") {
    val root = freshRoot("inc_mor")
    SnapshotLog.commit(spark.range(0, 10).toDF("k"), root,
      overwrite = true, 100L, 1)                                   // v1
    SnapshotLog.commit(spark.range(10, 20).toDF("k"), root,
      overwrite = false, 200L, 1)                                  // v2
    SnapshotLog.deleteWhereMoR(spark, root, col("k") >= 15, 300L)  // v3
    val inc = SnapshotLog.readIncremental(spark, root, fromVersion = 1,
      skipNonAppends = true)
    val opt = spark.read.format("snapshotlog")
      .option("fromVersion", "1").option("skipNonAppends", "true").load(root)
    assert(keys(inc) === keys(opt))
    assert(keys(inc) === (10L until 15L).toSeq)
  }

  test("reads over equality-delete files plan no delete join") {
    val root = freshRoot("eq_joins")
    SnapshotLog.commit(
      spark.range(0, 300).selectExpr("id AS k", "id % 10 AS grp"), root,
      overwrite = true, 100L, 2)
    SnapshotLog.deleteEqualityMoR(spark, root, Seq(1L).toDF("grp"), 200L)
    SnapshotLog.deleteEqualityMoR(spark, root, Seq(2L).toDF("grp"), 300L)
    SnapshotLog.deleteEqualityMoR(spark, root, Seq(3L).toDF("grp"), 400L)
    val expected = (0L until 300L).filterNot(k => Set(1L, 2L, 3L)(k % 10))

    val read = SnapshotLog.read(spark, root)
    assert(joins(read.queryExecution.optimizedPlan) === 0)
    assert(keys(read) === expected)

    val chg = SnapshotLog.changes(spark, root, fromVersion = 0)
    assert(joins(chg.queryExecution.optimizedPlan) === 0)
    assert(chg.filter(col("_change_type") === "insert").count() === 300L)

    // the compaction input: the plan of the write that stages its output
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.optimizedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SnapshotLog.rewriteDataFiles(spark, root, 500L)
      // the staging write (earlier queries may still be in delivery)
      def reads = seen.toArray(Array.empty[LogicalPlan]).filter(
        _.isInstanceOf[org.apache.spark.sql.execution.command.DataWritingCommand])
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (reads.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(reads.nonEmpty, "no compaction-input execution was observed")
      assert(reads.map(joins).sum === 0)
    } finally spark.listenerManager.unregister(listener)
    assert(keys(SnapshotLog.read(spark, root)) === expected)
    assert(SnapshotLog.snapshots(spark, root).last.dels.isEmpty)
  }
}
