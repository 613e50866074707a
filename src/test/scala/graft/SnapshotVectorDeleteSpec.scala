package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.spark
import graft.sources.SnapshotLog

/** Delete-aware vectorized reads (r14): a file carrying merge-on-read
  * deletes must STAY on the ColumnarBatch path — positional deletes as a
  * per-batch ordinal skip, equality deletes as a key probe during the
  * batch copy — with results bit-identical to the row reader. Before
  * r14 one KB-scale delete file demoted every file of the scan to the
  * row reader until compaction.
  */
class SnapshotVectorDeleteSpec extends AnyFunSuite {
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val root = s"/tmp/graft_vecdel_spec/$tag"
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(root), true)
    root
  }

  private def columnar(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head.supportsColumnar

  test("positional MoR deletes stay columnar, results bit-identical") {
    val root = freshRoot("pos")
    SnapshotLog.commit(
      spark.range(0, 20000).selectExpr("id AS k", "CAST(id AS DOUBLE) * 0.5 AS v",
        "concat('t', id % 7) AS tag"),
      root, overwrite = true, 100L, 4)
    SnapshotLog.deleteWhereMoR(spark, root, col("k") % 97 === 0, 200L)
    val t = spark.read.format("snapshotlog").load(root)
    val q = t.select("k", "v", "tag")
    assert(columnar(q), "deletes must not demote the scan:\n" +
      q.queryExecution.executedPlan.toString)
    val expected = (0L until 20000L).filterNot(_ % 97 == 0)
    assert(q.count() === expected.size)
    val ks = q.select("k").as[Long].collect().sorted
    assert(ks === expected.toArray)
    assert(t.agg(sum(col("v"))).head().getDouble(0) ===
      expected.map(_ * 0.5).sum)
  }

  test("deletes spanning batch boundaries, incl. a fully-deleted batch") {
    val root = freshRoot("batches")
    // one ordered file: ordinal == k; batch capacity is 4096, so k<4096
    // empties the first batch entirely and k%1000==0 peppers the rest
    SnapshotLog.commit(
      spark.range(0, 10000, 1, 1).selectExpr("id AS k"),
      root, overwrite = true, 100L, 1)
    SnapshotLog.deleteWhereMoR(spark, root,
      col("k") < 4096 || col("k") % 1000 === 0, 200L)
    val t = spark.read.format("snapshotlog").load(root)
    assert(columnar(t.select("k")))
    val expected = (0L until 10000L)
      .filterNot(k => k < 4096 || k % 1000 == 0).toArray
    assert(t.select("k").as[Long].collect().sorted === expected)
  }

  test("equality deletes stay columnar, incl. when the projection prunes " +
       "the key columns (hidden extras) — null keys never match") {
    val root = freshRoot("eq")
    SnapshotLog.commit(
      spark.range(0, 5000).selectExpr(
        "id AS k",
        "CASE WHEN id % 10 = 9 THEN NULL ELSE concat('u', id % 100) END AS tag",
        "CAST(id AS DOUBLE) AS v"),
      root, overwrite = true, 100L, 3)
    // delete keys (k, tag) incl. a null-key row that must match nothing
    val keys = Seq(
      (7L, "u7"), (8L, "u8"), (107L, "u7"), (9L, null.asInstanceOf[String])
    ).toDF("k", "tag")
    SnapshotLog.deleteEqualityMoR(spark, root, keys, 200L)
    val t = spark.read.format("snapshotlog").load(root)
    // projection WITHOUT the key columns: the reader loads them as
    // hidden extras, probes, and drops them from the output batch
    val vOnly = t.select("v")
    assert(columnar(vOnly), "equality deletes must not demote the scan:\n" +
      vOnly.queryExecution.executedPlan.toString)
    val expected = (0L until 5000L).filter { id =>
      val tag = if (id % 10 == 9) null else s"u${id % 100}"
      !((id == 7L && tag == "u7") || (id == 8L && tag == "u8") ||
        (id == 107L && tag == "u7"))
    }
    assert(vOnly.as[Double].collect().sorted === expected.map(_.toDouble).toArray)
    // row 9 has a NULL tag: the (9, null) delete key must NOT remove it
    assert(t.filter(col("k") === 9L).count() === 1)
    // full projection agrees with the row-reader path (_file forces it)
    val viaRow = t.select("k", "_file").select("k").as[Long].collect().sorted
    val viaVec = t.select("k").as[Long].collect().sorted
    assert(viaVec === viaRow)
  }

  test("mixed positional + equality deletes on one table stay columnar " +
       "and agree with the bulk-read path") {
    val root = freshRoot("mixed")
    SnapshotLog.commit(
      spark.range(0, 8000).selectExpr("id AS k", "id % 50 AS grp",
        "CAST(id AS DOUBLE) AS v"),
      root, overwrite = true, 100L, 2)
    SnapshotLog.deleteWhereMoR(spark, root, col("k") % 31 === 0, 200L)
    SnapshotLog.deleteEqualityMoR(spark, root,
      Seq(3L, 17L, 44L).toDF("grp"), 300L)
    val t = spark.read.format("snapshotlog").load(root)
    val q = t.select("k", "v")
    assert(columnar(q))
    val dsv2 = q.select("k").as[Long].collect().sorted
    // `SnapshotLog.read` with `_file` projected: the row reader
    val bulk = SnapshotLog.read(spark, root).select("k", "_file")
      .as[(Long, String)].collect().map(_._1).sorted
    assert(dsv2 === bulk)
    val expected = (0L until 8000L)
      .filterNot(k => k % 31 == 0 || Set(3L, 17L, 44L).contains(k % 50)).toArray
    assert(dsv2 === expected)
  }

  test("an equality delete with a non-vector-canonical key type falls " +
       "back to the row reader and stays correct") {
    val root = freshRoot("bigdec")
    SnapshotLog.commit(
      spark.range(0, 100).selectExpr("id AS k",
        "CAST(id AS DECIMAL(25, 2)) AS amt"),
      root, overwrite = true, 100L)
    SnapshotLog.deleteEqualityMoR(spark, root,
      spark.range(0, 3).selectExpr("CAST(id AS DECIMAL(25, 2)) AS amt"), 200L)
    val t = spark.read.format("snapshotlog").load(root)
    val q = t.select("k")
    assert(!columnar(q),
      "precision>18 decimal eq-keys must take the row reader")
    assert(q.as[Long].collect().sorted === (3L until 100L).toArray)
  }

  test("delete-free files in the same scan pass through zero-copy " +
       "(count/sum over a partly-deleted multi-file table)") {
    val root = freshRoot("passthrough")
    SnapshotLog.commit(
      spark.range(0, 6000).selectExpr("id AS k"),
      root, overwrite = true, 100L, 3)
    // target ONE file's rows: delete a narrow ordinal range via predicate
    SnapshotLog.deleteWhereMoR(spark, root, col("k") === 1234L, 200L)
    val snap = SnapshotLog.snapshots(spark, root).last
    assert(snap.dels.size === 1, "only the hit file should carry a delete")
    val t = spark.read.format("snapshotlog").load(root)
    assert(columnar(t.select("k")))
    assert(t.count() === 5999L)
    assert(t.agg(sum("k")).head().getLong(0) ===
      (0L until 6000L).sum - 1234L)
  }
}
