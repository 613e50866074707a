package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.spark
import graft.sources.SnapshotLog

/** Regressions for the r15 advice findings.
  *
  * The high one: an equality delete staged AFTER a column rename keys on
  * the NEW name, but data files written BEFORE the rename store the OLD
  * physical name. The readers' name-based applicability check
  * (`fileFields.contains(key)`) silently dropped the delete for those
  * files, resurrecting deleted rows — and because the rename guard in
  * `columnarOk` only covered REQUIRED columns, a scan that pruned the
  * renamed key away stayed columnar and returned the wrong answer.
  * Fixed by resolving eq-delete key columns through the snapshot's
  * field-id map alongside the projection (physMapFor), which remaps the
  * probe of both readers.
  */
class SnapshotAdviceR15Spec extends AnyFunSuite {
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val root = s"/tmp/graft_advice_r15_spec/$tag"
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(root), true)
    root
  }

  private def columnar(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head.supportsColumnar

  test("equality delete staged AFTER a rename still deletes from " +
       "pre-rename files — even when the scan prunes the key column") {
    val root = freshRoot("eq_after_rename")
    SnapshotLog.commit(
      spark.range(0, 4000).selectExpr(
        "id AS k", "concat('u', id % 50) AS tag", "CAST(id AS DOUBLE) AS v"),
      root, overwrite = true, 100L, 3)
    // metadata-only rename: data files keep physical column name "tag"
    SnapshotLog.renameColumn(spark, root, "tag", "label", 200L)
    // the delete keys on the CURRENT name — its parquet schema says "label"
    SnapshotLog.deleteEqualityMoR(spark, root,
      Seq("u7", "u13").toDF("label"), 300L)
    val t = spark.read.format("snapshotlog").load(root)

    // the poison projection: key column pruned away entirely
    val pruned = t.select("k", "v")
    val expected = (0L until 4000L).filterNot(i => i % 50 == 7 || i % 50 == 13)
    assert(pruned.count() === expected.size,
      "deleted rows resurrected under a pruned projection")
    assert(pruned.select("k").as[Long].collect().sorted === expected.toArray)
    // both readers honor the field-id remap of an eq key, so the scan
    // stays on the vectorized reader
    assert(columnar(pruned),
      "scan over a renamed eq-delete key must stay vectorized")

    // projecting the renamed key works too, served under the new name
    val full = t.select("k", "label")
    assert(full.count() === expected.size)
    assert(full.where(col("label") === "u7").count() === 0)
    assert(full.where(col("label") === "u14").count() === 4000 / 50)
  }

  test("equality delete after rename: files written AFTER the rename " +
       "match by their own (new) physical name") {
    val root = freshRoot("eq_both_sides")
    SnapshotLog.commit(
      spark.range(0, 100).selectExpr("id AS k", "concat('a', id % 10) AS tag"),
      root, overwrite = true, 100L, 1)
    SnapshotLog.renameColumn(spark, root, "tag", "label", 200L)
    // post-rename append: this file physically stores "label"
    SnapshotLog.commit(
      spark.range(100, 200).selectExpr("id AS k", "concat('a', id % 10) AS label"),
      root, overwrite = false, 300L, 1)
    SnapshotLog.deleteEqualityMoR(spark, root, Seq("a3").toDF("label"), 400L)
    val t = spark.read.format("snapshotlog").load(root)
    // a3 rows must vanish from BOTH the pre-rename and post-rename file
    assert(t.count() === 200 - 20)
    assert(t.where(col("label") === "a3").count() === 0)
    assert(t.select("k").as[Long].collect().sorted ===
      (0L until 200L).filterNot(_ % 10 == 3).toArray)
  }
}
