package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.spark
import graft.sources.SnapshotLog

/** Regressions for the r16 advice findings.
  *
  * medium: `changes()` (and the streaming CDC source) silently corrupted
  * output for tables carrying a column literally named `_change_type`,
  * `_commit_version` or `_commit_ts_ms` — `withColumn` replaced the user
  * column with the meta value, vanishing user data and letting the net
  * aggregation cancel rows it shouldn't. Both paths now REFUSE such
  * schemas loudly (Delta CDF refuses the write; Iceberg reserves the
  * names — refusing at read keeps existing tables readable for non-CDC
  * paths).
  *
  * low: the additive-only append guard checked column NAMES but not
  * TYPES — an append redefining a shared column's dataType slid through
  * and silently retyped the table schema for every reader.
  *
  * low: `analyze()` registered `acd_intervals` into the shared session
  * FunctionRegistry permanently, clobbering any user function of that
  * name; it now uses a uuid-suffixed internal name dropped after use.
  */
class SnapshotAdviceR16Spec extends AnyFunSuite {
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val root = s"/tmp/graft_advice_r16_spec/$tag"
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(root), true)
    root
  }

  test("changes() refuses a table whose schema clashes with CDC meta columns") {
    val root = freshRoot("meta_clash")
    SnapshotLog.commit(
      spark.range(0, 10).selectExpr("id AS k", "id * 2 AS _commit_version"),
      root, overwrite = true, 100L, 1)
    SnapshotLog.commit(
      spark.range(10, 20).selectExpr("id AS k", "id * 2 AS _commit_version"),
      root, overwrite = false, 200L, 1)
    val e = intercept[IllegalArgumentException] {
      SnapshotLog.changes(spark, root, 0).collect()
    }
    assert(e.getMessage.contains("_commit_version"))
    assert(e.getMessage.toLowerCase.contains("reserved"))
    // the non-CDC read path stays fully usable
    assert(spark.read.format("snapshotlog").load(root).count() === 20)
  }

  test("snapshotlog-cdc stream refuses a meta-column clash at schema time") {
    val root = freshRoot("meta_clash_stream")
    SnapshotLog.commit(
      spark.range(0, 5).selectExpr("id AS k", "'x' AS _change_type"),
      root, overwrite = true, 100L, 1)
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("snapshotlog-cdc").load(root)
    }
    assert(e.getMessage.contains("_change_type"))
  }

  test("append that retypes a shared column is refused (not silently retyped)") {
    val root = freshRoot("retype_guard")
    SnapshotLog.commit(
      spark.range(0, 100).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"),
      root, overwrite = true, 100L, 1)
    val e = intercept[SnapshotLog.CommitConflictException] {
      SnapshotLog.commit(
        spark.range(100, 200).selectExpr("id AS k", "CAST(id AS STRING) AS v"),
        root, overwrite = false, 200L, 1)
    }
    assert(e.getMessage.contains("v (table double vs append string)"))
    // the table is untouched: still 100 rows, v still double
    val t = spark.read.format("snapshotlog").load(root)
    assert(t.count() === 100)
    assert(t.schema("v").dataType === org.apache.spark.sql.types.DoubleType)
    // additive append (same types + a genuinely new column) still lands
    SnapshotLog.commit(
      spark.range(100, 150).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v", "id % 3 AS extra"),
      root, overwrite = false, 300L, 1)
    assert(spark.read.format("snapshotlog").load(root).count() === 150)
  }

  test("partitioned append that retypes a shared column is refused like " +
       "a flat one") {
    val root = freshRoot("retype_guard_partitioned")
    val spec = Seq("k" -> "bucket[4]")
    SnapshotLog.commitPartitioned(
      spark.range(0, 100).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"),
      root, spec, overwrite = true, 100L)
    val e = intercept[SnapshotLog.CommitConflictException] {
      SnapshotLog.commitPartitioned(
        spark.range(100, 200).selectExpr("id AS k", "CAST(id AS STRING) AS v"),
        root, spec, overwrite = false, 200L)
    }
    assert(e.getMessage.contains("v (table double vs append string)"))
    val t = spark.read.format("snapshotlog").load(root)
    assert(t.count() === 100)
    assert(t.schema("v").dataType === org.apache.spark.sql.types.DoubleType)
  }

  test("nested retype inside a struct is refused; nested field ADD is not") {
    val root = freshRoot("nested_retype")
    SnapshotLog.commit(
      spark.range(0, 10).selectExpr(
        "id AS k", "named_struct('a', id, 'b', CAST(id AS DOUBLE)) AS s"),
      root, overwrite = true, 100L, 1)
    // struct field b retyped double -> string: refused at any depth
    val e = intercept[SnapshotLog.CommitConflictException] {
      SnapshotLog.commit(
        spark.range(10, 20).selectExpr(
          "id AS k", "named_struct('a', id, 'b', CAST(id AS STRING)) AS s"),
        root, overwrite = false, 200L, 1)
    }
    assert(e.getMessage.contains("redefines column type(s) s"))
    // struct field ADD (additive nested evolution) still lands
    SnapshotLog.commit(
      spark.range(10, 15).selectExpr(
        "id AS k",
        "named_struct('a', id, 'b', CAST(id AS DOUBLE), 'c', id + 1) AS s"),
      root, overwrite = false, 300L, 1)
    val t = spark.read.format("snapshotlog").load(root)
    assert(t.count() === 15)
    assert(t.filter("s.c IS NOT NULL").count() === 5)
  }

  test("analyze() does not clobber a user-defined acd_intervals function") {
    val root = freshRoot("registry_guard")
    SnapshotLog.commit(
      spark.range(0, 2000).selectExpr("id AS k", "CAST(id % 97 AS DOUBLE) AS v"),
      root, overwrite = true, 100L, 2)
    // a user function squatting on the old internal name
    spark.udf.register("acd_intervals", (x: Long) => x + 41L)
    try {
      SnapshotLog.analyze(spark, root)
      // the user's function survives ANALYZE (the old code permanently
      // replaced it with the 2-arg catalyst aggregate builder)
      val out = spark.sql("SELECT acd_intervals(1L) AS r").head().getLong(0)
      assert(out === 42L)
      // and no uuid-suffixed internal leftovers remain registered
      val leftovers = spark.sessionState.functionRegistry.listFunction()
        .map(_.funcName).filter(_.startsWith("__graft_acd_"))
      assert(leftovers.isEmpty, s"leaked internal functions: $leftovers")
      // histograms still computed (the rename didn't break the pass)
      val (_, _, cols) = SnapshotLog.colStatsFor(spark, root, 1).get
      assert(cols.get("v").exists(_.hist.isDefined),
        "ANALYZE no longer produces histograms")
    } finally spark.sessionState.functionRegistry.dropFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("acd_intervals"))
  }
}
