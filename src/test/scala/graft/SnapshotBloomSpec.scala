package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.spark
import graft.sources.SnapshotLog

/** Per-file bloom filters for point-lookup file skipping.
  *
  * The scenario min/max stats provably cannot serve: a high-cardinality
  * UNSORTED key (md5 strings) — every file's min/max spans the key space,
  * so a needle probe keeps every file on stats alone. With
  * `write.bloom.columns` set, commits record a per-file bloom sidecar and
  * the planner skips files whose bloom proves the key absent.
  */
class SnapshotBloomSpec extends AnyFunSuite {
  import spark.implicits._
  import scala.jdk.CollectionConverters._

  private def freshRoot(tag: String): String = {
    val root = s"/tmp/graft_bloom_spec/$tag"
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(root), true)
    root
  }

  private def filesPlanned(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[graft.sources.SnapshotLogScan].keptFiles.size
    }.head

  /** 4 commits × 4 files of md5-keyed rows: keys are uniformly scattered,
    * so every file's (min, max) spans ~the whole space. */
  private def buildNeedleTable(root: String, withBlooms: Boolean): Unit = {
    val df = spark.range(0, 8000).selectExpr("md5(cast(id AS string)) AS k",
      "id AS v")
    SnapshotLog.commit(df.filter("v % 4 = 0"), root, overwrite = true, 100L, 4)
    if (withBlooms)
      SnapshotLog.setTableProps(spark, root,
        Map("write.bloom.columns" -> "k"))
    for (i <- 1 to 3)
      SnapshotLog.commit(df.filter(s"v % 4 = $i"), root, overwrite = false,
        100L * (i + 1), 4)
  }

  test("needle probe on an unsorted high-card key: bloom prunes, stats cannot") {
    val root = freshRoot("needle")
    buildNeedleTable(root, withBlooms = true)
    val t = spark.read.format("snapshotlog").load(root)
    assert(t.count() === 8000)

    // absent key: commits 2..4 carry blooms (12 files) — all 12 pruned;
    // the 4 property-less v1 files stay (conservative)
    val miss = t.filter(col("k") === md5(lit("no-such-key")))
    assert(filesPlanned(miss) <= 4,
      s"bloom should prune all bloom-covered files on a miss, " +
        s"planned ${filesPlanned(miss)}/16")
    assert(miss.count() === 0)

    // present key (v=4001 → commit 2, bloom-covered): exactly its file
    // survives among the covered ones + the 4 uncovered v1 files
    val hitKey = spark.range(4001, 4002)
      .selectExpr("md5(cast(id AS string)) AS k").head().getString(0)
    val hit = t.filter(col("k") === hitKey)
    assert(filesPlanned(hit) <= 5,
      s"bloom should keep ~1 covered file on a hit, planned ${filesPlanned(hit)}")
    assert(hit.select("v").as[Long].head() === 4001L)

    // control: the SAME layout without blooms keeps every file
    val root2 = freshRoot("needle_ctl")
    buildNeedleTable(root2, withBlooms = false)
    val ctl = spark.read.format("snapshotlog").load(root2)
      .filter(col("k") === md5(lit("no-such-key")))
    assert(filesPlanned(ctl) === 16,
      "without blooms an unsorted high-card probe keeps every file")
  }

  test("no false negatives: every present key is found under bloom pruning") {
    val root = freshRoot("no_fn")
    buildNeedleTable(root, withBlooms = true)
    val t = spark.read.format("snapshotlog").load(root)
    // probe a spread of present keys, every residency class
    val probes = Seq(1L, 777L, 4001L, 7999L, 6002L, 3L)
    probes.foreach { v =>
      val k = spark.range(v, v + 1)
        .selectExpr("md5(cast(id AS string)) AS k").head().getString(0)
      val got = t.filter(col("k") === k).select("v").as[Long].collect()
      assert(got.toSeq === Seq(v), s"bloom false-negative for v=$v")
    }
    // IN-list probe mixing present and absent keys
    val inKeys = Seq("5", "4002").map(s =>
      spark.sql(s"SELECT md5('$s')").head().getString(0)) :+ "absent"
    val rows = t.filter(col("k").isin(inKeys: _*)).select("v")
      .as[Long].collect().sorted
    assert(rows.toSeq === Seq(5L, 4002L))
  }

  test("false-positive rate on absent probes stays small (~1% at 10 bits/key)") {
    val root = freshRoot("fpp")
    buildNeedleTable(root, withBlooms = true)
    val t = spark.read.format("snapshotlog").load(root)
    // 200 absent keys; count bloom-covered files kept (subtract the 4
    // uncovered v1 files each probe keeps unconditionally)
    var keptCovered = 0
    for (i <- 0 until 200) {
      val miss = t.filter(col("k") === md5(lit(s"absent-$i")))
      keptCovered += math.max(0, filesPlanned(miss) - 4)
    }
    val fpp = keptCovered.toDouble / (200 * 12)
    assert(fpp < 0.05, s"bloom fpp too high: $fpp (kept $keptCovered/2400)")
  }

  test("chunked sidecar build: batch size 1 publishes one sidecar per " +
       "file and prunes identically to the single-pass build") {
    val root = freshRoot("batched")
    val df = spark.range(0, 8000).selectExpr("md5(cast(id AS string)) AS k",
      "id AS v")
    SnapshotLog.commit(df.filter("v % 4 = 0"), root, overwrite = true, 100L, 4)
    SnapshotLog.setTableProps(spark, root, Map(
      "write.bloom.columns" -> "k",
      "write.bloom.build-batch-files" -> "1")) // worst-case batching
    for (i <- 1 to 3)
      SnapshotLog.commit(df.filter(s"v % 4 = $i"), root, overwrite = false,
        100L * (i + 1), 4)
    // 3 bloom-armed commits × 4 files × batch 1 = 12 sidecars (the
    // single-pass build writes 3) — the batch arithmetic, executed
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val sidecars = fs.listStatus(new Path(root, "blooms"))
      .count(s => s.getPath.getName.startsWith("b-") &&
        s.getPath.getName.endsWith(".json"))
    assert(sidecars === 12, s"expected one sidecar per file-batch, got $sidecars")
    import graft.sources.SnapshotBlooms
    assert(SnapshotBlooms.batchCountFor(4, 1) === 4)
    assert(SnapshotBlooms.batchCountFor(100000, 1024) === 98)
    assert(SnapshotBlooms.batchCountFor(1024, 1024) === 1)
    assert(SnapshotBlooms.batchCountFor(0, 1024) === 0)
    // pruning equivalence with the single-sidecar build (`needle` test):
    // a miss prunes every covered file; a hit keeps its one covered file
    val t = spark.read.format("snapshotlog").load(root)
    val miss = t.filter(col("k") === md5(lit("no-such-key")))
    assert(filesPlanned(miss) <= 4, s"planned ${filesPlanned(miss)}/16")
    assert(miss.count() === 0)
    val hitKey = spark.range(4001, 4002)
      .selectExpr("md5(cast(id AS string)) AS k").head().getString(0)
    val hit = t.filter(col("k") === hitKey)
    assert(filesPlanned(hit) <= 5, s"planned ${filesPlanned(hit)}")
    assert(hit.select("v").as[Long].head() === 4001L)
  }

  test("rename keeps bloom pruning correct through field ids") {
    val root = freshRoot("rename")
    buildNeedleTable(root, withBlooms = true)
    SnapshotLog.renameColumn(spark, root, "k", "key", 9000L)
    val t = spark.read.format("snapshotlog").load(root)
    val miss = t.filter(col("key") === md5(lit("no-such-key")))
    assert(filesPlanned(miss) <= 4,
      "bloom pruning must survive a rename (field-id rekey)")
    assert(miss.count() === 0)
    val k = spark.sql("SELECT md5('4001')").head().getString(0)
    assert(t.filter(col("key") === k).select("v").as[Long].head() === 4001L)
  }

  test("compaction regenerates bloom coverage; expiry reclaims dead sidecars") {
    val root = freshRoot("compact")
    buildNeedleTable(root, withBlooms = true)
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val preSidecars = fs.listStatus(new Path(root, "blooms")).length
    assert(preSidecars === 3, s"3 bloom'd commits => 3 sidecars, got $preSidecars")

    val v = SnapshotLog.rewriteDataFiles(spark, root, commitTsMs = 10000L,
      targetBytes = 1L << 30)
    SnapshotLog.expireSnapshots(spark, root, v)
    // all pre-compaction files died => their sidecars reclaimed; the
    // rewrite's own sidecar arrived
    val postSidecars = fs.listStatus(new Path(root, "blooms")).length
    assert(postSidecars === 1,
      s"expiry should reclaim dead sidecars, keep the rewrite's: $postSidecars")

    val t = spark.read.format("snapshotlog").load(root)
    assert(t.count() === 8000)
    val total = SnapshotLog.snapshots(spark, root).last.files.size
    val miss = t.filter(col("k") === md5(lit("no-such-key")))
    assert(filesPlanned(miss) < total,
      "post-compaction files must carry fresh blooms")
    assert(miss.count() === 0)
    val k = spark.sql("SELECT md5('123')").head().getString(0)
    assert(t.filter(col("k") === k).select("v").as[Long].head() === 123L)
  }

  test("row-level DML rewrites regenerate bloom coverage (SQL UPDATE)") {
    val wh = "/tmp/graft_snap_warehouse"
    val ns = "bloomdml"
    val root = s"$wh/$ns/t"
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(root), true)
    spark.sql(s"DROP TABLE IF EXISTS snap.$ns.t")
    spark.sql(s"CREATE TABLE snap.$ns.t AS " +
      "SELECT md5(cast(id AS string)) AS k, id AS v FROM range(0, 4000)")
    SnapshotLog.setTableProps(spark, root,
      Map("write.bloom.columns" -> "k"))
    // re-commit under the property so every file is covered
    SnapshotLog.rewriteDataFiles(spark, root,
      SnapshotLog.snapshots(spark, root).last.commitTsMs + 1000,
      targetBytes = 1L << 30, smallBytes = Long.MaxValue) // rewrite ALL
    // copy-on-write UPDATE rewrites the touched file(s)
    spark.sql(s"UPDATE snap.$ns.t SET v = v + 1 WHERE v % 100 = 7")
    val t = spark.read.format("snapshotlog").load(root)
    val total = SnapshotLog.snapshots(spark, root).last.files.size
    val miss = t.filter(col("k") === md5(lit("absent")))
    assert(filesPlanned(miss) === 0,
      s"DML-rewritten files must carry fresh blooms " +
        s"(planned ${filesPlanned(miss)}/$total):\n")
    // correctness: updated row found under its (unchanged) key
    val k7 = spark.sql("SELECT md5('7')").head().getString(0)
    assert(t.filter(col("k") === k7).select("v").as[Long].head() === 8L)
  }

  test("merge-on-read update and upsert index their new files: nothing " +
       "is left for rebuildFileIndexes to backfill") {
    // rooted inside the snap-catalog warehouse so the copy-on-write step
    // can run as real SQL (DELETE FROM snap.bloom_mor_index.t ...)
    val root = "/tmp/graft_snap_warehouse/bloom_mor_index/t"
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new Path(root), true)
    def rows(lo: Long, hi: Long) = spark.range(lo, hi)
      .selectExpr("md5(cast(id AS string)) AS k", "id AS v")
    SnapshotLog.commit(rows(0, 200), root, overwrite = true, 100L, 2)
    SnapshotLog.setTableProps(spark, root, Map("write.bloom.columns" -> "k"))
    assert(SnapshotLog.rebuildFileIndexes(spark, root)._1 > 0,
      "the pre-property files need a backfill")
    SnapshotLog.updateWhereMoR(spark, root, col("v") % 10 === 3,
      Map("v" -> (col("v") + 1000L)), 200L)
    assert(SnapshotLog.rebuildFileIndexes(spark, root) === ((0, 0)),
      "the update's new file must carry its bloom")
    SnapshotLog.upsertEqualityMoR(spark, root, rows(150, 250), Seq("k"), 300L)
    assert(SnapshotLog.rebuildFileIndexes(spark, root) === ((0, 0)),
      "the upsert's new file must carry its bloom")
    assert(spark.read.format("snapshotlog").load(root).count() === 250)
    // copy-on-write DELETE (no write.delete.mode): the stat-touched
    // original files are rewritten without rows 0..19 (3 and 13 moved to
    // the update's fragment)
    spark.sql("DELETE FROM snap.bloom_mor_index.t WHERE v < 20")
    assert(SnapshotLog.snapshots(spark, root).last.operation === "delete")
    assert(SnapshotLog.rebuildFileIndexes(spark, root) === ((0, 0)),
      "the copy-on-write delete's rewritten files must carry their bloom")
    assert(spark.read.format("snapshotlog").load(root).count() === 232)
  }

  test(".blooms metadata table inventories live covered (file, column) pairs") {
    val wh = "/tmp/graft_snap_warehouse"
    val ns = "bloommeta"
    val root = s"$wh/$ns/t"
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(root), true)
    spark.sql(s"DROP TABLE IF EXISTS snap.$ns.t")
    spark.sql(s"CREATE TABLE snap.$ns.t AS " +
      "SELECT md5(cast(id AS string)) AS k, id AS v FROM range(0, 100)")
    SnapshotLog.setTableProps(spark, root, Map("write.bloom.columns" -> "k"))
    SnapshotLog.commit(spark.range(100, 200).selectExpr(
      "md5(cast(id AS string)) AS k", "id AS v"), root,
      overwrite = false, 99999L, 2)
    val rows = spark.sql(s"SELECT * FROM snap.$ns.t.blooms").collect()
    assert(rows.length === 2, "2 covered files expected")
    assert(rows.forall(_.getAs[String]("column") == "k"))
    assert(rows.forall(_.getAs[Long]("bloom_bits") > 0))
    val total = SnapshotLog.snapshots(spark, root).last.files.size
    assert(rows.length < total, "v1 (pre-property) files are uncovered")
  }

  test("parquet-native blooms are written into the data files (task-level tier)") {
    val root = freshRoot("native")
    SnapshotLog.commit(spark.range(0, 10).selectExpr(
      "md5(cast(id AS string)) AS k", "id AS v"), root, overwrite = true, 100L, 1)
    SnapshotLog.setTableProps(spark, root, Map("write.bloom.columns" -> "k"))
    SnapshotLog.commit(spark.range(10, 2000).selectExpr(
      "md5(cast(id AS string)) AS k", "id AS v"), root, overwrite = false, 200L, 1)
    val snaps = SnapshotLog.snapshots(spark, root)
    // v1 (pre-property): no native bloom; v2: native bloom present
    assert(bloomOffsets(snaps.head.files, "k").forall(_ < 0))
    assert(bloomOffsets(snaps.last.files.diff(snaps.head.files), "k").forall(_ >= 0))
  }

  /** Footer bloom-filter offset of column `c` in every row group of
    * `files` (-1: no native bloom). */
  private def bloomOffsets(files: Seq[String], c: String): Seq[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    files.flatMap { f =>
      val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(f), conf))
      try rdr.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala
        .filter(_.getPath.toDotString == c).map(_.getBloomFilterOffset)).toSeq
      finally rdr.close()
    }
  }

  test("compaction and copy-on-write DELETE keep the parquet-native blooms") {
    // inside the snap-catalog warehouse so the DELETE runs as real SQL
    val root = "/tmp/graft_snap_warehouse/bloom_native_rewrite/t"
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new Path(root), true)
    def rows(lo: Long, hi: Long) = spark.range(lo, hi)
      .selectExpr("md5(cast(id AS string)) AS s", "id AS v")
    SnapshotLog.commit(rows(0, 500), root, overwrite = true, 100L, 1)
    SnapshotLog.setTableProps(spark, root, Map("write.bloom.columns" -> "s"))
    SnapshotLog.commit(rows(500, 1000), root, overwrite = false, 200L, 1)
    val before = SnapshotLog.snapshots(spark, root).last
    SnapshotLog.rewriteDataFiles(spark, root, 300L)
    val compacted = SnapshotLog.snapshots(spark, root).last
    assert(compacted.operation === "rewrite")
    val outs = compacted.files.diff(before.files)
    assert(outs.nonEmpty)
    assert(bloomOffsets(outs, "s").forall(_ >= 0), "compacted file lost its bloom")
    spark.sql("DELETE FROM snap.bloom_native_rewrite.t WHERE v < 20")
    val deleted = SnapshotLog.snapshots(spark, root).last
    assert(deleted.operation === "delete")
    val rewritten = deleted.files.diff(compacted.files)
    assert(rewritten.nonEmpty)
    assert(bloomOffsets(rewritten, "s").forall(_ >= 0), "rewritten file lost its bloom")
    assert(spark.read.format("snapshotlog").load(root).count() === 980)
  }
}
