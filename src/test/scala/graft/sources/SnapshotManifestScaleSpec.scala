package graft.sources

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.spark

/** Driver-side manifest planning cost at large file counts.
  *
  * The manifest is O(files) JSON parsed on the driver — the known
  * scaling ceiling of this single-manifest design (SURVEY §2.11 records
  * the manifest-LIST sharding design that lifts it, à la Iceberg). This
  * spec pins the measured constant: at 10⁴ files (≈ a 1-10 TB table at
  * healthy 128 MB-1 GB file sizes), parse + full stats-prune must stay
  * well under a second — planning is metadata-bound, never a data scan.
  */
class SnapshotManifestScaleSpec extends AnyFunSuite {

  test("10k-file manifest: parse + stats-prune well under a second") {
    val root = "/tmp/graft_snaplog_spec/manifest10k"
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(root), true)

    val n = 10000
    val files = (0 until n).map(i => f"$root/data/synth/part-$i%05d.parquet")
    // disjoint per-file key ranges: [1000i, 1000i+999]
    val stats = files.zipWithIndex.map { case (f, i) =>
      SnapshotLog.norm(f) -> Map[String, (Any, Any)](
        "k" -> (Long.box(i * 1000L), Long.box(i * 1000L + 999L)))
    }.toMap
    val sizes = files.map(f => SnapshotLog.norm(f) -> (128L << 20)).toMap
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType))).json
    SnapshotLog.commitManifest(SnapshotLog.fsFor(spark, new Path(root)),
      root, SnapshotLog.Snapshot(1, "append", 1000L, schemaJson, files, stats, sizes))

    // cold parse
    val t0 = System.nanoTime()
    val snap = SnapshotLog.snapshots(spark, root).last
    val parseS = (System.nanoTime() - t0) / 1e9
    assert(snap.files.size === n)

    // full prune pass over all 10⁴ file stats
    val t1 = System.nanoTime()
    val kept = SnapshotLogScanBuilder.prune(snap, snap.files,
      Array(org.apache.spark.sql.sources.And(
        org.apache.spark.sql.sources.GreaterThanOrEqual("k", 5000000L),
        org.apache.spark.sql.sources.LessThan("k", 5010000L))))
    val pruneS = (System.nanoTime() - t1) / 1e9
    assert(kept.size === 10, s"expected 10 of $n files kept, got ${kept.size}")

    info(f"manifest10k: parse=$parseS%.3fs prune=$pruneS%.3fs")
    assert(parseS < 1.0, f"manifest parse took $parseS%.2fs at $n files")
    assert(pruneS < 1.0, f"stats prune took $pruneS%.2fs at $n files")
  }

  test("100k-file SHARDED manifest: cold parse, warm re-parse, prune, and " +
       "append cost all bounded") {
    val root = "/tmp/graft_snaplog_spec/manifest100k"
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(root), true)

    val n = 100000
    val files = (0 until n).map(i => f"$root/data/synth/part-$i%06d.parquet")
    val stats = files.zipWithIndex.map { case (f, i) =>
      SnapshotLog.norm(f) -> Map[String, (Any, Any)](
        "k" -> (Long.box(i * 1000L), Long.box(i * 1000L + 999L)))
    }.toMap
    val sizes = files.map(f => SnapshotLog.norm(f) -> (512L << 20)).toMap
    val rows = files.map(f => SnapshotLog.norm(f) -> 1000000L).toMap
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType))).json
    val t0 = System.nanoTime()
    SnapshotLog.commitManifest(SnapshotLog.fsFor(spark, new Path(root)),
      root, SnapshotLog.Snapshot(1, "append", 1000L, schemaJson, files, stats,
        sizes, rows = rows))
    val commitS = (System.nanoTime() - t0) / 1e9

    // the version manifest itself must be SMALL (entries live in the shard)
    val mSize = fs.getFileStatus(
      new Path(s"$root/_log/v00001.json")).getLen
    assert(mSize < (64 << 10),
      s"sharded version manifest should be kb-scale, was $mSize bytes")
    assert(fs.listStatus(new Path(s"$root/_log")).exists(
      _.getPath.getName.startsWith("shard-")), "expected a shard file")

    // cold parse (shard cache may hold the commit-time parse — drop it
    // by parsing in a fresh state: measure what a new driver would pay)
    val t1 = System.nanoTime()
    val snap = SnapshotLog.snapshots(spark, root).last
    val parseS = (System.nanoTime() - t1) / 1e9
    assert(snap.files.size === n)
    assert(snap.rows.size === n)

    // warm re-parse: content-addressed snapshot cache
    val t2 = System.nanoTime()
    val snap2 = SnapshotLog.snapshots(spark, root).last
    val warmS = (System.nanoTime() - t2) / 1e9
    assert(snap2.files.size === n)

    // full stats-prune over all 10^5 per-file entries
    val t3 = System.nanoTime()
    val kept = SnapshotLogScanBuilder.prune(snap, snap.files,
      Array(org.apache.spark.sql.sources.And(
        org.apache.spark.sql.sources.GreaterThanOrEqual("k", 50000000L),
        org.apache.spark.sql.sources.LessThan("k", 50010000L))))
    val pruneS = (System.nanoTime() - t3) / 1e9
    assert(kept.size === 10, s"expected 10 of $n kept, got ${kept.size}")

    // append 100 files on top: commit must be O(new + shards), and the
    // new version's manifest must REUSE the existing shard
    val newFiles = (0 until 100).map(i => f"$root/data/synth2/part-$i%05d.parquet")
    val newStats = newFiles.zipWithIndex.map { case (f, i) =>
      SnapshotLog.norm(f) -> Map[String, (Any, Any)](
        "k" -> (Long.box(1000000000L + i), Long.box(1000000000L + i)))
    }.toMap
    val t4 = System.nanoTime()
    SnapshotLog.commitManifest(SnapshotLog.fsFor(spark, new Path(root)),
      root, SnapshotLog.Snapshot(2, "append", 2000L, schemaJson,
        files ++ newFiles, stats ++ newStats,
        sizes ++ newFiles.map(f => SnapshotLog.norm(f) -> (128L << 20)).toMap,
        parent = 1,
        rows = rows ++ newFiles.map(f => SnapshotLog.norm(f) -> 1000L).toMap))
    val appendS = (System.nanoTime() - t4) / 1e9
    val head = SnapshotLog.snapshots(spark, root).last
    assert(head.files.size === n + 100)
    assert(head.shardPaths.size === 2, // 100k = 2 capped shards, reused
      s"append should reuse the parent shards, got ${head.shardPaths.size}")
    val m2Size = fs.getFileStatus(new Path(s"$root/_log/v00002.json")).getLen
    assert(m2Size < (64 << 10),
      s"append manifest should stay kb-scale, was $m2Size bytes")

    info(f"manifest100k: commit=$commitS%.2fs parse=$parseS%.2fs " +
      f"warm=$warmS%.3fs prune=$pruneS%.2fs append=$appendS%.2fs " +
      f"manifest=${mSize / 1024}KB append-manifest=${m2Size / 1024}KB")
    assert(parseS < 2.5, f"cold sharded parse took $parseS%.2fs at $n files")
    assert(warmS < 0.1, f"warm re-parse took $warmS%.3fs — cache miss?")
    assert(pruneS < 1.5, f"stats prune took $pruneS%.2fs at $n files")
    assert(appendS < 2.5, f"append commit took $appendS%.2fs at $n files")
  }
}
