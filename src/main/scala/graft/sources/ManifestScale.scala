package graft.sources

import org.apache.hadoop.fs.Path

import graft.Sessions

/** One-off driver-side measurement: manifest-list sharding cost at
  * 10^5 and 10^6 synthetic file entries (the 100-TB file-count decade).
  * Prints one JSON line per scale. */
private[sources] object ManifestScale {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    val scales = (if (args.nonEmpty) args(0) else "100000,1000000")
      .split(",").map(_.trim.toInt)
    scales.foreach { n =>
      val root = s"/tmp/graft_manifest_scale/n$n"
      val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new Path(root), true)
      val files = (0 until n).map(i => f"$root/data/synth/part-$i%07d.parquet")
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
        root, SnapshotLog.Snapshot(1, "append", 1000L, schemaJson, files,
          stats, sizes, rows = rows))
      val commitS = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val snap = SnapshotLog.snapshots(spark, root).last
      val parseS = (System.nanoTime() - t1) / 1e9
      require(snap.files.size == n)
      val t2 = System.nanoTime()
      val kept = SnapshotLogScanBuilder.prune(snap, snap.files,
        Array(org.apache.spark.sql.sources.And(
          org.apache.spark.sql.sources.GreaterThanOrEqual("k", n * 500L),
          org.apache.spark.sql.sources.LessThan("k", n * 500L + 10000L))))
      val pruneS = (System.nanoTime() - t2) / 1e9
      val t3 = System.nanoTime()
      val snap2 = SnapshotLog.snapshots(spark, root).last
      val warmS = (System.nanoTime() - t3) / 1e9
      require(snap2.files.size == n)
      val mBytes = fs.getFileStatus(new Path(s"$root/_log/v00001.json")).getLen
      println(f"""{"files":$n,"commit_s":$commitS%.2f,"cold_parse_s":$parseS%.2f,"prune_s":$pruneS%.2f,"warm_parse_s":$warmS%.4f,"manifest_bytes":$mBytes,"kept":${kept.size}}""")
      fs.delete(new Path(root), true)
    }
    spark.stop()
  }
}
