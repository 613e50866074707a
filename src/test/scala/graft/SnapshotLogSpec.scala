package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.spark
import graft.sources.SnapshotLog

/** Snapshot-log semantics the gate query (ddl_timetravel) cannot show:
  * reader isolation across later commits, additive schema evolution,
  * AS-OF edge rules, commit-conflict surfacing, and foreign-file
  * tolerance in the log directory.
  */
class SnapshotLogSpec extends AnyFunSuite {
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val root = s"/tmp/graft_snaplog_spec/$tag"
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(root), true)
    root
  }

  test("a reader pinned at read time is isolated from later commits") {
    val root = freshRoot("isolation")
    SnapshotLog.commit(Seq(1, 2, 3).toDF("x"), root, overwrite = true, 100L)
    val pinned = SnapshotLog.read(spark, root)
    assert(pinned.count() === 3)
    SnapshotLog.commit(Seq(4, 5).toDF("x"), root, overwrite = false, 200L)
    // the pinned plan references exactly the v1 manifest's files
    assert(pinned.count() === 3)
    assert(SnapshotLog.read(spark, root).count() === 5)
  }

  test("additive schema evolution: old files read the new column as null") {
    val root = freshRoot("evolve")
    SnapshotLog.commit(Seq((1L, "a")).toDF("id", "s"), root, overwrite = true, 100L)
    SnapshotLog.commit(Seq((2L, "b", 9.5)).toDF("id", "s", "score"), root,
      overwrite = false, 200L)
    val cur = SnapshotLog.read(spark, root)
    assert(cur.columns.toSet === Set("id", "s", "score"))
    assert(cur.filter(col("id") === 1 && col("score").isNull).count() === 1)
    // time travel to v1 sees the ORIGINAL schema, not the evolved one
    assert(SnapshotLog.read(spark, root, asOfVersion = Some(1))
      .columns.toSet === Set("id", "s"))
  }

  test("AS-OF timestamp picks the largest commit ts <= asked, errors before first") {
    val root = freshRoot("asof")
    SnapshotLog.commit(Seq(1).toDF("x"), root, overwrite = true, 1000L)
    SnapshotLog.commit(Seq(2).toDF("x"), root, overwrite = false, 2000L)
    assert(SnapshotLog.read(spark, root, asOfTsMs = Some(1000L)).count() === 1)
    assert(SnapshotLog.read(spark, root, asOfTsMs = Some(1999L)).count() === 1)
    assert(SnapshotLog.read(spark, root, asOfTsMs = Some(2000L)).count() === 2)
    intercept[NoSuchElementException] {
      SnapshotLog.read(spark, root, asOfTsMs = Some(999L))
    }
    intercept[NoSuchElementException] {
      SnapshotLog.read(spark, root, asOfVersion = Some(7))
    }
  }

  test("overwrite starts a new file set but old versions stay readable") {
    val root = freshRoot("overwrite")
    SnapshotLog.commit(Seq(1, 2, 3, 4).toDF("x"), root, overwrite = true, 100L)
    SnapshotLog.commit(Seq(9).toDF("x"), root, overwrite = true, 200L)
    assert(SnapshotLog.read(spark, root).as[Int].collect().toSeq === Seq(9))
    assert(SnapshotLog.read(spark, root, asOfVersion = Some(1)).count() === 4)
    // the v2 manifest must not inherit v1's files
    val snaps = SnapshotLog.snapshots(spark, root)
    assert(snaps.map(_.files.size) === Seq(2, 2))
    assert(snaps(0).files.toSet.intersect(snaps(1).files.toSet).isEmpty)
  }

  test("a conflicting manifest for the next version surfaces as an error") {
    val root = freshRoot("conflict")
    SnapshotLog.commit(Seq(1).toDF("x"), root, overwrite = true, 100L)
    // simulate a concurrent winner: v2 manifest already present
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(new Path(s"$root/_log/v00002.json"), false)
    out.write("""{"version":2,"operation":"append","commitTsMs":150,"schema":"{\"type\":\"struct\",\"fields\":[]}","files":[]}""".getBytes)
    out.close()
    // next commit computes version 3 (it lists the foreign v2); a STALE
    // requested ts is bumped past the head (r15: concurrent writers
    // cannot coordinate timestamps — monotonicity is enforced by the
    // commit loop, not by refusing the caller)
    assert(SnapshotLog.commit(Seq(2).toDF("x"), root, overwrite = false, 120L) === 3)
    val tss = SnapshotLog.snapshots(spark, root).map(_.commitTsMs)
    assert(tss === tss.sorted && tss.distinct.size == tss.size,
      s"commitTsMs must stay strictly monotone, got $tss")
    assert(SnapshotLog.commit(Seq(3).toDF("x"), root, overwrite = false, 300L) === 4)
  }

  test("tmp leftovers and foreign files in _log are ignored") {
    val root = freshRoot("foreign")
    SnapshotLog.commit(Seq(1, 2).toDF("x"), root, overwrite = true, 100L)
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    fs.create(new Path(s"$root/_log/.tmp_v00099.json_deadbeef"), false).close()
    fs.create(new Path(s"$root/_log/README"), false).close()
    assert(SnapshotLog.snapshots(spark, root).map(_.version) === Seq(1))
    assert(SnapshotLog.read(spark, root).count() === 2)
  }

  test("a time-travel read plans EXACTLY the manifest's files") {
    val root = freshRoot("pinned")
    SnapshotLog.commit(Seq(1, 2).toDF("x"), root, overwrite = true, 100L)
    SnapshotLog.commit(Seq(3).toDF("x"), root, overwrite = false, 200L)
    def norm(p: String) = p.replaceFirst("^file:/*", "/")
    val snaps = SnapshotLog.snapshots(spark, root)
    val v1Scan = v2Scan(SnapshotLog.read(spark, root, Some(1))).keptFiles.map(norm).toSet
    assert(v1Scan === snaps(0).files.map(norm).toSet,
      "v1 read must scan the v1 manifest's files, nothing else")
    val curScan = v2Scan(SnapshotLog.read(spark, root)).keptFiles.map(norm).toSet
    assert(curScan === snaps(1).files.map(norm).toSet)
    assert(v1Scan.subsetOf(curScan) && curScan.size > v1Scan.size)
  }

  test("mergeCommit applies MERGE semantics and commits a new overwrite snapshot") {
    val root = freshRoot("merge")
    SnapshotLog.commit(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), root,
      overwrite = true, 100L)
    val src = Seq((2L, 99.0), (3L, 30.0)).toDF("k", "v")
    val v = SnapshotLog.mergeCommit(root, src, "k", Seq("v"),
      whenMatched = c => col(s"s_$c"),
      whenNotMatched = c => col(s"s_$c"),
      deleteNotMatchedBySource = false, commitTsMs = 200L)
    assert(v === 2)
    val got = SnapshotLog.read(spark, root).as[(Long, Double)].collect().sorted
    assert(got.toSeq === Seq((1L, 10.0), (2L, 99.0), (3L, 30.0)))
    // pre-merge snapshot is still readable (copy-on-write, no vacuum)
    assert(SnapshotLog.read(spark, root, Some(1)).count() === 2)
    assert(SnapshotLog.history(spark, root).count() === 2)
  }

  test("readPruned opens only files whose stats intersect the range") {
    val root = freshRoot("prune")
    val slices = Seq((0, "a"), (100, "b"), (200, "c"), (300, "d"))
    slices.zipWithIndex.foreach { case ((base, tag), i) =>
      val df = (base until base + 50).map(k => (k.toLong, tag)).toDF("k", "tag")
      SnapshotLog.commit(df, root, overwrite = i == 0, 100L * (i + 1))
    }
    assert(SnapshotLog.snapshots(spark, root).last.files.size === 8)
    // numeric range inside slice "c": only that commit's 2 files open
    val pr = SnapshotLog.readPruned(spark, root, "k", 210L, 240L)
    val prFiles = v2Scan(pr).keptFiles.size
    assert(prFiles === 2, s"expected 2 files after stats pruning, got $prFiles")
    // unpruned reference: every row, filtered here rather than in a scan
    val brute = SnapshotLog.read(spark, root).select("k").as[Long].collect()
      .filter(k => k >= 210 && k <= 240)
    assert(pr.select("k").as[Long].collect().sorted.toSeq ===
      brute.sorted.toSeq)
    // string-column pruning uses lexicographic bounds
    val prs = SnapshotLog.readPruned(spark, root, "tag", "b", "b")
    assert(v2Scan(prs).keptFiles.size === 2)
    assert(prs.count() === 50)
    // a range spanning two slices opens exactly their 4 files
    assert(v2Scan(SnapshotLog.readPruned(spark, root, "k", 140L, 210L))
      .keptFiles.size === 4)
    // out-of-range probe opens nothing and returns empty with the schema
    val none = SnapshotLog.readPruned(spark, root, "k", 9000L, 9999L)
    assert(v2Scan(none).keptFiles.isEmpty && none.count() === 0)
    assert(none.columns.toSeq === Seq("k", "tag"))
  }

  test("timestamp-column stats prune time-range probes to their slices") {
    val root = freshRoot("prune_ts")
    val dayUs = 86400L * 1000000L
    // four one-day slices of timestamped rows
    for (day <- 0 until 4) {
      val df = (0 until 60)
        .map(i => (day * 60 + i.toLong, day * dayUs + i * 60000000L))
        .toDF("id", "us")
        .select(col("id"), timestamp_micros(col("us")).as("ts"))
      SnapshotLog.commit(df, root, overwrite = day == 0, 100L * (day + 1))
    }
    // probe inside day 2 (epoch-µs bounds, as documented)
    val pr = SnapshotLog.readPruned(spark, root, "ts",
      2 * dayUs, 2 * dayUs + 3600L * 1000000L)
    val prFiles = v2Scan(pr).keptFiles.size
    assert(prFiles === 2, s"time probe should open one slice (2 files), got $prFiles")
    // unpruned reference: every row's epoch-µs, filtered here
    val brute = SnapshotLog.read(spark, root)
      .select(unix_micros(col("ts"))).as[Long].collect()
      .count(us => us >= 2 * dayUs && us <= 2 * dayUs + 3600L * 1000000L)
    assert(pr.count() === brute && pr.count() > 0)
    // spanning probe (day-1 00:30 .. day-2 00:30 — each slice populates
    // its day's first hour) opens both touched slices
    assert(v2Scan(SnapshotLog.readPruned(spark, root, "ts",
      dayUs + 1800L * 1000000L, 2 * dayUs + 1800L * 1000000L))
      .keptFiles.size === 4)
  }

  test("readPruned equals the unpruned filter on random data and probes") {
    val rnd = new scala.util.Random(20260815)
    val root = freshRoot("prune_prop")
    // 4 commits of random (unsorted, overlapping-range) data — pruning
    // must stay CORRECT even when it cannot skip anything
    for (i <- 0 until 4) {
      val df = Seq.fill(200)((rnd.nextInt(1000).toLong, rnd.nextDouble()))
        .toDF("k", "v")
      SnapshotLog.commit(df, root, overwrite = i == 0, 100L * (i + 1))
    }
    // unpruned reference: every row, filtered here rather than in a scan
    val full = SnapshotLog.read(spark, root).as[(Long, Double)].collect()
    for (_ <- 0 until 20) {
      val a = rnd.nextInt(1100).toLong - 50
      val b = a + rnd.nextInt(300)
      val pruned = SnapshotLog.readPruned(spark, root, "k", a, b)
        .agg(count(lit(1)), sum(col("v"))).collect()(0)
      val brute = full.filter { case (k, _) => k >= a && k <= b }
      assert(pruned.getLong(0) === brute.length, s"count differs for [$a,$b]")
      if (brute.nonEmpty)
        assert(math.abs(pruned.getDouble(1) - brute.map(_._2).sum) < 1e-9,
          s"sum differs for [$a,$b]")
    }
  }

  test("expireSnapshots drops dead manifests and only unshared data files") {
    val root = freshRoot("expire")
    SnapshotLog.commit(Seq(1, 2).toDF("x"), root, overwrite = true, 100L)   // v1
    SnapshotLog.commit(Seq(3).toDF("x"), root,
      overwrite = false, 200L)     // v2 shares v1 files
    SnapshotLog.commit(Seq(9).toDF("x"), root, overwrite = true, 300L)      // v3 fresh files
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

    // keep v2+: v1's manifest dies, but its data files survive (v2 refs them)
    assert(SnapshotLog.expireSnapshots(spark, root, 2) === (1, 0))
    assert(SnapshotLog.snapshots(spark, root).map(_.version) === Seq(2, 3))
    assert(SnapshotLog.read(spark, root, Some(2)).count() === 3)
    intercept[NoSuchElementException] {
      SnapshotLog.read(spark, root, Some(1))
    }

    // keep v3 only: v2's manifest and its now-orphaned 4 data files go
    val v2Files = SnapshotLog.snapshots(spark, root).head.files
    assert(SnapshotLog.expireSnapshots(spark, root, 3) === (1, 4))
    v2Files.foreach(f => assert(!fs.exists(new Path(f)), s"orphan survived: $f"))
    assert(SnapshotLog.read(spark, root).as[Int].collect().toSeq === Seq(9))

    // expiring everything is refused; idempotent when nothing is dead
    intercept[IllegalArgumentException] {
      SnapshotLog.expireSnapshots(spark, root, 99)
    }
    assert(SnapshotLog.expireSnapshots(spark, root, 3) === (0, 0))
  }

  test("tableFiles is manifest metadata: sizes positive, counts per version") {
    val root = freshRoot("files")
    SnapshotLog.commit(Seq(1, 2, 3).toDF("x"), root, overwrite = true, 100L)
    SnapshotLog.commit(Seq(4).toDF("x"), root, overwrite = false, 200L)
    val v1 = SnapshotLog.tableFiles(spark, root, Some(1)).collect()
    val v2 = SnapshotLog.tableFiles(spark, root, Some(2)).collect()
    assert(v1.length === 2 && v2.length === 4)
    assert((v1 ++ v2).forall(_.getLong(1) > 0))
    assert(v2.map(_.getString(0)).toSet.intersect(
      v1.map(_.getString(0)).toSet).size === 2)
  }

  // ---- DataSource V2 front door -------------------------------------

  private def v2Scan(df: org.apache.spark.sql.DataFrame): graft.sources.SnapshotLogScan =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[graft.sources.SnapshotLogScan]
    }.head

  test("DSv2: arbitrary pushed predicates prune files from manifest stats") {
    val root = freshRoot("dsv2_prune")
    // 4 slices, 2 files each: k-ranges [0,99] [100,199] [200,299] [300,399],
    // tag differs per slice
    for (i <- 0 until 4) {
      val df = (0 until 100)
        .map(j => (i * 100 + j.toLong, ('a' + i).toChar.toString, j * 0.5))
        .toDF("k", "tag", "v")
      SnapshotLog.commit(df, root, overwrite = i == 0, 100L * (i + 1))
    }
    val t = spark.read.format("snapshotlog").load(root)

    // single-column range probe: one slice (2 of 8 files)
    val r1 = t.filter(col("k") >= 210 && col("k") <= 240)
    assert(v2Scan(r1).keptFiles.size === 2)
    assert(r1.count() === 31)

    // MULTI-column predicate — the shape readPruned could not express:
    // k-range hits slice 2, but tag='a' only exists in slice 0 ⇒ 0 files
    val r2 = t.filter(col("k") >= 210 && col("k") <= 240 && col("tag") === "a")
    assert(v2Scan(r2).keptFiles.isEmpty)
    assert(r2.count() === 0)

    // OR of two slices' ranges opens both (4 files), IN-list prunes by tag
    val r3 = t.filter((col("k") < 50) || (col("k") > 350))
    assert(v2Scan(r3).keptFiles.size === 4)
    assert(r3.count() === 99)
    val r4 = t.filter(col("tag").isin("b", "d"))
    assert(v2Scan(r4).keptFiles.size === 4)
    assert(r4.count() === 200)

    // residual exactness: pruning never changes values, only skips files
    val brute = SnapshotLog.read(spark, root).as[(Long, String, Double)]
      .collect().collect { case (k, _, v) if k >= 210 && k <= 240 => v }.sum
    val got = r1.agg(sum("v")).collect()(0).getDouble(0)
    assert(math.abs(brute - got) < 1e-9)

    // COUNT(*) plans all files but needs no columns (footer row counts)
    assert(t.count() === 400)

    // explain carries the pushed filters + file pruning evidence
    val desc = v2Scan(r1).description()
    assert(desc.contains("PushedFilters") && desc.contains("files=2/8"), desc)
  }

  test("DSv2: version/AS-OF options pin the snapshot; evolution null-fills") {
    val root = freshRoot("dsv2_pin")
    SnapshotLog.commit(Seq((1L, "a")).toDF("id", "s"), root, overwrite = true, 100L)
    SnapshotLog.commit(Seq((2L, "b", 9.5)).toDF("id", "s", "score"), root,
      overwrite = false, 200L)
    val v1 = spark.read.format("snapshotlog").option("asOfVersion", 1).load(root)
    assert(v1.columns.toSeq === Seq("id", "s") && v1.count() === 1)
    val asOf = spark.read.format("snapshotlog")
      .option("asOfTimestampMs", 150L).load(root)
    assert(asOf.count() === 1)
    // current schema has score; the v1-era file reads it as null
    val cur = spark.read.format("snapshotlog").load(root).orderBy("id").collect()
    assert(cur.length === 2)
    assert(cur(0).isNullAt(2) && cur(1).getDouble(2) === 9.5,
      cur.map(_.toString).mkString(" | "))
    // timestamp columns round-trip through the Group reader
    val root2 = freshRoot("dsv2_ts")
    val df = Seq(1L, 2L).toDF("us")
      .select(timestamp_micros(col("us") * 1000000L).as("ts"), col("us"))
    SnapshotLog.commit(df, root2, overwrite = true, 100L)
    val ts = spark.read.format("snapshotlog").load(root2)
      .filter(col("ts") >= timestamp_micros(lit(2000000L))).collect()
    assert(ts.length === 1 && ts(0).getLong(1) === 2L)
  }

  test("rewriteDataFiles bin-packs small files; rows identical; expiry reclaims") {
    val root = freshRoot("compact")
    for (i <- 0 until 4)
      SnapshotLog.commit((i * 50 until (i + 1) * 50).map(_.toLong).toDF("x"),
        root, overwrite = i == 0, 100L * (i + 1))
    val before = SnapshotLog.read(spark, root).as[Long].collect().sorted.toSeq
    assert(SnapshotLog.snapshots(spark, root).last.files.size === 8)

    val v = SnapshotLog.rewriteDataFiles(spark, root, commitTsMs = 1000L,
      targetBytes = 10L << 20)
    assert(v === 5)
    val snaps = SnapshotLog.snapshots(spark, root)
    assert(snaps.last.operation === "rewrite")
    assert(snaps.last.files.size === 1, s"got ${snaps.last.files.size}")
    // row content identical; stats present for the rewritten file
    assert(SnapshotLog.read(spark, root).as[Long].collect().sorted.toSeq === before)
    assert(snaps.last.stats.nonEmpty && snaps.last.sizes.nonEmpty)
    // pre-compaction version still time-travels (copy-on-write)
    assert(SnapshotLog.read(spark, root, Some(4)).count() === 200)
    // idempotent: a second pass has <2 small files ⇒ no-op, same version
    assert(SnapshotLog.rewriteDataFiles(spark, root, commitTsMs = 2000L,
      targetBytes = 10L << 20) === 5)
    // expiring the pre-rewrite snapshots reclaims the 8 replaced files
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val replaced = snaps(3).files
    assert(SnapshotLog.expireSnapshots(spark, root, 5) === (4, 8))
    replaced.foreach(f => assert(!fs.exists(new Path(f))))
    assert(SnapshotLog.read(spark, root).as[Long].collect().sorted.toSeq === before)
  }

  test("clusterBy rewrite turns useless stats into near-partition pruning") {
    val root = freshRoot("cluster")
    // 4 commits of INTERLEAVED keys: every file spans ~the full key range,
    // so a range probe can prune nothing
    for (i <- 0 until 4) {
      val df = (0 until 250).map(j => (j * 4L + i, j.toDouble)).toDF("k", "v")
      SnapshotLog.commit(df, root, overwrite = i == 0, 100L * (i + 1))
    }
    def planned(lo: Long, hi: Long): Int = {
      val df = spark.read.format("snapshotlog").load(root)
        .filter(col("k") >= lo && col("k") <= hi)
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan.asInstanceOf[graft.sources.SnapshotLogScan]
      }.head.keptFiles.size
    }
    assert(planned(100, 150) === 8, "interleaved commits should defeat pruning")

    // compact WITH clustering: 4 range-disjoint sorted output files
    val before = SnapshotLog.read(spark, root).as[(Long, Double)].collect().sorted.toSeq
    val small = SnapshotLog.snapshots(spark, root).last.sizes.values.max + 1
    val v = SnapshotLog.rewriteDataFiles(spark, root, commitTsMs = 1000L,
      targetBytes = small * 2, smallBytes = small, clusterBy = Seq("k"))
    assert(v === 5)
    assert(SnapshotLog.read(spark, root).as[(Long, Double)].collect().sorted.toSeq === before)
    val nowPlanned = planned(100, 150)
    val total = SnapshotLog.snapshots(spark, root).last.files.size
    assert(total >= 2 && nowPlanned <= (total + 1) / 2,
      s"clustered rewrite should prune most files: planned $nowPlanned of $total")
  }

  test("expireSnapshots orphanScan reclaims data dirs no manifest references") {
    val root = freshRoot("orphan")
    SnapshotLog.commit(Seq(1, 2).toDF("x"), root, overwrite = true, 100L)
    // simulate a commit that crashed between data write and publish
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    Seq(1, 2, 3).toDF("x").write.parquet(s"$root/data/deadc0ffee")
    assert(SnapshotLog.expireSnapshots(spark, root, 1) === (0, 0)) // default: untouched
    assert(fs.exists(new Path(s"$root/data/deadc0ffee")))
    // grace period: a just-written unreferenced dir may be an IN-FLIGHT
    // commit (data lands before the manifest) — the default 24h grace
    // must leave it alone even with orphanScan on
    val (_, g) = SnapshotLog.expireSnapshots(spark, root, 1, orphanScan = true)
    assert(g === 0 && fs.exists(new Path(s"$root/data/deadc0ffee")))
    // zero grace (test-only): simulates the dir aging past the window
    val (_, n) = SnapshotLog.expireSnapshots(spark, root, 1, orphanScan = true,
      orphanGraceMs = 0L)
    assert(n > 0 && !fs.exists(new Path(s"$root/data/deadc0ffee")))
    assert(SnapshotLog.read(spark, root).count() === 2) // live data untouched
  }

  test("a torn trailing manifest is ignored by readers and healed by commit") {
    val root = freshRoot("torn")
    SnapshotLog.commit(Seq(1).toDF("x"), root, overwrite = true, 100L)
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    // crash mid-publish: v2 claimed but half-written (unparseable)
    val torn = new Path(s"$root/_log/v00002.json")
    val out = fs.create(torn, false)
    out.write("""{"version": 2, "operat""".getBytes)
    out.close()
    // age it past the reclaim grace (a FRESH torn-looking file is never
    // reclaimed — it could be a concurrent writer's publish in flight)
    fs.setTimes(torn, System.currentTimeMillis() - 60000L, -1L)
    assert(SnapshotLog.snapshots(spark, root).map(_.version) === Seq(1))
    assert(SnapshotLog.read(spark, root).count() === 1)
    // the next commit reclaims the stale torn slot and succeeds as v2
    assert(SnapshotLog.commit(Seq(2).toDF("x"), root, overwrite = false, 200L) === 2)
    assert(SnapshotLog.read(spark, root).count() === 2)
  }

  test("incremental read returns exactly the appended rows; rewrite is skipped") {
    val root = freshRoot("incremental")
    SnapshotLog.commit(Seq(1, 2).toDF("x"), root, overwrite = true, 100L)
    SnapshotLog.commit(Seq(3).toDF("x"), root, overwrite = false, 200L)
    SnapshotLog.commit(Seq(4, 5).toDF("x"), root, overwrite = false, 300L)
    // (1, 3]: only the v2+v3 appends, never v1's rows
    assert(SnapshotLog.readIncremental(spark, root, fromVersion = 1)
      .as[Int].collect().sorted === Array(3, 4, 5))
    assert(SnapshotLog.readIncremental(spark, root, 1, toVersion = Some(2))
      .as[Int].collect().sorted === Array(3))
    // compaction re-files rows without changing content: the incremental
    // consumer must NOT see them again
    SnapshotLog.rewriteDataFiles(spark, root, commitTsMs = 400L,
      targetBytes = 1L << 30)
    assert(SnapshotLog.readIncremental(spark, root, fromVersion = 3).count() === 0)
    // a content-changing snapshot in range throws unless explicitly skipped
    SnapshotLog.commit(Seq(9).toDF("x"), root, overwrite = true, 500L)
    intercept[UnsupportedOperationException] {
      SnapshotLog.readIncremental(spark, root, fromVersion = 3).count()
    }
    assert(SnapshotLog.readIncremental(spark, root, 3,
      skipNonAppends = true).count() === 0)
  }

  test("incremental read from an EXPIRED offset fails loudly, never replays") {
    val root = freshRoot("incremental_expired")
    SnapshotLog.commit(Seq(1).toDF("x"), root, overwrite = true, 100L)
    SnapshotLog.commit(Seq(2).toDF("x"), root, overwrite = false, 200L)
    SnapshotLog.commit(Seq(3).toDF("x"), root, overwrite = false, 300L)
    SnapshotLog.expireSnapshots(spark, root, keepFromVersion = 3)
    // consumer parked at v1: its manifest is gone — v3's delta vs v2 is
    // uncomputable and the wholly-additive head case would re-deliver
    // rows 1..2 it already consumed. Iceberg errors here; so do we.
    val e = intercept[IllegalStateException] {
      SnapshotLog.readIncremental(spark, root, fromVersion = 1).count()
    }
    assert(e.getMessage.contains("expired"))
    // a consumer parked at the oldest RETAINED snapshot still works
    assert(SnapshotLog.readIncremental(spark, root, fromVersion = 3).count() === 0)
    // and a from-scratch consumer (0) gets the full current content
    assert(SnapshotLog.readIncremental(spark, root, fromVersion = 0)
      .as[Int].collect().sorted === Array(1, 2, 3))
  }

  test("DSv2 fromVersion option restricts the scan to the append delta, stats intact") {
    val root = freshRoot("incremental_dsv2")
    SnapshotLog.commit(Seq(1L, 2L).toDF("k"), root, overwrite = true, 100L)
    SnapshotLog.commit(Seq(10L, 11L).toDF("k"), root, overwrite = false, 200L)
    SnapshotLog.commit(Seq(20L, 21L).toDF("k"), root, overwrite = false, 300L)
    val delta = spark.read.format("snapshotlog")
      .option("fromVersion", 1).load(root)
    assert(delta.as[Long].collect().sorted === Array(10L, 11L, 20L, 21L))
    // manifest-stats pruning still applies within the delta
    val probe = delta.filter(col("k") >= 20L)
    val planned = probe.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[graft.sources.SnapshotLogScan].keptFiles.size
    }.head
    assert(planned < 4, s"expected stats pruning inside the delta, planned $planned")
    assert(probe.as[Long].collect().sorted === Array(20L, 21L))
  }

  test("nested + binary columns round-trip through the DSv2 scan") {
    val root = freshRoot("nested")
    val df = spark.range(0, 6).selectExpr(
      "id",
      "named_struct('lang', concat('l', cast(id % 2 as string)), 'n', id * 10) AS meta",
      "array(cast(id as string), 'x') AS toks",
      "map(concat('k', cast(id as string)), id) AS m",
      "encode(concat('doc', cast(id as string)), 'UTF-8') AS raw",
      "array(named_struct('p', id, 'q', cast(id as double))) AS nested_arr",
      "IF(id = 3, NULL, array(id, NULL, id + 1)) AS with_nulls")
    SnapshotLog.commit(df.filter(col("id") < 3), root, overwrite = true, 100L)
    SnapshotLog.commit(df.filter(col("id") >= 3), root, overwrite = false, 200L)

    val back = spark.read.format("snapshotlog").load(root)
    // full-fidelity compare against the source frame, nested values included
    // (binary rendered as hex — Array[Byte].toString is identity-based)
    def rows(x: org.apache.spark.sql.DataFrame) =
      x.withColumn("raw", expr("hex(raw)")).orderBy("id").collect().map(_.toString)
    assert(rows(back).length === 6)
    assert(rows(back) === rows(df))

    // binary payload decodes back to the original string
    assert(back.selectExpr("decode(raw, 'UTF-8') AS s").orderBy("s")
      .as[String].collect() === (0 to 5).map(i => s"doc$i").toArray)

    // struct field projection + predicate still execute (row reader path)
    assert(back.filter(col("meta.lang") === "l1").count() === 3)
    assert(back.selectExpr("sum(meta.n)").as[Long].head() === 150L)
    assert(back.selectExpr("sum(size(toks))").as[Long].head() === 12L)
    assert(back.selectExpr("sum(m[concat('k', cast(id as string))])")
      .as[Long].head() === 15L)
    assert(back.selectExpr("sum(nested_arr[0].p)").as[Long].head() === 15L)
    // null array / null elements survive
    assert(back.filter(col("with_nulls").isNull).select("id").as[Long].head() === 3L)
    assert(back.filter(col("id") =!= 3)
      .selectExpr("size(filter(with_nulls, x -> x IS NULL)) AS n_nulls")
      .agg(sum(col("n_nulls"))).collect()(0).getLong(0) === 5L)

    // time travel still pins: v1 holds ids 0..2
    assert(spark.read.format("snapshotlog").option("asOfVersion", 1).load(root)
      .agg(sum(col("meta.n"))).collect()(0).getLong(0) === 30L)

    // nested struct schema evolution: a widened struct null-fills old files
    val widened = spark.range(6, 8).selectExpr(
      "id",
      "named_struct('lang', 'l9', 'n', id * 10, 'extra', id + 100) AS meta",
      "array('y') AS toks", "map('k', id) AS m",
      "encode('z', 'UTF-8') AS raw",
      "array(named_struct('p', id, 'q', cast(1.0 as double))) AS nested_arr",
      "array(id) AS with_nulls")
    SnapshotLog.commit(widened, root, overwrite = false, 300L)
    val evolved = spark.read.format("snapshotlog").load(root)
    assert(evolved.filter(col("meta.extra").isNotNull).count() === 2)
    assert(evolved.filter(col("id") < 6).filter(col("meta.extra").isNull).count() === 6)
  }

  test("merge-on-read delete: positional files, scan exclusion, compaction fold") {
    // rooted inside the snap-catalog warehouse so the CoW interplay step
    // can run as real SQL (DELETE FROM snap.morspec.t ...)
    val root = "/tmp/graft_snap_warehouse/morspec/t"
    val fs0 = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    fs0.delete(new Path(root), true)
    val df = spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v")
    SnapshotLog.commit(df.filter(col("k") < 50), root, overwrite = true, 100L)
    SnapshotLog.commit(df.filter(col("k") >= 50), root, overwrite = false, 200L)
    val preFiles = SnapshotLog.snapshots(spark, root).last.files

    // MoR delete: k % 10 == 3 (10 rows) — data files must NOT be rewritten
    val v3 = SnapshotLog.deleteWhereMoR(spark, root, col("k") % 10 === 3, 300L)
    assert(v3 === 3)
    val s3 = SnapshotLog.snapshots(spark, root).last
    assert(s3.operation === "delete")
    assert(s3.files === preFiles, "MoR delete must not touch data files")
    assert(s3.dels.nonEmpty)

    // both read paths exclude the deleted rows
    assert(SnapshotLog.read(spark, root).count() === 90)
    val dsv2 = spark.read.format("snapshotlog").load(root)
    assert(dsv2.count() === 90) // count-only (null-projection) path
    assert(dsv2.agg(sum(col("v"))).head().getLong(0) ===
      df.filter(col("k") % 10 =!= 3).agg(sum(col("v"))).head().getLong(0))
    assert(dsv2.filter(col("k") === 3).count() === 0)
    // pre-delete version still serves everything (time travel unaffected)
    assert(spark.read.format("snapshotlog").option("asOfVersion", 2).load(root)
      .count() === 100)

    // stacked delete: k % 10 == 7 — both delete sets apply
    assert(SnapshotLog.deleteWhereMoR(spark, root, col("k") % 10 === 7, 400L) === 4)
    assert(SnapshotLog.read(spark, root).count() === 80)
    assert(spark.read.format("snapshotlog").load(root).count() === 80)
    // a MoR-deleted row must not be matched again (ordinal-skip in the
    // DSv2 matching scan): deleting k % 10 == 3 again is a no-op
    assert(SnapshotLog.deleteWhereMoR(spark, root, col("k") % 10 === 3, 450L) === 4)

    // CoW delete (SQL surface) on a table WITH MoR dels must not
    // resurrect the positionally deleted rows in the rewritten files
    spark.sql("DELETE FROM snap.morspec.t WHERE k >= 90")
    assert(SnapshotLog.read(spark, root).count() === 72) // 80 - (90..99 minus 93,97)

    // compaction folds the remaining deletes into plain data files
    // (nextCommitTs: the SQL delete committed at wall-clock time)
    val v6 = SnapshotLog.rewriteDataFiles(spark, root,
      commitTsMs = SnapshotLog.nextCommitTs(spark, root),
      targetBytes = 1L << 30)
    val s6 = SnapshotLog.snapshots(spark, root).last
    assert(v6 === 6 && s6.operation === "rewrite")
    assert(s6.dels.isEmpty, "rewrite must fold positional deletes away")
    assert(SnapshotLog.read(spark, root).count() === 72)
    assert(spark.read.format("snapshotlog").load(root).count() === 72)

    // expiry reclaims delete files once no surviving snapshot references them
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val delFiles = s3.dels.values.flatten.toSeq.distinct
    assert(delFiles.forall(f => fs.exists(new Path(f))))
    SnapshotLog.expireSnapshots(spark, root, keepFromVersion = 6)
    assert(delFiles.forall(f => !fs.exists(new Path(f))),
      "expired delete files must be reclaimed")
    assert(SnapshotLog.read(spark, root).count() === 72)
  }

  test("_file and _pos metadata columns resolve through the DSv2 scan") {
    val root = freshRoot("filepos")
    SnapshotLog.commit(Seq(10L, 20L, 30L).toDF("x").coalesce(1), root,
      overwrite = true, 100L, numFiles = 1)
    val rows = spark.read.format("snapshotlog").load(root)
      .selectExpr("x", "_file", "_pos").orderBy("_pos").collect()
    assert(rows.map(_.getLong(2)) === Array(0L, 1L, 2L))
    assert(rows.map(_.getString(1)).distinct.length === 1)
    assert(rows.map(_.getLong(0)).sorted === Array(10L, 20L, 30L))
  }

  test("field-id rename: metadata-only, old files resolve, stats still prune") {
    val root = freshRoot("fid_rename")
    SnapshotLog.commit(
      spark.range(0, 100).selectExpr("id AS k", "CAST(id * 1.5 AS DOUBLE) AS amount"),
      root, overwrite = true, 100L)
    val preFiles = SnapshotLog.snapshots(spark, root).last.files

    val v2 = SnapshotLog.renameColumn(spark, root, "amount", "price", 200L)
    assert(v2 === 2)
    val s2 = SnapshotLog.snapshots(spark, root).last
    assert(s2.files === preFiles, "rename must not touch data files")
    assert(s2.schema.fieldNames.toSeq === Seq("k", "price"))

    // both read paths serve the renamed column from the OLD physical name
    assert(SnapshotLog.read(spark, root)
      .agg(sum(col("price"))).head().getDouble(0) === (0 until 100).map(_ * 1.5).sum)
    val dsv2 = spark.read.format("snapshotlog").load(root)
    assert(dsv2.columns.toSeq === Seq("k", "price"))
    assert(dsv2.filter(col("price") > 140.0).count() === 6) // k = 94..99
    // time travel: the OLD snapshot still reads under its own name
    val v1df = spark.read.format("snapshotlog").option("asOfVersion", 1).load(root)
    assert(v1df.columns.toSeq === Seq("k", "amount"))
    assert(v1df.agg(sum(col("amount"))).head().getDouble(0) === (0 until 100).map(_ * 1.5).sum)

    // post-rename APPEND writes the new physical name; both generations read
    SnapshotLog.commit(
      spark.range(100, 110).selectExpr("id AS k", "CAST(id * 1.5 AS DOUBLE) AS price"),
      root, overwrite = false, 300L)
    assert(spark.read.format("snapshotlog").load(root).count() === 110)
    assert(SnapshotLog.read(spark, root)
      .filter(col("price") === 15.0).count() === 1) // k=10, old file

    // manifest-stats pruning rekeys through the field id: probing the NEW
    // name must still prune files using stats recorded under the OLD name
    val probe = spark.read.format("snapshotlog").load(root)
      .filter(col("price") >= 150.0) // only the appended slice matches
    val planned = probe.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[graft.sources.SnapshotLogScan].keptFiles.size
    }.head
    assert(planned === 2, s"expected pruning to keep only the new slice, kept $planned")
    assert(probe.count() === 10)
  }

  test("field-id drop: time travel back, re-added name never resurrects") {
    val root = freshRoot("fid_drop")
    SnapshotLog.commit(
      spark.range(0, 10).selectExpr("id AS k", "concat('s', id) AS tag"),
      root, overwrite = true, 100L)
    SnapshotLog.dropColumn(spark, root, "tag", 200L)
    val cur = spark.read.format("snapshotlog").load(root)
    assert(cur.columns.toSeq === Seq("k"))
    // time travel to v1 still reads the dropped column
    assert(spark.read.format("snapshotlog").option("asOfVersion", 1).load(root)
      .filter(col("tag") === "s3").count() === 1)
    // re-adding the NAME gets a fresh field id: old physical data must
    // NOT resurrect (Iceberg's never-reuse-ids rule)
    SnapshotLog.alterSchema(spark, root,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("tag", org.apache.spark.sql.types.StringType))),
      300L)
    val readd = spark.read.format("snapshotlog").load(root)
    assert(readd.filter(col("tag").isNotNull).count() === 0,
      "dropped-then-readded column must read as null, never old data")
    assert(SnapshotLog.read(spark, root).filter(col("tag").isNotNull).count() === 0)
  }

  test("SQL ALTER TABLE RENAME/DROP COLUMN through the snap catalog") {
    val wh = "/tmp/graft_snap_warehouse"
    val fs = new Path(s"$wh/fidsql").getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(s"$wh/fidsql"), true)
    spark.sql("CREATE TABLE snap.fidsql.t AS SELECT id AS k, CAST(id * 2.0 AS DOUBLE) AS v FROM range(5)")
    spark.sql("ALTER TABLE snap.fidsql.t RENAME COLUMN v TO vv")
    assert(spark.sql("SELECT sum(vv) FROM snap.fidsql.t").head().getDouble(0) === 20.0)
    spark.sql("ALTER TABLE snap.fidsql.t DROP COLUMN vv")
    assert(spark.table("snap.fidsql.t").columns.toSeq === Seq("k"))
    // rewrite after rename-divergence conforms files to current names
    val root = s"$wh/fidsql/t"
    SnapshotLog.rewriteDataFiles(spark, root,
      SnapshotLog.nextCommitTs(spark, root), targetBytes = 1L << 30)
    assert(spark.table("snap.fidsql.t").count() === 5)
  }

  test("SQL UPDATE (row-level CoW) on a table with MoR dels keeps them deleted") {
    val root = "/tmp/graft_snap_warehouse/morupd/t"
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(root), true)
    SnapshotLog.commit(
      spark.range(0, 40).selectExpr("id AS k", "CAST(0 AS LONG) AS v"),
      root, overwrite = true, 100L)
    SnapshotLog.deleteWhereMoR(spark, root, col("k") % 10 === 3, 200L)
    assert(spark.table("snap.morupd.t").count() === 36)
    // the row-level scan feeds the rewrite: positionally deleted rows
    // must not resurrect through the UPDATE's copy-on-write
    spark.sql("UPDATE snap.morupd.t SET v = 1 WHERE k < 100")
    val t = spark.table("snap.morupd.t")
    assert(t.count() === 36, "UPDATE resurrected MoR-deleted rows")
    assert(t.filter(col("v") === 1).count() === 36)
    assert(t.filter(col("k") === 3).count() === 0)
  }

  test("aggregate pushdown: count/min/max answered from manifest metadata") {
    val root = freshRoot("agg_push")
    SnapshotLog.commit(
      spark.range(0, 1000).selectExpr("id AS k", "CAST(id AS DOUBLE) * 0.5 AS v",
        "concat('s', lpad(cast(id as string), 4, '0')) AS tag"),
      root, overwrite = true, 100L)
    SnapshotLog.commit(
      spark.range(1000, 1500).selectExpr("id AS k", "CAST(id AS DOUBLE) * 0.5 AS v",
        "concat('s', lpad(cast(id as string), 4, '0')) AS tag"),
      root, overwrite = false, 200L)

    def aggScanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
          if r.scan.isInstanceOf[graft.sources.SnapshotAggScan] => r.scan
      }

    val t = spark.read.format("snapshotlog").load(root)
    val q = t.agg(count(lit(1)), min(col("k")), max(col("k")),
      max(col("v")), min(col("tag")))
    assert(aggScanOf(q).nonEmpty, "expected the metadata-agg scan:\n" +
      q.queryExecution.optimizedPlan.toString)
    val r = q.head()
    assert(r.getLong(0) === 1500L)
    assert(r.getLong(1) === 0L && r.getLong(2) === 1499L)
    assert(r.getDouble(3) === 749.5)
    assert(r.getString(4) === "s0000")

    // a FILTER blocks complete pushdown (residual semantics) — the plan
    // falls back to a real scan and the answer is still right
    val filtered = t.filter(col("k") >= 1000).agg(count(lit(1)))
    assert(aggScanOf(filtered).isEmpty)
    assert(filtered.head().getLong(0) === 500L)

    // GROUP BY an identity-partition column: per-group rollups still
    // answered from manifest metadata (tuple + per-file rows/stats)
    val proot = freshRoot("agg_push_part")
    SnapshotLog.commitPartitioned(
      spark.range(0, 400).selectExpr("id % 4 AS g", "id AS v"),
      proot, Seq("g" -> "identity"), overwrite = true, commitTsMs = 100L)
    val pt = spark.read.format("snapshotlog").load(proot)
    val gq = pt.groupBy(col("g")).agg(count(lit(1)).as("n"), max(col("v")).as("mx"))
    assert(aggScanOf(gq).nonEmpty, "expected metadata group-by:\n" +
      gq.queryExecution.optimizedPlan.toString)
    val got = gq.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got === (0L until 4L).map(g => (g, 100L, 396L + g)).toArray)
    // group-by a NON-partition column must fall back and stay correct
    val ng = pt.groupBy(col("v") % 2).agg(count(lit(1)))
    assert(aggScanOf(ng).isEmpty)
    assert(ng.collect().map(_.getLong(1)).sorted === Array(200L, 200L))

    // MoR deletes poison metadata counts — must fall back, stay correct
    SnapshotLog.deleteWhereMoR(spark, root, col("k") % 100 === 0, 300L)
    val afterDel = spark.read.format("snapshotlog").load(root).agg(count(lit(1)))
    assert(aggScanOf(afterDel).isEmpty)
    assert(afterDel.head().getLong(0) === 1485L)
    // compaction folds the deletes: metadata answers again
    SnapshotLog.rewriteDataFiles(spark, root, 400L, targetBytes = 1L << 30)
    val afterFold = spark.read.format("snapshotlog").load(root).agg(count(lit(1)))
    assert(aggScanOf(afterFold).nonEmpty)
    assert(afterFold.head().getLong(0) === 1485L)
  }

  test("rewriteDeleteFiles: N trickle delete files fold to one, data untouched") {
    val root = freshRoot("del_compact")
    SnapshotLog.commit(spark.range(0, 100).selectExpr("id AS k", "id AS v"),
      root, overwrite = true, 100L)
    // a trickle of 5 MoR deletes → 5 positional delete files
    for (i <- 0 until 5)
      SnapshotLog.deleteWhereMoR(spark, root, col("k") === (i * 10L),
        200L + i * 100)
    val before = SnapshotLog.snapshots(spark, root).last
    val delFilesBefore = before.dels.values.flatten.toSeq.distinct
    assert(delFilesBefore.size === 5)
    assert(spark.read.format("snapshotlog").load(root).count() === 95)

    val v = SnapshotLog.rewriteDeleteFiles(spark, root, 1000L)
    val after = SnapshotLog.snapshots(spark, root).last
    assert(v === after.version && after.operation === "rewrite")
    assert(after.files === before.files, "data files must be untouched")
    val delFilesAfter = after.dels.values.flatten.toSeq.distinct
    assert(delFilesAfter.size === 1, s"expected 1 merged delete file, got ${delFilesAfter.size}")
    assert(spark.read.format("snapshotlog").load(root).count() === 95)
    assert(SnapshotLog.read(spark, root).count() === 95)
    assert(spark.read.format("snapshotlog").load(root)
      .filter(col("k") % 10 === 0 && col("k") < 50).count() === 0)
    // content-neutral: the incremental delta across the rewrite is empty
    assert(SnapshotLog.readIncremental(spark, root,
      fromVersion = before.version).count() === 0)
    // idempotent when there is nothing left to merge
    assert(SnapshotLog.rewriteDeleteFiles(spark, root, 2000L) === after.version)
  }

  test("delta row-level ops: SQL UPDATE/MERGE write position deletes under MoR mode") {
    val root = "/tmp/graft_snap_warehouse/mordelta/t"
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(root), true)
    spark.sql("CREATE TABLE snap.mordelta.t AS SELECT id AS k, id * 2 AS v FROM range(100)")
    spark.sql("""ALTER TABLE snap.mordelta.t SET TBLPROPERTIES(
      'write.update.mode'='merge-on-read', 'write.merge.mode'='merge-on-read')""")
    val preFiles = SnapshotLog.snapshots(spark, root).last.files

    // UPDATE with an untranslatable predicate (modulo) → delta path
    spark.sql("UPDATE snap.mordelta.t SET v = v + 1000 WHERE k % 10 = 3")
    val s = SnapshotLog.snapshots(spark, root).last
    assert(s.operation === "update")
    assert(preFiles.forall(s.files.contains),
      "delta UPDATE must carry every pre-existing data file untouched")
    assert(s.dels.nonEmpty)
    val t = spark.table("snap.mordelta.t")
    assert(t.count() === 100)
    assert(t.filter(col("k") === 3).select("v").as[Long].head() === 1006L)
    assert(t.filter(col("k") === 4).select("v").as[Long].head() === 8L)

    // MERGE: update one key, insert a new one — still no file rewrites
    spark.range(1).selectExpr("CAST(3 AS BIGINT) AS k", "CAST(-1 AS BIGINT) AS v")
      .unionAll(spark.range(1).selectExpr("CAST(500 AS BIGINT) AS k", "CAST(7 AS BIGINT) AS v"))
      .createOrReplaceTempView("mordelta_src")
    spark.sql(
      """MERGE INTO snap.mordelta.t AS t USING mordelta_src AS s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    val s2 = SnapshotLog.snapshots(spark, root).last
    assert(s2.operation === "merge")
    assert(preFiles.forall(s2.files.contains))
    val t2 = spark.table("snap.mordelta.t")
    assert(t2.count() === 101)
    assert(t2.filter(col("k") === 3).select("v").as[Long].head() === -1L)
    assert(t2.filter(col("k") === 500).select("v").as[Long].head() === 7L)
    // the no-op merge commits nothing
    val vBefore = SnapshotLog.snapshots(spark, root).last.version
    spark.range(1).selectExpr("CAST(99999 AS BIGINT) AS k", "CAST(0 AS BIGINT) AS v")
      .createOrReplaceTempView("mordelta_noop")
    spark.sql(
      """MERGE INTO snap.mordelta.t AS t USING mordelta_noop AS s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    assert(SnapshotLog.snapshots(spark, root).last.version === vBefore,
      "a merge matching nothing must not commit a snapshot")

    // compaction folds; results hold
    SnapshotLog.rewriteDataFiles(spark, root,
      SnapshotLog.nextCommitTs(spark, root), targetBytes = 1L << 30)
    assert(SnapshotLog.snapshots(spark, root).last.dels.isEmpty)
    assert(spark.table("snap.mordelta.t").count() === 101)
    assert(spark.table("snap.mordelta.t")
      .filter(col("k") === 3).select("v").as[Long].head() === -1L)
  }

  test("equality deletes: key-value delete files, scoped to pre-delete files") {
    val root = freshRoot("eq_del")
    val df = spark.range(0, 100).selectExpr(
      "id AS k", "concat('u', cast(id % 7 as string)) AS user", "id * 2 AS v")
    SnapshotLog.commit(df.filter(col("k") < 50), root, overwrite = true, 100L)
    SnapshotLog.commit(df.filter(col("k") >= 50), root, overwrite = false, 200L)
    val preFiles = SnapshotLog.snapshots(spark, root).last.files

    // CDC-style delete by key VALUE (no positions known): drop user u3
    val v3 = SnapshotLog.deleteEqualityMoR(spark, root,
      spark.range(1).selectExpr("'u3' AS user"), 300L)
    assert(v3 === 3)
    val s3 = SnapshotLog.snapshots(spark, root).last
    assert(s3.operation === "delete")
    assert(s3.files === preFiles, "equality delete must not touch data files")
    val expected = (0 until 100).count(_ % 7 != 3)

    // both read paths
    assert(spark.read.format("snapshotlog").load(root).count() === expected)
    assert(SnapshotLog.read(spark, root).count() === expected)
    assert(spark.read.format("snapshotlog").load(root)
      .filter(col("user") === "u3").count() === 0)
    // ... including when the key column is PRUNED from the projection
    assert(spark.read.format("snapshotlog").load(root)
      .agg(sum(col("v"))).head().getLong(0) ===
      (0 until 100).filter(_ % 7 != 3).map(_ * 2L).sum)
    // count-only path applies the equality filter too
    assert(spark.read.format("snapshotlog").load(root)
      .select(lit(1)).count() === expected)
    // time travel unaffected
    assert(spark.read.format("snapshotlog").option("asOfVersion", 2).load(root)
      .count() === 100)

    // LATER APPENDS are NOT scoped by the old delete: a re-inserted u3
    // row survives (the sequence-number rule)
    SnapshotLog.commit(
      spark.range(1000, 1001).selectExpr("id AS k", "'u3' AS user", "id * 2 AS v"),
      root, overwrite = false, 400L)
    val cur = spark.read.format("snapshotlog").load(root)
    assert(cur.filter(col("user") === "u3").count() === 1)
    assert(cur.count() === expected + 1)

    // multi-column keys compose; compaction folds everything
    SnapshotLog.deleteEqualityMoR(spark, root,
      spark.range(1).selectExpr("CAST(10 AS BIGINT) AS k", "'u3' AS user"), 500L)
    assert(spark.read.format("snapshotlog").load(root).count() === expected + 1)
    SnapshotLog.deleteEqualityMoR(spark, root,
      spark.range(1).selectExpr("CAST(12 AS BIGINT) AS k", "'u5' AS user"), 600L)
    assert(spark.read.format("snapshotlog").load(root).count() === expected)
    SnapshotLog.rewriteDataFiles(spark, root, commitTsMs = 700L,
      targetBytes = 1L << 30)
    val sFinal = SnapshotLog.snapshots(spark, root).last
    assert(sFinal.dels.isEmpty)
    assert(spark.read.format("snapshotlog").load(root).count() === expected)
    assert(SnapshotLog.read(spark, root).filter(col("user") === "u3").count() === 1)

    // rename of an equality-delete key column is refused until folded
    val root2 = freshRoot("eq_rename")
    SnapshotLog.commit(df.limit(10), root2, overwrite = true, 100L)
    SnapshotLog.deleteEqualityMoR(spark, root2,
      spark.range(1).selectExpr("'u1' AS user"), 200L)
    val e = intercept[IllegalArgumentException] {
      SnapshotLog.renameColumn(spark, root2, "user", "uid", 300L)
    }
    assert(e.getMessage.contains("equality delete"))
  }

  test("branches: write-audit-publish — main isolated until fast_forward") {
    val root = "/tmp/graft_snap_warehouse/wap/t"
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(root), true)
    spark.sql("CREATE TABLE snap.wap.t AS SELECT id AS k FROM range(10)")
    val mainV = SnapshotLog.snapshots(spark, root).last.version

    // fork an audit branch from the main head, stage two batches on it
    spark.sql(s"CALL snap.system.create_branch('wap.t', 'audit', $mainV)")
    SnapshotLog.commit(spark.range(10, 15).toDF("k"), root, overwrite = false,
      SnapshotLog.nextCommitTs(spark, root), branch = Some("audit"))
    SnapshotLog.commit(spark.range(15, 18).toDF("k"), root, overwrite = false,
      SnapshotLog.nextCommitTs(spark, root), branch = Some("audit"))

    // MAIN is untouched: default reads, TIMESTAMP AS OF, and the version
    // numbering all ignore branch snapshots
    assert(spark.table("snap.wap.t").count() === 10)
    assert(SnapshotLog.read(spark, root).count() === 10)
    // the BRANCH reads its own staged state, by ref and by SQL name
    assert(spark.read.format("snapshotlog").option("branch", "audit")
      .load(root).count() === 18)
    assert(spark.sql("SELECT count(*) FROM snap.wap.t VERSION AS OF 'audit'")
      .head().getLong(0) === 18L)
    // branch snapshots chain through parents (audit trail intact)
    val refs = spark.sql("SELECT * FROM snap.wap.t.refs").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(refs.get("audit").contains("branch"))

    // PUBLISH: branch descends from main head → an ordinary append; the
    // incremental delta main consumers see is exactly the audited rows
    spark.sql("CALL snap.system.fast_forward('wap.t', 'audit')")
    assert(spark.table("snap.wap.t").count() === 18)
    val pub = SnapshotLog.snapshots(spark, root).last
    assert(pub.operation === "append" && pub.branch.isEmpty)
    assert(SnapshotLog.readIncremental(spark, root, fromVersion = mainV)
      .as[Long].collect().sorted === (10L until 18L).toArray)

    // a DIVERGED branch publishes as overwrite: main moved on after fork
    spark.sql(s"CALL snap.system.create_branch('wap.t', 'fix', ${pub.version})")
    spark.sql("INSERT INTO snap.wap.t SELECT id FROM range(100, 105)") // main advances
    SnapshotLog.commit(spark.range(200, 202).toDF("k"), root, overwrite = false,
      SnapshotLog.nextCommitTs(spark, root), branch = Some("fix"))
    SnapshotLog.fastForward(spark, root, "fix",
      SnapshotLog.nextCommitTs(spark, root))
    val pub2 = SnapshotLog.snapshots(spark, root).last
    assert(pub2.operation === "overwrite",
      "diverged publish must be an overwrite, not a fake append")
    assert(spark.table("snap.wap.t").count() === 20) // 18 + 2, main-only 100s dropped
    // time travel still reaches the pre-publish main state
    assert(spark.read.format("snapshotlog")
      .option("asOfVersion", pub.version + 1).load(root).count() === 23)
  }

  test("tags: named refs resolve in SQL and survive expiry") {
    val root = "/tmp/graft_snap_warehouse/tagspec/t"
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(root), true)
    spark.sql("CREATE TABLE snap.tagspec.t AS SELECT id AS k FROM range(3)")
    spark.sql("INSERT INTO snap.tagspec.t SELECT id FROM range(3, 10)")
    // v2 = the CTAS content (3 rows); tag it through SQL
    val tagged = spark.sql(
      "CALL snap.system.create_tag('tagspec.t', 'v1-release', 2)").collect()
    assert(tagged.head.getString(0) === "v1-release")
    // resolve the tag through Spark's native VERSION AS OF syntax
    assert(spark.sql("SELECT count(*) FROM snap.tagspec.t VERSION AS OF 'v1-release'")
      .head().getLong(0) === 3L)
    // and through the DSv2 option
    assert(spark.read.format("snapshotlog").option("asOfTag", "v1-release")
      .load(root).count() === 3)
    // refs metadata table
    val refs = spark.sql("SELECT * FROM snap.tagspec.t.refs").collect()
    assert(refs.map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq ===
      Seq(("v1-release", "tag", 2)))
    // expiry RETAINS the tagged version even below the keep watermark
    SnapshotLog.expireSnapshots(spark, root, keepFromVersion = 3)
    assert(SnapshotLog.snapshots(spark, root).map(_.version) === Seq(2, 3))
    assert(spark.sql("SELECT count(*) FROM snap.tagspec.t VERSION AS OF 'v1-release'")
      .head().getLong(0) === 3L)
    // drop the tag; the next expiry reclaims it
    spark.sql("CALL snap.system.drop_tag('tagspec.t', 'v1-release')")
    SnapshotLog.expireSnapshots(spark, root, keepFromVersion = 3)
    assert(SnapshotLog.snapshots(spark, root).map(_.version) === Seq(3))
    intercept[Exception] {
      spark.sql("SELECT * FROM snap.tagspec.t VERSION AS OF 'v1-release'").collect()
    }
    // numeric-looking tag names are refused (VERSION AS OF ambiguity)
    intercept[IllegalArgumentException] {
      SnapshotLog.createTag(spark, root, "42", 3)
    }
  }

  test("merge-on-read UPDATE: old rows suppressed, new rows appended, one snapshot") {
    val root = freshRoot("mor_update")
    val df = spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v")
    SnapshotLog.commit(df.filter(col("k") < 50), root, overwrite = true, 100L)
    SnapshotLog.commit(df.filter(col("k") >= 50), root, overwrite = false, 200L)
    val preFiles = SnapshotLog.snapshots(spark, root).last.files

    val v3 = SnapshotLog.updateWhereMoR(spark, root,
      col("k") % 10 === 3, Map("v" -> (col("v") + 1000L)), 300L)
    assert(v3 === 3)
    val s3 = SnapshotLog.snapshots(spark, root).last
    assert(s3.operation === "update")
    assert(preFiles.forall(s3.files.contains),
      "MoR update must carry every pre-existing data file untouched")
    assert(s3.files.size > preFiles.size, "updated rows live in appended files")
    assert(s3.dels.nonEmpty)

    val cur = spark.read.format("snapshotlog").load(root)
    assert(cur.count() === 100) // row count unchanged by UPDATE
    assert(cur.filter(col("k") === 3).select("v").as[Long].head() === 1006L)
    assert(cur.filter(col("k") === 4).select("v").as[Long].head() === 8L)
    assert(cur.agg(sum(col("v"))).head().getLong(0) ===
      (0 until 100).map(k => 2L * k + (if (k % 10 == 3) 1000L else 0L)).sum)
    // time travel: pre-update values intact
    assert(spark.read.format("snapshotlog").option("asOfVersion", 2).load(root)
      .filter(col("k") === 3).select("v").as[Long].head() === 6L)

    // stacked: a second MoR update hits rows living in the APPENDED file
    val v4 = SnapshotLog.updateWhereMoR(spark, root,
      col("k") === 3, Map("v" -> lit(-1L)), 400L)
    assert(v4 === 4)
    val cur4 = spark.read.format("snapshotlog").load(root)
    assert(cur4.count() === 100)
    assert(cur4.filter(col("k") === 3).select("v").as[Long].head() === -1L)

    // compaction folds everything back to plain files
    SnapshotLog.rewriteDataFiles(spark, root, commitTsMs = 500L,
      targetBytes = 1L << 30)
    val s5 = SnapshotLog.snapshots(spark, root).last
    assert(s5.dels.isEmpty)
    assert(spark.read.format("snapshotlog").load(root).count() === 100)
    assert(SnapshotLog.read(spark, root)
      .filter(col("k") === 3).select("v").as[Long].head() === -1L)
  }

  test("SQL DELETE routes through merge-on-read when the table property says so") {
    val root = "/tmp/graft_snap_warehouse/morprop/t"
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(root), true)
    spark.sql("CREATE TABLE snap.morprop.t AS SELECT id AS k, id * 2 AS v FROM range(100)")
    spark.sql("ALTER TABLE snap.morprop.t SET TBLPROPERTIES('write.delete.mode'='merge-on-read')")
    val props = spark.sql("SHOW TBLPROPERTIES snap.morprop.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("write.delete.mode").contains("merge-on-read"))

    val preFiles = SnapshotLog.snapshots(spark, root).last.files
    // NOTE: the predicate must be v1-Filter-translatable — an
    // untranslatable shape (k % 10 = 3) routes to the row-level CoW
    // operation regardless of the property (the documented split)
    spark.sql("DELETE FROM snap.morprop.t WHERE k >= 90")
    val s = SnapshotLog.snapshots(spark, root).last
    assert(s.operation === "delete")
    assert(s.files === preFiles, "MoR-routed DELETE must not rewrite data files")
    assert(s.dels.nonEmpty)
    assert(spark.table("snap.morprop.t").count() === 90)
    // the deletes metadata table lists the (data file, delete file) edges
    val edges = spark.sql("SELECT * FROM snap.morprop.t.deletes").collect()
    assert(edges.nonEmpty)
    assert(edges.map(_.getString(0)).toSet ===
      s.dels.keySet)

    // UNSET flips back to copy-on-write: the next DELETE rewrites files
    spark.sql("ALTER TABLE snap.morprop.t UNSET TBLPROPERTIES('write.delete.mode')")
    spark.sql("DELETE FROM snap.morprop.t WHERE k >= 80")
    val s2 = SnapshotLog.snapshots(spark, root).last
    assert(s2.files !== preFiles, "CoW DELETE should rewrite touched files")
    assert(spark.table("snap.morprop.t").count() === 80)
  }

  test("partition spec evolution: files prune under the spec they were written with") {
    val root = freshRoot("spec_evo")
    val df1 = spark.range(0, 400).selectExpr("id % 4 AS k", "id AS v")
    SnapshotLog.commitPartitioned(df1, root, Seq("k" -> "identity"),
      overwrite = true, commitTsMs = 100L)
    val v1Files = SnapshotLog.snapshots(spark, root).last.files.size
    assert(v1Files === 4) // one file per identity tuple

    // EVOLVE the spec: later appends lay out under bucket[8]
    val df2 = spark.range(400, 800).selectExpr("id % 4 AS k", "id AS v")
    SnapshotLog.commitPartitioned(df2, root, Seq("k" -> "bucket[8]"),
      overwrite = false, commitTsMs = 200L)
    val s2 = SnapshotLog.snapshots(spark, root).last
    assert(s2.specs.size === 2, "manifest must record both specs")
    assert(s2.spec === Seq("k" -> "bucket[8]"), "active spec is the new one")

    val all = spark.read.format("snapshotlog").load(root)
    assert(all.count() === 800)

    // an equality probe prunes BOTH generations, each under its own spec:
    // identity files to the k=2 tuple, bucket files to hash(2)%8
    val probe = all.filter(col("k") === 2L)
    val planned = probe.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[graft.sources.SnapshotLogScan].keptFiles.size
    }.head
    val total = s2.files.size
    assert(planned < total,
      s"expected cross-spec pruning, planned $planned of $total")
    // exactly 1 identity file (tuple k=2) survives from the v1 generation
    val keptV1 = probe.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[graft.sources.SnapshotLogScan].keptFiles
    }.head.count(f => SnapshotLog.snapshots(spark, root).head.files.contains(f))
    assert(keptV1 === 1, s"identity-spec generation should prune to 1 file, kept $keptV1")
    assert(probe.count() === 200)
  }

  test("commit rejects unsupported column types with an actionable error") {
    val root = freshRoot("badtype")
    val bad = spark.range(1).selectExpr("id", "make_ym_interval(1, 2) AS iv")
    val e = intercept[UnsupportedOperationException] {
      SnapshotLog.commit(bad, root, overwrite = true, 100L)
    }
    assert(e.getMessage.contains("iv"))
  }
}
