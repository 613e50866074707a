package graft

import java.util.concurrent.{CountDownLatch, CyclicBarrier, Executors, TimeUnit}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.spark
import graft.sources.SnapshotLog

/** Multi-writer commit semantics (r15): optimistic-concurrency retry with
  * Iceberg-SnapshotProducer validation. Writers touching DISJOINT files
  * all land (appends re-apply on the new head after a lost version-file
  * race); row-level statements whose targeted files were touched by a
  * concurrent winner refuse with CommitConflictException rather than
  * corrupt — never a silent lost update, never a resurrected row. */
class SnapshotConcurrencySpec extends AnyFunSuite {
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val root = s"/tmp/graft_concurrency_spec/$tag"
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(root), true)
    root
  }

  /** Run the thunks concurrently from a common barrier; returns each
    * outcome (Right(result) / Left(throwable)). */
  private def race[T](thunks: Seq[() => T]): Seq[Either[Throwable, T]] = {
    val pool = Executors.newFixedThreadPool(thunks.size)
    val barrier = new CyclicBarrier(thunks.size)
    val done = new CountDownLatch(thunks.size)
    val out = new Array[Either[Throwable, T]](thunks.size)
    thunks.zipWithIndex.foreach { case (t, i) =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          try { barrier.await(60, TimeUnit.SECONDS); out(i) = Right(t()) }
          catch { case e: Throwable => out(i) = Left(e) }
          finally done.countDown()
        }
      })
    }
    assert(done.await(300, TimeUnit.SECONDS), "racing writers timed out")
    pool.shutdown()
    out.toSeq
  }

  test("N concurrent appends ALL land (disjoint files always merge)") {
    val root = freshRoot("appends")
    SnapshotLog.commit(
      spark.range(0, 100).selectExpr("id AS k", "'seed' AS src"),
      root, overwrite = true, 100L, 1)
    val n = 6
    val results = race((0 until n).map { i => () =>
      SnapshotLog.commit(
        spark.range(1000L * (i + 1), 1000L * (i + 1) + 50)
          .selectExpr("id AS k", s"'w$i' AS src"),
        root, overwrite = false, 200L + i, 1)
    })
    val failures = results.collect { case Left(e) => e }
    assert(failures.isEmpty,
      s"every concurrent append must land; got: ${failures.map(_.getMessage)}")
    val versions = results.collect { case Right(v) => v }
    assert(versions.distinct.size === n, "each append owns its own version")
    val t = spark.read.format("snapshotlog").load(root)
    assert(t.count() === 100 + n * 50)
    // every writer's rows are present — no lost update
    (0 until n).foreach { i =>
      assert(t.where(col("src") === s"w$i").count() === 50, s"writer $i lost")
    }
    // commit timestamps stayed strictly monotone across the race
    val tss = SnapshotLog.snapshots(spark, root).map(_.commitTsMs)
    assert(tss === tss.sorted && tss.distinct.size == tss.size,
      s"commitTsMs must stay strictly monotone, got $tss")
  }

  test("append racing a MoR delete on OLD files: both land, both effects hold") {
    val root = freshRoot("append_vs_delete")
    SnapshotLog.commit(
      spark.range(0, 1000).selectExpr("id AS k", "'old' AS src"),
      root, overwrite = true, 100L, 2)
    val results = race(Seq(
      () => SnapshotLog.commit(
        spark.range(5000, 5100).selectExpr("id AS k", "'new' AS src"),
        root, overwrite = false, 200L, 1),
      () => SnapshotLog.deleteWhereMoR(spark, root, col("k") % 10 === 0, 201L)
    ))
    val failures = results.collect { case Left(e) => e }
    assert(failures.isEmpty,
      s"append and delete touch disjoint files — both must land: " +
        failures.map(_.getMessage))
    val t = spark.read.format("snapshotlog").load(root)
    // delete scoped at its staging snapshot: the 100 appended rows are
    // NOT in its scope even though k%10==0 matches some (Iceberg's
    // sequence-number rule); the 1000 old rows lose their multiples of 10
    assert(t.where(col("src") === "old").count() === 900)
    assert(t.where(col("src") === "new").count() === 100)
  }

  test("overlapping MoR deletes: each either lands or refuses with " +
       "CommitConflictException; final state = the successful ones applied") {
    val root = freshRoot("overlap_dml")
    // ONE data file => any two deletes overlap on it
    SnapshotLog.commit(spark.range(0, 1000, 1, 1).selectExpr("id AS k"),
      root, overwrite = true, 100L, 1)
    val results = race(Seq(
      () => SnapshotLog.deleteWhereMoR(spark, root, col("k") < 100, 200L),
      () => SnapshotLog.deleteWhereMoR(spark, root,
        col("k") >= 50 && col("k") < 150, 201L)
    ))
    val hardFailures = results.collect {
      case Left(e) if !e.isInstanceOf[SnapshotLog.CommitConflictException] => e
    }
    assert(hardFailures.isEmpty,
      s"only CommitConflictException may surface: ${hardFailures.map(_.getMessage)}")
    val landed = results.zipWithIndex.collect { case (Right(_), i) => i }
    assert(landed.nonEmpty, "at least one delete must land")
    val expectGone: Set[Long] =
      landed.flatMap {
        case 0 => 0L until 100L
        case _ => 50L until 150L
      }.toSet
    val got = spark.read.format("snapshotlog").load(root)
      .select("k").as[Long].collect().toSet
    assert(got === (0L until 1000L).toSet -- expectGone,
      s"final state must equal exactly the landed deletes applied (landed=$landed)")
  }

  test("equality-delete upserts racing appends: all land, keys resolve") {
    val root = freshRoot("upsert_vs_append")
    SnapshotLog.commit(
      spark.range(0, 200).selectExpr("id AS k", "CAST(0 AS LONG) AS v"),
      root, overwrite = true, 100L, 2)
    val results = race(Seq(
      // upsert rewrites keys 0..49 (targets the seed files)
      () => SnapshotLog.upsertEqualityMoR(spark, root,
        spark.range(0, 50).selectExpr("id AS k", "CAST(7 AS LONG) AS v"),
        Seq("k"), 200L),
      // append of brand-new keys — disjoint files, must merge
      () => SnapshotLog.commit(
        spark.range(10000, 10100).selectExpr("id AS k", "CAST(1 AS LONG) AS v"),
        root, overwrite = false, 201L, 1)
    ))
    val conflicts = results.collect {
      case Left(e: SnapshotLog.CommitConflictException) => e
    }
    val hard = results.collect {
      case Left(e) if !e.isInstanceOf[SnapshotLog.CommitConflictException] => e
    }
    assert(hard.isEmpty, s"unexpected failure: ${hard.map(_.getMessage)}")
    assert(conflicts.isEmpty,
      "upsert vs append touch disjoint targeted files — both must land")
    val t = spark.read.format("snapshotlog").load(root)
    assert(t.where(col("v") === 7).count() === 50)
    assert(t.where(col("v") === 1).count() === 100)
    assert(t.count() === 200 + 100)
  }

  test("concurrent upserts of the SAME new key never leave duplicates " +
       "(validateAddedDataFiles analog)") {
    val root = freshRoot("upsert_same_new_key")
    SnapshotLog.commit(
      spark.range(0, 200).selectExpr("id AS k", "CAST(0 AS LONG) AS v"),
      root, overwrite = true, 100L, 2)
    // key 5000 exists in NEITHER writer's base snapshot: both stage an
    // EMPTY equality-delete delta, so the r15 validation passed trivially
    // and both landed — duplicate rows for the key. The added-files check
    // must make the re-applying loser refuse (or the two serialize, the
    // later one deleting the earlier one's image). Either way: ONE row.
    val results = race(Seq(
      () => SnapshotLog.upsertEqualityMoR(spark, root,
        spark.range(5000, 5001).selectExpr("id AS k", "CAST(7 AS LONG) AS v"),
        Seq("k"), 200L),
      () => SnapshotLog.upsertEqualityMoR(spark, root,
        spark.range(5000, 5001).selectExpr("id AS k", "CAST(9 AS LONG) AS v"),
        Seq("k"), 201L)
    ))
    val hard = results.collect {
      case Left(e) if !e.isInstanceOf[SnapshotLog.CommitConflictException] => e
    }
    assert(hard.isEmpty, s"unexpected failure: ${hard.map(_.getMessage)}")
    val rows = spark.read.format("snapshotlog").load(root)
      .where(col("k") === 5000L).select("v").as[Long].collect()
    assert(rows.length === 1,
      s"duplicate rows for an upserted key: ${rows.mkString(",")}")
    assert(rows.head === 7L || rows.head === 9L)
    assert(spark.read.format("snapshotlog").load(root).count() === 201)
  }

  test("concurrent upserts of DISJOINT new key ranges both land " +
       "(stats disambiguate the added files)") {
    val root = freshRoot("upsert_disjoint_new_keys")
    SnapshotLog.commit(
      spark.range(0, 200).selectExpr("id AS k", "CAST(0 AS LONG) AS v"),
      root, overwrite = true, 100L, 2)
    val results = race(Seq(
      () => SnapshotLog.upsertEqualityMoR(spark, root,
        spark.range(5000, 5050).selectExpr("id AS k", "CAST(7 AS LONG) AS v"),
        Seq("k"), 200L),
      () => SnapshotLog.upsertEqualityMoR(spark, root,
        spark.range(9000, 9050).selectExpr("id AS k", "CAST(9 AS LONG) AS v"),
        Seq("k"), 201L)
    ))
    val conflicts = results.collect {
      case Left(e: SnapshotLog.CommitConflictException) => e
    }
    val hard = results.collect {
      case Left(e) if !e.isInstanceOf[SnapshotLog.CommitConflictException] => e
    }
    assert(hard.isEmpty, s"unexpected failure: ${hard.map(_.getMessage)}")
    assert(conflicts.isEmpty,
      "provably-disjoint key ranges must merge: " +
        conflicts.map(_.getMessage).mkString("; "))
    val t = spark.read.format("snapshotlog").load(root)
    assert(t.where(col("v") === 7).count() === 50)
    assert(t.where(col("v") === 9).count() === 50)
    assert(t.count() === 300)
  }

  test("append re-applied past a concurrent ALTER refuses (schema would revert)") {
    val root = freshRoot("append_vs_alter")
    SnapshotLog.commit(spark.range(0, 10).selectExpr("id AS k", "'a' AS tag"),
      root, overwrite = true, 100L, 1)
    // interleave deterministically: stage the append's base read, then
    // rename, then let the append's attempt observe the moved schema —
    // approximated by racing them repeatedly; any refusal must be a
    // CommitConflictException, and a clean interleave leaves both applied
    val results = race(Seq(
      () => SnapshotLog.renameColumn(spark, root, "tag", "label", 200L),
      () => SnapshotLog.commit(
        spark.range(10, 20).selectExpr("id AS k", "'b' AS tag"),
        root, overwrite = false, 201L, 1)
    ))
    // the invariant is NO SILENT SCHEMA REVERT: when both landed, the
    // append must have preceded the rename (an append re-applied past
    // the ALTER refuses instead), so the final schema carries the new
    // name; any refusal on either side is a clean, typed failure
    val t = spark.read.format("snapshotlog").load(root)
    val bothLanded = results.forall(_.isRight)
    if (bothLanded) {
      assert(t.schema.fieldNames.contains("label") &&
        !t.schema.fieldNames.contains("tag"),
        "append re-applied past the ALTER silently reverted the rename")
      assert(t.count() === 20)
    } else {
      assert(t.count() >= 10) // the table stays consistent and readable
    }
  }

  test("SQL UPDATE (copy-on-write) and MERGE (merge-on-read delta) racing " +
       "an append: the statement lands with the appended rows intact, or " +
       "refuses — never a lost append") {
    val wh = "/tmp/graft_snap_warehouse"
    Seq(
      ("conc_rl_update", Map.empty[String, String],
        "UPDATE snap.conc_rl_update.t SET v = v + 10000 WHERE k < 50"),
      ("conc_rl_merge", Map("write.merge.mode" -> "merge-on-read"),
        """MERGE INTO snap.conc_rl_merge.t AS t
          |USING (SELECT id AS k, id + 10000 AS v FROM range(0, 50)) AS s
          |ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    ).foreach { case (ns, props, stmt) =>
      val root = s"$wh/$ns/t"
      new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
        .delete(new Path(root), true)
      SnapshotLog.commit(spark.range(0, 100).selectExpr("id AS k", "id AS v"),
        root, overwrite = true, 100L)
      if (props.nonEmpty) SnapshotLog.setTableProps(spark, root, props)
      val Seq(appended, statement) = race(Seq(
        () => SnapshotLog.commit(
          spark.range(1000, 1050).selectExpr("id AS k", "id AS v"),
          root, overwrite = false, 200L),
        () => spark.sql(stmt).collect().length))
      assert(appended.isRight, s"$ns: the append must land: $appended")
      val t = spark.read.format("snapshotlog").load(root)
      assert(t.filter(col("k") >= 1000 && col("v") === col("k")).count() === 50,
        s"$ns: the appended rows must survive untouched")
      assert(t.count() === 150)
      statement match {
        case Right(_) =>
          assert(t.filter(col("k") < 50 && col("v") === col("k") + 10000)
            .count() === 50, s"$ns: the statement landed")
        case Left(e) =>
          assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
            .exists(_.isInstanceOf[IllegalStateException]),
            s"$ns: a refusal must be an IllegalStateException: $e")
          assert(t.filter(col("v") === col("k")).count() === 150)
      }
    }
  }
}
