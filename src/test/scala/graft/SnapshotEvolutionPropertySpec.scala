package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.spark
import graft.sources.SnapshotLog

/** Model-based property test for SCHEMA EVOLUTION × DML interplay: a
  * seeded-random sequence of appends, deletes, updates, upserts and
  * compactions with an ADD COLUMN … DEFAULT dropped in mid-stream. The
  * in-memory model tracks (k → (v, flag)) where flag is None before a
  * row ever gets one — pre-evolution rows must read the DEFAULT, rows
  * written after carry their values, and every rewrite (compaction, CoW,
  * MoR fold) must preserve that distinction. This is the net for the
  * class of bug found by hand in r17: a rewrite path that bakes null
  * over a default. */
class SnapshotEvolutionPropertySpec extends AnyFunSuite {
  import spark.implicits._

  private val Default = 5L

  for (seed <- Seq(13, 57)) {
    test(s"random DML with mid-stream ADD COLUMN DEFAULT equals the " +
         s"model (seed $seed)") {
      val rnd = new scala.util.Random(seed)
      val root = s"/tmp/graft_snaplog_spec/evoprop_$seed"
      val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new Path(root), true)

      // model: k -> (v, flag); flag = what a read MUST return for the row
      var model = Map.empty[Long, (Long, Long)]
      var evolved = false
      var nextKey = 0L
      var ts = 1000L
      def tick(): Long = { ts += 1000; ts }

      def appendBatch(n: Int): Unit = {
        val rows = (0 until n).map { _ =>
          nextKey += 1
          (nextKey, rnd.nextInt(1000).toLong,
            if (evolved) rnd.nextInt(50).toLong + 100L else Default)
        }
        val df =
          if (evolved) rows.toDF("k", "v", "flag")
          else rows.map(r => (r._1, r._2)).toDF("k", "v")
        SnapshotLog.commit(df, root,
          overwrite = SnapshotLog.snapshots(spark, root).isEmpty,
          commitTsMs = tick())
        model ++= rows.map(r => r._1 -> (r._2, r._3))
      }

      def stateOf: Map[Long, (Long, Long)] =
        if (!evolved)
          spark.read.format("snapshotlog").load(root)
            .as[(Long, Long)].collect().map(t => t._1 -> (t._2, Default)).toMap
        else
          spark.read.format("snapshotlog").load(root)
            .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap

      // the same state through the row reader (`_file` forces it)
      def rowStateOf: Map[Long, (Long, Long)] =
        if (!evolved)
          SnapshotLog.read(spark, root).select("k", "v", "_file")
            .as[(Long, Long, String)].collect().map(t => t._1 -> (t._2, Default)).toMap
        else
          SnapshotLog.read(spark, root).select("k", "v", "flag", "_file")
            .as[(Long, Long, Long, String)].collect()
            .map(t => t._1 -> (t._2, t._3)).toMap

      appendBatch(25)
      val evolveAt = 3 + rnd.nextInt(5)
      val opNames = scala.collection.mutable.ArrayBuffer[String]()

      for (step <- 0 until 14) {
        if (step == evolveAt && !evolved) {
          opNames += "addColumnDefault"
          SnapshotLog.addColumn(spark, root, "flag", LongType,
            Some(Default.toString), tick())
          evolved = true
        } else rnd.nextInt(6) match {
          case 0 =>
            opNames += "append"
            appendBatch(4 + rnd.nextInt(8))
          case 1 =>
            opNames += "posDelete"
            val m = 2 + rnd.nextInt(5); val r = rnd.nextInt(m)
            SnapshotLog.deleteWhereMoR(spark, root,
              col("k") % m === r.toLong, tick())
            model = model.filter { case (k, _) => k % m != r }
          case 2 =>
            opNames += "morUpdate"
            val m = 2 + rnd.nextInt(4); val r = rnd.nextInt(m)
            val delta = 1 + rnd.nextInt(100)
            SnapshotLog.updateWhereMoR(spark, root,
              col("k") % m === r.toLong,
              Map("v" -> (col("v") + delta.toLong)), tick())
            model = model.map { case (k, (v, fl)) =>
              k -> (if (k % m == r) (v + delta, fl) else (v, fl)) }
          case 3 if evolved =>
            // update the EVOLVED column itself through MoR
            opNames += "flagUpdate"
            val m = 2 + rnd.nextInt(4); val r = rnd.nextInt(m)
            SnapshotLog.updateWhereMoR(spark, root,
              col("k") % m === r.toLong,
              Map("flag" -> (col("flag") + 1000L)), tick())
            model = model.map { case (k, (v, fl)) =>
              k -> (if (k % m == r) (v, fl + 1000L) else (v, fl)) }
          case 3 =>
            opNames += "append"
            appendBatch(3)
          case 4 =>
            opNames += "upsert"
            val existing = model.keys.toSeq.sorted
            val ups = rnd.shuffle(existing).take(3).map { k =>
              (k, rnd.nextInt(1000).toLong,
                if (evolved) 777L else Default)
            }
            val ins = (0 until 2).map { _ =>
              nextKey += 1
              (nextKey, rnd.nextInt(1000).toLong,
                if (evolved) 888L else Default)
            }
            val batch =
              if (evolved) (ups ++ ins).toDF("k", "v", "flag")
              else (ups ++ ins).map(r => (r._1, r._2)).toDF("k", "v")
            SnapshotLog.upsertEqualityMoR(spark, root, batch, Seq("k"), tick())
            model ++= (ups ++ ins).map(r => r._1 -> (r._2, r._3))
          case 5 =>
            opNames += "rewrite"
            SnapshotLog.rewriteDataFiles(spark, root, tick(),
              targetBytes = 1L << 30)
        }
        val ctx = s"seed=$seed step=$step ops=${opNames.mkString(",")}"
        assert(stateOf === model, s"DSv2 read diverged ($ctx)")
        assert(rowStateOf === model, s"row reader diverged ($ctx)")
      }

      // end: fold + expire, the defaults must SURVIVE physically
      SnapshotLog.rewriteDataFiles(spark, root, tick(), targetBytes = 1L << 30)
      val head = SnapshotLog.snapshots(spark, root).last.version
      SnapshotLog.expireSnapshots(spark, root, keepFromVersion = head)
      assert(stateOf === model, s"post-expiry read diverged (seed=$seed)")

      if (evolved) {
        // pruning invariant: a probe on a value no row holds must not
        // return rows, and a probe on the default returns exactly the
        // model's default-flag rows
        val t = spark.read.format("snapshotlog").load(root)
        assert(t.filter(col("flag") === -999L).count() === 0L)
        assert(t.filter(col("flag") === Default).count() ===
          model.values.count(_._2 == Default).toLong, s"seed=$seed")
      }
    }
  }
}
