package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import java.util.concurrent.ThreadLocalRandom
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** A minimal snapshot/transaction-log table format — the offline,
  * Spark-first analog of the reference's Iceberg surface (snapshot reads,
  * time travel, additive schema evolution, append/overwrite commits;
  * bodo/io/iceberg/ and IcebergDDLExecutor.kt). The real
  * iceberg-spark-runtime jar is unavailable in this environment (no egress;
  * SURVEY §2.1 note), so the SEMANTICS are provided over plain parquet plus
  * a JSON manifest log, the same two-layer design Iceberg itself uses:
  *
  *   <root>/data/<uuid>/part-*.parquet   immutable data files
  *   <root>/_log/v00001.json             manifest: exact file list + schema
  *
  * Readers never list `data/` — they read the manifest and open exactly the
  * files it names, so a reader pinned to version N is isolated from any
  * concurrent commit (snapshot isolation), and old versions stay readable
  * until `expireSnapshots` reclaims them (manifest expiry + shared-file-
  * aware orphan cleanup). Table maintenance is `rewriteDataFiles`
  * (bin-packing compaction — Iceberg's rewrite_data_files). All filesystem
  * traffic goes through Hadoop `FileSystem`, so file:/hdfs:/s3a: roots work.
  *
  * Commit publish protocol: the manifest path itself is claimed
  * EXCLUSIVELY — an atomic O_EXCL create on file:// (POSIX rename silently
  * overwrites, so rename is NOT a conflict detector there) and
  * create(overwrite=false) elsewhere (atomic on HDFS) — then written and
  * read back to verify. Losing a race surfaces as an error (Iceberg retries
  * the whole commit; callers here can too) and the loser's freshly written
  * data directory is deleted, never leaked. A hard crash mid-publish can
  * leave a torn trailing manifest: readers treat an unparseable LAST
  * manifest as an uncommitted attempt (the commit was never acknowledged)
  * and the next commit self-heals by reclaiming its version slot.
  *
  * ONE commit kernel ([[commitChange]], Iceberg's single snapshot
  * producer) publishes every data commit — append, overwrite,
  * partitioned append, merge-on-read delete/update/upsert — and MAIN IS A
  * BRANCH: each write method takes an optional `branch` and the kernel
  * keeps the only three ref-dependent decisions (head resolution,
  * re-apply after the head moved, post-commit step) in one place. ALTER
  * and the compaction/rewrite paths keep their own retry loops over the
  * same [[commitManifest]].
  *
  * At 100 TB the manifest holds file PATHS + footer-derived stats, not
  * data: a commit is one distributed parquet write plus a driver-side
  * footer walk (metadata IO only — the min/max stats come from the parquet
  * footers the write already produced, never a second data scan) plus one
  * small JSON PUT; a version read plans exactly the manifest's files (no
  * directory listing storm); time travel is manifest selection —
  * O(versions) driver-side metadata, never a data scan.
  *
  * Every batch read of a snapshot's data files — `read`, `readPruned`,
  * `readIncremental`, `changes`, compaction input, copy-on-write DELETE
  * and `spark.read.format("snapshotlog")` — goes through the one DSv2
  * scan ([[SnapshotLogScan]], via [[scan]]). Its readers apply merge-on-
  * read deletes, field-id renames and column defaults per file, and
  * Catalyst pushes any predicate into its manifest-stats pruning.
  */
object SnapshotLog {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private def logWarning(msg: String): Unit = log.warn(msg)

  /** Reserved CDC meta column names (Delta CDF / Iceberg changelog
    * parity): a table column with one of these names would be silently
    * overwritten by the changelog machinery, so `changes()` and the
    * streaming CDC source refuse such schemas. */
  private[sources] val ChangelogMetaCols: Set[String] =
    Set("_change_type", "_commit_version", "_commit_ts_ms")

  final case class Snapshot(
      version: Int,
      operation: String,
      commitTsMs: Long,
      schemaJson: String,
      files: Seq[String],
      // per-file column stats: file -> col -> (min, max) as JSON scalars
      // (numbers for numeric cols, strings for string cols); absent for
      // files committed without stats — readers must treat a missing
      // entry as "may match" (conservative, like Iceberg's nullable
      // lower_bounds/upper_bounds)
      stats: Map[String, Map[String, (Any, Any)]] = Map.empty,
      // per-file byte sizes (footer walk records them for free); absent
      // for manifests written before this field existed — readers fall
      // back to one FS stat per file
      sizes: Map[String, Long] = Map.empty,
      // free-form commit properties (Iceberg snapshot summary analog);
      // e.g. the streaming sink records "streaming.batchId" here for
      // exactly-once replay detection
      props: Map[String, String] = Map.empty,
      // hidden-partitioning spec: (source column, transform) pairs, where
      // transform ∈ identity | bucket[N] | truncate[W] | day — Iceberg's
      // partition spec. Empty = unpartitioned.
      spec: Seq[(String, String)] = Seq.empty,
      // per-file partition tuple (values aligned with `spec`), parsed from
      // the writer's directory layout; None-valued entries (null partition)
      // are recorded as the empty-marker and never pruned
      parts: Map[String, Seq[String]] = Map.empty,
      // per-file physical column names (footer walk records them for
      // free): with `colIds`, field-id resolution finds each column's
      // name in a file without reopening its footer ([[physName]]).
      // Absent for old manifests (name-based reads).
      cols: Map[String, Seq[String]] = Map.empty,
      // merge-on-read position deletes (Iceberg positional delete files):
      // norm(data file) -> the delete parquet files (file_path, pos) that
      // apply to it. A data file with entries here serves its rows MINUS
      // the deleted ordinals; rewriteDataFiles folds the deletes away.
      // Empty for tables that only use copy-on-write DML.
      dels: Map[String, Seq[String]] = Map.empty,
      // Iceberg-style FIELD IDS: current column name -> stable id. RENAME
      // is then a metadata-only remap (the id keeps, old files resolve
      // through it); DROP removes the entry; a re-added name gets a FRESH
      // id so dropped data never resurrects. Empty for manifests written
      // before field ids existed — resolution falls back to name-based.
      fids: Map[String, Int] = Map.empty,
      // per-file field ids aligned positionally with `cols` (the file's
      // physical column names at its commit time): the id->physical-name
      // map that makes rename/drop resolution work into old files
      colIds: Map[String, Seq[Int]] = Map.empty,
      // high-water field id — ids are NEVER reused, even after a drop
      // (Iceberg's last-column-id), so a dropped-then-readded column
      // cannot alias old file data
      maxId: Int = 0,
      // PARTITION-SPEC EVOLUTION (Iceberg spec-per-snapshot): every spec
      // the table has ever written under, oldest first; `spec` stays the
      // ACTIVE spec (== specs.last when both present). Files prune under
      // the spec they were WRITTEN with, not the active one.
      specs: Seq[Seq[(String, String)]] = Seq.empty,
      // per-file index into `specs`; absent = written under the single
      // legacy `spec`
      fileSpec: Map[String, Int] = Map.empty,
      // PARENT pointer (Iceberg snapshot lineage): the version this
      // snapshot was committed AGAINST. -1 = legacy manifest (parent is
      // version-1 by construction — histories were linear before
      // branches existed). Branch commits point at the branch head, so
      // the mainline and each branch are parent-chains through one
      // shared, monotonically-numbered log.
      parent: Int = -1,
      // per-file ROW COUNTS (the footer walk reads them for free):
      // metadata-only COUNT(*) and completeness checks without opening a
      // single file. Absent for pre-r13 manifests (aggregate pushdown
      // then refuses and the scan path answers instead).
      rows: Map[String, Long] = Map.empty,
      // MANIFEST-LIST SHARDING (r14, Iceberg's two-level manifest): the
      // immutable shard files this snapshot's per-file entries resolve
      // through (already folded into the maps above at parse time) —
      // kept for expiry bookkeeping only, never re-serialized
      shardPaths: Seq[String] = Seq.empty) {
    /** Effective parent version (legacy linear fallback). */
    def parentVersion: Int = if (parent >= 0) parent else version - 1
    /** True iff this snapshot belongs to a BRANCH (not the main line). */
    def branch: Option[String] = props.get("ref")
    def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]

    /** This snapshot's per-file state restricted to the files whose
      * normalized path satisfies `keep` — what a rewrite carries over. */
    def retain(keep: String => Boolean): Snapshot = {
      def on[V](m: Map[String, V]) = m.view.filterKeys(keep).toMap
      copy(files = files.filter(f => keep(SnapshotLog.norm(f))),
        stats = on(stats), sizes = on(sizes), parts = on(parts),
        cols = on(cols), dels = on(dels), colIds = on(colIds),
        fileSpec = on(fileSpec), rows = on(rows))
    }

    /** The partition spec data file `f` was WRITTEN under — the spec its
      * recorded tuple aligns with (spec evolution: newer commits may lay
      * out under a different active spec). */
    def specOf(f: String): Seq[(String, String)] =
      fileSpec.get(SnapshotLog.norm(f)).flatMap(specs.lift).getOrElse(spec)

    /** Physical column name of current-schema column `name` inside data
      * file `f`: Some(phys) to read, None to null-fill (the file predates
      * the column's id — including the dropped-then-readded case, where
      * the same NAME exists physically under a retired id). Name-based
      * when the table or the file predates field ids. */
    def physName(f: String, name: String): Option[String] = {
      if (fids.isEmpty) return Some(name)
      val key = SnapshotLog.norm(f)
      (fids.get(name), cols.get(key), colIds.get(key)) match {
        case (Some(id), Some(cs), Some(ids)) =>
          val i = ids.indexOf(id)
          if (i >= 0 && i < cs.length) Some(cs(i)) else None
        case _ => Some(name) // legacy file or column: name-based
      }
    }
  }

  private val om = new ObjectMapper()

  private[sources] def fsFor(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** Open a parquet file for its footer under the caller's `conf`.
    * `ParquetFileReader.open(InputFile)` alone builds its read options on
    * a fresh `Configuration`, which parses Hadoop's default XML again on
    * every open (3-4 ms each). The record filter stays off, as on that
    * path: these opens read footers, not rows. */
  private[sources] def openFooter(path: Path, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(path, conf),
      HadoopReadOptions.builder(conf).withRecordFilter(FilterCompat.NOOP).build())

  private def logDir(root: String) = new Path(root, "_log")

  private def manifestPath(root: String, v: Int) =
    new Path(logDir(root), f"v$v%05d.json")

  /** All committed snapshots, oldest first (ignores foreign/tmp files).
    * An unparseable TRAILING manifest is an in-flight or crashed publish
    * that was never acknowledged — skipped; unparseable earlier manifests
    * are real corruption and throw. */
  def snapshots(spark: SparkSession, root: String): Seq[Snapshot] = CommitTimings.time("snapshots") {
    val dir = logDir(root)
    val fs = fsFor(spark, dir)
    if (!fs.exists(dir)) return Seq.empty
    val names = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.matches("v\\d{5}\\.json")).sorted
    val parsed = names.map { n =>
      try Some(parseManifestCached(readBytes(fs, new Path(dir, n)), fs))
      catch { case _: Exception => None }
    }.toArray
    // total wait budget ACROSS all torn manifests in this call: multiple
    // torn files must not compound into minutes of blocked planning (the
    // grace is per-file, the budget is per-snapshots() call)
    var waitBudgetMs = 3L * tornReclaimGraceMs
    parsed.zipWithIndex.foreach { case (p, i) =>
      if (p.isEmpty && i < parsed.length - 1) {
        // An unparseable NON-TRAILING manifest on an hdfs-like scheme is
        // usually a publish caught MID-WRITE (a newer version already
        // landed, so this writer's payload is in flight, not crashed) —
        // re-read inside the torn-reclaim grace before declaring
        // corruption, so a transient torn window never surfaces to
        // readers. Still torn past the grace = genuine corruption.
        val path = new Path(dir, names(i))
        def mtime: Long = try fs.getFileStatus(path).getModificationTime
                          catch { case _: Exception => 0L }
        // the deadline tracks the LAST-OBSERVED mtime: a slow in-flight
        // publish that is visibly still writing (mtime advancing) keeps
        // extending its grace instead of being declared corrupt on the
        // first-observed timestamp
        var deadline = mtime + tornReclaimGraceMs
        var snap: Option[Snapshot] = None
        while (snap.isEmpty && waitBudgetMs > 0 &&
               System.currentTimeMillis() < deadline) {
          Thread.sleep(100L); waitBudgetMs -= 100L
          snap = try Some(parseManifestCached(readBytes(fs, path), fs))
                 catch { case _: Exception => None }
          if (snap.isEmpty)
            deadline = math.max(deadline, mtime + tornReclaimGraceMs)
        }
        if (snap.isEmpty) throw new IllegalStateException(
          s"SnapshotLog: corrupt non-trailing manifest ${names(i)} at $root")
        parsed(i) = snap
      }
    }
    parsed.flatten.toSeq
  }

  /** CONTENT-ADDRESSED resolved-manifest cache: a published manifest's
    * bytes never change (O_EXCL publish + read-back verify) and shard
    * files are immutable, so parsing is a pure function of the bytes —
    * keying by digest is safe even when tests recreate a table at the
    * same path. Keeps `pick()`-per-statement planning O(1) re-parses on
    * big sharded tables. */
  private val snapCache =
    new java.util.concurrent.ConcurrentHashMap[String, Snapshot]()
  private def parseManifestCached(bytes: Array[Byte], fs: FileSystem): Snapshot = {
    val key = java.util.Base64.getEncoder.encodeToString(
      java.security.MessageDigest.getInstance("MD5").digest(bytes))
    val hit = snapCache.get(key)
    if (hit != null) hit
    else {
      val s = parseManifest(bytes, fs)
      if (snapCache.size > 4096) snapCache.clear() // crude bound, rare
      snapCache.put(key, s)
      s
    }
  }

  /** Per-file entry payload of one immutable manifest shard. */
  private[sources] final case class ShardContent(
      files: Seq[String],
      stats: Map[String, Map[String, (Any, Any)]],
      sizes: Map[String, Long],
      cols: Map[String, Seq[String]],
      parts: Map[String, Seq[String]],
      colIds: Map[String, Seq[Int]],
      rows: Map[String, Long],
      fileSpec: Map[String, Int])

  /** Shard files are IMMUTABLE (uuid-named, written once before their
    * manifest publishes) — parse results memoize JVM-wide. */
  private val shardCache =
    new java.util.concurrent.ConcurrentHashMap[String, ShardContent]()
  private[sources] def loadShard(fs: FileSystem, path: String): ShardContent = {
    val k = norm(path)
    val hit = shardCache.get(k)
    if (hit != null) hit
    else {
      val t = om.readTree(readBytes(fs, new Path(path)))
      val sc = ShardContent(
        Option(t.get("files")).map(_.elements().asScala.map(_.asText()).toSeq)
          .getOrElse(Seq.empty),
        Option(t.get("stats")).map { sn =>
          sn.fields().asScala.map { fe =>
            fe.getKey -> fe.getValue.fields().asScala.map { ce =>
              ce.getKey -> (scalar(ce.getValue.get("min")),
                scalar(ce.getValue.get("max")))
            }.toMap
          }.toMap
        }.getOrElse(Map.empty),
        Option(t.get("sizes")).map(_.fields().asScala
          .map(fe => fe.getKey -> fe.getValue.asLong()).toMap).getOrElse(Map.empty),
        Option(t.get("cols")).map(_.fields().asScala.map(fe =>
          fe.getKey -> fe.getValue.elements().asScala.map(_.asText()).toSeq)
          .toMap).getOrElse(Map.empty),
        Option(t.get("parts")).map(_.fields().asScala.map(fe =>
          fe.getKey -> fe.getValue.elements().asScala.map(_.asText()).toSeq)
          .toMap).getOrElse(Map.empty),
        Option(t.get("colIds")).map(_.fields().asScala.map(fe =>
          fe.getKey -> fe.getValue.elements().asScala.map(_.asInt()).toSeq)
          .toMap).getOrElse(Map.empty),
        Option(t.get("rows")).map(_.fields().asScala
          .map(fe => fe.getKey -> fe.getValue.asLong()).toMap).getOrElse(Map.empty),
        Option(t.get("fileSpec")).map(_.fields().asScala
          .map(fe => fe.getKey -> fe.getValue.asInt()).toMap).getOrElse(Map.empty))
      if (shardCache.size > 512) shardCache.clear()
      shardCache.put(k, sc)
      sc
    }
  }

  private def parseManifest(bytes: Array[Byte], fs: FileSystem): Snapshot = {
    val t = om.readTree(bytes)
    require(t != null && t.has("version"), "not a manifest")
    val stats: Map[String, Map[String, (Any, Any)]] =
      Option(t.get("stats")).map { sn =>
        sn.fields().asScala.map { fe =>
          fe.getKey -> fe.getValue.fields().asScala.map { ce =>
            ce.getKey -> (scalar(ce.getValue.get("min")),
              scalar(ce.getValue.get("max")))
          }.toMap
        }.toMap
      }.getOrElse(Map.empty)
    val sizes: Map[String, Long] =
      Option(t.get("sizes")).map { sn =>
        sn.fields().asScala.map(fe => fe.getKey -> fe.getValue.asLong()).toMap
      }.getOrElse(Map.empty)
    val props: Map[String, String] =
      Option(t.get("props")).map { pn =>
        pn.fields().asScala.map(fe => fe.getKey -> fe.getValue.asText()).toMap
      }.getOrElse(Map.empty)
    val spec: Seq[(String, String)] =
      Option(t.get("spec")).map { sn =>
        sn.elements().asScala.map(e =>
          (e.get("source").asText(), e.get("transform").asText())).toSeq
      }.getOrElse(Seq.empty)
    val parts: Map[String, Seq[String]] =
      Option(t.get("parts")).map { pn =>
        pn.fields().asScala.map(fe =>
          fe.getKey -> fe.getValue.elements().asScala.map(_.asText()).toSeq).toMap
      }.getOrElse(Map.empty)
    val cols: Map[String, Seq[String]] =
      Option(t.get("cols")).map { cn =>
        cn.fields().asScala.map(fe =>
          fe.getKey -> fe.getValue.elements().asScala.map(_.asText()).toSeq).toMap
      }.getOrElse(Map.empty)
    val dels: Map[String, Seq[String]] =
      Option(t.get("dels")).map { dn =>
        dn.fields().asScala.map(fe =>
          fe.getKey -> fe.getValue.elements().asScala.map(_.asText()).toSeq).toMap
      }.getOrElse(Map.empty)
    val fids: Map[String, Int] =
      Option(t.get("fids")).map { fn =>
        fn.fields().asScala.map(fe => fe.getKey -> fe.getValue.asInt()).toMap
      }.getOrElse(Map.empty)
    val colIds: Map[String, Seq[Int]] =
      Option(t.get("colIds")).map { cn =>
        cn.fields().asScala.map(fe =>
          fe.getKey -> fe.getValue.elements().asScala.map(_.asInt()).toSeq).toMap
      }.getOrElse(Map.empty)
    val specsHist: Seq[Seq[(String, String)]] =
      Option(t.get("specs")).map { sn =>
        sn.elements().asScala.map(outer =>
          outer.elements().asScala.map(e =>
            (e.get("source").asText(), e.get("transform").asText())).toSeq).toSeq
      }.getOrElse(Seq.empty)
    val fileSpec: Map[String, Int] =
      Option(t.get("fileSpec")).map { fn =>
        fn.fields().asScala.map(fe => fe.getKey -> fe.getValue.asInt()).toMap
      }.getOrElse(Map.empty)
    val rows: Map[String, Long] =
      Option(t.get("rows")).map { rn =>
        rn.fields().asScala.map(fe => fe.getKey -> fe.getValue.asLong()).toMap
      }.getOrElse(Map.empty)
    val inlineFiles = t.get("files").elements().asScala.map(_.asText()).toSeq
    val shardPaths: Seq[String] =
      Option(t.get("shards")).map(_.elements().asScala
        .map(_.get("path").asText()).toSeq).getOrElse(Seq.empty)
    if (shardPaths.isEmpty)
      Snapshot(
        t.get("version").asInt(),
        t.get("operation").asText(),
        t.get("commitTsMs").asLong(),
        t.get("schema").asText(),
        inlineFiles,
        stats, sizes, props, spec, parts, cols, dels, fids, colIds,
        Option(t.get("maxId")).map(_.asInt()).getOrElse(0),
        specsHist, fileSpec,
        Option(t.get("parent")).map(_.asInt()).getOrElse(-1),
        rows)
    else {
      // two-level resolution: shard entries (minus removed / overridden)
      // come first in shard order, inline entries after — inline wins on
      // a per-file collision (an entry whose payload drifted from its
      // shard record is re-inlined by commitManifest)
      val removed: Set[String] =
        Option(t.get("removed")).map(_.elements().asScala
          .map(_.asText()).toSet).getOrElse(Set.empty)
      val shards: Seq[ShardContent] =
        if (shardPaths.length > 1) {
          // parallel cold load (shards are independent immutable files;
          // the cache makes warm loads free either way)
          val arr = new Array[ShardContent](shardPaths.length)
          java.util.stream.IntStream.range(0, shardPaths.length).parallel()
            .forEach(i => arr(i) = loadShard(fs, shardPaths(i)))
          scala.collection.immutable.ArraySeq.unsafeWrapArray(arr)
        } else shardPaths.map(p => loadShard(fs, p))
      val inlineNorm = inlineFiles.map(norm).toSet
      // dedupe across shards (a re-homed entry appears in its old and new
      // shard): order keeps the first occurrence, payload folds take the
      // LAST shard's record — the corrected one
      val seen = scala.collection.mutable.HashSet[String]()
      val shardFiles = shards.flatMap(_.files).filter { f =>
        val nf = norm(f)
        !removed.contains(nf) && !inlineNorm.contains(nf) && seen.add(nf)
      }
      val allFiles = shardFiles ++ inlineFiles
      // builder-based fold: one pass over all shard entries (later
      // shards override earlier — the re-homed-entry rule), a targeted
      // `--` for tombstoned keys, inline wins last. The naive
      // fold(_ ++ _) + filterKeys costs O(shards × entries) immutable
      // inserts plus a full copy — at 10^6 entries that dominated cold
      // parse.
      def fold[V](sel: ShardContent => Map[String, V],
                  inline: Map[String, V]): Map[String, V] = {
        val b = scala.collection.immutable.HashMap.newBuilder[String, V]
        shards.foreach(sc => b ++= sel(sc))
        val merged = b.result()
        val tombstoned = if (removed.isEmpty) merged else merged -- removed
        if (inline.isEmpty) tombstoned else tombstoned ++ inline
      }
      Snapshot(
        t.get("version").asInt(),
        t.get("operation").asText(),
        t.get("commitTsMs").asLong(),
        t.get("schema").asText(),
        allFiles,
        fold(_.stats, stats), fold(_.sizes, sizes), props, spec,
        fold(_.parts, parts), fold(_.cols, cols), dels, fids,
        fold(_.colIds, colIds),
        Option(t.get("maxId")).map(_.asInt()).getOrElse(0),
        specsHist, fold(_.fileSpec, fileSpec),
        Option(t.get("parent")).map(_.asInt()).getOrElse(-1),
        fold(_.rows, rows),
        shardPaths)
    }
  }

  /** `.manifests` metadata relation (Iceberg's manifests table for the
    * two-level layout): one row per manifest SHARD of the picked
    * snapshot — path, on-disk size, entry count, how many entries are
    * LIVE at this snapshot and how many are tombstoned/superseded
    * (removed-set hits, inline overrides, cross-shard duplicates shadowed
    * by an earlier shard) — plus one row for the manifest's INLINE entry
    * block. This is the shard inventory an operator debugging planning
    * time queries: metadata IO only, never a data scan. */
  private[sources] def manifestInventory(spark: SparkSession, root: String,
      v: Option[Int], tsMs: Option[Long])
      : Seq[(String, String, Long, Long, Long, Long)] = {
    val snap = pick(spark, root, v, tsMs)
    val dir = logDir(root)
    val fs = fsFor(spark, dir)
    val mp = manifestPath(root, snap.version)
    val t = om.readTree(readBytes(fs, mp))
    val inline = Option(t.get("files"))
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)
    val shardPaths = Option(t.get("shards")).map(_.elements().asScala
      .map(_.get("path").asText()).toSeq).getOrElse(Seq.empty)
    val removed = Option(t.get("removed")).map(_.elements().asScala
      .map(_.asText()).toSet).getOrElse(Set.empty[String])
    val inlineNorm = inline.map(norm).toSet
    // live = the same first-occurrence rule parseManifest applies
    val seen = scala.collection.mutable.HashSet[String]()
    val shardRows = shardPaths.map { sp =>
      val sc = loadShard(fs, sp)
      val n = sc.files.size.toLong
      val live = sc.files.count { f =>
        val nf = norm(f)
        !removed.contains(nf) && !inlineNorm.contains(nf) && seen.add(nf)
      }.toLong
      val size = try fs.getFileStatus(new Path(sp)).getLen catch {
        case _: java.io.FileNotFoundException => -1L
      }
      (sp, "shard", size, n, live, n - live)
    }
    val inlineRow =
      if (inline.isEmpty && shardPaths.nonEmpty) Seq.empty
      else Seq((mp.toString, "inline", fs.getFileStatus(mp).getLen,
        inline.size.toLong, inline.size.toLong, 0L))
    shardRows ++ inlineRow
  }

  private def readBytes(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  private def scalar(n: com.fasterxml.jackson.databind.JsonNode): Any =
    if (n.isIntegralNumber) n.asLong()
    else if (n.isFloatingPointNumber) n.asDouble()
    else n.asText()

  /** Scheme-insensitive path identity (file:/ vs file:/// vs bare).
    * Pattern precompiled — String.replaceFirst recompiles per call and
    * norm runs per file on every planning path. The common no-scheme
    * case short-circuits without touching the regex at all. */
  private val NormRe = java.util.regex.Pattern.compile("^file:/*")
  private[sources] def norm(p: String): String =
    if (p.startsWith("file:")) NormRe.matcher(p).replaceFirst("/") else p

  /** The columns whose min/max the manifest records, with a flag for
    * timestamp columns (recorded as epoch-MICROSECOND longs). */
  private[sources] def statColsOf(schema: StructType): Seq[(String, Boolean)] =
    schema.fields.collect {
      case f if Seq(IntegerType, LongType, FloatType, DoubleType, StringType)
        .contains(f.dataType) => (f.name, false)
      case f if f.dataType == TimestampType || f.dataType == TimestampNTZType =>
        (f.name, true)
    }.toSeq

  /** Per-file min/max stats read from the parquet FOOTERS — metadata IO
    * only, never a data scan (the Iceberg approach: the writer already paid
    * for these stats; commit just lifts them into the manifest). Multi-row-
    * group files merge block stats; a block with missing stats drops the
    * column for that file (conservative: readers keep the file). INT96
    * timestamps carry no usable footer stats and are skipped (the session
    * writes standard TIMESTAMP_MICROS — Sessions.build pins
    * outputTimestampType). String bounds use parquet's unsigned-byte order,
    * which matches UTF8String ordering and equals java.lang.String order
    * for the ASCII range the fixtures use.
    *
    * The same footer walk yields the file's physical column list, row counts, AND per-column null counts (Iceberg's
    * null_value_counts — the missing piece for top-k file skipping, where
    * "this file holds N rows ≥ T" must mean N NON-NULL rows). A column
    * whose blocks don't all set numNulls is absent from the nulls map
    * (unknown — readers treat it conservatively). Metadata IO only. */
  private[sources] def footerMeta(conf: Configuration, files: Seq[String],
                          schema: StructType)
      : (Map[String, Map[String, (Any, Any)]], Map[String, Seq[String]],
         Map[String, Long], Map[String, Map[String, Long]]) =
    CommitTimings.time("footerMeta") {
      // PARALLEL footer walk (r22, guide §6/§7.3 — driver metadata I/O):
      // footers were opened strictly sequentially; a 10k-file commit at
      // 100 TB pays 10k round-trips of object-store latency on one driver
      // thread. Each file's walk is independent — fan it across a small
      // pool (bounded: this is latency hiding, not a compute farm) and
      // merge per-file results in input order. Single-file commits skip
      // the pool entirely.
      if (files.lengthCompare(2) < 0) footerMetaOne(conf, files, schema)
      else {
        val par = math.min(8, files.size)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
        try {
          val futures = files.map(f =>
            pool.submit(new java.util.concurrent.Callable[
              (Map[String, Map[String, (Any, Any)]], Map[String, Seq[String]],
               Map[String, Long], Map[String, Map[String, Long]])] {
              def call() = footerMetaOne(conf, Seq(f), schema)
            }))
          futures.map(_.get()).foldLeft(
            (Map.empty[String, Map[String, (Any, Any)]],
             Map.empty[String, Seq[String]], Map.empty[String, Long],
             Map.empty[String, Map[String, Long]])) { (acc, r) =>
            (acc._1 ++ r._1, acc._2 ++ r._2, acc._3 ++ r._3, acc._4 ++ r._4)
          }
        } finally pool.shutdown()
      }
    }

  private def footerMetaOne(conf: Configuration, files: Seq[String],
                          schema: StructType)
      : (Map[String, Map[String, (Any, Any)]], Map[String, Seq[String]],
         Map[String, Long], Map[String, Map[String, Long]]) = {
    val wanted: Map[String, Boolean] = statColsOf(schema).toMap
    val colsAcc = scala.collection.mutable.Map[String, Seq[String]]()
    val rowsAcc = scala.collection.mutable.Map[String, Long]()
    val nullsAcc = scala.collection.mutable.Map[String, Map[String, Long]]()
    val stats = files.map { f =>
      val rdr = openFooter(new Path(f), conf)
      try {
        colsAcc(norm(f)) = rdr.getFooter.getFileMetaData.getSchema
          .getFields.asScala.map(_.getName).toSeq
        rowsAcc(norm(f)) = rdr.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        val acc = scala.collection.mutable.Map[String, (Any, Any)]()
        val bad = scala.collection.mutable.Set[String]()
        val nullCnt = scala.collection.mutable.Map[String, Long]()
        val nullBad = scala.collection.mutable.Set[String]()
        for (b <- rdr.getFooter.getBlocks.asScala;
             c <- b.getColumns.asScala) {
          val name = c.getPath.toDotString
          if (wanted.contains(name) && !nullBad.contains(name)) {
            val st = c.getStatistics
            if (st == null || !st.isNumNullsSet) { nullBad += name; nullCnt -= name }
            else nullCnt(name) = nullCnt.getOrElse(name, 0L) + st.getNumNulls
          }
          if (wanted.contains(name) && !bad.contains(name)) {
            val st = c.getStatistics
            val prim = c.getPrimitiveType.getPrimitiveTypeName
            if (st == null || st.isEmpty || prim == PrimitiveTypeName.INT96) {
              bad += name; acc -= name
            } else if (st.hasNonNullValue) {
              val pair: Option[(Any, Any)] = prim match {
                case PrimitiveTypeName.INT32 =>
                  Some((Long.box(st.genericGetMin.asInstanceOf[Number].longValue()),
                    Long.box(st.genericGetMax.asInstanceOf[Number].longValue())))
                case PrimitiveTypeName.INT64 =>
                  Some((st.genericGetMin, st.genericGetMax))
                case PrimitiveTypeName.FLOAT =>
                  Some((Double.box(st.genericGetMin.asInstanceOf[Number].doubleValue()),
                    Double.box(st.genericGetMax.asInstanceOf[Number].doubleValue())))
                case PrimitiveTypeName.DOUBLE =>
                  Some((st.genericGetMin, st.genericGetMax))
                case PrimitiveTypeName.BINARY =>
                  Some((st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8,
                    st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8))
                case _ => None
              }
              pair match {
                case Some((mn, mx)) =>
                  val merged = acc.get(name) match {
                    case Some((m0, x0)) =>
                      (if (cmp(mn, m0) < 0) mn else m0, if (cmp(mx, x0) > 0) mx else x0)
                    case None => (mn, mx)
                  }
                  acc(name) = merged
                case None => bad += name; acc -= name
              }
            } else if (!st.isNumNullsSet || st.getNumNulls < b.getRowCount) {
              // no min/max AND not provably all-null: the writer dropped
              // the stats (e.g. >4 KiB binary bounds are omitted from the
              // footer) — the column has values this footer cannot bound
              bad += name; acc -= name
            } // else: genuinely all-null block — contributes nothing,
              // other blocks still bound
          }
        }
        nullsAcc(norm(f)) = nullCnt.toMap
        norm(f) -> acc.toMap
      } finally rdr.close()
    }.toMap
    (stats, colsAcc.toMap, rowsAcc.toMap, nullsAcc.toMap)
  }

  /** Commit-time type gate: every reader path (row Group walk, vectorized
    * batch, footer stats) supports exactly this closed set — rejecting an
    * exotic type HERE turns a confusing first-read failure into an
    * immediate, actionable commit error (Iceberg validates its schema at
    * commit the same way). Legacy 2-level parquet list layout is also
    * rejected: the Group reader walks the standard 3-level structure. */
  private[sources] def validateSchema(spark: SparkSession, schema: StructType): Unit = {
    def ok(dt: DataType): Boolean = dt match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | StringType | BinaryType | DateType |
           TimestampType | TimestampNTZType => true
      case _: DecimalType => true
      case ArrayType(e, _) => ok(e)
      case MapType(k, v, _) => ok(k) && ok(v)
      case StructType(fs) => fs.forall(f => ok(f.dataType))
      case _ => false
    }
    schema.fields.filterNot(f => ok(f.dataType)) match {
      case bad if bad.nonEmpty => throw new UnsupportedOperationException(
        "snapshotlog: unsupported column type(s) at commit: " +
          bad.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", "))
      case _ => ()
    }
    require(!spark.conf.get("spark.sql.parquet.writeLegacyFormat", "false").toBoolean,
      "snapshotlog: spark.sql.parquet.writeLegacyFormat=true writes 2-level " +
        "lists the snapshotlog reader does not walk; unset it for this commit")
  }

  /** Field-id bookkeeping for a commit: carries the prior snapshot's id
    * space forward (overwrite included — the TABLE's identity continues),
    * assigns FRESH ids to columns new in `schema` (never reusing retired
    * ids), and derives each new file's id list from its physical column
    * names. All-empty until the table bootstraps field ids (first
    * rename/drop) — name-based tables pay nothing. */
  private def fidCarry(prior: Option[Snapshot], schema: StructType,
      allFiles: Seq[String], newCols: Map[String, Seq[String]])
      : (Map[String, Int], Map[String, Seq[Int]], Int) =
    prior.filter(_.fids.nonEmpty) match {
      case None => (Map.empty, Map.empty, 0)
      case Some(p) =>
        var next = p.maxId
        val fids = schema.fieldNames.map { n =>
          n -> p.fids.getOrElse(n, { next += 1; next })
        }.toMap
        val liveKeys = allFiles.map(norm).toSet
        val colIds =
          p.colIds.view.filterKeys(liveKeys.contains).toMap ++
            newCols.map { case (f, cs) => f -> cs.map(n => fids.getOrElse(n, -1)) }
        (fids, colIds, next)
    }

  /** Assign field ids to a table that predates them: current-schema order
    * (ids 1..n), every live file's physical columns mapped by name —
    * sound because no rename can have happened before ids existed. */
  /** Field ids of a snapshot, bootstrapped positionally for manifests
    * that predate the first ALTER — the same assignment [[bootstrapFids]]
    * makes when the first ALTER lands, so both sides of a rename agree.
    * Used by the changelog/CDC conform steps to resolve an output column
    * back to its name-at-the-time. */
  private[sources] def fidsOf(s: Snapshot): Map[String, Int] =
    if (s.fids.nonEmpty) s.fids
    else s.schema.fieldNames.zipWithIndex
      .map { case (n, i) => n -> (i + 1) }.toMap

  /** Schema an APPEND records in the manifest: existing columns in the
    * PARENT's order, genuinely-new columns after (Iceberg: writers conform
    * to the table schema — a writer's projection order is not a schema
    * change). Keeping the order stable is what makes [[fidsOf]]'s
    * positional bootstrap sound for pre-ALTER manifests: without it, an
    * append of `df.select("v","k")` onto a (k,v) table would record (v,k)
    * and the changelog's positional ids would swap the two columns'
    * values. Data files still carry the writer's physical order — reads
    * resolve by name through the per-file column lists. */
  /** True when `app` is an ADDITIVE-evolution-compatible redefinition of
    * table type `tbl`: identical up to nullability flags, except structs
    * (at any nesting depth) may GAIN fields — the supported widening path
    * (old files null-fill the new fields). Any narrowed/renamed/retyped
    * leaf is incompatible. */
  private def additiveCompatible(tbl: DataType, app: DataType): Boolean =
    (tbl, app) match {
      case (t: StructType, a: StructType) =>
        t.fields.forall(tf => a.fields.find(_.name == tf.name)
          .exists(af => additiveCompatible(tf.dataType, af.dataType)))
      case (t: ArrayType, a: ArrayType) =>
        additiveCompatible(t.elementType, a.elementType)
      case (t: MapType, a: MapType) =>
        additiveCompatible(t.keyType, a.keyType) &&
          additiveCompatible(t.valueType, a.valueType)
      case (t, a) => t == a
    }

  private def conformedSchema(parent: Option[Snapshot],
      dfSchema: StructType): StructType =
    parent.fold(dfSchema) { h =>
      val byName = dfSchema.fields.map(f => f.name -> f).toMap
      // keep the PARENT's field metadata for surviving columns — an
      // appended DataFrame's plain fields must not shed the table's
      // column-default (or any other) metadata
      val kept = h.schema.fields.flatMap(hf =>
        byName.get(hf.name).map(_.copy(metadata = hf.metadata)))
      val added = dfSchema.fields.filterNot(f =>
        h.schema.fieldNames.contains(f.name))
      StructType(kept ++ added)
    }

  private def bootstrapFids(cur: Snapshot): Snapshot =
    if (cur.fids.nonEmpty) cur
    else {
      val fids = cur.schema.fieldNames.zipWithIndex
        .map { case (n, i) => n -> (i + 1) }.toMap
      val colIds = cur.files.map { f =>
        val key = norm(f)
        key -> cur.cols.getOrElse(key, cur.schema.fieldNames.toSeq)
          .map(n => fids.getOrElse(n, -1))
      }.toMap
      cur.copy(fids = fids, colIds = colIds, maxId = fids.size)
    }

  /** METADATA-ONLY column rename (Iceberg schema evolution): the field
    * id keeps, so every existing data file keeps resolving through the
    * manifest's id->physical-name mapping — no data moves, old snapshots
    * read under their own schema. Bootstraps field ids on first use. */
  def renameColumn(spark: SparkSession, root: String, from: String,
                   to: String, commitTsMs: Long): Int =
    // metadata-only ops re-run WHOLESALE against the fresh head on a
    // lost race — their cost is one manifest compose, and re-validation
    // (column still present, no eq-delete keys on it) is the whole body
    alter(spark, root, "renameColumn", commitTsMs) { head =>
      val cur = bootstrapFids(head)
      require(cur.schema.fieldNames.contains(from),
        s"SnapshotLog: no column $from to rename at $root")
      require(!cur.schema.fieldNames.contains(to),
        s"SnapshotLog: rename target $to already exists at $root")
      val newSchema = StructType(cur.schema.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))
      // equality delete files reference key columns BY NAME (their parquet
      // schema); renaming such a column would silently detach the delete.
      // Refuse until compaction folds the deletes away.
      val conf = spark.sessionState.newHadoopConf()
      cur.dels.values.flatten.toSeq.distinct.foreach { df =>
        val rdr = openFooter(new Path(df), conf)
        val fields =
          try rdr.getFooter.getFileMetaData.getSchema.getFields.asScala.map(_.getName)
          finally rdr.close()
        if (fields != Seq("file_path", "pos"))
          require(!fields.contains(from),
            s"SnapshotLog: column $from is a key of equality delete file $df" +
              " — run rewriteDataFiles to fold the deletes before renaming")
      }
      def renamed(sp: Seq[(String, String)]) =
        sp.map { case (s, t) => (if (s == from) to else s, t) }
      cur.copy(schemaJson = newSchema.json,
        spec = renamed(cur.spec), specs = cur.specs.map(renamed),
        fids = cur.fids - from + (to -> cur.fids(from)))
    }

  /** METADATA-ONLY column drop: the field id is RETIRED, never reused —
    * a later re-added column of the same name gets a fresh id, so the
    * dropped data cannot alias back (Iceberg's rule). Time travel to
    * pre-drop versions still reads the column. */
  def dropColumn(spark: SparkSession, root: String, name: String,
                 commitTsMs: Long): Int =
    alter(spark, root, "dropColumn", commitTsMs) { head =>
      val cur = bootstrapFids(head)
      require(cur.schema.fieldNames.contains(name),
        s"SnapshotLog: no column $name to drop at $root")
      require(cur.schema.fields.length > 1,
        s"SnapshotLog: cannot drop the only column at $root")
      require(!cur.spec.exists(_._1 == name),
        s"SnapshotLog: $name is a partition source column — drop the spec first")
      // equality delete files key BY NAME (their parquet schema); dropping
      // a key column would detach the delete from its rows on every read
      // path (the changelog's narrowed reads included). Refuse until
      // compaction folds the deletes away — same rule as renameColumn.
      val dconf = spark.sessionState.newHadoopConf()
      cur.dels.values.flatten.toSeq.distinct.foreach { df =>
        require(!SnapshotDeletes.eqKeysOf(df, dconf).contains(name),
          s"SnapshotLog: column $name is a key of equality delete file $df" +
            " — run rewriteDataFiles to fold the deletes before dropping")
      }
      cur.copy(schemaJson =
        StructType(cur.schema.fields.filterNot(_.name == name)).json,
        fids = cur.fids - name)
    }

  /** A metadata-only "alter" snapshot on main: `edit` re-derives the
    * schema change, validation included, from the fresh head of every
    * attempt; [[compose]] then carries the field ids (new columns get
    * fresh ones). Staged against no head, it never refuses a moved one. */
  private def alter(spark: SparkSession, root: String, what: String,
                    commitTsMs: Long)(edit: Snapshot => Snapshot): Int = {
    require(pick(spark, root, None, None).commitTsMs < commitTsMs,
      s"commitTsMs $commitTsMs must advance past the last snapshot")
    commitChange(spark, root, Ref.Main, None, commitTsMs, Change(what,
      "alter", Map.empty, Nil, edit = Edit(on = edit), maintain = false))
  }

  /** Sort-on-write shaping for a commit batch. `write.sort.order=c1,c2`
    * range-clusters linearly and reports the order
    * (SupportsReportOrdering); `write.sort.order=zorder(c1,c2)` (r19)
    * composes the compaction z-order machinery with the ingest hook:
    * rows sort by the bit-interleaved z-value, so EVERY fresh file gets a
    * tight min/max on EVERY z column and multi-dimensional probes engage
    * on just-committed data without a compaction pass. Returns (shaped
    * df, linear sort columns to record — empty for z-order, whose files
    * are NOT totally ordered by any single column, so reporting a sort
    * would be a lie). A named column missing from THIS commit's schema
    * disables shaping conservatively (both flavors); a structurally
    * invalid zorder spec (under 2 columns, non-numeric) REFUSES like
    * rewriteDataFiles — a silent skip would bless the typo forever. The
    * z-value bucketing costs one extra aggregate pass over the BATCH
    * (min/max per z column), never the table. */
  /** First `__z_tmp_<i>` name absent from `fields` — the z-order staging
    * column must never shadow (and thereby destroy) a real column. */
  private def zTmpName(fields: Seq[String]): String =
    Iterator.from(0).map(i => if (i == 0) "__z" else s"__z_tmp_$i")
      .find(n => !fields.contains(n)).get

  private def stageSorted(spark: SparkSession, df: DataFrame, numFiles: Int,
                          writeProps: Map[String, String])
      : (DataFrame, Seq[String]) = {
    import org.apache.spark.sql.functions.col
    val n = math.max(1, numFiles)
    val spec = writeProps.get("write.sort.order").map(_.trim).getOrElse("")
    if (spec.isEmpty) return (df.repartition(n), Seq.empty)
    "(?i)^zorder\\s*\\((.*)\\)$".r.findFirstMatchIn(spec) match {
      case Some(m) =>
        val zCols = m.group(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
        if (zCols.isEmpty || !zCols.forall(df.schema.fieldNames.contains))
          return (df.repartition(n), Seq.empty)
        validateZorderBy(df.schema, zCols)
        // collision-proof transient sort key: withColumn REPLACES an
        // existing column of the same name, so a fixed "__z" would
        // destroy a real __z column's data on every commit
        val zTmp = zTmpName(df.schema.fieldNames)
        (df.withColumn(zTmp, zorderColumn(spark, df, zCols))
          .repartitionByRange(n, col(zTmp))
          .sortWithinPartitions(zTmp)
          .drop(zTmp), Seq.empty)
      case None =>
        val sortCols = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        if (sortCols.isEmpty || !sortCols.forall(df.schema.fieldNames.contains))
          (df.repartition(n), Seq.empty)
        else
          (df.repartitionByRange(n, sortCols.map(col): _*)
            .sortWithinPartitions(sortCols.map(col): _*), sortCols)
    }
  }

  /** The line of history a data commit lands on. Main is a branch like any
    * other: its head is the newest mainline snapshot, a named branch's head
    * is its entry in refs.json, and every ref claims slots in the one
    * shared version sequence. [[commitChange]] holds the only three
    * decisions that differ by ref. */
  private sealed trait Ref
  private object Ref {
    case object Main extends Ref
    final case class Branch(name: String) extends Ref
    def of(branch: Option[String]): Ref = branch.fold[Ref](Main)(Branch(_))
  }

  /** ONE log read per commit attempt: (head of `ref`, version slot to
    * claim, newest commit ts). THE invariant of the optimistic protocol: a
    * manifest published at slot N must be composed from a read whose last
    * version was N-1 — then any concurrent commit that landed after that
    * read must have claimed slot ≤ N itself, so OUR O_EXCL claim of N
    * fails and the attempt retries on the fresh head. Deriving head and
    * slot from TWO separate reads is a lost-update TOCTOU: a commit
    * landing between them hands the composer a STALE head and a FREE slot
    * — the publish succeeds conflict-free and the intervening commit's
    * files and deletes silently vanish (caught by
    * SnapshotConcurrentPropertySpec, r16). Main's head is None before the
    * first commit; a branch must exist and point at a retained snapshot. */
  private def resolveRef(spark: SparkSession, root: String, ref: Ref)
      : (Option[Snapshot], Int, Long) = {
    val branchHead = ref match {
      case Ref.Main => None
      case Ref.Branch(b) =>
        val (kind, v) = refsTyped(spark, root).getOrElse(b,
          throw new NoSuchElementException(s"SnapshotLog: no branch '$b' at $root"))
        require(kind == "branch", s"SnapshotLog: ref '$b' is a $kind")
        Some(b -> v)
    }
    val snaps = snapshots(spark, root)
    val head = branchHead match {
      case None => snaps.filter(_.branch.isEmpty).lastOption
      case Some((b, v)) => Some(snaps.find(_.version == v).getOrElse(
        throw new IllegalStateException(
          s"SnapshotLog: branch '$b' head v$v expired at $root")))
    }
    (head, snaps.lastOption.fold(1)(_.version + 1),
      snaps.lastOption.fold(Long.MinValue)(_.commitTsMs))
  }

  /** The head a row-level statement stages against, with its entry-time
    * timestamp guard. */
  private def dmlHead(spark: SparkSession, root: String, ref: Ref,
                      commitTsMs: Long): Snapshot = {
    val cur = resolveRef(spark, root, ref)._1.getOrElse(
      throw new IllegalArgumentException(s"SnapshotLog: no snapshots at $root"))
    require(cur.commitTsMs < commitTsMs,
      s"commitTsMs $commitTsMs must advance past the last snapshot")
    cur
  }

  private def tablePropsOrEmpty(spark: SparkSession,
                                root: String): Map[String, String] =
    try tableProps(spark, root)
    catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** New data files of one commit, with everything their single footer
    * walk yields (per-file maps keyed by normalized path) and the table
    * schema they were written under. */
  private final case class Staged(schema: StructType = new StructType(),
      files: Seq[String] = Nil, sizes: Map[String, Long] = Map.empty,
      stats: Map[String, Map[String, (Any, Any)]] = Map.empty,
      cols: Map[String, Seq[String]] = Map.empty,
      rows: Map[String, Long] = Map.empty,
      nulls: Map[String, Map[String, Long]] = Map.empty,
      parts: Map[String, Seq[String]] = Map.empty)

  /** Write `df` into a fresh uuid dir under `<root>/data` (hive-style
    * when `partitionBy` is set), list the written part files and lift
    * them through [[stageFiles]]. Returns the dir, for cleanup on
    * refusal. */
  private def stageData(spark: SparkSession, root: String, df: DataFrame,
      schema: StructType, tblProps: Map[String, String],
      partitionBy: Seq[String] = Nil,
      dropEmpty: Boolean = false): (Path, Staged) = {
    val dir = new Path(new Path(root, "data"),
      java.util.UUID.randomUUID().toString.take(12))
    CommitTimings.time("dataWrite") {
      val w = df.write.options(SnapshotBlooms.parquetWriterOptions(tblProps, schema))
      (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*))
        .parquet(dir.toString)
    }
    val listed = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    val it = fsFor(spark, dir).listFiles(dir, true)
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (name.startsWith("part-") && name.endsWith(".parquet"))
        listed += ((st.getPath.toString, st.getLen))
    }
    (dir, stageFiles(spark, listed.toSeq, schema, partitionBy, dropEmpty))
  }

  /** The footer-walk half of staging, for written and listed (path, size)
    * files: ONE footer walk lifts stats/columns/row and null counts,
    * partition tuples come from the directory path. `dropEmpty` deletes
    * zero-row parts (a task that received no rows still opened a
    * writer). */
  private def stageFiles(spark: SparkSession, listed: Seq[(String, Long)],
      schema: StructType, partitionBy: Seq[String] = Nil,
      dropEmpty: Boolean = false): Staged = {
    val (stats, cols, rows, nulls) = footerMeta(
      spark.sessionState.newHadoopConf(), listed.map(_._1), schema)
    val (kept, empty) = listed.sortBy(_._1)
      .partition(f => !dropEmpty || rows.getOrElse(norm(f._1), 0L) > 0)
    empty.foreach(f => fsFor(spark, new Path(f._1)).delete(new Path(f._1), false))
    val live = kept.map(f => norm(f._1)).toSet
    def liveOf[V](m: Map[String, V]) = m.view.filterKeys(live).toMap
    // each leaf file's partition tuple is its directory path
    val parts = if (partitionBy.isEmpty) Map.empty[String, Seq[String]]
      else kept.map { case (f, _) =>
        val segs = f.split('/')
        norm(f) -> partitionBy.map(pn => segs.collectFirst {
          case seg if seg.startsWith(pn + "=") => seg.substring(pn.length + 1)
        }.getOrElse(SnapshotPartition.NullMarker))
      }.toMap
    Staged(schema, kept.map(_._1), kept.map(f => norm(f._1) -> f._2).toMap,
      liveOf(stats), liveOf(cols), liveOf(rows), liveOf(nulls), parts)
  }

  /** `h` plus the staged files (per-file maps merged in). */
  private def withStaged(h: Snapshot, d: Staged): Snapshot =
    h.copy(files = h.files ++ d.files, stats = h.stats ++ d.stats,
      sizes = h.sizes ++ d.sizes, cols = h.cols ++ d.cols,
      rows = h.rows ++ d.rows, parts = h.parts ++ d.parts)

  /** An append or overwrite: the staged schema conforms onto the head (an
    * overwrite starts from nothing); `spec` set = laid out under that
    * hidden-partition spec. */
  private final case class Append(overwrite: Boolean,
                                  spec: Seq[(String, String)] = Nil)

  /** The head-relative part of a change, evaluated on the FRESH head of
    * every attempt: `on` maps that head to the one the change composes
    * onto — files dropped because the change's new data replaces them, a
    * delete-list rewire, a schema edit with its validation. `targets`
    * holds the NORMALIZED data files whose entries it replaces or rewires:
    * on a moved head [[validateReapply]] requires them exactly as staged. */
  private final case class Edit(targets: Set[String] = Set.empty,
                                on: Snapshot => Snapshot = identity)
  private object Edit {
    /** The change's new data replaces `files` (normalized). */
    def replacing(files: Set[String]): Edit =
      Edit(files, _.retain(f => !files.contains(f)))
  }

  /** A staged change, ready for [[commitChange]] on any ref: new data
    * files, delete files per existing data file, the head-relative edit,
    * the manifest operation and props, and the staged dirs to delete if it
    * never lands. `what` names it in refusals; `tblProps` arm the new
    * files' index sidecars. Without `append` it is row-level work, valid
    * only on the head it was staged against; `reapply` adds a check to
    * the mainline re-apply validation. `maintain` = run [[maybeMaintain]]
    * after a mainline commit. */
  private final case class Change(what: String, operation: String,
      props: Map[String, String], cleanup: Seq[Path],
      tblProps: Map[String, String] = Map.empty, data: Staged = Staged(),
      dels: Map[String, Seq[String]] = Map.empty, sortOn: Seq[String] = Nil,
      append: Option[Append] = None, edit: Edit = Edit(),
      reapply: (Snapshot, Snapshot) => Unit = (_, _) => (),
      maintain: Boolean = true)

  /** Test seam: invoked on a branch commit after staging, before the
    * commit closure — lets specs interleave a concurrent writer
    * DETERMINISTICALLY (the race paths are otherwise pure races).
    * Production value is a no-op. */
  private[graft] var branchDmlAfterStage: () => Unit = () => ()

  /** Second test seam: invoked after a branch commit's snapshot is
    * DURABLY COMMITTED but before [[advanceBranchRef]] re-proves the ref —
    * the narrow window whose loss ORPHANS the committed snapshot
    * (surfaced via CommitConflictException.orphanVersion). */
  private[graft] var branchDmlBeforeRefWrite: () => Unit = () => ()

  /** THE commit kernel: every snapshot commit that stages work goes
    * through here, on every ref —
    *  - data commits: append, overwrite, partitioned append, MoR
    *    delete/update/upsert ([[commit]] … [[upsertEqualityMoR]]);
    *  - ALTER: [[renameColumn]], [[dropColumn]], [[alterSchema]];
    *  - compactions: [[rewriteDataFiles]], [[rewriteDeleteFiles]];
    *  - copy-on-write DELETE ([[rewriteTouched]]);
    *  - the DSv2 SQL UPDATE/MERGE/DELETE writers ([[commitRowLevel]]).
    * Staged ONCE against `base` (the ref's head at entry; None for an
    * ALTER, which stages nothing and re-derives itself from the fresh
    * head). Optimistic concurrency (Iceberg SnapshotProducer): each
    * [[retryingCommit]] attempt resolves the ref's fresh head, validates,
    * applies the change's [[Edit]] to it, composes the new snapshot as a
    * copy of that head plus the change, and publishes it; a lost version
    * race re-runs the attempt, so writers of disjoint work all land.
    * Refused or out of retries, the staged dirs are deleted — no orphan
    * files leak. Then the index sidecars of the new files (AFTER the
    * publish: written first, they would reference a refused commit's
    * deleted files forever), then the ref's post-commit step.
    *
    * What differs by ref:
    *  - head: the mainline head, or the branch's ref;
    *  - a head that moved during staging: appends re-apply on either ref
    *    (uuid-named files cannot overlap anyone's work; an overwrite is
    *    base-independent). Row-level work re-applies on main after
    *    [[validateReapply]] on its targeted files and the change's own
    *    `reapply` check, and refuses on a branch — branch DML is never
    *    blind-merged across a concurrent branch writer;
    *  - post-commit: [[maybeMaintain]] on main (when the change asks for
    *    it); on a branch the CAS [[advanceBranchRef]] (the snapshot
    *    carries `ref=<branch>`).
    * Timestamps bump past the newest snapshot, keeping commitTsMs
    * strictly monotone per table. Returns the committed version. */
  private def commitChange(spark: SparkSession, root: String, ref: Ref,
      base: Option[Snapshot], commitTsMs: Long, c: Change): Int = {
    val fs = fsFor(spark, new Path(root))
    if (ref != Ref.Main) branchDmlAfterStage()
    val (committed, head) = try retryingCommit(c.what) { () =>
      val (head, next, lastTs) = resolveRef(spark, root, ref)
      c.append match {
        case Some(a) =>
          if (!a.overwrite) validateAppend(c.what, c.data.schema, base, head)
        case None =>
          for (b <- base; h <- head if h.version != b.version) ref match {
            case Ref.Main =>
              validateReapply(c.what, b, h, c.dels.keySet ++ c.edit.targets)
              c.reapply(b, h)
            case Ref.Branch(name) => throw new CommitConflictException(
              s"SnapshotLog: branch '$name' advanced during the ${c.what} " +
                "staging — re-run against the new head")
          }
      }
      commitManifest(fs, root, compose(head.map(c.edit.on), next,
        math.max(commitTsMs, lastTs + 1), ref, c))
      (next, head)
    } catch {
      case e: IllegalStateException =>
        c.cleanup.foreach(fs.delete(_, true)); throw e
    }
    val d = c.data
    if (d.files.nonEmpty) {
      SnapshotSidecars.buildBlooms(spark, root, d.files, d.files, d.schema,
        d.rows, c.tblProps)
      SnapshotNulls.record(spark, root, d.nulls)
      if (c.sortOn.nonEmpty) SnapshotSorts.record(spark, root, d.files, c.sortOn)
    }
    ref match {
      case Ref.Main => if (c.maintain) maybeMaintain(spark, root)
      case Ref.Branch(b) =>
        branchDmlBeforeRefWrite()
        advanceBranchRef(spark, root, b, head.get.version, committed)
    }
    committed
  }

  /** The snapshot change `c` publishes at slot `next` on `head` (already
    * edited by the change): a copy of the head (of nothing, for an
    * overwrite or a first commit) with the new files added, delete files
    * folded onto their data files, the field ids carried and, for a
    * partitioned append, the spec history extended. */
  private def compose(head: Option[Snapshot], next: Int, ts: Long, ref: Ref,
                      c: Change): Snapshot = {
    val parent = if (c.append.exists(_.overwrite)) None else head
    val h = withStaged(parent.getOrElse(Snapshot(0, "", 0L, "", Seq.empty)), c.data)
    // an append records the PARENT's column order (see conformedSchema);
    // row-level work keeps the head's schema verbatim
    val schema = c.append.fold(h.schema)(_ => conformedSchema(parent, c.data.schema))
    val (fids, colIds, maxId) = fidCarry(head, schema, h.files, c.data.cols)
    // PARTITION-SPEC EVOLUTION (Iceberg spec-per-snapshot): an append
    // under a DIFFERENT spec is legal — the new files lay out and prune
    // under the new spec, carried files keep pruning under the spec they
    // were written with (parent files without an entry were written under
    // the parent's active spec). Other changes keep the head's spec: new
    // files with a partition tuple (a compaction's) were laid out under
    // its ACTIVE spec, the rest carry no tuple and are kept conservatively
    // by pruning.
    val (spec, specs, fileSpec) = c.append.map(_.spec).filter(_.nonEmpty) match {
      case Some(sp) =>
        val prior = parent.fold(Seq.empty[Seq[(String, String)]])(p =>
          if (p.specs.nonEmpty) p.specs else if (p.spec.nonEmpty) Seq(p.spec)
          else Seq.empty)
        val hist = if (prior.contains(sp)) prior else prior :+ sp
        val pIdx = math.max(hist.indexOf(h.spec), 0)
        (sp, hist, parent.fold(Map.empty[String, Int])(p => p.files.map(norm)
          .map(k => k -> p.fileSpec.getOrElse(k, pIdx)).toMap) ++
          c.data.files.map(f => norm(f) -> hist.indexOf(sp)))
      case None if h.specs.nonEmpty && h.spec.nonEmpty =>
        (h.spec, h.specs,
          h.fileSpec ++ c.data.parts.keySet.map(_ -> h.specs.indexOf(h.spec)))
      case None => (h.spec, h.specs, h.fileSpec)
    }
    h.copy(version = next, operation = c.operation, commitTsMs = ts,
      schemaJson = if (c.append.isEmpty) h.schemaJson else schema.json,
      props = c.props ++ (ref match {
        case Ref.Branch(b) => Map("ref" -> b)
        case Ref.Main => Map.empty
      }),
      spec = spec, specs = specs, fileSpec = fileSpec,
      dels = h.dels ++ c.dels.map { case (f, ds) =>
        f -> (h.dels.getOrElse(f, Seq.empty) ++ ds) },
      fids = fids, colIds = colIds, maxId = maxId,
      parent = head.fold(0)(_.version))
  }

  /** Append validation, on every attempt. The schema baseline is the head
    * at ENTRY, before the seconds-long staging: an ALTER landing during
    * staging or the commit race refuses re-apply instead of being
    * silently reverted. Appends are ADDITIVE-ONLY evolution (Iceberg:
    * writers conform to the current schema; renames/drops go through
    * ALTER): a schema missing a current column — e.g. one built against a
    * pre-rename schema that serialized entirely AFTER the rename, so the
    * baseline check can't see it — would narrow or revert the table
    * schema for every other reader, and one that REDEFINES a shared
    * column's type would let conformedSchema silently retype the table.
    * A struct may still gain fields at any depth (old files null-fill,
    * the supported path), and nullability flags are not a retype. */
  private def validateAppend(what: String, schema: StructType,
      base: Option[Snapshot], head: Option[Snapshot]): Unit = {
    if (head.map(_.schemaJson) != base.map(_.schemaJson))
      throw new CommitConflictException(
        s"SnapshotLog: $what cannot re-apply — schema changed concurrently")
    head.foreach { h =>
      val missing = h.schema.fieldNames.filterNot(schema.fieldNames.contains)
      if (missing.nonEmpty) throw new CommitConflictException(
        s"SnapshotLog: $what schema is missing current column(s) " +
          missing.mkString(", ") +
          " — appends may only ADD columns; rename/drop via ALTER, or " +
          "re-run the append against the current table schema")
      val retyped = h.schema.fields.flatMap { hf =>
        schema.find(_.name == hf.name)
          .filterNot(nf => additiveCompatible(hf.dataType, nf.dataType))
          .map(nf => s"${hf.name} (table ${hf.dataType.simpleString} vs " +
            s"append ${nf.dataType.simpleString})")
      }
      if (retyped.nonEmpty) throw new CommitConflictException(
        s"SnapshotLog: $what redefines column type(s) " +
          retyped.mkString(", ") +
          " — appends may only ADD columns; rename/drop/retype via " +
          "ALTER, or re-run the append against the current table schema")
    }
  }

  /** Commit `df` as the next version of `branch` (default main).
    * `overwrite` replaces the ref's contents; append unions the head's
    * files with the new ones (data files are immutable — append never
    * rewrites). `commitTsMs` is caller-supplied so tests and replays are
    * deterministic; production callers pass the wall clock. No hard "ts
    * must advance" gate: concurrent writers cannot coordinate requested
    * timestamps, so each attempt bumps its ts past the newest snapshot.
    * A branch append is the staging step of write-audit-publish: main is
    * untouched until [[fastForward]]. Returns the committed version. */
  def commit(df: DataFrame, root: String, overwrite: Boolean,
             commitTsMs: Long, numFiles: Int = 2,
             props: Map[String, String] = Map.empty,
             branch: Option[String] = None): Int = {
    val spark = df.sparkSession
    validateSchema(spark, df.schema)
    val ref = Ref.of(branch)
    val base = resolveRef(spark, root, ref)._1
    val tblProps = tablePropsOrEmpty(spark, root)
    // one immutable data dir per commit; repartition bounds the file count
    // (a 100 TB commit sizes this to target-file-size, not a constant).
    // SORT-ON-WRITE (Iceberg write.sort-order analog): with
    // `write.sort.order` set, every commit range-partitions across files
    // and sorts within them — ingest-time clustering (linear or z-order,
    // see stageSorted), so zone-map range pruning, top-k skipping, and
    // sort-order reporting all engage WITHOUT a separate compaction pass.
    val (shaped, sortOn) = stageSorted(spark, df, numFiles, tblProps)
    val (dataDir, data) = stageData(spark, root, shaped, df.schema, tblProps)
    val op = if (overwrite) "overwrite" else "append"
    commitChange(spark, root, ref, base, commitTsMs, Change(op, op, props,
      Seq(dataDir), tblProps, data, sortOn = sortOn,
      append = Some(Append(overwrite))))
  }

  /** Hive-style shaping for a hidden-partitioned write: derive one `_p_i`
    * column per spec field and shuffle by the derived tuple so each
    * partition value is written by ONE task (one file per tuple per
    * write, not one per task per tuple — the small-files discipline a
    * 1000-executor write needs). With `sortBy` (cluster-by), rows sort by
    * (tuple, keys), so FileFormatWriter's required partition-column
    * ordering is ALREADY satisfied (it inserts no sort of its own — an
    * unstable re-sort would scramble the keys) and every written file
    * carries key-sorted rows. Returns (shaped df, `_p_i` names). */
  private def partitionShaped(df: DataFrame, spec: Seq[(String, String)],
      sortBy: Seq[String]): (DataFrame, Seq[String]) = {
    import org.apache.spark.sql.functions.col
    val pNames = spec.indices.map(i => s"_p_$i")
    val pCols = spec.zipWithIndex.map { case ((src, tr), i) =>
      SnapshotPartition.transformCol(src, tr, df.schema(src).dataType).as(pNames(i))
    }
    val shaped = df.select(col("*") +: pCols: _*).repartition(pNames.map(col): _*)
    (if (sortBy.isEmpty) shaped
     else shaped.sortWithinPartitions((pNames ++ sortBy).map(col): _*), pNames)
  }

  /** Commit with HIDDEN PARTITIONING ([[SnapshotPartition]] — Iceberg's
    * partition spec): the writer derives one `_p_i` column per spec field
    * (`identity` / `bucket[N]` / `truncate[W]` / `day`), lays the data out
    * by the derived tuple, and the manifest records each file's tuple.
    * The SOURCE columns stay in the data files — the derived columns exist
    * only in the directory layout — so every existing read path works
    * unchanged, and the DSv2 planner additionally converts predicates on
    * the source columns into partition-tuple pruning (the case stats can't
    * cover: an equality probe on a hash-distributed key). An append under
    * a different spec evolves the spec (see [[compose]]). Otherwise the
    * same commit as [[commit]]. */
  def commitPartitioned(df: DataFrame, root: String, spec: Seq[(String, String)],
                        overwrite: Boolean, commitTsMs: Long,
                        props: Map[String, String] = Map.empty,
                        branch: Option[String] = None): Int = {
    require(spec.nonEmpty, "commitPartitioned: empty spec — use commit()")
    val spark = df.sparkSession
    validateSchema(spark, df.schema)
    spec.foreach { case (src, _) =>
      require(df.schema.fieldNames.contains(src),
        s"commitPartitioned: spec column $src not in ${df.schema.fieldNames.mkString(",")}")
    }
    val ref = Ref.of(branch)
    val base = resolveRef(spark, root, ref)._1
    // SORT-ON-WRITE under a partition spec (see commit()): the order is
    // imposed WITHIN each partition tuple — every tuple's file comes out
    // key-sorted, so zone maps tighten and SupportsReportOrdering can
    // prove co-sorted SPJ joins on freshly ingested data
    val tblProps = tablePropsOrEmpty(spark, root)
    val sortCols = tblProps.get("write.sort.order").toSeq
      // a zorder(...) order under a partition SPEC is unsupported, like
      // rewriteDataFiles' zorderBy refusal: the partition-tuple layout
      // already clusters — within-tuple order stays linear
      .filterNot(_.trim.toLowerCase.startsWith("zorder"))
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    val sortOn =
      if (sortCols.nonEmpty && sortCols.forall(df.schema.fieldNames.contains))
        sortCols
      else Seq.empty
    val (shaped, pNames) = partitionShaped(df, spec, sortOn)
    val (dataDir, data) =
      stageData(spark, root, shaped, df.schema, tblProps, pNames)
    val op = if (overwrite) "overwrite" else "append"
    commitChange(spark, root, ref, base, commitTsMs, Change(s"partitioned $op",
      op, props, Seq(dataDir), tblProps, data, sortOn = sortOn,
      append = Some(Append(overwrite, spec))))
  }

  /** Create an EMPTY table: a v1 "create" manifest carrying only the
    * schema (and, when given, the hidden-partition spec every later
    * commit must honor) — the catalog's CREATE TABLE step (data arrives
    * as append commits; time travel to v1 reads an empty table of this
    * schema). */
  def createEmpty(spark: SparkSession, root: String, schema: StructType,
                  commitTsMs: Long,
                  spec: Seq[(String, String)] = Seq.empty): Int = {
    require(snapshots(spark, root).isEmpty,
      s"SnapshotLog: table already exists at $root")
    commitManifest(fsFor(spark, new Path(root)), root,
      Snapshot(1, "create", commitTsMs, schema.json, Seq.empty, spec = spec))
    1
  }

  /** Additive schema evolution as a METADATA-ONLY snapshot (Iceberg's
    * schema update): the new manifest carries the widened schema and the
    * parent's exact file set/stats/sizes/partition state — no data moves.
    * Readers of older versions keep the old schema; readers of this one
    * null-fill the new columns in pre-evolution files (the read path
    * already does). Only WIDENING is allowed: every existing column must
    * survive with its type — rename/drop/retype would strand name-based
    * resolution of old files (Iceberg needs field IDs for those). */
  def alterSchema(spark: SparkSession, root: String, newSchema: StructType,
                  commitTsMs: Long): Int =
    alter(spark, root, "alterSchema", commitTsMs) { cur =>
      cur.schema.fields.foreach { f =>
        val kept = newSchema.find(_.name == f.name)
        require(kept.exists(_.dataType == f.dataType),
          s"SnapshotLog: alterSchema must keep column ${f.name}: ${f.dataType} " +
            "(additive evolution only — rename/drop/retype unsupported)")
      }
      cur.copy(schemaJson = newSchema.json)
    }

  /** IMPORT an existing parquet directory as snapshot version 1 WITHOUT
    * moving or rewriting a byte — Iceberg's `snapshot` procedure analog:
    * the manifest references the source files IN PLACE, lifting footer
    * stats / row counts / column lists (and null counts into the
    * sidecar) through the same one-footer-walk path a native commit
    * uses. From then on the table is a first-class snapshot table —
    * time travel, DML (copy-on-write rewrites land under the table
    * root), changelog, the lot. The SOURCE files are never
    * garbage-collected: expiry only reclaims files under the table root
    * (Iceberg's snapshot tables pin gc.enabled=false the same way).
    * At 100 TB this is adoption without a 100-TB rewrite. */
  def importParquetDir(spark: SparkSession, srcDir: String, root: String,
                       commitTsMs: Long): Int = {
    require(snapshots(spark, root).isEmpty,
      s"SnapshotLog: cannot import into existing table at $root")
    val fs = fsFor(spark, new Path(srcDir))
    def walk(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { s =>
        if (s.isDirectory) walk(s.getPath)
        else if (s.getPath.getName.endsWith(".parquet") &&
          !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith(".")) Seq(s)
        else Seq.empty
      }
    val statuses = walk(new Path(srcDir)).sortBy(_.getPath.toString)
    require(statuses.nonEmpty, s"SnapshotLog: no parquet files in $srcDir")
    val files = statuses.map(_.getPath.toString)
    val schema = spark.read.parquet(srcDir).schema
    validateSchema(spark, schema)
    val (stats, cols, rows, nulls) =
      footerMeta(spark.sessionState.newHadoopConf(), files, schema)
    // hive-style partition directories put columns in PATHS, not files:
    // the inferred schema would carry them but every file lacks them
    // physically, and the import would silently null-fill a column that
    // has real values. Refuse with the fix spelled out.
    schema.fieldNames.foreach { n =>
      val missing = files.filterNot(f =>
        cols.get(norm(f)).exists(_.contains(n)))
      require(missing.isEmpty,
        s"SnapshotLog: cannot import $srcDir — column '$n' is not " +
          s"physically present in ${missing.size} file(s) (hive-style " +
          "partition directories keep values in paths). Rewrite the " +
          "source once with the partition column materialized, or " +
          "commitPartitioned it into a new table.")
    }
    SnapshotNulls.record(spark, root, nulls)
    commitManifest(fsFor(spark, new Path(root)), root,
      Snapshot(1, "import", commitTsMs, schema.json, files, stats,
        statuses.map(s => norm(s.getPath.toString) -> s.getLen).toMap,
        cols = cols, rows = rows))
    1
  }

  /** ADD COLUMN with an optional DEFAULT (Iceberg v3 initial-default /
    * SQL standard column default): the default rides the field's
    * metadata under Spark's OWN convention (`EXISTS_DEFAULT` fills the
    * column for pre-evolution files — both snapshot readers serve it for
    * files that predate the column; `CURRENT_DEFAULT` makes
    * INSERTs that omit the column take the default at analysis time).
    * The default must be a foldable literal expression of a castable
    * type — validated HERE so a bad default is a commit-time error, not
    * a read-time surprise. Metadata-only: no data moves. */
  def addColumn(spark: SparkSession, root: String, name: String,
                dataType: DataType, defaultSql: Option[String],
                commitTsMs: Long): Int = {
    val cur = pick(spark, root, None, None).schema
    require(!cur.fieldNames.contains(name),
      s"SnapshotLog: column $name already exists")
    val md = defaultSql.map { d =>
      new org.apache.spark.sql.types.MetadataBuilder()
        .putString(org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
          .CURRENT_DEFAULT_COLUMN_METADATA_KEY, d)
        .putString(org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
          .EXISTS_DEFAULT_COLUMN_METADATA_KEY, d)
        .build()
    }.getOrElse(org.apache.spark.sql.types.Metadata.empty)
    val field = StructField(name, dataType, nullable = true, md)
    // fail fast: resolvable, foldable, and castable to the column type
    defaultSql.foreach { _ =>
      org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
        .analyze(field, "ALTER TABLE ADD COLUMN"): Unit
    }
    alterSchema(spark, root, StructType(cur.fields :+ field), commitTsMs)
  }

  /** Per-column statistics of one ANALYZE pass: KMV sketch (the k
    * smallest 60-bit hashes — MERGEABLE state, the Iceberg Puffin/theta
    * pattern), NDV derived from it, null count, and stringified
    * avg/max lengths. */
  /** Equi-height histogram (Spark's catalyst Histogram shape): `height`
    * = non-null rows per bin; each bin = (lo, hi, ndv) over the column's
    * DOUBLE value space. */
  final case class HistStat(height: Double, bins: Vector[(Double, Double, Long)])

  final case class ColStat(ndv: Long, nulls: Long, avgLen: Long,
                           maxLen: Long, k: Int, kmv: Seq[Long],
                           hist: Option[HistStat] = None)

  /** ANALYZE (Iceberg's ANALYZE + Puffin statistics-file analog): ONE
    * distributed aggregate pass over the current snapshot computes a
    * per-column KMV sketch + null count + lengths (bounded k-long state
    * per column, map-side combined — feasible at 100 TB), persisted as
    * an immutable sidecar `_log/colstats-vNNNNN.json` keyed by the
    * analyzed version. Readers pick the newest stats at-or-below their
    * pinned version ([[colStatsFor]]) and surface row counts + NDV +
    * min/max through `SupportsReportStatistics`, which Spark's CBO maps
    * into per-attribute estimates (filter selectivity, join sizing,
    * broadcast decisions — SnapshotStatsSpec pins the plan flip).
    * Returns the analyzed version. */
  def analyze(spark: SparkSession, root: String,
              k: Int = 256, histBins: Int = 64): Int = {
    import org.apache.spark.sql.functions.{avg, col, count, expr, length, lit, max => fmax}
    import graft.text.TextKernels.md5Long
    val cur = pick(spark, root, None, None)
    // self-contained registration: analyze must work in sessions built
    // without GraftExtensions
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("kmv_sketch"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.KmvSketch].getName, "kmv_sketch"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        args match {
          case Seq(c) => graft.functions.KmvSketch(c)
          case Seq(c, kk) => graft.functions.KmvSketch(c,
            kk.eval().asInstanceOf[Int])
          case _ => throw new IllegalArgumentException("kmv_sketch(hash60[, k])")
        })
    val supported = cur.schema.fields.filter(f => f.dataType match {
      case IntegerType | LongType | ShortType | ByteType | FloatType |
           DoubleType | StringType | DateType | TimestampType |
           TimestampNTZType | BooleanType => true
      case _ => false
    }).toSeq
    val df = spark.read.format("snapshotlog")
      .option("asOfVersion", cur.version).load(root)
    // histogram value space = catalyst's internal double representation
    // (numerics as-is; dates as days since epoch; timestamps as epoch
    // MICROS — what FilterEstimation compares predicate bounds against)
    val numericCols: Seq[(StructField, String)] = supported.flatMap { f =>
      f.dataType match {
        case IntegerType | LongType | ShortType | ByteType | FloatType |
             DoubleType => Some(f -> s"CAST(`${f.name}` AS double)")
        case DateType => Some(f -> s"CAST(unix_date(`${f.name}`) AS double)")
        case TimestampType =>
          Some(f -> s"CAST(unix_micros(`${f.name}`) AS double)")
        // NTZ internal values are WALL-CLOCK micros; CAST(ntz AS timestamp)
        // would shift by the session timezone and put every histogram bin
        // hours away from the bounds FilterEstimation actually compares.
        // Derive wall-clock micros TZ-independently: epoch-day * 86.4e9 +
        // micros-within-day (date_part('SECOND') carries the fraction).
        case TimestampNTZType =>
          Some(f -> (s"(CAST(unix_date(CAST(`${f.name}` AS DATE)) AS double)" +
            s" * 86400000000.0" +
            s" + CAST(date_part('HOUR', `${f.name}`) AS double) * 3600000000.0" +
            s" + CAST(date_part('MINUTE', `${f.name}`) AS double) * 60000000.0" +
            s" + CAST(date_part('SECOND', `${f.name}`) AS double) * 1000000.0)"))
        case _ => None
      }
    }
    val histOn = histBins > 0 && numericCols.nonEmpty
    val probs = (0 to histBins).map(i => i.toDouble / histBins)
    val sel = supported.flatMap { f =>
      Seq(md5Long(col(f.name).cast("string")).as(s"__h_${f.name}"),
        col(f.name).cast("string").as(s"__s_${f.name}"))
    } ++ (if (histOn) numericCols.map { case (f, conv) =>
      expr(conv).as(s"__pc_${f.name}") } else Nil)
    // the histogram BIN ENDPOINTS (approx percentiles) ride the SAME
    // aggregate pass as the KMV/null/length stats — one scan, not two;
    // only the per-bin interval-NDV pass below needs the endpoints first
    val aggs = (count(lit(1)).as("__n") +: supported.flatMap { f =>
      Seq(expr(s"kmv_sketch(`__h_${f.name}`, $k)").as(s"__kmv_${f.name}"),
        count(col(s"__s_${f.name}")).as(s"__cnt_${f.name}"),
        avg(length(col(s"__s_${f.name}"))).as(s"__avg_${f.name}"),
        fmax(length(col(s"__s_${f.name}"))).as(s"__max_${f.name}"))
    }) ++ (if (histOn) numericCols.map { case (f, _) => expr(
      s"percentile_approx(`__pc_${f.name}`, " +
        s"array(${probs.mkString(",")}), 10000)").as(s"__p_${f.name}")
    } else Nil)
    val row = df.select(sel: _*).agg(aggs.head, aggs.tail: _*).head()
    val n = row.getAs[Long]("__n")
    val baseCols = supported.map { f =>
      val kmv = row.getSeq[Long](row.fieldIndex(s"__kmv_${f.name}")).toVector
      val cnt = row.getAs[Long](s"__cnt_${f.name}")
      val avgL = Option(row.getAs[Any](s"__avg_${f.name}"))
        .map(v => math.round(v.asInstanceOf[Double])).getOrElse(0L)
      val maxL = Option(row.getAs[Any](s"__max_${f.name}"))
        .map(_.asInstanceOf[Int].toLong).getOrElse(0L)
      f.name -> ColStat(graft.functions.KmvNdv.estimateFromSketch(kmv, k),
        n - cnt, avgL, maxL, k, kmv)
    }
    // ---- EQUI-HEIGHT HISTOGRAMS (numeric columns; Spark's catalyst
    // Histogram shape, consumed by FilterEstimation for skewed
    // predicates where uniform min/max interpolation is wrong by orders
    // of magnitude). The endpoints came back with the base row above;
    // ONE more bounded-state pass computes per-bin NDV
    // (ApproxCountDistinctForIntervals) — both map-side combined,
    // feasible at 100 TB. ----
    val hists: Map[String, HistStat] =
      if (!histOn || n == 0) Map.empty
      else {
        val endpoints: Seq[(String, String, Seq[Double])] =
          numericCols.flatMap { case (f, conv) =>
            val idx = row.fieldIndex(s"__p_${f.name}")
            if (row.isNullAt(idx)) None // all-null column
            else Some((f.name, conv, row.getSeq[Double](idx)))
          // non-FINITE endpoints (NaN from all-NaN data, ±Infinity from a
          // float column containing infinities) would render as bare
          // `Infinity` tokens in the interval-NDV SQL below and fail the
          // whole ANALYZE — skip the histogram for that column instead
          }.filter(_._3.forall(d => java.lang.Double.isFinite(d)))
        if (endpoints.isEmpty) Map.empty
        else {
          // collision-proof internal registration: a uuid-suffixed name
          // that cannot clobber (or race) a user-defined function, dropped
          // again right after the one aggregation that uses it
          val fnName = "__graft_acd_" +
            java.util.UUID.randomUUID().toString.replace("-", "").take(16)
          val fnId = org.apache.spark.sql.catalyst.FunctionIdentifier(fnName)
          spark.sessionState.functionRegistry.registerFunction(
            fnId,
            new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
              classOf[org.apache.spark.sql.catalyst.expressions.aggregate.ApproxCountDistinctForIntervals].getName,
              fnName),
            (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
              new org.apache.spark.sql.catalyst.expressions.aggregate
                .ApproxCountDistinctForIntervals(args.head, args(1),
                  org.apache.spark.sql.catalyst.expressions.Literal(0.05)))
          val nr = try {
            val ndvAggs = endpoints.map { case (name, conv, ep) => expr(
              s"$fnName($conv, array(${ep.mkString(",")}))")
              .as(s"__nd_$name") }
            df.agg(ndvAggs.head, ndvAggs.tail: _*).head()
          } finally spark.sessionState.functionRegistry.dropFunction(fnId)
          val nullsOf = baseCols.toMap
          endpoints.map { case (name, _, ep) =>
            val ndvs = nr.getSeq[Long](nr.fieldIndex(s"__nd_$name"))
            val nonNull = n - nullsOf(name).nulls
            name -> HistStat(nonNull.toDouble / histBins,
              ep.init.lazyZip(ep.tail).lazyZip(ndvs)
                .map((lo, hi, d) => (lo, hi, d)).toVector)
          }.toMap
        }
      }
    val cols = baseCols.map { case (name, cs) =>
      name -> cs.copy(hist = hists.get(name))
    }
    val node = om.createObjectNode()
    node.put("version", cur.version)
    node.put("rowCount", n)
    val cn = node.putObject("cols")
    cols.foreach { case (name, cs) =>
      val c = cn.putObject(name)
      c.put("ndv", cs.ndv); c.put("nulls", cs.nulls)
      c.put("avgLen", cs.avgLen); c.put("maxLen", cs.maxLen)
      c.put("k", cs.k)
      val arr = c.putArray("kmv")
      cs.kmv.foreach(arr.add)
      cs.hist.foreach { h =>
        val hn = c.putObject("hist")
        hn.put("height", h.height)
        val bn = hn.putArray("bins")
        h.bins.foreach { case (lo, hi, d) =>
          val b = bn.addArray(); b.add(lo); b.add(hi); b.add(d): Unit
        }
      }
    }
    val p = new Path(logDir(root), f"colstats-v${cur.version}%05d.json")
    val fs = fsFor(spark, p)
    val out = fs.create(p, true) // re-analyze overwrites
    try out.write(om.writeValueAsBytes(node)) finally out.close()
    invalidateColStats(root)
    cur.version
  }

  // (root, pinned version) -> resolved stats. Planning calls
  // estimateStatistics per query; without this cache every plan pays a
  // directory listing (50-100 ms on an object store). analyze() in this
  // JVM invalidates the root's entries; an analyze from ANOTHER driver
  // at an unchanged version is picked up lazily (stats are estimates —
  // staleness changes plans, never results).
  private val colStatsCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int), Option[(Int, Long, Map[String, ColStat])]]()
  private[sources] def invalidateColStats(root: String): Unit = {
    val n = norm(root)
    colStatsCache.keySet.removeIf(_._1 == n)
  }

  /** Newest ANALYZE result at-or-below `version`:
    * (analyzed version, total rows then, per-column stats). */
  def colStatsFor(spark: SparkSession, root: String,
                  version: Int): Option[(Int, Long, Map[String, ColStat])] = {
    val ck = (norm(root), version)
    val hit = colStatsCache.get(ck)
    if (hit != null) return hit
    val computed = colStatsUncached(spark, root, version)
    if (colStatsCache.size > 4096) colStatsCache.clear()
    colStatsCache.put(ck, computed)
    computed
  }

  private def colStatsUncached(spark: SparkSession, root: String,
                  version: Int): Option[(Int, Long, Map[String, ColStat])] = {
    val dir = logDir(root)
    val fs = fsFor(spark, dir)
    if (!fs.exists(dir)) return None
    val re = "colstats-v(\\d{5})\\.json".r
    val best = fs.listStatus(dir).map(_.getPath.getName).collect {
      case nm @ re(v) if v.toInt <= version => (v.toInt, nm)
    }.sortBy(_._1).lastOption
    best.map { case (v, nm) =>
      val t = om.readTree(readBytes(fs, new Path(dir, nm)))
      val cols = Option(t.get("cols")).map { cn =>
        cn.fields().asScala.map { fe =>
          val c = fe.getValue
          val hist = Option(c.get("hist")).map { hn =>
            HistStat(hn.get("height").asDouble(),
              hn.get("bins").elements().asScala.map { b =>
                (b.get(0).asDouble(), b.get(1).asDouble(), b.get(2).asLong())
              }.toVector)
          }
          fe.getKey -> ColStat(c.get("ndv").asLong(), c.get("nulls").asLong(),
            c.get("avgLen").asLong(), c.get("maxLen").asLong(),
            c.get("k").asInt(),
            Option(c.get("kmv")).map(_.elements().asScala.map(_.asLong()).toSeq)
              .getOrElse(Seq.empty),
            hist)
        }.toMap
      }.getOrElse(Map.empty[String, ColStat])
      (v, t.get("rowCount").asLong(), cols)
    }
  }

  /** Commit-props injection for the NEXT DML statement on this thread
    * (ADVICE r20: MV maintenance must record its applied-watermark token
    * ATOMICALLY with the MERGE snapshot, or a crash between the MERGE and
    * the separate tblprops write re-applies the same delta on restart —
    * silent double-counting). The DML commit paths (CoW row-level and
    * MoR delta) fold these into the snapshot's per-commit props; the
    * caller sets before issuing the statement and clears in `finally`.
    * Thread-local because DML executes eagerly on the calling thread;
    * if an exotic execution path ever commits from another thread the
    * token is merely absent and behavior degrades to the pre-fix window
    * (the post-merge tblprops write still runs). */
  private val pendingProps = new ThreadLocal[Map[String, String]] {
    override def initialValue(): Map[String, String] = Map.empty
  }
  def setPendingCommitProps(p: Map[String, String]): Unit = pendingProps.set(p)
  def clearPendingCommitProps(): Unit = pendingProps.remove()
  private[sources] def takePendingCommitProps(): Map[String, String] = {
    val p = pendingProps.get(); pendingProps.remove(); p
  }

  /** TABLE-LEVEL properties (Iceberg table-properties analog): a small
    * JSON beside the log. Unlike per-snapshot commit `props` these
    * configure WRITE BEHAVIOR for future statements — e.g.
    * `write.delete.mode=merge-on-read` routes SQL DELETE through
    * positional delete files instead of copy-on-write. Deliberately not
    * versioned: they steer future commits, they don't describe past ones
    * (matching Iceberg, where properties changes don't create
    * snapshots). Last-writer-wins on concurrent SET. */
  def tableProps(spark: SparkSession, root: String): Map[String, String] = CommitTimings.time("tableProps") {
    val p = new Path(logDir(root), "tblprops.json")
    val fs = fsFor(spark, p)
    if (!fs.exists(p)) Map.empty
    else {
      val t = om.readTree(readBytes(fs, p))
      t.fields().asScala.map(fe => fe.getKey -> fe.getValue.asText()).toMap
    }
  }

  def setTableProps(spark: SparkSession, root: String,
                    set: Map[String, String],
                    unset: Seq[String] = Nil): Map[String, String] = {
    require(snapshots(spark, root).nonEmpty,
      s"SnapshotLog: no table at $root")
    val merged = tableProps(spark, root) ++ set -- unset
    val p = new Path(logDir(root), "tblprops.json")
    val fs = fsFor(spark, p)
    val node = om.createObjectNode()
    merged.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    val out = fs.create(p, true)
    try out.write(om.writeValueAsBytes(node)) finally out.close()
    merged
  }

  /** Named refs (Iceberg tags): human-readable names pinned to snapshot
    * versions — `VERSION AS OF 'v1-release'` in SQL, `option("asOfTag",
    * name)` on the DSv2 source. Tags RETAIN their snapshots: expiry never
    * reclaims a tagged version, so a tag is a durable audit point that
    * survives routine expire_snapshots (exactly Iceberg's ref-retention
    * rule). Stored as a small JSON beside the log; last-writer-wins. */
  /** Typed refs: name -> (kind, version), kind ∈ tag | branch. Legacy
    * files stored tags as bare ints — read both shapes. */
  def refsTyped(spark: SparkSession, root: String): Map[String, (String, Int)] = {
    val p = new Path(logDir(root), "refs.json")
    val fs = fsFor(spark, p)
    if (!fs.exists(p)) Map.empty
    else {
      val t = om.readTree(readBytes(fs, p))
      t.fields().asScala.map { fe =>
        val v = fe.getValue
        if (v.isInt) fe.getKey -> (("tag", v.asInt()))
        else fe.getKey -> ((v.get("type").asText(), v.get("version").asInt()))
      }.toMap
    }
  }

  /** Name -> version for resolution (`VERSION AS OF 'name'`, asOfTag /
    * branch options) — tags and branch HEADS share the namespace. */
  def refs(spark: SparkSession, root: String): Map[String, Int] =
    refsTyped(spark, root).view.mapValues(_._2).toMap

  private def requireRefName(name: String): Unit =
    require(name.nonEmpty && !name.forall(_.isDigit),
      s"SnapshotLog: ref name '$name' must be non-numeric (it shares the " +
        "VERSION AS OF namespace with version numbers)")

  def createTag(spark: SparkSession, root: String, name: String,
                version: Int): Unit = {
    requireRefName(name)
    val snaps = snapshots(spark, root)
    require(snaps.exists(_.version == version),
      s"SnapshotLog: cannot tag missing version $version at $root")
    val existing = refsTyped(spark, root)
    require(!existing.contains(name),
      s"SnapshotLog: ref '$name' already exists at $root (drop it first)")
    writeRefs(spark, root, existing + (name -> (("tag", version))))
  }

  def dropTag(spark: SparkSession, root: String, name: String): Unit =
    writeRefs(spark, root, refsTyped(spark, root) - name)

  /** Advance branch `branch` from `expected` to `committed`, RE-PROVING at
    * write time that no concurrent branch writer advanced the ref since
    * the commit closure's head check — an unconditional overwrite here
    * would silently drop that writer's snapshot from the branch chain.
    * On mismatch the just-committed snapshot stays in the log (it is a
    * valid child of `expected`) but is NOT adopted as the branch head;
    * the caller re-runs against the new head. */
  private def advanceBranchRef(spark: SparkSession, root: String,
                               branch: String, expected: Int,
                               committed: Int): Unit = {
    val now = refsTyped(spark, root)
    if (!now.get(branch).exists(r => r._1 == "branch" && r._2 == expected))
      // the orphan version rides the exception: v$committed is durable in
      // the log (a valid child of `expected`) but unreachable from any
      // ref — the caller's re-run re-stages the same work, so surface the
      // handle for deliberate expiry instead of waiting for routine GC
      throw new CommitConflictException(
        s"SnapshotLog: branch '$branch' advanced concurrently during the " +
          s"commit at $root — snapshot v$committed committed but not " +
          "adopted as the branch head (orphan; expire deliberately or " +
          "let routine expiry reclaim it); re-run against the new head",
        orphanVersion = Some(committed))
    writeRefs(spark, root, now + (branch -> (("branch", committed))))
  }

  private def writeRefs(spark: SparkSession, root: String,
                        m: Map[String, (String, Int)]): Unit = {
    val p = new Path(logDir(root), "refs.json")
    val fs = fsFor(spark, p)
    val node = om.createObjectNode()
    m.toSeq.sortBy(_._1).foreach { case (k, (kind, v)) =>
      if (kind == "tag") node.put(k, v): Unit // legacy-compatible shape
      else {
        val o = node.putObject(k)
        o.put("type", kind)
        o.put("version", v): Unit
      }
    }
    val out = fs.create(p, true)
    try out.write(om.writeValueAsBytes(node)) finally out.close()
  }

  /** BRANCHES (Iceberg refs, the write-audit-publish workflow): a branch
    * is a named, WRITABLE line of history forked from a snapshot. Branch
    * commits share the table's version numbering and manifest log but
    * chain through their own parent pointers and carry `ref=<branch>` in
    * their props — main-line readers never see them. Audit the branch
    * (read via the ref), then [[fastForward]] publishes it to main. */
  def createBranch(spark: SparkSession, root: String, name: String,
                   fromVersion: Int): Unit = {
    requireRefName(name)
    val snaps = snapshots(spark, root)
    require(snaps.exists(_.version == fromVersion),
      s"SnapshotLog: cannot branch from missing version $fromVersion at $root")
    val existing = refsTyped(spark, root)
    require(!existing.contains(name),
      s"SnapshotLog: ref '$name' already exists at $root")
    writeRefs(spark, root, existing + (name -> (("branch", fromVersion))))
  }

  def dropBranch(spark: SparkSession, root: String, name: String): Unit =
    writeRefs(spark, root, refsTyped(spark, root) - name)

  /** Publish a branch to MAIN (Iceberg's fast_forward): one mainline
    * snapshot adopting the branch head's exact content. When the branch
    * forked from the CURRENT main head and only appended, the publish is
    * an ordinary "append" whose delta is exactly the branch's audited
    * additions (incremental consumers see them as appends); otherwise it
    * is an "overwrite" (content diverged — consumers must resync). */
  def fastForward(spark: SparkSession, root: String, branch: String,
                  commitTsMs: Long): Int = {
    val typed = refsTyped(spark, root)
    val (kind, headV) = typed.getOrElse(branch,
      throw new NoSuchElementException(
        s"SnapshotLog: no branch '$branch' at $root"))
    require(kind == "branch", s"SnapshotLog: ref '$branch' is a $kind")
    val snaps = snapshots(spark, root)
    val byV = snaps.map(s => s.version -> s).toMap
    val head = byV.getOrElse(headV, throw new IllegalStateException(
      s"SnapshotLog: branch '$branch' head v$headV expired at $root"))
    val mainHead = snaps.filter(_.branch.isEmpty).lastOption.getOrElse(
      throw new IllegalStateException(s"SnapshotLog: no main line at $root"))
    // append iff main head is an ancestor of the branch head
    var anc = Option(head)
    var isDescendant = false
    while (anc.isDefined && !isDescendant) {
      if (anc.get.version == mainHead.version) isDescendant = true
      else anc = byV.get(anc.get.parentVersion)
    }
    val op = if (isDescendant) "append" else "overwrite"
    val next = snaps.last.version + 1
    require(snaps.forall(_.commitTsMs < commitTsMs),
      s"commitTsMs $commitTsMs must advance past the last snapshot")
    commitManifest(fsFor(spark, new Path(root)), root, head.copy(
      version = next, operation = op, commitTsMs = commitTsMs,
      props = Map("published.from" -> branch), parent = mainHead.version))
    next
  }

  /** ROLLBACK — Iceberg's `rollback_to_snapshot` semantics, the
    * "bad commit, recover NOW" surface: ONE new mainline snapshot
    * re-adopting a prior mainline snapshot's exact content (files, delete
    * files, schema, spec, stats). History stays LINEAR and append-only —
    * nothing is deleted, the rolled-past versions remain time-travelable
    * (expire_snapshots reaps them later), incremental consumers see one
    * non-append "rollback" step (they must resync, exactly as for an
    * overwrite), and the changelog across the rollback reads as the undo
    * itself (the bad rows as deletes). The target must be a MAINLINE
    * ancestor of the current head — `setCurrentSnapshot` is the
    * unrestricted form (any retained snapshot, branches included).
    * Returns the new head version (the target version itself when the
    * rollback is a no-op because the head already IS the target).
    * Ref: Iceberg SetCurrentSnapshot/RollbackToSnapshot procedures;
    * reference DDL surface IcebergDDLExecutor.kt. */
  def rollbackTo(spark: SparkSession, root: String, toVersion: Int,
                 commitTsMs: Long): Int = {
    val snaps = snapshots(spark, root)
    val byV = snaps.map(s => s.version -> s).toMap
    val mainHead = snaps.filter(_.branch.isEmpty).lastOption.getOrElse(
      throw new IllegalStateException(s"SnapshotLog: no main line at $root"))
    val target = byV.getOrElse(toVersion, throw new NoSuchElementException(
      s"SnapshotLog: no snapshot v$toVersion at $root (expired?)"))
    require(target.branch.isEmpty,
      s"SnapshotLog: rollback target v$toVersion is a branch snapshot " +
        s"(${target.branch.get}) — use setCurrentSnapshot to adopt it")
    if (mainHead.version == toVersion) return toVersion
    // ancestor proof: walk the head's parent chain down to the target —
    // rolling back to a non-ancestor would silently ADOPT foreign content
    var anc: Option[Snapshot] = Some(mainHead)
    var isAncestor = false
    while (anc.isDefined && !isAncestor) {
      if (anc.get.version == toVersion) isAncestor = true
      else anc = byV.get(anc.get.parentVersion)
    }
    require(isAncestor,
      s"SnapshotLog: v$toVersion is not an ancestor of the current head " +
        s"v${mainHead.version} at $root — rollback must undo, not adopt " +
        "(setCurrentSnapshot is the unrestricted form)")
    adoptAsHead(spark, root, target, mainHead, snaps, "rollback",
      Map("rollback.to" -> toVersion.toString), commitTsMs)
  }

  /** Iceberg's `set_current_snapshot`: re-point the mainline head at ANY
    * retained snapshot's content — branch snapshots included (adopting a
    * branch head without publishing the branch) — via one new linear
    * commit. No ancestor restriction; see [[rollbackTo]] for the guarded
    * incident-recovery form. */
  def setCurrentSnapshot(spark: SparkSession, root: String, toVersion: Int,
                         commitTsMs: Long): Int = {
    val snaps = snapshots(spark, root)
    val mainHead = snaps.filter(_.branch.isEmpty).lastOption.getOrElse(
      throw new IllegalStateException(s"SnapshotLog: no main line at $root"))
    val target = snaps.find(_.version == toVersion).getOrElse(
      throw new NoSuchElementException(
        s"SnapshotLog: no snapshot v$toVersion at $root (expired?)"))
    if (mainHead.version == toVersion) return toVersion
    adoptAsHead(spark, root, target, mainHead, snaps, "rollback",
      Map("set-current.to" -> toVersion.toString), commitTsMs)
  }

  /** One new mainline snapshot with `target`'s exact content, parented at
    * the current head so history stays linear (shared by rollbackTo /
    * setCurrentSnapshot; fastForward is the branch-publish sibling). */
  private def adoptAsHead(spark: SparkSession, root: String, target: Snapshot,
                          mainHead: Snapshot, snaps: Seq[Snapshot],
                          op: String, props: Map[String, String],
                          commitTsMs: Long): Int = {
    val next = snaps.last.version + 1
    require(snaps.forall(_.commitTsMs < commitTsMs),
      s"commitTsMs $commitTsMs must advance past the last snapshot")
    commitManifest(fsFor(spark, new Path(root)), root, target.copy(
      version = next, operation = op, commitTsMs = commitTsMs,
      props = props, parent = mainHead.version))
    next
  }

  /** A wall-clock commit timestamp guaranteed to advance past the last
    * snapshot (two catalog commits can land in the same millisecond). */
  def nextCommitTs(spark: SparkSession, root: String): Long = {
    val last = snapshots(spark, root).lastOption.map(_.commitTsMs).getOrElse(0L)
    math.max(System.currentTimeMillis(), last + 1)
  }

  /** Serialize and exclusively publish snapshot `s` as manifest
    * `s.version` — every commit path composes `s`, usually as a copy of
    * the head it builds on (`s.shardPaths` is ignored: shard reuse reads
    * the parent manifest). Throws IllegalStateException on a commit
    * conflict. */
  private[sources] def commitManifest(fs: FileSystem, root: String,
      s: Snapshot): Unit = CommitTimings.time("commitManifest") {
    import s.{version, operation, commitTsMs, schemaJson, files, stats, sizes,
      props, spec, parts, cols, dels, fids, colIds, maxId, specs, fileSpec, parent}
    val rowCounts = s.rows
    // ---- MANIFEST-LIST SHARDING (r14; Iceberg's two-level manifest) ----
    // Per-file entries above the threshold live in immutable uuid-named
    // shard files reused across versions: an append's manifest is then
    // O(new files + shards), not O(table files), and a chain of versions
    // re-parses each shard once per JVM (shard cache). Per-file payloads
    // are immutable post-commit; the rare drifted entry (e.g. field-id
    // bootstrap on legacy files) is re-inlined, and inline wins at parse.
    val liveNorm = files.map(norm).toSet
    val parentShardPaths: Seq[String] =
      if (parent >= 1 && fs.exists(manifestPath(root, parent)))
        Option(om.readTree(readBytes(fs, manifestPath(root, parent)))
          .get("shards")).map(_.elements().asScala
          .map(_.get("path").asText()).toSeq).getOrElse(Seq.empty)
      else Seq.empty
    val kept: Seq[(String, ShardContent)] = parentShardPaths
      .map(p => p -> loadShard(fs, p))
      .filter(_._2.files.exists(f => liveNorm.contains(norm(f))))
    def payloadNow(nf: String) = (stats.get(nf), sizes.get(nf), cols.get(nf),
      parts.get(nf), colIds.get(nf), rowCounts.get(nf), fileSpec.get(nf))
    def payloadShard(sc: ShardContent, nf: String) =
      (sc.stats.get(nf), sc.sizes.get(nf), sc.cols.get(nf), sc.parts.get(nf),
        sc.colIds.get(nf), sc.rows.get(nf), sc.fileSpec.get(nf))
    val coveredClean: Set[String] = kept.flatMap { case (_, sc) =>
      sc.files.map(norm).filter(nf =>
        liveNorm.contains(nf) && payloadNow(nf) == payloadShard(sc, nf))
    }.toSet
    val inlineFiles = files.filterNot(f => coveredClean.contains(norm(f)))
    // cap shard size: a 10^6-entry commit writes ~16 shards instead of
    // one 150 MB file, so the write AND a new driver's cold parse both
    // parallelize across cores (measured: cold parse 16 s -> ~2 s)
    val newShards: Seq[(String, Seq[String])] =
      if (inlineFiles.size >= shardMin) {
        val groups = inlineFiles.grouped(ShardMaxEntries).toVector
        val paths = new Array[String](groups.size)
        java.util.stream.IntStream.range(0, groups.size).parallel().forEach { i =>
          paths(i) = writeShard(fs, root, groups(i), stats, sizes, cols,
            parts, colIds, rowCounts, fileSpec)
        }
        paths.toSeq.zip(groups)
      } else Seq.empty
    val shardRefs: Seq[(String, Seq[String])] = // (path, its file list)
      kept.map { case (p, sc) => p -> sc.files } ++ newShards
    val inlineOut = if (newShards.nonEmpty) Seq.empty else inlineFiles
    val inlineSet = inlineOut.map(norm).toSet
    // tombstones: parent-shard entries neither covered-clean nor re-homed
    // (a re-homed entry — drifted payload or plain re-inline — lives on
    // as an inline entry or in the NEW shard, which wins at parse)
    val inlineNormAll = inlineFiles.map(norm).toSet
    val removed: Seq[String] = kept.flatMap(_._2.files).map(norm)
      .distinct.filterNot(coveredClean).filterNot(inlineNormAll)

    val node = om.createObjectNode()
    node.put("version", version)
    node.put("operation", operation)
    node.put("commitTsMs", commitTsMs)
    node.put("schema", schemaJson)
    val arr = node.putArray("files")
    inlineOut.foreach(arr.add)
    if (shardRefs.nonEmpty) {
      val shardsNode = node.putArray("shards")
      shardRefs.foreach { case (p, fl) =>
        val e = shardsNode.addObject()
        e.put("path", p)
        e.put("files", fl.size): Unit
      }
      if (removed.nonEmpty) {
        val rm = node.putArray("removed")
        removed.foreach(rm.add)
      }
    }
    val statsNode = node.putObject("stats")
    stats.view.filterKeys(inlineSet).foreach { case (f, cols) =>
      val fNode = statsNode.putObject(f)
      cols.foreach { case (c, (mn, mx)) =>
        val cNode = fNode.putObject(c)
        putStatScalar(cNode, "min", mn)
        putStatScalar(cNode, "max", mx)
      }
    }
    val sizesNode = node.putObject("sizes")
    sizes.view.filterKeys(inlineSet).foreach { case (f, len) => sizesNode.put(f, len) }
    if (props.nonEmpty) {
      val propsNode = node.putObject("props")
      props.foreach { case (k, v) => propsNode.put(k, v) }
    }
    if (cols.nonEmpty) {
      val colsNode = node.putObject("cols")
      cols.view.filterKeys(inlineSet).foreach { case (f, cs) =>
        val arr = colsNode.putArray(f)
        cs.foreach(arr.add)
      }
    }
    if (dels.nonEmpty) {
      val delsNode = node.putObject("dels")
      dels.foreach { case (f, ds) =>
        val arr = delsNode.putArray(f)
        ds.foreach(arr.add)
      }
    }
    if (fids.nonEmpty) {
      val fidsNode = node.putObject("fids")
      fids.foreach { case (n, id) => fidsNode.put(n, id) }
      val colIdsNode = node.putObject("colIds")
      colIds.view.filterKeys(inlineSet).foreach { case (f, ids) =>
        val arr = colIdsNode.putArray(f)
        ids.foreach(arr.add)
      }
      node.put("maxId", maxId): Unit
    }
    if (parent >= 0) node.put("parent", parent): Unit
    if (rowCounts.nonEmpty) {
      val rowsNode = node.putObject("rows")
      rowCounts.view.filterKeys(inlineSet).foreach { case (f, n) => rowsNode.put(f, n) }
    }
    if (specs.nonEmpty) {
      val specsNode = node.putArray("specs")
      specs.foreach { s =>
        val one = specsNode.addArray()
        s.foreach { case (src, tr) =>
          val e = one.addObject()
          e.put("source", src)
          e.put("transform", tr): Unit
        }
      }
      val fsNode = node.putObject("fileSpec")
      fileSpec.view.filterKeys(inlineSet).foreach { case (f, i) => fsNode.put(f, i) }
    }
    if (spec.nonEmpty) {
      val specNode = node.putArray("spec")
      spec.foreach { case (src, tr) =>
        val f = specNode.addObject()
        f.put("source", src)
        f.put("transform", tr): Unit
      }
      val partsNode = node.putObject("parts")
      parts.view.filterKeys(inlineSet).foreach { case (f, vs) =>
        val arr = partsNode.putArray(f)
        vs.foreach(arr.add)
      }
    }
    try publish(fs, manifestPath(root, version), om.writeValueAsBytes(node))
    catch {
      case e: Exception =>
        // lost the publish race: reclaim the shards written for this commit
        newShards.foreach { case (p, _) => fs.delete(new Path(p), false) }
        throw e
    }
  }

  /** Shard threshold: commits whose inline entry count stays below this
    * keep the single-manifest layout (small tables see zero format
    * change); at or above it the entries move to a shard file.
    * Overridable per session for tests. */
  /** Per-shard entry cap: bounds individual shard JSON size so shard
    * writes and a cold driver's parse parallelize across cores. */
  private[sources] val ShardMaxEntries = 65536

  private[sources] def shardMin: Int =
    try SparkSession.active.conf.get("spark.graft.snapshot.shardMin", "512").toInt
    catch { case _: Exception => 512 }

  private def putStatScalar(cNode: com.fasterxml.jackson.databind.node.ObjectNode,
                            key: String, v: Any): Unit = v match {
    case l: java.lang.Long    => cNode.put(key, l.longValue()): Unit
    case i: java.lang.Integer => cNode.put(key, i.longValue()): Unit
    case d: java.lang.Double  => cNode.put(key, d.doubleValue()): Unit
    case fl: java.lang.Float  => cNode.put(key, fl.doubleValue()): Unit
    case s: String            => cNode.put(key, s): Unit
    case other                => cNode.put(key, other.toString): Unit
  }

  /** Write one immutable manifest shard holding the per-file payload of
    * `shardFiles`. Returns its path. */
  private def writeShard(fs: FileSystem, root: String,
      shardFiles: Seq[String],
      stats: Map[String, Map[String, (Any, Any)]],
      sizes: Map[String, Long],
      cols: Map[String, Seq[String]],
      parts: Map[String, Seq[String]],
      colIds: Map[String, Seq[Int]],
      rowCounts: Map[String, Long],
      fileSpec: Map[String, Int]): String = {
    val inSet = shardFiles.map(norm).toSet
    val node = om.createObjectNode()
    val fArr = node.putArray("files")
    shardFiles.foreach(fArr.add)
    val statsNode = node.putObject("stats")
    stats.view.filterKeys(inSet).foreach { case (f, cs) =>
      val fNode = statsNode.putObject(f)
      cs.foreach { case (c, (mn, mx)) =>
        val cNode = fNode.putObject(c)
        putStatScalar(cNode, "min", mn)
        putStatScalar(cNode, "max", mx)
      }
    }
    val sizesNode = node.putObject("sizes")
    sizes.view.filterKeys(inSet).foreach { case (f, len) => sizesNode.put(f, len) }
    if (cols.nonEmpty) {
      val colsNode = node.putObject("cols")
      cols.view.filterKeys(inSet).foreach { case (f, cs) =>
        val arr = colsNode.putArray(f); cs.foreach(arr.add)
      }
    }
    if (parts.nonEmpty) {
      val partsNode = node.putObject("parts")
      parts.view.filterKeys(inSet).foreach { case (f, vs) =>
        val arr = partsNode.putArray(f); vs.foreach(arr.add)
      }
    }
    if (colIds.nonEmpty) {
      val ciNode = node.putObject("colIds")
      colIds.view.filterKeys(inSet).foreach { case (f, ids) =>
        val arr = ciNode.putArray(f); ids.foreach(arr.add)
      }
    }
    if (rowCounts.nonEmpty) {
      val rowsNode = node.putObject("rows")
      rowCounts.view.filterKeys(inSet).foreach { case (f, n) => rowsNode.put(f, n) }
    }
    if (fileSpec.nonEmpty) {
      val fsNode = node.putObject("fileSpec")
      fileSpec.view.filterKeys(inSet).foreach { case (f, i) => fsNode.put(f, i) }
    }
    val dest = new Path(logDir(root),
      s"shard-${java.util.UUID.randomUUID().toString.take(12)}.json")
    fs.mkdirs(dest.getParent)
    val out = fs.create(dest, false)
    try out.write(om.writeValueAsBytes(node)) finally out.close()
    dest.toString
  }

  /** Lost the O_EXCL race for a version file: RETRYABLE — the commit can
    * be re-validated and re-applied against the new head (Iceberg
    * SnapshotProducer semantics, [[retryingCommit]]). Subclasses
    * IllegalStateException so every existing staging-cleanup catch keeps
    * firing. */
  private[sources] final class CommitRaceLost(msg: String,
      /** When positive: the destination is a TORN manifest still inside
        * the reclaim grace window — retry only helps after this many ms
        * (a crashed publish ages past the gate; a live one finishes). */
      val retryAfterMs: Long = 0L)
    extends IllegalStateException(msg)

  /** A commit whose re-application on the new base would be UNSOUND —
    * the concurrent winner touched the same files this statement
    * targets, or moved the schema/spec under it. Never retried; the
    * statement must re-run against the new table state. */
  /** `orphanVersion`: set when a snapshot was already durably committed
    * before the refusal (branch-ref advancement lost its race) — the
    * caller's re-run re-stages the same row-level work, so the orphan's
    * staged files would otherwise linger until routine expiry. The
    * handle lets callers/maintenance expire it deliberately
    * (`expireSnapshots` below that version reclaims its staged files). */
  final class CommitConflictException(msg: String,
      val orphanVersion: Option[Int] = None)
    extends IllegalStateException(msg)

  /** Optimistic-concurrency commit loop (Iceberg's SnapshotProducer):
    * `attempt` re-reads the head ITSELF, validates, composes a manifest
    * on it and publishes; a lost version-file race re-runs it against
    * the new head, up to `maxAttempts`. Concurrent writers touching
    * DISJOINT files — the common case on a large table with many ingest
    * jobs — thus ALL land; only a validation refusal
    * ([[CommitConflictException]]) or exhaustion surfaces. The tiny
    * jittered backoff de-synchronizes contenders without a lock. */
  private def retryingCommit[T](what: String, maxAttempts: Int = 6)
      (attempt: () => T): T = {
    var n = 1
    while (true) {
      try return attempt()
      catch {
        case e: CommitRaceLost =>
          if (n >= maxAttempts) throw new IllegalStateException(
            s"SnapshotLog: $what lost the commit race $maxAttempts times " +
              s"(persistent contention): ${e.getMessage}")
          // a torn-but-fresh destination asks for a sleep past the
          // reclaim grace (millisecond backoffs would exhaust every
          // attempt inside the window and hard-fail a recoverable state)
          Thread.sleep(math.max(e.retryAfterMs,
            n.toLong + ThreadLocalRandom.current().nextLong(8L)))
          n += 1
      }
    }
    sys.error("unreachable")
  }

  /** Validate that row-level work staged against `base` may re-apply on
    * `fresh` (the snapshots that landed in between must not overlap this
    * statement's work): appends always pass; schema or spec drift, a
    * targeted data file rewritten away, or concurrent delete files on a
    * targeted data file refuse with [[CommitConflictException]].
    * `targeted` holds NORMALIZED paths of the data files this statement
    * attaches delete files to (its positional coordinates / equality
    * scoping are only valid while those files and their delete lists are
    * exactly as staged). */
  private def validateReapply(what: String, base: Snapshot, fresh: Snapshot,
      targeted: Set[String]): Unit = {
    def refuse(why: String): Nothing = throw new CommitConflictException(
      s"SnapshotLog: $what cannot re-apply on concurrent v${fresh.version}: " +
        why + " — re-run the statement against the new table state")
    if (fresh.schemaJson != base.schemaJson) refuse("schema changed")
    if (fresh.spec != base.spec || fresh.specs != base.specs)
      refuse("partition spec changed")
    val freshSet = fresh.files.map(norm).toSet
    val gone = targeted.filterNot(freshSet)
    if (gone.nonEmpty)
      refuse(s"targeted data file(s) no longer live: ${gone.take(3).mkString(", ")}")
    val overlapped = targeted.filter(f =>
      fresh.dels.getOrElse(f, Seq.empty) != base.dels.getOrElse(f, Seq.empty))
    if (overlapped.nonEmpty)
      refuse("concurrent row-level deletes on targeted file(s): " +
        overlapped.take(3).mkString(", "))
  }

  /** Iceberg's `validateAddedDataFiles` analog for equality-delete
    * writers: on re-apply, any data file the head gained since `base`
    * whose column stats MAY contain the statement's key range could carry
    * the very keys this upsert believes it replaced — its equality delete
    * was scoped to the files present at `base`, so letting both land
    * leaves duplicate rows for a key. Stats disambiguate: a concurrent
    * append of a provably-disjoint key range merges freely (the common
    * case — disjoint CDC shards); overlapping or stat-less additions
    * refuse. `keyBounds` empty (empty batch / all-null keys) skips. */
  private def validateAddedFiles(what: String, base: Snapshot,
      fresh: Snapshot, keyCols: Seq[String],
      keyBounds: Map[String, (Any, Any)]): Unit = {
    if (keyBounds.isEmpty) return
    val baseSet = base.files.map(norm).toSet
    val suspect = fresh.files.map(norm).filterNot(baseSet).filter { f =>
      val stats = fresh.stats.getOrElse(f, Map.empty[String, (Any, Any)])
      keyCols.forall { k =>
        val statKey = fresh.physName(f, k).getOrElse(k)
        (stats.get(statKey), keyBounds.get(k)) match {
          case (Some(st), Some((klo, khi))) => rangeMayMatch(st, klo, khi)
          case _ => true // unknown bounds: conservative — refuse
        }
      }
    }
    if (suspect.nonEmpty) throw new CommitConflictException(
      s"SnapshotLog: $what cannot re-apply on concurrent v${fresh.version}: " +
        "concurrently added data file(s) may contain the statement's keys: " +
        suspect.take(3).mkString(", ") +
        " — re-run the statement against the new table state")
  }

  /** Exclusive-claim publish. On file:// the payload is written to a
    * sibling temp file and HARD-LINKED into place: link(2) is atomic
    * O_EXCL (POSIX rename overwrites silently, so rename cannot detect
    * conflicts) AND the destination carries the FULL payload at claim
    * instant — no empty-file window a concurrent writer could misread
    * as a torn leftover and reclaim. Elsewhere create(overwrite=false)
    * (atomic claim on HDFS), then a read-back verify. An
    * existing-but-unparseable manifest at the destination is a torn
    * leftover from a crashed non-atomic publish (never acknowledged) —
    * reclaimed once, then the claim is retried. */
  /** Age a torn (unparseable) manifest must reach before a writer may
    * reclaim its version slot / a reader declares it corrupt — long
    * enough for any in-flight non-atomic publish to finish. Tunable for
    * ops (and tests) via -Dgraft.snapshotlog.tornGraceMs. */
  private[sources] def tornReclaimGraceMs: Long =
    java.lang.Long.getLong("graft.snapshotlog.tornGraceMs", 10000L)

  /** file:// exclusive claim: write a sibling temp, hard-link into place
    * (atomic O_EXCL + full payload at claim instant). On mounts without
    * hard links (some NFS/FUSE/overlay), falls back to O_EXCL
    * create-then-write — still an atomic claim, whose torn-payload window
    * the reclaim grace covers. `linkFn` is injectable for tests. */
  private[graft] def claimFileDest(destNio: java.nio.file.Path,
      payload: Array[Byte],
      linkFn: (java.nio.file.Path, java.nio.file.Path) => Unit =
        (d, t) => { java.nio.file.Files.createLink(d, t): Unit }): Unit = {
    val tmp = destNio.resolveSibling(
      s".${destNio.getFileName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    java.nio.file.Files.write(tmp, payload)
    try linkFn(destNio, tmp)
    catch {
      // FileAlreadyExists is the conflict signal — rethrow to the outer
      // handler (it subclasses FileSystemException, so this arm first)
      case e: java.nio.file.FileAlreadyExistsException => throw e
      case _: UnsupportedOperationException |
           _: SecurityException |
           _: java.nio.file.FileSystemException =>
        val out = java.nio.file.Files.newOutputStream(destNio,
          java.nio.file.StandardOpenOption.CREATE_NEW)
        try out.write(payload) finally out.close()
    }
    finally java.nio.file.Files.deleteIfExists(tmp)
  }

  private def publish(fs: FileSystem, dest: Path, payload: Array[Byte]): Unit = {
    fs.mkdirs(dest.getParent)
    def conflict(retryAfterMs: Long = 0L): Nothing = throw new CommitRaceLost(
      s"SnapshotLog: concurrent commit won ${dest.getName} at ${dest.getParent}",
      retryAfterMs)
    def claim(mayReclaim: Boolean): Unit = {
      val scheme = dest.toUri.getScheme
      try {
        if (scheme == null || scheme == "file") {
          claimFileDest(java.nio.file.Paths.get(dest.toUri.getPath), payload)
        } else {
          val out = fs.create(dest, false)
          try out.write(payload) finally out.close()
        }
      } catch {
        case _: java.nio.file.FileAlreadyExistsException |
             _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: org.apache.hadoop.fs.PathExistsException =>
          val torn = try { parseManifest(readBytes(fs, dest), fs); false }
                     catch { case _: Exception => true }
          // reclaim only STALE torn files (crash leftovers age before
          // anyone retries; a concurrent writer's publish is fresh) — a
          // hot torn-check racing a valid publish must never delete it
          val ageMs = try {
            System.currentTimeMillis() - fs.getFileStatus(dest).getModificationTime
          } catch { case _: Exception => Long.MinValue }
          val oldEnough = ageMs != Long.MinValue && ageMs > tornReclaimGraceMs
          if (torn && oldEnough && mayReclaim) { fs.delete(dest, false); claim(false) }
          // torn but FRESH: either a publish in flight (it will finish —
          // the version is genuinely taken) or a just-crashed writer
          // whose leftover only becomes reclaimable after the grace.
          // Tell the retry loop how long to wait so at least one attempt
          // runs after the gate opens, instead of exhausting millisecond
          // backoffs inside the window.
          else if (torn && mayReclaim && ageMs != Long.MinValue)
            conflict(retryAfterMs = math.max(tornReclaimGraceMs - ageMs + 250L, 50L))
          else conflict()
      }
    }
    claim(true)
    if (!java.util.Arrays.equals(readBytes(fs, dest), payload)) conflict()
  }

  private[sources] def pick(spark: SparkSession, root: String,
                   asOfVersion: Option[Int], asOfTsMs: Option[Long]): Snapshot = {
    val snaps = snapshots(spark, root)
    require(snaps.nonEmpty, s"SnapshotLog: no snapshots at $root")
    // the DEFAULT line of history is main: branch commits share the log's
    // version numbering but are only reachable by explicit version pin or
    // branch ref — a main reader never sees them
    val main = snaps.filter(_.branch.isEmpty)
    (asOfVersion, asOfTsMs) match {
      case (Some(v), _) =>
        snaps.find(_.version == v).getOrElse(
          throw new NoSuchElementException(s"SnapshotLog: no version $v at $root"))
      case (None, Some(ts)) =>
        main.filter(_.commitTsMs <= ts).lastOption.getOrElse(
          throw new NoSuchElementException(
            s"SnapshotLog: no snapshot at or before ts $ts at $root"))
      case _ => main.lastOption.getOrElse(
        throw new NoSuchElementException(
          s"SnapshotLog: only branch snapshots at $root"))
    }
  }

  /** Read a snapshot: the latest, a pinned version, or AS-OF a timestamp
    * (largest commitTsMs <= asOfTsMs — Iceberg's timestamp-travel rule),
    * under that snapshot's schema: files written before an additive
    * schema change serve the new column's default (else null), renamed
    * columns resolve through field ids, dropped columns stay hidden, and
    * merge-on-read deletes apply. A [[scan]] of the picked snapshot, so
    * filters on the result prune files from manifest stats. */
  def read(spark: SparkSession, root: String,
           asOfVersion: Option[Int] = None,
           asOfTsMs: Option[Long] = None): DataFrame =
    scan(spark, root, pick(spark, root, asOfVersion, asOfTsMs))

  /** The DSv2 scan of `snap`'s files ([[SnapshotLogScan]]): the one
    * reader of snapshot data. It takes the snapshot the caller picked, so
    * the log is not listed or parsed again. */
  private[sources] def scan(spark: SparkSession, root: String,
                            snap: Snapshot): DataFrame =
    org.apache.spark.sql.GraftSqlShim.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        .create(new SnapshotLogTable(root, snap), None, None))

  /** `snap` narrowed to `files`: its per-file maps (stats, sizes, deletes,
    * field ids, …) keep only those files' entries. `files` may name files
    * `snap` no longer holds (an incremental read's appended-then-replaced
    * files); they read with no recorded metadata. */
  private[sources] def restrict(snap: Snapshot, files: Seq[String]): Snapshot = {
    val keep = files.map(norm).toSet
    snap.retain(keep).copy(files = files)
  }

  /** Fill expression for an output column a file/version predates: its
    * declared existence default (addColumn's Iceberg-v3 initial-default
    * metadata), else null. */
  private def absentFillCol(f: StructField): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.expr
    val k = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
      .EXISTS_DEFAULT_COLUMN_METADATA_KEY
    if (f.metadata.contains(k))
      expr(f.metadata.getString(k)).cast(f.dataType)
    else org.apache.spark.sql.functions.lit(null).cast(f.dataType)
  }

  /** CDC CHANGELOG between two mainline versions (Iceberg
    * `create_changelog_view` / Delta Change Data Feed analog): one row
    * per NET row-level change in `(fromVersion, toVersion]`, tagged
    * `_change_type` ('insert' | 'delete'), `_commit_version`, and
    * `_commit_ts_ms` (the snapshot's commit timestamp, epoch ms).
    *
    * Each snapshot transition diffs ONLY its TOUCHED data files — files
    * added, removed, or whose delete-file list changed — by tagging the
    * before(-1)/after(+1) rows and netting multiplicities in ONE global
    * aggregation: rows visible after but not before are inserts, the
    * reverse are deletes. Cost is therefore proportional to the
    * transition's touched bytes, never the table size: trickle DML on a
    * 100-TB table replays from the kb-scale fragments + their source
    * files alone. Compaction snapshots (operation "rewrite") are skipped
    * wholesale — they are logically neutral by construction and their
    * touched set is the entire rewritten range, exactly the snapshots a
    * changelog consumer must NOT pay to re-verify (Iceberg's changelog
    * scan skips replace snapshots the same way). An UPDATE surfaces as
    * its delete+insert pair; a row whose values are unchanged across the
    * transition cancels out (NET semantics, multiplicity preserved).
    *
    * Every transition conforms to the schema of the LAST in-range
    * snapshot: renamed columns read via field-id resolution, columns
    * added mid-range null-fill for earlier transitions, dropped columns
    * vanish. (Reference surface: the reference reads Iceberg CDC through
    * the connector's changelog scan; this is the native equivalent over
    * the snapshot log.)
    *
    * `netChanges` (Iceberg create_changelog_view net_changes): net the
    * multiplicities across the WHOLE range instead of per transition —
    * intermediate churn vanishes (inserted-then-deleted rows cancel; an
    * updated row surfaces once with its final value), `_commit_version`/
    * `_commit_ts_ms` carry the LAST transition that touched the row.
    * Same single-aggregation plan; only the grouping key changes. */
  def changes(spark: SparkSession, root: String, fromVersion: Int,
              toVersion: Option[Int] = None,
              netChanges: Boolean = false,
              identifierCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, typedLit}
    require(!(netChanges && identifierCols.nonEmpty),
      "SnapshotLog.changes: net_changes and compute-updates (identifier " +
        "columns) cannot be combined — Iceberg's create_changelog_view " +
        "restriction: nets have no per-version delete/insert pairs to pair")
    val main = snapshots(spark, root).filter(_.branch.isEmpty)
    require(main.nonEmpty, s"SnapshotLog: no mainline snapshots at $root")
    val toV = toVersion.getOrElse(main.last.version)
    val inRange = main.filter(s => s.version > fromVersion && s.version <= toV)
    val metaFields = Seq(
      StructField("_change_type", StringType, nullable = false),
      StructField("_commit_version", IntegerType, nullable = false),
      StructField("_commit_ts_ms", LongType, nullable = false))
    def emptyDf(schema: StructType): DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // empty range: keep the documented "schema of the last in-range
    // snapshot" contract by shaping on the snapshot AT toV (the head may
    // have gained columns after toV — a bounded consumer unioning batches
    // must not see them)
    if (inRange.isEmpty) {
      val shapeAt = main.filter(_.version <= toV).lastOption.getOrElse(main.last)
      return emptyDf(StructType(shapeAt.schema.fields ++ metaFields))
    }
    val outSchema = inRange.last.schema
    val outCols = outSchema.fieldNames.toSeq
    // the three public meta columns are RESERVED (Delta CDF refuses such
    // writes; Iceberg reserves the names): a user column with one of these
    // names would be silently overwritten by withColumn below, vanishing
    // user data and corrupting the netting — refuse loudly instead
    val reservedClash = outCols.filter(ChangelogMetaCols.contains)
    require(reservedClash.isEmpty,
      s"SnapshotLog.changes: table schema contains reserved CDC meta " +
        s"column(s) ${reservedClash.mkString(", ")}; rename them before " +
        "reading a changelog (these names are reserved for change metadata)")
    // internal column names PROVABLY absent from the table schema (a user
    // column literally named __tag must not be overwritten by the netting
    // machinery — it would silently corrupt the changelog values)
    val tmpPrefix = Iterator.from(0)
      .map(i => "__chg" + (if (i == 0) "" else i.toString))
      .find(pre => !outCols.exists(_.startsWith(pre))).get
    val tagC = s"${tmpPrefix}_tag"
    val netC = s"${tmpPrefix}_net"
    val mC = s"${tmpPrefix}_m"
    val chunkC = s"${tmpPrefix}_chunk"
    val iC = s"${tmpPrefix}_i"
    // the baseline the first in-range transition diffs against: the
    // mainline snapshot AT fromVersion (fromVersion 0 / pre-history =
    // an empty table, so v1's whole content reads as inserts)
    val base = main.filter(_.version <= fromVersion).lastOption.getOrElse(
      inRange.head.copy(files = Seq.empty, dels = Map.empty,
        stats = Map.empty, version = fromVersion))
    val endFids = fidsOf(inRange.last)
    def visible(s: Snapshot, files: Seq[String]): DataFrame =
      scan(spark, root, restrict(s, files))
    // conform a transition's rows (read under snapshot `at`'s schema) to
    // the output schema, resolving RENAMES through the stable field ids:
    // an output column renamed after this transition reads from its
    // name-at-the-time, not null-filled (only columns that genuinely did
    // not exist yet null-fill)
    def conform(df: DataFrame, at: Snapshot): DataFrame = {
      val atFids = fidsOf(at)
      df.select(outSchema.fields.toSeq.map { f =>
        val nameAt = endFids.get(f.name)
          .flatMap(id => atFids.collectFirst { case (n, i) if i == id => n })
          .getOrElse(f.name)
        (if (df.columns.contains(nameAt)) col(nameAt).cast(f.dataType)
         else absentFillCol(f)).as(f.name)
      }: _*)
    }
    val slices = (base +: inRange).sliding(2).flatMap {
      case Seq(prev, cur) if cur.operation != "rewrite" =>
        val curSet = cur.files.map(norm).toSet
        val prevSet = prev.files.map(norm).toSet
        def delsOf(s: Snapshot, f: String): Seq[String] =
          s.dels.getOrElse(norm(f), Seq.empty)
        val touchedPrev = prev.files.filter(f =>
          !curSet(norm(f)) || delsOf(cur, f) != delsOf(prev, f))
        val touchedCur = cur.files.filter(f =>
          !prevSet(norm(f)) || delsOf(cur, f) != delsOf(prev, f))
        if (touchedPrev.isEmpty && touchedCur.isEmpty) None
        else {
          val after = conform(visible(cur, touchedCur), cur)
            .withColumn(tagC, lit(1L))
          val before = conform(visible(prev, touchedPrev), prev)
            .withColumn(tagC, lit(-1L))
          Some(after.unionByName(before)
            .withColumn("_commit_version", lit(cur.version)))
        }
      case _ => None
    }.toSeq
    if (slices.isEmpty) emptyDf(StructType(outSchema.fields ++ metaFields))
    else {
      // Commit timestamps join AFTER the netting, looked up on
      // `_commit_version` in one map-typed literal. Codegen passes a map
      // literal by reference but inlines a long literal into the Java
      // source, and procedures commit at wall-clock time: a per-slice
      // timestamp literal would make each call's plan new source and a
      // fresh compile. A timestamp is a function of its version, so the
      // netting keys need only the version.
      val tsMap = typedLit(inRange.map(s => s.version -> s.commitTsMs).toMap)
      def tsOf(version: org.apache.spark.sql.Column) =
        org.apache.spark.sql.GraftSqlShim.assertNotNull(tsMap(version))
      // ONE aggregation for the whole changelog: every transition's
      // before(-1)/after(+1) rows union tagged, a single groupBy over
      // (row, version) nets the multiplicities — bag semantics identical
      // to per-transition after.exceptAll(before) ∪ before.exceptAll(after)
      // (net > 0 → that many inserts, net < 0 → deletes; Spark's own
      // RewriteExceptAll uses this tag/sum/replicate algorithm), but a
      // K-version changelog costs ONE shuffle instead of 2K exchanges, the
      // difference between a trickle-CDC read and a full-table-scan-sized
      // plan at 100 TB. Multiplicity re-expansion explodes in ≤4096-element
      // chunks so a pathological all-duplicate file cannot materialize a
      // row-count-sized array.
      import org.apache.spark.sql.functions.{abs => fAbs, explode, least, max => fMax, sequence, sum => fSum, when}
      val verKeys = (outCols :+ "_commit_version").map(col)
      def netOf(chunk: Seq[DataFrame]): DataFrame =
        chunk.reduce(_ unionByName _)
          .groupBy(verKeys: _*)
          .agg(fSum(col(tagC)).as(netC))
          .filter(col(netC) =!= 0L)
      // Bound the PLAN, not just the data: a long version range (hundreds
      // of trickle commits) would otherwise union hundreds of per-file
      // relations into one codegen stage — netting in ≤32-transition
      // chunks (each materialized) keeps plan size O(1) per chunk, and
      // chunk results union losslessly because a (row, version) pair
      // lives in exactly ONE transition's slice.
      val perVersion =
        if (slices.size <= 32) netOf(slices)
        else slices.grouped(32).map(c => netOf(c).localCheckpoint())
          .reduce(_ unionByName _)
      // net_changes: a SECOND (already-netted-small) aggregation over the
      // per-version nets — carried rows (a file touched by sibling-row DML
      // re-reads its unchanged rows as a +1/-1 pair) net to zero PER
      // VERSION first, so the surviving row's version is the last
      // transition that CHANGED it, not the last that touched its file
      // (Iceberg net_changes semantics).
      val grouped =
        if (!netChanges)
          perVersion.withColumn("_commit_ts_ms", tsOf(col("_commit_version")))
        else perVersion.groupBy(outCols.map(col): _*)
          .agg(fSum(col(netC)).as(netC),
            fMax(col("_commit_version")).as("_commit_version"),
            fMax(tsOf(col("_commit_version"))).as("_commit_ts_ms"))
          .filter(col(netC) =!= 0L)
      val expanded = grouped
        .withColumn("_change_type",
          when(col(netC) > 0, lit("insert")).otherwise(lit("delete")))
        .withColumn(mC, fAbs(col(netC)))
        .withColumn(chunkC, explode(sequence(lit(0L),
          ((col(mC) - 1L) / 4096L).cast("long")))) // exact below 2^53
        .withColumn(iC, explode(sequence(lit(1L),
          least(lit(4096L), col(mC) - col(chunkC) * 4096L))))
        .select((outCols.map(col) :+ col("_change_type") :+
          col("_commit_version") :+ col("_commit_ts_ms")): _*)
      if (identifierCols.isEmpty) expanded
      else computeUpdateImages(expanded, outSchema, identifierCols, tmpPrefix)
    }
  }

  /** COMPUTE-UPDATES mode (Iceberg create_changelog_view's third shape):
    * within each commit version, pair the delete+insert of the same
    * identifier key into `update_preimage` / `update_postimage` rows;
    * unpaired rows keep their insert/delete tag. ONE additional grouping
    * keyed on (identifier columns, version) over the ALREADY-NETTED
    * changelog — a pair lives in exactly one group, so the pairing costs
    * one shuffle of the changed rows only, never a re-read.
    *
    * Identifier uniqueness is Iceberg's contract: more than one delete or
    * more than one insert for a key within one version cannot be paired
    * unambiguously and raises (Iceberg's ComputeUpdateIterator does the
    * same), rather than guessing pairs. */
  private def computeUpdateImages(expanded: DataFrame, outSchema: StructType,
      identifierCols: Seq[String], tmpPrefix: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val outCols = outSchema.fieldNames.toSeq
    val missing = identifierCols.filterNot(outCols.contains)
    require(missing.isEmpty,
      s"SnapshotLog.changes: identifier column(s) not in table schema: " +
        missing.mkString(", "))
    val restCols = outCols.filterNot(identifierCols.contains)
    val rowsC = s"${tmpPrefix}_rows"
    val rowType = StructType(restCols.map(n =>
      outSchema(n).copy(nullable = true)) :+
      StructField("_change_type", StringType, nullable = true))
    val gKey = identifierCols.map(col) ++
      Seq(col("_commit_version"), col("_commit_ts_ms"))
    val packed = expanded.groupBy(gKey: _*)
      .agg(collect_list(struct(
        (restCols.map(col) :+ col("_change_type")): _*)).as(rowsC))
    def side(tag: String) = filter(col(rowsC),
      r => r.getField("_change_type") === lit(tag))
    def retag(a: org.apache.spark.sql.Column, t: String) = transform(a,
      r => struct((restCols.map(n => r.getField(n).as(n)) :+
        lit(t).as("_change_type")): _*))
    val delsA = side("delete")
    val insA = side("insert")
    val errA = raise_error(concat(
      lit("SnapshotLog.changes: cannot compute update images — multiple " +
        "rows share identifier (" + identifierCols.mkString(", ") +
        ") within version "), col("_commit_version").cast("string")))
      .cast(org.apache.spark.sql.types.ArrayType(rowType))
    val outA =
      when(size(delsA) > 1 || size(insA) > 1, errA)
        .when(size(delsA) === 1 && size(insA) === 1,
          concat(retag(delsA, "update_preimage"),
            retag(insA, "update_postimage")))
        .otherwise(col(rowsC).cast(
          org.apache.spark.sql.types.ArrayType(rowType)))
    val rC = s"${tmpPrefix}_r"
    packed
      .select((identifierCols.map(col) ++
        Seq(col("_commit_version"), col("_commit_ts_ms"),
          explode(outA).as(rC))): _*)
      .select((outCols.map(n =>
        if (identifierCols.contains(n)) col(n)
        else col(rC).getField(n).as(n)) ++
        Seq(col(rC).getField("_change_type").as("_change_type"),
          col("_commit_version"), col("_commit_ts_ms"))): _*)
  }

  /** Write positional-delete parquet(s) from `matched` (a frame exposing
    * `_file`/`_pos`), range-partitioned by (file_path, pos) and sorted
    * within each partition so readers filter in one pass. A trickle
    * delete coalesces to ONE kb-scale file (AQE folds the near-empty
    * range partitions); a LARGE predicate delete fans out across tasks —
    * no single-task funnel for the staging shuffle. Each affected data
    * file is mapped ONLY to the delete parquet(s) that actually hold its
    * coordinates (range partitioning keeps one file's ordinals in at
    * most a couple of parts), so reader-side delete loading stays
    * proportional to the file's own residue, not the statement size.
    * Returns (delete dir, delete files per affected data file), or None
    * when nothing matched (dir already cleaned up). */
  private def stageDeleteFiles(spark: SparkSession, root: String,
      matched: DataFrame)
      : Option[(Path, Map[String, Seq[String]])] = {
    import org.apache.spark.sql.functions.{col, regexp_replace}
    val fs = fsFor(spark, new Path(root))
    val delDir = new Path(new Path(root, "deletes"),
      java.util.UUID.randomUUID().toString.take(12))
    matched
      .select(regexp_replace(col("_file"), "^file:/*", "/").as("file_path"),
        col("_pos").as("pos"))
      .repartitionByRange(col("file_path"), col("pos"))
      .sortWithinPartitions("file_path", "pos")
      .write.parquet(delDir.toString)
    val delFiles = fs.listStatus(delDir)
      .filter(s => s.getPath.getName.startsWith("part-") &&
        s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName).map(_.getPath.toString).toSeq
    if (delFiles.isEmpty) { fs.delete(delDir, true); return None }
    // (data file, delete parquet) edges: driver-side metadata, bounded by
    // |affected files| × |delete parts a file spans| (≈1 under ranging)
    val pairs = spark.read.parquet(delFiles: _*)
      .select(col("file_path"),
        regexp_replace(col("_metadata.file_path"), "^file:/*", "/").as("del"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getString(1)))
    if (pairs.isEmpty) { fs.delete(delDir, true); None }
    else {
      val byNorm = delFiles.map(d => norm(d) -> d).toMap
      val referenced = pairs.map(p => norm(p._2)).toSet
      // empty range partitions wrote empty parts: reclaim them
      delFiles.filterNot(d => referenced.contains(norm(d)))
        .foreach(d => fs.delete(new Path(d), false))
      Some((delDir, pairs.groupBy(_._1).view
        .mapValues(_.map(p => byNorm(norm(p._2))).toSeq.distinct.sorted).toMap))
    }
  }

  /** DELETION-VECTOR staging (opt-in via table property
    * `write.delete.vector=true` — Iceberg v3's Puffin DV shape, reference
    * Puffin machinery bodo/libs/_puffin.cpp): instead of parquet
    * (file_path, pos) rows, each affected data file gets ONE `.dv` binary
    * sidecar holding a RoaringBitmap of its deleted ordinals. Readers pay
    * a cached O(own ordinals) bitmap parse instead of scanning every
    * delete parquet's full coordinate list per task, and compaction folds
    * a file's stacked vectors with a bitmap-or. Built DISTRIBUTED: the
    * matched coordinates hash-partition by data file, each task writes
    * the vectors for its files directly (one file's ordinals land in
    * exactly one partition), only (data file, dv path) pairs reach the
    * driver. Same return shape as [[stageDeleteFiles]]. */
  private def stageDeleteVectors(spark: SparkSession, root: String,
      matched: DataFrame): Option[(Path, Map[String, Seq[String]])] = {
    import org.apache.spark.sql.functions.{col, regexp_replace}
    val fs = fsFor(spark, new Path(root))
    val delDir = new Path(new Path(root, "deletes"),
      java.util.UUID.randomUUID().toString.take(12))
    val dirStr = delDir.toString
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    import spark.implicits._
    val pairs: Array[(String, String)] = matched
      .select(regexp_replace(col("_file"), "^file:/*", "/").as("f"),
        col("_pos").cast("long").as("p"))
      .repartition(col("f"))
      .as[(String, Long)]
      .mapPartitions { it =>
        val bms = scala.collection.mutable.LinkedHashMap[
          String, org.roaringbitmap.longlong.Roaring64NavigableMap]()
        it.foreach { case (f, p) =>
          bms.getOrElseUpdate(f,
            new org.roaringbitmap.longlong.Roaring64NavigableMap()).addLong(p)
        }
        if (bms.isEmpty) Iterator.empty
        else {
          val fsx = new Path(dirStr).getFileSystem(hconf.value)
          fsx.mkdirs(new Path(dirStr))
          bms.iterator.map { case (f, bm) =>
            val dest = new Path(dirStr, "dv-" +
              java.util.UUID.randomUUID().toString.take(12) +
              SnapshotDeletes.VectorExt)
            SnapshotDeletes.writeVector(fsx, dest, bm)
            (f, dest.toString)
          }
        }
      }.collect()
    if (pairs.isEmpty) { fs.delete(delDir, true); None }
    else Some((delDir,
      pairs.groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap))
  }

  /** Stage the delete coordinates of `matched` in the flavor the table
    * asks for: `.dv` vectors under `write.delete.vector=true`, else
    * positional delete parquet. */
  private def stageDeletes(spark: SparkSession, root: String,
      matched: DataFrame, tblProps: Map[String, String])
      : Option[(Path, Map[String, Seq[String]])] =
    if (tblProps.get("write.delete.vector").contains("true"))
      stageDeleteVectors(spark, root, matched)
    else stageDeleteFiles(spark, root, matched)

  /** MERGE-ON-READ delete (Iceberg positional delete files): instead of
    * rewriting every touched data file (copy-on-write — O(file size) per
    * mutation), write one small parquet of (file_path, pos) coordinates
    * for the matching rows and commit a metadata-only "delete" snapshot
    * mapping each affected data file to its delete files. Readers
    * anti-join / ordinal-skip at scan time; `rewriteDataFiles` folds the
    * deletes back into plain data files. This is THE trickle-delete
    * answer at 100 TB: a 10-row delete against a 10 GB file costs a
    * kilobyte-scale write, not a 10 GB rewrite.
    *
    * The matching scan goes through the DSv2 source, so manifest-stats
    * pruning bounds it to files that can hold a matching row, and already-
    * deleted ordinals are excluded (stacked deletes never double-count).
    * With `branch` the statement runs on that branch instead of main —
    * the audit step of write-audit-publish (see [[commitChange]] for how
    * the two refs differ). Returns the new version, or the head version
    * when nothing matched. */
  def deleteWhereMoR(spark: SparkSession, root: String,
                     cond: org.apache.spark.sql.Column,
                     commitTsMs: Long, branch: Option[String] = None): Int = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val ref = Ref.of(branch)
    val cur = dmlHead(spark, root, ref, commitTsMs)
    if (cur.files.isEmpty) return cur.version
    // (file, ordinal) coordinates of the doomed rows, via the pruning
    // DSv2 scan pinned at the head
    val matched = spark.read.format("snapshotlog")
      .option("asOfVersion", cur.version).load(root)
      .filter(coalesce(cond, lit(false)))
    val tblProps = tablePropsOrEmpty(spark, root)
    stageDeletes(spark, root, matched, tblProps) match {
      case None => cur.version
      case Some((delDir, dels)) =>
        commitChange(spark, root, ref, Some(cur), commitTsMs, Change("delete",
          "delete", Map("delete.mode" -> "merge-on-read"), Seq(delDir),
          dels = dels))
    }
  }

  /** BACKFILL bloom + ngram sidecars for live files missing coverage —
    * the operational gap of opt-in index properties: arming
    * `write.bloom.columns` / `write.ngrambloom.columns` on an EXISTING
    * table covers only files committed afterwards, and re-covering the
    * history would otherwise need a full rewrite. This builds sidecars
    * for every live file that (a) physically carries ALL the property's
    * columns under their current names (renamed/pre-evolution files are
    * SKIPPED — a bloom built from a null-filled read could wrongly prune
    * a declared column default) and (b) lacks an entry for at least one
    * of them. Batched like the commit-time builds; returns
    * (bloom files backfilled, ngram files backfilled). Idempotent: a
    * second call finds full coverage and builds nothing. */
  def rebuildFileIndexes(spark: SparkSession, root: String): (Int, Int) = {
    val snap = pick(spark, root, None, None)
    val props = tablePropsOrEmpty(spark, root)
    val schema = snap.schema
    def backfillable(colNames: Seq[String],
                     covered: (String, String) => Boolean): Seq[String] =
      if (colNames.isEmpty) Seq.empty
      else snap.files.filter { f =>
        val key = norm(f)
        colNames.exists(n => !covered(key, n)) && colNames.forall { n =>
          val phys =
            if (snap.fids.isEmpty || !snap.colIds.contains(key)) Some(n)
            else snap.physName(f, n)
          phys.contains(n) && snap.cols.get(key).exists(_.contains(n))
        }
      }
    val bloomCols = SnapshotBlooms.bloomColumns(props, schema).map(_.name)
    val bloomsNow = SnapshotBlooms.bloomsAt(root)
    val bFiles = backfillable(bloomCols,
      (key, c) => bloomsNow.get(c).exists(_.contains(key)))
    val ngramCols = SnapshotNgramBlooms.ngramColumns(props, schema).map(_.name)
    val ngramsNow = SnapshotNgramBlooms.ngramsAt(root)
    val nFiles = backfillable(ngramCols,
      (key, c) => ngramsNow.get(c).exists(_.contains(key)))
    SnapshotSidecars.buildBlooms(spark, root, bFiles, nFiles, schema,
      snap.rows, props)
    (bFiles.size, nFiles.size)
  }

  /** Stage one equality-delete parquet for `keys` against snapshot `cur`:
    * returns (delete dir, delete files per stats-affected CURRENT file),
    * or None when the key set is empty or provably touches nothing (dir
    * cleaned up). */
  private def stageEqualityDelete(spark: SparkSession, root: String,
      cur: Snapshot, keys: DataFrame)
      : Option[(Path, Map[String, Seq[String]])] = {
    import org.apache.spark.sql.functions.col
    val schema = cur.schema
    val keyCols = keys.schema.fieldNames.toSeq
    require(keyCols.nonEmpty, "equality delete: no key columns")
    keyCols.foreach(k => require(schema.fieldNames.contains(k),
      s"equality delete: key column $k not in table schema"))
    require(keyCols.toSet != Set("file_path", "pos"),
      "equality delete: key set (file_path, pos) is reserved for " +
        "positional delete files")
    val fs = fsFor(spark, new Path(root))
    val delDir = new Path(new Path(root, "deletes"),
      java.util.UUID.randomUUID().toString.take(12))
    // conform key types to the table's column types: reader-side
    // comparison is then type-exact
    val conformed = keys.select(keyCols.map(k =>
      col(k).cast(schema(k).dataType).as(k)): _*).distinct()
    // range-partitioned by the key tuple: a CDC trickle coalesces to one
    // kb-scale file, a bulk key set fans out across tasks (no
    // single-task staging funnel), and each delete parquet covers a
    // contiguous key range — its own footer bounds then scope it
    conformed.repartitionByRange(keyCols.map(col): _*)
      .sortWithinPartitions(keyCols.map(col): _*)
      .write.parquet(delDir.toString)
    val allParts = fs.listStatus(delDir)
      .filter(s => s.getPath.getName.startsWith("part-") &&
        s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName).map(_.getPath.toString).toSeq
    if (allParts.isEmpty) { fs.delete(delDir, true); return None }
    val conf = spark.sessionState.newHadoopConf()
    val (delStats, _, delRows, _) = footerMeta(conf, allParts, conformed.schema)
    // empty range partitions wrote empty parts: reclaim them
    allParts.filter(d => delRows.getOrElse(norm(d), 0L) == 0L)
      .foreach(d => fs.delete(new Path(d), false))
    val delFiles = allParts.filter(d => delRows.getOrElse(norm(d), 0L) > 0L)
    if (delFiles.isEmpty) { fs.delete(delDir, true); return None }
    // scope PER (data file, delete file) PAIR: a data file references a
    // delete parquet only when every key column's ranges intersect
    // (missing stats on either side = conservative keep) — reader-side
    // probe sets stay proportional to the file's own overlap, not the
    // whole statement's key set
    val pairs: Map[String, Seq[String]] = cur.files.flatMap { f =>
      val stats = cur.stats.getOrElse(norm(f), Map.empty[String, (Any, Any)])
      val mine = delFiles.filter { d =>
        val db = delStats.getOrElse(norm(d), Map.empty[String, (Any, Any)])
        keyCols.forall { k =>
          val statKey = cur.physName(f, k).getOrElse(k)
          (stats.get(statKey), db.get(k)) match {
            case (Some(st), Some((klo, khi))) =>
              rangeMayMatch(st, canonStat(klo), canonStat(khi))
            case _ => true // unknown bounds: keep
          }
        }
      }
      if (mine.isEmpty) None else Some(norm(f) -> mine)
    }.toMap
    if (pairs.isEmpty) { fs.delete(delDir, true); None }
    else Some((delDir, pairs))
  }

  /** EQUALITY delete (Iceberg equality delete files — the CDC flavor):
    * delete every row whose KEY COLUMNS match any row of `keys`, without
    * knowing positions — the shape a change stream provides. The delete
    * file stores the key VALUES (its parquet schema IS the key list;
    * readers distinguish it from positional files by that schema), and
    * the manifest scopes it to the data files present NOW — files
    * appended later are unaffected (Iceberg's sequence-number rule,
    * expressed through manifest versioning). Scoping is stats-pruned:
    * files whose manifest min/max provably exclude every key carry no
    * delete reference and pay nothing at read time. `branch` as in
    * [[deleteWhereMoR]]. */
  def deleteEqualityMoR(spark: SparkSession, root: String,
                        keys: DataFrame, commitTsMs: Long,
                        branch: Option[String] = None): Int = {
    val ref = Ref.of(branch)
    val cur = dmlHead(spark, root, ref, commitTsMs)
    if (cur.files.isEmpty) return cur.version
    stageEqualityDelete(spark, root, cur, keys) match {
      case None => cur.version
      case Some((delDir, dels)) =>
        commitChange(spark, root, ref, Some(cur), commitTsMs, Change(
          "equality delete", "delete",
          Map("delete.mode" -> "merge-on-read-equality"), Seq(delDir),
          dels = dels))
    }
  }

  /** ATOMIC merge-on-read UPSERT (Flink/Iceberg CDC "upsert mode"): one
    * snapshot that equality-deletes the batch's keys from the files
    * present NOW and appends the batch rows. Old images are suppressed,
    * new images live in the appended fragment — which is NOT in the
    * delete's scope, so the new rows survive by construction. Cost ∝
    * batch size; compaction folds the residue. The upsert stream's
    * steady-state is exactly this, once per micro-batch. On a `branch`
    * it is the audit-fix MERGE of write-audit-publish (reference:
    * Iceberg MERGE INTO, bodo/io/iceberg/merge_into.py). An empty head
    * makes it a plain [[commit]]. */
  def upsertEqualityMoR(spark: SparkSession, root: String, batch: DataFrame,
                        keyCols: Seq[String], commitTsMs: Long,
                        numFiles: Int = 1,
                        props: Map[String, String] = Map.empty,
                        branch: Option[String] = None): Int = {
    import org.apache.spark.sql.functions.col
    val ref = Ref.of(branch)
    // the ref's own head: on main never an unpublished branch commit, so
    // an upsert cannot silently publish unaudited branch data
    val head = resolveRef(spark, root, ref)._1
    if (head.forall(_.files.isEmpty))
      return commit(batch, root, overwrite = head.isEmpty,
        commitTsMs, math.max(1, numFiles), props, branch)
    val cur = head.get
    require(cur.commitTsMs < commitTsMs,
      s"commitTsMs $commitTsMs must advance past the last snapshot")
    val schema = cur.schema
    val conformed = batch.select(schema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toSeq: _*).localCheckpoint()
    val staged = stageEqualityDelete(spark, root, cur,
      conformed.select(keyCols.map(col): _*))
    val tblProps = tablePropsOrEmpty(spark, root)
    // append the new images
    val (dataDir, data) = stageData(spark, root,
      conformed.repartition(math.max(1, numFiles)), schema, tblProps,
      dropEmpty = true)
    // the batch's key bounds, for validateAddedFiles on re-apply (the
    // staged key set may be empty when no current file overlaps — the
    // concurrent-insert-of-a-new-key case the bounds check exists for).
    // LAZY: the extra one-row aggregate only runs when a race actually
    // forces a re-apply — the uncontended CDC fast path never pays it
    lazy val keyBounds: Map[String, (Any, Any)] = {
      import org.apache.spark.sql.functions.{max => smax, min => smin}
      val aggs = keyCols.flatMap(k =>
        Seq(smin(col(k)).as(s"__lo_$k"), smax(col(k)).as(s"__hi_$k")))
      val r = conformed.agg(aggs.head, aggs.tail: _*).head()
      keyCols.zipWithIndex.flatMap { case (k, i) =>
        (Option(r.get(2 * i)), Option(r.get(2 * i + 1))) match {
          case (Some(lo), Some(hi)) => Some(k -> (canonStat(lo), canonStat(hi)))
          case _ => None
        }
      }.toMap
    }
    commitChange(spark, root, ref, Some(cur), commitTsMs, Change("merge",
      "upsert", props ++ Map("upsert.mode" -> "merge-on-read-equality"),
      staged.map(_._1).toSeq :+ dataDir, tblProps, data,
      staged.fold(Map.empty[String, Seq[String]])(_._2),
      reapply = (base, fresh) =>
        validateAddedFiles("merge", base, fresh, keyCols, keyBounds)))
  }

  /** Canonical form for cross-engine stat comparison (mirrors the
    * manifest's JSON scalar space: integrals as Long, floats as Double,
    * strings as String, timestamps as epoch-µs Long). */
  private def canonStat(v: Any): Any = v match {
    case i: java.lang.Integer => Long.box(i.longValue())
    case s: java.lang.Short => Long.box(s.longValue())
    case b: java.lang.Byte => Long.box(b.longValue())
    case f: java.lang.Float => Double.box(f.doubleValue())
    case t: java.sql.Timestamp =>
      Long.box(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case other => other
  }

  /** MERGE-ON-READ update: positional delete files suppress the OLD rows,
    * one small appended data file carries the NEW rows — committed
    * together as one "update" snapshot. Cost is proportional to the
    * MATCHED ROWS, never to the touched files' sizes: the trickle-UPDATE
    * answer at 100 TB, where copy-on-write rewrites a whole file per
    * statement (Iceberg's merge-on-read UPDATE semantics; compaction
    * folds both the delete files and the update fragments). `set` maps
    * column name -> replacement expression over the current row. On a
    * `branch` it is the audit-fix half of write-audit-publish. */
  def updateWhereMoR(spark: SparkSession, root: String,
                     cond: org.apache.spark.sql.Column,
                     set: Map[String, org.apache.spark.sql.Column],
                     commitTsMs: Long, numFiles: Int = 1,
                     branch: Option[String] = None): Int = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val ref = Ref.of(branch)
    val cur = dmlHead(spark, root, ref, commitTsMs)
    if (cur.files.isEmpty) return cur.version
    val bad = set.keySet -- cur.schema.fieldNames.toSet
    require(bad.isEmpty, s"updateWhereMoR: unknown column(s) ${bad.mkString(",")}")
    // one pruned scan feeds BOTH the delete coordinates and the updated
    // rows; localCheckpoint so the matched set is computed once
    val matched = spark.read.format("snapshotlog")
      .option("asOfVersion", cur.version).load(root)
      .select(col("_file"), col("_pos"),
        col("*")) // data columns after the coordinates
      .filter(coalesce(cond, lit(false)))
      .localCheckpoint()
    val tblProps = tablePropsOrEmpty(spark, root)
    stageDeletes(spark, root, matched, tblProps) match {
      case None => cur.version
      case Some((delDir, dels)) =>
        val (dataDir, data) = stageData(spark, root,
          matched.select(cur.schema.fields.map(f =>
            set.getOrElse(f.name, col(f.name)).as(f.name)).toSeq: _*)
            .repartition(math.max(1, numFiles)),
          cur.schema, tblProps, dropEmpty = true)
        commitChange(spark, root, ref, Some(cur), commitTsMs, Change("update",
          "update", Map("update.mode" -> "merge-on-read"),
          Seq(delDir, dataDir), tblProps, data, dels))
    }
  }

  /** Order two manifest-stat scalars. Integral pairs compare as longs
    * (double conversion would lose precision past 2^53 and could WRONGLY
    * prune a file); mixed or floating operands compare as doubles. */
  private[sources] def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) => x.compareTo(y)
    case (x: Number, y: Number) if isIntegral(x) && isIntegral(y) =>
      java.lang.Long.compare(x.longValue(), y.longValue())
    case _ =>
      val dx = a match { case n: Number => n.doubleValue(); case _ => a.toString.toDouble }
      val dy = b match { case n: Number => n.doubleValue(); case _ => b.toString.toDouble }
      java.lang.Double.compare(dx, dy)
  }

  private def isIntegral(n: Number): Boolean = n match {
    case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
         _: java.lang.Byte => true
    case _ => false
  }

  /** True iff a file whose recorded [min, max] is `stat` may contain a row
    * in [lo, hi]. */
  private[sources] def rangeMayMatch(stat: (Any, Any), lo: Any, hi: Any): Boolean =
    cmp(stat._2, lo) >= 0 && cmp(stat._1, hi) <= 0

  /** Single-column range read: [[read]] plus the filter
    * `lo <= colName <= hi`, which Catalyst pushes into the scan's
    * manifest-stats pruning, so only files whose stats intersect the
    * range open. Deletes, renames and defaults apply as in [[read]].
    * `spark.read.format("snapshotlog").load(root).filter(...)` prunes the
    * same way for any predicate. For a timestamp column, pass `lo`/`hi` as
    * epoch-MICROSECOND longs (the unit the manifest records); the filter
    * compares real timestamps. */
  def readPruned(spark: SparkSession, root: String, colName: String,
                 lo: Any, hi: Any, asOfVersion: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, timestamp_micros}
    val snap = pick(spark, root, asOfVersion, None)
    val isTs = snap.schema.find(_.name == colName).exists(f =>
      f.dataType == TimestampType || f.dataType == TimestampNTZType)
    val base = scan(spark, root, snap)
    if (isTs) {
      val c = col(colName).cast("timestamp")
      base.filter(c >= timestamp_micros(lit(lo)) && c <= timestamp_micros(lit(hi)))
    } else
      base.filter(col(colName) >= lit(lo) && col(colName) <= lit(hi))
  }

  /** Compaction — Iceberg's rewrite_data_files: bin-pack every live data
    * file smaller than `smallBytes` into ~`targetBytes` output files and
    * commit the result as a new "rewrite" snapshot (copy-on-write of the
    * small files, metadata-only carry of the rest; row content identical
    * by construction). Matters at scale because daily append cadence grows
    * the FILE COUNT unboundedly — scan task count explodes long before
    * data volume does. Old snapshots still reference the replaced files
    * until `expireSnapshots` reclaims them. Returns the new version, or
    * the current version unchanged when fewer than two files qualify.
    *
    * `clusterBy`: range-partition + sort the rewritten rows on these
    * columns, so each output file covers a TIGHT DISJOINT key range and
    * the manifest stats become maximally selective — compaction doubles
    * as the clustering pass that turns stats-pruning from best-effort
    * into near-partition-pruning (Iceberg's sort-order rewrite; the
    * Z-order analog for one sort dimension). Daily-append tables commit
    * in arrival order; this is where they get query order. */
  /** Bit-interleaved Z-VALUE over `zCols`: each column is linearly
    * bucketed to 2^bits ids through its own (min, max) — ONE aggregate
    * pass over data the compaction reads anyway — and the ids' bits are
    * interleaved (col i contributes bit j to position j*n+i). Sorting by
    * this value gives every output file a TIGHT min/max on EVERY z
    * column (the Iceberg zorder() sort-function analog in integer
    * space). Numeric columns only; nulls bucket to 0 (they cluster
    * together, pruning stays conservative via the normal null rules). */
  private def validateZorderBy(schema: StructType, zCols: Seq[String]): Unit = {
    require(zCols.size >= 2, "zorderBy needs at least 2 columns " +
      "(use clusterBy for a single key)")
    require(zCols.size <= 6, "zorderBy supports at most 6 columns")
    zCols.foreach { c =>
      val dt = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"zorderBy: no column $c in ${schema.fieldNames.mkString(",")}")
      ).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"zorderBy: $c is ${dt.simpleString}; z-order supports numeric " +
          "columns (truncate/bucket strings into a numeric key first)")
    }
  }

  private def zorderColumn(spark: SparkSession, df: DataFrame,
                           zCols: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    validateZorderBy(df.schema, zCols)
    val aggs = zCols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__mn_$c"),
      max(col(c).cast("double")).as(s"__mx_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val bits = 10 // 2^10 buckets per dimension; n*bits <= 60 bits total
    val n = zCols.size
    zCols.zipWithIndex.map { case (c, i) =>
      val mn = Option(row.getAs[java.lang.Double](s"__mn_$c"))
        .map(_.doubleValue).getOrElse(0.0)
      val mx = Option(row.getAs[java.lang.Double](s"__mx_$c"))
        .map(_.doubleValue).getOrElse(0.0)
      val span = math.max(mx - mn, java.lang.Double.MIN_NORMAL)
      val bucket = least(lit((1 << bits) - 1L), greatest(lit(0L),
        floor((coalesce(col(c).cast("double"), lit(mn)) - mn)
          / span * (1 << bits)).cast("long")))
      (0 until bits).map(j =>
        shiftright(bucket, j).bitwiseAND(lit(1L)) * lit(1L << (j * n + i)))
        .reduce(_ + _)
    }.reduce(_ + _)
  }

  def rewriteDataFiles(spark: SparkSession, root: String, commitTsMs: Long,
                       targetBytes: Long = 128L << 20,
                       smallBytes: Long = -1L,
                       clusterBy: Seq[String] = Nil,
                       zorderBy: Seq[String] = Nil): Int = {
    require(clusterBy.isEmpty || zorderBy.isEmpty,
      "rewriteDataFiles: clusterBy and zorderBy are mutually exclusive " +
        "(a z-order trades total order for multi-dimension locality)")
    val threshold = if (smallBytes > 0) smallBytes else targetBytes
    if (zorderBy.nonEmpty)
      require(pick(spark, root, None, None).spec.isEmpty,
        "rewriteDataFiles: zorderBy on a hidden-partitioned table is " +
          "unsupported — the layout-preserving partitioned compaction " +
          "already clusters by the partition tuple")
    val cur = pick(spark, root, None, None)
    // misuse must refuse even when the table needs no rewrite (a no-op
    // early return would silently bless an invalid zorderBy spec)
    if (zorderBy.nonEmpty) validateZorderBy(cur.schema, zorderBy)
    val fs = fsFor(spark, new Path(root))
    def sizeOf(f: String): Long = cur.sizes.getOrElse(norm(f),
      fs.getFileStatus(new Path(f)).getLen)
    // files carrying merge-on-read deletes are ALWAYS rewritten — this is
    // where positional deletes get folded back into plain data files
    val (small, kept) = cur.files.partition(f =>
      sizeOf(f) < threshold || cur.dels.contains(norm(f)))
    if (small.size < 2 && !small.exists(f => cur.dels.contains(norm(f))))
      return cur.version
    require(cur.commitTsMs < commitTsMs,
      s"commitTsMs $commitTsMs must advance past the last snapshot")

    val schema = cur.schema
    val tblProps = tablePropsOrEmpty(spark, root)
    val numOut = math.max(1L,
      (small.map(sizeOf).sum + targetBytes - 1) / targetBytes).toInt
    // the scan conforms every output file to the current table schema
    // (columns absent from pre-evolution files fill their declared
    // default, renamed columns resolve by field id) and applies the
    // rewritten files' merge-on-read deletes: the output files carry no
    // delete baggage
    val input = scan(spark, root, restrict(cur, small))
    // a hidden-partitioned table's compaction PRESERVES the layout
    // (Iceberg's per-partition compaction): outputs are re-laid by the
    // ACTIVE spec with fresh partition tuples, so pruning keeps working
    // on the compacted files — an unpartitioned rewrite would silently
    // degrade every probe on the table to a full scan
    val (dataDir, data) =
      if (cur.spec.nonEmpty) {
        val (shaped, pNames) = partitionShaped(input, cur.spec, clusterBy)
        stageData(spark, root, shaped, schema, tblProps, pNames)
      } else {
        import org.apache.spark.sql.functions.col
        val shaped =
          if (zorderBy.nonEmpty) {
            // Z-ORDER layout (Iceberg rewrite_data_files sort_order =
            // zorder(...)): range-partition + sort by the bit-interleaved
            // key so every output file's (min, max) is TIGHT on EVERY
            // z dimension — probes on any single dimension prune, the
            // multi-key file-skipping layout a lexicographic sort cannot
            // give (its second key's min/max spans the space in every
            // file). The z column is a transient sort key, dropped before
            // write (projection preserves the sort).
            // transient key name collision-proofed against the schema
            // (withColumn would replace a real column of the same name)
            val zTmp = zTmpName(input.schema.fieldNames)
            input.withColumn(zTmp, zorderColumn(spark, input, zorderBy))
              .repartitionByRange(numOut, col(zTmp))
              .sortWithinPartitions(zTmp)
              .drop(zTmp)
          }
          else if (clusterBy.isEmpty) input.repartition(numOut)
          else {
            val keys = clusterBy.map(col)
            input.repartitionByRange(numOut, keys: _*)
              .sortWithinPartitions(keys: _*)
          }
        stageData(spark, root, shaped, schema, tblProps)
      }
    // optimistic re-apply: a concurrent append carries through (the new
    // head's untouched files are taken by reference); a concurrent
    // writer touching a REPLACED file (new deletes, rewrite) refuses —
    // this compaction folded a state that no longer exists. Deletes on
    // rewritten files are folded; kept files carry theirs (none today —
    // dels force files into the rewrite set — but a future partial
    // rewrite must not drop them silently). The compacted outputs
    // regenerate bloom coverage (an absent bloom is merely weaker
    // pruning, but compaction folding a bloom'd table should not silently
    // shed its point-lookup skipping), and cluster-by outputs record
    // their per-file sort order so the DSv2 scan can report
    // SupportsReportOrdering (co-sorted SPJ joins then skip the Sort as
    // well as the Exchange).
    commitChange(spark, root, Ref.Main, Some(cur), commitTsMs, Change(
      "rewriteDataFiles", "rewrite", Map.empty, Seq(dataDir),
      tblProps, data, sortOn = clusterBy,
      edit = Edit.replacing(small.map(norm).toSet), maintain = false))
  }

  /** Compact the POSITIONAL DELETE FILES of the current snapshot
    * (Iceberg's rewrite_position_delete_files): a long trickle of MoR
    * deletes leaves every reader opening N small delete files per scan —
    * this folds them WITHOUT touching any data file. The rewrite is
    * range-partitioned by (file_path, pos) and sized by total delete
    * bytes: a KB-scale trickle coalesces to ONE sorted file (the point
    * of the procedure), while the accumulated case — exactly when this
    * procedure gets run — fans out across tasks, one sorted delete file
    * per data-file range, and each data file is remapped to ONLY the
    * ranges that hold its rows. No single-task funnel
    * (SnapshotMorStagingSpec asserts the plan). The commit is
    * content-neutral ("rewrite": incremental consumers skip it).
    * Equality delete files are left alone (their semantics are scoped by
    * commit-time file sets; `rewriteDataFiles` folds them fully).
    * Returns the new version, or the current one when fewer than 2
    * positional delete files exist. */
  def rewriteDeleteFiles(spark: SparkSession, root: String,
                         commitTsMs: Long,
                         targetBytes: Long = 32L << 20): Int = {
    import org.apache.spark.sql.functions.{col, regexp_replace}
    val cur = pick(spark, root, None, None)
    val allDel = cur.dels.values.flatten.toSeq.distinct
    val conf = spark.sessionState.newHadoopConf()
    // flavor split via the JVM-wide footer-schema cache — no
    // spark.read.parquet schema job per delete file
    val posFiles = allDel.filter(df =>
      SnapshotDeletes.isPositional(SnapshotDeletes.schemaOf(df, conf)))
    // deletion vectors fold PER DATA FILE: a file carrying 2+ `.dv`
    // sidecars gets them unioned into one (bitmap-or — the blooms-style
    // sidecar fold); bounded by that file's own deleted ordinals
    val dvFold: Map[String, Seq[String]] = cur.dels.collect {
      case (df, ds) if ds.count(SnapshotDeletes.isVector) >= 2 =>
        df -> ds.filter(SnapshotDeletes.isVector)
    }
    val mergePos = posFiles.size >= 2
    if (!mergePos && dvFold.isEmpty) return cur.version
    require(cur.commitTsMs < commitTsMs,
      s"commitTsMs $commitTsMs must advance past the last snapshot")
    val fs = fsFor(spark, new Path(root))
    val delDir = new Path(new Path(root, "deletes"),
      java.util.UUID.randomUUID().toString.take(12))
    val foldedDv: Map[String, String] = if (dvFold.isEmpty) Map.empty else {
      fs.mkdirs(delDir)
      dvFold.map { case (df, dvs) =>
        val bm = new org.roaringbitmap.longlong.Roaring64NavigableMap()
        dvs.foreach(dv =>
          SnapshotDeletes.loadVector(dv, conf).foreach(bm.addLong))
        val dest = new Path(delDir, "dv-" +
          java.util.UUID.randomUUID().toString.take(12) +
          SnapshotDeletes.VectorExt)
        SnapshotDeletes.writeVector(fs, dest, bm)
        df -> dest.toString
      }
    }
    val mergedFor: Map[String, Seq[String]] = if (!mergePos) Map.empty else {
      val totalBytes = posFiles.map(f =>
        fs.getFileStatus(new Path(f)).getLen).sum
      val numOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
      spark.read.parquet(posFiles: _*).distinct()
        .repartitionByRange(numOut, col("file_path"), col("pos"))
        .sortWithinPartitions("file_path", "pos")
        .write.mode("append").parquet(delDir.toString)
      val written = fs.listStatus(delDir)
        .filter(s => s.getPath.getName.startsWith("part-") &&
          s.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName).map(_.getPath.toString).toSeq
      // per-range remap: (data file -> merged parts holding its rows), read
      // back from the written ranges; unreferenced (empty) parts reclaimed
      val pairs = spark.read.parquet(written: _*)
        .select(col("file_path"),
          regexp_replace(col("_metadata.file_path"), "^file:/*", "/").as("del"))
        .distinct().collect()
        .map(r => (r.getString(0), r.getString(1)))
      val byNorm = written.map(d => norm(d) -> d).toMap
      val referenced = pairs.map(p => norm(p._2)).toSet
      written.filterNot(d => referenced.contains(norm(d)))
        .foreach(d => fs.delete(new Path(d), false))
      pairs.groupBy(_._1).view
        .mapValues(_.map(p => byNorm(norm(p._2))).toSeq.distinct.sorted).toMap
    }
    val posSet = posFiles.toSet
    // the rewire, on whatever head the commit lands on: positional files
    // give way to the merged ranges holding each data file's rows, stacked
    // vectors to their fold, equality files stay
    def rewired(dels: Map[String, Seq[String]]) = dels.map { case (df, ds) =>
      val folded = foldedDv.get(df)
      val eq = ds.filterNot(d => posSet.contains(d) ||
        (folded.isDefined && SnapshotDeletes.isVector(d)))
      val hadPos = ds.exists(posSet.contains)
      df -> (eq ++ folded.toSeq ++
        (if (hadPos) mergedFor.getOrElse(df, Seq.empty) else Seq.empty))
    }.filter(_._2.nonEmpty)
    // data files whose delete lists this rewrite rewires — the re-apply
    // validation set (a concurrent delete on one of them would be lost).
    // The replaced delete files stay on disk for time travel; expiry
    // reclaims them once no surviving snapshot references them.
    val targeted = cur.dels.collect {
      case (df, ds) if ds.exists(posSet.contains) => df
    }.toSet ++ dvFold.keySet
    commitChange(spark, root, Ref.Main, Some(cur), commitTsMs, Change(
      "rewriteDeleteFiles", "rewrite", Map("rewrite" -> "position-delete-files"),
      Seq(delDir), edit = Edit(targeted, h => h.copy(dels = rewired(h.dels))),
      maintain = false))
  }

  /** COMMIT-TIME AUTOMATIC MAINTENANCE (the policy layer Iceberg leaves
    * to external schedulers and Delta ships as auto-compaction): a
    * steady MoR trickle or many tiny appends degrade every future scan,
    * and relying on an operator to remember `CALL rewrite_*` is how
    * 100-TB tables rot. Opt-in via TABLE PROPERTIES ([[tableProps]]):
    *
    *  - `write.delete.max-files-per-data-file` = N — after a commit, if
    *    any live data file carries more than N POSITIONAL delete files,
    *    fold them ([[rewriteDeleteFiles]], range-sharded).
    *  - `write.data.max-small-files` = N (with optional
    *    `write.data.small-file-bytes`, default 32 MiB, and
    *    `write.data.target-file-size-bytes`, default 128 MiB) — if more
    *    than N live data files sit under the small threshold, bin-pack
    *    them ([[rewriteDataFiles]]).
    *
    * Best-effort by design: maintenance rides AFTER the caller's commit
    * (which is already durable), and a concurrent-writer conflict or
    * lost race simply skips — the thresholds re-trip on the next commit.
    * Reference behavior: Bodo's Iceberg writer leaves this to the
    * catalog's background services; here the policy IS the service. */
  private[sources] def maybeMaintain(spark: SparkSession, root: String): Unit = CommitTimings.time("maybeMaintain") {
    // EVERYTHING — property parsing included — sits inside the
    // best-effort guard: this runs after the caller's commit is already
    // durable, so a malformed property value or a lost maintenance race
    // must never surface as a failed write. Malformed values warn once
    // per call and disable the policy for this pass.
    try {
      val props = tableProps(spark, root)
      def intProp(k: String): Option[Int] = props.get(k).flatMap { v =>
        val p = v.trim.toIntOption
        if (p.isEmpty) logWarning(s"SnapshotLog maintenance: ignoring malformed $k='$v'")
        p
      }
      def longProp(k: String, dflt: Long): Long = props.get(k).flatMap { v =>
        val p = v.trim.toLongOption
        if (p.isEmpty) logWarning(s"SnapshotLog maintenance: ignoring malformed $k='$v'")
        p
      }.getOrElse(dflt)
      val maxDel = intProp("write.delete.max-files-per-data-file")
      val maxSmall = intProp("write.data.max-small-files")
      val analyzeEvery = intProp("write.analyze.every-commits")
      if (maxDel.isEmpty && maxSmall.isEmpty && analyzeEvery.isEmpty) return
      val conf = spark.sessionState.newHadoopConf()
      maxDel.foreach { n =>
        val head = pick(spark, root, None, None)
        // vectors count toward the per-file delete pressure too: past the
        // threshold the data-file fold (not the parquet merge) absorbs them
        val worst = head.dels.values.map(_.count(df =>
          SnapshotDeletes.isVector(df) ||
            SnapshotDeletes.isPositional(SnapshotDeletes.schemaOf(df, conf))))
          .maxOption.getOrElse(0)
        if (worst > n)
          rewriteDeleteFiles(spark, root, head.commitTsMs + 1)
      }
      maxSmall.foreach { n =>
        val head = pick(spark, root, None, None)
        val smallBytes = longProp("write.data.small-file-bytes", 32L << 20)
        val fs = fsFor(spark, new Path(root))
        val smallCount = head.files.count(f => head.sizes.getOrElse(norm(f),
          fs.getFileStatus(new Path(f)).getLen) < smallBytes)
        if (smallCount > n)
          rewriteDataFiles(spark, root, head.commitTsMs + 1,
            targetBytes = longProp("write.data.target-file-size-bytes", 128L << 20),
            smallBytes = smallBytes)
      }
      // `write.analyze.every-commits` = N — re-ANALYZE when the head has
      // advanced N+ versions past the newest stats sidecar (CBO estimates
      // rot as the data drifts; this keeps histograms/NDV fresh without
      // an external scheduler). One extra fs.list, zero data IO unless
      // the threshold trips.
      analyzeEvery.foreach { n =>
        val head = pick(spark, root, None, None)
        val re = "colstats-v(\\d{5})\\.json".r
        val lastAnalyzed = fsFor(spark, logDir(root))
          .listStatus(logDir(root)).map(_.getPath.getName)
          .collect { case re(v) => v.toInt }.maxOption.getOrElse(0)
        if (head.version - lastAnalyzed >= math.max(1, n))
          analyze(spark, root): Unit
      }
    } catch {
      // never fail the caller's (already-published) commit over
      // housekeeping — contention (CommitConflict / lost race /
      // require(ts) between two pick()s) means someone else is writing;
      // the thresholds re-evaluate on their commit. Log, don't hide.
      case scala.util.control.NonFatal(e) =>
        logWarning(s"SnapshotLog maintenance skipped for $root: ${e.getMessage}")
    }
  }

  /** Copy-on-write partial rewrite — the commit primitive behind DELETE:
    * the `touched` files of `cur` are replaced by `keep` (their surviving
    * rows), the untouched files are carried by reference (metadata only,
    * stats and sizes preserved) — Iceberg's file-granular copy-on-write
    * delete. Zero-row outputs are dropped from the manifest (and disk),
    * so deleting a whole file's rows shrinks the table instead of leaving
    * empty husks. The replaced files' rows were recomputed into `keep`,
    * so a concurrent writer touching them refuses re-apply. Old snapshots
    * still reference the replaced files until `expireSnapshots`. */
  private[sources] def rewriteTouched(spark: SparkSession, root: String,
      cur: Snapshot, touched: Seq[String], keep: DataFrame,
      commitTsMs: Long): Int = {
    require(cur.commitTsMs < commitTsMs,
      s"commitTsMs $commitTsMs must advance past the last snapshot")
    val tblProps = tablePropsOrEmpty(spark, root)
    val (dataDir, data) = stageData(spark, root,
      keep.repartition(math.max(1, touched.size)), cur.schema, tblProps,
      dropEmpty = true)
    commitChange(spark, root, Ref.Main, Some(cur), commitTsMs, Change(
      "rewriteTouched(delete)", "delete", Map.empty, Seq(dataDir),
      tblProps, data,
      edit = Edit.replacing(touched.map(norm).toSet), maintain = false))
  }

  /** The DSv2 row-level writers' commit — SQL UPDATE / MERGE / DELETE as
    * a copy-on-write replace ([[SnapshotReplaceBatchWrite]]) or a
    * merge-on-read delta ([[SnapshotDeltaBatchWrite]]): the files the
    * tasks wrote take the footer-walk half of staging (zero-row ones are
    * dropped), `replaced` files (normalized) leave the head, `dels`
    * attach to their data files. Spark planned the statement against
    * `planned`, so any head that moved since refuses — the statement must
    * re-run. */
  private[sources] def commitRowLevel(spark: SparkSession, root: String,
      planned: Snapshot, operation: String, props: Map[String, String],
      schema: StructType, written: Seq[String], replaced: Set[String],
      dels: Map[String, Seq[String]], cleanup: Seq[Path]): Unit = {
    val fs = fsFor(spark, new Path(root))
    val data = stageFiles(spark,
      written.map(f => f -> fs.getFileStatus(new Path(f)).getLen), schema,
      dropEmpty = true)
    commitChange(spark, root, Ref.Main, Some(planned),
      System.currentTimeMillis(), Change(operation, operation, props, cleanup,
        tablePropsOrEmpty(spark, root), data, dels,
        edit = Edit.replacing(replaced),
        reapply = (_, head) => throw movedSincePlanned(operation, planned,
          head.version),
        maintain = false)): Unit
  }

  /** The refusal of a DSv2 row-level statement whose table moved to
    * `headVersion` after Spark planned it against `planned`. */
  private[sources] def movedSincePlanned(operation: String, planned: Snapshot,
      headVersion: Int): IllegalStateException =
    new IllegalStateException(s"SnapshotLog: concurrent commit (table at " +
      s"v$headVersion, $operation planned against v${planned.version}) — " +
      "retry the statement")

  /** Expire snapshots older than `keepFromVersion`: delete their
    * manifests, then delete every data file referenced ONLY by expired
    * snapshots (Iceberg's expire_snapshots + orphan cleanup in one step —
    * append commits share files across versions, so liveness is computed
    * against the union of surviving manifests, never per-snapshot).
    * With `orphanScan`, additionally remove data/ subdirectories that no
    * surviving manifest references at all — the residue of commits that
    * crashed between data write and manifest publish. Like Iceberg's
    * remove_orphan_files, the scan must not run concurrently with active
    * writers (an in-flight commit's unpublished directory is
    * indistinguishable from an orphan). Time travel to an expired version
    * then fails by construction; the kept versions are untouched. Returns
    * (manifests, dataFiles) deleted. Driver-side metadata work only —
    * file counts, not data volume. */
  def expireSnapshots(spark: SparkSession, root: String,
                      keepFromVersion: Int,
                      orphanScan: Boolean = false,
                      orphanGraceMs: Long = 24L * 3600 * 1000): (Int, Int) = {
    val snaps = snapshots(spark, root)
    // tagged versions are RETAINED regardless of age (Iceberg ref
    // retention): a tag is a promise that the snapshot stays readable
    val tagged = refs(spark, root).values.toSet
    val (dead, live) = snaps.partition(s =>
      s.version < keepFromVersion && !tagged.contains(s.version))
    require(live.nonEmpty, s"SnapshotLog: expiring every snapshot at $root")
    val fs = fsFor(spark, new Path(root))
    // liveness = data files AND delete files of surviving snapshots
    val liveFiles = (live.flatMap(_.files) ++
      live.flatMap(_.dels.values.flatten)).map(norm).toSet
    var filesDeleted = 0
    if (dead.nonEmpty) {
      val rootPrefix = norm(root).stripSuffix("/") + "/"
      val orphaned = (dead.flatMap(_.files) ++
        dead.flatMap(_.dels.values.flatten)).map(norm).distinct
        .filterNot(liveFiles.contains)
        // NEVER reclaim files outside the table root: an IMPORTED table
        // (importParquetDir — Iceberg's `snapshot` procedure analog)
        // references the source directory's files in place, and the
        // source data is the user's, not this table's to garbage-collect
        // (Iceberg's snapshot tables set gc.enabled=false the same way)
        .filter(_.startsWith(rootPrefix))
      orphaned.foreach(f => fs.delete(new Path(f), false))
      dead.foreach(s => fs.delete(manifestPath(root, s.version), false))
      filesDeleted += orphaned.size
      // manifest shards referenced only by expired versions die with them
      val liveShards = live.flatMap(_.shardPaths).map(norm).toSet
      dead.flatMap(_.shardPaths).map(norm).distinct
        .filterNot(liveShards.contains)
        .foreach(p => fs.delete(new Path(p), false))
      // ANALYZE sidecars for expired versions: keep the NEWEST one at or
      // below the oldest retained version (it remains the best estimate
      // for the survivors), reap the rest
      val statsRe = "colstats-v(\\d{5})\\.json".r
      val statVs = fs.listStatus(logDir(root)).map(_.getPath.getName)
        .collect { case nm @ statsRe(v) => (v.toInt, nm) }.sorted
      val oldestLive = live.map(_.version).min
      val keepStats = statVs.filter(_._1 <= oldestLive).lastOption.map(_._1)
      statVs.filter { case (v, _) =>
        v < oldestLive && !keepStats.contains(v)
      }.foreach { case (_, nm) => fs.delete(new Path(logDir(root), nm), false) }
      invalidateColStats(root)
      // per-file sidecars all of whose files PROVABLY died with the
      // expired versions (files of an in-flight commit are unknown, not
      // dead — their sidecars stay)
      val deadFiles = (dead.flatMap(_.files) ++
        dead.flatMap(_.dels.values.flatten)).map(norm).toSet
      SnapshotSidecars.expire(spark, root, liveFiles, deadFiles): Unit
    }
    if (orphanScan) {
      val cutoff = System.currentTimeMillis() - orphanGraceMs
      for (sub <- Seq("data", "deletes");
           dataRoot = new Path(root, sub) if fs.exists(dataRoot)) {
        for (d <- fs.listStatus(dataRoot) if d.isDirectory) {
          val contents = fs.listStatus(d.getPath)
            .filter(c => c.getPath.getName.endsWith(".parquet") ||
              c.getPath.getName.endsWith(SnapshotDeletes.VectorExt))
          // Grace period (Iceberg remove_orphan_files `older_than`): a
          // concurrent commit writes data BEFORE publishing its manifest,
          // so a young unreferenced directory may be an in-flight commit,
          // not an orphan — deleting it would corrupt the table when the
          // manifest lands. Only reap directories whose newest mtime
          // (dir or any file) predates the grace window.
          val newestMs = (d.getModificationTime +: contents.map(_.getModificationTime)).max
          if (newestMs < cutoff &&
              !contents.exists(c => liveFiles.contains(norm(c.getPath.toString)))) {
            filesDeleted += contents.length
            fs.delete(d.getPath, true)
          }
        }
      }
    }
    (dead.size, filesDeleted)
  }

  /** Files ADDED by each version in `(fromVersion, toVersion]` — the
    * incremental-consumption primitive behind version-range batch reads and
    * the streaming source (Iceberg's incremental append scan). "rewrite"
    * snapshots are skipped: compaction re-files existing rows without
    * changing table content, so an incremental consumer must NOT see them
    * again (Iceberg skips replace snapshots the same way). Snapshots that
    * CHANGE content non-additively (overwrite / delete / merge) have no
    * append-delta semantics — they throw unless `skipNonAppends`, which
    * mirrors Iceberg's streaming `skip-overwrite-snapshots` escape hatch.
    * Returns (version, filesAdded) pairs, oldest first — driver-side
    * manifest metadata only, never a data scan. */
  def addedFiles(spark: SparkSession, root: String,
                 fromVersion: Int, toVersion: Int,
                 skipNonAppends: Boolean = false): Seq[(Int, Seq[String])] = {
    val snaps = snapshots(spark, root)
    val byV = snaps.map(s => s.version -> s).toMap
    if (fromVersion >= toVersion) return Seq.empty
    // Walk the PARENT CHAIN from toVersion down to fromVersion (not a
    // version-range filter: branch commits share the log's numbering but
    // are not the consumer's history line). Expiry guard: computing a
    // snapshot's append-delta needs its PARENT manifest — if the chain
    // breaks above fromVersion the oldest reachable snapshot would replay
    // its ENTIRE cumulative file list, silently duplicating data the
    // consumer already saw (Iceberg errors the same way on an expired
    // streaming start). fromVersion == 0 is a from-scratch consumer: the
    // chain root's cumulative list IS its correct initial load.
    def expired(): Nothing = throw new IllegalStateException(
      s"SnapshotLog: incremental read from expired or off-line snapshot " +
        s"v$fromVersion at $root (oldest retained: " +
        s"v${snaps.headOption.map(_.version).getOrElse(-1)}); the " +
        "append-delta cannot be computed and replaying the oldest " +
        "reachable snapshot would duplicate already-consumed data. " +
        "Restart the consumer from scratch (fromVersion=0) or retain " +
        "snapshots at least as long as the slowest consumer's offset.")
    var chain = List.empty[Snapshot]
    var cur: Option[Snapshot] = Some(byV.getOrElse(toVersion,
      throw new NoSuchElementException(
        s"SnapshotLog: no version $toVersion at $root")))
    var done = false
    while (!done) {
      cur match {
        case Some(s) if s.version > fromVersion =>
          chain = s :: chain
          val p = s.parentVersion
          if (p <= 0) { // chain root
            if (fromVersion > 0) expired()
            done = true; cur = None
          } else byV.get(p) match {
            case some @ Some(ps) =>
              if (ps.version < fromVersion) expired() // not an ancestor
              cur = some
            case None => // parent expired
              if (fromVersion > 0) expired()
              done = true; cur = None
          }
        case _ => done = true // reached fromVersion (exclusive) exactly
      }
    }
    chain.map { s =>
      val prior: Option[Set[String]] =
        byV.get(s.parentVersion).map(_.files.map(norm).toSet)
      (s.operation, prior) match {
        // the chain ROOT is the table's initial content (or the oldest
        // retained cumulative state for a from-scratch consumer): wholly
        // additive whatever its recorded operation
        case (_, None) => s.version -> s.files
        case ("append" | "create", Some(pf)) =>
          s.version -> s.files.filterNot(f => pf.contains(norm(f)))
        case ("rewrite" | "alter", _) => s.version -> Seq.empty[String]
        case _ if skipNonAppends => s.version -> Seq.empty[String]
        case (op, _) => throw new UnsupportedOperationException(
          s"SnapshotLog: incremental read crossed a non-append snapshot " +
            s"v${s.version} ($op) at $root; pass skipNonAppends=true to " +
            "skip content-changing snapshots (Iceberg's skip-overwrite rule)")
      }
    }
  }

  /** Incremental batch read: the rows APPENDED in `(fromVersion,
    * toVersion]` (toVersion defaults to the current head). The change-feed
    * primitive: a downstream consumer that remembers its last version reads
    * exactly the new data, never re-scans the table. A scan of the
    * toVersion snapshot restricted to the appended files — the same
    * definition as the `fromVersion` read option — so its schema, deletes
    * and renames are the toVersion snapshot's. */
  def readIncremental(spark: SparkSession, root: String, fromVersion: Int,
                      toVersion: Option[Int] = None,
                      skipNonAppends: Boolean = false): DataFrame =
    scan(spark, root, appendedSince(spark, root,
      pick(spark, root, toVersion, None), fromVersion, skipNonAppends))

  /** `snap` restricted to the files appended in `(fromVersion,
    * snap.version]` ([[addedFiles]]). */
  private[sources] def appendedSince(spark: SparkSession, root: String,
      snap: Snapshot, fromVersion: Int, skipNonAppends: Boolean): Snapshot =
    restrict(snap, addedFiles(spark, root, fromVersion, snap.version,
      skipNonAppends).flatMap(_._2))

  /** DESCRIBE HISTORY analog: the snapshot log itself as a DataFrame
    * (version, operation, commit_ts_ms, n_files) — metadata only. */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    snapshots(spark, root)
      .map(s => (s.version, s.operation, s.commitTsMs, s.files.size.toLong))
      .toDF("version", "operation", "commit_ts_ms", "n_files")
  }

  /** MERGE INTO a snapshot table (Iceberg's copy-on-write MERGE): run the
    * MergeInto row semantics against the CURRENT snapshot and commit the
    * result as the next overwrite snapshot. The read is manifest-pinned,
    * so a concurrent commit between read and publish surfaces as the
    * commit conflict rather than silently merging into stale data. */
  def mergeCommit(root: String, source: DataFrame, key: String,
                  cols: Seq[String],
                  whenMatched: String => org.apache.spark.sql.Column,
                  whenNotMatched: String => org.apache.spark.sql.Column,
                  deleteNotMatchedBySource: Boolean,
                  commitTsMs: Long): Int = {
    val spark = source.sparkSession
    val merged = graft.operators.MergeInto.merge(
      read(spark, root), source, key, cols,
      whenMatched, whenNotMatched, deleteNotMatchedBySource)
    commit(merged, root, overwrite = true, commitTsMs)
  }

  /** EXTERNAL_TABLE_FILES analog (reference
    * TableFunctionOperatorTable.java:158): the file inventory of a snapshot
    * as a DataFrame — metadata only (manifest-recorded sizes; at most one
    * FS stat per file for pre-sizes manifests), no data scan. Columns:
    * file_path, size_bytes, version. */
  def tableFiles(spark: SparkSession, root: String,
                 asOfVersion: Option[Int] = None): DataFrame = {
    val snap = pick(spark, root, asOfVersion, None)
    val fs = fsFor(spark, new Path(root))
    val rows = snap.files.map { f =>
      val len = snap.sizes.getOrElse(norm(f),
        fs.getFileStatus(new Path(f)).getLen)
      (f, len, snap.version)
    }
    import spark.implicits._
    rows.toDF("file_path", "size_bytes", "version")
  }
}
