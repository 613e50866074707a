package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.sketch.BloomFilter

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** ONE STORE FOR EVERY KIND OF PER-FILE SIDECAR — value blooms
  * ([[SnapshotBlooms]], `blooms/b-*.json`), n-gram blooms
  * ([[SnapshotNgramBlooms]], `ngrams/n-*.json`), null counts
  * ([[SnapshotNulls]], `nulls/n-*.json`) and sort orders
  * ([[SnapshotSorts]], `sorts/s-*.json`). Iceberg keeps every per-file
  * statistic blob in one container format (Puffin); here the four kinds
  * share one publish path, one bounded cache and one expiry rule, and each
  * supplies only its own JSON format.
  *
  * A sidecar is an immutable uuid-named JSON file whose `files` node names
  * the normalized data files it describes (an object keyed by file, or an
  * array of files). Data files are uuid-named and never rewritten in
  * place, so a (file → fact) entry is valid for every snapshot containing
  * the file — time travel included — and outlives manifest expiry. A
  * reader that finds no entry for a file stays conservative.
  *
  * Every step is NonFatal-guarded: a sidecar is an accelerator and must
  * never fail a commit or a read. */
private[graft] final class SidecarStore[W](dirName: String, prefix: String,
    what: String, parse: JsonNode => Map[String, W],
    combine: (W, W) => W = (_: W, later: W) => later) {
  import SnapshotSidecars.{log, om}

  /** One root's cached view: the sidecar listing (sorted by name), each
    * listed sidecar's parse, and their merge in listing order. */
  private final class Entry(val names: Vector[String],
                            val parsed: Map[String, Map[String, W]],
                            val merged: Map[String, W])

  /** Keyed by root and bounded at [[SnapshotSidecars.MaxRoots]] roots: a
    * table deleted and re-created at the same root replaces its entry,
    * and an entry holds only the sidecars its root lists now. */
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  private def dir(root: String) = new Path(root, dirName)

  private def listing(fs: FileSystem, d: Path): Vector[FileStatus] =
    fs.listStatus(d).iterator
      .filter { s =>
        val n = s.getPath.getName
        n.startsWith(prefix) && n.endsWith(".json")
      }
      .toVector.sortBy(_.getPath.getName)

  private def read(fs: FileSystem, s: FileStatus): JsonNode = {
    val in = fs.open(s.getPath)
    try {
      val buf = new Array[Byte](s.getLen.toInt)
      in.readFully(0, buf)
      om.readTree(buf)
    } finally in.close()
  }

  /** Publish one immutable sidecar under `root`. */
  def publish(spark: SparkSession, root: String, node: JsonNode): Unit =
    try {
      val d = dir(root)
      val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
      fs.mkdirs(d)
      val out = fs.create(new Path(d,
        prefix + java.util.UUID.randomUUID().toString.take(12) + ".json"), false)
      try out.write(om.writeValueAsBytes(node)) finally out.close()
    } catch {
      case NonFatal(e) =>
        log.warn(s"snapshotlog: $what sidecar write failed at $root " +
          s"(commit unaffected): $e")
    }

  /** Every entry at `root`, merged across its sidecars in name order
    * (`combine` resolves a key two sidecars share); empty when the kind
    * is unused. Costs one `exists` and one `listStatus`; a changed
    * listing parses only the sidecars not parsed before. */
  def at(root: String): Map[String, W] = {
    if (root.isEmpty) return Map.empty
    try {
      val d = dir(root)
      val conf = try SparkSession.active.sessionState.newHadoopConf()
                 catch { case NonFatal(_) => new org.apache.hadoop.conf.Configuration() }
      val fs = d.getFileSystem(conf)
      val statuses = if (fs.exists(d)) listing(fs, d) else Vector.empty
      if (statuses.isEmpty) { cache.remove(root); return Map.empty }
      val names = statuses.map(_.getPath.getName)
      val hit = cache.get(root)
      if (hit != null && hit.names == names) return hit.merged
      val before = if (hit == null) Map.empty[String, Map[String, W]] else hit.parsed
      val parsed = statuses.map { s =>
        val n = s.getPath.getName
        n -> before.getOrElse(n,
          try parse(read(fs, s))
          catch {
            case NonFatal(e) =>
              log.warn(s"snapshotlog: unreadable $what sidecar ${s.getPath} (ignored): $e")
              Map.empty[String, W]
          })
      }.toMap
      val merged = names.foldLeft(Map.empty[String, W]) { (acc, n) =>
        parsed(n).foldLeft(acc) { case (a, (k, w)) =>
          a.updated(k, a.get(k).fold(w)(combine(_, w)))
        }
      }
      if (hit == null && cache.size >= SnapshotSidecars.MaxRoots) cache.clear()
      cache.put(root, new Entry(names, parsed, merged))
      merged
    } catch {
      case NonFatal(e) =>
        log.warn(s"snapshotlog: $what lookup failed at $root (ignored): $e")
        Map.empty
    }
  }

  /** Reclaim the sidecars whose files are ALL provably dead: each is in
    * `knownDead` (files of the snapshots being expired) and none is in
    * `liveFiles`. An unknown file keeps its sidecar — it may belong to an
    * IN-FLIGHT commit whose sidecar publishes before its manifest — and
    * so does a sidecar that cannot be read. The file list comes from the
    * raw `files` node, so a sidecar that reads ignore (an n-gram gram
    * outside 3–8) is still reclaimed. Returns the number deleted. */
  def expire(spark: SparkSession, root: String, liveFiles: Set[String],
             knownDead: Set[String]): Int =
    try {
      val d = dir(root)
      val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(d)) 0
      else listing(fs, d).count { s =>
        val files = try {
          val node = read(fs, s).get("files")
          if (node.isArray) node.elements().asScala.map(_.asText()).toSeq
          else node.fieldNames().asScala.toSeq
        } catch { case NonFatal(_) => Seq.empty[String] }
        files.nonEmpty && !files.exists(liveFiles.contains) &&
          files.forall(knownDead.contains) && fs.delete(s.getPath, false)
      }
    } catch { case NonFatal(_) => 0 }
}

private[graft] object SnapshotSidecars {
  private[sources] lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private[sources] val om = new ObjectMapper()

  /** Roots one store caches before it starts over. */
  val MaxRoots = 1024

  /** Expiry over every sidecar kind at `root` (see [[SidecarStore.expire]]). */
  def expire(spark: SparkSession, root: String, liveFiles: Set[String],
             knownDead: Set[String]): Int =
    Seq(SnapshotBlooms.store, SnapshotNgramBlooms.store, SnapshotSorts.store,
      SnapshotNulls.store).map(_.expire(spark, root, liveFiles, knownDead)).sum

  // ---- bloom builds: value blooms and n-gram blooms ----

  /** The integer table property `prop`, else `default`, at least 1. */
  def batchSize(props: Map[String, String], prop: String, default: Int): Int =
    math.max(1, props.get(prop).flatMap(v =>
      scala.util.Try(v.toInt).toOption).getOrElse(default))

  /** Run `body(fnName, batch)` for each batch of `files`, with Spark's
    * `BloomFilterAggregate` registered as `fnName(hash, items, bits)` — a
    * uuid name (collision-proof, dropped after the last batch; the same
    * discipline as ANALYZE's interval-NDV pass). BOUNDED BATCHES cap the
    * driver-resident bloom bytes of a bulk import or backfill; each batch
    * publishes its own sidecar, and reads union sidecars, so batching is
    * invisible there. */
  def inBloomBatches(spark: SparkSession, tag: String, files: Seq[String],
                     batch: Int)(body: (String, Seq[String]) => Unit): Unit = {
    val fnName = s"__graft_${tag}_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(16)
    val fnId = FunctionIdentifier(fnName)
    val registry = spark.sessionState.functionRegistry
    registry.registerFunction(fnId,
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, fnName),
      (args: Seq[Expression]) => new BloomFilterAggregate(args.head, args(1), args(2)))
    try files.grouped(batch).foreach(body(fnName, _))
    finally registry.dropFunction(fnId)
  }

  /** Record `file`'s bloom for `col` (base64) under a sidecar's `files`
    * object; the file's entry is created even when `bytes` is null. */
  def putBloom(files: ObjectNode, file: String, col: String,
               bytes: Array[Byte]): Unit = {
    val key = SnapshotLog.norm(file)
    val fNode = files.get(key) match {
      case o: ObjectNode => o
      case _ => files.putObject(key)
    }
    if (bytes != null)
      fNode.put(col, java.util.Base64.getEncoder.encodeToString(bytes)): Unit
  }

  /** A bloom sidecar's entries: column -> (normFile -> bloom). Every
    * column the sidecar lists is present, with no files if none carry it. */
  def readBlooms(node: JsonNode): Map[String, Map[String, BloomFilter]] = {
    val acc = scala.collection.mutable.LinkedHashMap[String, Map[String, BloomFilter]]()
    node.get("cols").elements().asScala.foreach(c => acc(c.asText()) = Map.empty)
    node.get("files").fields().asScala.foreach { fe =>
      fe.getValue.fields().asScala.foreach { ce =>
        val bf = BloomFilter.readFrom(new java.io.ByteArrayInputStream(
          java.util.Base64.getDecoder.decode(ce.getValue.asText())))
        acc(ce.getKey) = acc.getOrElse(ce.getKey, Map.empty) + (fe.getKey -> bf)
      }
    }
    acc.toMap
  }

  /** Build the value-bloom and n-gram sidecars for `bloomFiles` and
    * `ngramFiles`, CONCURRENTLY when both fire: the two are independent
    * column-pruned Spark jobs reading
    * DIFFERENT columns; serialized, each job's tail leaves the executors
    * idle while the other waits. A table with one feature runs it inline
    * and one with neither returns at once — no thread is spawned unless
    * both fire. Sidecar bytes are the same in every case. */
  def buildBlooms(spark: SparkSession, root: String, bloomFiles: Seq[String],
                  ngramFiles: Seq[String], schema: StructType,
                  rowsByFile: Map[String, Long],
                  props: Map[String, String]): Unit = {
    val doBloom = bloomFiles.nonEmpty &&
      SnapshotBlooms.bloomColumns(props, schema).nonEmpty
    val doNgram = ngramFiles.nonEmpty &&
      SnapshotNgramBlooms.ngramColumns(props, schema).nonEmpty
    def blooms(): Unit =
      SnapshotBlooms.writeSidecar(spark, root, bloomFiles, schema, rowsByFile, props)
    def ngrams(): Unit =
      SnapshotNgramBlooms.writeSidecar(spark, root, ngramFiles, schema, props)
    if (doBloom && doNgram) {
      val bloomT = new Thread(() => blooms(), "graft-bloom-sidecar")
      bloomT.setDaemon(true)
      bloomT.start()
      try ngrams() finally bloomT.join()
    } else if (doBloom) blooms()
    else if (doNgram) ngrams()
  }
}
