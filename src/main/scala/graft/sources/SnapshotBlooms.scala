package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.sources.{And, EqualNullSafe, EqualTo, Filter, In, Or}
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** PER-FILE BLOOM FILTERS for point-lookup file skipping — the Iceberg
  * Puffin-blob / reference-engine answer (reference bloom machinery:
  * bodo/libs/streaming/_join.h:16 SIMD block bloom; Puffin writer
  * bodo/libs/_puffin.cpp) re-expressed over the snapshot log.
  *
  * THE GAP THIS CLOSES: manifest min/max stats prune range probes, but a
  * needle query (`WHERE request_id = 'uuid…'`) on a high-cardinality
  * UNSORTED column prunes NOTHING — every file's min/max spans the key
  * space, so a 100-TB table scans every file for one row. A small per-file
  * bloom answers "provably absent" for equality/IN probes and lets the
  * planner skip the file outright.
  *
  * Design:
  *  - Opt-in via table property `write.bloom.columns` = comma-separated
  *    column names (int/long/string — the needle-lookup types).
  *  - Built at COMMIT time from the freshly staged files: one distributed,
  *    column-pruned pass over ONLY the new files (`groupBy(_metadata
  *    .file_path)` + Spark's own BloomFilterAggregate over `xxhash64(col)`
  *    — the exact hash/sketch pair the runtime-filter machinery uses, so
  *    build and probe are consistent by construction). Cost is O(new
  *    data's bloom columns), never a re-read of the table.
  *  - Bits are sized from the commit's per-file row counts (~10 bits/key
  *    ≈ 1% fpp), capped by `write.bloom.max-bytes` (default 1 MiB/file/col)
  *    — an over-full bloom degrades to higher fpp, never to wrong answers.
  *  - Stored as one immutable JSON sidecar per commit under `blooms/`
  *    (base64 payloads). The manifest format is untouched: sidecars key by
  *    data-file path, data files are uuid-named and immutable, so a
  *    (file, column) bloom is valid for EVERY snapshot containing the file
  *    — time travel included. Readers that find no sidecar entry keep the
  *    file (conservative).
  *  - Consulted in [[SnapshotLogScanBuilder.prune]] AFTER min/max pruning,
  *    only for EqualTo / EqualNullSafe / In probes on bloom columns.
  *    Sidecars are immutable, so each parses once per JVM
  *    ([[SidecarStore]] caches parses per root).
  *  - The same columns also get PARQUET-NATIVE bloom filters written into
  *    the data files (`parquet.bloom.filter.enabled#col`): at the 10⁶-file
  *    decade, where driver-side bloom metadata would not fit one JVM, the
  *    pushed predicate still row-group-skips per task via parquet-mr's
  *    own bloom path — the two tiers compose.
  *
  * False positives keep the file (the residual filter still applies —
  * pruning is pure skipping, never semantics); false negatives are
  * impossible for committed-through-this-path files.
  */
private[graft] object SnapshotBlooms {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  val ColsProp = "write.bloom.columns"
  val MaxBytesProp = "write.bloom.max-bytes"
  val DefaultMaxBytes: Long = 1L << 20 // 1 MiB per file per column
  /** Files per build batch (one aggregate pass + one sidecar each) — caps
    * the driver-resident bloom bytes of a bulk import/backfill at
    * batch × cols × max-bytes (default 1024 × cols × 1 MiB) instead of
    * O(all new files). Sidecars are a union on read, so a multi-sidecar
    * commit is indistinguishable from a single-sidecar one. */
  val BuildBatchProp = "write.bloom.build-batch-files"
  val DefaultBuildBatch: Int = 1024

  /** Batch count for an N-file commit at batch size B — the arithmetic
    * [[writeSidecar]] executes (exposed for the equivalence spec). */
  def batchCountFor(nFiles: Int, batch: Int): Int =
    if (nFiles <= 0) 0 else (nFiles + batch - 1) / batch

  /** Bloom-eligible columns of this commit: the property's names that
    * exist in the written schema with a supported type. */
  def bloomColumns(props: Map[String, String],
                   schema: StructType): Seq[StructField] =
    props.get(ColsProp).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
      .distinct
      .flatMap(n => schema.fields.find(_.name == n))
      .filter(f => f.dataType match {
        case IntegerType | LongType | ShortType | ByteType | StringType => true
        case _ => false
      })

  /** Writer options enabling PARQUET-NATIVE blooms for the same columns
    * (the task-level tier: parquet-mr row-group-skips on pushed equality
    * predicates even when the driver-side sidecar is not consulted). */
  def parquetWriterOptions(props: Map[String, String],
                           schema: StructType): Map[String, String] =
    bloomColumns(props, schema).map(f =>
      s"parquet.bloom.filter.enabled#${f.name}" -> "true").toMap

  /** Compute per-file blooms for `newFiles` and publish one immutable
    * sidecar per batch. Call ONCE per commit, outside the retry loop
    * (uuid-named data files never collide; a lost commit race leaves an
    * orphan sidecar that expiry reclaims). NonFatal-guarded: bloom
    * metadata is an accelerator, a failure must never fail the commit. */
  def writeSidecar(spark: SparkSession, root: String, newFiles: Seq[String],
                   schema: StructType, rowsByFile: Map[String, Long],
                   props: Map[String, String]): Unit = CommitTimings.time("bloomSidecar") {
    val cols = bloomColumns(props, schema)
    if (cols.isEmpty || newFiles.isEmpty) return
    try {
      val maxBytes = props.get(MaxBytesProp).flatMap(v =>
        scala.util.Try(v.toLong).toOption).getOrElse(DefaultMaxBytes)
      // Spark's BloomFilterAggregate over xxhash64(col): per-file grouping
      // via the _metadata file path — one column-pruned scan of ONLY the
      // new files
      SnapshotSidecars.inBloomBatches(spark, "bloom", newFiles,
        SnapshotSidecars.batchSize(props, BuildBatchProp, DefaultBuildBatch)) {
        (fnName, batch) =>
          // size from the LARGEST file in the batch (one aggregate literal
          // serves the batch; uniform staged writes keep files near-equal)
          val maxRows = math.max(1L,
            batch.map(f => rowsByFile.getOrElse(SnapshotLog.norm(f), 0L)).max)
          val numBits = math.min(math.max(64L, maxRows * 10L), maxBytes * 8L)
          import org.apache.spark.sql.functions.{col, expr, regexp_replace}
          val src = spark.read.schema(schema).parquet(batch: _*)
            .select((regexp_replace(col("_metadata.file_path"), "^file:/*", "/")
              .as("__f")) +: cols.map(f => col(f.name)): _*)
          val aggs = cols.map(f => expr(
            s"$fnName(xxhash64(`${f.name}`), ${maxRows}L, ${numBits}L)")
            .as(s"__b_${f.name}"))
          val rows = src.groupBy(col("__f")).agg(aggs.head, aggs.tail: _*)
            .collect()
          val node = SnapshotSidecars.om.createObjectNode()
          val colsArr = node.putArray("cols")
          cols.foreach(f => colsArr.add(f.name))
          node.put("numBits", numBits)
          val filesNode = node.putObject("files")
          rows.foreach { r =>
            cols.foreach(f => SnapshotSidecars.putBloom(filesNode,
              r.getString(0), f.name, r.getAs[Array[Byte]](s"__b_${f.name}")))
          }
          store.publish(spark, root, node)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        log.warn(s"snapshotlog: bloom sidecar write failed at $root " +
          s"(pruning degrades, commits unaffected): $e")
    }
  }

  // ---- read side ----

  private[graft] val store = new SidecarStore[Map[String, BloomFilter]](
    "blooms", "b-", "bloom", SnapshotSidecars.readBlooms, _ ++ _)

  /** All bloom entries at `root`, merged across sidecars:
    * column -> (normFile -> bloom). Empty when the feature is unused
    * (one FS existence probe — the only cost a bloom-free table pays). */
  def bloomsAt(root: String): Map[String, Map[String, BloomFilter]] =
    store.at(root)

  /** The probe hash for value `v` of column type `dt`: XxHash64 over the
    * Catalyst literal — bit-identical to the build side's `xxhash64(col)`
    * per row. None = untyped/unconvertible value (caller keeps the file). */
  def probeHash(v: Any, dt: DataType): Option[Long] =
    try {
      val lit = Literal.create(v, dt)
      Some(new XxHash64(Seq(lit)).eval(null).asInstanceOf[Long])
    } catch { case scala.util.control.NonFatal(_) => None }

  /** May a file contain a row matching `f`, per its blooms? `bloomOf`
    * resolves a CURRENT-schema column name to the file's bloom (the
    * caller rekeys through field ids so renames stay correct). Mirrors
    * [[SnapshotStatsFilter.mayMatch]]'s tri-state collapse: any missing
    * bloom, unsupported shape, or unconvertible literal is `true`. */
  def mayMatch(bloomOf: String => Option[BloomFilter],
               schema: StructType, f: Filter): Boolean = {
    def probe(attr: String, v: Any): Boolean =
      if (v == null) true
      else (bloomOf(attr), schema.fields.find(_.name == attr)) match {
        case (Some(bf), Some(field)) =>
          probeHash(v, field.dataType).forall(bf.mightContainLong)
        case _ => true
      }
    f match {
      case And(l, r) => mayMatch(bloomOf, schema, l) &&
        mayMatch(bloomOf, schema, r)
      case Or(l, r) => mayMatch(bloomOf, schema, l) ||
        mayMatch(bloomOf, schema, r)
      case EqualTo(a, v) => probe(a, v)
      case EqualNullSafe(a, v) if v != null => probe(a, v)
      case In(a, vs) =>
        if (vs == null || vs.isEmpty) true
        else vs.exists(v => v == null || probe(a, v))
      case _ => true
    }
  }
}
