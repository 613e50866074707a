package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.sources.{And, EqualTo, Filter, Or, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** PER-FILE CHARACTER-N-GRAM BLOOM FILTERS for substring-search file
  * skipping — the ClickHouse `ngrambf_v1` skipping-index idea (public
  * design; also PostgreSQL pg_trgm's trigram decomposition) re-expressed
  * as snapshot-log sidecars, completing the text-corpus story the
  * reference serves with its string kernels at scale
  * (ref: bodo/libs/_bodo_common.h string arrays; BodoSQL LIKE kernels).
  *
  * THE GAP THIS CLOSES: [[SnapshotBlooms]] prunes EQUALITY needles, but
  * the query a 100-TB document corpus serves constantly is
  * `WHERE contains(text, 'needle')` — min/max stats and value blooms
  * prune nothing there (every file's text spans the alphabet, and the
  * needle is a substring, not a cell value). A per-file bloom over the
  * text's character TRIGRAMS answers "provably not a substring of any
  * row": if any trigram of the needle is absent from the file's trigram
  * set, no cell in the file can contain the needle — skip the file.
  *
  * Soundness: `s contains needle` ⇒ every trigram of `needle` is a
  * trigram of `s`. Bloom false POSITIVES keep the file (the residual
  * filter still applies — Spark re-evaluates the exact predicate); false
  * negatives are impossible. Needles shorter than the gram size carry no
  * evidence (kept). Matching is exact-case and code-point-based on BOTH
  * sides: the build hashes `substring(col, i, 3)` (Catalyst counts code
  * points), the probe hashes `UTF8String.substringSQL` windows of the
  * literal — bit-identical by construction.
  *
  * Servable pushed shapes: `contains` / `startsWith` / `endsWith` (their
  * needle is a substring of every match) and string EQUALITY (a value is
  * a substring of itself) — LIKE '%x%' / '%x' / 'x%' all reach the scan
  * as these.
  *
  * Design (mirrors [[SnapshotBlooms]]): opt-in via
  * `write.ngrambloom.columns`; built at COMMIT time from only the new
  * files in bounded batches (explode the trigram windows, one
  * map-side-combined BloomFilterAggregate per column grouped by
  * `_metadata.file_path`); FIXED-SIZE blooms (`write.ngrambloom.bits`,
  * default 2^21 bits = 256 KiB/file/col — trigram cardinality saturates
  * with natural text, and an over-full bloom degrades to keeping files,
  * never to wrong answers); immutable uuid-named JSON sidecars under
  * `ngrams/`, valid for every snapshot containing the file (time travel
  * included); consulted in [[SnapshotLogScanBuilder.prune]]; expired with
  * the files they describe. The effective skip probability compounds:
  * keeping a file wrongly needs ALL m trigrams of the needle to false-
  * positive at once (~fpp^m), so even a saturated bloom skips well. */
private[graft] object SnapshotNgramBlooms {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  val ColsProp = "write.ngrambloom.columns"
  val BitsProp = "write.ngrambloom.bits"
  val DefaultBits: Long = 1L << 21 // 256 KiB per file per column
  /** Files per build batch — same bounded-driver-residency discipline as
    * [[SnapshotBlooms.BuildBatchProp]], smaller default because trigram
    * explosion makes each file's pass heavier. */
  val BuildBatchProp = "write.ngrambloom.build-batch-files"
  val DefaultBuildBatch: Int = 256
  /** Gram size (`write.ngrambloom.gram`, default 3, clamped to [3, 8]).
    * Each sidecar RECORDS the gram it was built with and the probe honors
    * it per sidecar, so re-tuning the knob never mis-probes history: a
    * needle shorter than a sidecar's gram simply carries no evidence for
    * its files (kept, conservative). Guidance from the r19 knob study
    * (SCALE_STUDY_NGRAM2_r19.json / BASELINE.md): gram 3 is the safe
    * default; gram 4 only pays off when probes are consistently long. */
  val GramProp = "write.ngrambloom.gram"
  val DefaultGram = 3
  /** Legacy name for the default gram (pre-r19 sidecars omit `gram` and
    * were all built with 3). */
  val Gram = DefaultGram

  private[sources] def gramOf(props: Map[String, String]): Int =
    math.min(8, math.max(3, props.get(GramProp).flatMap(v =>
      scala.util.Try(v.toInt).toOption).getOrElse(DefaultGram)))

  /** N-gram-eligible columns of this commit: the property's names that
    * exist in the written schema as STRING columns. */
  def ngramColumns(props: Map[String, String],
                   schema: StructType): Seq[StructField] =
    props.get(ColsProp).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
      .distinct
      .flatMap(n => schema.fields.find(_.name == n))
      .filter(_.dataType == StringType)

  /** Compute per-file trigram blooms for `newFiles` and publish one
    * immutable sidecar per batch. NonFatal-guarded: an accelerator's
    * failure must never fail the commit. */
  def writeSidecar(spark: SparkSession, root: String, newFiles: Seq[String],
                   schema: StructType,
                   props: Map[String, String]): Unit = CommitTimings.time("ngramSidecar") {
    val cols = ngramColumns(props, schema)
    if (cols.isEmpty || newFiles.isEmpty) return
    try {
      // AUTO-SIZING (r20, from the r19 knob study: healthy pruning needs
      // ~>=8 bits per distinct gram per file): `write.ngrambloom.bits=
      // auto` measures the batch's max per-file distinct-gram count and
      // sizes the bloom at the next power of two >= 8x that, clamped to
      // [2^12, 2^22] — low-diversity columns (IDs, codes, templated
      // text) get 16-64x smaller sidecars with the same skipping, and an
      // unexpectedly diverse column degrades to keeping files, never to
      // wrong answers. Costs one extra distinct-count pass per batch —
      // build-time only, opt-in.
      val autoBits = props.get(BitsProp)
        .exists(_.trim.equalsIgnoreCase("auto"))
      val numBitsFixed = math.max(64L, props.get(BitsProp).flatMap(v =>
        scala.util.Try(v.toLong).toOption).getOrElse(DefaultBits))
      val gram = gramOf(props)
      SnapshotSidecars.inBloomBatches(spark, "ngram", newFiles,
        SnapshotSidecars.batchSize(props, BuildBatchProp, DefaultBuildBatch)) {
        (fnName, batch) =>
          import org.apache.spark.sql.functions.{approx_count_distinct, col, expr, explode, max, regexp_replace}
          val node = SnapshotSidecars.om.createObjectNode()
          val colsArr = node.putArray("cols")
          cols.foreach(f => colsArr.add(f.name))
          node.put("gram", gram)
          val colBits = node.putObject("colBits")
          val filesNode = node.putObject("files")
          // one pass per column: the trigram explode multiplies rows, so
          // fusing columns would cross-multiply; ngram column sets are
          // small (usually one text column)
          cols.foreach { f =>
            val c = s"`${f.name}`"
            def tri = spark.read.schema(schema).parquet(batch: _*)
              .select(
                regexp_replace(col("_metadata.file_path"), "^file:/*", "/")
                  .as("__f"),
                explode(expr(
                  s"CASE WHEN length($c) >= $gram THEN " +
                  s"transform(sequence(1, length($c) - ${gram - 1}), " +
                  s"i -> substring($c, i, $gram)) " +
                  "ELSE array() END")).as("__t"))
            val numBits =
              if (!autoBits) numBitsFixed
              else {
                val r = tri.groupBy(col("__f"))
                  .agg(approx_count_distinct(col("__t"), 0.02).as("__d"))
                  .agg(max(col("__d"))).head()
                val maxDistinct = if (r.isNullAt(0)) 1L else r.getLong(0)
                // 10% headroom over the 2%-rsd estimate: an
                // undercount just below a power-of-two boundary would
                // otherwise undersize the bloom and raise its FPR (degraded
                // pruning — never wrong answers); the margin keeps estimator
                // error from crossing a sizing boundary downward
                val target = (1.1 * maxDistinct).toLong
                var b = 1L << 12
                while (b < 8L * target && b < (1L << 22)) b <<= 1
                b
              }
            colBits.put(f.name, numBits)
            // estimated items sized so numHashFunctions lands near the
            // optimal k for a bloom filled to ~numBits/16 items (~11 hashes)
            val estItems = math.max(1L, numBits / 16L)
            tri.groupBy(col("__f"))
              .agg(expr(s"$fnName(xxhash64(__t), ${estItems}L, ${numBits}L)")
                .as("__b"))
              .collect()
              .foreach(r => SnapshotSidecars.putBloom(filesNode, r.getString(0),
                f.name, r.getAs[Array[Byte]]("__b")))
          }
          store.publish(spark, root, node)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        log.warn(s"snapshotlog: ngram sidecar write failed at $root " +
          s"(pruning degrades, commits unaffected): $e")
    }
  }

  // ---- read side ----

  /** Each sidecar carries the gram it was built with (a sidecar without
    * one is a trigram build); the probe windows per file to that
    * gram, so a knob change never mis-probes. A gram outside [3, 8] is
    * unprobeable: its sidecar reads as empty. */
  private def readGrams(node: com.fasterxml.jackson.databind.JsonNode)
      : Map[String, Map[String, (Int, BloomFilter)]] = {
    val gram = if (node.has("gram")) node.get("gram").asInt() else DefaultGram
    if (gram < 3 || gram > 8) Map.empty
    else SnapshotSidecars.readBlooms(node).map { case (c, perFile) =>
      c -> perFile.map { case (f, bf) => f -> (gram, bf) }
    }
  }

  private[graft] val store = new SidecarStore[Map[String, (Int, BloomFilter)]](
    "ngrams", "n-", "ngram", readGrams, _ ++ _)

  /** All ngram-bloom entries at `root`, merged across sidecars:
    * column -> (normFile -> (gram, bloom)). */
  def ngramsAt(root: String): Map[String, Map[String, (Int, BloomFilter)]] =
    store.at(root)

  /** Does this filter tree contain a shape the ngram blooms could prune
    * (substring evidence of length >= gram on SOME column)? Used both to
    * gate the sidecar load and to report the filter as pushed. */
  def usable(f: Filter): Boolean = f match {
    case StringContains(_, v) => v != null && longEnough(v)
    case StringStartsWith(_, v) => v != null && longEnough(v)
    case StringEndsWith(_, v) => v != null && longEnough(v)
    case EqualTo(_, v: String) => longEnough(v)
    case And(l, r) => usable(l) || usable(r)
    case Or(l, r) => usable(l) && usable(r)
    case _ => false
  }

  private def longEnough(v: String): Boolean =
    UTF8String.fromString(v).numChars() >= Gram

  /** The code-point gram windows of `needle` — EXACTLY the build side's
    * `substring(col, i, gram)` windows (UTF8String.substringSQL is the
    * Substring expression's engine), hashed the same way. */
  private[graft] def probeGrams(needle: String,
                                gram: Int = DefaultGram): Seq[UTF8String] = {
    val u = UTF8String.fromString(needle)
    val n = u.numChars()
    if (n < gram) Seq.empty
    else (1 to (n - gram + 1)).map(i => u.substringSQL(i, gram))
  }

  private def gramHash(g: UTF8String): Long =
    new XxHash64(Seq(Literal(g, StringType))).eval(null).asInstanceOf[Long]

  /** Each distinct (needle, gram)'s hash array, computed ONCE per prune
    * call (the [[SnapshotLogScanBuilder.CompiledIn]] discipline) for
    * every gram size present in the loaded sidecars: the per-file probe
    * then pays bloom lookups only — without this a long needle over a
    * 10^5-file manifest re-windows and re-hashes (interpreted Catalyst
    * XxHash64 evals) millions of times inside the planning path. */
  def compileGrams(filters: Array[Filter],
                   gramSizes: Set[Int]): Map[(String, Int), Array[Long]] = {
    val acc = scala.collection.mutable.HashMap[(String, Int), Array[Long]]()
    def add(v: String): Unit =
      if (v != null) gramSizes.foreach { g =>
        if (!acc.contains((v, g)))
          acc((v, g)) = probeGrams(v, g).map(gramHash).toArray
      }
    def visit(f: Filter): Unit = f match {
      case And(l, r) => visit(l); visit(r)
      case Or(l, r) => visit(l); visit(r)
      case StringContains(_, v) => add(v)
      case StringStartsWith(_, v) => add(v)
      case StringEndsWith(_, v) => add(v)
      case EqualTo(_, v: String) => add(v)
      case _ => ()
    }
    filters.foreach(visit)
    acc.toMap
  }

  /** May a file contain a row matching `f`, per its gram blooms?
    * Tri-state collapsed like [[SnapshotBlooms.mayMatch]]: missing bloom,
    * needle shorter than the file's gram, or unsupported shape is `true`
    * (keep). `grams` carries the [[compileGrams]] precomputation keyed by
    * (needle, gram); a needle absent from it (never the case through
    * prune()) conservatively keeps the file. */
  def mayMatch(bloomOf: String => Option[(Int, BloomFilter)], f: Filter,
               grams: Map[(String, Int), Array[Long]]): Boolean = {
    def probe(attr: String, needle: String): Boolean =
      if (needle == null) true
      else bloomOf(attr) match {
        case Some((g, bf)) =>
          grams.get((needle, g)).forall { hs =>
            var i = 0
            var all = true
            while (all && i < hs.length) {
              all = bf.mightContainLong(hs(i))
              i += 1
            }
            all
          }
        case None => true
      }
    f match {
      case And(l, r) => mayMatch(bloomOf, l, grams) && mayMatch(bloomOf, r, grams)
      case Or(l, r) => mayMatch(bloomOf, l, grams) || mayMatch(bloomOf, r, grams)
      case StringContains(a, v) => probe(a, v)
      case StringStartsWith(a, v) => probe(a, v)
      case StringEndsWith(a, v) => probe(a, v)
      case EqualTo(a, v: String) => probe(a, v)
      case _ => true
    }
  }
}
