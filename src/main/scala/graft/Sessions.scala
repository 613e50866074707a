package graft

import org.apache.spark.sql.SparkSession

/** Single shared SparkSession factory (SURVEY.md §7.2-M0).
  *
  * Every entry point (Verify, Bench, ScalaTest suites) builds its session
  * here so the engine under test is always the tuned engine: AQE on (runtime
  * re-plan, skew-join splitting), runtime bloom-filter join pruning, CBO,
  * and UTC+ns-as-long session conventions the fixtures require.
  * Mirrors the reference's always-on bloom/runtime-filter behavior
  * (bodo/libs/streaming/_join.h:16 SIMD block bloom;
  * RuntimeJoinFilterProgram.kt) via Spark's built-in equivalents.
  */
object Sessions {
  /** Entries of Spark's JVM-wide cache of generated classes
    * (`spark.sql.codegen.cache.maxEntries`; Spark's default is 100). A
    * class evicted from it is compiled again by Janino the next time its
    * plan runs. The suite's working set is far above 100: one JVM running
    * all 300 queries at sf0.01 compiles about 2,750 distinct classes, so
    * at the default each warm pass compiled about 2,750 again (117 s a
    * pass against 66 s once they stay cached, 4 cores). 4096 holds that
    * set with about 1.5x headroom. An entry retains about 30 KB of heap
    * (source and class; the full run's heap in use after GC went from
    * 152 MB to 234 MB), so a full cache costs about 120 MB. A JVM that
    * runs a handful of queries fills only what it runs. */
  private val CodegenCacheEntries = 4096

  def build(master: String, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      // library extension point: registers the custom Catalyst expressions
      // (jaro_winkler, uuid5) on every session built from this config
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // Keep the whole-stage codegen stage id out of the generated class
      // name, the only place it enters the cached source. AQE numbers a
      // query's stages in the order their inputs finish, which varies
      // from call to call when branches run in parallel (agg_hll_sketch's
      // four aggregates): the same pipeline then compiled again under a
      // new name. The id still shows in EXPLAIN as `*(n)`.
      .config("spark.sql.codegen.useIdInClassName", "false")
      // Tungsten page size. A broadcast hash relation on a non-long key
      // takes its first page at full size whatever it holds, and Spark's
      // default size grows with the heap: 16 MB at 3 GB and 4 cores, 64 MB
      // at 7 GB. A snapshot read broadcasts each equality-delete file for
      // its own anti-join, so reads of a table with many of them held one
      // page per file: 165 live relations, 2.5 GB of a 3 GB heap in
      // SnapshotConcurrentPropertySpec, which then spun in full GCs. 1 MB
      // is the floor of Spark's default; a larger record still gets a page
      // of its own size.
      .config("spark.buffer.pageSize", "1m")
      // `file:` paths go through NioLocalFileSystem, which sets and reads
      // POSIX permissions with java.nio. With no libhadoop installed,
      // Hadoop's stock local file system forks `chmod` for each file it
      // creates (data and .crc) and each directory level it makes, and
      // `ls -ld` for each listed entry: 192 process starts per
      // table_io_sf001 pass, 4-9 ms each on 4 cores. Without them that
      // workload's query_p50_s went from 0.87 s to 0.68 s (medians of 10
      // alternating pairs, all 10 won). Hadoop caches file systems by
      // scheme and user, so `new Configuration()` readers on executors get
      // this one as well.
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.NioLocalFileSystem].getName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // Historical fixture generations shipped events.ts as TIMESTAMP(NANOS),
      // which Spark 4 rejects natively; the conf lets that generation read as
      // long (Tables.events dispatches on the result). No-op for the current
      // µs-typed fixtures.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Write standard INT64 TIMESTAMP(MICROS), not legacy INT96: Iceberg
      // forbids INT96, and INT96 carries no usable footer min/max stats —
      // SnapshotLog lifts commit-time stats straight from parquet footers.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // ANSI TIME (Spark 4.1 TimeType, feature-flagged): the TIME kit
      // (fn_time, TIME_FROM_PARTS) serves native time(6) columns; the
      // long-nanos helpers remain as compat aliases (SURVEY §1.2 note
      // predates the type's availability)
      .config("spark.sql.timeType.enabled", "true")
      // AQE: runtime coalescing, skew-join handling, bcast demotion.
      .config("spark.sql.adaptive.enabled", "true")
      // Post-shuffle coalescing: the r21 optimization round A/B'd every
      // posture over the FULL suite (env knobs below, full-bench runs):
      //   - parallelismFirst=true, floor 1m (Spark defaults): 97.4 s
      //   - pf=true, minPartitionSize floor 4m:               101.0 s
      //   - pf=true, floor 8m:                                100.0 s
      //   - pf=false (coalesce to advisory 64m):              108.5 s*
      // Byte-based coalescing cannot see COMPUTE density: floors/advisory
      // help byte-light agg tails (TPC-H family -0.8..-1.2 s) but
      // serialize the compute-dense-per-byte stages — LSH/shingle
      // self-joins whose pair output explodes relative to shuffle bytes
      // (dedup family +1.6 s, composite +0.9 s) — and the advisory
      // posture additionally starved page allocation once under the
      // racing-writers suite (TaskMemoryManager 64 MB allocate-retry
      // loop; bigger partitions = bigger per-task memory, guide §2.2's
      // own caveat). Spark's scale-adaptive default (target =
      // clamp(bytes/parallelism, 1m, advisory)) is the measured best
      // overall and is what ships; the knobs stay for cluster-side A/B.
      // (*advisory run pre-dated two per-query fixes; family deltas are
      // from matched runs.)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("GRAFT_AQE_PARALLELISM_FIRST", "true"))
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("GRAFT_AQE_ADVISORY", "64m"))
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("GRAFT_AQE_MIN_PARTITION", "1m"))
      // Build-side bloom filter pushed into probe-side scans — the Spark
      // counterpart of the reference's runtime join filters.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      // SnapshotLog TableCatalog: SQL-surface snapshot tables under `snap.*`
      // with VERSION AS OF / TIMESTAMP AS OF served from the manifest log
      .config("spark.sql.catalog.snap", "graft.sources.SnapshotLogCatalog")
      .config("spark.sql.catalog.snap.warehouse", "/tmp/graft_snap_warehouse")
      // Storage-partitioned joins: honor KeyGroupedPartitioning reported
      // by DSv2 scans — co-bucketed snapshot tables join with NO shuffle
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** local[N] with N shuffle partitions, N from SPARK_GRAFT_CPUS (driver contract). */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    build(s"local[$cpus]", cpus.toInt)
  }
}
