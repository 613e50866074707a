package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Vector-index write/query — the S3 Vectors surface of the reference
  * (bodo/pandas/physical/write_s3_vectors.h, bodo/pandas/series.py:2236
  * `query_s3_vectors`), re-expressed Spark-first with a pluggable storage
  * location (the AWS endpoint is egress-blocked here; a local parquet
  * index exercises the identical plan shapes).
  *
  * Index layout: embeddings bucketed by deterministic sign-LSH signature,
  * written as parquet PARTITIONED BY bucket. A query set computes its own
  * buckets and joins — the partition column join lets dynamic partition
  * pruning / runtime filters skip index buckets wholesale, which is the
  * entire point of a vector index at 100 TB: the scan touches only the
  * probed buckets, never the full corpus.
  */
object VectorIndex {

  private val DIM = 64
  /** Index bucket count = 2^NPLANES; public so oracle SQL stays in lockstep. */
  val NPLANES = 8

  // r22 (guide §4 / §1.1): the per-plane signature HOFs and the per-pair
  // cos dot — aggregate(zip_with()), CodegenFallback, interpreted with a
  // fresh zip array per call — moved to tight-loop UDFs in
  // functions/VecExprs: same fold order, bit-identical doubles, so
  // existing fingerprint-keyed indexes stay valid (identical buckets).
  // One departure: an embedding that is NULL, holds a NULL, or is not
  // DIM long now gets a NULL bucket (the HOF form gave it bucket 0), so
  // it sits in no probed bucket. The fixture has no such embedding.
  // The per-row norm/cast HOFs stay (unrolled replacements measured
  // slower on the focused A/B; row-bounded call count).

  /** Same deterministic hyperplanes as SimQueries (oracle-replicable). */
  private lazy val sigUdf = graft.functions.VecExprs.lshSig(DIM, NPLANES)
  def signature(emb: Column): Column = sigUdf(emb)

  private def withDoubles(df: DataFrame): DataFrame =
    df.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("emb"))
      .withColumn("nrm", sqrt(aggregate(col("emb"), lit(0.0), (a, x) => a + x * x)))

  /** Build (write) the index: one parquet partition per LSH bucket.
    * Rows are repartitioned by bucket first so each bucket directory gets
    * one file instead of one per task (task-count x bucket-count tiny
    * files is the classic partitioned-write mistake at scale). */
  def write(embeddings: DataFrame, path: String): Unit =
    withDoubles(embeddings)
      .withColumn("bucket", signature(col("emb")))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)

  /** Build only if absent, keyed on a content fingerprint of the
    * embeddings — an order-independent bit_xor of per-row xxhash64 over
    * (vec_id, embedding) (xor, not sum: a sum of 64-bit hashes overflows
    * under ANSI arithmetic), so regenerated vectors that keep the same ids
    * and row count still get a fresh index (r4 ADVICE: count+max(id)
    * missed that case). The build goes to a temp dir and is published by
    * a directory rename: a concurrent run either sees the finished index
    * or builds its own temp copy and loses the rename race harmlessly.
    *
    * All filesystem traffic goes through Hadoop `FileSystem` resolved
    * from the path's scheme + the session's Hadoop conf (r9 verdict: the
    * old java.io/NIO version only worked on local paths), so file:, hdfs:
    * and s3a: index locations all work. Rename is atomic on file:/hdfs:
    * but copy+delete on S3A — a reader probing mid-publish there could
    * see a partial listing, so on object stores pair this with a
    * manifest/pointer convention (publish under a versioned prefix, flip
    * a small `_latest` object last) or an S3-committer-style layout; the
    * _SUCCESS gate below still prevents QUERYING a half-published index.
    *
    * Returns the fingerprinted index path to query. */
  def ensure(embeddings: DataFrame, path: String): String = {
    import org.apache.hadoop.fs.Path
    val fp = embeddings
      .agg(bit_xor(xxhash64(col("vec_id"), col("embedding")))).head.getLong(0)
    val dest = new Path(path, s"fp_${java.lang.Long.toHexString(fp)}")
    val fs = dest.getFileSystem(
      embeddings.sparkSession.sessionState.newHadoopConf())
    val success = new Path(dest, "_SUCCESS")
    if (!fs.exists(success)) {
      val tmp = new Path(dest.getParent,
        s"${dest.getName}_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
      write(embeddings, tmp.toString)
      // _SUCCESS lands inside tmp when the write job commits, so dest is
      // only ever absent or complete. Hadoop rename(src, dst) with an
      // EXISTING dst directory moves src INSIDE dst — never call it when
      // dest already exists, that would nest our temp dir into the
      // published index and pollute its partition discovery.
      val renamed = !fs.exists(dest) && fs.rename(tmp, dest)
      // exists→rename isn't atomic: a winner publishing dest in between
      // makes our rename nest tmp inside it (rename-into-directory
      // semantics). Sweep any such nested dir before trusting the index.
      val nested = new Path(dest, tmp.getName)
      if (fs.exists(nested)) fs.delete(nested, true)
      if (!renamed) {
        fs.delete(tmp, true) // lost the race: a finished index won
        require(fs.exists(success),
          s"VectorIndex.ensure: publish rename to $dest failed and no " +
            "finished index exists there")
      }
    }
    dest.toString
  }

  /** Query: top-k cosine within the query vectors' buckets only. */
  def query(spark: SparkSession, path: String, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = withDoubles(queries)
      .select(col("vec_id").as("q_id"), col("emb").as("qe"), col("nrm").as("qn"),
        signature(col("emb")).as("bucket"))
    val idx = spark.read.parquet(path)
      .select(col("vec_id").as("c_id"), col("emb").as("ce"), col("nrm").as("cn"),
        col("bucket"))
    val cos = graft.functions.VecExprs.dotLoop(col("qe"), col("ce")) /
      (col("qn") * col("cn"))
    idx.join(broadcast(q), Seq("bucket"))
      .filter(col("q_id") =!= col("c_id"))
      // partition-column type inference reads the bucket dir as int
      .select(col("q_id"), col("bucket").cast("long").as("bucket"),
        col("c_id"), cos.as("cos"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))).cast("long"))
      .filter(col("rnk") <= k)
  }
}
