package graft.sources

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** PER-FILE NULL-VALUE COUNTS — Iceberg's `null_value_counts` manifest
  * field re-expressed as an immutable sidecar (kept in a [[SidecarStore]]
  * like [[SnapshotBlooms]]/[[SnapshotSorts]]: data files are uuid-named
  * and never rewritten in place, so a (file, column) → nulls fact is
  * valid for every snapshot containing the file, time travel included,
  * and survives manifest expiry).
  *
  * Why they exist: manifest row counts bound how many ROWS a file holds,
  * but top-k file skipping needs how many NON-NULL rows of the ordering
  * column a file holds — "files with min ≥ T collectively hold ≥ k rows"
  * is only a valid k-th-value bound when those rows actually have values.
  * The counts ride the SAME commit-time footer walk that already extracts
  * min/max (zero extra IO); a column whose footer blocks don't all set
  * numNulls is simply absent (readers treat absent as unknown and stay
  * conservative). */
private[graft] object SnapshotNulls {
  private[graft] val store = new SidecarStore[Map[String, Long]](
    "nulls", "n-", "null-count", node =>
      node.get("files").fields().asScala.map { fe =>
        fe.getKey -> fe.getValue.fields().asScala
          .map(ce => ce.getKey -> ce.getValue.asLong()).toMap
      }.toMap)

  /** Publish one immutable sidecar for a commit's new files. */
  def record(spark: SparkSession, root: String,
             nulls: Map[String, Map[String, Long]]): Unit = {
    val nonEmpty = nulls.filter(_._2.nonEmpty)
    if (nonEmpty.isEmpty) return
    val node = SnapshotSidecars.om.createObjectNode()
    val fNode = node.putObject("files")
    nonEmpty.foreach { case (f, cols) =>
      val cNode = fNode.putObject(SnapshotLog.norm(f))
      cols.foreach { case (c, n) => cNode.put(c, n) }
    }
    store.publish(spark, root, node)
  }

  /** normFile → (column → null count), merged across sidecars; empty when
    * the table never recorded any (one FS existence probe). */
  def nullsAt(root: String): Map[String, Map[String, Long]] = store.at(root)
}
