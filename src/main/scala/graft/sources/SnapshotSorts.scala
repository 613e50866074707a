package graft.sources

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** PER-FILE SORT-ORDER metadata — the Iceberg sort-order analog
  * (reference surface: Iceberg write sort orders, bodo/io/iceberg/ write
  * path). `rewriteDataFiles(clusterBy = …)` range-sorts its output files;
  * recording WHICH columns each immutable file is sorted by lets the DSv2
  * scan report `SupportsReportOrdering`, so a co-partitioned co-sorted
  * join (SPJ, zero exchanges) also skips BOTH sides' Sort — the last
  * operator a co-located 100-TB merge join pays.
  *
  * Stored as immutable JSON sidecars under `sorts/` keyed by data-file
  * path (same discipline as [[SnapshotBlooms]]): data files are uuid-named
  * and never rewritten in place, so a (file → order) fact is valid for
  * every snapshot containing the file — including after old manifests are
  * EXPIRED, which is why this lives beside the log rather than in a
  * specific version's manifest. Readers missing an entry simply report no
  * ordering (Spark then sorts — never wrong, just unskipped). */
private[graft] object SnapshotSorts {
  private[graft] val store = new SidecarStore[Seq[String]](
    "sorts", "s-", "sort-order", { node =>
      val order = node.get("order").elements().asScala.map(_.asText()).toSeq
      node.get("files").elements().asScala.map(f => f.asText() -> order).toMap
    })

  /** Record that each of `files` is sorted by `order` (ascending, nulls
    * first — Spark's sortWithinPartitions default). One immutable sidecar
    * per rewrite. */
  def record(spark: SparkSession, root: String, files: Seq[String],
             order: Seq[String]): Unit = {
    if (files.isEmpty || order.isEmpty) return
    val node = SnapshotSidecars.om.createObjectNode()
    val oArr = node.putArray("order")
    order.foreach(oArr.add)
    val fArr = node.putArray("files")
    files.foreach(f => fArr.add(SnapshotLog.norm(f)))
    store.publish(spark, root, node)
  }

  /** normFile -> sort columns, merged across sidecars; empty when the
    * table never recorded one (one FS existence probe). */
  def sortsAt(root: String): Map[String, Seq[String]] = store.at(root)
}
