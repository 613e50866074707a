package graft

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.JsonNodeFactory.{instance => json}
import org.apache.hadoop.fs.Path
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.spark
import graft.sources.{SidecarStore, SnapshotBlooms, SnapshotLog, SnapshotNgramBlooms, SnapshotNulls, SnapshotSorts}

/** The four per-file sidecar kinds (value blooms, n-gram blooms, null
  * counts, sort orders) share one [[SidecarStore]]: one publish path, one
  * root-keyed bounded cache and one expiry rule. Each case runs over every
  * kind, with sidecars in that kind's on-disk format. */
class SnapshotSidecarsSpec extends AnyFunSuite {

  private def fs = new Path("/").getFileSystem(spark.sessionState.newHadoopConf())

  private def freshRoot(tag: String): String = {
    val root = s"/tmp/graft_sidecars_spec/$tag"
    fs.delete(new Path(root), true)
    root
  }

  private def bloomB64(v: Long): String = {
    val bf = BloomFilter.create(10, 64)
    bf.putLong(v)
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    java.util.Base64.getEncoder.encodeToString(out.toByteArray)
  }

  private def bloomNode(files: Seq[String], gram: Option[Int]): JsonNode = {
    val node = json.objectNode()
    node.putArray("cols").add("k")
    gram.foreach(g => node.put("gram", g))
    val fNode = node.putObject("files")
    files.foreach(f => fNode.putObject(f).put("k", bloomB64(1L)))
    node
  }

  /** One sidecar kind: where it lives, how one of its sidecars over
    * `files` looks on disk, and which files its merged view covers. */
  private final class Kind(val name: String, val dir: String, val prefix: String,
      val publish: (String, Seq[String]) => Unit, val covered: String => Set[String],
      val expire: (String, Set[String], Set[String]) => Int)

  private def kind[W](name: String, dir: String, prefix: String,
                      store: SidecarStore[W], node: Seq[String] => JsonNode)
                     (covered: Map[String, W] => Set[String]): Kind =
    new Kind(name, dir, prefix, (root, files) => store.publish(spark, root, node(files)),
      root => covered(store.at(root)),
      (root, live, dead) => store.expire(spark, root, live, dead))

  private val kinds = Seq(
    kind("blooms", "blooms", "b-", SnapshotBlooms.store,
      bloomNode(_, None))(_.values.flatMap(_.keys).toSet),
    kind("ngrams", "ngrams", "n-", SnapshotNgramBlooms.store,
      bloomNode(_, Some(3)))(_.values.flatMap(_.keys).toSet),
    kind("nulls", "nulls", "n-", SnapshotNulls.store, { files =>
      val node = json.objectNode()
      val fNode = node.putObject("files")
      files.foreach(f => fNode.putObject(f).put("k", 1L))
      node
    })(_.keySet),
    kind("sorts", "sorts", "s-", SnapshotSorts.store, { files =>
      val node = json.objectNode()
      node.putArray("order").add("k")
      val fArr = node.putArray("files")
      files.foreach(f => fArr.add(f))
      node
    })(_.keySet))

  private def sidecars(root: String, k: Kind): Int = {
    val d = new Path(root, k.dir)
    if (!fs.exists(d)) 0
    else fs.listStatus(d).count(_.getPath.getName.startsWith(k.prefix))
  }

  for (k <- kinds) {
    test(s"${k.name}: expiry reclaims an all-dead sidecar and keeps one " +
      "with a live or an unknown (in-flight) file") {
      val root = freshRoot(s"expire_${k.name}")
      k.publish(root, Seq("/d/1", "/d/2"))   // every file dead
      k.publish(root, Seq("/d/3", "/l/1"))   // one file live
      k.publish(root, Seq("/d/4", "/u/1"))   // one file unknown
      assert(k.covered(root) === Set("/d/1", "/d/2", "/d/3", "/l/1", "/d/4", "/u/1"))
      val dead = Set("/d/1", "/d/2", "/d/3", "/d/4")
      assert(k.expire(root, Set("/l/1"), dead) === 1)
      assert(sidecars(root, k) === 2)
      assert(k.covered(root) === Set("/d/3", "/l/1", "/d/4", "/u/1"))
      // a second pass finds nothing more to reclaim
      assert(k.expire(root, Set("/l/1"), dead) === 0)
    }

    test(s"${k.name}: an unreadable sidecar is skipped on read and kept by expiry") {
      val root = freshRoot(s"unreadable_${k.name}")
      k.publish(root, Seq("/d/1"))
      val bad = new Path(new Path(root, k.dir), s"${k.prefix}zzzzzzzzzzzz.json")
      val out = fs.create(bad, false)
      try out.write("{not json".getBytes("UTF-8")) finally out.close()
      assert(k.covered(root) === Set("/d/1"))
      assert(k.expire(root, Set.empty, Set("/d/1")) === 1)
      assert(fs.exists(bad), "an unreadable sidecar must survive expiry")
      assert(k.covered(root).isEmpty)
    }
  }

  test("an n-gram sidecar with gram 9 is ignored on read and reclaimed once " +
    "its files are dead") {
    val root = freshRoot("gram9")
    SnapshotNgramBlooms.store.publish(spark, root, bloomNode(Seq("/g/9"), Some(9)))
    SnapshotNgramBlooms.store.publish(spark, root, bloomNode(Seq("/g/3"), Some(3)))
    assert(SnapshotNgramBlooms.ngramsAt(root)("k").keySet === Set("/g/3"))
    val ngrams = kinds.find(_.name == "ngrams").get
    assert(ngrams.expire(root, Set("/g/3"), Set("/g/9")) === 1)
    assert(sidecars(root, ngrams) === 1)
    assert(SnapshotNgramBlooms.ngramsAt(root)("k").keySet === Set("/g/3"))
  }

  test("a new sidecar parses only itself: earlier parses are reused") {
    val root = freshRoot("reuse")
    SnapshotBlooms.store.publish(spark, root, bloomNode(Seq("/a"), None))
    val first = SnapshotBlooms.bloomsAt(root)("k")("/a")
    SnapshotBlooms.store.publish(spark, root, bloomNode(Seq("/b"), None))
    val merged = SnapshotBlooms.bloomsAt(root)("k")
    assert(merged.keySet === Set("/a", "/b"))
    assert(merged("/a") eq first)
  }

  /** Weak references to the parsed n-gram blooms at `root`; no strong
    * reference outlives this frame. */
  private def weakBlooms(root: String): List[java.lang.ref.WeakReference[BloomFilter]] =
    SnapshotNgramBlooms.ngramsAt(root)("text").values
      .map(e => new java.lang.ref.WeakReference(e._2)).toList

  test("a table re-created at the same root frees the old table's parsed " +
    "n-gram blooms") {
    val root = freshRoot("recreate")
    def create(): Unit = {
      val df = spark.range(0, 200).selectExpr("id",
        "concat('some text ', cast(id AS string)) AS text")
      SnapshotLog.commit(df.filter("id < 100"), root, overwrite = true, 100L, 1)
      SnapshotLog.setTableProps(spark, root,
        Map("write.ngrambloom.columns" -> "text"))
      SnapshotLog.commit(df.filter("id >= 100"), root, overwrite = false, 200L, 2)
    }
    create()
    val refs = weakBlooms(root)
    assert(refs.nonEmpty)
    fs.delete(new Path(root), true)
    create()
    assert(SnapshotNgramBlooms.ngramsAt(root)("text").nonEmpty)
    var tries = 0
    while (refs.exists(_.get != null) && tries < 10) {
      System.gc()
      Thread.sleep(50)
      tries += 1
    }
    assert(refs.forall(_.get == null),
      "the old table's blooms are still reachable after re-creation")
  }
}
