package graft.sources

import java.io.File
import java.net.URI
import java.nio.file.Files
import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.spark
import scala.jdk.CollectionConverters._

/** The sessions' `file:` file system ([[NioLocalFileSystem]]) starts no
  * process, reports what Hadoop's stock local file system reports, and is
  * the one every `Configuration` in the JVM resolves `file:` to. */
class LocalFsSpec extends AnyFunSuite {
  private def fresh(tag: String): String = {
    val root = s"/tmp/graft_localfs_spec/$tag"
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new Path(root), true)
    root
  }

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi).selectExpr("id AS k", "md5(cast(id AS string)) AS s")

  test("a commit, a snapshot read and a listing start no process") {
    val root = fresh("forks")
    // the first commit pays any one-off set-up outside the recording, and
    // so does Spark's executor, which probes the page size once per JVM
    // (`getconf PAGESIZE`) when its first heartbeat polls metrics
    SnapshotLog.commit(rows(0, 100), root, overwrite = true, 100L, 2)
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val marker = "graft-localfs-spec-marker"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e => started.add(e.getString("command")))
      rs.startAsync()
      SnapshotLog.commit(rows(100, 200), root, overwrite = false, 200L, 2)
      assert(spark.read.format("snapshotlog").load(root).count() === 200)
      val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
      val it = fs.listFiles(new Path(root), true)
      var listed = 0
      while (it.hasNext) { it.next().getPermission; listed += 1 }
      assert(listed > 4)
      // a process of the test's own closes the window: once the stream
      // delivers its start, every earlier start has been delivered too
      new ProcessBuilder("true", marker).start().waitFor()
      val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
      while (!started.asScala.exists(_.contains(marker)) &&
             System.nanoTime < deadline) Thread.sleep(100)
      assert(started.asScala.exists(_.contains(marker)),
        "the recording saw no process start at all")
    } finally rs.close()
    assert(started.asScala.filterNot(_.contains(marker)).toSeq === Nil)
  }

  test("permission, owner and group match stock Hadoop; .crc files are " +
       "still written") {
    val conf = spark.sessionState.newHadoopConf()
    val stock = new RawLocalFileSystem()
    stock.initialize(URI.create("file:///"), conf)
    val nio = new NioLocalFileSystem()
    nio.initialize(URI.create("file:///"), conf)
    def mode(p: Path): Int =
      Files.getAttribute(new File(p.toUri.getPath).toPath, "unix:mode")
        .asInstanceOf[Int] & 0xfff
    def same(a: FileStatus, b: FileStatus): Unit =
      assert((b.getPath, b.getPermission, b.getOwner, b.getGroup, b.getLen,
          b.isDirectory, b.getModificationTime) ===
        (a.getPath, a.getPermission, a.getOwner, a.getGroup, a.getLen,
          a.isDirectory, a.getModificationTime))
    def sameAt(p: Path): Unit = same(stock.getFileStatus(p), nio.getFileStatus(p))

    val dir = new Path(fresh("perms"))
    val chain = new Path(dir, "a/b/c")
    assert(nio.mkdirs(chain))
    val file = new Path(chain, "f.bin")
    val out = nio.create(file)
    out.write(Array[Byte](1, 2, 3))
    out.close()
    val crc = new Path(chain, ".f.bin.crc")
    assert(new File(crc.toUri.getPath).isFile, "no checksum file written")
    val levels = Seq(dir, new Path(dir, "a"), new Path(dir, "a/b"), chain)
    levels.foreach(p => assert(mode(p) === 0x1ed, p)) // 0755
    Seq(file, crc).foreach(p => assert(mode(p) === 0x1a4, p)) // 0644
    (levels ++ Seq(file, crc)).foreach(sameAt)

    // listings: listFiles entries and a listStatus of a directory and of
    // a plain file
    val listed = nio.listFiles(dir, true)
    var count = 0
    while (listed.hasNext) {
      val st = listed.next()
      same(stock.getFileStatus(st.getPath), st)
      count += 1
    }
    assert(count === 1) // the checksummed view hides f.bin's .crc
    val entries = nio.listStatus(chain)
    assert(entries.map(_.getPath) === Array(nio.makeQualified(file)))
    same(stock.listStatus(file).head, nio.listStatus(file).head)
    stock.listStatus(chain).sortBy(_.getPath.toString)
      .zip(nio.getRawFileSystem.listStatus(chain).sortBy(_.getPath.toString))
      .foreach { case (a, b) => same(a, b) }

    // setPermission sets the same bits as stock Hadoop's chmod, sticky
    // bit included, on files and directories alike; a directory keeps its
    // set-group-ID bit (02000), a file loses it
    val twins = Seq("file", "dir").map { kind =>
      val (s, n) = (new Path(dir, s"stock-$kind"), new Path(dir, s"nio-$kind"))
      if (kind == "dir") Seq(s, n).foreach(p => assert(nio.mkdirs(p)))
      else Seq(s, n).foreach(p => nio.create(p).close())
      (s, n)
    }
    def setBoth(s: Path, n: Path, perm: FsPermission): Unit = {
      stock.setPermission(s, perm)
      nio.setPermission(n, perm)
      assert(mode(n) === mode(s))
      assert(nio.getFileStatus(n).getPermission === stock.getFileStatus(s).getPermission)
      sameAt(n)
    }
    for (bits <- Seq(0x3ff, 0x1a0); (s, n) <- twins) { // 01777, 0640
      setBoth(s, n, new FsPermission(bits.toShort))
      assert(mode(n) === bits)
    }
    for ((s, n) <- twins) {
      Seq(s, n).foreach(p => Files.setAttribute(new File(p.toUri.getPath).toPath,
        "unix:mode", Int.box(0x5ed))) // 02755
      setBoth(s, n, new FsPermission(0x1ed.toShort)) // 0755
    }
    assert(twins.map { case (_, n) => mode(n) } === Seq(0x1ed, 0x5ed))
  }

  test("a bare Configuration resolves file: to the session's file system") {
    val session = new Path("file:///tmp")
      .getFileSystem(spark.sessionState.newHadoopConf())
    val bare = new Path("file:///tmp").getFileSystem(new Configuration())
    assert(bare.isInstanceOf[NioLocalFileSystem])
    assert(bare eq session)
  }
}
