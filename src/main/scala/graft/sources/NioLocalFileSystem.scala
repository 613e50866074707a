package graft.sources

import java.io.{DataOutput, File, FileNotFoundException}
import java.nio.file.{Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{BasicFileAttributes, GroupPrincipal, UserPrincipal}
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system over [[NioRawLocalFileSystem]]:
  * the `file:` scheme of every session [[graft.Sessions]] builds. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `RawLocalFileSystem` with POSIX permissions set and read
  * through `java.nio`. Without `libhadoop` the stock class forks `chmod`
  * for every file it creates and every directory level it makes, and
  * `ls -ld` for every status whose permission, owner or group is read
  * (each entry `listFiles` returns). Everything else (checksum files,
  * rename, delete, the bytes on disk) is the stock code. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  /** The bits the stock `chmod %04o` sets: the permission and sticky bits
    * as given; GNU chmod keeps a directory's set-user-ID and set-group-ID
    * bits under a four-digit octal mode. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    val mode = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
    val kept = if ((mode & 0xf000) == 0x4000) mode & 0xc00 else 0 // S_IFDIR
    Files.setAttribute(path, "unix:mode", Int.box(permission.toShort | kept))
  }

  /** One `stat` for length, type and times; permission, owner and group
    * load on first use, as in the stock status. */
  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val attrs =
      try Files.readAttributes(file.toPath, classOf[BasicFileAttributes])
      catch { case _: NoSuchFileException =>
        throw new FileNotFoundException(s"File $f does not exist") }
    new NioFileStatus(file, attrs, getDefaultBlockSize(f),
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  /** The stock listing takes each directory entry's status from
    * [[getFileStatus]]; a plain file is its own one-entry listing. */
  override def listStatus(f: Path): Array[FileStatus] =
    if (pathToFile(f).isDirectory) super.listStatus(f)
    else Array(getFileStatus(f))
}

private final class NioFileStatus(file: File, attrs: BasicFileAttributes,
    blockSize: Long, path: Path)
    extends FileStatus(attrs.size, attrs.isDirectory, 1, blockSize,
      attrs.lastModifiedTime.toMillis, attrs.lastAccessTime.toMillis,
      null, null, null, path) {
  // `ls -ld` reads the entry itself, not a link's target, and reports the
  // permission bits plus the sticky bit; a file gone since the listing
  // keeps Hadoop's defaults, as the stock status does
  @transient private lazy val posix: Unit =
    try {
      val a = Files.readAttributes(file.toPath, "unix:mode,owner,group",
        LinkOption.NOFOLLOW_LINKS)
      setPermission(new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort))
      setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
      setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
    } catch { case _: NoSuchFileException => }

  override def getPermission: FsPermission = { posix; super.getPermission }
  override def getOwner: String = { posix; super.getOwner }
  override def getGroup: String = { posix; super.getGroup }
  override def write(out: DataOutput): Unit = { posix; super.write(out) }
}
