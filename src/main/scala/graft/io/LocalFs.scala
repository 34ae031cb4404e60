package graft.io

import java.io.{DataOutput, FileNotFoundException}
import java.net.URI
import java.nio.file.{FileSystems, Files, NoSuchFileException}
import java.nio.file.attribute.{BasicFileAttributes, GroupPrincipal,
  PosixFilePermission, UserPrincipal}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's raw local filesystem without its forked helpers.
  *
  * Without libhadoop (`NativeIO` unavailable), the stock
  * `RawLocalFileSystem` runs `/bin/chmod` after every file create and
  * every directory it makes, and `/bin/readlink` on every
  * `getFileLinkStatus` (which `FileContext.rename` calls twice), and
  * `ls -ld` the first time a listed file's owner, group or mode is read.
  * Each fork costs milliseconds; these overrides do the same through
  * java.nio in microseconds:
  *
  *  - [[setPermission]] sets the same mode bits as `chmod %04o`. It
  *    defers to the stock path when NativeIO is available (already
  *    fork-free), for a sticky bit (java.nio cannot set it), and for a
  *    directory carrying set-user/group-ID bits (numeric `chmod` keeps
  *    them on directories, `Files.setPosixFilePermissions` would not).
  *  - [[getFileLinkStatus]] of a path that is not a symbolic link is its
  *    `getFileStatus` — what the stock path returns once `readlink`
  *    prints nothing. Symbolic links keep the stock path.
  *  - [[getFileStatus]] and [[listStatus]] read length, kind and times
  *    with one `stat`, and owner, group and mode with one more the first
  *    time any of the three is asked for, where the stock status runs
  *    `ls -ld` on the canonical path. Both follow symbolic links, as the
  *    stock status does. The mode keeps the nine permission bits and the
  *    sticky bit, the bits `FsPermission.valueOf` takes from the `ls`
  *    string.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    if (GraftRawLocalFileSystem.stockPermissions ||
        permission.getStickyBit || GraftRawLocalFileSystem.isSetIdDir(f))
      super.setPermission(p, permission)
    else
      Files.setPosixFilePermissions(f,
        GraftRawLocalFileSystem.posixBits(permission.toShort))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  override def getFileStatus(f: Path): FileStatus =
    if (GraftRawLocalFileSystem.stockPermissions) super.getFileStatus(f)
    else {
      val file = pathToFile(f)
      val attrs =
        try Files.readAttributes(file.toPath, classOf[BasicFileAttributes])
        catch {
          case _: NoSuchFileException =>
            throw new FileNotFoundException(s"File $f does not exist")
        }
      new GraftRawLocalFileSystem.Status(attrs, getDefaultBlockSize(f),
        new Path(file.getPath).makeQualified(getUri, getWorkingDirectory), file)
    }

  // the stock listing of a directory already calls getFileStatus per
  // entry; only its single-file form builds the forking status directly
  override def listStatus(f: Path): Array[FileStatus] =
    if (GraftRawLocalFileSystem.stockPermissions ||
        pathToFile(f).isDirectory) super.listStatus(f)
    else Array(getFileStatus(f))
}

object GraftRawLocalFileSystem {
  private val hasUnixView =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  // with NativeIO the stock paths are already fork-free; without a unix
  // attribute view there is no mode to read or write
  private def stockPermissions = NativeIO.isAvailable || !hasUnixView

  /** A status whose owner, group and mode are read on first use, as the
    * stock status reads them, but from one `stat` instead of `ls -ld`. */
  private final class Status(a: BasicFileAttributes, blockSize: Long,
      path: Path, file: java.io.File)
      extends FileStatus(a.size, a.isDirectory, 1, blockSize,
        a.lastModifiedTime.toMillis, a.lastAccessTime.toMillis, null, null,
        null, path) {
    private var loaded = false

    private def load(): Unit = synchronized {
      if (!loaded) {
        // a file gone since the listing keeps the defaults, as the stock
        // status does when `ls` finds nothing
        try {
          val u = Files.readAttributes(file.toPath, "unix:mode,owner,group")
          setPermission(new FsPermission(
            (u.get("mode").asInstanceOf[Int] & 0x3FF).toShort))
          setOwner(u.get("owner").asInstanceOf[UserPrincipal].getName)
          setGroup(u.get("group").asInstanceOf[GroupPrincipal].getName)
          loaded = true
        } catch { case _: NoSuchFileException => }
      }
    }

    override def getPermission: FsPermission = { load(); super.getPermission }
    override def getOwner: String = { load(); super.getOwner }
    override def getGroup: String = { load(); super.getGroup }
    override def write(out: DataOutput): Unit = { load(); super.write(out) }
  }

  // PosixFilePermission declares OWNER_READ … OTHERS_EXECUTE, i.e. mode
  // bits 0400 down to 0001
  private def posixBits(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.zipWithIndex
      .collect { case (bit, i) if (mode & (0x100 >> i)) != 0 => bit }
      .toSet.asJava

  private def isSetIdDir(f: java.nio.file.Path): Boolean = {
    val mode = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
    (mode & 0xF000) == 0x4000 && (mode & 0xC00) != 0 // S_IFDIR; S_ISUID|S_ISGID
  }
}

/** The `file:` `FileSystem` over [[GraftRawLocalFileSystem]]: the stock
  * `LocalFileSystem` (`.crc` checksum sidecars included) whose `rename`
  * returns false onto an existing file and leaves both files as they
  * are — HDFS's rename-fails-if-exists, and the rule of Hive's
  * `ProxyLocalFileSystem`, the class the `FileSystem` service loader
  * binds to `file:` when hive-exec is on the classpath. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem) {

  override def rename(src: Path, dst: Path): Boolean =
    !isExistingFile(dst) && super.rename(src, dst)

  private def isExistingFile(p: Path): Boolean =
    try getFileStatus(p).isFile
    catch { case _: java.io.FileNotFoundException => false }
}

/** The `file:` `AbstractFileSystem` (the `FileContext` API that
  * streaming checkpoints write through) over
  * [[GraftRawLocalFileSystem]]: `org.apache.hadoop.fs.local.LocalFs`
  * with its raw layer swapped, checksums and all. `AbstractFileSystem.get`
  * calls this constructor; like `LocalFs`, it serves `file:///` whatever
  * the URI. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(conf))

/** `org.apache.hadoop.fs.local.RawLocalFs` over [[GraftRawLocalFileSystem]]. */
private[io] class GraftRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new GraftRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme,
      false) {

  override def getUriDefaultPort: Int = -1

  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults

  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults

  // local filesystems validate names themselves
  override def isValidName(src: String): Boolean = true
}
