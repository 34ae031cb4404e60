package graft.io

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

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
  * `getFileLinkStatus` (which `FileContext.rename` calls twice). Each
  * fork costs milliseconds; these two overrides do the same through
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
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    if (NativeIO.isAvailable || !GraftRawLocalFileSystem.hasUnixView ||
        permission.getStickyBit || GraftRawLocalFileSystem.isSetIdDir(f))
      super.setPermission(p, permission)
    else
      Files.setPosixFilePermissions(f,
        GraftRawLocalFileSystem.posixBits(permission.toShort))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object GraftRawLocalFileSystem {
  private val hasUnixView =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

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
