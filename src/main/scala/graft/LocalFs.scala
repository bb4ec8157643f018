package graft

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local `file:` file system without child processes. With no
  * native Hadoop library, the stock `RawLocalFileSystem` runs `chmod`
  * after every create and mkdir (`setPermission` → `Shell.execCommand`)
  * and `readlink` on every `getFileLinkStatus`, which `FileContext`
  * rename calls two to four times per commit. This subclass overrides
  * exactly those two methods, with the same results:
  *
  *  - `setPermission` sets the same mode bits through
  *    `Files.setPosixFilePermissions`; a sticky bit (which that API
  *    cannot set) or a non-POSIX store falls back to `super`;
  *  - `getFileLinkStatus` of a path that is not a symlink is
  *    `getFileStatus`, which is what `super` returns once its
  *    `readlink` finds no link; a real symlink goes to `super`.
  *
  * [[SessionTuning.tuned]] registers the two faces below for the
  * `file:` scheme: [[ForkFreeLocalFileSystem]] for `FileSystem` users
  * and [[ForkFreeLocalFs]] for `FileContext` users.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !ForkFreeRawLocalFileSystem.Posix)
      super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs owner rwx, group rwx, others rwx: bits 8 down to 0
      PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((mode & (1 << (8 - i))) != 0) perms.add(perm)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  private val Posix: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
}

/** The `FileSystem` face (`fs.file.impl`): Hadoop's checksummed
  * `LocalFileSystem` over [[ForkFreeRawLocalFileSystem]]. Parquet
  * writes and the store files of `graft.ext.IndexFiles` go through it.
  * It keeps the one difference of Hive's `ProxyLocalFileSystem`, which
  * the Spark jars register for `file:` and which it replaces: a rename
  * onto an existing file returns false and changes nothing.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean =
    !isFile(dst) && super.rename(src, dst)
}

/** The `FileContext` face (`fs.AbstractFileSystem.file.impl`): a
  * `ChecksumFs` over [[ForkFreeRawLocalFs]], as Hadoop's `LocalFs` is
  * over `RawLocalFs`. The streaming checkpoint and state-store files
  * go through it. The URI is ignored, as `LocalFs` ignores it.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Hadoop's `RawLocalFs` over [[ForkFreeRawLocalFileSystem]], with the
  * same four overrides `RawLocalFs` has.
  */
class ForkFreeRawLocalFs(conf: Configuration)
  extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
    new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {

  override def getUriDefaultPort: Int = -1

  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults

  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults

  override def isValidName(src: String): Boolean = true
}
