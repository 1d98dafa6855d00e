package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local `file:` filesystem without a child process per call.
  *
  * Without native `libhadoop`, the stock [[RawLocalFileSystem]] runs
  * `chmod` for every file or directory it creates with a permission and
  * `readlink` for every `getFileLinkStatus` (each `FileContext`
  * rename). A streaming checkpoint creates and renames a few files per
  * micro-batch and state partition, so those launches dominate a short
  * query's commit time. Only these two methods change, and only their
  * system call:
  *  - `setPermission` sets the same rwx bits through NIO. Callers have
  *    already applied the umask. A sticky bit, which NIO cannot set, or
  *    a store without POSIX attributes takes the stock path.
  *  - `getFileLinkStatus` of a path that is not a symbolic link is its
  *    `getFileStatus`, which is what the stock code returns once
  *    `readlink` reports no target (or throws the same
  *    `FileNotFoundException` for a missing path). Links take the stock
  *    path.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `FileSystem` (CRC sidecars) over
  * [[ForkFreeRawLocalFileSystem]], as `LocalFileSystem` is over the
  * stock raw filesystem. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext`
  * filesystem over [[ForkFreeRawLocalFileSystem]], as
  * `org.apache.hadoop.fs.local.LocalFs` is over the stock one. Like it,
  * it always binds `file:///`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** The raw `FileContext` side; mirrors `org.apache.hadoop.fs.local.RawLocalFs`. */
private[sources] class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {

  override def getUriDefaultPort: Int = -1

  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()

  @deprecated("as the overridden method", "Hadoop 2.x")
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()

  override def isValidName(src: String): Boolean = true
}
