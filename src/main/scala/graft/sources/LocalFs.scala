package graft.sources

import java.net.URI
import java.nio.file.{Files, FileSystems}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without the child processes it starts
  * when Hadoop's native library is absent.
  *
  *  - `setPermission` starts a `chmod` for every file create, for the
  *    file's `.crc` twin and for every `mkdirs`: about 2 ms each from a
  *    2 GB JVM, against 0.01-0.02 ms for `Files.setPosixFilePermissions`.
  *    The mode bits set are the same. Like the native library's
  *    `chmod(2)`, this leaves no set-group-ID bit on a directory. A sticky
  *    bit, which `PosixFilePermission` cannot express, and a file system
  *    without POSIX modes keep Hadoop's own path.
  *  - `getFileLinkStatus` starts a `readlink` to learn whether the path is
  *    a symlink, four times per `FileContext` rename (source and target,
  *    each with its `.crc`). A path that is not a symlink has the status
  *    `getFileStatus` gives it; a symlink keeps Hadoop's own path.
  */
class InProcessRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !InProcessRawLocalFileSystem.posix)
      super.setPermission(p, permission)
    // from the mode bits: a `FileContext` mkdir passes an FsCreateModes,
    // whose toString is not the `rwxr-x---` form
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(new FsPermission(permission.toShort).toString))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object InProcessRawLocalFileSystem {
  private val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
}

/** The `fs.file.impl` of graft's sessions: Hadoop's checksummed
  * `LocalFileSystem` over [[InProcessRawLocalFileSystem]]. `.crc` files
  * are written and verified as before.
  */
class InProcessLocalFileSystem
    extends LocalFileSystem(new InProcessRawLocalFileSystem)

/** The `fs.AbstractFileSystem.file.impl` of graft's sessions: the
  * `FileContext` twin of [[InProcessLocalFileSystem]]. Spark's streaming
  * checkpoint files and graft's atomic small-file renames go through
  * `FileContext`, which does not use `fs.file.impl`. Hadoop's own
  * `LocalFs`, minus the raw file system it is built on.
  */
class InProcessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new InProcessRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` over [[InProcessRawLocalFileSystem]]. */
class InProcessRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new InProcessRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  // the local file system's own rules apply, as in RawLocalFileSystem
  override def isValidName(src: String): Boolean = true
}
