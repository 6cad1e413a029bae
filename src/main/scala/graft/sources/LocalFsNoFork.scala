package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` that answers its two per-file shell-outs in the
  * JVM. Without libhadoop (NativeIO), the stock class runs `chmod` for
  * every file it creates (`setPermission`) and `readlink` for every
  * `getFileLinkStatus`, which `FileContext.rename` calls twice per file.
  * Each is a forked process through `org.apache.hadoop.util.Shell`.
  *
  * The results are the stock ones:
  *   - `setPermission` is a `chmod(2)` of the same rwx bits. The cases
  *     the JDK call cannot express go to `super`: the sticky bit, and a
  *     directory carrying setuid/setgid (GNU `chmod 0755` keeps those
  *     bits on a directory; the JDK call would clear them).
  *   - `getFileLinkStatus` of a path that is no symlink is its
  *     `getFileStatus`, which is what the stock code returns once
  *     `readlink` prints nothing. A symlink goes to `super`, which also
  *     keeps the stock quirk that a scheme-qualified path (`file:/x`)
  *     never reads as a link, because `readlink` gets `file:/x`. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (permission.getStickyBit || keepsSetId(file)) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(permission.toString))
  }

  private def keepsSetId(file: java.nio.file.Path): Boolean =
    Files.isDirectory(file) &&
      (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xc00) != 0 // 06000

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** Hadoop's `org.apache.hadoop.fs.local.RawLocalFs` over
  * [[NoForkRawLocalFileSystem]], with the same three overrides. */
class NoForkRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NoForkRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's checksummed `org.apache.hadoop.fs.local.LocalFs`, the
  * `FileContext` file system of the `file` scheme, over
  * [[NoForkRawLocalFs]]. Registered under
  * `fs.AbstractFileSystem.file.impl` in [[graft.GraftSession]], so
  * Spark's `FileContextBasedCheckpointFileManager` writes streaming
  * checkpoints (offset and commit logs, state-store deltas) with the
  * same bytes, `.crc` twins, permissions and atomic rename as before,
  * without starting a process per file. `AbstractFileSystem.get`
  * instantiates it through this `(URI, Configuration)` constructor. */
class LocalFsNoFork(uri: URI, conf: Configuration) extends ChecksumFs(new NoForkRawLocalFs(conf))
