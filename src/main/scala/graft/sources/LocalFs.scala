package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: Hadoop's `RawLocalFileSystem` without
  * its per-call process forks. Without native `libhadoop`, the stock class
  * runs `chmod` after every mkdir and file create (`setPermission`) and
  * `readlink` on every `getFileLinkStatus`, the call `FileContext` makes
  * before each rename. This class sets the same mode bits through NIO and
  * asks NIO whether a path is a link; everything else, checksums and
  * rename semantics included, is the stock class's.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** The 9 rwx bits through NIO; a mode with any other bit (sticky) takes
    * the stock `chmod`, which NIO cannot express.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
        permission.getOtherAction.SYMBOL))

  /** For a non-link the stock path returns `getFileStatus(f)` once
    * `readlink` comes back empty (and throws its `FileNotFoundException`
    * for a missing path), so only a link needs it.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `FileSystem` over the fork-free raw one
  * (Parquet sinks and sources, the commit protocol, `_SUCCESS`, `.crc`).
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext` view
  * (streaming checkpoints and the HDFS-backed state store), Hadoop's
  * `local.LocalFs` over the fork-free raw filesystem. `AbstractFileSystem`
  * constructs it by reflection with this signature; `uri` is always
  * `file:///`, so, as in Hadoop's, it is not read.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Hadoop's `local.RawLocalFs`, whose constructors are package-private,
  * with its three overrides.
  */
private[sources] class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
