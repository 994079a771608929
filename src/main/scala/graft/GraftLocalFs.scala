package graft

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's raw local file system without its per-call process spawns.
  *
  * Without the native Hadoop library, `RawLocalFileSystem` forks `chmod`
  * for every permission it sets (each file create, its `.crc`, each
  * directory) and `readlink` for every link-status check (each
  * `FileContext.rename`, so each streaming checkpoint commit). A JFR
  * `jdk.ProcessStart` recording over 13 q158 calls counted 1,275 `chmod`
  * and 728 `readlink` spawns; in a 3 GB JVM a local create with its `.crc`
  * took 10–14 ms, `FileUtil.readLink` 3.5–4.9 ms and one `FileContext.rename`
  * 36–43 ms. This class changes exactly those two calls:
  *   - `setPermission` sets the same nine POSIX bits in-process through
  *     `java.nio`;
  *   - `getFileLinkStatus` of a path that is not a symlink is its
  *     `getFileStatus`, which is what Hadoop returns after `readlink`
  *     printed nothing.
  * Symlinks, the sticky bit, a loaded native library (which already
  * spawns nothing) and file systems without a POSIX attribute view take
  * Hadoop's own code. Everything else (checksums, rename, listing,
  * status) is Hadoop's.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    if (NativeIO.isAvailable || !GraftLocalFs.posix || permission.getStickyBit ||
        Files.isSymbolicLink(f)) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(f, GraftLocalFs.posixBits(permission))
  }

  override def getFileLinkStatus(p: Path): FileStatus =
    if (!GraftLocalFs.posix || Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** The `FileSystem` face of the `file` scheme (`fs.file.impl`): Hadoop's
  * `LocalFileSystem`, which writes and verifies the `.crc` files, over
  * [[GraftRawLocalFileSystem]].
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** The `FileContext` face of the `file` scheme
  * (`fs.AbstractFileSystem.file.impl`, what Spark's streaming checkpoints
  * commit through): Hadoop's `LocalFs` shape, `ChecksumFs` over a
  * `DelegateToFileSystem`, with [[GraftRawLocalFileSystem]] underneath.
  */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` over [[GraftRawLocalFileSystem]], with its three
  * overrides: no default port, the local server defaults, and every name
  * valid.
  */
class GraftRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new GraftRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("Hadoop's own deprecation; use getServerDefaults(Path)", "3.0")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

object GraftLocalFs {
  /** Whether the platform's default file system has POSIX permissions. */
  lazy val posix: Boolean = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The nine rwx bits of `permission` (`toShort`, so the umask a create
    * applied is already in it), in `chmod`'s order: owner, group, others.
    */
  def posixBits(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort
    val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
      if ((mode & (1 << (8 - i))) != 0) bits.add(b)
    }
    bits
  }
}
