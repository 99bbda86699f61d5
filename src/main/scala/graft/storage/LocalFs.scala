package graft.storage

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's local filesystem without a process per call.
  *
  * Without `libhadoop`, `RawLocalFileSystem` forks `chmod` for every file
  * and directory it creates with a permission, and `readlink` for every
  * `getFileLinkStatus`, which every FileContext rename makes (the state
  * store's and the offset/commit logs' atomic renames). Each fork holds
  * its thread for a few milliseconds. These classes do both calls
  * through `java.nio.file` and leave everything else (the `.crc` sidecars,
  * rename semantics, the checkpoint managers) to the stock code.
  */
object LocalFs {

  /** Points `conf`'s `file:` scheme, for both the FileSystem and the
    * FileContext API, at the in-process classes. Steps aside, returning
    * false, when native IO is present (its calls fork nothing) or when
    * either key already names something other than Hadoop's default or
    * these classes. With neither key set, a Spark distribution that
    * bundles hive-exec resolves `file:` through the service loader to
    * Hive's `ProxyLocalFileSystem`, whose `rename` onto an existing file
    * returns false; after the install such a rename overwrites, as
    * Hadoop's own `LocalFileSystem` does.
    */
  def install(conf: Configuration): Boolean = {
    val keys = Seq(
      ("fs.file.impl", classOf[LocalFileSystem], classOf[InProcessLocalFileSystem]),
      ("fs.AbstractFileSystem.file.impl", classOf[org.apache.hadoop.fs.local.LocalFs],
        classOf[InProcessLocalFs]))
    val userSet = keys.exists { case (k, stock, ours) =>
      Option(conf.get(k)).exists(v => v != stock.getName && v != ours.getName)
    }
    val install = !userSet && !NativeIO.isAvailable
    if (install) keys.foreach { case (k, _, ours) => conf.set(k, ours.getName) }
    install
  }

  private[storage] lazy val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The rwx bits of `mode` (owner, group, others; bit 8 = owner read). */
  private[storage] def posixBits(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.iterator
      .filter(p => (mode & (1 << (8 - p.ordinal))) != 0).toSet.asJava
}

/** `RawLocalFileSystem` whose chmod and link lookup run in process. */
class InProcessRawLocalFileSystem extends RawLocalFileSystem {

  /** The sticky bit and non-POSIX hosts keep the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!permission.getStickyBit && LocalFs.posix)
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        LocalFs.posixBits(permission.toShort))
    else super.setPermission(p, permission)

  /** For a path that is not a symbolic link the stock code returns
    * `getFileStatus(f)` after its `readlink` fork finds no target; links
    * keep the stock path.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed FileSystem-API wrapper (`fs.file.impl`). */
class InProcessLocalFileSystem extends LocalFileSystem(new InProcessRawLocalFileSystem)

/** The FileContext raw layer; the four overrides are `RawLocalFs`'s. */
class InProcessRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new InProcessRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  @deprecated("as in RawLocalFs", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed FileContext wrapper (`fs.AbstractFileSystem.file.impl`),
  * which Spark's default checkpoint manager and the state store use.
  * `AbstractFileSystem.get` constructs it from (URI, Configuration); like
  * `LocalFs` it ignores the URI.
  */
class InProcessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new InProcessRawLocalFs(conf))
