package graft.sources

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `file://` without a process per file. Without libhadoop, Hadoop's
  * `RawLocalFileSystem` applies the mode of every file and directory it
  * creates by forking `chmod`, and `getFileLinkStatus` forks `readlink`
  * (which `FileContext` calls on every rename of a streaming checkpoint
  * file). Here the same nine rwx bits go through one `chmod` syscall
  * (`java.nio`), and only a path the OS reports as a symlink reaches the
  * inherited link lookup; for any other path that lookup already returns
  * `getFileStatus(f)`. Files, bytes, `.crc` files and modes stay what the
  * stock class writes. Every `file://`-backed FileSystem in the engine
  * extends this class (`LocalFsSpec` lints it).
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0 || !posix) super.setPermission(p, permission) // sticky bit
    else Files.setPosixFilePermissions(pathToFile(p).toPath, rwx(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The nine low mode bits, owner read first, in `PosixFilePermission`'s order. */
  private def rwx(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode >> (8 - i) & 1) != 0) set.add(p)
    }
    set
  }
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over the fork-free raw one. */
class GraftLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` side (Spark's
  * streaming checkpoint): Hadoop's `LocalFs`, a `ChecksumFs` over
  * `RawLocalFs`, with the fork-free raw filesystem underneath. The
  * overrides are `RawLocalFs`'s own.
  */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })
