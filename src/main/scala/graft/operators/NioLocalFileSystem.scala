package graft.operators

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem with one change. Without
  * Hadoop's native library, `RawLocalFileSystem.setPermission` forks a
  * `chmod` process, and every data file, `.crc` file and directory the
  * store creates pays for one (~1.5 ms each). Here the same POSIX mode
  * is set in-process through `java.nio`. A sticky-bit mode (which
  * `java.nio` cannot express) or a store without POSIX attributes
  * takes Hadoop's own path. Checksums stay on: this is still a
  * [[LocalFileSystem]].
  *
  * `getFileLinkStatus` of a path that is not a symbolic link is its
  * plain `getFileStatus`, where Hadoop forks `readlink` first to find
  * out; a symbolic link still takes Hadoop's own path.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

    override def getFileLinkStatus(p: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
      else getFileStatus(p)
  }

  /** The same filesystem for `FileContext` (what Structured Streaming's
    * checkpoint files go through): Hadoop's checksummed `LocalFs`
    * shape, over [[Raw]] where `LocalFs` wraps a plain
    * `RawLocalFileSystem`.
    */
  final class Fs(uri: java.net.URI, conf: Configuration) extends ChecksumFs(new RawFs(uri, conf))

  private final class RawFs(uri: java.net.URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }

  /** The nine rwx bits of `permission` (the enum runs from owner read
    * down to others execute, the bits from 0400 down to 0001).
    */
  private def posix(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (bit, i) =>
      if ((permission.toShort & (0x100 >> i)) != 0) set.add(bit)
    }
    set
  }

  /** Makes this the `file:` filesystem of `conf` unless `fs.file.impl`
    * is already set there, and [[Fs]] its `FileContext` one unless
    * `fs.AbstractFileSystem.file.impl` is set beyond Hadoop's own
    * default. Hadoop caches one filesystem per scheme for the whole
    * process, so the first takes effect only if it runs before
    * anything opens a `file:` path; a `FileContext` reads its key
    * each time it is made.
    */
  def install(conf: Configuration): Unit = {
    if (conf.getTrimmed("fs.file.impl", "").isEmpty)
      conf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
    val afs = "fs.AbstractFileSystem.file.impl"
    if (Option(conf.getPropertySources(afs)).forall(_.forall(_ == "core-default.xml")))
      conf.set(afs, classOf[Fs].getName)
  }
}
