package graft.operators

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem with one change. Without
  * Hadoop's native library, `RawLocalFileSystem.setPermission` forks a
  * `chmod` process, and every data file, `.crc` file and directory the
  * store creates pays for one (~1.5 ms each). Here the same POSIX mode
  * is set in-process through `java.nio`. A sticky-bit mode (which
  * `java.nio` cannot express) or a store without POSIX attributes
  * takes Hadoop's own path. Checksums stay on: this is still a
  * [[LocalFileSystem]].
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
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
    * is already set there. Hadoop caches one filesystem per scheme for
    * the whole process, so this takes effect only if it runs before
    * anything opens a `file:` path.
    */
  def install(conf: Configuration): Unit =
    if (conf.getTrimmed("fs.file.impl", "").isEmpty)
      conf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
}
