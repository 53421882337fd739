package graft

import java.io.File
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

/** Scratch directories: each [[dir]] is a new `graft_<name>*` directory
  * under `java.io.tmpdir`, removed with everything in it by [[cleanup]]
  * (`File.deleteOnExit` removes only empty directories).
  */
final class Scratch {
  private val made = new ConcurrentLinkedQueue[Path]()

  def dir(name: String): Path = {
    val d = Files.createTempDirectory(s"graft_$name")
    made.add(d)
    d
  }

  /** Removes every directory [[dir]] made that still exists. */
  def cleanup(): Unit = Iterator.continually(made.poll()).takeWhile(_ != null)
    .foreach(d => Scratch.remove(d.toFile))
}

/** The JVM's scratch: its directories are removed at JVM exit. */
object Scratch {
  private val jvm = new Scratch
  sys.addShutdownHook(jvm.cleanup())

  def dir(name: String): Path = jvm.dir(name)

  /** Removes every directory [[dir]] and [[table]] made so far. */
  def cleanup(): Unit = jvm.cleanup()

  /** A not-yet-existing path in a new scratch dir, for a writer that
    * creates its own table directory. */
  def table(name: String): String = dir(name).resolve("t").toString

  /** Removes `f` and everything under it; a symlink is removed, not followed. */
  def remove(f: File): Unit = {
    if (!Files.isSymbolicLink(f.toPath)) Option(f.listFiles()).foreach(_.foreach(remove))
    f.delete(); ()
  }
}
