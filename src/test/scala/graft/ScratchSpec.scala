package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class ScratchSpec extends AnyFunSuite {

  test("a scratch dir that holds files is gone after cleanup") {
    val scratch = new Scratch
    val d = scratch.dir("scratch_spec")
    assert(d.getFileName.toString.startsWith("graft_scratch_spec"))
    Files.createDirectories(d.resolve("t/part=1"))
    Files.writeString(d.resolve("t/part=1/a.parquet"), "x")
    Files.writeString(d.resolve("_committed_v1"), "y")
    val other = scratch.dir("scratch_spec")
    assert(other != d && Files.isDirectory(other))
    scratch.cleanup()
    assert(!Files.exists(d) && !Files.exists(other))
    scratch.cleanup() // nothing left to remove; no error
  }
}
