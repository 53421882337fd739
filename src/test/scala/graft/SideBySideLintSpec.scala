package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Spark work runs side by side through one runner, `CallerJobs`: no
  * other main source waits on futures, picks the global pool or
  * captures job properties by hand.
  */
class SideBySideLintSpec extends AnyFunSuite {

  private val Banned = Seq(
    "scala.concurrent.Await" -> """\bAwait\b""".r,
    "the global pool" -> """ExecutionContext\s*\.\s*(Implicits\s*\.\s*)?global""".r,
    "new CallerJobs" -> """new\s+CallerJobs\b""".r)

  test("Await, the global pool and new CallerJobs appear only in CallerJobs.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: no $root")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "CallerJobs.scala")
      .toSeq
    assert(sources.size > 50, s"only ${sources.size} sources under $root")
    val hits = for {
      p <- sources
      (line, n) <- Files.readAllLines(p).asScala.zipWithIndex
      (what, re) <- Banned if re.findFirstIn(line).nonEmpty
    } yield s"${root.relativize(p)}:${n + 1}: $what"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
