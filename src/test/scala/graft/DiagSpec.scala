package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files

import graft.streaming.EventStream

/** `Diag`'s three modes end to end on sf0.001. */
class DiagSpec extends SparkSpec {

  private val Dir = "/root/testdata/sf0.001"
  private val Qs = Seq("q1_pricing_summary", "st15_stream_join_ivm")

  private def diag(mode: String, rest: String*): Seq[String] = {
    val out = new ByteArrayOutputStream()
    Console.withOut(out)(Diag.run(spark, mode, Qs, Dir, rest))
    out.toString("UTF-8").linesIterator.toSeq
  }

  test("repeat prints one line per iteration") {
    val lines = diag("repeat", "2").filter(_.startsWith("[profile]"))
    assert(lines.size == 4, lines)
    for (q <- Qs; i <- 0 until 2)
      assert(lines.exists(_.matches(s"\\[profile\\] $q iter $i: \\d+\\.\\d{3} s")), lines)
  }

  test("stages lists memory, join operators, stages and st15's spans") {
    val lines = diag("stages", "5")
    val heads = lines.filter(_.startsWith("query="))
    assert(heads.size == 2, lines)
    assert(heads.forall(_.matches(
      "query=\\S+ wall=\\d+\\.\\d{2} peak_task_mb=\\d+\\.\\d spill_mb=\\d+\\.\\d flag=(true|false)")))
    assert(lines.count(_.startsWith("  final-plan joins: BroadcastHashJoin=")) == 2)
    val st15 = lines.dropWhile(!_.startsWith("query=st15_stream_join_ivm"))
    val spans = st15.collect { case l if l.startsWith("  span ") => l.split("\\s+")(2) }
    val ticks = EventStream.ticks(3)
    for (tag <- Seq("init", "diff-stage", "stream", "drain"))
      assert(spans.count(_ == tag) == 1, spans)
    assert(spans.filter(_.startsWith("tick-")).sorted ==
      (0 until ticks).map(b => s"tick-$b").sorted, spans)
    // q1 runs no stream: no spans in its block
    val q1 = lines.dropWhile(!_.startsWith("query=q1_pricing_summary"))
      .takeWhile(!_.startsWith("query=st15"))
    assert(!q1.exists(_.startsWith("  span ")), q1)
  }

  test("plans writes the final and the build plans; st15's has one view delta per tick") {
    val out = Files.createTempDirectory("graft_diag_spec")
    try {
      val lines = diag("plans", out.toString, "_t")
      assert(lines.count(_.startsWith("wrote ")) == 4, lines)
      for (q <- Qs; f <- Seq(s"${q}_t.txt", s"${q}_t.build.txt"))
        assert(Files.exists(out.resolve(f)), f)
      assert(Files.readString(out.resolve("q1_pricing_summary_t.txt"))
        .contains("== Physical Plan =="))
      val build = Files.readString(out.resolve("st15_stream_join_ivm_t.build.txt"))
      val viewDeltas = build.linesIterator
        .count(_.matches("Arguments: file:.*/view/d_[0-9a-f]+, .*"))
      assert(viewDeltas == EventStream.ticks(3), build.take(2000))
    } finally deleteRecursively(out.toFile)
  }
}
