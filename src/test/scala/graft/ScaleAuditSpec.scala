package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.{DataType, StructType}

import ScaleAudit._

/** The scale-audit harness: its gate logic as pure functions, one
  * end-to-end `plan` audit on the committed testdata, the extras' run
  * order, and (in a child JVM, because they stop sessions) the
  * isolating `spot100` audit's scratch reclaim and report.
  */
class ScaleAuditSpec extends SparkSpec {

  private val Sf0001 = "/root/testdata/sf0.001"
  private val Sf001 = "/root/testdata/sf0.01"

  /** Runs [[ScaleAuditChild]] with its own Spark local dir and
    * java.io.tmpdir; its output must end in CHILD_DONE.
    */
  private def child(args: String*): Unit = {
    val (local, tmp) = (Scratch.dir("audit_child_local"), Scratch.dir("audit_child_tmp"))
    val log = tmp.resolveSibling(tmp.getFileName.toString + ".log").toFile
    val pb = new ProcessBuilder(ChildJvm.command(Seq(s"-Djava.io.tmpdir=$tmp"),
      "graft.ScaleAuditChild", args: _*).asJava)
      .redirectErrorStream(true).redirectOutput(log)
    pb.environment().put("SPARK_LOCAL_DIRS", local.toString)
    val proc = pb.start()
    try {
      val exited = proc.waitFor(15, TimeUnit.MINUTES)
      val out = Files.readAllLines(log.toPath).asScala.toSeq
      assert(exited && proc.exitValue() == 0 && out.lastOption.contains("CHILD_DONE"),
        out.takeRight(40).mkString("\n"))
    } finally {
      proc.destroyForcibly()
      Seq(local.toFile, tmp.toFile, log).foreach(Scratch.remove)
    }
  }

  /** Every field path of a JSON report, parents included. */
  private def keyPaths(json: Path): Set[String] = {
    def walk(t: DataType, at: String): Seq[String] = t match {
      case st: StructType => st.fields.toSeq.flatMap { f =>
        val p = if (at.isEmpty) f.name else s"$at.${f.name}"
        p +: walk(f.dataType, p)
      }
      case _ => Nil
    }
    walk(spark.read.option("multiLine", "true").json(json.toString).schema, "").toSet
  }

  private def ops(cp: Int, bnlj: Int): Map[String, Int] =
    JoinOps.map(_ -> 0).toMap ++
      Map("CartesianProduct" -> cp, "BroadcastNestedLoopJoin" -> bnlj)

  test("flip rule: a BNLJ on both sides is no flip; a new BNLJ or any CP is") {
    assert(!flipped(ops(0, 1), ops(0, 1)))
    assert(!flipped(ops(0, 2), ops(0, 1)))
    assert(flipped(ops(0, 1), ops(0, 2)))
    assert(flipped(ops(0, 0), ops(1, 0)))
    assert(flipped(ops(1, 0), ops(1, 0)))
  }

  test("ratio gate: below the noise floor only an explicit ceiling applies") {
    val docs = Specs("docs")
    assert(docs.noiseFloorSec == 0.25 && docs.defaultCeiling == 5.0)
    assert(ceiling(docs, "d1_exact_dedup", 0.30) == 5.0)
    assert(ceiling(docs, "d1_exact_dedup", 0.20).isPosInfinity)
    assert(ceiling(docs, "m3_resize", 0.20) == 6.5)
    assert(ceiling(docs, "m3_resize", 0.30) == 6.5)
    // no floor: the default always applies
    val state = Specs("state")
    assert(ceiling(state, "s17_compaction", 0.01) == 4.0)
    assert(ceiling(state, "st17_stream_topk", 0.01) == 5.0)
    assert(ceiling(state, "i4_join_view_ivm", 0.01) == 5.5)
    assert(ratio(0.0, 3.0) == 0.0 && ratio(2.0, 3.0) == 1.5)
  }

  test("tick medians and flatness exclude tick 0") {
    // tick 0 (stream-start planning) would dominate both if kept
    assert(steady(Seq(50.0, 1.0, 2.0, 3.0)) == Seq(1.0, 2.0, 3.0))
    assert(tickRatio(Seq(50.0, 1.0, 2.0, 3.0), Seq(90.0, 2.0, 4.0, 6.0)) == 2.0)
    val ticks = 100.0 +: (Seq.fill(5)(1.0) ++ Seq.fill(10)(1.5) ++ Seq.fill(5)(2.0))
    assert(flatness(ticks) == 2.0)
    assert(flatness(Seq(9.0)) == 0.0)
    assert(median(Nil) == 0.0)
  }

  test("the report renders ordered JSON; non-finite numbers are null") {
    val json = render(Obj("a" -> 1, "b" -> Double.PositiveInfinity,
      "c" -> Obj("x" -> Seq(0.5, 1.0), "y" -> "q\"s"), "d" -> Map("k" -> true)))
    assert(json ==
      """{"a":1,"b":null,"c":{"x":[0.5000,1.0000],"y":"q\"s"},"d":{"k":true}}""")
  }

  test("plan audit end to end: sf0.001 -> sf0.01 over two q-queries") {
    val out = Scratch.dir("scale_audit").resolve("report.json")
    try {
      val spec = Specs("plan").copy(
        queries = Seq("q1_pricing_summary", "q3_shipping_priority"))
      val code = audit(Some(spark), spec, Sf0001, Sf001, out.toString)
      assert(code == 0)
      val report = spark.read.option("multiLine", "true").json(out.toString)
      assert(report.columns.toSeq == Seq("fails", "gates", "memory_audit",
        "metric", "plan_audit", "protocol", "queries", "total_sf0.1_sec",
        "total_sf1_sec", "wall_ratio", "worst_query"))
      val q = report.select("queries.*")
      assert(q.columns.toSeq == spec.queries)
      val row = report.selectExpr("queries.q3_shipping_priority.*")
      assert(Seq("flip", "ratio_fail", "ops_small", "ops_large")
        .forall(row.columns.contains), row.columns.mkString(","))
      assert(report.selectExpr("fails").head().getLong(0) == 0L)
    } finally java.nio.file.Files.deleteIfExists(out)
  }

  test("first extras run before the rows and the others after, in spec order") {
    val out = Scratch.dir("scale_audit_order").resolve("report.json")
    def mark(key: String, first: Boolean) =
      Extra(key, Seq(s"${key}_const" -> 1), (_, _, _, _) => (Obj("ran" -> true), 0), first)
    val spec = Specs("plan").copy(queries = Seq("q1_pricing_summary"), extras =
      Seq(mark("a", first = true), mark("b", first = false), mark("c", first = true)))
    val printed = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(printed)(audit(Some(spark), spec, Sf0001, Sf001, out.toString))
    assert(code == 0)
    val lines = printed.toString("UTF-8").linesIterator.toSeq
    assert(lines.take(4).map(_.takeWhile(_ != ':')) ==
      Seq("{\"a\"", "{\"c\"", "{\"query\"", "{\"b\""), lines.mkString("\n"))
    val report = new String(Files.readAllBytes(out), "UTF-8")
    val at = Seq("\"fails\"", "\"a\"", "\"c\"", "\"b\"", "\"queries\"").map(report.indexOf(_))
    assert(at.forall(_ >= 0) && at == at.sorted, report)
    assert(Seq("a_const", "b_const", "c_const").forall(report.contains))
  }

  test("an isolated audit reclaims each session's block-manager and Scratch dirs") {
    child("isolation", Sf0001)
  }

  test("spot100 end to end: sf0.001 -> sf0.01 on one row keeps BENCH_SF100's key paths") {
    val q = "j17_temporal_dim_join"
    val out = Scratch.dir("spot100_report").resolve("report.json")
    child("spot100", Sf0001, Sf001, out.toString, q)
    // the report-key migrations CHANGES.md lists: the contract strings
    // moved to ScaleAudit's Spot100Queries doc, DOULION's bound to gates
    val migrated = Set(s"queries.$q.contract", "doulion_accuracy.max_err")
    val committed = keyPaths(java.nio.file.Paths.get("BENCH_SF100.json"))
      .filter(p => !p.startsWith("queries.") || p == s"queries.$q" ||
        p.startsWith(s"queries.$q.")) -- migrated
    val missing = committed -- keyPaths(out)
    assert(missing.isEmpty, missing.toSeq.sorted.mkString(", "))
  }
}
