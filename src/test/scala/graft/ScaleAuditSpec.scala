package graft

import ScaleAudit._

/** The scale-audit harness: its gate logic as pure functions, and one
  * end-to-end `plan` audit on the committed testdata.
  */
class ScaleAuditSpec extends SparkSpec {

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
    val out = java.nio.file.Files.createTempFile("graft_scale_audit", ".json")
    try {
      val spec = Specs("plan").copy(
        queries = Seq("q1_pricing_summary", "q3_shipping_priority"))
      val code = audit(spark, spec, "/root/testdata/sf0.001",
        "/root/testdata/sf0.01", out.toString)
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
}
