package graft.operators

import graft.{SparkSpec, TestSpark}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TOP-K IVM (i7's operator): inserts fold as pure array expressions;
  * deletes that hit the stored top-k rescan ONLY their group; deletes
  * strictly below the stored k-th fold through untouched. Every edge
  * of the classification is pinned against recompute.
  */
class IvmTopKSpec extends SparkSpec {
  import TestSpark.spark.implicits._

  private val K = 2

  private def base(rows: (Long, Double, Long)*): DataFrame =
    rows.toDF("g", "v", "id")

  private def changesOf(del: Seq[(Long, Double, Long)],
      ins: Seq[(Long, Double, Long)]): DataFrame =
    (del.map { case (g, v, id) => (g, v, id, "delete") } ++
      ins.map { case (g, v, id) => (g, v, id, "insert") })
      .toDF("g", "v", "id", "_change_type")

  private def viewSet(df: DataFrame): Set[(Long, Seq[(Double, Long)])] =
    df.select(col("g"), col("topk")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[org.apache.spark.sql.Row](1).map(s =>
          (s.getDouble(0), s.getLong(1))).toSeq)).toSet

  private def check(v1: DataFrame, v2: DataFrame, del: Seq[(Long, Double, Long)],
      ins: Seq[(Long, Double, Long)]): Unit = {
    val view1 = Ivm.aggregateTopK(v1, Seq("g"), "v", "id", K)
    val maintained = Ivm.applyDeltaTopK(view1, changesOf(del, ins), v2,
      Seq("g"), "v", "id", K)
    val recomputed = Ivm.aggregateTopK(v2, Seq("g"), "v", "id", K)
    assert(viewSet(maintained) == viewSet(recomputed),
      s"maintained ${viewSet(maintained)} vs recomputed ${viewSet(recomputed)}")
  }

  test("insert entering the top-k displaces the k-th without a rescan") {
    val v1 = base((1L, 10.0, 1L), (1L, 8.0, 2L), (1L, 6.0, 3L))
    val v2 = base((1L, 10.0, 1L), (1L, 8.0, 2L), (1L, 6.0, 3L), (1L, 9.0, 4L))
    check(v1, v2, Nil, Seq((1L, 9.0, 4L)))
  }

  test("insert below the stored k-th leaves the view untouched") {
    val v1 = base((1L, 10.0, 1L), (1L, 8.0, 2L))
    val v2 = base((1L, 10.0, 1L), (1L, 8.0, 2L), (1L, 1.0, 9L))
    check(v1, v2, Nil, Seq((1L, 1.0, 9L)))
  }

  test("delete of a stored member rescans and pulls the runner-up in") {
    val v1 = base((1L, 10.0, 1L), (1L, 8.0, 2L), (1L, 6.0, 3L), (1L, 4.0, 4L))
    val v2 = base((1L, 10.0, 1L), (1L, 6.0, 3L), (1L, 4.0, 4L))
    check(v1, v2, Seq((1L, 8.0, 2L)), Nil)
  }

  test("delete strictly below the stored k-th folds through (no rescan, no change)") {
    val v1 = base((1L, 10.0, 1L), (1L, 8.0, 2L), (1L, 6.0, 3L))
    val v2 = base((1L, 10.0, 1L), (1L, 8.0, 2L))
    check(v1, v2, Seq((1L, 6.0, 3L)), Nil)
    // ...and the incremental path really is taken: a rescan against a
    // WRONG newBase would corrupt the view, the fold-through must not
    val view1 = Ivm.aggregateTopK(v1, Seq("g"), "v", "id", K)
    val poisonBase = base((1L, 999.0, 99L))
    val m = Ivm.applyDeltaTopK(view1, changesOf(Seq((1L, 6.0, 3L)), Nil),
      poisonBase, Seq("g"), "v", "id", K)
    assert(viewSet(m) == Set((1L, Seq((10.0, 1L), (8.0, 2L)))),
      "a below-k delete must not touch the base at all")
  }

  test("a delta touching more groups than maxDeltaRows is refused before it reaches the driver") {
    val v1 = base((1L, 10.0, 1L), (2L, 5.0, 2L), (3L, 7.0, 3L))
    val v2 = base((1L, 10.0, 1L), (1L, 9.0, 4L), (2L, 5.0, 2L), (2L, 6.0, 5L),
      (3L, 7.0, 3L))
    val view1 = Ivm.aggregateTopK(v1, Seq("g"), "v", "id", K)
    val changes = changesOf(Nil, Seq((1L, 9.0, 4L), (2L, 6.0, 5L)))
    sys.props("graft.ivm.maxDeltaRows") = "1"
    try {
      val ex = intercept[IllegalStateException] {
        Ivm.applyDeltaTopK(view1, changes, v2, Seq("g"), "v", "id", K)
      }
      assert(ex.getMessage.contains("MICRO-BATCH-SIZED"), ex.getMessage)
      assert(ex.getMessage.contains("graft.ivm.maxDeltaRows"), ex.getMessage)
    } finally sys.props -= "graft.ivm.maxDeltaRows"
    // two touched groups fit a bound of two, and the default passes too
    sys.props("graft.ivm.maxDeltaRows") = "2"
    try check(v1, v2, Nil, Seq((1L, 9.0, 4L), (2L, 6.0, 5L)))
    finally sys.props -= "graft.ivm.maxDeltaRows"
    check(v1, v2, Nil, Seq((1L, 9.0, 4L), (2L, 6.0, 5L)))
  }

  test("emptied group vanishes; group born this tick appears; same-tick birth+shrink rescans") {
    val v1 = base((1L, 10.0, 1L), (2L, 5.0, 2L))
    // group 2 emptied; group 3 born with two inserts and one delete
    val v2 = base((1L, 10.0, 1L), (3L, 7.0, 5L))
    check(v1, v2,
      del = Seq((2L, 5.0, 2L), (3L, 3.0, 6L)),
      ins = Seq((3L, 7.0, 5L), (3L, 3.0, 6L)))
  }

  test("property: maintained == recomputed for random states, drops, and births") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val baseGen = for {
      n <- Gen.choose(0, 8)
      gs <- Gen.listOfN(n, Gen.choose(1L, 3L))
      vs <- Gen.listOfN(n, Gen.choose(10, 13).map(_.toDouble))
    } yield gs.zip(vs).zipWithIndex.map { case ((g, v), i) => (g, v, i + 1L) }
    val gen = for {
      before <- baseGen
      keep <- Gen.listOfN(8, Gen.oneOf(true, false))
      m <- Gen.choose(0, 4)
      ngs <- Gen.listOfN(m, Gen.choose(1L, 3L))
      nvs <- Gen.listOfN(m, Gen.choose(10, 13).map(_.toDouble))
    } yield {
      val kept = before.zip(keep).collect { case (r, true) => r }
      val born = ngs.zip(nvs).zipWithIndex.map { case ((g, v), i) =>
        (g, v, 100L + i) }
      (before, kept ++ born, before.diff(kept), born)
    }
    val prop = Prop.forAll(gen) { case (before, after, dropped, born) =>
      val view1 = Ivm.aggregateTopK(base(before: _*), Seq("g"), "v", "id", K)
      val maintained = Ivm.applyDeltaTopK(view1, changesOf(dropped, born),
        base(after: _*), Seq("g"), "v", "id", K)
      val recomputed = Ivm.aggregateTopK(base(after: _*), Seq("g"), "v", "id", K)
      val (got, want) = (viewSet(maintained), viewSet(recomputed))
      // ONE row per group, always — the canonical-by-construction
      // contract TableStore.publishFoldSnapshotDistinct relies on
      // (topKTick publishes the maintained frame without a
      // canonicalizing groupBy)
      val rows = maintained.collect()
      val oneRowPerGroup = rows.length ==
        rows.map(_.getAs[Long]("g")).distinct.length
      Prop(got == want && oneRowPerGroup) :|
        s"got=$got want=$want oneRowPerGroup=$oneRowPerGroup before=$before after=$after"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("tie on value breaks by id — stored state is deterministic") {
    val v1 = base((1L, 10.0, 1L), (1L, 10.0, 2L), (1L, 10.0, 3L))
    val view1 = Ivm.aggregateTopK(v1, Seq("g"), "v", "id", K)
    assert(viewSet(view1) == Set((1L, Seq((10.0, 3L), (10.0, 2L)))))
    val v2 = base((1L, 10.0, 1L), (1L, 10.0, 2L), (1L, 10.0, 3L), (1L, 10.0, 4L))
    check(v1, v2, Nil, Seq((1L, 10.0, 4L)))
  }
}
