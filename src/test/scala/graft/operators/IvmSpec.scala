package graft.operators

import graft.{Scratch, SparkSpec, TestSpark}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVM apply semantics: maintained view == recomputed view under every
  * change class, including the cases that break naive merge logic —
  * group-moving updates, groups emptied to zero, groups born in the
  * delta, and an empty changelog.
  */
class IvmSpec extends SparkSpec {

  private def rows(rs: (Long, String, Double)*): DataFrame = {
    import TestSpark.spark.implicits._
    rs.toDF("id", "grp", "amt")
  }

  private def snap(view: DataFrame): Set[(String, Long, BigDecimal)] =
    view.collect()
      .map(r => (r.getString(0), r.getLong(1),
        BigDecimal(r.getDecimal(2)))).toSet

  test("applyDelta == recompute across delete / group-move / empty-group / new-group; empty delta is identity") {
    val p = Scratch.table("ivm")
    val v1Data = rows(
      (1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0), (4L, "c", 40.0))
    // v2: delete 1 (shrinks a), move 3 from b to a (empties b),
    // update 4's amount in place, insert 5 into brand-new group d
    val v2Data = rows(
      (2L, "a", 20.0), (3L, "a", 30.0), (4L, "c", 45.0), (5L, "d", 50.0))
    val v1 = TableStore.publishVersion(spark, p, v1Data)
    val v2 = TableStore.publishVersion(spark, p, v2Data)
    val view1 = Ivm.aggregate(v1Data, Seq("grp"), Seq("amt"))
    val changes = TableStore.changesBetween(spark, p, v1, v2, Seq("id"))
    val maintained =
      Ivm.applyDelta(view1, changes, Seq("grp"), Seq("amt"))
    assert(snap(maintained) ==
      snap(Ivm.aggregate(v2Data, Seq("grp"), Seq("amt"))))
    // group b must be GONE (count 0), not present with a zero row
    assert(!maintained.collect().map(_.getString(0)).contains("b"))
    // empty changelog: the view passes through unchanged
    val none = TableStore.changesBetween(spark, p, v2, v2, Seq("id"))
    assert(snap(Ivm.applyDelta(view1, none, Seq("grp"), Seq("amt"))) ==
      snap(view1))
  }

  test("NULL group keys fold into the null group, not a stranded row (null-safe merge)") {
    import TestSpark.spark.implicits._
    val p = Scratch.table("ivm_null")
    def rowsN(rs: (Long, Option[String], Double)*): DataFrame =
      rs.toDF("id", "grp", "amt")
    // v1: two rows in the NULL group + one in b; v2 deletes one null-
    // group row and reprices the other — the delta must land ON the
    // view's null-group row (groupBy treats NULL keys as one group)
    val v1Data = rowsN((1L, None, 10.0), (2L, None, 20.0), (3L, Some("b"), 30.0))
    val v2Data = rowsN((2L, None, 25.0), (3L, Some("b"), 30.0))
    val v1 = TableStore.publishVersion(spark, p, v1Data)
    val v2 = TableStore.publishVersion(spark, p, v2Data)
    val view1 = Ivm.aggregate(v1Data, Seq("grp"), Seq("amt"))
    val changes = TableStore.changesBetween(spark, p, v1, v2, Seq("id"))
    val maintained = Ivm.applyDelta(view1, changes, Seq("grp"), Seq("amt"))
    val recomputed = Ivm.aggregate(v2Data, Seq("grp"), Seq("amt"))
    assert(snap(maintained) == snap(recomputed),
      s"maintained ${snap(maintained)} vs recomputed ${snap(recomputed)}")
    // exactly ONE null-group row, with the folded values
    assert(maintained.filter(col("grp").isNull).count() == 1)
  }

  test("distinct-count state: multiplicity decrement vs pair emptied (i6's contract)") {
    import TestSpark.spark.implicits._
    val p = Scratch.table("ivm_dst")
    def rowsV(rs: (Long, String, String)*): DataFrame =
      rs.toDF("id", "grp", "v")
    // group a holds value x TWICE and y once; group b holds z once.
    // v2 deletes ONE copy of (a, x) — distinct count must NOT drop —
    // and deletes (b, z) — pair emptied, b vanishes; plus a new value
    // w lands in a.
    val v1Data = rowsV((1L, "a", "x"), (2L, "a", "x"), (3L, "a", "y"),
      (4L, "b", "z"))
    val v2Data = rowsV((2L, "a", "x"), (3L, "a", "y"), (5L, "a", "w"))
    val v1 = TableStore.publishVersion(spark, p, v1Data)
    val v2 = TableStore.publishVersion(spark, p, v2Data)
    val state1 = Ivm.distinctState(v1Data, Seq("grp"), "v")
    val changes = TableStore.changesBetween(spark, p, v1, v2, Seq("id"))
    val state2 = Ivm.applyDelta(state1, changes, Seq("grp", "v"), Nil)
    val got = Ivm.distinctView(state2, Seq("grp"), "v").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // a: values {x, y, w} = 3 distinct over 3 rows; b gone
    assert(got == Map("a" -> (3L, 3L)), s"got $got")
    // and the state still remembers x's multiplicity fell to 1
    val xMult = state2.filter(col("grp") === "a" && col("v") === "x")
      .select("n").collect().map(_.getLong(0)).toSeq
    assert(xMult == Seq(1L))
  }

  test("distinct-count view ignores NULL values (SQL COUNT(DISTINCT) parity)") {
    import TestSpark.spark.implicits._
    def rowsV(rs: (Long, String, Option[String])*): DataFrame =
      rs.toDF("id", "grp", "v")
    // a: {x, NULL, NULL} — 1 distinct over 3 rows; b: {NULL} — 0
    // distinct over 1 row (SQL still emits the group)
    val base = rowsV((1L, "a", Some("x")), (2L, "a", None),
      (3L, "a", None), (4L, "b", None))
    val state = Ivm.distinctState(base, Seq("grp"), "v")
    val got = Ivm.distinctView(state, Seq("grp"), "v").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map("a" -> (1L, 3L), "b" -> (0L, 1L)), s"got $got")
    // the NULL multiplicity rows stay maintainable: deleting one NULL
    // copy adjusts n_rows without touching the distinct count
    val delta = rowsV((2L, "a", None)).withColumn("_change_type", lit("delete"))
    val state2 = Ivm.applyDelta(state, delta, Seq("grp", "v"), Nil)
    val got2 = Ivm.distinctView(state2, Seq("grp"), "v").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got2 == Map("a" -> (1L, 2L), "b" -> (0L, 1L)), s"got $got2")
  }
}
