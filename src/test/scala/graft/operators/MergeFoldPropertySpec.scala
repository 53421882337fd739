package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.{Scratch, SparkSpec, TestSpark}

/** Property test for the storage layer — the IvmJoinPropertySpec
  * discipline applied to [[TableStore.mergeClauses]] composed with
  * FOLD tables: a random script of three-clause MERGEs runs against
  * (a) the stored table through mergeClauses, and (b) a local
  * reference model replaying SQL MERGE semantics row by row; after
  * every step the stored table must equal the model, AND a parallel
  * fold table fed the model's signed deltas (compacted at random
  * points, retention applied) must fold back to the same state. The
  * script generator covers every clause interaction: matched+delete,
  * matched+update (replace and accumulate), not-matched insert, and
  * keys that leave and re-enter the table across merges.
  */
class MergeFoldPropertySpec extends SparkSpec {
  import TestSpark.spark.implicits._

  /** One MERGE's parameters: key-unique source rows, the delete
    * modulus (src_v % m == 0 deletes), and whether update replaces or
    * accumulates.
    */
  private case class MergeOp(src: List[(Long, Long)], m: Long, replace: Boolean)

  /** SQL MERGE semantics on the model state. */
  private def applyModel(state: Map[Long, Long], op: MergeOp): Map[Long, Long] =
    op.src.foldLeft(state) { case (st, (k, sv)) =>
      st.get(k) match {
        case Some(_) if sv % op.m == 0 => st - k
        case Some(v) => st + (k -> (if (op.replace) sv else v + sv))
        case None => st + (k -> sv)
      }
    }

  test("random MERGE scripts: stored table == model; fold-table replay folds to the same state") {
    val spark = TestSpark.spark
    val key = Gen.choose(0L, 7L)
    val value = Gen.choose(1L, 30L)
    val genOp = for {
      n <- Gen.choose(1, 5)
      ks <- Gen.pick(n, 0L to 7L)
      vs <- Gen.listOfN(n, value)
      m <- Gen.oneOf(2L, 3L, 5L)
      replace <- Gen.oneOf(true, false)
    } yield MergeOp(ks.toList.zip(vs), m, replace)
    val gen = for {
      init <- Gen.mapOfN(4, Gen.zip(key, value))
      script <- Gen.listOfN(4, genOp)
      compactAfter <- Gen.listOfN(4, Gen.oneOf(true, false))
    } yield (init, script, compactAfter)

    val prop = Prop.forAll(gen) { case (init, script, compactAfter) =>
      val base = Scratch.dir("mergeprop").toString
      val tPath = base + "/t"
      val fPath = base + "/fold"
      TableStore.overwrite(init.toSeq.toDF("k", "v"), tPath)
      TableStore.publishFoldSnapshot(spark, fPath, init.toSeq.toDF("k", "v"))

      def stored(): Map[Long, Long] = TableStore.read(spark, tPath)
        .as[(Long, Long)].collect().toMap
      def folded(): Map[Long, Long] = TableStore.readFolded(spark, fPath)
        .select("k", "v").as[(Long, Long)].collect().toMap

      var model = init
      val steps = script.zip(compactAfter).zipWithIndex.map {
        case ((op, compact), i) =>
          TableStore.mergeClauses(spark, tPath, op.src.toDF("k", "v"),
            Seq("k"),
            deleteWhen = col("src_v") % op.m === 0,
            updateSet = Map("v" ->
              (if (op.replace) col("src_v") else col("v") + col("src_v"))),
            insertRow = Map("k" -> col("k"), "v" -> col("src_v")))
          val next = applyModel(model, op)
          // the fold table ingests the model's signed delta for the
          // same step (the changelog a CDC tap on the merge would emit)
          val delta = ((next.toSet diff model.toSet).toSeq.map {
            case (k, v) => (k, v, 1L) } ++
            (model.toSet diff next.toSet).toSeq.map {
              case (k, v) => (k, v, -1L) })
          if (delta.nonEmpty)
            TableStore.publishFoldDelta(spark, fPath,
              delta.toDF("k", "v", "_mult"), s"step$i")
          if (compact) {
            TableStore.compactFold(spark, fPath, s"ck$i")
            TableStore.currentVersion(spark, fPath).foreach { cur =>
              TableStore.dropVersionsBelow(spark, fPath,
                TableStore.foldAnchor(spark, fPath, cur))
            }
          }
          model = next
          val (s, f) = (stored(), folded())
          Prop(s == model && f == model) :|
            s"step $i: stored=$s folded=$f model=$model op=$op"
      }
      steps.reduce(_ && _)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }
}
