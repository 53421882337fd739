package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.{Scratch, SparkSpec, TestSpark}

/** Property test for RESERVED-SLOT checkpoints under retention — the
  * protocol st15/i4's compaction ticks run (s50 gates one happy path;
  * this drives random interleavings):
  *
  *   reserve (pin fold input at `at`) → late deltas commit ABOVE the
  *   slot → backfill (publishReserved of the pinned state) → retention
  *   (dropVersionsBelow the CURRENT fold anchor) → readers at pinned
  *   versions.
  *
  * Invariants gated after EVERY step, for every generated interleaving
  * (multiple outstanding reservations, backfills in any order,
  * retention between any two steps, reservations cancelled instead of
  * published):
  *
  *   1. readFolded(current) equals the model multiset — late deltas
  *      are never anchored out of the fold by a checkpoint that
  *      commits behind them, because version ORDER (not commit wall
  *      time) carries the anchor invariant;
  *   2. the current fold anchor never sits below the retention floor —
  *      retention reclaims only versions the current chain can never
  *      reference again;
  *   3. every pinned reader AT or ABOVE the retention floor still
  *      reads exactly the state it pinned (its own anchor is ≥ the
  *      floor too — the "no interleaving can anchor a fold below a
  *      reclaimed version" property). Pins below the floor are
  *      outside the retention contract (the standard lakehouse
  *      tradeoff) and are not read.
  */
class ReservedSlotPropertySpec extends SparkSpec {
  import TestSpark.spark.implicits._

  private sealed trait Op
  private case class Delta(rows: List[(Long, Long)]) extends Op // (k, ±1)
  private case object Reserve extends Op
  private case class Backfill(cancel: Boolean) extends Op
  private case object Retain extends Op
  private case object Pin extends Op

  private def fold(m: Map[Long, Long], rows: Seq[(Long, Long)]): Map[Long, Long] =
    rows.foldLeft(m) { case (st, (k, d)) => st + (k -> (st.getOrElse(k, 0L) + d)) }

  private def visible(m: Map[Long, Long]): Map[Long, Long] =
    m.filter(_._2 > 0)

  /** Resolve a generated row into a MULTISET-VALID signed row: fold
    * tables model true multisets (every committed version nets >= 0 on
    * every tuple — the invariant the maintenance ticks preserve, and
    * the reason readFolded's `_mult > 0` filter loses nothing at a
    * checkpoint), so a generated retraction lands on a currently-
    * positive key (the generated one if positive, else the smallest
    * positive key), and degrades to an insert when nothing is
    * retractable. Deterministic given (script, state).
    */
  private def resolve(m: Map[Long, Long], rows: Seq[(Long, Long)])
      : Seq[(Long, Long)] =
    rows.foldLeft((m, List.empty[(Long, Long)])) {
      case ((st, acc), (k, d)) =>
        val row =
          if (d > 0) (k, 1L)
          else if (st.getOrElse(k, 0L) > 0) (k, -1L)
          else st.filter(_._2 > 0).keys.minOption match {
            case Some(kk) => (kk, -1L)
            case None => (k, 1L)
          }
        (fold(st, Seq(row)), row :: acc)
    }._2.reverse

  test("random reserve/delta/backfill/retain interleavings never anchor a fold below a reclaimed version") {
    val spark = TestSpark.spark
    val genDelta = for {
      n <- Gen.choose(1, 3)
      ks <- Gen.listOfN(n, Gen.choose(0L, 5L))
      ss <- Gen.listOfN(n, Gen.oneOf(1L, -1L))
    } yield Delta(ks.zip(ss))
    val genOp: Gen[Op] = Gen.frequency(
      5 -> genDelta,
      2 -> Gen.const(Reserve),
      3 -> Gen.oneOf(Backfill(cancel = false), Backfill(cancel = false),
        Backfill(cancel = true)),
      2 -> Gen.const(Retain),
      2 -> Gen.const(Pin))
    val gen = for {
      init <- Gen.listOfN(3, Gen.choose(0L, 5L))
      script <- Gen.listOfN(10, genOp)
    } yield (init, script)

    val prop = Prop.forAll(gen) { case (init, script) =>
      val path = Scratch.table("resprop")
      var model: Map[Long, Long] = fold(Map.empty, init.map(_ -> 1L))
      TableStore.publishFoldSnapshot(spark, path,
        init.map(k => (k, 1L)).toDF("k", "_mult"), "v0")
      // outstanding reservations: (slot, state pinned at reserve time)
      var pending = List.empty[(Long, Map[Long, Long])]
      // pinned readers: (version, expected state at that version)
      var pins = List.empty[(Long, Map[Long, Long])]
      var floor = 0L // highest keepFrom retention has run with

      def folded(upTo: Option[Long] = None): Map[Long, Long] =
        TableStore.readFolded(spark, path, upTo)
          .select("k", "_mult").as[(Long, Long)].collect().toMap

      def cur: Long = TableStore.currentVersion(spark, path).get

      // NOTE: all invariant checks are evaluated STRICTLY here into
      // failure strings. Building labeled Props inline and combining
      // with && would DEFER the right-hand construction (Prop.&& takes
      // its operand by name), so conditions and labels referencing the
      // mutable model/floor/pins would silently read their FINAL
      // values at Prop application time instead of the step's.
      val failures = scala.collection.mutable.ListBuffer.empty[String]
      script.zipWithIndex.foreach { case (op, i) =>
        op match {
          case Delta(raw) =>
            val rows = resolve(model, raw)
            TableStore.publishFoldDelta(spark, path,
              rows.toDF("k", "_mult"), s"step$i")
            model = fold(model, rows)
          case Reserve =>
            val at = cur
            val slot = TableStore.reserveVersionAfter(spark, path, at)
            pending = pending :+ (slot -> visible(model))
          case Backfill(cancel) if pending.nonEmpty =>
            // pop in RANDOM effective order: the generator's mix of
            // deltas between Reserve and Backfill is the interleaving
            val ((slot, pinned) :: rest) = pending: @unchecked
            pending = rest
            if (cancel) TableStore.cancelReservation(spark, path, slot)
            else TableStore.publishReserved(spark, path, slot,
              pinned.toSeq.toDF("k", "_mult"), s"checkpoint$i"): Unit
          case Backfill(_) => () // nothing outstanding
          case Retain =>
            val anchor = TableStore.foldAnchor(spark, path, cur)
            TableStore.dropVersionsBelow(spark, path, anchor)
            floor = math.max(floor, anchor)
            // pins below the floor leave the retention contract
            pins = pins.filter(_._1 >= floor)
          case Pin =>
            pins = pins :+ (cur -> visible(model))
        }
        val anchorNow = TableStore.foldAnchor(spark, path, cur)
        val now = folded()
        if (now != visible(model))
          failures += s"step $i($op): folded=$now model=${visible(model)}"
        if (anchorNow < floor)
          failures += s"step $i($op): current anchor $anchorNow below retention floor $floor"
        pins.foreach { case (v, expect) =>
          val pinAnchor = TableStore.foldAnchor(spark, path, v)
          val got = folded(Some(v))
          if (pinAnchor < floor || got != expect)
            failures += s"step $i($op): pin v=$v anchor=$pinAnchor floor=$floor got=$got expect=$expect"
        }
      }
      // drain what's left: every outstanding reservation publishes its
      // pinned state; the final fold must still equal the model
      pending.foreach { case (slot, pinned) =>
        TableStore.publishReserved(spark, path, slot,
          pinned.toSeq.toDF("k", "_mult"), "final-backfill"): Unit
      }
      val fin = folded()
      if (fin != visible(model))
        failures += s"after final backfills: folded=$fin model=${visible(model)}"
      Prop(failures.isEmpty) :| ("OK" +: failures.toList).mkString(" | ")
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }
}
