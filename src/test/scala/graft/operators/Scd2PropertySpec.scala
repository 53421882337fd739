package graft.operators

import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.{Scratch, SparkSpec, TestSpark}

/** Property test for [[TableStore.scd2Upsert]]: for arbitrary
  * monotone batch sequences over a small key space, the stored
  * history must equal an in-memory reference fold of the SCD2 rules.
  * The reference model is ~15 lines of obvious sequential code — if
  * the distributed join formulation ever disagrees with it (null
  * keys, re-sent values, interleaved change/no-op), this fails with
  * the exact divergent history.
  */
class Scd2PropertySpec extends SparkSpec {

  private type Version = (Option[String], String, Option[String]) // v, from, to

  /** Reference fold: one open version per key; close-on-change. */
  private def model(batches: Seq[(String, Map[Option[Long], Option[String]])])
      : Map[Option[Long], List[Version]] = {
    var hist = Map.empty[Option[Long], List[Version]].withDefaultValue(Nil)
    batches.foreach { case (date, rows) =>
      rows.foreach { case (k, v) =>
        hist(k).zipWithIndex.find(_._1._3.isEmpty) match {
          case Some(((ov, of, _), i)) if ov != v =>
            hist += k -> (hist(k).updated(i, (ov, of, Some(date)))
              :+ ((v, date, None: Option[String])))
          case None =>
            hist += k -> (hist(k) :+ ((v, date, None: Option[String])))
          case _ => () // open version equal: no-op
        }
      }
    }
    hist.filter(_._2.nonEmpty)
  }

  test("scd2Upsert equals the sequential reference fold on random batch sequences") {
    import TestSpark.spark.implicits._
    val keyGen: Gen[Option[Long]] =
      Gen.frequency(5 -> Gen.choose(1L, 4L).map(Some(_)), 1 -> Gen.const(None))
    val valGen: Gen[Option[String]] =
      Gen.frequency(4 -> Gen.oneOf("a", "b", "c").map(Some(_)), 1 -> Gen.const(None))
    val batchGen: Gen[Map[Option[Long], Option[String]]] =
      Gen.mapOf(Gen.zip(keyGen, valGen)).map(_.take(4))
    val seqGen: Gen[List[Map[Option[Long], Option[String]]]] =
      Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, batchGen))
    val dates = Seq("2024-01-01", "2024-02-01", "2024-03-01", "2024-04-01")

    val created = scala.collection.mutable.ListBuffer.empty[java.io.File]
    val prop = Prop.forAll(seqGen) { batches =>
      val dir = Scratch.dir("scd2prop")
      created.synchronized { created += dir.toFile }
      val p = dir.toString + "/t"
      val dated = batches.zip(dates)
      dated.foreach { case (rows, date) =>
        if (rows.nonEmpty) {
          val df = rows.toSeq.map { case (k, v) =>
            (k.map(Long.box).orNull, v.orNull)
          }.toDF("k", "v")
          TableStore.scd2Upsert(spark, p, df, Seq("k"), Seq("v"),
            java.sql.Date.valueOf(date))
        }
      }
      val expected = model(dated.filter(_._1.nonEmpty).map { case (r, d) => (d, r) })
      val got =
        if (!TableStore.exists(spark, p)) Map.empty[Option[Long], List[Version]]
        else TableStore.read(spark, p).collect().toList
          .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
            (Option(r.getString(1)), r.getDate(2).toString,
              Option(r.getDate(3)).map(_.toString))))
          .groupBy(_._1).view
          .mapValues(_.map(_._2).sortBy(v => (v._2, v._3.getOrElse("9999"))))
          .toMap
      val want = expected.view
        .mapValues(_.sortBy(v => (v._2, v._3.getOrElse("9999")))).toMap
      Prop(got == want) :| s"got=$got want=$want"
    }
    // delete every per-iteration dir (parquet history + __staged/__old
    // remnants) — repeated local runs must not accumulate /tmp garbage
    val res =
      try SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
      finally created.foreach(Scratch.remove)
    assert(res.passed, res.status.toString)
  }
}
