package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}
import graft.operators.TableStore

/** st9's atomic versioned commit (StreamingOps.applyBatchExactlyOnce)
  * under the failure it exists for: a writer killed BETWEEN the data
  * write and the commit marker. The half-written attempt must be an
  * unreadable orphan, the redelivered batch must re-apply from the
  * last committed version, and double delivery of any batch must be a
  * no-op — the final state always equals the batch aggregate.
  */
class StreamingExactlyOnceSpec extends SparkSpec {

  private def events(rows: (Long, Double)*): DataFrame = {
    import spark.implicits._
    rows.zipWithIndex
      .map { case ((u, v), i) => (i.toLong, u, v) }
      .toDF("event_id", "user_id", "value")
  }

  // private[graft] product code — the spec drives the real path, it
  // does not re-implement it
  private def apply1(path: String, batch: DataFrame, id: Long): Unit =
    graft.queries.StreamingOps.applyBatchExactlyOnce(spark, path, batch, id)

  private def state(path: String): Map[Long, (Long, Double)] =
    TableStore.readVersion(spark, path).collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        r.getDecimal(2).doubleValue())).toMap

  test("writer killed between data write and commit: replay converges, no double-count") {
    val tmp = Scratch.dir("eo_spec")
    val path = tmp.resolve("t").toString
    val b0 = events(1L -> 10.0, 2L -> 5.0)
    val b1 = events(1L -> 2.0, 3L -> 1.0)

    apply1(path, b0, 0L)
    assert(state(path) == Map(1L -> (1L, 10.0), 2L -> (1L, 5.0)))
    val v1 = TableStore.currentVersion(spark, path).get

    // simulate batch 1's writer dying between its data write and its
    // marker creation: the claim and the v=N dir exist, the marker
    // does not (exactly the state publishVersion leaves on that crash)
    val f = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val crashed = v1 + 1
    f.create(new org.apache.hadoop.fs.Path(s"$path/_claim_v$crashed"), false).close()
    import spark.implicits._
    Seq((1L, 99L, BigDecimal(999.0))).toDF("user_id", "n", "total")
      .write.parquet(s"$path/v=$crashed")

    // the torn attempt is invisible: current version is still batch
    // 0's, and the orphan is not readable
    assert(TableStore.currentVersion(spark, path).contains(v1))
    intercept[IllegalArgumentException] {
      TableStore.readVersion(spark, path, Some(crashed))
    }

    // redelivery of batch 1 re-applies from v1 — the torn data
    // contributes NOTHING; the crashed number stays burned
    apply1(path, b1, 1L)
    val after = Map(1L -> (2L, 12.0), 2L -> (1L, 5.0), 3L -> (1L, 1.0))
    assert(state(path) == after)
    val v2 = TableStore.currentVersion(spark, path).get
    assert(v2 > crashed, "the crashed claim's number must not be reused")

    // double delivery of both batches (full-stream replay) is a no-op
    apply1(path, b0, 0L)
    apply1(path, b1, 1L)
    assert(state(path) == after)
    assert(TableStore.currentVersion(spark, path).contains(v2))

    // retention ran inline (keep-last-2) but markers survive: both
    // batch notes are still present exactly once
    val notes = TableStore.committedVersions(spark, path)
      .flatMap(v => TableStore.versionNote(spark, path, v))
    assert(notes.count(_ == "batch:0") == 1)
    assert(notes.count(_ == "batch:1") == 1)
  }

  /** TWO live foreachBatch publishers racing into ONE table through
    * the CAS commit path (applyBatchExactlyOnceCas) — the
    * two-ingest-jobs-one-table shape. Gates: (1) no lost update — the
    * final state equals the combined aggregate of both streams even
    * though stale writers conflict and retry mid-race; (2)
    * exactly-once survives the conflict-retry path — a full
    * fresh-checkpoint replay of one stream re-delivers every batch
    * and changes nothing.
    */
  test("two racing streaming publishers: no lost update, replay is a no-op") {
    import graft.streaming.EventStream
    // regression tripwire for the conf-leak this race once caused:
    // overlapping runForeachBatch calls must leave the session's AQE
    // and shuffle-partition confs exactly as they found them (the
    // refcounted save/restore in EventStream.withStreamConfs; a plain
    // per-call save/restore leaks the first caller's temporary values)
    val confKeys = Seq("spark.sql.adaptive.enabled",
      "spark.sql.shuffle.partitions")
    val confBefore = confKeys.map(k => k -> spark.conf.get(k)).toMap
    val tmp = Scratch.dir("eo_race")
    val path = tmp.resolve("t").toString

    // overlapping user ids so the merged rows genuinely combine both
    // writers' contributions
    val ev1 = events(1L -> 10.0, 2L -> 5.0, 3L -> 2.0, 1L -> 1.0)
    val ev2 = events(2L -> 7.0, 3L -> 4.0, 4L -> 9.0, 2L -> 3.0)
    val stage1 = tmp.resolve("stage1").toString
    val stage2 = tmp.resolve("stage2").toString

    def run(writer: String, stage: String, df: org.apache.spark.sql.DataFrame,
        ckpt: String): Unit =
      EventStream.runForeachBatch(spark,
        EventStream.restageFileStream(spark, df.schema, stage),
        Some(ckpt)) { (batch, bid) =>
        graft.queries.StreamingOps.applyBatchExactlyOnceCas(
          spark, path, batch, writer, bid)
      }

    // stage 3 files each -> 3 micro-batches per writer
    ev1.repartition(3).write.parquet(stage1)
    ev2.repartition(3).write.parquet(stage2)

    val t1 = new Thread(() =>
      run("w1", stage1, ev1, tmp.resolve("ckpt1").toString))
    val t2 = new Thread(() =>
      run("w2", stage2, ev2, tmp.resolve("ckpt2").toString))
    var failure: Option[Throwable] = None
    val h: Thread.UncaughtExceptionHandler = (_, e) => failure = Some(e)
    t1.setUncaughtExceptionHandler(h); t2.setUncaughtExceptionHandler(h)
    t1.start(); t2.start(); t1.join(); t2.join()
    failure.foreach(throw _)

    val want = Map(
      1L -> (2L, 11.0), 2L -> (3L, 15.0), 3L -> (2L, 6.0), 4L -> (1L, 9.0))
    assert(state(path) == want)
    // every (writer, batch) committed exactly once despite the race
    val notes = TableStore.committedVersions(spark, path)
      .flatMap(v => TableStore.versionNote(spark, path, v))
    for (w <- Seq("w1", "w2"); b <- 0 until 3)
      assert(notes.count(_ == s"$w-batch:$b") == 1,
        s"$w batch $b: ${notes.mkString(", ")}")

    // full replay of writer 1 (fresh checkpoint, same staged files):
    // every batch redelivers, every one must be skipped
    val vBefore = TableStore.currentVersion(spark, path)
    run("w1", stage1, ev1, tmp.resolve("ckpt1b").toString)
    assert(state(path) == want)
    assert(TableStore.currentVersion(spark, path) == vBefore)
    val confAfter = confKeys.map(k => k -> spark.conf.get(k)).toMap
    assert(confAfter == confBefore,
      s"racing streams leaked session confs: $confBefore -> $confAfter")
  }
}
