package graft.sources

import java.nio.file.Files

import graft.{Scratch, SparkSpec, TestSpark}
import graft.operators.TableStore
import org.apache.spark.sql.functions._

/** The table-changefeed streaming source — `readStream
  * .format("graft-table")`, the same source name every other read path
  * uses (the legacy standalone provider was retired in round 13):
  * committed versions arrive as micro-batches in commit order with
  * `_version` stamps; orphan (markerless) publishes are invisible;
  * versions published while the stream runs surface at the next poll;
  * a checkpointed restart resumes from the committed offset with no
  * redelivery; a live RESERVATION (slow checkpoint publisher) holds
  * the frontier for as long as its heartbeat runs, then delivers in
  * order.
  */
class ChangefeedSourceSpec extends SparkSpec {

  test("changefeed: commit-ordered versions, orphan invisibility, live pickup, checkpointed resume") {
    import TestSpark.spark.implicits._
    val tmp = Scratch.dir("changefeed")
    val path = tmp.resolve("t").toString
    val ckpt = tmp.resolve("ckpt").toString

    val v1 = TableStore.publishVersion(spark, path,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), note = "snap")
    val v2 = TableStore.publishVersion(spark, path,
      Seq((4L, "d"), (5L, "e")).toDF("k", "v"), note = "delta")
    // a crashed publish: data files land, the marker never does —
    // the feed must not see it
    Seq((99L, "ORPHAN")).toDF("k", "v")
      .write.parquet(s"$path/v=${v2 + 1}")

    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long, String)]()
    // grace 0: the orphan below is DEAD by construction in this test;
    // the in-flight hold behavior has its own test
    def startStream() = spark.readStream
      .format("graft-table")
      .option("uncommittedGraceMs", "0")
      .load(path)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = batch.select(col("_version"), col("k"), col("v"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        seen.synchronized { seen ++= rows }: Unit
      }
      .start()

    val q = startStream()
    try {
      q.processAllAvailable()
      val initial = seen.synchronized(seen.toSet)
      assert(initial == Set(
        (v1, 1L, "a"), (v1, 2L, "b"), (v1, 3L, "c"),
        (v2, 4L, "d"), (v2, 5L, "e")),
        s"initial replay wrong (orphan leaked?): $initial")

      // live pickup: a version published while the stream runs
      // (claims the number after the burned orphan dir)
      val v4 = TableStore.publishVersion(spark, path,
        Seq((6L, "f")).toDF("k", "v"), note = "live")
      q.processAllAvailable()
      val afterLive = seen.synchronized(seen.toSet)
      assert(afterLive == initial + ((v4, 6L, "f")), afterLive.toString)
    } finally q.stop()

    // checkpointed resume: no redelivery of consumed versions
    seen.synchronized(seen.clear())
    val v5 = TableStore.publishVersion(spark, path,
      Seq((7L, "g")).toDF("k", "v"), note = "after-restart")
    val q2 = startStream()
    try {
      q2.processAllAvailable()
      val resumed = seen.synchronized(seen.toSet)
      assert(resumed == Set((v5, 7L, "g")),
        s"restart must resume from the committed offset, got: $resumed")
    } finally q2.stop()
  }

  test("maxVersionsPerTrigger=1: a multi-commit replay arrives as one batch per version") {
    import TestSpark.spark.implicits._
    val tmp = Scratch.dir("changefeed_adm")
    val path = tmp.resolve("t").toString
    val v1 = TableStore.publishVersion(spark, path, Seq((1L, "a")).toDF("k", "v"))
    val v2 = TableStore.publishVersion(spark, path, Seq((2L, "b")).toDF("k", "v"))
    val v3 = TableStore.publishVersion(spark, path, Seq((3L, "c")).toDF("k", "v"))
    val batches = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val q = spark.readStream
      .format("graft-table")
      .option("maxVersionsPerTrigger", "1")
      .load(path)
      .writeStream
      .option("checkpointLocation", tmp.resolve("ckpt").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val vs = batch.select("_version").collect().map(_.getLong(0)).toSet
        batches.synchronized { if (vs.nonEmpty) batches += vs }: Unit
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = batches.synchronized(batches.toList)
    assert(got == List(Set(v1), Set(v2), Set(v3)),
      s"each commit must admit as its own bounded batch: $got")
  }

  test("stable frontier: a slow publisher's number is held while young, delivered when it commits, skipped when dead") {
    import TestSpark.spark.implicits._
    val tmp = Scratch.dir("changefeed_frontier")
    val path = tmp.resolve("t").toString
    val v1 = TableStore.publishVersion(spark, path, Seq((1L, "a")).toDF("k", "v"))
    // a slow claim-based publisher holds the next number: claim file
    // exists (young), marker not yet landed
    val slowV = v1 + 1
    val claim = new java.io.File(s"$path/_claim_v$slowV")
    assert(claim.createNewFile())
    // a faster publisher commits the number AFTER the held one
    val v3 = TableStore.publishVersion(spark, path, Seq((3L, "c")).toDF("k", "v"))
    assert(v3 == slowV + 1, s"fixture: expected $slowV held, got v3=$v3")

    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long, String)]()
    val q = spark.readStream
      .format("graft-table")
      .option("uncommittedGraceMs", "3600000")
      .load(path)
      .writeStream
      .option("checkpointLocation", tmp.resolve("ckpt").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = batch.select("_version", "k", "v")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        seen.synchronized { seen ++= rows }: Unit
      }
      .start()
    try {
      q.processAllAvailable()
      // the feed must HOLD below the young in-flight number — v3 is
      // committed but delivering it would permanently skip slowV
      assert(seen.synchronized(seen.toSet) == Set((v1, 1L, "a")),
        s"frontier must hold below a young uncommitted number: $seen")
      // the slow publisher finally commits: data dir + marker, claim
      // removed (the publishVersion commit sequence)
      Seq((2L, "b")).toDF("k", "v").write.parquet(s"$path/v=$slowV")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$path/_committed_v$slowV"),
        "late".getBytes("UTF-8"))
      assert(claim.delete())
      q.processAllAvailable()
      assert(seen.synchronized(seen.toSet) == Set(
        (v1, 1L, "a"), (slowV, 2L, "b"), (v3, 3L, "c")),
        s"late commit must deliver IN ORDER with the held successor: $seen")
      // a DEAD number (aged claim) is skipped: the feed advances past
      val deadV = v3 + 1
      val deadClaim = new java.io.File(s"$path/_claim_v$deadV")
      assert(deadClaim.createNewFile())
      assert(deadClaim.setLastModified(System.currentTimeMillis() - 7200000L))
      val v5 = TableStore.publishVersion(spark, path, Seq((5L, "e")).toDF("k", "v"))
      assert(v5 == deadV + 1)
      q.processAllAvailable()
      assert(seen.synchronized(seen.toSet).contains((v5, 5L, "e")),
        s"an aged (dead) claim must not wedge the feed: $seen")
    } finally q.stop()
  }

  test("reserved slot: a heartbeating reservation holds the frontier past the grace, then delivers in order") {
    import TestSpark.spark.implicits._
    // heartbeat every 50 ms, feed grace 400 ms: a crashed claim ages
    // out well inside the test, while a LIVE reservation's claim mtime
    // is refreshed faster than the grace can ever expire — the exact
    // slow-checkpoint-publisher case the frontier rule must not skip
    sys.props("graft.reservation.heartbeat.ms") = "50"
    try {
      val tmp = Scratch.dir("changefeed_reserved")
      val path = tmp.resolve("t").toString
      val v1 = TableStore.publishVersion(spark, path,
        Seq((1L, "a")).toDF("k", "v"))
      // a checkpoint-style reservation: number taken now, bytes later
      val slot = TableStore.reserveVersion(spark, path)
      assert(slot == v1 + 1)
      // a later tick commits ABOVE the reservation while it rewrites
      val v3 = TableStore.publishVersion(spark, path,
        Seq((3L, "c")).toDF("k", "v"))
      assert(v3 == slot + 1)
      val seen = scala.collection.mutable.ArrayBuffer[(Long, Long, String)]()
      val q = spark.readStream
        .format("graft-table")
        .option("uncommittedGraceMs", "400")
        .load(path)
        .writeStream
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = batch.select("_version", "k", "v")
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
          seen.synchronized { seen ++= rows }: Unit
        }
        .start()
      try {
        q.processAllAvailable()
        // wait FAR past the grace: without the heartbeat the claim's
        // fixed reservation-time mtime would age out and the frontier
        // would advance past the slot — v3 delivered, slot burned
        Thread.sleep(900)
        q.processAllAvailable()
        assert(seen.synchronized(seen.toSet) == Set((v1, 1L, "a")),
          s"frontier must hold below a live (heartbeating) reservation: $seen")
        // the checkpoint rewrite finishes: the reserved slot commits
        TableStore.publishReserved(spark, path, slot,
          Seq((2L, "b")).toDF("k", "v"), note = "checkpoint")
        q.processAllAvailable()
        assert(seen.synchronized(seen.toSet) == Set(
          (v1, 1L, "a"), (slot, 2L, "b"), (v3, 3L, "c")),
          s"published reservation must deliver in version order: $seen")
      } finally q.stop()
    } finally { sys.props.remove("graft.reservation.heartbeat.ms"); () }
  }

  test("additive upstream evolution mid-stream: new columns are invisible, declared columns keep flowing") {
    import TestSpark.spark.implicits._
    val tmp = Scratch.dir("changefeed_drift")
    val path = tmp.resolve("t").toString
    val v1 = TableStore.publishVersion(spark, path, Seq((1L, "a")).toDF("k", "v"))
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long, String)]()
    val q = spark.readStream
      .format("graft-table")
      .load(path)
      .writeStream
      .option("checkpointLocation", tmp.resolve("ckpt").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // the stream's schema is the DECLARED one from stream start —
        // a drifted producer must not break a running consumer
        assert(batch.columns.toSeq == Seq("k", "v", "_version"))
        val rows = batch.select("_version", "k", "v")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        seen.synchronized { seen ++= rows }: Unit
      }
      .start()
    try {
      q.processAllAvailable()
      // the producer evolves additively mid-stream (s14's discipline):
      // a new column appears in the next commit's files
      val v2 = TableStore.publishVersion(spark, path,
        Seq((2L, "b", 99L)).toDF("k", "v", "extra"))
      q.processAllAvailable()
      val got = seen.synchronized(seen.toSet)
      assert(got == Set((v1, 1L, "a"), (v2, 2L, "b")),
        s"declared columns must keep flowing through the drifted commit: $got")
    } finally q.stop()
  }
}
