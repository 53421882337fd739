package graft.streaming

import graft.{Scratch, SparkSpec, TestSpark}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming semantics beyond the catalog's oracle checks: the
  * sessionizer running in a REAL streaming query (readStream →
  * flatMapGroupsWithState → memory sink), equal to its batch run.
  */
class EventStreamSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("stream-mode sessionization equals batch-mode sessionization") {
    import TestSpark.spark.implicits._
    val streamed = EventStream.readEvents(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"))
      .as[EventStream.Ev]
    val streamOut = EventStream.runToMemory(spark,
      EventStream.sessionize(streamed, 30).toDF(),
      s"sess_stream_${System.nanoTime()}", OutputMode.Append())
      .orderBy("user_id", "session_start").collect()

    val batch = graft.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("ts"), col("user_id"))
      .as[EventStream.Ev]
    val batchOut = EventStream.sessionize(batch, 30).toDF()
      .orderBy("user_id", "session_start").collect()

    assert(streamOut.length == batchOut.length && streamOut.length > 0)
    assert(streamOut.map(_.toString).toSeq == batchOut.map(_.toString).toSeq)
  }

  test("windowed agg emits every window under Complete mode") {
    val out = EventStream.runToMemory(spark,
      EventStream.dailyWindowedAgg(EventStream.readEvents(spark, sf)),
      s"win_${System.nanoTime()}", OutputMode.Complete())
    val nDays = graft.Tables.load(spark, sf, "events")
      .select(to_date(col("ts"))).distinct().count()
    assert(out.select("win_start").distinct().count() == nDays)
  }

  test("sequencedFileStream replays parts as micro-batches in the given order") {
    // the contract st8's watermark choreography stands on: part i is
    // batch i. Tag each part, record per-batch contents via
    // foreachBatch, assert batch -> part is the identity.
    import TestSpark.spark.implicits._
    val tmp = Scratch.dir("seqspec")
    val parts = Seq(0, 1, 2).map(i => Seq((i, s"part$i")).toDF("part", "tag"))
    val stream = EventStream.sequencedFileStream(spark, parts,
      tmp.resolve("stage").toString)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    EventStream.runForeachBatch(spark, stream) { (batch, id) =>
      batch.collect().foreach(r => seen.synchronized {
        seen += ((id, r.getInt(0)))
      })
    }
    assert(seen.sortBy(_._1).map(_._2).toSeq == Seq(0, 1, 2),
      s"parts arrived out of order: $seen")
  }
}
