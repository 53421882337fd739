package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming over the `events` table (SURVEY.md §2.10: the
  * reference is batch-incremental, so this is the beyond-parity stream
  * layer — `readStream` → event-time transforms → sink).
  *
  * The parquet file source replays the table as a stream with
  * `Trigger.AvailableNow`; the same code runs unchanged against a live
  * directory of arriving files (or a queue source) on a cluster. State
  * is keyed by `user_id`, so it scales with the shuffle: watermarks
  * bound the windowed-agg state, and sessionization state is one small
  * buffer per active user.
  */
object EventStream {

  /** Stream the events table. The file source needs an explicit
    * schema; rather than hard-code one, take it from the parquet
    * footer via a batch read (footer-only, no data scan) — the
    * driver's physical `ts` type has drifted across testdata
    * generations (nanos-long → TIMESTAMP(µs)), and a pinned schema
    * silently misreads the data when it drifts again (round 6: raw
    * micros read as nanos collapsed every window 1000×).
    * [[graft.Tables.normalizeTs]] then gives the same session-zoned
    * TimestampType the batch path sees.
    */
  def readEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val footerSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
    graft.Tables.normalizeTs(
      spark.readStream
        .schema(footerSchema)
        // the file source wants a directory; filter to the events table
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir))
  }

  /** A genuinely MULTI-batch replay: the file source admits whole
    * files per micro-batch (a single file is never split), so the
    * events are staged as `nFiles` parquet files and streamed with
    * maxFilesPerTrigger=1 → one micro-batch per file. This is the
    * shape that actually exercises cross-batch state/merge logic — a
    * single-batch replay makes any per-batch bug invisible — and it
    * mirrors production, where files land over time.
    */
  def stagedFileStream(spark: SparkSession, events: DataFrame,
      stageDir: String, nFiles: Int): DataFrame = {
    events.repartition(nFiles).write.parquet(stageDir)
    restageFileStream(spark, events.schema, stageDir)
  }

  /** Tick-count knob for scale audits: the `graft.state.ticks` system
    * property replays the same changelog
    * over that many micro-batches instead of a query's default —
    * tick-split invariance (IvmJoinSpec et al.) makes the maintained
    * result identical under any split, so only the per-tick cost
    * profile changes. `ScaleAudit state` sets it to double the tick
    * count at 10× data, stretching the fold chains across ≥2
    * compaction checkpoints.
    */
  def ticks(default: Int): Int =
    sys.props.get("graft.state.ticks").map(_.toInt).getOrElse(default)

  /** Re-attach a one-file-per-micro-batch reader to an ALREADY-staged
    * dir — the crash-recovery replay shape (fresh checkpoint, same
    * files, same batch order) st9 uses to prove its ledger.
    */
  def restageFileStream(spark: SparkSession, schema: StructType,
      stageDir: String): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stageDir)

  /** Stage `parts` as ONE parquet file each with strictly increasing
    * modification times, so the file source (maxFilesPerTrigger=1,
    * oldest-first ordering by (modTime, path)) replays them as
    * micro-batches IN THE GIVEN ORDER. [[stagedFileStream]] leaves
    * batch order to the file lister — fine for commutative merges,
    * wrong for watermark choreography: flushing outer-join / timeout
    * state needs the punctuation batches to arrive LAST. Times are
    * spaced 60 s apart (well past ext4 mtime granularity) and within
    * the source's maxFileAge window of each other.
    */
  def sequencedFileStream(spark: SparkSession, parts: Seq[DataFrame],
      stageDir: String): DataFrame = {
    val dir = new java.io.File(stageDir)
    dir.mkdirs()
    // a reused stage dir would interleave stale epoch-mtime parts into
    // the replay and silently break the batch-order contract — fail as
    // loudly as the mtime error below
    val stale = Option(dir.listFiles()).getOrElse(Array.empty)
    require(stale.isEmpty,
      s"sequencedFileStream: stage dir $stageDir is not empty " +
        s"(${stale.take(3).map(_.getName).mkString(", ")}…) — pass a fresh dir")
    parts.zipWithIndex.foreach { case (df, i) =>
      val tmp = s"$stageDir-tmp-$i"
      df.coalesce(1).write.parquet(tmp)
      val tmpDir = new java.io.File(tmp)
      val src = tmpDir.listFiles().find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written under $tmp"))
      val dest = new java.io.File(dir, f"part-$i%03d.parquet")
      java.nio.file.Files.move(src.toPath, dest.toPath)
      if (!dest.setLastModified((i + 1) * 60000L))
        sys.error(s"cannot set mtime on $dest")
      tmpDir.listFiles().foreach(_.delete())
      tmpDir.delete()
    }
    spark.readStream
      .schema(parts.head.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
  }

  /** Tumbling daily windowed aggregation with a 1-hour watermark.
    * Complete output mode so every window is emitted even at the tail
    * of a replay (append would hold back unclosed windows).
    */
  def dailyWindowedAgg(events: DataFrame): DataFrame = {
    import graft.queries.dsum
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long)
  final case class Session(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long)

  /** Gap-based sessionization via flatMapGroupsWithState: events within
    * `gapMinutes` of the previous event (per user) share a session.
    *
    * The state buffer holds only the current open session per user;
    * with AvailableNow replay all of a user's events arrive before the
    * group call ends, so every session can be emitted eagerly. On a
    * continuous stream the open session would instead be flushed by an
    * event-time timeout — the state shape is already right for that.
    */
  def sessionize(events: Dataset[Ev], gapMinutes: Int): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, it: Iterator[Ev], state: GroupState[List[Ev]]) => {
          val buffered = state.getOption.getOrElse(Nil) ++ it.toList
          val sorted = buffered.sortBy(e => (e.ts.getTime, e.event_id))
          state.update(Nil)
          val sessions = scala.collection.mutable.ListBuffer.empty[Session]
          var start: Ev = null
          var last: Ev = null
          var n = 0L
          sorted.foreach { e =>
            if (start == null) { start = e; last = e; n = 1 }
            else if (e.ts.getTime - last.ts.getTime > gapMs) {
              sessions += Session(userId, start.ts, last.ts, n)
              start = e; last = e; n = 1
            } else { last = e; n += 1 }
          }
          if (start != null) sessions += Session(userId, start.ts, last.ts, n)
          sessions.iterator
        })
  }

  /** At-least-once delivery repair (SURVEY §2.10 I5): drop duplicate
    * event_ids as they stream through. State is BOUNDED by the
    * watermark (`dropDuplicatesWithinWatermark`) — plain
    * `dropDuplicates` would hold every key ever seen, which on an
    * unbounded stream is an OOM, not an operator. First occurrence is
    * emitted immediately (append mode); re-deliveries inside the
    * watermark horizon are swallowed.
    */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Run a streaming DataFrame to completion into an in-memory table
    * and return the result (AvailableNow = process everything queued,
    * then stop — the batch-replay trigger).
    *
    * Stateful operators pin `spark.sql.shuffle.partitions` into the
    * checkpoint at first run, and every micro-batch pays state-store
    * snapshot+commit I/O PER PARTITION regardless of row count — so the
    * state partitioning should be sized to state volume, not to the
    * session's scan parallelism. These replays hold a few MB of state;
    * 4 partitions cuts the fixed checkpoint cost ~8x vs inheriting the
    * session's 32. On a real cluster this is the same knob, sized up.
    */
  def runToMemory(spark: SparkSession, streamed: DataFrame, name: String,
      mode: OutputMode): DataFrame = {
    withStreamConfs(spark) {
      val q = streamed.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(name)
  }

  /** Run a stream to completion through foreachBatch — the sink shape
    * for streaming incremental materialized views (each micro-batch
    * merges its delta into a stored table). Same state-partitioning
    * discipline as [[runToMemory]]. Each micro-batch body records as
    * a [[graft.QueryProfile.tick]] span (`ScaleAudit ticks`' walls).
    */
  def runForeachBatch(spark: SparkSession, streamed: DataFrame,
      checkpoint: Option[String] = None)(
      fn: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit): Unit =
    withStreamConfs(spark) {
      val ticked: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
        (df, bid) => graft.QueryProfile.tick(bid)(fn(df, bid))
      val base = streamed.writeStream
        .foreachBatch(ticked)
        .trigger(Trigger.AvailableNow())
      // an explicit checkpoint makes the run RESUMABLE: a later run
      // with the same location continues from the committed offsets
      // instead of redelivering (st14's contract; st9 deliberately
      // uses fresh checkpoints to force the redelivery it proves safe)
      val q = checkpoint.fold(base)(c => base.option("checkpointLocation", c))
        .start()
      q.awaitTermination()
    }

  /** The micro-batch session confs, applied REFERENCE-COUNTED: the
    * first concurrent stream run saves the true previous values and
    * applies the stream settings; the last one out restores. A plain
    * save/set/restore per call is wrong the moment two streams
    * overlap on one session (the multi-writer race test does exactly
    * that): the second entrant would snapshot the FIRST's temporary
    * values as its "previous" state and restore them after the first
    * already put the real ones back — leaking `aqe=false` into the
    * shared session for the rest of the JVM (observed as
    * order-dependent PlanSpec flakes).
    *
    * The confs themselves: stateful operators pin 4 shuffle
    * partitions (state-store snapshot+commit I/O is per partition per
    * micro-batch; these replays hold a few MB of state), and AQE is
    * off because micro-batch maintenance plans are small repeated
    * shapes where per-exchange replanning only charges a scheduling
    * round-trip per stage per tick.
    */
  private val StreamConfs =
    Map("spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "false")
  private val streamConfLock = new Object
  private var streamConfDepth = 0
  private var streamConfSaved: Map[String, String] = Map.empty

  private def withStreamConfs[A](spark: SparkSession)(body: => A): A = {
    streamConfLock.synchronized {
      if (streamConfDepth == 0) {
        streamConfSaved = StreamConfs.keys.map(k => k -> spark.conf.get(k)).toMap
        StreamConfs.foreach { case (k, v) => spark.conf.set(k, v) }
      }
      streamConfDepth += 1
    }
    try body
    finally streamConfLock.synchronized {
      streamConfDepth -= 1
      if (streamConfDepth == 0)
        streamConfSaved.foreach { case (k, v) => spark.conf.set(k, v) }
    }
  }
}
