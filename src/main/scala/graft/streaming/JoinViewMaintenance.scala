package graft.streaming

import graft.operators.{Ivm, TableStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable, crash-safe streaming JOIN-view maintenance (st15's loop,
  * extracted so a spec can crash it mid-tick and prove resume).
  *
  * All three states — the join view and BOTH base tables — live as
  * [[TableStore]] FOLD tables (log-structured versions on the same
  * publish substrate): each tick publishes only the SIGNED DELTA of
  * each state — O(batch) written per tick, the property that makes
  * versioned maintenance viable when the view is 100 TB (rewriting
  * the full state per micro-batch, the copy-on-write alternative, is
  * O(state) write amplification). Every [[CompactEvery]] ticks a full
  * snapshot checkpoint resets the fold chain and lets retention drop
  * history — exactly Delta Lake's log + checkpoint design.
  *
  * Each tick's publishes carry the commit note `tick=<batchId>`,
  * which makes the tick a write-ahead-log transaction WITHOUT any
  * extra coordination machinery:
  *
  *   - REDELIVERY (crash after the tick, before the stream checkpoint
  *     committed): every table already holds a `tick=B` version — the
  *     whole tick is skipped. Idempotent. (A redelivered compaction
  *     republish is harmless: the logical state is unchanged.)
  *   - MID-TICK CRASH (between the three publishes): publish order is
  *     view → base A → base B, so a missing table's delta recomputes
  *     from the SAME re-read batch slice — and the view delta, which
  *     needs the bases at B-1, runs only when the view lacks tick B,
  *     in which case the bases (published after it) necessarily still
  *     sit at B-1. Deterministic roll-forward.
  *
  * The commit point of each single publish is TableStore's atomic
  * create-exclusive marker, so a version either exists with its full
  * data or is an unreadable orphan — there is no torn intermediate a
  * reader (or the roll-forward) can observe.
  *
  * Per-tick cost: the delta-broadcast probes of [[Ivm.joinViewDelta]]
  * against the folded bases + three O(batch) delta writes; chain
  * length (read-side fold cost) is bounded by [[CompactEvery]].
  */
object JoinViewMaintenance {

  /** The initial (pre-stream) state is tick -1. */
  val InitTick: Long = -1L

  /** Full-snapshot checkpoint cadence (in ticks). */
  val CompactEvery: Int = 2

  private def note(b: Long) = s"tick=$b"

  private def checkpointNote(b: Long) = s"checkpoint;after=$b"

  /** `Some(N)` for a compaction-checkpoint note `checkpoint;after=N`
    * (possibly delta-prefixed — it never is in practice, but parsing
    * stays total), else None.
    */
  private def checkpointAfter(n: String): Option[Long] = {
    val bare = n.stripPrefix(TableStore.FoldDeltaPrefix)
    val p = "checkpoint;after="
    if (bare.startsWith(p))
      scala.util.Try(bare.stripPrefix(p).toLong).toOption
    else None
  }

  /** Proof that tick `b` committed at `path`: either a version tagged
    * `tick=<b>` (snapshot or fold delta — commit markers survive
    * retention, so this match outlives the version's DATA being
    * reclaimed), or a compaction checkpoint `checkpoint;after=N` with
    * N >= b — a checkpoint is only ever published AFTER every publish
    * of its tick completed, so its note is itself a durable commit
    * record for all ticks <= N. The second rule makes redelivery-
    * after-compaction safe even on a store whose retention ALSO
    * reclaims markers: the checkpoint is the one version retention
    * must keep (it is the fold anchor), so at least one proof always
    * survives.
    */
  def tickVersion(spark: SparkSession, path: String, b: Long): Option[Long] =
    TableStore.committedVersions(spark, path).find { v =>
      TableStore.versionNote(spark, path, v).exists(n =>
        n == note(b) || n == TableStore.FoldDeltaPrefix + note(b) ||
          checkpointAfter(n).exists(_ >= b))
    }

  /** Publish the v0 states: both bases and their join view, tagged
    * tick=-1, as full fold-table snapshots (`_mult`-annotated).
    *
    * `inputsDistinct = true` is the caller's proof that `a` and `b`
    * each hold one row per distinct tuple (a PK-keyed base, a groupBy
    * product): their snapshots then skip the canonicalizing shuffle.
    * The VIEW snapshot always skips it — [[Ivm.joinView]] ends in a
    * groupBy over exactly the view columns, canonical by
    * construction regardless of input duplication.
    */
  def init(spark: SparkSession, viewPath: String, aPath: String,
      bPath: String, a: DataFrame, b: DataFrame, keys: Seq[String],
      inputsDistinct: Boolean = false): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // canonical snapshots: duplicate base rows fold to one weighted
    // row here, so every later read sees the same representation.
    // The three v0 publishes are independent writes — run in parallel
    // (no tick ordering exists yet; the WAL protocol starts at tick 0)
    // base snapshots are KEY-RANGE-CLUSTERED on the join keys: each
    // parquet file then covers a narrow key range, so the per-tick
    // delta-key-range probe predicate (applyTick) prunes the base
    // scan via footer min/max instead of reading the whole state —
    // the keyed-fold-layout lever r15 named. The VIEW snapshot stays
    // unclustered: nothing range-probes it (it is read whole, folded)
    def pubBase(p: String, df: DataFrame): Long =
      if (inputsDistinct)
        TableStore.publishFoldSnapshotDistinct(spark, p, df, note(InitTick),
          clusterBy = keys)
      else TableStore.publishFoldSnapshot(spark, p, df, note(InitTick),
        clusterBy = keys)
    Seq(
      Future(pubBase(aPath, a)),
      Future(pubBase(bPath, b)),
      Future(TableStore.publishFoldSnapshotCanonical(spark, viewPath,
        Ivm.joinView(a, b, keys), note(InitTick)))
    ).foreach(Await.result(_, Duration.Inf))
  }

  /** A changelog slice as the signed fold-delta rows its base table
    * stores. This must be a signed fold, not a keyed delete+insert:
    * the stage split can deliver an update's postimage in an EARLIER
    * tick than its preimage, and a by-key anti-join would then
    * wrongly delete both rows when the preimage arrives. The signed
    * fold is linear — base_t == base_0 ⊎ Σ deltas under any split —
    * exactly the invariant the delta rule needs, and exactly what
    * [[TableStore.readFolded]] computes.
    */
  def baseDelta(delta: DataFrame): DataFrame = delta
    .withColumn("_mult",
      when(col("_change_type").isin("insert", "update_postimage"), lit(1L))
        .otherwise(lit(-1L)))
    .drop("_change_type")

  /** Per-tick cost breakdown (seconds): the view-delta compute+publish
    * job, the two base-delta publishes, and the compaction checkpoint
    * (0 on non-compaction ticks). What's NOT here — the gap between
    * consecutive ticks' applyTick calls — is Structured Streaming's
    * micro-batch machinery (batch planning, file-source listing,
    * offset/commit log writes), measurable as wall minus the summed
    * phases.
    */
  final case class TickCost(batchId: Long, viewSec: Double,
      basesSec: Double, compactSec: Double)

  /** Deferred-checkpoint handle: with one of these, [[applyTick]]
    * hands the compaction tick's full-state rewrite to a background
    * thread instead of blocking the stream on it. The checkpoint's
    * version NUMBER is reserved synchronously at submit time
    * ([[TableStore.reserveVersion]] — O(1) per table), so later
    * ticks' delta commits land ABOVE it no matter when its bytes
    * land, and its fold input is PINNED at the post-tick version —
    * together those make the rewrite completely order-independent:
    * no tick ever waits on it (the round-11 shape drained it before
    * the next tick's commits, a full checkpoint wall on the critical
    * path of tick B+1). Delta Lake's backfilled checkpoints are the
    * same discipline: the log fixes commit order, checkpoint parquet
    * trails behind. The stream's owner drains before the final read;
    * a second submit drains the first (one rewrite in flight per
    * handle).
    *
    * RETENTION is split out of the background task and runs on the
    * DRAINING thread (`andThen`): the background task must never
    * delete version data while a tick's staging jobs may still be
    * scanning it — drains run between ticks (inside a later
    * applyTick, after its commits) or after the stream, when no
    * staging is in flight, so the deletes touch only files nobody
    * references. This is the async-checkpoint discipline of a Delta
    * writer: the transaction log advances synchronously; checkpoint
    * parquet and VACUUM trail behind.
    *
    * A failed background checkpoint rethrows at the NEXT drain —
    * once, never swallowed: drain clears its state BEFORE awaiting,
    * so the first drain reports the failure and the handle stays
    * usable (the next compaction tick submits normally instead of
    * rethrowing the same stale failure forever). The failed
    * checkpoint's retention follow-up is dropped with it — retention
    * is an optimization the next successful checkpoint re-runs, and
    * running it after a failed rewrite would reclaim history the
    * still-unwritten checkpoint was meant to anchor.
    */
  final class AsyncCompactor {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    private[this] var pending: Option[Future[Unit]] = None
    private[this] var followUp: () => Unit = () => ()
    def drain(): Unit = synchronized {
      val p = pending
      val f = followUp
      pending = None
      followUp = () => ()
      p.foreach(Await.result(_, Duration.Inf)) // throws here at most once
      f()
    }
    private[streaming] def submit(body: => Unit)(andThen: => Unit): Unit =
      synchronized {
        drain()
        pending = Some(Future(body)(
          scala.concurrent.ExecutionContext.global))
        followUp = () => andThen
      }
  }

  /** RESERVED-SLOT checkpoints for `checkpointPaths` after tick
    * `batchId`, plus retention on `retainPaths` — the shared
    * compaction block of [[applyTick]] and [[topKTick]]: each table
    * takes its version number NOW (above this tick's commits, below
    * the next tick's — later claims count outstanding claim files)
    * and pins its fold input at the post-tick version, so the rewrite
    * can run on a background thread for as long as it likes: later
    * deltas commit above the reserved slot, the anchor stays below
    * them, and the fold never double-counts (the pinned input
    * excludes them). Version ORDER, not commit wall-time, carries the
    * anchor invariant — no tick ever drains a checkpoint.
    * [[TableStore.reserveVersionAfter]] makes a single-writer
    * violation loud (a commit landing between pin and reservation
    * would be anchored out of the fold), and each reservation
    * heartbeats its claim so a changefeed on these tables holds below
    * the slot for as long as the rewrite runs. The per-table
    * compactions are independent read-fold + full-write jobs and run
    * in parallel; with a compactor, retention runs on the DRAINING
    * thread, after every staging scan that could reference the old
    * files completed — see [[AsyncCompactor]].
    */
  private def reservedCheckpoints(spark: SparkSession,
      checkpointPaths: Seq[String], retainPaths: Seq[String],
      batchId: Long, compactor: Option[AsyncCompactor],
      clusterBy: Map[String, Seq[String]] = Map.empty): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // Pins are taken sequentially; a failure after the first must give
    // the already-taken slots back (cancelReservation stops their
    // heartbeats and deletes the claims) or they beat forever in this
    // JVM and every changefeed on those tables holds its frontier
    // below an orphaned slot. Cancelling is only safe while NO publish
    // has started for them — which holds in both guarded regions: the
    // pin loop itself, and submit() before the checkpoint body is
    // queued (drain() rethrowing a PRIOR tick's failure). Once
    // checkpointAll is running, publishReserved owns each slot's
    // lifecycle (success deletes the claim; failure burns the number).
    val taken = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    def cancelTaken(): Unit = taken.foreach { case (p, _, slot) =>
      try TableStore.cancelReservation(spark, p, slot)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    try checkpointPaths.foreach { p =>
      val at = TableStore.currentVersion(spark, p).getOrElse(sys.error(
        s"compaction tick $batchId at $p before any publish"))
      taken += ((p, at, TableStore.reserveVersionAfter(spark, p, at)))
    } catch { case e: Throwable => cancelTaken(); throw e }
    val pins = taken.toSeq
    def checkpointAll(): Unit = {
      val compacts = pins.map { case (p, at, slot) =>
        // checkpoint snapshots re-establish the keyed layout (init's
        // clustering discipline): one range exchange on a rewrite
        // that already runs OFF the critical path (AsyncCompactor)
        // keeps every later tick's probe predicate able to prune
        def clustered(df: DataFrame): DataFrame =
          clusterBy.get(p).filter(_.forall(df.columns.contains))
            .fold(df)(cols => df.repartitionByRange(cols.map(col): _*)
              .sortWithinPartitions(cols.map(col): _*))
        Future(TableStore.publishReserved(spark, p, slot,
          clustered(TableStore.readFolded(spark, p, Some(at))),
          checkpointNote(batchId)))
      }
      compacts.foreach(Await.result(_, Duration.Inf): Unit)
    }
    def retainAll(): Unit =
      retainPaths.foreach { p =>
        TableStore.currentVersion(spark, p).foreach { cur =>
          TableStore.dropVersionsBelow(spark, p,
            TableStore.foldAnchor(spark, p, cur))
        }
      }
    compactor match {
      case Some(c) =>
        // submit() drains the PREVIOUS checkpoint first and rethrows
        // its failure before this tick's body is queued — this tick's
        // pins have no publish in flight yet, so give them back.
        try c.submit(checkpointAll())(retainAll())
        catch { case e: Throwable => cancelTaken(); throw e }
      case None => { checkpointAll(); retainAll() }
    }
  }

  /** Apply micro-batch `batchId` (deltas `dA`/`dB` in changesBetween
    * shape) to all three stored states — idempotent and roll-forward-
    * safe per the class doc. `afterPublish(path)` is a test seam: the
    * crash spec throws from it to kill the loop between publishes.
    * `onCost` receives the tick's phase timings (bench/diagnostics).
    *
    * The tick is a FUSED staged commit: all three delta WRITES run
    * concurrently (TableStore.stageVersionData — unreferenced dirs,
    * invisible to readers), then the three O(1) commit markers land
    * in WAL order view → A → B (TableStore.commitStagedVersion). The
    * crash invariant lives entirely in the MARKER order, not in when
    * the bytes were written: a crash anywhere before the view marker
    * leaves only orphan staging (vacuum fodder); between markers, the
    * missing tables' deltas recompute from the same re-read batch
    * slice — and the view delta, which needs the bases at B-1, can
    * only be recomputed when its marker is missing, in which case the
    * base markers (laid down after it) are missing too. Staging the
    * base writes under the view's compute (instead of running them
    * after its publish) removes one full Spark-job wall per tick.
    */
  def applyTick(spark: SparkSession, viewPath: String, aPath: String,
      bPath: String, dA: DataFrame, dB: DataFrame, keys: Seq[String],
      batchId: Long, afterPublish: String => Unit = _ => (),
      onCost: TickCost => Unit = _ => (),
      compactor: Option[AsyncCompactor] = None): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val t0 = System.nanoTime()
    val needView = tickVersion(spark, viewPath, batchId).isEmpty
    val stagedView: Option[Future[String]] = if (needView) {
      // bases still sit at tick B-1 here (they publish after the view).
      // `_mult` stays attached: joinViewDelta weights its base probes
      // by it, so a duplicate base row folded to one `_mult=k` row
      // still derives k view rows per matching delta row. The probes
      // read the RAW signed chain (readFoldedUnion), not the folded
      // state: joinViewDelta's probe terms are linear in the base
      // multiplicities and it ends in a groupBy-sum over the view
      // columns, so probing each signed chain row and summing equals
      // probing the folded row (Σ of products == product with the Σ —
      // bilinearity), while the per-tick fold shuffle readFolded
      // would pay on multi-version chains disappears (round-10 st15
      // stage fusion; the same algebra st15's final aggregate already
      // rides). Each chain read is SEMI-FILTERED by the opposing
      // delta's keys before the probe — pushed to the version scans
      // (no groupBy above them now), so a long chain shuffles
      // O(matching rows), not O(state); with a keyed file layout the
      // same predicate prunes the scan.
      val aPrev0 = TableStore.readFoldedUnion(spark, aPath)
      val bPrev0 = TableStore.readFoldedUnion(spark, bPath)
      // no .distinct() on the build side: LeftSemi deduplicates by
      // construction, and the distinct would cost a 2-stage aggregate
      // per tick for a build set that is already batch-sized.
      // The semi-filter is SKIPPED on a bare-snapshot chain (the tick
      // right after a compaction): on one scan the probe's inner join
      // drops non-matching rows for free and the extra semi stages
      // cost more than they save (measured on i4) — the filter pays
      // off only when it prunes a multi-version union.
      def chainLen(p: String): Int = {
        val committed = TableStore.committedVersions(spark, p)
        committed.count(_ >= TableStore.foldAnchor(spark, p, committed.last))
      }
      // delta-key-RANGE predicate on the probe scans (r15 verdict
      // task 3): [min, max] of the opposing delta's first join key,
      // collected as two scalars (one tiny agg job over the
      // batch-sized delta), applied as a plain comparison filter —
      // which, unlike the broadcast semi-join below, PUSHES DOWN to
      // the parquet scans of the chain (no groupBy above them), so on
      // the key-range-clustered snapshot layout (init/checkpoints)
      // footer min/max excludes whole files/row groups and the probe
      // reads O(touched key range), not O(state). Correct because
      // every joinViewDelta term that touches the base is an inner
      // equi-join on `keys`: rows outside the delta's key range
      // cannot match. An EMPTY delta admits nothing (its probe term
      // is empty anyway).
      def rangeFilter(base: DataFrame, d: DataFrame): DataFrame = {
        val k = keys.head
        val r = d.agg(min(col(k)), max(col(k))).head()
        if (r.isNullAt(0)) base.filter(lit(false))
        else base.filter(col(k) >= lit(r.get(0)) && col(k) <= lit(r.get(1)))
      }
      def keyFilter(base: DataFrame, p: String, d: DataFrame): DataFrame = {
        val ranged = rangeFilter(base, d)
        // the semi-join only pays when it prunes a multi-version
        // union; on a bare snapshot the probe's inner join drops
        // non-matching survivors of the range predicate for free
        if (chainLen(p) <= 1) ranged
        else ranged.join(broadcast(d.select(keys.map(col): _*)), keys, "left_semi")
      }
      val aPrev = keyFilter(aPrev0, aPath, dB)
      val bPrev = keyFilter(bPrev0, bPath, dA)
      val viewCols = (aPrev0.columns ++ bPrev0.columns).distinct
        .filterNot(_ == "_mult").toSeq
      val dView = Ivm.joinViewDelta(aPrev, bPrev, dA, dB, keys, viewCols)
        .withColumnRenamed("_dmult", "_mult")
      // evidence seam: the probe plan is internal to the tick (never
      // a catalog query's final frame), so the optimization-round
      // plan dumps can only capture it here
      if (sys.env.contains("GRAFT_EXPLAIN_TICK"))
        System.err.println(s"[tick-plan] batch=$batchId\n" +
          dView.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      Some(Future(TableStore.stageVersionData(spark, viewPath, dView)))
    } else None
    // base deltas stage CONCURRENTLY with the view compute: staging
    // writes unreferenced dirs, so the view job still reads the bases
    // at B-1 — nothing becomes visible until the markers below
    val stagedBases: Seq[(String, Option[Future[String]])] =
      Seq(aPath -> dA, bPath -> dB).map { case (p, d) =>
        p -> (if (tickVersion(spark, p, batchId).isEmpty)
          Some(Future(TableStore.stageVersionData(spark, p, baseDelta(d))))
        else None)
      }
    // all staging complete BEFORE the commit phase: the drain below
    // may run a prior checkpoint's retention, which must never delete
    // files an in-flight staging scan still references
    val viewStage = stagedView.map(Await.result(_, Duration.Inf))
    val baseStages = stagedBases.map { case (p, st) =>
      p -> st.map(Await.result(_, Duration.Inf)) }
    // no drain here: a still-running background checkpoint holds a
    // RESERVED version slot below this tick's commits and a fold
    // input pinned at its own tick, so committing these markers above
    // it can never anchor them out of the fold — see AsyncCompactor
    // ONE commit point per table, markers in WAL order view → A → B
    viewStage.foreach(st => TableStore.commitStagedVersion(spark, viewPath,
      st, TableStore.FoldDeltaPrefix + note(batchId)): Unit)
    afterPublish(viewPath)
    val t1 = System.nanoTime()
    baseStages.foreach { case (p, st) =>
      st.foreach(s => TableStore.commitStagedVersion(spark, p,
        s, TableStore.FoldDeltaPrefix + note(batchId)): Unit)
      afterPublish(p)
    }
    val t2 = System.nanoTime()
    // checkpoint cadence: only AFTER the tick's three publishes
    // committed, so a mid-tick roll-forward never loses a version it
    // can still reference; the anchor then bounds both the fold chain
    // and retained history. Retention here reclaims only version DATA
    // — commit markers (and so the tick=B notes) survive, and the
    // checkpoint note itself proves every tick <= batchId committed
    // (see tickVersion), so a crash in the REDELIVERY window between
    // this compaction and the stream checkpoint's commit replays
    // batch B into a tick that is provably already applied and is
    // skipped — never re-folded onto the advanced state.
    if ((batchId + 1) % CompactEvery == 0)
      reservedCheckpoints(spark, Seq(viewPath, aPath, bPath),
        Seq(viewPath, aPath, bPath), batchId, compactor,
        clusterBy = Map(aPath -> keys, bPath -> keys))
    val t3 = System.nanoTime()
    onCost(TickCost(batchId, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
      (t3 - t2) / 1e9))
  }

  /** The maintained view at the latest committed tick. */
  def currentView(spark: SparkSession, viewPath: String): DataFrame =
    TableStore.readFolded(spark, viewPath)

  /** One guarded TOP-K-view tick — the continuous form of
    * [[graft.operators.Ivm.applyDeltaTopK]] under the same WAL
    * discipline as [[applyTick]]: both publishes carry `tick=<b>`
    * notes and are SKIPPED when that tick already committed, so a
    * redelivered micro-batch (crash between a publish and the stream
    * checkpoint's commit) rolls forward deterministically instead of
    * double-folding the base or double-inserting into the view.
    *
    * Order is base-first because the evict-rescan ground truth must
    * be the POST-tick base; on redelivery after a crash between the
    * two publishes, the base guard skips (its fold already reflects
    * the slice) and the view tick reruns against exactly that
    * post-tick base — the state it needed anyway. The view is itself
    * a versioned fold table (snapshot per tick — the view is
    * O(groups·k), so a snapshot costs what a rewrite did), which is
    * what makes its tick provable.
    */
  def topKTick(spark: SparkSession, basePath: String, viewPath: String,
      slice: DataFrame, batchId: Long, keys: Seq[String], valueCol: String,
      idCol: String, k: Int, compactEvery: Int = 0,
      compactor: Option[AsyncCompactor] = None): Unit = {
    if (tickVersion(spark, basePath, batchId).isEmpty)
      TableStore.publishFoldDelta(spark, basePath,
        baseDelta(slice), note(batchId)): Unit
    if (tickVersion(spark, viewPath, batchId).isEmpty) {
      // The rescan's base access goes through applyDeltaTopKWith so
      // the group restriction lands BELOW the fold: the old shape
      // (readFolded(basePath) up front) paid a full-state groupBy
      // shuffle EVERY tick just to have applyDeltaTopK semi-join it
      // down to the few evicted groups — the dominant tick term the
      // sf1 tick audit measured as st17's 1.72 growth at 10× state.
      // Filter-then-fold is exact (the fold groups by every data
      // column, so a group-key restriction commutes) and costs the
      // chain scan plus an O(touched-group rows) fold. The
      // single-snapshot chain keeps readFolded's filter-only fast
      // path: a canonical snapshot needs no re-fold after the semi.
      def foldedFor(gk: DataFrame): DataFrame = {
        val committed = TableStore.committedVersions(spark, basePath)
        val chainLen = committed.count(
          _ >= TableStore.foldAnchor(spark, basePath, committed.last))
        val chain = TableStore.readFoldedUnion(spark, basePath)
        val gkR = gk.select(keys.map(kc => col(kc).as(s"_g_$kc")): _*)
        val cond = keys.map(kc => col(kc) <=> col(s"_g_$kc")).reduce(_ && _)
        val touched = chain.join(broadcast(gkR), cond, "left_semi")
        if (chainLen <= 1) touched.filter(col("_mult") > 0).drop("_mult")
        else {
          val dataCols = touched.columns.filterNot(_ == "_mult").toSeq
          touched.groupBy(dataCols.map(col): _*)
            .agg(sum(col("_mult")).as("_mult"))
            .filter(col("_mult") > 0).drop("_mult")
        }
      }
      // Distinct publish: applyDeltaTopK emits ONE row per group by
      // construction (incr from a per-group full-outer merge,
      // rescanned from a groupBy, groups disjoint — IvmTopKSpec), so
      // the canonicalizing groupBy of publishFoldSnapshot would be a
      // per-tick full-view shuffle bought for nothing
      TableStore.publishFoldSnapshotDistinct(spark, viewPath,
        graft.operators.Ivm.applyDeltaTopKWith(
          TableStore.readFolded(spark, viewPath).drop("_mult"),
          slice, keys, valueCol, idCol, k)(foldedFor),
        note(batchId)): Unit
    }
    // bound the BASE fold chain: without a checkpoint every tick's
    // newBase fold scans one more delta version — a per-tick term
    // linear in tick count (measured as a 1.4→2.9 s tilt across 30
    // ticks in the first `ScaleAudit ticks` run). Same reserved-slot
    // discipline as applyTick; the view needs no checkpoint (each
    // tick already publishes it as a full snapshot) but its old
    // snapshots are retained away on the same cadence.
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      reservedCheckpoints(spark, Seq(basePath),
        Seq(basePath, viewPath), batchId, compactor)
  }

  /** st23's tick — ATOMIC multi-table advancement: land the base fold
    * delta and the maintained aggregate view (each tick-note guarded,
    * so redelivery re-runs them as no-ops), then commit the PAIR as
    * ONE manifest version pinning both — the s37 publication-set
    * discipline as the stream's cross-table commit protocol. A reader
    * resolving base and view THROUGH the manifest never observes a
    * half-applied tick: member publishes are invisible until the
    * manifest lands, and a crash between them leaves the previous
    * manifest — a consistent pair — current; the redelivered tick
    * skips the committed members and re-commits the manifest.
    *
    * `slice` is a changelog ([[baseDelta]] signs it for the base;
    * [[Ivm.applyDelta]] folds it into the view). `afterMembers` runs
    * between the member publishes and the manifest commit — the crash
    * window specs inject into.
    *
    * `compactEvery` > 0 checkpoints the base fold chain every Nth tick
    * (after the members, before the manifest): the checkpoint's folded
    * state equals the post-tick state, so the manifest pins the
    * CHECKPOINT version for the base — the pair stays consistent AND
    * later retention below the checkpoint cannot strand the pin. The
    * checkpoint's `after=` note is itself the durable tick proof
    * [[tickVersion]] honors, so a redelivered compaction tick skips
    * both the member publish and the re-compaction. Retention below a
    * checkpoint does bound manifest TIME TRAVEL to manifests at or
    * after it — the standard lakehouse tradeoff (Iceberg's
    * expire_snapshots invalidates older table snapshots the same way).
    */
  def manifestTick(spark: SparkSession, maniPath: String, basePath: String,
      viewPath: String, slice: DataFrame, batchId: Long, keys: Seq[String],
      sumCols: Seq[String], compactEvery: Int = 0,
      afterMembers: () => Unit = () => ()): Unit = {
    val vB0 = tickVersion(spark, basePath, batchId)
      .getOrElse(TableStore.publishFoldDelta(spark, basePath,
        baseDelta(slice), note(batchId)))
    val vV = tickVersion(spark, viewPath, batchId)
      .getOrElse(TableStore.publishVersion(spark, viewPath,
        Ivm.applyDelta(TableStore.readVersion(spark, viewPath), slice,
          keys, sumCols),
        note = note(batchId)))
    val vB =
      if (compactEvery > 0 && batchId % compactEvery == (compactEvery - 1L)) {
        // guarded like the members: an existing checkpoint covering
        // this tick is proof the compaction already ran
        TableStore.committedVersions(spark, basePath).find { v =>
          TableStore.versionNote(spark, basePath, v)
            .flatMap(checkpointAfter).exists(_ >= batchId)
        }.getOrElse(TableStore.publishFoldSnapshot(spark, basePath,
          TableStore.readFolded(spark, basePath, Some(vB0)),
          s"checkpoint;after=$batchId"))
      } else vB0
    afterMembers()
    if (tickVersion(spark, maniPath, batchId).isEmpty)
      TableStore.publishManifest(spark, maniPath, Seq(
        ("base", basePath, vB), ("view", viewPath, vV)),
        note = note(batchId)): Unit
  }
}
