package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.{QueryProfile, Scratch}
import graft.functions.XSql
import graft.functions.XSql.{Dialect, Spark => SqlSpark, Duck => SqlDuck}
import graft.streaming.{EventStream, JoinViewMaintenance}

/** Streaming operators run through Structured Streaming (AvailableNow
  * replay of the events table) and checked against batch SQL oracles —
  * stream/batch equivalence is the correctness contract.
  */
object StreamingOps {

  /** The micro-batch's additive per-user delta (counts + exact decimal
    * sums — associative, so any batch decomposition converges to the
    * batch aggregate). Shared by the incremental-view merges below.
    */
  private def userDelta(
      batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row]) =
    batch.groupBy("user_id").agg(
      count(lit(1)).as("n"),
      sum(col("value").cast("decimal(30,2)")).as("total"))

  /** The additive per-user merge st6 (streaming incremental view) and
    * st10 (snapshot publisher) share: fold the micro-batch's delta
    * into the stored table in place.
    */
  private def mergeUserDelta(s: org.apache.spark.sql.SparkSession,
      path: String,
      batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row]): Unit = {
    import graft.operators.TableStore
    val delta = userDelta(batch)
    val merged =
      if (!TableStore.exists(s, path)) delta
      else TableStore.read(s, path)
        .join(delta.select("user_id"), Seq("user_id"), "left_semi")
        .unionByName(delta)
        .groupBy("user_id")
        .agg(sum(col("n")).as("n"), sum(col("total")).as("total"))
    TableStore.upsertByKey(s, path, merged, Seq("user_id"))
  }

  /** Exactly-once application of one micro-batch to a VERSIONED table
    * (st9, and `StreamingExactlyOnceSpec`'s crash replays): read the
    * last committed snapshot, fold in the batch delta, publish the
    * result as the next version whose COMMIT NOTE is the batch id.
    * Data files and the batch-id record become visible in ONE atomic
    * marker creation (TableStore.publishVersion), so the classic
    * two-rename window — data landed, ledger entry didn't — cannot
    * exist: a crash anywhere before the marker leaves the previous
    * committed version as the visible state (the half-written attempt
    * is an unreadable orphan) and the redelivered batch re-applies
    * cleanly from it.
    *
    * The already-applied probe reads the commit notes of the committed
    * markers — a directory listing plus ~empty-file reads, no table
    * scan; a lakehouse commit log folds the same record into its
    * single manifest read. Each version here is a full snapshot of the
    * (small) serving aggregate, the same trade st10 makes — and the
    * loop runs keep-last-2 retention inline, which is SAFE for
    * exactly-once because the probe needs only the markers (kept
    * forever) and the merge reads only the current version.
    */
  private[graft] def applyBatchExactlyOnce(s: org.apache.spark.sql.SparkSession,
      path: String,
      batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
      id: Long): Unit = {
    import graft.operators.TableStore
    val note = s"batch:$id"
    val applied = TableStore.committedVersions(s, path)
      .exists(v => TableStore.versionNote(s, path, v).contains(note))
    if (!applied) {
      val delta = userDelta(batch)
      val merged = TableStore.currentVersion(s, path) match {
        case None => delta
        case Some(cur) => TableStore.readVersion(s, path, Some(cur))
          .unionByName(delta)
          .groupBy("user_id")
          .agg(sum(col("n")).as("n"), sum(col("total")).as("total"))
      }
      val v = TableStore.publishVersion(s, path, merged, note)
      TableStore.dropVersionsBelow(s, path, keepFrom = v - 1)
    }
  }

  /** Multi-writer form of [[applyBatchExactlyOnce]]: the SAME
    * exactly-once discipline (commit-note probe → skip redelivered
    * batches) but committing through the CAS path
    * ([[graft.operators.TableStore.publishWithRetry]]) so TWO
    * independent streaming publishers can advance ONE table
    * concurrently — the two-ingest-jobs-one-table reality of a
    * production lakehouse. A stale writer's publish conflicts on the
    * version marker, re-reads the advanced state, and re-merges its
    * OWN batch delta on top, so neither writer's update can be lost;
    * the per-(writer, batch) note makes redelivery after a crash
    * between the publish and the stream checkpoint a no-op, exactly
    * as in the single-writer path. StreamingExactlyOnceSpec races two
    * live foreachBatch streams through this and proves both
    * properties.
    */
  private[graft] def applyBatchExactlyOnceCas(
      s: org.apache.spark.sql.SparkSession,
      path: String,
      batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
      writer: String, id: Long): Unit = {
    import graft.operators.TableStore
    val note = s"$writer-batch:$id"
    val applied = TableStore.committedVersions(s, path)
      .exists(v => TableStore.versionNote(s, path, v).contains(note))
    if (!applied) {
      TableStore.publishWithRetry(s, path, note) { cur =>
        val delta = userDelta(batch)
        cur match {
          case None => delta
          case Some(c) => TableStore.readVersion(s, path, Some(c))
            .unionByName(delta)
            .groupBy("user_id")
            .agg(sum(col("n")).as("n"), sum(col("total")).as("total"))
        }
      }
      // keep-last-2 retention is CAS-safe for the same reason as the
      // claim path: the probe reads only markers (kept forever) and
      // each attempt reads only the then-current version
      TableStore.currentVersion(s, path).foreach(v =>
        TableStore.dropVersionsBelow(s, path, keepFrom = v - 1))
    }
  }

  val all: Seq[Q] = Seq(

    // ---------------------------------------------------------------
    // Streaming CDC apply — the continuous form of i3: a CHANGELOG
    // stream (insert / delete / update_preimage / update_postimage
    // rows, here the s24 snapshot diff replayed in micro-batches)
    // maintains a materialized aggregate view batch by batch via
    // Ivm.applyDelta. The theorem this gates: the signed-delta fold
    // is ASSOCIATIVE over any batch decomposition — the stage split
    // scatters change rows arbitrarily, so an update's preimage and
    // postimage routinely land in DIFFERENT micro-batches (the view
    // is transiently double- or under-counted mid-stream), and the
    // final state still equals the bit-exact recompute. Counts can
    // never go negative mid-stream (a group's decrements are bounded
    // by its initial rows), so the n>0 group-drop is safe at every
    // intermediate step. This is how a warehouse tails a CDC feed
    // (Debezium/CDF) into derived tables: O(batch changes) per tick,
    // the base table never re-read.
    Q("st12_stream_cdc_apply",
      "changelog stream maintains an aggregate view across micro-batches == bit-exact recompute",
      s"""WITH v2 AS (
         |  SELECT o_orderkey,
         |    CASE WHEN o_orderkey % 17 = 0 THEN o_custkey + 1 ELSE o_custkey END AS o_custkey,
         |    CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
         |  FROM orders WHERE o_orderkey % 7 <> 0
         |  UNION ALL
         |  SELECT -o_orderkey, o_custkey, o_totalprice + 1000
         |  FROM orders WHERE o_orderkey % 13 = 0)
         |SELECT o_custkey, count(*) AS n,
         |  ${dsumSql("o_totalprice")} AS total
         |FROM v2 GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import graft.operators.{Ivm, TableStore}
      val tmp = Scratch.dir("st12")
      val snaps = tmp.resolve("snap").toString
      val viewPath = tmp.resolve("view").toString
      val o = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val edited = editOrders(o)
      val v1 = TableStore.publishVersion(s, snaps, o, note = "base")
      val v2 = TableStore.publishVersion(s, snaps, edited, note = "edit")
      // the view is an AGGREGATE FOLD TABLE (partial-aggregate log):
      // each tick publishes only the batch's signed partial aggregate
      // (Ivm.aggDelta — O(touched groups)), never the view; the read
      // folds anchor + deltas, and a mid-stream compaction checkpoint
      // proves the chain reset is logically invisible. The Druid-style
      // rollup-segment discipline at O(batch) write per tick.
      TableStore.publishVersion(s, viewPath, Ivm.aggregate(
        TableStore.readVersion(s, snaps, Some(v1)),
        Seq("o_custkey"), Seq("o_totalprice")), note = "agg-base")
      val changes =
        TableStore.changesBetween(s, snaps, v1, v2, Seq("o_orderkey"))
      val stream = EventStream.stagedFileStream(s, changes,
        tmp.resolve("stage").toString, nFiles = EventStream.ticks(3))
      EventStream.runForeachBatch(s, stream) { (batch, bid) =>
        TableStore.publishFoldDelta(s, viewPath,
          Ivm.aggDelta(batch, Seq("o_custkey"), Seq("o_totalprice")),
          s"tick=$bid")
        if (bid == 1L) {
          TableStore.publishVersion(s, viewPath,
            TableStore.readFoldedAgg(s, viewPath,
              Seq("o_custkey"), Seq("o_totalprice")),
            note = "checkpoint;after=1"): Unit
        }
      }
      TableStore.readFoldedAgg(s, viewPath,
          Seq("o_custkey"), Seq("o_totalprice"))
        .select(col("o_custkey"), col("n"),
          col("sum_o_totalprice").cast("double").as("total"))
        .orderBy("o_custkey")
    },

    // ---------------------------------------------------------------
    // Streaming JOIN-view IVM — i4's bilinear delta rule running as a
    // CONTINUOUS maintenance loop: one changelog stream carries both
    // sides' changes (tagged `_side`), and each micro-batch (1) splits
    // its slice into ΔA/ΔB, (2) folds Δ(A⋈B) into the stored view
    // with Ivm.applyJoinDelta against the CURRENT base states, then
    // (3) advances the stored base tables by the same slice — so the
    // next tick's "old" states are exactly right. The tick-split
    // associativity IvmJoinSpec proves is what makes the arbitrary
    // stage-file decomposition safe: an update's preimage and
    // postimage may land in different ticks and the view is
    // transiently wrong mid-stream, yet the final state equals the
    // bit-exact recompute (the oracle). At scale this is a CDC feed
    // (Debezium/CDF) maintaining a denormalized join table with
    // O(batch) work per tick — the deltas broadcast into one keyed
    // probe of each base, and the base advance is the same
    // upsert/delete merge every lakehouse MERGE runs.
    Q("st15_stream_join_ivm",
      "changelog stream maintains a JOIN view across micro-batches == bit-exact recompute",
      s"""WITH a2 AS (
         |  SELECT o_orderkey,
         |    CASE WHEN o_orderkey % 17 = 0 THEN o_custkey + 1 ELSE o_custkey END AS o_custkey,
         |    CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
         |  FROM orders WHERE o_orderkey % 7 <> 0
         |  UNION ALL
         |  SELECT -o_orderkey, o_custkey, o_totalprice + 1000
         |  FROM orders WHERE o_orderkey % 13 = 0),
         |b0 AS (
         |  SELECT l_orderkey AS o_orderkey, l_linenumber,
         |    max(l_extendedprice) AS l_extendedprice
         |  FROM lineitem WHERE l_orderkey % 3 = 1 GROUP BY 1, 2),
         |b2 AS (
         |  SELECT o_orderkey, l_linenumber,
         |    CASE WHEN (o_orderkey + l_linenumber) % 9 = 0
         |         THEN l_extendedprice + 100 ELSE l_extendedprice END AS l_extendedprice
         |  FROM b0 WHERE (o_orderkey + l_linenumber) % 6 <> 0
         |  UNION ALL
         |  SELECT o_orderkey, l_linenumber + 100, l_extendedprice
         |  FROM b0 WHERE o_orderkey % 13 = 0)
         |SELECT o_custkey, count(*) AS n_lines,
         |  ${dsumSql("l_extendedprice")} AS sum_ext,
         |  ${dsumSql("o_totalprice")} AS sum_price
         |FROM a2 JOIN b2 USING (o_orderkey)
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import graft.operators.{Ivm, TableStore}
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      val tmp = Scratch.dir("st15")
      val viewPath = tmp.resolve("view").toString
      // cached like b: feeds the v0 publish, the v0 view join, the
      // edit script and the changelog diff — four scans otherwise
      val a = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .cache()
      // checkpoint the grouped base: it feeds the publish, the edit
      // script AND the changelog diff — without this the groupBy over
      // lineitem re-executes for each consumer
      // a deterministic 1/3 slice of the fact: the tick-split theorem
      // is invariant to volume, and the slice keeps this (1-repeat,
      // multi-write) replay from dominating the bench wall
      val b = t(s, d, "lineitem")
        .filter(col("l_orderkey") % 3 === 1)
        .groupBy(col("l_orderkey").as("o_orderkey"), col("l_linenumber"))
        .agg(max(col("l_extendedprice")).as("l_extendedprice"))
        .cache()
      // ALL THREE states — view and both bases — live as versioned
      // TableStore tables advanced through the same publish path
      // production ingestion uses; each tick is a WAL-style
      // transaction (commit notes tag the tick, redelivery skips,
      // mid-tick crashes roll forward deterministically — see
      // JoinViewMaintenance; JoinViewResumeSpec crashes this loop
      // mid-tick and proves resume)
      val basePathA = tmp.resolve("base_a").toString
      val basePathB = tmp.resolve("base_b").toString
      // the producer states are O(100k) rows: 32-way shuffles price
      // every init/diff stage at task-scheduling floor × 32 for data
      // that fits 8 partitions comfortably — the same right-sizing
      // runForeachBatch applies to the ticks (4), applied here to the
      // pre-stream phases (init + changelog diff run CONCURRENTLY, so
      // halving their task counts also halves scheduler contention)
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      // init (three v0 publishes) and the changelog staging below both
      // read only the in-memory inputs a/b — neither depends on the
      // other's outputs, so they overlap on separate threads (the
      // stream itself starts after BOTH complete, preserving the WAL
      // ordering); on local[32] this hides the shorter phase entirely
      val fInit = {
        import scala.concurrent.Future
        import scala.concurrent.ExecutionContext.Implicits.global
        Future(QueryProfile.span("init")(JoinViewMaintenance.init(s, viewPath,
          basePathA, basePathB, a, b, Seq("o_orderkey"),
          // a is PK-keyed (o_orderkey), b is a groupBy product —
          // both one row per tuple, so v0 skips the canonical shuffle
          inputsDistinct = true)))
      }
      // one combined changelog, emitted DIRECTLY from the edit script
      // the way a CDC producer emits changes (i4 pays the snapshot-
      // diff algorithm for its storage story; a changelog source
      // already knows each row's change kind, so two full-outer
      // diff joins here would be pure fixture overhead). Every
      // update's pre/post values differ by construction (+1 on a
      // key, ×2 / +100 on a strictly positive price), so this is
      // row-identical to diffKeyed(old, edited) on the same states;
      // nulls pad the side-specific columns
      val aUpd = a.filter(col("o_orderkey") % 7 =!= 0 &&
        (col("o_orderkey") % 17 === 0 || col("o_orderkey") % 11 === 0))
      val dA = a.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), lit("delete").as("_change_type"),
          col("o_custkey"), col("o_totalprice"))
        .unionByName(aUpd.select(col("o_orderkey"),
          lit("update_preimage").as("_change_type"),
          col("o_custkey"), col("o_totalprice")))
        .unionByName(aUpd.select(col("o_orderkey"),
          lit("update_postimage").as("_change_type"),
          when(col("o_orderkey") % 17 === 0, col("o_custkey") + 1)
            .otherwise(col("o_custkey")).as("o_custkey"),
          when(col("o_orderkey") % 11 === 0, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")).as("o_totalprice")))
        .unionByName(a.filter(col("o_orderkey") % 13 === 0)
          .select((-col("o_orderkey")).as("o_orderkey"),
            lit("insert").as("_change_type"),
            col("o_custkey"), (col("o_totalprice") + 1000).as("o_totalprice")))
        .select(lit("a").as("_side"), col("o_orderkey"), col("_change_type"),
          col("o_custkey"), col("o_totalprice"),
          lit(null).cast("int").as("l_linenumber"),
          lit(null).cast("double").as("l_extendedprice"))
      val bK = col("o_orderkey") + col("l_linenumber")
      val bUpd = b.filter(bK % 6 =!= 0 && bK % 9 === 0)
      val dB = b.filter(bK % 6 === 0)
        .select(col("o_orderkey"), col("l_linenumber"),
          lit("delete").as("_change_type"), col("l_extendedprice"))
        .unionByName(bUpd.select(col("o_orderkey"), col("l_linenumber"),
          lit("update_preimage").as("_change_type"), col("l_extendedprice")))
        .unionByName(bUpd.select(col("o_orderkey"), col("l_linenumber"),
          lit("update_postimage").as("_change_type"),
          (col("l_extendedprice") + 100).as("l_extendedprice")))
        .unionByName(b.filter(col("o_orderkey") % 13 === 0)
          .select(col("o_orderkey"),
            (col("l_linenumber") + 100).as("l_linenumber"),
            lit("insert").as("_change_type"), col("l_extendedprice")))
        .select(lit("b").as("_side"), col("o_orderkey"), col("_change_type"),
          lit(null).cast("long").as("o_custkey"),
          lit(null).cast("double").as("o_totalprice"),
          col("l_linenumber"), col("l_extendedprice"))
      val stream = QueryProfile.span("diff-stage")(
        EventStream.stagedFileStream(s, dA.unionByName(dB),
          tmp.resolve("stage").toString, nFiles = EventStream.ticks(3)))
      scala.concurrent.Await.result(fInit,
        scala.concurrent.duration.Duration.Inf)
      s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      // compaction checkpoints run BEHIND the stream (drained before
      // the next tick's commits and before the final read below) —
      // the Delta async-checkpoint discipline; see AsyncCompactor
      val compactor = new JoinViewMaintenance.AsyncCompactor
      QueryProfile.span("stream")(EventStream.runForeachBatch(s, stream,
        Some(tmp.resolve("ckpt").toString)) { (batch, batchId) =>
        val slice = batch.cache()
        try {
          val sa = slice.filter(col("_side") === "a")
            .select("o_orderkey", "_change_type", "o_custkey", "o_totalprice")
          val sb = slice.filter(col("_side") === "b")
            .select("o_orderkey", "l_linenumber", "_change_type", "l_extendedprice")
          JoinViewMaintenance.applyTick(s, viewPath, basePathA, basePathB,
            sa, sb, Seq("o_orderkey"), batchId,
            onCost = c => Seq("view" -> c.viewSec, "bases" -> c.basesSec,
              "compact" -> c.compactSec).foreach { case (k, sec) =>
              QueryProfile.record(s"$k-${c.batchId}", sec) },
            compactor = Some(compactor))
        } finally { slice.unpersist(); () }
      })
      // the last checkpoint may still be rewriting state: its
      // retention must not reclaim files the final scan plans
      QueryProfile.span("drain")(compactor.drain())
      def wsum(c: String) =
        sum(col(c).cast(DecimalType(30, 2)) * col("_mult")).cast(DoubleType)
      // aggregate the RAW signed chain: every sum here distributes
      // over signed partials (a tuple netting _mult=0 contributes 0),
      // so the per-tuple fold shuffle readFolded would pay first is
      // algebraically redundant — one groupBy over the log instead of
      // a state-wide groupBy feeding another
      // presentation via orderBy: the coalesce(1).sortWithinPartitions
      // alternative looks cheaper (no range-sampling job) but coalesce
      // collapses its exchange-free stage, so the FINAL HashAggregate
      // over every group runs in ONE task with an O(custkeys) hash map
      // — the i4 lesson (544 MB-peak task at 10x state, linear in
      // data). The sampling pass + exchange move O(custkeys) skinny
      // rows once, after the stream, and keep every stage at width.
      TableStore.readFoldedUnion(s, viewPath).groupBy("o_custkey")
        .agg(sum(col("_mult")).as("n_lines"),
          wsum("l_extendedprice").as("sum_ext"),
          wsum("o_totalprice").as("sum_price"))
        .filter(col("n_lines") > 0)
        .orderBy("o_custkey")
    },

    // ---------------------------------------------------------------
    // Streaming INCREMENTAL COMPONENTS — d14's maintenance tick as a
    // continuous loop: near-dup pairs arrive as an edge stream (the
    // daily-crawl feed), and each micro-batch carries the stored
    // cluster table to the merged fixpoint by solving only the batch's
    // CONTRACTED delta graph (ConnectedComponents.incrementalMinLabel)
    // — per-tick work is O(batch edges), never the accumulated graph.
    // Tick composition is safe because contraction commutes with edge
    // batching (IncrementalComponentsSpec proves multi-tick == full
    // solve over random splits); the oracle recomputes components over
    // the WHOLE pair set from scratch, so the gate is stream-of-
    // increments == batch fixpoint. At 100 TB this is the cluster
    // registry a dedup pipeline keeps warm between crawls instead of
    // re-propagating billions of edges nightly.
    Q("st16_stream_components",
      "edge stream maintains near-dup cluster state across micro-batches == full-graph fixpoint",
      {
        import graft.functions.XSql
        implicit val dl: XSql.Dialect = XSql.Duck
        val wordsE = XSql.words("text")
        s"""WITH RECURSIVE
           |w AS (SELECT doc_id, ${XSql.wordHashes(wordsE)} AS wh FROM documents),
           |sh AS (SELECT doc_id, sh, ${XSql.minhashSig("sh")} AS sig
           |       FROM (SELECT doc_id, ${XSql.shingleHashes("wh")} AS sh FROM w)),
           |bands AS (SELECT doc_id, unnest(${XSql.bandKeys("sig")}) AS band_key,
           |                 unnest(range(0, ${XSql.LshBands})) AS band_idx FROM sh),
           |${graft.operators.Lsh.cappedCandSql("bands", "band_idx", "band_key", "cand")},
           |pairs AS (SELECT c.doc_a, c.doc_b FROM cand c
           |          JOIN sh sa ON sa.doc_id = c.doc_a
           |          JOIN sh sb ON sb.doc_id = c.doc_b
           |          WHERE ${XSql.jaccard("sa.sh", "sb.sh")} >= 0.3),
           |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
           |        UNION SELECT doc_b, doc_a FROM pairs),
           |reach(src, node) AS (
           |  SELECT a, a FROM sym
           |  UNION
           |  SELECT r.src, s.b FROM reach r JOIN sym s ON r.node = s.a)
           |SELECT src AS doc_id, min(node) AS component
           |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      import graft.functions.XSql
      import graft.operators.{ConnectedComponents, Lsh, TableStore}
      implicit val dl: XSql.Dialect = XSql.Spark
      val tmp = Scratch.dir("st16")
      val labelsPath = tmp.resolve("labels").toString
      val sh = t(s, d, "documents")
        .withColumn("sh", expr(XSql.shinglesOfText("text")))
        .select("doc_id", "sh")
      // the full verified pair set, replayed as a 3-batch edge stream
      val pairs = Lsh.verifiedPairsCapped(sh, 0.3).select("doc_a", "doc_b")
      // empty initial cluster registry
      TableStore.overwrite(
        s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(
            "node BIGINT, component BIGINT")), labelsPath)
      val stream = EventStream.stagedFileStream(s, pairs,
        tmp.resolve("stage").toString, nFiles = EventStream.ticks(3))
      EventStream.runForeachBatch(s, stream) { (batch, _) =>
        TableStore.rewrite(s, labelsPath,
          ConnectedComponents.incrementalMinLabel(
            TableStore.read(s, labelsPath), batch, "doc_a", "doc_b"))
      }
      TableStore.read(s, labelsPath)
        .select(col("node").as("doc_id"), col("component"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------
    // Streaming TOP-K maintenance — i7's leaderboard view in the
    // continuous loop (what st15 is to i4): the changelog stream
    // advances a durable fold-table BASE first (signed slice — the
    // rescan ground truth must be post-tick), then applyDeltaTopK
    // folds the same slice into the stored view: inserts as pure
    // array expressions, evicted groups rescanned from the advanced
    // base via the broadcast semi probe. Tick composition is exact
    // under arbitrary slice splits because the rescan classification
    // is conservative per tick against the per-tick base (an update's
    // halves may land in different ticks; the view is transiently
    // wrong and lands exactly — the same split discipline
    // IvmJoinSpec/IvmTopKSpec pin). At scale this is the continuously-
    // maintained per-key leaderboard (top offers per user, hottest
    // docs per topic) a 100 TB feed keeps warm for O(batch) per tick.
    Q("st17_stream_topk",
      "changelog stream maintains the TOP-K-per-group view across micro-batches == rank<=3 recompute",
      s"""WITH v2 AS (
         |  SELECT o_orderkey,
         |    CASE WHEN o_orderkey % 17 = 0 THEN o_custkey + 1 ELSE o_custkey END AS o_custkey,
         |    CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
         |  FROM orders WHERE o_orderkey % 7 <> 0
         |  UNION ALL
         |  SELECT -o_orderkey, o_custkey, o_totalprice + 1000
         |  FROM orders WHERE o_orderkey % 13 = 0),
         |r AS (SELECT o_custkey, o_totalprice, o_orderkey,
         |        row_number() OVER (PARTITION BY o_custkey
         |          ORDER BY o_totalprice DESC, o_orderkey DESC) AS rk
         |      FROM v2)
         |SELECT o_custkey, rk, o_totalprice AS price, o_orderkey AS orderkey
         |FROM r WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin) { (s, d) =>
      import graft.operators.{Ivm, TableStore}
      val tmp = Scratch.dir("st17")
      val basePath = tmp.resolve("base").toString
      val viewPath = tmp.resolve("view").toString
      val o = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val edited = editOrders(o)
      TableStore.publishFoldSnapshot(s, basePath, o, "tick=-1")
      // aggregateTopK ends in a groupBy over the view's key — one row
      // per group by construction, so the distinct publish skips the
      // canonicalizing shuffle (same contract as topKTick's publishes)
      TableStore.publishFoldSnapshotDistinct(s, viewPath, Ivm.aggregateTopK(o,
        Seq("o_custkey"), "o_totalprice", "o_orderkey", 3), "tick=-1")
      val changes = TableStore.diffKeyed(o, edited, Seq("o_orderkey"))
      val stream = EventStream.stagedFileStream(s, changes,
        tmp.resolve("stage").toString, nFiles = EventStream.ticks(3))
      // topKTick carries the WAL discipline (tick=<bid> guards on
      // BOTH publishes), so a redelivered micro-batch rolls forward
      // instead of double-folding — same contract applyTick pins.
      // Reserved-slot base checkpoints every 2 ticks keep the per-tick
      // newBase fold O(state), not O(state + ticks·batch) — off the
      // tick critical path via the same AsyncCompactor st15 drives
      val compactor = new JoinViewMaintenance.AsyncCompactor
      EventStream.runForeachBatch(s, stream,
        Some(tmp.resolve("ckpt").toString)) { (batch, bid) =>
        JoinViewMaintenance.topKTick(s, basePath, viewPath,
          batch.localCheckpoint(), bid,
          Seq("o_custkey"), "o_totalprice", "o_orderkey", 3,
          compactEvery = JoinViewMaintenance.CompactEvery,
          compactor = Some(compactor))
      }
      // the last checkpoint may still be rewriting: drain before the
      // final read so retention cannot race the scan below
      compactor.drain()
      TableStore.readFolded(s, viewPath).drop("_mult")
        .select(col("o_custkey"), posexplode(col("topk")).as(Seq("p", "e")))
        .select(col("o_custkey"), (col("p") + 1).cast("long").as("rk"),
          col("e.v").as("price"), col("e.id").as("orderkey"))
        .orderBy("o_custkey", "rk")
    },

    Q("st1_stream_window",
      "streaming tumbling daily window agg == batch time_bucket agg",
      s"""SELECT time_bucket(INTERVAL 1 DAY, ts) AS win_start, event_type,
         |  count(*) AS n, ${dsumSql("value")} AS sum_value
         |FROM events GROUP BY 1, 2
         |ORDER BY win_start, event_type""".stripMargin) { (s, d) =>
      val out = EventStream.runToMemory(s,
        EventStream.dailyWindowedAgg(EventStream.readEvents(s, d)),
        s"st1_mem_${System.nanoTime()}", OutputMode.Complete())
      out.orderBy("win_start", "event_type")
    },

    // I5 as a stream: the same table replayed TWICE (simulated
    // at-least-once delivery) must aggregate identically to the batch
    // single-copy truth once the in-stream dedup has run.
    Q("st3_stream_dedup",
      "doubled (at-least-once) replay deduped in-stream == batch single-copy agg",
      s"""SELECT user_id, count(*) AS n, ${dsumSql("value")} AS total
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val doubled = EventStream.readEvents(s, d)
        .unionByName(EventStream.readEvents(s, d))
      val deduped = EventStream.dedupWithinWatermark(doubled)
      val out = EventStream.runToMemory(s, deduped,
        s"st3_mem_${System.nanoTime()}", OutputMode.Append())
      out.groupBy("user_id")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("user_id")
    },

    // Stream-static enrichment: the streaming side joins a static
    // dimension without any stream state (the dim is broadcast per
    // microbatch) — the bread-and-butter streaming ETL shape.
    Q("st4_stream_static_join",
      "stream-static dimension enrichment == batch join",
      s"""SELECT e.event_id, e.user_id, c.c_mktsegment
         |FROM events e JOIN customer c ON e.user_id = c.c_custkey
         |WHERE e.event_type = 'purchase'
         |ORDER BY e.event_id""".stripMargin) { (s, d) =>
      val dim = t(s, d, "customer").select(
        col("c_custkey"), col("c_mktsegment"))
      val enriched = EventStream.readEvents(s, d)
        .filter(col("event_type") === "purchase")
        .join(dim, col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("c_mktsegment"))
      EventStream.runToMemory(s, enriched,
        s"st4_mem_${System.nanoTime()}", OutputMode.Append())
        .orderBy("event_id")
    },

    // Stream-stream interval join: purchases matched to the same
    // user's clicks in the preceding 10 minutes. Both sides carry
    // watermarks and the join condition bounds event time on both
    // sides, so the buffered state is a sliding 10-minute window per
    // user — bounded, regardless of stream length. The oracle is the
    // identical interval join run as batch.
    Q("st5_stream_stream_join",
      "watermarked stream-stream interval join == batch interval join",
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id AND p.event_type = 'purchase'
        | AND c.event_type = 'click'
        | AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts <= p.ts
        |ORDER BY purchase_id, click_id""".stripMargin) { (s, d) =>
      val purchases = EventStream.readEvents(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val clicks = EventStream.readEvents(s, d)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val joined = purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
          col("c_ts") <= col("p_ts"))
        .select(col("p_id").as("purchase_id"), col("c_id").as("click_id"))
      EventStream.runToMemory(s, joined,
        s"st5_mem_${System.nanoTime()}", OutputMode.Append())
        .orderBy("purchase_id", "click_id")
    },

    // The streaming incremental materialized view: each micro-batch's
    // per-user delta is ADDITIVELY merged into a stored table via
    // foreachBatch (read-modify-swap through TableStore). The replay is
    // forced into 3 micro-batches (staged files + maxFilesPerTrigger=1
    // — a lone file never splits), so the cross-batch merge path runs
    // twice against non-empty stored state; counts and exact decimal
    // sums are associative, so the final table equals the batch
    // aggregate — which is the oracle. This is the streaming form of
    // I1's watermark upsert, and the standard production pattern for
    // keeping a serving aggregate fresh without recomputing it.
    Q("st6_stream_upsert",
      "foreachBatch additive upsert over a multi-batch replay == batch aggregate",
      s"""SELECT user_id, count(*) AS n, ${dsumSql("value")} AS total
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      import graft.operators.TableStore
      val tmp = Scratch.dir("st6")
      val path = tmp.resolve("t").toString
      val stream = EventStream.stagedFileStream(s, t(s, d, "events"),
        tmp.resolve("stage").toString, nFiles = 3)
      EventStream.runForeachBatch(s, stream)((batch, _) =>
        mergeUserDelta(s, path, batch))
      TableStore.read(s, path)
        .select(col("user_id"), col("n"),
          col("total").cast("double").as("total"))
        .orderBy("user_id")
    },

    Q("st2_sessionize",
      "flatMapGroupsWithState gap sessionization == SQL gaps-and-islands",
      """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT user_id, ts,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM o)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |       count(*) AS n_events
        |FROM g GROUP BY user_id, sess
        |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
      import s.implicits._
      val ev = t(s, d, "events")
        .select(col("event_id"), col("ts"), col("user_id"))
        .as[EventStream.Ev]
      EventStream.sessionize(ev, 30).toDF()
        .orderBy("user_id", "session_start")
    },

    // ---------------------------------------------------------------
    // Streaming near-dup dedup — the LSH pipeline as an INCREMENTAL
    // materialized view: documents arrive over 3 deterministic
    // micro-batches (batch k = doc_id % 3, sequenced); each batch
    // LSH-joins only (new × capped-stored) ∪ (new × new-prior) — the
    // d9 increment bound, so old × old is never recomputed, AND the
    // stored side is occupancy-capped per bucket (Lsh.cappedStored),
    // so a new doc probes O(cap) members of a saturated stored
    // bucket, not all of them — appends its verified pairs, and
    // appends its bands to the store. The oracle states the SAME
    // per-batch capped semantics (stored1/stored2 rank CTEs below),
    // so the gate covers the cap itself; at the driver's correctness
    // scales bucket occupancy never exceeds the cap and the result
    // equals the full batch pair set, bit-identical to the uncapped
    // rounds. Scale: per-batch cost is O(|batch| · bands · cap)
    // collisions + the store's rank window — the bound that makes
    // streaming dedup flat-per-tick as the store accretes without
    // limit. The band store is COMPACTED mid-stream (every 2nd
    // batch): the per-batch appends accrete files forever on a daily
    // crawl, and compaction must be provably invisible to the pair
    // results (StreamingCompactionSpec pins that; the oracle equality
    // here re-proves it end-to-end every round).
    Q("st7_stream_near_dup",
      "streaming LSH near-dup via foreachBatch increments == per-batch capped-stored pair set",
      {
        implicit val dl: Dialect = SqlDuck
        val w = XSql.words("text")
        // batch k of the stream is docs with doc_id % 3 = k (the
        // sequenced staging below pins that), so the capped-stored
        // semantics are statable: batch k's probes see the per-bucket
        // cap survivors among batches < k (stored1/stored2 ranked by
        // Lsh.cappedStoredSql — identical arithmetic to the Scala
        // path), while same-batch pairs stay uncapped
        s"""WITH w AS (SELECT doc_id, ${XSql.wordHashes(w)} AS wh FROM documents),
           |sh AS (SELECT doc_id, ${XSql.shingleHashes("wh")} AS sh FROM w),
           |sig AS (SELECT doc_id, sh, ${XSql.minhashSig("sh")} AS sig FROM sh),
           |bands AS (SELECT doc_id, doc_id % 3 AS bt, sh,
           |                 unnest(${XSql.bandKeys("sig")}) AS band_key,
           |                 unnest(range(0, ${XSql.LshBands})) AS band_idx FROM sig),
           |stored1 AS (SELECT doc_id, band_idx, band_key FROM bands WHERE bt < 1),
           |stored2 AS (SELECT doc_id, band_idx, band_key FROM bands WHERE bt < 2),
           |${graft.operators.Lsh.cappedStoredSql("stored1", "band_idx",
               "band_key", "st1", "doc_id, band_idx, band_key")},
           |${graft.operators.Lsh.cappedStoredSql("stored2", "band_idx",
               "band_key", "st2", "doc_id, band_idx, band_key")},
           |cand AS (
           |  SELECT least(a.doc_id, b.doc_id) AS doc_a,
           |         greatest(a.doc_id, b.doc_id) AS doc_b
           |  FROM bands a JOIN st1 b
           |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
           |   AND a.bt = 1
           |  UNION
           |  SELECT least(a.doc_id, b.doc_id), greatest(a.doc_id, b.doc_id)
           |  FROM bands a JOIN st2 b
           |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
           |   AND a.bt = 2
           |  UNION
           |  SELECT least(a.doc_id, b.doc_id), greatest(a.doc_id, b.doc_id)
           |  FROM bands a JOIN bands b
           |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
           |   AND a.bt = b.bt AND b.doc_id < a.doc_id)
           |SELECT c.doc_a, c.doc_b, ${XSql.jaccard("sa.sh", "sb.sh")} AS jacc
           |FROM cand c
           |JOIN sh sa ON sa.doc_id = c.doc_a
           |JOIN sh sb ON sb.doc_id = c.doc_b
           |WHERE ${XSql.jaccard("sa.sh", "sb.sh")} >= 0.5
           |ORDER BY doc_a, doc_b""".stripMargin
      }) { (s, d) =>
      import graft.operators.{Lsh, TableStore}
      implicit val dl: Dialect = SqlSpark
      val tmp = Scratch.dir("st7")
      val bandStore = tmp.resolve("bands").toString
      val pairStore = tmp.resolve("pairs").toString
      val docs = t(s, d, "documents").select("doc_id", "text")
      // DETERMINISTIC micro-batching: part k = docs with doc_id % 3 =
      // k, replayed IN ORDER (sequencedFileStream's mtime staging).
      // The uncapped union was batch-split-invariant so the split
      // never mattered; the capped-stored probe below is NOT (which
      // pairs cross batches depends on what is stored when), so the
      // split must be a function the oracle can state — doc_id % 3 —
      // instead of whatever repartition(3) happened to produce.
      val stream = EventStream.sequencedFileStream(s,
        (0 until 3).map(k => docs.filter(col("doc_id") % 3 === k)),
        tmp.resolve("stage").toString)
      EventStream.runForeachBatch(s, stream) { (batch, batchId) =>
        val sh = batch.withColumn("sh", expr(XSql.shinglesOfText("text")))
          .select("doc_id", "sh")
        // degenerate docs (< 3 words) band to NULL keys that can never
        // equi-join — keep them out of the accumulated store
        val nb = Lsh.bands(sh).filter(col("band_key").isNotNull).cache()
        val stored =
          if (TableStore.exists(s, bandStore)) TableStore.read(s, bandStore)
          else nb.limit(0)
        // stored side occupancy-capped (Lsh.cappedStored): a new doc
        // probes O(cap) members of a saturated stored bucket — the
        // bound that keeps per-batch cost O(batch·bands·cap) as the
        // store accretes without limit (r15's named residual 1)
        val pairs = Lsh.incrementalPairsCapped(nb, stored, 0.5)
        TableStore.append(pairs, pairStore)
        TableStore.append(nb.select("doc_id", "sh", "band_idx", "band_key"), bandStore)
        nb.unpersist()
        // every 2nd batch: fold the accreted per-batch appends back
        // into band_key-clustered files — on an unbounded crawl the
        // store would otherwise become a small-files problem; sorting
        // by band_key keeps file min/max stats selective for the
        // band equi-join's scan
        if (batchId % 2 == 1)
          TableStore.compact(s, bandStore, targetFileRows = 500000L,
            sortCols = Seq("band_key"))
      }
      // the stream ran at least one batch, and appending even an empty
      // batch's pairs creates the store — always readable here
      TableStore.read(s, pairStore).distinct().orderBy("doc_a", "doc_b")
    },

    // ---------------------------------------------------------------
    // Exactly-once foreachBatch — the delivery-semantics gap st6
    // leaves open: foreachBatch is AT-LEAST-ONCE (a crash between the
    // sink write and the checkpoint commit redelivers the batch), and
    // an additive merge re-applied double-counts. The fix is a
    // batch-id commit record, and here it is ATOMIC with the data:
    // each batch publishes the merged table as a snapshot version
    // whose commit note is the batch id (applyBatchExactlyOnce), so
    // data and ledger entry appear in one marker creation — the old
    // two-rename caveat is closed, not just documented. Proof is the
    // strongest redelivery there is: after the stream completes, the
    // ENTIRE stream is replayed from a fresh checkpoint (every batch
    // redelivered); the current version still equals the batch
    // aggregate (the oracle). StreamingExactlyOnceSpec additionally
    // kills a writer BETWEEN data write and commit and replays.
    // Scale: the applied-probe is a marker-file listing, no table
    // scan; retention below keeps the version history bounded.
    Q("st9_stream_exactly_once",
      "at-least-once foreachBatch redelivery made exactly-once by atomic versioned commits == batch aggregate",
      s"""SELECT user_id, count(*) AS n, ${dsumSql("value")} AS total
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      import graft.operators.TableStore
      val tmp = Scratch.dir("st9")
      val path = tmp.resolve("t").toString
      val stage = tmp.resolve("stage").toString
      val events = t(s, d, "events")
      EventStream.runForeachBatch(s,
        EventStream.stagedFileStream(s, events, stage, nFiles = 2))(
        applyBatchExactlyOnce(s, path, _, _))
      // crash-redelivery simulation: a fresh checkpoint replays EVERY
      // batch (same staged files, same order -> same batch ids); the
      // committed batch notes must make each one a no-op
      EventStream.runForeachBatch(s,
        EventStream.restageFileStream(s, events.schema, stage))(
        applyBatchExactlyOnce(s, path, _, _))
      TableStore.readVersion(s, path)
        .select(col("user_id"), col("n"),
          col("total").cast("double").as("total"))
        .orderBy("user_id")
    },

    // ---------------------------------------------------------------
    // Pinned-snapshot enrichment — the read side of the feature-store
    // contract st10 publishes: a streaming job pins the dimension
    // version it started with and every micro-batch enriches against
    // THAT version's immutable files, so a publish landing mid-stream
    // can never split the run across dimension states (half the
    // output enriched by v1, half by v2 — the classic online/offline
    // skew bug). Here batch 0 deliberately publishes a poisoned v2
    // ('STALE' segments) before later batches run; the oracle is the
    // batch join against the ORIGINAL dimension, so one leaked v2 row
    // fails the gate. The final require proves the mid-stream publish
    // really happened. Scale: pinned files are immutable (never raced
    // by the publisher), and the per-batch join is an ordinary
    // broadcast-able dimension join.
    Q("st11_stream_pinned_join",
      "micro-batch enrichment pinned to a dimension snapshot survives a mid-stream publish",
      s"""SELECT c.c_mktsegment AS segment, count(*) AS n, ${dsumSql("e.value")} AS total
         |FROM events e JOIN customer c ON e.user_id = c.c_custkey
         |WHERE e.event_type = 'purchase'
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import graft.operators.TableStore
      val tmp = Scratch.dir("st11")
      val snaps = tmp.resolve("dim").toString
      val out = tmp.resolve("out").toString
      val dim = t(s, d, "customer").select("c_custkey", "c_mktsegment")
      val v1 = TableStore.publishVersion(s, snaps, dim, note = "dim:v1")
      val pinned = TableStore.readVersion(s, snaps, Some(v1))
      val stream = EventStream.stagedFileStream(s, t(s, d, "events"),
        tmp.resolve("stage").toString, nFiles = 3)
      EventStream.runForeachBatch(s, stream) { (batch, id) =>
        TableStore.append(
          batch.filter(col("event_type") === "purchase")
            .join(pinned, col("user_id") === col("c_custkey"))
            .select(col("c_mktsegment"), col("value")), out)
        // the poison pill: a NEW dimension version lands after batch 0;
        // batches 1..n must keep enriching from the pinned v1 files
        if (id == 0)
          TableStore.publishVersion(s, snaps,
            dim.withColumn("c_mktsegment", lit("STALE")), note = "dim:v2")
      }
      val cur = TableStore.currentVersion(s, snaps).getOrElse(0L)
      require(cur > v1, s"st11: expected a mid-stream publish past v$v1, got v$cur")
      TableStore.read(s, out)
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("segment")
    },

    // ---------------------------------------------------------------
    // Streaming snapshot publisher — st6's incremental view composed
    // with s19's versioned snapshots: every micro-batch merges its
    // delta AND publishes the merged table as an immutable snapshot
    // version. Downstream consumers (a training run, a serving
    // deploy) pin a version and keep byte-identical reads while the
    // stream keeps publishing — time travel over a LIVE view, which
    // is exactly how a production feature store versions a
    // continuously-updated table. The gate reads the CURRENT version
    // (== batch aggregate, the st6 oracle); the spec-level properties
    // (one version per batch, earlier versions are prefixes of the
    // merge) ride TableStoreSpec's snapshot contract.
    // Scale: each publish writes one version of the (small) aggregate
    // table + one atomic commit marker; the stream's big-data work is
    // unchanged from st6. An unbounded stream publishes an unbounded
    // version history, so the loop runs keep-last-2 RETENTION inline:
    // every publish reclaims versions below current-1. Markers
    // survive reclamation (history stays auditable), pinned readers
    // of RETAINED versions are untouched (TableStoreSpec pins that
    // contract), and a consumer pinning older versions simply sets a
    // deeper keep — retention policy is the caller's.
    Q("st10_stream_snapshots",
      "per-batch snapshot publishing + keep-last-2 retention over a streaming incremental view == batch aggregate at the current version",
      s"""SELECT user_id, count(*) AS n, ${dsumSql("value")} AS total
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      import graft.operators.TableStore
      val tmp = Scratch.dir("st10")
      val path = tmp.resolve("t").toString
      val snaps = tmp.resolve("snaps").toString
      val stream = EventStream.stagedFileStream(s, t(s, d, "events"),
        tmp.resolve("stage").toString, nFiles = 3)
      EventStream.runForeachBatch(s, stream) { (batch, id) =>
        mergeUserDelta(s, path, batch)
        val v = TableStore.publishVersion(s, snaps, TableStore.read(s, path),
          note = s"batch:$id")
        TableStore.dropVersionsBelow(s, snaps, keepFrom = v - 1)
      }
      val current = TableStore.currentVersion(s, snaps)
        .getOrElse(sys.error("st10: stream published no snapshot"))
      require(current >= 1L, s"st10: expected >=1 snapshot, got $current")
      // the previous version must have survived retention (keep-last-2)
      if (current >= 2L)
        require(TableStore.readVersion(s, snaps, Some(current - 1)).count() >= 0L)
      TableStore.readVersion(s, snaps, Some(current))
        .select(col("user_id"), col("n"),
          col("total").cast("double").as("total"))
        .orderBy("user_id")
    },

    // ---------------------------------------------------------------
    // Stream-stream LEFT OUTER interval join — the semantics st5
    // cannot show: a purchase with NO click in its preceding 10
    // minutes must still be emitted (with a NULL click id), and that
    // emission happens only when the watermark proves no match can
    // arrive. The replay is choreographed with sequencedFileStream:
    // batch 1 carries the real data PLUS a far-future sentinel row
    // (user_id = -1, never joinable) — a watermark computed in batch
    // N only takes effect in batch N+1, so the sentinel can ride
    // with the data it flushes; batch 2 is a second sentinel whose
    // only job is to BE the batch in which the join evicts state and
    // emits the unmatched rows. Without the punctuation the tail of
    // the stream would be withheld forever — the classic outer-join
    // end-of-stream trap, solved here the way production streams
    // solve it (heartbeat/punctuation events).
    // Scale: state is the 10-minute interval per user on both sides,
    // watermark-bounded regardless of stream length.
    Q("st8_stream_left_outer",
      "watermarked stream-stream LEFT OUTER interval join == batch left join",
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id
        |FROM events p LEFT JOIN events c
        |  ON p.user_id = c.user_id AND c.event_type = 'click'
        | AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts <= p.ts
        |WHERE p.event_type = 'purchase'
        |ORDER BY purchase_id, click_id""".stripMargin) { (s, d) =>
      val tmp = Scratch.dir("st8")
      val ev = t(s, d, "events")
      def sentinel(day: String) = s.sql(
        s"""SELECT CAST(-1 AS BIGINT) AS event_id, CAST(-1 AS BIGINT) AS user_id,
           |       CAST('$day' AS TIMESTAMP) AS ts""".stripMargin)
      def side(typ: String, stage: String) = {
        val real = ev.filter(col("event_type") === typ)
          .select(col("event_id"), col("user_id"), col("ts"))
        EventStream.sequencedFileStream(s,
          Seq(real.unionByName(sentinel("2100-01-01")), sentinel("2100-01-02")),
          tmp.resolve(stage).toString)
      }
      val purchases = side("purchase", "p")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val clicks = side("click", "c")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val joined = purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
          col("c_ts") <= col("p_ts"),
        "left_outer")
        .select(col("p_id").as("purchase_id"), col("c_id").as("click_id"))
      EventStream.runToMemory(s, joined,
        s"st8_mem_${System.nanoTime()}", OutputMode.Append())
        .filter(col("purchase_id") >= 0) // drop sentinel punctuation rows
        .orderBy("purchase_id", "click_id")
    },

    // ---------------------------------------------------------------
    // Streaming write-audit-publish — s26's expectations gate applied
    // per MICRO-BATCH (the Delta-Live-Tables ingest loop): every
    // batch computes its per-row rule verdicts in one narrow pass,
    // appends violations to the quarantine table WITH their reasons,
    // appends clean rows to the published table, and publishes the
    // grown table as the batch's snapshot version — so downstream
    // consumers only ever pin versions that have passed audit, while
    // quarantined rows stay queryable for triage instead of poisoning
    // the table or vanishing. The oracle states the same partition
    // algebraically over the whole stream: what was published is
    // EXACTLY the rows that pass every rule, regardless of how the
    // stream was batched — expectations commute with batching because
    // verdicts are per-row. `evt_known` and `value_range` both fire
    // on real data; `user_nonneg` never fires (a passing rule must
    // cost and quarantine nothing). Scale: the audit pass is
    // codegen'd CASE arms on the batch scan; quarantine/publish are
    // appends + one atomic marker per batch.
    Q("st13_stream_audit_publish",
      "per-micro-batch expectations: clean rows publish versioned, violations quarantine == whole-stream audit",
      s"""WITH c AS (
         |  SELECT value,
         |    coalesce(array_to_string(list_filter([
         |      CASE WHEN event_type = 'error' THEN 'evt_known' END,
         |      CASE WHEN value > 300 THEN 'value_range' END,
         |      CASE WHEN user_id < 0 THEN 'user_nonneg' END],
         |      x_ -> x_ IS NOT NULL), ','), '') AS reason
         |  FROM events)
         |SELECT 'published' AS metric, count(*) AS n, ${dsumSql("value")} AS total
         |FROM c WHERE reason = ''
         |UNION ALL
         |SELECT 'quarantined', count(*), ${dsumSql("value")} FROM c WHERE reason != ''
         |UNION ALL
         |SELECT 'rule:' || reason, count(*), ${dsumSql("value")}
         |FROM c WHERE reason != '' GROUP BY reason
         |ORDER BY metric""".stripMargin) { (s, d) =>
      import graft.operators.TableStore
      val tmp = Scratch.dir("st13")
      val clean = tmp.resolve("clean").toString
      val quar = tmp.resolve("quar").toString
      val snaps = tmp.resolve("snaps").toString
      val stream = EventStream.stagedFileStream(s, t(s, d, "events"),
        tmp.resolve("stage").toString, nFiles = 3)
      EventStream.runForeachBatch(s, stream) { (batch, id) =>
        val checked = batch.withColumn("reason", array_join(filter(array(
          when(col("event_type") === "error", "evt_known"),
          when(col("value") > 300, "value_range"),
          when(col("user_id") < 0, "user_nonneg")),
          x_ => x_.isNotNull), ","))
        TableStore.append(checked.filter(col("reason") =!= "")
          .select("event_id", "value", "reason"), quar)
        TableStore.append(checked.filter(col("reason") === "")
          .select("event_id", "value"), clean)
        TableStore.publishVersion(s, snaps, TableStore.read(s, clean),
          note = s"audited-batch:$id")
      }
      val current = TableStore.currentVersion(s, snaps)
        .getOrElse(sys.error("st13: stream published no audited snapshot"))
      val pub = TableStore.readVersion(s, snaps, Some(current))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .select(lit("published").as("metric"), col("n"), col("total"))
      val q = TableStore.read(s, quar)
      pub.unionByName(
          q.agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
            .select(lit("quarantined").as("metric"), col("n"), col("total")))
        .unionByName(q.groupBy("reason")
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
          .select(concat(lit("rule:"), col("reason")).as("metric"),
            col("n"), col("total")))
        .orderBy("metric")
    },

    // ---------------------------------------------------------------
    // Checkpoint RESUME — the contract st9 deliberately does NOT use:
    // st9 proves full redelivery (fresh checkpoint) is made safe by
    // idempotent commits; this proves the default production path
    // needs no such replay at all — a durable checkpoint means a
    // restarted job continues from committed offsets and the files
    // already processed are NEVER redelivered. Choreography: half the
    // events land, the job runs (checkpoint C) and stops; the other
    // half lands; the job restarts with the SAME C. The second run
    // must admit only the NEW files (counted and required), and the
    // blind-append output must equal the whole-stream aggregate — one
    // duplicated batch would double rows and fail the gate, because
    // unlike st6/st9 nothing here merges or dedups. Scale: this is
    // the restart story of every long-running ingest job; the
    // checkpoint holds offsets, not data, so its cost is independent
    // of stream volume.
    Q("st14_stream_resume",
      "durable-checkpoint restart resumes from committed offsets: no redelivery, blind appends stay exact",
      s"""SELECT user_id, count(*) AS n, ${dsumSql("value")} AS total
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      import graft.operators.TableStore
      val tmp = Scratch.dir("st14")
      val stage = tmp.resolve("stage").toString
      val ckpt = tmp.resolve("ckpt").toString
      val out = tmp.resolve("out").toString
      val ev = t(s, d, "events")
      val run2Batches = new java.util.concurrent.atomic.AtomicLong(0L)
      // wave 1: half the stream lands and is processed under checkpoint C
      ev.filter(col("event_id") % 2 === 0).repartition(2)
        .write.mode("append").parquet(stage)
      EventStream.runForeachBatch(s,
        EventStream.restageFileStream(s, ev.schema, stage), Some(ckpt)) {
        (batch, _) => TableStore.append(batch.select("user_id", "value"), out)
      }
      // wave 2: the rest lands; the restarted job reuses C
      ev.filter(col("event_id") % 2 =!= 0).repartition(2)
        .write.mode("append").parquet(stage)
      EventStream.runForeachBatch(s,
        EventStream.restageFileStream(s, ev.schema, stage), Some(ckpt)) {
        (batch, _) =>
          run2Batches.incrementAndGet()
          TableStore.append(batch.select("user_id", "value"), out)
      }
      require(run2Batches.get() <= 2L,
        s"resume redelivered old files: ${run2Batches.get()} batches in run 2")
      TableStore.read(s, out)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("user_id")
    },

    // ---------------------------------------------------------------
    // ST20 — the full MV triangle in the continuous loop: a live feed
    // keeps BOTH the base table and its summary view current, and the
    // final aggregate query is answered by the OPTIMIZER routing to
    // the maintained view (s31/s32's MvRewrite, fed by st-loop
    // maintenance). Per tick, tick-note guarded on both stores so
    // redelivery skips: (1) the slice lands on the base's fold chain
    // as one O(batch) delta; (2) the view advances by applyDelta over
    // the slice-as-inserts changelog — one O(groups-touched) publish,
    // never a recompute. After the stream, compaction folds the base
    // chain into ONE queryable snapshot (the operator-cadence rewrite
    // every log-structured store does anyway), the view is registered
    // as covering exactly that snapshot, and the base-table aggregate
    // — written against the BASE — routes to the view (loud in-plan
    // guard). Write-time O(batch) ingest + O(changes) maintenance,
    // read-time O(groups) routing: the serving architecture at 100 TB.
    Q("st20_stream_mv_routing",
      "stream-maintained base + view; the base aggregate routes to the view the stream kept current",
      s"""SELECT o_custkey, count(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS total
         |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import graft.operators.{Ivm, TableStore}
      import graft.plans.{MvCatalog, MvRewrite}
      MvRewrite.ensure(s)
      val tmp = Scratch.dir("st20")
      val basePath = tmp.resolve("base").toString
      val viewPath = tmp.resolve("view").toString
      val o = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val anchor = o.filter(col("o_orderkey") % 3 =!= 2)
      // v0: base anchor snapshot + the view materialized from it
      TableStore.publishFoldSnapshot(s, basePath, anchor, note = "tick=-1")
      TableStore.publishVersion(s, viewPath,
        Ivm.aggregate(anchor, Seq("o_custkey"), Seq("o_totalprice")),
        note = "tick=-1")
      // the feed: remaining orders as micro-batches; each tick lands
      // the slice on the base chain AND folds it into the view
      val stream = EventStream.stagedFileStream(s,
        o.filter(col("o_orderkey") % 3 === 2),
        tmp.resolve("stage").toString, nFiles = EventStream.ticks(3))
      EventStream.runForeachBatch(s, stream,
        Some(tmp.resolve("ckpt").toString)) { (slice, bid) =>
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val sl = slice.localCheckpoint()
        // the base delta and the view advance touch DISJOINT stores —
        // publish both in parallel (the tick commits when both notes
        // land; either alone redelivers idempotently via its guard)
        Seq(
          Future {
            if (JoinViewMaintenance.tickVersion(s, basePath, bid).isEmpty)
              TableStore.publishFoldDelta(s, basePath,
                sl.withColumn("_mult", lit(1L)), s"tick=$bid"): Unit
          },
          Future {
            if (JoinViewMaintenance.tickVersion(s, viewPath, bid).isEmpty)
              TableStore.publishVersion(s, viewPath,
                Ivm.applyDelta(TableStore.readVersion(s, viewPath),
                  sl.withColumn("_change_type", lit("insert")),
                  Seq("o_custkey"), Seq("o_totalprice")),
                note = s"tick=$bid"): Unit
          }
        ).foreach(Await.result(_, Duration.Inf))
      }
      // compaction: the base chain folded into one queryable snapshot
      val compactV = TableStore.publishFoldSnapshot(s, basePath,
        TableStore.readFolded(s, basePath).drop("_mult"), note = "compact")
      // register the MAINTAINED view where it lives: its latest
      // committed version's data dir (plain publishes use v=N)
      val finalViewDir =
        s"$viewPath/v=${TableStore.committedVersions(s, viewPath).last}"
      MvCatalog.register(s, basePath, compactV, finalViewDir,
        Seq("o_custkey"), Seq("o_totalprice"))
      val q = TableStore.readVersion(s, basePath, Some(compactV))
        .drop("_mult")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total"))
        .orderBy("o_custkey")
      MvRewrite.assertRouted(q, finalViewDir, Seq(basePath), "st20")
      q
    },

    // ---------------------------------------------------------------
    // ST21 — streaming + BACKFILL reconciliation (the kappa-
    // architecture claim, proved): a live stream maintains a
    // per-(day, user) aggregate view tick by tick; afterwards an
    // upstream CORRECTION arrives for the oldest days (click events
    // re-valued), and the backfill job repairs the view by publishing
    // ONE signed preimage/postimage fold delta for the affected slice
    // — it never replays the stream and never rewrites the view. The
    // oracle recomputes the aggregate from the corrected corpus from
    // scratch, so the gate proves stream-then-backfill == batch over
    // corrected data. At 100 TB this is the nightly-fix discipline:
    // the stream's state is a fold log, so a correction is just one
    // more delta in the algebra, O(affected rows) — not a pipeline
    // re-run. Same tick=<bid> WAL guards as st20, so a redelivered
    // micro-batch cannot double-fold.
    Q("st21_stream_backfill",
      "streamed aggregate view + signed backfill correction == batch recompute over corrected corpus",
      s"""WITH cutoff AS (
         |  SELECT min(cast(ts as date)) + 3 AS cd FROM events),
         |c AS (
         |  SELECT cast(ts as date) AS day, user_id,
         |    CASE WHEN event_type = 'click'
         |           AND cast(ts as date) < (SELECT cd FROM cutoff)
         |         THEN value + 10.0 ELSE value END AS value
         |  FROM events)
         |SELECT day, user_id, count(*) AS n,
         |  ${dsumSql("value")} AS total
         |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      import graft.operators.{Ivm, TableStore}
      val tmp = Scratch.dir("st21")
      val viewPath = tmp.resolve("view").toString
      val keys = Seq("day", "user_id")
      val ev = t(s, d, "events")
        .select(to_date(col("ts")).as("day"), col("user_id"),
          col("value"), col("event_type"))
      // v0: an empty full-snapshot anchor in the aggregate-fold shape
      TableStore.publishVersion(s, viewPath,
        Ivm.aggregate(ev.limit(0), keys, Seq("value")), note = "tick=-1")
      // ---- the live stream: 3 ticks of O(batch) partial aggregates
      val stream = EventStream.stagedFileStream(s, ev,
        tmp.resolve("stage").toString, nFiles = EventStream.ticks(3))
      EventStream.runForeachBatch(s, stream,
        Some(tmp.resolve("ckpt").toString)) { (slice, bid) =>
        if (JoinViewMaintenance.tickVersion(s, viewPath, bid).isEmpty)
          TableStore.publishFoldDelta(s, viewPath,
            Ivm.aggDelta(slice.withColumn("_change_type", lit("insert")),
              keys, Seq("value")),
            s"tick=$bid"): Unit
      }
      // ---- the correction lands: click events in the first 3 days
      // were undervalued by 10.0. The backfill is ONE signed delta —
      // preimage retracts what the stream folded, postimage lands the
      // corrected values. O(affected rows), no replay, no rewrite.
      val cutoff = ev.agg(date_add(min(col("day")), 3).as("cd"))
      val affected = ev.crossJoin(broadcast(cutoff))
        .filter(col("event_type") === "click" && col("day") < col("cd"))
        .select("day", "user_id", "value")
      val backfill = affected
        .withColumn("_change_type", lit("update_preimage"))
        .unionByName(affected
          .withColumn("value", col("value") + 10.0)
          .withColumn("_change_type", lit("update_postimage")))
      TableStore.publishFoldDelta(s, viewPath,
        Ivm.aggDelta(backfill, keys, Seq("value")), note = "backfill")
      TableStore.readFoldedAgg(s, viewPath, keys, Seq("value"))
        .select(col("day"), col("user_id"), col("n"),
          col("sum_value").cast("double").as("total"))
        .orderBy("day", "user_id")
    },

    // ---------------------------------------------------------------
    // ST22 — streaming drift monitor: a23's PSI computed CONTINUOUSLY
    // against a pinned reference snapshot. The reference distribution
    // (12 fixed price bins over the even-keyed orders) is published
    // once; the live feed (odd-keyed orders) streams in micro-batches
    // and each tick folds ONLY its slice's bin counts onto a fold
    // chain (O(bins) per tick — the monitor's state is 12 rows at any
    // corpus size). The final read folds the chain and computes PSI
    // vs the reference with the a23 arithmetic (Laplace smoothing,
    // 6-dp-rounded contributions folded as decimals). The oracle
    // computes the same PSI from the raw tables — proving the
    // stream-maintained histogram IS the batch histogram, and the
    // monitor never rescans the feed. At 100 TB this is how feature
    // drift pages an on-call before a bad retrain, not after.
    Q("st22_stream_drift_monitor",
      "streaming PSI vs a pinned reference: per-tick O(bins) histogram folds == batch",
      """WITH v1 AS (SELECT o_totalprice AS p FROM orders WHERE o_orderkey % 2 = 0),
        |v2 AS (SELECT o_totalprice AS p FROM orders WHERE o_orderkey % 2 = 1),
        |bins AS (SELECT unnest(range(0, 12)) AS bin),
        |c1 AS (SELECT least(cast(floor(p / 50000.0) as bigint), 11) AS bin,
        |         count(*) AS n1 FROM v1 GROUP BY 1),
        |c2 AS (SELECT least(cast(floor(p / 50000.0) as bigint), 11) AS bin,
        |         count(*) AS n2 FROM v2 GROUP BY 1),
        |tot AS (SELECT (SELECT cast(count(*) as double) + 6.0 FROM v1) AS d1,
        |               (SELECT cast(count(*) as double) + 6.0 FROM v2) AS d2),
        |j AS (SELECT cast(bins.bin as bigint) AS bin,
        |        coalesce(n1, 0) AS n1, coalesce(n2, 0) AS n2, d1, d2
        |      FROM bins CROSS JOIN tot
        |      LEFT JOIN c1 ON c1.bin = bins.bin
        |      LEFT JOIN c2 ON c2.bin = bins.bin),
        |k AS (SELECT bin, n1, n2,
        |        cast(round(((cast(n2 as double) + 0.5) / d2
        |                    - (cast(n1 as double) + 0.5) / d1)
        |          * ln(((cast(n2 as double) + 0.5) / d2)
        |               / ((cast(n1 as double) + 0.5) / d1)), 6)
        |          as decimal(18,6)) AS contrib
        |      FROM j)
        |SELECT bin, n1, n2, cast(contrib as double) AS contrib,
        |  cast((SELECT sum(contrib) FROM k) as double) AS psi
        |FROM k ORDER BY bin""".stripMargin) { (s, d) =>
      import graft.operators.{Ivm, TableStore}
      val tmp = Scratch.dir("st22")
      val refPath = tmp.resolve("ref").toString
      val histPath = tmp.resolve("hist").toString
      val o = t(s, d, "orders").select("o_orderkey", "o_totalprice")
      def binned(df: org.apache.spark.sql.DataFrame) =
        df.select(least(floor(col("o_totalprice") / 50000.0).cast("bigint"),
          lit(11L)).as("bin"), col("o_totalprice").as("value"))
      // the pinned reference histogram, published once
      TableStore.publishVersion(s, refPath,
        binned(o.filter(col("o_orderkey") % 2 === 0))
          .groupBy("bin").agg(count(lit(1)).as("n1")), note = "reference")
      // the live feed: odd orders over 3 ticks; each tick folds ONLY
      // its slice's bin counts — 12-row state at any corpus size
      TableStore.publishVersion(s, histPath,
        Ivm.aggregate(binned(o.filter(col("o_orderkey") % 2 === 1)).limit(0),
          Seq("bin"), Nil), note = "tick=-1")
      val stream = EventStream.stagedFileStream(s,
        binned(o.filter(col("o_orderkey") % 2 === 1)),
        tmp.resolve("stage").toString, nFiles = EventStream.ticks(3))
      EventStream.runForeachBatch(s, stream,
        Some(tmp.resolve("ckpt").toString)) { (slice, bid) =>
        if (JoinViewMaintenance.tickVersion(s, histPath, bid).isEmpty)
          TableStore.publishFoldDelta(s, histPath,
            Ivm.aggDelta(slice.withColumn("_change_type", lit("insert")),
              Seq("bin"), Nil),
            s"tick=$bid"): Unit
      }
      // ---- the monitor read: fold the 12-row chain, PSI vs reference
      val live = TableStore.readFoldedAgg(s, histPath, Seq("bin"), Nil)
        .select(col("bin"), col("n").as("n2"))
      val ref = TableStore.readVersion(s, refPath)
      val d1 = ref.agg((sum(col("n1")).cast("double") + 6.0).as("d1"))
      val d2 = live.agg((sum(col("n2")).cast("double") + 6.0).as("d2"))
      val bins = s.range(0, 12).select(col("id").as("bin"))
      val j = bins
        .crossJoin(broadcast(d1)).crossJoin(broadcast(d2))
        .join(broadcast(ref), Seq("bin"), "left")
        .join(broadcast(live), Seq("bin"), "left")
        .na.fill(0L, Seq("n1", "n2"))
      val p1 = (col("n1").cast("double") + 0.5) / col("d1")
      val p2 = (col("n2").cast("double") + 0.5) / col("d2")
      val k = j.select(col("bin"), col("n1"), col("n2"),
        round((p2 - p1) * log(p2 / p1), 6).cast("decimal(18,6)").as("contrib"))
      val psi = k.agg(sum(col("contrib")).as("psi_d"))
      k.crossJoin(broadcast(psi))
        .select(col("bin"), col("n1"), col("n2"),
          col("contrib").cast("double").as("contrib"),
          col("psi_d").cast("double").as("psi"))
        .orderBy("bin")
    },

    // ---------------------------------------------------------------
    // ST23 — ATOMIC multi-table ticks: st20 advances its base and
    // view with INDEPENDENT per-table guards, so a reader between the
    // two publishes can see a tick half-applied. Here each tick's
    // publishes become visible as a SET: the tick lands the base fold
    // delta and the view version first (guarded, idempotent), then
    // commits ONE manifest version pinning both — the s37
    // publication-set discipline as the stream's commit protocol. A
    // crash between member publishes and the manifest leaves the tick
    // INVISIBLE to manifest readers (redelivery re-runs its guarded
    // members as no-ops and re-commits the manifest); a reader always
    // resolves base + view through the LAST manifest and sees a
    // consistent pair. The query reads both tables through the final
    // manifest, checks view == aggregate(base) IN-QUERY (the
    // consistency the protocol guarantees), and the oracle recomputes
    // from the raw table.
    Q("st23_stream_atomic_ticks",
      "each tick commits base+view as one atomic manifest: reader-visible state always consistent",
      s"""SELECT o_custkey, count(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS total,
         |  0 AS n_inconsistent
         |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import graft.operators.{Ivm, TableStore}
      val tmp = Scratch.dir("st23")
      val basePath = tmp.resolve("base").toString
      val viewPath = tmp.resolve("view").toString
      val maniPath = tmp.resolve("manifest").toString
      val o = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val anchor = o.filter(col("o_orderkey") % 3 =!= 2)
      val vB0 = TableStore.publishFoldSnapshot(s, basePath, anchor, "tick=-1")
      val vV0 = TableStore.publishVersion(s, viewPath,
        Ivm.aggregate(anchor, Seq("o_custkey"), Seq("o_totalprice")),
        note = "tick=-1")
      TableStore.publishManifest(s, maniPath, Seq(
        ("base", basePath, vB0), ("view", viewPath, vV0)), note = "tick=-1")
      val stream = EventStream.stagedFileStream(s,
        o.filter(col("o_orderkey") % 3 === 2),
        tmp.resolve("stage").toString, nFiles = EventStream.ticks(3))
      EventStream.runForeachBatch(s, stream,
        Some(tmp.resolve("ckpt").toString)) { (slice, bid) =>
        JoinViewMaintenance.manifestTick(s, maniPath, basePath, viewPath,
          slice.localCheckpoint().withColumn("_change_type", lit("insert")),
          bid, Seq("o_custkey"), Seq("o_totalprice"), compactEvery = 2)
      }
      // the reader's path: resolve BOTH tables through the manifest
      // (the base is a fold table, so its pin resolves fold-aware)
      val base = TableStore.readPinnedFolded(s, maniPath, "base").drop("_mult")
      val view = TableStore.readPinned(s, maniPath, "view")
      val recomputed = base.groupBy("o_custkey")
        .agg(count(lit(1)).as("rn"),
          sum(col("o_totalprice").cast("decimal(30,2)")).as("rt"))
      // in-query consistency gate: the pinned view must equal the
      // pinned base's aggregate, row for row
      view.join(recomputed, Seq("o_custkey"), "full_outer")
        .select(col("o_custkey"),
          coalesce(col("n"), lit(0L)).as("n_orders"),
          coalesce(col("sum_o_totalprice"), lit(0).cast("decimal(30,2)"))
            .cast("double").as("total"),
          when(col("n") <=> col("rn") &&
            col("sum_o_totalprice") <=> col("rt"), 0L)
            .otherwise(1L).as("n_inconsistent"))
        .filter(col("n_orders") > 0 || col("n_inconsistent") > 0)
        .orderBy("o_custkey")
    },

    // ---------------------------------------------------------------
    // ST24 — continuous JSONL ingest: s38's parse discipline in the
    // loop a crawl drop-folder actually drives. A file-source stream
    // tails the directory under the DECLARED schema (one new file =
    // one micro-batch); each tick lands its clean rows on the corpus
    // fold table and its malformed lines on a QUARANTINE fold table —
    // both publishes tick-note guarded (the applyTick WAL discipline:
    // redelivery skips), so the corpus is exactly-once no matter how
    // the file lister batches or redelivers. Drifted producers
    // null-fill mid-stream without stopping the world — the schema is
    // a declared constant, never re-inferred per batch. The serving
    // read folds both tables; the oracle is s38's (stream-of-ingests
    // == one batch pass).
    Q("st24_stream_jsonl_ingest",
      "drop-folder JSONL stream: per-tick guarded corpus + quarantine fold publishes, exactly-once",
      """SELECT lang AS bucket, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN doc_id % 10 != 0 THEN n_chars END) AS BIGINT)
        |    AS chars,
        |  CAST(sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_drifted
        |FROM documents GROUP BY 1
        |UNION ALL SELECT '_corrupt', CAST(7 AS BIGINT), CAST(NULL AS BIGINT),
        |  CAST(0 AS BIGINT)
        |ORDER BY bucket""".stripMargin) { (s, d) =>
      import graft.operators.TableStore
      import org.apache.spark.sql.types.StructType
      val tmp = Scratch.dir("st24")
      val drop = tmp.resolve("drop").toString
      val corpusPath = tmp.resolve("corpus").toString
      val quarPath = tmp.resolve("quarantine").toString
      val docs = t(s, d, "documents")
        .select("doc_id", "lang", "source", "n_chars")
      import s.implicits._
      // empty v0 anchors: the fold chains need a snapshot to fold onto
      TableStore.publishFoldSnapshot(s, corpusPath, docs.limit(0), "tick=-1")
      TableStore.publishFoldSnapshot(s, quarPath,
        Seq.empty[String].toDF("line"), "tick=-1")
      // three producers fill the drop folder (files = micro-batches)
      docs.filter(col("doc_id") % 10 =!= 0)
        .repartition(EventStream.ticks(3))
        .write.mode("append").json(drop)
      docs.filter(col("doc_id") % 10 === 0)
        .select(concat(lit("{\"doc_id\":"), col("doc_id"),
          lit(",\"lang\":\""), col("lang"),
          lit("\",\"extra_field\":\"v2-producer\"}")).as("value"))
        .coalesce(1).write.mode("append").text(drop)
      (1 to 7).map(i => s"{broken line $i").toDF("value")
        .coalesce(1).write.mode("append").text(drop)
      val schema = StructType.fromDDL("doc_id BIGINT, lang STRING, " +
        "source STRING, n_chars BIGINT, _corrupt_record STRING")
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(drop)
      EventStream.runForeachBatch(s, stream,
        Some(tmp.resolve("ckpt").toString)) { (slice, bid) =>
        val sl = slice.localCheckpoint()
        if (JoinViewMaintenance.tickVersion(s, corpusPath, bid).isEmpty)
          TableStore.publishFoldDelta(s, corpusPath,
            sl.filter(col("_corrupt_record").isNull)
              .drop("_corrupt_record").withColumn("_mult", lit(1L)),
            s"tick=$bid"): Unit
        if (JoinViewMaintenance.tickVersion(s, quarPath, bid).isEmpty)
          TableStore.publishFoldDelta(s, quarPath,
            sl.filter(col("_corrupt_record").isNotNull)
              .select(col("_corrupt_record").as("line"))
              .withColumn("_mult", lit(1L)),
            s"tick=$bid"): Unit
      }
      val corpus = TableStore.readFolded(s, corpusPath).drop("_mult")
      val quarantined = TableStore.readFolded(s, quarPath)
        .agg(sum(col("_mult")).cast("long").as("n")).select(
          lit("_corrupt").as("bucket"), col("n"),
          lit(null).cast("bigint").as("chars"), lit(0L).as("n_drifted"))
      // LONG-pinned on both sides (see s38's note on DuckDB HUGEINT)
      corpus.groupBy(col("lang").as("bucket"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("n_chars")).cast("long").as("chars"),
          sum(when(col("source").isNull, 1L).otherwise(0L)).cast("long")
            .as("n_drifted"))
        .unionByName(quarantined)
        .orderBy("bucket")
    },

    // ---------------------------------------------------------------
    // TABLE CHANGEFEED — the store's commit log consumed AS a stream:
    // st10/st12 stream INTO tables; this is the missing direction
    // (Delta's `readStream.table(...)`), through a custom DSv2
    // MicroBatchStream whose OFFSETS are committed version numbers
    // (sources/Changefeed). The upstream fold table's
    // signed rows ARE its CDC events, so a downstream consumer
    // maintains a per-customer aggregate by folding each micro-batch
    // — O(batch) per commit, never a rescan of the table, and the
    // feed is marker-aware (a torn publish is invisible; the spec
    // proves orphan invisibility + checkpointed resume). The fixture
    // consumes two real micro-batches (initial replay, then a commit
    // published WHILE the stream runs) and the in-query gate requires
    // the downstream chain to hold both ticks; the oracle recomputes
    // the aggregate from the logical final state — feed-maintained ==
    // recomputed, the stream/batch equivalence contract.
    Q("st25_table_changefeed",
      "commit log as a DSv2 streaming source: downstream aggregate folded from the feed == batch recompute",
      s"""WITH cur AS (
         |  SELECT o_custkey, o_totalprice FROM orders WHERE o_orderkey % 7 <> 0
         |  UNION ALL
         |  SELECT o_custkey, o_totalprice + 1000 FROM orders WHERE o_orderkey % 13 = 0)
         |SELECT o_custkey, count(*) AS n, ${dsumSql("o_totalprice")} AS total
         |FROM cur GROUP BY o_custkey ORDER BY o_custkey""".stripMargin) { (s, d) =>
      import graft.operators.TableStore
      import org.apache.spark.sql.types.DecimalType
      val tmp = Scratch.dir("st25")
      val base = tmp.resolve("base").toString
      val down = tmp.resolve("down").toString
      val o = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      // upstream commits BEFORE the stream starts: snapshot + a
      // retraction delta (the initial-replay batch)
      TableStore.publishFoldSnapshot(s, base, o, "v0")
      TableStore.publishFoldDelta(s, base,
        o.filter(col("o_orderkey") % 7 === 0).withColumn("_mult", lit(-1L)),
        "retract")
      // ONE source name for snapshots, writes, batch CDC and the
      // commit-log stream: the graft-table provider's streaming half
      // resolves to the same changefeed machinery (Delta's
      // readStream-on-table surface; round-12 unification)
      val feed = s.readStream
        .format("graft-table")
        .load(base)
      // the exactly-once sink discipline: a redelivered micro-batch
      // (crash between the publish and the stream checkpoint's
      // commit) finds its batch note already committed and skips —
      // without this the retried fold delta would double-apply
      def committedBatch(path: String, bid: Long): Boolean =
        TableStore.committedVersions(s, path).exists(v =>
          TableStore.versionNote(s, path, v).exists(_.endsWith(s"batch:$bid")))
      val q = feed.writeStream
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          val part = batch.groupBy("o_custkey").agg(
            sum(col("_mult")).as("n"),
            sum(col("o_totalprice").cast(DecimalType(30, 2)) * col("_mult"))
              .cast(DecimalType(30, 2)).as("sum_o_totalprice"))
          if (committedBatch(down, bid)) ()
          else if (TableStore.currentVersion(s, down).isEmpty)
            TableStore.publishVersion(s, down, part, note = s"batch:$bid"): Unit
          else
            TableStore.publishFoldDelta(s, down, part, note = s"batch:$bid"): Unit
        }
        .start()
      try {
        q.processAllAvailable()
        // a commit lands WHILE the stream runs — the next poll's batch
        TableStore.publishFoldDelta(s, base,
          o.filter(col("o_orderkey") % 13 === 0)
            .select((-col("o_orderkey")).as("o_orderkey"), col("o_custkey"),
              (col("o_totalprice") + 1000).as("o_totalprice"))
            .withColumn("_mult", lit(1L)),
          "late-insert")
        q.processAllAvailable()
      } finally q.stop()
      require(TableStore.committedVersions(s, down).size >= 2,
        "st25: the feed must have produced at least two downstream ticks")
      TableStore.readFoldedAgg(s, down, Seq("o_custkey"), Seq("o_totalprice"))
        .select(col("o_custkey"), col("n"),
          col("sum_o_totalprice").cast("double").as("total"))
        .orderBy("o_custkey")
    },

    // ---------------------------------------------------------------
    // MEDALLION CHAIN — bronze → silver → gold as CHAINED changefeed
    // consumers (the DLT / multi-hop lakehouse architecture): silver
    // streams bronze's commit log and folds the CLEANING filter
    // through each signed batch (σ commutes with signed union, so
    // filtering every batch — retractions included — equals filtering
    // the final state); gold streams SILVER's commit log and folds a
    // per-status aggregate. Every hop is O(commit bytes): a bronze
    // correction flows to gold through two bounded micro-batches,
    // never a rescan of either table — the property that makes a
    // 100 TB multi-hop pipeline maintainable. Both hops advance
    // across TWO real micro-batches (initial replay + a bronze
    // retraction published while both streams run), gated in-query;
    // the oracle recomputes gold from the logical final bronze state
    // through the same filter — chained-incremental == end-to-end
    // recompute.
    Q("st26_medallion_chain",
      "bronze->silver->gold chained changefeed consumers == end-to-end batch recompute",
      s"""SELECT o_orderstatus, count(*) AS n, ${dsumSql("o_totalprice")} AS total
         |FROM orders
         |WHERE o_orderkey % 5 <> 0 AND o_totalprice > 50000
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      import graft.operators.TableStore
      import org.apache.spark.sql.types.DecimalType
      val tmp = Scratch.dir("st26")
      val bronze = tmp.resolve("bronze").toString
      val silver = tmp.resolve("silver").toString
      val gold = tmp.resolve("gold").toString
      val o = t(s, d, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      TableStore.publishFoldSnapshot(s, bronze, o, "v0")
      // exactly-once per hop: a redelivered micro-batch finds its
      // batch note committed and skips (no double-fold on retry)
      def committedBatch(path: String, bid: Long): Boolean =
        TableStore.committedVersions(s, path).exists(v =>
          TableStore.versionNote(s, path, v).exists(_.endsWith(s"batch:$bid")))
      // both hops stream through the SAME graft-table source name the
      // rest of the engine reads/writes with — one read path for
      // snapshots, time travel, batch CDC and the commit-log stream
      // (the round-12 st25 unification, finished here in round 13 by
      // retiring the legacy standalone provider)
      def consume(src: String)(sink: (org.apache.spark.sql.DataFrame, Long) => Unit) =
        s.readStream.format("graft-table").load(src)
          .writeStream
          .option("checkpointLocation",
            tmp.resolve(s"ckpt_${new java.io.File(src).getName}").toString)
          .foreachBatch(sink).start()
      // both streams stop in one finally — a failure in either hop's
      // drain must not leave the other polling for the JVM's life
      var qSilver: org.apache.spark.sql.streaming.StreamingQuery = null
      var qGold: org.apache.spark.sql.streaming.StreamingQuery = null
      try {
        qSilver = consume(bronze) { (batch, bid) =>
          // the cleaning hop: the filter applies to every signed row,
          // so a retraction of a dirty row is dropped exactly like the
          // dirty row itself was — silver == σ(bronze) at every tick
          val clean = batch.filter(col("o_totalprice") > 50000)
            .select("o_orderkey", "o_orderstatus", "o_totalprice", "_mult")
          if (committedBatch(silver, bid)) ()
          else if (TableStore.currentVersion(s, silver).isEmpty)
            TableStore.publishFoldSnapshot(s, silver, clean, s"batch:$bid"): Unit
          else TableStore.publishFoldDelta(s, silver, clean, s"batch:$bid"): Unit
        }
        qSilver.processAllAvailable()
        qGold = consume(silver) { (batch, bid) =>
          val part = batch.groupBy("o_orderstatus").agg(
            sum(col("_mult")).as("n"),
            sum(col("o_totalprice").cast(DecimalType(30, 2)) * col("_mult"))
              .cast(DecimalType(30, 2)).as("sum_o_totalprice"))
          if (committedBatch(gold, bid)) ()
          else if (TableStore.currentVersion(s, gold).isEmpty)
            TableStore.publishVersion(s, gold, part, note = s"batch:$bid"): Unit
          else TableStore.publishFoldDelta(s, gold, part, note = s"batch:$bid"): Unit
        }
        qGold.processAllAvailable()
        // a correction lands at bronze while BOTH hops run — it must
        // ripple through silver to gold as two bounded batches
        TableStore.publishFoldDelta(s, bronze,
          o.filter(col("o_orderkey") % 5 === 0).withColumn("_mult", lit(-1L)),
          "retraction")
        qSilver.processAllAvailable()
        qGold.processAllAvailable()
      } finally {
        if (qSilver != null) qSilver.stop()
        if (qGold != null) qGold.stop()
      }
      require(TableStore.committedVersions(s, silver).size >= 2 &&
        TableStore.committedVersions(s, gold).size >= 2,
        "st26: both hops must have advanced across >=2 ticks")
      TableStore.readFoldedAgg(s, gold, Seq("o_orderstatus"), Seq("o_totalprice"))
        .select(col("o_orderstatus"), col("n"),
          col("sum_o_totalprice").cast("double").as("total"))
        .orderBy("o_orderstatus")
    },

    // ---------------------------------------------------------------
    // Streaming APPEND SINK — Delta's streaming-write architecture on
    // the s48 add-files chain: each micro-batch commits ONE O(batch)
    // append version (only the batch's files are written; the table is
    // never rewritten, unlike st9/st10's full-snapshot republish,
    // whose cost is O(table) per tick — fine for a small serving
    // aggregate, wrong for raw ingest at 100 TB). Exactly-once by the
    // same WAL discipline as st9: the commit note carries the batch id
    // and the marker probe skips a redelivered batch; the append
    // commit is CAS-shaped, so a racing writer can't silently lose
    // rows either. After the replay, checkpointChain republishes the
    // chain as one snapshot (Delta's checkpoint) — gated in-query as
    // content-invariant, since the oracle reads the checkpointed
    // table. Gates: every post-initial commit IS a chained append
    // (versionBase defined, one dir per commit), and the chain resets
    // to a single dir after the checkpoint.
    Q("st27_stream_append_sink",
      "streaming O(batch) add-files commits with tick idempotency; checkpoint bounds the chain",
      s"""SELECT event_type, count(*) AS n, ${dsumSql("value")} AS total
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import graft.operators.TableStore
      val tmp = Scratch.dir("st27")
      val path = tmp.resolve("t").toString
      val stream = EventStream.stagedFileStream(s, t(s, d, "events"),
        tmp.resolve("stage").toString, nFiles = 4)
      EventStream.runForeachBatch(s, stream) { (batch, bid) =>
        val note = s"tick=$bid"
        val applied = TableStore.committedVersions(s, path)
          .exists(v => TableStore.versionNote(s, path, v).contains(note))
        if (!applied) {
          val rows = batch.select("event_id", "event_type", "value")
          if (TableStore.currentVersion(s, path).isEmpty)
            TableStore.publishVersion(s, path, rows, note): Unit
          else TableStore.publishVersionAppend(s, path, rows, note): Unit
        }
      }
      val versions = TableStore.committedVersions(s, path)
      require(versions.size >= 2,
        s"st27: expected a multi-batch replay, got versions $versions")
      versions.tail.foreach(v => require(
        TableStore.versionBase(s, path, v).isDefined,
        s"st27: version $v rewrote the table instead of appending"))
      require(TableStore.snapshotDataDirs(s, path, None).size == versions.size,
        "st27: the live chain must read one dir per commit")
      TableStore.checkpointChain(s, path): Unit
      require(TableStore.snapshotDataDirs(s, path, None).size == 1,
        "st27: checkpoint must reset the chain to a single snapshot")
      s.read.format("graft-table").load(path)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type")
    }
  )
}
