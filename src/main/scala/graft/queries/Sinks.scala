package graft.queries

import org.apache.spark.sql.functions._
import graft.Scratch
import graft.operators.TableStore

/** Sink-discipline operators (SURVEY.md §2.1 S5-S12, §2.10 I1),
  * exercised as round-trips: build a scratch table under a temp dir,
  * apply the discipline, read the final state back. The oracle SQL
  * states the same final table algebraically over the source tables,
  * so the driver's DuckDB gate checks the *semantics* of each write
  * mode, not just that files appeared.
  */
object Sinks {

  /** One bucketed-table base dir per JVM (s15): collision-free across
    * concurrent JVMs, reused across invocations within one. */
  private lazy val s15Base: String =
    Scratch.dir("s15").toString

  val all: Seq[Q] = Seq(

    // ---------------------------------------------------------------
    // S5 — append sink: two appended batches = UNION ALL.
    Q("s5_append_sink",
      "append-mode sink: two batches accumulate",
      """SELECT o_custkey, count(*) AS n FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_custkey FROM orders WHERE o_orderkey % 2 = 1)
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val path = Scratch.table("s5")
      val o = t(s, d, "orders").select("o_orderkey", "o_custkey")
      TableStore.append(o.filter(col("o_orderkey") % 2 === 0), path)
      TableStore.append(o.filter(col("o_orderkey") % 2 === 1), path)
      TableStore.read(s, path)
        .groupBy("o_custkey").agg(count(lit(1)).as("n"))
        .orderBy("o_custkey")
    },

    // ---------------------------------------------------------------
    // S6 — truncate-load: second write replaces the first.
    Q("s6_overwrite_sink",
      "overwrite-mode sink: last write wins",
      """SELECT c_mktsegment, count(*) AS n FROM customer
        |WHERE c_nationkey < 10
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      val path = Scratch.table("s6")
      val c = t(s, d, "customer")
      TableStore.overwrite(c.filter(col("c_nationkey") >= 10), path)
      TableStore.overwrite(c.filter(col("c_nationkey") < 10), path)
      TableStore.read(s, path)
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    },

    // ---------------------------------------------------------------
    // S7 — MERGE insert-if-absent (dimension discipline): overlapping
    // key ranges, existing rows kept.
    Q("s7_insert_if_absent",
      "merge-if-absent sink: existing keys kept, new keys inserted",
      """SELECT p_partkey, p_brand FROM (
        |  SELECT p_partkey, p_brand FROM part WHERE p_partkey <= 1200
        |  UNION ALL
        |  SELECT p_partkey, 'LATE-' || p_brand AS p_brand FROM part
        |  WHERE p_partkey > 1200 AND p_partkey <= 1600)
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      val path = Scratch.table("s7")
      val p = t(s, d, "part").select("p_partkey", "p_brand")
      TableStore.overwrite(p.filter(col("p_partkey") <= 1200), path)
      // second batch overlaps 800..1200 (must NOT replace) and adds
      // 1200..1600 with a marker brand (must insert).
      val late = p.filter(col("p_partkey") > 800 && col("p_partkey") <= 1600)
        .withColumn("p_brand", concat(lit("LATE-"), col("p_brand")))
      TableStore.insertIfAbsent(s, path, late, Seq("p_partkey"))
      TableStore.read(s, path).orderBy("p_partkey")
    },

    // ---------------------------------------------------------------
    // S8 — delete+insert partition rewrite: rewritten keys reflect
    // removals (bridge-table discipline).
    Q("s8_delete_insert",
      "delete-by-keys + insert sink: rewritten key set reflects removals",
      """WITH batch_keys AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_custkey <= 100 AND o_orderkey % 5 = 0)
        |SELECT o_custkey, o_orderkey FROM (
        |  SELECT o_custkey, o_orderkey FROM orders
        |  WHERE o_orderkey % 3 != 0
        |    AND o_custkey NOT IN (SELECT o_custkey FROM batch_keys)
        |  UNION ALL
        |  SELECT o_custkey, o_orderkey FROM orders
        |  WHERE o_custkey <= 100 AND o_orderkey % 5 = 0)
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val path = Scratch.table("s8")
      val o = t(s, d, "orders").select("o_custkey", "o_orderkey")
      TableStore.overwrite(o.filter(col("o_orderkey") % 3 =!= 0), path)
      // rebatch customers <= 100 with a different orderset: their old
      // rows must vanish, others stay.
      val batch = o.filter(col("o_custkey") <= 100 && col("o_orderkey") % 5 === 0)
      TableStore.deleteInsert(s, path, batch, Seq("o_custkey"))
      TableStore.read(s, path).orderBy("o_custkey", "o_orderkey")
    },

    // ---------------------------------------------------------------
    // S11 — archive sink: age-based split into archive + live.
    Q("s11_archive_sink",
      "archive rows older than a cutoff; live table keeps the rest",
      """SELECT 'archive' AS part, count(*) AS n FROM events
        |WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
        |UNION ALL
        |SELECT 'live' AS part, count(*) AS n FROM events
        |WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
        |ORDER BY part""".stripMargin) { (s, d) =>
      val path = Scratch.table("s11_live")
      val arch = Scratch.table("s11_arch")
      TableStore.overwrite(t(s, d, "events"), path)
      TableStore.archiveOlderThan(s, path, arch, "ts",
        java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
      val a = TableStore.read(s, arch).agg(count(lit(1)).as("n"))
        .select(lit("archive").as("part"), col("n"))
      val l = TableStore.read(s, path).agg(count(lit(1)).as("n"))
        .select(lit("live").as("part"), col("n"))
      a.unionByName(l).orderBy("part")
    },

    // ---------------------------------------------------------------
    // Layout discipline in the gate (SURVEY §1.3): write the stream
    // table day-partitioned + key-sorted (TableLayout.writeTimeSeries),
    // read back an 11-day window through the partition-pruned path.
    // The reference's measured win for this layout is 273.5 MB → 1.9 MB
    // per lookup; the plan-level pruning proof lives in TableLayoutSpec
    // — this entry pins the SEMANTICS of the partitioned round trip
    // (date derivation, partition-column typing, window edges).
    Q("s13_partitioned_scan",
      "day-partitioned sink + partition-pruned day-range read-back",
      s"""SELECT cast(ts as date) AS load_date, event_type, count(*) AS n,
         |  ${dsumSql("value")} AS total
         |FROM events
         |WHERE cast(ts as date) >= DATE '2024-01-10'
         |  AND cast(ts as date) <= DATE '2024-01-20'
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val path = Scratch.table("s13")
      graft.operators.TableLayout.writeTimeSeries(
        t(s, d, "events"), path, "ts", "user_id")
      graft.operators.TableLayout.dayRange(s, path, "2024-01-10", "2024-01-20")
        .groupBy(col("load_date"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("load_date", "event_type")
    },

    // ---------------------------------------------------------------
    // Additive schema evolution (SURVEY §1.3: the reference only ever
    // ADDs columns — ALTER TABLE ADD COLUMN IF NOT EXISTS). Old files
    // lack the new column; the read declares the CURRENT schema
    // explicitly and old files null-fill it. No mergeSchema: schema
    // inference over every file footer is a full listing+read pass at
    // 100 TB, and the table's schema should be a declared constant,
    // not a function of which files happen to exist.
    Q("s14_additive_schema",
      "additive column evolution: explicit unified schema over mixed-schema files",
      """SELECT o_orderkey, o_totalprice,
        |  CASE WHEN o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
        |       THEN o_orderpriority ELSE NULL END AS o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types.StructType
      val path = Scratch.table("s14")
      val ord = t(s, d, "orders")
      val cutoff = lit("1999-01-01 00:00:00").cast("timestamp")
      // v1 era: the table had two columns
      ord.filter(col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_totalprice")
        .write.mode("append").parquet(path)
      // v2 era: a column was added; new files carry it
      ord.filter(col("o_orderdate") >= cutoff)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("append").parquet(path)
      val unified = StructType.fromDDL(
        "o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING")
      s.read.schema(unified).parquet(path)
        .orderBy("o_orderkey")
    },

    // ---------------------------------------------------------------
    // I1's partition-wise sibling: BACKFILL. Late-arriving events
    // touch a handful of day partitions; only those days are
    // recomputed (from all of that day's rows) and swapped in via
    // delete+insert on the day key. Untouched days never rescan — at
    // 100 TB this is the difference between reprocessing 3 days and
    // reprocessing 3 years. The oracle is the full recompute, so the
    // gate proves backfill == rebuild.
    Q("i2_partition_backfill",
      "late-data backfill rewrites only affected day partitions == full recompute",
      s"""SELECT cast(ts as date) AS day, event_type, count(*) AS n,
         |  ${dsumSql("value")} AS total
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val path = Scratch.table("i2")
      val ev = t(s, d, "events").withColumn("day", to_date(col("ts")))
      val cut = lit("2024-01-20 00:00:00").cast("timestamp")
      def daily(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("day", "event_type")
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      // bootstrap: everything seen so far
      TableStore.overwrite(daily(ev.filter(col("ts") < cut)), path)
      // late slice arrives: find the AFFECTED days, recompute only them
      // from the full day (the cutoff day was partial in the bootstrap)
      val late = ev.filter(col("ts") >= cut)
      val affectedDays = late.select("day").distinct()
      val refreshed = daily(ev.join(affectedDays, Seq("day"), "left_semi"))
      TableStore.deleteInsert(s, path, refreshed, Seq("day"))
      TableStore.read(s, path)
        .select(col("day"), col("event_type"), col("n"), col("total"))
        .orderBy("day", "event_type")
    },

    // ---------------------------------------------------------------
    // I1/S12 — incremental high-watermark upsert: process rows after
    // the stored watermark, key-preserving MERGE; final state must
    // equal the full recompute (that equivalence IS the oracle).
    Q("i1_incremental_upsert",
      "watermark-incremental upsert equals the full recompute",
      """SELECT user_id, count(*) AS n, max(ts) AS last_ts
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val path = Scratch.table("i1")
      val ev = t(s, d, "events")
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      def aggOf(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("user_id")
          .agg(count(lit(1)).as("n"), max(col("ts")).as("last_ts"))
      // bootstrap run: everything before the cut
      TableStore.overwrite(aggOf(ev.filter(col("ts") < cut)), path)
      // incremental run: watermark read, late slice only, merged stats
      val wm = TableStore.maxWatermark(s, path, "last_ts").get
      val delta = ev.filter(col("ts") > lit(wm))
      val touched = delta.select("user_id").distinct()
      val refreshed = aggOf(ev.join(touched, Seq("user_id"), "left_semi"))
      TableStore.upsertByKey(s, path, refreshed, Seq("user_id"))
      TableStore.read(s, path).orderBy("user_id")
    },

    // ---------------------------------------------------------------
    // I-family #3: incremental view maintenance from the CDC
    // changelog — the consumer side of s24. A materialized per-
    // customer aggregate view is carried from snapshot v1 to v2 by
    // folding in ONLY the change rows (signed deltas: preimages
    // decrement, postimages increment — Ivm.applyDelta), never
    // re-reading v1. The edit script is adversarial on purpose:
    // deletes, in-place updates, GROUP-MOVING updates (custkey
    // changes — the pre/post pair splits across two groups), and
    // inserts into brand-new groups; emptied groups must vanish. The
    // oracle recomputes the view from the v2 expression directly, so
    // a green row proves maintained == recomputed bit-exactly
    // (decimal sums). Here the changelog itself comes from the
    // snapshot diff (O(table) once); a production table format
    // persists per-commit change files, and the apply stage — the
    // part this query gates — is O(changes ∪ touched groups) either
    // way. i1 is watermark-append incremental; this is the general
    // form that also survives deletes and updates.
    Q("i3_cdc_apply",
      "CDC-maintained aggregate view == recompute under deletes, group-moving updates, inserts",
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
      import graft.operators.Ivm
      val path = Scratch.table("i3")
      val viewPath = Scratch.table("i3_view")
      val o = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val edited = editOrders(o)
      val v1 = TableStore.publishVersion(s, path, o, note = "base")
      val v2 = TableStore.publishVersion(s, path, edited, note = "edit")
      // materialize the view at v1, then maintain it WITHOUT v1
      TableStore.overwrite(Ivm.aggregate(
        TableStore.readVersion(s, path, Some(v1)),
        Seq("o_custkey"), Seq("o_totalprice")), viewPath)
      val changes = TableStore.changesBetween(s, path, v1, v2, Seq("o_orderkey"))
      Ivm.applyDelta(TableStore.read(s, viewPath), changes,
        Seq("o_custkey"), Seq("o_totalprice"))
        .select(col("o_custkey"), col("n"),
          col("sum_o_totalprice").cast("double").as("total"))
        .orderBy("o_custkey")
    },

    // ---------------------------------------------------------------
    // I4 — JOIN-view IVM: the bilinear delta rule Δ(A⋈B) = ΔA⋈B_old
    // ∪ A_old⋈ΔB ∪ ΔA⋈ΔB with signs multiplying in the cross term,
    // over a multiplicity-annotated view (Ivm.joinView /
    // applyJoinDelta). BOTH sides take an adversarial edit script —
    // deletes, in-place updates, inserts — including overlapping
    // orderkeys so the ΔA⋈ΔB term genuinely fires (an updated order
    // meeting its own updated lines re-derives through all three
    // terms and the signs must cancel to exactly one derivation).
    // The oracle recomputes the joined view from the edited tables,
    // so a green row proves maintained == recomputed. At scale each
    // tick broadcasts the deltas into one probe of each base side —
    // O(|Δ|·fanout), never a recompute of A⋈B.
    Q("i4_join_view_ivm",
      "CDC-maintained JOIN view == recompute under edits on BOTH sides (bilinear delta rule)",
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
         |  FROM lineitem GROUP BY 1, 2),
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
      import graft.streaming.JoinViewMaintenance
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val pathA = Scratch.table("i4_a")
      val pathB = Scratch.table("i4_b")
      val foldA = Scratch.table("i4_fa")
      val foldB = Scratch.table("i4_fb")
      val viewPath = Scratch.table("i4_view")
      val a = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .cache()
      val editedA = editOrders(a)
      // the synthetic lineitem does NOT have unique (orderkey,
      // linenumber) pairs (unlike real TPC-H), and a keyed changelog
      // diff needs a real key — collapse to one row per key with a
      // deterministic max, identically in the oracle's b0
      // checkpoint the grouped base: it feeds the publish, the edit
      // script AND the changelog diff — without this the groupBy over
      // lineitem re-executes for each consumer
      val b = t(s, d, "lineitem")
        .groupBy(col("l_orderkey").as("o_orderkey"), col("l_linenumber"))
        .agg(max(col("l_extendedprice")).as("l_extendedprice"))
        .localCheckpoint()
      val editedB = editLineitem(b)
      // right-size the shuffles to the INPUT VOLUME, not a constant:
      // at bench scale the producer states are O(100k) rows and 8
      // partitions cut scheduler contention across the three
      // concurrent pre-tick phases (st15's discipline), but a pinned
      // 8 becomes the bottleneck the moment the fact table is 10x —
      // the 10x audit read 6.7x wall with 750k-row tasks. One
      // partition per ~8 MB of the driving fact file, clamped to the
      // session's [8, 32] window.
      val liBytes = graft.Tables.inputBytes(s"$d/lineitem.parquet")
      val parts = math.max(8L, math.min(32L, liBytes / (8L << 20)))
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", parts.toString)
      // session-global conf: restore MUST survive a failure in any of
      // the Awaits / applyTick below, or the volume-derived count
      // leaks into every later query of a shared bench session
      try {
      // three independent pipelines overlap: the A version chain, the
      // B version chain (each CDC source publishes v1 then its edit),
      // and the fold-state init (v0 snapshots of both bases + the
      // joined view — st15's WAL protocol starts at tick 0, so the
      // three v0 publishes have no ordering constraint between them)
      // each future runs one CDC source end to end: publish v1 and
      // the edit, then CHECKPOINT the snapshot diff — the changelog
      // feeds the tick's view probe(s) AND its base-delta write, and
      // without the checkpoint the full-outer diff join would
      // recompute per consumer. Both diffs and the fold-state init
      // overlap on separate threads.
      val fA = Future {
        val v1 = TableStore.publishVersion(s, pathA, a, note = "base")
        val v2 = TableStore.publishVersion(s, pathA, editedA, note = "edit")
        TableStore.changesBetween(s, pathA, v1, v2, Seq("o_orderkey"))
          .localCheckpoint()
      }
      val fB = Future {
        val v1 = TableStore.publishVersion(s, pathB, b, note = "base")
        val v2 = TableStore.publishVersion(s, pathB, editedB, note = "edit")
        TableStore.changesBetween(s, pathB, v1, v2,
          Seq("o_orderkey", "l_linenumber")).localCheckpoint()
      }
      // a is PK-keyed (o_orderkey), b is a groupBy product — one row
      // per tuple each, so init skips the canonicalizing shuffle
      val fInit = Future(JoinViewMaintenance.init(s, viewPath,
        foldA, foldB, a, b, Seq("o_orderkey"), inputsDistinct = true))
      val dA = Await.result(fA, Duration.Inf)
      val dB = Await.result(fB, Duration.Inf)
      Await.result(fInit, Duration.Inf)
      // the changelogs come from the store's own snapshot diff (the
      // CDC story this query exists to prove), then ONE maintenance
      // tick runs through JoinViewMaintenance.applyTick — the SAME
      // audited code path as the continuous st15 loop (fused staged
      // commits: the view-delta compute and both base-delta writes
      // overlap, three O(1) markers land in WAL order), so the batch-
      // replay and streaming forms of the bilinear delta rule share
      // one implementation
      JoinViewMaintenance.applyTick(s, viewPath, foldA, foldB,
        dA, dB, Seq("o_orderkey"), batchId = 0L)
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      // multiplicity-weighted exact decimal sums over the RAW signed
      // chain (v0 snapshot + tick delta): every sum distributes over
      // signed partials, so the per-tuple fold shuffle readFolded
      // would pay first is algebraically redundant (st15's read shape)
      def wsum(c: String) =
        sum(col(c).cast(DecimalType(30, 2)) * col("_mult")).cast(DoubleType)
      // presentation via a range-sorted orderBy, NOT
      // coalesce(1).sortWithinPartitions: coalesce has no exchange, so
      // it collapses its whole stage — the FINAL HashAggregate over
      // every group ran in that one task, and its hash map is
      // O(custkeys) = linear in data (the 544 MB-peak task the r14
      // memory gate flagged; `Diag stages` attributed it to this
      // save stage, not the pre-tick sorts). orderBy pays one
      // range-sampling pass + an exchange of O(custkeys) skinny rows
      // and keeps both the aggregate and the sort at partition width.
      TableStore.readFoldedUnion(s, viewPath).groupBy("o_custkey")
        .agg(sum(col("_mult")).as("n_lines"),
          wsum("l_extendedprice").as("sum_ext"),
          wsum("o_totalprice").as("sum_price"))
        .filter(col("n_lines") > 0)
        .orderBy("o_custkey")
    },

    // ---------------------------------------------------------------
    // I5 — IVM with MIN/MAX: the documented non-invertible case
    // (Ivm.scala scaladoc). Count/sum fold deltas exactly; a deleted
    // extremum forces a rescan of ONLY that group from the post-
    // change base (null-safe keyed semi-probe — O(changes ∪ touched
    // groups ∪ rescanned-group rows), never O(base)). The edit
    // script's %7 deletes necessarily remove many per-customer
    // extrema, so both the incremental AND the rescan paths carry
    // real weight; the oracle recomputes from v2, proving maintained
    // == recomputed bit-exactly for all five aggregates.
    Q("i5_minmax_ivm",
      "CDC-maintained MIN/MAX view == recompute; deleted extrema rescan only their group",
      s"""WITH v2 AS (
         |  SELECT o_orderkey,
         |    CASE WHEN o_orderkey % 17 = 0 THEN o_custkey + 1 ELSE o_custkey END AS o_custkey,
         |    CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
         |  FROM orders WHERE o_orderkey % 7 <> 0
         |  UNION ALL
         |  SELECT -o_orderkey, o_custkey, o_totalprice + 1000
         |  FROM orders WHERE o_orderkey % 13 = 0)
         |SELECT o_custkey, count(*) AS n,
         |  ${dsumSql("o_totalprice")} AS total,
         |  min(o_totalprice) AS min_price,
         |  max(o_totalprice) AS max_price
         |FROM v2 GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import graft.operators.Ivm
      val path = Scratch.table("i5")
      val viewPath = Scratch.table("i5_view")
      val o = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val edited = editOrders(o)
      val v1 = TableStore.publishVersion(s, path, o, note = "base")
      val v2 = TableStore.publishVersion(s, path, edited, note = "edit")
      TableStore.overwrite(Ivm.aggregateWithExtrema(
        TableStore.readVersion(s, path, Some(v1)),
        Seq("o_custkey"), Seq("o_totalprice"),
        Seq("o_totalprice"), Seq("o_totalprice")), viewPath)
      val changes = TableStore.changesBetween(s, path, v1, v2, Seq("o_orderkey"))
      Ivm.applyDeltaWithExtrema(TableStore.read(s, viewPath), changes,
        TableStore.readVersion(s, path, Some(v2)),
        Seq("o_custkey"), Seq("o_totalprice"),
        Seq("o_totalprice"), Seq("o_totalprice"))
        .select(col("o_custkey"), col("n"),
          col("sum_o_totalprice").cast("double").as("total"),
          col("min_o_totalprice").as("min_price"),
          col("max_o_totalprice").as("max_price"))
        .orderBy("o_custkey")
    },

    // ---------------------------------------------------------------
    // COUNT(DISTINCT) IVM — the textbook NON-self-maintainable
    // aggregate: a delete can't tell the view whether the value still
    // occurs in the group. The fix every IVM engine ships is an
    // auxiliary multiplicity state — one row per (group, value) with
    // its count — which IS an aggregate view on the enriched key, so
    // maintenance reuses i3's signed-delta fold verbatim
    // (Ivm.distinctState / applyDelta on keys :+ value) and the
    // distinct count derives from ONE aggregate over the bounded
    // state, never the base. The edit script moves values between
    // groups, empties (group, value) pairs (distinct count actually
    // drops), and inserts brand-new values; oracle = recompute of
    // count(distinct) over the edited base. Tick cost: O(changes ∪
    // touched pairs); state size: O(distinct pairs).
    Q("i6_distinct_ivm",
      "CDC-maintained COUNT DISTINCT view via multiplicity state == recompute",
      s"""WITH v2 AS (
         |  SELECT o_orderkey,
         |    CASE WHEN o_orderkey % 17 = 0 THEN o_custkey + 1 ELSE o_custkey END AS o_custkey,
         |    CASE WHEN o_orderkey % 11 = 0 THEN '0-MOVED' ELSE o_orderpriority END AS o_orderpriority
         |  FROM orders WHERE o_orderkey % 7 <> 0
         |  UNION ALL
         |  SELECT -o_orderkey, o_custkey, '9-INSERTED'
         |  FROM orders WHERE o_orderkey % 13 = 0)
         |SELECT o_custkey,
         |  count(DISTINCT o_orderpriority) AS n_distinct_o_orderpriority,
         |  count(*) AS n_rows
         |FROM v2 GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import graft.operators.Ivm
      val path = Scratch.table("i6")
      val statePath = Scratch.table("i6_state")
      val o = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_orderpriority")
      val edited = o.filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_custkey", when(col("o_orderkey") % 17 === 0,
          col("o_custkey") + 1).otherwise(col("o_custkey")))
        .withColumn("o_orderpriority", when(col("o_orderkey") % 11 === 0,
          lit("0-MOVED")).otherwise(col("o_orderpriority")))
        .unionByName(o.filter(col("o_orderkey") % 13 === 0)
          .select((-col("o_orderkey")).as("o_orderkey"),
            col("o_custkey"), lit("9-INSERTED").as("o_orderpriority")))
      val v1 = TableStore.publishVersion(s, path, o, note = "base")
      val v2 = TableStore.publishVersion(s, path, edited, note = "edit")
      // materialize the multiplicity state at v1; maintain WITHOUT v1
      TableStore.overwrite(Ivm.distinctState(
        TableStore.readVersion(s, path, Some(v1)),
        Seq("o_custkey"), "o_orderpriority"), statePath)
      val changes = TableStore.changesBetween(s, path, v1, v2, Seq("o_orderkey"))
      val state2 = Ivm.applyDelta(TableStore.read(s, statePath), changes,
        Seq("o_custkey", "o_orderpriority"), Nil)
      Ivm.distinctView(state2, Seq("o_custkey"), "o_orderpriority")
        .orderBy("o_custkey")
    },

    // ---------------------------------------------------------------
    // TOP-K IVM — the leaderboard view, and the generalization i5's
    // MIN/MAX is the k=1 case of: per customer the 3 highest-priced
    // orders, CDC-maintained. Inserts are self-maintainable (an
    // entering row can only displace stored rows — a pure array
    // expression over stored ∪ inserted); a delete that hits the
    // STORED top-k is not (the runner-up was never stored), so
    // exactly those groups rescan from the post-change base via a
    // broadcast keyed semi probe — i5's bounded-fallback discipline
    // at k=3. The edit script exercises every path: price doublings
    // promote rows in (insert-only fold), deletions evict stored
    // members (rescan pulls runners-up), group moves do both, and
    // fresh negative-key orders land in groups born this tick.
    // Oracle = rank<=3 over the recomputed after-state; ties pinned
    // by order key so the stored state is deterministic.
    Q("i7_topk_ivm",
      "CDC-maintained TOP-K-per-group view == recompute; only evicted groups rescan",
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
      import graft.operators.Ivm
      val path = Scratch.table("i7")
      val viewPath = Scratch.table("i7_view")
      val o = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val edited = editOrders(o)
      val v1 = TableStore.publishVersion(s, path, o, note = "base")
      val v2 = TableStore.publishVersion(s, path, edited, note = "edit")
      TableStore.overwrite(Ivm.aggregateTopK(
        TableStore.readVersion(s, path, Some(v1)),
        Seq("o_custkey"), "o_totalprice", "o_orderkey", 3), viewPath)
      val changes = TableStore.changesBetween(s, path, v1, v2, Seq("o_orderkey"))
      Ivm.applyDeltaTopK(TableStore.read(s, viewPath), changes,
        TableStore.readVersion(s, path, Some(v2)),
        Seq("o_custkey"), "o_totalprice", "o_orderkey", 3)
        .select(col("o_custkey"), posexplode(col("topk")).as(Seq("p", "e")))
        .select(col("o_custkey"), (col("p") + 1).cast("long").as("rk"),
          col("e.v").as("price"), col("e.id").as("orderkey"))
        .orderBy("o_custkey", "rk")
    },

    // ---------------------------------------------------------------
    // S27 — full three-clause MERGE: the complete `MERGE INTO`
    // surface (matched-delete with its own predicate, matched-update,
    // not-matched-insert) that upsertByKey (i1) and insertIfAbsent
    // (s7) each cover a third of. One keyed full-outer join decides
    // every row's fate — the single-shuffle plan Delta/Iceberg MERGE
    // compiles to — and the rewrite rides the staged-rename crash
    // path. The oracle states the same final table algebraically.
    Q("s27_merge_full",
      "three-clause MERGE (delete-when / update-set / insert) == algebraic recompute",
      """WITH src AS (
        |  SELECT o_orderkey AS k, 100.0 AS delta
        |  FROM orders WHERE o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 20000000, 500.0
        |  FROM orders WHERE o_orderkey % 31 = 0),
        |t AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders)
        |SELECT t.o_orderkey, t.o_orderstatus,
        |  CASE WHEN src.k IS NOT NULL THEN t.o_totalprice + src.delta
        |       ELSE t.o_totalprice END AS o_totalprice
        |FROM t LEFT JOIN src ON t.o_orderkey = src.k
        |WHERE NOT (src.k IS NOT NULL AND t.o_totalprice < 1000)
        |UNION ALL
        |SELECT src.k, 'N', src.delta
        |FROM src LEFT JOIN t ON src.k = t.o_orderkey
        |WHERE t.o_orderkey IS NULL
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val path = Scratch.table("s27")
      val target = t(s, d, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      TableStore.overwrite(target, path)
      val o = t(s, d, "orders")
      val src = o.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), lit(100.0).as("delta"))
        .unionByName(o.filter(col("o_orderkey") % 31 === 0)
          .select((col("o_orderkey") + 20000000L).as("o_orderkey"),
            lit(500.0).as("delta")))
      TableStore.mergeClauses(s, path, src, Seq("o_orderkey"),
        deleteWhen = col("o_totalprice") < 1000,
        updateSet = Map(
          "o_totalprice" -> (col("o_totalprice") + col("src_delta"))),
        insertRow = Map(
          "o_orderkey" -> col("o_orderkey"),
          "o_orderstatus" -> lit("N"),
          "o_totalprice" -> col("src_delta")))
      TableStore.read(s, path).orderBy("o_orderkey")
    },

    // ---------------------------------------------------------------
    // S28 — snapshot RESTORE (rollback): recovering from a bad write
    // by republishing an OLD version as the new current — history is
    // append-only (the bad version stays readable for forensics; no
    // files are deleted), exactly Delta's RESTORE / Iceberg's
    // rollback semantics. The query fails loudly if the "bad" version
    // stopped being readable after the restore.
    Q("s28_snapshot_restore",
      "RESTORE publishes an old snapshot as current; bad version stays readable",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey % 3 = 0 ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val path = Scratch.table("s28")
      val good = t(s, d, "orders")
        .filter(col("o_orderkey") % 3 === 0)
        .select("o_orderkey", "o_totalprice")
      // the "bad write": totals corrupted and half the rows dropped
      val bad = good.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * -1)
      val v1 = TableStore.publishVersion(s, path, good, note = "good")
      val v2 = TableStore.publishVersion(s, path, bad, note = "bad")
      val restored = TableStore.publishVersion(s, path,
        TableStore.readVersion(s, path, Some(v1)), note = s"restore:v$v1")
      require(restored > v2, "restore must advance the version counter")
      // forensics contract: the bad version is still pinned-readable
      val badRows = TableStore.readVersion(s, path, Some(v2)).count()
      require(badRows > 0, "rolled-back version must remain readable")
      TableStore.readVersion(s, path, None).orderBy("o_orderkey")
    },

    // ---------------------------------------------------------------
    // Bucketed co-located join — the layout that kills the big-big
    // join's shuffle: both sides written bucketBy the join key (8
    // buckets, external tables under a scratch path), so each scan
    // already reports hashpartitioning(key) and the SortMergeJoin
    // needs NO Exchange on either side. At 100 TB this is THE
    // fact-to-fact join strategy: the shuffle happens once at write
    // time and every subsequent join of the two tables is exchange-
    // free. The oracle states the same join over the raw parquet —
    // bucketing is a physical property, the result is identical.
    // PlanSpec gates the exchange-free plan shape (with size-based
    // broadcast disabled, as the fact sides would be at scale).
    Q("s15_bucketed_join",
      "bucketBy(8, key) both sides -> SortMergeJoin with no Exchange",
      """SELECT o_orderpriority, count(*) AS n,
        |  cast(sum(cast(l_quantity as decimal(30,2))) as double) AS total_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      // write-once per (session, sf dir): the point of bucketing is
      // paying the shuffle at WRITE time — rebuilding per invocation
      // would leak dirs and fold the write into every measurement.
      // Table names carry the sf-dir tag (a second sf dir in the same
      // session must NOT reuse the first's data); the base dir is a
      // per-JVM temp dir, so concurrent JVMs never race on one path;
      // the guard requires BOTH tables, so a failure between the two
      // writes rebuilds instead of wedging the session.
      val tag = math.abs(d.hashCode).toString
      val (to, tl) = (s"s15_bucketed_orders_$tag", s"s15_bucketed_lineitem_$tag")
      if (!(s.catalog.tableExists(to) && s.catalog.tableExists(tl))) {
        t(s, d, "orders").select("o_orderkey", "o_orderpriority")
          .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", s"$s15Base/o_$tag").mode("overwrite")
          .saveAsTable(to)
        t(s, d, "lineitem").select("l_orderkey", "l_quantity")
          .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", s"$s15Base/l_$tag").mode("overwrite")
          .saveAsTable(tl)
      }
      s.table(to)
        .join(s.table(tl),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          dsum(col("l_quantity")).as("total_qty"))
        .orderBy("o_orderpriority")
    },

    // ---------------------------------------------------------------
    // Runtime bloom-filter pruning — the scale feature that saves a
    // shuffle-join's fact scan when the dim side is selective but too
    // big (or too late) to broadcast: Catalyst's InjectRuntimeFilter
    // builds a bloom filter from the filtered dim keys at runtime and
    // pushes `bloom_filter_might_contain` into the fact side, so the
    // ~95% of lineitem rows whose part has the wrong brand die at the
    // scan, not at the join. The query itself is a plain selective
    // dim join (result identical with or without injection — that is
    // the point of a runtime filter); PlanSpec gates the injected
    // plan shape under the thresholds a 100 TB fact table would meet
    // naturally.
    Q("s16_runtime_filter",
      "selective dim join, fact side prunable by a runtime bloom filter",
      s"""SELECT l_returnflag, count(*) AS n,
         |  ${dsumSql("l_extendedprice")} AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE p_brand = 'Brand#4'
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      t(s, d, "lineitem").select("l_partkey", "l_returnflag", "l_extendedprice")
        .join(t(s, d, "part").filter(col("p_brand") === "Brand#4")
          .select("p_partkey"),
          col("l_partkey") === col("p_partkey"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("l_returnflag")
    },

    // ---------------------------------------------------------------
    // Small-file compaction — the maintenance job every append-mode
    // ingest needs: 8 appended slices × 2 files each accrete 16 small
    // files; compact rewrites them into ceil(rows/50k) ts-sorted
    // files through the staged-rename path (rewrite), so a crash
    // mid-compaction never loses a row and min/max stats stay
    // selective after the rewrite. At 100 TB, scan cost and listing
    // pressure grow with FILE COUNT, not bytes — compaction is what
    // keeps an ingest table scannable. The oracle states content
    // preservation; TableStoreSpec asserts the file-count collapse.
    Q("s17_compaction",
      "16 accreted small files compacted to sorted few; content preserved",
      s"""SELECT event_type, count(*) AS n, ${dsumSql("value")} AS total
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val path = Scratch.table("s17")
      val ev = t(s, d, "events")
      (0 until 8).foreach { i =>
        TableStore.append(ev.filter(col("event_id") % 8 === i).repartition(2), path)
      }
      TableStore.compact(s, path, targetFileRows = 50000L, sortCols = Seq("ts"))
      TableStore.read(s, path)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type")
    },

    // ---------------------------------------------------------------
    // SCD2 dimension history — the warehouse discipline for attribute
    // change tracking: three monthly batches upsert order priorities
    // (Feb changes every key divisible by 3, Mar reverts every key
    // divisible by 6), and the table must hold the full version
    // history: closed rows with [valid_from, valid_to) and exactly
    // one open row per key. The oracle states the final history
    // algebraically; the round trip proves close-on-change,
    // no-op-on-equal, and re-open-after-revert in one pass.
    Q("s18_scd2_history",
      "SCD2 upserts over 3 monthly batches: full version history",
      """SELECT o_orderkey, o_orderpriority AS pri,
        |       DATE '2024-01-01' AS valid_from,
        |       CASE WHEN o_orderkey % 3 = 0 THEN DATE '2024-02-01' END AS valid_to
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey, 'X-' || o_orderpriority, DATE '2024-02-01',
        |       CASE WHEN o_orderkey % 6 = 0 THEN DATE '2024-03-01' END
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT o_orderkey, o_orderpriority, DATE '2024-03-01', NULL
        |FROM orders WHERE o_orderkey % 6 = 0
        |ORDER BY o_orderkey, valid_from""".stripMargin) { (s, d) =>
      val path = Scratch.table("s18")
      val base = t(s, d, "orders").select(col("o_orderkey"),
        col("o_orderpriority").as("pri"))
      def day(x: String) = java.sql.Date.valueOf(x)
      TableStore.scd2Upsert(s, path, base,
        Seq("o_orderkey"), Seq("pri"), day("2024-01-01"))
      // Feb: every 3rd key changes priority; others resent unchanged
      // (must be a no-op — resending the full dim is the common case)
      val feb = base.withColumn("pri",
        when(col("o_orderkey") % 3 === 0, concat(lit("X-"), col("pri")))
          .otherwise(col("pri")))
      TableStore.scd2Upsert(s, path, feb,
        Seq("o_orderkey"), Seq("pri"), day("2024-02-01"))
      // Mar: every 6th key reverts to the original value
      val mar = feb.withColumn("pri",
        when(col("o_orderkey") % 6 === 0,
          regexp_replace(col("pri"), "^X-", "")).otherwise(col("pri")))
      TableStore.scd2Upsert(s, path, mar,
        Seq("o_orderkey"), Seq("pri"), day("2024-03-01"))
      TableStore.read(s, path)
        .select("o_orderkey", "pri", "valid_from", "valid_to")
        .orderBy("o_orderkey", "valid_from")
    },

    // ---------------------------------------------------------------
    // Versioned snapshots (time travel) — the training-reproducibility
    // discipline: publish v1, publish a transformed v2, then read BOTH
    // pinned versions back AFTER the second publish. v1 must be
    // byte-stable (its files were never touched), and the oracle
    // states each version's content algebraically — so the gate checks
    // that pinning a version really returns that version's data, not
    // the live table. At scale a publish costs only the new version's
    // files + two ~empty marker files. PINNED readers never race a
    // publish (version files are immutable), and the commit itself is
    // ONE atomic marker creation — the live version is the highest
    // committed marker, so there is no pointer flip and no
    // availability gap (TableStore.publishVersion).
    Q("s19_snapshot_read",
      "versioned snapshots: pinned-version reads survive later publishes",
      """SELECT CAST(1 AS BIGINT) AS version, r_regionkey, r_name AS name
        |FROM region
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), r_regionkey, lower(r_name) FROM region
        |WHERE r_regionkey != 2
        |ORDER BY version, r_regionkey""".stripMargin) { (s, d) =>
      val path = Scratch.table("s19")
      val r = t(s, d, "region").select("r_regionkey", "r_name")
      val v1 = TableStore.publishVersion(s, path, r)
      val v2 = TableStore.publishVersion(s, path,
        r.filter(col("r_regionkey") =!= 2)
          .withColumn("r_name", lower(col("r_name"))))
      TableStore.readVersion(s, path, Some(v1))
        .select(lit(1L).as("version"), col("r_regionkey"),
          col("r_name").as("name"))
        .unionByName(TableStore.readVersion(s, path, Some(v2))
          .select(lit(2L).as("version"), col("r_regionkey"),
            col("r_name").as("name")))
        .orderBy("version", "r_regionkey")
    },

    // ---------------------------------------------------------------
    // DYNAMIC partition pruning — s13 proves static pruning (literal
    // day range reaches the listing); here the day set is only known
    // at RUNTIME (the top-10 signup days, computed from data), and
    // Catalyst must inject it into the partitioned fact scan as a
    // dynamicpruning PartitionFilter via broadcast reuse — at 100 TB
    // this is the difference between listing 10 day-partitions and
    // scanning the whole table, for a predicate no human wrote as a
    // literal. PlanSpec asserts the dynamicpruningexpression is
    // actually in the scan.
    Q("s20_dynamic_pruning",
      "runtime-derived day set prunes the partitioned fact scan (DPP via broadcast dim)",
      s"""WITH dim AS (
         |  SELECT cast(ts as date) AS d FROM events
         |  WHERE event_type = 'signup'
         |  GROUP BY 1 ORDER BY count(*) DESC, d LIMIT 10)
         |SELECT cast(ts as date) AS load_date, count(*) AS n,
         |  ${dsumSql("value")} AS total
         |FROM events JOIN dim ON cast(ts as date) = dim.d
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val path = Scratch.table("s20")
      graft.operators.TableLayout.writeTimeSeries(
        t(s, d, "events"), path, "ts", "user_id")
      val dim = t(s, d, "events")
        .filter(col("event_type") === "signup")
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("d"))
        .limit(10)
        .select("d")
      s.read.parquet(path)
        .join(broadcast(dim), col("load_date") === col("d"))
        .groupBy("load_date")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("load_date")
    },

    // ---------------------------------------------------------------
    // Deletion vectors — row-level deletes WITHOUT rewriting data
    // files: tombstone keys land beside the table, live readers
    // anti-join them, and a maintenance pass folds them in. The query
    // reads the same aggregate through BOTH reader paths — tombstones
    // pending (anti-join) and tombstones applied (plain scan) — and
    // the oracle states each as the identical NOT-deleted filter, so
    // the gate proves the two paths agree. At 100 TB this is the
    // GDPR-delete shape: O(matched keys) write cost per delete, one
    // broadcast-sized anti-join per read, table rewrite only on the
    // maintenance schedule (TableStore.deleteWhere/readLive/
    // applyDeletes).
    Q("s21_delete_vectors",
      "tombstone deletes: anti-join reads == post-apply reads, O(keys) delete cost",
      """SELECT stage, o_orderstatus, count(*) AS n,
        |  cast(sum(cast(o_totalprice as decimal(30,2))) as double) AS total
        |FROM (
        |  SELECT 'applied' AS stage, o_orderstatus, o_totalprice FROM orders
        |  WHERE NOT (o_custkey % 7 = 0) AND NOT (o_totalprice > 300000)
        |  UNION ALL
        |  SELECT 'pending', o_orderstatus, o_totalprice FROM orders
        |  WHERE NOT (o_custkey % 7 = 0) AND NOT (o_totalprice > 300000))
        |GROUP BY stage, o_orderstatus ORDER BY stage, o_orderstatus""".stripMargin) { (s, d) =>
      val path = Scratch.table("s21")
      val keys = Seq("o_orderkey")
      val o = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      TableStore.append(o, path)
      // two independent deletes accumulate tombstones; each costs
      // O(matching keys), the 100 TB data files are never touched
      TableStore.deleteWhere(s, path, keys, col("o_custkey") % 7 === 0)
      TableStore.deleteWhere(s, path, keys, col("o_totalprice") > 300000)
      def agg(df: org.apache.spark.sql.DataFrame, stage: String) =
        df.groupBy(lit(stage).as("stage"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      val pending = agg(TableStore.readLive(s, path, keys), "pending")
      // pending must materialize BEFORE the apply rewrites the files
      // under it (readLive is lazy; the checkpoint pins its result)
      val pinned = pending.localCheckpoint(true)
      TableStore.applyDeletes(s, path, keys)
      agg(TableStore.read(s, path), "applied").unionByName(pinned)
        .orderBy("stage", "o_orderstatus")
    },

    // ---------------------------------------------------------------
    // Z-order clustering — the layout for tables queried by more than
    // one selective dimension: files cover quadtree tiles, so parquet
    // min/max footers are narrow in BOTH columns and a range predicate
    // on either (or both) row-group-skips most files; a linear sort
    // only ever skips on its leading column. The oracle states the
    // same two-sided range aggregate straight over the source table —
    // clustering must be result-invariant — and TableLayoutSpec
    // measures the per-file bounding boxes that make the skipping
    // claim real (a y-only predicate touches EVERY linear-layout file
    // and a bounded handful of z-order tiles).
    Q("s22_zorder_layout",
      "Z-order clustered rewrite: result-invariant, 2-D-skippable file boxes",
      """SELECT event_type, count(*) AS n,
        |  cast(sum(cast(value as decimal(30,2))) as double) AS total
        |FROM events
        |WHERE user_id BETWEEN 100 AND 199
        |  AND event_id BETWEEN 10000 AND 49999
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val path = Scratch.table("s22")
      graft.operators.TableLayout.writeZOrdered(
        t(s, d, "events").select("event_id", "user_id", "event_type", "value"),
        path, "user_id", "event_id", bits = 12, nFiles = 16)
      TableStore.read(s, path)
        .filter(col("user_id").between(100, 199) &&
          col("event_id").between(10000, 49999))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type")
    },

    // ---------------------------------------------------------------
    // File-skipping secondary index — the stats-manifest discipline:
    // per-file min/max stored as ONE tiny index table, consulted
    // BEFORE any data-file IO, so a selective interval predicate
    // plans a scan over only the intersecting files (parquet footers
    // alone still cost an open per file — a million small reads on a
    // million files). Composed with the z-order layout, whose narrow
    // per-file boxes are what make the index selective in BOTH
    // columns. The oracle is the same two-sided range aggregate over
    // the source table — index pruning must be IO-invisible — and a
    // require proves the plan really skipped files (the measured
    // pruning also rides SkippingIndexSpec). Stale-index reads fail
    // loudly (SkippingIndex.prunedScan's file-count guard).
    Q("s23_skipping_index",
      "per-file min/max manifest prunes a 2-D range scan; pruned == full-scan result",
      """SELECT event_type, count(*) AS n,
        |  cast(sum(cast(value as decimal(30,2))) as double) AS total
        |FROM events
        |WHERE user_id <= (SELECT max(user_id)//4 FROM events)
        |  AND event_id <= (SELECT max(event_id)//4 FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      import graft.operators.SkippingIndex
      val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
      val path = Scratch.table("s23")
      graft.operators.TableLayout.writeZOrdered(
        ev, path, "user_id", "event_id", bits = 12, nFiles = 16)
      SkippingIndex.build(s, path, Seq("user_id", "event_id"))
      // quarter-box in both dims (sf-invariant selectivity ≈ 1/16 of
      // the z-space); the bounds are planning metadata, same 1-row
      // stats read any cost-based planner does
      val mx = ev.agg(max(col("user_id")), max(col("event_id"))).head()
      val (uHi, eHi) =
        (mx.getAs[Number](0).longValue / 4, mx.getAs[Number](1).longValue / 4)
      val ranges = Map[String, (Any, Any)](
        "user_id" -> (0L, uHi), "event_id" -> (0L, eHi))
      val kept = SkippingIndex.plannedFiles(s, path, ranges)
      require(kept < 16,
        s"skipping index pruned nothing: $kept of 16 files kept")
      SkippingIndex.prunedScan(s, path, ranges)
        .filter(col("user_id").between(0L, uHi) &&
          col("event_id").between(0L, eHi))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type")
    },

    // ---------------------------------------------------------------
    // Snapshot changelog (CDC read) — `table_changes(v1, v2)`: publish
    // two versions of a dimension, then read the row-level diff as
    // insert / delete / update_preimage / update_postimage rows. The
    // downstream consumer applies THESE instead of re-reading the
    // table — the O(changes)-not-O(table) refresh discipline that
    // makes a 100 TB warehouse's derived tables maintainable. The
    // oracle recomputes the same diff relationally from the base
    // table; TableStore.changesBetween must agree exactly (one
    // full-outer join + in-place explode — see its doc for the shape).
    Q("s24_snapshot_changes",
      "CDC between snapshots: insert/delete/update_pre/update_post rows from two published versions",
      """WITH old AS (
        |  SELECT n_nationkey, n_name, n_regionkey FROM nation),
        |new AS (
        |  SELECT n_nationkey,
        |    CASE WHEN n_nationkey % 3 = 0 THEN lower(n_name) ELSE n_name END AS n_name,
        |    n_regionkey
        |  FROM nation WHERE n_nationkey % 5 <> 0
        |  UNION ALL
        |  SELECT n_nationkey + 100, 'new_' || n_name, n_regionkey
        |  FROM nation WHERE n_nationkey < 5),
        |chg AS (
        |  SELECT 'delete' AS _change_type, o.n_nationkey, o.n_name, o.n_regionkey
        |  FROM old o WHERE o.n_nationkey NOT IN (SELECT n_nationkey FROM new)
        |  UNION ALL
        |  SELECT 'insert', n.n_nationkey, n.n_name, n.n_regionkey
        |  FROM new n WHERE n.n_nationkey NOT IN (SELECT n_nationkey FROM old)
        |  UNION ALL
        |  SELECT 'update_preimage', o.n_nationkey, o.n_name, o.n_regionkey
        |  FROM old o JOIN new n ON o.n_nationkey = n.n_nationkey
        |  WHERE o.n_name <> n.n_name OR o.n_regionkey <> n.n_regionkey
        |  UNION ALL
        |  SELECT 'update_postimage', n.n_nationkey, n.n_name, n.n_regionkey
        |  FROM old o JOIN new n ON o.n_nationkey = n.n_nationkey
        |  WHERE o.n_name <> n.n_name OR o.n_regionkey <> n.n_regionkey)
        |SELECT * FROM chg ORDER BY n_nationkey, _change_type""".stripMargin) { (s, d) =>
      val path = Scratch.table("s24")
      val nation = t(s, d, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      val v1 = TableStore.publishVersion(s, path, nation, note = "base")
      val v2 = TableStore.publishVersion(s, path,
        nation.filter(col("n_nationkey") % 5 =!= 0)
          .withColumn("n_name", when(col("n_nationkey") % 3 === 0,
            lower(col("n_name"))).otherwise(col("n_name")))
          .unionByName(nation.filter(col("n_nationkey") < 5)
            .select((col("n_nationkey") + 100).as("n_nationkey"),
              concat(lit("new_"), col("n_name")).as("n_name"),
              col("n_regionkey"))),
        note = "edit")
      TableStore.changesBetween(s, path, v1, v2, Seq("n_nationkey"))
        .select("_change_type", "n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey", "_change_type")
    },

    // ---------------------------------------------------------------
    // Bloom file index — the pruning case s23's min/max manifest is
    // BLIND to: the layout below clusters by user_id, so every file
    // spans the full event_id range and interval stats keep all 16
    // files for an event_id point lookup. The per-file Bloom index
    // still rules the key out of the files that can't contain it
    // (false positives read-and-filter away; skipped files provably
    // lack the key, so results stay exact — Delta's Bloom file index
    // discipline). The require proves the probe really pruned;
    // SkippingIndexSpec measures it and covers the absent-key and
    // staleness paths.
    Q("s25_bloom_index",
      "per-file bloom index prunes a point lookup on a non-clustered column",
      """SELECT event_id, user_id, event_type, value
        |FROM events WHERE event_id = 421""".stripMargin) { (s, d) =>
      import graft.operators.SkippingIndex
      val path = Scratch.table("s25")
      t(s, d, "events").select("event_id", "user_id", "event_type", "value")
        .repartition(16, col("user_id"))
        .write.mode("overwrite").parquet(path)
      SkippingIndex.buildBloom(s, path, "event_id")
      val kept = SkippingIndex.bloomPlannedFiles(s, path, "event_id", 421L)
      require(kept < 16,
        s"bloom index pruned nothing: $kept of 16 files kept")
      SkippingIndex.bloomScan(s, path, "event_id", 421L)
        .filter(col("event_id") === 421L)
        .select("event_id", "user_id", "event_type", "value")
    },

    // ---------------------------------------------------------------
    // Write-audit-publish with expectations — the lakehouse ingest
    // discipline (Iceberg WAP / Delta Live Tables expectations): a
    // batch lands only after its audit rules run, failing rows are
    // QUARANTINED with their reasons (never silently dropped, never
    // published), and the clean subset publishes as an atomic snapshot
    // version. One narrow pass computes every per-row rule verdict
    // (the reasons array is a codegen'd filter over CASE arms — no
    // second scan per rule); the referential rule rides the same pass
    // as a key join against `orders` (broadcast-able dim at real
    // scale). The gated result reads BOTH destinations BACK from disk
    // — published snapshot and quarantine table — so the oracle's
    // algebraic statement checks the full round trip, including that
    // published + quarantined partitions the batch exactly. `fk_orders`
    // passes with zero violations by design: a rule that never fires
    // must cost nothing and quarantine nothing.
    Q("s26_write_audit_publish",
      "expectations gate: clean rows publish as a snapshot, violations quarantine with reasons",
      s"""WITH c AS (
         |  SELECT l.l_quantity AS qty,
         |    coalesce(array_to_string(list_filter([
         |      CASE WHEN l.l_quantity > 45 THEN 'qty_range' END,
         |      CASE WHEN l.l_discount > 0.08 THEN 'disc_range' END,
         |      CASE WHEN o.o_orderkey IS NULL THEN 'fk_orders' END],
         |      x_ -> x_ IS NOT NULL), ','), '') AS reason
         |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey)
         |SELECT 'published' AS metric, count(*) AS n, ${dsumSql("qty")} AS qty
         |FROM c WHERE reason = ''
         |UNION ALL
         |SELECT 'quarantined', count(*), ${dsumSql("qty")} FROM c WHERE reason != ''
         |UNION ALL
         |SELECT 'rule:' || reason, count(*), ${dsumSql("qty")}
         |FROM c WHERE reason != '' GROUP BY reason
         |ORDER BY metric""".stripMargin) { (s, d) =>
      val path = Scratch.table("s26")
      val qpath = path + "_quarantine"
      val li = t(s, d, "lineitem")
      val ords = t(s, d, "orders").select("o_orderkey")
      val checked = li
        .join(broadcast(ords), li("l_orderkey") === ords("o_orderkey"), "left")
        .withColumn("reason", array_join(filter(array(
          when(col("l_quantity") > 45, "qty_range"),
          when(col("l_discount") > 0.08, "disc_range"),
          when(col("o_orderkey").isNull, "fk_orders")),
          x_ => x_.isNotNull), ","))
        .select(col("l_quantity").as("qty"), col("reason"))
      TableStore.publishVersion(s, path,
        checked.filter(col("reason") === "").select("qty"))
      TableStore.overwrite(checked.filter(col("reason") =!= ""), qpath)
      val pub = TableStore.readVersion(s, path, None)
        .agg(count(lit(1)).as("n"), dsum(col("qty")).as("qty"))
        .select(lit("published").as("metric"), col("n"), col("qty"))
      val quar = TableStore.read(s, qpath)
      pub.unionByName(
          quar.agg(count(lit(1)).as("n"), dsum(col("qty")).as("qty"))
            .select(lit("quarantined").as("metric"), col("n"), col("qty")))
        .unionByName(quar.groupBy("reason")
          .agg(count(lit(1)).as("n"), dsum(col("qty")).as("qty"))
          .select(concat(lit("rule:"), col("reason")).as("metric"),
            col("n"), col("qty")))
        .orderBy("metric")
    },

    // ---------------------------------------------------------------
    // Temporal dimension join — the query SCD2 history exists FOR:
    // each fact row joins the dimension version that was valid AT
    // FACT TIME, so January purchases see January's segment and
    // February purchases see the renamed one — point-in-time-correct
    // enrichment (joining the live dim back-dates every historical
    // fact, the classic silent-corruption bug). The history is built
    // by the same three scd2Upsert batches s18 gates (change at
    // 01-10, partial revert at 01-20; the oracle restates it
    // algebraically), then the join runs as an EQUI-join on the key
    // with the validity-window predicate applied post-join — bounded
    // by versions-per-key (≤ 3 here, small always), so this is NOT a
    // band/range join: the shuffle carries each fact row once, and
    // exactly one version survives the window filter per fact.
    Q("j17_temporal_dim_join",
      "facts join the SCD2 dimension version valid at fact time (point-in-time enrichment)",
      s"""WITH hist AS (
         |  SELECT c_custkey AS k, c_mktsegment AS seg,
         |         DATE '2024-01-01' AS vf,
         |         CASE WHEN c_custkey % 3 = 0 THEN DATE '2024-01-10' END AS vt
         |  FROM customer
         |  UNION ALL
         |  SELECT c_custkey, 'X-' || c_mktsegment, DATE '2024-01-10',
         |         CASE WHEN c_custkey % 6 = 0 THEN DATE '2024-01-20' END
         |  FROM customer WHERE c_custkey % 3 = 0
         |  UNION ALL
         |  SELECT c_custkey, c_mktsegment, DATE '2024-01-20', NULL
         |  FROM customer WHERE c_custkey % 6 = 0)
         |SELECT h.seg, count(*) AS n, ${dsumSql("e.value")} AS total
         |FROM events e JOIN hist h ON e.user_id = h.k
         |  AND cast(e.ts AS date) >= h.vf
         |  AND (h.vt IS NULL OR cast(e.ts AS date) < h.vt)
         |WHERE e.event_type = 'purchase'
         |GROUP BY h.seg ORDER BY h.seg""".stripMargin) { (s, d) =>
      val path = Scratch.table("j17")
      val base = t(s, d, "customer").select(col("c_custkey"),
        col("c_mktsegment").as("seg"))
      def day(x: String) = java.sql.Date.valueOf(x)
      TableStore.scd2Upsert(s, path, base,
        Seq("c_custkey"), Seq("seg"), day("2024-01-01"))
      val b2 = base.withColumn("seg",
        when(col("c_custkey") % 3 === 0, concat(lit("X-"), col("seg")))
          .otherwise(col("seg")))
      TableStore.scd2Upsert(s, path, b2,
        Seq("c_custkey"), Seq("seg"), day("2024-01-10"))
      val b3 = b2.withColumn("seg",
        when(col("c_custkey") % 6 === 0,
          regexp_replace(col("seg"), "^X-", "")).otherwise(col("seg")))
      TableStore.scd2Upsert(s, path, b3,
        Seq("c_custkey"), Seq("seg"), day("2024-01-20"))
      val hist = TableStore.read(s, path)
      t(s, d, "events")
        .filter(col("event_type") === "purchase")
        .join(hist, col("user_id") === col("c_custkey") &&
          to_date(col("ts")) >= col("valid_from") &&
          (col("valid_to").isNull || to_date(col("ts")) < col("valid_to")))
        .groupBy("seg")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("seg")
    },

    // ---------------------------------------------------------------
    // Partition-spec EVOLUTION (Iceberg §partition-evolution): the
    // events table starts day-partitioned (s13's layout); mid-history
    // the spec evolves to month partitioning. History is NOT
    // rewritten — rows before the evolution cutoff stay in day
    // directories, rows after land in month directories — and the
    // reader plans one pruned leg PER SPEC: the day leg prunes
    // load_date directories, the month leg prunes load_month by the
    // covering month range with the exact day window as a residual
    // predicate. The read window straddles the cutoff so BOTH legs
    // must serve rows; the `spec` provenance column lets the oracle
    // pin which rows came through which spec (decidable from the
    // cutoff alone). TableLayoutSpec proves the per-leg directory
    // pruning; this entry pins the semantics of the stitched read.
    Q("s29_partition_evolution",
      "day->month partition-spec evolution: per-spec pruned legs stitched into one read",
      s"""SELECT cast(ts as date) AS load_date,
         |  CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
         |       THEN 'day' ELSE 'month' END AS spec,
         |  count(*) AS n, ${dsumSql("value")} AS total
         |FROM events
         |WHERE cast(ts as date) >= DATE '2024-01-10'
         |  AND cast(ts as date) <= DATE '2024-01-20'
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      import graft.operators.TableLayout
      val dayPath = Scratch.table("s29_day")
      val monthPath = Scratch.table("s29_month")
      val ev = t(s, d, "events")
      val cutoff = lit("2024-01-15 00:00:00").cast("timestamp")
      // pre-evolution history under the day spec; post-evolution
      // writes under the month spec — nothing rewritten
      TableLayout.writeTimeSeries(
        ev.filter(col("ts") < cutoff), dayPath, "ts", "user_id")
      TableLayout.writeTimeSeriesMonthly(
        ev.filter(col("ts") >= cutoff), monthPath, "ts", "user_id")
      TableLayout.evolvedDayRange(s, dayPath, monthPath, "ts",
          "2024-01-10", "2024-01-20")
        .groupBy(col("load_date"), col("spec"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("load_date", "spec")
    },

    // ---------------------------------------------------------------
    // Partition-spec HISTORY (s29's general case — the full Iceberg
    // contract): the spec LOG records every evolution, batches write
    // under the spec current at write time, and RE-evolution is legal
    // — here day → month → day, so the log holds three specs and the
    // reader plans three pruned legs, the two day specs DISTINCT
    // (spec_id 0 vs 2). Nothing is ever rewritten; the oracle decides
    // each row's serving spec from the batch cutoffs alone. The
    // provenance pair (spec_id, spec) is the gate that a one-
    // transition reader cannot fake: a hardcoded day+month stitch has
    // no second day leg to label.
    Q("s29b_partition_spec_history",
      "day->month->day re-evolution: spec log with three legs, per-spec pruned reads",
      s"""SELECT cast(ts as date) AS load_date,
         |  CASE WHEN ts < TIMESTAMP '2024-01-12 00:00:00' THEN 0
         |       WHEN ts < TIMESTAMP '2024-01-18 00:00:00' THEN 1
         |       ELSE 2 END AS spec_id,
         |  CASE WHEN ts >= TIMESTAMP '2024-01-12 00:00:00'
         |        AND ts < TIMESTAMP '2024-01-18 00:00:00'
         |       THEN 'month' ELSE 'day' END AS spec,
         |  count(*) AS n, ${dsumSql("value")} AS total
         |FROM events
         |WHERE cast(ts as date) >= DATE '2024-01-10'
         |  AND cast(ts as date) <= DATE '2024-01-20'
         |GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      import graft.operators.TableLayout
      val root = Scratch.table("s29b")
      val ev = t(s, d, "events")
      val c1 = lit("2024-01-12 00:00:00").cast("timestamp")
      val c2 = lit("2024-01-18 00:00:00").cast("timestamp")
      TableLayout.evolveSpec(s, root, "day")
      TableLayout.writeUnderCurrentSpec(s, root,
        ev.filter(col("ts") < c1), "ts", "user_id")
      TableLayout.evolveSpec(s, root, "month")
      TableLayout.writeUnderCurrentSpec(s, root,
        ev.filter(col("ts") >= c1 && col("ts") < c2), "ts", "user_id")
      TableLayout.evolveSpec(s, root, "day")
      TableLayout.writeUnderCurrentSpec(s, root,
        ev.filter(col("ts") >= c2), "ts", "user_id")
      TableLayout.readEvolvedDayRange(s, root, "ts",
          "2024-01-10", "2024-01-20")
        .groupBy(col("load_date"), col("spec_id"), col("spec"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("load_date", "spec_id")
    },

    // ---------------------------------------------------------------
    // OPTIMISTIC multi-writer commit (the lakehouse CAS loop) —
    // upgrades the store's "single-writer" scope note to the real
    // protocol: a writer states the version its read-modify-write was
    // computed against and commits ONLY as expected+1; the marker is
    // the entire atomic commit object (data behind a content-
    // addressed pointer), so the loser of a race gets a conflict to
    // re-read and retry, never a lost update. The query walks the
    // loop end to end: base publish, a successful CAS update, a STALE
    // writer whose conflict is caught and retried against the
    // advanced state — final state provably reflects BOTH updates,
    // and the version count proves exactly three commits happened.
    // TableStoreSpec races 8 writers through the same loop and pins
    // the no-lost-update guarantee; the oracle states the final
    // algebra.
    Q("s30_optimistic_merge",
      "CAS multi-writer commit: stale writer conflicts, retries, merges — no lost update",
      s"""SELECT c_mktsegment AS seg, count(*) + 110 AS n,
         |  3 AS n_commits
         |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val path = Scratch.table("s30")
      val base = t(s, d, "customer").groupBy(col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n"))
      val v1 = TableStore.publishVersionIf(s, path, base, "base", None)
      // writer 1: read v1, add 10 — commits as v2
      TableStore.publishVersionIf(s, path,
        TableStore.readVersion(s, path, Some(v1))
          .withColumn("n", col("n") + 10), "w1", Some(v1))
      // writer 2 computed against v1 too — STALE: must conflict, then
      // retry against the advanced state so w1's +10 is not lost
      val stale = scala.util.Try(TableStore.publishVersionIf(s, path,
        TableStore.readVersion(s, path, Some(v1))
          .withColumn("n", col("n") + 100), "w2-stale", Some(v1)))
      require(stale.failed.toOption.exists(
        _.isInstanceOf[TableStore.ConcurrentVersionException]),
        "stale CAS publish must conflict, not overwrite")
      TableStore.publishWithRetry(s, path, "w2") { cur =>
        TableStore.readVersion(s, path, cur).withColumn("n", col("n") + 100)
      }
      val nCommits = TableStore.currentVersion(s, path).getOrElse(0L)
      TableStore.readVersion(s, path)
        .select(col("seg"), col("n"),
          lit(nCommits).cast("int").as("n_commits"))
        .orderBy("seg")
    },

    // ---------------------------------------------------------------
    // S31 — transparent materialized-view routing (MvRewrite): a
    // summary view of the published base is registered, and an
    // aggregate query written AGAINST THE BASE — with a residual
    // filter on a grouping column and a ROLLUP to a coarser key —
    // is rewritten by the optimizer to read the |groups|-row view
    // instead of the table. The in-query guard fails loudly if the
    // plan still scans the base, so a silently-dead rule cannot stay
    // green; the oracle states the aggregate over the source table,
    // so a green row proves the routed answer is the true answer.
    // At 100 TB this is the difference between a dashboard query
    // costing a table scan and costing a view lookup.
    Q("s31_mv_rewrite",
      "aggregate on the base table transparently routed to its materialized view (rollup + filter pushdown)",
      s"""SELECT o_custkey, count(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS total,
         |  min(o_totalprice) AS lo, max(o_totalprice) AS hi
         |FROM orders WHERE o_orderstatus <> 'P'
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import graft.operators.Ivm
      import graft.plans.{MvCatalog, MvRewrite}
      MvRewrite.ensure(s)
      val basePath = Scratch.table("s31_base")
      val viewPath = Scratch.table("s31_view")
      val base = t(s, d, "orders")
        .select("o_custkey", "o_orderstatus", "o_totalprice")
      val v1 = TableStore.publishVersion(s, basePath, base, note = "base")
      TableStore.overwrite(Ivm.aggregateWithExtrema(
        TableStore.readVersion(s, basePath, Some(v1)),
        Seq("o_custkey", "o_orderstatus"), Seq("o_totalprice"),
        Seq("o_totalprice"), Seq("o_totalprice")), viewPath)
      MvCatalog.register(s, basePath, v1, viewPath,
        Seq("o_custkey", "o_orderstatus"), Seq("o_totalprice"),
        Seq("o_totalprice"), Seq("o_totalprice"))
      val out = TableStore.readVersion(s, basePath, Some(v1))
        .filter(col("o_orderstatus") =!= "P")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total"),
          min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
        .orderBy("o_custkey")
      requireRouted(out, viewPath, basePath, "s31")
      out
    },

    // ---------------------------------------------------------------
    // S32 — maintain-then-requery: the MV lifecycle end-to-end. The
    // base advances a version (deletes + group-moving updates +
    // inserts); the view is brought current by the O(changes) IVM
    // fold (applyDelta over the snapshot changelog — never a
    // recompute), re-registered for the new version, and the SAME
    // base-table aggregate now routes to the MAINTAINED view. The
    // oracle recomputes from the edited table, so a green row proves
    // maintained-view routing == recompute; the guard proves the
    // answer came through the view. Write-time O(Δ) maintenance +
    // read-time O(groups) routing is the 100 TB serving shape.
    Q("s32_mv_maintain_requery",
      "IVM-maintained view re-registered after a publish; base aggregate routes to the maintained view",
      s"""WITH a2 AS (
         |  SELECT o_orderkey,
         |    CASE WHEN o_orderkey % 17 = 0 THEN o_custkey + 1 ELSE o_custkey END AS o_custkey,
         |    CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
         |  FROM orders WHERE o_orderkey % 7 <> 0
         |  UNION ALL
         |  SELECT -o_orderkey, o_custkey, o_totalprice + 1000
         |  FROM orders WHERE o_orderkey % 13 = 0)
         |SELECT o_custkey, count(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS total
         |FROM a2 GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import graft.operators.Ivm
      import graft.plans.{MvCatalog, MvRewrite}
      MvRewrite.ensure(s)
      val basePath = Scratch.table("s32_base")
      val viewPath1 = Scratch.table("s32_view1")
      val viewPath2 = Scratch.table("s32_view2")
      val base = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val edited = editOrders(base)
      val v1 = TableStore.publishVersion(s, basePath, base, note = "base")
      TableStore.overwrite(Ivm.aggregate(
        TableStore.readVersion(s, basePath, Some(v1)),
        Seq("o_custkey"), Seq("o_totalprice")), viewPath1)
      MvCatalog.register(s, basePath, v1, viewPath1,
        Seq("o_custkey"), Seq("o_totalprice"))
      // base advances; the O(changes) fold brings the view current
      val v2 = TableStore.publishVersion(s, basePath, edited, note = "edit")
      val changes = TableStore.changesBetween(s, basePath, v1, v2,
        Seq("o_orderkey"))
      TableStore.overwrite(Ivm.applyDelta(TableStore.read(s, viewPath1),
        changes, Seq("o_custkey"), Seq("o_totalprice")), viewPath2)
      MvCatalog.register(s, basePath, v2, viewPath2,
        Seq("o_custkey"), Seq("o_totalprice"))
      val out = TableStore.readVersion(s, basePath, Some(v2))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total"))
        .orderBy("o_custkey")
      requireRouted(out, viewPath2, basePath, "s32")
      out
    },

    // ---------------------------------------------------------------
    // S33 — JOIN-MV routing: the denormalization half of MvRewrite.
    // The expanded orders ⋈ per-order-lineitem-rollup join is
    // materialized once; a query that joins the BASE versions — with
    // a customer filter below the join — routes to the single
    // pre-joined view (filter hoisted above it, sound for inner
    // equi-joins), and the aggregate above resolves over the mapped
    // columns unchanged. The guard fails the row if EITHER base is
    // still scanned. At 100 TB this replaces the fact-to-fact shuffle
    // join (the warehouse's most expensive recurring operation) with
    // one clustered scan of the denormalized view.
    Q("s33_join_mv_rewrite",
      "inner equi-join of covered base versions routed to the materialized join view (side filter hoisted)",
      s"""WITH b AS (
         |  SELECT l_orderkey AS o_orderkey, count(*) AS n_lines,
         |    cast(${dsumSql("l_extendedprice")} as decimal(30,2)) AS rev
         |  FROM lineitem GROUP BY 1)
         |SELECT o_custkey, count(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS total,
         |  cast(sum(rev) as double) AS revenue
         |FROM orders JOIN b USING (o_orderkey)
         |WHERE o_custkey % 10 = 3
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import graft.plans.{MvCatalog, MvRewrite}
      import org.apache.spark.sql.types.DecimalType
      MvRewrite.ensure(s)
      val aPath = Scratch.table("s33_a")
      val bPath = Scratch.table("s33_b")
      val viewPath = Scratch.table("s33_view")
      val a = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val b = t(s, d, "lineitem")
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_extendedprice").cast(DecimalType(30, 2)))
            .cast(DecimalType(30, 2)).as("rev"))
      val va = TableStore.publishVersion(s, aPath, a, note = "a")
      val vb = TableStore.publishVersion(s, bPath, b, note = "b")
      TableStore.overwrite(
        TableStore.readVersion(s, aPath, Some(va))
          .join(TableStore.readVersion(s, bPath, Some(vb)), Seq("o_orderkey")),
        viewPath)
      MvCatalog.registerJoin(s, aPath, va, bPath, vb, viewPath,
        Seq("o_orderkey"))
      val out = TableStore.readVersion(s, aPath, Some(va))
        .filter(col("o_custkey") % 10 === 3)
        .join(TableStore.readVersion(s, bPath, Some(vb)), Seq("o_orderkey"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total"),
          sum(col("rev")).cast("double").as("revenue"))
        .orderBy("o_custkey")
      requireRouted(out, viewPath, aPath, "s33")
      requireRouted(out, viewPath, bPath, "s33")
      out
    },

    // ---------------------------------------------------------------
    // S34 — PARTIAL materialized view: the view aggregates only
    // σ(o_orderstatus = 'O') of the base (the "open orders" rollup a
    // dashboard actually materializes — a fraction of the table), and
    // a query whose own WHERE contains that predicate routes to it:
    // the rule matches the view predicate's conjuncts against the
    // query's semantically (the optimizer's inferred IsNotNull rides
    // along and is dropped as implied by the matched null-rejecting
    // comparison), leaving only grouping-column residuals for the
    // view side. A query WITHOUT the predicate refuses (the partial
    // view lost those rows) — MvRewriteSpec pins the refusals; the
    // oracle here proves the routed answer. At 100 TB partial views
    // are how hot-slice dashboards avoid paying for the cold 95%.
    Q("s34_partial_mv",
      "partial MV (open orders only): query containing the view predicate routes, others refuse",
      s"""SELECT o_custkey, count(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS total
         |FROM orders WHERE o_orderstatus = 'O'
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import graft.operators.Ivm
      import graft.plans.{MvCatalog, MvRewrite}
      MvRewrite.ensure(s)
      val basePath = Scratch.table("s34_base")
      val viewPath = Scratch.table("s34_view")
      val base = t(s, d, "orders")
        .select("o_custkey", "o_orderstatus", "o_totalprice")
      val v1 = TableStore.publishVersion(s, basePath, base, note = "base")
      TableStore.overwrite(Ivm.aggregate(
        TableStore.readVersion(s, basePath, Some(v1))
          .filter(col("o_orderstatus") === "O"),
        Seq("o_custkey"), Seq("o_totalprice")), viewPath)
      MvCatalog.register(s, basePath, v1, viewPath,
        Seq("o_custkey"), Seq("o_totalprice"),
        predicate = Some("o_orderstatus = 'O'"))
      val out = TableStore.readVersion(s, basePath, Some(v1))
        .filter(col("o_orderstatus") === "O")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total"))
        .orderBy("o_custkey")
      requireRouted(out, viewPath, basePath, "s34")
      out
    },

    // ---------------------------------------------------------------
    // S35 — BRANCH / merge workflow (Nessie / Iceberg branches): the
    // ingest batch lands on a zero-copy branch forked from main's
    // tip, gets audited there (the s26 expectation: only plausible
    // prices pass), and PROMOTES via a compare-and-swap merge that
    // can only land as base+1 — so a sibling branch forked from the
    // same tip loses its merge with ConcurrentVersionException and
    // must rebase, never silently clobbering main (the s30 CAS
    // discipline applied to whole branches). The query proves both
    // halves: main's final state == base ∪ audited batch (the
    // oracle), and the sibling's conflict was actually raised (the
    // zz_conflict_detected row is emitted only from the catch).
    // At 100 TB the fork writes ONE marker file and an unwritten
    // branch reads through to parent@base — branching is free at any
    // table size; only the promote writes data (a manifest store
    // flips pointers instead, call sites identical).
    Q("s35_branch_merge",
      "WAP on a zero-copy branch: audited batch merges by CAS, sibling branch conflicts",
      """SELECT o_orderstatus AS status, count(*) AS n FROM (
        |  SELECT o_orderstatus FROM orders WHERE o_orderkey % 4 <> 1
        |  UNION ALL
        |  SELECT o_orderstatus FROM orders
        |  WHERE o_orderkey % 4 = 1 AND o_totalprice < 400000)
        |GROUP BY 1
        |UNION ALL
        |SELECT 'zz_conflict_detected', 1
        |ORDER BY 1""".stripMargin) { (s, d) =>
      val mainPath = Scratch.table("s35_main")
      val b1 = Scratch.table("s35_audit")
      val b2 = Scratch.table("s35_sibling")
      val o = t(s, d, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      TableStore.publishVersion(s, mainPath,
        o.filter(col("o_orderkey") % 4 =!= 1), note = "base")
      // both branches fork the SAME tip — zero-copy, one marker each
      TableStore.branchCreate(s, mainPath, b1)
      TableStore.branchCreate(s, mainPath, b2)
      // the audited ingest lands on branch 1: candidate batch joins
      // the branch state only after passing the expectation
      val clean = o.filter(col("o_orderkey") % 4 === 1 &&
        col("o_totalprice") < 400000)
      TableStore.publishVersion(s, b1,
        TableStore.readBranch(s, b1).unionByName(clean), note = "audited")
      TableStore.branchMerge(s, b1)
      // the sibling (stale) branch now loses its merge — the CAS can
      // only land as base+1 and main is already there
      val conflicted =
        try { TableStore.branchMerge(s, b2); false }
        catch { case _: TableStore.ConcurrentVersionException => true }
      val conflictRow = s.range(if (conflicted) 1 else 0)
        .select(lit("zz_conflict_detected").as("status"), lit(1L).as("n"))
      TableStore.readVersion(s, mainPath)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"))
        .unionByName(conflictRow)
        .orderBy("status")
    },

    // ---------------------------------------------------------------
    // S37 — multi-table CONSISTENT snapshot (publication set): orders
    // v1 and its per-order lineitem rollup — DERIVED from exactly
    // that version — are pinned together by ONE atomic manifest
    // publish. The fact table then ADVANCES (new orders land, the
    // rollup hasn't caught up), and the query reads BOTH tables
    // through the manifest: the join is complete (every pinned order
    // has its rollup row) even though latest-vs-latest would be
    // inconsistent — if the read resolved the fact table to its
    // current version, the oracle row would go red (counts off by
    // the unrolled orders). This is the Iceberg/Nessie multi-table
    // transaction discipline: a training run pins corpus + features
    // + index as a SET, all-or-nothing, forever reproducible.
    Q("s37_manifest_read",
      "publication set: two tables pinned by one atomic manifest stay mutually consistent after one advances",
      s"""WITH o1 AS (
         |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         |  WHERE o_orderkey % 3 <> 1),
         |r1 AS (
         |  SELECT l_orderkey AS o_orderkey, count(*) AS n_lines,
         |    ${dsumSql("l_extendedprice")} AS rev
         |  FROM lineitem JOIN o1 ON l_orderkey = o1.o_orderkey
         |  GROUP BY 1)
         |SELECT o_custkey, count(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS total,
         |  cast(sum(cast(rev as decimal(30,2))) as double) AS revenue
         |FROM o1 JOIN r1 USING (o_orderkey)
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val ordPath = Scratch.table("s37_orders")
      val rollPath = Scratch.table("s37_rollup")
      val maniPath = Scratch.table("s37_manifest")
      val o = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val o1 = o.filter(col("o_orderkey") % 3 =!= 1)
      val vO = TableStore.publishVersion(s, ordPath, o1, note = "facts-v1")
      // the rollup is DERIVED from exactly orders@v1
      val r1 = t(s, d, "lineitem")
        .join(TableStore.readVersion(s, ordPath, Some(vO))
          .select(col("o_orderkey").as("l_orderkey")), Seq("l_orderkey"), "left_semi")
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
          dsum(col("l_extendedprice")).as("rev"))
      val vR = TableStore.publishVersion(s, rollPath, r1, note = "rollup-of-v1")
      // ONE atomic publish commits the consistent SET
      TableStore.publishManifest(s, maniPath, Seq(
        ("orders", ordPath, vO), ("rollup", rollPath, vR)), note = "set-1")
      // the fact table advances; the rollup has not caught up — a
      // latest-vs-latest read would now be inconsistent
      TableStore.publishVersion(s, ordPath, o, note = "facts-v2"): Unit
      // resolve BOTH tables through the manifest
      TableStore.readPinned(s, maniPath, "orders")
        .join(TableStore.readPinned(s, maniPath, "rollup"), Seq("o_orderkey"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total"),
          sum(col("rev").cast("decimal(30,2)")).cast("double").as("revenue"))
        .orderBy("o_custkey")
    },

    // ---------------------------------------------------------------
    // JSONL corpus ingest — the interchange format a training-corpus
    // pipeline actually receives (one JSON object per line; schema
    // DECLARED, never inferred — inference is a second full pass over
    // 100 TB before the first useful byte). Three producer realities
    // land in ONE splittable line scan:
    //   - well-formed lines project under the declared schema;
    //   - drifted lines (a field missing, an unknown extra field)
    //     null-fill / drop the difference — additive producer drift
    //     must never block ingest (the s14 discipline at parse time);
    //   - malformed lines are captured in _corrupt_record and
    //     QUARANTINED with a count — never silently dropped, never
    //     failing the batch (the s26 WAP discipline at the parse
    //     layer; mode=PERMISSIVE, where FAILFAST would poison a
    //     1000-executor job for one bad line).
    // The quarantine count and the per-language stats come out of the
    // same map-side-combinable aggregate — no second read.
    Q("s38_jsonl_ingest",
      "declared-schema JSONL scan: drift null-fills, malformed lines quarantine, one pass",
      """SELECT lang AS bucket, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN doc_id % 10 != 0 THEN n_chars END) AS BIGINT)
        |    AS chars,
        |  CAST(sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_drifted
        |FROM documents GROUP BY 1
        |UNION ALL SELECT '_corrupt', CAST(7 AS BIGINT), CAST(NULL AS BIGINT),
        |  CAST(0 AS BIGINT)
        |ORDER BY bucket""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types.StructType
      val dir = Scratch.table("s38")
      val docs = t(s, d, "documents")
        .select("doc_id", "lang", "source", "n_chars")
      // producer 1: well-formed JSONL
      docs.filter(col("doc_id") % 10 =!= 0)
        .write.mode("append").json(dir)
      // producer 2 (drifted): n_chars and source missing, an unknown
      // extra field present — built as raw lines, not via the writer
      docs.filter(col("doc_id") % 10 === 0)
        .select(concat(lit("{\"doc_id\":"), col("doc_id"),
          lit(",\"lang\":\""), col("lang"),
          lit("\",\"extra_field\":\"v2-producer\"}")).as("value"))
        .write.mode("append").text(dir)
      // producer 3 (broken): 7 deterministic malformed lines
      import s.implicits._
      (1 to 7).map(i => s"{broken line $i").toDF("value")
        .coalesce(1).write.mode("append").text(dir)
      val schema = StructType.fromDDL("doc_id BIGINT, lang STRING, " +
        "source STRING, n_chars BIGINT, _corrupt_record STRING")
      val raw = s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(dir)
      // output types pinned LONG on both sides: DuckDB's sum() widens
      // to HUGEINT, which the driver's hash canonicalization can
      // represent differently from Spark's int64 — the oracle CASTs
      // and these .cast("long")s keep both frames bit-identical
      raw.groupBy(when(col("_corrupt_record").isNotNull, lit("_corrupt"))
          .otherwise(col("lang")).as("bucket"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("n_chars")).cast("long").as("chars"),
          sum(when(col("_corrupt_record").isNull && col("source").isNull, 1L)
            .otherwise(0L)).cast("long").as("n_drifted"))
        .orderBy("bucket")
    },

    // ---------------------------------------------------------------
    // CSV ingest — s38's twin for the OTHER interchange reality
    // (exports, spreadsheets, legacy feeds): header handling, quoted
    // fields carrying the delimiter and the quote char themselves
    // (the `tag` column embeds both, so writer quoting + reader
    // unquoting must round-trip exactly — the length sum would go red
    // on any mangling), declared schema (no inference pass), and
    // type-invalid rows captured in _corrupt_record and counted,
    // never dropped and never failing the batch. Single splittable
    // pass; no multiLine mode (which would force whole-file parsing
    // at 100 TB — records with embedded newlines belong in JSONL or
    // parquet, not CSV).
    Q("s39_csv_ingest",
      "declared-schema CSV scan: header, quoted delimiter/quote round-trip, corrupt-row quarantine",
      s"""SELECT o_orderstatus AS bucket, count(*) AS n,
         |  ${dsumSql("o_totalprice")} AS total,
         |  sum(length(o_orderpriority || ',"' || o_orderstatus || '"'))
         |    AS tag_chars
         |FROM orders GROUP BY 1
         |UNION ALL SELECT '_corrupt', 5, CAST(NULL AS DOUBLE), NULL
         |ORDER BY bucket""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types.StructType
      val dir = Scratch.table("s39")
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"),
          concat(col("o_orderpriority"), lit(",\""),
            col("o_orderstatus"), lit("\"")).as("tag"))
        .write.mode("append").option("header", "true").csv(dir)
      // a producer's broken export: header line (skipped like every
      // file's first line under header=true), then rows whose values
      // fail their declared types — the condition that actually
      // trips _corrupt_record (token-count drift merely null-fills /
      // truncates under PERMISSIVE, by design: ragged rows are the
      // CSV twin of s38's additive field drift)
      import s.implicits._
      (Seq("o_orderkey,o_orderstatus,o_totalprice,tag") ++
        (1 to 5).map(i => s"$i,X,not-a-price-$i,t"))
        .toDF("value").coalesce(1).write.mode("append").text(dir)
      val schema = StructType.fromDDL("o_orderkey BIGINT, " +
        "o_orderstatus STRING, o_totalprice DOUBLE, tag STRING, " +
        "_corrupt_record STRING")
      val raw = s.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(dir)
      raw.groupBy(when(col("_corrupt_record").isNotNull, lit("_corrupt"))
          .otherwise(col("o_orderstatus")).as("bucket"))
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("total"),
          // PERMISSIVE keeps each corrupt row's successfully-parsed
          // fields alongside _corrupt_record; the clean-row stats
          // must not absorb them
          sum(when(col("_corrupt_record").isNull, length(col("tag"))))
            .as("tag_chars"))
        .orderBy("bucket")
    },

    // ---------------------------------------------------------------
    // XML file ingest — the reference's ACTUAL wire format (the BGG
    // XMLAPI2 the fetch pipeline stages; T1-T8 parse its payloads
    // row-by-row driver-side) as a first-class DISTRIBUTED file scan:
    // Spark 4's native XML source splits on the declared rowTag, so a
    // directory of staged API responses is one parallel scan, not a
    // driver loop. Exercised: attributes (`_id`, `_lang`), a nested
    // element, and OPTIONAL elements null-filling under the declared
    // schema (the additive-drift discipline, XML edition — a fetch
    // across API versions never blocks ingest). Schema declared, not
    // inferred: XML inference is a second full pass at 100 TB.
    Q("s40_xml_ingest",
      "native XML rowTag scan over staged API-style payloads: attributes, nesting, optional-element null-fill",
      """SELECT lang AS bucket, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN doc_id % 7 != 0 THEN n_chars END) AS BIGINT)
        |    AS chars,
        |  CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_missing
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types.StructType
      val dir = Scratch.table("s40")
      val docs = t(s, d, "documents")
        .select("doc_id", "lang", "source", "n_chars")
      // staged API responses: each file is one well-formed response
      // document (root element wrapping its batch of <doc> records —
      // the shape a paged-API fetch actually stages); docs with
      // doc_id % 7 == 0 come from a producer that omits <chars> —
      // the optional element the schema must null-fill
      import s.implicits._
      docs.select(concat(
          lit("<doc id=\""), col("doc_id"),
          lit("\" lang=\""), col("lang"), lit("\">"),
          lit("<src>"), col("source"), lit("</src>"),
          when(col("doc_id") % 7 =!= 0,
            concat(lit("<chars>"), col("n_chars"), lit("</chars>")))
            .otherwise(lit("")),
          lit("</doc>")).as("value")).as[String]
        .mapPartitions(it => Iterator("<docs>" + it.mkString + "</docs>"))
        .write.mode("overwrite").text(dir)
      val schema = StructType.fromDDL(
        "_id BIGINT, _lang STRING, src STRING, chars BIGINT")
      s.read.schema(schema)
        .option("rowTag", "doc")
        .xml(dir)
        .groupBy(col("_lang").as("bucket"))
        // LONG-pinned on both sides (see s38's note on HUGEINT)
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("chars")).cast("long").as("chars"),
          sum(when(col("chars").isNull, 1L).otherwise(0L)).cast("long")
            .as("n_missing"))
        .orderBy("bucket")
    },

    // ---------------------------------------------------------------
    // Table HISTORY as a queryable DataFrame — Delta's DESCRIBE
    // HISTORY / Iceberg's `table$snapshots`: the audit surface an
    // operator actually debugs from ("what changed, when, how big").
    // Each history row carries the version, its commit note, its
    // kind (snapshot vs fold delta — derived from the note's
    // `delta;` prefix, the store's own convention), and the row
    // count AT that version. The ENTIRE ledger is metadata:
    // O(versions) marker reads plus O(files) parquet FOOTER record
    // counts — no version's data is scanned, so DESCRIBE HISTORY on
    // a 100 TB table with deep history costs footer round-trips, not
    // reads (PlanSpec pins the no-scan property). The fixture drives
    // publish → delete-vector → append → fold-delta so all kinds
    // appear; the oracle states the expected ledger algebraically.
    Q("s41_table_history",
      "DESCRIBE HISTORY: version ledger (note, kind, row count) as a queryable frame",
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'initial load', 'snapshot',
        |   (SELECT count(*) FROM customer)),
        |  (CAST(2 AS BIGINT), 'monthly refresh', 'snapshot',
        |   (SELECT count(*) FROM customer WHERE c_custkey % 4 <> 2)),
        |  (CAST(3 AS BIGINT), 'delta;late arrivals', 'fold_delta',
        |   (SELECT count(*) FROM customer WHERE c_custkey % 4 = 2))
        |) AS t(version, note, kind, n_rows)
        |ORDER BY version""".stripMargin) { (s, d) =>
      val path = Scratch.table("s41")
      val c = t(s, d, "customer").select("c_custkey", "c_name")
      TableStore.publishVersion(s, path, c, note = "initial load")
      TableStore.publishVersion(s, path,
        c.filter(col("c_custkey") % 4 =!= 2), note = "monthly refresh")
      TableStore.publishFoldDelta(s, path,
        c.filter(col("c_custkey") % 4 === 2).withColumn("_mult", lit(1L)),
        note = "late arrivals")
      TableStore.history(s, path).orderBy("version")
    },

    // ---------------------------------------------------------------
    // TIMESTAMP AS OF — time travel by WALL CLOCK, the form an
    // incident actually arrives in ("what did the table say at
    // 09:14?"), where s19/s28 pin by version number. Version numbers
    // are unambiguous; timestamps are not — two commits can land in
    // the same millisecond and clocks can skew — so the store
    // ADJUSTS commit times to be strictly increasing along version
    // order (Delta's timestamp-adjustment rule, TableStore
    // .commitTimes) and AS OF resolves to the highest version at or
    // before the asked instant. Resolution is O(versions) metadata
    // reads; the data scan is the same pinned-version read as s19 —
    // nothing about the 100 TB table is touched to answer "which
    // version". The fixture publishes v1 then v2, asks AS OF v1's
    // commit instant (boundary: AT the commit is ON that version)
    // and AS OF v2's, and proves each read returns exactly that
    // version's aggregate; the oracle states both from the raw table.
    Q("s42_time_travel_ts",
      "TIMESTAMP AS OF: wall-clock time travel over adjusted, strictly-increasing commit times",
      s"""SELECT 1 AS pin, o_orderstatus,
         |  count(*) AS n, ${dsumSql("o_totalprice")} AS total
         |FROM orders GROUP BY o_orderstatus
         |UNION ALL
         |SELECT 2, o_orderstatus, count(*),
         |  ${dsumSql("CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2 ELSE o_totalprice END")}
         |FROM orders GROUP BY o_orderstatus
         |ORDER BY pin, o_orderstatus""".stripMargin) { (s, d) =>
      val path = Scratch.table("s42")
      val o = t(s, d, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val v2data = o.withColumn("o_totalprice",
        when(col("o_orderkey") % 3 === 0, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")))
      TableStore.publishVersion(s, path, o, note = "base")
      TableStore.publishVersion(s, path, v2data, note = "repriced")
      val times = TableStore.commitTimes(s, path).toMap
      def aggAt(tsMs: Long, pin: Int) =
        TableStore.readAsOf(s, path, tsMs)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .select(lit(pin).as("pin"), col("o_orderstatus"), col("n"),
            col("total"))
      aggAt(times(1L), 1).unionByName(aggAt(times(2L), 2))
        .orderBy("pin", "o_orderstatus")
    },

    // ---------------------------------------------------------------
    // REPLACE WHERE — selective partition overwrite, the backfill
    // primitive: a correction arrives for a bounded day window and
    // ONLY those day partitions are rewritten (Spark's dynamic
    // partition-overwrite; Delta's replaceWhere, Hive's INSERT
    // OVERWRITE PARTITION). s8 reconciles by KEY through a shuffle;
    // this reconciles by PARTITION through the directory layout — at
    // 100 TB a 3-day fix rewrites 3 directories, and the untouched
    // 362 are not read, not shuffled, not rewritten. The in-query
    // gate holds the physical claim: an untouched day's file listing
    // is BYTE-IDENTICAL before and after, while every corrected day's
    // files were replaced — a silent full-table overwrite turns the
    // row red even though the contents would match. The oracle states
    // the merged result (corrected window doubled, rest original).
    Q("s43_replace_where",
      "replaceWhere backfill: dynamic partition overwrite rewrites only the corrected day partitions",
      s"""SELECT cast(ts as date) AS load_date, count(*) AS n,
         |  ${dsumSql(
              "CASE WHEN cast(ts as date) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12' " +
              "THEN value * 2 ELSE value END")} AS total
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val path = Scratch.table("s43")
      val e = t(s, d, "events")
      graft.operators.TableLayout.writeTimeSeries(e, path, "ts", "user_id")
      def files(day: String): Set[String] = {
        val dir = new java.io.File(s"$path/load_date=$day")
        dir.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => s"${f.getName}:${f.lastModified}:${f.length}").toSet
      }
      val untouchedBefore = files("2024-01-20")
      val replacedBefore = files("2024-01-11")
      val corrected = e
        .filter(col("ts").cast("date").between(lit("2024-01-10"), lit("2024-01-12")))
        .withColumn("value", col("value") * 2)
      graft.operators.TableLayout.replaceDays(s, corrected, path, "ts", "user_id")
      require(files("2024-01-20") == untouchedBefore,
        "s43: an untouched partition's files changed — the overwrite leaked past the corrected days")
      require(files("2024-01-11") != replacedBefore,
        "s43: a corrected partition kept its old files — the overwrite did not land")
      s.read.parquet(path)
        .groupBy(col("load_date"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("load_date")
    },

    // ---------------------------------------------------------------
    // Snapshot TAGS — Iceberg's tag (git-tag semantics over the
    // version history): the training run that must be reproducible
    // forever pins a NAME, not a raw version number, and the tag is
    // a RETENTION CONTRACT — expire/drop cycles keep every tagged
    // version's data alive while untagged history is reclaimed
    // (Iceberg's expire_snapshots never expires a tagged snapshot).
    // The fixture publishes baseline → intermediate → live, tags only
    // the baseline, then drops everything below live: the in-query
    // gates prove the tagged version still READS while the untagged
    // intermediate's data is GONE (fails loudly) — a retention run
    // that silently kept everything, or ate the tag, turns the row
    // red. Tag resolution is O(tags) metadata; the reads are the
    // same pinned scans as s19. Oracle states both surviving reads.
    Q("s44_snapshot_tag",
      "named snapshot tags: immutable version names that survive retention (expire keeps tagged data)",
      s"""SELECT 'baseline' AS pin, count(*) AS n,
         |  ${dsumSql("c_acctbal")} AS total FROM customer
         |UNION ALL
         |SELECT 'live', count(*), ${dsumSql("c_acctbal")}
         |FROM customer WHERE c_custkey % 4 <> 1
         |ORDER BY pin""".stripMargin) { (s, d) =>
      val path = Scratch.table("s44")
      val c = t(s, d, "customer").select("c_custkey", "c_acctbal")
      val v1 = TableStore.publishVersion(s, path, c, note = "baseline")
      TableStore.tag(s, path, "train-run-417", v1)
      val v2 = TableStore.publishVersion(s, path,
        c.filter(col("c_custkey") % 2 === 0), note = "intermediate")
      val v3 = TableStore.publishVersion(s, path,
        c.filter(col("c_custkey") % 4 =!= 1), note = "live")
      TableStore.dropVersionsBelow(s, path, keepFrom = v3)
      // the untagged intermediate's DATA must be reclaimed…
      val gone = scala.util.Try(
        TableStore.readVersion(s, path, Some(v2)).count()).isFailure
      require(gone, "s44: untagged version survived retention")
      // …while the tagged baseline still reads by name
      def agg(df: org.apache.spark.sql.DataFrame, pin: String) =
        df.agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("total"))
          .select(lit(pin).as("pin"), col("n"), col("total"))
      agg(TableStore.readTag(s, path, "train-run-417"), "baseline")
        .unionByName(agg(TableStore.readVersion(s, path), "live"))
        .orderBy("pin")
    },

    // ---------------------------------------------------------------
    // ORC interchange — the OTHER columnar wire format a warehouse
    // actually meets (Hive's default; exports from legacy clusters
    // arrive as ORC files). Spark's native ORC source is a
    // first-class DISTRIBUTED scan with the same pushdown machinery
    // as parquet, and the in-query gate PROVES it: the read-back
    // plan must carry the predicate in the ORC scan's PushedFilters
    // — silently losing pushdown on a 100 TB ORC export (scanning
    // everything to filter in Spark) turns the row red even though
    // the rows would match. Schema is declared on read (inference is
    // a footer pass per file — fine here, a policy decision at
    // scale; the declared form documents it). Oracle recomputes from
    // the parquet source — proving the ORC round trip is lossless.
    Q("s45_orc_interchange",
      "ORC round trip: native distributed scan with gated predicate pushdown == parquet source",
      s"""SELECT o_orderstatus, count(*) AS n,
         |  ${dsumSql("o_totalprice")} AS total
         |FROM orders WHERE o_totalprice > 100000
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      val path = Scratch.table("s45")
      t(s, d, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite").orc(path)
      val back = s.read
        .schema("o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
        .orc(path)
        .filter(col("o_totalprice") > 100000)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
      val plan = back.queryExecution.executedPlan.toString()
      require(plan.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,100000.0)]") ||
        (plan.contains("PushedFilters") && plan.contains("GreaterThan(o_totalprice")),
        s"s45: predicate must reach the ORC scan's PushedFilters:\n$plan")
      back
    },

    // ---------------------------------------------------------------
    // Schema evolution — the add-a-column lifecycle every long-lived
    // table goes through (Delta/Iceberg ADD COLUMN): v1 ships
    // (c_custkey, c_name); the pipeline later starts carrying
    // c_mktsegment, so v2 = old rows NULL-padded (nothing backfilled)
    // + new rows with the column populated + ONE genuine in-place
    // edit (custkey 1 renamed). Each snapshot keeps ITS OWN schema —
    // time travel to v1 must show two columns (gated in-query), the
    // live read shows three. The CDC seam is the sharp edge:
    // changesBetween(allowEvolution=true) reconciles the schemas with
    // typed NULLs so evolution ALONE emits zero change rows — the
    // diff below must count exactly the inserts plus one rename pair,
    // or the row goes red (a naive diff would flag every NULL-padded
    // old row as updated). At scale this is metadata-only: no rewrite
    // of existing files, the reconciliation is a projection.
    Q("s46_schema_evolution",
      "additive schema evolution: per-version schemas, time travel pre-evolution, CDC across the boundary flags only real changes",
      s"""SELECT 'insert' AS kind, count(*) AS n
         |  FROM customer WHERE c_custkey % 3 = 0
         |UNION ALL SELECT 'null_segment_rows', count(*)
         |  FROM customer WHERE c_custkey % 3 <> 0
         |UNION ALL SELECT 'segment_rows', count(*)
         |  FROM customer WHERE c_custkey % 3 = 0
         |UNION ALL SELECT 'update_postimage', cast(1 AS BIGINT)
         |UNION ALL SELECT 'update_preimage', cast(1 AS BIGINT)
         |ORDER BY kind""".stripMargin) { (s, d) =>
      val path = Scratch.table("s46")
      val c = t(s, d, "customer")
        .select("c_custkey", "c_name", "c_mktsegment")
      val v1df = c.filter(col("c_custkey") % 3 =!= 0)
        .select("c_custkey", "c_name")
      val v1 = TableStore.publishVersion(s, path, v1df, note = "pre-evolution")
      val renamed = v1df.withColumn("c_name",
        when(col("c_custkey") === 1, concat(col("c_name"), lit(" (renamed)")))
          .otherwise(col("c_name")))
      val v2 = TableStore.publishVersion(s, path,
        renamed.withColumn("c_mktsegment", lit(null).cast("string"))
          .unionByName(c.filter(col("c_custkey") % 3 === 0)),
        note = "post-evolution")
      // time travel: the pre-evolution snapshot keeps its own schema
      val travel = TableStore.readVersion(s, path, Some(v1)).columns.toSeq
      require(travel == Seq("c_custkey", "c_name"),
        s"s46: v$v1 must read with its pre-evolution schema, got $travel")
      require(TableStore.readVersion(s, path).columns.length == 3,
        "s46: live read must carry the evolved schema")
      val changes = TableStore.changesBetween(s, path, v1, v2,
        Seq("c_custkey"), allowEvolution = true)
      val byType = changes.groupBy(col("_change_type").as("kind"))
        .agg(count(lit(1)).as("n"))
      val live = TableStore.readVersion(s, path)
      def proof(kind: String, cond: org.apache.spark.sql.Column) =
        live.filter(cond).agg(count(lit(1)).as("n"))
          .select(lit(kind).as("kind"), col("n"))
      byType
        .unionByName(proof("segment_rows", col("c_mktsegment").isNotNull))
        .unionByName(proof("null_segment_rows", col("c_mktsegment").isNull))
        .orderBy("kind")
    },

    // ---------------------------------------------------------------
    // The snapshot store as a FIRST-CLASS Spark data source —
    // `spark.read.format("graft-table")` with snapshot options
    // (versionAsOf / timestampAsOf / tag / branch) and AUTOMATIC
    // min/max file skipping: the source's custom FileIndex (the
    // Delta-reader architecture) receives the query's own pushed-down
    // data filters inside listFiles and consults the snapshot's
    // skipping index BEFORE the scan is constructed, so
    // `filter(user_id <= k)` plans only the intersecting range files
    // with no manual `ranges` map (contrast s23, where the caller
    // prunes explicitly). Everything below the listing is Spark's
    // native vectorized parquet path. A require proves the executed
    // scan's own numFiles metric saw the pruned listing; the oracle
    // states both snapshots' semantics over the source table, so tag
    // resolution and pruning must be result-invisible. Scale: listing
    // is one directory of the pinned version; pruning is one bounded
    // index read on the driver — never a per-file footer open.
    Q("s47_snapshot_source",
      "graft-table format: snapshot options + filter-pushdown file skipping through a custom FileIndex",
      s"""SELECT event_type AS bucket, count(*) AS n,
         |  ${dsumSql("value")} AS total
         |FROM events
         |WHERE user_id <= (SELECT max(user_id)//4 FROM events)
         |GROUP BY 1
         |UNION ALL SELECT '_baseline',
         |  (SELECT count(*) FROM events WHERE event_id % 2 = 0),
         |  CAST(NULL AS DOUBLE)
         |ORDER BY bucket""".stripMargin) { (s, d) =>
      import graft.operators.SkippingIndex
      val path = Scratch.table("s47")
      val ev = t(s, d, "events")
        .select("event_id", "user_id", "event_type", "value")
      // v1 = the even-event baseline, tagged; v2 = the full table.
      // Both range-clustered on user_id so the per-file boxes are
      // narrow in the filter column (the s22/s23 layout discipline).
      val v1 = TableStore.publishVersion(s, path,
        ev.filter(col("event_id") % 2 === 0)
          .repartitionByRange(8, col("user_id")), note = "baseline")
      TableStore.tag(s, path, "baseline", v1)
      TableStore.publishVersion(s, path,
        ev.repartitionByRange(8, col("user_id")), note = "full")
      SkippingIndex.build(s,
        TableStore.snapshotDataDir(s, path, None), Seq("user_id"))
      val uHi = ev.agg(max(col("user_id"))).head.getAs[Number](0).longValue / 4
      val live = s.read.format("graft-table").load(path)
        .filter(col("user_id") <= uHi)
      // loud gate: the executed scan itself must have seen the pruned
      // listing (dead pushdown = red row, not silent full scan)
      // the probe is shuffle-free on purpose: AQE only wraps plans
      // with exchanges, so the scan (and its numFiles metric) stays
      // directly visible in the executed plan
      val probe = live.select("event_id").limit(1)
      probe.collect()
      val kept = probe.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.sum
      // gate against the table's ACTUAL file count, not the literal 8
      // the repartition asked for — fewer non-empty partitions must
      // not let a dead pushdown pass vacuously
      val totalFiles = live.inputFiles.length
      require(kept > 0 && kept < totalFiles,
        s"s47: graft-table pruned nothing: $kept of $totalFiles files planned")
      val agg = live.groupBy(col("event_type").as("bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      val baseline = s.read.format("graft-table")
        .option("tag", "baseline").load(path)
        .agg(count(lit(1)).as("n"))
        .select(lit("_baseline").as("bucket"), col("n"),
          lit(null).cast("double").as("total"))
      agg.unionByName(baseline).orderBy("bucket")
    },

    // ---------------------------------------------------------------
    // O(Δ) APPEND commits — the Delta add-files discipline the plain
    // versioned store (S5/publishVersion) lacks: an append writes ONLY
    // the new rows' files and commits a marker chaining to the parent
    // (`@base=`), so a daily ingest into a 100 TB table costs the
    // day's bytes, never a table rewrite — while time travel to the
    // pre-append snapshot and snapshot isolation are untouched.
    // Commits are CAS-shaped: two appends to one parent serialize,
    // the loser retries (never silently drops the winner's rows from
    // its chain). In-query gates are PHYSICAL: the parent's file list
    // must be byte-identical (name+size) after the append, and the
    // appended version must read from exactly parent dirs + 1. The
    // writer path (`df.write.format("graft-table").mode("append")`)
    // is the same commit. Oracle states baseline, appended-total, and
    // time-travel semantics algebraically over the source table.
    Q("s48_append_chain",
      "O(appended-bytes) add-files commit: chained snapshot, parent untouched, time travel intact",
      """SELECT o_orderstatus AS bucket, count(*) AS n
        |FROM orders GROUP BY 1
        |UNION ALL SELECT '_baseline_v1',
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 0)
        |UNION ALL SELECT '_appended_rows',
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 3 != 0)
        |ORDER BY bucket""".stripMargin) { (s, d) =>
      val path = Scratch.table("s48")
      val o = t(s, d, "orders").select("o_orderkey", "o_orderstatus")
      val v1 = TableStore.publishVersion(s, path,
        o.filter(col("o_orderkey") % 3 === 0), note = "day-1")
      val fsys = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      def listing(dir: String) =
        fsys.listStatus(new org.apache.hadoop.fs.Path(dir))
          .filter(_.getPath.getName.endsWith(".parquet"))
          .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
          .sortBy(_._1).toSeq
      val v1Dir = TableStore.snapshotDataDir(s, path, Some(v1))
      val before = listing(v1Dir)
      // the writer path IS the O(Δ) commit
      o.filter(col("o_orderkey") % 3 =!= 0)
        .write.format("graft-table").mode("append").save(path)
      require(listing(v1Dir) == before,
        "s48: append rewrote the parent's files — not an add-files commit")
      val dirs = TableStore.snapshotDataDirs(s, path, None)
      require(dirs.size == 2 && dirs.head == v1Dir,
        s"s48: expected a 2-dir chain rooted at v$v1, got $dirs")
      val live = s.read.format("graft-table").load(path)
      val travel = s.read.format("graft-table")
        .option("versionAsOf", v1.toString).load(path)
      live.groupBy(col("o_orderstatus").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .unionByName(travel.agg(count(lit(1)).as("n"))
          .select(lit("_baseline_v1").as("bucket"), col("n")))
        .unionByName(live.join(travel.select("o_orderkey"),
            Seq("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("n"))
          .select(lit("_appended_rows").as("bucket"), col("n")))
        .orderBy("bucket")
    },

    // ---------------------------------------------------------------
    // PREFIX + NULL-COUNT file skipping through the source — the two
    // stats rules a min/max box alone cannot express, under the
    // driver's own gate: `startsWith(p)` prunes by the
    // [p, succ(p)) overlap test (Spark's parquet-pushdown prefix
    // trick, now at FILE granularity before any IO) and IS NULL
    // prunes every zero-null file via the index's nullCount stat
    // (Delta's stat, s23's index extended). The fixture appends one
    // all-null-source delta onto a source-range-clustered base — the
    // writer's one-option path (indexColumns) indexes each commit's
    // own files — and BOTH probes must show pruned numFiles or the
    // row goes red. Oracle states prefix-group stats and the null
    // count algebraically over the source table.
    Q("s49_prefix_null_skipping",
      "startsWith + IS NULL file skipping via index prefix/nullCount rules; pruned == recompute",
      """SELECT source AS bucket, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE source LIKE 'src1%' GROUP BY 1
        |UNION ALL SELECT '_nulls',
        |  (SELECT count(*) FROM documents WHERE doc_id % 50 = 0),
        |  CAST(NULL AS BIGINT)
        |ORDER BY bucket""".stripMargin) { (s, d) =>
      val path = Scratch.table("s49")
      val docs = t(s, d, "documents").select("doc_id", "source", "n_chars")
      docs.repartitionByRange(8, col("source"), col("doc_id"))
        .write.format("graft-table").option("indexColumns", "source")
        .mode("overwrite").save(path)
      // a late producer whose source field is all-null — its own
      // indexed delta file carries nullCount == nRows
      docs.filter(col("doc_id") % 50 === 0)
        .withColumn("source", lit(null).cast("string"))
        .coalesce(1)
        .write.format("graft-table").option("indexColumns", "source")
        .mode("append").save(path)
      val live = s.read.format("graft-table").load(path)
      def planned(df: org.apache.spark.sql.DataFrame): Long = {
        val probe = df.select("doc_id").limit(1)
        probe.collect()
        probe.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.metrics("numFiles").value
        }.sum
      }
      val total = live.inputFiles.length
      val prefix = live.filter(col("source").startsWith("src1"))
      val nulls = live.filter(col("source").isNull)
      require(planned(prefix) < total,
        s"s49: prefix predicate pruned nothing ($total files)")
      require(planned(nulls) == 1,
        s"s49: IS NULL must plan exactly the all-null delta file")
      prefix.groupBy(col("source").as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).cast("long").as("chars"))
        .unionByName(nulls.agg(count(lit(1)).as("n"))
          .select(lit("_nulls").as("bucket"), col("n"),
            lit(null).cast("long").as("chars")))
        .orderBy("bucket")
    },

    // ---------------------------------------------------------------
    // BACKFILLED (reserved-slot) checkpoint — the protocol that keeps
    // a fold-table compaction OFF the writer's critical path: the
    // checkpoint takes its version NUMBER synchronously
    // (TableStore.reserveVersion, one claim file) and pins its fold
    // input, then its bytes land whenever the background rewrite
    // finishes (publishReserved) — later deltas claim ABOVE the
    // reservation, so version order alone keeps the anchor below
    // them (Delta's backfilled checkpoints: the log fixes commit
    // order, checkpoint parquet trails). At a 100 TB state the
    // rewrite is minutes long; without the reserved slot every
    // maintenance tick after a compaction waits on it. In-query
    // gates: the late delta's version really is above the reserved
    // slot; the folded state is bit-identical before and after the
    // checkpoint lands (a checkpoint is logically invisible); and
    // after retention the chain anchors at the backfilled slot. The
    // oracle states the final multiset algebraically: v0 (%3=0) plus
    // two deltas (+%3=1, +%3=2 with a retraction of the %15=0 rows).
    Q("s50_backfilled_checkpoint",
      "reserved-slot fold checkpoint commits behind a later delta; state invariant, anchor correct",
      s"""SELECT o_custkey, count(*) AS n,
         |  ${dsumSql("o_totalprice")} AS total
         |FROM orders WHERE o_orderkey % 15 != 0
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val path = Scratch.table("s50")
      val o = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      TableStore.publishFoldSnapshotDistinct(s, path,
        o.filter(col("o_orderkey") % 3 === 0), note = "v0")
      TableStore.publishFoldDelta(s, path,
        o.filter(col("o_orderkey") % 3 === 1)
          .withColumn("_mult", lit(1L)), note = "tick=0")
      // the compaction reserves its slot and pins its input HERE...
      val at = TableStore.currentVersion(s, path).get
      val slot = TableStore.reserveVersion(s, path)
      // ...and a later tick commits first: inserts the %3=2 rows and
      // retracts the %15=0 rows the v0 snapshot carried
      val d2 = TableStore.publishFoldDelta(s, path,
        o.filter(col("o_orderkey") % 3 === 2)
          .withColumn("_mult", lit(1L))
          .unionByName(o.filter(col("o_orderkey") % 15 === 0)
            .withColumn("_mult", lit(-1L))), note = "tick=1")
      require(d2 > slot,
        s"s50: late delta v$d2 must claim above the reserved v$slot")
      val pending = TableStore.readFolded(s, path).count()
      // the checkpoint's bytes land late, pinned at its own tick
      TableStore.publishReserved(s, path, slot,
        TableStore.readFolded(s, path, Some(at)), "checkpoint;after=0")
      require(TableStore.readFolded(s, path).count() == pending,
        "s50: a backfilled checkpoint must be logically invisible")
      // retention anchors at the backfilled slot; the state survives
      val cur = TableStore.currentVersion(s, path).get
      require(TableStore.foldAnchor(s, path, cur) == slot,
        s"s50: fold must anchor at the backfilled checkpoint v$slot")
      TableStore.dropVersionsBelow(s, path, slot)
      TableStore.readFolded(s, path)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_custkey")
    }
  )

  /** Loud in-query proof that [[graft.plans.MvRewrite]] actually
    * routed the aggregate: the optimized plan must scan the view and
    * must NOT scan the base — a dead rule turns the gate row red
    * instead of silently degrading to a table scan.
    */
  private def requireRouted(df: org.apache.spark.sql.DataFrame,
      viewPath: String, basePath: String, tag: String): Unit =
    graft.plans.MvRewrite.assertRouted(df, viewPath, Seq(basePath), tag)
}
