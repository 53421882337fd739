package graft.queries

import org.apache.spark.sql.functions._
import graft.Scratch

/** Sketch-family aggregates — the approximate operators a 100 TB
  * pipeline substitutes for their exact forms (SURVEY §2.4's A2/A14 at
  * the scale where exact is a luxury): HyperLogLog++ distinct counts
  * and quantile sketches.
  *
  * Gate design: an approximate value cannot be hash-compared against a
  * DuckDB oracle (different sketch implementations), so — like
  * `f16_uuid` — the gated projection carries the EXACT value (oracle-
  * checkable) plus a boolean asserting the sketch landed inside its
  * documented error bound; the oracle states `true`. The exact twin in
  * the projection is the test harness, not the production shape: at
  * scale the sketch runs alone.
  *
  * Determinism note: HLL++ register-merge is a commutative max, so the
  * approx count is identical under any partitioning. The quantile
  * sketch's compression IS merge-order-sensitive, which is exactly why
  * only its rank-bound boolean (guaranteed regardless of merge order)
  * is gated, never the raw approx value.
  */
object SketchOps {

  val all: Seq[Q] = Seq(

    // HLL++ distinct with rsd 2%, gated within 5% of exact. Scale: the
    // sketch is a fixed few-KB state per group, map-side combinable —
    // the shuffle carries registers, not user ids.
    Q("a17_hll_distinct",
      "approx_count_distinct (HLL++) per type, gated within 5% of exact",
      """SELECT event_type, count(DISTINCT user_id) AS exact_distinct,
        |       true AS hll_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      t(s, d, "events").groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_distinct"),
          approx_count_distinct(col("user_id"), 0.02).as("hll"))
        .select(col("event_type"), col("exact_distinct"),
          (abs(col("hll") - col("exact_distinct"))
            <= col("exact_distinct") * 0.05).as("hll_ok"))
        .orderBy("event_type")
    },

    // Quantile sketch gated on its ACTUAL guarantee — rank error: the
    // returned p50 element's rank interval [frac(<v), frac(<=v)] must
    // intersect [0.5 - eps, 0.5 + eps]. (An interpolated-value band
    // like exact p45..p55 looks natural but EXCLUDES the returned
    // element for small groups — interpolation can land between
    // elements — so it misfires exactly where groups are skewed.)
    // Two aggregates: the 5-row sketch result broadcasts back onto the
    // fact scan for the rank count — no second shuffle of the values.
    // All-NULL groups pass vacuously (the sketch has nothing to rank).
    Q("a18_approx_quantiles",
      "percentile_approx p50 per type, gated by its rank-error guarantee",
      """SELECT event_type, count(*) AS n, true AS p50_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val ev = t(s, d, "events")
      val sk = ev.groupBy("event_type")
        .agg(expr("percentile_approx(value, 0.5, 10000)").as("p50_approx"))
      ev.join(broadcast(sk), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count(col("value")).as("nv"),
          sum(when(col("value") < col("p50_approx"), 1L).otherwise(0L)).as("n_lt"),
          sum(when(col("value") <= col("p50_approx"), 1L).otherwise(0L)).as("n_le"))
        .select(col("event_type"), col("n"),
          when(col("nv") === 0, lit(true)).otherwise(
            col("n_lt") <= (col("nv") * 0.55) &&
              col("n_le") >= (col("nv") * 0.45)).as("p50_ok"))
        .orderBy("event_type")
    },

    // MERGEABLE sketches — the property a17's one-shot aggregate never
    // shows: per-(status, month) Datasketches HLL sketches built
    // INDEPENDENTLY (as a nightly partition job would persist them),
    // then unioned per status WITHOUT touching the rows again. At
    // 100 TB this is the re-aggregation discipline: daily sketch
    // partials make any rollup window (week, month, all-time) a
    // sketch-merge job over KB-sized states instead of a re-scan of
    // the raw ids. Gate: exact distinct (oracle-checkable) + the
    // merged estimate inside 5% (datasketches HLL union keeps the
    // target-mode register max — commutative, partitioning-invariant).
    Q("a20_sketch_union",
      "per-month HLL sketch partials unioned per status == within 5% of exact distinct",
      """SELECT o_orderstatus AS status, count(DISTINCT o_custkey) AS exact_n,
        |       true AS merged_ok
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val o = t(s, d, "orders")
        .select(col("o_orderstatus").as("status"), col("o_custkey"),
          date_trunc("month", col("o_orderdate")).as("m"))
      // stage 1: independent partials — one sketch per (status, month)
      val partials = o.groupBy("status", "m")
        .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
      // stage 2: rollup by MERGE only — no row rescan
      val merged = partials.groupBy("status")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = o.groupBy("status")
        .agg(countDistinct(col("o_custkey")).as("exact_n"))
      exact.join(broadcast(merged), Seq("status"))
        .select(col("status"), col("exact_n"),
          (abs(col("est") - col("exact_n")) <= col("exact_n") * 0.05)
            .as("merged_ok"))
        .orderBy("status")
    },

    // Count-min sketch heavy hitters — the third mergeable-sketch
    // family member (frequencies, next to HLL's cardinalities and the
    // quantile sketch's ranks): per-month CMS partials with a fixed
    // (eps, confidence, seed) are plain counter tables, so a rollup is
    // elementwise addition — KB-sized states merged WITHOUT rescanning
    // rows, the same nightly-partials discipline as a20. Merging the
    // disjoint month partials reproduces the one-shot sketch's table
    // EXACTLY (each row counted once under the same hash functions),
    // so the gate asserts bit-equal estimates merged-vs-single AND the
    // CMS point-query guarantee (estimate never under exact, over by
    // at most eps·N here — deterministic given the fixed seed) on the
    // top-10 exact heavy hitters. The handful of KB-sized sketch
    // states and 10 probe keys pass through the driver as planning
    // metadata; the row scans stay distributed.
    Q("a21_cms_heavy_hitters",
      "top-10 heavy hitters: month-partial count-min sketches merge == one-shot, within eps*N of exact",
      """WITH x AS (
        |  SELECT user_id, count(*) AS exact_n FROM events
        |  GROUP BY user_id ORDER BY exact_n DESC, user_id LIMIT 10)
        |SELECT user_id, exact_n, true AS cms_ok, true AS merge_exact
        |FROM x ORDER BY exact_n DESC, user_id""".stripMargin) { (s, d) =>
      import org.apache.spark.util.sketch.CountMinSketch
      def cms(bytes: Array[Byte]): CountMinSketch =
        CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes))
      val ev = t(s, d, "events")
        .select(col("user_id"), date_trunc("month", col("ts")).as("m"))
      val agg = "count_min_sketch(user_id, 0.001d, 0.99d, 42)"
      // stage 1: independent per-month partials; stage 2: merge only
      val merged = ev.groupBy("m").agg(expr(agg).as("sk"))
        .collect().map(r => cms(r.getAs[Array[Byte]]("sk")))
        .reduce { (a, b) => a.mergeInPlace(b); a }
      val single = cms(ev.agg(expr(agg).as("sk")).head().getAs[Array[Byte]]("sk"))
      val top = ev.groupBy("user_id")
        .agg(count(lit(1)).as("exact_n"))
        .orderBy(desc("exact_n"), col("user_id")).limit(10)
      val slack = math.ceil(0.001 * merged.totalCount()).toLong
      val probes = top.collect().map { r =>
        val (u, n) = (r.getAs[Number]("user_id").longValue, r.getLong(1))
        val (em, es) = (merged.estimateCount(u), single.estimateCount(u))
        (u, n, em >= n && em <= n + slack, em == es)
      }.toSeq
      val checks = s.createDataFrame(probes)
        .toDF("user_id", "exact_n_", "cms_ok", "merge_exact")
      top.join(broadcast(checks), top("user_id") === checks("user_id"))
        .select(top("user_id"), col("exact_n"), col("cms_ok"),
          col("merge_exact"))
        .orderBy(desc("exact_n"), top("user_id"))
    },

    // ---------------------------------------------------------------
    // I8 — mergeable-sketch fold table: the IVM story for APPROXIMATE
    // aggregates. COUNT(DISTINCT) is the canonical non-self-
    // maintainable aggregate; i6 maintains it exactly with O(distinct
    // pairs) auxiliary state, but at 100 TB the lakehouse answer for
    // insert-only feeds is a fixed-KB DataSketches HLL per group,
    // absorbed per batch by register-max UNION — commutative and
    // associative, so ANY batch split folds to the SAME registers as
    // one bulk pass (gated as strict equality below, not just a bound:
    // fold == bulk == compacted). Each absorb publishes one
    // O(groups)-row sketch version onto a fold chain; compaction
    // unions the chain into one snapshot and re-anchors (Delta
    // checkpoint discipline with sketch-merge as the fold operator,
    // where publishFoldDelta's is signed addition). The shuffle
    // carries few-KB registers, never user ids; the view is
    // O(groups · KB) regardless of corpus size.
    Q("i8_sketch_ivm",
      "HLL sketch fold table: batch-absorbed distinct view == bulk sketch == compacted read, within 5% of exact",
      """SELECT event_type, count(DISTINCT user_id) AS exact_distinct,
        |       true AS fold_eq_bulk, true AS hll_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      import graft.operators.TableStore
      val path = Scratch.table("i8")
      val ev = t(s, d, "events").select("event_id", "event_type", "user_id")
      // three deterministic batches = three fold-chain versions of
      // per-group sketches (the absorb tick: one O(groups) publish)
      (0L until 3L).foreach { b =>
        TableStore.publishVersion(s, path,
          ev.filter(col("event_id") % 3 === b)
            .groupBy("event_type")
            .agg(expr("hll_sketch_agg(user_id, 12)").as("sk")),
          note = s"batch=$b")
      }
      // chain read: union the versions, merge registers per group
      val chain = TableStore.committedVersions(s, path)
        .map(v => TableStore.readVersion(s, path, Some(v)))
        .reduce(_ unionByName _)
      val folded = chain.groupBy("event_type")
        .agg(expr("hll_union_agg(sk)").as("sk"))
      // compaction: the merged chain republished as one snapshot
      TableStore.publishVersion(s, path, folded, note = "compact")
      val compactRead = TableStore.readVersion(s, path)
        .select(col("event_type"),
          expr("hll_sketch_estimate(sk)").as("est_compact"))
      val foldEst = folded
        .select(col("event_type"), expr("hll_sketch_estimate(sk)").as("est_fold"))
      val bulk = ev.groupBy("event_type")
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").as("est_bulk"),
          countDistinct(col("user_id")).as("exact_distinct"))
      bulk.join(foldEst, Seq("event_type"))
        .join(compactRead, Seq("event_type"))
        .select(col("event_type"), col("exact_distinct"),
          (col("est_fold") === col("est_bulk") &&
            col("est_compact") === col("est_fold")).as("fold_eq_bulk"),
          (abs(col("est_fold") - col("exact_distinct"))
            <= col("exact_distinct") * 0.05).as("hll_ok"))
        .orderBy("event_type")
    },

    // ---------------------------------------------------------------
    // ST19 — i8's absorb in the CONTINUOUS loop (what st18 is to k22):
    // a live event feed keeps a per-group distinct-count sketch view
    // warm. Each micro-batch aggregates ONLY its slice to fixed-KB
    // HLL registers and publishes them as one tick-note-guarded
    // O(groups) version onto the chain (the applyTick WAL discipline
    // — redelivery skips); the serving read merges the chain by
    // register-max union. Union is commutative+associative, so
    // stream-of-absorbs == one bulk pass over the full corpus at ANY
    // micro-batch split — gated as strict estimate equality, plus the
    // 5% bound vs exact. Per-tick cost is the slice's aggregate + one
    // registers-only write, never a re-read of history.
    Q("st19_stream_sketch",
      "event stream absorbed into the HLL distinct view tick by tick == bulk sketch, within 5% of exact",
      """SELECT event_type, count(DISTINCT user_id) AS exact_distinct,
        |       true AS fold_eq_bulk, true AS hll_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      import graft.operators.TableStore
      import graft.streaming.{EventStream, JoinViewMaintenance}
      val tmp = Scratch.dir("st19")
      val path = tmp.resolve("sketches").toString
      val ev = t(s, d, "events").select("event_id", "event_type", "user_id")
      def sketch(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("event_type").agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
      // anchor: the pre-existing corpus, one snapshot
      val base = ev.filter(col("event_id") % 3 =!= 2)
      TableStore.publishVersion(s, path, sketch(base), note = "tick=-1")
      // the live feed: the remaining slice replayed as micro-batches
      val stream = EventStream.stagedFileStream(s,
        ev.filter(col("event_id") % 3 === 2),
        tmp.resolve("stage").toString, nFiles = EventStream.ticks(3))
      EventStream.runForeachBatch(s, stream,
        Some(tmp.resolve("ckpt").toString)) { (slice, bid) =>
        if (JoinViewMaintenance.tickVersion(s, path, bid).isEmpty)
          TableStore.publishVersion(s, path, sketch(slice),
            note = s"tick=$bid"): Unit
      }
      // serving read: merge the whole chain's registers per group
      val folded = TableStore.committedVersions(s, path)
        .map(v => TableStore.readVersion(s, path, Some(v)))
        .reduce(_ unionByName _)
        .groupBy("event_type")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_fold"))
      val bulk = ev.groupBy("event_type")
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").as("est_bulk"),
          countDistinct(col("user_id")).as("exact_distinct"))
      bulk.join(folded, Seq("event_type"))
        .select(col("event_type"), col("exact_distinct"),
          (col("est_fold") === col("est_bulk")).as("fold_eq_bulk"),
          (abs(col("est_fold") - col("exact_distinct"))
            <= col("exact_distinct") * 0.05).as("hll_ok"))
        .orderBy("event_type")
    })
}
