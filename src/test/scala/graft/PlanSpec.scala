package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution

/** Physical-plan shape assertions — the scale contract of the key
  * operators. These are the properties that decide whether a query
  * survives a 100x scale-up, checked at the plan level so a regression
  * (a lost pushdown, a dropped broadcast, a window instead of a
  * partial agg) fails CI rather than a cluster.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Pin a session conf for one assertion block, restoring after. The
    * AQE-dependent tests state their precondition explicitly instead
    * of relying on ambient session state: the suite JVM shares one
    * session across ~40 suites, and a test that asserts an
    * adaptive-plan shape under whatever conf the previous suite left
    * behind is an ordering flake waiting to happen (observed once in
    * a full run; never reproducible pairwise).
    */
  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
  }

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf)
    val qe: QueryExecution = df.queryExecution
    qe.executedPlan.toString()
  }

  test("s3: filters and projection are pushed into the parquet scan") {
    val p = plan("s3_scan_project")
    assert(p.contains("PushedFilters: ["), p)
    // the printed list truncates, so check the leading entries
    assert(p.contains("IsNotNull(l_shipdate)"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    // pruned read schema: only the 6 referenced columns, not all 11
    assert(!p.contains("l_partkey"), "scan should not read unused columns")
  }

  test("s4: point lookup pushes the key predicate") {
    val p = plan("s4_point_lookup")
    assert(p.contains("EqualTo(o_orderkey,42)"), p)
  }

  test("j3: dimension joins broadcast (no shuffle of the fact side)") {
    val p = plan("j3_snowflake")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("o1: global top-N plans TakeOrderedAndProject, not a full sort") {
    val p = plan("o1_global_topn")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q1: aggregation is partial (map-side combine) + final") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("partial_"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("w3: max-struct dedup has no Window operator; w1 does") {
    assert(!plan("w3_dedup_maxstruct").contains("Window"))
    assert(plan("w1_dedup_latest").contains("Window"))
  }

  test("w2: rank<=k pushes a partial WindowGroupLimit below the shuffle") {
    // Spark's own map-side top-k pushdown — the reason SURVEY §4
    // concludes no custom SparkPlan is justified for W2.
    val p = plan("w2_topk_per_group")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("k1: knn scan broadcasts the query row") {
    val p = plan("k1_knn_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("j6: anti join stays a hash join with broadcast") {
    val p = plan("j6_anti")
    assert(p.contains("LeftAnti"), p)
  }

  test("t8: bm25 broadcasts the 1-row corpus stats; top-k is TakeOrdered") {
    // corpus stats come back as a broadcast, never a shuffle of the
    // doc side; top-20 must not sort the full corpus
    val p = plan("t8_bm25")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("d8: fuzzy matching is an equi-join on block keys, never a cartesian") {
    val p = plan("d8_fuzzy_blocked")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // blocked join keys present as join condition (hash or sort-merge ok)
    assert(p.contains("Join"), p)
  }

  test("p11: pivot is one partial+final aggregation — not .pivot()'s double shuffle") {
    // Dataset.pivot (even with an explicit value list) plans
    // groupBy(key, pivot_col) THEN a pivotfirst re-agg — two shuffles
    // of the keyspace. The conditional-agg form used by p11 is the
    // scale-correct pivot: one shuffle, map-side combinable.
    val p = plan("p11_pivot")
    assert(p.contains("partial_"), p)
    assert(!p.contains("pivotfirst"), "should not use the double-agg pivot path:\n" + p)
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected <=2 exchanges (agg + order), got $exchanges:\n$p")
  }

  test("u6: unpivot is a narrow Expand — no extra shuffle beyond agg + order") {
    val p = plan("u6_unpivot")
    assert(p.contains("Expand"), p)
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges:\n$p")
  }

  test("a16: moment sums aggregate partially (map-side combinable integer sums)") {
    val p = plan("a16_moments")
    assert(p.contains("partial_"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q3: filtered dim broadcasts; top-10 is TakeOrdered, not a global sort") {
    val p = plan("q3_shipping_priority")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_"), p)
  }

  test("q5: fact joins are not FORCE-broadcast; hinted dims still are") {
    // At sf0.001 Catalyst auto-broadcasts the tiny customer side —
    // correct at this size, and at 100x the size estimate flips it to
    // a shuffled join automatically. The regression to gate is a
    // hard-coded broadcast() hint on the fact side, which would OOM at
    // scale: with the size-based threshold disabled, only hinted sides
    // may remain broadcast.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val p = plan("q5_region_volume")
      // explicit dim hints (region/nation/pruned supplier) survive
      assert(p.contains("BroadcastHashJoin"), p)
      // the customer-orders fact join shuffles — no forced hint
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        "fact join must be able to shuffle (forced broadcast?):\n" + p)
      assert(!p.contains("CartesianProduct"), p)
    } finally spark.conf.set(key, prev)
  }

  test("g3: degree join is volume-aware — broadcast under the vertex ceiling, shuffle above") {
    // The triangle family joins every edge to the |V|-sized degree
    // table twice. At audited scales that table is tens of MB and the
    // broadcast is right; at a 10⁹-vertex graph a hard hint is a
    // driver OOM no AQE threshold can override. orientedAdj measures
    // the vertex count first and only hints under a ceiling — gate
    // BOTH regimes, with size-based auto-broadcast disabled so the
    // decision under test is the helper's, not the estimator's.
    // the g3/g6 bodies checkpoint the adjacency fold (the join under
    // test would be invisible in the final query's plan), so gate the
    // shared pre-checkpoint builder directly
    import spark.implicits._
    def adjPlan(): String = {
      val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L)).toDF("u", "v")
      graft.queries.GraphOps.orientedAdjPlan(e)
        .queryExecution.executedPlan.toString()
    }
    def bhj(p: String) = p.linesIterator.count(_.contains("BroadcastHashJoin"))
    val prop = "graft.graph.degree.broadcast.max.vertices"
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      // regime A (default ceiling, tiny graph): both degree joins hinted
      val under = adjPlan()
      assert(bhj(under) == 2,
        "degree joins should broadcast under the ceiling:\n" + under)
      // regime B (ceiling 0 = every graph is 'too big'): the same two
      // joins must be plannable as shuffle equi-joins — no forced hint
      val prev = sys.props.get(prop)
      sys.props(prop) = "0"
      val over =
        try adjPlan()
        finally prev.fold { sys.props -= prop; () }(v => sys.props(prop) = v)
      assert(bhj(over) == 0,
        s"ceiling=0 should drop both degree broadcasts:\n" + over)
      assert(over.contains("SortMergeJoin") || over.contains("ShuffledHashJoin"),
        "above the ceiling the degree join must shuffle:\n" + over)
      assert(!over.contains("CartesianProduct"), over)
    }
  }

  test("u4/u5: set ops plan as joins over aggregates, not nested loops") {
    assert(!plan("u4_intersect").contains("CartesianProduct"))
    assert(!plan("u5_except").contains("CartesianProduct"))
  }

  test("k5: neighbor precompute pair join is (label, bucket)-bounded, not label-all-pairs") {
    // A popular label at 100 TB is O(block²); the candidate join must
    // carry the LSH bucket as an equi-join key alongside label so the
    // block is |label ∩ bucket|, not |label|. Gate: the join keys
    // include `bucket`, and nothing degenerates to a nested loop.
    val p = plan("k5_precomputed_neighbors")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    val joinLine = p.linesIterator
      .find(l => l.contains("Join") && l.contains("label"))
      .getOrElse(fail("no label join found in plan:\n" + p))
    assert(joinLine.contains("bucket"),
      "pair join must be keyed on (label, bucket):\n" + joinLine)
  }

  test("e1: funnel's 1-row crossJoins broadcast (no unhinted BNLJ under misestimation)") {
    // The three funnel counts are 1-row aggregates; without an explicit
    // broadcast() hint their crossJoin shape depends on size estimation,
    // and a misestimate at scale plans a non-broadcast nested loop over
    // a shuffled side. Gate: both crossJoins broadcast.
    val p = plan("e1_funnel")
    assert(!p.contains("CartesianProduct"), p)
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj == 2, s"expected exactly 2 broadcast crossJoins, saw $bnlj:\n" + p)
  }

  test("u2: five prediction groupings are ONE grouping-sets pass over one scan") {
    // the reference unions five grouped SELECTs over the same landing
    // table; the engine must read it once (Expand), not five times
    val p = plan("u2_model_registry")
    val expands = p.linesIterator.count(_.contains("Expand ["))
    assert(expands >= 1, "expected a grouping-sets Expand:\n" + p)
    val orderScans = p.linesIterator
      .count(l => l.contains("FileScan") && l.contains("orders"))
    assert(orderScans == 1,
      s"landing table must be scanned once, saw $orderScans scans:\n" + p)
  }

  test("c4: rank window and stats groupBy share ONE (lang, source) shuffle") {
    // the dataset card's median needs the group's values together once;
    // the window partitioning must be REUSED by the aggregate, not
    // re-shuffled (the doc's one-shuffle claim, now suite-gated)
    val p = plan("c4_dataset_card")
    val dataExchanges = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning") && l.contains("lang"))
    assert(dataExchanges == 1,
      s"expected one (lang, source) shuffle, saw $dataExchanges:\n" + p)
  }

  test("s15: bucketed join has NO Exchange on either side (shuffle paid at write time)") {
    // disable size-based broadcast: at real scale both sides are facts
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("s15_bucketed_join")
      assert(p.contains("SortMergeJoin"), p)
      val exchangesBelowJoin = p.linesIterator
        .count(l => l.contains("Exchange hashpartitioning") &&
          (l.contains("o_orderkey") || l.contains("l_orderkey")))
      assert(exchangesBelowJoin == 0,
        "bucketed sides must not re-shuffle on the join key:\n" + p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("k3: trained IVF probes via broadcast equi-join on the picked list; no cartesian") {
    // the probe side must be a broadcast equi-join on cid (the list
    // id — a partition column at scale), with the only nested-loop
    // joins being the hinted 1-row broadcasts (centroids, query row)
    val p = plan("k3_ann_ivf")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("t15: best_player_counts aggregates STRING_AGG + min/max/flags in ONE partial+final pass") {
    // all eight aggregate functions (two ordered string-aggs as
    // collect_list-of-structs, four conditional min/max, two flag
    // counts) must share a single map-side-combinable aggregate — not
    // one shuffle per aggregate family
    val p = plan("t15_best_player_counts")
    assert(p.contains("partial_collect_list"), p)
    assert(p.contains("partial_min"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t18: incremental features semi-join the watermark set before ONE shared aggregate") {
    // the join-input reduction (games_features.sqlx:8-12, the 4h->8s
    // lever): the watermark set restricts the unioned bridge rows with
    // a LeftSemi BEFORE grouping, and all six entity arrays collapse in
    // a SINGLE game_id-keyed aggregate (one exchange, not one per
    // entity) — the 2-shuffle shape that holds at 100 TB.
    val p = plan("t18_features_incremental")
    assert(p.contains("LeftSemi"), p)
    // all six entity arrays collapse in ONE partial+final aggregate
    // pair (Catalyst pushes the semi through the Union per branch, and
    // AQE's exchange reuse dedups the broadcast build — the collapse
    // into a single collect_list aggregate is the part only the query
    // author controls)
    val aggNodes = "ObjectHashAggregate".r.findAllIn(p).length
    assert(aggNodes <= 2,
      s"expected one partial+final collect_list aggregate pair, got $aggNodes nodes\n$p")
  }

  test("s20: runtime-derived day set reaches the partitioned scan as a dynamic PartitionFilter") {
    // the day dim exists only at runtime; without DPP the fact scan
    // reads every partition and the join filters afterwards — at
    // 100 TB that is a full-table scan for a 10-partition question
    val p = plan("s20_dynamic_pruning")
    assert(p.contains("dynamicpruning"), p)
  }

  test("d11: semantic dedup is broadcast-join + keyed agg — no pair join anywhere") {
    // the O(n) contract: centroids broadcast, one (cid, shell)-keyed
    // aggregate; a SortMergeJoin of the embedding table against itself
    // would mean the quadratic pair path snuck back in
    val p = plan("d11_semantic_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("k9: k-means assignment broadcasts centroids; no unhinted cartesian") {
    // each Lloyd round must broadcast the k centroid rows over the
    // vector scan (map-side argmin) — a CartesianProduct here shuffles
    // the full vector table per round at scale
    val p = plan("k9_kmeans_lloyd")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("a19: profile computes all columns' metrics in ONE scan (Expand pass)") {
    // five exact count-distincts must not become five scans: the plan
    // is one FileScan feeding one Expand before partial aggregation
    val p = plan("a19_data_profile")
    val scans = p.linesIterator
      .count(l => l.contains("FileScan") && l.contains("orders"))
    assert(scans == 1, s"profile must scan orders once, saw $scans:\n" + p)
    assert(p.contains("Expand"), "expected the multi-distinct Expand pass:\n" + p)
  }

  test("j15: interval-overlap join is cell-equi-keyed, never a nested loop") {
    // the overlap theta predicate must ride on the grid-cell equi-join
    // as a post-filter; a CartesianProduct/BNLJ here is O(|A|×|B|)
    val p = plan("j15_interval_overlap")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.linesIterator.exists(l =>
      (l.contains("HashJoin") || l.contains("SortMergeJoin")) &&
        l.contains("[cell")),
      "no join keyed on [cell...] found in plan:\n" + p)
  }

  test("s16: runtime bloom filter prunes the fact side of the shuffled dim join") {
    // At 100 TB the fact side exceeds the app-side threshold naturally
    // and the dim side won't broadcast; here both thresholds are set to
    // what that cluster would see, and the gate asserts Catalyst
    // actually injects bloom_filter_might_contain on the fact scan —
    // the feature that kills ~95% of fact rows before the shuffle.
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val p = plan("s16_runtime_filter")
      assert(p.contains("might_contain"),
        "no runtime bloom filter injected on the fact side:\n" + p)
      assert(p.contains("bloom_filter_agg"),
        "no bloom filter built from the filtered dim keys:\n" + p)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("c5: benchmark shingles broadcast; no shuffle carries text; shingles eval once") {
    val p = plan("c5_decontamination")
    assert(p.contains("BroadcastHashJoin"), p)
    // the corpus text column must never enter an exchange
    val shuffledText = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).exists(_.contains("text#"))
    assert(!shuffledText, "a shuffle carries the text column:\n" + p)
    // explode_outer keeps the shingle expression out of inferred
    // Generate filters — one graft_shingles per row per branch
    val evals = p.linesIterator.count(_.contains("graft_shingles"))
    assert(evals <= 2, s"shingle expression evaluated $evals times (want <=2):\n" + p)
  }

  test("u3: config union is one scan + one shuffle, independent of config size") {
    // one fact scan exploding matched tags — NOT one scan per entry
    val p = plan("u3_config_union")
    val eventScans = p.linesIterator
      .count(l => l.contains("FileScan") && l.contains("events"))
    assert(eventScans == 1,
      s"config union must scan the fact table once, saw $eventScans:\n" + p)
    assert(p.contains("Generate explode"), "expected tag explode:\n" + p)
  }

  test("x3: AQE splits the hot-key fact-fact join at runtime (skew=true)") {
    // the skew split exists only in the EXECUTED adaptive plan, so
    // this gate runs the shape eagerly (runWithConfs) instead of
    // reading plan(name); thresholds scale to the sf0.001 fixture the
    // same way the catalog query scales them to sf0.01+
    import graft.operators.Salt
    val ev = Tables.load(spark, sf, "events")
    val (res, p) = Salt.runWithConfs(spark, Salt.aqeSkewConfs(4096))(
      graft.queries.Relational2.x3SkewShape(ev))
    assert(p.contains("skew=true"), "no skew split in executed plan:\n" + p)
    // and the split is invisible to results: same rows as the plain plan
    val plain = graft.queries.Relational2.x3SkewShape(ev)
    assert(res.orderBy("event_type").collect().toSeq ==
      plain.orderBy("event_type").collect().toSeq)
  }

  test("s21: tombstone anti-join broadcasts the (tiny) delete set; data side never shuffles") {
    import graft.operators.TableStore
    import org.apache.spark.sql.functions.col
    withConf("spark.sql.adaptive.enabled", "true") {
      val tmp = Scratch.dir("plan_dv")
      val path = tmp.resolve("t").toString
      TableStore.overwrite(
        Tables.load(spark, sf, "orders").select("o_orderkey", "o_totalprice"), path)
      TableStore.deleteWhere(spark, path, Seq("o_orderkey"), col("o_orderkey") % 97 === 0)
      val p = TableStore.readLive(spark, path, Seq("o_orderkey"))
        .queryExecution.executedPlan.toString()
      assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
        "tombstone anti-join should be a broadcast hash join:\n" + p)
      // the DATA side feeds the join as a bare scan — the only exchange
      // in the plan is the tombstone side's tiny distinct + broadcast
      assert(p.linesIterator.exists(_.trim.startsWith(":- FileScan parquet [o_orderkey")),
        "the data side must reach the anti-join unshuffled:\n" + p)
    }
  }

  test("s22: the z-value is pure codegen'd column arithmetic — no UDF, no extra shuffle beyond the clustering repartition") {
    import org.apache.spark.sql.functions.col
    val ev = Tables.load(spark, sf, "events").select("event_id", "user_id")
    val stats = ev.agg(
      org.apache.spark.sql.functions.min(col("user_id")).cast("double").as("alo_"),
      org.apache.spark.sql.functions.max(col("user_id")).cast("double").as("ahi_"))
    val z = ev.crossJoin(org.apache.spark.sql.functions.broadcast(stats))
      .withColumn("z_", graft.operators.TableLayout.interleaveBits(
        col("user_id"), col("event_id"), 8))
      .repartitionByRange(4, col("z_"))
    val p = z.queryExecution.executedPlan.toString()
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"),
      "z-value must not be a UDF:\n" + p)
    assert(p.contains("shiftleft") || p.contains("SHIFTLEFT") || p.contains("<<"),
      "expected unrolled bit arithmetic in the plan:\n" + p)
    // exactly one range exchange (the clustering itself) and the
    // 1-row stats broadcast — no hash shuffle sneaks in
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("s24: the snapshot diff is ONE full-outer join + in-place explode — no union of four scans") {
    import graft.operators.TableStore
    import org.apache.spark.sql.functions.col
    val tmp = Scratch.dir("plan_cdc")
    val path = tmp.resolve("t").toString
    val n = Tables.load(spark, sf, "nation").select("n_nationkey", "n_name")
    val v1 = TableStore.publishVersion(spark, path, n)
    val v2 = TableStore.publishVersion(spark, path,
      n.filter(col("n_nationkey") % 5 =!= 0))
    val p = TableStore.changesBetween(spark, path, v1, v2, Seq("n_nationkey"))
      .queryExecution.executedPlan.toString()
    assert(p.contains("FullOuter"), "expected a full-outer join:\n" + p)
    assert(!p.contains("Union"), "diff must not union per-type scans:\n" + p)
    assert(p.linesIterator.count(_.contains("Join")) == 1,
      "exactly one join — each version scanned once:\n" + p)
    assert(p.contains("Generate explode"), "changes explode in place:\n" + p)
  }

  test("d12: chunk-dedup decision is a partial (map-side) min-aggregate keyed by chunk") {
    val p = plan("d12_chunk_dedup")
    assert(p.contains("partial_min") || p.contains("partial_"),
      "keep-key min must combine map-side:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c11: quota selection is one lang-keyed window + a broadcast quota join") {
    // the quota bound is data-derived per group, so WindowGroupLimit
    // (literal-k only) can't pre-limit — the contract is instead: the
    // corpus sort-shuffles ONCE (the window), the per-lang quota table
    // comes back via broadcast, and nothing is cartesian
    val p = plan("c11_temperature_rebalance")
    assert(p.contains("Window"), p)
    assert(p.contains("BroadcastHashJoin"), "quota table must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("i5: min/max IVM rescan is a broadcast semi probe of only the flagged keys") {
    val p = plan("i5_minmax_ivm")
    assert(p.contains("Union"), p)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "the rescan must probe the base via a broadcast semi join on the " +
        "flagged keys, not rescan the whole base:\n" + p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_min") && p.contains("partial_sum"),
      "delta collapse must combine map-side:\n" + p)
  }

  test("i7: top-k IVM rescan is a broadcast semi probe; recompute pushes a partial group limit") {
    val p = plan("i7_topk_ivm")
    assert(p.contains("Union"), p)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "the rescan must probe the base via a broadcast semi join on the " +
        "evicted groups only:\n" + p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("WindowGroupLimit"),
      "rank<=k must push a partial WindowGroupLimit below the shuffle " +
        "(the w2 contract) so even the rescan ships <=k rows per group " +
        "per map task:\n" + p)
  }

  test("t30: char entropy is row-local — no hash Exchange, no explode, no aggregate") {
    // the whole histogram + Σ k·ln(k) lives inside one generated
    // projection (graft_char_entropy); the only exchange allowed is
    // the final sort's range partitioning
    val p = plan("t30_char_entropy")
    assert(!p.contains("Exchange hashpartitioning"),
      "char entropy must not shuffle (doc_id, char) pairs:\n" + p)
    assert(!p.contains("Generate"), "no explode — the histogram is row-local:\n" + p)
    assert(!p.contains("HashAggregate"), "no aggregate — the stats are per-row:\n" + p)
    assert(p.contains("graft_char_entropy"), p)
  }

  test("t29: the vocab probe is a broadcast join — the token stream shuffles once") {
    val p = plan("t29_vocab_coverage")
    assert(p.contains("BroadcastHashJoin"), "50-row vocab must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("g1: pagerank iterations are equi-join + keyed agg; n rides a broadcast, never a cartesian") {
    val p = plan("g1_pagerank")
    // the 1-row corpus-size frame joins via hinted broadcast nested
    // loop (one row, zero data movement); rank propagation itself must
    // be hash-partitioned equi-joins with partial aggregation
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_sum"), "contribution sums must combine map-side:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q14: both conditional revenue sums run in ONE aggregate pass over one joined scan") {
    val p = plan("q14_promo_share")
    assert(!p.contains("Union"), "promo/total must not be separate scans:\n" + p)
    assert(p.contains("partial_"), p)
    assert(p.linesIterator.count(_.contains("FileScan")) <= 2,
      "one lineitem scan + one part scan only:\n" + p)
  }

  test("q21: the exists/not-exists pair resolves to hash semi + anti joins, no nested loops") {
    val p = plan("q21_sole_late_supplier")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "correlated probes must become key-bounded hash joins:\n" + p)
  }

  test("j17: the temporal dimension join is an equi-join on the key, never a range/nested-loop join") {
    // the validity window applies as a post-join filter bounded by
    // versions-per-key — the fact side shuffles once on the key
    val p = plan("j17_temporal_dim_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      "expected a hash/merge equi-join on the dimension key:\n" + p)
  }

  test("c12: the benchmark probe set broadcasts; candidates come from the bucket equi-join") {
    val p = plan("c12_semantic_decontamination")
    assert(p.contains("BroadcastHashJoin"), "probe rows must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("k19: both assignment passes are broadcast-centroid argmins over one scan each") {
    // same contract as k9: the hinted 1-row centroid-array frame rides
    // a broadcast join (nested-loop on the constant key is fine — one
    // row, zero movement); a CartesianProduct would shuffle the corpus
    val p = plan("k19_assignment_drift")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("aqe: post-shuffle partition coalescing engages on a small aggregate") {
    // the other half of AQE's runtime re-planning (x3 gates skew
    // SPLITTING): a shuffle whose output is far smaller than the
    // static partition count must COALESCE its reducers at runtime —
    // at scale this is thousands of empty reducer tasks not launched.
    // Asserted on the EXECUTED plan: AQEShuffleRead only appears once
    // the adaptive plan is final.
    import org.apache.spark.sql.functions.{col, count, lit}
    withConf("spark.sql.adaptive.enabled", "true") {
      val df = Tables.load(spark, sf, "lineitem")
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      df.collect()
      val p = df.queryExecution.executedPlan.toString()
      assert(p.contains("AQEShuffleRead coalesced"),
        "expected runtime-coalesced shuffle read:\n" + p)
    }
  }

  test("k18: power-iteration matvecs broadcast v and combine integer sums map-side") {
    val p = plan("k18_pca_power")
    assert(p.contains("BroadcastHashJoin"), "64-row v must broadcast into the rows scan:\n" + p)
    assert(p.contains("partial_sum"), "matvec sums must combine map-side:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s26: the expectations pass audits every rule in one scan with a broadcast fk probe") {
    val p = plan("s26_write_audit_publish")
    assert(!p.contains("SortMergeJoin"),
      "the orders fk dim must broadcast, not shuffle the batch:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q7: all dimension sides broadcast; the fact shuffles only for lineitem⋈orders") {
    val p = plan("q7_nation_volume")
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 2,
      "supplier+nation and customer+nation assemblies must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q10: top-20 is TakeOrdered over aggregated rows; customer/nation broadcast") {
    val p = plan("q10_returned_items")
    assert(p.contains("TakeOrderedAndProject"),
      "LIMIT 20 must plan TakeOrdered, not a global sort:\n" + p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("PushedFilters"), "returnflag filter must reach the scan:\n" + p)
  }

  test("q13: the priority filter stays inside the LEFT outer join (zero bucket survives)") {
    val p = plan("q13_custdist")
    assert(p.contains("LeftOuter"), "must stay an outer join:\n" + p)
    // two aggregation levels, both partial+final
    assert(p.sliding("partial_count".length).count(_ == "partial_count") >= 1, p)
  }

  test("q17: the per-part average is a semi-pruned aggregate + broadcast rejoin") {
    val p = plan("q17_small_qty_revenue")
    assert(p.contains("LeftSemi"), "brand filter must semi-prune the fact scan:\n" + p)
    assert(p.contains("BroadcastHashJoin"), "the per-part averages must broadcast back:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q19: the disjunctive predicate rides one broadcast part join, no union of scans") {
    val p = plan("q19_disjunctive_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.sliding("Scan parquet".length).count(_ == "Scan parquet") <= 2,
      "one lineitem scan + one part scan — no per-branch scan union:\n" + p)
    assert(p.contains("PushedFilters"), "quantity range union must reach the scan:\n" + p)
  }

  test("q22: dormant-customer probe is a broadcast anti join against distinct custkeys") {
    val p = plan("q22_dormant_customers")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"),
      "the 1-row scalar must broadcast (BroadcastNestedLoopJoin), never a cartesian:\n" + p)
  }

  test("q4: the EXISTS is a hash semi join with the lateness predicate as residual") {
    val p = plan("q4_priority_fulfillment")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("PushedFilters"), "the quarter filter must reach the orders scan:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the correlated EXISTS must not plan a nested loop:\n" + p)
  }

  test("q6: every predicate reaches the parquet scan; 3-column read schema") {
    // the default metadata print truncates PushedFilters at 100 chars,
    // hiding the later range entries — widen it for this assertion
    val key = "spark.sql.maxMetadataStringLength"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "1000")
    try {
      val p = plan("q6_forecast_revenue")
      assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
      assert(p.contains("GreaterThanOrEqual(l_discount,0.05)"), p)
      assert(p.contains("LessThanOrEqual(l_discount,0.07)"), p)
      assert(p.contains("LessThan(l_quantity,24"), p)
      assert(!p.contains("l_orderkey"), "scan must not read unused columns:\n" + p)
    } finally spark.conf.set(key, prev)
  }

  test("q8: market-share numerator and denominator share ONE aggregate pass") {
    val p = plan("q8_market_share")
    assert(!p.contains("Union"), "share must not union two scans:\n" + p)
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 2,
      "supplier-nation tag and region membership must broadcast:\n" + p)
  }

  test("q9: part LIKE filter prunes the broadcast build side, one fact pass") {
    val p = plan("q9_product_profit")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("Contains(p_name,red)") || p.contains("p_name"),
      "the LIKE filter must reach the part scan:\n" + p)
    assert(!p.contains("SortMergeJoin"), "all dims must broadcast:\n" + p)
  }

  test("q2: the per-part argmin is one agg + min-struct pick, dims broadcast") {
    val p = plan("q2_min_cost_supplier")
    assert(p.contains("LeftSemi"), "region membership must semi-prune:\n" + p)
    assert(!p.contains("SortMergeJoin"), "all dims must broadcast:\n" + p)
    assert(!p.contains("Window"), "argmin must be min(struct), not a rank window:\n" + p)
  }

  test("q20: the subquery chain is one semi-pruned fact aggregate, no per-supplier probes") {
    val p = plan("q20_excess_shippers")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_sum"), "quantity agg must combine map-side:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("g3: triangle wedges and closings are equi-joins only — no cartesian anywhere") {
    val p = plan("g3_triangle_count")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop join allowed is the final 1-row×1-row
    // count assembly; wedge generation and the closing probe must be
    // hash equi-joins
    val bnlj = p.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin")
    assert(bnlj <= 1, s"wedge/closing joins must be hash equi-joins ($bnlj BNLJs):\n" + p)
  }

  test("q15: the view max comes back as a broadcast scalar, ties kept") {
    val p = plan("q15_top_supplier")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("TakeOrdered") || !p.contains("Limit"),
      "tie-keeping equality filter, not a LIMIT shortcut:\n" + p)
  }

  test("t31/t32: BPE trains on the bounded vocab locally; the encode pass is shuffle-free") {
    // the trainer's scale contract (KMeans.trainLocal's discipline):
    // ONE distributed word-count aggregate, the merge loop fits on the
    // ≤30-row capped vocabulary at the driver — so the t31 result plan
    // is a local table, and the t32 encode plan applies the merges as
    // expression constants: one corpus scan, zero Exchange except the
    // final presentation sort.
    val pTrain = plan("t31_bpe_train")
    assert(pTrain.contains("LocalTableScan") || pTrain.contains("localtablescan"),
      "trained merges should be a local table:\n" + pTrain)
    val pEnc = plan("t32_bpe_encode")
    val scans = pEnc.linesIterator
      .count(l => l.contains("FileScan") && l.contains("documents"))
    assert(scans == 1, s"encode must scan the corpus once, saw $scans:\n" + pEnc)
    assert(!pEnc.contains("HashAggregate"),
      "encode is row-local — no aggregate anywhere:\n" + pEnc)
    val exchanges = pEnc.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1,
      s"only the final sort may exchange, saw $exchanges:\n" + pEnc)
  }

  test("t33: repetition runs are row-local — one scan, no aggregate, sort-only exchange") {
    val p = plan("t33_repetition_runs")
    assert(!p.contains("HashAggregate"), p)
    assert(p.linesIterator.count(_.contains("Exchange")) <= 1, p)
    assert(p.linesIterator.count(l => l.contains("FileScan") &&
      l.contains("documents")) == 1, p)
  }

  test("c13: probe training is one stats pass + broadcast weights; no per-round corpus scan") {
    // multi-round GD collapsed onto sufficient statistics: the plan
    // may scan documents at most twice (stats pass + scoring pass),
    // regardless of ProbeRounds; trained weights reach the scoring
    // pass as a broadcast.
    val p = plan("c13_quality_classifier")
    val docScans = p.linesIterator
      .count(l => l.contains("FileScan") && l.contains("documents"))
    assert(docScans <= 2,
      s"GD must not rescan the corpus per round, saw $docScans scans:\n" + p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(p.contains("partial_"), "stats must combine map-side:\n" + p)
  }

  test("c12: occupancy-capped LSH — native bucket expr, broadcast probes, no cartesian") {
    val p = plan("c12_semantic_decontamination")
    assert(p.contains("graft_lsh_bucket_n"),
      "bucket width must come from the parameterized native expr:\n" + p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("vector_distance"),
      "exact verify must run the native single-loop cosine:\n" + p)
  }

  test("d15: substring dedup is hash-keyed aggregates + one equi-join — never pairwise") {
    val p = plan("d15_substring_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), "dup-set count must combine map-side:\n" + p)
    // the round-14 one-pass contract: the exploded window relation is
    // tokenized ONCE (it used to be rebuilt three times — the 4.9x
    // curve the sf10 audit flagged), so the text column is read from
    // exactly one documents scan (a second skinny scan feeds the
    // final doc_id left join)
    val textScans = p.linesIterator.count(l => l.contains("FileScan") &&
      l.contains("documents") && l.contains("text"))
    assert(textScans == 1,
      s"window tokenization must run once, saw $textScans text scans:\n" + p)
  }

  test("t34: fertility is the row-local encode + ONE per-language aggregate") {
    val p = plan("t34_tokenizer_fertility")
    assert(p.linesIterator.count(l => l.contains("FileScan") &&
      l.contains("documents")) == 1,
      "the corpus-side encode must scan documents once:\n" + p)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "per-language sums must combine map-side:\n" + p)
  }

  test("c16/c17: mixing policies aggregate the corpus once and iterate on tiny frames") {
    Seq("c16_unimax_allocation", "c17_doremi_weights").foreach { q =>
      val p = plan(q)
      val docScans = p.linesIterator
        .count(l => l.contains("FileScan") && l.contains("documents"))
      assert(docScans == 1,
        s"$q must aggregate the corpus exactly once, saw $docScans scans:\n" + p)
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("s41: DESCRIBE HISTORY reads footer metadata only — no data-file scan in the plan") {
    val p = plan("s41_table_history")
    // the ledger is driver-side markers + parquet footer record
    // counts; a FileSourceScanExec in the history frame would mean a
    // version's data was being read to count it (the O(versions x
    // table) shape this gate exists to forbid)
    assert(!p.contains("FileScan") && !p.contains("FileSourceScan"),
      "history must not scan version data:\n" + p)
    assert(p.contains("LocalTableScan") || p.contains("Scan ExistingRDD"),
      "history should be a local relation:\n" + p)
  }

  test("t40: phrase match prunes the postings scan by term prefix; spec joins broadcast; one anchor aggregate") {
    val p = plan("t40_phrase_query")
    // the postings read lists only the phrase terms' tb= directories
    assert(p.contains("PartitionFilters") && p.contains("tb#"),
      "term-prefix directory pruning must reach the postings scan:\n" + p)
    // the (term, offset) spec rides a broadcast, never a shuffle/BNLJ
    assert(p.contains("BroadcastHashJoin"),
      "phrase spec must broadcast into the postings scan:\n" + p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "phrase matching must not degenerate to a pair join:\n" + p)
    // matching is anchor aggregation, not a per-word self-join chain:
    // exactly one join in the whole plan (the spec broadcast)
    val joins = "Join".r.findAllIn(p).size
    assert(joins <= 2, s"plan depth must not grow with phrase length:\n" + p)
  }
}
