package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Regenerates PLANS.md: formatted physical plans of the flagship
  * queries with the scale property each one is expected to show.
  * Usage: tools/run.sh graft.Plans [sfDir]
  */
object Plans {

  private val Flagships: Seq[(String, String)] = Seq(
    "s3_scan_project" ->
      "Pushdown: filters + projection must reach the parquet scan (PushedFilters / pruned ReadSchema).",
    "q1_pricing_summary" ->
      "Partial aggregation: map-side combine before one shuffle; decimal-exact money sums.",
    "j3_snowflake" ->
      "Dimension joins broadcast — the fact side never shuffles.",
    "o1_global_topn" ->
      "Global top-N plans TakeOrderedAndProject, not a full sort.",
    "w3_dedup_maxstruct" ->
      "Dedup-to-latest as max(struct): no Window operator, map-side combinable.",
    "w2_topk_per_group" ->
      "Rank<=k pushes a Partial WindowGroupLimit below the shuffle (why no custom top-k operator is needed).",
    "j5b_band_join_auto" ->
      "Naive band theta join rewritten by BandJoinRewrite: Generate + bucket equi-join, no BroadcastNestedLoopJoin.",
    "k4_knn_native_expr" ->
      "Brute-force kNN: broadcast query row + codegen'd vector_distance inside one scan stage.",
    "d3_lsh_near_dup" ->
      "MinHash-LSH: occupancy-capped + hub-star candidates from ONE rank-ordered self-join on band keys (the rank window rides the join's own exchange — one data-sized shuffle); exact Jaccard only on candidates.",
    "c1_corpus_pipeline" ->
      "The composed corpus clean: narrow maps + LSH-bounded near-dup removal, one dataflow.",
    "j13_asof_join" ->
      "As-of join as union-merge: ONE shuffle+sort per key, last(ignoreNulls) carry-forward — no theta join, no per-row probe.",
    "k6_quantized_knn" ->
      "Quantized retrieval: int8 candidate ranking (integer dots, 4x smaller vectors) + exact rerank of top-20 only.",
    "t8_bm25" ->
      "BM25: per-doc tf narrow map, 1-row corpus stats broadcast back, TakeOrderedAndProject top-k — no posting-list join for a known query.",
    "p11_pivot" ->
      "Pivot as conditional aggregation: ONE partial+final agg (Dataset.pivot would plan a second pivotfirst shuffle).",
    "d8_fuzzy_blocked" ->
      "Blocked fuzzy match: equi-join on (source, length-bucket), constant per-pair prefix levenshtein — never a cartesian.",
    "k8_hybrid_rrf" ->
      "Hybrid retrieval: each tier TakeOrdered to top-N, rank windows see only N rows, fusion join is N x N regardless of corpus size.",
    "e1_funnel" ->
      "Funnel: each step's events key-bounded by the previous step's survivors; the three 1-row counts combine via hinted broadcast crossJoins.",
    "u2_model_registry" ->
      "Registry union: five per-type groupings fused into ONE grouping-sets pass (one scan + one shuffle of the landing table, grouping_id decoded back to rows).",
    "u3_config_union" ->
      "Config-driven union: matched tags explode from ONE fact scan — scan/shuffle count independent of the config size.",
    "c5_decontamination" ->
      "Decontamination: benchmark shingle set broadcasts; the corpus streams through one explode + hash equi-join — no shuffle carries text.",
    "s15_bucketed_join" ->
      "Bucketed co-located join: both sides bucketBy the key at write time; the SortMergeJoin re-shuffles NEITHER side (bucketed scans report the partitioning).",
    "s16_runtime_filter" ->
      "Runtime bloom-filter pruning: InjectRuntimeFilter builds a bloom from the filtered dim keys and pushes might_contain into the fact scan (printed under fact-scale thresholds: broadcast off, app-side threshold 0).",
    "j15_interval_overlap" ->
      "Interval-overlap join: both interval sets explode to covered 6-h grid cells, equi-join on cell + exact predicate re-check + pair dedup — never a nested loop.",
    "k9_kmeans_lloyd" ->
      "Lloyd k-means round: k centroid rows broadcast over the vector scan (map-side argmin), then one (cid, dim)-keyed partial aggregate for the mean update.",
    "a19_data_profile" ->
      "Column profiling: five exact count-distincts in ONE scan — a single Expand pass feeds partial aggregation; no per-column re-scan.",
    "k3_ann_ivf" ->
      "Trained IVF: Lloyd centroids (KMeans.train) broadcast for list assignment; the probe is a broadcast equi-join on the picked list id — at scale cid is a partition column, so the probe reads 1 list.",
    "t15_best_player_counts" ->
      "best_player_counts: dual rank windows over one game_id partitioning; STRING_AGG ORDER BY + conditional min/max + flag counts fused into ONE partial+final aggregate (map-side combinable collect_list of (rank, value) structs).",
    "t18_features_incremental" ->
      "Incremental games_features: the watermark set LeftSemi-joins into EVERY per-entity aggregate BEFORE grouping (join-input reduction — the reference's 4h->8s lever, docs/dataform_operations.md:15).",
    "k11_pq_ann" ->
      "Product quantization: 4 trained sub-codebooks; ADC ranks via a broadcast 4x4 distance table (4 lookups + 3 adds per vector — the codes scan is 32x smaller than the vectors); exact rerank of top-20 only.",
    "q18_large_orders" ->
      "TPC-H Q18: the HAVING-filtered heavy-order key set is tiny and broadcasts into the fact probes — no full fact-fact shuffle survives the reduction.",
    "k12_ivf_pq" ->
      "IVF+PQ composed index: coarse lists bound WHICH vectors rank (broadcast pick join), residual PQ codes bound HOW MUCH is read (broadcast per-list ADC tables); exact rerank touches 20 vectors.",
    "d11_semantic_dedup" ->
      "Semantic dedup, O(n): trained clusters broadcast, dedup by (cluster, quantized centroid-distance shell) keyed aggregate — no pair join anywhere in the plan.",
    "k13_batch_ann" ->
      "Batch ANN: a whole query set retrieves in ONE bucket equi-join (query side explodes to multi-probe buckets); top-3 per query via a rank window with WindowGroupLimit below the shuffle.",
    "k14_live_similarity" ->
      "Serving live similarity across the metric allow-list: each metric is a broadcast 1-row query + codegen'd vector_distance + TakeOrdered top-10; the union is of three 10-row results, never of scans.",
    "x3_aqe_skew_join" ->
      "AQE runtime skew-join: the hot-shard fact-fact SortMergeJoin split at runtime — skew=true appears only in the FINAL adaptive plan, so this entry prints the EXECUTED plan (explain-before-run cannot show it; PlanSpec asserts it).",
    "s24_snapshot_changes" ->
      "Snapshot CDC diff: ONE key-partitioned full-outer join between the two versions; change detection is a single null-aware xxhash64, and each row explodes into its 0/1/2 change rows in place — no union of per-type scans.",
    "i3_cdc_apply" ->
      "Incremental view maintenance: signed changelog deltas collapse in one map-side-combinable aggregate, then ONE key join against the materialized view — O(changes ∪ touched groups), the base table is never re-read.",
    "d12_chunk_dedup" ->
      "Passage-level exact dedup: narrow chunk explode, the keep decision is one partial_min aggregate keyed by chunk, doc rebuild is one groupBy — linear where suffix-array substring dedup costs a global sort.",
    "k17_filtered_ann" ->
      "Filtered ANN: the metadata predicate semi-joins candidates out BEFORE any distance compute (partition pruning at scale); the IVF tier intersects its 2 probed lists with the same filter — no post-filter under-fill.",
    "c10_dsir_selection" ->
      "DSIR selection: two 64-row hashed-bucket histograms + a 1-row total broadcast back over one (doc, bucket) aggregate — the whole target-affinity scoring is a single pass over the corpus.",
    "g1_pagerank" ->
      "Fixed-point PageRank: each round is ONE equi-join (ranks x degree-carrying edges) + ONE partial_sum keyed aggregate; corpus size rides a broadcast 1-row frame; integer ranks make every sum order-invariant.",
    "c11_temperature_rebalance" ->
      "Temperature rebalancing: per-lang quotas from integer fixed-point weights (1-row broadcast normalizer); selection is one lang-keyed window (O(1) running rank, no heap) + a broadcast quota join.",
    "t29_vocab_coverage" ->
      "Vocab coverage: top-K vocab from one keyed count; the corpus probes it through a BROADCAST left join — the token stream shuffles once, K bounds the probe side at any corpus size.",
    "s26_write_audit_publish" ->
      "Write-audit-publish: every expectation verdict computed in ONE narrow pass (codegen'd CASE arms), fk rule rides a broadcast dim join; clean rows publish as an atomic snapshot, violations quarantine with reasons.",
    "k18_pca_power" ->
      "Integer power iteration: each round is two keyed matvec passes (row-dot then dim-sum, both partial_sum map-side combinable); the 64-row v and 1-row max broadcast; XᵀX is never materialized.",
    "a22_grouped_ols" ->
      "Grouped OLS: the entire model is one keyed aggregate of integer sufficient statistics (map-side combinable, order-invariant); floats only in the final per-group projection.",
    "e6_gap_fill" ->
      "Calendar-spine gap fill: the spine generates from two broadcast aggregates (|days| x |types| rows at any event volume); the fact side collapses to its daily aggregate BEFORE the spine join.",
    "j17_temporal_dim_join" ->
      "Temporal dimension join: point-in-time enrichment against SCD2 history runs as an EQUI-join on the key (the validity window is a post-join filter bounded by versions-per-key) — never a range/nested-loop join.",
    "c12_semantic_decontamination" ->
      "Semantic decontamination: the benchmark's multi-probe rows broadcast (an eval suite is tiny by nature); the training corpus scans ONCE and candidates come from the OCCUPANCY-CAPPED bucket equi-join (LSH width grows log with the corpus — measured 1.6x wall at 10x co-scaled data, was 13x fixed-width); the native single-loop cosine verifies.",
    "k19_assignment_drift" ->
      "Assignment drift: two broadcast-centroid argmin passes over one scan each + one tiny contingency aggregate — the retrain-policy measurement is O(n) with no pair joins.",
    "q21_sole_late_supplier" ->
      "TPC-H Q21 shape: the EXISTS/NOT-EXISTS pair resolves to key-bounded hash semi + anti joins on l_orderkey — one partitioning reused across base and both probes, never a per-row re-scan.",
    "q7_nation_volume" ->
      "TPC-H Q7 shape: supplier/customer/nation all broadcast with the pair filter applied BEFORE the fact join; the only fact shuffle is lineitem⋈orders on the order key.",
    "q13_custdist" ->
      "TPC-H Q13 shape: the priority filter lives in the LEFT outer join condition (zero bucket survives); the histogram re-aggregate shuffles only customer-cardinality rows.",
    "q17_small_qty_revenue" ->
      "TPC-H Q17 shape: the correlated per-part average rewrites to one semi-pruned aggregate + broadcast rejoin on l_partkey — never a per-row re-scan of the fact.",
    "q22_dormant_customers" ->
      "TPC-H Q22 shape: broadcast global-scalar balance threshold + anti join against distinct order custkeys — the probe build is customer-bounded, not order-bounded.",
    "q6_forecast_revenue" ->
      "TPC-H Q6 shape: the pure-pushdown scan — all three range predicates in PushedFilters, 3-column ReadSchema, one map-side-combinable decimal sum; at scale this is row-group skipping, not compute.",
    "q8_market_share" ->
      "TPC-H Q8 shape: national market share as CASE-arm numerator + total denominator in ONE aggregate pass over a 5-way join whose dims all broadcast — never a self-join of per-year totals.",
    "q15_top_supplier" ->
      "TPC-H Q15 shape: the revenue view aggregates once, its max broadcasts back as a scalar, and the tie-keeping equality filter replaces the LIMIT-1 shortcut that would drop tied winners.",
    "q2_min_cost_supplier" ->
      "TPC-H Q2 shape: the correlated min-cost subquery as ONE (part,supplier) aggregate + min-struct argmin with deterministic tiebreak — no rank window, no per-part re-probe, dims broadcast.",
    "t30_char_entropy" ->
      "Row-local char entropy: histogram + Σ k·ln(k) inside ONE codegen'd projection (graft_char_entropy) — no Generate, no HashAggregate, no Exchange before the final sort.",
    "i5_minmax_ivm" ->
      "MIN/MAX IVM: signed deltas fold count/sum; deleted-extremum groups rescan via a broadcast null-safe semi probe of ONLY those keys — O(changes ∪ touched ∪ rescanned-group rows), never O(base).",
    "t32_bpe_encode" ->
      "BPE encode: trained merges applied as expression constants in ONE narrow projection per doc (per-word replace chain in a higher-order fold) — one corpus scan, no aggregate, no Exchange before the presentation sort.",
    "c13_quality_classifier" ->
      "Classifier training as sufficient statistics: ONE map-side-combinable integer stats pass, GD rounds as chained 1-row projections, trained weights broadcast into the single scoring scan — the corpus is read twice regardless of rounds.",
    "s29_partition_evolution" ->
      "Partition-spec evolution: one pruned leg PER SPEC — load_date directory pruning on the day leg, covering-month pruning + residual day predicate on the month leg — stitched by union; history is never rewritten.",
    "d14_incremental_components" ->
      "Incremental connected components: delta edges contract through base labels (keyed joins), the solve runs on the O(|delta|) contracted graph only, one keyed left join relabels — the base graph is never re-propagated.",
    "t33_repetition_runs" ->
      "Repetition runs: adjacency flags + packed-accumulator fold inside ONE projection — no Generate, no aggregate, no Exchange before the presentation sort; a free rider on any corpus scan.",
    "d15_substring_dedup" ->
      "ExactSubstr dedup: rolling 8-word window hashes explode once, the cross-doc dup set is one hash-keyed aggregate, and ONE equi-join back scores documents — linear, no pairwise comparison anywhere.",
    "t34_tokenizer_fertility" ->
      "Tokenizer fertility: t32's row-local encode feeds ONE map-side-combinable per-language aggregate — integer sums end to end, a free rider on the encode pass.",
    "c16_unimax_allocation" ->
      "UniMax allocation: the waterfilling threshold falls out of one window pass over language-cardinality rows after ONE map-side-combinable count — the 100 TB corpus contributes one aggregate, the policy costs nothing.",
    "c17_doremi_weights" ->
      "DoReMi reweighting: one integer stats aggregate over the corpus, then 3 multiplicative-weight rounds on domain-cardinality rows with 1-row broadcast mixture/normalizer aggregates — exact fixed-point, no float drift.",
    "s29b_partition_spec_history" ->
      "Partition-spec HISTORY: one pruned leg per spec-log entry (re-evolution legal — two distinct day specs), stitched by union; evolution is a metadata append, history is never rewritten.",
    "i7_topk_ivm" ->
      "TOP-K IVM: inserts fold as pure array expressions; a delete hitting the stored top-k rescans ONLY its group via a broadcast semi probe; the rescan's rank<=k pushes a partial WindowGroupLimit — O(changes ∪ evicted-group rows), never O(base).",
    "t35_quality_gate" ->
      "Quality rule bundle: six integer-exact rules + reason bitmask inside ONE row-local projection — zero exchange before the presentation sort; a free rider on the ingest scan.",
    "j15b_time_band_auto" ->
      "Timestamp band join rewritten by BandJoinRewrite's interval extension: Generate + unix_micros time-bucket equi-join, residual BETWEEN re-check — no BroadcastNestedLoopJoin at any width.",
    "k20_published_index" ->
      "Published-index ANN serving: centroids + posting lists READ from versioned tables (no training aggregate anywhere in the plan); the 16-query batch probes via one broadcast (qid, cid) equi-join — at scale 2 partition reads per query.",
    "k21_retrain_policy" ->
      "Retrain decision: the k19 contingency collapses to one bounded driver scalar that SELECTS the plan — only the chosen path's broadcast-argmin + 2-probe query appears; the monitor costs two argmin passes, the rebuild is paid only when tripped.",
    "s31_mv_rewrite" ->
      "MV routing: the base-table aggregate's optimized plan scans ONLY the |groups|-row view (MvRewrite rollup + filter pushdown); the base relation does not appear — a table scan became a view lookup.",
    "s33_join_mv_rewrite" ->
      "Join-MV routing: the two-table equi-join plans as ONE scan of the denormalized view (side filter hoisted above it) — no join operator, no exchange, neither base relation in the plan.",
    "t37_inverted_index" ->
      "Inverted-index serving: the conjunctive query's scan carries a PartitionFilters entry on the term-prefix column — only the query terms' directories are listed; the intersection is one keyed count, O(Σ query-term postings), never O(corpus).",
    "j18_point_in_range" ->
      "Point-in-variable-interval join: density-capped band half-width (range × 500 / n) keeps expected matches per customer constant at any corpus size; intervals explode to ≤3 grid cells, points map to ONE — an equi-join on the cell, no nested loop, no dedup pass.",
    "st21_stream_backfill" ->
      "Streaming + backfill reconciliation: the correction is ONE signed preimage/postimage fold delta onto the stream-maintained chain — O(affected rows); the read folds anchor ⊎ deltas, no replay, no rewrite.",
    "i10_bm25_ivm" ->
      "Incremental BM25: global ranking stats fold as ONE-ROW signed deltas per tick (each tick aggregates only its batch); the serving read sums a KB-sized chain and broadcasts it into the folded tf rows — t8's scoring plan with the corpus rescan deleted.",
    "k24_published_pq" ->
      "PQ serving from published artifacts: the ADC scan touches only the stored codes table (~64× smaller than vectors) against a broadcast 1-row distance table; full vectors are read for the top-50 rerank rows alone — no training, no re-encode anywhere in the plan.",
    "m11_phash_near_dup" ->
      "Median-balanced perceptual hash: one codec pass emits per-image sample arrays, thresholds broadcast as one 64-array, the hash is a native fold; candidates block on (16-bit band, geometry) — balanced bits keep buckets sparse where own-mean aHash was measured 4× denser.",
    "s38_jsonl_ingest" ->
      "Declared-schema JSONL ingest: parse, drift null-fill, quarantine verdict and per-language stats in ONE splittable line scan — a map-side-combinable aggregate over the FileScan json, no inference pass, no second read.",
    "c21_pseudonym_vault" ->
      "Pseudonymized serving read: the O(subjects) vault BROADCASTS into the tokenized fact scan (re-identification is a map-side left join); forgetting deleted a vault row, so no plan over the fact table ever changes.",
    "t40_phrase_query" ->
      "Phrase search from positional postings: the (term, offset) spec BROADCASTS into the term-prefix-pruned postings scan and matching is ONE anchor aggregate — no per-word self-join chain, plan depth independent of phrase length, cost O(Σ phrase-term postings).",
    "t28_lm_quality_score" ->
      "Self-trained bigram-LM quality score: the model pass pre-aggregates bigrams INSIDE each row (graft_bigram_counts — distinct entries leave the projection, not per-position rows) and the scoring pass is ONE narrow generated projection with the trained model embedded (BigramLmScore), zero Exchange before the final sort — the row-local rewrite that took the 10x docs ratio from 8.56x to 1.62x.",
    "t12b_packing_distributed" ->
      "Distributed prefix scan: the per-language running sum computes as balanced range SLICES (window keyed by slice, never by whole language) + a slices-x-langs offset aggregate broadcast back — the skewed-language single-task ceiling of a plain PARTITION BY window is gone.",
    "c22_weighted_sample" ->
      "Efraimidis-Spirakis weighted sample: one scan computes ln(u)/w per row and TakeOrderedAndProject keeps a bounded per-partition heap — k rows per partition reach the merge, no global sort at any corpus size.",
    "s47_snapshot_source" ->
      "graft-table source: the scan's Location is the custom SnapshotFileIndex — snapshot options resolved through the store's committed markers, and the query's own pushed-down data filters pruned the file listing inside listFiles (min/max skipping stats) BEFORE the scan existed; everything below the listing is Spark's native vectorized parquet path.",
    "c23_domain_cap" ->
      "Per-domain token budget: the running sum computes through the PrefixSum two-pass scan (balanced range slices + broadcast offsets — a mega-domain never serializes onto one task) with the (quality DESC, doc_id) order folded into one monotone key; the budget is a broadcast 1-row scalar.",
    "t44_epoch_shuffle" ->
      "Seeded multi-epoch shuffle: the (seed, epoch) hash key is a narrow projection and the top-5-per-epoch probe plans Partial WindowGroupLimit below the shuffle — per-partition rank pruning, never a full per-epoch sort of the corpus.")

  /** Flagships whose scale story exists only in the executed adaptive
    * plan — printed via their own runner instead of the catalog entry
    * (whose returned frame is already materialized).
    */
  private val ExecutedPlans: Map[String, (SparkSession, String) => String] = Map(
    "x3_aqe_skew_join" -> ((s, sfDir) => {
      val (_, p) = graft.operators.Salt.runWithConfs(s,
        graft.operators.Salt.aqeSkewConfs(4096))(
        graft.queries.Relational2.x3SkewShape(Tables.load(s, sfDir, "events")))
      p
    }))

  /** Session confs a flagship needs for its scale story to print at
    * sf0.001 (restored after each plan).
    */
  private val PlanConfs: Map[String, Seq[(String, String)]] = Map(
    "s15_bucketed_join" -> Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
    "s16_runtime_filter" -> Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local(4)
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the flagship queries\n\n")
    sb.append("Generated by `tools/run.sh graft.Plans` (sf0.001 inputs; plan\n")
    sb.append("shapes are scale-independent). The property stated above each\n")
    sb.append("plan is asserted in PlanSpec/BandJoinRewriteSpec so regressions\n")
    sb.append("fail the suite, not a cluster.\n")
    Flagships.foreach { case (name, note) =>
      // some flagships' scale stories need confs that differ from the
      // sf0.001 defaults (e.g. broadcast off so the fact-to-fact shape
      // prints); set per-name, restore after the plan
      val confs = PlanConfs.getOrElse(name, Nil)
      val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val planStr = ExecutedPlans.get(name) match {
          case Some(run) => run(spark, sfDir)
          case None =>
            SparkEntry.queries(name)(spark, sfDir)
              .queryExecution.executedPlan.toString()
        }
        sb.append(s"\n## $name\n\n$note\n\n```\n")
        sb.append(planStr.take(4000))
        sb.append("\n```\n")
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
    Files.writeString(Paths.get("/root/repo/PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${Flagships.size} plans)")
    spark.stop()
  }
}
