package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.XSql
import graft.functions.XSql.{Spark => SqlSpark}

/** The MinHash-LSH candidate machinery shared by every near-dup
  * operator (d3/d7/d9, c1/c2/c3): signature → band keys → band-bucket
  * self-join → exact-Jaccard verification. One implementation so a
  * banding fix lands everywhere at once (the oracle SQL states the
  * equivalent CTE chain per query — declarative text, checked by the
  * gate against THIS code every round).
  *
  * Scale shape: candidates come from an equi-join on (band_idx,
  * band_key) — never an all-pairs product — carrying doc_ids ONLY;
  * the shingle arrays are re-attached per DISTINCT candidate pair by
  * two equi-joins against the shingle table. Rounds ≤13 rode the
  * arrays through the band join instead (saving those two shuffles);
  * the sf100 audit measured the inversion point of that trade: band
  * buckets saturate as the corpus grows, so collision rows grow
  * super-linearly and every one of them carried ~1.6 KB of arrays —
  * while dedup-before-verify also computes each pair's exact Jaccard
  * ONCE, not once per colliding band (a 0.9-similarity pair collides
  * in nearly all bands). The two shingle-table shuffles
  * this buys back are O(corpus), the term that was already linear.
  */
object Lsh {

  /** Per-bucket occupancy cap for [[verifiedPairsCapped]] — the
    * engineered bound on the pair family's one super-linear term.
    * Uncapped, collision volume is O(Σ occupancy²): band keys
    * SATURATE as a bounded-entropy corpus grows (boilerplate and
    * template text in a real crawl; the 30-word vocabulary in the
    * synthetic audit), so occupancy grows ~linearly with corpus size
    * and the collision join goes quadratic (measured: c3 19.15× wall
    * for 10× data at sf100, r14). Capped, each bucket contributes
    * C(cap,2) all-pairs candidates among its `cap` hash-selected
    * survivors PLUS one HUB-STAR edge per overflow member (overflow ×
    * the bucket's rank-1 hub) — O(buckets·cap² + rows) total, linear
    * in corpus size for a fixed key distribution.
    *
    * The star term is what makes the cap safe on the case a pure cap
    * gets catastrophically wrong: a GIANT near-dup cluster (the same
    * page mirrored 10k times — the first thing a crawl dedup must
    * catch) saturates its own buckets, and a pure cap would orphan
    * every overflow member (zero pairs → kept as its own
    * representative, i.e. dedup silently stops working exactly on
    * duplicates). With the star, every overflow member is verified
    * against the hub, so the cluster stays one component at O(size)
    * cost. Measured on a 2,000-doc degenerate cluster corpus: the
    * component policy drops 1,982 of the 1,994 docs the uncapped
    * policy drops (99.4%); a pure cap dropped < 15%.
    *
    * The cap VALUE is measured, not guessed: on the synthetic corpus
    * at 50k docs (sf1) cap=16 loses zero of 2,311 verified pairs; on
    * a 500k-doc draw of the same distribution it keeps 22,830 of
    * 22,838 (recall 0.99965) while cutting candidates 260k → 39k.
    * True near-dup pairs share MOST minhash rows, not one common
    * pattern, so they concentrate in small informative buckets the
    * cap never touches. LshCapSpec gates the subset/bound/star
    * properties; the sf100 audit records the recall and the wall.
    */
  val BucketCap: Int = 16

  /** Universal-hash multiplier for the cap's deterministic selection
    * (Knuth's 2^32/φ; also g6's twin-sample constant). Pure BIGINT
    * arithmetic so the oracle dialect computes the identical rank.
    */
  val CapSelMult: Long = 2654435761L

  /** Band rows of a `(doc_id, sh)` table: one row per (band_idx,
    * band_key) per doc, shingles carried. Docs with NULL signatures
    * (< 3 words → empty shingle set) drop out here by construction.
    */
  def bands(sh: DataFrame): DataFrame = {
    implicit val dl: XSql.Dialect = SqlSpark
    sh.withColumn("sig", expr(XSql.minhashSig("sh")))
      .select(col("doc_id"), col("sh"), posexplode(expr(XSql.bandKeys("sig"))))
      .withColumnsRenamed(Map("pos" -> "band_idx", "col" -> "band_key"))
  }

  /** [[bands]] rows (doc_id only) ranked within each (band_idx,
    * band_key) bucket by `((doc_id * CapSelMult) % P, doc_id)` —
    * deterministic, membership-order-independent selection (c12's
    * occupancy-cap discipline applied to minhash banding). Shingle
    * arrays are dropped before the rank window so the per-bucket sort
    * moves ~16-byte rows; the window's partition keys ARE the
    * collision join's keys, so the rank rides the exchange the join
    * needs anyway. Per-bucket work is O(occ log occ) — the linear-ish
    * term that replaces the O(occ²) collision blow-up.
    */
  def rankedBands(sh: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("band_idx", "band_key")
      .orderBy((col("doc_id") * lit(CapSelMult)) % lit(XSql.P), col("doc_id"))
    bands(sh).select(col("band_idx"), col("band_key"), col("doc_id"))
      .withColumn("cap_rk", row_number().over(w))
  }

  /** [[rankedBands]] restricted to each bucket's `cap` survivors
    * (LshCapSpec's bound gate; [[verifiedPairsCapped]] additionally
    * star-links the overflow to each bucket's rank-1 hub).
    */
  def cappedBands(sh: DataFrame, cap: Int): DataFrame =
    rankedBands(sh).filter(col("cap_rk") <= cap).drop("cap_rk")

  /** Verified near-dup pairs: distinct (doc_a < doc_b, jacc) with
    * exact Jaccard >= `threshold`, candidates bounded by band
    * collisions. PRECONDITION: `sh` must hold exactly one row per
    * doc_id — the re-attach joins below multiply rows per matching
    * `sh` row, so a duplicated doc_id would silently multiply pairs.
    * Every caller passes a per-doc projection of `documents`.
    * The band self-join moves doc_ids only; candidates deduplicate
    * BEFORE verification (each pair's exact Jaccard runs once,
    * however many bands it collides in), then the shingle arrays
    * re-attach via two equi-joins against `sh` (see class doc for the
    * measured inversion of the ride-through alternative).
    *
    * UNCAPPED: collision volume is the data's — O(Σ occupancy²),
    * quadratic on a saturating corpus. Exact-recall callers (d14's
    * incremental==recompute gate) keep this form; scale-path callers
    * use [[verifiedPairsCapped]].
    */
  def verifiedPairs(sh: DataFrame, threshold: Double): DataFrame =
    verifiedPairsFrom(
      bands(sh).select(col("band_idx"), col("band_key"), col("doc_id")),
      sh, threshold)

  /** [[verifiedPairs]] with the per-bucket occupancy cap + hub star —
    * the engineered O(buckets·cap² + rows) bound on collision volume
    * (see [[BucketCap]] for the measured recall/cost trade and why
    * the star term exists). Candidates per bucket: all pairs among
    * the `cap` hash-selected survivors, plus (hub, member) for every
    * overflow member, hub = the bucket's rank-1 survivor. Output is a
    * SUBSET of the uncapped pairs with identical jacc values: capping
    * can only remove candidate rows — every star edge is a band
    * collision the uncapped join also generates (LshCapSpec gates
    * subset, the occupancy bound, giant-cluster connectivity, and
    * determinism under relayout).
    */
  def verifiedPairsCapped(sh: DataFrame, threshold: Double,
      cap: Int = BucketCap): DataFrame = {
    // ONE window pass generates BOTH candidate classes — no self-join.
    // Within a bucket, sorted by the selection rank, each row's lower-
    // ranked partners are:
    //   rk <= cap: every preceding row (all ranks 1..rk-1, and the
    //     preceding cap-1 frame rows are exactly those) — the
    //     survivor all-pairs class;
    //   rk > cap: the bucket's rank-1 hub only — the hub-star class.
    // So a bounded collect_list frame (<= cap-1 doc_ids/row — per-row
    // state is O(cap), never O(occupancy), so a giant saturated bucket
    // costs its sort and nothing more) plus a running first() for the
    // hub, then one explode, yields the identical candidate set
    //   {(a,b): a.rk < b.rk AND (b.rk <= cap OR a.rk = 1)}
    // that the earlier rank-ordered self-join computed (equality gated
    // by LshCapSpec's window-vs-join test). vs that join form, this
    // drops the second Sort+Window branch AND the band-key SMJ from
    // the plan: under the isolated 4-pass family protocol
    // (OPTIMIZATION_r15.md §1) d3 measured 0.81 -> 0.61 s and c3
    // 2.85 -> 2.56 s. The window's partition keys are the former
    // join's keys, so the exchange count drops 2 -> 1 on the
    // candidate side.
    // NULL band keys: none exist by construction (bandKeys xxhashes
    // non-null signature slices), and the window form RELIES on that —
    // a join discards NULL keys while a window would bucket and pair
    // them, silently diverging from cappedCandSql's join form if
    // band-key generation ever admitted nulls.
    require(cap >= 1, s"verifiedPairsCapped: cap must be >= 1, got $cap " +
      "(cap <= 0 would route every row through the hub branch, and the " +
      "rank-1 row's running first() is itself — a (d,d) self-pair the " +
      "join/oracle form never emits)")
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy("band_idx", "band_key")
      .orderBy((col("doc_id") * lit(CapSelMult)) % lit(XSql.P), col("doc_id"))
    // cap=1 still shapes a valid frame: (-1,-1) clips empty at rank 1,
    // and ranks > 1 take the hub branch, never this list
    val wPrev = wOrd.rowsBetween(-math.max(cap - 1, 1).toLong, -1L)
    val wHub = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cand = bands(sh)
      .select(col("band_idx"), col("band_key"), col("doc_id"))
      .select(col("doc_id").as("db"),
        row_number().over(wOrd).as("rk"),
        collect_list(col("doc_id")).over(wPrev).as("prev"),
        first(col("doc_id")).over(wHub).as("hub"))
      .select(col("db"), explode(when(col("rk") <= cap, col("prev"))
        .otherwise(array(col("hub")))).as("da"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"))
      .distinct()
    verifyCand(cand, sh, threshold)
  }

  /** The occupancy-cap + hub-star CANDIDATE generation as oracle SQL:
    * two CTE definitions (splice after the caller's bands CTE; the
    * last is named `$candName` and yields DISTINCT (doc_a < doc_b))
    * computing exactly what [[verifiedPairsCapped]]'s candidate stage
    * computes — identical BIGINT selection arithmetic, identical
    * total tie-break order, identical star orientation — so the gate
    * covers the cap itself, not just the uncapped chain.
    */
  def cappedCandSql(bandsName: String, bi: String, bk: String,
      candName: String, cap: Int = BucketCap): String =
    s"""rb_ AS (SELECT doc_id, $bi, $bk, row_number() OVER (
       |    PARTITION BY $bi, $bk
       |    ORDER BY (doc_id * $CapSelMult) % ${XSql.P}, doc_id) AS cap_rk_
       |  FROM $bandsName),
       |$candName AS (
       |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
       |         greatest(a.doc_id, b.doc_id) AS doc_b
       |  FROM rb_ a JOIN rb_ b ON a.$bi = b.$bi AND a.$bk = b.$bk
       |   AND a.cap_rk_ < b.cap_rk_
       |  WHERE b.cap_rk_ <= $cap OR a.cap_rk_ = 1)""".stripMargin

  private def verifiedPairsFrom(bs: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame = {
    val cand = bs.select(col("band_idx"), col("band_key"),
        col("doc_id").as("doc_a"))
      .join(bs.select(col("band_idx"), col("band_key"),
        col("doc_id").as("doc_b")), Seq("band_idx", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    verifyCand(cand, sh, threshold)
  }

  /** Exact-Jaccard verification of a DISTINCT (doc_a < doc_b)
    * candidate set: shingle arrays re-attach via two O(corpus)
    * equi-joins, each pair verified once.
    */
  private def verifyCand(cand: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame = {
    implicit val dl: XSql.Dialect = SqlSpark
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
        Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        Seq("doc_b"))
      .withColumn("jacc", expr(XSql.jaccard("sh_a", "sh_b")))
      .filter(col("jacc") >= threshold)
      .select("doc_a", "doc_b", "jacc")
  }

  /** Increment-bounded verified candidates: every (new, other) band
    * collision with exact Jaccard ≥ `threshold`, where `other` ranges
    * over the stored corpus and the OTHER new docs — old × old is
    * never compared, the bound that makes incremental dedup a job
    * instead of a recompute (d9/st7). Inputs are band tables shaped
    * like [[bands]]; `stored` must carry no id overlap with `fresh`.
    * Output keeps the (na, ob, b_old) orientation — one row per
    * collision, NOT yet distinct — so callers choose their policy:
    * canonical pair sets ([[incrementalPairs]]) or per-doc drop
    * verdicts (d9's old/new-prior counts).
    */
  def incrementalCandidates(fresh: DataFrame, stored: DataFrame,
      threshold: Double): DataFrame = {
    implicit val dl: XSql.Dialect = SqlSpark
    val a = fresh.select(col("band_idx"), col("band_key"),
      col("doc_id").as("na"), col("sh").as("sh_a"))
    val bNew = fresh.select(col("band_idx"), col("band_key"),
      col("doc_id").as("ob"), col("sh").as("sh_b"), lit(false).as("b_old"))
    val b = stored.select(col("band_idx"), col("band_key"),
      col("doc_id").as("ob"), col("sh").as("sh_b"), lit(true).as("b_old"))
      .unionByName(bNew)
    a.join(b, Seq("band_idx", "band_key"))
      .filter(col("ob") =!= col("na"))
      .withColumn("jacc", expr(XSql.jaccard("sh_a", "sh_b")))
      .filter(col("jacc") >= threshold)
      .select("na", "ob", "b_old", "jacc")
  }

  /** Incremental verified pairs (st7): [[incrementalCandidates]]
    * restricted to (new × stored in either id order) ∪ (new ×
    * new-with-prior-id), canonicalized to (doc_a < doc_b, jacc) —
    * each pair exactly once.
    */
  def incrementalPairs(fresh: DataFrame, stored: DataFrame,
      threshold: Double): DataFrame =
    incrementalCandidates(fresh, stored, threshold)
      .filter(col("b_old") || col("ob") < col("na"))
      .select(least(col("na"), col("ob")).as("doc_a"),
        greatest(col("na"), col("ob")).as("doc_b"), col("jacc"))
      .distinct()

  /** STORED-side occupancy cap for the incremental family (the batch
    * cap's discipline transferred — r15's named residual 1):
    * [[incrementalCandidates]]'s per-collision term is O(|fresh| ·
    * stored-bucket occupancy), and stored buckets SATURATE as the
    * corpus accretes (same bounded-entropy argument as [[BucketCap]]),
    * so a fresh doc landing in a saturated stored bucket fans out to
    * every member — the one super-linear term left in the incremental
    * path. Ranking the stored band rows per (band_idx, band_key) by
    * the batch cap's deterministic hash rank and keeping each
    * bucket's `cap` survivors bounds the probe at O(cap) stored
    * partners per bucket: O(|fresh|·bands·cap) collisions total.
    *
    * No hub star is needed on a PROBE-side cap (unlike
    * [[verifiedPairsCapped]]): the star exists so capped BATCH dedup
    * keeps a giant cluster connected among its own members, but here
    * the stored overflow members were already deduped against the
    * survivors when THEY were fresh, and detecting "near-dup of ANY
    * stored doc" needs any one surviving representative — the
    * survivors of a bucket saturated by one near-dup cluster are
    * near-dups of each other. Where the cap binds it shrinks d9's
    * reported per-doc dup COUNTS (≤ cap stored partners per bucket)
    * and st7's cross-batch pair SET — sanctioned, mirrored exactly in
    * both callers' oracle SQL via [[cappedStoredSql]], recall-gated
    * at sf1 where it engages (the d3/c3 playbook); at the driver's
    * correctness scales bucket occupancy never exceeds the cap, so
    * results there are bit-identical to the uncapped form.
    *
    * Plan shape (d9 at sf0.01 and sf0.1): the fresh side is small and
    * broadcasts, so the collision join is a broadcast hash join that
    * streams the (capped stored ∪ fresh) union through the fresh
    * bands' hash table and shuffles nothing itself. The cap's only
    * shuffle is the rank window's Exchange on (band_idx, band_key),
    * and a partial WindowGroupLimit before it already drops all but
    * `cap` rows per bucket in each map partition. A fresh side too
    * large to broadcast turns the join into a shuffle join with its
    * own exchanges.
    */
  def cappedStored(stored: DataFrame, cap: Int = BucketCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(cap >= 1, s"cappedStored: cap must be >= 1, got $cap")
    val w = Window.partitionBy("band_idx", "band_key")
      .orderBy((col("doc_id") * lit(CapSelMult)) % lit(XSql.P), col("doc_id"))
    stored.withColumn("cap_rk", row_number().over(w))
      .filter(col("cap_rk") <= cap).drop("cap_rk")
  }

  /** [[incrementalCandidates]] with the stored side capped per
    * [[cappedStored]] — d9's scale-path form. Fresh × fresh stays
    * uncapped: that term is bounded by the increment size, which is
    * the production control knob (a 0.1% daily batch), not by the
    * unbounded accumulated corpus the stored side grows into.
    */
  def incrementalCandidatesCapped(fresh: DataFrame, stored: DataFrame,
      threshold: Double, cap: Int = BucketCap): DataFrame =
    incrementalCandidates(fresh, cappedStored(stored, cap), threshold)

  /** [[incrementalPairs]] with the stored side capped per
    * [[cappedStored]] — st7's scale-path form.
    */
  def incrementalPairsCapped(fresh: DataFrame, stored: DataFrame,
      threshold: Double, cap: Int = BucketCap): DataFrame =
    incrementalPairs(fresh, cappedStored(stored, cap), threshold)

  /** [[cappedStored]] as oracle SQL: a CTE pair ranking `bandsName`
    * rows per ($bi, $bk) bucket — identical BIGINT selection
    * arithmetic, identical total tie-break — yielding `$outName` =
    * each bucket's `cap` survivors, projected to `$cols`. Splice
    * after the caller's stored-bands CTE so the gate covers the cap
    * itself, exactly as [[cappedCandSql]] does for the batch family.
    */
  def cappedStoredSql(bandsName: String, bi: String, bk: String,
      outName: String, cols: String, cap: Int = BucketCap): String =
    s"""${outName}_rb AS (SELECT $cols, row_number() OVER (
       |    PARTITION BY $bi, $bk
       |    ORDER BY (doc_id * $CapSelMult) % ${XSql.P}, doc_id) AS cap_rk_
       |  FROM $bandsName),
       |$outName AS (SELECT $cols FROM ${outName}_rb WHERE cap_rk_ <= $cap)""".stripMargin
}
