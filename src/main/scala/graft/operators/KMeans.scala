package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.XSql.{Spark => SqlSpark}

/** Distributed Lloyd's k-means over `(vec_id: bigint, v: array<double>)`
  * — the training loop that produces the coarse centroids the IVF tier
  * (k3/k7) probes, factored out of the k9 query so the production and
  * gate-parity paths share every step except the mean.
  *
  * Scale shape (the 100 TB contract):
  *   - `assign`: ONE broadcast of the cid-sorted centroid ARRAY over
  *     the vector scan; the argmin is a per-row `array_min` fold — no
  *     k-way row expansion and NO exchange (the assignment column is
  *     computed where the vector lives). No driver loop inspects
  *     data; ties break to the smaller cid (bit-pinned fold distance,
  *     same lexicographic (d2, cid) order as the DuckDB oracle's
  *     row_number).
  *   - `meanUpdate` (PRODUCTION): one sum column per dimension + a
  *     count in a single groupBy(cid) — plain combinable partials, so
  *     the shuffle after map-side combine is k rows of dims+1 doubles
  *     per task regardless of input size, and the input rows are never
  *     exploded by the dimensionality. Float sums are order-dependent
  *     in the low bits, which k-means itself never needs (the means
  *     only feed the next argmin).
  *   - `meanUpdateSorted` (GATE PARITY): per-(cid, dim) sorted left-fold
  *     — bit-identical to the oracle's list_sort+list_reduce, at the
  *     cost of holding one cluster-dimension's values in a collect_list.
  *     Correctness-gate only; [[KMeansSpec]] proves both paths converge
  *     to the same assignment.
  *   - `train`: FIXED round count; centroids (k rows) are eagerly
  *     localCheckpoint'ed each round so the plan stays round-bounded
  *     instead of doubling (the CC lesson, ConnectedComponents.scala).
  *
  * Reference anchor: the reference trains its embedding/clustering
  * models outside the warehouse (src/warehouse/readers/games.py serves
  * precomputed neighbors); this operator is the in-engine equivalent of
  * that index-build step.
  */
object KMeans {

  /** Deterministic init: the k smallest vec_ids (no RNG — determinism
    * across engines and rounds matters more than seeding quality; a
    * production swap is k-means|| which is also expressible as a fixed
    * number of assign-like passes).
    */
  def init(e: DataFrame, k: Int): DataFrame =
    e.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("cid"), col("v").as("cv"))

  /** The fixed pick schedule of the farthest-point init: pass j adds
    * min(|chosen|, k - |chosen|) points, so the chosen set doubles
    * until it reaches k — ⌈log₂ k⌉ passes instead of k-1 (3 passes
    * for k=8). Shared by the Spark init and the oracle CTE generator.
    */
  def initSchedule(k: Int): Seq[Int] = {
    var s = 1
    val b = Seq.newBuilder[Int]
    while (s < k) { val m = math.min(s, k - s); b += m; s += m }
    b.result()
  }

  /** Deterministic k-means||-style seeding as a FIXED number of
    * assign-like passes (batched farthest-point traversal): start from
    * the smallest vec_id, then each pass adds the [[initSchedule]]
    * batch of points with the LARGEST min-distance² to the chosen set
    * (ties to the smaller vec_id — a duplicate of a chosen point can
    * be re-chosen only when every remaining min-distance is 0, in
    * which case the twin empties out in the first mean update). This
    * is the derandomized form of k-means++/|| — top-m argmax instead
    * of d²-weighted oversampling — so it keeps cross-engine
    * determinism while seeding from the data's extremes instead of
    * its id order (min-id init collapses all seeds into whatever
    * region the low ids happen to occupy, and Lloyd from such a seed
    * wastes its rounds migrating centroids out).
    *
    * Single-group convenience wrapper over [[initFarthestMulti]].
    */
  def initFarthest(e: DataFrame, k: Int): DataFrame =
    initFarthestMulti(e.withColumn("grp", lit(0)), k).drop("grp")

  /** Grouped farthest-point seeding over `(grp, vec_id, v)`: every
    * group advances one [[initSchedule]] batch per PASS, so seeding G
    * independent trainings (the PQ subquantizers) costs the same
    * ⌈log₂ k⌉ jobs as seeding one — G scans become one scan.
    *
    * Scale shape: each pass is ONE broadcast of the ≤ G·k chosen rows
    * over the vector scan + a map-side-combinable min per (grp,
    * vec_id) + a per-group top-m rank; no driver loop inspects data
    * values. The rank window sorts candidates within each group —
    * exact farthest-point; a production trade at extreme scale is
    * d²-weighted SAMPLING per pass (true k-means||), which drops the
    * sort at the cost of determinism.
    */
  def initFarthestMulti(e: DataFrame, k: Int): DataFrame = {
    import graft.functions.XSql
    import org.apache.spark.sql.expressions.Window
    // seed = the min-id ROW per group in one aggregation: min over
    // (vec_id, v) structs compares vec_id first (unique), so the
    // vector rides along and no join-back scan is needed
    var chosen = e.groupBy("grp")
      .agg(min(struct(col("vec_id"), col("v"))).as("m_"))
      .select(col("grp"), col("m_.vec_id").as("cid"), col("m_.v").as("cv"))
      .localCheckpoint(true)
    initSchedule(k).foreach { m =>
      // min-distance² to the chosen set as a PER-ROW fold over the
      // broadcast chosen array (array_min == the former groupBy min,
      // same bits per element) — no k-way expansion, no exchange
      val mind = e.join(broadcast(centsArr(chosen)), "grp")
        .withColumn("mind2",
          expr(s"array_min(transform(carr_, c_ -> ${
            XSql.dist2("v", "c_.cv")(SqlSpark)}))"))
        .select("grp", "vec_id", "mind2")
      val w = Window.partitionBy("grp").orderBy(col("mind2").desc, col("vec_id"))
      val picks = mind.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= m).select("grp", "vec_id")
      val far = e.join(broadcast(picks), Seq("grp", "vec_id"))
        .select(col("grp"), col("vec_id").as("cid"), col("v").as("cv"))
      // ≤ G·k rows: eager checkpoint keeps each pass's plan flat
      chosen = chosen.unionByName(far).localCheckpoint(true)
    }
    chosen
  }

  /** One row per grp: the group's centroids as a cid-sorted
    * `array<struct<cid, cv>>` — the broadcast shape the expression-form
    * assignment folds over. G·k rows collapse to G array rows.
    */
  private def centsArr(cents: DataFrame): DataFrame =
    cents.groupBy("grp")
      .agg(sort_array(collect_list(struct(col("cid"), col("cv")))).as("carr_"))

  /** Nearest-centroid struct over the broadcast `carr_` column:
    * `array_min` of per-centroid `(d2, cid)` structs — the SAME
    * lexicographic (d2, then cid) ordering as the former
    * `min(struct(d2, cid))` aggregate, with the same bit-pinned
    * left-fold d2, so assignments are unchanged; but it is a PER-ROW
    * expression, so assignment costs ZERO shuffle instead of a k-way
    * row expansion + groupBy(vec_id) exchange per pass/round.
    */
  private def nearestExpr: String =
    // vector_distance EUCLIDEAN_SQ is XSql.dist2's left fold as a
    // compiled loop (bit-identical by construction — same IEEE op
    // sequence), so the argmin keeps oracle parity while the per-row
    // cost drops from nested interpreted lambda folds to one native
    // loop per centroid
    s"array_min(transform(carr_, c_ -> named_struct(" +
      s"'d2', vector_distance(v, c_.cv, 'EUCLIDEAN_SQ'), 'cid', c_.cid)))"

  /** Append the nearest-centroid id to `df` (needs `grp` and `v`) as
    * `cid`: one broadcast hash join of G array rows, then the per-row
    * [[nearestExpr]] argmin — no shuffle of the data side, and no
    * join-back when the caller needs the vectors WITH their cluster
    * (the shape every consumer — mean update, IVF lists, PQ codes,
    * dedup shells — actually wants).
    */
  def withAssignMulti(df: DataFrame, cents: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.join(broadcast(centsArr(cents)), "grp")
      .withColumn("cid", expr(nearestExpr).getField("cid"))
      .drop("carr_")
  }

  /** Single-group [[withAssignMulti]]: append `cid` to `df` (needs
    * `v`) for centroids `(cid, cv)`.
    */
  def withAssign(df: DataFrame, cents: DataFrame): DataFrame =
    withAssignMulti(df.withColumn("grp", lit(0)),
      cents.withColumn("grp", lit(0))).drop("grp")

  /** (vec_id, cid): nearest centroid per vector — per-row argmin over
    * the broadcast centroid array ([[withAssign]]); no shuffle.
    */
  def assign(e: DataFrame, cents: DataFrame): DataFrame =
    withAssign(e, cents).select("vec_id", "cid")

  private def regroup(dimavg: DataFrame): DataFrame =
    dimavg.groupBy("cid")
      .agg(expr("transform(array_sort(collect_list(struct(i, m))), s_ -> s_.m)")
        .as("cv"))

  private def flat(e: DataFrame, a: DataFrame): DataFrame =
    e.join(a, "vec_id").select(col("cid"), posexplode(col("v")))
      .withColumnsRenamed(Map("pos" -> "i", "col" -> "val"))

  /** Production mean update: one `sum(v[i])` column per dimension +
    * one count, all in a single groupBy(cid) — map-side combinable
    * partials, so the shuffle carries k rows of dims+1 doubles, and
    * the input is never exploded to rows × dims (the flat/posexplode
    * shape multiplies shuffle volume by the dimensionality; at 100 TB
    * that factor is the difference between a partial-agg and a second
    * dataset). `dims` is the fixed vector width — a schema-level
    * constant at every call site, never inferred with a data action.
    */
  def meanUpdate(e: DataFrame, a: DataFrame, dims: Int): DataFrame = {
    val sums = (0 until dims).map(i => sum(col("v")(i)).as(s"s_$i"))
    e.join(a, "vec_id").groupBy("cid")
      .agg(count(lit(1)).cast("double").as("n_"), sums: _*)
      .select(col("cid"),
        array((0 until dims).map(i => col(s"s_$i") / col("n_")): _*).as("cv"))
  }

  /** Gate-parity mean update: sorted left-fold per (cid, dim), bit-
    * identical to the DuckDB oracle's list_sort + list_reduce.
    */
  def meanUpdateSorted(e: DataFrame, a: DataFrame): DataFrame =
    regroup(flat(e, a).groupBy("cid", "i")
      .agg((expr(SqlSpark.foldD(SqlSpark.arrSort("collect_list(val)"),
        "a_", "x_", "a_ + x_")) / count(lit(1)).cast("double")).as("m")))

  /** Centroids after `rounds` Lloyd updates from the deterministic
    * [[initFarthest]] seeding. `gateParity = true` uses the sorted-
    * fold mean (oracle bit-parity; spec use only); false runs through
    * the grouped trainer with a single group — the production path.
    */
  def train(e: DataFrame, k: Int, rounds: Int, dims: Int,
      gateParity: Boolean = false): DataFrame =
    if (!gateParity) trainMulti(e.withColumn("grp", lit(0)), k, rounds, dims).drop("grp")
    else {
      var cents = initFarthest(e, k)
      (1 to rounds).foreach { _ =>
        val a = assign(e, cents)
        // k rows: eager checkpoint keeps the next round's plan flat
        // and costs one tiny job per round
        cents = meanUpdateSorted(e, a).localCheckpoint(true)
      }
      cents
    }

  // --------------------------------------------- grouped (multi) form
  //
  // The PQ tiers train G independent subquantizers over slices of the
  // same rows. Running them as G separate trainers costs G× the jobs
  // (each init pass / Lloyd round is its own tiny job — pure scheduler
  // overhead at test scale, G redundant scans at 100 TB). The grouped
  // form keys everything by `grp` and advances ALL trainings in each
  // single job: one scan seeds, assigns, and re-means every
  // subquantizer at once.

  /** Nearest centroid per (grp, vec_id) — [[withAssignMulti]]'s per-row
    * argmin over one broadcast of G centroid-array rows; no shuffle.
    */
  def assignMulti(e: DataFrame, cents: DataFrame): DataFrame =
    withAssignMulti(e, cents).select("grp", "vec_id", "cid")

  /** [[meanUpdate]] for rows that already carry their `cid`
    * ([[withAssignMulti]] output): one groupBy(grp, cid) with a sum
    * column per dimension — map-side combinable, the shuffle carries
    * G·k rows, and there is NO join (the former (e ⋈ assignment)
    * vec_id join re-shuffled the full vector table every round).
    */
  private def meanFromAssigned(withCid: DataFrame, dims: Int): DataFrame = {
    val sums = (0 until dims).map(i => sum(col("v")(i)).as(s"s_$i"))
    withCid.groupBy("grp", "cid")
      .agg(count(lit(1)).cast("double").as("n_"), sums: _*)
      .select(col("grp"), col("cid"),
        array((0 until dims).map(i => col(s"s_$i") / col("n_")): _*).as("cv"))
  }

  /** [[meanUpdate]] keyed by group, for a separately-computed
    * assignment `a(grp, vec_id, cid)` (spec surface; the training loop
    * itself uses [[meanFromAssigned]] and never pays this join).
    */
  def meanUpdateMulti(e: DataFrame, a: DataFrame, dims: Int): DataFrame =
    meanFromAssigned(e.join(a, Seq("grp", "vec_id")), dims)

  /** G independent k-means trainings in one scan per pass: input
    * `(grp, vec_id, v)`, output `(grp, cid, cv)`. Production mean
    * only (the gate-parity fold exists solely for k9's single
    * trainer). Each round is ONE job over the input scan: broadcast
    * centroid arrays → per-row argmin → keyed partial sums — the only
    * exchange moves G·k combined rows.
    */
  def trainMulti(e: DataFrame, k: Int, rounds: Int, dims: Int): DataFrame = {
    var cents = initFarthestMulti(e, k)
    (1 to rounds).foreach { _ =>
      // G·k rows: eager checkpoint keeps the next round's plan flat
      cents = meanFromAssigned(withAssignMulti(e, cents), dims)
        .localCheckpoint(true)
    }
    cents
  }

  // ------------------------------------------- local (index-build) form
  //
  // The production vector-index discipline (FAISS/ScaNN): TRAINING is a
  // bounded in-memory problem — codebooks/coarse centroids are fitted
  // on a deterministic sample capped far below cluster scale — while
  // ASSIGNMENT/ENCODING, the part that actually touches the corpus,
  // runs distributed (withAssign's broadcast argmin over the scan).
  // The distributed trainers above remain the full-corpus path (k9
  // pins their plan shape); the catalog's ANN tiers build their
  // indexes here, because Lloyd over ≤ MaxTrainRows vectors is
  // microseconds of driver CPU, whereas expressing each init pass and
  // Lloyd round as cluster jobs costs a scheduler round-trip per step
  // — pure overhead at ANY scale once the training set is bounded.

  /** Hard ceiling on the local training set (rows × groups). A corpus
    * bigger than this must come pre-sampled — deterministically, e.g.
    * `vec_id % s = 0` — which is the same bounded-sample contract a
    * production index build runs under.
    */
  val MaxTrainRows: Int = 1 << 20

  /** G independent k-means trainings at the driver over a BOUNDED
    * input: same fixed schedule, same arithmetic, bit-identical output
    * to [[train]](gateParity = true) per group ([[KMeansSpec]] proves
    * exact equality): left-fold dist2 in index order, farthest-point
    * batches tie-broken by vec_id, means as the sorted-value left fold
    * (the oracle's list_sort + list_reduce), empty clusters dropped.
    * Input `(grp, vec_id, v)`; output `(grp, cid, cv)` as a k·G-row
    * DataFrame ready for the distributed [[withAssignMulti]].
    */
  def trainLocalMulti(e: DataFrame, k: Int, rounds: Int): DataFrame = {
    val collected = e.select(col("grp").cast("int"), col("vec_id"), col("v"))
      .collect()
    require(collected.length <= MaxTrainRows,
      s"trainLocalMulti: ${collected.length} training rows exceed " +
        s"MaxTrainRows=$MaxTrainRows — pre-sample the training set " +
        "(deterministically, e.g. vec_id % s = 0)")
    val byGrp = collected
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    val out = byGrp.toSeq.sortBy(_._1).flatMap { case (grp, rows0) =>
      val rows = rows0.sortBy(_._2) // (grp, vec_id asc): full determinism
      // farthest-point init on the fixed [[initSchedule]] batches
      var chosen = Vector(rows.head match { case (_, id, v) => (id, v) })
      initSchedule(k).foreach { m =>
        val mind = rows.map { case (_, id, v) =>
          (id, v, chosen.iterator.map(c => d2(v, c._2)).min)
        }
        val picks = mind.sortBy { case (id, _, md) => (-md, id) }.take(m)
        chosen = chosen ++ picks.map { case (id, v, _) => (id, v) }
      }
      var cents = chosen.sortBy(_._1)
      (1 to rounds).foreach { _ =>
        val members = rows.groupBy { case (_, _, v) =>
          // lexicographic (d2, cid) argmin — the assign/oracle order
          cents.iterator.map(c => (d2(v, c._2), c._1)).min._2
        }
        cents = members.toVector.sortBy(_._1).map { case (cid, ms) =>
          val dims = ms.head._3.length
          val cv = Array.tabulate(dims) { i =>
            // sorted-value left fold: bit-identical to the oracle's
            // list_sort + list_reduce mean (meanUpdateSorted's twin)
            val vals = ms.map(_._3(i)); java.util.Arrays.sort(vals)
            var s = 0.0; vals.foreach(s += _); s / ms.length
          }
          (cid, cv)
        }
      }
      cents.map { case (cid, cv) => (grp, cid, cv.toSeq) }
    }
    val spark = e.sparkSession
    import spark.implicits._
    out.toDF("grp", "cid", "cv")
  }

  /** Single-group [[trainLocalMulti]]: `(vec_id, v)` → `(cid, cv)`. */
  def trainLocal(e: DataFrame, k: Int, rounds: Int): DataFrame =
    trainLocalMulti(e.withColumn("grp", lit(0)), k, rounds).drop("grp")
}
