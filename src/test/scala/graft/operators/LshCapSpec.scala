package graft.operators

import graft.{SparkSpec, TestSpark}
import graft.functions.XSql
import org.apache.spark.sql.functions._

/** Gates for the occupancy-capped + hub-star LSH pair family
  * ([[Lsh.verifiedPairsCapped]]), the engineered bound on the pair
  * family's one super-linear term (c3's measured 19× wall at sf100):
  * when band keys saturate, the collision join must stay
  * O(buckets·cap² + rows), and the price must be measured recall, not
  * silent drift.
  *
  *   1. SUBSET: capped pairs ⊆ uncapped pairs with identical jacc
  *      values — capping removes candidates, never invents or
  *      reweights one (every star edge is itself a band collision).
  *   2. BOUND: after [[Lsh.cappedBands]], no bucket holds more than
  *      `cap` members, on a corpus whose uncapped buckets saturate
  *      far past the cap.
  *   3. GIANT-CLUSTER CONNECTIVITY — the case a pure cap gets
  *      catastrophically wrong: a corpus that is one huge mutual
  *      near-dup family (the mirrored-boilerplate shape) saturates
  *      its own buckets, and without the hub-star edges the overflow
  *      members would lose every pair and SURVIVE dedup. Gate: the
  *      component policy's drop set under capping keeps ≥ 99% of the
  *      uncapped drop set.
  *   4. INFORMATIVE-BUCKET RECALL: planted distinctive near-dup pairs
  *      (unique vocabulary → small buckets) are exactly as present in
  *      the capped set as in the uncapped one — the cap never touches
  *      buckets below its size.
  *   5. DETERMINISM: the selection key is a pure function of doc_id,
  *      so partitioning/arrival order cannot change the capped set.
  *
  * The quantitative recall on the REAL corpus distribution lives in
  * the scale audit (sf1: 22,830 of 22,838 pairs, 0.99965; `ScaleAudit
  * spot100`'s `lsh_cap_recall` measures it on its small dir), not
  * here: an engineered spec corpus measures properties, not the
  * production distribution.
  */
class LshCapSpec extends SparkSpec {

  graft.functions.GraftFunctions.register(TestSpark.spark)

  private def shOf(rows: Seq[(Long, String)]) = {
    import TestSpark.spark.implicits._
    implicit val dl: XSql.Dialect = XSql.Spark
    rows.toDF("doc_id", "text")
      .withColumn("sh", expr(XSql.shinglesOfText("text")))
      .select("doc_id", "sh")
  }

  private var seed = 12345L
  private def nxt(n: Int): Int = {
    seed = seed * 6364136223846793005L + 1442695040888963407L
    (((seed >>> 33) % n).toInt + n) % n
  }

  /** 2,000 docs drawn from a 3-word vocabulary: shingle sets heavily
    * overlap, band keys collapse onto a saturated head (measured max
    * occupancy ~100 at this size), and most members are mutual
    * near-dups — the degenerate giant-cluster shape. Plus 10 planted
    * near-dup pairs of distinctive texts (unique vocabulary per pair
    * → small buckets). Deterministic LCG so the spec is reproducible.
    */
  private val corpus: Seq[(Long, String)] = {
    val tiny = Array("alpha", "beta", "gamma")
    val noise = (0 until 2000).map { i =>
      val len = 8 + nxt(12)
      (i.toLong, (0 until len).map(_ => tiny(nxt(3))).mkString(" "))
    }
    val planted = (0 until 10).flatMap { p =>
      val words = (0 until 24).map(w => s"term${p}_${nxt(1000)}_$w")
      val a = words.mkString(" ")
      val b = words.updated(5, "swapped").mkString(" ")
      Seq((10000L + 2 * p, a), (10001L + 2 * p, b))
    }
    noise ++ planted
  }

  private def pairMap(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
    df.select("doc_a", "doc_b", "jacc").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  /** doc → component over a pair set, via the shared operator. */
  private def drops(pairs: Map[(Long, Long), Double]): Set[Long] = {
    import TestSpark.spark.implicits._
    if (pairs.isEmpty) return Set.empty
    val df = pairs.keys.toSeq.toDF("doc_a", "doc_b")
    ConnectedComponents.minLabel(df, "doc_a", "doc_b")
      .filter(col("node") =!= col("component"))
      .select("node").collect().map(_.getLong(0)).toSet
  }

  test("saturating corpus: subset, bound, giant-cluster connectivity, informative-bucket recall") {
    val sh = shOf(corpus).cache()
    val uncapped = pairMap(Lsh.verifiedPairs(sh, 0.5))
    val capped = pairMap(Lsh.verifiedPairsCapped(sh, 0.5))

    // the corpus actually saturates far past the cap
    val maxOcc = Lsh.bands(sh).groupBy("band_idx", "band_key")
      .count().agg(max("count")).head().getLong(0)
    assert(maxOcc > 4L * Lsh.BucketCap,
      s"corpus must saturate buckets (max occupancy $maxOcc)")

    // 1. subset with identical verification values
    capped.foreach { case (k, j) =>
      assert(uncapped.contains(k), s"capped invented pair $k")
      assert(uncapped(k) == j, s"capped reweighted pair $k")
    }
    // 2. the survivor bound
    val cappedMaxOcc = Lsh.cappedBands(sh, Lsh.BucketCap)
      .groupBy("band_idx", "band_key").count().agg(max("count"))
      .head().getLong(0)
    assert(cappedMaxOcc <= Lsh.BucketCap,
      s"capped bucket occupancy $cappedMaxOcc > ${Lsh.BucketCap}")
    // 3. the component policy still deduplicates the giant cluster:
    //    capped drops ≥ 99% of the uncapped drop set (the hub-star
    //    edges carry the overflow; a pure cap measured < 15% here)
    val du = drops(uncapped)
    val dc = drops(capped)
    assert(du.size > 1500, s"degenerate cluster should drop most docs (${du.size})")
    val kept = (du & dc).size.toDouble / du.size
    assert(kept >= 0.99, f"component-drop recall $kept%.4f < 0.99 " +
      s"(${(du -- dc).size} uncapped drops lost)")
    // 4. planted pairs: capped agrees with uncapped exactly on the
    //    distinctive (small-bucket) family
    (0 until 10).foreach { p =>
      val k = (10000L + 2 * p, 10001L + 2 * p)
      assert(uncapped.contains(k) == capped.contains(k),
        s"cap changed planted pair $k (uncapped=${uncapped.contains(k)})")
    }
    // and most planted pairs exist at all (LSH banding itself finds
    // ~80% of J≈0.76 pairs with 4x4 bands; all-miss means a bug)
    val found = (0 until 10).count(p => uncapped.contains((10000L + 2 * p, 10001L + 2 * p)))
    assert(found >= 5, s"only $found/10 planted pairs banded — banding bug?")
  }

  test("window-pass candidate generation == rank-ordered self-join form") {
    // verifiedPairsCapped generates candidates via one bounded-frame
    // window pass; this pins it to the definitional join form
    //   {(a,b): a.rk < b.rk AND (b.rk <= cap OR a.rk = 1)}
    // (the form the oracle's cappedCandSql states) on the saturating
    // corpus, where overflow/hub/survivor classes all populate.
    val sh = shOf(corpus).cache()
    val rb = Lsh.rankedBands(sh)
    val joinCand = rb.select(col("band_idx"), col("band_key"),
        col("doc_id").as("da"), col("cap_rk").as("ra"))
      .join(rb.select(col("band_idx"), col("band_key"),
        col("doc_id").as("db"), col("cap_rk").as("rb")),
        Seq("band_idx", "band_key"))
      .filter(col("ra") < col("rb") &&
        (col("rb") <= Lsh.BucketCap || col("ra") === 1))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"))
      .distinct()
    val joinForm = joinCand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val windowForm = Lsh.verifiedPairsCapped(sh, -1.0) // threshold -1: keep every candidate
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // verifyCand drops candidates whose docs lack shingle rows; the
    // join form above is pre-verification, so re-attach the same way
    val docIds = sh.select("doc_id").collect().map(_.getLong(0)).toSet
    val joinAttached = joinForm.filter(p => docIds(p._1) && docIds(p._2))
    assert(windowForm == joinAttached,
      s"window form diverges from join form: only-window=${(windowForm -- joinAttached).take(5)}, " +
        s"only-join=${(joinAttached -- windowForm).take(5)}")
    sh.unpersist()
  }

  test("capped selection is invariant to partitioning and row order") {
    val sh = shOf(corpus.take(400) ++ corpus.takeRight(20))
    val base = pairMap(Lsh.verifiedPairsCapped(sh, 0.5))
    val shuffled = pairMap(Lsh.verifiedPairsCapped(
      sh.orderBy(rand(7)).repartition(13), 0.5))
    assert(base == shuffled, "capped pair set depends on layout")
  }
}
