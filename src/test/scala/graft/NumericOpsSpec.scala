package graft

import org.apache.spark.sql.functions._

/** Semantic properties of the numeric/iterative catalog operators that
  * the DuckDB oracle cannot state (it only pins cross-engine equality):
  * g1's PageRank really is PageRank, k18's power iteration really finds
  * the dominant eigenvector, a22's OLS really is least squares. Each is
  * checked against an independently-computed ground truth.
  */
class NumericOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("g1/g2: rank mass is conserved up to integer-floor loss, ranks positive") {
    val S = 1000000000000L
    Seq("g1_pagerank", "g2_weighted_pagerank").foreach { q =>
      val out = SparkEntry.queries(q)(spark, sf).collect()
      assert(out.nonEmpty, s"$q: near-dup graph should be non-empty at sf0.001")
      val total = out.map(_.getAs[Long]("rank_fp")).sum
      // every division floors, so mass can only LEAK, never appear:
      // teleport loses < 100n units, each node's contribution sum
      // loses < deg (g1) / < strength-granularity (g2) per incoming
      // edge, scaled by 0.85 and compounded over 3 rounds — bound
      // generously at 1% of S
      assert(total <= S, s"$q: rank mass appeared from nowhere: $total > $S")
      assert(total >= S - S / 100, s"$q: rank mass leaked past the floor bound: $total")
      assert(out.forall(_.getAs[Long]("rank_fp") > 0), s"$q: ranks must be positive")
    }
  }

  test("k18: the integer fixed-point iterate tracks the float algorithm it quantizes") {
    val vecs = Tables.load(spark, sf, "embeddings")
      .select(expr("transform(cast(embedding AS array<double>), x_ -> round(x_ * 1000))"))
      .collect().map(_.getSeq[Double](0).toArray)
    // ground truth: the SAME 3-round renormalized power iteration in
    // plain doubles (no floor) — the property under test is that the
    // 1e-3-granular integer renormalization doesn't bend the direction,
    // not full eigen-convergence (3 rounds needn't converge when the
    // top eigen-gap is small; convergence quality is k10's concern)
    var v = Array.fill(64)(1000.0)
    for (_ <- 1 to 3) {
      val s = vecs.map(q => q.zip(v).map { case (a, b) => a * b }.sum)
      val w = Array.tabulate(64)(j => vecs.zip(s).map { case (q, si) => q(j) * si }.sum)
      val m = w.map(math.abs).max
      v = w.map(_ * 1000.0 / m)
    }
    val got = SparkEntry.queries("k18_pca_power")(spark, sf)
      .orderBy("j").collect().map(_.getAs[Long]("v_fp").toDouble)
    val cos = {
      val dot = got.zip(v).map { case (a, b) => a * b }.sum
      dot / (math.sqrt(got.map(x => x * x).sum) * math.sqrt(v.map(x => x * x).sum))
    }
    assert(cos > 0.9999, s"fixed-point iterate diverged from the float path: cos = $cos")
  }

  test("a22: recovers a planted exact line (slope 2, intercept 5, r = 1)") {
    import spark.implicits._
    val tmp = Scratch.dir("ols")
    try {
      // v = 2h + 5 exactly, in cents-exact doubles, across 100 hours;
      // ts written as NANOS longs — the raw layout Tables.load expects
      val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
      val rows = (0 until 100).map { h =>
        (h.toLong, (t0 + h * 3600L) * 1000000000L,
          1L, "planted", 2.0 * h + 5.0, "{}")
      }
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      val out = SparkEntry.queries("a22_grouped_ols")(spark, tmp.toString)
        .collect().head
      assert(out.getAs[Double]("slope") == 2.0, out)
      assert(out.getAs[Double]("intercept") == 5.0, out)
      assert(out.getAs[Double]("r") == 1.0, out)
    } finally Scratch.remove(tmp.toFile)
  }
}
