package perfbench

import org.apache.spark.sql.functions._

/** The `functions` layer on its own: per-evaluation cost of
  * `vector_distance` and `graft_lsh_bucket`, from one large job each
  * minus a same-shape job without the function (min of 3).
  */
object Functions {

  def layers(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val r = Gen.rng(ctx.seed, "functions")
    val vs = (0 until 2000).map(i => (i.toLong, Gen.unitVector(r, 64).toSeq)).toDF("id", "v").cache()
    val qs = (0 until 1000).map(i => (i.toLong, Gen.unitVector(r, 64).toSeq)).toDF("qid", "q").cache()
    vs.count(); qs.count()
    val pairs = vs.crossJoin(broadcast(qs))
    val n = 2000L * 1000
    def best(f: => Unit): Double = (1 to 3).map { _ =>
      val t = System.nanoTime(); f; System.nanoTime() - t
    }.min.toDouble
    def run(df: org.apache.spark.sql.DataFrame): Unit = df.agg(sum(col("x"))).collect(): Unit
    val (dist, lsh) = ctx.spans.span("functions.microbench") {
      val base = best(run(pairs.select((col("v")(0) * col("q")(0)).as("x"))))
      val dist = best(run(pairs.select(expr("vector_distance(v, q, 'COSINE')").as("x"))))
      val rows = vs.select(col("v"), explode(array_repeat(lit(1), 1000)).as("rep"))
      val lBase = best(run(rows.select(col("v")(0).as("x"))))
      val lsh = best(run(rows.select(expr("graft_lsh_bucket(v)").as("x"))))
      (math.max(0.0, dist - base) / n, math.max(0.0, lsh - lBase) / n)
    }
    vs.unpersist(); qs.unpersist()
    Map("functions.vector_distance_ns" -> dist, "functions.lsh_bucket_ns" -> lsh)
  }
}
