package graft

/** Dev profiling harness: run named queries N times in one JVM and
  * print per-iteration wall times, so planning/codegen warmup (iter 0)
  * can be separated from steady-state execution. Bench measures the
  * cold number the driver grades; this tells you which side of it to
  * optimize, so it runs at Bench's slot count (`SPARK_GRAFT_CPUS`).
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... tools/run.sh graft.Profile q1 c1 [reps]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (names, reps) = args.lastOption.flatMap(_.toIntOption) match {
      case Some(n) => (args.init.toSeq, n)
      case None    => (args.toSeq, 3)
    }
    val spark = Session.local(Session.benchCpus)
    spark.sparkContext.setLogLevel("WARN")
    Tables.names.foreach(n =>
      try Tables.load(spark, sfDir, n) catch { case _: Throwable => () })
    val qs = SparkEntry.queries // built once, not per name
    val unknown = names.filterNot(qs.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(", ")}\n" +
        s"valid names: ${qs.keys.toSeq.sorted.mkString(", ")}")
      spark.stop(); sys.exit(2)
    }
    for (name <- names; fn = qs(name); i <- 0 until reps) {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[profile] $name iter $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
