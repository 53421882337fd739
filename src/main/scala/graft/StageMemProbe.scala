package graft

/** Diagnostic: run one catalog query and print its heaviest stages by
  * max-task execution memory ([[PeakMemoryAudit.topStages]]) — the
  * attribution step for a memory-headroom flag. The tick audits say
  * WHICH query allocates a risky peak; this says WHICH STAGE inside
  * it, with the stage's callsite string, so the fix targets a specific
  * sort/join width instead of a whole protocol.
  *
  * Usage: tools/run.sh graft.StageMemProbe <query> <sfDir> [nStages]
  */
object StageMemProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = args.lift(1).getOrElse("/tmp/sf1")
    val topN = args.lift(2).map(_.toInt).getOrElse(12)
    val spark = Session.local(32)
    val mem = new PeakMemoryAudit
    spark.sparkContext.addSparkListener(mem)
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, dir)
    df.write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    // join-strategy summary of the FINAL plan (BHJ→SMJ flips between
    // scales are invisible to the CP/BNLJ flip audit but decide the
    // curve of dim-join queries — the j17 attribution need)
    val plan = df.queryExecution.executedPlan.toString()
    val joinOps = Seq("BroadcastHashJoin", "SortMergeJoin",
      "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct")
      .map(op => s"$op=${op.r.findAllIn(plan).size}").mkString(" ")
    // let straggler task-end events drain before reading the map
    Thread.sleep(500)
    println(f"query=$name wall=$wall%.2f peak_task_mb=${mem.peakTaskMb}%.1f " +
      f"spill_mb=${mem.spillMb}%.1f flag=${mem.headroomFlag(32)}")
    println(s"  final-plan joins: $joinOps")
    mem.topStages(topN).foreach { s =>
      println(f"  stage ${s.stageId}%5d  peak ${s.maxTaskPeakMb}%7.1f MB  " +
        f"tasks ${s.nTasks}%4d  ${s.name.take(160)}")
    }
    spark.stop()
  }
}
