package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dev diagnostics on named catalog queries with a [[QueryProfile]]
  * attached, at Bench's slot count (`SPARK_GRAFT_CPUS`, default 32):
  *   - `repeat [reps=3]` — per-iteration walls on a cleared cache, so
  *     planning/codegen warmup (iter 0) separates from steady state;
  *   - `stages [nStages=12]` — one run's wall, memory fields, final-plan
  *     join operators (a BHJ→SMJ flip between scales is invisible to
  *     the CP/BNLJ flip audit), heaviest stages by max-task memory and
  *     recorded spans (st15's phases and ticks);
  *   - `plans <outDir> <suffix>` — builds each frame without running it;
  *     writes its `formatted` explain to `<name><suffix>.txt` and the
  *     plans of the SQL executions run while it was built (fixtures,
  *     maintenance ticks) to `<name><suffix>.build.txt`.
  *
  * Usage: tools/run.sh graft.Diag <repeat|stages|plans> <q1,q2,...>
  *          <sfDir> [reps | nStages | outDir suffix]
  */
object Diag {

  def main(args: Array[String]): Unit = {
    val ok = args.toList match {
      case ("repeat" | "stages") :: _ :: _ :: rest => rest.size <= 1
      case "plans" :: _ :: _ :: rest => rest.size == 2
      case _ => false
    }
    val unknown = args.lift(1).toSeq.flatMap(_.split(","))
      .filterNot(SparkEntry.queries.contains)
    if (!ok || unknown.nonEmpty) {
      System.err.println("usage: Diag <repeat|stages|plans> <q1,q2,...> <sfDir> " +
        "[reps | nStages | outDir suffix]" + unknown.map("\nunknown query: " + _).mkString)
      sys.exit(2)
    }
    val spark = Session.local(Session.benchCpus)
    try run(spark, args(0), args(1).split(",").toSeq, args(2), args.drop(3).toSeq)
    finally spark.stop()
  }

  def run(spark: SparkSession, mode: String, names: Seq[String],
      sfDir: String, rest: Seq[String]): Unit = {
    Tables.names.foreach(n =>
      try Tables.load(spark, sfDir, n) catch { case _: Throwable => () })
    val qs = SparkEntry.queries
    def runOnce(name: String) = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val df = qs(name)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      (df, (System.nanoTime() - t0) / 1e9)
    }
    val prof = QueryProfile.attach(spark)
    try mode match {
      case "repeat" =>
        for (name <- names; i <- 0 until rest.headOption.fold(3)(_.toInt))
          println(f"[profile] $name iter $i: ${runOnce(name)._2}%.3f s")
      case "stages" => names.foreach { name =>
        prof.reset()
        val (df, wall) = runOnce(name)
        prof.drain()
        val ops = ScaleAudit.opCounts(df.queryExecution.executedPlan.toString())
        println(f"query=$name wall=$wall%.2f peak_task_mb=${prof.peakTaskMb}%.1f " +
          f"spill_mb=${prof.spillMb}%.1f flag=${prof.headroomFlag(Session.benchCpus)}")
        println("  final-plan joins: " +
          ScaleAudit.JoinOps.map(op => s"$op=${ops(op)}").mkString(" "))
        prof.topStages(rest.headOption.fold(12)(_.toInt)).foreach { s =>
          println(f"  stage ${s.stageId}%5d  peak ${s.maxTaskPeakMb}%7.1f MB  " +
            f"tasks ${s.nTasks}%4d  ${s.name.take(160)}")
        }
        prof.spans.foreach { case (tag, sec) => println(f"  span $tag%-12s $sec%8.3f s") }
      }
      case "plans" => names.foreach { name =>
        prof.reset()
        val df = qs(name)(spark, sfDir)
        val build = prof.plans
        Seq(".txt" -> df.queryExecution.explainString(ExplainMode.fromString("formatted")),
          ".build.txt" -> build.zipWithIndex.map { case (p, i) =>
            s"== build execution ${i + 1} of ${build.size} ==\n$p" }.mkString("\n")
        ).foreach { case (ext, text) =>
          val f = Files.createDirectories(Paths.get(rest(0))).resolve(name + rest(1) + ext)
          Files.writeString(f, text)
          println(s"wrote $f")
        }
      }
    } finally prof.detach()
  }
}
