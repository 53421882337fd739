package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Writes `.explain("formatted")` output for named catalog queries to
  * `<outDir>/<name><suffix>.txt` — the optimization-round evidence
  * files (plans/r15/<query>_before.txt / _after.txt). The session is
  * the bench session ([[Session.local]] at `SPARK_GRAFT_CPUS` slots)
  * so the dumped initial plans are the ones the bench executes.
  *
  * Usage: tools/run.sh graft.PlanDump <outDir> <suffix> q1,q2,... [sfDir]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    Files.createDirectories(outDir)
    val spark = Session.local(Session.benchCpus)
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val s = df.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      val f = outDir.resolve(s"$n$suffix.txt")
      Files.writeString(f, s)
      println(s"wrote $f")
    }
    spark.stop()
  }
}
