package graft.operators

import org.apache.spark.SparkContext

/** The calling thread's Spark job properties (job group, description,
  * tags, scheduler pool, call site), captured when this is made, for
  * work the caller hands to a pool thread. A pool thread keeps the
  * properties of the thread that started it, so without this the jobs
  * it runs are grouped, named and cancelled as some earlier caller's.
  */
final class CallerJobs(sc: SparkContext) {
  private val caller = CallerJobs.Props.map(k => k -> sc.getLocalProperty(k))

  /** Runs `body` under the caller's properties, then restores the
    * running thread's own. */
  def apply[T](body: => T): T = {
    val own = CallerJobs.Props.map(k => k -> sc.getLocalProperty(k))
    caller.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    try body finally own.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }
}

object CallerJobs {
  private val Props = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.job.tags", "spark.scheduler.pool",
    "callSite.short", "callSite.long")
}
