package graft.operators

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.SparkContext

/** The one runner for Spark work done side by side. Each body runs on
  * a thread of Scala's global pool under the calling thread's Spark job
  * properties (job group, description, tags, scheduler pool, call
  * site), captured when the body is handed over. A pool thread keeps
  * the properties of the thread that started it, so without this the
  * jobs it runs are grouped, named and cancelled as some earlier
  * caller's.
  *
  * Callers wait through [[awaitAll]] (or [[all]], which uses it): it
  * waits for every body before it rethrows anything, then rethrows the
  * first failure in argument order, so a failed body never hands
  * control back while a sibling still writes.
  */
object CallerJobs {
  private val Props = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.job.tags", "spark.scheduler.pool",
    "callSite.short", "callSite.long")

  private implicit val pool: ExecutionContext = ExecutionContext.global

  /** A body handed to a pool thread by [[fork]]. */
  final class Fork[T] private[CallerJobs] (private[CallerJobs] val future: Future[T]) {
    /** The body's result, or its failure rethrown; waits for the body
      * alone, so read it after [[awaitAll]] over its siblings. */
    def result: T = Await.result(future, Duration.Inf)
    private[CallerJobs] def finish(): Unit = Await.ready(future, Duration.Inf): Unit
  }

  /** Runs `body` on a pool thread under the caller's job properties,
    * once every fork in `after` has finished. If one of them failed,
    * `body` does not run and this fork fails with that failure.
    */
  def fork[T](sc: SparkContext, after: Seq[Fork[_]] = Nil)(body: => T): Fork[T] = {
    val caller = props(sc)
    new Fork(Future.sequence(after.map(_.future)).map { _ =>
      val own = props(sc)
      set(sc, caller)
      try body finally set(sc, own)
    })
  }

  /** Waits for every fork, then rethrows the first failure in argument
    * order. */
  def awaitAll(forks: Fork[_]*): Unit = {
    forks.foreach(_.finish())
    forks.foreach(_.result)
  }

  /** Runs the bodies side by side and returns their results in argument
    * order, once every body has finished. */
  def all[T](sc: SparkContext)(bodies: (() => T)*): Seq[T] = {
    val forks = bodies.map(b => fork(sc)(b()))
    awaitAll(forks: _*)
    forks.map(_.result)
  }

  private def props(sc: SparkContext): Seq[(String, String)] =
    Props.map(k => k -> sc.getLocalProperty(k))

  private def set(sc: SparkContext, ps: Seq[(String, String)]): Unit =
    ps.foreach { case (k, v) => sc.setLocalProperty(k, v) }
}
