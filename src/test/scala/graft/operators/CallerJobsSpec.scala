package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.concurrent.ExecutionContext.Implicits.global
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftColumnBridge

import graft.{SparkEntry, SparkSpec}

/** The one side-by-side runner: result order, failure order, and the
  * job group its bodies' Spark jobs carry.
  */
class CallerJobsSpec extends SparkSpec {

  test("results come back in argument order") {
    val out = CallerJobs.all(spark.sparkContext)(
      () => { Thread.sleep(80); "slow" }, () => "fast", () => { Thread.sleep(20); "mid" })
    assert(out == Seq("slow", "fast", "mid"))
  }

  test("a failure surfaces only after every sibling has finished, first in argument order") {
    val slowDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      CallerJobs.all(spark.sparkContext)(
        () => { Thread.sleep(150); slowDone.set(true); throw new IllegalStateException("first") },
        () => throw new IllegalStateException("second"))
    }
    assert(slowDone.get, "the failure returned before its slower sibling finished")
    assert(e.getMessage == "first")
  }

  test("a fork waits for the forks it runs after, and fails with their failure") {
    val sc = spark.sparkContext
    val a = CallerJobs.fork(sc) { Thread.sleep(50); 2 }
    val b = CallerJobs.fork(sc, Seq(a))(a.result * 21)
    CallerJobs.awaitAll(a, b)
    assert(b.result == 42)
    val ran = new AtomicBoolean(false)
    val bad = CallerJobs.fork(sc)(throw new IllegalArgumentException("dep"))
    val after = CallerJobs.fork(sc, Seq(bad))(ran.set(true))
    val e = intercept[IllegalArgumentException](CallerJobs.awaitAll(after))
    assert(e.getMessage == "dep" && !ran.get)
  }

  /** The job group of every Spark job `body` starts under group
    * `group`, after pool threads were started under a stale group (a
    * pool thread keeps the group of the thread that started it). */
  private def groupsUnder(group: String)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    sc.setJobGroup("stale-group", "stale", interruptOnCancel = false)
    Await.ready(Future.traverse(1 to 16)(_ => Future(Thread.sleep(20))), Duration.Inf)
    sc.setJobGroup(group, "caller", interruptOnCancel = false)
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(Option(j.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull)): Unit
    }
    sc.addSparkListener(listener)
    try {
      body
      GraftColumnBridge.drainListeners(sc)
      groups.asScala.toSeq
    } finally {
      sc.removeSparkListener(listener); sc.clearJobGroup()
    }
  }

  test("every body's jobs run under the caller's group") {
    val groups = groupsUnder("runner-group") {
      val sc = spark.sparkContext
      val counts = CallerJobs.all(sc)((1 to 8).map(i => () => spark.range(i * 10).count()): _*)
      assert(counts == (1 to 8).map(_ * 10L))
      val first = CallerJobs.fork(sc)(spark.range(5).count())
      val next = CallerJobs.fork(sc, Seq(first))(spark.range(first.result).count())
      CallerJobs.awaitAll(first, next)
    }
    assert(groups.size >= 10)
    assert(groups.forall(_ == "runner-group"), groups.mkString(", "))
  }

  test("i4_join_view_ivm runs every job under the caller's group") {
    val groups = groupsUnder("i4-group") {
      SparkEntry.queries("i4_join_view_ivm")(spark, "/root/testdata/sf0.001").collect()
    }
    assert(groups.nonEmpty)
    assert(groups.forall(_ == "i4-group"), groups.mkString(", "))
  }
}
