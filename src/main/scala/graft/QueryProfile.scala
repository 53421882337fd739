package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Where a query's or a maintenance tick's time and memory went; Bench,
  * the scale audits and [[Diag]] attach it. Its Spark side is a
  * listener. The wall-clock gates prove a query's TIME curve, but a
  * query can be time-linear and still die one decade later because a
  * single task's execution memory (hash map, sort buffer, collected
  * list) grows with the data, so it records:
  *
  *   - `peakTaskMb`   — max over tasks of Spark's per-task
  *     peakExecutionMemory (the unified-memory charge of its joins /
  *     aggs / sorts). The scale contract of a well-partitioned
  *     operator is that this stays bounded by the PARTITION size,
  *     not the data size. `topStages` names the stages behind it by
  *     the SQL query each one ran for.
  *   - `spillMb`      — total disk spill: nonzero means the memory
  *     manager already ran out of headroom and the query survived by
  *     spilling (time keeps scaling, but the cliff is near).
  *   - `plans`        — every SQL execution's physical plan (Spark's
  *     `formatted` explain) in start order, including those run while
  *     a query's frame is built (fixtures, maintenance ticks).
  *
  * Its driver side records [[QueryProfile.span]]s while attached.
  *
  * The gate (`headroomFlag`): worst-case concurrent execution memory
  * = peakTaskMb × slots must stay under 80% of the unified execution
  * pool (0.6 × (heap − 300 MB) with the default memory fractions). A
  * flagged query is the one to fix BEFORE the next decade finds it —
  * the within-20%-of-heap early warning the audits' wall ratios
  * cannot see.
  */
final class QueryProfile private (sc: SparkContext) extends SparkListener {
  private val peakTask = new AtomicLong(0L)
  private val spilled = new AtomicLong(0L)
  private val stageNames = new ConcurrentHashMap[Int, String]()
  private val stagePeaks = new ConcurrentHashMap[Int, (Int, Long)]()
  private val planQ = new ConcurrentLinkedQueue[String]()
  private val spanQ = new ConcurrentLinkedQueue[(String, Double)]()
  private val execNames = new ConcurrentHashMap[Long, String]()

  /** A SQL query's stages are named after its execution: its job group,
    * then its description (the job description or the action's call
    * site). Under AQE Spark names most stages after the future that
    * submits them, which says nothing about the query. */
  override def onJobStart(j: SparkListenerJobStart): Unit = {
    Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execNames.get(id.toLong)))
      .foreach(name => j.stageIds.foreach(stageNames.putIfAbsent(_, name)))
  }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
    stageNames.putIfAbsent(s.stageInfo.stageId,
      Option(s.stageInfo.name).getOrElse("?")); ()
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      peakTask.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
      spilled.addAndGet(m.diskBytesSpilled)
      stagePeaks.merge(t.stageId, (1, m.peakExecutionMemory),
        (a, b) => (a._1 + b._1, math.max(a._2, b._2))); ()
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execNames.put(s.executionId, s.jobGroupId.fold(s.description)(g => s"$g: ${s.description}"))
      planQ.add(s.physicalPlanDescription); ()
    case _ => ()
  }

  def reset(): Unit = {
    peakTask.set(0); spilled.set(0)
    stageNames.clear(); stagePeaks.clear(); execNames.clear(); planQ.clear(); spanQ.clear()
  }

  /** Waits until every event posted so far has reached this listener. */
  def drain(): Unit = GraftColumnBridge.drainListeners(sc)

  /** The `n` stages with the largest max-task execution-memory peaks
    * since the last reset, heaviest first: who to fix for a flag. */
  def topStages(n: Int): Seq[QueryProfile.StagePeak] =
    stagePeaks.asScala.toSeq
      .map { case (sid, (tasks, peak)) =>
        QueryProfile.StagePeak(sid, stageNames.getOrDefault(sid, "?"), tasks,
          peak / 1048576.0)
      }
      .sortBy(-_.maxTaskPeakMb).take(n)

  def peakTaskMb: Double = peakTask.get / 1048576.0
  def spillMb: Double = spilled.get / 1048576.0
  /** JVM heap in use after a GC. On local[N] driver and executors
    * share the heap, so this is the whole-engine resident set. */
  def driverHeapMb: Double = {
    System.gc() // audit-only path; stabilizes the in-use reading
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  /** 80%-of-execution-pool ceiling for `slots` concurrent tasks at
    * the observed per-task peak. */
  def headroomFlag(slots: Int): Boolean = {
    val heapMb = Runtime.getRuntime.maxMemory / 1048576.0
    val poolMb = 0.6 * (heapMb - 300.0)
    peakTaskMb * slots > 0.8 * poolMb
  }

  /** SQL execution plans since the last reset, in start order. */
  def plans: Seq[String] = { drain(); planQ.asScala.toList }
  /** (tag, seconds) spans since the last reset, in end order. */
  def spans: Seq[(String, Double)] = spanQ.asScala.toList
  /** The [[QueryProfile.tick]] walls in batch order. */
  def tickWalls: Seq[Double] = spans
    .collect { case (QueryProfile.TickTag(b), s) => (b.toLong, s) }
    .sortBy(_._1).map(_._2)

  /** Stops listening; spans go nowhere until another profile attaches. */
  def detach(): Unit = {
    sc.removeSparkListener(this)
    QueryProfile.current.getAndUpdate(c => if (c.contains(this)) None else c); ()
  }
}

object QueryProfile {
  final case class StagePeak(stageId: Int, name: String, nTasks: Int,
      maxTaskPeakMb: Double)

  private val TickTag = "tick-(\\d+)".r
  private val current = new AtomicReference[Option[QueryProfile]](None)

  /** A new profile listening on `spark`; spans record into it. */
  def attach(spark: SparkSession): QueryProfile = {
    val p = new QueryProfile(spark.sparkContext)
    spark.sparkContext.addSparkListener(p)
    current.set(Some(p))
    p
  }

  /** Runs `body`; while a profile is attached, records its wall as `tag`. */
  def span[T](tag: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    record(tag, (System.nanoTime() - t0) / 1e9)
    r
  }

  /** Records an already-measured wall as `tag` while a profile is attached. */
  def record(tag: String, sec: Double): Unit =
    current.get.foreach(_.spanQ.add((tag, sec)))

  /** [[span]] of micro-batch `batchId`'s body (the per-tick walls). */
  def tick[T](batchId: Long)(body: => T): T = span(s"tick-$batchId")(body)
}
