package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval around a call into a layer's public function. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, requestId: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** In-memory spans. Disabled, `span` just runs its body: the timed
  * runs pay nothing for tracing.
  */
final class Spans(val enabled: Boolean) {
  private val done = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val current = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String, requestId: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = current.get()
      current.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, name, t0, System.nanoTime(), stack.headOption.getOrElse(0L), requestId))
        current.set(stack)
      }
    }

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  /** Self time per layer: each span's duration minus the part of its
    * interval that its child spans cover.
    */
  def selfSecondsByLayer: Map[String, Double] = {
    val spans = all
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a })
      s.layer -> (s.durNs - covered) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  def toJson: Seq[Json.Obj] = all.map(s => Json.obj("id" -> s.id, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs, "parent" -> s.parent,
    "request_id" -> s.requestId))
}

/** Cumulative Spark work counters. */
final case class Work(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runMs: Double = 0, cpuMs: Double = 0, inputBytes: Long = 0,
    outputBytes: Long = 0, shuffleReadBytes: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0, peakTaskBytes: Long = 0) {
  def -(o: Work): Work = Work(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    runMs - o.runMs, cpuMs - o.cpuMs, inputBytes - o.inputBytes,
    outputBytes - o.outputBytes, shuffleReadBytes - o.shuffleReadBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    peakTaskBytes)
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    runMs + o.runMs, cpuMs + o.cpuMs, inputBytes + o.inputBytes,
    outputBytes + o.outputBytes, shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    math.max(peakTaskBytes, o.peakTaskBytes))
  def shuffleMb: Double = (shuffleReadBytes + shuffleWriteBytes) / 1e6
}

/** The benchmark's own SparkListener. It counts work per engine module:
  * each stage is classified by the engine modules (`graft.<module>`)
  * on its call site, so work done on library-owned threads (futures
  * inside the engine) is still attributed. Nothing inside the engine is
  * instrumented.
  */
final class WorkListener extends SparkListener {
  private val SettleGroup = "perfbench-settle"
  private val stageModules = new java.util.concurrent.ConcurrentHashMap[Int, Set[String]]()
  private val settleJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val settleStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  @volatile private var lastSettleDone = -1
  private var byModule = Map.empty[String, Work].withDefaultValue(Work())
  private var total = Work()

  private val ModuleRe = "graft\\.([a-z]+)\\.".r

  private def modules(details: String): Set[String] =
    ModuleRe.findAllMatchIn(Option(details).getOrElse("")).map(_.group(1)).toSet

  private def add(mods: Set[String], f: Work => Work): Unit = synchronized {
    total = f(total)
    mods.foreach(m => byModule += m -> f(byModule(m)))
  }

  /** Engine modules per SQL execution, from the call site captured on
    * the calling thread when the execution started: jobs the execution
    * later runs on Spark's own pools (broadcasts, subqueries) carry its
    * id but not the caller's stack.
    */
  private val execModules = new java.util.concurrent.ConcurrentHashMap[Long, Set[String]]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execModules.put(s.executionId, modules(s.details))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    if (props.map(_.getProperty("spark.jobGroup.id")).orNull == SettleGroup) {
      settleJobs.add(e.jobId)
      e.stageIds.foreach(settleStages.add)
    } else {
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execModules.get(id.toLong)))
      val mods = exec.filter(_.nonEmpty)
        .getOrElse(e.stageInfos.headOption.map(s => modules(s.details)).getOrElse(Set.empty))
      e.stageIds.foreach(stageModules.put(_, mods))
      add(mods, w => w.copy(jobs = w.jobs + 1))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (settleJobs.contains(e.jobId)) lastSettleDone = e.jobId

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (!settleStages.contains(e.stageInfo.stageId)) {
      val mods = Option(stageModules.get(e.stageInfo.stageId))
        .getOrElse(modules(e.stageInfo.details))
      add(mods, w => w.copy(stages = w.stages + 1))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && !settleStages.contains(e.stageId)) {
      val mods = Option(stageModules.get(e.stageId)).getOrElse(Set.empty[String])
      add(mods, w => w.copy(
        tasks = w.tasks + 1,
        runMs = w.runMs + m.executorRunTime,
        cpuMs = w.cpuMs + m.executorCpuTime / 1e6,
        inputBytes = w.inputBytes + m.inputMetrics.bytesRead,
        outputBytes = w.outputBytes + m.outputMetrics.bytesWritten,
        shuffleReadBytes = w.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = w.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = w.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
        peakTaskBytes = math.max(w.peakTaskBytes, m.peakExecutionMemory)))
    }
  }

  def snapshot: Work = synchronized(total)
  def module(m: String): Work = synchronized(byModule(m))

  /** Block until every event posted so far has been delivered: run a
    * marker job and wait for its end event, which the bus delivers
    * after every earlier event. The marker's own work is not counted.
    */
  def settle(sc: SparkContext): Unit = {
    sc.setJobGroup(SettleGroup, "perfbench listener settle", interruptOnCancel = false)
    val before = lastSettleDone
    try sc.parallelize(Seq(1), 1).count(): Unit
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (lastSettleDone == before && System.nanoTime() < deadline) Thread.sleep(1)
  }
}
