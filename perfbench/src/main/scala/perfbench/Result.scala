package perfbench

import java.nio.file.{Files, Path}

import perfbench.Json.obj

/** Host-health probes, recorded in every result. */
object Host {
  /** A host snapshot; `cpuS` is the cpu probe, run once per process;
    * `cpuTicks` are the machine's (steal, total) cpu ticks so far.
    */
  final case class Probe(load1: Double, cpuS: Double, cpuTicks: (Long, Long))

  /** (steal, total) of the aggregate `cpu` line of /proc/stat: time a
    * virtual machine's cpus were ready to run but held by the host.
    */
  def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } finally src.close()
  }

  /** Share of cpu time between two probes that the host stole. */
  def stealShare(start: Probe, end: Probe): Double = {
    val total = end.cpuTicks._2 - start.cpuTicks._2
    if (total > 0) (end.cpuTicks._1 - start.cpuTicks._1).toDouble / total else 0.0
  }

  /** The same fixed single-thread xorshift loop as the engine's
    * catalog bench, so its time compares with
    * `graft.BenchGuard.RefCpuProbeSec`.
    */
  def cpuProbe(): Double = {
    def spin(n: Long): Long = {
      var x = 0x9E3779B97F4A7C15L; var i = 0L
      while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }
    val warm = spin(20000000L)
    val t0 = System.nanoTime()
    val r = spin(400000000L)
    val dt = (System.nanoTime() - t0) / 1e9
    if (warm == 42L && r == 42L) System.err.print("")
    dt
  }

  def probe(withCpu: Boolean): Probe =
    Probe(graft.BenchGuard.loadAvg1(), if (withCpu) cpuProbe() else -1.0, cpuTicks())

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** The cpu probe trips BenchGuard, or load1 exceeds the core count
    * at the start or the end of the run.
    */
  def contended(start: Probe, end: Probe): Boolean =
    graft.BenchGuard.contended(start.cpuS, graft.BenchGuard.RefCpuProbeSec) ||
      start.load1 > Main.cpus || end.load1 > Main.cpus

  def json(start: Probe, end: Probe): Json.Obj = {
    val ref = graft.BenchGuard.RefCpuProbeSec
    val cpus = Main.cpus
    obj("load1_start" -> start.load1, "load1_end" -> end.load1, "cpu_probe_s" -> start.cpuS,
      "ref_cpu_probe_s" -> ref, "nproc" -> cpus, "steal_share" -> stealShare(start, end),
      "contended" -> contended(start, end))
  }
}

/** The result file: a `summary` object (the line run.py prints) and
  * a `detail` object with sample counts, checks and host health.
  */
object Result {

  val E2e: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "throughput_per_s" -> "1/s")

  /** Engine layers that get spans (plus the benchmark's own "bench"). */
  val SpanLayers: Seq[String] =
    Seq("bench", "pipeline", "parse", "operators", "transform", "serve", "streaming", "functions")

  /** Every per-layer metric of a traced run, with its unit. A layer a
    * workload bypasses reads 0.
    */
  val PerLayer: Seq[(String, String)] =
    SpanLayers.map(l => s"self.${l}_s" -> "s") ++ Seq(
      "pipeline.fetch_batch_s" -> "s", "pipeline.fetch_overhead_s" -> "s",
      "pipeline.process_batch_s" -> "s", "pipeline.process_first_s" -> "s",
      "pipeline.process_last_s" -> "s", "pipeline.jobs" -> "count", "pipeline.shuffle_mb" -> "MB",
      "operators.write_amp" -> "ratio", "operators.stored_mb" -> "MB",
      "operators.publish_s" -> "s", "operators.vacuum_s" -> "s",
      "parse.games_per_s" -> "1/s", "parse.rejected" -> "count", "parse.flatten_s" -> "s") ++
      Refresh.Models10.map(m => s"transform.${m}_s" -> "s") ++ Seq(
      "transform.jobs" -> "count", "transform.shuffle_mb" -> "MB", "transform.spill_mb" -> "MB",
      "transform.task_cpu_share" -> "ratio",
      "pipeline.landed_p50_ms" -> "ms",
      "serve.doc_p50_ms" -> "ms", "serve.generator_late_ms_p50" -> "ms",
      "serve.build_s" -> "s", "serve.jobs_per_request" -> "count",
      "serve.readers_document_ms" -> "ms", "serve.http_overhead_ms" -> "ms",
      "serve.jobs_per_doc" -> "count", "serve.tasks_per_doc" -> "count",
      "streaming.view_s" -> "s", "streaming.bases_s" -> "s", "streaming.compact_s" -> "s",
      "streaming.topk_tick_s" -> "s", "streaming.tick_mean_s" -> "s",
      "streaming.jobs_per_tick" -> "count", "streaming.input_mb_per_tick" -> "MB",
      "streaming.read_amp" -> "ratio",
      "functions.vector_distance_ns" -> "ns", "functions.lsh_bucket_ns" -> "ns",
      "spark.jobs" -> "count", "spark.task_cpu_share" -> "ratio",
      "spark.peak_task_mb" -> "MB", "spark.spill_mb" -> "MB",
      "host.load1_start" -> "load", "host.load1_end" -> "load",
      "host.cpu_probe_s" -> "s", "host.contended" -> "count")

  private val units: Map[String, String] = (E2e ++ PerLayer).toMap

  def unit(metric: String): String = units.getOrElse(metric, "")

  private def metricsJson(m: Seq[(String, Double)]): Json.Obj =
    Json.Obj(m.map { case (k, v) => k -> obj("value" -> v, "unit" -> unit(k)) })

  def build(workload: String, seed: Long, seconds: Int, p: Phase, traced: Boolean,
      processStartS: Double, h0: Host.Probe, h1: Host.Probe): String = {
    val metrics: Seq[(String, Double)] =
      if (!traced) E2e.map { case (k, _) => k -> p.e2e(k) }
      else {
        val measured = p.layers ++ Map(
          "host.load1_start" -> h0.load1, "host.load1_end" -> h1.load1,
          "host.cpu_probe_s" -> h0.cpuS,
          "host.contended" -> (if (Host.contended(h0, h1)) 1.0 else 0.0))
        PerLayer.map { case (k, _) => k -> measured.getOrElse(k, 0.0) }
      }
    val summary = obj(
      "correct" -> p.checks.forall(_._2),
      "attempted" -> p.attempted,
      "failed" -> p.failed,
      "metrics" -> metricsJson(metrics))
    Json.render(obj(
      "summary" -> summary,
      "detail" -> obj(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
        "process_start_s" -> processStartS,
        "host" -> Host.json(h0, h1),
        "e2e" -> metricsJson(E2e.map { case (k, _) => k -> p.e2e(k) }),
        "samples" -> Json.Obj(p.samples.toSeq.sortBy(_._1)),
        "checks" -> p.checks.map { case (n, ok, msg) => obj("check" -> n, "ok" -> ok, "detail" -> msg) },
        "run" -> Json.Obj(p.detail)))) + "\n"
  }

  def writeSpans(file: Path, spans: Spans): Unit =
    Files.write(file, (Json.render(spans.toJson) + "\n").getBytes("UTF-8")): Unit
}
