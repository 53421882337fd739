package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one measured phase of a workload produced. `e2e` holds the
  * end-to-end metrics, `layers` the per-layer ones (traced phases
  * only), `samples` the sample count behind each figure.
  */
final case class Phase(
    e2e: Map[String, Double],
    samples: Map[String, Int],
    layers: Map[String, Double],
    attempted: Long,
    failed: Long,
    checks: Seq[(String, Boolean, String)],
    detail: Seq[(String, Any)] = Nil)

/** Everything a workload needs for one phase. */
final class Ctx(val spark: SparkSession, val root: Path, val seed: Long,
    val seconds: Int, val spans: Spans, val listener: Option[WorkListener]) {
  val cpus: Int = Main.cpus
  def traced: Boolean = spans.enabled
  /** Wait until the listener has seen every job so far (traced only). */
  def settle(): Unit = listener.foreach(_.settle(spark.sparkContext))
  def work: Work = { settle(); listener.map(_.snapshot).getOrElse(Work()) }
  def module(m: String): Work = { settle(); listener.map(_.module(m)).getOrElse(Work()) }
  def dir(name: String): Path = Files.createDirectories(root.resolve(name))
}

trait Workload {
  type State
  /** One set-up: build every input and state the timed part needs. */
  def setup(ctx: Ctx): State
  /** Undo a set-up whose state will not be used. */
  def teardown(state: State): Unit
  /** The timed part and its output checks. */
  def run(ctx: Ctx, state: State): Phase
}

/** Benchmark entry point: `perfbench.Main <workload> <seed> <seconds>
  * <trace 0|1> <result-file> <work-dir>`. Writes one JSON result file;
  * perfbench/run.py prints its summary line.
  */
object Main {

  private val started = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2fs] $msg")

  val cpus: Int = Runtime.getRuntime.availableProcessors()
  val SetupReps = 3

  val workloads: Map[String, Workload] =
    Map("refresh" -> Refresh, "maintain" -> Maintain)

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, resultFile, workDir) = args
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val t0 = System.nanoTime()
    val workload = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val trace = traceS == "1"
    val work = Files.createDirectories(Paths.get(workDir))
    val host0 = Host.probe(withCpu = true)
    val spark = session(work)
    val processStartS = (System.nanoTime() - t0) / 1e9
    // the engine's HTTP shell leaves non-daemon pool threads behind, so
    // the process ends with an explicit exit once Spark has stopped
    var code = 1
    try {
      // a traced run measures only the traced phase; run.py compares
      // its end-to-end figures with this checkout's untraced runs
      val p = phase(spark, workload, work.resolve("phase"), seed, seconds,
        if (trace) Some(Paths.get(resultFile + ".spans.json")) else None)
      val host1 = Host.probe(withCpu = false)
      val out = Result.build(name, seed, seconds, p, trace, processStartS, host0, host1)
      Files.write(Paths.get(resultFile), out.getBytes("UTF-8"))
      code = 0
    } catch {
      case e: Throwable => e.printStackTrace()
    } finally {
      spark.stop()
      sys.exit(code)
    }
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s)
    s
  }

  /** Set up [[SetupReps]] times (the last set-up's state is kept), then
    * run the timed part once. With `spansFile` the phase is traced and
    * its spans are written there when it ends.
    */
  def phase(spark: SparkSession, w: Workload, root: Path, seed: Long,
      seconds: Int, spansFile: Option[Path]): Phase = {
    val traced = spansFile.isDefined
    val spans = new Spans(traced)
    val listener = if (traced) Some(new WorkListener) else None
    // a deeper call-site stack lets the listener see which engine
    // modules submitted each stage
    if (traced) System.setProperty("spark.callstack.depth", "200")
    listener.foreach(spark.sparkContext.addSparkListener)
    try {
      val ctx = new Ctx(spark, Files.createDirectories(root), seed, seconds, spans, listener)
      val setups = (1 to SetupReps).map { rep =>
        log(s"setup $rep (traced=$traced)")
        val t = System.nanoTime()
        val st = spans.span("bench.setup") { w.setup(new Ctx(spark,
          Files.createDirectories(root.resolve(s"setup-$rep")), seed, seconds, spans, listener)) }
        (st, (System.nanoTime() - t) / 1e9)
      }
      setups.init.foreach(s => w.teardown(s._1))
      log("timed run")
      val p = try w.run(ctx, setups.last._1) finally w.teardown(setups.last._1)
      log("done")
      val setupS = setups.map(_._2)
      val tot = ctx.work
      val sparkLayers = Map("spark.jobs" -> tot.jobs.toDouble,
        "spark.task_cpu_share" -> (if (tot.runMs > 0) tot.cpuMs / tot.runMs else 0.0),
        "spark.peak_task_mb" -> tot.peakTaskBytes / 1e6, "spark.spill_mb" -> tot.spillBytes / 1e6)
      p.copy(
        e2e = p.e2e + ("setup_s" -> Stats.median(setupS)) + ("peak_rss_mb" -> Host.peakRssMb()),
        samples = p.samples + ("setup_s" -> SetupReps),
        detail = p.detail :+ ("setup_s_each" -> setupS),
        layers = if (traced) p.layers ++ sparkLayers ++
                   spans.selfSecondsByLayer.map { case (l, v) => s"self.${l}_s" -> v }
                 else p.layers)
    } finally {
      listener.foreach(spark.sparkContext.removeSparkListener)
      System.clearProperty("spark.callstack.depth")
      spansFile.foreach(Result.writeSpans(_, spans))
    }
  }
}
