package perfbench

import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Ivm, TableStore}
import graft.serve.{HttpServe, Neighbors, Readers}
import graft.streaming.JoinViewMaintenance

/** `maintain`: streaming IVM ticks and profile version publishes,
  * with one open-loop reader sending uniform doc requests to an
  * HttpServe pinned to profiles v1 at the same time.
  */
object Maintain extends Workload {

  val P: Gen.MaintainParams = Gen.MaintainParams()
  /** A read slower than this counts as failed. */
  val LatencyLimitMs = 5000.0
  val Keys = Seq("game_id")

  final class State(val gen: Gen.Changelog, val paths: Map[String, String],
      val emb: DataFrame, val pinned: DataFrame, val neighbors: DataFrame,
      val readers: Readers, val server: HttpServe, val buildS: Double)

  def setup(ctx: Ctx): State = {
    val spark = ctx.spark
    import spark.implicits._
    val gen = new Gen.Changelog(ctx.seed, P)
    val paths = Seq("view", "games", "game_categories", "topk_base", "topk_view", "profiles")
      .map(n => n -> ctx.root.resolve(n).toString).toMap
    val a = gen.initialGames.toDF("game_id", "rating")
    val b = gen.initialCats.toDF("game_id", "category_id")
    ctx.spans.span("streaming.JoinViewMaintenance.init") {
      JoinViewMaintenance.init(spark, paths("view"), paths("games"), paths("game_categories"),
        a, b, Keys, inputsDistinct = true)
    }
    val proj = gen.projectionRows.toDF("category_id", "game_id", "rating")
    ctx.spans.span("operators.topk_init") {
      TableStore.publishFoldSnapshot(spark, paths("topk_base"), proj, "tick=-1")
      TableStore.publishFoldSnapshotDistinct(spark, paths("topk_view"),
        Ivm.aggregateTopK(proj, Seq("category_id"), "rating", "game_id", P.topK), "tick=-1")
    }
    val r = Gen.rng(ctx.seed, "maintain-vectors")
    val emb = (0 until P.vectors).map(i => (i.toLong, i % 10, Gen.unitVector(r, 64).toSeq))
      .toDF("vec_id", "label", "v")
    val t = System.nanoTime()
    val v1 = ctx.spans.span("operators.publishVersion") {
      TableStore.publishVersion(spark, paths("profiles"), emb.select("vec_id", "label"))
    }
    val pinned = TableStore.readVersion(spark, paths("profiles"), Some(v1))
    val neighbors = Neighbors.precompute(emb, 10)
    val readers = ctx.spans.span("serve.Readers.new") {
      val rd = new Readers(spark, pinned, neighbors, emb)
      rd.document(0L) // materializes the serving caches
      rd
    }
    val buildS = (System.nanoTime() - t) / 1e9
    val server = new HttpServe(readers)
    server.start()
    new State(gen, paths, emb, pinned, neighbors, readers, server, buildS)
  }

  def teardown(st: State): Unit = {
    st.server.stop()
    st.readers.close()
  }

  final case class Tick(wallS: Double, cost: JoinViewMaintenance.TickCost, topkS: Double,
      publishS: Option[Double], vacuumS: Option[Double], rows: Int)

  /** One tick: applyTick (checkpointing every second tick), topKTick,
    * and every `publishEvery` ticks a new profiles version plus vacuum.
    */
  private def tick(ctx: Ctx, st: State, t: Long): Tick = {
    val spark = ctx.spark
    import spark.implicits._
    val (changes, slice) = st.gen.nextTick()
    val dA = changes.filter(_.side == "a").map(c => (c.gameId, c.kind, c.rating))
      .toDF("game_id", "_change_type", "rating")
    val dB = changes.filter(_.side == "b").map(c => (c.gameId, c.kind, c.categoryId))
      .toDF("game_id", "_change_type", "category_id")
    val sliceDf = slice.toDF("category_id", "game_id", "rating", "_change_type")
    val k0 = System.nanoTime()
    var cost: JoinViewMaintenance.TickCost = null
    ctx.spans.span("streaming.applyTick") {
      JoinViewMaintenance.applyTick(spark, st.paths("view"), st.paths("games"),
        st.paths("game_categories"), dA, dB, Keys, t, onCost = c => cost = c)
    }
    val k1 = System.nanoTime()
    ctx.spans.span("streaming.topKTick") {
      JoinViewMaintenance.topKTick(spark, st.paths("topk_base"), st.paths("topk_view"),
        sliceDf, t, Seq("category_id"), "rating", "game_id", P.topK,
        compactEvery = JoinViewMaintenance.CompactEvery)
    }
    val k2 = System.nanoTime()
    val (pub, vac) =
      if ((t + 1) % P.publishEvery == 0) {
        // a mutated profiles version the pinned reader must never see
        ctx.spans.span("operators.publishVersion") {
          TableStore.publishVersion(spark, st.paths("profiles"),
            st.emb.select(col("vec_id"), (col("label") + 1000 + t).as("label")))
        }
        val k3 = System.nanoTime()
        ctx.spans.span("operators.vacuum") {
          TableStore.vacuum(spark, st.paths("profiles"))
          TableStore.vacuum(spark, st.paths("view"))
        }
        (Some((k3 - k2) / 1e9), Some((System.nanoTime() - k3) / 1e9))
      } else (None, None)
    Tick((System.nanoTime() - k0) / 1e9, cost, (k2 - k1) / 1e9, pub, vac, changes.size)
  }

  /** Reads the schedule holds: more than a run can send at the rate. */
  val MaxReads = 1000

  /** The untimed warm-up tick. Tick ids start here, so it is a
    * checkpoint tick (checkpoints follow odd ticks) and runs every code
    * path of a timed checkpoint cycle once: the first ticks of a
    * process run cold code and took twice as long as later ones.
    */
  val WarmupTick = 1L

  def run(ctx: Ctx, st: State): Phase = {
    val spark = ctx.spark
    val reads = Gen.readSchedule(ctx.seed, P.readsPerSecond, P.vectors, MaxReads)
    val stop = new CountDownLatch(1)
    var done: IndexedSeq[Http.Done] = IndexedSeq.empty
    val reader = new Thread(() => {
      done = Http.openLoop(st.server.boundPort, reads, P.readers, ctx.spans, stop)
    }, "perfbench-reader")
    // the reader runs beside every tick, so each timed tick shares the
    // cores with reads in the same way
    val s0 = ctx.module("serve")
    reader.start()
    val ticks = Seq.newBuilder[Tick]
    var warmup: Tick = null
    val w0 = try {
      warmup = tick(ctx, st, WarmupTick)
      val w = ctx.module("streaming")
      val t0 = System.nanoTime()
      var t = WarmupTick + 1
      // whole checkpoint cycles: an even tick, then a checkpoint tick
      while ((System.nanoTime() - t0) / 1e9 < ctx.seconds || t % 2 == 1) {
        ticks += tick(ctx, st, t)
        t += 1
      }
      w
    } finally {
      stop.countDown()
      reader.join()
    }
    val streamW = ctx.module("streaming") - w0
    val serveW = ctx.module("serve") - s0
    val ts = ticks.result()
    val ok = done.filter(d => d.status == 200 && d.latencyMs <= LatencyLimitMs)
    val lat = done.map(_.latencyMs)
    val checks = check(spark, st, done)
    val readP50 = Stats.percentile(lat, 0.5).getOrElse(-1.0)
    val e2e = Map("throughput_per_s" -> ts.map(_.rows).sum / ts.map(_.wallS).sum)
    val layers = if (!ctx.traced) Map.empty[String, Double] else {
      val perTickIn = streamW.inputBytes.toDouble / ts.size
      Map(
        "streaming.view_s" -> Stats.mean(ts.map(_.cost.viewSec)),
        "streaming.bases_s" -> Stats.mean(ts.map(_.cost.basesSec)),
        "streaming.compact_s" -> Stats.mean(ts.map(_.cost.compactSec)),
        "streaming.topk_tick_s" -> Stats.mean(ts.map(_.topkS)),
        "streaming.tick_mean_s" -> Stats.mean(ts.map(_.wallS)),
        "streaming.jobs_per_tick" -> streamW.jobs.toDouble / ts.size,
        "streaming.input_mb_per_tick" -> perTickIn / 1e6,
        "streaming.read_amp" -> perTickIn / changelogBytes(ctx, ts.size),
        "operators.publish_s" -> Stats.mean(ts.flatMap(_.publishS)),
        "operators.vacuum_s" -> Stats.mean(ts.flatMap(_.vacuumS)),
        "serve.doc_p50_ms" -> readP50,
        "serve.generator_late_ms_p50" -> Stats.percentile(done.map(_.lateMs), 0.5).getOrElse(-1.0),
        "serve.build_s" -> st.buildS,
        "serve.jobs_per_request" -> serveW.jobs.toDouble / done.size) ++
        serial(ctx, st, done.map(_.req)) ++ Functions.layers(ctx)
    }
    Phase(e2e, Map("throughput_per_s" -> ts.size),
      layers, attempted = done.size + 1 + ts.size, failed = done.size - ok.size, checks,
      detail = Seq("warmup_tick_s" -> warmup.wallS, "ticks" -> ts.size, "tick_s" -> ts.map(_.wallS),
        "tick_phases_s" -> ts.map(k => Json.obj("view" -> k.cost.viewSec, "bases" -> k.cost.basesSec,
          "compact" -> k.cost.compactSec, "topk" -> k.topkS, "publish" -> k.publishS, "vacuum" -> k.vacuumS)),
        "tick_mean_s" -> Stats.mean(ts.map(_.wallS)),
        "tick_median_s" -> Stats.median(ts.map(_.wallS)),
        "reads" -> done.size, "read_p50_ms" -> readP50, "read_latency_ms" -> lat,
        "tail" -> Stats.highestTail(lat).map(t => Json.obj("q" -> t._1, "ms" -> t._2)),
        "params" -> P.toString, "latency_limit_ms" -> LatencyLimitMs))
  }

  /** The same reads one at a time, first as direct Readers calls (with
    * the Spark work a doc costs), then over HTTP from one client, whose
    * p50 minus the direct p50 is HTTP's share.
    */
  private def serial(ctx: Ctx, st: State, reqs: Seq[Gen.Req]): Map[String, Double] = {
    val ids = reqs.map(_.path.stripPrefix("/games/").toLong)
    val w0 = ctx.work
    val direct = ids.map { id =>
      val t = System.nanoTime()
      ctx.spans.span("serve.Readers.document") { Http.expectedDoc(st.readers, id) }
      (System.nanoTime() - t) / 1e6
    }
    val w = ctx.work - w0
    val client = java.net.http.HttpClient.newBuilder()
      .version(java.net.http.HttpClient.Version.HTTP_1_1).build()
    val http = reqs.map { q =>
      val t = System.nanoTime()
      ctx.spans.span("serve.http_doc_serial") { Http.get(client, st.server.boundPort, q.path) }
      (System.nanoTime() - t) / 1e6
    }
    def p50(xs: Seq[Double]) = Stats.percentile(xs, 0.5).getOrElse(-1.0)
    Map(
      "serve.readers_document_ms" -> p50(direct),
      "serve.http_overhead_ms" -> (p50(http) - p50(direct)),
      "serve.jobs_per_doc" -> w.jobs.toDouble / ids.size,
      "serve.tasks_per_doc" -> w.tasks.toDouble / ids.size)
  }

  /** Parquet size of one tick's changelog rows (mean over `ticks`
    * freshly generated ticks of the same seed).
    */
  private def changelogBytes(ctx: Ctx, ticks: Int): Double = {
    val spark = ctx.spark
    import spark.implicits._
    val gen = new Gen.Changelog(ctx.seed, P)
    val rows = (0 to ticks).flatMap(_ => gen.nextTick()._1)
      .map(c => (c.side, c.gameId, c.kind, c.rating, c.categoryId))
    val p = ctx.root.resolve("changelog-size").toString
    rows.toDF().coalesce(1).write.parquet(p)
    Option(new java.io.File(p).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
      .map(_.length()).sum.toDouble / (ticks + 1)
  }

  private def check(spark: SparkSession, st: State, done: Seq[Http.Done]): Seq[(String, Boolean, String)] = {
    import spark.implicits._
    val a = st.gen.games.toSeq.sorted.toDF("game_id", "rating")
    val b = st.gen.catRows.toDF("game_id", "category_id")
    def rows(df: DataFrame, cols: Seq[String]) =
      df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    val viewCols = Seq("game_id", "rating", "category_id", "_mult")
    val view = rows(JoinViewMaintenance.currentView(spark, st.paths("view")), viewCols)
    val want = rows(Ivm.joinView(a, b, Keys), viewCols)
    val proj = st.gen.projectionRows.toDF("category_id", "game_id", "rating")
    val topkCols = Seq("category_id", "topk")
    val topk = rows(TableStore.readFolded(spark, st.paths("topk_view")), topkCols)
    val topkWant = rows(Ivm.aggregateTopK(proj, Seq("category_id"), "rating", "game_id", P.topK), topkCols)
    // the v1 document of every profile, composed as Readers.document does
    val neigh = st.neighbors.collect().map(r => r.getLong(r.fieldIndex("vec_id")) ->
      r.getSeq[Row](r.fieldIndex("similar"))).toMap
    val baseline = st.pinned.collect().map { row =>
      val id = row.getLong(row.fieldIndex("vec_id"))
      val base = row.schema.fieldNames.zip(row.toSeq).toMap
      id -> Http.js(base + ("similar" -> neigh.getOrElse(id, Seq.empty)))
    }.toMap
    val sample = Seq(0L, 1L, P.vectors / 2L, P.vectors - 1L)
    val direct = sample.filter(id => Http.expectedDoc(st.readers, id) != baseline.get(id))
    val badReads = done.filter(d => d.status == 200 &&
      !baseline.get(d.req.path.stripPrefix("/games/").toLong).contains(d.body))
    Seq(
      ("currentView == Ivm.joinView(final bases)", view == want, s"${view.size} vs ${want.size} rows"),
      ("top-k view == recomputed top-k", topk == topkWant, s"${topk.size} vs ${topkWant.size} groups"),
      ("v1 baseline == direct Readers.document", direct.isEmpty, s"differs for $direct"),
      ("every read == v1 baseline", badReads.isEmpty,
        s"${badReads.size} of ${done.size} differ${badReads.headOption.map(d => s", e.g. ${d.req.path}").getOrElse("")}"))
  }
}
