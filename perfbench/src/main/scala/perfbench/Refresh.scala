package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{TableStore, TransformDag}
import graft.operators.TransformDag.Node
import graft.parse.{BggParser, Flatten}
import graft.pipeline.FetchPipeline
import graft.transform.Models

/** `refresh`: batch ELT of generated BGG payloads through FetchPipeline
  * (fetchBatch / processBatch alternating, as the scheduled runs do)
  * and then the full Models DAG, each model materialized with a noop
  * write. Cycles repeat on a fresh store until the run time is used.
  */
object Refresh extends Workload {

  val P: Gen.RefreshParams = Gen.RefreshParams()

  /** The models the DAG materializes, in run order. */
  val Models10: Seq[String] = Seq("games_active", "games_features", "player_count_recs",
    "best_player_counts", "filter_options", "dropdown", "features_hash", "game_profile",
    "similarity_search", "game_neighbors")

  val T0: Timestamp = Timestamp.valueOf("2026-01-01 00:00:00")
  private def at(hours: Int) = new Timestamp(T0.getTime + hours * 3600000L)

  final class State(val input: Gen.RefreshInput, val landing: Map[String, DataFrame])

  def setup(ctx: Ctx): State = {
    val spark = ctx.spark
    import spark.implicits._
    val in = Gen.refresh(ctx.seed, P)
    val ts = at(-24)
    val emb = in.embeddings.map { case (id, v) => (id, in.specs.find(_.id == id).get.name,
      2000, v.toSeq, "game-emb", 2L, "svd", v.length, ts, 7L) }
      .toDF("game_id", "name", "year_published", "embedding", "embedding_model",
        "embedding_version", "algorithm", "embedding_dim", "created_ts", "job_id")
    // an older embedding version the model must ignore
    val oldEmb = in.embeddings.take(20).map { case (id, v) => (id, "old", 1999, v.reverse.toSeq,
      "game-emb", 1L, "svd", v.length, at(-48), 3L) }
      .toDF(emb.columns.toIndexedSeq: _*)
    val preds = in.specs.flatMap(s => Seq(
      (1L, s.id, at(-48), 6.0, 0.5, 2.0, 100.0, 6.0),
      (2L, s.id, ts, 6.5 + (s.id % 7) / 10.0, 0.7, 2.5, 300.0, 6.3)))
      .toDF("job_id", "game_id", "score_ts", "predicted_rating", "predicted_hurdle",
        "predicted_complexity", "predicted_users_rated", "predicted_geek_rating")
    val coords = in.specs.map(s => (s.id, (s.id % 97) / 97.0, (s.id % 89) / 89.0,
      (s.id % 83) / 83.0, (s.id % 79) / 79.0, "umap-game-emb", 2L, ts))
      .toDF("game_id", "umap_1", "umap_2", "pca_1", "pca_2", "embedding_model",
        "embedding_version", "created_ts")
    val cx = in.complexity.toSeq.sorted.map { case (id, c) => (3L, id, ts, c) }
      .toDF("job_id", "game_id", "score_ts", "predicted_complexity")
    // the ML landing tables live in the warehouse like the core tables
    val landing = Map("embeddings" -> emb.unionByName(oldEmb), "predictions" -> preds,
      "coordinates" -> coords, "complexity" -> cx).map { case (name, df) =>
      val p = ctx.dir("landing").resolve(name).toString
      df.write.parquet(p)
      name -> spark.read.parquet(p)
    }
    new State(in, landing)
  }

  def teardown(st: State): Unit = ()

  /** One refresh cycle's measurements. */
  final case class Cycle(wallS: Double, landedAtS: Seq[Double], fetchS: Seq[Double],
      fetchOverheadS: Seq[Double], processS: Seq[Double], modelS: Map[String, Double],
      root: String, models: Map[String, DataFrame], fetchAttempts: Int, dagWork: Work)

  def cycle(ctx: Ctx, st: State, n: Int): Cycle = {
    val spark = ctx.spark
    import spark.implicits._
    val in = st.input
    val byId = in.payloads.map(p => p.id -> p).toMap
    val attempts = scala.collection.mutable.Map[Long, Int]().withDefaultValue(0)
    var inFetchNs = 0L
    var landedNow = Seq.empty[Long] // valid games fetched in this cycle
    val fetch: Seq[Long] => Seq[FetchPipeline.Fetched] = ids => ctx.spans.span("bench.fetch_standin") {
      val t = System.nanoTime()
      val out = ids.map { id =>
        val p = byId(id)
        attempts(id) += 1
        if (p.failsFirst && attempts(id) == 1) FetchPipeline.Fetched(id, "", success = false)
        else FetchPipeline.Fetched(id, p.json, success = true)
      }
      landedNow ++= out.filter(f => f.success && byId(f.gameId).valid).map(_.gameId)
      inFetchNs += System.nanoTime() - t
      out
    }
    val root = ctx.dir(s"cycle-$n").toString
    val pipe = new FetchPipeline(spark, root, fetch, batchSize = P.fetchBatchSize)
    pipe.seedIds(in.payloads.map(_.id).toDF("game_id"))
    val landedAt = Seq.newBuilder[Double]
    val fetchS, overS, procS = Seq.newBuilder[Double]
    val c0 = System.nanoTime()
    // fetch until the work queue is empty (the failed first fetches are
    // claimed again once the pipeline's retry delay has passed), then
    // process everything fetched
    var k = 0
    var more = true
    while (more) {
      val calls = attempts.values.sum
      val f0 = System.nanoTime(); inFetchNs = 0L
      ctx.spans.span("pipeline.fetchBatch") { pipe.fetchBatch(at(2 * k)) }
      val fS = (System.nanoTime() - f0) / 1e9
      if (attempts.values.sum == calls) more = false
      else { fetchS += fS; overS += fS - inFetchNs / 1e9; k += 1 }
    }
    val p0 = System.nanoTime()
    ctx.spans.span("pipeline.processBatch") { pipe.processBatch(at(2 * k)) }
    val end = System.nanoTime()
    procS += (end - p0) / 1e9
    landedAt ++= landedNow.map(_ => (end - c0) / 1e9)
    val now = at(2 * k)
    val dag = ctx.spans.span("transform.TransformDag.run") {
      TransformDag.run(nodes(spark, root, st.landing, now), sources = Map("games" -> pipe.core("games")))
    }
    val w0 = ctx.work
    val modelS = materialize(ctx, dag)
    val wall = (System.nanoTime() - c0) / 1e9
    Cycle(wall, landedAt.result(), fetchS.result(), overS.result(),
      procS.result(), modelS, root, dag, attempts.values.sum, ctx.work - w0)
  }

  /** Materialize the models with noop writes on `cpus` threads, as a
    * scheduled Dataform run executes independent models concurrently.
    * Returns each model's wall.
    */
  private def materialize(ctx: Ctx, dag: Map[String, DataFrame]): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[String](Models10.asJava)
    val walls = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    @volatile var failure: Option[Throwable] = None
    val threads = (0 until ctx.cpus).map { i =>
      val th = new Thread(() => {
        var m = queue.poll()
        while (m != null && failure.isEmpty) {
          val t = System.nanoTime()
          try ctx.spans.span(s"transform.$m") { dag(m).write.format("noop").mode("overwrite").save() }
          catch { case e: Throwable => failure = Some(e) }
          walls.put(m, (System.nanoTime() - t) / 1e9)
          m = queue.poll()
        }
      }, s"perfbench-model-$i")
      th.start(); th
    }
    threads.foreach(_.join())
    failure.foreach(e => throw e)
    Models10.map(m => m -> walls.get(m)).toMap
  }

  /** The Dataform model graph over the pipeline's core tables and the
    * ML landing tables.
    */
  def nodes(spark: SparkSession, root: String, landing: Map[String, DataFrame],
      now: Timestamp): Seq[Node] = {
    def core(t: String) = TableStore.read(spark, s"$root/core/$t")
    def ent(kind: String, idCol: String) = (core(s"game_$kind"), core(kind), idCol)
    val today = new java.sql.Date(now.getTime)
    Seq(
      Node("games_active", Seq("games"), in => Models.gamesActive(in("games"), now)),
      Node("games_features", Seq("games_active"), in =>
        Models.gamesFeatures(in("games_active"), Map(
          "categories" -> ent("categories", "category_id"),
          "mechanics" -> ent("mechanics", "mechanic_id"),
          "publishers" -> ent("publishers", "publisher_id"),
          "designers" -> ent("designers", "designer_id"),
          "artists" -> ent("artists", "artist_id"),
          "families" -> ent("families", "family_id")), now)),
      Node("player_count_recs", Seq("games_active"), in =>
        Models.playerCountRecommendations(in("games_active"), core("player_counts"))),
      Node("best_player_counts", Seq("games_active"), in =>
        Models.bestPlayerCounts(in("games_active"), core("player_counts"), now)),
      Node("filter_options", Seq("games_active"), in =>
        Models.filterOptionsCombined(Seq(
          ("category", "category_id", "categories"), ("mechanic", "mechanic_id", "mechanics"),
          ("designer", "designer_id", "designers"), ("publisher", "publisher_id", "publishers"))
          .map { case (t, idCol, kind) =>
            (t, idCol, Models.filterEntities(core(kind), core(s"game_$kind"),
              in("games_active"), idCol, 500))
          })),
      Node("dropdown", Seq("games_active"), in => Models.gameDropdownOptions(in("games_active"))),
      Node("features_hash", Seq("games_features"), in =>
        Models.gameFeaturesHash(in("games_features"), None, now)),
      Node("first_prediction", Nil, _ => Models.gameFirstPrediction(landing("predictions"))),
      Node("predictions", Seq("first_prediction"), in =>
        Models.bggPredictions(landing("predictions"), in("first_prediction"), today)),
      Node("coordinates", Nil, _ => Models.bggGameCoordinates(landing("coordinates"))),
      Node("game_profile", Seq("games_features", "player_count_recs", "predictions", "coordinates"),
        in => Models.gameProfile(in("games_features"), in("player_count_recs"),
          in("predictions"), in("coordinates"),
          TableStore.read(spark, s"$root/fetched_responses"))),
      Node("game_embeddings", Nil, _ => Models.bggGameEmbeddings(landing("embeddings"))),
      Node("complexity", Nil, _ => Models.bggComplexityPredictions(landing("complexity"))),
      Node("similarity_search", Seq("game_embeddings", "games_features", "complexity"), in =>
        Models.gameSimilaritySearch(in("game_embeddings"), in("games_features"), in("complexity"))),
      Node("game_neighbors", Seq("similarity_search"), in =>
        Models.gameNeighbors(in("similarity_search"), Seq(Models.SimilarityProfile()), now)))
  }

  def run(ctx: Ctx, st: State): Phase = {
    val spark = ctx.spark
    val in = st.input
    val valid = in.specs.size
    val pipe0 = ctx.module("pipeline")
    val cycles = Seq.newBuilder[Cycle]
    val t0 = System.nanoTime()
    var n = 0
    while (n == 0 || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      cycles += ctx.spans.span("bench.cycle") { cycle(ctx, st, n) }
      n += 1
    }
    val cs = cycles.result()
    val pipeWork = ctx.module("pipeline") - pipe0
    val last = cs.last
    val checks = check(spark, st, last, ctx.seed)
    val landed = cs.flatMap(_.landedAtS).map(_ * 1000)
    val e2e = Map("throughput_per_s" -> Stats.median(cs.map(c => valid / c.wallS)))
    val layers = if (!ctx.traced) Map.empty[String, Double] else {
      val storedBytes = du(new java.io.File(last.root))
      Map("pipeline.landed_p50_ms" -> Stats.percentile(landed, 0.5).getOrElse(-1.0)) ++
        pipelineLayers(cs, pipeWork, storedBytes) ++ parseLayers(ctx, st) ++ transformLayers(cs) ++
        Functions.layers(ctx)
    }
    Phase(e2e, Map("throughput_per_s" -> cs.size), layers,
      attempted = cs.map(_.fetchAttempts.toLong).sum + cs.size * Models10.size,
      failed = 0L, checks,
      detail = Seq("cycles" -> cs.size, "cycle_wall_s" -> cs.map(_.wallS),
        "batches_per_cycle" -> cs.map(_.processS.size),
        "fetch_batch_s" -> cs.map(_.fetchS), "process_batch_s" -> cs.map(_.processS),
        "landed_tail" -> Stats.highestTail(landed).map(t => Json.obj("q" -> t._1, "ms" -> t._2)),
        "model_s" -> Json.Obj(Models10.map(m => m -> Stats.median(cs.map(_.modelS(m))))),
        "games" -> P.games, "valid_games" -> valid, "malformed" -> in.malformed,
        "params" -> P.toString))
  }

  private def du(f: java.io.File): Long =
    if (f.isFile) f.length() else Option(f.listFiles()).toSeq.flatten.map(du).sum

  private def pipelineLayers(cs: Seq[Cycle], w: Work, storedBytes: Long): Map[String, Double] = {
    Map(
      "pipeline.fetch_batch_s" -> Stats.mean(cs.flatMap(_.fetchS)),
      "pipeline.fetch_overhead_s" -> Stats.mean(cs.flatMap(_.fetchOverheadS)),
      "pipeline.process_batch_s" -> Stats.mean(cs.flatMap(_.processS)),
      "pipeline.process_first_s" -> Stats.median(cs.map(_.processS.head)),
      "pipeline.process_last_s" -> Stats.median(cs.map(_.processS.last)),
      "pipeline.jobs" -> w.jobs.toDouble / cs.size,
      "pipeline.shuffle_mb" -> w.shuffleMb / cs.size,
      "operators.write_amp" -> (w.outputBytes.toDouble / cs.size) / storedBytes,
      "operators.stored_mb" -> storedBytes / 1e6)
  }

  /** The parse layer on its own: a single-thread in-process loop over the
    * same payloads, then Flatten over the parsed games.
    */
  private def parseLayers(ctx: Ctx, st: State): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val payloads = st.input.payloads
    val t0 = System.nanoTime()
    val parsed = ctx.spans.span("parse.BggParser.processGame") {
      payloads.map(p => BggParser.processGame(p.id, p.json, "boardgame", T0))
    }
    val parseS = (System.nanoTime() - t0) / 1e9
    val ok = parsed.flatten
    val t1 = System.nanoTime()
    ctx.spans.span("parse.Flatten.toTables") {
      Flatten.toTables(spark.createDataset(ok)).values
        .foreach(_.write.format("noop").mode("overwrite").save())
    }
    Map(
      "parse.games_per_s" -> payloads.size / parseS,
      "parse.rejected" -> parsed.count(_.isEmpty).toDouble,
      "parse.flatten_s" -> (System.nanoTime() - t1) / 1e9)
  }

  private def transformLayers(cs: Seq[Cycle]): Map[String, Double] = {
    val w = cs.map(_.dagWork).reduce(_ + _)
    Models10.map(m => s"transform.${m}_s" -> Stats.median(cs.map(_.modelS(m)))).toMap ++ Map(
      "transform.jobs" -> w.jobs.toDouble / cs.size,
      "transform.shuffle_mb" -> w.shuffleMb / cs.size,
      "transform.spill_mb" -> w.spillBytes / 1e6 / cs.size,
      "transform.task_cpu_share" -> (if (w.runMs > 0) w.cpuMs / w.runMs else 0.0))
  }

  // ------------------------------------------------------------ checks

  private def check(spark: SparkSession, st: State, c: Cycle, seed: Long): Seq[(String, Boolean, String)] = {
    val in = st.input
    val pipe = new FetchPipeline(spark, c.root, _ => Nil)
    // every row count in one Spark job
    val counted: Seq[(String, DataFrame, Long)] =
      Seq(("core.games rows", pipe.core("games"), in.specs.size.toLong),
        ("games_active rows", c.models("games_active"), in.specs.size.toLong),
        ("parse_error rows", spark.read.parquet(s"${c.root}/processed_responses")
          .filter(col("status") === "parse_error"), in.malformed.toLong)) ++
      Flatten.EntityKinds.flatMap { case (kind, idCol) =>
        Seq((s"core.$kind rows", pipe.core(kind).select(idCol).distinct(), in.dimCounts(kind)),
          (s"core.game_$kind rows", pipe.core(s"game_$kind"), in.bridgeCounts(kind)))
      }
    val got = counted.map { case (n, df, _) => df.agg(count(lit(1)).as("n")).select(lit(n).as("name"), col("n")) }
      .reduce(_ unionByName _).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val counts = counted.map { case (n, _, want) => (n, got(n) == want, s"got ${got(n)}, want $want") }
    val rejected = in.payloads.count(p => BggParser.processGame(p.id, p.json, "boardgame", T0).isEmpty)
    counts ++ Seq(("parser rejects == malformed payloads", rejected == in.malformed,
      s"got $rejected, want ${in.malformed}"), neighborsCheck(st, c, seed))
  }

  /** game_neighbors on a seeded sample of sources equals a plain-Scala
    * brute-force cosine top-k within the complexity band.
    */
  private def neighborsCheck(st: State, c: Cycle, seed: Long): (String, Boolean, String) = {
    val prof = Models.SimilarityProfile()
    val in = st.input
    val emb = in.embeddings.toMap
    val cand = in.specs.filter(s => s.usersRated >= prof.minUsersRated && in.complexity.contains(s.id))
    val r = Gen.rng(seed, "neighbors-sample")
    val sample = Iterator.continually(cand(r.nextInt(cand.size)).id).distinct.take(25).toSeq
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = sample.map { src =>
      val cx = in.complexity(src)
      src -> cand.filter { s =>
        val n = in.complexity(s.id)
        s.id != src && n >= cx - prof.complexityBand && n <= cx + prof.complexityBand
      }
        .map(s => (cos(emb(src), emb(s.id)), s.id)).sorted.take(prof.topK).map(_._2)
    }.toMap
    val got = c.models("game_neighbors").filter(col("game_id").isin(sample: _*))
      .select(col("game_id"), col("similar.game_id").as("ids")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val bad = sample.filter(s => got.getOrElse(s, Nil) != want(s))
    ("game_neighbors == brute-force top-k (25 sampled sources)", bad.isEmpty,
      if (bad.isEmpty) "ok" else s"mismatch for ${bad.take(3).map(s => s"$s: got ${got.get(s)}, want ${want(s)}")}")
  }
}
