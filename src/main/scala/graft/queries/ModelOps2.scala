package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Scratch

import graft.transform.Models
import ModelOps._

/** Transform-layer oracle gates, part 2 — the remaining Dataform
  * models, same fixture discipline as [[ModelOps]] (shared games /
  * player_counts / entity fixtures; DuckDB oracles independently
  * re-implement each reference SQLX over the same VALUES).
  *
  *   - t19 `player_count_recommendations`
  *     (definitions/player_count_recommendations.sqlx:6-40): vote
  *     percentages per (game, count), inner-join to active games.
  *   - t20 `bgg_predictions` + `game_first_prediction`
  *     (bgg_predictions.sqlx:8-52, game_first_prediction): dedup the
  *     landing to the latest score per game (score_ts DESC, job_id
  *     DESC), freshness flags from DATE_DIFF against an injected today.
  *   - t21 `game_features_hash` (game_features_hash.sqlx:9-46): change
  *     detection across two feature GENERATIONS — the hash value is
  *     engine-specific (xxhash64 vs FARM_FINGERPRINT, SURVEY §7.3), so
  *     the gate checks the SEMANTICS: unchanged features keep the old
  *     timestamp (including a users_rated change, which is OUTSIDE the
  *     hashed struct — pinning hash scope), changed features and new
  *     games get the new one, NULL-year games are excluded.
  *   - t22 `game_profile` (game_profile.sqlx:22-113): ordered nested
  *     player-count block (gated via first-element fields + size) and
  *     the null-guarded provenance struct (latest fetch by
  *     max(struct)).
  *   - t23 `game_neighbors` (game_neighbors.sqlx:31-86 + js PROFILES):
  *     candidate floor, complexity band self-join, native
  *     vector_distance COSINE, per-source rank, top-k ordered neighbor
  *     structs, one branch per profile unioned — gated as rank-ordered
  *     '|'-joined neighbor ids per (profile, game). The fixture plants
  *     an exact duplicate embedding so a true distance tie exercises
  *     the nbr_game_id tiebreak identically in both engines.
  *   - t24 `bgg_game_embeddings` (bgg_game_embeddings.sqlx:11-43):
  *     latest-version-only filter (P10) + latest-row-per-game dedup.
  *   - t25 `user_collection_predictions`
  *     (user_collection_predictions.sqlx): landing joined to ACTIVE
  *     registry models on the composite key, deduped per (username,
  *     game, outcome), registry metadata rejoined.
  *   - t26 `filter_*` + `filter_options_combined`
  *     (filter_categories.sqlx:6-17, filter_options_combined): top-N
  *     entities by distinct rated games, unioned under a discriminator.
  *   - t27 `game_dropdown_options` (game_dropdown_options.sqlx:9-17):
  *     top-N by COALESCE(bayes_average, 0).
  */
object ModelOps2 {

  private val today = java.sql.Date.valueOf("2026-01-10")
  private val tHash1 = ts("2026-01-05 00:00:00")
  private val tHash2 = ts("2026-01-06 00:00:00")

  // ---- predictions / embeddings / registry fixtures ----------------

  /** (job_id, game_id, score_ts, predicted_rating). Game 1: three rows,
    * two sharing the max score_ts (job tiebreak); game 2 first-seen
    * today (new_1d); game 3 first-seen 5 days ago (new_7d only).
    */
  val predLanding: Seq[(Long, Long, java.sql.Timestamp, Double)] = Seq(
    (1L, 1L, ts("2026-01-02 10:00:00"), 7.00),
    (2L, 1L, ts("2026-01-09 10:00:00"), 7.25),
    (3L, 1L, ts("2026-01-09 10:00:00"), 7.50),
    (4L, 2L, ts("2026-01-10 05:00:00"), 6.00),
    (5L, 3L, ts("2026-01-05 00:00:00"), 5.50),
    (6L, 3L, ts("2026-01-07 00:00:00"), 5.00))

  private def predDf(s: SparkSession): DataFrame = {
    import s.implicits._
    predLanding.toDF("job_id", "game_id", "score_ts", "predicted_rating")
  }

  /** (game_id, embedding_version, created_ts, job_id). Game 1 has a
    * stale v1 row and a same-ts job tie on v2; game 3 exists ONLY at
    * v1 — the version filter must drop it entirely.
    */
  val embLanding: Seq[(Long, Long, java.sql.Timestamp, Long)] = Seq(
    (1L, 1L, ts("2026-01-01 00:00:00"), 10L),
    (1L, 2L, ts("2026-01-03 00:00:00"), 11L),
    (1L, 2L, ts("2026-01-03 00:00:00"), 12L),
    (2L, 2L, ts("2026-01-02 00:00:00"), 13L),
    (3L, 1L, ts("2026-01-04 00:00:00"), 14L))

  private def embDf(s: SparkSession): DataFrame = {
    import s.implicits._
    embLanding.toDF("game_id", "embedding_version", "created_ts", "job_id")
  }

  /** (game_id, umap_1, umap_2, pca_1, pca_2, embedding_model,
    * embedding_version, created_ts). Game 1: a stale v1 row, an older
    * v2 row and a newer v2 row — the version filter keeps both v2
    * rows, the created_ts dedup keeps the newer; game 2: one v2 row;
    * game 3: v1 ONLY — the version filter drops the game entirely
    * (bgg_game_coordinates.sqlx:8-28); game 4 absent. Coordinate
    * values are binary-exact decimals so the double columns survive
    * the cell-exact oracle compare.
    */
  val coordLanding: Seq[(Long, Double, Double, Double, Double, String,
      Long, java.sql.Timestamp)] = Seq(
    (1L, 0.125, 0.250, 1.500, -0.500, "umap-m1", 1L, ts("2026-01-01 00:00:00")),
    (1L, 0.250, 0.750, 1.250, -0.250, "umap-m2", 2L, ts("2026-01-02 00:00:00")),
    (1L, 0.500, 0.625, 1.000, -1.000, "umap-m2", 2L, ts("2026-01-04 00:00:00")),
    (2L, -0.750, 0.125, 2.000, 0.250, "umap-m2", 2L, ts("2026-01-03 00:00:00")),
    (3L, 0.375, 0.875, 0.500, 0.750, "umap-m1", 1L, ts("2026-01-05 00:00:00")))

  private def coordDf(s: SparkSession): DataFrame = {
    import s.implicits._
    coordLanding.toDF("game_id", "umap_1", "umap_2", "pca_1", "pca_2",
      "embedding_model", "embedding_version", "created_ts")
  }

  private def coordValues: String =
    coordLanding.map { case (g, u1, u2, p1, p2, m, v, t) =>
      s"($g, ${sqlD(u1)}, ${sqlD(u2)}, ${sqlD(p1)}, ${sqlD(p2)}, " +
        s"${sqlS(m)}, $v, ${sqlTs(t)})"
    }.mkString(",\n    ")

  /** Description-embedding landing rows, split into the initial load
    * and a later increment (every increment row strictly newer than
    * gen-1's max created_ts, so the sqlx:30 strict-`>` watermark
    * passes them all and incremental == full is provable). Gen 1:
    * game 1 has a stale-version row (version filter drops it) and a
    * current row; game 2 has a same-instant job tie (job_id DESC
    * breaks it). Gen 2: game 1 updated, game 3 new.
    * (game_id, name, embedding, embedding_model, embedding_version,
    * embedding_dim, algorithm, document_method, created_ts, job_id).
    */
  type DescEmbRow = (Long, String, Seq[Double], String, Long, Long,
    String, String, java.sql.Timestamp, Long)
  val descEmbGen1: Seq[DescEmbRow] = Seq(
    (1L, "Alpha", Seq(0.125, 0.25), "text-m1", 1L, 2L, "umap", "concat",
      ts("2026-01-01 00:00:00"), 0L),
    (1L, "Alpha", Seq(0.5, 0.75), "text-m2", 2L, 2L, "umap", "concat",
      ts("2026-01-02 00:00:00"), 1L),
    (2L, "Beta", Seq(-0.25, 0.375), "text-m2", 2L, 2L, "umap", "concat",
      ts("2026-01-03 00:00:00"), 2L),
    (2L, "Beta", Seq(-0.5, 0.625), "text-m2", 2L, 2L, "umap", "concat",
      ts("2026-01-03 00:00:00"), 5L))
  val descEmbGen2: Seq[DescEmbRow] = Seq(
    (1L, "Alpha", Seq(0.875, -0.125), "text-m2", 2L, 2L, "umap", "concat",
      ts("2026-01-05 00:00:00"), 6L),
    (3L, "Gamma", Seq(0.0, 1.0), "text-m2", 2L, 2L, "umap", "concat",
      ts("2026-01-04 00:00:00"), 7L))

  private def descEmbDf(s: SparkSession, rows: Seq[DescEmbRow]): DataFrame = {
    import s.implicits._
    rows.toDF("game_id", "name", "embedding", "embedding_model",
      "embedding_version", "embedding_dim", "algorithm", "document_method",
      "created_ts", "job_id")
  }

  private def descEmbValues(rows: Seq[DescEmbRow]): String =
    rows.map { case (g, nm, e, m, v, dim, alg, dm, t, j) =>
      s"($g, ${sqlS(nm)}, ${sqlD(e.head)}, ${sqlS(m)}, $v, $dim, " +
        s"${sqlS(alg)}, ${sqlS(dm)}, ${sqlTs(t)}, $j)"
    }.mkString(",\n    ")

  /** Registry: (username, outcome, model_version, finalize_through_year,
    * registered_at, status) — one active v2, a retired v1 for the same
    * (user, outcome), and an active v1 for another pair.
    */
  val registry: Seq[(String, String, String, Long, java.sql.Timestamp, String)] =
    Seq(
      ("u1", "own", "v2", 2024L, ts("2025-06-01 00:00:00"), "active"),
      ("u1", "own", "v1", 2023L, ts("2024-06-01 00:00:00"), "retired"),
      ("u2", "rate", "v1", 2023L, ts("2024-07-01 00:00:00"), "active"))

  /** (username, game_id, outcome, model_version, predicted_prob,
    * predicted_label, threshold, model_name, job_id, score_ts): a
    * same-key dup needing the (score_ts, job_id) tiebreak, a retired-
    * version row, and an unregistered user's row — both dropped.
    */
  val ucpLanding: Seq[(String, Long, String, String, Double, Long, Double,
      String, Long, java.sql.Timestamp)] = Seq(
    ("u1", 1L, "own", "v2", 0.875, 1L, 0.500, "own-model", 1L,
      ts("2026-01-02 00:00:00")),
    ("u1", 1L, "own", "v2", 0.625, 0L, 0.500, "own-model", 2L,
      ts("2026-01-02 00:00:00")),
    ("u1", 1L, "own", "v1", 0.999, 1L, 0.500, "own-model-old", 3L,
      ts("2026-01-03 00:00:00")),
    ("u2", 2L, "rate", "v1", 0.250, 0L, 0.750, "rate-model", 4L,
      ts("2026-01-01 00:00:00")),
    ("u3", 1L, "own", "v2", 0.500, 1L, 0.500, "own-model", 5L,
      ts("2026-01-04 00:00:00")))

  /** (game_id, fetch_timestamp, success): game 1 has two fetches (the
    * later one wins), game 3 one, games 2/4 none (provenance NULL).
    */
  val provenance: Seq[(Long, java.sql.Timestamp, Boolean)] = Seq(
    (1L, ts("2025-12-01 00:00:00"), false),
    (1L, ts("2025-12-15 00:00:00"), true),
    (3L, ts("2025-11-20 00:00:00"), true))

  /** Neighbor fixture: (game_id, name, year_published, complexity,
    * users_rated, embedding[4]). Game 104 is below the ratings floor;
    * game 105 has NULL complexity; games 106/107 share an embedding
    * (true cosine tie → nbr_game_id tiebreak). Complexities place
    * 101↔102 inside a 0.75 band and 101↔103 outside it (2.0 vs 2.75 is
    * INCLUSIVE — both bounds exact in binary).
    */
  val simRows: Seq[(Long, String, Long, Option[Double], Long, Seq[Double])] =
    Seq(
      (101L, "N-Alpha", 1995L, Some(2.00), 500L, Seq(0.9, 0.1, 0.2, 0.3)),
      (102L, "N-Beta", 2000L, Some(2.75), 400L, Seq(0.8, 0.2, 0.1, 0.4)),
      (103L, "N-Gamma", 2005L, Some(3.10), 300L, Seq(0.1, 0.9, 0.8, 0.2)),
      (104L, "N-Delta", 2010L, Some(2.10), 50L, Seq(0.9, 0.1, 0.2, 0.31)),
      (105L, "N-Eps", 2015L, None, 600L, Seq(0.5, 0.5, 0.5, 0.5)),
      (106L, "N-Zeta", 2018L, Some(2.50), 700L, Seq(0.7, 0.3, 0.2, 0.1)),
      (107L, "N-Eta", 2019L, Some(2.50), 800L, Seq(0.7, 0.3, 0.2, 0.1)))

  private def simDf(s: SparkSession): DataFrame = {
    import s.implicits._
    simRows.toDF("game_id", "name", "year_published", "complexity",
      "users_rated", "embedding")
  }

  // ---- oracle SQL fragments ----------------------------------------

  private def predValues: String =
    predLanding.map { case (j, g, t, r) =>
      s"($j, $g, ${sqlTs(t)}, ${sqlD(r)})"
    }.mkString(",\n    ")

  private def pcrCte: String =
    s"""pcs(game_id, player_count, best_votes, recommended_votes,
       |    not_recommended_votes) AS (VALUES
       |    ${playerCounts.map { case (g, pc, b, r, n) =>
              s"($g, ${sqlS(pc)}, $b, $r, $n)" }.mkString(",\n    ")}),
       |stats AS (
       |  SELECT *,
       |    best_votes + recommended_votes + not_recommended_votes AS total_votes,
       |    CASE WHEN best_votes + recommended_votes + not_recommended_votes = 0
       |      THEN 0.0
       |      ELSE ROUND(CAST(best_votes AS DOUBLE)
       |        / CAST(best_votes + recommended_votes + not_recommended_votes AS DOUBLE) * 100, 2)
       |    END AS best_percentage,
       |    CASE WHEN best_votes + recommended_votes + not_recommended_votes = 0
       |      THEN 0.0
       |      ELSE ROUND(CAST(recommended_votes AS DOUBLE)
       |        / CAST(best_votes + recommended_votes + not_recommended_votes AS DOUBLE) * 100, 2)
       |    END AS recommended_percentage
       |  FROM pcs
       |  WHERE best_votes IS NOT NULL AND recommended_votes IS NOT NULL
       |    AND not_recommended_votes IS NOT NULL),
       |pcr AS (
       |  SELECT g.game_id, g.name, s.player_count, s.best_votes,
       |    s.recommended_votes, s.not_recommended_votes, s.total_votes,
       |    s.best_percentage, s.recommended_percentage
       |  FROM ga g JOIN stats s ON g.game_id = s.game_id)""".stripMargin

  /** gamesDf with game 1's users_rated nudged (NOT hashed — must not
    * retime) and a brand-new game 5 (new-game branch).
    */
  private val games2: Seq[GameRow] =
    games.map(g =>
      if (g.game_id == 1L) g.copy(users_rated = g.users_rated + 1) else g) :+
      GameRow(5L, "Echo", Some(2024L), 6.00, 2.00, Some(6.00), 40L, 10L,
        2L, 4L, 30L, 60L, 9L, "echo", "thumb5", "img5", T2)

  private def games2Df(s: SparkSession): DataFrame = {
    import s.implicits._
    s.createDataset(games2).toDF()
  }

  /** Generation-2 entities: game 3 gains a category — the one hashed
    * change between the generations.
    */
  private def entities2Map(s: SparkSession)
      : Map[String, (DataFrame, DataFrame, String)] = {
    import s.implicits._
    entitiesMap(s).map {
      case ("categories", (_, dim, idCol)) =>
        "categories" -> (((bridges("categories") :+ (3L -> 12L))
          .toDF("game_id", idCol), dim, idCol))
      case other => other
    }
  }

  /** DuckDB cosine distance between two 4-d DOUBLE[] expressions —
    * the same fold recipe VectorDistanceSpec pins against the native
    * Spark expression (dot and norms as left folds, one final
    * 1 - dot/(sqrt·sqrt)).
    */
  private def duckCosine(a: String, b: String): String = {
    implicit val dl: graft.functions.XSql.Dialect = graft.functions.XSql.Duck
    import graft.functions.XSql
    s"1.0 - ${XSql.cosineFromNorms(XSql.dot(a, b), XSql.norm2(a), XSql.norm2(b))}"
  }

  private def simValues: String =
    simRows.map { case (g, nm, y, c, u, v) =>
      val vec = v.map(x => s"CAST($x AS DOUBLE)").mkString("[", ", ", "]")
      s"($g, ${sqlS(nm)}, $y, ${sqlOptD(c)}, $u, $vec)"
    }.mkString(",\n    ")

  /** One game_neighbors profile branch in DuckDB. */
  private def neighborsBranch(profile: String, band: Double, topK: Int): String =
    s"""SELECT '$profile' AS profile, src AS game_id,
       |  count(*) AS n_similar,
       |  string_agg(CAST(nbr AS VARCHAR), '|' ORDER BY rn) AS neighbor_ids
       |FROM (
       |  SELECT src, nbr, rn FROM (
       |    SELECT s.game_id AS src, t.game_id AS nbr,
       |      row_number() OVER (PARTITION BY s.game_id
       |        ORDER BY ${duckCosine("s.embedding", "t.embedding")}, t.game_id) AS rn
       |    FROM cand s JOIN cand t
       |      ON t.game_id != s.game_id
       |     AND t.complexity >= s.complexity - $band
       |     AND t.complexity <= s.complexity + $band)
       |  WHERE rn <= $topK)
       |GROUP BY src""".stripMargin

  // ------------------------------------------------------------------

  val all: Seq[Q] = Seq(

    Q("t19_player_count_recs",
      "player_count_recommendations view: vote percentages per (game, count) (player_count_recommendations.sqlx:6-40)",
      s"""WITH $gaCtes,
         |$pcrCte
         |SELECT game_id, name, player_count, best_votes, recommended_votes,
         |  not_recommended_votes, total_votes,
         |  CAST(ROUND(best_percentage * 100) AS BIGINT) AS best_pct_x100,
         |  CAST(ROUND(recommended_percentage * 100) AS BIGINT) AS rec_pct_x100
         |FROM pcr
         |ORDER BY game_id, player_count""".stripMargin) { (s, _) =>
      val ga = Models.gamesActive(gamesDf(s), ModelOps.now)
      Models.playerCountRecommendations(ga, pcDf(s)).select(
        col("game_id"), col("name"), col("player_count"), col("best_votes"),
        col("recommended_votes"), col("not_recommended_votes"),
        col("total_votes"),
        round(col("best_percentage") * 100).cast("long").as("best_pct_x100"),
        round(col("recommended_percentage") * 100).cast("long").as("rec_pct_x100"))
        .orderBy("game_id", "player_count")
    },

    Q("t20_predictions_dedup",
      "bgg_predictions: latest score per game (score_ts/job_id tiebreak) + first-seen freshness flags (bgg_predictions.sqlx:8-52)",
      s"""WITH landing(job_id, game_id, score_ts, predicted_rating) AS (VALUES
         |    $predValues),
         |first_pred AS (
         |  SELECT game_id, MIN(score_ts) AS first_prediction_ts
         |  FROM landing GROUP BY game_id),
         |latest AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY game_id
         |      ORDER BY score_ts DESC, job_id DESC) AS rn
         |    FROM landing) WHERE rn = 1)
         |SELECT l.game_id, l.job_id,
         |  CAST(epoch(l.score_ts) AS BIGINT) AS score_epoch,
         |  CAST(ROUND(l.predicted_rating * 100) AS BIGINT) AS rating_x100,
         |  CAST(epoch(f.first_prediction_ts) AS BIGINT) AS first_epoch,
         |  CAST(date_diff('day', CAST(f.first_prediction_ts AS DATE),
         |    DATE '2026-01-10') <= 1 AS BIGINT) AS is_new_1d,
         |  CAST(date_diff('day', CAST(f.first_prediction_ts AS DATE),
         |    DATE '2026-01-10') <= 7 AS BIGINT) AS is_new_7d
         |FROM latest l LEFT JOIN first_pred f ON l.game_id = f.game_id
         |ORDER BY l.game_id""".stripMargin) { (s, _) =>
      val landing = predDf(s)
      val fp = Models.gameFirstPrediction(landing)
      Models.bggPredictions(landing, fp, today).select(
        col("game_id"), col("job_id"),
        unix_timestamp(col("score_ts")).as("score_epoch"),
        round(col("predicted_rating") * 100).cast("long").as("rating_x100"),
        unix_timestamp(col("first_prediction_ts")).as("first_epoch"),
        col("is_new_1d").cast("long").as("is_new_1d"),
        col("is_new_7d").cast("long").as("is_new_7d"))
        .orderBy("game_id")
    },

    Q("t21_features_hash",
      "game_features_hash change detection across two generations: unchanged keeps old ts (incl. a non-hashed users_rated change), changed/new get the new ts (game_features_hash.sqlx:9-46)",
      s"""WITH $gaCtes,
         |${gaCtesFor(games2, "g2")},
         |b1(game_id, category_id) AS (VALUES
         |    ${bridges("categories").map { case (g, c) => s"($g, $c)" }
              .mkString(", ")}),
         |b2(game_id, category_id) AS (VALUES
         |    ${(bridges("categories") :+ (3L -> 12L))
              .map { case (g, c) => s"($g, $c)" }.mkString(", ")}),
         |cdim(category_id, name) AS (VALUES
         |    ${dims("categories")._2.map { case (id, nm) =>
              s"($id, ${nm.map(sqlS).getOrElse("CAST(NULL AS VARCHAR)")})" }
              .mkString(", ")}),
         |c1 AS (SELECT b.game_id, string_agg(d.name, '|' ORDER BY d.name) AS cats
         |       FROM b1 b LEFT JOIN cdim d ON b.category_id = d.category_id
         |       GROUP BY b.game_id),
         |c2 AS (SELECT b.game_id, string_agg(d.name, '|' ORDER BY d.name) AS cats
         |       FROM b2 b LEFT JOIN cdim d ON b.category_id = d.category_id
         |       GROUP BY b.game_id)
         |SELECT g.game_id, g.name,
         |  CASE
         |    WHEN o.game_id IS NULL THEN ${tHash2.getTime / 1000}
         |    WHEN c2.cats IS DISTINCT FROM c1.cats THEN ${tHash2.getTime / 1000}
         |    ELSE ${tHash1.getTime / 1000}
         |  END AS updated_epoch
         |FROM g2ga g
         |LEFT JOIN ga o ON g.game_id = o.game_id AND o.year_published IS NOT NULL
         |LEFT JOIN c1 ON g.game_id = c1.game_id
         |LEFT JOIN c2 ON g.game_id = c2.game_id
         |WHERE g.year_published IS NOT NULL
         |ORDER BY g.game_id""".stripMargin) { (s, _) =>
      val gf1 = Models.gamesFeatures(
        Models.gamesActive(gamesDf(s), ModelOps.now), entitiesMap(s), ModelOps.now)
      val h1 = Models.gameFeaturesHash(gf1, None, tHash1)
      val gf2 = Models.gamesFeatures(
        Models.gamesActive(games2Df(s), ModelOps.now), entities2Map(s), ModelOps.now)
      val old = h1.select(col("game_id"), col("feature_hash").as("o_hash"),
        col("last_updated").as("o_last_updated"))
      Models.gameFeaturesHash(gf2, Some(old), tHash2).select(
        col("game_id"), col("name"),
        unix_timestamp(col("last_updated")).as("updated_epoch"))
        .orderBy("game_id")
    },

    Q("t22_game_profile",
      "game_profile: ALL FIVE blocks — features, ordered nested player counts, whole-row predictions struct, embedding-coordinates struct, provenance struct, each null-guarded (game_profile.sqlx:22-119)",
      s"""WITH $gaCtes,
         |$pcrCte,
         |prov(game_id, fetch_timestamp, success) AS (VALUES
         |    ${provenance.map { case (g, t, ok) =>
              s"($g, ${sqlTs(t)}, $ok)" }.mkString(",\n    ")}),
         |prov_latest AS (
         |  SELECT game_id, arg_max(fetch_timestamp, fetch_timestamp) AS fetch_timestamp,
         |         arg_max(success, fetch_timestamp) AS fetch_success
         |  FROM prov GROUP BY game_id),
         |pc_block AS (
         |  SELECT game_id, count(*) AS n_pc,
         |    min(player_count) AS first_pc,
         |    arg_min(best_votes, player_count) AS first_best
         |  FROM pcr GROUP BY game_id),
         |pred(job_id, game_id, score_ts, predicted_rating) AS (VALUES
         |    $predValues),
         |pred_latest AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY game_id
         |      ORDER BY score_ts DESC, job_id DESC) AS rn
         |    FROM pred) WHERE rn = 1),
         |coord(game_id, umap_1, umap_2, pca_1, pca_2, embedding_model,
         |      embedding_version, created_ts) AS (VALUES
         |    $coordValues),
         |coord_latest AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY game_id
         |      ORDER BY created_ts DESC) AS rn
         |    FROM coord
         |    WHERE embedding_version =
         |      (SELECT max(embedding_version) FROM coord)) WHERE rn = 1)
         |SELECT g.game_id, g.name,
         |  COALESCE(p.n_pc, 0) AS n_player_counts,
         |  p.first_pc, p.first_best,
         |  CAST(pl.game_id IS NOT NULL AS BIGINT) AS has_predictions,
         |  pl.job_id AS pred_job,
         |  CAST(ROUND(pl.predicted_rating * 100) AS BIGINT) AS pred_x100,
         |  CAST(co.game_id IS NOT NULL AS BIGINT) AS has_embedding,
         |  co.umap_1, co.pca_2, co.embedding_model,
         |  co.embedding_version AS embedding_version,
         |  CAST(pr.game_id IS NOT NULL AS BIGINT) AS has_provenance,
         |  CAST(epoch(pr.fetch_timestamp) AS BIGINT) AS fetch_epoch,
         |  CAST(pr.fetch_success AS BIGINT) AS fetch_success
         |FROM ga g
         |LEFT JOIN pc_block p ON g.game_id = p.game_id
         |LEFT JOIN pred_latest pl ON g.game_id = pl.game_id
         |LEFT JOIN coord_latest co ON g.game_id = co.game_id
         |LEFT JOIN prov_latest pr ON g.game_id = pr.game_id
         |ORDER BY g.game_id""".stripMargin) { (s, _) =>
      import s.implicits._
      val ga = Models.gamesActive(gamesDf(s), ModelOps.now)
      val gf = Models.gamesFeatures(ga, entitiesMap(s), ModelOps.now)
      val pcr = Models.playerCountRecommendations(ga, pcDf(s))
      val landing = predDf(s)
      val preds = Models.bggPredictions(landing,
        Models.gameFirstPrediction(landing), today)
      val coords = Models.bggGameCoordinates(coordDf(s))
      val prov = provenance.toDF("game_id", "fetch_timestamp", "success")
      Models.gameProfile(gf, pcr, preds, coords, prov).select(
        col("game_id"), col("name"),
        size(col("player_counts")).cast("long").as("n_player_counts"),
        element_at(col("player_counts"), 1).getField("player_count")
          .as("first_pc"),
        element_at(col("player_counts"), 1).getField("best_votes")
          .as("first_best"),
        col("predictions").isNotNull.cast("long").as("has_predictions"),
        col("predictions.job_id").as("pred_job"),
        round(col("predictions.predicted_rating") * 100).cast("long")
          .as("pred_x100"),
        col("embedding").isNotNull.cast("long").as("has_embedding"),
        col("embedding.umap_1").as("umap_1"),
        col("embedding.pca_2").as("pca_2"),
        col("embedding.embedding_model").as("embedding_model"),
        col("embedding.embedding_version").as("embedding_version"),
        col("provenance").isNotNull.cast("long").as("has_provenance"),
        unix_timestamp(col("provenance.fetch_timestamp")).as("fetch_epoch"),
        col("provenance.fetch_success").cast("long").as("fetch_success"))
        .orderBy("game_id")
    },

    Q("t23_game_neighbors",
      "game_neighbors: ratings floor, complexity band self-join, COSINE vector_distance, top-k per source, per-profile union (game_neighbors.sqlx:31-86)",
      s"""WITH emb(game_id, name, year_published, complexity, users_rated,
         |         embedding) AS (VALUES
         |    $simValues),
         |cand AS (SELECT * FROM emb
         |         WHERE users_rated >= 100 AND complexity IS NOT NULL)
         |${neighborsBranch("default", 0.75, 3)}
         |UNION ALL
         |${neighborsBranch("wide", 2.0, 2)}
         |ORDER BY profile, game_id""".stripMargin) { (s, _) =>
      val profiles = Seq(
        Models.SimilarityProfile(name = "default", complexityBand = 0.75,
          topK = 3),
        Models.SimilarityProfile(name = "wide", complexityBand = 2.0,
          topK = 2))
      Models.gameNeighbors(simDf(s), profiles, ModelOps.now).select(
        col("profile"), col("game_id"),
        size(col("similar")).cast("long").as("n_similar"),
        array_join(expr("transform(similar, s_ -> cast(s_.game_id as string))"),
          "|").as("neighbor_ids"))
        .orderBy("profile", "game_id")
    },

    Q("t24_embeddings_dedup",
      "bgg_game_embeddings: latest-version-only filter + latest-row-per-game dedup (bgg_game_embeddings.sqlx:11-43)",
      s"""WITH landing(game_id, embedding_version, created_ts, job_id) AS (VALUES
         |    ${embLanding.map { case (g, v, t, j) =>
              s"($g, $v, ${sqlTs(t)}, $j)" }.mkString(",\n    ")}),
         |latest_version AS (SELECT MAX(embedding_version) AS v FROM landing)
         |SELECT game_id, embedding_version,
         |  CAST(epoch(created_ts) AS BIGINT) AS created_epoch, job_id
         |FROM (
         |  SELECT l.*, row_number() OVER (PARTITION BY game_id
         |    ORDER BY created_ts DESC, job_id DESC) AS rn
         |  FROM landing l, latest_version
         |  WHERE l.embedding_version = latest_version.v)
         |WHERE rn = 1
         |ORDER BY game_id""".stripMargin) { (s, _) =>
      Models.bggGameEmbeddings(embDf(s)).select(
        col("game_id"), col("embedding_version"),
        unix_timestamp(col("created_ts")).as("created_epoch"), col("job_id"))
        .orderBy("game_id")
    },

    Q("t41_game_coordinates",
      "bgg_game_coordinates: latest-embedding-version filter (a game on the stale version only vanishes) + newest-row-per-game dedup (bgg_game_coordinates.sqlx:8-28)",
      s"""WITH coord(game_id, umap_1, umap_2, pca_1, pca_2, embedding_model,
         |           embedding_version, created_ts) AS (VALUES
         |    $coordValues),
         |latest_version AS (SELECT MAX(embedding_version) AS v FROM coord)
         |SELECT game_id, umap_1, umap_2, pca_1, pca_2, embedding_model,
         |  embedding_version,
         |  CAST(epoch(created_ts) AS BIGINT) AS created_epoch
         |FROM (
         |  SELECT c.*, row_number() OVER (PARTITION BY game_id
         |    ORDER BY created_ts DESC) AS rn
         |  FROM coord c, latest_version
         |  WHERE c.embedding_version = latest_version.v)
         |WHERE rn = 1
         |ORDER BY game_id""".stripMargin) { (s, _) =>
      Models.bggGameCoordinates(coordDf(s)).select(
        col("game_id"), col("umap_1"), col("umap_2"), col("pca_1"),
        col("pca_2"), col("embedding_model"), col("embedding_version"),
        unix_timestamp(col("created_ts")).as("created_epoch"))
        .orderBy("game_id")
    },

    // t42 runs the reference's ACTUAL incremental protocol end to end
    // (bgg_description_embeddings is `type: incremental, uniqueKey:
    // [game_id]`): full build, then a delta pass gated by the stored
    // table's max created_ts (strict >) merged in by game_id — and
    // the oracle is the FULL recompute over both generations, so the
    // gate is incremental == full (the t18 discipline). At 100 TB the
    // delta pass reads only landing rows above the watermark — the
    // semi-join input reduction that took the reference's features
    // model from 4 h to 8 s (docs/dataform_operations.md:15).
    Q("t42_description_embeddings",
      "bgg_description_embeddings incremental: strict-watermark delta merged by game_id == full recompute (bgg_description_embeddings.sqlx:10-35)",
      s"""WITH landing(game_id, name, emb0, embedding_model,
         |             embedding_version, embedding_dim, algorithm,
         |             document_method, created_ts, job_id) AS (VALUES
         |    ${descEmbValues(descEmbGen1 ++ descEmbGen2)}),
         |latest_version AS (SELECT MAX(embedding_version) AS v FROM landing)
         |SELECT game_id, name, emb0, embedding_model, embedding_version,
         |  embedding_dim, algorithm, document_method,
         |  CAST(epoch(created_ts) AS BIGINT) AS created_epoch, job_id
         |FROM (
         |  SELECT l.*, row_number() OVER (PARTITION BY game_id
         |    ORDER BY created_ts DESC, job_id DESC) AS rn
         |  FROM landing l, latest_version
         |  WHERE l.embedding_version = latest_version.v)
         |WHERE rn = 1
         |ORDER BY game_id""".stripMargin) { (s, _) =>
      import graft.operators.TableStore
      val tmp = Scratch.dir("t42")
      val path = tmp.resolve("desc_emb").toString
      // initial full build
      TableStore.overwrite(
        Models.bggDescriptionEmbeddings(descEmbDf(s, descEmbGen1)), path)
      // incremental tick: watermark from the STORED table, strictly
      // newer landing rows only, merged by the model's unique key
      val wm = TableStore.read(s, path)
        .agg(max(col("created_ts"))).head().getTimestamp(0)
      TableStore.upsertByKey(s, path,
        Models.bggDescriptionEmbeddings(
          descEmbDf(s, descEmbGen1 ++ descEmbGen2), Some(wm)),
        Seq("game_id"))
      TableStore.read(s, path).select(
        col("game_id"), col("name"),
        element_at(col("embedding"), 1).as("emb0"),
        col("embedding_model"), col("embedding_version"),
        col("embedding_dim"), col("algorithm"), col("document_method"),
        unix_timestamp(col("created_ts")).as("created_epoch"),
        col("job_id"))
        .orderBy("game_id")
    },

    Q("t25_user_collection",
      "user_collection_predictions: composite-key join to ACTIVE registry models, per-(user,game,outcome) dedup, metadata rejoin (user_collection_predictions.sqlx)",
      s"""WITH registry(username, outcome, model_version, finalize_through_year,
         |              registered_at, status) AS (VALUES
         |    ${registry.map { case (u, o, v, y, r, st) =>
              s"(${sqlS(u)}, ${sqlS(o)}, ${sqlS(v)}, $y, ${sqlTs(r)}, ${sqlS(st)})" }
              .mkString(",\n    ")}),
         |landing(username, game_id, outcome, model_version, predicted_prob,
         |        predicted_label, threshold, model_name, job_id, score_ts) AS (VALUES
         |    ${ucpLanding.map { case (u, g, o, v, p, l, th, mn, j, t) =>
              s"(${sqlS(u)}, $g, ${sqlS(o)}, ${sqlS(v)}, ${sqlD(p)}, $l, " +
                s"${sqlD(th)}, ${sqlS(mn)}, $j, ${sqlTs(t)})" }
              .mkString(",\n    ")}),
         |active AS (SELECT * FROM registry WHERE status = 'active'),
         |joined AS (
         |  SELECT l.* FROM landing l
         |  JOIN active a ON l.username = a.username AND l.outcome = a.outcome
         |    AND l.model_version = a.model_version),
         |deduped AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY username, game_id, outcome
         |      ORDER BY score_ts DESC, job_id DESC) AS rn
         |    FROM joined) WHERE rn = 1)
         |SELECT d.username, d.game_id, d.outcome,
         |  CAST(ROUND(d.predicted_prob * 1000) AS BIGINT) AS prob_x1000,
         |  d.predicted_label,
         |  CAST(ROUND(d.threshold * 1000) AS BIGINT) AS threshold_x1000,
         |  d.model_name, d.model_version,
         |  CAST(epoch(d.score_ts) AS BIGINT) AS score_epoch,
         |  a.finalize_through_year,
         |  CAST(epoch(a.registered_at) AS BIGINT) AS registered_epoch
         |FROM deduped d
         |JOIN active a ON d.username = a.username AND d.outcome = a.outcome
         |  AND d.model_version = a.model_version
         |ORDER BY d.username, d.game_id, d.outcome""".stripMargin) { (s, _) =>
      import s.implicits._
      val reg = registry.toDF("username", "outcome", "model_version",
        "finalize_through_year", "registered_at", "status")
      val landing = ucpLanding.toDF("username", "game_id", "outcome",
        "model_version", "predicted_prob", "predicted_label", "threshold",
        "model_name", "job_id", "score_ts")
      Models.userCollectionPredictions(landing, reg).select(
        col("username"), col("game_id"), col("outcome"),
        round(col("predicted_prob") * 1000).cast("long").as("prob_x1000"),
        col("predicted_label"),
        round(col("threshold") * 1000).cast("long").as("threshold_x1000"),
        col("model_name"), col("model_version"),
        unix_timestamp(col("score_ts")).as("score_epoch"),
        col("finalize_through_year"),
        unix_timestamp(col("registered_at")).as("registered_epoch"))
        .orderBy("username", "game_id", "outcome")
    },

    Q("t26_filter_options",
      "filter_* top-N entities by distinct rated games + discriminated union (filter_categories.sqlx:6-17, filter_options_combined.sqlx)",
      s"""WITH $gaCtes,
         |rated AS (SELECT game_id FROM ga
         |          WHERE bayes_average IS NOT NULL AND bayes_average > 0),
         |cdim(category_id, name) AS (VALUES
         |    ${dims("categories")._2.map { case (id, nm) =>
              s"($id, ${nm.map(sqlS).getOrElse("CAST(NULL AS VARCHAR)")})" }
              .mkString(", ")}),
         |cbr(game_id, category_id) AS (VALUES
         |    ${bridges("categories").map { case (g, c) => s"($g, $c)" }
              .mkString(", ")}),
         |mdim(mechanic_id, name) AS (VALUES
         |    ${dims("mechanics")._2.map { case (id, nm) =>
              s"($id, ${nm.map(sqlS).getOrElse("CAST(NULL AS VARCHAR)")})" }
              .mkString(", ")}),
         |mbr(game_id, mechanic_id) AS (VALUES
         |    ${bridges("mechanics").map { case (g, m) => s"($g, $m)" }
              .mkString(", ")}),
         |fc AS (
         |  SELECT d.category_id AS entity_id, d.name,
         |         count(DISTINCT b.game_id) AS game_count
         |  FROM cdim d JOIN cbr b ON d.category_id = b.category_id
         |  JOIN rated r ON b.game_id = r.game_id
         |  GROUP BY d.category_id, d.name
         |  ORDER BY game_count DESC, name, entity_id LIMIT 2),
         |fm AS (
         |  SELECT d.mechanic_id AS entity_id, d.name,
         |         count(DISTINCT b.game_id) AS game_count
         |  FROM mdim d JOIN mbr b ON d.mechanic_id = b.mechanic_id
         |  JOIN rated r ON b.game_id = r.game_id
         |  GROUP BY d.mechanic_id, d.name
         |  ORDER BY game_count DESC, name, entity_id LIMIT 2)
         |SELECT 'category' AS entity_type, entity_id, name, game_count FROM fc
         |UNION ALL
         |SELECT 'mechanic' AS entity_type, entity_id, name, game_count FROM fm
         |ORDER BY entity_type, entity_id""".stripMargin) { (s, _) =>
      val ga = Models.gamesActive(gamesDf(s), ModelOps.now)
      val ents = entitiesMap(s)
      val fc = Models.filterEntities(ents("categories")._2,
        ents("categories")._1, ga, "category_id", 2)
      val fm = Models.filterEntities(ents("mechanics")._2,
        ents("mechanics")._1, ga, "mechanic_id", 2)
      Models.filterOptionsCombined(Seq(
        ("category", "category_id", fc), ("mechanic", "mechanic_id", fm)))
        .orderBy("entity_type", "entity_id")
    },

    Q("t27_dropdown_options",
      "game_dropdown_options: top-N by COALESCE(bayes_average, 0) (game_dropdown_options.sqlx:9-17)",
      s"""WITH $gaCtes
         |SELECT game_id, name, year_published,
         |  CAST(ROUND(bayes_average * 100) AS BIGINT) AS bayes_x100
         |FROM ga
         |ORDER BY COALESCE(bayes_average, 0) DESC, game_id
         |LIMIT 3""".stripMargin) { (s, _) =>
      val ga = Models.gamesActive(gamesDf(s), ModelOps.now)
      Models.gameDropdownOptions(ga, limit = 3).select(
        col("game_id"), col("name"), col("year_published"),
        round(col("bayes_average") * 100).cast("long").as("bayes_x100"))
    })
}
