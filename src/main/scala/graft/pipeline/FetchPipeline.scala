package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.TableStore
import graft.parse.{BggParser, Flatten, ProcessedGame}

/** The batch-ingest lifecycle (SURVEY §3.1, §2.10 I2-I4): work-queue
  * selection by anti-join against tracking ledgers, lease-based claims
  * with expiry, a pluggable rate-limited fetcher, and exactly-once-ish
  * processing into the 22 normalized tables.
  *
  * The external HTTP source (reference: api_client/client.py) stays a
  * driver-side connector — an injected `fetch` function — because the
  * rate limit is an external-service constraint, not dataflow
  * (SURVEY §2.1 S1). Everything else is DataFrame algebra:
  *
  *   - unfetched = ids ∖ successes ∖ live leases, retry-capped (P8, J6)
  *   - stale-lease cleanup by timestamp predicate (P7, I3)
  *   - tracking rows appended per batch (S9, I2)
  *   - processing reads raw ∖ processed, dedups to latest per game
  *     (W1) and loads with the per-table write disciplines (S5-S8)
  *
  * All queue state lives in parquet tables under `root`; no driver
  * collections except the claimed id batch itself (which is bounded
  * by `batchSize` — the same driver-side list the reference holds).
  */
final class FetchPipeline(
    spark: SparkSession,
    root: String,
    fetch: Seq[Long] => Seq[FetchPipeline.Fetched],
    batchSize: Int = 1000,
    chunkSize: Int = 20,
    maxAttempts: Int = 3,
    retryAfterMinutes: Int = 60,
    leaseExpiryMinutes: Int = 30) {

  import FetchPipeline._
  import spark.implicits._

  private def p(table: String) = s"$root/$table"

  def thingIds: DataFrame = TableStore.read(spark, p("thing_ids"))

  private def readOr(table: String, empty: => DataFrame): DataFrame =
    if (TableStore.exists(spark, p(table))) TableStore.read(spark, p(table)) else empty

  private def emptyFetched = Seq.empty[(Long, java.sql.Timestamp, Boolean)]
    .toDF("game_id", "fetch_timestamp", "success")
  private def emptyRaw = Seq.empty[(Long, String, java.sql.Timestamp)]
    .toDF("game_id", "response_data", "fetch_timestamp")
  private def emptyLease = Seq.empty[(Long, java.sql.Timestamp)]
    .toDF("game_id", "lease_timestamp")
  private def emptyProcessed = Seq.empty[(Long, java.sql.Timestamp, String)]
    .toDF("game_id", "process_timestamp", "status")

  def seedIds(ids: DataFrame): Unit =
    TableStore.insertIfAbsent(spark, p("thing_ids"), ids, Seq("game_id"))

  /** Work-queue selection (response_fetcher.py:49-180): clean expired
    * leases, then ids minus successes minus live leases, with the
    * retry-policy predicate, ordered and batch-limited.
    */
  def unfetchedIds(now: java.sql.Timestamp): Seq[Long] = {
    cleanExpiredLeases(now)
    val fetched = readOr("fetched_responses", emptyFetched)
    val successes = fetched.filter(col("success")).select("game_id").distinct()
    val leases = readOr("fetch_in_progress", emptyLease).select("game_id")
    val attempts = fetched.groupBy("game_id").agg(
      count(lit(1)).as("attempt_count"),
      max(col("fetch_timestamp")).as("last_attempt"))
    val retryCut = new java.sql.Timestamp(
      now.getTime - retryAfterMinutes * 60000L)
    val candidates = thingIds.select("game_id")
      .join(successes, Seq("game_id"), "left_anti")
      .join(leases, Seq("game_id"), "left_anti")
      .join(attempts, Seq("game_id"), "left")
      .filter(col("attempt_count").isNull ||
        (col("attempt_count") < maxAttempts && col("last_attempt") <= lit(retryCut)))
      .orderBy("game_id")
      .limit(batchSize)
    val ids = candidates.select("game_id").as[Long].collect().toSeq
    if (ids.nonEmpty)
      TableStore.append(ids.map(id => (id, now)).toDF("game_id", "lease_timestamp"),
        p("fetch_in_progress"))
    ids
  }

  /** I3: leases older than the expiry are reclaimable. */
  def cleanExpiredLeases(now: java.sql.Timestamp): Unit =
    if (TableStore.exists(spark, p("fetch_in_progress"))) {
      val cut = new java.sql.Timestamp(now.getTime - leaseExpiryMinutes * 60000L)
      val live = TableStore.read(spark, p("fetch_in_progress"))
        .filter(col("lease_timestamp") >= lit(cut))
      TableStore.rewrite(spark, p("fetch_in_progress"), live)
    }

  /** One fetch batch: claim → chunked external fetch → land raw +
    * tracking rows → release leases. Returns fetched count.
    */
  def fetchBatch(now: java.sql.Timestamp): Int = {
    val ids = unfetchedIds(now)
    if (ids.isEmpty) return 0
    val results = ids.grouped(chunkSize).flatMap(fetch).toSeq
    val raw = results.filter(_.success)
      .map(r => (r.gameId, r.responseJson, now))
      .toDF("game_id", "response_data", "fetch_timestamp")
    TableStore.append(raw, p("raw_responses"))
    val tracking = results.map(r => (r.gameId, now, r.success))
      .toDF("game_id", "fetch_timestamp", "success")
    TableStore.append(tracking, p("fetched_responses"))
    // release this batch's leases
    val done = results.map(_.gameId).toDF("game_id")
    val remaining = TableStore.read(spark, p("fetch_in_progress"))
      .join(done, Seq("game_id"), "left_anti")
    TableStore.rewrite(spark, p("fetch_in_progress"), remaining)
    results.count(_.success)
  }

  /** One process batch (response_processor.py:150-280): unprocessed =
    * raw ∖ processed ledger, dedup to latest response per game (W1),
    * parse on executors, flatten, load with the per-table disciplines,
    * mark processed.
    */
  def processBatch(now: java.sql.Timestamp): Int = {
    val raw = readOr("raw_responses", emptyRaw)
    val processed = readOr("processed_responses", emptyProcessed).select("game_id").distinct()
    val pending = raw.join(processed, Seq("game_id"), "left_anti")
    // latest response per game, deterministic tiebreak on payload
    val latest = pending.groupBy("game_id")
      .agg(max(struct(col("fetch_timestamp"), col("response_data"))).as("m"))
      .select(col("game_id"), col("m.response_data").as("response_data"))
    val games = latest.as[(Long, String)]
      .map { case (id, json) =>
        BggParser.processGame(id, json, "boardgame", now)
      }
    val ok = games.filter(_.isDefined).map(_.get).as[ProcessedGame]
    val okCount = loadTables(ok)
    val statuses = games.map {
      case Some(g) => (g.game_id, "processed")
      case None => (-1L, "parse_error")
    }.filter(_._1 >= 0)
      .map { case (id, st) => (id, now, st) }
      .toDF("game_id", "process_timestamp", "status")
    // parse failures also enter the ledger so they are not retried
    // forever (reference marks parse_error, processor.py + I5)
    val failed = latest.select("game_id")
      .join(statuses.select("game_id"), Seq("game_id"), "left_anti")
      .select(col("game_id"), lit(now).as("process_timestamp"),
        lit("parse_error").as("status"))
    TableStore.append(statuses.unionByName(failed), p("processed_responses"))
    // Flatten.toTables cached the parsed games; with the ledger rows
    // landed they are done, else every batch stays in storage for good
    ok.unpersist()
    okCount
  }

  /** Load the 22 flattened tables with the reference's per-table write
    * disciplines (loader.py:199-265): dimensions merge-if-absent,
    * bridges and per-game tables delete+insert, time-series append.
    */
  private def loadTables(games: org.apache.spark.sql.Dataset[ProcessedGame]): Int = {
    val tables = Flatten.toTables(games)
    val n = tables("games").count()
    if (n == 0) return 0
    Flatten.EntityKinds.foreach { case (kind, idCol) =>
      TableStore.insertIfAbsent(spark, p(s"core/$kind"), tables(kind), Seq(idCol))
      TableStore.deleteInsert(spark, p(s"core/game_$kind"), tables(s"game_$kind"), Seq("game_id"))
    }
    Seq("alternate_names", "player_counts", "language_dependence", "suggested_ages")
      .foreach { t =>
        TableStore.deleteInsert(spark, p(s"core/$t"), tables(t), Seq("game_id"))
      }
    Seq("games", "rankings").foreach { t =>
      TableStore.append(tables(t), p(s"core/$t"))
    }
    n.toInt
  }

  def core(table: String): DataFrame = TableStore.read(spark, p(s"core/$table"))
}

object FetchPipeline {
  final case class Fetched(gameId: Long, responseJson: String, success: Boolean)

  /** Age-banded refresh policy (config/bigquery.yaml:10-34, I4):
    * (minAgeYears, maxAgeYears, refreshDays); null-year games use
    * `nullYearDays`.
    */
  final case class RefreshPolicy(
      bands: Seq[(Int, Int, Int)] = Seq((0, 2, 7), (2, 5, 30), (5, 10, 90), (10, 10000, 180)),
      nullYearDays: Int = 14)

  /** Games due for refresh (response_refresher.py:147-228): per-band
    * staleness predicates unioned (U3 + P7), in-progress excluded
    * (J7), presentation order year desc / oldest fetch first (O4).
    */
  def dueForRefresh(games: DataFrame, lastFetches: DataFrame, inProgress: DataFrame,
      now: java.sql.Timestamp, policy: RefreshPolicy = RefreshPolicy(),
      batchSize: Int = 1000): DataFrame = {
    val year = year_of(now)
    val g = games.select("game_id", "year_published")
      .join(lastFetches, Seq("game_id"), "left")
      .join(inProgress.select("game_id"), Seq("game_id"), "left_anti")
    def stale(days: Int) =
      col("last_fetch").isNull ||
        col("last_fetch") <= lit(new java.sql.Timestamp(now.getTime - days * 86400000L))
    val banded = policy.bands.map { case (lo, hi, days) =>
      g.filter(col("year_published").isNotNull &&
        (lit(year) - col("year_published")).between(lo, hi - 1) && stale(days))
    }
    val nullYear = g.filter(col("year_published").isNull && stale(policy.nullYearDays))
    (banded :+ nullYear).reduce(_ unionByName _)
      .orderBy(col("year_published").desc_nulls_last,
        coalesce(col("last_fetch"), lit(java.sql.Timestamp.valueOf("1970-01-01 00:00:00"))).asc,
        col("game_id"))
      .limit(batchSize)
  }

  private def year_of(ts: java.sql.Timestamp): Int =
    ts.toLocalDateTime.getYear
}
