package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{CallerJobs, TableStore}
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
  *   - leases as an append-only claim log: expiry and release are
  *     timestamp predicates of the selection (P7, I3), never rewrites
  *   - tracking rows appended per batch (S9, I2)
  *   - processing reads raw ∖ processed, dedups to latest per game
  *     (W1), parses each payload once and loads with the per-table
  *     write disciplines (S5-S8): the 20 idempotent dimension and
  *     per-game writes side by side, then the two time-series appends,
  *     then the processed ledger
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

  /** Per game: how often its fetch was tried and when it was last tried. */
  private def attempts(fetched: DataFrame): DataFrame =
    fetched.groupBy("game_id").agg(
      count(lit(1)).as("attempt_count"),
      max(col("fetch_timestamp")).as("last_attempt"))

  /** Whether a claim row (`lease_timestamp`), beside its game's
    * `last_attempt`, still holds the game at `now` (I3). A claim lives
    * until it expires or until a tracking row at or after it lands: a
    * batch's tracking rows carry its claim's `now`, so they release the
    * claim, while a fetcher that crashed before landing them leaves it
    * holding until expiry.
    */
  private def liveClaim(now: java.sql.Timestamp): Column =
    col("lease_timestamp") >= lit(new java.sql.Timestamp(now.getTime - leaseExpiryMinutes * 60000L)) &&
      (col("last_attempt").isNull || col("last_attempt") < col("lease_timestamp"))

  /** The ids the claim log `fetch_in_progress` holds at `now`. */
  def liveLeases(now: java.sql.Timestamp): DataFrame =
    readOr("fetch_in_progress", emptyLease)
      .join(attempts(readOr("fetched_responses", emptyFetched)), Seq("game_id"), "left")
      .filter(liveClaim(now))
      .select("game_id")

  /** Work-queue selection (response_fetcher.py:49-180): ids minus
    * successes minus live leases, with the retry-policy predicate,
    * ordered and batch-limited; the batch is claimed by appending one
    * row per id to the claim log `fetch_in_progress`.
    */
  def unfetchedIds(now: java.sql.Timestamp): Seq[Long] = {
    val fetched = readOr("fetched_responses", emptyFetched)
    val successes = fetched.filter(col("success")).select("game_id").distinct()
    val claims = readOr("fetch_in_progress", emptyLease)
      .select(col("game_id").as("claim_id"), col("lease_timestamp"))
    val retryCut = new java.sql.Timestamp(
      now.getTime - retryAfterMinutes * 60000L)
    val candidates = thingIds.select("game_id")
      .join(successes, Seq("game_id"), "left_anti")
      .join(attempts(fetched), Seq("game_id"), "left")
      .join(claims, col("game_id") === col("claim_id") && liveClaim(now), "left_anti")
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

  /** One fetch batch: claim → chunked external fetch → land raw +
    * tracking rows, whose timestamp releases the claim. Returns
    * fetched count.
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
    results.count(_.success)
  }

  /** One process batch (response_processor.py:150-280): unprocessed =
    * raw ∖ processed ledger, dedup to latest response per game (W1),
    * parse on executors, flatten, load with the per-table disciplines,
    * mark processed. Each payload is parsed once: the ledger's
    * processed rows are the parsed games [[Flatten.toTables]] cached.
    * A failed load throws before any ledger row lands, so the next
    * batch takes the same payloads again.
    */
  def processBatch(now: java.sql.Timestamp): Int = {
    val raw = readOr("raw_responses", emptyRaw)
    val processed = readOr("processed_responses", emptyProcessed).select("game_id").distinct()
    val pending = raw.join(processed, Seq("game_id"), "left_anti")
    // latest response per game, deterministic tiebreak on payload
    val latest = pending.groupBy("game_id")
      .agg(max(struct(col("fetch_timestamp"), col("response_data"))).as("m"))
      .select(col("game_id"), col("m.response_data").as("response_data"))
    val ok = latest.as[(Long, String)]
      .map { case (id, json) =>
        BggParser.processGame(id, json, "boardgame", now)
      }
      .filter(_.isDefined).map(_.get).as[ProcessedGame]
    // Flatten.toTables caches the parsed games; once the ledger rows
    // land (or the load fails) they are done, else every batch stays
    // in storage for good
    try {
      val okCount = loadTables(ok)
      val statuses = ok.select(col("game_id"), lit(now).as("process_timestamp"),
        lit("processed").as("status"))
      // parse failures also enter the ledger so they are not retried
      // forever (reference marks parse_error, processor.py + I5)
      val failed = latest.select("game_id")
        .join(statuses.select("game_id"), Seq("game_id"), "left_anti")
        .select(col("game_id"), lit(now).as("process_timestamp"),
          lit("parse_error").as("status"))
      TableStore.append(statuses.unionByName(failed), p("processed_responses"))
      okCount
    } finally ok.unpersist()
  }

  /** Load the 22 flattened tables with the reference's per-table write
    * disciplines (loader.py:199-265): dimensions merge-if-absent,
    * bridges and per-game tables delete+insert, time-series append.
    *
    * The 20 merge and delete+insert writes are idempotent and touch
    * distinct tables, so they run side by side, and all of them finish
    * before the two appends start: a failed write throws before any
    * time-series row lands, and a retry of the batch lands each game's
    * history once. Each write runs under the caller's job group and
    * description, so its jobs are attributed to this batch.
    */
  private def loadTables(games: org.apache.spark.sql.Dataset[ProcessedGame]): Int = {
    val tables = Flatten.toTables(games)
    val n = tables("games").count()
    if (n == 0) return 0
    CallerJobs.all(spark.sparkContext)(Flatten.EntityKinds.flatMap { case (kind, idCol) =>
      Seq(
        () => TableStore.insertIfAbsent(spark, p(s"core/$kind"), tables(kind), Seq(idCol)),
        () => TableStore.deleteInsert(spark, p(s"core/game_$kind"), tables(s"game_$kind"),
          Seq("game_id")))
    } ++ Seq("alternate_names", "player_counts", "language_dependence", "suggested_ages")
      .map(t => () => TableStore.deleteInsert(spark, p(s"core/$t"), tables(t), Seq("game_id"))): _*)
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
