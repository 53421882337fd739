package graft.pipeline

import java.nio.file.Files
import graft.{Scratch, SparkSpec, TestSpark}
import org.apache.spark.sql.functions._

/** End-to-end ingest lifecycle on fixtures (SURVEY §3.1): queue →
  * fetch → land → process → 22 tables, with ledgers driving
  * idempotency and retries.
  */
class FetchPipelineSpec extends SparkSpec {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def gameJson(id: Long, name: String, year: String = "1995") =
    s"""{"items": {"item": {
       |  "@id": "$id", "@type": "boardgame",
       |  "name": {"@type": "primary", "@value": "$name"},
       |  "yearpublished": {"@value": "$year"},
       |  "minplayers": {"@value": "2"}, "maxplayers": {"@value": "4"},
       |  "link": [
       |    {"@type": "boardgamecategory", "@id": "100", "@value": "Strategy"},
       |    {"@type": "boardgamedesigner", "@id": "7", "@value": "Designer A"}],
       |  "statistics": {"ratings": {"average": {"@value": "7.0"},
       |    "usersrated": {"@value": "10"},
       |    "ranks": {"rank": {"@type": "subtype", "@name": "boardgame",
       |      "@friendlyname": "Board Game Rank", "@value": "$id", "@bayesaverage": "6.5"}}}}
       |}}}""".stripMargin

  private def mkPipeline(fetchFn: Seq[Long] => Seq[FetchPipeline.Fetched]) = {
    val root = Scratch.dir("pipe").toString
    new FetchPipeline(TestSpark.spark, root, fetchFn,
      batchSize = 10, chunkSize = 2, retryAfterMinutes = 60)
  }

  test("fetch -> process lands games; ledgers make reruns no-ops") {
    import TestSpark.spark.implicits._
    var calls = 0
    val pipe = mkPipeline { ids =>
      calls += 1
      ids.map {
        case 3L => FetchPipeline.Fetched(3L, "bogus", success = false)
        case id => FetchPipeline.Fetched(id, gameJson(id, s"Game $id"), success = true)
      }
    }
    pipe.seedIds(Seq(1L, 2L, 3L).toDF("game_id"))

    val t0 = ts("2026-01-01 00:00:00")
    assert(pipe.fetchBatch(t0) == 2)          // 3 failed
    assert(calls == 2)                        // 3 ids in chunks of 2
    assert(pipe.processBatch(t0) == 2)

    assert(pipe.core("games").count() == 2)
    assert(pipe.core("categories").count() == 1)       // shared dim deduped
    assert(pipe.core("game_categories").count() == 2)
    assert(pipe.core("designers").collect().map(_.getString(1)).toSet == Set("Designer A"))

    // rerun within the retry window: nothing new to fetch or process
    assert(pipe.fetchBatch(ts("2026-01-01 00:30:00")) == 0)
    assert(pipe.processBatch(ts("2026-01-01 00:30:00")) == 0)

    // after the retry window, only the failed id 3 is retried
    val t2 = ts("2026-01-01 02:00:00")
    assert(pipe.fetchBatch(t2) == 0)          // still failing
    // two failures recorded; third attempt allowed, then capped
    val t3 = ts("2026-01-01 04:00:00")
    assert(pipe.fetchBatch(t3) == 0)
    val t4 = ts("2026-01-01 06:00:00")
    assert(pipe.fetchBatch(t4) == 0)          // attempt_count == 3 -> excluded
  }

  test("a lease the fetcher left in place holds its id until the lease expires") {
    import TestSpark.spark.implicits._
    val root = Scratch.dir("pipe").toString
    val claims = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    var dropped: Option[Long] = Some(62L)
    // the default 30-minute lease expiry
    val pipe = new FetchPipeline(TestSpark.spark, root, { ids =>
      claims += ids
      ids.filterNot(dropped.contains)
        .map(id => FetchPipeline.Fetched(id, gameJson(id, s"G$id"), success = true))
    }, batchSize = 10, chunkSize = 10)
    def leases() = TestSpark.spark.read.parquet(s"$root/fetch_in_progress")
      .select("game_id").as[Long].collect().toSet
    pipe.seedIds(Seq(61L, 62L, 63L).toDF("game_id"))
    // the fetcher leaves 62 out: no tracking row, and its lease stays
    assert(pipe.fetchBatch(ts("2026-01-01 00:00:00")) == 2)
    assert(leases() == Set(62L))
    dropped = None
    // 10 minutes on the lease is live: nothing to claim, no fetch
    assert(pipe.fetchBatch(ts("2026-01-01 00:10:00")) == 0)
    assert(claims == Seq(Seq(61L, 62L, 63L)))
    assert(leases() == Set(62L))
    // past the expiry the lease is cleaned and 62 is claimed again
    assert(pipe.fetchBatch(ts("2026-01-01 00:31:00")) == 1)
    assert(claims.last == Seq(62L))
    assert(leases().isEmpty)
    Scratch.remove(new java.io.File(root))
  }

  test("time-series append: second process of new data appends to games") {
    import TestSpark.spark.implicits._
    val pipe = mkPipeline { ids =>
      ids.map(id => FetchPipeline.Fetched(id, gameJson(id, s"G$id"), success = true))
    }
    pipe.seedIds(Seq(10L).toDF("game_id"))
    pipe.fetchBatch(ts("2026-01-01 00:00:00"))
    pipe.processBatch(ts("2026-01-01 00:00:00"))
    assert(pipe.core("games").count() == 1)
    // second load cycle for the same id (refresh): append-only history
    pipe.seedIds(Seq(10L).toDF("game_id")) // no-op, already present
    assert(pipe.core("games").count() == 1)
  }

  test("processBatch releases the parsed batch: no cached relation outlives it") {
    import TestSpark.spark.implicits._
    val pipe = mkPipeline { ids =>
      ids.map(id => FetchPipeline.Fetched(id, gameJson(id, s"G$id"), success = true))
    }
    // suites run one at a time; drop what earlier ones left cached
    // (cached frames are a speed-up, never a result) so the check below
    // sees only what processBatch leaves behind
    val cache = TestSpark.spark.sharedState.cacheManager
    TestSpark.spark.catalog.clearCache()
    pipe.seedIds(Seq(21L, 22L).toDF("game_id"))
    pipe.fetchBatch(ts("2026-01-01 00:00:00"))
    assert(pipe.processBatch(ts("2026-01-01 00:00:00")) == 2)
    pipe.seedIds(Seq(23L).toDF("game_id"))
    pipe.fetchBatch(ts("2026-01-02 00:00:00"))
    assert(pipe.processBatch(ts("2026-01-02 00:00:00")) == 1)
    assert(cache.isEmpty, "a cached relation outlived processBatch")
  }

  private def ledger(root: String) =
    TestSpark.spark.read.parquet(s"$root/processed_responses").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2))).toSet

  test("the ledger marks each pending payload once: processed or parse_error") {
    import TestSpark.spark.implicits._
    val root = Scratch.dir("pipe").toString
    val pipe = new FetchPipeline(TestSpark.spark, root, ids => ids.map {
      case 32L => FetchPipeline.Fetched(32L, "not json", success = true)
      case id => FetchPipeline.Fetched(id, gameJson(id, s"G$id"), success = true)
    }, batchSize = 10, chunkSize = 2)
    pipe.seedIds(Seq(31L, 32L, 33L).toDF("game_id"))
    val t0 = ts("2026-01-01 00:00:00")
    assert(pipe.fetchBatch(t0) == 3)
    assert(pipe.processBatch(t0) == 2)
    assert(ledger(root) == Set((31L, t0, "processed"), (32L, t0, "parse_error"),
      (33L, t0, "processed")))
    // a second batch finds nothing pending and adds no ledger row
    assert(pipe.processBatch(ts("2026-01-01 01:00:00")) == 0)
    assert(ledger(root).size == 3)
    Scratch.remove(new java.io.File(root))
  }

  test("a failed core-table write lands no history and no ledger row; the retry lands each game once") {
    import TestSpark.spark.implicits._
    val root = Scratch.dir("pipe").toString
    val pipe = new FetchPipeline(TestSpark.spark, root,
      ids => ids.map(id => FetchPipeline.Fetched(id, gameJson(id, s"G$id"), success = true)),
      batchSize = 10, chunkSize = 2)
    val t0 = ts("2026-01-01 00:00:00")
    pipe.seedIds(Seq(41L).toDF("game_id"))
    pipe.fetchBatch(t0)
    assert(pipe.processBatch(t0) == 1)
    // the next batch's game_mechanics write fails: a file holds its place
    val blocker = new java.io.File(s"$root/core/game_mechanics")
    Scratch.remove(blocker)
    Files.write(blocker.toPath, "not a table".getBytes("UTF-8"))
    pipe.seedIds(Seq(42L, 43L).toDF("game_id"))
    val t1 = ts("2026-01-02 00:00:00")
    pipe.fetchBatch(t1)
    val sizes = Seq("core/games", "core/rankings", "processed_responses")
      .map(t => t -> TestSpark.spark.read.parquet(s"$root/$t").count())
    intercept[Exception](pipe.processBatch(t1))
    for ((t, n) <- sizes)
      assert(TestSpark.spark.read.parquet(s"$root/$t").count() == n, s"$t gained rows")
    // mend the table and rerun: each game lands exactly once
    assert(blocker.delete())
    assert(pipe.processBatch(ts("2026-01-02 01:00:00")) == 2)
    for (t <- Seq("games", "rankings")) {
      val perGame = pipe.core(t).groupBy("game_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(perGame == Map(41L -> 1L, 42L -> 1L, 43L -> 1L), t)
    }
    assert(ledger(root).map(_._1) == Set(41L, 42L, 43L))
    assert(pipe.processBatch(ts("2026-01-02 02:00:00")) == 0)
    Scratch.remove(new java.io.File(root))
  }

  test("the concurrent core-table writes run under the caller's job group") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    import TestSpark.spark.implicits._
    val sc = TestSpark.spark.sparkContext
    val root = Scratch.dir("pipe").toString
    val pipe = new FetchPipeline(TestSpark.spark, root,
      ids => ids.map(id => FetchPipeline.Fetched(id, gameJson(id, s"G$id"), success = true)),
      batchSize = 10, chunkSize = 2)
    pipe.seedIds(Seq(51L, 52L).toDF("game_id"))
    val t0 = ts("2026-01-01 00:00:00")
    pipe.fetchBatch(t0)
    // pool threads started now keep this group unless the writes reset it
    sc.setJobGroup("stale-group", "stale", interruptOnCancel = false)
    Await.ready(Future.traverse(1 to 16)(_ => Future(Thread.sleep(20))), Duration.Inf)
    sc.setJobGroup("batch-group", "process", interruptOnCancel = false)
    val prof = graft.QueryProfile.attach(TestSpark.spark)
    try {
      prof.reset()
      assert(pipe.processBatch(t0) == 2)
      prof.drain()
      val names = prof.topStages(1000).map(_.name)
      assert(names.nonEmpty)
      assert(names.forall(_.startsWith("batch-group: ")), names.distinct.mkString("\n"))
    } finally {
      prof.detach(); sc.clearJobGroup()
    }
    Scratch.remove(new java.io.File(root))
  }

  test("refresh policy: age bands + null-year + in-progress exclusion") {
    import TestSpark.spark.implicits._
    val now = ts("2026-06-01 00:00:00")
    val games = Seq(
      (1L, Some(2025)),   // recent: 7d policy
      (2L, Some(2020)),   // established-ish: 30d
      (3L, Some(1990)),   // vintage: 180d
      (4L, None)          // null year: 14d
    ).toDF("game_id", "year_published")
    val lastFetches = Seq(
      (1L, ts("2026-05-20 00:00:00")),  // 12d old > 7d -> due
      (2L, ts("2026-05-20 00:00:00")),  // 12d < 30d -> not due
      (3L, ts("2025-01-01 00:00:00"))   // very old -> due
      // 4 has no fetch -> due
    ).toDF("game_id", "last_fetch")
    val inProgress = Seq(3L).toDF("game_id") // excluded though due
    val due = FetchPipeline.dueForRefresh(games, lastFetches, inProgress, now)
      .select("game_id").collect().map(_.getLong(0)).toSet
    assert(due == Set(1L, 4L))
  }
}
