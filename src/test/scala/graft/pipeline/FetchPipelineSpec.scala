package graft.pipeline

import java.nio.file.Files
import graft.{SparkSpec, TestSpark}
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
       |    "usersrated": {"@value": "10"}}}
       |}}}""".stripMargin

  private def mkPipeline(fetchFn: Seq[Long] => Seq[FetchPipeline.Fetched]) = {
    val root = Files.createTempDirectory("graft_pipe").toString
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
