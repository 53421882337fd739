package graft.transform

import graft.{Scratch, SparkSpec, TestSpark}
import graft.operators.TableStore
import org.apache.spark.sql.functions._

/** The incremental games_features path (I1 at the model level):
  * watermark filter + semi-join-reduced aggregates + key-preserving
  * upsert must equal the full recompute.
  */
class IncrementalFeaturesSpec extends SparkSpec {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
  private val now = ts("2026-03-01 00:00:00")

  test("incremental features + upsert == full recompute") {
    import TestSpark.spark.implicits._
    def games(rows: (Long, String, java.sql.Timestamp)*) =
      rows.toDF("game_id", "name", "load_timestamp")
        .withColumn("year_published", lit(2001))
        .withColumn("bayes_average", lit(7.0)).withColumn("average_rating", lit(7.0))
        .withColumn("average_weight", lit(2.0)).withColumn("users_rated", lit(100L))
        .withColumn("num_weights", lit(10L))
        .withColumn("min_players", lit(2L)).withColumn("max_players", lit(4L))
        .withColumn("min_playtime", lit(30L)).withColumn("max_playtime", lit(60L))
        .withColumn("min_age", lit(8L)).withColumn("image", lit("i"))
        .withColumn("thumbnail", lit("t")).withColumn("description", lit("d"))
    val bridge = Seq((1L, 10L), (2L, 10L), (2L, 11L)).toDF("game_id", "category_id")
    val dim = Seq((10L, "Strategy"), (11L, "Economic")).toDF("category_id", "name")
    val ents = Map("categories" -> (bridge, dim, "category_id"))

    val t1 = ts("2026-01-01 00:00:00")
    val t2 = ts("2026-02-01 00:00:00")
    val path = Scratch.dir("incr").toString + "/features"

    // bootstrap: only game 1 existed
    TableStore.overwrite(
      Models.gamesFeatures(Models.gamesActive(games((1L, "A", t1)), now), ents, now),
      path)
    // new snapshot: game 2 arrived at t2 (game 1 unchanged)
    val active = Models.gamesActive(games((1L, "A", t1), (2L, "B", t2)), now)
    val wm = TableStore.maxWatermark(spark, path, "load_timestamp")
    assert(wm.contains(t1))
    val delta = Models.gamesFeatures(active, ents, now, watermark = wm)
    assert(delta.select("game_id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    TableStore.upsertByKey(spark, path, delta, Seq("game_id"))

    val incremental = TableStore.read(spark, path)
      .orderBy("game_id").collect().map(_.toString).toSeq
    val full = Models.gamesFeatures(active, ents, now)
      .orderBy("game_id").collect().map(_.toString).toSeq
    assert(incremental == full)
  }
}
