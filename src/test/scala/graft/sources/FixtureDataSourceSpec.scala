package graft.sources

import java.nio.file.Files
import graft.{Scratch, SparkSpec}
import graft.parse.BggParser
import org.apache.spark.sql.functions._

/** The DSv2 fixture connector: schema, per-file partitions, column
  * pruning reaching the reader, and feeding the parser end-to-end.
  */
class FixtureDataSourceSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = Scratch.dir("fixtures")
    def write(id: Long, name: String): Unit =
      Files.writeString(d.resolve(s"$id.json"),
        s"""{"items": {"item": {"@id": "$id",
           |  "name": {"@type": "primary", "@value": "$name"},
           |  "yearpublished": {"@value": "1995"}}}}""".stripMargin)
    write(13L, "Catan")
    write(822L, "Carcassonne")
    d.toString
  }

  private def read = spark.read.format("graft.sources.FixtureDataSource").load(dir)

  test("reads one row per fixture file with the landing schema") {
    val rows = read.orderBy("game_id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(13L, 822L))
    assert(rows.head.getString(2) == "13.json")
    assert(rows.head.getString(1).contains("Catan"))
  }

  test("column pruning is pushed into the scan") {
    val pruned = read.select("game_id")
    val plan = pruned.queryExecution.executedPlan.toString()
    assert(!plan.contains("response_data"), plan)
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq == Seq(13L, 822L))
  }

  test("connector feeds the parser end-to-end") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val games = read.select("game_id", "response_data")
      .as[(Long, String)]
      .map { case (id, json) => BggParser.processGame(id, json, "boardgame", ts) }
      .filter(_.isDefined).map(_.get)
    val parsed = games.collect().sortBy(_.game_id)
    assert(parsed.map(_.primary_name).toSeq == Seq("Catan", "Carcassonne"))
    assert(parsed.forall(_.year_published.contains(1995)))
  }
}
