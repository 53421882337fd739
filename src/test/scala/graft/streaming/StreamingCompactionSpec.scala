package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}
import graft.functions.XSql
import graft.functions.XSql.{Spark => SqlSpark}
import graft.operators.{Lsh, TableStore}

/** st7's mid-stream band-store compaction must be invisible to the
  * pair results: compaction rewrites FILES (folding per-batch appends
  * into band_key-clustered ones), never rows, so the incremental LSH
  * join over the store yields the identical pair set before and after.
  */
class StreamingCompactionSpec extends SparkSpec {

  private def shingled(docs: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    implicit val dl: XSql.Dialect = SqlSpark
    graft.functions.GraftFunctions.register(spark)
    docs.toDF("doc_id", "text")
      .withColumn("sh", expr(XSql.shinglesOfText("text")))
      .select("doc_id", "sh")
  }

  test("band-store compaction preserves the incremental pair set") {
    val stored = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "an entirely different document about spark engines"),
      (4L, "yet another unrelated piece of text entirely here"))
    val fresh = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "an entirely different document about spark engines"),
      (12L, "nothing like anything stored before at all friends"))

    val dir = Scratch.dir("compact_spec")
    val store = dir.resolve("bands").toString
    // accrete the store the way st7 does: one append per batch
    stored.grouped(2).foreach { chunk =>
      TableStore.append(
        Lsh.bands(shingled(chunk)).filter(col("band_key").isNotNull), store)
    }
    val nb = Lsh.bands(shingled(fresh)).filter(col("band_key").isNotNull)

    def pairSet(): Set[(Long, Long)] =
      Lsh.incrementalPairs(nb, TableStore.read(spark, store), 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val before = pairSet()
    assert(before.nonEmpty, "fixture must produce at least one pair")
    val filesBefore = new java.io.File(store).listFiles()
      .count(_.getName.endsWith(".parquet"))
    TableStore.compact(spark, store, targetFileRows = 500000L,
      sortCols = Seq("band_key"))
    val filesAfter = new java.io.File(store).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(filesAfter < filesBefore,
      s"compaction should shrink file count ($filesBefore -> $filesAfter)")
    assert(pairSet() == before,
      "pair set must be identical across compaction")

    // row-level identity too, not just the joined result
    val rows = TableStore.read(spark, store)
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.keySet == Set(1L, 2L, 3L, 4L))
    Scratch.remove(dir.toFile)
  }
}
