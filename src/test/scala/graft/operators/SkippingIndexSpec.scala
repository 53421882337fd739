package graft.operators

import graft.{Scratch, SparkSpec, TestSpark}
import org.apache.spark.sql.functions._

/** Stats-manifest pruning semantics: the index must be IO-invisible
  * (pruned scan + predicate == full scan + predicate), actually prune
  * on a z-ordered layout, and fail loudly when stale.
  */
class SkippingIndexSpec extends SparkSpec {

  private def grid(path: String): Unit = {
    val g = TestSpark.spark.range(64L * 64L)
      .select((col("id") % 64).as("x"), expr("id div 64").as("y"))
    TableLayout.writeZOrdered(g, path, "x", "y", bits = 6, nFiles = 16)
  }

  test("pruned scan equals the full-scan result and skips most files") {
    val base = Scratch.dir("skip_idx").toString
    val path = s"$base/t"
    grid(path)
    SkippingIndex.build(spark, path, Seq("x", "y"))
    assert(SkippingIndex.idxCount(spark, path) == 16)
    val ranges = Map[String, (Any, Any)]("x" -> (16L, 23L), "y" -> (16L, 23L))
    val kept = SkippingIndex.plannedFiles(spark, path, ranges)
    assert(kept <= 4, s"2-D box should plan <=4 of 16 files, planned $kept")
    val pruned = SkippingIndex.prunedScan(spark, path, ranges)
      .filter(col("x").between(16, 23) && col("y").between(16, 23))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = spark.read.parquet(path)
      .filter(col("x").between(16, 23) && col("y").between(16, 23))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned == full && full.size == 64)
  }

  test("an empty-intersection predicate plans zero files and returns the schema") {
    val base = Scratch.dir("skip_idx0").toString
    val path = s"$base/t"
    grid(path)
    SkippingIndex.build(spark, path, Seq("x", "y"))
    val ranges = Map[String, (Any, Any)]("x" -> (1000L, 2000L))
    assert(SkippingIndex.plannedFiles(spark, path, ranges) == 0)
    val df = SkippingIndex.prunedScan(spark, path, ranges)
    assert(df.columns.toSeq == Seq("x", "y") && df.count() == 0)
  }

  test("a stale index (table rewritten underneath) fails loudly instead of wrong results") {
    val base = Scratch.dir("skip_stale").toString
    val path = s"$base/t"
    grid(path)
    SkippingIndex.build(spark, path, Seq("x", "y"))
    // a compaction-style rewrite changes the file set; the index now
    // covers files that no longer exist
    TableStore.rewrite(spark, path, spark.read.parquet(path).repartition(4))
    val e = intercept[IllegalArgumentException] {
      SkippingIndex.prunedScan(spark, path,
        Map[String, (Any, Any)]("x" -> (0L, 63L)))
    }
    assert(e.getMessage.contains("stale"), e.getMessage)
    // rebuild repairs it
    SkippingIndex.build(spark, path, Seq("x", "y"))
    assert(SkippingIndex.prunedScan(spark, path,
      Map[String, (Any, Any)]("x" -> (0L, 63L))).count() == 64L * 64L)
  }

  test("bloom index prunes point lookups min/max cannot; absent keys plan ~zero files; stale fails") {
    val base = Scratch.dir("skip_bloom").toString
    val path = s"$base/t"
    // cluster by y → x is scattered: every file spans the x range
    val g = TestSpark.spark.range(64L * 64L)
      .select((col("id") % 64).as("x"), expr("id div 64").as("y"))
    g.repartition(16, col("y")).write.parquet(path)
    SkippingIndex.build(spark, path, Seq("x"))
    // min/max is blind here: a point predicate keeps every file
    assert(SkippingIndex.plannedFiles(spark, path,
      Map[String, (Any, Any)]("x" -> (7L, 7L))) == 16)
    SkippingIndex.buildBloom(spark, path, "x", bits = 1 << 12)
    // x=7 occurs in all 64 y-rows spread over the 16 hash files —
    // bloom keeps them all (true positives), proving no false negative
    val hits = SkippingIndex.bloomScan(spark, path, "x", 7L)
      .filter(col("x") === 7L).count()
    assert(hits == 64)
    // a key concentrated in FEW files: re-layout by x ranges
    val path2 = s"$base/t2"
    g.repartitionByRange(16, col("x")).write.parquet(path2)
    SkippingIndex.buildBloom(spark, path2, "x", bits = 1 << 12)
    val kept = SkippingIndex.bloomPlannedFiles(spark, path2, "x", 7L)
    assert(kept <= 3, s"x=7 lives in 1 range file; bloom kept $kept")
    assert(SkippingIndex.bloomScan(spark, path2, "x", 7L)
      .filter(col("x") === 7L).count() == 64)
    // absent key: no file can claim it beyond false positives
    val keptAbsent = SkippingIndex.bloomPlannedFiles(spark, path2, "x", 999L)
    assert(keptAbsent <= 2, s"absent key kept $keptAbsent files")
    // stale guard: rewrite shrinks the file set, probe must fail loudly
    TableStore.rewrite(spark, path2,
      TestSpark.spark.read.parquet(path2).repartition(4))
    val e = intercept[IllegalArgumentException] {
      SkippingIndex.bloomScan(spark, path2, "x", 7L)
    }
    assert(e.getMessage.contains("stale"), e.getMessage)
  }
}
