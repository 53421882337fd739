package graft.operators

import java.nio.file.Files
import graft.{Scratch, SparkSpec, TestSpark}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data skipping composed into the IVM base probes — the claim in
  * Ivm's class doc ("the base probes are the part a lakehouse
  * accelerates further with data skipping on the delta's key range")
  * made real and METERED: a narrow-key delta against a multi-file
  * key-clustered base must PLAN only the files whose key boxes
  * intersect the delta's range, and the maintained result must still
  * equal recompute. Also the round-9 stress of the MIN/MAX rescan
  * path: even when a large fraction of the delta hits extrema, the
  * rescan probe reads the pruned files' rows, never O(base).
  */
class SkippingIvmSpec extends SparkSpec {
  import TestSpark.spark.implicits._

  private def writeClustered(df: DataFrame, path: String, keyCol: String,
      nFiles: Int): Unit =
    df.repartitionByRange(nFiles, col(keyCol)).write.parquet(path)

  test("join-IVM base probe plans <=2 of 10 files for a narrow-key delta; result == recompute") {
    val spark = TestSpark.spark
    val tmp = Scratch.dir("skip_ivm")
    val aPath = tmp.resolve("base_a").toString

    // base A: 1000 keys range-clustered into 10 files (~100-key boxes)
    val a0 = spark.range(1, 1001)
      .select(col("id").as("k"), concat(lit("a"), col("id")).as("va"))
    writeClustered(a0, aPath, "k", 10)
    SkippingIndex.build(spark, aPath, Seq("k"))

    val b0 = Seq((450L, 10L), (455L, 20L), (700L, 30L)).toDF("k", "vb")
    val view0 = Ivm.joinView(spark.read.parquet(aPath), b0, Seq("k"))

    // delta: B gains rows only in [451, 458] — the A probe needs just
    // that key range
    val dB = Seq((451L, "insert", 40L), (458L, "insert", 50L),
      (455L, "delete", 20L)).toDF("k", "_change_type", "vb")
    val dA = Seq.empty[(Long, String, String)].toDF("k", "_change_type", "va")

    val aProbe = SkippingIndex.probeForDelta(spark, aPath, dB, Seq("k"))
    // the planning gate: 451-458 sits inside one ~100-key box (two if
    // it straddles a boundary) — NOT all 10
    val planned = aProbe.inputFiles.length
    assert(planned >= 1 && planned <= 2, s"planned $planned of 10 files")

    val b1 = Seq((450L, 10L), (451L, 40L), (458L, 50L), (700L, 30L))
      .toDF("k", "vb")
    val maintained = Ivm.applyJoinDelta(view0, aProbe, b0, dA, dB, Seq("k"))
    val recomputed = Ivm.joinView(a0, b1, Seq("k"))
    def s(df: DataFrame) = df.select("k", "va", "vb", "_mult")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(s(maintained) == s(recomputed),
      s"maintained ${s(maintained)} vs ${s(recomputed)}")
  }

  test("extrema-IVM rescan probe stays file-pruned when most deltas hit extrema") {
    val spark = TestSpark.spark
    val tmp = Scratch.dir("skip_ivm_x")
    val v1Path = tmp.resolve("base_v1").toString
    val v2Path = tmp.resolve("base_v2").toString

    // 100 groups x 10 rows, group-clustered into 10 files; row value
    // rises with rn so rn=9 is every group's max
    val base1 = spark.range(0, 1000).select(
      (col("id") / 10).cast("long").as("g"),
      (col("id") % 10).as("rn"),
      (col("id") * 3 % 1000).cast("double").as("v"))
      .withColumn("v", col("v") + col("rn") * 10000)
    writeClustered(base1, v1Path, "g", 10)

    // delete the MAX row of every group in g in [40, 49] — 100% of
    // the delta hits an extremum, so ALL touched groups rescan
    val changes = spark.read.parquet(v1Path)
      .filter(col("g").between(40, 49) && col("rn") === 9)
      .withColumn("_change_type", lit("delete"))
    val base2 = spark.read.parquet(v1Path)
      .except(changes.drop("_change_type"))
    writeClustered(base2, v2Path, "g", 10)
    SkippingIndex.build(spark, v2Path, Seq("g"))

    val view1 = Ivm.aggregateWithExtrema(spark.read.parquet(v1Path),
      Seq("g"), Seq("v"), Seq("v"), Seq("v"))

    // the rescan ground truth planned through the index: only the
    // file(s) whose g-box intersects [40, 49]
    val newBase = SkippingIndex.probeForDelta(spark, v2Path, changes, Seq("g"))
    val planned = newBase.inputFiles.length
    assert(planned >= 1 && planned <= 2, s"planned $planned of 10 files")
    // ... and row-bounded: the probe reads ~1 file of 100, not 1000
    val probeRows = newBase.count()
    assert(probeRows <= 200, s"probe read $probeRows rows — not pruned")

    val maintained = Ivm.applyDeltaWithExtrema(view1, changes, newBase,
      Seq("g"), Seq("v"), Seq("v"), Seq("v"))
    val recomputed = Ivm.aggregateWithExtrema(spark.read.parquet(v2Path),
      Seq("g"), Seq("v"), Seq("v"), Seq("v"))
    def s(df: DataFrame) = df
      .select(col("g"), col("n"), col("sum_v").cast("string"),
        col("min_v"), col("max_v"))
      .as[(Long, Long, String, Double, Double)].collect().toSet
    assert(s(maintained) == s(recomputed))
  }

  test("empty or NULL-key delta probes zero files") {
    val spark = TestSpark.spark
    val tmp = Scratch.dir("skip_ivm_e")
    val p = tmp.resolve("base").toString
    writeClustered(spark.range(0, 100)
      .select(col("id").as("k"), col("id").as("v")), p, "k", 4)
    SkippingIndex.build(spark, p, Seq("k"))
    val empty = Seq.empty[(Long, String)].toDF("k", "_change_type")
    assert(SkippingIndex.probeForDelta(spark, p, empty, Seq("k"))
      .inputFiles.isEmpty)
    val nulls = Seq((Option.empty[Long], "insert"))
      .toDF("k", "_change_type")
    assert(SkippingIndex.probeForDelta(spark, p, nulls, Seq("k"))
      .inputFiles.isEmpty)
  }
}
