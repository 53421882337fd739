package graft.operators

import graft.{Scratch, SparkSpec, TestSpark}
import org.apache.spark.sql.functions._

/** Layout + pruning proof: the bucket predicate must land in
  * PartitionFilters (directory pruning), not just PushedFilters.
  */
class TableLayoutSpec extends SparkSpec {

  test("range-bucketed point lookup prunes to one partition") {
    import TestSpark.spark.implicits._
    val path = Scratch.table("layout")
    val df = (0L until 10000L).map(i => (i, s"row$i")).toDF("game_id", "payload")
    TableLayout.writeRangeBucketed(df, path, "game_id", 1000L)

    val lookup = TableLayout.pointLookup(spark, path, "game_id", 4242L, 1000L)
    val plan = lookup.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters:"), plan)
    assert(plan.contains("key_bucket"), plan)
    // 10 buckets on disk; the scan lists exactly one
    assert(plan.contains("(key_bucket#") || plan.contains("key_bucket"), plan)
    val row = lookup.collect()
    assert(row.length == 1 && row.head.getAs[String]("payload") == "row4242")
    // pruning effectiveness: selected partitions carry ~1/10 of files
    val files = lookup.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numFiles")).map(_.value)
    assert(files.forall(_ <= 2), s"expected <=2 files read, got $files")
  }

  test("time-series layout partitions by day and prunes day ranges") {
    import TestSpark.spark.implicits._
    val path = Scratch.table("layout_ts")
    val rows = (0 until 96).map { h =>
      (h.toLong % 7, java.sql.Timestamp.valueOf(f"2026-01-${1 + h / 24}%02d $h%02d:00:00".replace(f"$h%02d:", f"${h % 24}%02d:")))
    }
    val df = rows.toDF("game_id", "load_timestamp")
    TableLayout.writeTimeSeries(df, path, "load_timestamp", "game_id")

    val scan = TableLayout.dayRange(spark, path, "2026-01-02", "2026-01-03")
    val plan = scan.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters:"), plan)
    assert(scan.count() == 48)
  }

  test("evolved table: each spec leg prunes its own directories; stitched read is exact") {
    import TestSpark.spark.implicits._
    val base = Scratch.dir("layout_evo").toString
    val (dayPath, monthPath) = (base + "/day", base + "/month")
    // 6 months of daily rows; the spec evolves after March
    val rows = for (m <- 1 to 6; dom <- Seq(5, 15, 25)) yield
      (m.toLong * 100 + dom,
        java.sql.Timestamp.valueOf(f"2026-$m%02d-$dom%02d 12:00:00"))
    val df = rows.toDF("game_id", "load_timestamp")
    val cutoff = java.sql.Timestamp.valueOf("2026-04-01 00:00:00")
    TableLayout.writeTimeSeries(
      df.filter($"load_timestamp" < cutoff), dayPath, "load_timestamp", "game_id")
    TableLayout.writeTimeSeriesMonthly(
      df.filter($"load_timestamp" >= cutoff), monthPath, "load_timestamp", "game_id")

    // window straddles the evolution: Mar 10 .. May 20
    val scan = TableLayout.evolvedDayRange(spark, dayPath, monthPath,
      "load_timestamp", "2026-03-10", "2026-05-20")
    // both legs prune at the directory level under their OWN spec
    val plan = scan.queryExecution.executedPlan.toString()
    assert(plan.contains("load_date"), plan)
    assert(plan.contains("load_month"), plan)
    val prunedFiles = scan.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum
    // day leg: 2 of 9 day dirs (Mar 15, 25); month leg: 2 of 3 month
    // dirs (Apr, May) — far fewer files than the 9 + 3 on disk
    assert(prunedFiles <= 4, s"expected <=4 files after pruning, got $prunedFiles:\n$plan")
    // and the stitched result is exactly the logical day window
    val got = scan.select($"game_id", $"spec").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = Map(315L -> "day", 325L -> "day",
      405L -> "month", 415L -> "month", 425L -> "month",
      505L -> "month", 515L -> "month")
    assert(got == want, s"got $got")
  }

  test("spec HISTORY: day->month->day re-evolution keeps three pruned legs with distinct ids") {
    import TestSpark.spark.implicits._
    val root = Scratch.table("layout_hist")
    val rows = for (m <- 1 to 6; dom <- Seq(5, 15, 25)) yield
      (m.toLong * 100 + dom,
        java.sql.Timestamp.valueOf(f"2026-$m%02d-$dom%02d 12:00:00"))
    val df = rows.toDF("game_id", "load_timestamp")
    def cut(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 1 under day spec 0, batch 2 under month spec 1, batch 3
    // under a NEW day spec 2 — a re-evolution the log must keep apart
    assert(TableLayout.evolveSpec(spark, root, "day") == 0)
    TableLayout.writeUnderCurrentSpec(spark, root,
      df.filter($"load_timestamp" < cut("2026-03-01 00:00:00")),
      "load_timestamp", "game_id")
    assert(TableLayout.evolveSpec(spark, root, "month") == 1)
    TableLayout.writeUnderCurrentSpec(spark, root,
      df.filter($"load_timestamp" >= cut("2026-03-01 00:00:00") &&
        $"load_timestamp" < cut("2026-05-01 00:00:00")),
      "load_timestamp", "game_id")
    assert(TableLayout.evolveSpec(spark, root, "day") == 2)
    TableLayout.writeUnderCurrentSpec(spark, root,
      df.filter($"load_timestamp" >= cut("2026-05-01 00:00:00")),
      "load_timestamp", "game_id")
    assert(TableLayout.specLog(spark, root) ==
      Seq((0, "day"), (1, "month"), (2, "day")))

    // window touches all three legs: Feb 10 .. May 20
    val scan = TableLayout.readEvolvedDayRange(spark, root,
      "load_timestamp", "2026-02-10", "2026-05-20")
    val got = scan.select($"game_id", $"spec_id", $"spec").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val want = Set(
      (215L, 0, "day"), (225L, 0, "day"),
      (305L, 1, "month"), (315L, 1, "month"), (325L, 1, "month"),
      (405L, 1, "month"), (415L, 1, "month"), (425L, 1, "month"),
      (505L, 2, "day"), (515L, 2, "day"))
    assert(got == want, s"got $got")
    // each leg prunes under its own spec: the stitched plan reads far
    // fewer files than live on disk (6 day dirs + 4 month dirs + ...)
    val prunedFiles = scan.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum
    assert(prunedFiles <= 7, s"expected <=7 files after pruning, got $prunedFiles")
  }

  test("interleaveBits is the Morton curve") {
    import TestSpark.spark.implicits._
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 0L),
      (3L, 5L), (63L, 63L)).toDF("x", "y")
    val got = df.select(TableLayout.interleaveBits(col("x"), col("y"), 6))
      .collect().map(_.getLong(0)).toSeq
    def morton(x: Long, y: Long): Long =
      (0 until 6).foldLeft(0L)((a, i) =>
        a | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))
    assert(got == Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 0L),
      (3L, 5L), (63L, 63L)).map { case (x, y) => morton(x, y) })
    assert(morton(63L, 63L) == 4095L)
  }

  test("z-order files have 2-D-bounded boxes: a y-only predicate skips most files; a linear sort skips none") {
    import TestSpark.spark.implicits._
    val base = Scratch.dir("layout_z").toString
    // a full 64x64 grid: every (x, y) cell once, in hash order
    val grid = TestSpark.spark.range(64L * 64L)
      .select((col("id") % 64).as("x"), expr("id div 64").as("y"))
    TableLayout.writeZOrdered(grid, s"$base/z", "x", "y", bits = 6, nFiles = 16)
    // the linear strawman: same data, same file count, sorted by x only
    grid.repartitionByRange(16, col("x")).sortWithinPartitions("x", "y")
      .write.parquet(s"$base/lin")

    // per-file bounding boxes, read the way parquet footer stats see them
    def boxes(dir: String): Seq[(Long, Long, Long, Long)] =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
        .toSeq.map { f =>
          val r = TestSpark.spark.read.parquet(f.getAbsolutePath)
            .agg(min("x"), max("x"), min("y"), max("y")).head()
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        }
    val zb = boxes(s"$base/z")
    val lb = boxes(s"$base/lin")
    assert(zb.size == 16 && lb.size == 16)
    def touching(bs: Seq[(Long, Long, Long, Long)],
        xr: (Long, Long), yr: (Long, Long)): Int =
      bs.count { case (xlo, xhi, ylo, yhi) =>
        xhi >= xr._1 && xlo <= xr._2 && yhi >= yr._1 && ylo <= yr._2 }
    // y-only predicate (y in [16, 23], an eighth of the range): every
    // x-sorted file spans all of y, so none skip; z-order tiles are
    // y-bounded, so most do
    val yOnlyLin = touching(lb, (0L, 63L), (16L, 23L))
    val yOnlyZ = touching(zb, (0L, 63L), (16L, 23L))
    assert(yOnlyLin == 16, s"linear layout should touch all files, got $yOnlyLin")
    assert(yOnlyZ <= 6, s"z-order should skip most files, touched $yOnlyZ")
    // a 2-D box (an eighth in each dim) stays bounded under z-order
    val boxZ = touching(zb, (16L, 23L), (16L, 23L))
    assert(boxZ <= 4, s"z-order 2-D box touched $boxZ files")
    // and the rewrite is lossless
    assert(TestSpark.spark.read.parquet(s"$base/z").count() == 64L * 64L)
    assert(TestSpark.spark.read.parquet(s"$base/z")
      .select("x", "y").distinct().count() == 64L * 64L)
  }

  test("replaceDays rewrites only the targeted day partitions and restores the overwrite conf") {
    import TestSpark.spark.implicits._
    val path = Scratch.table("layout_rw")
    val df = Seq(
      (1L, "2024-03-01 10:00:00", 1.0), (2L, "2024-03-02 10:00:00", 2.0),
      (3L, "2024-03-03 10:00:00", 3.0))
      .toDF("user_id", "ts", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    TableLayout.writeTimeSeries(df, path, "ts", "user_id")
    def files(day: String): Set[String] = {
      val dir = new java.io.File(s"$path/load_date=$day")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => s"${f.getName}:${f.lastModified}:${f.length}").toSet
    }
    val d1 = files("2024-03-01"); val d3 = files("2024-03-03")
    val confKey = "spark.sql.sources.partitionOverwriteMode"
    val before = TestSpark.spark.conf.getOption(confKey)
    TableLayout.replaceDays(spark,
      df.filter(col("ts").cast("date") === lit("2024-03-02"))
        .withColumn("value", col("value") * 10), path, "ts", "user_id")
    assert(TestSpark.spark.conf.getOption(confKey) == before,
      "overwrite-mode conf must be restored")
    assert(files("2024-03-01") == d1 && files("2024-03-03") == d3,
      "untouched partitions must keep their exact files")
    val got = TestSpark.spark.read.parquet(path)
      .select(col("user_id"), col("value")).as[(Long, Double)]
      .collect().toSet
    assert(got == Set((1L, 1.0), (2L, 20.0), (3L, 3.0)), got.toString)
  }
}
