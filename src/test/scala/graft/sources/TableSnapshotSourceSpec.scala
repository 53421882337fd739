package graft.sources

import graft.{Scratch, SparkSpec}
import graft.operators.{SkippingIndex, TableStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** The `graft-table` source: snapshot resolution through format
  * options, and filter-driven file skipping inside the FileIndex.
  */
class TableSnapshotSourceSpec extends SparkSpec {

  import spark.implicits._

  private def newTable(): String =
    Scratch.table("snapsource")

  private def read(path: String, opts: (String, String)*): DataFrame =
    opts.foldLeft(spark.read.format("graft-table"))(
      (r, kv) => r.option(kv._1, kv._2)).load(path)

  test("latest / versionAsOf / timestampAsOf resolve like the API reads") {
    val path = newTable()
    TableStore.publishVersion(spark, path,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val t1 = TableStore.commitTimes(spark, path).last._2
    TableStore.publishVersion(spark, path,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"))

    assert(read(path).count() == 3)
    assert(read(path, "versionAsOf" -> "1").count() == 2)
    assert(read(path, "timestampAsOf" -> t1.toString)
      .orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // option keys are case-insensitive through the DSv1 parameter map
    assert(read(path, "versionasof" -> "2").count() == 3)
  }

  test("tag and branch options resolve their snapshots") {
    val path = newTable()
    TableStore.publishVersion(spark, path, Seq(1L, 2L).toDF("id"))
    TableStore.tag(spark, path, "rel-1", 1L)
    TableStore.publishVersion(spark, path, Seq(1L, 2L, 3L).toDF("id"))
    assert(read(path, "tag" -> "rel-1").count() == 2)

    val branch = newTable()
    TableStore.branchCreate(spark, path, branch, Some(1L))
    // empty branch reads through to parent@base
    assert(read(path, "branch" -> branch).count() == 2)
    TableStore.publishVersion(spark, branch, Seq(9L).toDF("id"))
    assert(read(path, "branch" -> branch).as[Long].collect().toSeq == Seq(9L))
  }

  test("uncommitted / missing versions and conflicting options fail loudly") {
    val path = newTable()
    TableStore.publishVersion(spark, path, Seq(1L).toDF("id"))
    intercept[Exception] { read(path, "versionAsOf" -> "7").collect() }
    intercept[Exception] {
      read(path, "versionAsOf" -> "1", "tag" -> "x").collect()
    }
  }

  /** numFiles actually scanned for `df`, read from the executed scan's
    * own metric — the end-to-end proof that Spark handed OUR FileIndex
    * the pushed-down data filters and honored the pruned listing.
    */
  private def scannedFiles(df: DataFrame): Long = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    scans.map(_.metrics("numFiles").value).sum
  }

  private def publishRanged(): (String, String) = {
    val path = newTable()
    val df = spark.range(0, 1000)
      .select(col("id"), (col("id") % 7).as("grp"),
        concat(lit("s"), col("id")).as("s"))
      .repartitionByRange(8, col("id"))
    TableStore.publishVersion(spark, path, df)
    val dataDir = TableStore.snapshotDataDir(spark, path, None)
    SkippingIndex.build(spark, dataDir, Seq("id"))
    (path, dataDir)
  }

  test("pushed-down filters prune files through the skipping index") {
    val (path, _) = publishRanged()
    val full = read(path)
    assert(scannedFiles(full) == 8)

    // range-clustered on id: a narrow id interval intersects ~1 box
    val narrow = full.filter(col("id") >= 100 && col("id") <= 120)
    assert(scannedFiles(narrow) < 8)
    assert(narrow.count() == 21)

    val eq = full.filter(col("id") === 500)
    assert(scannedFiles(eq) <= 2)
    assert(eq.select("s").as[String].head() == "s500")

    // IN-list prunes to the union of matching boxes
    val in = full.filter(col("id").isin(1L, 2L, 3L))
    assert(scannedFiles(in) <= 2)
    assert(in.count() == 3)

    // a filter on an UNINDEXED column keeps every file (conservative)
    assert(scannedFiles(full.filter(col("grp") === 3)) == 8)

    // pruning must be result-invariant vs the API read
    val api = TableStore.readVersion(spark, path)
      .filter(col("id").between(100, 120)).agg(sum("id")).head.getLong(0)
    val src = read(path).filter(col("id").between(100, 120))
      .agg(sum("id")).head.getLong(0)
    assert(api == src)
  }

  test("a disjunction keeps the union of its sides' files") {
    val (path, _) = publishRanged()
    val or = read(path).filter(col("id") === 5 || col("id") === 995)
    val n = scannedFiles(or)
    assert(n >= 2 && n < 8, s"expected 2..7 files, scanned $n")
    assert(or.count() == 2)
  }

  test("writer SaveMode semantics: overwrite / append / errorIfExists / ignore") {
    val path = newTable()
    def w(df: DataFrame, mode: String) =
      df.write.format("graft-table").mode(mode).save(path)

    w(Seq(1L, 2L).toDF("id"), "append") // first write = initial snapshot
    assert(read(path).count() == 2)
    w(Seq(3L).toDF("id"), "append")
    assert(read(path).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // the append chained files instead of rewriting: the new version
    // reads from TWO dirs and the parent version is untouched
    assert(TableStore.snapshotDataDirs(spark, path, None).size == 2)
    assert(read(path, "versionAsOf" -> "1").count() == 2)
    w(Seq(9L).toDF("id"), "overwrite")
    assert(read(path).as[Long].collect().toSeq == Seq(9L))
    assert(TableStore.snapshotDataDirs(spark, path, None).size == 1)
    w(Seq(8L).toDF("id"), "ignore") // table exists: no-op
    assert(read(path).as[Long].collect().toSeq == Seq(9L))
    intercept[Exception] { w(Seq(7L).toDF("id"), "errorIfExists") }
  }

  test("append chain: schema mismatch is loud, retention keeps chained parents") {
    val path = newTable()
    TableStore.publishVersion(spark, path, Seq((1L, "a")).toDF("id", "s"))
    intercept[IllegalArgumentException] {
      TableStore.publishVersionAppend(spark, path, Seq(2L).toDF("id"))
    }
    val v2 = TableStore.publishVersionAppend(spark, path,
      Seq((2L, "b")).toDF("id", "s"))
    val v3 = TableStore.publishVersionAppend(spark, path,
      Seq((3L, "c")).toDF("id", "s"))
    assert(v2 == 2L && v3 == 3L)
    assert(TableStore.readVersion(spark, path).count() == 3)
    assert(TableStore.readVersion(spark, path, Some(2L)).count() == 2)
    // retention below v3 must NOT reclaim v1/v2 data: the live chain
    // still reads through them (Delta vacuum's reachability rule)
    TableStore.dropVersionsBelow(spark, path, 3L)
    assert(TableStore.readVersion(spark, path).count() == 3)
    // changefeed-style per-version files: an append version's OWN
    // files are exactly its delta
    assert(TableStore.versionFiles(spark, path, v3).nonEmpty)
  }

  test("per-dir skipping indexes prune appended chains incrementally") {
    val path = newTable()
    def ranged(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id")).repartitionByRange(4, col("id"))
    TableStore.publishVersion(spark, path, ranged(0, 400))
    SkippingIndex.build(spark,
      TableStore.snapshotDataDirs(spark, path, None).last, Seq("id"))
    TableStore.publishVersionAppend(spark, path, ranged(400, 800))
    val dirs = TableStore.snapshotDataDirs(spark, path, None)
    assert(dirs.size == 2)
    SkippingIndex.build(spark, dirs.last, Seq("id")) // index ONLY the delta
    val df = read(path).filter(col("id").between(500L, 520L))
    assert(scannedFiles(df) < 8, "expected pruning across the chain")
    assert(df.count() == 21)
    // only one dir indexed -> that dir prunes, the other keeps all
    val path2 = newTable()
    TableStore.publishVersion(spark, path2, ranged(0, 400))
    TableStore.publishVersionAppend(spark, path2, ranged(400, 800))
    val dirs2 = TableStore.snapshotDataDirs(spark, path2, None)
    SkippingIndex.build(spark, dirs2.last, Seq("id"))
    val half = read(path2).filter(col("id") === 450L)
    val n = scannedFiles(half)
    assert(n >= 4 && n < 8, s"expected 4..7 files (unindexed dir kept), got $n")
    assert(half.count() == 1)
  }

  test("writer indexColumns builds per-delta skipping stats; checkpoint resets the chain") {
    val path = newTable()
    def w(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id"))
      .repartitionByRange(4, col("id"))
      .write.format("graft-table").option("indexColumns", "id")
      .mode("append").save(path)
    w(0, 400); w(400, 800)
    assert(TableStore.snapshotDataDirs(spark, path, None).size == 2)
    // both deltas carry their own index -> a point filter prunes both
    val df = read(path).filter(col("id") === 600L)
    assert(scannedFiles(df) <= 2)
    assert(df.count() == 1)

    val cp = TableStore.checkpointChain(spark, path)
    assert(TableStore.snapshotDataDirs(spark, path, None).size == 1)
    assert(read(path).count() == 800)
    // pre-checkpoint versions still time-travel
    assert(read(path, "versionAsOf" -> "1").count() == 400)
    // checkpoint of a single-dir version is a no-op
    assert(TableStore.checkpointChain(spark, path) == cp)
  }

  test("zorderBy + indexColumns: one write lands clustered, indexed, 2-D-prunable files") {
    val path = newTable()
    val n = 4096
    val df = spark.range(0, n).select(
      col("id").as("x"),
      // y decorrelated from x (bit-reverse-ish) so a linear x layout
      // would leave every file's y box spanning the full range
      ((col("id") * 2654435761L) % n).as("y"),
      (col("id") % 7).as("v"))
    df.write.format("graft-table")
      .option("zorderBy", "x,y,12,16")
      .option("indexColumns", "x,y")
      .mode("overwrite").save(path)
    val read0 = read(path)
    assert(read0.count() == n)
    // multiset identical to the unclustered input
    assert(read0.agg(sum(col("x") + col("y") * 3 + col("v") * 7)).head.getLong(0)
      == df.agg(sum(col("x") + col("y") * 3 + col("v") * 7)).head.getLong(0))
    // a y-ONLY predicate prunes through the z-order boxes — the 2-D
    // claim a linear x sort cannot deliver
    val yOnly = read0.filter(col("y") >= 0 && col("y") <= (n / 8))
    val ky = scannedFiles(yOnly)
    assert(ky < 16, s"z-order write: y-only filter kept all $ky files")
    val xOnly = read0.filter(col("x") >= 0 && col("x") <= (n / 8))
    assert(scannedFiles(xOnly) < 16)
  }

  test("null-count stats prune IS NULL / IS NOT NULL; prefix predicates prune strings") {
    val path = newTable()
    // file 1: no nulls, names a*..b*; file 2: ALL null v, names x*..z*
    val part1 = spark.range(0, 100).select(
      col("id").cast("long").as("v"),
      concat(lit("alpha_"), lpad(col("id").cast("string"), 3, "0")).as("name"))
    val part2 = spark.range(0, 100).select(
      lit(null).cast("long").as("v"),
      concat(lit("zeta_"), lpad(col("id").cast("string"), 3, "0")).as("name"))
    // two files via two appends, each indexed on its own dir
    part1.coalesce(1).write.format("graft-table")
      .option("indexColumns", "v,name").mode("overwrite").save(path)
    part2.coalesce(1).write.format("graft-table")
      .option("indexColumns", "v,name").mode("append").save(path)

    val df = read(path)
    // IS NULL skips the no-null file; IS NOT NULL skips the all-null one
    val isNull = df.filter(col("v").isNull)
    assert(scannedFiles(isNull) == 1)
    assert(isNull.count() == 100)
    val notNull = df.filter(col("v").isNotNull)
    assert(scannedFiles(notNull) == 1)
    assert(notNull.count() == 100)
    // startsWith prunes by the [prefix, succ(prefix)) overlap test
    val pre = df.filter(col("name").startsWith("zeta_"))
    assert(scannedFiles(pre) == 1)
    assert(pre.count() == 100)
    assert(scannedFiles(df.filter(col("name").startsWith("nope_"))) == 0)
  }

  test("string stats compare in UTF-8 byte order — supplementary planes never mis-prune") {
    val path = newTable()
    // U+E000 (BMP private-use) vs U+1F600 (supplementary, a surrogate
    // pair in UTF-16). Spark's min/max stats are UTF8String binary
    // order: min = x, max = U+1F600 x. Under java.lang.String
    // UTF-16 code-unit order the pair (0xD83D…) sorts BELOW ,
    // so a compareTo-based box test would conclude the max is below
    // the probe value and prune the only matching file.
    val hi = "😀x" // U+1F600 + 'x'
    val lo = "x"
    Seq(lo, hi).toDF("name").coalesce(1).write.format("graft-table")
      .option("indexColumns", "name").mode("overwrite").save(path)

    val df = read(path)
    val eq = df.filter(col("name") === hi)
    assert(scannedFiles(eq) == 1, "collation bug: matching file was pruned")
    assert(eq.count() == 1)
    // prefix of the supplementary char must also keep the file
    val pre = df.filter(col("name").startsWith("😀"))
    assert(scannedFiles(pre) == 1)
    assert(pre.count() == 1)
    // and pruning itself still works: probe below the UTF-8 min
    assert(scannedFiles(df.filter(col("name") === "aaa")) == 0)
    // …and above the UTF-8 max (BMP order would call U+FFFD > max)
    assert(scannedFiles(df.filter(col("name") === "🙏z")) == 0)
  }

  test("append with a same-named column at a different type fails at publish time") {
    val path = newTable()
    TableStore.publishVersion(spark, path,
      Seq((1L, 1.5)).toDF("id", "v"))
    val e = intercept[IllegalArgumentException] {
      TableStore.publishVersionAppend(spark, path,
        Seq((2L, "oops")).toDF("id", "v"))
    }
    assert(e.getMessage.contains("type drift"))
    // same types in a different column order still commit
    TableStore.publishVersionAppend(spark, path,
      Seq((2.5, 2L)).toDF("v", "id").select("v", "id"))
    assert(read(path).count() == 2)
  }

  test("one source name: readStream and batch readChangeFeed resolve on graft-table") {
    val path = newTable()
    TableStore.publishFoldSnapshot(spark,
      path, Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x"), "v0")
    TableStore.publishFoldDelta(spark, path,
      Seq((2L, 20.0, -1L), (3L, 30.0, 1L)).toDF("id", "x", "_mult"), "tick")

    // streaming half: the commit log as micro-batches, offsets =
    // versions, through the SAME format name as snapshot reads
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val q = spark.readStream.format("graft-table").load(path)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        got ++= b.select("id", "_mult", "_version")
          .as[(Long, Long, Long)].collect(): Unit
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(got.toSet == Set((1L, 1L, 1L), (2L, 1L, 1L),
      (2L, -1L, 2L), (3L, 1L, 2L)), got.toSet)

    // batch CDC half: Delta's CDF options delegate to changesBetween
    val snapA = newTable()
    TableStore.publishVersion(spark, snapA,
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    TableStore.publishVersion(spark, snapA,
      Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("k", "s"))
    val cdc = read(snapA, "readChangeFeed" -> "true",
      "startingVersion" -> "1", "changeKeys" -> "k")
      .select("k", "_change_type").as[(Long, String)].collect().toSet
    assert(cdc == Set((2L, "update_preimage"), (2L, "update_postimage"),
      (3L, "insert")), cdc)
    // CDC and snapshot pins stay mutually exclusive
    intercept[Exception] {
      read(snapA, "readChangeFeed" -> "true", "startingVersion" -> "1",
        "changeKeys" -> "k", "versionAsOf" -> "1").collect()
    }
    // snapshot reads and writes through the same name still work with
    // the TableProvider mixin present (V1 fallback, not a V2 scan)
    assert(read(snapA).count() == 3)
    Seq((9L, "z")).toDF("k", "s").write.format("graft-table")
      .mode("overwrite").save(snapA)
    assert(read(snapA).count() == 1)
  }

  test("retention tolerates version-dir indexes and reclaims them with their data") {
    val path = newTable()
    TableStore.publishVersion(spark, path, Seq(1L).toDF("id"))
    val d1 = TableStore.snapshotDataDir(spark, path, Some(1L))
    SkippingIndex.build(spark, d1, Seq("id"))
    TableStore.publishVersion(spark, path, Seq(1L, 2L).toDF("id"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(d1 + "__idx")))
    // must not parse-crash on the v=1__idx entry; must reclaim v1's
    // data AND its stale index
    TableStore.dropVersionsBelow(spark, path, keepFrom = 2L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(d1)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(d1 + "__idx")))
    assert(TableStore.readVersion(spark, path).count() == 2)
  }

  test("two concurrent appends to one parent serialize; no rows lost") {
    val path = newTable()
    TableStore.publishVersion(spark, path, Seq(0L).toDF("id"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val fs = (1 to 2).map { i =>
      Future {
        var done = false
        var tries = 0
        while (!done) {
          try {
            TableStore.publishVersionAppend(spark, path,
              Seq(i.toLong).toDF("id"), note = s"writer-$i")
            done = true
          } catch {
            case _: TableStore.ConcurrentVersionException =>
              tries += 1; assert(tries < 20)
          }
        }
      }
    }
    fs.foreach(Await.result(_, 60.seconds))
    pool.shutdown()
    assert(TableStore.readVersion(spark, path).as[Long].collect().sorted
      .toSeq == Seq(0L, 1L, 2L))
    assert(TableStore.committedVersions(spark, path) == Seq(1L, 2L, 3L))
  }

  test("stale or absent index degrades to keep-all, never wrong results") {
    val (path, dataDir) = publishRanged()
    // staleness: rewrite one data file set marker by appending a file
    val fs = new org.apache.hadoop.fs.Path(dataDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val extra = new org.apache.hadoop.fs.Path(dataDir + "/zz-extra.parquet")
    spark.range(1000, 1001).select(col("id"), (col("id") % 7).as("grp"),
        concat(lit("s"), col("id")).as("s"))
      .coalesce(1).write.parquet(dataDir + "_tmp")
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(dataDir + "_tmp"))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    org.apache.hadoop.fs.FileUtil.copy(fs, part, fs, extra, false,
      spark.sparkContext.hadoopConfiguration)

    val df = read(path).filter(col("id") === 500)
    assert(scannedFiles(df) == 9) // index stale -> no pruning, all files
    assert(df.count() == 1)
  }
}
