package graft.operators

import graft.{Scratch, SparkSpec, TestSpark}

/** Write-discipline semantics on tiny tables (SURVEY §2.1 S5-S12). */
class TableStoreSpec extends SparkSpec {

  private def scratch(): String =
    Scratch.table("store_spec")

  private def kv(rows: (Long, String)*) = {
    import TestSpark.spark.implicits._
    rows.toDF("k", "v")
  }

  private def readSorted(path: String): Seq[(Long, String)] =
    TableStore.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  test("insertIfAbsent keeps existing keys, adds new ones") {
    val p = scratch()
    TableStore.overwrite(kv(1L -> "a", 2L -> "b"), p)
    TableStore.insertIfAbsent(spark, p, kv(2L -> "NEW", 3L -> "c"), Seq("k"))
    assert(readSorted(p) == Seq(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("upsertByKey lets the source win") {
    val p = scratch()
    TableStore.overwrite(kv(1L -> "a", 2L -> "b"), p)
    TableStore.upsertByKey(spark, p, kv(2L -> "NEW", 3L -> "c"), Seq("k"))
    assert(readSorted(p) == Seq(1L -> "a", 2L -> "NEW", 3L -> "c"))
  }

  test("deleteInsert drops all rows of rewritten keys") {
    val p = scratch()
    TableStore.overwrite(kv(1L -> "a", 1L -> "a2", 2L -> "b"), p)
    TableStore.deleteInsert(spark, p, kv(1L -> "only"), Seq("k"))
    assert(readSorted(p) == Seq(1L -> "only", 2L -> "b"))
  }

  test("maxWatermark on absent table is None") {
    assert(TableStore.maxWatermark(spark, scratch(), "ts").isEmpty)
  }

  test("upsertByKey and insertIfAbsent are idempotent") {
    val p = scratch()
    TableStore.overwrite(kv(1L -> "a"), p)
    val batch = kv(1L -> "NEW", 2L -> "b")
    TableStore.upsertByKey(spark, p, batch, Seq("k"))
    val once = readSorted(p)
    TableStore.upsertByKey(spark, p, batch, Seq("k"))
    assert(readSorted(p) == once)

    val q = scratch()
    TableStore.overwrite(kv(1L -> "a"), q)
    TableStore.insertIfAbsent(spark, q, batch, Seq("k"))
    val onceQ = readSorted(q)
    TableStore.insertIfAbsent(spark, q, batch, Seq("k"))
    assert(readSorted(q) == onceQ)
  }

  test("compact merges accreted small files, preserving rows") {
    import TestSpark.spark.implicits._
    val p = scratch()
    // ten appends -> many small files
    (1 to 10).foreach { i =>
      TableStore.append(Seq((i.toLong, s"v$i")).toDF("k", "v"), p)
    }
    def fileCount = new java.io.File(p).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(fileCount >= 10)
    TableStore.compact(spark, p, targetFileRows = 100, sortCols = Seq("k"))
    assert(fileCount == 1)
    assert(readSorted(p) == (1 to 10).map(i => i.toLong -> s"v$i"))
  }

  test("deleteInsert on an absent table bootstraps it") {
    val p = scratch()
    TableStore.deleteInsert(spark, p, kv(7L -> "x"), Seq("k"))
    assert(readSorted(p) == Seq(7L -> "x"))
  }

  test("scd2Upsert: null-safe change detection; identical resend is a no-op") {
    val p = scratch()
    def day(x: String) = java.sql.Date.valueOf(x)
    def hist() = TableStore.read(spark, p).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)),
        r.getDate(2).toString, Option(r.getDate(3)).map(_.toString)))
      .toSeq.sortBy(t => (t._1, t._3))
    // attrs include NULL: change detection must be null-safe both ways
    def batch(rows: (Long, Option[String])*) = {
      import TestSpark.spark.implicits._
      rows.map { case (k, v) => (k, v.orNull) }.toDF("k", "v")
    }
    TableStore.scd2Upsert(spark, p,
      batch(1L -> Some("a"), 2L -> None), Seq("k"), Seq("v"), day("2024-01-01"))
    // 1 changes a->NULL, 2 changes NULL->"b": both must close + reopen
    TableStore.scd2Upsert(spark, p,
      batch(1L -> None, 2L -> Some("b")), Seq("k"), Seq("v"), day("2024-02-01"))
    assert(hist() == Seq(
      (1L, Some("a"), "2024-01-01", Some("2024-02-01")),
      (1L, None, "2024-02-01", None),
      (2L, None, "2024-01-01", Some("2024-02-01")),
      (2L, Some("b"), "2024-02-01", None)))
    // resend identical values: must be a complete no-op
    TableStore.scd2Upsert(spark, p,
      batch(1L -> None, 2L -> Some("b")), Seq("k"), Seq("v"), day("2024-03-01"))
    assert(hist() == Seq(
      (1L, Some("a"), "2024-01-01", Some("2024-02-01")),
      (1L, None, "2024-02-01", None),
      (2L, None, "2024-01-01", Some("2024-02-01")),
      (2L, Some("b"), "2024-02-01", None)))
    // out-of-order batch: rejected before it can write inverted ranges
    val e = intercept[IllegalArgumentException] {
      TableStore.scd2Upsert(spark, p,
        batch(1L -> Some("z")), Seq("k"), Seq("v"), day("2024-01-15"))
    }
    assert(e.getMessage.contains("precedes"), e.getMessage)
    // and the failed call changed nothing
    assert(hist().size == 4)
    // non-key-unique batch: the in-plan raise_error guard aborts the
    // staged write before any rename (a NULL key is one key too — the
    // window partitioning is null-safe)
    val dup = intercept[Exception] {
      TableStore.scd2Upsert(spark, p,
        batch(3L -> Some("x"), 3L -> Some("y")), Seq("k"), Seq("v"),
        day("2024-04-01"))
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(dup).exists(_.contains("key-unique")), dup.toString)
    assert(hist().size == 4)
    // FIRST write with a duplicate-key batch: the abort must happen in
    // the staged dir — the live path must not come into existence, or
    // the next call would mistake the partial write for history
    val fresh = scratch()
    val dupFirst = intercept[Exception] {
      TableStore.scd2Upsert(spark, fresh,
        batch(1L -> Some("a"), 1L -> Some("b")), Seq("k"), Seq("v"),
        day("2024-01-01"))
    }
    assert(messages(dupFirst).exists(_.contains("key-unique")), dupFirst.toString)
    assert(!TableStore.exists(spark, fresh),
      "failed first write must not create the live path")
    // and the path is still usable afterwards
    TableStore.scd2Upsert(spark, fresh,
      batch(1L -> Some("a")), Seq("k"), Seq("v"), day("2024-01-01"))
    assert(TableStore.read(spark, fresh).count() == 1L)
  }

  test("versioned snapshots: pinned reads, current pointer, retention") {
    import TestSpark.spark.implicits._
    val p = scratch()
    assert(TableStore.currentVersion(spark, p).isEmpty)
    intercept[RuntimeException] { TableStore.readVersion(spark, p) }
    val v1 = TableStore.publishVersion(spark, p, Seq((1L, "a")).toDF("k", "v"))
    val v2 = TableStore.publishVersion(spark, p, Seq((1L, "b")).toDF("k", "v"))
    val v3 = TableStore.publishVersion(spark, p, Seq((2L, "c")).toDF("k", "v"))
    assert((v1, v2, v3) == (1L, 2L, 3L))
    assert(TableStore.currentVersion(spark, p).contains(3L))
    // live read = current version; pinned reads return their snapshot
    assert(TableStore.readVersion(spark, p).collect().map(_.getString(1)).toSeq
      == Seq("c"))
    assert(TableStore.readVersion(spark, p, Some(v1)).collect()
      .map(_.getString(1)).toSeq == Seq("a"))
    assert(TableStore.readVersion(spark, p, Some(v2)).collect()
      .map(_.getString(1)).toSeq == Seq("b"))
    // retention drops old versions but never the current one
    TableStore.dropVersionsBelow(spark, p, keepFrom = 3L)
    val gone = intercept[IllegalArgumentException] {
      TableStore.readVersion(spark, p, Some(v1))
    }
    assert(gone.getMessage.contains("does not exist"), gone.getMessage)
    assert(TableStore.readVersion(spark, p).count() == 1L)
    // a version number never published fails loudly
    val missing = intercept[IllegalArgumentException] {
      TableStore.readVersion(spark, p, Some(99L))
    }
    assert(missing.getMessage.contains("not committed"), missing.getMessage)
    // an orphan dir from a crashed publish (written, never flipped) is
    // NOT readable even though the directory exists
    Seq((9L, "ghost")).toDF("k", "v").write.parquet(s"$p/v=9")
    val orphan = intercept[IllegalArgumentException] {
      TableStore.readVersion(spark, p, Some(9L))
    }
    assert(orphan.getMessage.contains("not committed"), orphan.getMessage)
    // ... and the counter skips past it instead of reusing its number
    assert(TableStore.publishVersion(spark, p,
      Seq((3L, "d")).toDF("k", "v")) == 10L)
  }

  test("concurrent publishers land as distinct committed versions") {
    import TestSpark.spark.implicits._
    val p = scratch()
    // race 6 publishers; the claim step must hand each a distinct
    // number and every commit must be readable afterwards
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val vs = Await.result(Future.sequence((0 until 6).map { i => Future {
      TableStore.publishVersion(spark, p,
        Seq((i.toLong, s"w$i")).toDF("k", "v"), note = s"writer-$i")
    }}), Duration.Inf)
    assert(vs.toSet.size == 6, s"collided versions: $vs")
    assert(TableStore.committedVersions(spark, p) == vs.sorted)
    assert(TableStore.currentVersion(spark, p).contains(vs.max))
    // each version holds exactly its writer's row, note intact — no
    // torn or cross-written snapshots
    vs.zipWithIndex.foreach { case (v, i) =>
      val rows = TableStore.readVersion(spark, p, Some(v)).collect()
      assert(rows.length == 1 && rows(0).getString(1) == s"w$i")
      assert(TableStore.versionNote(spark, p, v).contains(s"writer-$i"))
    }
  }

  test("a crash between claim and marker burns the number; commit note survives retention") {
    import TestSpark.spark.implicits._
    val p = scratch()
    val v1 = TableStore.publishVersion(spark, p,
      Seq((1L, "a")).toDF("k", "v"), note = "batch:7")
    assert(TableStore.versionNote(spark, p, v1).contains("batch:7"))
    // simulate a publisher that claimed v2 and wrote data but died
    // before creating its marker: claim file + dir, no marker
    val f = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(p), spark.sparkContext.hadoopConfiguration)
    f.create(new org.apache.hadoop.fs.Path(s"$p/_claim_v2"), false).close()
    Seq((2L, "ghost")).toDF("k", "v").write.parquet(s"$p/v=2")
    // never readable ...
    val orphan = intercept[IllegalArgumentException] {
      TableStore.readVersion(spark, p, Some(2L))
    }
    assert(orphan.getMessage.contains("not committed"), orphan.getMessage)
    assert(TableStore.versionNote(spark, p, 2L).isEmpty)
    // ... and the number stays burned: the next publish claims past it
    val v3 = TableStore.publishVersion(spark, p,
      Seq((3L, "c")).toDF("k", "v"), note = "batch:8")
    assert(v3 == 3L)
    assert(TableStore.currentVersion(spark, p).contains(3L))
    // retention reclaims v1's data but keeps its marker + note
    TableStore.dropVersionsBelow(spark, p, keepFrom = 3L)
    intercept[IllegalArgumentException] {
      TableStore.readVersion(spark, p, Some(v1))
    }
    assert(TableStore.versionNote(spark, p, v1).contains("batch:7"))
    assert(TableStore.committedVersions(spark, p) == Seq(v1, v3))
  }

  private def tsTable(rows: (Long, String)*) = {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions.col
    rows.toDF("k", "tss").select(col("k"), col("tss").cast("timestamp").as("ts"))
  }

  test("archiveOlderThan: retry after a simulated mid-op crash duplicates nothing") {
    val live = scratch()
    val arch = scratch()
    val original = tsTable(
      1L -> "2024-01-01 00:00:00", 2L -> "2024-01-02 00:00:00",
      3L -> "2024-02-01 00:00:00")
    val cutoff = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    TableStore.overwrite(original, live)
    TableStore.archiveOlderThan(spark, live, arch, "ts", cutoff)
    def count(p: String) = TableStore.read(spark, p).count()
    assert(count(arch) == 2 && count(live) == 1)
    // simulate a crash AFTER the archive move but BEFORE the live
    // rewrite: the archive holds the batch, live still has the rows
    TableStore.overwrite(original, live)
    TableStore.archiveOlderThan(spark, live, arch, "ts", cutoff)
    assert(count(arch) == 2, "retry must replace, not re-append, its batch")
    assert(count(live) == 1)
    // retry after full completion is a no-op
    TableStore.archiveOlderThan(spark, live, arch, "ts", cutoff)
    assert(count(arch) == 2 && count(live) == 1)
    // a later cutoff archives the remaining row alongside, not over,
    // the first batch
    TableStore.archiveOlderThan(spark, live, arch, "ts",
      java.sql.Timestamp.valueOf("2024-03-01 00:00:00"))
    assert(count(arch) == 3 && count(live) == 0)
  }

  test("archiveOlderThan with an empty batch still creates a readable empty archive") {
    val live = scratch()
    val arch = scratch()
    TableStore.overwrite(tsTable(1L -> "2024-06-01 00:00:00"), live)
    TableStore.archiveOlderThan(spark, live, arch, "ts",
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(TableStore.read(spark, arch).count() == 0)
    assert(TableStore.read(spark, live).count() == 1)
  }

  test("archiveOlderThan keeps NULL-timestamp rows live") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions.{col, when}
    val live = scratch()
    val arch = scratch()
    val df = Seq(1L -> "2024-01-01 00:00:00", 2L -> "keepnull")
      .toDF("k", "tss")
      .select(col("k"),
        when(col("tss") =!= "keepnull", col("tss")).cast("timestamp").as("ts"))
    TableStore.overwrite(df, live)
    TableStore.archiveOlderThan(spark, live, arch, "ts",
      java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
    val liveKeys = TableStore.read(spark, live).collect().map(_.getLong(0)).toSet
    assert(liveKeys == Set(2L))
    assert(TableStore.read(spark, arch).count() == 1)
  }

  test("deletion vectors: tombstone reads == post-apply reads; idempotent; files untouched until apply") {
    val p = scratch()
    TableStore.overwrite(kv(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"), p)
    val f = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(p), spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Set[String] =
      f.listStatus(new org.apache.hadoop.fs.Path(p))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(s => s"${s.getPath.getName}@${s.getModificationTime}").toSet
    val before = dataFiles()
    import org.apache.spark.sql.functions.col
    TableStore.deleteWhere(spark, p, Seq("k"), col("k") % 2 === 0)
    // delete is O(keys): the data files are byte-identical
    assert(dataFiles() == before)
    def live(): Seq[(Long, String)] =
      TableStore.readLive(spark, p, Seq("k")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(live() == Seq(1L -> "a", 3L -> "c"))
    // idempotent: re-deleting the same predicate changes nothing
    TableStore.deleteWhere(spark, p, Seq("k"), col("k") % 2 === 0)
    assert(live() == Seq(1L -> "a", 3L -> "c"))
    // a second delete accumulates
    TableStore.deleteWhere(spark, p, Seq("k"), col("v") === "c")
    assert(live() == Seq(1L -> "a"))
    TableStore.applyDeletes(spark, p, Seq("k"))
    // applied: plain reads now see the live view, tombstones cleared
    assert(readSorted(p) == Seq(1L -> "a"))
    assert(!TableStore.exists(spark, p + "__deletes"))
    // readLive with no pending tombstones is a plain scan
    assert(live() == Seq(1L -> "a"))
    // apply with nothing pending is a no-op (no rewrite churn)
    val after = dataFiles()
    TableStore.applyDeletes(spark, p, Seq("k"))
    assert(dataFiles() == after)
  }

  test("changesBetween: CDC rows; null transitions are changes; identical versions diff empty") {
    import TestSpark.spark.implicits._
    val p = scratch()
    val v1 = TableStore.publishVersion(spark,  p,
      Seq((1L, Option("a")), (2L, Option("b")), (3L, Option.empty[String]))
        .toDF("k", "v"))
    val v2 = TableStore.publishVersion(spark, p,
      Seq((2L, Option("B")), (3L, Option("c")), (4L, Option.empty[String]))
        .toDF("k", "v"))
    def diff(a: Long, b: Long): Seq[(String, Long, Option[String])] =
      TableStore.changesBetween(spark, p, a, b, Seq("k")).collect()
        .map(r => (r.getString(0), r.getLong(1), Option(r.getString(2))))
        .toSeq.sorted
    // 1 deleted; 2 updated; 3 updated NULL→'c' (null transition must
    // register as a change, not hash-collide with the string "null");
    // 4 inserted with a NULL payload
    assert(diff(v1, v2) == Seq(
      ("delete", 1L, Option("a")),
      ("insert", 4L, Option.empty[String]),
      ("update_postimage", 2L, Option("B")),
      ("update_postimage", 3L, Option("c")),
      ("update_preimage", 2L, Option("b")),
      ("update_preimage", 3L, Option.empty[String])))
    // self-diff is empty — unchanged rows never leave the join
    assert(diff(v2, v2).isEmpty)
    // reversed direction mirrors insert/delete and swaps the images
    assert(diff(v2, v1).count(_._1 == "delete") == 1 &&
      diff(v2, v1).count(_._1 == "insert") == 1)
  }

  test("changesBetween across additive schema evolution: NULL-padding is not a change") {
    import TestSpark.spark.implicits._
    val p = scratch()
    val v1 = TableStore.publishVersion(spark, p,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    // evolution: new column `w`; row 1 untouched (w never backfilled),
    // row 2 genuinely edited, row 3 inserted with the new column
    val v2 = TableStore.publishVersion(spark, p,
      Seq((1L, "a", Option.empty[Long]), (2L, "B", Option.empty[Long]),
        (3L, "c", Option(7L))).toDF("k", "v", "w"))
    // without opt-in the drift stays loud
    intercept[IllegalArgumentException] {
      TableStore.changesBetween(spark, p, v1, v2, Seq("k")).collect()
    }
    val got = TableStore.changesBetween(spark, p, v1, v2, Seq("k"),
      allowEvolution = true).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(got == Seq(("insert", 3L),
      ("update_postimage", 2L), ("update_preimage", 2L)),
      s"evolution alone must emit zero change rows, got $got")
    // a backfill IS a change: NULL -> 7 on the evolved column
    val v3 = TableStore.publishVersion(spark, p,
      Seq((1L, "a", Option(9L)), (2L, "B", Option.empty[Long]),
        (3L, "c", Option(7L))).toDF("k", "v", "w"))
    val backfill = TableStore.changesBetween(spark, p, v2, v3, Seq("k"),
      allowEvolution = true).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(backfill.toSeq.sorted ==
      Seq(("update_postimage", 1L), ("update_preimage", 1L)))
    // a retyped column is NOT additive — stays loud even with opt-in
    TableStore.publishVersion(spark, p,
      Seq((1L, 5L, Option(9L))).toDF("k", "v", "w"))
    intercept[IllegalArgumentException] {
      TableStore.changesBetween(spark, p, v3, v3 + 1, Seq("k"),
        allowEvolution = true).collect()
    }
  }

  test("vacuum reclaims crashed-publish orphan dirs, keeps the burn record and all commits") {
    import TestSpark.spark.implicits._
    val p = scratch()
    val v1 = TableStore.publishVersion(spark, p, Seq((1L, "a")).toDF("k", "v"))
    val v2 = TableStore.publishVersion(spark, p, Seq((2L, "b")).toDF("k", "v"))
    // simulate a publisher that crashed between claim and marker:
    // claim file present, data dir (partially) written, no marker
    val f = new java.io.File(p)
    assert(new java.io.File(f, "_claim_v3").createNewFile())
    Seq((9L, "ghost")).toDF("k", "v").write.parquet(s"$p/v=3")
    assert(TableStore.vacuum(spark, p) == 1L, "exactly the one orphan reclaimed")
    assert(!new java.io.File(f, "v=3").exists(), "orphan data dir must be gone")
    assert(new java.io.File(f, "_claim_v3").exists(), "burn record must survive")
    // committed versions untouched, current unchanged
    assert(TableStore.committedVersions(spark, p) == Seq(v1, v2))
    assert(TableStore.readVersion(spark, p, Some(v1)).collect()
      .map(_.getString(1)).toSeq == Seq("a"))
    assert(TableStore.currentVersion(spark, p).contains(v2))
    // the burned number is never re-issued: the next publish skips it
    assert(TableStore.publishVersion(spark, p,
      Seq((3L, "c")).toDF("k", "v")) == 4L)
    // idempotent: a second vacuum finds nothing
    assert(TableStore.vacuum(spark, p) == 0L)
  }

  test("mergeClauses: delete / update / insert / untouched all in one merge") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions._
    val p = scratch()
    TableStore.overwrite(kv(1L -> "del", 2L -> "upd", 3L -> "keep"), p)
    // src matches 1 (tagged for delete), 2 (update), and brings 9 (insert)
    val src = Seq((1L, "x"), (2L, "new"), (9L, "ins")).toDF("k", "sv")
    TableStore.mergeClauses(spark, p, src, Seq("k"),
      deleteWhen = col("v") === "del",
      updateSet = Map("v" -> col("src_sv")),
      insertRow = Map("k" -> col("k"), "v" -> col("src_sv")))
    assert(readSorted(p) == Seq(2L -> "new", 3L -> "keep", 9L -> "ins"))
  }

  test("mergeClauses: duplicate source keys fail fast (SQL MERGE contract)") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions._
    val p = scratch()
    TableStore.overwrite(kv(1L -> "a"), p)
    val dupSrc = Seq((1L, "x"), (1L, "y")).toDF("k", "sv")
    val e = intercept[IllegalArgumentException] {
      TableStore.mergeClauses(spark, p, dupSrc, Seq("k"),
        deleteWhen = lit(false),
        updateSet = Map("v" -> col("src_sv")),
        insertRow = Map("k" -> col("k"), "v" -> col("src_sv")))
    }
    assert(e.getMessage.contains("duplicate merge key"))
    assert(readSorted(p) == Seq(1L -> "a"), "target must be untouched")
  }

  test("mergeClauses: empty source is a no-op; all-delete empties matched keys only") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions._
    val p = scratch()
    TableStore.overwrite(kv(1L -> "a", 2L -> "b"), p)
    TableStore.mergeClauses(spark, p,
      Seq.empty[(Long, String)].toDF("k", "sv"), Seq("k"),
      deleteWhen = lit(true),
      updateSet = Map.empty,
      insertRow = Map("k" -> col("k"), "v" -> col("src_sv")))
    assert(readSorted(p) == Seq(1L -> "a", 2L -> "b"))
    TableStore.mergeClauses(spark, p, Seq((1L, "z")).toDF("k", "sv"), Seq("k"),
      deleteWhen = lit(true),
      updateSet = Map.empty,
      insertRow = Map("k" -> col("k"), "v" -> col("src_sv")))
    assert(readSorted(p) == Seq(2L -> "b"))
  }

  private def foldState(path: String, upTo: Option[Long] = None): Set[(Long, String, Long)] =
    TableStore.readFolded(spark, path, upTo).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getAs[Long]("_mult"))).toSet

  test("fold table: snapshot + signed deltas fold to the logical state; O(batch) writes") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions.col
    val p = scratch()
    def rows(rs: (Long, String, Long)*) = rs.toDF("k", "v", "_mult")
    val v0 = TableStore.publishVersion(spark, p, rows((1L, "a", 1L), (2L, "b", 1L)))
    // tick 1: delete (2,b), insert (3,c); tick 2: re-insert (2,b) and
    // bump (1,a)'s multiplicity
    TableStore.publishFoldDelta(spark, p, rows((2L, "b", -1L), (3L, "c", 1L)))
    val d2 = TableStore.publishFoldDelta(spark, p, rows((2L, "b", 1L), (1L, "a", 1L)))
    assert(foldState(p) == Set((1L, "a", 2L), (2L, "b", 1L), (3L, "c", 1L)))
    // time travel: the state at the FIRST delta excludes tick 2
    val mid = TableStore.committedVersions(spark, p)(1)
    assert(foldState(p, Some(mid)) == Set((1L, "a", 1L), (3L, "c", 1L)))
    // the anchor is the v0 snapshot for every version in the chain
    assert(TableStore.foldAnchor(spark, p, d2) == v0)
  }

  test("fold table: compaction resets the chain and retention drops pre-anchor history") {
    import TestSpark.spark.implicits._
    val p = scratch()
    def rows(rs: (Long, String, Long)*) = rs.toDF("k", "v", "_mult")
    TableStore.publishVersion(spark, p, rows((1L, "a", 1L)))
    TableStore.publishFoldDelta(spark, p, rows((1L, "a", -1L), (2L, "b", 1L)))
    val before = foldState(p)
    val ck = TableStore.compactFold(spark, p, "checkpoint")
    // compaction is logically invisible...
    assert(foldState(p) == before && before == Set((2L, "b", 1L)))
    assert(TableStore.foldAnchor(spark, p, ck) == ck)
    // ...and unlocks retention: pre-anchor versions drop, state survives
    TableStore.dropVersionsBelow(spark, p, ck)
    assert(foldState(p) == before)
    // a post-compaction delta folds against the new anchor
    TableStore.publishFoldDelta(spark, p, rows((2L, "b", -1L), (4L, "d", 1L)))
    assert(foldState(p) == Set((4L, "d", 1L)))
  }

  test("reserved-slot checkpoint: commits BEHIND later deltas without anchoring them out") {
    import TestSpark.spark.implicits._
    val p = scratch()
    def rows(rs: (Long, String, Long)*) = rs.toDF("k", "v", "_mult")
    TableStore.publishVersion(spark, p, rows((1L, "a", 1L)))
    TableStore.publishFoldDelta(spark, p, rows((2L, "b", 1L)))
    // a backfilled checkpoint takes its version slot NOW, pinned to
    // the current state, but its bytes land only later — meanwhile
    // the stream keeps committing deltas ABOVE the reservation
    val at = TableStore.currentVersion(spark, p).get
    val slot = TableStore.reserveVersion(spark, p)
    val d2 = TableStore.publishFoldDelta(spark, p, rows((1L, "a", -1L), (3L, "c", 1L)))
    assert(d2 > slot, s"later delta v$d2 must claim above the reserved v$slot")
    // during pendency the fold anchors at v0 and includes EVERY delta
    val want = Set((2L, "b", 1L), (3L, "c", 1L))
    assert(foldState(p) == want)
    // the checkpoint lands late, pinned at its own tick — logically
    // invisible, and the later delta now folds on top of it
    TableStore.publishReserved(spark, p, slot,
      TableStore.readFolded(spark, p, Some(at)), "checkpoint")
    assert(foldState(p) == want)
    assert(TableStore.foldAnchor(spark, p, d2) == slot)
    // retention below the backfilled anchor keeps the state readable
    TableStore.dropVersionsBelow(spark, p, slot)
    assert(foldState(p) == want)
    // a reservation is single-commit: the marker create excludes a replay
    intercept[java.io.IOException] {
      TableStore.publishReserved(spark, p, slot,
        rows((9L, "x", 1L)), "duplicate")
    }
  }

  test("aggregate fold table: signed partial-aggregate log folds to the view; checkpoint invisible") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.types.Decimal
    val p = scratch()
    def agg(rs: (String, Long, java.math.BigDecimal)*) =
      rs.toDF("g", "n", "sum_v").selectExpr("g", "n",
        "cast(sum_v as decimal(30,2)) as sum_v")
    def bd(s: String) = new java.math.BigDecimal(s)
    // anchor: a=2 rows/30.00, b=1 row/5.00
    TableStore.publishVersion(spark, p,
      agg(("a", 2L, bd("30.00")), ("b", 1L, bd("5.00"))), "agg-base")
    // tick 0: delete one a-row (-10.00), create c
    TableStore.publishFoldDelta(spark, p,
      agg(("a", -1L, bd("-10.00")), ("c", 1L, bd("7.00"))))
    // tick 1: empty b entirely
    TableStore.publishFoldDelta(spark, p, agg(("b", -1L, bd("-5.00"))))
    def state() = TableStore.readFoldedAgg(spark, p, Seq("g"), Seq("v"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).toPlainString)).toSet
    val want = Set(("a", 1L, "20.00"), ("c", 1L, "7.00"))
    assert(state() == want, state())
    // compaction: publish the folded state as a full snapshot — the
    // logical view must not move, and later deltas fold on top of it
    TableStore.publishVersion(spark, p,
      TableStore.readFoldedAgg(spark, p, Seq("g"), Seq("v")), "checkpoint")
    assert(state() == want)
    TableStore.publishFoldDelta(spark, p, agg(("c", 1L, bd("3.00"))))
    assert(state() == Set(("a", 1L, "20.00"), ("c", 2L, "10.00")))
  }

  test("fold snapshots are canonical: duplicate rows fold at write, reads agree across the chain") {
    import TestSpark.spark.implicits._
    val p = scratch()
    // a raw multiset v0 with the same row twice and NO _mult column
    val raw = Seq((1L, "a"), (1L, "a"), (2L, "b")).toDF("k", "v")
    TableStore.publishFoldSnapshot(spark, p, raw)
    // the single-snapshot fast path must already read the canonical
    // representation: ONE (1,a) row at _mult=2
    assert(foldState(p) == Set((1L, "a", 2L), (2L, "b", 1L)))
    // one delta later the SAME logical state must read identically
    TableStore.publishFoldDelta(spark, p,
      Seq((3L, "c", 1L), (3L, "c", -1L)).toDF("k", "v", "_mult"))
    assert(foldState(p) == Set((1L, "a", 2L), (2L, "b", 1L)))
    // compaction re-canonicalizes (and zero-mult rows never persist)
    TableStore.publishFoldDelta(spark, p,
      Seq((2L, "b", -1L)).toDF("k", "v", "_mult"))
    val ck = TableStore.compactFold(spark, p, "checkpoint")
    assert(TableStore.readVersion(spark, p, Some(ck))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getAs[Long]("_mult")))
      .toSet == Set((1L, "a", 2L)))
  }

  test("concurrent publishers claim distinct versions; every commit is readable with its note") {
    import TestSpark.spark.implicits._
    val p = scratch()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val pubs = (1 to 8).map { i =>
        scala.concurrent.Future {
          TableStore.publishVersion(spark, p,
            Seq((i.toLong, s"w$i")).toDF("k", "v"), s"writer$i")
        }
      }
      val versions = pubs.map(f =>
        scala.concurrent.Await.result(f,
          scala.concurrent.duration.Duration.Inf))
      // 8 racing publishers -> 8 DISTINCT committed versions (the
      // claim/marker protocol never double-assigns a number)...
      assert(versions.toSet.size == 8, versions.toString)
      assert(TableStore.committedVersions(spark, p).toSet == versions.toSet)
      // ...each readable with its own data and note, and the live
      // version is simply the highest committed marker
      versions.foreach { v =>
        val row = TableStore.readVersion(spark, p, Some(v))
          .as[(Long, String)].collect().toSeq
        assert(row.size == 1, s"v=$v rows=$row")
        val note = TableStore.versionNote(spark, p, v).get
        assert(note == s"writer${row.head._1}", s"v=$v note=$note row=$row")
      }
      assert(TableStore.currentVersion(spark, p).contains(versions.max))
    } finally pool.shutdown()
  }

  test("CAS publish: stale expected conflicts; notes survive the data pointer; retention reclaims pointed dirs") {
    import TestSpark.spark.implicits._
    val p = scratch()
    val v1 = TableStore.publishVersionIf(spark, p,
      Seq((1L, 10L)).toDF("k", "n"), "first", None)
    assert(v1 == 1L)
    assert(TableStore.readVersion(spark, p).as[(Long, Long)].collect()
      .toSeq == Seq((1L, 10L)))
    // the data pointer is marker metadata — the NOTE reads clean
    assert(TableStore.versionNote(spark, p, v1).contains("first"))
    // a writer that read v1 commits v2; one that still thinks the
    // table is empty must conflict, not overwrite
    val v2 = TableStore.publishVersionIf(spark, p,
      Seq((1L, 11L)).toDF("k", "n"), "second", Some(v1))
    val ex = intercept[TableStore.ConcurrentVersionException] {
      TableStore.publishVersionIf(spark, p,
        Seq((9L, 99L)).toDF("k", "n"), "stale", None)
    }
    assert(ex.current.contains(v2), ex.toString)
    // retention reclaims the pointed data dir, keeps marker + note
    TableStore.dropVersionsBelow(spark, p, v2)
    assert(TableStore.versionNote(spark, p, v1).contains("first"))
    intercept[IllegalArgumentException] {
      TableStore.readVersion(spark, p, Some(v1)).collect()
    }
    assert(TableStore.readVersion(spark, p, Some(v2)).as[(Long, Long)]
      .collect().toSeq == Seq((1L, 11L)))
  }

  test("CAS read-modify-write under 8 racing writers loses no update") {
    import TestSpark.spark.implicits._
    val p = scratch()
    TableStore.publishVersionIf(spark, p,
      Seq((1L, 0L)).toDF("k", "n"), "init", None)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val writers = (1 to 8).map { i =>
        scala.concurrent.Future {
          TableStore.publishWithRetry(spark, p, s"incr$i",
            maxRetries = 100) { cur =>
            // classic read-modify-write: read the state the CAS will
            // be validated against, add 1 — lost updates would leave
            // the final counter below 8
            TableStore.readVersion(spark, p, cur)
              .withColumn("n", org.apache.spark.sql.functions.col("n") + 1)
          }
        }
      }
      writers.foreach(f => scala.concurrent.Await.result(f,
        scala.concurrent.duration.Duration.Inf))
      val fin = TableStore.readVersion(spark, p).as[(Long, Long)]
        .collect().toSeq
      assert(fin == Seq((1L, 8L)), s"lost update: $fin")
      assert(TableStore.currentVersion(spark, p).contains(9L))
    } finally pool.shutdown()
  }

  test("vacuum reclaims aged unreferenced CAS staging, never young or referenced dirs") {
    import TestSpark.spark.implicits._
    val p = scratch()
    TableStore.publishVersionIf(spark, p,
      Seq((1L, 1L)).toDF("k", "n"), "live", None)
    // a crashed publish: staged data, no marker
    Seq((2L, 2L)).toDF("k", "n").write.parquet(s"$p/d_crashed")
    assert(TableStore.vacuum(spark, p) == 0L,
      "a young unreferenced staging dir may be in-flight — must survive")
    val dir = new java.io.File(s"$p/d_crashed")
    assert(dir.setLastModified(System.currentTimeMillis() - 2L * 3600 * 1000))
    assert(TableStore.vacuum(spark, p) == 1L)
    assert(!dir.exists())
    // the committed version's pointed dir is untouched
    assert(TableStore.readVersion(spark, p).as[(Long, Long)]
      .collect().toSeq == Seq((1L, 1L)))
    // tuned threshold: an operator who KNOWS no publisher is running
    // (maintenance window) reclaims immediately with minAgeMs = 0;
    // conversely a raised threshold protects a slow publisher's gap
    Seq((3L, 3L)).toDF("k", "n").write.parquet(s"$p/d_crashed2")
    assert(TableStore.vacuum(spark, p, minAgeMs = Long.MaxValue) == 0L,
      "a raised threshold must keep even an old unreferenced dir")
    assert(TableStore.vacuum(spark, p, minAgeMs = 0L) == 1L)
    assert(!new java.io.File(s"$p/d_crashed2").exists())
  }

  test("vacuum with minAgeMs = 0 reclaims a staging dir written the same millisecond") {
    import TestSpark.spark.implicits._
    val p = scratch()
    TableStore.publishVersionIf(spark, p, Seq((0L, 0L)).toDF("k", "n"), "live", None)
    (1 to 20).foreach { i =>
      Seq((i.toLong, i.toLong)).toDF("k", "n").write.parquet(s"$p/d_crashed$i")
      // the freshest a dir can be when vacuum looks at it
      assert(new java.io.File(s"$p/d_crashed$i").setLastModified(System.currentTimeMillis()))
      assert(TableStore.vacuum(spark, p, minAgeMs = 0L) == 1L, s"round $i")
    }
  }

  test("readFoldedUnion: aggregating the raw signed chain == aggregating the folded state") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions.{col, sum}
    val p = scratch()
    def rows(rs: (Long, String, Long)*) = rs.toDF("k", "v", "_mult")
    TableStore.publishFoldSnapshot(spark, p, rows((1L, "a", 2L), (2L, "b", 1L)))
    TableStore.publishFoldDelta(spark, p,
      rows((1L, "a", -1L), (3L, "c", 1L), (2L, "b", -1L)))
    TableStore.publishFoldDelta(spark, p, rows((3L, "c", 2L)))
    // any sum over the state distributes over the signed rows — the
    // zeroed (2, b) tuple contributes 0 to every aggregate, so the
    // union path and the folded path agree without the state-wide
    // pre-fold groupBy
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("k").agg(sum(col("_mult")).as("n"))
      .filter(col("n") > 0)
      .as[(Long, Long)].collect().toSet
    val viaUnion = agg(TableStore.readFoldedUnion(spark, p))
    val viaFold = agg(TableStore.readFolded(spark, p))
    assert(viaUnion == viaFold && viaUnion == Set((1L, 1L), (3L, 3L)),
      s"union=$viaUnion fold=$viaFold")
  }

  test("fold table: NULL data columns fold as one group (Ivm multiset parity)") {
    import TestSpark.spark.implicits._
    val p = scratch()
    def rowsN(rs: (Long, Option[String], Long)*) = rs.toDF("k", "v", "_mult")
    TableStore.publishVersion(spark, p, rowsN((1L, None, 1L), (2L, Some("x"), 1L)))
    TableStore.publishFoldDelta(spark, p, rowsN((1L, None, -1L)))
    val got = TableStore.readFolded(spark, p).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(got == Set((2L, Some("x"))), s"null-key delta stranded: $got")
  }

  test("clusterBy snapshots write key-range-disjoint files a range predicate can prune") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions.{col, min, max}
    val p = scratch()
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    // AQE would coalesce this tiny range shuffle to ONE file (at scale
    // it coalesces to ~advisory-sized RANGE-CONTIGUOUS partitions, so
    // per-file disjointness holds either way); pin the width so the
    // disjointness property is visible on test-sized data
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = (1L to 4000L).map(k => (k, s"v$k")).toDF("k", "v")
        .repartition(8) // scrambled input layout: clustering must fix it
      TableStore.publishFoldSnapshotDistinct(spark, p, df,
        clusterBy = Seq("k"))
      // content identical to an unclustered publish
      val got = TableStore.readFolded(spark, p).select("k").as[Long]
        .collect().toSet
      assert(got == (1L to 4000L).toSet)
      // per-file key ranges are DISJOINT — the property that makes a
      // pushed range predicate prune whole files via footer min/max
      val dataDir = TableStore.versionDataDirs(spark, p,
        TableStore.currentVersion(spark, p).get)
      val files = dataDir.flatMap(dir => new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.toString))
      assert(files.size >= 2, s"need >= 2 files to show disjointness: $files")
      val ranges = files.map { f =>
        val r = spark.read.parquet(f).agg(min(col("k")), max(col("k"))).head()
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
      ranges.sliding(2).foreach {
        case Seq((_, hi), (lo2, _)) =>
          assert(hi < lo2, s"overlapping file key ranges: $ranges")
        case _ => ()
      }
      // and the probe-shaped read pushes the range comparison into the
      // parquet scan (PushedFilters), so the layout is actually usable
      val probe = TableStore.readFolded(spark, p)
        .filter(col("k") >= 100L && col("k") <= 110L)
      val plan = probe.queryExecution.executedPlan.toString()
      assert(plan.contains("GreaterThanOrEqual(k,100)") ||
        plan.contains("PushedFilters: [IsNotNull(k), GreaterThanOrEqual(k,100)"),
        s"range predicate not pushed to the scan:\n$plan")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("commitTimes are strictly increasing even when marker clocks tie or run backwards") {
    val p = scratch()
    TableStore.publishVersion(spark, p, kv(1L -> "a"), note = "v1")
    TableStore.publishVersion(spark, p, kv(1L -> "b"), note = "v2")
    TableStore.publishVersion(spark, p, kv(1L -> "c"), note = "v3")
    // force the pathological clock: v2's marker ties v1's, v3's runs BACKWARDS
    val f = (v: Long) => new java.io.File(s"$p/_committed_v$v")
    val t1 = f(1).lastModified()
    assert(f(2).setLastModified(t1))
    assert(f(3).setLastModified(t1 - 5000))
    val times = TableStore.commitTimes(spark, p)
    assert(times.map(_._1) == Seq(1L, 2L, 3L))
    assert(times.sliding(2).forall { case Seq(a, b) => b._2 > a._2 },
      s"adjusted commit times must be strictly increasing: $times")
  }

  test("readAsOf resolves boundaries: at-commit reads that version, before-first fails loudly") {
    val p = scratch()
    TableStore.publishVersion(spark, p, kv(1L -> "a"), note = "v1")
    TableStore.publishVersion(spark, p, kv(1L -> "b"), note = "v2")
    val times = TableStore.commitTimes(spark, p).toMap
    def at(ts: Long) = TableStore.readAsOf(spark, p, ts).collect()
      .map(_.getString(1)).toSeq
    assert(at(times(1L)) == Seq("a"), "AS OF v1's instant is ON v1")
    assert(at(times(2L) - 1) == Seq("a"), "just before v2 is still v1")
    assert(at(times(2L)) == Seq("b"), "AS OF v2's instant is ON v2")
    assert(at(times(2L) + 60000) == Seq("b"), "after the last commit reads live")
    val ex = intercept[IllegalArgumentException](
      TableStore.readAsOf(spark, p, times(1L) - 1))
    assert(ex.getMessage.contains("predates"))
  }

  test("tags are immutable, reject uncommitted versions, and exempt their version from retention") {
    val p = scratch()
    val v1 = TableStore.publishVersion(spark, p, kv(1L -> "a"))
    val v2 = TableStore.publishVersion(spark, p, kv(1L -> "b"))
    val v3 = TableStore.publishVersion(spark, p, kv(1L -> "c"))
    TableStore.tag(spark, p, "rel-1", v1)
    // immutable: the name cannot be re-pointed
    val dup = intercept[RuntimeException](TableStore.tag(spark, p, "rel-1", v2))
    assert(dup.getMessage.contains("immutable"))
    // only committed versions are taggable; names are sanitized
    intercept[IllegalArgumentException](TableStore.tag(spark, p, "rel-2", 99L))
    intercept[IllegalArgumentException](TableStore.tag(spark, p, "bad/name", v2))
    assert(TableStore.tags(spark, p) == Map("rel-1" -> v1))
    // retention reclaims the untagged v2 but keeps the tagged v1
    TableStore.dropVersionsBelow(spark, p, keepFrom = v3)
    assert(TableStore.readVersion(spark, p).collect()
      .map(_.getString(1)).toSeq == Seq("c"))
    assert(TableStore.readTag(spark, p, "rel-1").collect()
      .map(_.getString(1)).toSeq == Seq("a"),
      "tagged version's data must survive retention")
    assert(intercept[RuntimeException](
      TableStore.readVersion(spark, p, Some(v2)).count()) != null)
    assert(intercept[RuntimeException](
      TableStore.readTag(spark, p, "nope")).getMessage.contains("no tag"))
  }

  test("8 concurrent taggers of one name: exactly one wins, losers fail loudly") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val p = scratch()
    val v1 = TableStore.publishVersion(spark, p, kv(1L -> "a"))
    val results = (0 until 8).map { _ =>
      Future(scala.util.Try(TableStore.tag(spark, p, "race", v1)))
    }.map(Await.result(_, Duration.Inf))
    assert(results.count(_.isSuccess) == 1,
      s"create-exclusive must admit exactly one tagger: $results")
    assert(results.filter(_.isFailure).forall(
      _.failed.get.getMessage.contains("immutable")))
    assert(TableStore.tags(spark, p) == Map("race" -> v1))
  }

  private def parquetFiles(dir: String): Int = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).count(_.getName.endsWith(".parquet"))
  }

  test("a driver-side frame lands as one file; a scanned frame keeps its files") {
    import TestSpark.spark.implicits._
    val rows = (1L to 8L).map(i => (i, s"v$i")).toDF("k", "v")
    val appended = scratch()
    TableStore.append(rows, appended)
    TableStore.append(rows, appended)
    assert(parquetFiles(appended) == 2)
    val published = scratch()
    TableStore.publishVersion(spark, published, rows)
    assert(parquetFiles(published) == 1)
    val staged = scratch()
    TableStore.publishVersionIf(spark, staged, rows, "cas", None)
    assert(parquetFiles(staged) == 1)
    val rewritten = scratch()
    TableStore.overwrite(rows, rewritten)
    TableStore.rewrite(spark, rewritten, rows.filter("k > 4"))
    assert(parquetFiles(rewritten) == 1)
    assert(readSorted(rewritten).map(_._1) == (5L to 8L))

    val multi = scratch()
    spark.range(0, 100, 1, 4).selectExpr("id AS k").write.parquet(multi)
    assert(parquetFiles(multi) == 4)
    val copy = scratch()
    TableStore.overwrite(TableStore.read(spark, multi), copy)
    assert(parquetFiles(copy) == 4)
    val copied = scratch()
    TableStore.publishVersion(spark, copied, TableStore.read(spark, multi))
    assert(parquetFiles(copied) == 4)
  }

  private def versionRows(path: String, v: Long): Seq[(Long, String)] =
    TableStore.readVersion(spark, path, Some(v)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  test("every publish path writes its marker as note, @data= pointer and @base= parent") {
    val p = scratch()
    def marker(v: Long) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$p/_committed_v$v")), "UTF-8")
    val stage = "d_[0-9a-f]{32}"
    val v1 = TableStore.publishVersion(spark, p, kv(1L -> "a"), "plain")
    val v2 = TableStore.publishVersionIf(spark, p, kv(2L -> "b"), "cas", Some(v1))
    val v3 = TableStore.publishVersionAppend(spark, p, kv(3L -> "c"), "append")
    val v4 = TableStore.commitStagedVersion(spark, p,
      TableStore.stageVersionData(spark, p, kv(4L -> "d")), "staged")
    val v5 = TableStore.publishReserved(spark, p, TableStore.reserveVersion(spark, p),
      kv(5L -> "e"), "reserved")
    assert(Seq(v1, v2, v3, v4, v5) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(marker(v1) == "plain")
    assert(marker(v2).matches(s"cas\n@data=$stage"), marker(v2))
    assert(marker(v3).matches(s"append\n@data=$stage\n@base=$v2"), marker(v3))
    assert(marker(v4).matches(s"staged\n@data=$stage"), marker(v4))
    assert(marker(v5) == "reserved")
    assert(Seq(v1, v2, v3, v4, v5).map(TableStore.versionNote(spark, p, _)) ==
      Seq("plain", "cas", "append", "staged", "reserved").map(Some(_)))
    assert(versionRows(p, v3) == Seq(2L -> "b", 3L -> "c"))
    assert(versionRows(p, v4) == Seq(4L -> "d"))

    // a marker written by hand in the same format reads back the same
    val h = scratch()
    TableStore.publishVersion(spark, h, kv(1L -> "a"), "seed")
    val d = TableStore.stageVersionData(spark, h, kv(2L -> "b"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$h/_committed_v2"),
      s"by hand\n@data=$d\n@base=1".getBytes("UTF-8"))
    assert(TableStore.versionNote(spark, h, 2) == Some("by hand"))
    assert(TableStore.versionBase(spark, h, 2) == Some(1L))
    assert(TableStore.versionDataDirs(spark, h, 2) == Seq(s"$h/v=1", s"$h/$d"))
    assert(versionRows(h, 2) == Seq(1L -> "a", 2L -> "b"))
  }

  test("versionDataDirs of a 3-link append chain opens each marker once") {
    val p = scratch()
    TableStore.publishVersion(spark, p, kv(1L -> "a"))
    TableStore.publishVersionAppend(spark, p, kv(2L -> "b"))
    val v = TableStore.publishVersionAppend(spark, p, kv(3L -> "c"))
    val conf = spark.sparkContext.hadoopConfiguration
    val impl = conf.get("fs.file.impl")
    MarkerOpenCounter.opens.clear()
    conf.set("fs.file.impl", classOf[MarkerOpenCounter].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val dirs = try TableStore.versionDataDirs(spark, p, v) finally {
      conf.set("fs.file.impl", impl)
      conf.unset("fs.file.impl.disable.cache")
    }
    assert(dirs.size == 3)
    import scala.jdk.CollectionConverters._
    val opened = MarkerOpenCounter.opens.asScala.toMap
      .collect { case (f, n) if f.startsWith(s"file:$p/_committed_v") =>
        f.stripPrefix(s"file:$p/") -> n.get }
    assert(opened == Map("_committed_v1" -> 1, "_committed_v2" -> 1, "_committed_v3" -> 1))
  }
}

/** The suite's `file:` filesystem, counting `open` calls per path. */
class MarkerOpenCounter extends NioLocalFileSystem {
  override def open(f: org.apache.hadoop.fs.Path,
      bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    MarkerOpenCounter.opens.computeIfAbsent(makeQualified(f).toString,
      _ => new java.util.concurrent.atomic.AtomicInteger).incrementAndGet()
    super.open(f, bufferSize)
  }
}

object MarkerOpenCounter {
  val opens = new java.util.concurrent.ConcurrentHashMap[String,
    java.util.concurrent.atomic.AtomicInteger]()
}
