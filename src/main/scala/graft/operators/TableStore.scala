package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The reference's four write disciplines over partitioned parquet
  * (SURVEY.md §2.1 S5-S12, §2.10 I1):
  *
  *   - append           — WRITE_APPEND time-series load (loader.py:125-127)
  *   - overwrite        — WRITE_TRUNCATE temp/scheduled tables (loader.py:135)
  *   - insertIfAbsent   — MERGE ... WHEN NOT MATCHED THEN INSERT for
  *                        dimensions (loader.py:151-158)
  *   - deleteInsert     — DELETE WHERE key IN (...) + append for bridge
  *                        tables (loader.py:57-84,166-176)
  *   - upsertByKey      — Dataform incremental MERGE on uniqueKey
  *                        (games_active.sqlx:1-5): source wins
  *   - archiveOlderThan — timestamped parquet archive (loader.py:375-405)
  *   - maxWatermark     — high-watermark read for incremental models
  *                        (games_active.sqlx:43)
  *
  * Rewrites go through a write-new/swap-dirs cycle because plain
  * parquet cannot be overwritten while being read. Single-writer only:
  * at production scale this layer is where a transactional table format
  * (or partition-level replaceWhere) takes over — the call sites stay
  * the same, which is the point of isolating the discipline here.
  * Anti-join + union keeps every op shuffle-bounded by the key column;
  * none of them collect to the driver.
  */
object TableStore {

  /** The table at `path`, with its schema read on the driver from the
    * Spark schema Spark's parquet writer keeps in each file's footer —
    * the table's own metadata, as a Delta reader takes it from the log
    * — so a read runs no Spark job (schema inference runs one per
    * read). The footer is that of the file inference would open: the
    * first data file by path. A plain `spark.read.parquet`, errors
    * included, when that footer has no Spark schema, with
    * `spark.sql.parquet.mergeSchema` on, or when the path holds no data
    * file (missing, empty, or a non-parquet file).
    */
  def read(spark: SparkSession, path: String): DataFrame = readParquet(spark, Seq(path))

  private def readParquet(spark: SparkSession, paths: Seq[String]): DataFrame =
    footerSchema(spark, paths) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  private def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] =
    if (spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean) None
    else scala.util.Try {
      paths.flatMap(p => leafFiles(fs(spark, p), new Path(p)))
        .minByOption(_.getPath.toString).flatMap { first =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(first,
              spark.sparkContext.hadoopConfiguration))
          val json = try r.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey)
            finally r.close()
          Option(json).map(DataType.fromJson).collect { case s: StructType => s }
        }
    }.getOrElse(None)

  /** The files Spark's file index lists under `p`: hidden names (`_x`
    * unless a `k=v` partition, `.x`, in-flight copies) are skipped.
    */
  private def leafFiles(f: FileSystem, p: Path): Seq[FileStatus] = {
    def hidden(n: String) =
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")
    def walk(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else f.listStatus(st.getPath).toSeq.filterNot(c => hidden(c.getPath.getName)).flatMap(walk)
    walk(f.getFileStatus(p))
  }

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  def append(df: DataFrame, path: String): Unit =
    writer(df).mode("append").parquet(path)

  def overwrite(df: DataFrame, path: String): Unit =
    writer(df).mode("overwrite").parquet(path)

  /** The writer every write of this store goes through. A driver-side
    * frame (its optimized plan a `LocalRelation`, as for a
    * `Seq(...).toDF`) is written as one file: Spark would spread its
    * rows over `defaultParallelism` files, each paying a create, a
    * `.crc`, a task commit and, on every later read, a footer. Any
    * other frame keeps its partitioning, and only a frame whose leaves
    * are all local relations is optimized here to find out.
    */
  private def writer(df: DataFrame): DataFrameWriter[Row] = {
    val qe = df.queryExecution
    val local = qe.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation]) &&
      qe.optimizedPlan.isInstanceOf[LocalRelation]
    (if (local) df.coalesce(1) else df).write
  }

  /** S7: insert source rows whose key is absent from the target;
    * existing target rows are never touched.
    */
  def insertIfAbsent(spark: SparkSession, path: String, src: DataFrame,
      keys: Seq[String]): Unit =
    if (!exists(spark, path)) overwrite(src, path)
    else {
      val fresh = src.join(read(spark, path).select(keys.map(col): _*).distinct(),
        keys, "left_anti")
      append(fresh, path)
    }

  /** S8: partition rewrite by key set — drop target rows whose key
    * appears in the new batch (handles removals), then add the batch.
    */
  def deleteInsert(spark: SparkSession, path: String, batch: DataFrame,
      keys: Seq[String]): Unit =
    upsertByKey(spark, path, batch, keys)

  /** S12/I1: key-preserving upsert — source rows win on key collision. */
  def upsertByKey(spark: SparkSession, path: String, src: DataFrame,
      keys: Seq[String]): Unit =
    if (!exists(spark, path)) overwrite(src, path)
    else {
      val kept = read(spark, path)
        .join(src.select(keys.map(col): _*).distinct(), keys, "left_anti")
      rewrite(spark, path, kept.unionByName(src))
    }

  /** Full three-clause MERGE (the lakehouse `MERGE INTO` surface
    * beyond [[upsertByKey]]'s update-or-insert): WHEN MATCHED AND
    * <deleteWhen> THEN DELETE; WHEN MATCHED THEN UPDATE SET
    * <updateSet>; WHEN NOT MATCHED THEN INSERT <insertRow>. Source
    * must be key-unique (same contract as SQL MERGE — a source key
    * matching twice is nondeterministic by spec).
    *
    * Mechanics: source non-key columns arrive prefixed `src_`;
    * `deleteWhen` / `updateSet` / `insertRow` are expressions over
    * the joined row (target columns + `src_*` columns). One keyed
    * full-outer join decides every row's fate — matched rows delete
    * or update in place, unmatched target rows pass through,
    * unmatched source rows insert. At scale this is ONE shuffle on
    * the merge key (exactly what Delta/Iceberg MERGE plans), and the
    * rewrite goes through the staged-rename crash-safe path.
    */
  def mergeClauses(spark: SparkSession, path: String, src: DataFrame,
      keys: Seq[String], deleteWhen: Column, updateSet: Map[String, Column],
      insertRow: Map[String, Column]): Unit = {
    val target = read(spark, path)
    val targetCols = target.columns.toSeq
    require(targetCols.forall(insertRow.contains),
      s"mergeClauses: insertRow is missing target column(s) " +
        s"${targetCols.filterNot(insertRow.contains).mkString(", ")} — " +
        "WHEN NOT MATCHED THEN INSERT must produce every target column")
    // SQL MERGE raises on a source key that matches twice (the update
    // would be nondeterministic); enforce the same contract loudly
    // instead of silently duplicating joined rows. The source is
    // pinned first (localCheckpoint) so the guard and the merge join
    // see the SAME rows — a nondeterministic source (sample/limit)
    // could otherwise pass the guard yet still match twice in the
    // join — and the source plan computes once, not twice.
    val srcPinned = src.localCheckpoint(eager = true)
    val dup = srcPinned.groupBy(keys.map(col): _*).count()
      .filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"mergeClauses: source has duplicate merge key ${dup.headOption.map(_.toString).getOrElse("")} — " +
        "a key matching twice makes the merge nondeterministic (SQL MERGE contract)")
    val srcTagged = srcPinned.select(
      keys.map(col) ++ srcPinned.columns.filterNot(keys.contains)
        .map(c => col(c).as(s"src_$c")): _*)
      .withColumn("_src_present", lit(true))
    val joined = target.withColumn("_t_present", lit(true))
      .join(srcTagged, keys, "full_outer")
    val matched = col("_t_present").isNotNull && col("_src_present").isNotNull
    val kept = joined
      .filter(col("_src_present").isNull ||
        (matched && !coalesce(deleteWhen, lit(false))))
      .select(targetCols.map { c =>
        when(matched, updateSet.getOrElse(c, col(c))).otherwise(col(c)).as(c)
      }: _*)
    val inserted = joined.filter(col("_t_present").isNull)
      .select(targetCols.map(c => insertRow(c).as(c)): _*)
    rewrite(spark, path, kept.unionByName(inserted))
  }

  /** S11: move rows older than `cutoff` into an archive table. Rows
    * with a NULL timestamp are kept in the live table (they have no
    * age, so they must never silently vanish: `ts < cutoff` and
    * `ts >= cutoff` are both false for NULL).
    *
    * Failure semantics — RETRY-IDEMPOTENT: the batch is staged next to
    * the archive, any files from a previous attempt of the SAME cutoff
    * are swept (files are tagged `cutoff<epochMs>_`), the staged files
    * are renamed in, and only then is the live table rewritten. A crash
    * at any point is repaired by re-running with the same cutoff:
    *   - before/during the move → live is untouched, so the batch is
    *     recomputed identically, the sweep removes partial moves, and
    *     the move is redone — no duplicates;
    *   - after the live rewrite → the filter matches nothing and the
    *     call is a no-op — the archived batch is preserved.
    * The one non-retryable window is a crash INSIDE the final
    * [[rewrite]] swap itself: the live path can be briefly absent and
    * the retry fails loudly at read() — but a complete copy always
    * survives as `__old`/`__staged` (see [[rewrite]]), so recovery is
    * a rename, never data loss.
    * The cutoff identifies the batch, so the caller's discipline is
    * monotonically increasing cutoffs (the reference archives
    * "older than now - N", loader.py:375-405); re-archiving NEW
    * late-arriving rows under an already-used cutoff would replace that
    * batch — use a fresh cutoff instead. True multi-writer exactly-once
    * needs a transactional table format (class doc).
    */
  def archiveOlderThan(spark: SparkSession, path: String, archivePath: String,
      tsCol: String, cutoff: java.sql.Timestamp): Unit = {
    val cur = read(spark, path)
    val old = cur.filter(col(tsCol) < lit(cutoff))
    if (old.isEmpty) {
      // nothing to move — but a first call must still materialize an
      // empty archive (readers depend on the table existing with the
      // live schema)
      if (!exists(spark, archivePath)) overwrite(old, archivePath)
    } else {
      val epoch = cutoff.getTime
      val staged = archivePath + s"__batch$epoch"
      writer(old).mode("overwrite").parquet(staged)
      val f = fs(spark, archivePath)
      val archDir = new Path(archivePath)
      if (!f.exists(archDir)) f.mkdirs(archDir)
      val tag = s"cutoff${epoch}_"
      f.listStatus(archDir).filter(_.getPath.getName.startsWith(tag))
        .foreach(s => f.delete(s.getPath, false))
      f.listStatus(new Path(staged))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .foreach { s =>
          val dest = new Path(archDir, tag + s.getPath.getName)
          if (!f.rename(s.getPath, dest))
            // a false return (quota, lease, racing writer) must abort
            // BEFORE the staged delete + live rewrite below, or the
            // unmoved rows would vanish from both tables
            throw new java.io.IOException(
              s"archive move failed: ${s.getPath} -> $dest")
        }
      f.delete(new Path(staged), true)
      rewrite(spark, path,
        cur.filter(col(tsCol) >= lit(cutoff) || col(tsCol).isNull))
    }
  }

  /** Compact a table's files (the append disciplines accrete small
    * files; at scale, scan cost and listing pressure grow with file
    * count, not bytes). `targetFileRows` sizes the output: one file
    * per ceil(rows/targetFileRows), optionally sorted within files so
    * min/max stats stay selective after compaction.
    */
  def compact(spark: SparkSession, path: String, targetFileRows: Long,
      sortCols: Seq[String] = Nil): Unit = {
    val cur = read(spark, path)
    val n = cur.count()
    val files = math.max(1, math.ceil(n.toDouble / targetFileRows).toInt)
    val arranged =
      if (sortCols.nonEmpty)
        cur.repartitionByRange(files, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else cur.repartition(files)
    rewrite(spark, path, arranged)
  }

  /** SCD2 (slowly-changing-dimension type-2) upsert: the table keeps
    * FULL attribute history — one open row (valid_to NULL) per key
    * plus closed rows for every prior version. A batch row whose
    * attrs differ (null-safely) from the key's open row closes it at
    * `effective` and opens a new version; an unchanged row is a
    * no-op; a key with no open row (new, or retired earlier) opens
    * fresh. Batch must be key-unique — two versions of one key in
    * one batch have no defined order. `effective` must be >= every
    * stored valid_from (enforced): an out-of-order batch would write
    * inverted [valid_from, valid_to) ranges. Equality is allowed so a
    * retried batch stays a no-op; a SAME-day correction with a
    * different value writes a zero-length version for the old value
    * (kept in history, invisible to half-open as-of reads) — use the
    * next effective date for real corrections. Keys compare
    * null-safely, like attrs: a NULL key is one key, not a new row
    * per batch.
    *
    * Scale shape: two key-equi joins (open-side and batch-side
    * perspectives) + the staged-rename rewrite; at warehouse scale
    * the open slice is a small fraction of history, and both joins
    * key on the dimension key — broadcastable when the batch is a
    * daily delta. Closed history is UNTOUCHED by the rewrite's
    * dataflow (it unions through), so the rewrite cost is bounded by
    * table size, not history depth × versions.
    */
  def scd2Upsert(spark: SparkSession, path: String, batch: DataFrame,
      keys: Seq[String], attrs: Seq[String],
      effective: java.sql.Date): Unit = {
    require(keys.nonEmpty, "scd2Upsert: keys must be non-empty")
    require(attrs.nonEmpty, "scd2Upsert: attrs must be non-empty " +
      "(presence-only tracking has no change to detect)")
    // key-uniqueness guard: two versions of one key in one batch have
    // no defined order, and a duplicate slipping through writes TWO
    // open rows for the key — permanently corrupting the one-open-row
    // invariant every later upsert and as-of read depends on. The
    // guard rides INSIDE the written plan (a per-key window count +
    // raise_error): EVERY consumer of the batch below (incoming AND
    // the b-side of the close/keep join) derives from this guarded
    // subtree, so whichever evaluation runs first trips the error —
    // a re-evaluated non-deterministic batch can't corrupt one branch
    // while passing the other — there is no extra pass over the batch,
    // and a violation aborts the write while it is still staged
    // (first write included — see below), so the table is untouched.
    // The window's key shuffle is null-safe (a NULL key is one key).
    val dupW = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
    val checked = batch.select((keys ++ attrs).map(col): _*)
      .withColumn("_key_n", count(lit(1)).over(dupW))
      .withColumn("_key_guard",
        when(col("_key_n") > 1, raise_error(concat(
          lit(s"scd2Upsert: batch is not key-unique on " +
            s"(${keys.mkString(", ")}) — key appearing "),
          col("_key_n"),
          lit(" times; dedup the batch first")))).otherwise(lit(1)))
      .filter(col("_key_guard") === 1)
      .drop("_key_n", "_key_guard")
    val incoming = checked
      .withColumn("valid_from", lit(effective))
      .withColumn("valid_to", lit(null).cast("date"))
    // first write goes through the staged-rename path too: a guard
    // violation (or any failure) must not leave a partial directory at
    // the live path for the next call to mistake for history
    if (!exists(spark, path)) { rewrite(spark, path, incoming); return }
    val cur = read(spark, path)
    // monotonicity guard: one tiny aggregate action (the maxWatermark
    // precedent) — cheaper than silently corrupting version ranges
    val maxFrom = cur.agg(max(col("valid_from"))).head().getDate(0)
    require(maxFrom == null || !effective.before(maxFrom),
      s"scd2Upsert: effective $effective precedes stored valid_from $maxFrom")
    val open = cur.filter(col("valid_to").isNull)
    val closed = cur.filter(col("valid_to").isNotNull)
    val b = checked.select((keys ++ attrs).map(c => col(c).as(s"b_$c")): _*)
      .withColumn("b_present", lit(1))
    val joinCond = keys.map(k => col(k) <=> col(s"b_$k")).reduce(_ && _)
    val diff = attrs.map(a => !(col(a) <=> col(s"b_$a"))).reduce(_ || _)
    val j = open.join(b, joinCond, "left_outer")
    val keptOpen = j.filter(col("b_present").isNull || !diff)
      .select(cur.columns.toIndexedSeq.map(col): _*)
    val closedNow = j.filter(col("b_present").isNotNull && diff)
      .select(cur.columns.toIndexedSeq.map(col): _*)
      .withColumn("valid_to", lit(effective))
    val o = open.select(keys.map(k => col(k).as(s"cur_$k")) ++
      attrs.map(a => col(a).as(s"cur_$a")) :+ lit(1).as("cur_present"): _*)
    val insCond = keys.map(k => col(k) <=> col(s"cur_$k")).reduce(_ && _)
    val insDiff = attrs.map(a => !(col(a) <=> col(s"cur_$a"))).reduce(_ || _)
    val ins = incoming.join(o, insCond, "left_outer")
      .filter(col("cur_present").isNull || insDiff)
      .select(incoming.columns.toIndexedSeq.map(col): _*)
    rewrite(spark, path,
      closed.unionByName(keptOpen).unionByName(closedNow).unionByName(ins))
  }

  /** I1: the stored high watermark, or None for an empty/absent table.
    * One tiny aggregate action — the only driver-side value in the
    * incremental path.
    */
  def maxWatermark(spark: SparkSession, path: String,
      tsCol: String): Option[java.sql.Timestamp] =
    if (!exists(spark, path)) None
    else Option(read(spark, path).agg(max(col(tsCol))).head().getTimestamp(0))

  /** Write `df` next to `path`, then swap directories. Use this (not
    * `overwrite`) whenever `df` is derived from `path`'s current
    * contents — plain overwrite truncates the input mid-read.
    *
    * Swap order is keep-then-replace: the current table is moved aside
    * (not deleted) before the staged result takes its name, and only
    * then is the old copy removed. A crash inside the swap can leave
    * `path` briefly absent, but SOME complete copy of the data always
    * exists on disk (`__old` or `__staged`) — recovery is a rename,
    * never a reload. Failed renames throw before anything is deleted.
    */
  def rewrite(spark: SparkSession, path: String, df: DataFrame): Unit = {
    val staged = path + "__staged"
    writer(df).mode("overwrite").parquet(staged)
    val f = fs(spark, path)
    val p = new Path(path)
    val oldP = new Path(path + "__old")
    f.delete(oldP, true)
    if (f.exists(p) && !f.rename(p, oldP))
      throw new java.io.IOException(s"rewrite: could not move $p aside")
    if (!f.rename(new Path(staged), p))
      throw new java.io.IOException(s"rewrite: could not activate $staged")
    f.delete(oldP, true)
  }

  // ----------------------------------------------- deletion vectors

  /** Row-level deletes without rewriting data files — the lakehouse
    * "deletion vector" discipline, at the key granularity the engine's
    * tables actually carry. A delete appends the matching KEYS to a
    * tombstone table beside the data (`<path>__deletes`); live readers
    * anti-join the tombstones; a maintenance pass ([[applyDeletes]])
    * folds the tombstones into the data files and truncates them.
    *
    * Why this shape at 100 TB: a GDPR/right-to-be-forgotten delete of
    * a handful of keys must not rewrite a 100 TB table — the write
    * cost of [[deleteWhere]] is O(matching keys), not O(table). The
    * read-side cost is one anti-join against a tombstone set that is
    * tiny until the next [[applyDeletes]] (Spark's size-based
    * planning broadcasts it), and the amortized rewrite happens on
    * the operator's schedule (e.g. folded into [[compact]]-style
    * maintenance windows), not the deleter's.
    *
    * Contract: `keys` identify rows (same discipline as
    * [[upsertByKey]]); deleting by a non-key column would tombstone
    * all rows sharing the value, so callers pass true keys. Deletes
    * are idempotent (tombstones are deduplicated on read and on
    * apply). Single-writer, like every discipline in this store.
    */
  def deleteWhere(spark: SparkSession, path: String, keys: Seq[String],
      pred: org.apache.spark.sql.Column): Unit = {
    val hit = readLive(spark, path, keys).filter(pred)
      .select(keys.map(col): _*).distinct()
    append(hit, deletesPath(path))
  }

  /** The live view: data minus tombstoned keys. Without tombstones
    * this is a plain [[read]] — no join is ever planned for a table
    * with no pending deletes.
    */
  def readLive(spark: SparkSession, path: String, keys: Seq[String]): DataFrame = {
    val d = deletesPath(path)
    if (!exists(spark, d)) read(spark, path)
    else read(spark, path).join(read(spark, d).distinct(), keys, "left_anti")
  }

  /** Fold pending tombstones into the data files (one [[rewrite]] of
    * the live view) and clear them. Crash-safe in the caller-visible
    * sense: the tombstone dir is removed only AFTER the rewrite
    * lands, so a crash between the two re-applies an anti-join whose
    * right side matches nothing — the live view is unchanged at every
    * step.
    */
  def applyDeletes(spark: SparkSession, path: String, keys: Seq[String]): Unit = {
    val d = deletesPath(path)
    if (exists(spark, d)) {
      rewrite(spark, path, readLive(spark, path, keys))
      fs(spark, d).delete(new Path(d), true)
    }
  }

  private def deletesPath(path: String): String = path + "__deletes"

  /** Write `df` as a version/staging dir, guaranteeing the dir is
    * READABLE even when `df` is empty: an empty frame often plans
    * zero partitions and writes zero part files, and a fileless dir
    * fails every later `spark.read.parquet` at schema inference. A
    * legitimately EMPTY state is not an error — a fold table whose
    * rows were all retracted checkpoints an empty snapshot
    * (ReservedSlotPropertySpec found exactly this) — so a fileless
    * write is re-done as one single-partition schema-only file.
    */
  private def writeDataDir(spark: SparkSession, df: DataFrame,
      dir: String): Unit = {
    writer(df).parquet(dir)
    val f = fs(spark, dir)
    val dirPath = new Path(dir)
    // a 0-partition plan may write no part files — and, plan-dependent,
    // sometimes not even the directory
    val empty = !f.exists(dirPath) || !f.listStatus(dirPath)
      .exists(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    if (empty)
      writer(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], df.schema)
        .repartition(1)).mode("overwrite").parquet(dir)
  }

  // ------------------------------------------------------ snapshots

  /** Versioned snapshots ("time travel") — the dataset-reproducibility
    * primitive a training pipeline needs: a run pins the corpus
    * version it trained on, and that version stays byte-identical
    * forever while later publishes land beside it.
    *
    * Layout: `path/v=N/` holds version N's files (immutable once
    * published). A publish COMMITS by creating the marker file
    * `path/_committed_vN` (create-exclusive), whose content is the
    * publisher's `note` — a free-form commit record (the streaming
    * sinks store the micro-batch id there, which is what makes a
    * snapshot-published stream exactly-once: the data files and the
    * batch-id record become visible in ONE atomic file creation, so
    * there is no window where data landed but its ledger entry did
    * not). The live version is simply the HIGHEST committed marker —
    * there is no pointer flip and therefore no availability gap: a
    * reader either sees a marker or it doesn't.
    *
    * Concurrency: a publisher first claims its number by create-
    * exclusive `_claim_vN`; racing publishers that collide on a number
    * retry upward, so each lands as a DISTINCT committed version and
    * `currentVersion` is their max. Claim and marker creation go
    * through [[createExclusive]]: on a local FS that is a POSIX
    * link(2) of a pre-written temp file — atomic, exclusive, and
    * content-complete even across PROCESSES; on HDFS-like stores it
    * is the store's own atomic create-exclusive (where a reader can
    * transiently observe a marker before its note bytes — a lakehouse
    * commit log is the production swap that closes that, call sites
    * identical). An in-JVM lock additionally serializes claims to cut
    * collision retries. A crash between claim and marker leaves an
    * uncommitted claim/orphan dir: never readable, number burned
    * forever (claims are only removed by their own successful
    * commit).
    *
    * Scale: a publish writes only the new version's files plus two
    * ~empty marker files — cost is the data written, independent of
    * history depth. Old versions are reclaimed explicitly with
    * [[dropVersionsBelow]] (retention policy is the caller's);
    * retention keeps the markers, so dropped versions stay burned and
    * their commit notes remain queryable.
    */
  def publishVersion(spark: SparkSession, path: String, df: DataFrame,
      note: String = ""): Long = {
    requireCleanNote(note)
    val f = fs(spark, path)
    val base = new Path(path)
    if (!f.exists(base)) f.mkdirs(base)
    val v = claimNumber(f, path)
    val vDir = new Path(s"$path/v=$v")
    // a claimed number is never a committed version, but a same-number
    // partial dir could exist if a previous claim crashed mid-write
    // after ITS claim file was lost to manual cleanup; deleting here
    // is safe because committed versions always have markers
    f.delete(vDir, true)
    writeDataDir(spark, df, vDir.toString)
    commit(f, path, v, Commit(note), claimed = true)(marker =>
      new java.io.IOException(s"publishVersion: marker $marker already exists — " +
        "claim uniqueness was violated"))
  }

  /** Reserve the NEXT version number without writing any data: the
    * claim file alone. Every later claim at this table — including
    * commits of work staged afterwards — lands ABOVE the reservation,
    * so whatever eventually commits through [[publishReserved]] keeps
    * the version-order slot it was reserved in regardless of when its
    * bytes land. This is the mechanism that lets a fold-table
    * CHECKPOINT commit BEHIND later deltas without anchoring them out
    * of the fold (Delta Lake's backfilled checkpoints are the same
    * shape: the commit log fixes the order, the checkpoint parquet
    * trails it) — the alternative is draining the checkpoint before
    * the next tick's commit, a full stop-the-stream wall per
    * compaction. A reservation that never commits burns its number
    * exactly like a crashed publish (claims are removed only by their
    * own successful commit), which readers already tolerate: version
    * numbers prove ORDER, not density.
    *
    * LIVENESS vs the changefeed's stable frontier: a reservation is a
    * deliberately slow publisher — the checkpoint rewrite behind it
    * can run for minutes — while the frontier rule treats any
    * uncommitted number whose publish trace is older than
    * `uncommittedGraceMs` as a burned number and advances past it
    * (after which the late-landing marker would be skipped forever).
    * So every reservation HEARTBEATS: a shared daemon scheduler
    * touches the claim file's mtime every [[ReservationHeartbeatMs]]
    * until [[publishReserved]] (or [[cancelReservation]]) stops it. A
    * live rewrite therefore always presents a fresh trace — the feed
    * holds below it under any grace ≥ 2× the heartbeat (the 60 s
    * default is 6×) — while a CRASHED reservation stops beating and
    * ages into an ordinary burned number within one grace. Reserve
    * only what you intend to publish or cancel: an abandoned
    * reservation in a live JVM beats (and stalls feeds) until the JVM
    * exits.
    */
  def reserveVersion(spark: SparkSession, path: String): Long = {
    val f = fs(spark, path)
    val base = new Path(path)
    if (!f.exists(base)) f.mkdirs(base)
    val v = claimNumber(f, path)
    startReservationBeat(f, path, v)
    v
  }

  /** How often a live reservation refreshes its claim-file mtime.
    * Any changefeed `uncommittedGraceMs` ≥ 2× this value can never
    * permanently skip a reservation that is still being published.
    * (Overridable via the `graft.reservation.heartbeat.ms` system
    * property so specs can exercise the beat without 10 s waits.)
    */
  def ReservationHeartbeatMs: Long =
    sys.props.get("graft.reservation.heartbeat.ms").map(_.toLong)
      .getOrElse(10000L)

  private lazy val beatScheduler = {
    val t = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      r => { val th = new Thread(r, "graft-reservation-heartbeat")
        th.setDaemon(true); th })
    t
  }
  private val reservationBeats =
    new java.util.concurrent.ConcurrentHashMap[(String, Long),
      java.util.concurrent.ScheduledFuture[_]]()

  private def startReservationBeat(f: FileSystem, path: String,
      v: Long): Unit = {
    val claim = new Path(s"$path/_claim_v$v")
    val task: Runnable = () =>
      try f.setTimes(claim, System.currentTimeMillis(), -1)
      catch { case _: java.io.IOException => () } // claim gone: publish won
    val fut = beatScheduler.scheduleAtFixedRate(task,
      ReservationHeartbeatMs, ReservationHeartbeatMs,
      java.util.concurrent.TimeUnit.MILLISECONDS)
    Option(reservationBeats.put((path, v), fut))
      .foreach(_.cancel(false)) // same slot re-reserved after a cancel
  }

  private def stopReservationBeat(path: String, v: Long): Unit =
    Option(reservationBeats.remove((path, v))).foreach(_.cancel(false))

  /** Give a reservation back: stop its heartbeat and delete the claim
    * file. Nothing was ever written under the slot (reservations hold
    * the number only), so after this the number is simply unclaimed
    * again — a later claimer may take it and commit normally. For a
    * reservation whose publish FAILED midway (data may exist), do NOT
    * cancel: let the claim age out as a burned number instead.
    */
  def cancelReservation(spark: SparkSession, path: String, v: Long): Unit = {
    stopReservationBeat(path, v)
    fs(spark, path).delete(new Path(s"$path/_claim_v$v"), false): Unit
  }

  /** [[reserveVersion]] plus the SINGLE-WRITER sanity check the
    * fold-checkpoint protocol relies on: the caller pinned its fold
    * input at version `at`, so any version COMMITTED between `at` and
    * the reserved slot belongs to a concurrent writer this table must
    * not have — its rows would sit below the checkpoint but outside
    * its pinned input, silently anchored out of the fold once the
    * checkpoint commits. Fails loudly (and returns the reservation)
    * instead. Uncommitted CLAIMS in between are tolerated: under the
    * single-writer contract they are necessarily this writer's own
    * crashed predecessors, which can never commit.
    */
  def reserveVersionAfter(spark: SparkSession, path: String,
      at: Long): Long = {
    val v = reserveVersion(spark, path)
    val between = committedVersions(spark, path).filter(x => x > at && x < v)
    if (between.nonEmpty) {
      cancelReservation(spark, path, v)
      throw new IllegalStateException(
        s"reserveVersionAfter($path): versions ${between.mkString(",")} " +
          s"committed between the pinned input ($at) and the reserved " +
          s"slot ($v) — a concurrent writer is active on a table whose " +
          "fold-checkpoint protocol requires a single writer")
    }
    v
  }

  /** Publish `df` at a slot previously taken by [[reserveVersion]] —
    * the write half of [[publishVersion]] with the claim step already
    * done. The caller owns the reservation (nothing else can commit
    * this number: the claim file excludes other claimers and the
    * marker create is still exclusive). On a FOLD table the caller
    * must pass the canonical multiset shape (see
    * [[publishFoldSnapshotCanonical]]) — reserved slots exist for
    * checkpoints, whose input is [[readFolded]]'s output, canonical
    * by contract.
    */
  def publishReserved(spark: SparkSession, path: String, v: Long,
      df: DataFrame, note: String = ""): Long = {
    requireCleanNote(note)
    val f = fs(spark, path)
    val vDir = new Path(s"$path/v=$v")
    try {
      // same partial-dir hygiene as publishVersion: a crashed earlier
      // attempt at this reserved slot may have left bytes
      f.delete(vDir, true)
      writeDataDir(spark, df, vDir.toString)
      commit(f, path, v, Commit(note), claimed = true)(marker =>
        new java.io.IOException(s"publishReserved: marker $marker already exists — " +
          "the reservation was committed twice"))
    } finally {
      // success or failure, the reservation's heartbeat ends here: on
      // success the claim is gone; on failure the claim stops beating
      // and ages into a burned number a changefeed frontier skips
      stopReservationBeat(path, v)
    }
  }

  /** A CAS publish lost its race: the table advanced past the version
    * the writer's read-modify-write was computed against. Carry both
    * versions so the caller can re-read and retry.
    */
  final case class ConcurrentVersionException(path: String,
      expected: Option[Long], current: Option[Long])
    extends RuntimeException(
      s"concurrent publish at $path: expected current version $expected " +
        s"but found $current — re-read and retry")

  /** OPTIMISTIC (compare-and-swap) publish — the multi-writer commit
    * protocol of a lakehouse log, on the same marker substrate: the
    * writer states the version its read-modify-write was computed
    * against, and the commit succeeds ONLY as `expected + 1`. The
    * marker IS the entire atomic commit object: data stages under a
    * content-addressed `d_<uuid>` dir first, then ONE create-exclusive
    * of `_committed_v{expected+1}` (whose content carries the note
    * plus the data pointer) decides the race — the loser's marker
    * create fails, it deletes its staging and gets
    * [[ConcurrentVersionException]] to re-read and retry, exactly
    * Delta's optimistic-concurrency loop. No claim files: a crashed
    * CAS writer leaves only an unreferenced staging dir ([[vacuum]]
    * reclaims it), never a burned number, so retries can't livelock.
    *
    * Lost updates are impossible by construction: between the
    * writer's read at `expected` and its commit, ANY other commit
    * takes `expected + 1` first and the marker create fails. A table
    * should be advanced EITHER by CAS publishes or by the claim-based
    * [[publishVersion]] (ingest appends), not interleaved writers of
    * both kinds racing: a claim-based publisher that loses version N
    * to a CAS marker mid-flight fails loudly on its own marker create
    * rather than corrupting anything.
    */
  def publishVersionIf(spark: SparkSession, path: String, df: DataFrame,
      note: String, expected: Option[Long]): Long = {
    requireCleanNote(note)
    val cur = currentVersion(spark, path)
    if (cur != expected) throw ConcurrentVersionException(path, expected, cur)
    val stage = stageVersionData(spark, path, df)
    commit(fs(spark, path), path, expected.getOrElse(0L) + 1L,
      Commit(note, Some(stage)), claimed = false)(_ =>
      ConcurrentVersionException(path, expected, currentVersion(spark, path)))
  }

  /** Stage `df`'s data under an unreferenced content-addressed dir at
    * `path` WITHOUT committing — the write half of a publish, split
    * out so a multi-table transaction can run all its write jobs
    * CONCURRENTLY and then lay down its commit markers in a required
    * order (the fused IVM tick of
    * [[graft.streaming.JoinViewMaintenance.applyTick]]: view before
    * bases). A crashed caller leaves only this unreferenced dir —
    * never a readable version — and [[vacuum]] reclaims it past the
    * age threshold, exactly like a crashed CAS publish's staging.
    */
  def stageVersionData(spark: SparkSession, path: String,
      df: DataFrame): String = {
    val f = fs(spark, path)
    val base = new Path(path)
    if (!f.exists(base)) f.mkdirs(base)
    val stage = s"d_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    writeDataDir(spark, df, s"$path/$stage")
    stage
  }

  /** Commit a dir previously written by [[stageVersionData]] as the
    * next claim-based version: the marker carries the data pointer,
    * so the commit itself is ONE create-exclusive — O(1) regardless
    * of the staged bytes. Same claim discipline as [[publishVersion]]
    * (concurrent committers land distinct versions, crashes burn the
    * claimed number, readers resolve the pointer via
    * [[versionDataDirs]]).
    */
  def commitStagedVersion(spark: SparkSession, path: String, stage: String,
      note: String = ""): Long = {
    requireCleanNote(note)
    val f = fs(spark, path)
    commit(f, path, claimNumber(f, path), Commit(note, Some(stage)),
      claimed = true)(marker =>
      new java.io.IOException(s"commitStagedVersion: marker $marker already exists — " +
        "claim uniqueness was violated"))
  }

  /** Retry loop for CAS read-modify-write: `attempt` receives the
    * current version (None before the first publish) and returns the
    * new full state; conflicts re-read and retry up to `maxRetries`.
    */
  def publishWithRetry(spark: SparkSession, path: String, note: String,
      maxRetries: Int = 10)(attempt: Option[Long] => DataFrame): Long = {
    var tries = 0
    while (true) {
      val cur = currentVersion(spark, path)
      try return publishVersionIf(spark, path, attempt(cur), note, cur)
      catch {
        case _: ConcurrentVersionException if tries < maxRetries => tries += 1
      }
    }
    sys.error("unreachable")
  }

  /** In-JVM serialization of the claim step (see class doc). */
  private val claimLock = new Object

  /** Atomic create-exclusive of `p` with `content` fully visible, or
    * false if `p` already exists. Local FS: write a temp file in the
    * same directory, then hard-LINK it into place — link(2) fails if
    * the target exists and publishes the complete bytes in one atomic
    * step, so this is exclusive across processes, not just threads
    * (Hadoop's RawLocalFileSystem `create(overwrite = false)` is
    * check-then-create — racy — and a plain create exposes a
    * zero-length window either way). Non-local stores: the store's
    * create-exclusive (atomic on HDFS-like namenodes).
    */
  private def createExclusive(f: FileSystem, p: Path,
      content: Array[Byte]): Boolean =
    if (f.getScheme == "file") {
      val dir = java.nio.file.Paths.get(p.getParent.toUri.getPath)
      val tmp = java.nio.file.Files.createTempFile(dir, s".${p.getName}.", ".tmp")
      try {
        java.nio.file.Files.write(tmp, content)
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(p.toUri.getPath), tmp)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } finally java.nio.file.Files.deleteIfExists(tmp): Unit
    } else {
      try {
        val out = f.create(p, false)
        out.write(content)
        out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    }

  /** The one commit step of every publish: ONE create-exclusive of
    * version `v`'s marker holding `rec`, then, for a `claimed` number,
    * the claim's removal. When the marker already exists the caller's
    * `lost` error is raised; a CAS commit (no claim) also deletes its
    * staged dir first, which no marker can ever reference.
    */
  private def commit(f: FileSystem, path: String, v: Long, rec: Commit,
      claimed: Boolean)(lost: Path => Exception): Long = {
    val marker = markerPath(path, v)
    if (!createExclusive(f, marker, rec.bytes)) {
      if (!claimed) rec.dataDir.foreach(d => f.delete(new Path(s"$path/$d"), true))
      throw lost(marker)
    }
    if (claimed) f.delete(new Path(s"$path/_claim_v$v"), false)
    v
  }

  private def markerPath(path: String, v: Long): Path = new Path(s"$path/_committed_v$v")

  /** Claim the next version number: 1 + max over committed markers,
    * v=N dirs (orphans burn their number) and outstanding claims;
    * collide-and-retry upward on the create-exclusive claim file.
    */
  private def claimNumber(f: FileSystem, path: String): Long =
    claimLock.synchronized {
      var next = (numbered(f, path, "_committed_v") ++
        numbered(f, path, "v=") ++ numbered(f, path, "_claim_v"))
        .foldLeft(0L)(math.max) + 1L
      while (!createExclusive(f, new Path(s"$path/_claim_v$next"), Array.empty))
        next += 1
      next
    }

  /** Numbers of entries under `path` named `<prefix><number>`. */
  private def numbered(f: FileSystem, path: String, prefix: String): Seq[Long] = {
    val p = new Path(path)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .flatMap(n => scala.util.Try(n.stripPrefix(prefix).toLong).toOption)
  }

  /** All committed version numbers, ascending (markers survive
    * retention, so this is the full publish history).
    */
  def committedVersions(spark: SparkSession, path: String): Seq[Long] =
    numbered(fs(spark, path), path, "_committed_v").sorted

  /** The live version number (highest committed marker), or None
    * before the first publish.
    */
  def currentVersion(spark: SparkSession, path: String): Option[Long] =
    committedVersions(spark, path).lastOption

  /** Monotonically-ADJUSTED commit timestamps, ascending by version:
    * `(version, commitTimeMs)` where commitTime is the marker file's
    * modification time bumped to `prev + 1 ms` whenever the raw
    * clock ties or runs backwards (two publishes inside one
    * millisecond, clock skew across writers). This is Delta's
    * timestamp-adjustment rule: version order is the commit order
    * (markers are create-exclusive), so timestamps must be strictly
    * increasing along it or TIMESTAMP AS OF would resolve a tie to
    * the wrong snapshot. O(versions) driver-side metadata reads —
    * independent of table size.
    */
  def commitTimes(spark: SparkSession, path: String): Seq[(Long, Long)] = {
    val f = fs(spark, path)
    var last = Long.MinValue
    committedVersions(spark, path).map { v =>
      val raw = f.getFileStatus(markerPath(path, v)).getModificationTime
      val adj = if (last == Long.MinValue) raw else math.max(raw, last + 1)
      last = adj
      (v, adj)
    }
  }

  /** TIMESTAMP AS OF: the snapshot live at `tsMs` — the highest
    * version whose adjusted commit time is ≤ `tsMs`. Fails loudly on
    * a timestamp predating the first commit (there was no table to
    * read), like Delta/Iceberg. Resolution is O(versions) metadata;
    * the read is the same pinned-version scan as [[readVersion]].
    */
  def readAsOf(spark: SparkSession, path: String, tsMs: Long): DataFrame = {
    val times = commitTimes(spark, path)
    require(times.nonEmpty, s"readAsOf: no published version at $path")
    val eligible = times.takeWhile(_._2 <= tsMs)
    require(eligible.nonEmpty,
      s"readAsOf: $tsMs predates the first commit (${times.head._2}) at $path")
    readVersion(spark, path, Some(eligible.last._1))
  }

  /** Marker-content delimiter separating the caller's note from a
    * CAS commit's data pointer (see [[publishVersionIf]]).
    */
  private val DataPtr = "\n@data="

  /** A note containing the pointer delimiter would make
    * [[versionDataDirs]] read a caller-chosen string as a data pointer
    * — reject it loudly at publish time instead of corrupting reads.
    */
  private def requireCleanNote(note: String): Unit = {
    require(!note.contains(DataPtr),
      s"publish note must not contain the reserved '@data=' marker " +
        s"delimiter: ${note.take(80)}")
    require(!note.contains(BasePtr),
      s"publish note must not contain the reserved '@base=' marker " +
        s"delimiter: ${note.take(80)}")
  }

  /** Marker-content delimiter recording an APPEND commit's parent
    * version (see [[publishVersionAppend]]): the version's content is
    * its parent's files plus its own `v=N` dir — the Delta-style
    * add-files commit, O(appended bytes) at any table size.
    */
  private val BasePtr = "\n@base="

  /** One commit marker's content, parsed once: the caller's note, the
    * data dir a staged commit points to (None: the `v=N` dir) and an
    * append commit's parent version. On disk it is the note, then
    * `\n@data=<dir>` and `\n@base=<N>` when set.
    */
  private final case class Commit(note: String, dataDir: Option[String] = None,
      base: Option[Long] = None) {
    def bytes: Array[Byte] =
      (note + dataDir.fold("")(DataPtr + _) + base.fold("")(BasePtr + _)).getBytes("UTF-8")
  }

  private object Commit {
    def parse(s: String): Commit = {
      def field(ptr: String): Option[String] = Some(s.indexOf(ptr)).filter(_ >= 0)
        .map(i => s.substring(i + ptr.length).takeWhile(_ != '\n').trim)
      val cut = Seq(s.indexOf(DataPtr), s.indexOf(BasePtr)).filter(_ >= 0)
      Commit(if (cut.isEmpty) s else s.substring(0, cut.min), field(DataPtr),
        field(BasePtr).map(_.toLong))
    }
  }

  /** Version `v`'s commit record (one open of its marker), or None for
    * a version never committed.
    */
  private def commitRecord(f: FileSystem, path: String, v: Long): Option[Commit] =
    try Some(Commit.parse(readText(f, markerPath(path, v))))
    catch { case _: java.io.FileNotFoundException => None }

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** [[commitRecord]] remembered per version, for a call that walks
    * many versions' chains.
    */
  private def commitRecords(f: FileSystem, path: String): Long => Option[Commit] = {
    val seen = scala.collection.mutable.Map.empty[Long, Option[Commit]]
    v => seen.getOrElseUpdate(v, commitRecord(f, path, v))
  }

  /** The commit note version `v` was published with ("" if none), or
    * None for a version never committed. A CAS commit's data pointer
    * is marker METADATA, not note text — stripped here so note
    * matching (tick idempotency, checkpoint proofs) is publish-path-
    * agnostic.
    */
  def versionNote(spark: SparkSession, path: String, v: Long): Option[String] =
    commitRecord(fs(spark, path), path, v).map(_.note)

  /** The parent version of an APPEND commit (None for full-snapshot /
    * CAS commits). The chain is what [[versionDataDirs]] walks.
    */
  def versionBase(spark: SparkSession, path: String, v: Long): Option[Long] =
    commitRecord(fs(spark, path), path, v).flatMap(_.base)

  /** The data directory version `v` reads from: the marker's pointer
    * for CAS commits, the conventional `v=N` dir otherwise.
    */
  private def dataDir(path: String, v: Long, rec: Option[Commit]): String =
    rec.flatMap(_.dataDir).fold(s"$path/v=$v")(d => s"$path/$d")

  /** ALL data directories version `v` reads from, base-chain first:
    * an append commit's content is its parent's content plus its own
    * dir, so the walk collects the whole chain (a full-snapshot or
    * CAS commit is a one-element chain). Chain length is the number
    * of appends since the last full publish — the compaction /
    * checkpoint discipline (s17) is what keeps it bounded, exactly as
    * Delta checkpoints bound its log replay.
    */
  def versionDataDirs(spark: SparkSession, path: String,
      v: Long): Seq[String] =
    chainDirs(path, v, commitRecord(fs(spark, path), path, _))

  private def chainDirs(path: String, v: Long,
      rec: Long => Option[Commit]): Seq[String] = {
    val seen = scala.collection.mutable.Set.empty[Long]
    def walk(x: Long): List[String] = {
      require(seen.add(x),
        s"versionDataDirs: append-chain cycle at version $x of $path")
      val r = rec(x)
      val own = dataDir(path, x, r)
      r.flatMap(_.base).fold(List(own))(walk(_) :+ own)
    }
    walk(v)
  }

  /** The parquet data files of committed version `v` — the unit the
    * changefeed source plans one InputPartition per (file listing on
    * the driver, row IO on executors). Fails loudly on uncommitted
    * versions, exactly like [[readVersion]]: an orphan dir from a
    * crashed publish is invisible to the feed.
    */
  def versionFiles(spark: SparkSession, path: String, v: Long): Seq[String] =
    versionFiles(spark, path, v, committedVersions(spark, path).toSet)

  /** [[versionFiles]] against a caller-provided committed set — the
    * changefeed lists the markers ONCE per planning round and reuses
    * the set across every version in the batch range (per-call
    * re-listing would make planning O(versions²) on a long history).
    */
  def versionFiles(spark: SparkSession, path: String, v: Long,
      committed: Set[Long]): Seq[String] = {
    require(committed.contains(v),
      s"versionFiles: version $v at $path is not committed")
    val f = fs(spark, path)
    val dir = new Path(dataDir(path, v, commitRecord(f, path, v)))
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
      .sorted
  }

  /** Evidence that UNCOMMITTED version number `v` may still be an
    * in-flight publish: the newest modification time of its claim
    * file or its `v=N` data dir, if either exists. A claim file is
    * created before any data and removed only by its own successful
    * publish, so a slow claim-based publisher always leaves a trace
    * here; no trace at all means the number was never claimed (or a
    * crashed claim was manually cleaned) — dead either way. Used by
    * the changefeed's stable-frontier rule.
    */
  def publishTraceMtime(spark: SparkSession, path: String,
      v: Long): Option[Long] = {
    val f = fs(spark, path)
    Seq(new Path(s"$path/_claim_v$v"), new Path(s"$path/v=$v"))
      .flatMap(p => scala.util.Try(f.getFileStatus(p).getModificationTime)
        .toOption)
      .maxOption
  }

  /** Read a pinned version (reproducible training runs) or the live
    * one. Fails loudly on a version that was never committed (orphan
    * dirs from crashed publishes have no marker) or whose data was
    * dropped by retention. The schema comes from a footer, as in
    * [[read]], with the chain's directories taken together.
    */
  def readVersion(spark: SparkSession, path: String,
      version: Option[Long] = None): DataFrame =
    readParquet(spark, snapshotDataDirs(spark, path, version))

  /** Resolve a snapshot's single DATA DIRECTORY — the common case for
    * full-snapshot / CAS commits. Fails loudly on an append-chain
    * version (use [[snapshotDataDirs]]).
    */
  def snapshotDataDir(spark: SparkSession, path: String,
      version: Option[Long] = None): String =
    snapshotDataDirs(spark, path, version) match {
      case Seq(one) => one
      case many => sys.error(s"snapshotDataDir: version at $path is an " +
        s"append chain of ${many.size} directories — use snapshotDataDirs")
    }

  /** Resolve a snapshot's DATA DIRECTORIES (base-chain first) with the
    * same committed / retention checks as [[readVersion]] — the
    * planning hook a file-level reader (the `graft-table` source's
    * FileIndex) builds on: it lists these directories itself so it can
    * prune files before any scan is constructed. `version = None`
    * resolves the live snapshot.
    */
  def snapshotDataDirs(spark: SparkSession, path: String,
      version: Option[Long] = None): Seq[String] = {
    val f = fs(spark, path)
    val committed = committedVersions(spark, path)
    if (committed.isEmpty) sys.error(s"readVersion: no published version at $path")
    checkedDataDirs(f, path, committed, version.getOrElse(committed.last),
      commitRecord(f, path, _))
  }

  /** [[snapshotDataDirs]] of version `v` against one listing of the
    * `committed` versions and a record source.
    */
  private def checkedDataDirs(f: FileSystem, path: String, committed: Seq[Long],
      v: Long, rec: Long => Option[Commit]): Seq[String] = {
    require(committed.contains(v),
      s"readVersion: version $v at $path is not committed " +
        "(a crashed publish's orphan dir is not a version)")
    val dirs = chainDirs(path, v, rec)
    dirs.foreach(d => require(f.exists(new Path(d)),
      s"readVersion: version $v's data at $d does not exist at $path " +
        "(dropped by retention)"))
    dirs
  }

  /** APPEND commit — the Delta add-files discipline: write ONLY `df`'s
    * rows into the new version's own directory and record the parent
    * in the marker (`@base=`), so the commit costs O(appended bytes)
    * at any table size while readers of the new version see
    * parent ∪ df and readers of the parent still see exactly the
    * parent (time travel is untouched — the parent's files are never
    * rewritten). Schema must match the parent's column set: additive
    * evolution goes through a full [[publishVersion]] (s46), never an
    * append. Chains grow one link per append; compaction (a full
    * republish of the live content) resets them — run it on the same
    * cadence a Delta table checkpoints.
    */
  def publishVersionAppend(spark: SparkSession, path: String, df: DataFrame,
      note: String = ""): Long = {
    requireCleanNote(note)
    val parent = currentVersion(spark, path).getOrElse(
      sys.error(s"publishVersionAppend: no published version at $path to " +
        "append to — publish the first snapshot with publishVersion"))
    val parentSchema = readVersion(spark, path, Some(parent)).schema
    val parentCols = parentSchema.fieldNames.toSet
    require(df.columns.toSet == parentCols,
      s"publishVersionAppend: schema mismatch — appending " +
        s"${df.columns.toSet.diff(parentCols).mkString(",")} vs parent " +
        s"missing ${parentCols.diff(df.columns.toSet).mkString(",")}; " +
        "evolve schemas with a full publishVersion instead")
    // names alone are not enough: the chain's reader infers the scan
    // schema from ONE file of the chain, so a same-named column at a
    // different type would surface as late scan errors instead of a
    // loud publish-time failure. Order-insensitive and type-exact up
    // to nullability: a read makes every nested field nullable, so a
    // frame built in memory (`array(col("id"))` over `spark.range`)
    // carries non-nullable element types its parent can never show.
    val parentTypes = parentSchema.fields.map(f => f.name -> asNullable(f.dataType)).toMap
    val drifted = df.schema.fields.filter(f => parentTypes(f.name) != asNullable(f.dataType))
    require(drifted.isEmpty,
      s"publishVersionAppend: type drift — " +
        drifted.map(f => s"${f.name}: ${f.dataType.simpleString} vs parent " +
          parentTypes(f.name).simpleString).mkString("; ") +
        "; evolve schemas with a full publishVersion instead")
    // the CAS commit shape (publishVersionIf): stage the appended
    // files, then ONE create-exclusive of the parent+1 marker decides
    // any race — two appends to the same parent serialize, the loser
    // gets ConcurrentVersionException to re-read and retry instead of
    // silently dropping the winner's rows from its chain
    val stage = stageVersionData(spark, path, df)
    commit(fs(spark, path), path, parent + 1L,
      Commit(note, Some(stage), Some(parent)), claimed = false)(_ =>
      ConcurrentVersionException(path, Some(parent), currentVersion(spark, path)))
  }

  /** `t` with every nested field, array element and map value made
    * nullable: the type a parquet read of `t` reports.
    */
  private def asNullable(t: DataType): DataType = t match {
    case ArrayType(e, _) => ArrayType(asNullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(asNullable(k), asNullable(v), valueContainsNull = true)
    case StructType(fs) => StructType(fs.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case other => other
  }

  /** CHECKPOINT an append chain: republish the live content as one
    * FULL snapshot (chain length 1), so reads stop walking the chain
    * and retention can reclaim the pre-checkpoint links once no kept
    * version references them — Delta's checkpoint discipline. CAS on
    * the chain head: a concurrent append between read and commit
    * surfaces as [[ConcurrentVersionException]], never as lost rows.
    * A no-op (returns the current version) when the live version is
    * already a single dir.
    */
  def checkpointChain(spark: SparkSession, path: String,
      note: String = "checkpoint"): Long = {
    val cur = currentVersion(spark, path).getOrElse(
      sys.error(s"checkpointChain: no published version at $path"))
    if (versionDataDirs(spark, path, cur).size == 1) cur
    else publishVersionIf(spark, path, readVersion(spark, path, Some(cur)),
      note, Some(cur))
  }

  // ------------------------------------------------------- branches

  /** Named BRANCHES over the snapshot store — the Nessie / Iceberg-
    * branch workflow: fork a line of development from a committed
    * parent version WITHOUT copying data, write candidate versions on
    * the branch, and promote back with a compare-and-swap merge.
    *
    * A branch is a directory holding one metadata marker
    * (`_branch_base`: parent path + the base version it forked from)
    * plus the branch's own committed versions. The fork writes ONLY
    * the marker — zero-copy at any table size; a branch with no local
    * versions reads through to `parent@base` (still zero-copy).
    *
    * The merge IS [[publishVersionIf]] with `expected = base`: it can
    * only land as the parent's `base + 1`, so if the parent advanced
    * after the fork — another branch merged first, or an ingest
    * published — the marker create loses and the caller gets
    * [[ConcurrentVersionException]] to rebase and retry. Two sibling
    * branches racing their merges therefore serialize exactly like
    * two CAS writers (s30): one wins, one rebases; a lost update is
    * impossible by construction. On this local store the promote
    * writes the branch state once; a manifest-based format flips
    * pointers instead — call sites identical.
    */
  private def branchMetaPath(branchPath: String): String =
    s"$branchPath/_branch_base"

  /** Fork `branchPath` from `parentPath` at `from` (default: the
    * parent's current version). Writes one marker file; O(1) at any
    * table size. Fails if the branch already exists.
    */
  def branchCreate(spark: SparkSession, parentPath: String,
      branchPath: String, from: Option[Long] = None): Long = {
    val base = from.orElse(currentVersion(spark, parentPath)).getOrElse(
      sys.error(s"branchCreate: no published version at $parentPath"))
    require(committedVersions(spark, parentPath).contains(base),
      s"branchCreate: parent version $base is not committed at $parentPath")
    val f = fs(spark, branchPath)
    val dir = new Path(branchPath)
    if (!f.exists(dir)) f.mkdirs(dir)
    if (!createExclusive(f, new Path(branchMetaPath(branchPath)),
        s"parent=$parentPath;base=$base".getBytes("UTF-8")))
      sys.error(s"branchCreate: branch already exists at $branchPath")
    base
  }

  /** The branch's (parent path, base version) provenance. */
  def branchBase(spark: SparkSession, branchPath: String): (String, Long) = {
    val p = new Path(branchMetaPath(branchPath))
    val f = fs(spark, branchPath)
    require(f.exists(p), s"branchBase: $branchPath is not a branch")
    val content = readText(f, p)
    content.split(";") match {
      case Array(par, b) if par.startsWith("parent=") && b.startsWith("base=") =>
        (par.stripPrefix("parent="), b.stripPrefix("base=").trim.toLong)
      case _ => sys.error(s"branchBase: malformed branch marker: $content")
    }
  }

  /** The branch's current state: its latest local version, or the
    * parent's base version if nothing was written on the branch yet.
    */
  def readBranch(spark: SparkSession, branchPath: String): DataFrame = {
    val (parent, base) = branchBase(spark, branchPath)
    if (committedVersions(spark, branchPath).isEmpty)
      readVersion(spark, parent, Some(base))
    else readVersion(spark, branchPath)
  }

  /** Promote the branch state back to the parent as `base + 1` via
    * CAS. Throws [[ConcurrentVersionException]] if the parent
    * advanced since the fork — the caller re-forks from the new tip
    * (rebase) and retries, exactly the optimistic-merge loop.
    */
  def branchMerge(spark: SparkSession, branchPath: String,
      note: String = ""): Long = {
    val (parent, base) = branchBase(spark, branchPath)
    val tag = if (note.isEmpty) s"merge:${new Path(branchPath).getName}"
      else note
    publishVersionIf(spark, parent, readBranch(spark, branchPath),
      tag, Some(base))
  }

  // --------------------------------------------- publication sets

  /** Multi-table CONSISTENT snapshots — the "publication set" a
    * training run actually needs: documents, derived features, and
    * the index must be pinned TOGETHER, because pinning each table
    * independently can capture table A's Tuesday with table B's
    * Monday (B derived from an A the reader no longer sees). The
    * manifest is itself a versioned table whose rows are
    * (table_name, table_path, pinned_version); publishing it is ONE
    * atomic marker creation, so the set becomes visible all-or-
    * nothing — the Iceberg/Nessie multi-table-transaction discipline
    * on the same marker substrate. Readers resolve tables THROUGH a
    * manifest version and always see a mutually consistent set, no
    * matter how far any member table has advanced since.
    */
  def publishManifest(spark: SparkSession, manifestPath: String,
      pins: Seq[(String, String, Long)], note: String = ""): Long = {
    pins.foreach { case (name, p, v) =>
      require(committedVersions(spark, p).contains(v),
        s"publishManifest: $name pins uncommitted version $v at $p")
    }
    import spark.implicits._
    publishVersion(spark, manifestPath,
      pins.toDF("table_name", "table_path", "pinned_version"), note)
  }

  /** Read one member table at the version a manifest pins — the only
    * table-resolution path a reproducible run uses. The manifest row
    * is a bounded 1-row lookup; the data read is a normal pinned
    * [[readVersion]].
    */
  def readPinned(spark: SparkSession, manifestPath: String, table: String,
      manifestVersion: Option[Long] = None): DataFrame = {
    val (p, v) = pin(spark, manifestPath, table, manifestVersion)
    readVersion(spark, p, Some(v))
  }

  /** The (table path, pinned version) a manifest holds for `table`. */
  private def pin(spark: SparkSession, manifestPath: String, table: String,
      manifestVersion: Option[Long]): (String, Long) = {
    val row = readVersion(spark, manifestPath, manifestVersion)
      .filter(col("table_name") === table)
      .select("table_path", "pinned_version")
      .collect()
    require(row.length == 1,
      s"readPinned: manifest at $manifestPath has ${row.length} rows for $table")
    (row.head.getString(0), row.head.getLong(1))
  }

  /** The table's version ledger as a queryable DataFrame — Delta's
    * DESCRIBE HISTORY / Iceberg's `table$snapshots`: one row per
    * committed version with its raw commit note, its kind (snapshot
    * vs fold delta, from the note's [[FoldDeltaPrefix]] convention),
    * and the row count OF that version's data (for a fold delta:
    * the delta's own rows, not the folded state). Marker resolution
    * is O(versions) driver-side; the counts union every version's
    * scan into ONE distributed job — at 100 TB an operator bounds
    * the version range before asking for counts.
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val versions = committedVersions(spark, path)
    require(versions.nonEmpty, s"history: no published version at $path")
    // row counts from PARQUET FOOTER metadata (row-group record
    // counts), never a data scan: the ledger costs O(files) footer
    // reads at any table size — the union-of-scans alternative read
    // every byte of every version (O(versions x table) at 100 TB).
    // An append chain's count sums the chain's dirs, matching what a
    // readVersion count would return for that version.
    val conf = spark.sparkContext.hadoopConfiguration
    val f = fs(spark, path)
    def footerRows(p: Path): Long = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try r.getRecordCount finally r.close()
    }
    val rec = commitRecords(f, path)
    versions.map { v =>
      val note = rec(v).fold("")(_.note)
      val kind = if (note.startsWith(FoldDeltaPrefix)) "fold_delta"
        else "snapshot"
      val n = chainDirs(path, v, rec).map { d =>
        val dp = new Path(d)
        if (!f.exists(dp)) 0L // reclaimed by retention: data gone, marker stays
        else f.listStatus(dp).toSeq
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .map(s => footerRows(s.getPath)).sum
      }.sum
      (v, note, kind, n)
    }.toDF("version", "note", "kind", "n_rows")
  }

  /** [[readPinned]] for a FOLD-TABLE member: the manifest pins a chain
    * version (usually the tick's delta), and the member's logical
    * state at that pin is the fold up to it — anchor ⊎ deltas ≤ pin.
    * A plain [[readPinned]] of a fold table would return one delta's
    * rows, which is never the table. Resolution stays a 1-row lookup;
    * the data read is a normal [[readFolded]].
    */
  def readPinnedFolded(spark: SparkSession, manifestPath: String,
      table: String, manifestVersion: Option[Long] = None): DataFrame = {
    val (p, v) = pin(spark, manifestPath, table, manifestVersion)
    readFolded(spark, p, Some(v))
  }

  /** Row-level changelog between two committed versions — the
    * `table_changes` / CDF read of a lakehouse format, computed from
    * the snapshots themselves: one row per inserted or deleted key and
    * an `update_preimage`/`update_postimage` pair per key whose
    * non-key columns changed. Downstream incremental consumers apply
    * this instead of re-reading the full table — the difference
    * between an O(changes) and an O(table) refresh at 100 TB.
    *
    * Scale shape: ONE key-partitioned full-outer join between the two
    * versions; change detection compares a single xxhash64 over the
    * non-key columns (never a wide column-by-column predicate), and
    * each joined row explodes into its 0/1/2 change rows in place —
    * no second pass, no union of four scans. Formats that persist
    * per-commit change files skip even this join; this is the
    * snapshot-diff fallback they all define (`readVersion` pins both
    * sides, so the diff is stable under concurrent publishes).
    *
    * NULL semantics: the change hash feeds each column's string form
    * and its null flag separately, so NULL → 'x' transitions (and
    * NULL-vs-'null'-string collisions) are real changes.
    */
  def changesBetween(spark: SparkSession, path: String, fromV: Long,
      toV: Long, keys: Seq[String], allowEvolution: Boolean = false): DataFrame = {
    val pre = readVersion(spark, path, Some(fromV))
    val post = readVersion(spark, path, Some(toV))
    if (!allowEvolution) {
      require(pre.columns.sameElements(post.columns),
        s"changesBetween: schema drift between v$fromV and v$toV " +
          s"(${pre.columns.mkString(",")} vs ${post.columns.mkString(",")}) — " +
          "pass allowEvolution=true to diff across an additive schema change")
      diffKeyed(pre, post, keys)
    } else diffKeyed(alignTo(pre, post), alignTo(post, pre), keys)
  }

  /** Schema reconciliation for CDC across an additive evolution
    * (Delta's mergeSchema read semantics): columns the other snapshot
    * has and this one lacks are appended as typed NULLs, so a
    * pre-evolution row whose new column was never backfilled compares
    * EQUAL to its post-evolution image (NULL == NULL in the change
    * hash) — evolution alone produces zero change rows. A column
    * present on both sides must agree on type: silently casting a
    * retyped column would fabricate or mask changes, so that drift
    * stays loud.
    */
  private def alignTo(df: DataFrame, other: DataFrame): DataFrame = {
    val mine = df.schema.map(f => f.name -> f.dataType).toMap
    other.schema.foreach(f => mine.get(f.name).foreach(t =>
      require(t == f.dataType,
        s"changesBetween: column ${f.name} changed type ($t vs " +
          s"${f.dataType}) — additive evolution only")))
    val extra = other.schema.filterNot(f => mine.contains(f.name))
    df.select(df.columns.map(col) ++
      extra.map(f => lit(null).cast(f.dataType).as(f.name)): _*)
  }

  /** The keyed snapshot-diff algorithm behind [[changesBetween]],
    * usable on any two key-unique frames directly (a changelog
    * producer that already holds both states in memory — st15 — skips
    * the four snapshot round trips and diffs the frames themselves;
    * the emitted rows are identical).
    */
  def diffKeyed(pre: DataFrame, post: DataFrame,
      keys: Seq[String]): DataFrame = {
    val dataCols = pre.columns.filterNot(keys.contains).toSeq
    def hashed(df: DataFrame, tag: String): DataFrame =
      df.withColumn(s"_h$tag", xxhash64(
        dataCols.flatMap(c => Seq(col(c).cast("string"), col(c).isNull)): _*))
        .select(keys.map(col) ++ dataCols.map(c => col(c).as(s"$c$tag")) :+
          col(s"_h$tag"): _*)
    val j = hashed(pre, "_a").join(hashed(post, "_b"), keys.toSeq, "full_outer")
    def image(tag: String, kind: String) =
      struct(lit(kind).as("_change_type") +:
        dataCols.map(c => col(s"$c$tag").as(c)): _*)
    // no otherwise: unchanged rows get NULL, which explode emits
    // zero rows for — the unchanged bulk of the table never leaves
    // the join stage
    j.select(keys.map(col) :+ explode(
      when(col(s"_h_b").isNull, array(image("_a", "delete")))
        .when(col(s"_h_a").isNull, array(image("_b", "insert")))
        .when(col("_h_a") =!= col("_h_b"),
          array(image("_a", "update_preimage"),
            image("_b", "update_postimage")))).as("_c"): _*)
      .select(col("_c._change_type").as("_change_type") +:
        keys.map(col) ++: dataCols.map(c => col(s"_c.$c").as(c)): _*)
  }

  /** Reclaim the data dirs of UNCOMMITTED versions — what a publisher
    * that crashed between claim and marker leaves behind (its `v=N`
    * dir holds partial files no reader can ever see, but the storage
    * is real). The claim file is KEPT as the burn record, so the
    * number is never re-issued and [[readVersion]]'s loud
    * orphan-is-not-a-version failure is unchanged; committed dirs and
    * markers are never touched. MAINTENANCE-ROLE contract (same as
    * [[compact]]/[[applyDeletes]]): must not run concurrently with a
    * publisher — an in-flight publish's half-written dir is
    * indistinguishable from a crashed one's. Returns the number of
    * orphan dirs reclaimed.
    *
    * @param minAgeMs stale-staging retention (default 1 h, like
    *   Delta's VACUUM retention): an unreferenced `d_*` dir younger
    *   than this is presumed an IN-FLIGHT CAS publish whose marker
    *   hasn't landed yet and is left alone. Callers whose publishers
    *   can stall longer between the last staging write and the marker
    *   create (slow store, paused driver) MUST raise it — the
    *   correctness assumption in [[publishVersionIf]] is that the
    *   stage→marker gap stays under this threshold.
    */
  def vacuum(spark: SparkSession, path: String,
             minAgeMs: Long = 60L * 60 * 1000): Long = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (!f.exists(p)) return 0L
    val committed = numbered(f, path, "_committed_v").toSet
    val orphans = f.listStatus(p).toSeq
      .filter(_.getPath.getName.startsWith("v="))
      .filter(st => scala.util.Try(
        st.getPath.getName.stripPrefix("v=").toLong).toOption
        .exists(!committed.contains(_)))
    orphans.foreach(st => f.delete(st.getPath, true): Unit)
    // a crashed CAS publish leaves an unreferenced content-addressed
    // staging dir — reclaim any d_* no committed marker points to,
    // but ONLY past an age threshold: an unreferenced young dir may
    // be an IN-FLIGHT publish whose marker hasn't landed yet (the
    // same stale-file age guard Delta's VACUUM applies; threshold is
    // the minAgeMs parameter)
    val referenced = committed.map(v =>
      new Path(dataDir(path, v, commitRecord(f, path, v))).getName)
    val now = System.currentTimeMillis()
    val staged = f.listStatus(p).toSeq
      .filter(st => st.getPath.getName.startsWith("d_") &&
        !referenced.contains(st.getPath.getName) &&
        now - st.getModificationTime >= minAgeMs)
    staged.foreach(st => f.delete(st.getPath, true): Unit)
    (orphans.size + staged.size).toLong
  }

  /** Retention: drop the DATA of all versions strictly below
    * `keepFrom` (never the current one). Markers are kept: dropped
    * numbers stay burned and their commit notes remain readable —
    * only the storage is reclaimed.
    */
  def dropVersionsBelow(spark: SparkSession, path: String, keepFrom: Long): Unit = {
    val f = fs(spark, path)
    val committed = committedVersions(spark, path)
    val cur = committed.lastOption.getOrElse(return)
    val rec = commitRecords(f, path)
    // tagged versions are retention-exempt: a tag IS a retention
    // contract (Iceberg's expire_snapshots never expires a tagged
    // snapshot) — reproducibility pins survive any keepFrom
    val keep = tags(spark, path).values.toSet + cur
    // append-chain reachability: a kept version's content may live in
    // dirs committed by versions below the floor (the chain's parents)
    // — those dirs are LIVE DATA, not expired history (Delta's vacuum
    // deletes only files unreachable from retained versions)
    val referenced: Set[String] = committed
      .filter(v => v >= keepFrom || keep(v))
      .flatMap(chainDirs(path, _, rec)).toSet
    // a version dir's sibling skipping index (`<dir>__idx`, see
    // SkippingIndex) is stale garbage once its data is reclaimed
    def drop(dir: Path): Unit = {
      f.delete(dir, true): Unit
      f.delete(new Path(dir.toString + "__idx"), true): Unit
    }
    val statuses = f.listStatus(new Path(path))
    statuses.filter(_.getPath.getName.startsWith("v=")).foreach { st =>
      // non-numeric v=* entries (a version dir's `v=N__idx`) are not
      // versions — never parse-crash on them, never delete them here
      scala.util.Try(st.getPath.getName.stripPrefix("v=").toLong)
        .toOption.foreach { v =>
          if (v < keepFrom && !keep(v) && !referenced(s"$path/v=$v"))
            drop(st.getPath)
        }
    }
    // CAS commits keep their data behind marker pointers — reclaim
    // those the same way (markers stay, numbers stay burned)
    committed.foreach { v =>
      if (v < keepFrom && !keep(v)) {
        val d = dataDir(path, v, rec(v))
        if (d != s"$path/v=$v" && !referenced(d))
          drop(new Path(d))
      }
    }
  }

  // ------------------------------------------------------ fold tables

  /** Log-structured ("fold") tables on the SAME versioned substrate —
    * the write-amplification fix versioned maintenance needs at scale:
    * publishing the full state every micro-batch is O(state) per tick,
    * a non-starter when the state is a 100 TB view. A fold table's
    * version is either a FULL snapshot of a `_mult`-annotated multiset
    * (plain publish) or a signed DELTA over the chain before it (note
    * prefixed [[FoldDeltaPrefix]]); the logical state at version v is
    * the groupBy-sum fold of the latest full snapshot at-or-before v
    * plus every delta after it, `_mult > 0` — exactly Delta Lake's
    * log + checkpoint design. Signed folding is LINEAR, so the fold
    * equals the sequential per-tick application under any batch split
    * (the same invariant the IVM delta rules rest on); groupBy treats
    * NULLs as equal, matching the Ivm multiset semantics. Read cost
    * grows with chain length, so writers [[compactFold]] periodically —
    * a full snapshot resets the chain and lets retention drop history.
    */
  val FoldDeltaPrefix = "delta;"

  /** Publish a signed delta version (rows: data columns + `_mult`
    * with ±counts). O(delta) write.
    */
  def publishFoldDelta(spark: SparkSession, path: String, delta: DataFrame,
      note: String = ""): Long =
    publishVersion(spark, path, delta, FoldDeltaPrefix + note)

  /** Publish a FULL snapshot in the CANONICAL multiset shape: one row
    * per distinct data tuple with its summed positive `_mult` (a
    * missing `_mult` column means every row counts once). Writers use
    * this for v0 and checkpoints so [[readFolded]]'s single-snapshot
    * fast path is EXACT — without the invariant, a snapshot holding a
    * duplicate row twice at `_mult=1` would read differently at the
    * anchor (two rows) than one delta later (one row, `_mult=2`), and
    * any consumer that drops `_mult` would silently under- or
    * over-count. Canonicalizing at WRITE time keeps reads filter-only:
    * at a 100 TB state, one extra aggregate per checkpoint beats one
    * extra shuffle of the full state per read.
    */
  def publishFoldSnapshot(spark: SparkSession, path: String, df: DataFrame,
      note: String = "", clusterBy: Seq[String] = Nil): Long = {
    val withMult =
      if (df.columns.contains("_mult")) df
      else df.withColumn("_mult", lit(1L))
    val dataCols = withMult.columns.filterNot(_ == "_mult").toSeq
    val canon = withMult.groupBy(dataCols.map(col): _*)
      .agg(sum(col("_mult")).as("_mult"))
      .filter(col("_mult") > 0)
    publishVersion(spark, path, clusterFold(canon, clusterBy), note)
  }

  /** KEY-RANGE-CLUSTER a fold snapshot before it is written (r15
    * verdict task 3): range-partition + sort by `clusterBy` so every
    * parquet file covers a narrow key range and its min/max footer
    * stats actually exclude files — the layout that lets a
    * maintenance tick's delta-key-range probe predicate
    * ([[graft.streaming.JoinViewMaintenance.applyTick]]) prune the
    * snapshot scan to touched row groups instead of reading the whole
    * base state. Without the clustering the predicate still holds but
    * prunes nothing: a hash-partitioned snapshot smears every key
    * range across every file. Partition count inherits the session's
    * shuffle width (callers size it to volume), so no local constant
    * is introduced. Empty `clusterBy` = today's layout, unchanged.
    */
  private[graft] def clusterFold(df: DataFrame, clusterBy: Seq[String]): DataFrame =
    if (clusterBy.isEmpty || !clusterBy.forall(df.columns.contains)) df
    else df.repartitionByRange(clusterBy.map(col): _*)
      .sortWithinPartitions(clusterBy.map(col): _*)

  /** Snapshot publish for frames the CALLER proves are already
    * canonical (one row per distinct data tuple; implicit `_mult` 1)
    * — skips [[publishFoldSnapshot]]'s canonicalizing groupBy, which
    * on a per-tick view publish is a full-state shuffle bought for
    * nothing when the producing plan ends in a groupBy over exactly
    * the data columns (e.g. [[graft.operators.Ivm.applyDeltaTopK]]:
    * one row per group by construction — IvmTopKSpec pins it). The
    * read-side invariant is identical: single-snapshot reads stay
    * filter-only exact. A caller that cannot PROVE distinctness must
    * use [[publishFoldSnapshot]].
    */
  def publishFoldSnapshotDistinct(spark: SparkSession, path: String,
      df: DataFrame, note: String = "", clusterBy: Seq[String] = Nil): Long = {
    require(!df.columns.contains("_mult"),
      "publishFoldSnapshotDistinct: caller passes data columns only")
    publishVersion(spark, path,
      clusterFold(df.withColumn("_mult", lit(1L)), clusterBy), note)
  }

  /** Snapshot publish for frames the CALLER proves are ALREADY in the
    * canonical multiset shape — one row per distinct data tuple with
    * its positive `_mult` attached (e.g. [[graft.operators.Ivm]]'s
    * `joinView`, which ends in a groupBy over exactly the view
    * columns, or [[readFolded]]'s output, whose contract is this
    * shape). Skips [[publishFoldSnapshot]]'s canonicalizing shuffle —
    * on a checkpoint of a large state that is a full extra exchange
    * bought for nothing. A caller that cannot PROVE the shape must
    * use [[publishFoldSnapshot]].
    */
  def publishFoldSnapshotCanonical(spark: SparkSession, path: String,
      df: DataFrame, note: String = ""): Long = {
    require(df.columns.contains("_mult"),
      "publishFoldSnapshotCanonical: caller passes the canonical shape " +
        "(data columns + _mult)")
    publishVersion(spark, path, df, note)
  }

  def isFoldDelta(spark: SparkSession, path: String, v: Long): Boolean =
    versionNote(spark, path, v).exists(_.startsWith(FoldDeltaPrefix))

  /** The newest full-snapshot version at or before `v` — the fold's
    * anchor (and the retention horizon: versions below it can never
    * be referenced again).
    */
  def foldAnchor(spark: SparkSession, path: String, v: Long): Long = {
    val f = fs(spark, path)
    anchorOf(path, committedVersions(spark, path), v, commitRecord(f, path, _))
  }

  private def anchorOf(path: String, committed: Seq[Long], v: Long,
      rec: Long => Option[Commit]): Long =
    committed.filter(_ <= v).reverse
      .find(x => !rec(x).exists(_.note.startsWith(FoldDeltaPrefix)))
      .getOrElse(sys.error(
        s"readFolded: no full snapshot at or before v=$v at $path"))

  /** A fold table's chain at one version: the anchor snapshot and every
    * delta after it as UNFOLDED signed `rows`, and the number of
    * versions (`links`) they span. Both come from one marker listing,
    * so a checkpoint committing meanwhile cannot make them disagree.
    */
  final case class FoldChain(rows: DataFrame, links: Int) {

    /** The multiset state: group by every data column, sum `_mult`,
      * keep `_mult > 0`. A one-link chain is a canonical snapshot
      * ([[publishFoldSnapshot]]), so it is only filtered.
      */
    def folded: DataFrame = fold(rows.columns.filterNot(_ == "_mult").toSeq, "_mult")

    private[TableStore] def fold(keys: Seq[String], count: String,
        sums: Column*): DataFrame =
      if (links <= 1) rows.filter(col(count) > 0)
      else rows.groupBy(keys.map(col): _*)
        .agg(sum(col(count)).as(count), sums: _*)
        .filter(col(count) > 0)
  }

  /** The [[FoldChain]] at version `upTo` (default: latest): one
    * listing of the committed versions, one open per marker.
    */
  def foldChain(spark: SparkSession, path: String,
      upTo: Option[Long] = None): FoldChain = {
    val f = fs(spark, path)
    val committed = committedVersions(spark, path)
    if (committed.isEmpty) sys.error(s"readFolded: no published version at $path")
    val v = upTo.getOrElse(committed.last)
    val rec = commitRecords(f, path)
    val anchor = anchorOf(path, committed, v, rec)
    val links = committed.filter(x => x >= anchor && x <= v)
    FoldChain(links.map(x => readParquet(spark, checkedDataDirs(f, path, committed, x, rec)))
      .reduce(_ unionByName _), links.size)
  }

  /** The logical multiset state at version `upTo` (default: latest):
    * anchor snapshot ⊎ Σ deltas, `_mult > 0`. The single-snapshot
    * fast path returns the snapshot filter-only — exact because
    * snapshots are canonical by construction ([[publishFoldSnapshot]]
    * is the only snapshot writer: [[compactFold]] and fold-table v0s
    * go through it), so the same logical state reads identically at
    * the anchor and one delta later.
    */
  def readFolded(spark: SparkSession, path: String,
      upTo: Option[Long] = None): DataFrame =
    foldChain(spark, path, upTo).folded

  /** The UNFOLDED signed chain at `upTo` (anchor snapshot plus every
    * delta, `_mult` signed, no merge): for consumers that fold the
    * multiset into their OWN aggregate — any sum/count over the state
    * distributes over the signed rows (a tuple whose `_mult` nets to
    * zero contributes zero to every sum), so aggregating the raw
    * chain directly skips the full-state groupBy a [[readFolded]]
    * would pay first. At a 100 TB view that is the difference between
    * one aggregate over the log and a state-wide shuffle before it.
    */
  def readFoldedUnion(spark: SparkSession, path: String,
      upTo: Option[Long] = None): DataFrame =
    foldChain(spark, path, upTo).rows

  /** Materialize the current folded state as a new FULL snapshot —
    * the checkpoint that bounds chain length and unlocks retention.
    * [[readFolded]]'s output is canonical by contract (its fold
    * groupBy produces one row per data tuple; the single-snapshot
    * fast path preserves write-time canonical shape), so the publish
    * skips a second canonicalizing shuffle.
    */
  def compactFold(spark: SparkSession, path: String, note: String = ""): Long =
    publishFoldSnapshotCanonical(spark, path, readFolded(spark, path), note)

  /** AGGREGATE fold tables — the partial-aggregate-log variant (the
    * rollup-segment pattern Druid/streaming-OLAP stores use): each
    * version holds signed partial aggregates in the [[Ivm.aggregate]]
    * shape (`keys..., n, sum_<c>`; [[Ivm.aggDelta]] produces a tick's
    * rows), and the logical view at `upTo` is the mergeable-state
    * fold: group by keys, sum the partials, keep `n > 0`. Same anchor
    * /delta/compaction protocol as [[readFolded]]; compaction for an
    * aggregate fold table publishes THIS read's result.
    */
  def readFoldedAgg(spark: SparkSession, path: String, keys: Seq[String],
      sumCols: Seq[String], upTo: Option[Long] = None): DataFrame =
    foldChain(spark, path, upTo).fold(keys, "n", sumCols.map(c =>
      sum(col(s"sum_$c")).cast(org.apache.spark.sql.types.DecimalType(30, 2))
        .as(s"sum_$c")): _*)

  // ------------------------------------------------------------ tags

  private val TagNameRe = "[A-Za-z0-9][A-Za-z0-9._-]*".r

  /** Named snapshot TAG — Iceberg's tag / git's tag over the version
    * history: an immutable, human-meaningful name for one committed
    * version ("release-2024w03", "train-run-417"), so a
    * reproducibility contract names a tag instead of a raw number.
    * A tag is ONE marker file (`_tag_<name>`, bytes = the version) —
    * O(1) metadata at any table size. Create-exclusive: re-tagging an
    * existing name fails loudly (tags never move; that is what
    * branches are for), as does tagging a never-committed version.
    */
  def tag(spark: SparkSession, path: String, name: String, version: Long): Unit = {
    require(TagNameRe.pattern.matcher(name).matches(),
      s"tag name '$name' must match ${TagNameRe.regex}")
    require(committedVersions(spark, path).contains(version),
      s"tag '$name': version $version at $path is not committed")
    val f = fs(spark, path)
    if (!createExclusive(f, new Path(s"$path/_tag_$name"),
        version.toString.getBytes("UTF-8")))
      sys.error(s"tag '$name' already exists at $path — tags are immutable")
  }

  /** All tags: name → version. O(tags) metadata reads. A tag file
    * whose bytes don't parse is SKIPPED, not fatal: [[tag]] writes
    * create-then-write, so a reader racing the create (or a crash
    * between create and write — the caller saw its tag() fail) can
    * observe an empty file; treating it as "tag not (yet) created"
    * matches what the writer was told, and keeps one torn file from
    * turning every [[dropVersionsBelow]] on the table into an error.
    */
  def tags(spark: SparkSession, path: String): Map[String, Long] = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (!f.exists(p)) Map.empty
    else f.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("_tag_"))
      .flatMap { n =>
        val text = readText(f, new Path(s"$path/$n"))
        scala.util.Try(text.trim.toLong).toOption.map(n.stripPrefix("_tag_") -> _)
      }.toMap
  }

  /** Read the snapshot a tag names — the same pinned scan as
    * [[readVersion]]; fails loudly on an unknown tag.
    */
  def readTag(spark: SparkSession, path: String, name: String): DataFrame =
    tags(spark, path).get(name) match {
      case Some(v) => readVersion(spark, path, Some(v))
      case None => sys.error(s"readTag: no tag '$name' at $path")
    }

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
}
