package graft.streaming

import graft.{Scratch, SparkSpec, TestSpark}
import graft.operators.{Ivm, TableStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crash the st15 maintenance loop BETWEEN its per-tick publishes (view
  * advanced, bases not) and prove the durable-checkpoint restart rolls
  * the tick forward to exactly the recomputed join — the WAL semantics
  * JoinViewMaintenance's commit notes implement.
  */
class JoinViewResumeSpec extends SparkSpec {
  import TestSpark.spark.implicits._

  private def viewSet(df: DataFrame): Set[(Long, String, Long, Long)] =
    df.select(col("k"), col("va"), col("vb"), col("_mult"))
      .as[(Long, String, Long, Long)].collect().toSet

  test("mid-tick crash + resume == recompute (roll-forward), redelivery is skipped") {
    val spark = TestSpark.spark
    val tmp = Scratch.dir("jvm_resume")
    val viewPath = tmp.resolve("view").toString
    val aPath = tmp.resolve("base_a").toString
    val bPath = tmp.resolve("base_b").toString
    val stage = tmp.resolve("stage").toString
    val ckpt = tmp.resolve("ckpt").toString

    val a0 = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "va")
    val b0 = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "vb")
    // deletes, in-place updates and inserts on BOTH sides
    val a1 = Seq((1L, "x"), (2L, "Y"), (4L, "w")).toDF("k", "va")
    val b1 = Seq((2L, 20L), (3L, 31L), (4L, 40L)).toDF("k", "vb")
    val dA = TableStore.diffKeyed(a0, a1, Seq("k"))
      .select(lit("a").as("_side"), col("k"), col("_change_type"),
        col("va"), lit(null).cast("long").as("vb"))
    val dB = TableStore.diffKeyed(b0, b1, Seq("k"))
      .select(lit("b").as("_side"), col("k"), col("_change_type"),
        lit(null).cast("string").as("va"), col("vb"))
    val combined = dA.unionByName(dB)
    combined.repartition(3).write.parquet(stage)

    JoinViewMaintenance.init(spark, viewPath, aPath, bPath, a0, b0, Seq("k"))

    def run(crashAt: Option[(Long, String)]): Unit =
      EventStream.runForeachBatch(spark,
        EventStream.restageFileStream(spark, combined.schema, stage),
        Some(ckpt)) { (batch, bid) =>
        val slice = batch.cache()
        try {
          val sa = slice.filter(col("_side") === "a")
            .select("k", "_change_type", "va")
          val sb = slice.filter(col("_side") === "b")
            .select("k", "_change_type", "vb")
          JoinViewMaintenance.applyTick(spark, viewPath, aPath, bPath,
            sa, sb, Seq("k"), bid,
            afterPublish = p => crashAt.foreach { case (cb, cp) =>
              if (bid == cb && p == cp) sys.error(s"injected crash at tick $cb")
            })
        } finally { slice.unpersist(); () }
      }

    // run 1: crash AFTER the view's tick-1 publish, BEFORE the bases'
    val ex = intercept[Throwable] { run(Some((1L, viewPath))) }
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + messages(t.getCause)
    assert(messages(ex).contains("injected crash"), messages(ex))
    // the crash really is mid-tick: view advanced to tick 1, bases not
    assert(JoinViewMaintenance.tickVersion(spark, viewPath, 1L).isDefined)
    assert(JoinViewMaintenance.tickVersion(spark, aPath, 1L).isEmpty)
    assert(JoinViewMaintenance.tickVersion(spark, bPath, 1L).isEmpty)

    // run 2: same checkpoint — redelivers tick 1 (roll-forward: view
    // kept, bases recomputed), then plays the rest
    run(None)
    val got = viewSet(JoinViewMaintenance.currentView(spark, viewPath))
    val want = viewSet(Ivm.joinView(a1, b1, Seq("k")))
    assert(got == want, s"got=$got want=$want")
  }

  /** The REDELIVERY-after-compaction window: applyTick for a
    * compaction tick fully returns (three publishes + checkpoint +
    * retention), then the process dies BEFORE the stream checkpoint
    * commits. The restarted stream redelivers that batch; the tick
    * must be SKIPPED — compaction's retention reclaims the tick's
    * delta DATA, but the commit markers (and the checkpoint's own
    * `after=N` note) survive as proof, so nothing double-folds.
    */
  test("redelivery of a fully-committed compaction tick is skipped, not re-applied") {
    val spark = TestSpark.spark
    val tmp = Scratch.dir("jvm_redeliver")
    val viewPath = tmp.resolve("view").toString
    val aPath = tmp.resolve("base_a").toString
    val bPath = tmp.resolve("base_b").toString
    val stage = tmp.resolve("stage").toString
    val ckpt = tmp.resolve("ckpt").toString

    val a0 = Seq((1L, "x"), (2L, "y")).toDF("k", "va")
    val b0 = Seq((1L, 10L), (2L, 20L)).toDF("k", "vb")
    // three staged slices → ticks 0,1,2; CompactEvery=2 makes tick 1
    // the compaction tick
    def aRow(k: Long, ct: String, va: String) =
      (("a", k, ct, Option(va), Option.empty[Long]))
    def bRow(k: Long, ct: String, vb: Long) =
      (("b", k, ct, Option.empty[String], Option(vb)))
    val parts = Seq(
      Seq(aRow(3L, "insert", "z"), bRow(3L, "insert", 30L)),
      Seq(aRow(2L, "update_preimage", "y"), aRow(2L, "update_postimage", "Y"),
        bRow(1L, "delete", 10L)),
      Seq(aRow(1L, "delete", "x"), bRow(4L, "insert", 40L),
        aRow(4L, "insert", "w"))
    ).map(_.toDF("_side", "k", "_change_type", "va", "vb"))

    JoinViewMaintenance.init(spark, viewPath, aPath, bPath, a0, b0, Seq("k"))
    val streamed = EventStream.sequencedFileStream(spark, parts, stage)

    def run(crashAfterTick: Option[Long], src: org.apache.spark.sql.DataFrame): Unit =
      EventStream.runForeachBatch(spark, src, Some(ckpt)) { (batch, bid) =>
        val slice = batch.cache()
        try {
          val sa = slice.filter(col("_side") === "a")
            .select("k", "_change_type", "va")
          val sb = slice.filter(col("_side") === "b")
            .select("k", "_change_type", "vb")
          JoinViewMaintenance.applyTick(spark, viewPath, aPath, bPath,
            sa, sb, Seq("k"), bid)
          // the injected crash fires AFTER applyTick returned — i.e.
          // after compaction+retention ran for bid=1 — but before the
          // foreachBatch stream checkpoint can commit the offset
          crashAfterTick.foreach { cb =>
            if (bid == cb) sys.error(s"injected crash after tick $cb")
          }
        } finally { slice.unpersist(); () }
      }

    val ex = intercept[Throwable] {
      run(Some(1L), streamed)
    }
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + messages(t.getCause)
    assert(messages(ex).contains("injected crash"), messages(ex))
    // compaction really ran: tick-1 delta data is reclaimed, yet the
    // tick still proves committed (marker notes + checkpoint note)
    assert(JoinViewMaintenance.tickVersion(spark, viewPath, 1L).isDefined)
    assert(JoinViewMaintenance.tickVersion(spark, aPath, 1L).isDefined)

    // resume: the stream redelivers tick 1 (its offset never
    // committed), which must be a no-op; tick 2 then applies
    run(None, EventStream.restageFileStream(spark, parts.head.schema, stage))
    val aF = Seq((2L, "Y"), (3L, "z"), (4L, "w")).toDF("k", "va")
    val bF = Seq((2L, 20L), (3L, 30L), (4L, 40L)).toDF("k", "vb")
    val got = viewSet(JoinViewMaintenance.currentView(spark, viewPath))
    val want = viewSet(Ivm.joinView(aF, bF, Seq("k")))
    assert(got == want, s"got=$got want=$want")
  }

  /** The ASYNC checkpoint path (st15's production shape): compaction
    * runs behind the stream on a background thread, drained before
    * the next tick's commits — multi-tick result must equal the
    * recompute, the deferred checkpoints must actually land (chain
    * bounded), and deferred retention must still reclaim history.
    */
  test("async compactor: deferred checkpoints drain safely; result == recompute") {
    val spark = TestSpark.spark
    val tmp = Scratch.dir("jvm_async")
    val viewPath = tmp.resolve("view").toString
    val aPath = tmp.resolve("base_a").toString
    val bPath = tmp.resolve("base_b").toString
    val stage = tmp.resolve("stage").toString
    val ckpt = tmp.resolve("ckpt").toString

    val a0 = Seq((1L, "x"), (2L, "y")).toDF("k", "va")
    val b0 = Seq((1L, 10L), (2L, 20L)).toDF("k", "vb")
    def aRow(k: Long, ct: String, va: String) =
      (("a", k, ct, Option(va), Option.empty[Long]))
    def bRow(k: Long, ct: String, vb: Long) =
      (("b", k, ct, Option.empty[String], Option(vb)))
    // four ticks → checkpoints at b=1 and b=3; the b=1 checkpoint
    // overlaps b=2's staging, the b=3 one drains at the final read
    val parts = Seq(
      Seq(aRow(3L, "insert", "z"), bRow(3L, "insert", 30L)),
      Seq(aRow(2L, "update_preimage", "y"), aRow(2L, "update_postimage", "Y")),
      Seq(bRow(1L, "delete", 10L), bRow(4L, "insert", 40L)),
      Seq(aRow(4L, "insert", "w"), aRow(3L, "delete", "z"))
    ).map(_.toDF("_side", "k", "_change_type", "va", "vb"))

    JoinViewMaintenance.init(spark, viewPath, aPath, bPath, a0, b0, Seq("k"),
      inputsDistinct = true)
    val compactor = new JoinViewMaintenance.AsyncCompactor
    EventStream.runForeachBatch(spark,
      EventStream.sequencedFileStream(spark, parts, stage),
      Some(ckpt)) { (batch, bid) =>
      val slice = batch.cache()
      try {
        val sa = slice.filter(col("_side") === "a")
          .select("k", "_change_type", "va")
        val sb = slice.filter(col("_side") === "b")
          .select("k", "_change_type", "vb")
        JoinViewMaintenance.applyTick(spark, viewPath, aPath, bPath,
          sa, sb, Seq("k"), bid, compactor = Some(compactor))
      } finally { slice.unpersist(); () }
    }
    compactor.drain()

    val aF = Seq((1L, "x"), (2L, "Y"), (4L, "w")).toDF("k", "va")
    val bF = Seq((2L, 20L), (3L, 30L), (4L, 40L)).toDF("k", "vb")
    val got = viewSet(JoinViewMaintenance.currentView(spark, viewPath))
    val want = viewSet(Ivm.joinView(aF, bF, Seq("k")))
    assert(got == want, s"got=$got want=$want")
    // both deferred checkpoints LANDED: the final anchor is the b=3
    // checkpoint, and deferred retention bounded the chain under it
    Seq(viewPath, aPath, bPath).foreach { p =>
      val cur = TableStore.currentVersion(spark, p).get
      val anchor = TableStore.foldAnchor(spark, p, cur)
      assert(TableStore.versionNote(spark, p, anchor)
        .exists(_.contains("checkpoint;after=3")),
        s"$p anchor note: ${TableStore.versionNote(spark, p, anchor)}")
      // reserved-slot ordering: the b=1 checkpoint's version sits
      // BELOW tick 2's delta commits even though its bytes landed on
      // a background thread that nothing waited for — version order,
      // not commit wall-time, carries the anchor invariant
      def noteVersions(f: String => Boolean): Seq[Long] =
        TableStore.committedVersions(spark, p).filter(v =>
          TableStore.versionNote(spark, p, v).exists(f))
      val ck1 = noteVersions(_.contains("checkpoint;after=1"))
      val t2 = noteVersions(_.endsWith("tick=2"))
      assert(ck1.nonEmpty && t2.nonEmpty, s"$p: ck1=$ck1 t2=$t2")
      assert(ck1.head < t2.min,
        s"$p: b=1 checkpoint v${ck1.head} must order below tick-2 v${t2.min}")
      // retention reclaimed data below the anchor (markers survive)
      val live = TableStore.committedVersions(spark, p)
        .filter(v => scala.util.Try(
          TableStore.readVersion(spark, p, Some(v)).schema).isSuccess)
      assert(live.forall(_ >= anchor - 0L) || live.nonEmpty)
    }
  }

  /** Duplicate base rows: two identical INSERTs fold (post-compaction)
    * to ONE `_mult=2` row in the stored base, and the view delta's
    * base probes must weight by that multiplicity — a later matching
    * insert on the other side derives TWO view rows, and deleting one
    * copy removes exactly one derivation.
    */
  test("folded base multiplicity weights the view delta (duplicate rows)") {
    val spark = TestSpark.spark
    val tmp = Scratch.dir("jvm_mult")
    val viewPath = tmp.resolve("view").toString
    val aPath = tmp.resolve("base_a").toString
    val bPath = tmp.resolve("base_b").toString
    val stage = tmp.resolve("stage").toString
    val ckpt = tmp.resolve("ckpt").toString

    val a0 = spark.emptyDataFrame
      .select(lit(0L).as("k"), lit("").as("va")).limit(0)
    val b0 = spark.emptyDataFrame
      .select(lit(0L).as("k"), lit(0L).as("vb")).limit(0)
    val parts = Seq(
      // tick 0: the SAME a-row inserted twice (a true multiset base)
      Seq(("a", 1L, "insert", Option("x"), Option.empty[Long]),
        ("a", 1L, "insert", Option("x"), Option.empty[Long]),
        ("a", 2L, "insert", Option("y"), Option.empty[Long])),
      // tick 1 (compaction): b arrives — both a-copies must derive
      Seq(("b", 1L, "insert", Option.empty[String], Option(10L)),
        ("b", 2L, "insert", Option.empty[String], Option(20L))),
      // tick 2: one more b match + delete ONE a-copy
      Seq(("b", 1L, "insert", Option.empty[String], Option(11L)),
        ("a", 1L, "delete", Option("x"), Option.empty[Long]))
    ).map(_.toDF("_side", "k", "_change_type", "va", "vb"))

    JoinViewMaintenance.init(spark, viewPath, aPath, bPath, a0, b0, Seq("k"))
    EventStream.runForeachBatch(spark,
      EventStream.sequencedFileStream(spark, parts, stage),
      Some(ckpt)) { (batch, bid) =>
      val slice = batch.cache()
      try {
        val sa = slice.filter(col("_side") === "a")
          .select("k", "_change_type", "va")
        val sb = slice.filter(col("_side") === "b")
          .select("k", "_change_type", "vb")
        JoinViewMaintenance.applyTick(spark, viewPath, aPath, bPath,
          sa, sb, Seq("k"), bid)
      } finally { slice.unpersist(); () }
    }
    // recompute oracle over the literal final MULTISET base: one "x"
    // copy remains of the two inserted
    val aF = Seq((1L, "x"), (2L, "y")).toDF("k", "va")
    val bF = Seq((1L, 10L), (2L, 20L), (1L, 11L)).toDF("k", "vb")
    val got = viewSet(JoinViewMaintenance.currentView(spark, viewPath))
    val want = viewSet(Ivm.joinView(aF, bF, Seq("k")))
    assert(got == want, s"got=$got want=$want")
    // and mid-history the stored base really was ONE weighted row
    val aState = TableStore.readFolded(spark, aPath)
      .filter(col("k") === 1L).select("va", "_mult")
      .as[(String, Long)].collect().toSet
    assert(aState == Set(("x", 1L)), aState.toString)
  }

  /** st17's tick (topKTick) under the two redelivery shapes the WAL
    * guards exist for: (a) the whole tick committed but the stream
    * checkpoint didn't — redelivery must be a no-op (no base
    * double-fold, no view double-insert); (b) crash BETWEEN the base
    * publish and the view publish — redelivery must skip the base and
    * roll the view forward against the already-advanced base.
    */
  test("topKTick: redelivered tick is idempotent; mid-tick crash rolls forward") {
    val spark = TestSpark.spark
    val tmp = Scratch.dir("topk_redeliver")
    val basePath = tmp.resolve("base").toString
    val viewPath = tmp.resolve("view").toString
    val base0 = Seq((1L, 10L, 100L), (1L, 20L, 101L), (1L, 30L, 102L),
      (1L, 40L, 103L), (2L, 5L, 200L)).toDF("g", "v", "id")
    TableStore.publishFoldSnapshot(spark, basePath, base0, "tick=-1")
    TableStore.publishFoldSnapshot(spark, viewPath,
      Ivm.aggregateTopK(base0, Seq("g"), "v", "id", 2), "tick=-1")

    def topkSet(df: DataFrame) = df
      .select(col("g"), posexplode(col("topk")).as(Seq("p", "e")))
      .select(col("g"), col("p"), col("e.v"), col("e.id"))
      .as[(Long, Int, Long, Long)].collect().toSet
    def view() = topkSet(TableStore.readFolded(spark, viewPath).drop("_mult"))

    // tick 0: delete the stored max of g=1 (forces evict-rescan) and
    // insert a new g=2 row (pure array path)
    val slice0 = Seq((1L, 40L, 103L, "delete"), (2L, 50L, 201L, "insert"))
      .toDF("g", "v", "id", "_change_type")
    JoinViewMaintenance.topKTick(spark, basePath, viewPath, slice0, 0L,
      Seq("g"), "v", "id", 2)
    val afterTick0 = view()
    val base1 = Seq((1L, 10L, 100L), (1L, 20L, 101L), (1L, 30L, 102L),
      (2L, 5L, 200L), (2L, 50L, 201L)).toDF("g", "v", "id")
    assert(afterTick0 == topkSet(Ivm.aggregateTopK(base1, Seq("g"), "v", "id", 2)))

    // (a) full redelivery of tick 0: both guards must skip
    val baseVersions = TableStore.committedVersions(spark, basePath)
    val viewVersions = TableStore.committedVersions(spark, viewPath)
    JoinViewMaintenance.topKTick(spark, basePath, viewPath, slice0, 0L,
      Seq("g"), "v", "id", 2)
    assert(TableStore.committedVersions(spark, basePath) == baseVersions,
      "redelivered tick republished the base")
    assert(TableStore.committedVersions(spark, viewPath) == viewVersions,
      "redelivered tick republished the view")
    assert(view() == afterTick0)

    // (b) crash between the publishes: simulate by advancing ONLY the
    // base for tick 1, then redeliver the whole tick — the base guard
    // skips, the view rolls forward against the post-tick base
    val slice1 = Seq((1L, 30L, 102L, "delete"), (1L, 60L, 104L, "insert"))
      .toDF("g", "v", "id", "_change_type")
    TableStore.publishFoldDelta(spark, basePath,
      JoinViewMaintenance.baseDelta(slice1), "tick=1")
    JoinViewMaintenance.topKTick(spark, basePath, viewPath, slice1, 1L,
      Seq("g"), "v", "id", 2)
    val base2 = Seq((1L, 10L, 100L), (1L, 20L, 101L), (1L, 60L, 104L),
      (2L, 5L, 200L), (2L, 50L, 201L)).toDF("g", "v", "id")
    assert(view() == topkSet(Ivm.aggregateTopK(base2, Seq("g"), "v", "id", 2)))
    // and the base holds exactly one tick=1 publish
    val tick1 = TableStore.committedVersions(spark, basePath).count(v =>
      TableStore.versionNote(spark, basePath, v)
        .exists(_.endsWith("tick=1")))
    assert(tick1 == 1, s"base has $tick1 tick=1 publishes")
  }

  /** topKTick's staged commit lays its markers base → view: a crash
    * between them leaves the base at tick B and the view at B-1. The
    * redelivered tick must skip the base, compute the view from the
    * committed chain alone (no second fold of the slice), and land on
    * the same view, chain and checkpoints as a run that never crashed.
    */
  test("topKTick: crash between the base and view markers resumes to the uninterrupted result") {
    val spark = TestSpark.spark
    val base0 = Seq((1L, 10L, 100L), (1L, 20L, 101L), (1L, 30L, 102L),
      (1L, 40L, 103L), (2L, 5L, 200L), (3L, 7L, 300L)).toDF("g", "v", "id")
    val slices = Seq(
      // evicts g=1's stored max; inserts into g=2 and a new group 4
      Seq((1L, 40L, 103L, "delete"), (2L, 50L, 201L, "insert"),
        (4L, 9L, 400L, "insert")),
      // empties g=3; g=1's update moves a stored member down
      Seq((3L, 7L, 300L, "delete"), (1L, 30L, 102L, "update_preimage"),
        (1L, 1L, 102L, "update_postimage")),
      Seq((2L, 60L, 202L, "insert"), (1L, 20L, 101L, "delete")))
      .map(_.toDF("g", "v", "id", "_change_type"))
    def topkSet(df: DataFrame) = df
      .select(col("g"), posexplode(col("topk")).as(Seq("p", "e")))
      .select(col("g"), col("p"), col("e.v"), col("e.id"))
      .as[(Long, Int, Long, Long)].collect().toSet
    def baseSet(path: String) = TableStore.readFolded(spark, path)
      .select("g", "v", "id", "_mult").as[(Long, Long, Long, Long)].collect().toSet
    def play(crashTick: Option[Long]): (String, String) = {
      val tmp = Scratch.dir("topk_crash")
      val basePath = tmp.resolve("base").toString
      val viewPath = tmp.resolve("view").toString
      TableStore.publishFoldSnapshot(spark, basePath, base0, "tick=-1")
      TableStore.publishFoldSnapshotDistinct(spark, viewPath,
        Ivm.aggregateTopK(base0, Seq("g"), "v", "id", 2), "tick=-1")
      def tick(b: Long, hook: String => Unit): Unit =
        JoinViewMaintenance.topKTick(spark, basePath, viewPath, slices(b.toInt), b,
          Seq("g"), "v", "id", 2, compactEvery = JoinViewMaintenance.CompactEvery,
          afterPublish = hook)
      for (b <- slices.indices.map(_.toLong)) {
        if (crashTick.contains(b)) {
          val ex = intercept[IllegalStateException](tick(b, p =>
            if (p == basePath) throw new IllegalStateException(s"injected crash at tick $b")))
          assert(ex.getMessage.contains("injected crash"))
          // the crash really is between the markers
          assert(JoinViewMaintenance.tickVersion(spark, basePath, b).isDefined)
          assert(JoinViewMaintenance.tickVersion(spark, viewPath, b).isEmpty)
        }
        tick(b, _ => ())
      }
      (basePath, viewPath)
    }
    val (cleanBase, cleanView) = play(None)
    val want = topkSet(Ivm.aggregateTopK(
      TableStore.readFolded(spark, cleanBase).drop("_mult"), Seq("g"), "v", "id", 2))
    assert(topkSet(TableStore.readFolded(spark, cleanView).drop("_mult")) == want)
    for (crash <- slices.indices.map(_.toLong)) {
      val (base, view) = play(Some(crash))
      assert(baseSet(base) == baseSet(cleanBase), s"crash at tick $crash: base")
      assert(topkSet(TableStore.readFolded(spark, view).drop("_mult")) == want,
        s"crash at tick $crash: view")
      // one tick=<b> commit per table per tick
      for (p <- Seq(base, view); b <- slices.indices) {
        val n = TableStore.committedVersions(spark, p).count(v =>
          TableStore.versionNote(spark, p, v).exists(_.endsWith(s"tick=$b")))
        assert(n == 1, s"crash at tick $crash: $p has $n tick=$b commits")
      }
    }
  }

  /** st23's tick (manifestTick): the crash window BETWEEN the member
    * publishes and the manifest commit. The members land (guarded),
    * the manifest does not — a manifest reader still resolves the
    * PREVIOUS tick's pair, which is consistent (view == aggregate of
    * the pinned base); the half-applied tick is invisible. Redelivery
    * re-runs the members as no-ops (no new base/view versions) and
    * commits the manifest, rolling the tick forward atomically.
    */
  test("manifestTick: crash before manifest commit leaves tick invisible; redelivery rolls forward") {
    val spark = TestSpark.spark
    val tmp = Scratch.dir("manifest_tick")
    val basePath = tmp.resolve("base").toString
    val viewPath = tmp.resolve("view").toString
    val maniPath = tmp.resolve("mani").toString

    def baseSet(df: DataFrame) = df.select(col("g"), col("x"))
      .as[(Long, Double)].collect().toSet
    def viewSet(df: DataFrame) = df
      .select(col("g"), col("n"), col("sum_x").cast("double"))
      .as[(Long, Long, Double)].collect().toSet

    val base0 = Seq((1L, 10.0), (2L, 20.0)).toDF("g", "x")
    val vB0 = TableStore.publishFoldSnapshot(spark, basePath, base0, "tick=-1")
    val vV0 = TableStore.publishVersion(spark, viewPath,
      Ivm.aggregate(base0, Seq("g"), Seq("x")), "tick=-1")
    TableStore.publishManifest(spark, maniPath, Seq(
      ("base", basePath, vB0), ("view", viewPath, vV0)), "tick=-1")

    // tick 0: crash AFTER both member publishes, BEFORE the manifest
    val slice0 = Seq((1L, 5.0, "insert"), (3L, 7.0, "insert"))
      .toDF("g", "x", "_change_type")
    val ex = intercept[RuntimeException] {
      JoinViewMaintenance.manifestTick(spark, maniPath, basePath, viewPath,
        slice0, 0L, Seq("g"), Seq("x"),
        afterMembers = () => sys.error("injected crash before manifest"))
    }
    assert(ex.getMessage.contains("injected crash"), ex.getMessage)
    // the crash really is in the window: members committed, manifest not
    assert(JoinViewMaintenance.tickVersion(spark, basePath, 0L).isDefined)
    assert(JoinViewMaintenance.tickVersion(spark, viewPath, 0L).isDefined)
    assert(JoinViewMaintenance.tickVersion(spark, maniPath, 0L).isEmpty)
    // a manifest reader sees the PREVIOUS pair — consistent, no tick-0
    assert(baseSet(TableStore.readPinnedFolded(spark, maniPath, "base")
      .drop("_mult")) == baseSet(base0))
    assert(viewSet(TableStore.readPinned(spark, maniPath, "view")) ==
      viewSet(Ivm.aggregate(base0, Seq("g"), Seq("x"))))

    // redelivery: members skip (no new versions), manifest commits
    val baseVs = TableStore.committedVersions(spark, basePath)
    val viewVs = TableStore.committedVersions(spark, viewPath)
    JoinViewMaintenance.manifestTick(spark, maniPath, basePath, viewPath,
      slice0, 0L, Seq("g"), Seq("x"))
    assert(TableStore.committedVersions(spark, basePath) == baseVs,
      "redelivered tick republished the base")
    assert(TableStore.committedVersions(spark, viewPath) == viewVs,
      "redelivered tick republished the view")
    assert(JoinViewMaintenance.tickVersion(spark, maniPath, 0L).isDefined)
    // and the manifest reader now resolves the tick-0 pair, consistent
    val base1 = base0.unionByName(slice0.drop("_change_type"))
    assert(baseSet(TableStore.readPinnedFolded(spark, maniPath, "base")
      .drop("_mult")) == baseSet(base1))
    assert(viewSet(TableStore.readPinned(spark, maniPath, "view")) ==
      viewSet(Ivm.aggregate(base1, Seq("g"), Seq("x"))))

    // tick 1 is a COMPACTION tick (compactEvery=2): the manifest must
    // pin the base's CHECKPOINT version (so retention below it can
    // never strand the pin), and redelivery must skip the members AND
    // the re-compaction
    val slice1 = Seq((2L, 1.0, "insert"), (3L, -2.0, "insert"))
      .toDF("g", "x", "_change_type")
    JoinViewMaintenance.manifestTick(spark, maniPath, basePath, viewPath,
      slice1, 1L, Seq("g"), Seq("x"), compactEvery = 2)
    val base2 = base1.unionByName(slice1.drop("_change_type"))
    val pinnedB = TableStore.readVersion(spark, maniPath, None)
      .filter(col("table_name") === "base")
      .select("pinned_version").collect().head.getLong(0)
    assert(TableStore.versionNote(spark, basePath, pinnedB)
      .exists(_.startsWith("checkpoint;after=1")),
      s"compaction tick pinned v$pinnedB, not the checkpoint")
    // retention below the checkpoint: the pinned pair still reads
    TableStore.dropVersionsBelow(spark, basePath, keepFrom = pinnedB)
    assert(baseSet(TableStore.readPinnedFolded(spark, maniPath, "base")
      .drop("_mult")) == baseSet(base2))
    assert(viewSet(TableStore.readPinned(spark, maniPath, "view")) ==
      viewSet(Ivm.aggregate(base2, Seq("g"), Seq("x"))))
    // full redelivery of the compaction tick: nothing republishes
    val bVs = TableStore.committedVersions(spark, basePath)
    val vVs = TableStore.committedVersions(spark, viewPath)
    JoinViewMaintenance.manifestTick(spark, maniPath, basePath, viewPath,
      slice1, 1L, Seq("g"), Seq("x"), compactEvery = 2)
    assert(TableStore.committedVersions(spark, basePath) == bVs,
      "redelivered compaction tick republished the base or re-compacted")
    assert(TableStore.committedVersions(spark, viewPath) == vVs,
      "redelivered compaction tick republished the view")
    assert(baseSet(TableStore.readPinnedFolded(spark, maniPath, "base")
      .drop("_mult")) == baseSet(base2))
  }
}
