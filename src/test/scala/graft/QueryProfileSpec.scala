package graft

import org.apache.spark.sql.functions._

/** The profiling instrument: its Spark-side fields, its span recorder
  * and its SQL plan capture.
  */
class QueryProfileSpec extends SparkSpec {

  private def sortJob(n: Int): Unit =
    spark.range(n).withColumn("k", col("id") % 97).orderBy(col("k"), col("id"))
      .write.format("noop").mode("overwrite").save()

  test("reset zeroes every field") {
    val p = QueryProfile.attach(spark)
    try {
      sortJob(20000)
      QueryProfile.record("x", 1.0)
      p.drain()
      assert(p.peakTaskMb > 0 && p.topStages(5).nonEmpty)
      assert(p.plans.nonEmpty && p.spans.nonEmpty)
      p.reset()
      assert(p.peakTaskMb == 0.0 && p.spillMb == 0.0)
      assert(p.topStages(5).isEmpty && p.plans.isEmpty && p.spans.isEmpty)
      assert(p.tickWalls.isEmpty && !p.headroomFlag(32))
    } finally p.detach()
  }

  test("topStages is ordered by max-task peak, heaviest first") {
    val p = QueryProfile.attach(spark)
    try {
      sortJob(1000)
      sortJob(200000)
      spark.range(100).count()
      p.drain()
      val peaks = p.topStages(10).map(_.maxTaskPeakMb)
      assert(peaks.size >= 2)
      assert(peaks == peaks.sorted.reverse)
      assert(p.topStages(1).map(_.maxTaskPeakMb) == peaks.take(1))
      assert(peaks.head == p.peakTaskMb)
    } finally p.detach()
  }

  test("a span is recorded only while a profile is attached") {
    assert(QueryProfile.span("unattached")(41) + 1 == 42)
    val p = QueryProfile.attach(spark)
    try {
      assert(QueryProfile.span("during")(7) == 7)
      QueryProfile.record("tick-10", 3.0)
      QueryProfile.tick(2L)(())
      QueryProfile.record("view-2", 0.5)
    } finally p.detach()
    QueryProfile.span("after")(())
    QueryProfile.record("tick-3", 9.0)
    assert(p.spans.map(_._1) == Seq("during", "tick-10", "tick-2", "view-2"))
    // tick walls in batch order, not record order; other tags excluded
    val walls = p.tickWalls
    assert(walls.size == 2 && walls(1) == 3.0)
  }

  test("the SQL plans of a two-action job are captured in order") {
    val p = QueryProfile.attach(spark)
    try {
      p.reset()
      spark.range(7).select(col("id").as("first_action")).collect()
      spark.range(9).select((col("id") * 2).as("second_action")).collect()
      val plans = p.plans
      assert(plans.size == 2, plans.mkString("\n----\n"))
      assert(plans(0).contains("first_action") && !plans(0).contains("second_action"))
      assert(plans(1).contains("second_action"))
    } finally p.detach()
  }

  test("under AQE each stage carries its own query's name") {
    val sc = spark.sparkContext
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val p = QueryProfile.attach(spark)
    try {
      p.reset()
      sc.setJobDescription("profile-query-alpha")
      sortJob(30000)
      sc.setJobGroup("profile-group", "grouped", interruptOnCancel = false)
      sc.setJobDescription("profile-query-beta")
      spark.range(30000).groupBy((col("id") % 13).as("k")).count()
        .write.format("noop").mode("overwrite").save()
      sc.clearJobGroup()
      sc.setJobDescription(null)
      p.drain()
      val names = p.topStages(100).map(_.name)
      assert(names.toSet == Set("profile-query-alpha", "profile-group: profile-query-beta"),
        names.mkString("\n"))
      assert(names.count(_ == "profile-query-alpha") >= 2, names)
      assert(names.count(_.endsWith("profile-query-beta")) >= 2, names)
    } finally {
      sc.clearJobGroup(); sc.setJobDescription(null); p.detach()
    }
  }

  test("stages TransformDag.run starts carry the caller's job group") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    import graft.operators.TransformDag
    import graft.operators.TransformDag.Node
    val sc = spark.sparkContext
    // pool threads started now keep this group: work run on them would
    // carry it instead of the caller's
    sc.setJobGroup("stale-group", "stale", interruptOnCancel = false)
    Await.ready(Future.traverse(1 to 16)(_ => Future(Thread.sleep(20))), Duration.Inf)
    val p = QueryProfile.attach(spark)
    try {
      p.reset()
      sc.setJobGroup("dag-group", "models", interruptOnCancel = false)
      // "counts" is read by two nodes, so run builds it (and its shuffle)
      val out = TransformDag.run(Seq(
        Node("counts", Nil, _ => spark.range(30000).groupBy((col("id") % 13).as("k")).count()),
        Node("big", Seq("counts"), ins => ins("counts").filter(col("count") > 2000)),
        Node("small", Seq("counts"), ins => ins("counts").filter(col("count") <= 2000))))
      Seq("big", "small").foreach(n => out(n).write.format("noop").mode("overwrite").save())
      p.drain()
      val names = p.topStages(100).map(_.name)
      assert(names.nonEmpty)
      assert(names.forall(_.startsWith("dag-group: ")), names.mkString("\n"))
    } finally {
      sc.clearJobGroup(); p.detach()
    }
  }

  test("stages an applyTick and a topKTick start carry the caller's job group") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    import graft.operators.{Ivm, TableStore}
    import graft.streaming.JoinViewMaintenance
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_tick_jobs")
    def path(n: String) = root.resolve(n).toString
    val a = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "va")
    val b = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "vb")
    JoinViewMaintenance.init(spark, path("view"), path("a"), path("b"), a, b, Seq("k"))
    val base = Seq((1L, 10L, 100L), (1L, 20L, 101L), (2L, 5L, 200L)).toDF("g", "v", "id")
    TableStore.publishFoldSnapshot(spark, path("topk_base"), base, "tick=-1")
    TableStore.publishFoldSnapshotDistinct(spark, path("topk_view"),
      Ivm.aggregateTopK(base, Seq("g"), "v", "id", 1), "tick=-1")
    val sc = spark.sparkContext
    sc.setJobGroup("stale-group", "stale", interruptOnCancel = false)
    Await.ready(Future.traverse(1 to 16)(_ => Future(Thread.sleep(20))), Duration.Inf)
    val p = QueryProfile.attach(spark)
    try {
      p.reset()
      sc.setJobGroup("tick-group", "maintain", interruptOnCancel = false)
      // tick 1 is a compaction tick: the staging futures and the
      // reserved-slot checkpoints both run on pool threads
      JoinViewMaintenance.applyTick(spark, path("view"), path("a"), path("b"),
        Seq((2L, "delete", "y"), (4L, "insert", "w")).toDF("k", "_change_type", "va"),
        Seq((4L, "insert", 40L)).toDF("k", "_change_type", "vb"), Seq("k"), 1L)
      JoinViewMaintenance.topKTick(spark, path("topk_base"), path("topk_view"),
        Seq((1L, 20L, 101L, "delete"), (2L, 9L, 201L, "insert"))
          .toDF("g", "v", "id", "_change_type"),
        1L, Seq("g"), "v", "id", 1, compactEvery = JoinViewMaintenance.CompactEvery)
      p.drain()
      val names = p.topStages(1000).map(_.name)
      assert(names.nonEmpty)
      assert(names.forall(_.startsWith("tick-group: ")), names.distinct.mkString("\n"))
    } finally {
      sc.clearJobGroup(); p.detach()
      deleteRecursively(root.toFile)
    }
  }
}
