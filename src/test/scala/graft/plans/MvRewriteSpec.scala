package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}
import graft.operators.{Ivm, TableStore}
import graft.queries.dsum

/** [[MvRewrite]] — the plan-shape and refusal contracts the oracle
  * rows (s31/s32) cannot see: the rewritten plan must actually READ
  * the view (not the base), rollup/filter derivations must equal the
  * base recompute, and every unsound shape (plain double sum,
  * non-grouping filter, other version, unregistered table) must be
  * left untouched.
  */
class MvRewriteSpec extends SparkSpec {

  import spark.implicits._

  private def scratch(name: String): String = Scratch.table(name)

  // the OPTIMIZED logical plan is where the rewrite lands (AQE hides
  // physical children behind AdaptiveSparkPlanExec until execution)
  private def scannedDirs(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toUri.getPath)
          case _ => Nil
        }
    }.flatten

  /** base: (k1, k2, v double) with a NULL-free double column. */
  private def mkBase(): DataFrame =
    Seq(
      ("a", 1, 10.0), ("a", 1, 2.5), ("a", 2, 7.25),
      ("b", 1, 1.0), ("b", 2, 100.0), ("b", 2, 0.75), ("c", 3, 4.0))
      .toDF("k1", "k2", "v")

  private def setup(): (String, String, Long) = {
    MvRewrite.ensure(spark)
    MvCatalog.clear()
    val basePath = scratch("mv_base")
    val viewPath = scratch("mv_view")
    val v = TableStore.publishVersion(spark, basePath, mkBase(), note = "base")
    TableStore.overwrite(
      Ivm.aggregateWithExtrema(TableStore.readVersion(spark, basePath, Some(v)),
        Seq("k1", "k2"), Seq("v"), Seq("v"), Seq("v")), viewPath)
    MvCatalog.register(spark, basePath, v, viewPath,
      Seq("k1", "k2"), Seq("v"), Seq("v"), Seq("v"))
    (basePath, viewPath, v)
  }

  private def baseAgg(basePath: String, v: Long): DataFrame =
    TableStore.readVersion(spark, basePath, Some(v))
      .groupBy("k1")
      .agg(count(lit(1)).as("n_rows"), dsum(col("v")).as("total"),
        min("v").as("lo"), max("v").as("hi"))

  test("exact + rollup aggregate routes to the view and matches recompute") {
    val (basePath, viewPath, v) = setup()
    try {
      val routed = baseAgg(basePath, v)
      val dirs = scannedDirs(routed)
      assert(dirs.exists(_.startsWith(viewPath)),
        s"expected a view scan in $dirs")
      assert(!dirs.exists(_.contains("v=")), s"base scan survived: $dirs")
      // semantics: equal to the unrouted recompute
      MvCatalog.clear()
      val direct = baseAgg(basePath, v)
      assert(scannedDirs(direct).forall(_.startsWith(basePath)))
      assert(routed.orderBy("k1").collect().toSeq ==
        direct.orderBy("k1").collect().toSeq)
    } finally MvCatalog.clear()
  }

  test("grouping-column filter pushes onto the view") {
    val (basePath, viewPath, v) = setup()
    try {
      val routed = TableStore.readVersion(spark, basePath, Some(v))
        .filter(col("k2") =!= 3)
        .groupBy("k1", "k2")
        .agg(count(lit(1)).as("n_rows"), dsum(col("v")).as("total"))
      assert(scannedDirs(routed).exists(_.startsWith(viewPath)))
      MvCatalog.clear()
      val direct = TableStore.readVersion(spark, basePath, Some(v))
        .filter(col("k2") =!= 3)
        .groupBy("k1", "k2")
        .agg(count(lit(1)).as("n_rows"), dsum(col("v")).as("total"))
      assert(routed.orderBy("k1", "k2").collect().toSeq ==
        direct.orderBy("k1", "k2").collect().toSeq)
    } finally MvCatalog.clear()
  }

  test("global (no grouping) aggregate routes; empty-table count stays 0") {
    val (basePath, viewPath, v) = setup()
    try {
      val routed = TableStore.readVersion(spark, basePath, Some(v))
        .agg(count(lit(1)).as("n_rows"), dsum(col("v")).as("total"))
      assert(scannedDirs(routed).exists(_.startsWith(viewPath)))
      val Array(row) = routed.collect()
      assert(row.getLong(0) == 7L)
      // empty base + empty view: count must still return one 0 row
      val emptyBase = scratch("mv_base_e")
      val emptyView = scratch("mv_view_e")
      val ev = TableStore.publishVersion(spark, emptyBase,
        mkBase().filter(lit(false)), note = "empty")
      TableStore.overwrite(Ivm.aggregate(
        TableStore.readVersion(spark, emptyBase, Some(ev)),
        Seq("k1", "k2"), Seq("v")), emptyView)
      MvCatalog.register(spark, emptyBase, ev, emptyView, Seq("k1", "k2"), Seq("v"))
      val g = TableStore.readVersion(spark, emptyBase, Some(ev))
        .agg(count(lit(1)).as("n_rows"))
      assert(scannedDirs(g).exists(_.startsWith(emptyView)))
      assert(g.collect().head.getLong(0) == 0L)
    } finally MvCatalog.clear()
  }

  test("refusals: double sum, non-grouping filter, stale version, unregistered") {
    val (basePath, viewPath, v) = setup()
    try {
      // plain double sum would change float addition order -> no route
      val doubleSum = TableStore.readVersion(spark, basePath, Some(v))
        .groupBy("k1").agg(sum("v").as("total"))
      assert(!scannedDirs(doubleSum).exists(_.startsWith(viewPath)))
      // filter on a non-grouping column needs row-level data -> no route
      val rowFilter = TableStore.readVersion(spark, basePath, Some(v))
        .filter(col("v") > 2.0)
        .groupBy("k1").agg(count(lit(1)).as("n_rows"))
      assert(!scannedDirs(rowFilter).exists(_.startsWith(viewPath)))
      // a LATER version is not covered -> no route (freshness guard)
      val v2 = TableStore.publishVersion(spark, basePath,
        mkBase().filter(col("k1") =!= "c"), note = "edit")
      val stale = TableStore.readVersion(spark, basePath, Some(v2))
        .groupBy("k1").agg(count(lit(1)).as("n_rows"))
      assert(!scannedDirs(stale).exists(_.startsWith(viewPath)))
      // the PINNED covered version still routes after the new publish
      val pinned = TableStore.readVersion(spark, basePath, Some(v))
        .groupBy("k1").agg(count(lit(1)).as("n_rows"))
      assert(scannedDirs(pinned).exists(_.startsWith(viewPath)))
      // an unregistered table is untouched
      val otherPath = scratch("mv_other")
      val ov = TableStore.publishVersion(spark, otherPath, mkBase(), note = "x")
      val other = TableStore.readVersion(spark, otherPath, Some(ov))
        .groupBy("k1").agg(count(lit(1)).as("n_rows"))
      assert(!scannedDirs(other).exists(_.startsWith(viewPath)))
    } finally MvCatalog.clear()
  }

  test("SQL-path aggregate over the base version dir routes identically") {
    val (basePath, viewPath, v) = setup()
    try {
      // the SQL front door resolves parquet.`dir` to the same
      // LogicalRelation shape, so the rule must be API-agnostic
      val baseDir = MvCatalog.synchronized {
        // resolve the covered data dir the way register did
        TableStore.readVersion(spark, basePath, Some(v))
          .queryExecution.analyzed.collect {
            case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
              lr.relation.asInstanceOf[
                org.apache.spark.sql.execution.datasources.HadoopFsRelation]
                .location.rootPaths.head.toUri.getPath
          }.head
      }
      val routed = spark.sql(
        s"""SELECT k1, count(*) AS n_rows,
           |  cast(sum(cast(v as decimal(30,2))) as double) AS total
           |FROM parquet.`$baseDir` GROUP BY k1""".stripMargin)
      assert(scannedDirs(routed).exists(_.startsWith(viewPath)),
        routed.queryExecution.optimizedPlan.toString)
      MvCatalog.clear()
      val direct = spark.sql(
        s"""SELECT k1, count(*) AS n_rows,
           |  cast(sum(cast(v as decimal(30,2))) as double) AS total
           |FROM parquet.`$baseDir` GROUP BY k1""".stripMargin)
      assert(routed.orderBy("k1").collect().toSeq ==
        direct.orderBy("k1").collect().toSeq)
    } finally MvCatalog.clear()
  }

  private def setupJoin(): (String, String, String, Long, Long) = {
    MvRewrite.ensure(spark)
    MvCatalog.clear()
    val aPath = scratch("jmv_a")
    val bPath = scratch("jmv_b")
    val viewPath = scratch("jmv_view")
    val a = Seq((1L, "x", 10.0), (2L, "y", 20.0), (3L, "x", 30.0), (3L, "x", 31.0))
      .toDF("k", "tag", "va")
    val b = Seq((1L, 100L), (2L, 200L), (2L, 201L), (4L, 400L))
      .toDF("k", "vb")
    val va = TableStore.publishVersion(spark, aPath, a, note = "a")
    val vb = TableStore.publishVersion(spark, bPath, b, note = "b")
    TableStore.overwrite(
      TableStore.readVersion(spark, aPath, Some(va))
        .join(TableStore.readVersion(spark, bPath, Some(vb)), Seq("k")),
      viewPath)
    MvCatalog.registerJoin(spark, aPath, va, bPath, vb, viewPath, Seq("k"))
    (aPath, bPath, viewPath, va, vb)
  }

  test("inner equi-join of covered versions routes to the join view") {
    val (aPath, bPath, viewPath, va, vb) = setupJoin()
    try {
      def q(): DataFrame =
        TableStore.readVersion(spark, aPath, Some(va))
          .filter(col("tag") === "y")
          .join(TableStore.readVersion(spark, bPath, Some(vb)), Seq("k"))
          .select(col("k"), col("va"), col("vb"))
      val routed = q()
      val dirs = scannedDirs(routed)
      assert(dirs.exists(_.startsWith(viewPath)), s"no view scan: $dirs")
      assert(dirs.size == 1, s"base scan survived: $dirs")
      MvCatalog.clear()
      val direct = q()
      // multiset equality incl. the duplicate-key fanout rows
      assert(routed.orderBy("k", "va", "vb").collect().toSeq ==
        direct.orderBy("k", "va", "vb").collect().toSeq)
    } finally MvCatalog.clear()
  }

  test("aggregate above the routed join still resolves and matches") {
    val (aPath, bPath, viewPath, va, vb) = setupJoin()
    try {
      def q(): DataFrame =
        TableStore.readVersion(spark, aPath, Some(va))
          .join(TableStore.readVersion(spark, bPath, Some(vb)), Seq("k"))
          .groupBy("tag")
          .agg(count(lit(1)).as("n"), dsum(col("va")).as("sa"))
      val routed = q()
      assert(scannedDirs(routed).exists(_.startsWith(viewPath)))
      MvCatalog.clear()
      val direct = q()
      assert(routed.orderBy("tag").collect().toSeq ==
        direct.orderBy("tag").collect().toSeq)
    } finally MvCatalog.clear()
  }

  test("join refusals: outer join, extra theta conjunct, uncovered version") {
    val (aPath, bPath, viewPath, va, vb) = setupJoin()
    try {
      val aV = TableStore.readVersion(spark, aPath, Some(va))
      val bV = TableStore.readVersion(spark, bPath, Some(vb))
      // left outer must not route (the view lost unmatched left rows)
      val outer = aV.join(bV, Seq("k"), "left_outer")
      assert(!scannedDirs(outer).exists(_.startsWith(viewPath)))
      assert(outer.count() == 5) // 3 matched + k=3 twice unmatched
      // an extra non-key conjunct must not route
      val theta = aV.join(bV, aV("k") === bV("k") && aV("va") < bV("vb"))
      assert(!scannedDirs(theta).exists(_.startsWith(viewPath)))
      // a later version of one side must not route
      val va2 = TableStore.publishVersion(spark, aPath,
        aV.filter(col("k") =!= 1), note = "edit")
      val stale = TableStore.readVersion(spark, aPath, Some(va2))
        .join(bV, Seq("k"))
      assert(!scannedDirs(stale).exists(_.startsWith(viewPath)))
    } finally MvCatalog.clear()
  }

  test("partial view: routes only when the query filter contains the predicate") {
    val (basePath, fullView, v) = setup()
    try {
      // a PARTIAL view over k2 <> 3 rows, grouped by k1
      val partView = scratch("mv_view_part")
      TableStore.overwrite(Ivm.aggregate(
        TableStore.readVersion(spark, basePath, Some(v)).filter(col("k2") =!= 3),
        Seq("k1"), Seq("v")), partView)
      MvCatalog.clear()
      MvCatalog.register(spark, basePath, v, partView, Seq("k1"), Seq("v"),
        predicate = Some("k2 <> 3"))
      def q(extra: DataFrame => DataFrame): DataFrame =
        extra(TableStore.readVersion(spark, basePath, Some(v)))
          .groupBy("k1")
          .agg(count(lit(1)).as("n_rows"), dsum(col("v")).as("total"))
      // same predicate -> routes (inferred IsNotNull(k2) dropped as
      // implied by the matched null-rejecting conjunct)
      val hit = q(_.filter(col("k2") =!= 3))
      assert(scannedDirs(hit).exists(_.startsWith(partView)),
        hit.queryExecution.optimizedPlan.toString)
      // predicate + an extra grouping-col residual -> routes
      val hit2 = q(_.filter(col("k2") =!= 3 && col("k1") =!= "c"))
      assert(scannedDirs(hit2).exists(_.startsWith(partView)))
      // NO filter -> must not serve from the partial view
      val miss = q(identity)
      assert(!scannedDirs(miss).exists(_.startsWith(partView)))
      // a DIFFERENT row filter -> no route
      val miss2 = q(_.filter(col("k2") =!= 2))
      assert(!scannedDirs(miss2).exists(_.startsWith(partView)))
      // values equal the direct recompute
      MvCatalog.clear()
      val direct = q(_.filter(col("k2") =!= 3))
      assert(hit.orderBy("k1").collect().toSeq ==
        direct.orderBy("k1").collect().toSeq)
      val direct2 = q(_.filter(col("k2") =!= 3 && col("k1") =!= "c"))
      assert(hit2.orderBy("k1").collect().toSeq ==
        direct2.orderBy("k1").collect().toSeq)
    } finally MvCatalog.clear()
  }

  test("catalog save/load: routing resumes after a registry restart") {
    val (basePath, viewPath, v) = setup()
    val (aPath, bPath, jView, va, vb) = {
      // a join MV alongside the agg MV, both in one saved catalog
      val aPath = scratch("cat_a"); val bPath = scratch("cat_b")
      val jView = scratch("cat_jview")
      val a = Seq((1L, 5.0), (2L, 6.0)).toDF("k", "va")
      val b = Seq((1L, 7L), (2L, 8L)).toDF("k", "vb")
      val va = TableStore.publishVersion(spark, aPath, a, note = "a")
      val vb = TableStore.publishVersion(spark, bPath, b, note = "b")
      TableStore.overwrite(
        TableStore.readVersion(spark, aPath, Some(va))
          .join(TableStore.readVersion(spark, bPath, Some(vb)), Seq("k")), jView)
      MvCatalog.registerJoin(spark, aPath, va, bPath, vb, jView, Seq("k"))
      (aPath, bPath, jView, va, vb)
    }
    try {
      val catPath = scratch("mv_catalog")
      MvCatalog.save(spark, catPath)
      MvCatalog.clear()
      // registry empty: no routing
      val cold = TableStore.readVersion(spark, basePath, Some(v))
        .groupBy("k1").agg(count(lit(1)).as("n_rows"))
      assert(!scannedDirs(cold).exists(_.startsWith(viewPath)))
      // restart: load the saved catalog, both kinds route again
      MvCatalog.load(spark, catPath)
      val warm = TableStore.readVersion(spark, basePath, Some(v))
        .groupBy("k1").agg(count(lit(1)).as("n_rows"))
      assert(scannedDirs(warm).exists(_.startsWith(viewPath)))
      val joined = TableStore.readVersion(spark, aPath, Some(va))
        .join(TableStore.readVersion(spark, bPath, Some(vb)), Seq("k"))
        .select("k", "va", "vb")
      assert(scannedDirs(joined).exists(_.startsWith(jView)))
      assert(joined.orderBy("k").collect().map(_.getLong(2)).toSeq == Seq(7L, 8L))
    } finally MvCatalog.clear()
  }

  test("multiple candidate views: coarsest covering view wins, fine covers the rest") {
    val (basePath, fineView, v) = setup()
    try {
      // also register a COARSER pre-rollup (by k1 only) on the same version
      val coarseView = scratch("mv_view_coarse")
      TableStore.overwrite(Ivm.aggregate(
        TableStore.readVersion(spark, basePath, Some(v)),
        Seq("k1"), Seq("v")), coarseView)
      MvCatalog.register(spark, basePath, v, coarseView, Seq("k1"), Seq("v"))
      // a k1-grouped query must route to the COARSE view...
      val byK1 = TableStore.readVersion(spark, basePath, Some(v))
        .groupBy("k1").agg(count(lit(1)).as("n_rows"), dsum(col("v")).as("total"))
      val d1 = scannedDirs(byK1)
      assert(d1.exists(_.startsWith(coarseView)) &&
        !d1.exists(_.startsWith(fineView)), s"dirs: $d1")
      // ...a (k1,k2) query only the fine view covers
      val byBoth = TableStore.readVersion(spark, basePath, Some(v))
        .groupBy("k1", "k2").agg(count(lit(1)).as("n_rows"))
      val d2 = scannedDirs(byBoth)
      assert(d2.exists(_.startsWith(fineView)) &&
        !d2.exists(_.startsWith(coarseView)), s"dirs: $d2")
      // ...and a min() query routes FINE even when grouped by k1 only
      // (the coarse view stores no extrema)
      val withMin = TableStore.readVersion(spark, basePath, Some(v))
        .groupBy("k1").agg(min("v").as("lo"))
      val d3 = scannedDirs(withMin)
      assert(d3.exists(_.startsWith(fineView)) &&
        !d3.exists(_.startsWith(coarseView)), s"dirs: $d3")
      // values agree with the direct recompute in every case
      MvCatalog.clear()
      val direct = TableStore.readVersion(spark, basePath, Some(v))
        .groupBy("k1").agg(count(lit(1)).as("n_rows"), dsum(col("v")).as("total"))
      assert(byK1.orderBy("k1").collect().toSeq ==
        direct.orderBy("k1").collect().toSeq)
    } finally MvCatalog.clear()
  }

  test("two routed aggregates in ONE plan get independent splices") {
    val (basePath, viewPath, v) = setup()
    try {
      // union + self-join of routed aggregates: each splice must take
      // fresh exprIds or the shared-lineage join is ambiguous
      val a1 = TableStore.readVersion(spark, basePath, Some(v))
        .groupBy("k1").agg(count(lit(1)).as("n_rows"))
      val a2 = TableStore.readVersion(spark, basePath, Some(v))
        .groupBy("k1").agg(dsum(col("v")).as("total"))
      val joined = a1.join(a2, Seq("k1")).orderBy("k1")
      val dirs = scannedDirs(joined)
      assert(dirs.count(_.startsWith(viewPath)) == 2, s"dirs: $dirs")
      val rows = joined.collect()
      assert(rows.length == 3)
      val unioned = a1.unionByName(a1).groupBy("k1")
        .agg(sum("n_rows").as("n2"))
      assert(scannedDirs(unioned).count(_.startsWith(viewPath)) == 2)
      assert(unioned.orderBy("k1").collect().map(_.getLong(1)).toSeq ==
        Seq(6L, 6L, 2L))
    } finally MvCatalog.clear()
  }

  test("downstream HAVING/sort over the routed aggregate still resolves") {
    val (basePath, viewPath, v) = setup()
    try {
      val routed = baseAgg(basePath, v)
        .filter(col("n_rows") > 1).orderBy(desc("total"))
      assert(scannedDirs(routed).exists(_.startsWith(viewPath)))
      val rows = routed.collect()
      assert(rows.map(_.getString(0)).toSeq == Seq("b", "a"))
    } finally MvCatalog.clear()
  }
}
