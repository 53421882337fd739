package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, TestSpark}
import graft.operators.TransformDag.{Node, topoOrder}

class TransformDagSpec extends SparkSpec {

  private def df(n: Int) = {
    import TestSpark.spark.implicits._
    (1 to n).toDF("x")
  }

  test("runs nodes in dependency order, each once") {
    var builds = List.empty[String]
    val nodes = Seq(
      Node("c", Seq("a", "b"), ins => { builds ::= "c"; ins("a").union(ins("b")) }),
      Node("a", Nil, _ => { builds ::= "a"; df(2) }),
      Node("b", Seq("a"), ins => { builds ::= "b"; ins("a") }))
    val out = TransformDag.run(nodes)
    assert(out("c").count() == 4)
    assert(builds.reverse == List("a", "b", "c"))
  }

  test("sources can be injected; unknown refs rejected") {
    val nodes = Seq(Node("t", Seq("src"), ins => ins("src")))
    assert(TransformDag.run(nodes, Map("src" -> df(3)))("t").count() == 3)
    intercept[IllegalArgumentException] { TransformDag.run(nodes) }
  }

  test("cycles rejected") {
    val nodes = Seq(
      Node("a", Seq("b"), ins => ins("b")),
      Node("b", Seq("a"), ins => ins("a")))
    intercept[IllegalArgumentException] { TransformDag.run(nodes) }
  }

  test("topoOrder puts dependencies first") {
    val nodes = Seq(
      Node("z", Seq("y"), ins => ins("y")),
      Node("y", Nil, _ => df(1)))
    assert(topoOrder(nodes) == Seq("y", "z"))
  }

  // "base" feeds two dependents, which both feed "top"
  private def diamond(base: => DataFrame) = Seq(
    Node("base", Nil, _ => base),
    Node("evens", Seq("base"), ins => ins("base").filter(col("x") % 2 === 0)),
    Node("tens", Seq("base"), ins => ins("base").withColumn("x", col("x") * 10)),
    Node("top", Seq("evens", "tens"), ins => ins("evens").unionByName(ins("tens"))))

  private def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  test("a node two nodes read runs its body's rows once") {
    import TestSpark.spark.implicits._
    val seen = spark.sparkContext.longAccumulator("base rows")
    val out = TransformDag.run(diamond(
      spark.range(1, 101).as[Long].map { x => seen.add(1); x }.toDF("x")))
    Seq("evens", "tens", "top", "base").foreach(n =>
      out(n).write.format("noop").mode("overwrite").save())
    assert(seen.value == 100L)
  }

  test("outputs equal the lazy build of the same transforms") {
    val out = TransformDag.run(diamond(df(50)))
    val base = df(50)
    val evens = base.filter(col("x") % 2 === 0)
    val tens = base.withColumn("x", col("x") * 10)
    val lazyBuild = Map("base" -> base, "evens" -> evens, "tens" -> tens,
      "top" -> evens.unionByName(tens))
    for ((n, want) <- lazyBuild) assert(rows(out(n)) == rows(want), n)
  }

  test("no persisted RDD outlives the result") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def runAndRead(): Set[Int] = {
      val out = TransformDag.run(diamond(df(40)))
      assert(out("top").count() == 60L)
      sc.getPersistentRDDs.keySet.diff(before).toSet
    }
    val pinned = runAndRead()
    assert(pinned.nonEmpty, "the shared nodes were not pinned")
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (sc.getPersistentRDDs.keySet.exists(pinned) && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    val left = sc.getPersistentRDDs.keySet.intersect(pinned)
    assert(left.isEmpty, s"persisted RDDs $left outlived the DAG's frames")
  }
}
