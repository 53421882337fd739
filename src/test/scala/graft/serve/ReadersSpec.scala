package graft.serve

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Serving-read contract (readers/games.py semantics, SURVEY §3.3):
  * point lookups, precomputed vs live similarity, metric allow-list,
  * and the driver-side index behind the point reads.
  */
class ReadersSpec extends SparkSpec {

  private lazy val readers = Readers.build(spark, "/root/testdata/sf0.001", k = 5)

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    .withColumn("v", expr("transform(embedding, x_ -> double(x_))"))
    .select("vec_id", "label", "v")

  test("point lookup returns the row, missing id returns None") {
    assert(readers.profile(0L).isDefined)
    assert(readers.profile(99999999L).isEmpty)
  }

  test("precomputed neighbors: k ordered ascending by distance") {
    val row = readers.similarPrecomputed(0L).get
    val similar = row.getSeq[Row](row.fieldIndex("similar"))
    assert(similar.nonEmpty && similar.length <= 5)
    val dists = similar.map(_.getDouble(1))
    assert(dists == dists.sorted)
  }

  test("live similarity: top-k, query vector excluded, deterministic") {
    val top = readers.similarLive(0L, "COSINE", 3).collect()
    assert(top.length == 3)
    assert(!top.map(_.getLong(0)).contains(0L))
    val again = readers.similarLive(0L, "COSINE", 3).collect()
    assert(top.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("document composes profile + neighbors; missing id -> None") {
    val doc = readers.document(0L).get
    assert(doc.contains("vec_id") && doc.contains("similar"))
    assert(doc("similar").asInstanceOf[Seq[_]].nonEmpty)
    assert(readers.document(99999999L).isEmpty)
  }

  test("document == the Spark filter+collect composition for every sf0.001 vec_id") {
    // the point reads before the driver-side index: a filtered
    // collect per lookup on each frame, composed as document() does
    val prof = emb.select("vec_id", "label").cache()
    val neigh = Neighbors.precompute(emb, 5).cache()
    val r = new Readers(spark, prof, neigh, emb)
    // 1,000 small jobs: four at a time keep the test short
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      def lookup(df: DataFrame, id: Long) =
        df.filter(col("vec_id") === id).limit(1).collect().headOption
      val ids = prof.select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(ids.length == 500)
      val wants = Await.result(Future.traverse(ids)(id => Future(lookup(prof, id).map { row =>
        row.schema.fieldNames.zip(row.toSeq).toMap + ("similar" ->
          lookup(neigh, id).map(n => n.getSeq[Row](n.fieldIndex("similar"))).getOrElse(Seq.empty))
      })), 10.minutes)
      for ((id, want) <- ids.zip(wants)) assert(r.document(id) == want, s"vec_id $id")
    } finally {
      pool.shutdown(); r.close(); prof.unpersist(); neigh.unpersist()
    }
  }

  test("after the first read, document calls start no Spark job") {
    val sc = spark.sparkContext
    readers.document(0L) // builds the index
    val group = s"readers-index-${System.nanoTime()}"
    sc.setJobGroup(group, "doc reads", interruptOnCancel = false)
    try {
      (0L until 50L).foreach(id => assert(readers.document(id).isDefined))
      // a sentinel job: the status store sees jobs in start order, so
      // once it shows the sentinel it shows any job the reads started
      sc.parallelize(Seq(1), 1).count()
    } finally sc.clearJobGroup()
    eventually(timeout(Span(30, Seconds))) {
      assert(sc.statusTracker.getJobIdsForGroup(group).nonEmpty)
    }
    val jobs = sc.statusTracker.getJobIdsForGroup(group)
    assert(jobs.length == 1, s"50 doc reads started ${jobs.length - 1} Spark job(s)")
  }

  test("an unknown id reads as None on every point read") {
    for (id <- Seq(-1L, 500L, 99999999L, Long.MaxValue)) {
      assert(readers.profile(id).isEmpty)
      assert(readers.similarPrecomputed(id).isEmpty)
      assert(readers.document(id).isEmpty)
    }
  }

  test("a duplicate vec_id in either frame fails the index build, naming the key") {
    val prof = emb.select("vec_id", "label")
    val neigh = Neighbors.precompute(emb, 5)
    // vec_id 0 has a neighbors row (the precomputed-neighbors test)
    def dup(df: DataFrame) = df.unionByName(df.filter(col("vec_id") === 0L))
    val dupProfiles = new Readers(spark, dup(prof), neigh, emb)
    val e1 = intercept[IllegalStateException](dupProfiles.document(0L))
    assert(e1.getMessage.contains("profiles") && e1.getMessage.contains("vec_id 0;"), e1.getMessage)
    val dupNeighbors = new Readers(spark, prof, dup(neigh), emb)
    val e2 = intercept[IllegalStateException](dupNeighbors.similarPrecomputed(0L))
    assert(e2.getMessage.contains("neighbors") && e2.getMessage.contains("vec_id 0;"), e2.getMessage)
    dupProfiles.close(); dupNeighbors.close()
  }

  test("metric allow-list rejects unknown metrics") {
    intercept[IllegalArgumentException] {
      readers.similarLive(0L, "MANHATTAN", 3)
    }
  }

  test("live euclidean and dot-product paths work") {
    assert(readers.similarLive(0L, "EUCLIDEAN", 2).collect().length == 2)
    assert(readers.similarLive(0L, "DOT_PRODUCT", 2).collect().length == 2)
  }
}
