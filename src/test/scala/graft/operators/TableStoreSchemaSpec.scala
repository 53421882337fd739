package graft.operators

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import graft.{Scratch, SparkSpec}

/** `TableStore.read` / `readVersion` take the schema from a footer on
  * the driver: the same schema as Spark's own inference, no Spark job,
  * and Spark's behaviour wherever the footer cannot answer.
  */
class TableStoreSchemaSpec extends SparkSpec with BeforeAndAfterAll {

  private val dirs = scala.collection.mutable.ListBuffer[java.io.File]()
  override def afterAll(): Unit = dirs.foreach(Scratch.remove)

  private def tmp(): String = {
    val d = Scratch.dir("schema").toFile
    dirs += d
    s"${d.getPath}/t"
  }

  private def rows(n: Int): DataFrame =
    spark.range(n).select(col("id"), (col("id") % 3).as("k"),
      concat(lit("name-"), col("id").cast("string")).as("name"),
      array(col("id"), col("id") + 1).as("ids"),
      struct(col("id").as("a"), (col("id") * 0.5).as("b")).as("s"))

  /** Runs `read` in its own job group and returns its result and the
    * number of Spark jobs it launched. */
  private def jobsOf[T](read: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"schema-read-${System.nanoTime()}"
    sc.setJobGroup(group, "table reads", interruptOnCancel = false)
    val out = try {
      val r = read
      // a sentinel job: the status store sees jobs in start order, so
      // once it shows the sentinel it shows any job the read started
      sc.parallelize(Seq(1), 1).count()
      r
    } finally sc.clearJobGroup()
    eventually(timeout(Span(30, Seconds))) {
      assert(sc.statusTracker.getJobIdsForGroup(group).nonEmpty)
    }
    (out, sc.statusTracker.getJobIdsForGroup(group).length - 1)
  }

  private def sameAsSpark(read: => DataFrame, paths: String*): Unit = {
    val (df, jobs) = jobsOf(read)
    assert(jobs == 0, s"the read launched $jobs Spark job(s)")
    assert(df.schema == spark.read.parquet(paths: _*).schema)
    assert(df.count() == spark.read.parquet(paths: _*).count())
  }

  test("a plain directory") {
    val p = tmp()
    rows(20).repartition(3).write.parquet(p)
    sameAsSpark(TableStore.read(spark, p), p)
  }

  test("an appended directory, columns reordered between writes") {
    val p = tmp()
    rows(10).write.parquet(p)
    for (i <- 1 to 3) {
      val df = rows(5 * i)
      df.select(df.columns.reverse.toSeq.map(col): _*).write.mode("append").parquet(p)
    }
    sameAsSpark(TableStore.read(spark, p), p)
  }

  test("a partitionBy directory") {
    val p = tmp()
    rows(30).write.partitionBy("k").parquet(p)
    sameAsSpark(TableStore.read(spark, p), p)
    assert(TableStore.read(spark, p).columns.last == "k")
  }

  test("the schema-only file of an empty published version") {
    val p = tmp()
    val v = TableStore.publishVersion(spark, p, rows(0))
    val dirs = TableStore.snapshotDataDirs(spark, p, Some(v))
    sameAsSpark(TableStore.readVersion(spark, p, Some(v)), dirs: _*)
    assert(TableStore.readVersion(spark, p).count() == 0L)
  }

  test("an append chain") {
    val p = tmp()
    TableStore.publishVersion(spark, p, rows(10))
    // appends must match the parent's (nullable) read types exactly
    val df = TableStore.readVersion(spark, p).filter(col("id") < 4)
    TableStore.publishVersionAppend(spark, p, df)
    val v = TableStore.publishVersionAppend(spark, p,
      df.select(df.columns.reverse.toSeq.map(col): _*))
    val dirs = TableStore.snapshotDataDirs(spark, p, Some(v))
    assert(dirs.size == 3)
    sameAsSpark(TableStore.readVersion(spark, p, Some(v)), dirs: _*)
    sameAsSpark(TableStore.readVersion(spark, p), dirs: _*)
  }

  test("an append built in memory passes the type check; real drift fails it") {
    val p = tmp()
    TableStore.publishVersion(spark, p, rows(10))
    // array and struct columns built from spark.range carry
    // non-nullable nested types; the parent's read types never do
    val fresh = rows(4)
    assert(!fresh.schema("ids").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .containsNull)
    val v = TableStore.publishVersionAppend(spark, p, fresh)
    assert(TableStore.readVersion(spark, p, Some(v)).count() == 14L)
    val drift = intercept[IllegalArgumentException] {
      TableStore.publishVersionAppend(spark, p,
        rows(2).withColumn("id", col("id").cast("int")))
    }
    assert(drift.getMessage.contains("type drift") &&
      drift.getMessage.contains("id: int vs parent bigint"), drift.getMessage)
    val nested = intercept[IllegalArgumentException] {
      TableStore.publishVersionAppend(spark, p,
        rows(2).withColumn("ids", array(col("id").cast("int"))))
    }
    assert(nested.getMessage.contains("ids: array<int> vs parent array<bigint>"),
      nested.getMessage)
    assert(TableStore.readVersion(spark, p).count() == 14L)
  }

  test("a parquet file without Spark's schema reads as Spark reads it") {
    val p = tmp()
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary name (UTF8); optional int32 n; }")
    val w = ExampleParquetWriter.builder(new Path(s"$p/part-0.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val groups = new SimpleGroupFactory(schema)
    try (1 to 5).foreach(i => w.write(groups.newGroup().append("id", i.toLong)
      .append("name", s"n$i").append("n", i)))
    finally w.close()
    val df = TableStore.read(spark, p)
    assert(df.schema == spark.read.parquet(p).schema)
    assert(df.schema.fieldNames.toSeq == Seq("id", "name", "n"))
    assert(df.agg(sum("n")).head().getLong(0) == 15L)
  }

  test("with mergeSchema on, the read merges every file's schema") {
    val p = tmp()
    rows(5).write.parquet(p)
    rows(5).withColumn("extra", lit(1)).write.mode("append").parquet(p)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      val df = TableStore.read(spark, p)
      assert(df.schema == spark.read.parquet(p).schema)
      assert(df.columns.contains("extra"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("a missing path and a directory without data fail as Spark fails") {
    def failure(read: => DataFrame): (Class[_], String) = {
      val e = intercept[Exception](read)
      (e.getClass, e.getMessage)
    }
    val missing = tmp()
    assert(failure(TableStore.read(spark, missing)) == failure(spark.read.parquet(missing)))
    val empty = tmp()
    Files.createDirectories(java.nio.file.Paths.get(empty))
    Files.write(java.nio.file.Paths.get(empty, "_SUCCESS"), Array.emptyByteArray)
    assert(failure(TableStore.read(spark, empty)) == failure(spark.read.parquet(empty)))
  }
}
