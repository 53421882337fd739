package graft

import org.apache.spark.sql.SparkSession

/** The one local session factory every main builds on: `local[cpus]`
  * with shuffle partitions = cpus, UTC, ANSI off, the legacy parquet
  * `nanosAsLong` flag (older testdata stores `events.ts` as
  * TIMESTAMP(NANOS); see [[Tables.normalizeTs]]), AQE on, no UI, ERROR
  * log level and graft's native functions registered. A conf only one
  * main needs stays at that main's call site.
  */
object Session {

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  /** The bench slot count: `SPARK_GRAFT_CPUS`, default 32. */
  def benchCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
}
