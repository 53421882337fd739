package graft

/** Dev utility: run ad-hoc SQL against the test tables.
  * Usage: tools/run.sh graft.Sql <sfDir> "<sql>"
  */
object Sql {
  def main(args: Array[String]): Unit = {
    // full extensions path: native functions + the band-join rule (a
    // static conf, so it must be in place before the session exists)
    sys.props("spark.sql.extensions") = "graft.functions.GraftExtensions"
    val spark = Session.local(4)
    Tables.registerAll(spark, args(0))
    args.drop(1).foreach(sql => spark.sql(sql).show(50, truncate = false))
    spark.stop()
  }
}
