package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

package object queries {

  /** A catalog entry: a named DataFrame-producing query over the
    * scale-factor directory, plus (when SQL-expressible) the equivalent
    * ANSI SQL the DuckDB oracle runs on the same parquet tables.
    */
  final case class Q(
      name: String,
      doc: String,
      run: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  object Q {
    def apply(name: String, doc: String, oracle: String)(
        run: (SparkSession, String) => DataFrame): Q =
      Q(name, doc, run, Some(oracle))
    // no `noOracle` constructor: CatalogContractSpec holds the line
    // that every query ships an oracle — nondeterministic ops state a
    // STRUCTURAL oracle instead (see f16_uuid)
  }

  /** Deterministic cross-engine double sum: casting to decimal before
    * summing makes the aggregate independent of partial-aggregation
    * order (plain double sums differ in low-order bits between Spark
    * and DuckDB because addition order differs). Casting the exact
    * decimal total back to double is itself deterministic, so both
    * engines produce bit-identical doubles. At scale this is also the
    * honest answer for money columns: decimal partials are exact and
    * still map-side combinable.
    */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(30, scale))).cast(DoubleType)

  /** Oracle-side twin of [[dsum]]. */
  def dsumSql(expr: String, scale: Int = 2): String =
    s"cast(sum(cast($expr as decimal(30,$scale))) as double)"

  /** Deterministic average: exact decimal sum divided by count in
    * double space (one IEEE division — identical in both engines).
    */
  def davg(c: Column, scale: Int = 2): Column =
    (sum(c.cast(DecimalType(30, scale))).cast(DoubleType) /
      count(c).cast(DoubleType))

  def davgSql(expr: String, scale: Int = 2): String =
    s"(cast(sum(cast($expr as decimal(30,$scale))) as double) / cast(count($expr) as double))"

  /** The adversarial orders edit script the IVM queries share, over
    * (o_orderkey, o_custkey, o_totalprice): it deletes o_orderkey % 7,
    * moves % 17 to the next customer (a group-moving update), doubles
    * % 11's price and inserts every % 13 order again at price + 1000.
    * Inserted rows take NEGATED keys: TPC-H keys are >= 1, so -k never
    * collides with a real key at any scale factor (a fixed +offset
    * would once keys exceed it, breaking the key uniqueness a keyed
    * changelog diff needs).
    */
  def editOrders(o: DataFrame): DataFrame =
    o.filter(col("o_orderkey") % 7 =!= 0)
      .withColumn("o_custkey", when(col("o_orderkey") % 17 === 0,
        col("o_custkey") + 1).otherwise(col("o_custkey")))
      .withColumn("o_totalprice", when(col("o_orderkey") % 11 === 0,
        col("o_totalprice") * 2).otherwise(col("o_totalprice")))
      .unionByName(o.filter(col("o_orderkey") % 13 === 0)
        .select((-col("o_orderkey")).as("o_orderkey"),
          col("o_custkey"), (col("o_totalprice") + 1000).as("o_totalprice")))

  /** i4's lineitem edit script, over (o_orderkey, l_linenumber,
    * l_extendedprice) with one row per key: it deletes
    * (o_orderkey + l_linenumber) % 6, adds 100 to % 9's price and
    * inserts every o_orderkey % 13 line again at l_linenumber + 100.
    */
  def editLineitem(b: DataFrame): DataFrame = {
    val k = col("o_orderkey") + col("l_linenumber")
    b.filter(k % 6 =!= 0)
      .withColumn("l_extendedprice", when(k % 9 === 0,
        col("l_extendedprice") + 100).otherwise(col("l_extendedprice")))
      .unionByName(b.filter(col("o_orderkey") % 13 === 0)
        .select(col("o_orderkey"), (col("l_linenumber") + 100).as("l_linenumber"),
          col("l_extendedprice")))
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)
}
