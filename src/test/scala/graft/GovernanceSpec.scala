package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.operators.TableStore

/** Driver-side semantics of the governance/serving-index family that
  * the DuckDB oracle cannot see: the inverted index's partition
  * pruning (t37 reads only its terms' directories), j18's no-nested-
  * loop plan shape, the signed postings retraction (i9/c18), and
  * a23's zero-drift fixed point.
  */
class GovernanceSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("t37: conjunctive query scans only its terms' index partitions") {
    val tmp = Scratch.dir("t37spec")
    val path = s"$tmp/postings"
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    docs.select(col("doc_id"),
        explode(array_distinct(split(lower(col("text")), " "))).as("term"))
      .filter(col("term") =!= "")
      .withColumn("tb", substring(col("term"), 1, 1))
      .write.mode("overwrite").partitionBy("tb").parquet(path)
    val full = spark.read.parquet(path)
    val nAll = full.select("tb").distinct().count()
    assert(nAll > 10, s"vocabulary spans $nAll first letters; spec needs spread")
    val q = full.filter(col("tb").isin("d", "v", "k") &&
      col("term").isin("dup", "vector", "key"))
    val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f
    }.getOrElse(fail("no file scan in plan"))
    // directory pruning: ≤3 of the 20+ letter partitions are listed
    assert(scan.selectedPartitions.partitionCount <= 3,
      s"expected ≤3 pruned partitions, scanned ${scan.selectedPartitions.partitionCount} of $nAll")
    Scratch.remove(tmp.toFile)
  }

  test("j18: grid-cell point-in-interval join plans no nested loop") {
    val df = SparkEntry.queries("j18_point_in_range")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    // the candidate join itself is a hash join on the grid cell; the
    // only BNLJs are the HINTED 1-row broadcast cross joins carrying
    // the density-derived half-width scalar (the k19/e1 convention:
    // one row, zero movement)
    assert(p.contains("BroadcastHashJoin"), p)
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 2, s"unexpected nested loops ($bnlj):\n$p")
  }

  test("signed postings retraction zeroes a doc's terms and filter drops them") {
    import spark.implicits._
    val tmp = Scratch.dir("i9spec")
    val path = s"$tmp/p"
    val postings = Seq((1L, "alpha"), (1L, "beta"), (2L, "beta"))
      .toDF("doc_id", "term")
    TableStore.publishFoldSnapshotDistinct(spark, path, postings, "full")
    TableStore.publishFoldDelta(spark, path,
      postings.filter(col("doc_id") === 1L).withColumn("_mult", lit(-1L)),
      "forget")
    val df = TableStore.readFoldedUnion(spark, path)
      .groupBy("term").agg(sum(col("_mult")).as("df"))
    // net multiplicity never goes negative for a single retraction of
    // present rows, and zeroed terms vanish behind the df > 0 filter
    assert(df.filter(col("df") < 0).isEmpty)
    val live = df.filter(col("df") > 0).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(live == Map("beta" -> 1L))
    Scratch.remove(tmp.toFile)
  }

  test("a23: PSI of two identical snapshots is exactly zero per bin") {
    // p1 == p2 in every bin → ln(1) == 0 exactly in IEEE; the whole
    // monitor reads 0.0 with no tolerance needed
    val o = Tables.load(spark, sfDir, "orders")
      .select(col("o_totalprice").as("p"))
    val binned = o.select(least(floor(col("p") / 50000.0).cast("bigint"),
        lit(11L)).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
    val d = o.count().toDouble + 6.0
    val prob = (col("n").cast("double") + 0.5) / lit(d)
    val psi = binned
      .select(((prob - prob) * log(prob / prob)).as("contrib"))
      .agg(sum("contrib")).head().getDouble(0)
    assert(psi == 0.0)
  }
}
