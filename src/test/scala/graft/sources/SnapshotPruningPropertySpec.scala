package graft.sources

import java.nio.file.Files

import graft.{Scratch, SparkSpec, TestSpark}
import graft.operators.TableStore
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import scala.util.Random

/** Property gate for the graft-table FileIndex pruning: for a fuzzed
  * predicate population over an indexed, z-clustered table, the pruned
  * scan's result must equal the unpruned scan's — wrong pruning is the
  * worst failure mode a skipping index can have (silently missing
  * rows), so it gets a randomized gate, not just the handful of
  * hand-picked predicates in TableSnapshotSourceSpec. The spec also
  * asserts the index is NOT vacuous: across the population the source
  * must have actually skipped files, or the property passes trivially
  * with keep-all.
  */
class SnapshotPruningPropertySpec extends SparkSpec {

  private val rnd = new Random(20260815L)
  private val N = 4096L

  private lazy val path: String = {
    val p = Scratch.table("prune_prop")
    val df = spark.range(0, N).select(
      col("id").as("a"),
      ((col("id") * 2654435761L) % N).as("b"),
      concat(lit("s"), lpad((col("id") % 97).cast("string"), 2, "0")).as("s"))
    df.write.format("graft-table")
      .option("zorderBy", "a,b,12,16")
      .option("indexColumns", "a,b,s")
      .mode("overwrite").save(p)
    p
  }

  private def leaf(): Column = rnd.nextInt(11) match {
    case 0 => col("a") === rnd.nextLong(N)
    case 1 => col("a") < rnd.nextLong(N)
    case 2 => col("a") > rnd.nextLong(N)
    case 3 => col("a") <= rnd.nextLong(N)
    case 4 => col("b") >= rnd.nextLong(N)
    case 5 => col("b") === rnd.nextLong(N)
    case 6 => col("a").isin(Seq.fill(3)(rnd.nextLong(N)): _*)
    case 7 => col("s") === f"s${rnd.nextInt(97)}%02d"
    case 8 => col("a") =!= rnd.nextLong(N)
    case 9 => col("s").startsWith("s" + rnd.nextInt(10))
    case 10 => if (rnd.nextBoolean()) col("s").isNotNull else col("s").isNull
  }

  private def pred(depth: Int): Column =
    if (depth == 0) leaf()
    else rnd.nextInt(3) match {
      case 0 => pred(depth - 1) && pred(depth - 1)
      case 1 => pred(depth - 1) || pred(depth - 1)
      case 2 => leaf()
    }

  private def checksum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(col("a") * 7 + col("b") * 3 + length(col("s"))), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  private def filesScanned(df: DataFrame): Long = {
    df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f.metrics("numFiles").value
    }.sum
  }

  test("100 fuzzed predicates: pruned source read == unpruned read; pruning non-vacuous") {
    val dirs = TableStore.snapshotDataDirs(spark, path, None)
    val unpruned = spark.read.parquet(dirs: _*)
    val source = spark.read.format("graft-table").load(path)
    val totalFiles = unpruned.inputFiles.length.toLong
    var scannedTotal = 0L
    var checked = 0
    (1 to 100).foreach { i =>
      val p = pred(2)
      val viaSource = source.filter(p)
      val expect = checksum(unpruned.filter(p))
      val got = checksum(viaSource)
      assert(got == expect, s"predicate #$i diverged under pruning: $p")
      // collect() above (inside checksum agg head) already executed;
      // read the scan metric off the same frame's physical plan
      viaSource.collect()
      scannedTotal += filesScanned(viaSource)
      checked += 1
    }
    assert(scannedTotal < checked * totalFiles,
      s"pruning is vacuous: every one of $checked predicates scanned " +
        s"all $totalFiles files")
  }
}
