package graft.operators

import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}

/** Branch/merge semantics beyond s35's oracle row: the zero-copy
  * fork invariant, read-through before any branch write, the
  * rebase-and-retry loop after a lost merge, and fork-time guards.
  */
class BranchSpec extends SparkSpec {

  private def tmp(name: String): String = Scratch.table(name)

  test("fork writes only the marker and reads through to parent@base") {
    import spark.implicits._
    val parent = tmp("br_parent")
    val branch = tmp("br_branch")
    TableStore.publishVersion(spark, parent,
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), "base")
    val base = TableStore.branchCreate(spark, parent, branch)
    // zero-copy: the branch dir holds exactly one file (the marker)
    val files = new java.io.File(branch).listFiles()
    assert(files.length == 1 && files.head.getName == "_branch_base",
      files.map(_.getName).mkString(","))
    // read-through: unwritten branch == parent@base, even after the
    // parent advances
    TableStore.publishVersion(spark, parent,
      Seq((9L, "z")).toDF("k", "s"), "later")
    assert(TableStore.readBranch(spark, branch).count() == 2)
    assert(base == 1L)
  }

  test("lost merge rebases from the new tip and retries clean") {
    import spark.implicits._
    val parent = tmp("br_race_parent")
    val b1 = tmp("br_race_b1")
    val b2 = tmp("br_race_b2")
    TableStore.publishVersion(spark, parent,
      Seq((1L, 10.0)).toDF("k", "x"), "base")
    TableStore.branchCreate(spark, parent, b1)
    TableStore.branchCreate(spark, parent, b2)
    TableStore.publishVersion(spark, b1,
      TableStore.readBranch(spark, b1)
        .unionByName(Seq((2L, 20.0)).toDF("k", "x")), "w1")
    TableStore.publishVersion(spark, b2,
      TableStore.readBranch(spark, b2)
        .unionByName(Seq((3L, 30.0)).toDF("k", "x")), "w2")
    TableStore.branchMerge(spark, b1)
    intercept[TableStore.ConcurrentVersionException] {
      TableStore.branchMerge(spark, b2)
    }
    // rebase: re-fork from the new tip, replay the branch delta, merge
    val b2r = tmp("br_race_b2r")
    TableStore.branchCreate(spark, parent, b2r)
    TableStore.publishVersion(spark, b2r,
      TableStore.readBranch(spark, b2r)
        .unionByName(Seq((3L, 30.0)).toDF("k", "x")), "w2-rebased")
    TableStore.branchMerge(spark, b2r)
    val ks = TableStore.readVersion(spark, parent)
      .select("k").as[Long].collect().sorted.toSeq
    assert(ks == Seq(1L, 2L, 3L))
    // merge notes record provenance
    val notes = TableStore.committedVersions(spark, parent)
      .flatMap(v => TableStore.versionNote(spark, parent, v))
    assert(notes.count(_.startsWith("merge:")) == 2, notes.mkString(","))
  }

  test("double fork of the same branch path fails loudly") {
    import spark.implicits._
    val parent = tmp("br_dup_parent")
    val branch = tmp("br_dup_branch")
    TableStore.publishVersion(spark, parent, Seq(1L).toDF("k"), "base")
    TableStore.branchCreate(spark, parent, branch)
    val e = intercept[RuntimeException] {
      TableStore.branchCreate(spark, parent, branch)
    }
    assert(e.getMessage.contains("already exists"))
  }

  test("fork from an uncommitted version is rejected") {
    import spark.implicits._
    val parent = tmp("br_bad_parent")
    TableStore.publishVersion(spark, parent, Seq(1L).toDF("k"), "base")
    val e = intercept[IllegalArgumentException] {
      TableStore.branchCreate(spark, parent, tmp("br_bad_b"), Some(99L))
    }
    assert(e.getMessage.contains("not committed"))
  }
}
