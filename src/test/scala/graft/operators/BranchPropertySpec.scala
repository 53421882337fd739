package graft.operators

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.{Scratch, SparkSpec}

/** Randomized branch/merge scripts replayed against an in-memory
  * model: forks from the current tip, writes on live branches, and
  * merge attempts in random order. The model predicts exactly which
  * merges fast-forward (branch base == parent tip at merge time) and
  * which conflict; after every script the parent's content must equal
  * the model's, and every conflicted branch must still merge cleanly
  * after a rebase — the optimistic-concurrency loop holds under any
  * interleaving, not just the s35/BranchSpec choreography.
  */
class BranchPropertySpec extends SparkSpec {

  private case class B(path: String, base: Long, adds: Set[Long])

  test("random fork/write/merge scripts match the model (seeded)") {
    import spark.implicits._
    val rnd = new Random(4242)
    for (script <- 1 to 4) {
      val root = Scratch.dir(s"brprop$script")
      val parent = s"$root/parent"
      var model = Set(0L)
      TableStore.publishVersion(spark, parent, Seq(0L).toDF("k"), "base")
      var nextId = 1L
      var live = List.empty[B]
      var nBranch = 0
      for (_ <- 1 to 10) rnd.nextInt(3) match {
        case 0 => // fork from the current tip
          nBranch += 1
          val bp = s"$root/b$nBranch"
          val base = TableStore.branchCreate(spark, parent, bp)
          live ::= B(bp, base, Set.empty)
        case 1 if live.nonEmpty => // write on a random live branch
          val i = rnd.nextInt(live.size)
          val b = live(i)
          val k = nextId; nextId += 1
          TableStore.publishVersion(spark, b.path,
            TableStore.readBranch(spark, b.path)
              .unionByName(Seq(k).toDF("k")), s"w$k")
          live = live.updated(i, b.copy(adds = b.adds + k))
        case _ if live.nonEmpty => // merge a random live branch
          val i = rnd.nextInt(live.size)
          val b = live(i)
          live = live.patch(i, Nil, 1)
          val tip = TableStore.currentVersion(spark, parent).get
          if (tip == b.base) {
            TableStore.branchMerge(spark, b.path)
            model ++= b.adds
          } else {
            // the model says this merge MUST conflict
            intercept[TableStore.ConcurrentVersionException] {
              TableStore.branchMerge(spark, b.path)
            }
            // rebase: re-fork from the new tip, replay the adds, merge
            nBranch += 1
            val rp = s"$root/r$nBranch"
            TableStore.branchCreate(spark, parent, rp)
            if (b.adds.nonEmpty)
              TableStore.publishVersion(spark, rp,
                TableStore.readBranch(spark, rp)
                  .unionByName(b.adds.toSeq.toDF("k")), "rebase"): Unit
            TableStore.branchMerge(spark, rp)
            model ++= b.adds
          }
        case _ => ()
      }
      val got = TableStore.readVersion(spark, parent)
        .select("k").as[Long].collect().toSet
      assert(got == model, s"script $script: parent $got != model $model")
      Scratch.remove(root.toFile)
    }
  }
}
