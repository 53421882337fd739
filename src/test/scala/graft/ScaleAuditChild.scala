package graft

import java.io.File

import ScaleAudit._

/** The child JVM of [[ScaleAuditSpec]]'s isolated-audit cases: an
  * isolating audit stops its sessions, which the suite's shared
  * session must not see. The spec sets `SPARK_LOCAL_DIRS` and
  * `java.io.tmpdir` to dirs of its own, so every `blockmgr-*` and
  * `graft_*` dir listed here is this process's.
  *
  * Modes (each prints `CHILD_DONE` on success):
  *   - `isolation <sfDir>`: one isolated row between a
  *     first and a last probe extra. Each probe, in its own session,
  *     lists the block-manager and Scratch dirs that exist and makes
  *     one Scratch dir; the last probe must see only its own, and
  *     nothing may be left once the audit returns.
  *   - `spot100 <small> <large> <out> <query>`: the `spot100` audit
  *     with its rows cut to `query`, its report written to `out`.
  */
object ScaleAuditChild {

  private def listed(dir: File, prefix: String): Set[String] =
    Option(dir.listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith(prefix)).toSet

  def main(args: Array[String]): Unit = args.toList match {
    case "isolation" :: sf :: Nil =>
      val local = new File(sys.env("SPARK_LOCAL_DIRS"))
      val tmp = new File(System.getProperty("java.io.tmpdir"))
      var seen = Map.empty[String, (Set[String], Set[String])]
      def probe(key: String, first: Boolean) = Extra(key, Nil, (on, _, _, _) => on { h =>
        h.spark.range(1000).repartition(4).count() // shuffle blocks on disk
        Scratch.dir(s"probe_$key")
        seen += key -> (listed(local, "blockmgr-"), listed(tmp, "graft_"))
        (Obj(), 0)
      }, first)
      val spec = Specs("spot100").copy(queries = Seq("i3_cdc_apply"), reps = 1,
        extras = Seq(probe("first", first = true), probe("last", first = false)))
      val code = audit(None, spec, sf, sf, new File(tmp, "report.json").toString)
      require(code == 0, s"audit exit $code")
      val (bmFirst, scratchFirst) = seen("first")
      val (bmLast, scratchLast) = seen("last")
      require(bmFirst.size == 1 && scratchFirst.size == 1,
        s"first probe: $bmFirst $scratchFirst")
      require(bmLast.size == 1 && (bmLast & bmFirst).isEmpty,
        s"block-manager dirs left by earlier sessions: $bmFirst then $bmLast")
      require(scratchLast.size == 1 && scratchLast.head.startsWith("graft_probe_last"),
        s"Scratch dirs left by earlier sessions: $scratchLast")
      val left = listed(local, "blockmgr-") ++ listed(tmp, "graft_")
      require(left.isEmpty, s"left after the audit: $left")
      println("CHILD_DONE")

    case "spot100" :: small :: large :: out :: query :: Nil =>
      audit(None, Specs("spot100").copy(queries = Seq(query)), small, large, out)
      println("CHILD_DONE")

    case other => sys.error(s"usage: isolation|spot100 ...; got: $other")
  }
}
