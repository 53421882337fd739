package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Topologically-executed DAG of named DataFrame transforms — the
  * Dataform model graph (SURVEY §3.2: compile → plan → execute,
  * lineage in docs/lineage.md) as a library. Each node sees the
  * outputs of its dependencies (and the sources); the runner resolves
  * order, rejects cycles and missing refs, and runs every node exactly
  * once, each as soon as its dependencies are built.
  *
  * A node another node reads is computed once: its frame is a lazy
  * local checkpoint, so the first action over it stores its rows and
  * every later reader reads them instead of re-running its lineage
  * (with AQE on, the node's shuffle stages run while `run` builds it).
  * The stored blocks are released by Spark's ContextCleaner once the
  * returned frames are unreachable. A node no other node reads stays a
  * plain lazy frame; no action is triggered unless a node itself
  * materializes (the incremental sinks in [[TableStore]] do, mirroring
  * per-model jobs). Nodes build on pool threads under the caller's job
  * group and description ([[CallerJobs]]).
  */
object TransformDag {

  final case class Node(name: String, deps: Seq[String],
      build: Map[String, DataFrame] => DataFrame)

  /** Returns every node's output, keyed by name. */
  def run(nodes: Seq[Node], sources: Map[String, DataFrame] = Map.empty): Map[String, DataFrame] = {
    val byName = nodes.map(n => n.name -> n).toMap
    require(byName.size == nodes.size, "duplicate node names")
    val shared = nodes.flatMap(_.deps).toSet
    shared.find(d => !byName.contains(d) && !sources.contains(d))
      .foreach(d => throw new IllegalArgumentException(s"unknown ref: $d"))
    val order = topoOrder(nodes).filterNot(sources.contains)
    val sc = SparkSession.active.sparkContext
    // every node starts once its dependencies are built, so independent
    // nodes (and their pinned shuffle stages) build side by side
    val built = scala.collection.mutable.Map[String, CallerJobs.Fork[DataFrame]]()
    order.foreach { name =>
      val node = byName(name)
      val deps = node.deps.filterNot(sources.contains).map(d => d -> built(d))
      built(name) = CallerJobs.fork(sc, deps.map(_._2)) {
        val out = node.build(sources ++ deps.map { case (d, f) => d -> f.result })
        if (shared(name)) out.localCheckpoint(eager = false) else out
      }
    }
    // a failed node fails only after every other node has stopped
    CallerJobs.awaitAll(order.map(built): _*)
    sources ++ order.map(n => n -> built(n).result)
  }

  /** Dependency-ordered node names (for reporting / dry runs). */
  def topoOrder(nodes: Seq[Node]): Seq[String] = {
    val order = scala.collection.mutable.ListBuffer[String]()
    val seen = scala.collection.mutable.Set[String]()
    val byName = nodes.map(n => n.name -> n).toMap
    def visit(name: String, stack: Set[String]): Unit =
      if (!seen(name)) {
        require(!stack(name), s"cycle through $name")
        byName.get(name).foreach(_.deps.foreach(visit(_, stack + name)))
        if (seen.add(name)) order += name
      }
    nodes.foreach(n => visit(n.name, Set.empty))
    order.toSeq
  }
}
