package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints

/** Weakly-connected components over the property graph — the standard
  * graph-library companion to the shortest-path family (the reference's
  * platform ships it as `gds.wcc`; reference scope: neo4j-code.txt's GDS
  * projection workflow). Component label = lexicographic minimum member
  * node id, a total, engine-portable choice (VARCHAR min orders the same
  * byte-wise in Spark and the SQL oracle).
  *
  * Adaptive dispatch through the shared LocalBudget gate: a slice whose
  * edge list fits comfortably on the driver resolves in one collect +
  * union-find; above the threshold the distributed path runs
  * min-hooking with edge contraction (the Shiloach–Vishkin hook step
  * expressed as a per-root min-reduction, plus graph contraction each
  * round — the classic MapReduce-CC formulation):
  *
  *  1. hook: every root r with a smaller-rooted neighbor attaches to
  *     min(neighbor roots) — strictly decreasing, so hook chains are
  *     acyclic;
  *  2. the hook map (|hooked roots| rows, shrinking every round) is
  *     pointer-jumped to closure ON ITSELF — the only iterated state is
  *     this small table, never the node set;
  *  3. node labels and the contracted edge list re-map through the
  *     closed hooks; self-loop edges drop, so the edge table shrinks
  *     monotonically and the next round's shuffles are cheaper.
  *
  * Plain min-label propagation (one hop per superstep) was measured at
  * ~O(diameter) rounds on the road network — near-sequential node ids
  * along roads defeat pointer jumping's doubling argument — while
  * hook+contract merges entire components pairwise: O(log n) rounds on
  * real graphs. Each round shuffles node-id-keyed joins only;
  * localCheckpoints cut lineage; nothing node- or edge-scale collects.
  */
object GraphComponents {

  /** (node, component) for every node in `nodes`; `edges` is directed
    * (src, dst) and is symmetrized internally — isolated nodes become
    * their own singleton component.
    */
  def wcc(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 50,
      localEdgeThreshold: Long = graft.core.LocalBudget.MaxLocalEdges)
      : DataFrame = Checkpoints.scoped { s =>
    val e = s.cache(edges.select(col(edges.columns(0)).as("src"),
      col(edges.columns(1)).as("dst")))
    if (graft.core.LocalBudget.fits(e, localEdgeThreshold)) {
      val g = graft.core.LocalBudget.collectLocal(e, Some(nodes))
      val uf = new UnionFind(g.n)
      g.foreachEdge((a, b) => uf.union(a, b))
      import spark.implicits._
      g.nodes.map(v => (g.ids(v), g.ids(uf.find(v)))).toSeq
        .toDF("node", "component")
    } else distributed(s, nodes, e, maxIter)
  }

  /** Min-hook + contract. hooks/cedges/labels all fan out under several
    * joins per round, so each round's state is a stats-clean checkpoint
    * (`Scope.fresh`): without the barrier the propagated sizeInBytes
    * estimate compounds multiplicatively — the audited result carried a
    * 3.3-MEGABIT statistic and every later optimizer pass paid
    * BigInteger math on it.
    */
  private def distributed(s: Checkpoints.Scope, nodes: DataFrame,
      e: DataFrame, maxIter: Int): DataFrame = {
    var labels = s.checkpoint(nodes.select(col(nodes.columns(0)).as("node"))
      .withColumn("component", col("node")))
    // contracted edge list between CURRENT roots, symmetric, loop-free
    var cedges = s.checkpoint(e.select(col("src").as("a"), col("dst").as("b"))
      .union(e.select(col("dst").as("a"), col("src").as("b")))
      .filter(col("a") =!= col("b")).distinct())
    s.keep(labels, cedges)
    var iter = 0
    var hookCount = 1L
    while (hookCount > 0 && iter < maxIter) {
      // 1. hook every root to its minimum smaller neighbor root
      var hooks = s.fresh(cedges.filter(col("b") < col("a"))
        .groupBy(col("a").as("root")).agg(min(col("b")).as("tgt")))
      hookCount = hooks.count()
      if (hookCount > 0) {
        // 2. close the hook map on itself (chains a→b→c… halve per jump;
        //    the iterated table is |hooks| rows, never the node set)
        var jumped = 1L
        while (jumped > 0) {
          val h2 = s.fresh(hooks.as("h")
            .join(hooks.select(col("root").as("t_root"),
              col("tgt").as("t_tgt")),
              col("h.tgt") === col("t_root"), "left_outer")
            .select(col("h.root").as("root"),
              coalesce(col("t_tgt"), col("h.tgt")).as("tgt")))
          jumped = h2.join(hooks.select(col("root"),
              col("tgt").as("old_t")), Seq("root"))
            .filter(col("tgt") =!= col("old_t")).count()
          hooks = h2
          s.keep(labels, cedges, hooks)
        }
        // 3. re-map labels and contract the edge list through the hooks
        labels = s.fresh(labels
          .join(hooks.select(col("root").as("component"), col("tgt")),
            Seq("component"), "left_outer")
          .select(col("node"),
            coalesce(col("tgt"), col("component")).as("component")))
        cedges = s.fresh(cedges
          .join(hooks.select(col("root").as("a"), col("tgt").as("na")),
            Seq("a"), "left_outer")
          .join(hooks.select(col("root").as("b"), col("tgt").as("nb")),
            Seq("b"), "left_outer")
          .select(coalesce(col("na"), col("a")).as("a"),
            coalesce(col("nb"), col("b")).as("b"))
          .filter(col("a") =!= col("b")).distinct())
      }
      s.keep(labels, cedges)
      iter += 1
    }
    if (hookCount > 0)
      throw new IllegalStateException(
        s"wcc did not converge within $maxIter rounds " +
          s"(last round hooked $hookCount roots); raise maxIter — " +
          "hook+contract needs O(log n) rounds, so hitting this bound " +
          "indicates a pathological input, not a tuning matter")
    s.backing(labels)
  }
}
