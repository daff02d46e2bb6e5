package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints

/** Greedy graph coloring by iterated maximal independent sets (the
  * Jones–Plassmann family): layer c = the MIS of the residual graph,
  * colored c, removed; repeat. Proper by construction (an MIS layer is
  * independent), and the layer count is bounded by Δ+1 on any graph
  * (every uncolored node loses a neighbor per layer at worst). The use
  * case at scale is conflict scheduling: rows sharing a color never
  * share an edge, so each color class updates in one conflict-free
  * parallel wave.
  *
  * Determinism rides entirely on [[IndependentSet.luby]]'s hash-shared
  * priorities, so the whole layered run replays as a fixed-layer SQL
  * chain and hash-verifies (slice 1: 7 layers, max degree 7).
  */
object Coloring {

  /** (node, color 1..k) for every node; `edges` directed, symmetrized
    * inside each MIS call.
    */
  def greedy(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
      maxColors: Int = 12, lubyRounds: Int = 8,
      localEdgeThreshold: Long = graft.core.LocalBudget.MaxLocalEdges)
      : DataFrame = Checkpoints.scoped { s =>
    val allNodes = nodes.select(col(nodes.columns(0)).as("node"))
    val e = s.cache(edges.select(col(edges.columns(0)).as("src"),
      col(edges.columns(1)).as("dst")))
    if (graft.core.LocalBudget.fits(e, localEdgeThreshold)) {
      // ---- local: ONE collect, all MIS layers on driver adjacency ----
      val g = graft.core.LocalBudget.collectLocal(e, Some(allNodes))
      val adj = LocalGraph.undirected(g)
      val color = new Array[Int](g.n)
      // an MIS run ignores neighbors outside its active set, so each
      // layer runs on the full adjacency over the uncolored ids
      val uncolored = g.inNodes
      var left = uncolored.count(identity)
      var c = 0
      while (left > 0 && c < maxColors) {
        c += 1
        val mis = IndependentSet.lubyLocal(adj, uncolored, lubyRounds)
        mis.indices.foreach { v =>
          if (mis(v)) { color(v) = c; uncolored(v) = false; left -= 1 }
        }
      }
      if (left > 0)
        throw new IllegalStateException(
          s"coloring (local) left $left nodes after $maxColors layers")
      import spark.implicits._
      g.nodes.map(v => (g.ids(v), color(v))).toSeq.toDF("node", "color")
    } else {
      var resid = s.checkpoint(allNodes)
      var acc: Option[DataFrame] = None
      var c = 0
      var remaining = resid.count()
      while (remaining > 0 && c < maxColors) {
        c += 1
        val subEdges = e
          .join(resid.select(col("node").as("src")), Seq("src"), "left_semi")
          .join(resid.select(col("node").as("dst")), Seq("dst"), "left_semi")
          .select("src", "dst")
        val mis = s.adopt(IndependentSet.luby(spark, resid, subEdges,
          lubyRounds, localEdgeThreshold))
        val colored = s.checkpoint(mis.filter(col("in_mis") === 1L)
          .select(col("node"), lit(c).as("color")))
        resid = s.fresh(mis.filter(col("in_mis") === 0L).select("node"))
        acc = Some(acc.fold(colored)(a => s.checkpoint(a.union(colored))))
        s.keep(e, resid, acc.get)
        remaining = resid.count()
      }
      if (remaining > 0)
        throw new IllegalStateException(
          s"coloring left $remaining nodes after $maxColors layers — the " +
            "layer count is bounded by max degree + 1, so raise maxColors " +
            "for this graph")
      acc.get
    }
  }
}
