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
      val (pairs, nodeIds) = graft.core.LocalBudget.collectLocal(e, Some(allNodes))
      val adj = IndependentSet.undirectedAdjacency(pairs)
      val color = collection.mutable.HashMap.empty[String, Int]
      var uncolored = nodeIds.toBuffer
      var c = 0
      while (uncolored.nonEmpty && c < maxColors) {
        c += 1
        val unSet = uncolored.toSet
        val layerAdj = adj.map { case (k, vs) =>
          k -> (vs.filter(unSet.contains): collection.Set[String])
        }
        val mis = IndependentSet.lubyLocal(uncolored.toArray, layerAdj,
          lubyRounds)
        mis.foreach(v => color(v) = c)
        uncolored = uncolored.filterNot(mis.contains)
      }
      if (uncolored.nonEmpty)
        throw new IllegalStateException(
          s"coloring (local) left ${uncolored.size} nodes after " +
            s"$maxColors layers")
      import spark.implicits._
      nodeIds.map(v => (v, color(v))).toSeq.toDF("node", "color")
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
