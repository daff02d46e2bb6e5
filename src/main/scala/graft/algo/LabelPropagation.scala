package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints

/** Community detection by label propagation (the reference platform's
  * gds.labelPropagation), in the only formulation that is
  * hash-oracle-able: SYNCHRONOUS rounds with a total, deterministic
  * update rule. Classic async LPA visits nodes in random order and
  * breaks ties randomly — no two runs agree, let alone two engines. Here
  * every node simultaneously adopts the most frequent label among its
  * undirected neighbors, ties broken by MINIMUM label, isolated nodes
  * keep their own; a FIXED 16 rounds is the contract (g16's chained-peel
  * convention — the round count is part of the semantics, not a tuning
  * knob), so the DataFrame loop and the DuckDB 16-step chained CTE
  * compute the identical label table, and the update rule's min/max
  * choices order byte-wise the same in both engines (VARCHAR).
  *
  * Scale shape: each round is one neighbor-label count (shuffle keyed by
  * node) + one arg-min aggregation + one join back — the same superstep
  * pattern as Dedup.transitiveGroups' min-label fallback, with
  * localCheckpoint cutting lineage per round. State is exactly one
  * (node, label) row per node; nothing collects to the driver at any
  * size, so the same 16 rounds run unchanged at 100 TB.
  */
object LabelPropagation {

  /** (node, community) after `rounds` synchronous min-tie-break rounds.
    * `edges` is directed (src, dst) and symmetrized internally; parallel
    * edges collapse (neighbor multiplicity is 0/1 per pair).
    */
  def run(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
      rounds: Int = 16,
      localEdgeThreshold: Long = graft.core.LocalBudget.MaxLocalEdges)
      : DataFrame = Checkpoints.scoped { s =>
    val e = edges.select(col(edges.columns(0)).cast("string").as("a"),
      col(edges.columns(1)).cast("string").as("b"))
    // Adaptive dispatch through the shared LocalBudget gate:
    // 16 distributed rounds on a driver-sized graph are pure scheduling
    // overhead (~17 s on the 3 705-node slice); the sequential twin
    // localReference computes the identical label table, pinned
    // bit-equal by GraphAlgoSpec on both paths.
    if (graft.core.LocalBudget.fits(e, localEdgeThreshold)) {
      val g = graft.core.LocalBudget.collectLocal(e, Some(nodes))
      val labels = localReference(g, rounds)
      import spark.implicits._
      g.nodes.toSeq.map(v => (g.ids(v), g.ids(labels(v))))
        .toDF("node", "community")
    } else distributed(s, nodes, e, rounds)
  }

  /** The distributed rounds over the directed edge list `e` (a, b). */
  private def distributed(s: Checkpoints.Scope, nodes: DataFrame,
      e: DataFrame, rounds: Int): DataFrame = {
    val und = s.checkpoint(e.union(e.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") =!= col("b")).distinct())
    var labels = s.checkpoint(nodes
      .select(col(nodes.columns(0)).cast("string").as("node"))
      .withColumn("lbl", col("node")))
    for (_ <- 1 to rounds) {
      val counts = und
        .join(labels.select(col("node").as("b"), col("lbl")), Seq("b"))
        .groupBy(col("a").as("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      // arg-min of (-count, label): highest count, then smallest label —
      // a total order, so the pick is deterministic in every engine
      val pick = counts
        .select(col("node"),
          struct((-col("c")).as("nc"), col("lbl").as("lbl")).as("s"))
        .groupBy("node").agg(min(col("s")).as("s"))
        .select(col("node"), col("s.lbl").as("new_lbl"))
      labels = s.checkpoint(labels.join(pick, Seq("node"), "left_outer")
        .select(col("node"), coalesce(col("new_lbl"), col("lbl")).as("lbl")))
      s.keep(und, labels)
    }
    labels.select(col("node"), col("lbl").as("community"))
  }

  /** Reference implementation of the same contract for audits: plain
    * in-memory synchronous rounds over `g`, returning the label of every
    * node-frame id. Edges touching ids outside the node frame drop — the
    * distributed loop's inner join on the neighbor label does the same,
    * so a label-less endpoint contributes nothing on either path.
    * Exercised by GraphAlgoSpec against the DataFrame loop on the full
    * slice — any drift in the update rule shows up as a label diff here
    * before the driver's oracle sees it.
    */
  private[graft] def localReference(g: LocalGraph, rounds: Int): Array[Int] = {
    val und = LocalGraph.undirected(g, g.inNodes)
    val members = g.distinctNodes.filter(v => und.offsets(v + 1) > und.offsets(v))
    var labels = Array.tabulate(g.n)(identity)
    for (_ <- 1 to rounds) {
      val cur = labels
      labels = cur.clone()
      // the most frequent neighbor label, ties to the minimum label
      members.foreach { v =>
        labels(v) = (und.offsets(v) until und.offsets(v + 1))
          .groupMapReduce(e => cur(und.targets(e)))(_ => 1)(_ + _)
          .minBy { case (l, c) => (-c, l) }._1
      }
    }
    labels
  }
}
