package graft.algo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints

/** PageRank over the projected simple digraph, in EXACT integer
  * arithmetic — the graph-library centrality companion to the
  * shortest-path family (the reference's platform ships it as
  * `gds.pageRank`).
  *
  * Why integers: the float formulation's per-node sum of incoming
  * contributions depends on partial-aggregation order, which differs
  * between engines (and between runs), so it can never hash-match a SQL
  * oracle. Holding rank as integer micro-mass (total mass 10¹²) makes
  * every step — contribution `r div deg`, damping `(85·Σ) div 100`,
  * teleport base — exact integer arithmetic whose sums are
  * order-independent, so a fixed iteration count is bit-identical in any
  * engine (the llm.Scoring micro-unit trick applied to an iterative
  * kernel). Truncation loses < deg ulps of micro-mass per node per step:
  * at 10¹² total mass that is a ~10⁻⁹ relative perturbation, far below
  * any ranking-relevant difference, and identical in both engines.
  *
  * Semantics: standard damping d = 0.85, teleport (1−d)/N; mass arriving
  * at dangling nodes (no out-edges after projection) leaks rather than
  * redistributing — the common simplification, stated here because it is
  * part of the oracle contract.
  *
  * Scale design: per iteration, one join of the rank vector with the
  * edge list keyed by src and one aggregation keyed by dst — the
  * canonical distributed PageRank shape (both shuffles are node-id
  * keyed and AQE-coalesced; the out-degree table is computed once and
  * cached). Rank state is localCheckpointed every iteration so the
  * lineage stays O(1) deep across the loop, and the previous state is
  * unpersisted as soon as its successor materializes. Nothing
  * graph-sized ever reaches the driver.
  */
object PageRank {

  /** (node, rank_micro) after `iters` iterations; `nodes` is a
    * one-column node-id frame, `edges` a (src, dst) simple digraph.
    * A graph whose edge list fits the driver budget runs the identical
    * integer recurrence sequentially (10 distributed iterations on a
    * 3 705-node graph are pure scheduling overhead); GraphAlgoSpec pins
    * the two paths bit-equal; the distributed one is certified
    * repartition-invariant at 2M edges (notes/distributed_scale_r13.md).
    */
  def run(nodes: DataFrame, edges: DataFrame, iters: Int = 10,
      mass: Long = 1_000_000_000_000L,
      localEdgeThreshold: Long = graft.core.LocalBudget.MaxLocalEdges)
      : DataFrame = Checkpoints.scoped { s =>
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val nodeIds = nodes.select(col(nodes.columns(0)).as("node"))
    val e = s.cache(edges.select(col(edges.columns(0)).as("src"),
      col(edges.columns(1)).as("dst")))
    if (graft.core.LocalBudget.fits(e, localEdgeThreshold)) {
      val g = graft.core.LocalBudget.collectLocal(e, Some(nodeIds))
      require(g.nodes.nonEmpty, "empty node set")
      val unit = mass / g.nodes.length
      val base = 15L * unit / 100L
      localLoop(nodes, g, iters, _ => unit, _ => base)
    } else {
      // N is a bounded driver scalar (one count), not a data collect
      val n = nodeIds.count()
      require(n > 0, "empty node set")
      val unit = mass / n
      distributedLoop(s, nodeIds, e, iters, lit(unit), lit(15L * unit / 100L))
    }
  }

  /** Personalized PageRank: the teleport mass returns to ONE seed node
    * instead of spreading uniformly — the similarity/recommendation
    * variant (`gds.pageRank` with sourceNodes). Same exact-integer
    * discipline as `run`: all mass starts at the seed, each round
    * r(v) = [v = seed]·(15·mass div 100) + (85·Σ_in contrib) div 100,
    * so every sum is order-independent and the chained-CTE oracle is
    * bit-identical. Dangling/truncation leakage as in `run`.
    */
  def personalized(nodes: DataFrame, edges: DataFrame, seed: String,
      iters: Int = 10, mass: Long = 1_000_000_000_000L,
      localEdgeThreshold: Long = graft.core.LocalBudget.MaxLocalEdges)
      : DataFrame = Checkpoints.scoped { s =>
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val nodeIds = nodes.select(col(nodes.columns(0)).as("node"))
    val e = s.cache(edges.select(col(edges.columns(0)).as("src"),
      col(edges.columns(1)).as("dst")))
    val base = 15L * mass / 100L
    if (graft.core.LocalBudget.fits(e, localEdgeThreshold)) {
      val g = graft.core.LocalBudget.collectLocal(e, Some(nodeIds))
      val at = g.find(seed)
      require(at >= 0 && g.inNodes(at), s"seed $seed not in node set")
      localLoop(nodes, g, iters,
        v => if (v == at) mass else 0L, v => if (v == at) base else 0L)
    } else {
      // Same precondition as the local path: a missing seed must fail
      // loudly, not return an all-zero vector. One bounded count, once.
      require(nodeIds.filter(col("node") === lit(seed)).limit(1).count() == 1,
        s"seed $seed not in node set")
      // teleport term via the Column API — `seed` is a data value, never
      // spliced into SQL text (quotes in ids parse fine this way)
      val atSeed = col("node") === lit(seed)
      distributedLoop(s, nodeIds, e, iters,
        when(atSeed, lit(mass)).otherwise(lit(0L)),
        when(atSeed, lit(base)).otherwise(lit(0L)))
    }
  }

  /** The driver twin: `start(v)` is v's initial mass, `teleport(v)` the
    * base it receives every round before the damped in-flow.
    */
  private def localLoop(nodes: DataFrame, g: LocalGraph, iters: Int,
      start: Int => Long, teleport: Int => Long): DataFrame = {
    val known = g.inNodes
    val deg = Array.tabulate(g.n)(u => g.offsets(u + 1) - g.offsets(u))
    var r = Array.tabulate(g.n)(v => if (known(v)) start(v) else 0L)
    for (_ <- 1 to iters) {
      val in = new Array[Long](g.n)
      // an edge whose src is outside the node frame contributes nothing
      // — same as the distributed path's inner join of ranks with deg
      // (deg still counts ALL out-edges, so mass sent toward ids outside
      // the node set leaks identically on both paths)
      g.foreachEdge((s, d) => if (known(s)) in(d) += r(s) / deg(s))
      r = Array.tabulate(g.n)(v => teleport(v) + 85L * in(v) / 100L)
    }
    val spark = nodes.sparkSession
    import spark.implicits._
    g.nodes.map(v => (g.ids(v), r(v))).toSeq.toDF("node", "rank_micro")
  }

  /** The distributed twin of `localLoop`: `start` and `teleport` are
    * bigint Columns over `node`.
    */
  private def distributedLoop(s: Checkpoints.Scope, nodeIds: DataFrame,
      e: DataFrame, iters: Int, start: Column, teleport: Column): DataFrame = {
    val deg = s.cache(e.groupBy("src").agg(count(lit(1)).as("deg")))
    var ranks = s.checkpoint(nodeIds.withColumn("r", start))
    for (_ <- 1 to iters) {
      val contribs = ranks.join(deg, ranks("node") === deg("src"))
        .selectExpr("src", "r div deg AS c")
      val sums = e.join(contribs, Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum("c").as("m"))
      ranks = s.checkpoint(nodeIds.join(sums, Seq("node"), "left_outer")
        .select(col("node"),
          (teleport + expr("(85 * coalesce(m, CAST(0 AS BIGINT))) div 100"))
            .cast("bigint").as("r")))
      s.keep(e, deg, ranks)
    }
    ranks.select(col("node"), col("r").as("rank_micro"))
  }
}
