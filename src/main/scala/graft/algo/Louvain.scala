package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints

/** Louvain-style community detection (the reference platform's
  * production-tier gds.louvain behind neo4j-code.txt:4-11), in the only
  * formulation that is hash-oracle-able: SYNCHRONOUS modularity-gain
  * local moving with a total, deterministic update rule and a FIXED
  * round count.
  *
  * Classic Louvain sweeps nodes in random order, moves each to the
  * neighboring community with the highest modularity gain, then
  * coarsens — no two runs agree. Here the move rule is made exact and
  * parallel:
  *
  *  - the gain of node i joining community c is compared via the
  *    INTEGER score  sc(i,c) = 2m·w(i,c) − k(i)·(Σtot(c) − [i∈c]·k(i)),
  *    which is the standard ΔQ multiplied through by 2m² (a positive
  *    constant, so the argmax is unchanged) — every term is a count or
  *    a degree sum, so both engines compute identical BIGINTs and the
  *    pick is order-independent. (Bound: |sc| ≤ 2m·k(i) + k(i)·2m,
  *    safe in 64 bits while 4·m·max_deg < 2⁶³ — at 10¹² edges that
  *    allows max degree ~10⁶.)
  *  - every MOVABLE node simultaneously adopts argmax_c sc(i,c) over
  *    {its neighbors' communities} ∪ {its own}, ties broken by MINIMUM
  *    community label (a total order, same in both engines).
  *  - movable sets alternate by node parity (first hex digit of
  *    md5(node) odd → moves on odd rounds, even → even rounds): the
  *    standard coloring trick that stops synchronous move rules from
  *    oscillating (two hubs swapping communities forever), while
  *    staying a pure per-node predicate both engines evaluate
  *    identically.
  *  - a FIXED 16 rounds (8 full parity sweeps) is the contract, g16's
  *    chained-peel convention: the round count is part of the
  *    semantics, so the DataFrame loop and the DuckDB 16-step chained
  *    CTE compute the identical community table.
  *
  * `run` is the single-level contract (g28). `runTwoLevel` adds the
  * COARSENING phase classic Louvain is known for — deterministically:
  * level-1 communities contract into super-nodes whose edge weights
  * are the inter-community und-row multiplicities (internal rows
  * become self-loops, so weighted degrees are conserved: Σk = 2m
  * unchanged), and the SAME synchronous move rule runs on the weighted
  * coarse graph for a fixed round budget (w(i,c) sums edge weights,
  * self-loops excluded from w but included in k — textbook ΔQ). The
  * "engine-dependent merge order" objection to coarsening disappears
  * because contraction happens at one fixed barrier and the coarse
  * sweep is the same deterministic parity rule.
  *
  * Scale shape: each round is two aggregations (Σtot per community —
  * tiny, ≤|communities| rows; w(i,c) — one shuffle keyed by node) plus
  * one join back; state is one (node, community, parity) row per node.
  * Contraction is one further keyed aggregation, and the coarse graph
  * is |communities|-sized — strictly cheaper than level 1. Nothing
  * collects to the driver on the distributed path, so the same rounds
  * run unchanged at 100 TB; localCheckpoint cuts lineage per round and
  * the kernel's Checkpoints scope frees the previous state eagerly.
  */
object Louvain {

  /** (node, community) after `rounds` synchronous parity-alternating
    * modularity-gain rounds. `edges` is directed (src, dst) and
    * symmetrized internally; parallel edges collapse (the unweighted
    * modularity contract: neighbor multiplicity is 0/1 per pair) and
    * self-loops drop. Exactly runMultiLevel with the level budget
    * fixed at 1 (the g28 contract).
    */
  def run(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
      rounds: Int = 16,
      localEdgeThreshold: Long = graft.core.LocalBudget.MaxLocalEdges)
      : DataFrame =
    runMultiLevel(spark, nodes, edges, rounds, maxLevels = 1,
      localEdgeThreshold = localEdgeThreshold)

  /** WEIGHTED Louvain (gds.louvain with relationshipWeightProperty):
    * the same synchronous parity contract with edge weights in integer
    * micro-units. `edges` is (src, dst, weightMicro: Long, positive);
    * the undirected weight of an unordered pair is the MIN over every
    * directed weight between its endpoints (parallel/asymmetric edges
    * collapse to the strongest tie consistently in both engines), and
    * the score uses weighted degrees and 2m = Σw. Overflow bound:
    * |sc| ≤ 2·(Σw)·k_max — with micro-unit weights Σw ≈ 10³·Σcost, so
    * the 64-bit bound trips earlier than the unweighted variant; keep
    * Σw·k_max < 2⁶² (document per corpus).
    */
  def runWeighted(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
      rounds: Int = 16,
      localEdgeThreshold: Long = graft.core.LocalBudget.MaxLocalEdges)
      : DataFrame = Checkpoints.scoped { s =>
    val e = edges.select(col(edges.columns(0)).cast("string").as("a"),
      col(edges.columns(1)).cast("string").as("b"),
      col(edges.columns(2)).cast("long").as("w"))
    // the collect below also pulls the Long weight — charge it
    // (8 B/row) against the budget beside the two id columns
    if (graft.core.LocalBudget.fits(e, localEdgeThreshold,
        payloadBytesPerRow = 8)) {
      val g = graft.core.LocalBudget.collectLocal(e, Some(nodes),
        Some(col("w")))
      labelRows(spark, g, localWeightedReference(g, rounds))
    } else {
      val (und, degs, twoM) = prepare(s, nodes, e)
      s.adopt(moveLoop(und, degs, twoM, rounds))
        .select(col("node"), col("lbl").as("community"))
    }
  }

  /** (node, community) rows of the node frame under labels `lbl`. */
  private def labelRows(spark: SparkSession, g: LocalGraph, lbl: Array[Int])
      : DataFrame = {
    import spark.implicits._
    g.nodes.toSeq.map(v => (g.ids(v), g.ids(lbl(v)))).toDF("node", "community")
  }

  /** In-memory twin of runWeighted over `g` (its costs are the weights;
    * unit weights when it has none, the `run` contract): the min-weight
    * symmetrized adjacency among the node frame's ids + the shared move
    * recurrence. Returns the community of every id. Exercised by
    * GraphAlgoSpec against the DataFrame loop — any drift in the score or
    * the tie-break shows up as a diff here before the driver's oracle
    * sees it.
    */
  private[graft] def localWeightedReference(g: LocalGraph, rounds: Int)
      : Array[Int] = {
    val und = LocalGraph.undirected(g, g.inNodes)
    val deg = degrees(und)
    moveRounds(g.distinctNodes, und, deg, deg.sum, rounds)
  }

  private def weight(g: LocalGraph, e: Int): Long =
    if (g.costs.isEmpty) 1L else g.costs(e).toLong

  /** Weighted degree of every id of `g`. */
  private def degrees(g: LocalGraph): Array[Long] = {
    val (src, deg) = (g.sources, new Array[Long](g.n))
    src.indices.foreach(e => deg(src(e)) += weight(g, e))
    deg
  }

  /** Two-level (hierarchical) Louvain: `rounds` level-1 moving rounds,
    * one deterministic contraction, `coarseRounds` weighted rounds on
    * the coarse graph, labels projected back to the original nodes —
    * (node, community) where community is the final coarse label.
    * Exactly runMultiLevel with the level budget fixed at 2 (the g30
    * contract).
    */
  def runTwoLevel(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
      rounds: Int = 16, coarseRounds: Int = 8,
      localEdgeThreshold: Long = graft.core.LocalBudget.MaxLocalEdges)
      : DataFrame =
    runMultiLevel(spark, nodes, edges, rounds, coarseRounds,
      maxLevels = 2, localEdgeThreshold)

  /** FULL multi-level Louvain (gds.louvain's level iteration,
    * `maxLevels` parity with its maxLevels knob): level 1 runs the
    * unweighted move rounds, then contraction + weighted coarse rounds
    * repeat until either a level moves NOTHING or the deterministic
    * level cap is hit. Every level contracts against the composed
    * (original node → current community) mapping, so level-j edge
    * weights are original und-row counts between level-j communities —
    * identical whether contraction iterates graph-by-graph or composes
    * against the base graph (weights were row counts all along), which
    * is what lets one fixed-depth oracle replay the whole hierarchy.
    *
    * DETERMINISM OF THE EARLY STOP: a level whose move loop returns
    * the identity labeling contracts to the very same graph (labels
    * ARE the node ids), so every later level recomputes the identical
    * identity — the stop never changes the result vs running the full
    * cap, it only skips provable no-ops. The driver oracle therefore
    * replays exactly `maxLevels − 1` coarse levels unconditionally.
    *
    * Scale shape: each level is one keyed aggregation (contraction)
    * plus `coarseRounds` move rounds on a graph of |communities|
    * nodes — strictly shrinking per level; the composed mapping stays
    * one row per ORIGINAL node and is the only state that does not
    * shrink. Nothing collects on the distributed path; the no-move
    * convergence test is a count().
    */
  def runMultiLevel(spark: SparkSession, nodes: DataFrame,
      edges: DataFrame, rounds: Int = 16, coarseRounds: Int = 8,
      maxLevels: Int = 4,
      localEdgeThreshold: Long = graft.core.LocalBudget.MaxLocalEdges)
      : DataFrame = Checkpoints.scoped { s =>
    require(maxLevels >= 1, s"maxLevels must be >= 1, got $maxLevels")
    val e = edges.select(col(edges.columns(0)).cast("string").as("a"),
      col(edges.columns(1)).cast("string").as("b"))
    // Adaptive dispatch through the shared LocalBudget gate: 16
    // distributed rounds on a driver-sized graph are scheduling
    // overhead; the sequential twin computes the identical table,
    // pinned bit-equal by GraphAlgoSpec on both paths.
    if (graft.core.LocalBudget.fits(e, localEdgeThreshold)) {
      val g = graft.core.LocalBudget.collectLocal(e, Some(nodes))
      labelRows(spark, g, localMultiLevel(g, rounds, coarseRounds, maxLevels))
    } else levels(s, nodes, e, rounds, coarseRounds, maxLevels)
  }

  /** The distributed levels of [[runMultiLevel]] over `e` (a, b). */
  private def levels(s: Checkpoints.Scope, nodes: DataFrame, e: DataFrame,
      rounds: Int, coarseRounds: Int, maxLevels: Int): DataFrame = {
    val (und, degs, twoM) = prepare(s, nodes, e.withColumn("w", lit(1L)))
    // q = composed mapping original node → current community
    var q = s.adopt(moveLoop(und, degs, twoM, rounds))
    var level = 1
    var converged = false
    while (level < maxLevels && !converged) {
      // ---- contraction: communities → weighted super-nodes -----------
      // W(c1,c2) = # und rows between the communities (symmetric;
      // c1=c2 rows are the self-loop weight = 2 × internal undirected
      // edges). k(c) = Σ_c2 W(c,c2) = Σ_{i∈c} deg(i), so Σk stays 2m.
      val wFull = s.checkpoint(und
        .join(q.select(col("node").as("a"), col("lbl").as("c1")),
          Seq("a"))
        .join(q.select(col("node").as("b"), col("lbl").as("c2")),
          Seq("b"))
        .groupBy("c1", "c2").agg(count(lit(1)).as("w")))
      // every community appears (isolated communities keep k = 0)
      val coarseDegs = s.checkpoint(q.select(col("lbl").as("node")).distinct()
        .join(wFull.groupBy(col("c1").as("node"))
            .agg(sum(col("w")).as("deg")),
          Seq("node"), "left_outer")
        .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"))
        .withColumn("odd", substring(md5(col("node")), 1, 1)
          .isin("1", "3", "5", "7", "9", "b", "d", "f")))
      // self-loops feed k (via coarseDegs) but not w(i,c): the move
      // score counts links to OTHER members only — textbook ΔQ
      val lj = s.adopt(moveLoop(
        wFull.filter(col("c1") =!= col("c2"))
          .select(col("c1").as("a"), col("c2").as("b"), col("w")),
        coarseDegs, twoM, coarseRounds))
      // an identity level makes every further level a provable no-op
      converged = lj.filter(col("node") =!= col("lbl")).count() == 0L
      if (!converged) {
        val proj = lj.select(col("node").as("c_from"),
          col("lbl").as("c_to"))
        q = s.checkpoint(q.join(proj, q("lbl") === proj("c_from"))
          .select(q("node"), col("c_to").as("lbl")))
      }
      s.keep(und, degs, q)
      level += 1
    }
    q.select(col("node"), col("lbl").as("community"))
  }

  /** Symmetrized weighted adjacency und(a, b, w) among known nodes,
    * per-node weighted degrees + move parity, and 2m = Σw over `e`
    * (a, b, w). Both orientations, MIN weight across every directed
    * edge of the unordered pair, self-loops dropped. The unweighted
    * callers pass w = 1, where the min is `distinct` and Σw the pair
    * count. Both frames are checkpoints held by `s`. Filters both
    * endpoints to the node set, matching the local twins' idSet filter.
    */
  private def prepare(s: Checkpoints.Scope, nodes: DataFrame, e: DataFrame)
      : (DataFrame, DataFrame, Long) = {
    val ns = nodes.select(col(nodes.columns(0)).cast("string").as("node"))
    val und = s.checkpoint(e.union(e.select(col("b").as("a"), col("a").as("b"),
        col("w")))
      .filter(col("a") =!= col("b"))
      .join(ns.select(col("node").as("a")), Seq("a"), "left_semi")
      .join(ns.select(col("node").as("b")), Seq("b"), "left_semi")
      .groupBy("a", "b").agg(min(col("w")).as("w")))
    val twoM = und.agg(coalesce(sum(col("w")), lit(0L))).head().getLong(0)
    val degs = s.checkpoint(ns.join(und.withColumnRenamed("a", "node"),
        Seq("node"), "left_outer")
      .groupBy("node").agg(coalesce(sum(col("w")), lit(0L)).as("deg"))
      .withColumn("odd", substring(md5(col("node")), 1, 1)
        .isin("1", "3", "5", "7", "9", "b", "d", "f")))
    (und, degs, twoM)
  }

  /** The shared synchronous parity-alternating move loop over a
    * weighted adjacency `adj(a, b, w)` (a ≠ b rows only; level 1 uses
    * unit weights) and `degs(node, deg, odd)`, starting from singleton
    * communities. Returns the final (node, lbl) table (one checkpoint;
    * callers project under their own renames, e.g. runTwoLevel's `proj`
    * frame, and release it).
    */
  private def moveLoop(adj: DataFrame, degs: DataFrame, twoM: Long,
      rounds: Int): DataFrame = Checkpoints.scoped { s =>
    // each round reads a stats-clean checkpoint of the labels — the round
    // plan fans the state out under THREE joins, so without the barrier
    // the propagated sizeInBytes estimate compounds multiplicatively per
    // round (see Scope.fresh) and optimizer time explodes
    var labels = s.checkpoint(degs.select(col("node"), col("node").as("lbl")))
    for (i <- 1 to rounds) {
      val sig = labels.join(degs.select("node", "deg"), Seq("node"))
        .groupBy(col("lbl").as("cand")).agg(sum("deg").as("s"))
      val kin = adj
        .join(labels.select(col("node").as("b"), col("lbl").as("cand")),
          Seq("b"))
        .groupBy(col("a").as("node"), col("cand"))
        .agg(sum(col("w")).as("kic"))
      val base = labels.join(degs.select("node", "deg", "odd"), Seq("node"))
      // candidates = neighbor communities ∪ own (kic 0 when no neighbor
      // shares it); max(kic) collapses the own-row duplicate
      val cand = base.join(kin, Seq("node"))
        .select(col("node"), col("lbl").as("own"), col("deg"),
          col("cand"), col("kic"))
        .union(base.select(col("node"), col("lbl").as("own"), col("deg"),
          col("lbl").as("cand"), lit(0L).as("kic")))
        .groupBy("node", "own", "deg", "cand").agg(max("kic").as("kic"))
      val scored = cand.join(sig, Seq("cand"))
        .withColumn("sc", lit(twoM) * col("kic") -
          col("deg") * (col("s") -
            when(col("cand") === col("own"), col("deg")).otherwise(lit(0L))))
      // argmax score, min-label tie-break, as an arg-min over a struct
      // with a total order — deterministic in every engine
      val pick = scored
        .select(col("node"),
          struct((-col("sc")).as("ns"), col("cand").as("cand")).as("p"))
        .groupBy("node").agg(min(col("p")).as("p"))
        .select(col("node"), col("p.cand").as("new_lbl"))
      labels = s.fresh(base.join(pick, Seq("node"), "left_outer")
        .select(col("node"),
          when(col("odd") === lit(i % 2 == 1),
            coalesce(col("new_lbl"), col("lbl"))).otherwise(col("lbl"))
            .as("lbl")))
      s.keep(labels)
    }
    s.backing(labels)
  }

  /** Per-community CONDUCTANCE over the symmetrized distinct-pair
    * graph (the gds.conductance companion metric): for each community
    * c, cut(c) = # crossing und rows with their a-side in c (= crossing
    * unordered pairs adjacent to c, counted once per side), vol(c) =
    * Σ_{i∈c} deg(i), and φ(c) = cut / min(vol, 2m − vol) (0 when the
    * denominator is 0 — an isolated or all-graph community). cut and
    * vol are exact integers; φ is one IEEE division of two exact
    * integers, portable-rounded to 6 dp — hash-oracle-able end to end.
    * Output: (community, n_nodes, cut, vol, conductance).
    */
  def conductance(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
      labels: DataFrame): DataFrame = Checkpoints.scoped { s =>
    val e = edges.select(col(edges.columns(0)).cast("string").as("a"),
      col(edges.columns(1)).cast("string").as("b"))
    val (und, degs, twoM) = prepare(s, nodes, e.withColumn("w", lit(1L)))
    val l = labels.select(col(labels.columns(0)).cast("string").as("node"),
      col(labels.columns(1)).cast("string").as("lbl"))
    val cut = und
      .join(l.select(col("node").as("a"), col("lbl").as("la")), Seq("a"))
      .join(l.select(col("node").as("b"), col("lbl").as("lb")), Seq("b"))
      .filter(col("la") =!= col("lb"))
      .groupBy(col("la").as("community")).agg(count(lit(1)).as("cut"))
    val vol = l.join(degs.select("node", "deg"), Seq("node"))
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("vol"))
    val denom = least(col("vol"), lit(twoM) - col("vol"))
    s.checkpoint(vol.join(cut, Seq("community"), "left_outer")
      .select(col("community"), col("n_nodes"),
        coalesce(col("cut"), lit(0L)).as("cut"), col("vol"),
        graft.llm.TextAnalysis.portableRound(
          when(denom === 0L, lit(0.0))
            .otherwise(coalesce(col("cut"), lit(0L)).cast("double") / denom),
          6).as("conductance")))
  }

  /** In-memory twin of runMultiLevel (maxLevels = 2 is runTwoLevel):
    * contraction is recomputed from the base und rows against the
    * COMPOSED mapping each level (same equivalence as the distributed
    * path), and an identity level stops the loop.
    */
  private[graft] def localMultiLevel(g: LocalGraph, rounds: Int,
      coarseRounds: Int, maxLevels: Int): Array[Int] = {
    var q = localWeightedReference(g, rounds)
    // lazy: `run` (maxLevels = 1) never contracts
    lazy val und = LocalGraph.undirected(g, g.inNodes)
    lazy val (src, members, deg) = (und.sources, g.distinctNodes, degrees(und))
    var level = 1
    var converged = false
    while (level < maxLevels && !converged) {
      // communities are ids, so the coarse graph shares `g`'s id space:
      // one unit entry per und row between two communities (the move
      // rule sums them into W(c1, c2)); k(c) = Σ_{i∈c} deg(i) keeps the
      // self-loop rows
      val k = new Array[Long](g.n)
      members.foreach(v => k(q(v)) += deg(v))
      val cross = src.indices.filter(e => q(src(e)) != q(und.targets(e))).toArray
      val coarse = LocalGraph.over(g, cross.map(e => q(src(e))),
        cross.map(e => q(und.targets(e))), Array.emptyDoubleArray)
      val coarseIds = members.map(q).distinct
      val lj = moveRounds(coarseIds, coarse, k, src.length.toLong, coarseRounds)
      converged = coarseIds.forall(c => lj(c) == c)
      if (!converged) q = q.map(lj)
      level += 1
    }
    q
  }

  /** The weighted synchronous move recurrence both in-memory paths share
    * over the adjacency `adj`: `members` start as singleton communities
    * and move on their parity's rounds. Labels are ids, so the min-label
    * tie-break is the engines' id order.
    */
  private def moveRounds(members: Array[Int], adj: LocalGraph,
      deg: Array[Long], twoM: Long, rounds: Int): Array[Int] = {
    val odd = new Array[Boolean](adj.n)
    members.foreach(v => odd(v) = oddParity(adj.ids(v)))
    var lbl = Array.tabulate(adj.n)(identity)
    val kin = new Array[Long](adj.n)
    for (i <- 1 to rounds) {
      val sig = new Array[Long](adj.n)
      members.foreach(v => sig(lbl(v)) += deg(v))
      val next = lbl.clone()
      for (v <- members if odd(v) == (i % 2 == 1)) {
        val own = lbl(v); val d = deg(v)
        val row = adj.offsets(v) until adj.offsets(v + 1)
        row.foreach(e => kin(lbl(adj.targets(e))) += weight(adj, e))
        // argmax score over neighbor communities ∪ own, min label on ties
        val cands = (row.map(e => lbl(adj.targets(e))) :+ own).distinct
        next(v) = cands.minBy(c =>
          (-(twoM * kin(c) - d * (sig(c) - (if (c == own) d else 0L))), c))
        cands.foreach(kin(_) = 0L)
      }
      lbl = next
    }
    lbl
  }

  /** Integer modularity numerator Q·(2m)² = Σ_C (2m·W(C,C) − Σtot(C)²)
    * of a partition over the symmetrized distinct pairs among the node
    * frame's ids — the audit metric the two-level spec uses (larger is
    * better; exact integers, so cross-level comparison is exact).
    */
  private[graft] def modularityNum(g: LocalGraph, lbl: Array[Int]): BigInt = {
    val und = LocalGraph.undirected(g, g.inNodes)
    val (deg, members) = (degrees(und), g.distinctNodes)
    val intra = new Array[Long](g.n)
    und.foreachEdge((a, b) => if (lbl(a) == lbl(b)) intra(lbl(a)) += 1L)
    val tot = new Array[Long](g.n)
    members.foreach(v => tot(lbl(v)) += deg(v))
    members.map(lbl).distinct.map(c =>
      BigInt(und.targets.length) * intra(c) - BigInt(tot(c)) * tot(c)).sum
  }

  /** True iff the first hex digit of md5(s) is odd — the move-parity
    * predicate, evaluated identically by Spark's and DuckDB's md5.
    */
  private[graft] def oddParity(s: String): Boolean =
    "13579bdf".indexOf(IndependentSet.md5hex(s).charAt(0)) >= 0
}
