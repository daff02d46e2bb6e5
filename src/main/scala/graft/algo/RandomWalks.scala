package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Checkpoints

/** Deterministic random-walk sampling over the projected digraph — the
  * DeepWalk/node2vec corpus-generation shape (walk sequences feed a
  * skip-gram embedding trainer exactly like text token windows), which
  * makes it a training-data-pipeline operator as much as a graph one.
  *
  * True pseudo-random walks can never be cross-engine-checked, so the
  * contract fixes the randomness the md5 way (the fingerprint/sampling
  * convention of the llm family): at step t of walk w started at v,
  * standing on u, the next hop is
  *
  *   nbr(u)[ H(v|w|t|u) mod outdeg(u) ]
  *
  * where nbr(u) is u's out-neighbors in ascending id order and H is the
  * first 8 hex digits of md5 parsed as an integer — uniform enough for
  * sampling, bit-identical in Spark (`conv(substr(md5…))`) and DuckDB
  * (hex-digit positional sum, the minhash oracle technique). Walks stop
  * early at dead-end nodes. Every (node, walk) pair emits its step-0
  * row, so isolated nodes still appear in the corpus.
  *
  * Scale shape: the neighbor-index table (row_number per src) and the
  * degree table are computed once; each of the L steps is one equi-join
  * of the frontier against them, keyed by current node — no driver
  * collection, no per-row UDF (the hash is codegen'd md5/conv), state
  * is exactly |frontier| rows and only ever shrinks (dead ends). L and
  * W are fixed small constants, so the whole operator is L shuffles
  * over a corpus ≤ |V|·W rows — unchanged at 100 TB.
  */
object RandomWalks {

  /** Adaptive dispatch shared by both walkers (the core.LocalBudget
    * gate): a driver-sized graph runs the sequential twin instead of L
    * supersteps of scheduling overhead. Returns None when the graph must
    * stay distributed.
    */
  private def tryLocal(nodes: DataFrame, edges: DataFrame, edgeCap: Long,
      twin: LocalGraph => Set[(String, Int, Int, String)]): Option[DataFrame] = {
    val e = edges.select(col(edges.columns(0)).cast("string").as("src"),
      col(edges.columns(1)).cast("string").as("dst"))
    if (!graft.core.LocalBudget.fits(e, edgeCap)) return None
    // NOT filtered to the node frame: walks may traverse ids that only
    // appear as edge endpoints (both paths share that semantics).
    // ids DISTINCT to match the distributed paths' distinct node frame
    // (one walk set per distinct start node on either path).
    val g = graft.core.LocalBudget.collectLocal(e, Some(nodes))
    val spark = nodes.sparkSession
    import spark.implicits._
    Some(twin(g).toSeq.toDF("start_id", "walk_id", "step", "node_id"))
  }

  /** Exploded walk corpus: (start_id, walk_id, step, node_id), one row
    * per visited node per walk, steps 0..length.
    */
  def walks(nodes: DataFrame, edges: DataFrame, numWalks: Int = 2,
      length: Int = 8,
      localEdgeThreshold: Long =
        graft.core.LocalBudget.MaxSequentialWalkEdges)
      : DataFrame = {
    require(numWalks >= 1 && length >= 1, "numWalks and length must be >= 1")
    tryLocal(nodes, edges, localEdgeThreshold,
      localReference(_, numWalks, length))
      .getOrElse(distributedWalks(nodes, edges, numWalks, length))
  }

  private def distributedWalks(nodes: DataFrame, edges: DataFrame,
      numWalks: Int, length: Int): DataFrame = Checkpoints.scoped { s =>
    val nodeIds = nodes.select(col(nodes.columns(0)).cast("string").as("node"))
      .distinct()
    val e = edges.select(col(edges.columns(0)).cast("string").as("src"),
      col(edges.columns(1)).cast("string").as("dst")).distinct()
    // ascending-id neighbor index + out-degree, computed once
    val nbr = s.checkpoint(e.withColumn("idx",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("src").orderBy("dst")) - 1))
    val deg = s.checkpoint(nbr.groupBy("src").agg(count(lit(1)).as("deg")))
    val walkIds = (0 until numWalks).map(lit(_))
    var frontier = s.checkpoint(nodeIds
      .select(col("node").as("start"),
        explode(array(walkIds: _*)).as("walk"),
        col("node").as("cur")))
    // Each level is a pure projection of its (eagerly checkpointed)
    // frontier, so the output union is deferred to ONE materialization
    // at the end instead of re-writing the growing prefix every step
    // (O(corpus) total checkpoint bytes instead of O(L * corpus)). The
    // per-step frontiers stay alive until that union lands.
    val levels = scala.collection.mutable.ListBuffer[DataFrame](
      frontier.select(col("start"), col("walk"),
        lit(0).as("step"), col("cur").as("node")))
    for (t <- 1 to length) {
      val key = concat_ws("|", col("start"), col("walk"), lit(t), col("cur"))
      val withPick = frontier
        .join(deg, col("cur") === deg("src"))
        .withColumn("pick",
          conv(substring(md5(key), 1, 8), 16, 10).cast("long") % col("deg"))
        .select(col("start"), col("walk"), col("cur"), col("pick"))
      frontier = s.checkpoint(withPick
        .join(nbr, withPick("cur") === nbr("src") &&
          withPick("pick") === nbr("idx"))
        .select(col("start"), col("walk"), col("dst").as("cur")))
      levels += frontier.select(col("start"), col("walk"),
        lit(t).as("step"), col("cur").as("node"))
    }
    s.checkpoint(levels.reduce(_ union _))
      .select(col("start").as("start_id"), col("walk").as("walk_id"),
        col("step"), col("node").as("node_id"))
  }

  /** node2vec-style SECOND-ORDER biased walks (Grover & Leskovec): the
    * next hop from `cur` (arrived from `prev`) weights each candidate
    * out-neighbor x by
    *
    *   retWeight  if x = prev                (1/p, the return parameter)
    *   adjWeight  if the edge prev→x exists  (distance-1: stay local)
    *   farWeight  otherwise                  (1/q, the in-out parameter)
    *
    * with the defaults (1, 4, 2) ≙ p = 4, q = 2 scaled to integers —
    * integer weights are the contract precisely so the weighted pick is
    * exact: r = H(start|walk|t|cur|prev) mod Σw selects the unique
    * candidate whose cumulative-weight interval [cum−w, cum) contains r,
    * candidates in ascending id order. Step 1 has prev = '' (matches
    * nothing), so all weights fall to farWeight and the pick is uniform.
    * Directed convention: "adjacent to prev" means the DIRECTED edge
    * prev→x (the corpus is a digraph; the undirected variant is the
    * symmetrized projection).
    *
    * Per step: one equi-join frontier×neighbors, one left join against
    * the edge set for the adjacency flag, one windowed cumulative sum
    * partitioned per frontier row — no driver state, no UDF.
    *
    * Deliberately NOT precomputed as a (prev, cur)-keyed candidate
    * table: that table has Σ indeg(c)·outdeg(c) rows, which explodes
    * quadratically on scale-free hubs, while the per-step candidate
    * volume here is bounded by numWalks·|E| regardless of skew.
    */
  def node2vecWalks(nodes: DataFrame, edges: DataFrame, numWalks: Int = 2,
      length: Int = 8, retWeight: Int = 1, adjWeight: Int = 4,
      farWeight: Int = 2,
      localEdgeThreshold: Long =
        graft.core.LocalBudget.MaxSequentialWalkEdges)
      : DataFrame = {
    require(numWalks >= 1 && length >= 1, "numWalks and length must be >= 1")
    require(retWeight >= 1 && adjWeight >= 1 && farWeight >= 1,
      "weights must be positive integers")
    tryLocal(nodes, edges, localEdgeThreshold,
      localNode2vecReference(_, numWalks, length, retWeight, adjWeight,
        farWeight))
      .getOrElse(distributedNode2vec(nodes, edges, numWalks, length,
        retWeight, adjWeight, farWeight))
  }

  private def distributedNode2vec(nodes: DataFrame, edges: DataFrame,
      numWalks: Int, length: Int, retWeight: Int, adjWeight: Int,
      farWeight: Int): DataFrame = Checkpoints.scoped { s =>
    import org.apache.spark.sql.expressions.Window
    val nodeIds = nodes.select(col(nodes.columns(0)).cast("string").as("node"))
      .distinct()
    val e = s.checkpoint(edges
      .select(col(edges.columns(0)).cast("string").as("src"),
        col(edges.columns(1)).cast("string").as("dst")).distinct())
    val walkIds = (0 until numWalks).map(lit(_))
    var frontier = s.checkpoint(nodeIds
      .select(col("node").as("start"),
        explode(array(walkIds: _*)).as("walk"),
        lit("").as("prev"), col("node").as("cur")))
    val levels = scala.collection.mutable.ListBuffer[DataFrame](
      frontier.select(col("start"), col("walk"),
        lit(0).as("step"), col("cur").as("node")))
    for (t <- 1 to length) {
      val cands = frontier
        .join(e, col("cur") === e("src"))
        .select(col("start"), col("walk"), col("prev"), col("cur"),
          col("dst").as("cand"))
      val flagged = cands
        .join(e.select(col("src").as("f_src"), col("dst").as("f_dst"),
          lit(1).as("adj")),
          col("prev") === col("f_src") && col("cand") === col("f_dst"),
          "left_outer")
        .withColumn("w",
          when(col("cand") === col("prev"), lit(retWeight.toLong))
            .when(col("adj") === 1, lit(adjWeight.toLong))
            .otherwise(lit(farWeight.toLong)))
      // cum and tot share ONE window spec (same partition + order, only
      // the frame differs) so Spark computes both in a single sort pass
      val ordered = Window.partitionBy("start", "walk", "cur", "prev")
        .orderBy("cand")
      val cum = sum(col("w")).over(ordered
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
      val tot = sum(col("w")).over(ordered
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
      val key = concat_ws("|", col("start"), col("walk"), lit(t),
        col("cur"), col("prev"))
      val r = conv(substring(md5(key), 1, 8), 16, 10).cast("long") % tot
      frontier = s.checkpoint(flagged
        .withColumn("cum", cum).withColumn("r", r)
        .where(col("r") >= col("cum") - col("w") && col("r") < col("cum"))
        .select(col("start"), col("walk"), col("cur").as("prev"),
          col("cand").as("cur")))
      levels += frontier.select(col("start"), col("walk"),
        lit(t).as("step"), col("cur").as("node"))
    }
    s.checkpoint(levels.reduce(_ union _))
      .select(col("start").as("start_id"), col("walk").as("walk_id"),
        col("step"), col("node").as("node_id"))
  }

  /** Skip-gram (center, context) training pairs from a walk corpus —
    * the step that turns sampled walks into embedding training data
    * (DeepWalk/node2vec §3: walks are sentences, nodes are tokens, the
    * window works exactly like word2vec's). One self-join per walk keyed
    * by (start, walk) with |Δstep| ≤ window, aggregated to
    * (center, context, n_pairs) — counts, not a pair multiset, so the
    * output is order-independent and hash-oracle-able. The join is
    * equi-keyed on the walk id (≤ (length+1)·(2·window) rows per walk),
    * never node-keyed, so walk skew cannot concentrate it.
    */
  def skipGramPairs(walks: DataFrame, window: Int = 2): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val a = walks.select(col("start_id"), col("walk_id"),
      col("step").as("a_step"), col("node_id").as("center"))
    val b = walks.select(col("start_id"), col("walk_id"),
      col("step").as("b_step"), col("node_id").as("context"))
    // When the corpus came from the LOCAL walk twin it is a
    // LocalRelation and therefore driver-bounded BY CONSTRUCTION
    // (LocalBudget admitted the collect) — broadcast that side so the
    // self-join needs no exchange at all and only the final aggregation
    // shuffles (guide §3.1; r16 verdict item 7). A distributed corpus
    // (|V|·W·(L+1) rows — unbounded at scale) keeps the planner's
    // choice.
    val bounded = walks.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    a.join(if (bounded) broadcast(b) else b, Seq("start_id", "walk_id"))
      .filter(col("a_step") =!= col("b_step") &&
        abs(col("a_step") - col("b_step")) <= window)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** First 8 md5 hex digits of `key` as an integer — the engines'
    * `conv(substr(md5(key), 1, 8), 16, 10)`.
    */
  private[algo] def h(key: String): Long =
    java.lang.Long.parseLong(IndependentSet.md5hex(key).take(8), 16)

  /** The walks from every distinct node-frame id over the simple graph
    * `g` (rows ascending: the engines' neighbor order), stopping at dead
    * ends; `step(start, walk, t, prev, cur)` picks the CSR entry of the
    * next hop out of `cur` (prev = -1 on the first step).
    */
  private def walk(g: LocalGraph, numWalks: Int, length: Int)(
      step: (Int, Int, Int, Int, Int) => Int)
      : Set[(String, Int, Int, String)] = {
    val out = scala.collection.mutable.Set.empty[(String, Int, Int, String)]
    for (v <- g.distinctNodes; w <- 0 until numWalks) {
      var prev = -1
      var cur = v
      out += ((g.ids(v), w, 0, g.ids(cur)))
      var t = 1
      while (t <= length && g.offsets(cur + 1) > g.offsets(cur)) {
        val next = g.targets(step(v, w, t, prev, cur))
        prev = cur
        cur = next
        out += ((g.ids(v), w, t, g.ids(cur)))
        t += 1
      }
    }
    out.toSet
  }

  /** In-memory reference of node2vecWalks' exact contract over `g`. */
  private[graft] def localNode2vecReference(g0: LocalGraph,
      numWalks: Int, length: Int,
      retWeight: Int = 1, adjWeight: Int = 4, farWeight: Int = 2)
      : Set[(String, Int, Int, String)] = {
    val g = LocalGraph.directedSimple(g0)
    def adjacent(p: Int, x: Int): Boolean = p >= 0 &&
      java.util.Arrays.binarySearch(g.targets, g.offsets(p),
        g.offsets(p + 1), x) >= 0
    walk(g, numWalks, length) { (v, wk, t, prev, cur) =>
      val from = g.offsets(cur)
      val ws = (from until g.offsets(cur + 1)).map { e =>
        val x = g.targets(e)
        if (x == prev) retWeight.toLong
        else if (adjacent(prev, x)) adjWeight.toLong
        else farWeight.toLong
      }
      val p = if (prev < 0) "" else g.ids(prev)
      val r = h(s"${g.ids(v)}|$wk|$t|${g.ids(cur)}|$p") % ws.sum
      var acc = 0L
      var i = 0
      while (acc + ws(i) <= r) { acc += ws(i); i += 1 }
      from + i
    }
  }

  /** In-memory reference of the same contract for audits over `g`. */
  private[graft] def localReference(g0: LocalGraph, numWalks: Int,
      length: Int): Set[(String, Int, Int, String)] = {
    val g = LocalGraph.directedSimple(g0)
    walk(g, numWalks, length) { (v, w, t, _, cur) =>
      val deg = g.offsets(cur + 1) - g.offsets(cur)
      g.offsets(cur) + (h(s"${g.ids(v)}|$w|$t|${g.ids(cur)}") % deg).toInt
    }
  }
}
