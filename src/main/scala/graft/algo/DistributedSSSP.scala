package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints

/** Distributed single/multi-source weighted shortest paths as a
  * driver-orchestrated DataFrame relaxation loop (SURVEY §7.2 kernel):
  *
  * {{{
  * state:    (source, nodeId, dist, pred)   — best known distance
  * frontier: rows improved in the last superstep
  * step:     frontier ⋈ edges on nodeId=src → candidate(dst, dist+cost, src)
  *           merge into state via groupBy(source, nodeId).min(struct)
  * }}}
  *
  * Scale properties:
  *  - each superstep is one shuffled join (frontier × edges, hash on the
  *    join key) plus one aggregation — both partition-parallel, no driver
  *    data movement except the empty-frontier check;
  *  - supersteps = max hop count of any shortest path (graph diameter
  *    bound), independent of data volume per step;
  *  - state/frontier are localCheckpoint'ed EVERY iteration and the
  *    previous incarnation freed — without this the lineage grows
  *    superlinearly and planning dominates (SURVEY §7.5 risk #1);
  *  - multi-source: the same kernel keyed by (source, nodeId) relaxes any
  *    number of sources in one pass — APSP over a source set is one call,
  *    not |sources| jobs.
  *
  * Early exit: with non-negative weights, once the target's current dist ≤
  * min dist in the frontier, no future relaxation can improve it
  * (Dijkstra's settling argument lifted to the frontier level).
  */
object DistributedSSSP {

  /** edges: (src, dst, cost) — use PropertyGraph.projection.
    * Returns (source, nodeId, dist, pred); unreachable nodes are absent.
    *
    * `delta`: optional bucket width for delta-stepping-style scheduling
    * (the reference's `delta: 3.0` knob, neo4j-code.txt:51). With a
    * bucket bound B, only frontier nodes with dist < B relax this
    * superstep; when that set drains, B advances to the next bucket.
    * Near-final distances are then settled before far speculative ones,
    * trading more supersteps for fewer wasted relax-then-improve cycles
    * on wide-weight-range graphs. None = pure frontier Bellman-Ford.
    */
  def run(spark: SparkSession, edges: DataFrame, sources: Seq[String],
      target: Option[String] = None, maxIter: Int = 100000,
      delta: Option[Double] = None,
      bannedEdges: Seq[(String, String)] = Nil,
      bannedNodes: Seq[String] = Nil): DataFrame = Checkpoints.scoped { s =>
    import spark.implicits._

    // Yen spur masks: tiny driver-side sets → broadcast anti-join /
    // isin filter, applied once to the persisted edge set
    val masked0 = edges.select(col("src"), col("dst"), col("cost"))
    val masked1 =
      if (bannedEdges.isEmpty) masked0
      else masked0.join(
        broadcast(bannedEdges.toDF("b_src", "b_dst")),
        col("src") === col("b_src") && col("dst") === col("b_dst"),
        "left_anti")
    val masked2 =
      if (bannedNodes.isEmpty) masked1
      else masked1.filter(!col("src").isin(bannedNodes: _*) &&
        !col("dst").isin(bannedNodes: _*))
    val e = s.cache(masked2)

    var state = s.checkpoint(sources.map(src => (src, src, 0.0, ""))
      .toDF("source", "nodeId", "dist", "pred")
      .repartition(col("nodeId")))
    var frontier = state
    var bound = delta.getOrElse(Double.PositiveInfinity)
    var iter = 0
    var done = false

    while (!done && iter < maxIter) {
      // bucketed scheduling: drain the current bucket before advancing
      val active = delta match {
        case None => frontier
        case Some(d) =>
          var act = frontier.filter(col("dist") < bound)
          if (act.isEmpty) {
            val minRow = frontier.agg(min(col("dist"))).collect().head
            if (!minRow.isNullAt(0)) {
              bound = (math.floor(minRow.getDouble(0) / d) + 1) * d
              act = frontier.filter(col("dist") < bound)
            }
          }
          act
      }
      val cand = active.join(e, active("nodeId") === e("src"))
        .select(col("source"), col("dst").as("nodeId"),
          (col("dist") + col("cost")).as("dist"), col("src").as("pred"))
        .groupBy(col("source"), col("nodeId"))
        .agg(min(struct(col("dist"), col("pred"))).as("s"))
        .select(col("source"), col("nodeId"),
          col("s.dist").as("dist"), col("s.pred").as("pred"))

      val improved = s.checkpoint(cand.join(
          state.select(col("source").as("o_source"),
            col("nodeId").as("o_nodeId"), col("dist").as("o_dist")),
          cand("source") === col("o_source") &&
            cand("nodeId") === col("o_nodeId"), "left_outer")
        .filter(col("o_dist").isNull || col("dist") < col("o_dist"))
        .select(col("source"), col("nodeId"), col("dist"), col("pred")))

      // bucket mode: nodes above the bound stay pending in the frontier
      val newFrontier = delta match {
        case None => improved
        case Some(_) =>
          s.checkpoint(frontier.filter(col("dist") >= bound).union(improved))
      }

      // the final (empty-or-stale) checkpoints fall to the scope's close:
      // Yen runs this kernel K×hops times per query, so per-run leftovers
      // would accumulate
      if (newFrontier.isEmpty) done = true
      else {
        if (improved.count() > 0)
          state = s.checkpoint(state.join(improved.select(
                col("source").as("i_source"), col("nodeId").as("i_nodeId")),
              state("source") === col("i_source") &&
                state("nodeId") === col("i_nodeId"), "left_anti")
            .union(improved))
        frontier = newFrontier
        s.keep(e, state, frontier)
        // frontier-level early exit for SINGLE-source single-target
        // queries only: with multiple sources, min(dist) over all
        // sources' target rows settles once the CLOSEST source reaches
        // the target, which would leave the other sources' target
        // distances non-final
        if (sources.size == 1) target.foreach { tgt =>
          // ONE action for both scalars (crossJoin of two 1-row aggs):
          // the check runs every superstep, and a Yen query runs
          // K×hops spur searches of many supersteps each — at local[32]
          // the saved job submission is the dominant cost, not the scan.
          // frontier is nonempty on this branch, so its min is non-null.
          val row = state.filter(col("nodeId") === tgt)
            .agg(min(col("dist")).as("t"))
            .crossJoin(frontier.agg(min(col("dist")).as("f")))
            .collect().head
          val tDist = if (row.isNullAt(0)) Double.PositiveInfinity
            else row.getDouble(0)
          if (tDist.isFinite && tDist <= row.getDouble(1)) done = true
        }
      }
      iter += 1
    }
    state
  }

  /** Reconstruct the source→target path from the (nodeId, dist, pred)
    * state of a single-source run — WITHOUT ever collecting the state.
    *
    * Backward walk, one lookup job per hop: each step filters the
    * checkpointed state on a single nodeId and collects the ≤1 matching
    * row. Driver memory is O(path length) — at most the graph diameter —
    * never O(|reachable nodes|); on a billion-node graph the former is
    * thousands of rows where a full-state collect OOMs the driver.
    *
    * Cost honesty: each lookup is a map-only pass over the cached state
    * partitions (a checkpoint is a raw RDD scan — no columnar min/max
    * skipping applies), so the walk costs path-hops × one parallel scan,
    * no shuffles. The hops cannot batch — each hop's pred is known only
    * after the previous lookup — and a single full filter pass per hop
    * beats limit(1)'s incremental partition waves (one job, not several,
    * per hop). For diameters where hops × scan dominates, the trade is
    * still the right one: the alternative collect is not slow, it is
    * fatal. A jump-table (pointer-doubling) variant would cut this to
    * log(diameter) passes at the price of log(diameter) full shuffles —
    * strictly worse below diameters of ~10·(shuffle/scan cost ratio).
    */
  def reconstructPath(state: DataFrame, source: String, target: String)
      : Option[(Seq[String], Seq[Double])] = {
    val nodes = scala.collection.mutable.ArrayBuffer.empty[String]
    val dists = scala.collection.mutable.ArrayBuffer.empty[Double]
    val seen = scala.collection.mutable.HashSet.empty[String]
    var cur = target
    while (cur != source) {
      if (!seen.add(cur)) return None // corrupt pred chain (cycle) guard
      val row = state.filter(col("nodeId") === cur)
        .select(col("dist"), col("pred")).collect()
      if (row.isEmpty) return None // target unreachable
      nodes += cur
      dists += row(0).getDouble(0)
      cur = row(0).getString(1)
    }
    nodes += source; dists += 0.0
    Some((nodes.reverse.toSeq, dists.reverse.toSeq))
  }
}
