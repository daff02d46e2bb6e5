package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints

/** Betweenness centrality (Brandes) over the canonical source set — the
  * reference platform's gds.betweenness, sampled-source variant (exact
  * betweenness is an all-sources sum; at 100 TB nobody runs |V| SSSPs,
  * and the platform's own sampled mode is the production shape).
  *
  * Hash-oracle-ability is the hard part: Brandes' dependency
  * accumulation divides path counts (σ_sv/σ_sw), and float division +
  * float sums can never hash-match across engines (partial-agg order).
  * The whole recurrence therefore runs in integers (the g11 PageRank /
  * g15 closeness technique):
  *
  *   - σ: shortest-path counts are EXACT integers over the
  *     shortest-path DAG (u→v iff dist(u)+cost = dist(v), exact-double
  *     equality — the identity the relaxation fixpoint establishes,
  *     same as g2's path walk);
  *   - δ: dependencies in MICRO fixed point with floor division,
  *       δ(v) = Σ_{w ∈ succ(v)} (σ_v · (10⁶ + δ(w))) // σ_w
  *     — every operand integer, every sum order-independent, so the
  *     local kernel, the distributed kernel, and the DuckDB oracle
  *     agree bit for bit (audited by tools/betweenness_golden.py);
  *   - bc(v) = Σ_s δ_s(v), v ≠ s — an integer sum over sources.
  *
  * ERROR CONTRACT of the sampled-source variant: the reported quantity
  * is exactly Σ_{s∈S} δ_s(v) — a source-SET betweenness, not a rescaled
  * estimate. With S = V it IS textbook all-sources Brandes in micro
  * units (pinned by GraphAlgoSpec's unique-path fixtures, where σ ≡ 1
  * makes the floor division exact). For S ⊂ V drawn uniformly, the
  * unbiased estimator of full bc is (|V|/|S|)·bc_S(v); since each
  * per-source term lies in [0, 10⁶·(|V|−2)], Hoeffding gives
  * P(|(|V|/|S|)·bc_S − bc| > ε·10⁶·|V|·(|V|−2)) ≤ 2·exp(−2·|S|·ε²)
  * — the Brandes–Pich (2007) bound: |S| = O(log|V|/ε²) sources suffice
  * for ε-relative-to-max accuracy, independent of graph size, which is
  * why sampled-source is the 100 TB shape. The canonical g18 source set
  * is FIXED (not random), so its output is deterministic and the bound
  * above describes how to size S when callers choose their own sample.
  *
  * Adaptive dispatch as everywhere: below the driver edge budget the
  * per-source Brandes passes run locally (Dijkstra + topo sweep per
  * source, O(S·(E + V log V))); above it the distributed path runs the
  * multi-source relaxation kernel for distances, then σ/δ as
  * fixed-round DAG propagations keyed by (source, node) — each round
  * one shuffle join against the DAG edge table, state never larger than
  * (sources × reachable nodes). Rounds are bounded by the max DAG depth
  * (89 on slice 1, audited; pad to 100 like the oracle's chain) — a
  * full recompute per round, so extra rounds past the fixpoint are
  * no-ops, exactly like the relaxation chains.
  */
object Betweenness {

  val Micro: Long = 1_000_000L

  /** (node, bc_micro) for every node in `nodes`. `edges` must be the
    * algorithm projection (src, dst, cost) with positive costs and
    * parallel edges pre-collapsed to min cost.
    */
  def run(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
      sources: Seq[String], maxHops: Int = 100,
      localEdgeThreshold: Long = graft.core.LocalBudget.MaxLocalEdges)
      : DataFrame = Checkpoints.scoped { s =>
    val e = s.cache(edges.select(col("src").cast("string"),
      col("dst").cast("string"), col("cost").cast("double")))
    if (graft.core.LocalBudget.fits(e, localEdgeThreshold)) {
      local(spark, graft.core.LocalBudget.collectLocal(e, Some(nodes),
        Some(col("cost"))), sources)
    } else distributed(s, spark, nodes, e, sources, maxHops)
  }

  /** Per-source Brandes over `g` (its costs are the edge costs): Dijkstra,
    * topological sweep by ascending dist, integer σ forward, micro
    * fixed-point δ backward. Bit-identical to
    * tools/betweenness_golden.py.
    */
  private def local(spark: SparkSession, g: LocalGraph,
      sources: Seq[String]): DataFrame = {
    import spark.implicits._
    val present = g.inNodes
    val srcs = sources.map(g.find)
      .filter(v => v >= 0 && present(v))
    val bc = new Array[Long](g.n)
    // the independent per-source passes parallelize across the cluster
    // exactly like apsp's local mode; driver-side loop is fine at spec
    // scale and keeps the audit 1:1 with the golden script
    srcs.foreach { src =>
      val (dist, _) = LocalKernels.sssp(g, src)
      // reached ids by ascending dist: every shortest-path DAG edge
      // u→v (dist(u)+cost = dist(v), exact double equality) runs
      // forward in this order
      val order = dist.indices.filter(v => !dist(v).isInfinite)
        .sortBy(dist(_)).toArray
      def dag(u: Int)(f: Int => Unit): Unit = {
        var e = g.offsets(u)
        while (e < g.offsets(u + 1)) {
          val v = g.targets(e)
          if (dist(u) + g.costs(e) == dist(v)) f(v)
          e += 1
        }
      }
      val sigma = new Array[Long](g.n)
      sigma(src) = 1L
      order.foreach(u => dag(u)(v => sigma(v) += sigma(u)))
      val delta = new Array[Long](g.n)
      order.reverseIterator.foreach { v =>
        var acc = 0L
        dag(v)(w => acc += (sigma(v) * (Micro + delta(w))) / sigma(w))
        delta(v) = acc
      }
      order.foreach(v => if (v != src) bc(v) += delta(v))
    }
    g.nodes.toSeq.map(v => (g.ids(v), bc(v))).toDF("node", "bc_micro")
  }

  /** Distributed sampled-source Brandes: distances from the relaxation
    * kernel, then σ and δ as fixed-round full-recompute propagations over
    * the (source-keyed) shortest-path DAG.
    */
  private def distributed(s: Checkpoints.Scope, spark: SparkSession,
      nodes: DataFrame, e: DataFrame, sources: Seq[String], maxHops: Int)
      : DataFrame = {
    import spark.implicits._
    val present = nodes.select(col(nodes.columns(0)).cast("string").as("node"))
      .filter(col("node").isin(sources: _*))
      .collect().map(_.getString(0)).toSeq
    val dist = s.checkpoint(s.adopt(DistributedSSSP.run(spark, e, present))
      .select(col("source"), col("nodeId").as("node"), col("dist")))
    // source-keyed shortest-path DAG: u→v iff dist(u)+cost = dist(v)
    val dag = s.checkpoint(dist.select(col("source"), col("node").as("u"),
        col("dist").as("du"))
      .join(e, col("u") === col("src"))
      .join(dist.select(col("source").as("s2"), col("node").as("v"),
        col("dist").as("dv")),
        col("s2") === col("source") && col("v") === col("dst"))
      .filter(col("du") + col("cost") === col("dv"))
      .select(col("source"), col("u"), col("v")))
    val seeds = present.toDF("source")
      .select(col("source"), col("source").as("node"), lit(1L).as("sg"))
    // σ: full recompute per round — σ_k(v) = Σ_preds σ_{k-1}(u), seeds 1.
    // Iterated to FIXPOINT (round k is exact for DAG depth ≤ k; a
    // no-change round proves convergence since each round is a pure
    // function of the last), with maxHops as a hard cap that FAILS
    // loudly — a silently-truncated σ would produce wrong integers.
    // `live` are the frames the steps read besides the iterate
    def toFixpoint(init: DataFrame,
        step: DataFrame => DataFrame,
        key: Seq[String], valCol: String, what: String,
        live: DataFrame*): DataFrame = {
      var cur = s.checkpoint(init)
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < maxHops) {
        iter += 1
        val next = s.checkpoint(step(cur))
        // value diffs on shared keys PLUS newly-reached rows (the σ table
        // grows monotonically as propagation advances; an inner join
        // alone would miss the growth and stop early)
        changed = next.join(
            cur.withColumnRenamed(valCol, "__old"), key)
          .filter(col(valCol) =!= col("__old")).count() +
          math.abs(next.count() - cur.count())
        cur = next
        s.keep(live :+ cur: _*)
      }
      if (changed > 0)
        throw new IllegalStateException(
          s"betweenness $what propagation still changing after $maxHops " +
            "rounds — the shortest-path DAG is deeper than maxHops; " +
            "raise it (rounds past the true depth are no-ops)")
      cur
    }
    val sigma = toFixpoint(seeds, sg => sigmaStep(seeds, dag, sg),
      Seq("source", "node"), "sg", "sigma", dist, dag)
    // δ: δ_k(v) = Σ_succ (σ_v·(M+δ_{k-1}(w))) div σ_w, full recompute
    val delta = toFixpoint(
      dist.select(col("source"), col("node"), lit(0L).as("dl")),
      d => deltaStep(dist, dag, sigma, d), Seq("source", "node"), "dl",
      "delta", dist, dag, sigma)
    s.checkpoint(nodes.select(col(nodes.columns(0)).cast("string").as("node"))
      .join(delta.filter(col("node") =!= col("source"))
          .groupBy("node").agg(sum(col("dl")).as("bc_micro")),
        Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("bc_micro"), lit(0L)).as("bc_micro")))
  }

  private def sigmaStep(seeds: DataFrame, dag: DataFrame,
      sigma: DataFrame): DataFrame =
    seeds.union(
        dag.filter(col("v") =!= col("source"))
          .join(sigma.withColumnRenamed("node", "u"), Seq("source", "u"))
          .groupBy(col("source"), col("v").as("node"))
          .agg(sum(col("sg")).as("sg")))

  private def deltaStep(dist: DataFrame, dag: DataFrame, sigma: DataFrame,
      delta: DataFrame): DataFrame = {
    val contrib = dag
      .join(sigma.select(col("source"), col("node").as("u"),
        col("sg").as("sg_u")), Seq("source", "u"))
      .join(sigma.select(col("source"), col("node").as("v"),
        col("sg").as("sg_v")), Seq("source", "v"))
      .join(delta.select(col("source"), col("node").as("v"),
        col("dl").as("dl_v")), Seq("source", "v"))
      .groupBy(col("source"), col("u").as("node"))
      .agg(sum(expr(s"sg_u * (${Micro}L + dl_v) div sg_v")).as("dl"))
    dist.select("source", "node")
      .join(contrib, Seq("source", "node"), "left_outer")
      .select(col("source"), col("node"),
        coalesce(col("dl"), lit(0L)).as("dl"))
  }
}
