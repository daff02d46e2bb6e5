package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints

/** Strongly-connected components over the directed property graph — the
  * honest complement to GraphComponents' WCC on the reference corpus
  * (the road network is directed: one-way segments make SCC ≠ WCC).
  * Component label = lexicographic minimum member node id, the same
  * total, engine-portable convention as WCC (VARCHAR min orders byte-wise
  * identically in Spark and the DuckDB oracle), and — unlike the
  * iteration order of any particular algorithm — the OUTPUT is canonical,
  * so the local and distributed kernels and the oracle's reachability
  * closure all agree bit-for-bit.
  *
  * Adaptive dispatch, same policy as GraphComponents/ShortestPaths: a
  * slice whose edge list fits on the driver resolves with one collect +
  * iterative Tarjan (O(V+E), audited against tools/scc_golden.py); above
  * the threshold the distributed path runs FW-BW label refinement — the
  * standard distributed SCC decomposition (Fleischer/Hendrickson/Pınar's
  * divide-and-conquer expressed as min-label coloring, the same scheme
  * GraphX's SCC and the tools/scc_golden.py simulation use):
  *
  *  1. trim: a node with no in-edges or no out-edges in the remaining
  *     subgraph can sit on no cycle → it is its own singleton SCC.
  *     Bounded passes (chains trim O(1) layers per pass, so trimming to
  *     fixpoint would cost O(diameter) rounds for nothing — refinement
  *     below handles what trim leaves);
  *  2. F = per-node min label forward-reachable within the node's current
  *     color class; B = the same backward (min label that reaches the
  *     node). Each is a min-label fixpoint: state is (node, f), one
  *     shuffle join per hop against the remaining edges, localCheckpoint
  *     per step to cut lineage;
  *  3. nodes with F == B are DONE: F(v)=B(v)=m means v⇝m and m⇝v inside
  *     one color class, so v ∈ SCC(m), and all of SCC(m) shares the same
  *     (F, B) (mutually-reachable nodes in one class have identical
  *     reachable sets) — finalize with component = F, remove the nodes,
  *     contract the edge list;
  *  4. survivors refine: color' = (color, F, B) — SCCs are never split
  *     by refinement (same class ⇒ same F/B inside an SCC), classes
  *     strictly shrink, so the loop terminates; real graphs converge in
  *     a handful of outer rounds (slice 1: 2).
  *
  * 100 TB shape: nothing node- or edge-scale ever collects on this path;
  * per-round state is one (node, color, f, b) table and the contracted
  * edge list, both shuffle-partitioned by node id; finalized SCCs leave
  * the working set, so the tables shrink monotonically — the giant-SCC
  * core of a web/social graph finalizes in round 1 (F=B=global min label
  * inside it) and later rounds run on the small periphery.
  */
object StronglyConnected {

  /** (node, component) for every node in `nodes`; `edges` is directed
    * (src, dst); parallel edges and self-loops are tolerated. Isolated
    * nodes become singleton components.
    */
  def scc(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
      maxOuter: Int = 30,
      localEdgeThreshold: Long = graft.core.LocalBudget.MaxLocalEdges)
      : DataFrame = Checkpoints.scoped { s =>
    val e = s.cache(edges.select(col(edges.columns(0)).cast("string").as("src"),
        col(edges.columns(1)).cast("string").as("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    if (graft.core.LocalBudget.fits(e, localEdgeThreshold)) {
      localTarjan(spark, graft.core.LocalBudget.collectLocal(e, Some(nodes)))
    } else distributed(s, spark, nodes, e, maxOuter)
  }

  /** Iterative Tarjan (explicit work stack — recursion would blow the JVM
    * stack on deep road-network chains), labeling each SCC by its min
    * member. Mirrors the independent tools/scc_golden.py audit.
    */
  private def localTarjan(spark: SparkSession, g: LocalGraph): DataFrame = {
    import spark.implicits._
    val index = Array.fill(g.n)(-1)
    val low = new Array[Int](g.n)
    val label = Array.fill(g.n)(-1) // set when popped: on stack ⇔ indexed, unlabeled
    val next = new Array[Int](g.n)  // each open node's next CSR edge
    val stack = scala.collection.mutable.ArrayBuffer.empty[Int]
    val work = scala.collection.mutable.ArrayBuffer.empty[Int] // the DFS path
    var counter = 0
    def open(v: Int): Unit = {
      index(v) = counter; low(v) = counter; counter += 1
      next(v) = g.offsets(v); stack += v; work += v
    }
    g.nodes.foreach { root =>
      if (index(root) < 0) open(root)
      while (work.nonEmpty) {
        val v = work.last
        if (next(v) < g.offsets(v + 1)) {
          val w = g.targets(next(v))
          next(v) += 1
          if (index(w) < 0) open(w)
          else if (label(w) < 0) low(v) = math.min(low(v), index(w))
        } else {
          work.remove(work.length - 1)
          if (work.nonEmpty) low(work.last) = math.min(low(work.last), low(v))
          if (low(v) == index(v)) {
            val comp = stack.drop(stack.lastIndexOf(v))
            stack.dropRightInPlace(comp.length)
            val m = comp.min
            comp.foreach(label(_) = m)
          }
        }
      }
    }
    g.nodes.toSeq.map(v => (g.ids(v), g.ids(label(v))))
      .toDF("node", "component")
  }

  /** FW-BW min-label refinement; `e` is the deduped loop-free edge set
    * (already cached by the caller).
    */
  private def distributed(s: Checkpoints.Scope, spark: SparkSession,
      nodes: DataFrame, e: DataFrame, maxOuter: Int): DataFrame = {
    // active = (node, color); survivors of each round refine their color
    var active = s.checkpoint(nodes
      .select(col(nodes.columns(0)).cast("string").as("node"))
      .withColumn("color", lit("")))
    var cedges = s.checkpoint(e)
    s.keep(active, cedges)
    var done: Option[DataFrame] = None // accumulated (node, component)
    // checkpointed so the union chain never grows a lineage
    def append(part: DataFrame): Unit =
      done = Some(s.checkpoint(done.fold(part)(_.union(part))))
    // the edges with both endpoints still active
    def restrict(): Unit = {
      val live = active.select("node")
      cedges = s.checkpoint(cedges
        .join(live.withColumnRenamed("node", "src"), Seq("src"))
        .join(live.withColumnRenamed("node", "dst"), Seq("dst"))
        .select("src", "dst"))
    }
    var converged = false
    var iter = 0
    while (!converged && iter < maxOuter) {
      iter += 1
      // --- 1. bounded trim passes -------------------------------------
      var trimPass = 0
      var trimmedAny = true
      while (trimmedAny && trimPass < 2) {
        trimPass += 1
        val hasOut = cedges.select(col("src").as("node")).distinct()
        val hasIn = cedges.select(col("dst").as("node")).distinct()
        val trimmed = s.checkpoint(active.select("node")
          .except(hasOut.intersect(hasIn))
          .withColumn("component", col("node")))
        trimmedAny = trimmed.count() > 0
        if (trimmedAny) {
          append(trimmed)
          active = s.checkpoint(active.join(trimmed.select("node"),
            Seq("node"), "left_anti"))
          restrict()
        }
        s.keep(Seq(active, cedges) ++ done: _*)
      }
      converged = active.isEmpty
      if (!converged) {
        // --- 2. F and B min-label fixpoints within color classes ------
        // edges restricted to same-color endpoints once per round
        val colored = s.checkpoint(cedges
          .join(active.withColumnRenamed("node", "src")
            .withColumnRenamed("color", "c_src"), Seq("src"))
          .join(active.withColumnRenamed("node", "dst")
            .withColumnRenamed("color", "c_dst"), Seq("dst"))
          .filter(col("c_src") === col("c_dst"))
          .select("src", "dst"))
        val f = s.adopt(fixpoint(active.select(col("node"),
          col("node").as("lbl")), colored, forward = true))
        val b = s.adopt(fixpoint(active.select(col("node"),
          col("node").as("lbl")), colored, forward = false))
        val fb = s.checkpoint(active
          .join(f.withColumnRenamed("lbl", "f"), Seq("node"))
          .join(b.withColumnRenamed("lbl", "b"), Seq("node")))
        // --- 3. finalize converged nodes ------------------------------
        append(s.checkpoint(fb.filter(col("f") === col("b"))
          .select(col("node"), col("f").as("component"))))
        active = s.checkpoint(fb.filter(col("f") =!= col("b"))
          .select(col("node"),
            concat_ws("|", col("color"), col("f"), col("b")).as("color")))
        converged = active.isEmpty
        if (!converged) restrict()
        s.keep(Seq(active, cedges) ++ done: _*)
      }
    }
    if (!converged)
      throw new IllegalStateException(
        s"scc did not converge within $maxOuter refinement rounds — " +
          "FW-BW refinement strictly splits classes each round, so " +
          "hitting this bound indicates a pathological input")
    // empty node set: nothing was ever trimmed or finalized, so no
    // batch reached `done` — return an empty, correctly-typed frame
    // instead of null (callers .select on the result)
    done.getOrElse {
      import spark.implicits._
      Seq.empty[(String, String)].toDF("node", "component")
    }
  }

  /** Min-label reachability fixpoint: lbl(v) ← min over the forward
    * (src→dst pulls from dst) or backward (dst pulls from src) neighbor
    * labels, iterated to convergence. One shuffle join per hop; the
    * iterated state is exactly |active| rows.
    */
  private def fixpoint(init: DataFrame, edges: DataFrame,
      forward: Boolean): DataFrame = Checkpoints.scoped { s =>
    val (from, to) = if (forward) ("dst", "src") else ("src", "dst")
    var cur = s.checkpoint(init)
    var changed = 1L
    while (changed > 0) {
      val pulled = edges
        .join(cur.withColumnRenamed("node", from)
          .withColumnRenamed("lbl", "n_lbl"), Seq(from))
        .groupBy(col(to).as("node")).agg(min(col("n_lbl")).as("n_lbl"))
      val next = s.checkpoint(cur.join(pulled, Seq("node"), "left_outer")
        .select(col("node"),
          least(col("lbl"), coalesce(col("n_lbl"), col("lbl"))).as("lbl")))
      changed = next.join(cur.withColumnRenamed("lbl", "old"), Seq("node"))
        .filter(col("lbl") =!= col("old")).count()
      cur = next
      s.keep(cur)
    }
    cur
  }
}
