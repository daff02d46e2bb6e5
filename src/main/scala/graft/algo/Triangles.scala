package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Checkpoints

/** Exact per-node triangle counting — the graph-library clustering
  * primitive alongside WCC/PageRank (the reference's platform ships it
  * as `gds.triangleCount`).
  *
  * Formulation: degree-ordered orientation (the node-iterator++ scheme
  * of Schank's thesis, the standard distributed-triangle bound): the
  * undirected simple graph is oriented from the (degree, id)-smaller
  * endpoint to the larger, making the oriented out-degree O(√m) on any
  * graph. Wedges are pairs of oriented out-edges (u→v, u→w, v < w);
  * a wedge closes iff the canonical undirected edge {v, w} exists. Each
  * triangle is found EXACTLY once (at its unique minimum-(degree, id)
  * apex), then credited to all three corners.
  *
  * Scale: the wedge join is self-equi on the apex — the hot side is
  * bounded by the orientation (Σ outdeg² ≤ m^1.5, vs Σ deg² unbounded
  * under skew for the naive orientation); the closure check is an
  * equi-join against the edge list; per-node credit is an explode +
  * count. All shuffles are key-hashed equi-joins AQE can size. No
  * driver materialization at any step.
  *
  * Returns (node, n_triangles) covering EVERY node in `nodes` (zeros
  * included) — integer counts, hash-oracle-able as-is.
  */
object Triangles {

  /** Below the driver budget the wedge enumeration runs on the driver
    * over adjacency sets (Σ outdeg² work, milliseconds at reference
    * scale); above it the distributed plan runs. GraphAlgoSpec pins the
    * paths equal; the distributed one matched a driver brute force at 2M
    * edges (notes/distributed_scale_r13.md).
    */
  def perNode(nodes: DataFrame, edges: DataFrame,
      localEdgeThreshold: Long = graft.core.LocalBudget.MaxLocalEdges)
      : DataFrame = Checkpoints.scoped { s =>
    val e = edges.select(col(edges.columns(0)).as("s"),
      col(edges.columns(1)).as("d"))
    // canonical undirected simple edges {a < b}
    val und = s.cache(e.filter(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"),
        greatest(col("s"), col("d")).as("b"))
      .distinct())
    if (graft.core.LocalBudget.fits(und, localEdgeThreshold)) {
      val g = graft.core.LocalBudget.collectLocal(und, Some(nodes))
      val adj = LocalGraph.undirected(g)
      val cnt = new Array[Long](g.n)
      // each triangle u < v < w once: mark u's higher neighbors, then
      // close every wedge u–v–w with w above v
      val mark = Array.fill(g.n)(-1)
      for (u <- 0 until g.n) {
        val up = adj.targets.slice(adj.offsets(u), adj.offsets(u + 1)).filter(_ > u)
        up.foreach(mark(_) = u)
        for (v <- up; e <- adj.offsets(v) until adj.offsets(v + 1)) {
          val w = adj.targets(e)
          if (w > v && mark(w) == u) { cnt(u) += 1; cnt(v) += 1; cnt(w) += 1 }
        }
      }
      val spark = nodes.sparkSession
      import spark.implicits._
      g.nodes.map(v => (g.ids(v), cnt(v))).toSeq
        .toDF("node", "n_triangles")
    } else distributed(s, nodes, und)
  }

  /** The distributed count over the cached canonical edge list `und`:
    * orient each edge from its (deg, id)-smaller endpoint, then close
    * wedges at their apex.
    */
  private def distributed(s: Checkpoints.Scope, nodes: DataFrame,
      und: DataFrame): DataFrame = {
    val deg = und.select(col("a").as("n"))
      .union(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    // orient from the (deg, id)-smaller endpoint
    val withDeg = und
      .join(deg.select(col("n").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("deg").as("db")), Seq("b"))
    val oriented = s.cache(withDeg.select(
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("o"))
      .select(col("o.u").as("u"), col("o.v").as("v")))
    // wedges at apex u close into triangles via the canonical edge {v, w}
    val wedges = oriented.as("o1")
      .join(oriented.select(col("u").as("u2"), col("v").as("w")),
        col("u") === col("u2"))
      .filter(col("v") < col("w"))
      .select(col("u"), col("v"), col("w"))
    val tris = wedges.join(und,
      col("a") === col("v") && col("b") === col("w"))
      .select(col("u"), col("v"), col("w"))
    // node-scale result; materialized eagerly so the two cached
    // intermediates free before the caller consumes the output
    val credit = s.checkpoint(tris.select(explode(array(col("u"), col("v"),
        col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles")))
    nodes.select(col(nodes.columns(0)).as("node"))
      .join(credit, Seq("node"), "left_outer")
      .select(col("node"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Fold a delta of TRULY-NEW canonical undirected simple edges into
    * standing per-node counts (incremental maintenance, the g46 query's
    * kernel). `base` must be [[perNode]]'s output over exactly `undOld`;
    * `undNew` must be canonical (a < b, no self loops) and DISJOINT from
    * `undOld` (anti-join first — a re-sent edge creates no triangles).
    *
    * Exact by decomposition: a triangle of the updated graph either
    * avoids the delta (counted in `base`) or contains ≥1 new edge — and
    * every such triangle is enumerable from any of its new edges as a
    * common neighbor of that edge's endpoints in the UPDATED graph; the
    * distinct on the sorted triple de-multiplies triangles with 2–3 new
    * edges. Work ∝ Σ_(new edge) |N(a) ∩ N(b)| — delta-proportional,
    * never a recount of the standing graph; all joins are node-keyed
    * equi joins AQE can size.
    */
  def foldDelta(base: DataFrame, undOld: DataFrame,
      undNew: DataFrame): DataFrame = {
    def canon(df: DataFrame) = df.select(
      col(df.columns(0)).as("a"), col(df.columns(1)).as("b"))
    val full = canon(undOld).unionByName(canon(undNew))
    val adj = full.select(col("a").as("u"), col("b").as("v"))
      .unionByName(full.select(col("b").as("u"), col("a").as("v")))
    val triples = canon(undNew).as("d")
      .join(adj.as("p"), col("d.a") === col("p.u"))
      .join(adj.as("q"),
        col("d.b") === col("q.u") && col("p.v") === col("q.v"))
      .select(sort_array(array(col("d.a"), col("d.b"), col("p.v")))
        .as("tri"))
      .distinct()
    val deltaCounts = triples
      .select(explode(col("tri")).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("dn"))
    // full-outer guard: `base` is documented to be perNode's zero-filled
    // full-node output, but if a caller ever passes a narrower frame,
    // delta credits for nodes absent from it must surface, not silently
    // drop
    base.join(deltaCounts, Seq("node"), "full_outer")
      .select(col("node"),
        (coalesce(col("n_triangles"), lit(0L)) +
          coalesce(col("dn"), lit(0L))).as("n_triangles"))
  }

  /** Per-node counts of `undOld ∪ undNew` computed incrementally:
    * base counts on the standing graph + [[foldDelta]] of the delta.
    */
  def incrementalPerNode(nodes: DataFrame, undOld: DataFrame,
      undNew: DataFrame,
      localEdgeThreshold: Long = graft.core.LocalBudget.MaxLocalEdges)
      : DataFrame =
    foldDelta(perNode(nodes, undOld, localEdgeThreshold), undOld, undNew)
}
