package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints

/** k-truss decomposition (Cohen 2008) — the standard cohesive-subgraph
  * refinement of k-core: the maximal subgraph in which EVERY edge is
  * supported by ≥ k−2 triangles. Iterative peel: count per-edge
  * triangle support, drop under-supported edges, repeat until stable
  * (dropping an edge can only lower neighbors' support, so the fixpoint
  * is unique and order-independent — which is what makes a truss
  * hash-oracle-able as a fixed-round replay; extra rounds past the
  * fixpoint drop nothing).
  *
  * 100 TB shape per round: triangle enumeration under the same
  * degree-ordered orientation as [[Triangles]] (each triangle found
  * once at its min-(deg, id) apex, wedge volume Σ min(deg)² bounded on
  * skew), one explode to the 3 member edges, one count, one anti-join
  * peel — all (node/edge)-keyed shuffles over a MONOTONICALLY shrinking
  * edge list. Local fast path under the driver budget runs the same
  * peel on adjacency sets.
  */
object Truss {

  /** Surviving canonical edges (src, dst) with src < dst of the k-truss
    * of `edges`' undirected view. `maxRounds` bounds the peel; the run
    * fails loudly if the fixpoint is not reached inside it.
    */
  def truss(spark: SparkSession, edges: DataFrame, k: Int,
      maxRounds: Int = 16,
      localEdgeThreshold: Long = graft.core.LocalBudget.MaxLocalEdges)
      : DataFrame = Checkpoints.scoped { s =>
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    val minSup = k - 2
    val e0 = s.cache(edges.select(col(edges.columns(0)).as("s"),
        col(edges.columns(1)).as("d"))
      .filter(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"),
        greatest(col("s"), col("d")).as("b"))
      .distinct())
    if (graft.core.LocalBudget.fits(e0, localEdgeThreshold)) {
      // ---- local peel on adjacency sets -------------------------------
      val g = graft.core.LocalBudget.collectLocal(e0)
      var es = g.sources.zip(g.targets).toSet
      var r = 0
      var dropped = true
      while (dropped && r < maxRounds) {
        r += 1
        val adj = es.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupMap(_._1)(_._2).map { case (k, vs) => k -> vs.toSet }
        val keep = es.filter { case (a, b) =>
          (adj(a) & adj(b)).size >= minSup
        }
        dropped = keep.size != es.size
        es = keep
      }
      // an empty edge set is trivially the fixpoint even if the budget
      // ended on a dropping round
      if (dropped && es.nonEmpty)
        throw new IllegalStateException(
          s"k-truss (local) did not reach a fixpoint in $maxRounds rounds")
      import spark.implicits._
      es.toSeq.map { case (a, b) => (g.ids(a), g.ids(b)) }.toDF("src", "dst")
    } else peel(s, e0, minSup, maxRounds)
  }

  /** The distributed peel over the cached canonical edge list `e0`. */
  private def peel(s: Checkpoints.Scope, e0: DataFrame, minSup: Int,
      maxRounds: Int): DataFrame = {
    var ue = s.checkpoint(e0)
    s.keep(ue)
    var r = 0
    var droppedN = 1L
    while (droppedN > 0 && r < maxRounds) {
      r += 1
      val before = ue.count()
      // degree-ordered orientation over the CURRENT edge set
      val deg = ue.select(col("a").as("n"))
        .union(ue.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      val withDeg = ue
        .join(deg.select(col("n").as("a"), col("deg").as("da")), Seq("a"))
        .join(deg.select(col("n").as("b"), col("deg").as("db")), Seq("b"))
      val oriented = withDeg.select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("u"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          col("b")).otherwise(col("a")).as("v"))
      // each triangle once at its min-(deg, id) apex u: wedge (u,v),(u,w)
      // with v < w, closed by the undirected edge (v, w)
      val tri = oriented.as("o1")
        .join(oriented.as("o2"),
          col("o1.u") === col("o2.u") && col("o1.v") < col("o2.v"))
        .select(col("o1.u").as("x"), col("o1.v").as("y"),
          col("o2.v").as("z"))
        .join(ue.select(col("a"), col("b")),
          least(col("y"), col("z")) === col("a") &&
            greatest(col("y"), col("z")) === col("b"), "left_semi")
      // distribute each triangle to its 3 canonical member edges
      val support = tri.select(explode(array(
          struct(least(col("x"), col("y")).as("a"),
            greatest(col("x"), col("y")).as("b")),
          struct(least(col("x"), col("z")).as("a"),
            greatest(col("x"), col("z")).as("b")),
          struct(least(col("y"), col("z")).as("a"),
            greatest(col("y"), col("z")).as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("sup"))
      ue = s.fresh(ue.join(support.filter(col("sup") >= minSup)
          .select("a", "b"), Seq("a", "b"), "left_semi"))
      s.keep(ue)
      droppedN = before - ue.count()
    }
    if (droppedN > 0 && ue.count() > 0)
      throw new IllegalStateException(
        s"k-truss did not reach a fixpoint in $maxRounds rounds")
    s.backing(ue).select(col("a").as("src"), col("b").as("dst"))
  }
}
