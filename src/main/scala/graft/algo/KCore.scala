package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints

/** k-core decomposition (membership + in-core degree for a fixed k) —
  * the reference platform's `gds.kcore` family: iteratively peel nodes
  * of undirected-simple degree < k until the residual graph is stable;
  * the survivors are the k-core.
  *
  * Adaptive dispatch like every other kernel: driver peeling below the
  * edge threshold; above it, each distributed round is one degree
  * aggregation plus two anti-joins that drop edges touching peeled
  * nodes (the peeled set shrinks round over round and broadcasts).
  * Round count equals the peel depth — small on real graphs (9 on the
  * reference network), but degenerate chains peel O(n) rounds, which is
  * inherent to k-core (the decomposition is P-complete); `maxIter`
  * bounds the loop and the local path covers every graph that fits on
  * the driver.
  */
object KCore {

  /** (node, core_degree) for every member of the k-core of the
    * undirected simple projection of `edges`.
    */
  def core(spark: SparkSession, edges: DataFrame, k: Int = 2,
      maxIter: Int = 100,
      localEdgeThreshold: Long = graft.core.LocalBudget.MaxLocalEdges)
      : DataFrame = Checkpoints.scoped { s =>
    require(k >= 1, s"k must be >= 1, got $k")
    val e = edges.select(col(edges.columns(0)).as("s"),
      col(edges.columns(1)).as("d"))
    var und = s.checkpoint(e.filter(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"),
        greatest(col("s"), col("d")).as("b"))
      .distinct())
    if (graft.core.LocalBudget.fits(und, localEdgeThreshold)) {
      val adj = LocalGraph.undirected(graft.core.LocalBudget.collectLocal(und))
      val deg = Array.tabulate(adj.n)(v => adj.offsets(v + 1) - adj.offsets(v))
      val alive = Array.fill(adj.n)(true)
      // peel to the fixpoint: a node leaves once its live degree is < k
      var peel = deg.indices.filter(deg(_) < k)
      while (peel.nonEmpty) {
        peel.foreach(alive(_) = false)
        peel = peel.flatMap(v => adj.targets.slice(adj.offsets(v), adj.offsets(v + 1)))
          .filter(u => alive(u) && { deg(u) -= 1; deg(u) == k - 1 })
      }
      import spark.implicits._
      deg.indices.filter(alive).map(v => (adj.ids(v), deg(v).toLong))
        .toDF("node", "core_degree")
    } else {
      var iter = 0
      var changed = 1L
      var nEdges = und.count()
      while (changed > 0 && iter < maxIter) {
        val deg = und.select(col("a").as("n"))
          .union(und.select(col("b").as("n")))
          .groupBy("n").agg(count(lit(1)).as("dg"))
        val peeled = deg.filter(col("dg") < k).select(col("n"))
        und = s.checkpoint(und
          .join(peeled.select(col("n").as("a")), Seq("a"), "left_anti")
          .join(peeled.select(col("n").as("b")), Seq("b"), "left_anti")
          .select(col("a"), col("b")))
        val nNext = und.count()
        changed = nEdges - nNext
        nEdges = nNext
        s.keep(und)
        iter += 1
      }
      if (changed > 0)
        throw new IllegalStateException(
          s"k-core peel did not converge within $maxIter rounds " +
            s"(last round removed $changed edges); raise maxIter — " +
            "peel depth is graph-inherent (chains peel O(n) rounds), and " +
            "a partial residual graph is NOT the k-core")
      s.checkpoint(und.select(col("a").as("node"))
        .union(und.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("core_degree")))
    }
  }
}
