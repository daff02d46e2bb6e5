package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints

/** Node-embedding training over a skip-gram pair table — the stage that
  * turns RandomWalks.skipGramPairs' (center, context, n_pairs) corpus
  * into per-node vectors, completing the DeepWalk/node2vec pipeline
  * (walks → windows → embeddings; the reference's platform ships this
  * as the train mode of `gds.node2vec`, the library behind
  * `neo4j-code.txt:4-11`).
  *
  * Why not float SGD: word2vec-style training is a stream of tiny
  * non-commutative float updates — result depends on update order and
  * thread interleaving, so no two runs agree, let alone two engines. The
  * hash-oracle-able formulation used here is CLOSED-FORM-PER-EPOCH
  * fixed-point iteration: each epoch every center vector moves toward
  * the n_pairs-weighted integer mean of its context vectors,
  *
  *   em'(v,k) = (7·em(v,k) + 3·(Σ n_pairs·em(c,k) div Σ n_pairs)) div 10
  *
  * with all state held as nonnegative integers below a prime modulus.
  * Every sum is order-independent, every division is on nonnegative
  * operands (so truncating and floor division agree across engines),
  * and the fixed epoch count is part of the contract — the DataFrame
  * loop and a DuckDB chained CTE compute the identical table. The
  * fixpoint this iterates is the skip-gram co-occurrence smoother:
  * nodes sharing walk contexts (same community) converge toward a
  * common point, nodes that never co-occur keep independent
  * pseudo-random positions — exactly the geometry skip-gram SGD is
  * trained to produce, in an arithmetic both engines reproduce bit for
  * bit. Init is the corpus' fixed-randomness convention (the md5 family
  * of RandomWalks): em0(v,k) = H(v|k) mod M, H = first 8 md5 hex
  * digits — deterministic, id-type-agnostic, cross-engine.
  *
  * Scale shape: state is |V|·d rows; each epoch is one equi-join of the
  * pair table with the embedding state keyed by context node + one
  * (center, dim) aggregation + one join back — the PageRank superstep
  * pattern with a d-row fanout. The pair-total table is computed once.
  * localCheckpoint cuts lineage per epoch; nothing corpus-sized reaches
  * the driver on the distributed path. The adaptive local twin (shared
  * core.LocalBudget byte guard) runs the identical recurrence
  * sequentially for driver-sized corpora, pinned bit-equal in
  * GraphAlgoSpec.
  */
object EmbeddingTrain {

  /** Prime modulus: init values spread uniformly in [0, M); the update
    * is a convex integer combination so every epoch stays in [0, M).
    */
  val Modulus: Long = 999983L

  /** (node, dim, val) after `epochs` epochs. `nodes` is a one-column
    * node-id frame (every node gets a vector — nodes without pairs keep
    * their init vector); `pairs` is (center, context, n_pairs) with
    * center/context drawn from the node set.
    */
  def train(nodes: DataFrame, pairs: DataFrame, dims: Int = 4,
      epochs: Int = 6,
      localPairThreshold: Long = graft.core.LocalBudget.MaxLocalEdges)
      : DataFrame = Checkpoints.scoped { s =>
    require(dims >= 1 && epochs >= 0, "dims >= 1 and epochs >= 0")
    val nd = nodes.select(col(nodes.columns(0)).cast("string").as("node"))
    val p = s.cache(pairs.select(col(pairs.columns(0)).cast("string").as("center"),
      col(pairs.columns(1)).cast("string").as("context"),
      col(pairs.columns(2)).cast("long").as("n_pairs")))
    if (graft.core.LocalBudget.fits(p, localPairThreshold)) {
      localTrain(nodes.sparkSession, graft.core.LocalBudget.collectLocal(p,
        Some(nd), Some(col("n_pairs"))), dims, epochs)
    } else distributed(s, nd, p, dims, epochs)
  }

  /** The distributed epochs over the cached pair table `p`. */
  private def distributed(s: Checkpoints.Scope, nd: DataFrame, p: DataFrame,
      dims: Int, epochs: Int): DataFrame = {
    val dimLits = (0 until dims).map(lit(_))
    var em = s.checkpoint(nd
      .select(col("node"), explode(array(dimLits: _*)).as("dim"))
      .withColumn("val",
        conv(substring(md5(concat_ws("|", col("node"), col("dim"))), 1, 8),
          16, 10).cast("long") % Modulus))
    val tot = s.checkpoint(p.groupBy("center").agg(sum("n_pairs").as("n_tot")))
    for (_ <- 1 to epochs) {
      val ctx = p
        .join(em.select(col("node").as("context"), col("dim"), col("val")),
          Seq("context"))
        .groupBy(col("center"), col("dim"))
        .agg(sum(col("n_pairs") * col("val")).as("cs"))
      em = s.checkpoint(em
        .join(ctx.withColumnRenamed("center", "node"), Seq("node", "dim"),
          "left_outer")
        .join(tot.withColumnRenamed("center", "node"), Seq("node"),
          "left_outer")
        .selectExpr("node", "dim",
          "CAST(CASE WHEN n_tot IS NULL OR n_tot = 0 THEN val " +
            "ELSE (7 * val + 3 * (coalesce(cs, CAST(0 AS BIGINT))" +
            " div n_tot)) div 10 END AS BIGINT) AS val"))
      s.keep(p, tot, em)
    }
    em.select(col("node"), col("dim"), col("val"))
  }

  /** Sequential twin of the distributed recurrence (adaptive path) over
    * the pair graph `g` (center → context, costs = n_pairs) — identical
    * md5 init and integer update, pinned bit-equal in GraphAlgoSpec.
    */
  private[graft] def localTrain(spark: SparkSession, g: LocalGraph,
      dims: Int, epochs: Int): DataFrame = {
    import spark.implicits._
    val known = g.inNodes
    var em = Array.tabulate(g.n, dims)((v, k) =>
      if (known(v)) RandomWalks.h(s"${g.ids(v)}|$k") % Modulus else 0L)
    // context lookups mirror the distributed inner join: a context
    // outside the node frame contributes nothing, but its n_pairs still
    // lands in the center's total (tot is computed over ALL pairs)
    val (src, pairs) = (g.sources, g.costs.map(_.toLong))
    val tot = new Array[Long](g.n)
    src.indices.foreach(e => tot(src(e)) += pairs(e))
    for (_ <- 1 to epochs) {
      val cs = Array.ofDim[Long](g.n, dims)
      src.indices.foreach { e =>
        val x = g.targets(e)
        if (known(x)) for (k <- 0 until dims) cs(src(e))(k) += pairs(e) * em(x)(k)
      }
      val old = em
      em = Array.tabulate(g.n, dims)((v, k) =>
        if (known(v) && tot(v) > 0) (7L * old(v)(k) + 3L * (cs(v)(k) / tot(v))) / 10L
        else old(v)(k))
    }
    (for (v <- g.nodes; k <- 0 until dims) yield (g.ids(v), k, em(v)(k)))
      .toSeq.toDF("node", "dim", "val")
  }
}
