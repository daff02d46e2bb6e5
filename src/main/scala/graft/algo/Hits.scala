package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Checkpoints

/** HITS (hubs & authorities, Kleinberg) over the projected simple
  * digraph — the link-analysis companion to PageRank (`gds.alpha.hits`
  * on the reference's platform), in the same EXACT-integer discipline.
  *
  * Contract: the classic L2 normalization is irrational and can never
  * hash-match across engines, so the pinned semantics are HITS with L1
  * normalization in parts-per-million fixed point: each round
  *
  *   auth_raw(v) = Σ_{u→v} hub(u)          (integer, order-independent)
  *   auth(v)     = (auth_raw(v)·10⁶ div Σ_w auth_raw(w)) · 10⁶
  *   hub_raw(u)  = Σ_{u→v} auth(v)
  *   hub(u)      = (hub_raw(u)·10⁶ div Σ_w hub_raw(w)) · 10⁶
  *
  * for a fixed iteration count. The ppm-then-rescale form is chosen for
  * overflow safety, not convenience: values stay ≤ 10¹² and raws ≤
  * 10¹²·maxdeg, so every product in the recurrence fits a 64-bit long in
  * BOTH engines (raw·10⁶ ≤ 10¹⁸ < 2⁶³) — a direct raw·10¹² div total
  * would overflow BIGINT on Spark while DuckDB silently promoted to
  * HUGEINT, and the two engines would diverge exactly where it matters.
  * L1-vs-L2 changes only the scale of the fixpoint, not the ranking.
  *
  * Degenerate rounds (a raw vector summing to 0 — no edges) keep the
  * previous vector, so the recurrence stays total.
  *
  * Scale shape: two node-keyed join+agg shuffles per round (auth pull,
  * hub pull) + two scalar sums; state is one (node, hub, auth) row per
  * node, localCheckpointed per round; adaptive driver path below the
  * shared 5M-edge budget, pinned bit-equal in GraphAlgoSpec.
  */
object Hits {

  val Mass: Long = 1_000_000_000_000L
  private val Ppm = 1_000_000L

  /** (node, hub_micro, auth_micro) after `iters` rounds. */
  def run(nodes: DataFrame, edges: DataFrame, iters: Int = 10,
      localEdgeThreshold: Long = graft.core.LocalBudget.MaxLocalEdges)
      : DataFrame = Checkpoints.scoped { s =>
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val nodeIds = nodes.select(col(nodes.columns(0)).as("node"))
    val e = s.cache(edges.select(col(edges.columns(0)).as("src"),
      col(edges.columns(1)).as("dst")).distinct())
    if (graft.core.LocalBudget.fits(e, localEdgeThreshold)) {
      localRun(nodes.sparkSession,
        graft.core.LocalBudget.collectLocal(e, Some(nodeIds)), iters)
    } else distributed(s, nodeIds, e, iters)
  }

  /** The distributed rounds over the cached simple edge list `e`. */
  private def distributed(s: Checkpoints.Scope, nodeIds: DataFrame,
      e: DataFrame, iters: Int): DataFrame = {
    val n = nodeIds.count()
    require(n > 0, "empty node set")
    val unit = Mass / n
    var state = s.checkpoint(nodeIds.select(col("node"), lit(unit).as("hub"),
      lit(unit).as("auth")))
    for (_ <- 1 to iters) {
      // auth pull: sum hub over in-edges, ppm-normalize
      val authRaw = e.join(state.select(col("node").as("src"),
          col("hub")), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum("hub").as("raw"))
      val withAuthRaw = s.checkpoint(state
        .join(authRaw, Seq("node"), "left_outer")
        .select(col("node"), col("hub"), col("auth"),
          coalesce(col("raw"), lit(0L)).as("raw")))
      val s1 = withAuthRaw.agg(sum("raw")).head().getLong(0)
      val afterAuth =
        if (s1 == 0L) withAuthRaw.select(col("node"), col("hub"), col("auth"))
        else withAuthRaw.selectExpr("node", "hub",
          s"CAST((raw * $Ppm div $s1) * $Ppm AS BIGINT) AS auth")
      // hub pull: sum the NEW auth over out-edges, ppm-normalize
      val hubRaw = e.join(afterAuth.select(col("node").as("dst"),
          col("auth")), Seq("dst"))
        .groupBy(col("src").as("node")).agg(sum("auth").as("raw"))
      val withHubRaw = s.checkpoint(afterAuth
        .join(hubRaw, Seq("node"), "left_outer")
        .select(col("node"), col("hub"), col("auth"),
          coalesce(col("raw"), lit(0L)).as("raw")))
      val s2 = withHubRaw.agg(sum("raw")).head().getLong(0)
      state = s.checkpoint(
        if (s2 == 0L) withHubRaw.select(col("node"), col("hub"), col("auth"))
        else withHubRaw.selectExpr("node",
          s"CAST((raw * $Ppm div $s2) * $Ppm AS BIGINT) AS hub", "auth"))
      s.keep(e, state)
    }
    state.select(col("node"), col("hub").as("hub_micro"),
      col("auth").as("auth_micro"))
  }

  private[algo] def normScalar(raw: Long, total: Long): Long =
    (raw * Ppm / total) * Ppm

  /** Sequential twin of the distributed recurrence (adaptive path) over
    * the simple digraph `g`: edges touching ids outside the node frame
    * carry nothing, as the distributed joins against the state drop them.
    */
  private def localRun(spark: org.apache.spark.sql.SparkSession,
      g: LocalGraph, iters: Int): DataFrame = {
    import spark.implicits._
    require(g.nodes.nonEmpty, "empty node set")
    val known = g.inNodes
    var hub = Array.fill(g.n)(Mass / g.nodes.length)
    var auth = hub
    // raw sums over known edges, ppm-normalized over the node rows; a
    // zero total keeps the previous vector
    def norm(raw: Array[Long], prev: Array[Long]): Array[Long] = {
      val total = g.nodes.iterator.map(raw(_)).sum
      if (total == 0L) prev else raw.map(normScalar(_, total))
    }
    for (_ <- 1 to iters) {
      val authRaw = new Array[Long](g.n)
      g.foreachEdge((s, d) => if (known(s) && known(d)) authRaw(d) += hub(s))
      auth = norm(authRaw, auth)
      val hubRaw = new Array[Long](g.n)
      g.foreachEdge((s, d) => if (known(s) && known(d)) hubRaw(s) += auth(d))
      hub = norm(hubRaw, hub)
    }
    g.nodes.toSeq.map(v => (g.ids(v), hub(v), auth(v)))
      .toDF("node", "hub_micro", "auth_micro")
  }
}
