package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints

/** Maximal independent set by Luby's algorithm (1986) — the classic
  * symmetry-breaking primitive (conflict-free scheduling, graph
  * coloring's first layer, parallel greedy matching's dual; reference
  * scope: the GDS algorithm-library workflow of neo4j-code.txt).
  *
  * Determinism contract: round-r priorities are md5(r ++ ":" ++ node) —
  * re-randomized per round as Luby requires, but from a hash both
  * engines share, so the entire run replays as a fixed-round SQL chain
  * and the RESULT hash-verifies (the g21 walk-chain idiom applied to a
  * symmetry-breaking loop). A node joins the MIS when its (priority,
  * id) pair beats every undecided neighbor's; winners' neighborhoods
  * are excluded; the undecided subgraph contracts. Each round kills a
  * constant fraction of edges in expectation → O(log n) rounds (slice 1
  * finishes in 3; the fixed budget pads to 8 — exhausted-input rounds
  * are no-ops, and the run fails loudly if the budget is ever short).
  *
  * 100 TB shape: per round, two node-keyed joins over the SHRINKING
  * undecided edge list and anti-joins over the undecided node set —
  * nothing collects, no global window; localCheckpoints cut lineage.
  */
object IndependentSet {

  /** Spark md5() of a UTF-8 string as the lowercase hex the SQL oracles
    * compare — local twin of the distributed priority column. One
    * thread-local digest (MessageDigest is stateful, and the local
    * twins call this per node per round).
    */
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val HexChars = "0123456789abcdef".toCharArray

  private[algo] def md5hex(s: String): String = {
    val md = digest.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** The luby recurrence on the driver's symmetric simple graph `adj`
    * over the ids `active` marks — bit-equal to the distributed rounds by
    * construction (same priorities, same winner rule; Int order is the
    * engines' id order). Shared by the local fast path and
    * [[Coloring]]'s layered local path. Returns the MIS membership mask.
    */
  private[algo] def lubyLocal(adj: LocalGraph, active: Array[Boolean],
      rounds: Int): Array[Boolean] = {
    val und = active.clone()
    val mis = new Array[Boolean](adj.n)
    val pr = new Array[String](adj.n)
    var remaining = und.count(identity)
    var r = 0
    while (r < rounds && remaining > 0) {
      r += 1
      val live = und.indices.filter(und(_))
      live.foreach(v => pr(v) = md5hex(s"$r:${adj.ids(v)}"))
      // v wins when its (priority, id) pair beats every undecided neighbor's
      val cand = live.filter(v => (adj.offsets(v) until adj.offsets(v + 1))
        .forall { e =>
          val u = adj.targets(e)
          !und(u) || { val c = pr(v).compareTo(pr(u)); c > 0 || (c == 0 && v > u) }
        })
      cand.foreach { v =>
        mis(v) = true
        und(v) = false
        (adj.offsets(v) until adj.offsets(v + 1)).foreach(e => und(adj.targets(e)) = false)
      }
      remaining = und.count(identity)
    }
    if (remaining > 0)
      throw new IllegalStateException(
        s"luby (local) did not decide $remaining nodes within $rounds " +
          "rounds")
    mis
  }

  /** (node, in_mis 1|0) for every node in `nodes`; `edges` is directed
    * (src, dst), symmetrized internally, self-loops dropped. Isolated
    * nodes enter the MIS in round 1 (no undecided neighbor beats them).
    * Under the shared LocalBudget gate the identical recurrence runs on
    * local adjacency.
    */
  def luby(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
      rounds: Int = 8,
      localEdgeThreshold: Long = graft.core.LocalBudget.MaxLocalEdges)
      : DataFrame = Checkpoints.scoped { s =>
    val allNodes = nodes.select(col(nodes.columns(0)).as("node"))
    val e0 = s.cache(edges.select(col(edges.columns(0)).as("a"),
        col(edges.columns(1)).as("b")))
    if (graft.core.LocalBudget.fits(e0, localEdgeThreshold)) {
      val g = graft.core.LocalBudget.collectLocal(e0, Some(allNodes))
      val mis = lubyLocal(LocalGraph.undirected(g), g.inNodes, rounds)
      import spark.implicits._
      g.nodes.map(v => (g.ids(v), if (mis(v)) 1L else 0L)).toSeq
        .toDF("node", "in_mis")
    } else {
      var und = s.checkpoint(allNodes)
      var ue = s.checkpoint(e0.union(e0.select(col("b").as("a"), col("a").as("b")))
        .filter(col("a") =!= col("b")).distinct())
      s.keep(und, ue)
      var misAcc: Option[DataFrame] = None
      // early exit once nothing is undecided: later rounds are provably
      // no-ops (empty cand/excl), so the result is identical to running
      // the full budget — the SQL replay keeps its fixed rounds
      var remaining = und.count()
      var r = 0
      while (r < rounds && remaining > 0) {
        r += 1
        val pr = und.select(col("node"),
          md5(concat(lit(s"$r:"), col("node"))).as("p"))
        // a node loses when ANY undecided neighbor's (priority, id) pair
        // beats its own — strict: the pairs are distinct by the id field
        val losers = ue
          .join(pr.select(col("node").as("a"), col("p").as("pa")), Seq("a"))
          .join(pr.select(col("node").as("b"), col("p").as("pb")), Seq("b"))
          .filter(struct(col("pb"), col("b")) > struct(col("pa"), col("a")))
          .select(col("a").as("node")).distinct()
        val cand = s.fresh(und.join(losers, Seq("node"), "left_anti"))
        val excl = ue.join(cand.select(col("node").as("b")), Seq("b"))
          .select(col("a").as("node")).distinct()
        und = s.fresh(und.join(cand, Seq("node"), "left_anti")
          .join(excl, Seq("node"), "left_anti"))
        ue = s.fresh(ue
          .join(und.select(col("node").as("a")), Seq("a"), "left_semi")
          .join(und.select(col("node").as("b")), Seq("b"), "left_semi")
          .select(col("a"), col("b")))
        misAcc = Some(misAcc.fold(s.backing(cand))(acc =>
          s.checkpoint(acc.union(cand))))
        s.keep(und, ue, misAcc.get)
        remaining = und.count()
      }
      if (remaining > 0)
        throw new IllegalStateException(
          s"luby did not decide $remaining nodes within $rounds rounds; " +
            "raise the budget (each round kills a constant edge fraction " +
            "in expectation, so this signals a pathological input)")
      allNodes.join(misAcc.get.withColumn("in_mis", lit(1L)), Seq("node"),
          "left_outer")
        .select(col("node"), coalesce(col("in_mis"), lit(0L)).as("in_mis"))
    }
  }
}
