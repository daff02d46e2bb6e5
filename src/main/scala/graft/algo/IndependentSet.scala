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

  /** UTF-8 binary string order — what Spark's UTF8String comparison and
    * DuckDB both use. Java String.compareTo is UTF-16 code-unit order,
    * which DIVERGES for supplementary-plane characters, so every local
    * twin tie-break goes through this ordering to keep the
    * local ≡ distributed ≡ SQL contract total (benign for ASCII ids,
    * load-bearing the day ids stop being ASCII).
    */
  private[algo] val Utf8Order: Ordering[String] = new Ordering[String] {
    def compare(x: String, y: String): Int = {
      val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val c = (a(i) & 0xff) - (b(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      a.length - b.length
    }
  }

  /** The luby recurrence on driver-local adjacency — bit-equal to the
    * distributed rounds by construction (same priorities, same winner
    * rule). Shared by the local fast path and [[Coloring]]'s layered
    * local path.
    */
  /** Symmetric adjacency sets of `pairs`, self-loops dropped: the
    * driver graph of the MIS, coloring, k-core and k-truss twins.
    */
  private[algo] def undirectedAdjacency(pairs: Iterable[(String, String)])
      : collection.mutable.HashMap[String, collection.mutable.Set[String]] = {
    val adj = collection.mutable.HashMap
      .empty[String, collection.mutable.Set[String]]
    pairs.foreach { case (a, b) =>
      if (a != b) {
        adj.getOrElseUpdate(a, collection.mutable.Set.empty) += b
        adj.getOrElseUpdate(b, collection.mutable.Set.empty) += a
      }
    }
    adj
  }

  private[algo] def lubyLocal(nodeIds: Array[String],
      adj: collection.Map[String, collection.Set[String]],
      rounds: Int): collection.mutable.Set[String] = {
    val und = collection.mutable.Set[String](nodeIds: _*)
    val mis = collection.mutable.Set.empty[String]
    var r = 0
    while (r < rounds && und.nonEmpty) {
      r += 1
      val pr = und.iterator.map(v => v -> md5hex(s"$r:$v")).toMap
      val cand = und.filter { v =>
        adj.getOrElse(v, Set.empty).forall { u =>
          !und.contains(u) || {
            val pv = pr(v); val pu = pr(u)
            // priorities are ASCII hex (orderings agree); ids go through
            // the UTF-8 order to match the engines' binary comparison
            pv > pu || (pv == pu && Utf8Order.gt(v, u))
          }
        }
      }.toSet
      mis ++= cand
      val excl = cand.flatMap(v => adj.getOrElse(v, Set.empty))
      und --= cand
      und --= excl
    }
    if (und.nonEmpty)
      throw new IllegalStateException(
        s"luby (local) did not decide ${und.size} nodes within $rounds " +
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
      val (pairs, nodeIds) = graft.core.LocalBudget.collectLocal(e0, Some(allNodes))
      val mis = lubyLocal(nodeIds, undirectedAdjacency(pairs), rounds)
      import spark.implicits._
      nodeIds.map(v => (v, if (mis.contains(v)) 1L else 0L)).toSeq
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
