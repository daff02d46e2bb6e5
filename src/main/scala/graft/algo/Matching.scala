package graft.algo

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints

/** Maximal matching by locally-maximal edges (the Israeli–Itai /
  * Luby-on-the-line-graph family) — MIS's edge-side twin and the
  * symmetry-breaking primitive behind parallel pairing workloads
  * (entity-resolution pair assignment, two-sided dedup arbitration,
  * round-based load pairing).
  *
  * Same determinism contract as [[IndependentSet]]: round-r edge
  * priorities are md5(r ++ ":" ++ a ++ ":" ++ b) — re-randomized per
  * round, engine-shared — and an edge enters the matching when its
  * (priority, a, b) triple is the maximum among ALL undecided edges at
  * BOTH endpoints, computed as two per-endpoint max-reductions (never an
  * edge×edge adjacency join: the incidence max is one groupBy over the
  * shrinking edge list). Matched endpoints leave; incident edges drop;
  * a constant fraction of edges dies per round in expectation →
  * O(log m) rounds. The whole Las-Vegas run replays as a fixed-round
  * SQL chain, so the matched edge set hash-verifies.
  */
object Matching {

  /** Greedy WEIGHTED matching by locally-dominant edges (Preis 1999 /
    * Hoepman 2004): an edge matches when it is the heaviest undecided
    * edge at BOTH endpoints under the strict total order
    * (cost, a, b) — under which the sequential heaviest-first greedy
    * matching is UNIQUE, so the parallel rounds, a sequential twin, and
    * the SQL replay agree by mathematics (the g39 argument applied to
    * matchings). Guarantees ≥ ½ the maximum-weight matching. Parallel
    * edges collapse to their MAX cost (only the heaviest can ever
    * dominate). Returns (src, dst, cost), src < dst.
    */
  def heaviest(spark: SparkSession, edges: DataFrame,
      rounds: Int = 10,
      localEdgeThreshold: Long = graft.core.LocalBudget.MaxLocalEdges)
      : DataFrame = Checkpoints.scoped { s =>
    val cols = edges.columns
    val e0 = s.cache(edges.select(col(cols(0)).as("s"), col(cols(1)).as("d"),
        col(cols(2)).cast("double").as("cost"))
      .filter(col("s") =!= col("d"))
      .groupBy(least(col("s"), col("d")).as("a"),
        greatest(col("s"), col("d")).as("b"))
      .agg(max(col("cost")).as("cost")))
    if (graft.core.LocalBudget.fits(e0, localEdgeThreshold,
        payloadBytesPerRow = 8)) {
      // ---- local: THE unique greedy heaviest-first matching ----------
      val g = graft.core.LocalBudget.collectLocal(e0, weight = Some(col("cost")))
      val (a, b, cost) = (g.sources, g.targets, g.costs)
      // descending (cost, a, b); Int order is the engines' id order.
      // Double.compare, not !=/>: NaN costs would break the sort's
      // contract and diverge from Spark's nan-safe order on the
      // distributed path; Double.compare ranks NaN largest, matching Spark.
      val ordered = a.indices.sortWith { (x, y) =>
        val cc = java.lang.Double.compare(cost(x), cost(y))
        if (cc != 0) cc > 0
        else if (a(x) != a(y)) a(x) > a(y)
        else b(x) > b(y)
      }
      val used = new Array[Boolean](g.n)
      val out = ordered.filter { e =>
        !used(a(e)) && !used(b(e)) && { used(a(e)) = true; used(b(e)) = true; true }
      }
      import spark.implicits._
      out.map(e => (g.ids(a(e)), g.ids(b(e)), cost(e))).toDF("src", "dst", "cost")
    } else {
      val (matched, remaining) = matchRounds(s, e0, rounds,
        _ => struct(col("cost"), col("a"), col("b")))
      if (remaining > 0)
        throw new IllegalStateException(
          s"weighted matching left $remaining undecided edges after " +
            s"$rounds rounds — the globally heaviest edge matches every " +
            "round, so this signals a pathological input")
      matched match {
        case Some(m) => m.select(col("a").as("src"), col("b").as("dst"),
          col("cost"))
        case None =>
          import spark.implicits._
          Seq.empty[(String, String, Double)].toDF("src", "dst", "cost")
      }
    }
  }

  /** Matched edges (src, dst) with src < dst over the undirected view of
    * `edges`; no two rows share an endpoint (spec-pinned), and every
    * dropped edge has a matched endpoint (maximality).
    */
  def maximal(spark: SparkSession, edges: DataFrame,
      rounds: Int = 8,
      localEdgeThreshold: Long = graft.core.LocalBudget.MaxLocalEdges)
      : DataFrame = Checkpoints.scoped { s =>
    val e0 = s.cache(edges.select(col(edges.columns(0)).as("s"),
        col(edges.columns(1)).as("d"))
      .filter(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"),
        greatest(col("s"), col("d")).as("b"))
      .distinct())
    if (graft.core.LocalBudget.fits(e0, localEdgeThreshold)) {
      // ---- local replay of the per-round dominance recurrence --------
      val g = graft.core.LocalBudget.collectLocal(e0)
      val (a, b) = (g.sources, g.targets)
      var ue: IndexedSeq[Int] = a.indices
      val out = collection.mutable.ArrayBuffer.empty[Int]
      val gone = new Array[Boolean](g.n)
      val pe = new Array[String](a.length)
      var r = 0
      while (r < rounds && ue.nonEmpty) {
        r += 1
        ue.foreach(e => pe(e) =
          IndependentSet.md5hex(s"$r:${g.ids(a(e))}:${g.ids(b(e))}"))
        // each endpoint's winner: its edge of max (priority, a, b)
        def beats(e: Int, f: Int): Boolean = {
          val c = pe(e).compareTo(pe(f))
          c > 0 || (c == 0 && (a(e) > a(f) || (a(e) == a(f) && b(e) > b(f))))
        }
        val win = Array.fill(g.n)(-1)
        ue.foreach { e =>
          if (win(a(e)) < 0 || beats(e, win(a(e)))) win(a(e)) = e
          if (win(b(e)) < 0 || beats(e, win(b(e)))) win(b(e)) = e
        }
        val m = ue.filter(e => win(a(e)) == e && win(b(e)) == e)
        out ++= m
        m.foreach { e => gone(a(e)) = true; gone(b(e)) = true }
        ue = ue.filter(e => !gone(a(e)) && !gone(b(e)))
      }
      if (ue.nonEmpty)
        throw new IllegalStateException(
          s"matching (local) left ${ue.length} undecided edges after " +
            s"$rounds rounds")
      import spark.implicits._
      out.toSeq.map(e => (g.ids(a(e)), g.ids(b(e)))).toDF("src", "dst")
    } else {
      val (matched, remaining) = matchRounds(s, e0, rounds, r =>
        struct(md5(concat(lit(s"$r:"), col("a"), lit(":"), col("b"))),
          col("a"), col("b")))
      if (remaining > 0)
        throw new IllegalStateException(
          s"matching left $remaining undecided edges after $rounds rounds; " +
            "raise the budget (a constant edge fraction dies per round in " +
            "expectation, so this signals a pathological input)")
      matched match {
        case Some(m) => m.select(col("a").as("src"), col("b").as("dst"))
        case None =>
          import spark.implicits._
          Seq.empty[(String, String)].toDF("src", "dst")
      }
    }
  }

  /** The distributed rounds both matchings share, over the canonical
    * undirected edge list `e0` (a, b, …): each round every endpoint
    * picks its incident edge of largest `key(round)` (a struct ending in
    * (a, b), so the pick is unique), the edges picked at BOTH endpoints
    * match, and every edge touching a matched endpoint drops. Returns
    * the matched edges with `e0`'s columns (None when no round ran) and
    * the number of edges still undecided. Stops early on an empty edge
    * list: later rounds are provably no-ops, identical result to the
    * full budget.
    */
  private def matchRounds(s: Checkpoints.Scope, e0: DataFrame, rounds: Int,
      key: Int => Column): (Option[DataFrame], Long) = {
    val cols = e0.columns.toSeq.map(col)
    var ue = s.checkpoint(e0)
    s.keep(ue)
    var matchedAcc: Option[DataFrame] = None
    var remaining = ue.count()
    var r = 0
    while (remaining > 0 && r < rounds) {
      r += 1
      val keyed = ue.withColumn("k", key(r))
      val winners = keyed.select(col("a").as("node"), col("k"))
        .union(keyed.select(col("b").as("node"), col("k")))
        .groupBy("node").agg(max(col("k")).as("w"))
      val matched = s.fresh(keyed
        .join(winners.select(col("node").as("a"), col("w").as("wa")),
          Seq("a"))
        .join(winners.select(col("node").as("b"), col("w").as("wb")),
          Seq("b"))
        .filter(col("k") === col("wa") && col("k") === col("wb"))
        .select(cols: _*))
      val gone = matched.select(col("a").as("node"))
        .union(matched.select(col("b").as("node"))).distinct()
      ue = s.fresh(ue
        .join(gone.select(col("node").as("a")), Seq("a"), "left_anti")
        .join(gone.select(col("node").as("b")), Seq("b"), "left_anti")
        .select(cols: _*))
      matchedAcc = Some(matchedAcc.fold(s.backing(matched))(acc =>
        s.checkpoint(acc.union(matched))))
      s.keep(ue +: matchedAcc.toSeq: _*)
      remaining = ue.count()
    }
    (matchedAcc, remaining)
  }
}
