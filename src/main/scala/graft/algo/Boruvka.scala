package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints

/** Minimum spanning forest over the property graph — the classic
  * graph-library companion the reference's platform ships as
  * `gds.spanningTree` (reference scope: neo4j-code.txt's GDS projection
  * workflow; IMPL.md treats the road network as an undirected cost
  * surface for exactly this kind of maintenance query — "which subset of
  * roads keeps everything connected at minimum total length").
  *
  * The engine-portability insight that makes an MST hash-oracle-able at
  * all: under the STRICT TOTAL ORDER (cost, a, b) — canonical a < b
  * endpoint strings as tie-breaks — edge weights are effectively
  * distinct, and the minimum spanning forest is UNIQUE. Any correct
  * algorithm on any engine must produce the identical edge set, so the
  * local fast path can run Kruskal, the distributed path Borůvka, and
  * the DuckDB oracle a fixed-round Borůvka CTE chain, with bit-equality
  * guaranteed by the mathematics rather than by lockstep replay.
  *
  * Distributed shape (Borůvka 1926; the MapReduce-MST formulation):
  * each round every component picks its minimum out-edge in the total
  * order, the chosen-edge pointer graph (whose only cycles are mutual-
  * choice 2-cycles) is severed at the 2-cycle minimum and pointer-jumped
  * to its roots, labels and the contracted component-level edge list
  * re-map through the closed hooks. Components at least halve per round
  * → O(log n) rounds; the per-round shuffles are component-keyed joins
  * over a MONOTONICALLY SHRINKING edge list (the contraction pre-
  * aggregates parallel component edges to their minimum, so |edges|
  * is bounded by cross-component pairs); nothing node- or edge-scale
  * ever collects. This is the WCC hook+contract kernel
  * (GraphComponents.wcc) carrying an edge payload.
  */
object Boruvka {

  /** Minimum spanning forest of the UNDIRECTED view of `edges`
    * (src, dst, cost): parallel/reverse edges collapse to the
    * min-cost canonical pair, self-loops drop. Returns one row per
    * forest edge: (src, dst, cost) with src < dst; n_nodes − n_components
    * rows total. Isolated nodes contribute no rows (they are their own
    * singleton trees).
    */
  def mst(spark: SparkSession, edges: DataFrame,
      maxRounds: Int = 20,
      localEdgeThreshold: Long = graft.core.LocalBudget.MaxLocalEdges)
      : DataFrame = Checkpoints.scoped { s =>
    val cols = edges.columns
    val cand = s.cache(edges.select(col(cols(0)).as("s"), col(cols(1)).as("d"),
        col(cols(2)).cast("double").as("cost"))
      .filter(col("s") =!= col("d"))
      .groupBy(least(col("s"), col("d")).as("a"),
        greatest(col("s"), col("d")).as("b"))
      .agg(min(col("cost")).as("cost")))
    if (graft.core.LocalBudget.fits(cand, localEdgeThreshold,
        payloadBytesPerRow = 8)) {
      // ---- local: Kruskal over the sorted edge array ------------------
      val g = graft.core.LocalBudget.collectLocal(cand, weight = Some(col("cost")))
      val (a, b, cost) = (g.sources, g.targets, g.costs)
      // ascending (cost, a, b); Int order is the engines' id order.
      // Costs compare via Double.compare: `c1 != c2` is NOT a strict
      // weak order when a cost is NaN (NaN != NaN but also !(NaN<x)),
      // and the sort throws on contract violations; Double.compare
      // totals the order with NaN largest — the same rank Spark's
      // nan-safe ordering gives it on the distributed path.
      val sorted = a.indices.sortWith { (x, y) =>
        val cc = java.lang.Double.compare(cost(x), cost(y))
        if (cc != 0) cc < 0
        else if (a(x) != a(y)) a(x) < a(y)
        else b(x) < b(y)
      }
      // keep each edge that joins two trees, in sorted order
      val uf = new UnionFind(g.n)
      import spark.implicits._
      sorted.filter(e => uf.union(a(e), b(e)))
        .map(e => (g.ids(a(e)), g.ids(b(e)), cost(e)))
        .toDF("src", "dst", "cost")
    } else distributed(s, spark, cand, maxRounds)
  }

  /** Borůvka hook + sever + jump + contract over the cached canonical
    * edge list `cand` (a, b, cost).
    */
  private def distributed(s: Checkpoints.Scope, spark: SparkSession,
      cand: DataFrame, maxRounds: Int): DataFrame = {
    // Component-level edges carry their ORIGINAL endpoints: (pa, pb)
    // are current component labels, (a, b, cost) the original edge that
    // realizes the minimum between them — what the output needs and what
    // the (cost, a, b) total order tie-breaks on.
    var cedges = s.checkpoint(cand
      .select(col("a").as("pa"), col("b").as("pb"),
        col("cost"), col("a"), col("b")))
    s.keep(cedges)
    var chosenAll: Option[DataFrame] = None
    var round = 0
    var merged = 1L
    while (merged > 0 && round < maxRounds) {
      // 1. every component's minimum out-edge in the (cost, a, b) order
      val out = cedges.select(col("pa").as("c"), col("pb").as("o"),
          col("cost"), col("a"), col("b"))
        .union(cedges.select(col("pb").as("c"), col("pa").as("o"),
          col("cost"), col("a"), col("b")))
      val chosen = s.fresh(out
        .groupBy("c")
        .agg(min(struct(col("cost"), col("a"), col("b"), col("o")))
          .as("m"))
        .select(col("c"), col("m.o").as("o"), col("m.cost").as("cost"),
          col("m.a").as("a"), col("m.b").as("b")))
      merged = chosen.count()
      if (merged > 0) {
        // 2. sever the pointer graph's 2-cycles at their minimum label:
        //    the chosen map c→o is a functional graph whose only cycles
        //    are mutual choices (strict total order); the smaller label
        //    of each pair becomes a root
        var hooks = s.fresh(chosen.as("m")
          .join(chosen.select(col("c").as("oc"), col("o").as("oo")),
            col("m.o") === col("oc"), "left_outer")
          .select(col("m.c").as("c"),
            when(col("oo") === col("m.c") && col("m.c") < col("m.o"),
              col("m.c")).otherwise(col("m.o")).as("t")))
        // 3. pointer-jump the severed forest to its roots (the iterated
        //    state is |components| rows, halving per jump)
        var jumped = 1L
        while (jumped > 0) {
          val h2 = s.fresh(hooks.as("h")
            .join(hooks.select(col("c").as("tc"), col("t").as("tt")),
              col("h.t") === col("tc"), "left_outer")
            .select(col("h.c").as("c"),
              coalesce(col("tt"), col("h.t")).as("t")))
          jumped = h2.join(hooks.select(col("c"), col("t").as("old_t")),
              Seq("c"))
            .filter(col("t") =!= col("old_t")).count()
          hooks = h2
          s.keep(Seq(cedges, chosen, hooks) ++ chosenAll: _*)
        }
        // 4. contract: re-map both endpoints through the closed hooks,
        //    drop intra-component edges, and pre-aggregate parallel
        //    component pairs back to their (cost, a, b) minimum so the
        //    edge list SHRINKS monotonically
        cedges = s.fresh(cedges
          .join(hooks.select(col("c").as("pa"), col("t").as("npa")),
            Seq("pa"), "left_outer")
          .join(hooks.select(col("c").as("pb"), col("t").as("npb")),
            Seq("pb"), "left_outer")
          .select(coalesce(col("npa"), col("pa")).as("qa"),
            coalesce(col("npb"), col("pb")).as("qb"),
            col("cost"), col("a"), col("b"))
          .filter(col("qa") =!= col("qb"))
          .groupBy(least(col("qa"), col("qb")).as("pa"),
            greatest(col("qa"), col("qb")).as("pb"))
          .agg(min(struct(col("cost"), col("a"), col("b"))).as("m"))
          .select(col("pa"), col("pb"), col("m.cost").as("cost"),
            col("m.a").as("a"), col("m.b").as("b")))
        // 5. accumulate the chosen edges (both merge partners may choose
        //    the same edge → distinct)
        val roundEdges = s.checkpoint(
          chosen.select(col("a"), col("b"), col("cost")).distinct())
        chosenAll = Some(chosenAll.fold(roundEdges)(acc =>
          s.checkpoint(acc.union(roundEdges))))
      }
      s.keep(Seq(cedges) ++ chosenAll: _*)
      round += 1
    }
    // converged iff the last round merged nothing OR contracted the edge
    // list to empty (the final merging round may be the budget's last —
    // an empty cross-component edge list IS the fixpoint)
    if (merged > 0 && cedges.count() > 0)
      throw new IllegalStateException(
        s"boruvka did not converge within $maxRounds rounds — components " +
          "at least halve per round, so this indicates a pathological " +
          "input, not a tuning matter")
    chosenAll match {
      case Some(acc) =>
        acc.select(col("a").as("src"), col("b").as("dst"), col("cost"))
      case None =>
        import spark.implicits._
        Seq.empty[(String, String, Double)].toDF("src", "dst", "cost")
    }
  }
}
