package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Checkpoints
import graft.graph.PropertyGraph

/** Landmark (pivot) distance oracle — the standard scale answer when
  * pairwise shortest-path queries must be served over a graph too large
  * for per-query traversals (Goldberg–Harrelson ALT / Potamias et al.
  * landmark selection; the reference's APSP call site at
  * neo4j-code.txt:56-77 is exactly the workload this precomputation
  * serves once N² streaming stops being feasible).
  *
  * Precompute, once, for a small landmark set L:
  *   rev[L, u] = d(u → L)   (one multi-source pass on the reversed graph)
  *   fwd[L, v] = d(L → v)   (one multi-source pass on the forward graph)
  * Then any query pair (u, v) is answered from |L| rows per side:
  *   est(u, v) = min_{l ∈ L} rev[l, u] + fwd[l, v]  ≥  d(u, v),
  * with equality whenever some landmark lies on an optimal u→v path.
  *
  * Scale shape: the two distance tables are |L|·|V| rows keyed by
  * landmark — built by the same adaptive multi-source relaxation kernel
  * as g7/g15/g25 (|L| supersteps batched in one pass, nothing driver-
  * side above the LocalBudget), written once and reused by every query.
  * A query batch joins its filtered |A|·|L| and |B|·|L| slices on the
  * landmark key — broadcast-sized for online lookups, shuffle-free when
  * the tables are bucketed by landmark. Estimate arithmetic is one IEEE
  * add + an order-independent min over doubles + round(·,4), so the
  * whole pipeline hash-oracles against the chained-relaxation CTEs.
  */
object Landmarks {

  /** The two landmark distance tables, computed once:
    *   fwd(lm, node, dist) = d(lm → node)
    *   rev(lm, node, dist) = d(node → lm)
    * Rows exist only for finite distances. Landmarks absent from the
    * graph are dropped up front (the kernels reject unknown sources);
    * an all-absent set yields typed EMPTY tables, not a crash.
    */
  def tables(spark: SparkSession, g: PropertyGraph,
      landmarks: Seq[String]): (DataFrame, DataFrame) = {
    val present = g.nodes.select(col(g.nodes.columns(0)).cast("string"))
      .filter(col(g.nodes.columns(0)).isin(landmarks: _*))
      .collect().map(_.getString(0)).toSeq
    if (present.isEmpty) {
      import spark.implicits._
      val empty = Seq.empty[(String, String, Double)]
        .toDF("lm", "node", "dist")
      return (empty, empty)
    }
    val fwd = ShortestPaths.apsp(spark, g, Some(present))
    // d(u → L) = d(L → u) on the reversed multigraph; apsp materializes
    // eagerly (local CSR collect or checkpointed supersteps), so the
    // scope drops the temporary reversed projection cache right after.
    val rev = Checkpoints.scoped { s =>
      val revG = PropertyGraph(g.nodes,
        g.edges.select(col("dst").as("src"), col("src").as("dst"),
          col("roadId"), col("cost")))
      s.cache(revG.projection)
      ShortestPaths.apsp(spark, revG, Some(present))
    }
    def shape(t: DataFrame) = t.select(col("source_id").as("lm"),
      col("target_id").as("node"), col("distance").as("dist"))
    (shape(fwd), shape(rev))
  }

  /** est(u,v) = min_L rev[L,u] + fwd[L,v] over the given tables for
    * every pair in `srcSet` × `dstSet` (u ≠ v) with both legs finite:
    * (src_id, dst_id, n_via, est), est rounded to 4 decimals (the g7
    * presentation contract). Pure table algebra — works identically on
    * freshly-computed and storage-read tables.
    */
  def estimateFromTables(fwd: DataFrame, rev: DataFrame,
      srcSet: Seq[String], dstSet: Seq[String]): DataFrame = {
    val du = rev.filter(col("node").isin(srcSet: _*))
      .select(col("lm"), col("node").as("src_id"), col("dist").as("du"))
    val dv = fwd.filter(col("node").isin(dstSet: _*))
      .select(col("lm"), col("node").as("dst_id"), col("dist").as("dv"))
    du.join(dv, Seq("lm"))
      .filter(col("src_id") =!= col("dst_id"))
      .groupBy("src_id", "dst_id")
      .agg(count(lit(1)).as("n_via"),
        round(min(col("du") + col("dv")), 4).as("est"))
  }

  /** Triangle-inequality upper-bound estimates computed end to end
    * (tables built in-session; g29's shape). For the precompute-once /
    * serve-many production shape, see `persistTables` + `serve` (g34).
    */
  def estimates(spark: SparkSession, g: PropertyGraph,
      landmarks: Seq[String], srcSet: Seq[String], dstSet: Seq[String])
      : DataFrame = {
    val (fwd, rev) = tables(spark, g, landmarks)
    estimateFromTables(fwd, rev, srcSet, dstSet)
  }

  /** On-disk layout of the persisted tables under `dir`:
    * `dir`/fwd and `dir`/rev, parquet PARTITIONED BY the landmark id —
    * a per-landmark directory prunes at read time, and rows sorted by
    * `node` within files give row-group skipping for node-set filters.
    * The explicit read schema pins `lm` to STRING (partition-column
    * type inference would otherwise turn numeric ids into ints).
    */
  private val TableSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("lm",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("node",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("dist",
      org.apache.spark.sql.types.DoubleType)))

  /** Precompute and WRITE the landmark tables — the production shape of
    * the reference's APSP call site (neo4j-code.txt:56-77): |L| forward
    * + |L| reverse multi-source passes run once, results land in
    * landmark-partitioned parquet, and every subsequent query batch is
    * answered from storage with no traversal at all (`serve`). At 100 TB
    * the tables are |L|·|V| rows — rebuild cost is |L| SSSP passes, so
    * refresh on graph change is batched, not per-query.
    *
    * STALENESS CONTRACT under append-only growth (the g27/S3/S4
    * maintenance surface — edges only added, costs never raised):
    * distances only shrink, so estimates from stale tables stay valid
    * UPPER bounds (est ≥ d_old ≥ d_new) — they degrade to looser
    * bounds, never to wrong answers; nodes added after the write have
    * no table rows, so they are fail-safe ABSENT from serve results
    * rather than mis-served; and staleness is detectable by comparing
    * the stored node universe against the live graph's node count.
    * All three properties are pinned by GraphAlgoSpec's staleness test.
    * A cost-mutating update (not in the append contract) invalidates
    * the bound — rebuild the tables.
    */
  def persistTables(spark: SparkSession, g: PropertyGraph,
      landmarks: Seq[String], dir: String): Unit = Checkpoints.scoped { s =>
    // the written files become the durable copy — the scope frees any
    // kernel checkpoint state still backing the in-session frames
    val (fwd, rev) = tables(spark, g, landmarks)
    graft.sources.Sinks.parquet(s.adopt(fwd), dir + "/fwd",
      partitionBy = Seq("lm"), sortWithinPartitionsBy = Seq("node"))
    graft.sources.Sinks.parquet(s.adopt(rev), dir + "/rev",
      partitionBy = Seq("lm"), sortWithinPartitionsBy = Seq("node"))
  }

  /** Answer a (srcSet × dstSet) batch purely from tables persisted by
    * `persistTables` — the plan under this frame is two pruned parquet
    * scans + one landmark-keyed join; no SSSP kernel runs (PlanSpec
    * pins that).
    */
  def serve(spark: SparkSession, dir: String,
      srcSet: Seq[String], dstSet: Seq[String]): DataFrame = {
    val fwd = spark.read.schema(TableSchema).parquet(dir + "/fwd")
    val rev = spark.read.schema(TableSchema).parquet(dir + "/rev")
    estimateFromTables(fwd, rev, srcSet, dstSet)
  }

  /** Averaged landmark potentials for BIDIRECTIONAL ALT
    * (LocalKernels.bidirectionalAlt — Goldberg–Harrelson's full form;
    * the unidirectional altHeuristic is its pb = 0 special case).
    *
    * From the same |L| forward + |L| reverse SSSP tables, two families
    * of lower bounds:
    *   ht(v) ≤ d(v → t): max_L (d(v,L) − d(t,L),  d(L,t) − d(L,v), 0)
    *   hs(v) ≤ d(s → v): max_L (d(L,v) − d(L,s),  d(s,L) − d(v,L), 0)
    * Each family is a max of FEASIBLE potentials (every term satisfies
    * π(u) ≤ w + π(v) along forward edges via the triangle inequality,
    * and max preserves it), so the averaged potential
    *   pf(v) = (ht(v) − hs(v)) / 2,  pb = −pf
    * leaves BOTH directions' reduced edge costs nonnegative:
    *   w − pf(u) + pf(v) = ½[(w − ht(u) + ht(v)) + (w + hs(u) − hs(v))]
    * with each bracket ≥ 0 — the reason pf and pb must be averaged
    * rather than used raw (raw ht forward + raw hs backward are
    * individually admissible but mutually inconsistent, and the
    * meet-in-the-middle stop rule would be unsound).
    *
    * ∞ handling: ht(v) = ∞ means a landmark PROVES v cannot reach t;
    * hs(v) = ∞ proves s cannot reach v. Either way v is off every s→t
    * path, so it lands in the returned prune mask instead of the
    * potential (NaN terms — ∞ − ∞ — say nothing and are skipped,
    * exactly as in altHeuristic).
    */
  def bidiAltPotentials(lg: LocalGraph, rev: LocalGraph,
      landmarkIds: Seq[Int], source: Int, target: Int)
      : (Array[Double], Array[Boolean]) = {
    val fwd = landmarkIds.map(l => LocalKernels.sssp(lg, l)._1).toArray
    val toL = landmarkIds.map(l => LocalKernels.sssp(rev, l)._1).toArray
    val pf = new Array[Double](lg.n)
    val prune = new Array[Boolean](lg.n)
    var v = 0
    while (v < lg.n) {
      var ht = 0.0
      var hs = 0.0
      var i = 0
      while (i < fwd.length) {
        val a = toL(i)(v) - toL(i)(target)    // d(v,t) ≥ d(v,L) − d(t,L)
        if (!a.isNaN && a > ht) ht = a
        val b = fwd(i)(target) - fwd(i)(v)    // d(v,t) ≥ d(L,t) − d(L,v)
        if (!b.isNaN && b > ht) ht = b
        val c = fwd(i)(v) - fwd(i)(source)    // d(s,v) ≥ d(L,v) − d(L,s)
        if (!c.isNaN && c > hs) hs = c
        val d = toL(i)(source) - toL(i)(v)    // d(s,v) ≥ d(s,L) − d(v,L)
        if (!d.isNaN && d > hs) hs = d
        i += 1
      }
      if (ht.isInfinite || hs.isInfinite) prune(v) = true
      else pf(v) = (ht - hs) / 2
      v += 1
    }
    (pf, prune)
  }

  /** ALT (A*, Landmarks, Triangle inequality — Goldberg–Harrelson):
    * the same landmark tables as LOWER bounds steering A*. For target t
    * and landmark L, d(v,t) ≥ max(d(v,L) − d(t,L), d(L,t) − d(L,v));
    * the heuristic is the max over landmarks, floored at 0 — admissible
    * AND consistent, so A* under it returns the exact Dijkstra distance
    * while expanding fewer nodes. ∞ conventions: a finite-minus-∞
    * difference says nothing (skip); ∞-minus-finite proves v cannot
    * reach t at all (if v→t and t→L then v→L), so h = ∞ and the search
    * prunes v outright.
    *
    * Computes the |L| forward + |L| reverse tables with the sequential
    * kernel over `lg` and its reversed CSR `rev` (LocalGraph.reverse:
    * the shared dense index space — no id remapping; ShortestPaths passes
    * its resident one); driver cost O(|L|·(m + n log n)).
    */
  def altHeuristic(lg: LocalGraph, rev: LocalGraph, landmarkIds: Seq[Int],
      target: Int): Array[Double] = {
    val fwd = landmarkIds.map(l => LocalKernels.sssp(lg, l)._1).toArray
    val toL = landmarkIds.map(l => LocalKernels.sssp(rev, l)._1).toArray
    val h = new Array[Double](lg.n)
    var v = 0
    while (v < lg.n) {
      var best = 0.0
      var i = 0
      while (i < fwd.length) {
        // d(v,t) ≥ d(v,L) − d(t,L)   [reverse table: toL(i)(x) = d(x→L)]
        val a = toL(i)(v) - toL(i)(target)
        if (!a.isNaN && a > best) best = a
        // d(v,t) ≥ d(L,t) − d(L,v)
        val b = fwd(i)(target) - fwd(i)(v)
        if (!b.isNaN && b > best) best = b
        i += 1
      }
      h(v) = best
      v += 1
    }
    h
  }
}
