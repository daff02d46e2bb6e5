package graft.algo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints

/** Whole-graph statistical profile — one row of exact-integer
  * sufficient statistics over the undirected simple collapse of a
  * directed edge list, plus the two standard derived ratios (global
  * clustering coefficient, degree assortativity). See the g50 query doc
  * for the oracle contract; every emitted integer is partial-agg-order
  * independent and the two doubles are single correctly-rounded ops over
  * identical integers, so the whole row hash-verifies cross-engine and
  * is bit-equal under any input repartitioning.
  *
  * Scale shape: two degree aggregations, one triangle count (Schank
  * degree-ordered orientation — [[Triangles.perNode]], whose wedge join
  * is skew-bounded by the orientation), one deg⋈deg edge join; no
  * window, no driver loop.
  */
object GraphProfile {

  /** nodes: single id column; edges: (src, dst) directed. */
  def stats(nodes: DataFrame, edges: DataFrame): DataFrame =
      Checkpoints.scoped { s =>
    val e = edges.select(col(edges.columns(0)).as("src"),
      col(edges.columns(1)).as("dst"))
    val und = s.checkpoint(e.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct())
    val deg = s.checkpoint(und.select(col("a").as("n"))
      .unionByName(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg")))
    val tri = s.checkpoint(Triangles.perNode(nodes, e))
    val nNodes = nodes.agg(count(lit(1)).as("n_nodes"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    val nUnd = und.agg(count(lit(1)).as("n_und"))
    val degAgg = deg.agg(max(col("deg")).as("max_deg"),
      expr("sum(deg * (deg - 1)) div 2").as("wedges"))
    val nTri = tri.agg(expr("sum(n_triangles) div 3").as("n_tri"))
    val lcc = deg.join(tri, deg("n") === tri("node"), "left_outer")
      .select(col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("t"))
      .agg(sum(expr("CASE WHEN deg >= 2 THEN (2000000 * t) div " +
        "(deg * (deg - 1)) ELSE CAST(0 AS BIGINT) END"))
        .as("lcc_micro_sum"))
    val ast = und
      .join(deg.select(col("n").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("deg").as("db")), Seq("b"))
      .agg(sum(col("da") + col("db")).as("sx"),
        sum(col("da") * col("db") * 2).as("sxy"),
        sum(col("da") * col("da") + col("db") * col("db")).as("sx2"))
    // Overflow guard (loud, matching DuckDB's raise-on-BIGINT-overflow):
    // Spark wraps Long arithmetic silently in non-ANSI mode, so a skewed
    // graph (hub degree ~1e5 ⇒ sx ~1e10 ⇒ sx² ~1e20) would silently
    // diverge from the oracle instead of failing. Require |sx| ≤
    // floor(sqrt(2^61)) and 2·n_und·max(|sxy|, sx2) ≤ 2^61 so each term
    // of num/den is ≤ 2^61 and their difference fits comfortably in a
    // BIGINT; outside that envelope both engines now fail loudly.
    val sxOk = abs(col("sx")) <= lit(1518500249L)
    val momOk = greatest(abs(col("sxy")), abs(col("sx2")), lit(1L)) <=
      lit(1152921504606846976L) / greatest(col("n_und"), lit(1L))
    def exact(e: Column): Column = when(sxOk && momOk, e).otherwise(
      raise_error(lit("GraphProfile: assortativity moments exceed the " +
        "exact-BIGINT envelope (|sx| or 2*n_und*moment past 2^61); " +
        "recompute with DECIMAL(38,0) for this graph")))
    val num = exact(col("n_und") * 2 * col("sxy") - col("sx") * col("sx"))
    val den = exact(col("n_und") * 2 * col("sx2") - col("sx") * col("sx"))
    s.checkpoint(nNodes.crossJoin(nEdges).crossJoin(nUnd).crossJoin(degAgg)
      .crossJoin(nTri).crossJoin(lcc).crossJoin(ast)
      .select(col("n_nodes"), col("n_edges"), col("n_und"),
        col("max_deg"), col("wedges"), col("n_tri").as("n_triangles"),
        col("lcc_micro_sum"),
        num.as("assort_num"), den.as("assort_den"),
        round((col("n_tri") * 3).cast("double") /
          col("wedges").cast("double"), 6).as("global_cc"),
        round(num.cast("double") / den.cast("double"), 6)
          .as("assortativity")))
  }
}
