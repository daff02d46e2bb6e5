package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Checkpoints

/** Directed small-motif census per node — the graph-library companion
  * to the undirected triangle count (the reference platform's GDS line
  * exposes these as pattern/community diagnostics; network-science
  * usage follows Milo et al. 2002's motif taxonomy):
  *
  *  - `n_path2`: directed 2-paths a→b→c (a ≠ c) CENTERED at b. Computed
  *    by pure degree arithmetic — in(b)·out(b) minus the mutual-edge
  *    count at b (the a = c degenerates) — so the hot path is three
  *    keyed aggregations and NO wedge enumeration: the count that would
  *    blow up quadratically under skew is closed-form.
  *  - `n_ffl`: feed-forward loops a→b, b→c, a→c ANCHORED at source a —
  *    the one motif that genuinely needs enumeration; two equi joins
  *    (path join + closure semi-shape), volume bounded by Σ out·out.
  *  - `n_cyc3`: directed 3-cycles a→b→c→a counted once per member (the
  *    rotation starting at that member); each ORIENTATION of a mutual
  *    triangle is a distinct directed cycle by definition.
  *
  * Input `edges` is taken as directed pairs (first two columns);
  * self-loops are dropped and duplicates collapsed here, so a raw
  * multigraph input is safe. Returns every node in `nodes` with
  * zero-filled counts — integer columns, hash-oracle-able as-is.
  */
object Motifs {

  def counts(nodes: DataFrame, edges: DataFrame): DataFrame =
      Checkpoints.scoped { s =>
    // distinct enforces the documented contract in code: a raw
    // multigraph input would otherwise silently multiplicity-inflate
    // every count (pre-deduped callers pay one no-op exchange)
    val de = edges.select(col(edges.columns(0)).as("src"),
        col(edges.columns(1)).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val outd = de.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("od"))
    val ind = de.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("id"))
    val mu = de.as("x").join(de.as("y"),
        col("y.src") === col("x.dst") && col("y.dst") === col("x.src"))
      .groupBy(col("x.dst").as("node")).agg(count(lit(1)).as("m"))
    // directed 2-path join shared by ffl and cyc3: a→b→c with a ≠ c.
    // Cached because BOTH consumers read it (the oracle's mp2 CTE is
    // MATERIALIZED for the same double-reference reason); the node-
    // scale aggregates are checkpointed eagerly so the cache can drop
    // before the caller consumes the output — the Triangles.perNode
    // release discipline.
    val p2 = s.cache(de.as("ab").join(de.as("bc"),
        col("bc.src") === col("ab.dst") && col("bc.dst") =!= col("ab.src"))
      .select(col("ab.src").as("a"), col("bc.dst").as("c")))
    val ffl = s.checkpoint(p2.join(de.as("ac"),
        col("ac.src") === col("a") && col("ac.dst") === col("c"))
      .groupBy(col("a").as("node")).agg(count(lit(1)).as("f")))
    val cyc = s.checkpoint(p2.join(de.as("ca"),
        col("ca.src") === col("c") && col("ca.dst") === col("a"))
      .groupBy(col("a").as("node")).agg(count(lit(1)).as("cy")))
    nodes.select(col(nodes.columns(0)).as("node"))
      .join(outd, Seq("node"), "left_outer")
      .join(ind, Seq("node"), "left_outer")
      .join(mu, Seq("node"), "left_outer")
      .join(ffl, Seq("node"), "left_outer")
      .join(cyc, Seq("node"), "left_outer")
      .select(col("node"),
        (coalesce(col("od"), lit(0L)) * coalesce(col("id"), lit(0L)) -
          coalesce(col("m"), lit(0L))).as("n_path2"),
        coalesce(col("f"), lit(0L)).as("n_ffl"),
        coalesce(col("cy"), lit(0L)).as("n_cyc3"))
  }
}
