package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared driver-budget guard for the adaptive local paths of the graph
  * kernels (PageRank, WCC, shortest paths, Louvain, …) and of transitive
  * dedup grouping.
  *
  * `fits` is the one gate: every adaptive kernel calls it once to choose
  * between its sequential driver twin and its distributed kernel. It
  * measures the real payload (one Spark job over the edge frame,
  * replacing the count() the kernels ran anyway) and admits the local
  * path only while the estimated collected size fits a fixed byte budget
  * and the caller's row cap. A negative cap returns false without
  * running a job; a cap of 0 admits only an empty edge set. The twins
  * then share one collect prefix, `collectLocal`.
  *
  * The per-kernel `localEdgeThreshold` parameter survives as a row-count
  * backstop and as the spec hook (pass 0 to force the distributed path);
  * its default, `MaxLocalEdges`, is high enough that the byte budget is
  * the binding constraint for realistic ids.
  */
object LocalBudget {

  /** Collected-edge-list budget: ~0.5 GiB of driver heap. At the JVM
    * cost model below this admits ≈4–5M short-id edges — the same
    * operating point as the old row threshold — but refuses long-id
    * graphs that would have fit the row count and blown the heap.
    */
  val MaxLocalBytes: Long = 512L * 1024 * 1024

  /** Per-edge allowance beyond the id characters. It prices the
    * (String, String) row the twins once collected (two String headers,
    * two char arrays, the tuple, the array slot ≈ 100 B). The twins now
    * collect a [[graft.algo.LocalGraph]]: each distinct id is held once,
    * an edge costs a 4 B CSR target (+8 B with a weight), a node 4 B of
    * offsets. On a seeded 2M-edge, 400k-node graph with 7-character ids
    * (JDK 17) the graph retained 14–17 B per edge, where the row arrays
    * retained ~135 B, so this estimate is about 8× conservative.
    * Re-deriving it admits larger graphs and so changes dispatch.
    */
  val RowOverheadBytes: Long = 100L

  /** Row-count backstop (kept as the dispatch parameter's default so
    * explicit thresholds in specs keep working; bytes bind first).
    */
  val MaxLocalEdges: Long = 50_000_000L

  /** Tighter default for SEQUENTIAL O(V·L) twins (the walk kernels: one
    * single-threaded md5 digest per node per step). The byte budget is
    * tuned for local paths whose cost is one collect + near-linear
    * array work; a walk twin at the top of that band would grind
    * through tens of millions of digests on one core while the
    * distributed path finishes its L supersteps. 2M edges keeps the
    * twin's digest count in the hundreds of milliseconds.
    */
  val MaxSequentialWalkEdges: Long = 2_000_000L

  /** Tighter default for the quality classifier's feature-table
    * collect: the sequential fit is linear, but collecting millions of
    * (doc, label, f, x) Rows single-threaded costs more than the
    * distributed path's handful of aggregates (measured at the 10×
    * corpus: local 12 s at ~3M feature rows vs distributed 6 s at ~7M).
    * 1M rows keeps the local path in the sub-second band it exists for;
    * both paths are pinned bit-equal, so dispatch is purely a cost
    * choice.
    */
  val MaxLocalFeatureRows: Long = 1_000_000L

  /** (rowCount, estimatedCollectedBytes) of a string edge frame, from
    * ONE Spark job over its first two columns: a per-partition fold of
    * the row count and `length(c0) + length(c1)`, with no exchange (a
    * global `agg` would submit its shuffle map stage as a job of its
    * own under AQE). A row with a null id counts but adds no characters,
    * as SQL `sum` skips the null term.
    */
  def measureEdges(e: DataFrame): (Long, Long) = {
    val chars = e.select(length(col(e.columns(0)).cast("string")) +
      length(col(e.columns(1)).cast("string")))
    val (n, sum) = chars.queryExecution.toRdd.aggregate((0L, 0L))(
      (acc, r) => (acc._1 + 1, if (r.isNullAt(0)) acc._2 else acc._2 + r.getInt(0)),
      (a, b) => (a._1 + b._1, a._2 + b._2))
    // 2 bytes/char (JVM strings are UTF-16 at worst) + per-row overhead
    (n, 2L * sum + n * RowOverheadBytes)
  }

  /** True iff a collect of `nEdges` rows / `estBytes` bytes fits the
    * driver budget AND the caller's row backstop.
    */
  def fitsLocal(nEdges: Long, estBytes: Long, edgeCap: Long): Boolean =
    nEdges <= edgeCap && estBytes <= MaxLocalBytes

  /** The dispatch gate: true iff `e` (string ids in its first two
    * columns) fits the driver budget and the row cap `cap`, with
    * `payloadBytesPerRow` extra bytes per row for columns the caller
    * collects beyond the two ids (e.g. 8 for a weight). Runs one
    * `measureEdges` aggregation, or none when `cap` is negative, since no
    * row count is below it.
    */
  def fits(e: DataFrame, cap: Long, payloadBytesPerRow: Long = 0L): Boolean =
    cap >= 0 && {
      val (n, bytes) = measureEdges(e)
      fitsLocal(n, bytes + payloadBytesPerRow * n, cap)
    }

  /** The driver twin's prefix once `fits` admits `e`: one
    * [[graft.algo.LocalGraph]] of the string ids in `e`'s first two
    * columns, with `weight` (a column of `e`) as edge costs and the ids
    * in the first column of `nodes`, if given, recorded as its node
    * rows. The caller's [[Checkpoints.scoped]] scope frees `e`.
    */
  def collectLocal(e: DataFrame, nodes: Option[DataFrame] = None,
      weight: Option[Column] = None): graft.algo.LocalGraph =
    graft.algo.LocalGraph.collect(e, weight, nodes)
}
