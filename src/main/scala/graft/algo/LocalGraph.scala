package graft.algo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col

/** The one driver-side graph of every local twin and every sequential
  * path kernel — the small-graph fast path (SURVEY §7.2): for graphs that
  * fit comfortably on the driver (the reference's largest graph is 37k
  * nodes / 101k edges), a sequential pass over compact arrays beats a
  * distributed superstep loop by orders of magnitude in wall-clock. The
  * distributed kernels are the 100 TB scale path; `core.LocalBudget.fits`
  * picks per graph size.
  *
  * Node ids are interned to dense Ints in ascending UTF-8 byte order —
  * the order Spark's and DuckDB's string comparison use — so Int order
  * IS the engines' id order: a "minimum member id" label or an id
  * tie-break computed on Ints equals the distributed kernel's on
  * strings. CSR arrays keep the hot loops allocation-free; ids become
  * Strings again only when a twin builds its result rows.
  */
final class LocalGraph(
    val ids: Array[String],               // dense int -> node id (UTF-8 order)
    val offsets: Array[Int],              // CSR row offsets, len = n+1
    val targets: Array[Int],              // CSR column: dst node
    val costs: Array[Double],             // CSR value: edge weight; empty if unweighted
    val xs: Array[Double],                // node x coord (NaN unknown); empty without coords
    val ys: Array[Double],
    val nodes: Array[Int] = Array.emptyIntArray // node-frame rows, interned, in row order
    ) extends Serializable {
  def n: Int = ids.length

  /** The dense id of `node`, or -1 (a binary search of the sorted ids). */
  def find(node: String): Int =
    math.max(java.util.Arrays.binarySearch(ids, node, LocalGraph.IdOrder), -1)

  def idOf(node: String): Int = {
    val i = find(node)
    require(i >= 0, s"unknown node id '$node'")
    i
  }

  /** Membership mask of the node frame: true at every id it named. */
  def inNodes: Array[Boolean] = {
    val k = new Array[Boolean](n)
    nodes.foreach(k(_) = true)
    k
  }

  /** The node frame's distinct ids, ascending. */
  def distinctNodes: Array[Int] = {
    val k = inNodes
    k.indices.filter(k).toArray
  }

  /** The row (source id) of every CSR entry: with `targets`, the edge
    * list in CSR order.
    */
  def sources: Array[Int] = {
    val s = new Array[Int](targets.length)
    for (u <- 0 until n) java.util.Arrays.fill(s, offsets(u), offsets(u + 1), u)
    s
  }

  /** `f(u, v)` for every CSR edge u → v, rows ascending. */
  def foreachEdge(f: (Int, Int) => Unit): Unit = {
    var u = 0
    while (u < n) {
      var e = offsets(u)
      while (e < offsets(u + 1)) { f(u, targets(e)); e += 1 }
      u += 1
    }
  }
}

object LocalGraph {

  /** The engines' string order on JVM Strings: UTF-8 byte order, which
    * is code point order. Java's own order is UTF-16's, which puts the
    * surrogates of code points above U+FFFF before U+E000–U+FFFF. Nulls
    * first, as in an ascending sort.
    */
  private val IdOrder: java.util.Comparator[String] = (a: String, b: String) =>
    if (a eq b) 0 else if (a == null) -1 else if (b == null) 1
    else {
      def rank(c: Char): Int = if (c >= 0xE000) c - 0x800 else if (c >= 0xD800) c + 0x2000 else c
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n && a.charAt(i) == b.charAt(i)) i += 1
      if (i == n) a.length - b.length else rank(a.charAt(i)) - rank(b.charAt(i))
    }

  /** One Spark job: `df`'s rows as the engine's own binary rows, so no
    * per-row Row or tuple is ever made.
    */
  private def rowsOf(df: DataFrame): Array[InternalRow] =
    df.queryExecution.executedPlan.executeCollect()

  /** CSR of the edges src(i) → dst(i) (cost w(i) when `w` is non-empty)
    * over `n` ids, each row in edge order.
    */
  private def csr(n: Int, src: Array[Int], dst: Array[Int], w: Array[Double])
      : (Array[Int], Array[Int], Array[Double]) = {
    val offsets = new Array[Int](n + 1)
    src.foreach(u => offsets(u + 1) += 1)
    for (u <- 0 until n) offsets(u + 1) += offsets(u)
    val pos = offsets.clone()
    val targets = new Array[Int](src.length)
    val costs = new Array[Double](w.length)
    for (i <- src.indices) {
      val p = pos(src(i))
      targets(p) = dst(i)
      if (w.nonEmpty) costs(p) = w(i)
      pos(src(i)) += 1
    }
    (offsets, targets, costs)
  }

  /** The one builder: the string ids in `edges`' first two columns, the
    * optional `weight` column as each edge's cost, the ids in the first
    * column of `nodes` (recorded as [[LocalGraph.nodes]]; ids that only
    * the node frame names become isolated nodes), and the optional
    * `coords` frame (id, x, y), which places ids already interned and
    * adds none. Parallel edges, self-loops and edge order survive: each
    * CSR row lists its edges in collect order.
    *
    * Only valid on graphs that fit on the driver: callers gate on
    * `core.LocalBudget.fits`.
    */
  private[graft] def collect(edges: DataFrame, weight: Option[Column] = None,
      nodes: Option[DataFrame] = None,
      coords: Option[DataFrame] = None): LocalGraph = {
    val cs = edges.columns
    val rows = rowsOf(edges.select(Seq(col(cs(0)).cast("string"),
      col(cs(1)).cast("string")) ++ weight.map(_.cast("double")): _*))
    // first-seen ids, ranked by their sort afterwards
    val index = new java.util.HashMap[String, Integer](rows.length)
    val keys = scala.collection.mutable.ArrayBuffer.empty[String]
    def id(r: InternalRow, i: Int): String =
      if (r.isNullAt(i)) null else r.getUTF8String(i).toString
    def intern(s: String): Int = index.computeIfAbsent(s, _ => { keys += s; keys.length - 1 })
    val src = rows.map(r => intern(id(r, 0)))
    val dst = rows.map(r => intern(id(r, 1)))
    val w = if (weight.isEmpty) Array.emptyDoubleArray else rows.map(_.getDouble(2))
    val nodeRows = nodes.fold(Array.emptyIntArray)(nd =>
      rowsOf(nd.select(col(nd.columns(0)).cast("string")))
        .map(r => intern(id(r, 0))))
    val ids = keys.toArray
    java.util.Arrays.sort(ids, IdOrder)
    val rank = new Array[Int](ids.length)
    ids.indices.foreach(i => rank(index.get(ids(i))) = i)
    val n = ids.length
    val (offsets, targets, costs) = csr(n, src.map(rank), dst.map(rank), w)
    val (xs, ys) = coords.fold((Array.emptyDoubleArray, Array.emptyDoubleArray)) { c =>
      val xs = Array.fill(n)(Double.NaN)
      val ys = Array.fill(n)(Double.NaN)
      val cc = c.columns
      rowsOf(c.select(col(cc(0)).cast("string"), col(cc(1)).cast("double"),
          col(cc(2)).cast("double"))).foreach { r =>
        Option(index.get(id(r, 0))).foreach { k =>
          if (!r.isNullAt(1)) xs(rank(k)) = r.getDouble(1)
          if (!r.isNullAt(2)) ys(rank(k)) = r.getDouble(2)
        }
      }
      (xs, ys)
    }
    new LocalGraph(ids, offsets, targets, costs, xs, ys, nodeRows.map(rank))
  }

  /** The path kernels' graph: the min-cost projection (src, dst, cost)
    * plus the node frame's coordinates (nodeId, x, y), if given.
    */
  def fromProjection(projection: DataFrame, nodes: Option[DataFrame]): LocalGraph =
    collect(projection.select("src", "dst", "cost"), Some(col("cost")),
      coords = nodes.map(_.select("nodeId", "x", "y")))

  /** The reversed graph in the SAME dense index space (ids/coords
    * shared) — reverse-direction distances d(v → L) are forward
    * distances from L on this graph, with no id remapping anywhere.
    */
  def reverse(g: LocalGraph): LocalGraph = over(g, g.targets, g.sources, g.costs)

  /** The edges src(i) → dst(i) (cost w(i) when `w` is non-empty) as a
    * graph over `g`'s ids, each row in edge order.
    */
  private[algo] def over(g: LocalGraph, src: Array[Int], dst: Array[Int],
      w: Array[Double]): LocalGraph = {
    val (offsets, targets, costs) = csr(g.n, src, dst, w)
    new LocalGraph(g.ids, offsets, targets, costs, g.xs, g.ys, g.nodes)
  }

  /** The symmetric simple view in the same id space: every pair {u, v},
    * u ≠ v, joined by an edge of `g` in either direction appears once in
    * each endpoint's row, rows ascending; its weight (if `g` has any) is
    * the minimum over those edges. Edges with an endpoint outside `keep`
    * drop.
    */
  def undirected(g: LocalGraph, keep: Int => Boolean = _ => true): LocalGraph = {
    val (src, dst) = (g.sources, g.targets)
    val es = src.indices.filter(e =>
      src(e) != dst(e) && keep(src(e)) && keep(dst(e))).toArray
    val w = if (g.costs.isEmpty) g.costs else es.map(g.costs)
    simple(g, es.map(src) ++ es.map(dst), es.map(dst) ++ es.map(src), w ++ w)
  }

  /** `g` with parallel edges collapsed (minimum weight) and rows
    * ascending; self-loops stay.
    */
  def directedSimple(g: LocalGraph): LocalGraph =
    simple(g, g.sources, g.targets, g.costs)

  /** The CSR of the edges (src, dst, w) over `g`'s ids with each row's
    * repeats collapsed to their minimum weight, rows ascending.
    */
  private def simple(g: LocalGraph, src: Array[Int], dst: Array[Int],
      w: Array[Double]): LocalGraph = {
    val (offsets, targets, costs) = csr(g.n, src, dst, w)
    val seen = Array.fill(g.n)(-1)
    val best = new Array[Double](if (w.isEmpty) 0 else g.n)
    val out = new Array[Int](g.n + 1)
    var p = 0
    for (u <- 0 until g.n) {
      val from = p
      for (e <- offsets(u) until offsets(u + 1)) {
        val v = targets(e)
        if (seen(v) != u) {
          seen(v) = u; targets(p) = v; p += 1
          if (w.nonEmpty) best(v) = costs(e)
        } else if (w.nonEmpty) best(v) = math.min(best(v), costs(e))
      }
      java.util.Arrays.sort(targets, from, p)
      if (w.nonEmpty) for (k <- from until p) costs(k) = best(targets(k))
      out(u + 1) = p
    }
    new LocalGraph(g.ids, out, targets.take(p), costs.take(p), g.xs, g.ys,
      g.nodes)
  }
}
