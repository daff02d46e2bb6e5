package graft.algo

import org.apache.spark.sql.DataFrame

/** Compact driver-side adjacency built from a (src, dst, cost) projection
  * DataFrame — the small-graph fast path (SURVEY §7.2): for graphs that fit
  * comfortably on the driver (the reference's largest graph is 37k nodes /
  * 101k edges), a broadcast-adjacency sequential search beats a distributed
  * relaxation loop by orders of magnitude in wall-clock. The distributed
  * kernel (DistributedSSSP) is the 100 TB scale path; algorithms pick per
  * graph size.
  *
  * Node ids are interned to dense Ints; CSR-style arrays keep the hot loop
  * allocation-free.
  */
final class LocalGraph(
    val ids: Array[String],               // dense int -> node id
    val index: java.util.HashMap[String, Int],
    val offsets: Array[Int],              // CSR row offsets, len = n+1
    val targets: Array[Int],              // CSR column: dst node
    val costs: Array[Double],             // CSR value: edge cost
    val xs: Array[Double],                // node x coord (may be NaN)
    val ys: Array[Double]) extends Serializable {
  def n: Int = ids.length
  def idOf(node: String): Int = {
    val i = index.getOrDefault(node, -1)
    require(i >= 0, s"unknown node id '$node'")
    i
  }
}

object LocalGraph {

  /** Build from the min-cost projection plus optional coords.
    * One `collect()` — only valid on graphs that fit on the driver; callers
    * gate on the core.LocalBudget check (see ShortestPaths.route).
    */
  def fromProjection(projection: DataFrame, nodes: Option[DataFrame]): LocalGraph = {
    val edgeRows = projection.select("src", "dst", "cost").collect()
    val index = new java.util.HashMap[String, Int]()
    val idBuf = scala.collection.mutable.ArrayBuffer.empty[String]
    def intern(s: String): Int = {
      val got = index.getOrDefault(s, -1)
      if (got >= 0) got
      else {
        val i = idBuf.length
        index.put(s, i); idBuf += s; i
      }
    }
    val es = new Array[Int](edgeRows.length)
    val ed = new Array[Int](edgeRows.length)
    val ec = new Array[Double](edgeRows.length)
    var i = 0
    while (i < edgeRows.length) {
      val r = edgeRows(i)
      es(i) = intern(r.getString(0))
      ed(i) = intern(r.getString(1))
      ec(i) = r.getDouble(2)
      i += 1
    }
    val n = idBuf.length
    // counting sort into CSR
    val offsets = new Array[Int](n + 1)
    i = 0
    while (i < es.length) { offsets(es(i) + 1) += 1; i += 1 }
    i = 0
    while (i < n) { offsets(i + 1) += offsets(i); i += 1 }
    val pos = offsets.clone()
    val targets = new Array[Int](es.length)
    val costs = new Array[Double](es.length)
    i = 0
    while (i < es.length) {
      val p = pos(es(i)); targets(p) = ed(i); costs(p) = ec(i)
      pos(es(i)) += 1; i += 1
    }
    val xs = Array.fill(n)(Double.NaN)
    val ys = Array.fill(n)(Double.NaN)
    nodes.foreach { nd =>
      nd.select("nodeId", "x", "y").collect().foreach { r =>
        val id = index.getOrDefault(r.getString(0), -1)
        if (id >= 0) { xs(id) = r.getDouble(1); ys(id) = r.getDouble(2) }
      }
    }
    new LocalGraph(idBuf.toArray, index, offsets, targets, costs, xs, ys)
  }

  /** The reversed graph in the SAME dense index space (ids/index/coords
    * shared) — reverse-direction distances d(v → L) are forward
    * distances from L on this graph, with no id remapping anywhere.
    */
  def reverse(g: LocalGraph): LocalGraph = {
    val n = g.n
    val m = g.targets.length
    val offsets = new Array[Int](n + 1)
    var e = 0
    while (e < m) { offsets(g.targets(e) + 1) += 1; e += 1 }
    var i = 0
    while (i < n) { offsets(i + 1) += offsets(i); i += 1 }
    val pos = offsets.clone()
    val targets = new Array[Int](m)
    val costs = new Array[Double](m)
    var u = 0
    while (u < n) {
      e = g.offsets(u)
      while (e < g.offsets(u + 1)) {
        val v = g.targets(e)
        val p = pos(v)
        targets(p) = u; costs(p) = g.costs(e)
        pos(v) += 1; e += 1
      }
      u += 1
    }
    new LocalGraph(g.ids, g.index, offsets, targets, costs, g.xs, g.ys)
  }
}
