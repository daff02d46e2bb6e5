package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.util.Random

/** One data row of the reference edge list
  * (`XCoord,YCoord,START_NODE,END_NODE,EDGE,LENGTH`).
  */
final case class EdgeRow(x: Double, y: Double, src: String, dst: String,
    road: String, length: Double)

/** Node, edge and pending-edge counts the engine's ingest must produce. */
final case class Expected(nodes: Long, edges: Long, pending: Long) {
  def json: String =
    s"""{"nodes":$nodes,"edges":$edges,"pending":$pending}"""
}

/** Seeded generator of road networks in the reference's edge-list schema.
  *
  * A jittered street grid (Shenzhen-like planar metres, ~150 m blocks,
  * some blocks crossed by a diagonal street) with the properties
  * FIXTURES.md lists for the real slices:
  *  - 32 % of street segments are two-way, the rest one-way, so about
  *    2·0.32/1.32 ≈ 49 % of rows have a reverse-direction counterpart, as
  *    34 535 of slice 7's 70 000 rows do;
  *  - about 2.7 rows per START_NODE, as slice 1's 9 999 rows over 3 705
  *    nodes;
  *  - a few (src, dst) pairs carry parallel rows with their own road id
  *    and cost, and a few rows repeat exactly;
  *  - a few rows end at a node that never starts a row (dangling
  *    END_NODE), so ingest drops them into the pending backlog;
  *  - every file is padded with empty `,,,,,` rows.
  * A small island component far from the grid has no road to or from it,
  * so queries into it are unreachable. Every LENGTH is at least the
  * straight-line distance between its endpoints, which keeps the
  * engine's Euclidean A* heuristic admissible.
  *
  * Rows are ordered node by node in grid order, so a prefix of the rows
  * is a spatially coherent slice, as the reference's cumulative slices
  * are; a slice boundary leaves the next grid row's END_NODEs dangling
  * until a later slice brings their START_NODE rows.
  */
object RoadGen {
  val Header = "XCoord,YCoord,START_NODE,END_NODE,EDGE,LENGTH"
  private val Spacing = 150.0
  private val Island = 6
  private val TwoWay = 0.32
  private val Diagonal = 0.15

  def rows(seed: Long, targetRows: Int): Vector[EdgeRow] = {
    val rnd = new Random(seed)
    val side = math.ceil(math.sqrt(targetRows / 2.7)).toInt.max(4)
    val n = side * side
    val ids = rnd.shuffle((1 to n + Island).toVector).map(_.toString)
    def r2(v: Double): Double = math.round(v * 100) / 100.0
    val xs = Array.tabulate(n + Island) { i =>
      if (i < n) r2(170000.0 + (i % side) * Spacing + (rnd.nextDouble() - 0.5) * 0.5 * Spacing)
      else r2(260000.0 + (i - n) * Spacing)
    }
    val ys = Array.tabulate(n + Island) { i =>
      if (i < n) r2(2480000.0 + (i / side) * Spacing + (rnd.nextDouble() - 0.5) * 0.5 * Spacing)
      else r2(2500000.0 + ((i - n) % 2) * Spacing)
    }
    val out = Array.fill(n + Island)(mutable.ArrayBuffer.empty[(Int, String)])
    def street(u: Int, v: Int, road: String): Unit =
      if (rnd.nextDouble() < TwoWay) { out(u) += (v -> road); out(v) += (u -> road) }
      else if (rnd.nextBoolean()) out(u) += (v -> road)
      else out(v) += (u -> road)
    for (i <- 0 until n) {
      val r = i / side; val c = i % side
      if (c + 1 < side && rnd.nextDouble() < 0.9) street(i, i + 1, s"H$r-${c / 6}")
      if (r + 1 < side && rnd.nextDouble() < 0.9) street(i, i + side, s"V$c-${r / 6}")
      if (c + 1 < side && r + 1 < side && rnd.nextDouble() < Diagonal)
        street(i, i + side + 1, s"G$r-$c")
    }
    // the island: a two-way ring, unreachable from the grid
    for (k <- 0 until Island) {
      val u = n + k; val v = n + (k + 1) % Island
      out(u) += (v -> "ISL"); out(v) += (u -> "ISL")
    }
    def dist(u: Int, v: Int): Double = math.hypot(xs(u) - xs(v), ys(u) - ys(v))
    def len(d: Double): Double = math.ceil(d * 1e6) / 1e6
    var parallel = 0; var dangling = 0
    val rowsOut = Vector.newBuilder[EdgeRow]
    for (u <- (n until n + Island) ++ (0 until n)) {
      def row(dst: String, road: String, l: Double) =
        EdgeRow(xs(u), ys(u), ids(u), dst, road, l)
      for ((v, road) <- out(u)) {
        val main = row(ids(v), road, len(dist(u, v) * (1.02 + 0.35 * rnd.nextDouble())))
        rowsOut += main
        if (rnd.nextDouble() < 0.03) {
          parallel += 1
          rowsOut += row(ids(v), s"P$parallel", len(main.length * (1.05 + 0.3 * rnd.nextDouble())))
        }
        if (rnd.nextDouble() < 0.02) rowsOut += main
      }
      if (u < n && rnd.nextDouble() < 0.012) {
        dangling += 1
        rowsOut += row(s"X$dangling", s"D$dangling", len(50 + 250 * rnd.nextDouble()))
      }
    }
    rowsOut.result()
  }

  /** Cumulative slices: slice i holds the first i/k of the rows. */
  def cumulative(rows: Vector[EdgeRow], k: Int): Vector[Vector[EdgeRow]] =
    (1 to k).toVector.map(i => rows.take(math.ceil(rows.size.toDouble * i / k).toInt))

  /** The reference ingest semantics, computed directly from the rows:
    * nodes are distinct (START_NODE, XCoord, YCoord); edges are distinct
    * (src, dst, road, cost) tuples whose END_NODE is some START_NODE; the
    * other distinct tuples stay pending.
    */
  def expected(rows: Seq[EdgeRow]): Expected = {
    val starts = rows.iterator.map(_.src).toSet
    val tuples = rows.iterator.map(r => (r.src, r.dst, r.road, r.length)).toSet
    val edges = tuples.count(t => starts(t._2)).toLong
    Expected(rows.iterator.map(r => (r.src, r.x, r.y)).toSet.size.toLong,
      edges, tuples.size - edges)
  }

  /** Writes `<name>.csv`, padded to `lines` lines with `,,,,,` rows, and
    * the expected counts beside it as `<name>.expected.json`.
    */
  def write(dir: Path, name: String, rows: Seq[EdgeRow], lines: Int): Path = {
    Files.createDirectories(dir)
    val sb = new java.lang.StringBuilder(rows.size * 64)
    sb.append(Header).append('\n')
    rows.foreach { r =>
      sb.append(r.x).append(',').append(r.y).append(',').append(r.src).append(',')
        .append(r.dst).append(',').append(r.road).append(',').append(r.length).append('\n')
    }
    for (_ <- rows.size until lines) sb.append(",,,,,\n")
    val csv = dir.resolve(s"$name.csv")
    Files.write(csv, sb.toString.getBytes(UTF_8))
    Files.write(dir.resolve(s"$name.expected.json"), expected(rows).json.getBytes(UTF_8))
    csv
  }
}

/** Independent shortest-path oracle over generated rows: the reference's
  * ingest semantics (dangling END_NODE rows dropped, parallel edges kept
  * at their minimum cost), a textbook binary-heap Dijkstra and Yen's
  * k-shortest loopless paths. It shares no code with the engine.
  */
final class RoadOracle(rows: Seq[EdgeRow]) {
  private val adj: Map[String, Map[String, Double]] = {
    val starts = rows.iterator.map(_.src).toSet
    rows.filter(r => starts(r.dst)).groupBy(_.src).map { case (s, rs) =>
      s -> rs.groupBy(_.dst).map { case (d, e) => d -> e.map(_.length).min }
    }
  }
  private lazy val radj: Map[String, Seq[(String, Double)]] =
    adj.toSeq.flatMap { case (u, vs) => vs.map { case (v, w) => (v, (u, w)) } }
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }

  /** Nodes that end or start some resolved edge, i.e. valid query ids. */
  val vertices: Vector[String] =
    (adj.keySet ++ adj.valuesIterator.flatMap(_.keys)).toVector.sorted

  def edgeCost(u: String, v: String): Option[Double] = adj.get(u).flatMap(_.get(v))

  /** (cost, number of path nodes) of a shortest src→dst path. */
  def shortest(src: String, dst: String): Option[(Double, Int)] = {
    val dist = mutable.HashMap(src -> 0.0)
    val hops = mutable.HashMap(src -> 1)
    val done = mutable.HashSet.empty[String]
    val pq = mutable.PriorityQueue((0.0, src))(Ordering.by[(Double, String), Double](-_._1))
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (u == dst) return Some((d, hops(u)))
      if (done.add(u)) {
        for ((v, w) <- adj.getOrElse(u, Map.empty)) {
          val nd = d + w
          if (nd < dist.getOrElse(v, Double.PositiveInfinity)) {
            dist(v) = nd; hops(v) = hops(u) + 1; pq.enqueue((nd, v))
          }
        }
      }
    }
    None
  }

  /** Distances to `dst` from every node that reaches it. */
  private def distancesTo(dst: String): Map[String, Double] = {
    val dist = mutable.HashMap(dst -> 0.0)
    val done = mutable.HashSet.empty[String]
    val pq = mutable.PriorityQueue((0.0, dst))(Ordering.by[(Double, String), Double](-_._1))
    while (pq.nonEmpty) {
      val (d, v) = pq.dequeue()
      if (done.add(v)) for ((u, w) <- radj.getOrElse(v, Nil)) {
        val nd = d + w
        if (nd < dist.getOrElse(u, Double.PositiveInfinity)) { dist(u) = nd; pq.enqueue((nd, u)) }
      }
    }
    dist.toMap
  }

  /** Costs of the (at most) `k` cheapest loopless src→dst paths, by Yen's
    * algorithm. Each spur search is an A* guided by the exact distances
    * to `dst` in the unbanned graph, which bans only lengthen.
    */
  def yenCosts(src: String, dst: String, k: Int): Seq[Double] = {
    val toDst = distancesTo(dst)
    def cost(p: Vector[String]): Double =
      p.sliding(2).map(e => adj(e(0))(e(1))).sum
    def search(from: String, banNodes: Set[String],
        banEdges: Set[(String, String)]): Option[Vector[String]] = {
      val g = mutable.HashMap(from -> 0.0)
      val pred = mutable.HashMap.empty[String, String]
      val done = mutable.HashSet.empty[String]
      val pq = mutable.PriorityQueue((toDst(from), from))(
        Ordering.by[(Double, String), Double](-_._1))
      while (pq.nonEmpty) {
        val (_, u) = pq.dequeue()
        if (u == dst) return Some(Iterator.iterate(u)(pred).takeWhile(_ != from)
          .toVector.reverse.prepended(from))
        if (done.add(u)) for ((v, w) <- adj.getOrElse(u, Map.empty)
            if toDst.contains(v) && !banNodes(v) && !banEdges((u, v))) {
          val nd = g(u) + w
          if (nd < g.getOrElse(v, Double.PositiveInfinity)) {
            g(v) = nd; pred(v) = u; pq.enqueue((nd + toDst(v), v))
          }
        }
      }
      None
    }
    if (src == dst || !toDst.contains(src)) return Nil
    val accepted = mutable.ArrayBuffer(search(src, Set.empty, Set.empty).get)
    val pool = mutable.HashMap.empty[Vector[String], Double]
    while (accepted.size < k) {
      val prev = accepted.last
      for (i <- 0 until prev.size - 1) {
        val root = prev.take(i + 1)
        val banEdges = accepted.collect {
          case p if p.size > i + 1 && p.take(i + 1) == root => (p(i), p(i + 1))
        }.toSet
        search(prev(i), root.init.toSet, banEdges).foreach { spur =>
          val path = root.init ++ spur
          if (!accepted.contains(path)) pool(path) = cost(path)
        }
      }
      if (pool.isEmpty) return accepted.map(cost).toSeq
      val (best, _) = pool.minBy(_._2)
      pool -= best
      accepted += best
    }
    accepted.map(cost).toSeq
  }
}
