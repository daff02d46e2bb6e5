package graft

import org.scalacheck.{Gen, Prop, Properties}
import graft.algo.{LocalGraph, LocalKernels}

/** ScalaCheck property tests over random weighted digraphs
  * (SURVEY §5.2.3): cross-algorithm agreement + path validity, the
  * automated form of the reference's manual "delta-stepping consistent
  * with Dijkstra" check (IMPL.md:388).
  */
object ShortestPathPropertySpec extends Properties("ShortestPaths") {

  // Build a LocalGraph directly from an edge list (no Spark needed).
  private def mkGraph(n: Int, edges: Seq[(Int, Int, Double)]): LocalGraph = {
    // min-cost per (src,dst) like PropertyGraph.projection
    val best = edges.groupBy(e => (e._1, e._2))
      .map { case ((u, v), es) => (u, v, es.map(_._3).min) }.toSeq
    val ids = (0 until n).map(_.toString).toArray
    val offsets = new Array[Int](n + 1)
    best.foreach { case (u, _, _) => offsets(u + 1) += 1 }
    (0 until n).foreach(i => offsets(i + 1) += offsets(i))
    val pos = offsets.clone()
    val targets = new Array[Int](best.size)
    val costs = new Array[Double](best.size)
    best.foreach { case (u, v, c) =>
      targets(pos(u)) = v; costs(pos(u)) = c; pos(u) += 1
    }
    new LocalGraph(ids, offsets, targets, costs,
      Array.fill(n)(Double.NaN), Array.fill(n)(Double.NaN))
  }

  private val genGraph: Gen[(Int, Seq[(Int, Int, Double)])] = for {
    n <- Gen.choose(2, 30)
    m <- Gen.choose(1, 120)
    edges <- Gen.listOfN(m, for {
      u <- Gen.choose(0, n - 1)
      v <- Gen.choose(0, n - 1).suchThat(_ >= 0)
      c <- Gen.choose(1, 1000)
    } yield (u, v, c / 10.0))
  } yield (n, edges.filter(e => e._1 != e._2))

  property("dijkstra == sssp for every reachable target") =
    Prop.forAll(genGraph) { case (n, edges) =>
      val g = mkGraph(n, edges)
      val (dist, _) = LocalKernels.sssp(g, 0)
      (1 until n).forall { t =>
        val d = LocalKernels.dijkstra(g, 0, t)
        if (dist(t).isInfinite) d.isEmpty
        else d.exists(p => math.abs(p.totalCost - dist(t)) < 1e-9)
      }
    }

  property("astar == dijkstra (degenerate NaN-coord heuristic)") =
    Prop.forAll(genGraph) { case (n, edges) =>
      val g = mkGraph(n, edges)
      val d = LocalKernels.dijkstra(g, 0, n - 1)
      val a = LocalKernels.astar(g, 0, n - 1)
      (d.isDefined == a.isDefined) &&
        d.zip(a).forall { case (dp, ap) =>
          math.abs(dp.totalCost - ap.totalCost) < 1e-9 }
    }

  property("yen: top-1 == dijkstra; non-decreasing; simple; valid") =
    Prop.forAll(genGraph) { case (n, edges) =>
      val g = mkGraph(n, edges)
      val d = LocalKernels.dijkstra(g, 0, n - 1)
      val ys = LocalKernels.yen(g, 0, n - 1, 3)
      if (d.isEmpty) ys.isEmpty
      else {
        val top1 = math.abs(ys.head.totalCost - d.get.totalCost) < 1e-9
        val mono = ys.sliding(2).forall {
          case Seq(a, b) => a.totalCost <= b.totalCost + 1e-9
          case _ => true
        }
        val validity = ys.forall { p =>
          val simple = p.nodes.distinct.length == p.nodes.length
          val hops = p.nodes.sliding(2).zipWithIndex.forall {
            case (Array(u, v), i) =>
              val es = (g.offsets(u) until g.offsets(u + 1))
                .filter(e => g.targets(e) == v)
              es.nonEmpty && {
                val w = es.map(g.costs).min
                math.abs((p.costs(i + 1) - p.costs(i)) - w) < 1e-9
              }
            case _ => true
          }
          // reduce(costs) == totalCost (neo4j-code.txt:145 semantics)
          simple && hops && math.abs(p.costs.last - p.totalCost) < 1e-9
        }
        top1 && mono && validity
      }
    }
}
