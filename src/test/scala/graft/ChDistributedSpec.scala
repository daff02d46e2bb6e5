package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, min}
import org.scalatest.funsuite.AnyFunSuite
import graft.algo.{DistributedCH, LocalGraph, LocalKernels, ShortestPaths}
import graft.graph.EdgeListIngest

/** DistributedCH: the batch-independent-set build must answer every
  * query exactly like Dijkstra (fully distributed AND hybrid seam),
  * deterministically under repartitioning — and the serving contract
  * under EdgeListIngest.append must never serve stale shortcuts.
  */
class ChDistributedSpec extends AnyFunSuite with FreesCachedPlans {

  lazy val spark: SparkSession = core.Sessions.local(4, "graft-test")
  import spark.implicits._

  private def randomGraph(seed: Int, n: Int, m: Int) = {
    val rnd = new scala.util.Random(seed)
    val pairs = (for (_ <- 0 until m) yield
      (s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}",
        1.0 + rnd.nextInt(9))).filter(e => e._1 != e._2)
    val nodes = (0 until n).map(i => s"v$i").toDF("node")
    val proj = pairs.toDF("src", "dst", "cost")
      .groupBy("src", "dst").agg(min("cost").as("cost"))
    (nodes, proj)
  }

  test("distributed CH ≡ Dijkstra on random digraphs — fully " +
      "distributed and across the hybrid local-finish seam") {
    // integer costs: every path sum is exact in double, so CH distance
    // == Dijkstra distance is an EXACT equality, not a tolerance
    for (seed <- Seq(11, 47); finish <- Seq(0L, 40L)) {
      val (nodes, proj) = randomGraph(seed, 60, 300)
      val lg = LocalGraph.fromProjection(proj, None)
      val built = DistributedCH.build(spark, nodes, proj,
        localFinishEdges = finish)
      val ch = DistributedCH.assemble(spark, lg, built)
      val rnd = new scala.util.Random(seed + 1)
      var reachable = 0
      for (_ <- 0 until 40) {
        val s = rnd.nextInt(lg.n)
        val t0 = rnd.nextInt(lg.n)
        val t = if (t0 == s) (t0 + 1) % lg.n else t0
        val want = LocalKernels.dijkstra(lg, s, t)
        val got = ch.query(lg, s, t)._1
        assert(got.isDefined === want.isDefined,
          s"seed=$seed finish=$finish $s->$t reachability")
        want.foreach { w =>
          // rewalk prices unpacked hops off ORIGINAL edges only — a
          // phantom hop prices to +inf and can never equal the optimum
          val costs = LocalKernels.rewalk(lg, got.get)
          assert(costs.last === w.totalCost,
            s"seed=$seed finish=$finish $s->$t cost")
          reachable += 1
        }
      }
      assert(reachable > 10, s"seed=$seed: degenerate sample")
      graft.core.Checkpoints.release(built.chEdges)
      graft.core.Checkpoints.release(built.ranks)
    }
  }

  test("distributed CH build is repartition-invariant (ranks and edges)") {
    val (nodes, proj) = randomGraph(7, 50, 220)
    val b1 = DistributedCH.build(spark, nodes, proj, localFinishEdges = 0)
    val b2 = DistributedCH.build(spark, nodes.repartition(7),
      proj.repartition(5), localFinishEdges = 0)
    val r1 = b1.ranks.collect().map(r => (r.getString(0), r.getInt(1))).toSet
    val r2 = b2.ranks.collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(r1 === r2)
    def edges(b: DistributedCH.Built) = b.chEdges.collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getString(3))).toSet
    assert(edges(b1) === edges(b2))
    Seq(b1, b2).foreach { b =>
      graft.core.Checkpoints.release(b.chEdges)
      graft.core.Checkpoints.release(b.ranks)
    }
  }

  test("path graph: rounds stay logarithmic-ish and queries stay exact") {
    val n = 200
    val nodes = (0 until n).map(i => f"p$i%04d").toDF("node")
    val proj = (0 until n - 1)
      .flatMap(i => Seq((f"p$i%04d", f"p${i + 1}%04d", 1.0 + (i % 7)),
        (f"p${i + 1}%04d", f"p$i%04d", 1.0 + (i % 7))))
      .toDF("src", "dst", "cost")
    val built = DistributedCH.build(spark, nodes, proj,
      localFinishEdges = 0)
    // expected-constant-fraction contraction: a 200-node path must not
    // degrade to one-node-per-round (that would be ~200 levels)
    assert(built.rounds < 40, s"${built.rounds} rounds on a 200-node path")
    val lg = LocalGraph.fromProjection(proj.groupBy("src", "dst")
      .agg(min("cost").as("cost")), None)
    val ch = DistributedCH.assemble(spark, lg, built)
    for ((s, t) <- Seq((0, n - 1), (n - 1, 0), (3, 170))) {
      val want = LocalKernels.dijkstra(lg, lg.idOf(f"p$s%04d"),
        lg.idOf(f"p$t%04d")).get
      val got = ch.query(lg, lg.idOf(f"p$s%04d"), lg.idOf(f"p$t%04d"))._1.get
      assert(LocalKernels.rewalk(lg, got).last === want.totalCost)
    }
    graft.core.Checkpoints.release(built.chEdges)
    graft.core.Checkpoints.release(built.ranks)
  }

  private def raw(rows: Seq[(String, String, Double)]) =
    rows.map { case (s, d, c) => (1.0, 2.0, s, d, s"$s-$d", c) }
      .toDF("XCoord", "YCoord", "START_NODE", "END_NODE", "EDGE", "LENGTH")

  test("CH serving under append: the appended graph gets a FRESH " +
      "hierarchy (projection-identity cache key), never stale shortcuts") {
    // base: a→b direct (10), plus c present with c→b (2); the append
    // adds a→c (1), dropping the optimum from 10 to 3 — a stale
    // hierarchy would keep answering 10
    val base = EdgeListIngest.appendRaw(spark, EdgeListIngest.emptyGraph(spark),
      raw(Seq(("a", "b", 10.0), ("c", "b", 2.0), ("b", "b", 0.0))))
    val s1 = ShortestPaths.chSummary(spark, base, "a", "b").collect()(0)
    assert(s1.getLong(0) === 2L && s1.getDouble(1) === 10.0)
    val appended = EdgeListIngest.appendRaw(spark, base,
      raw(Seq(("a", "c", 1.0))))
    val s2 = ShortestPaths.chSummary(spark, appended, "a", "b").collect()(0)
    assert(s2.getLong(0) === 3L && s2.getDouble(1) === 3.0,
      "appended graph must be served by a rebuilt hierarchy")
    // the BASE graph's cached hierarchy is still valid for the base
    val s1b = ShortestPaths.chSummary(spark, base, "a", "b").collect()(0)
    assert(s1b.getLong(0) === 2L && s1b.getDouble(1) === 10.0)
  }
}
