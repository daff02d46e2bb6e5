package graftbench

import java.nio.file.Path
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.algo.{LocalGraph, LocalKernels, ShortestPaths}
import graft.core.{Checkpoints, LocalBudget}
import graft.graph.{EdgeListIngest, PropertyGraph}

/** The road-network workload: point-to-point path serving on one
  * ingested graph; and the probe of incremental append that gives a
  * traced run its `graph.append_ms`.
  */
object Road {
  final case class Query(algo: String, src: String, dst: String)

  /** Rows of the `road_paths` graph: slice-4 scale of the reference. */
  val PathRows = 40000
  /** Path queries per `road_paths` round and after each probe append. */
  val PathsPerRound = 8
  val QueriesPerAppend = 2

  private def island(rows: Seq[EdgeRow]): Vector[String] =
    rows.collect { case r if r.road == "ISL" => r.src }.distinct.toVector

  /** Algorithms cycle through a fixed 3:3:2 Dijkstra / A* / Yen k=3 mix,
    * so every round holds the same mix and a traced round reaches all
    * three kernels.
    */
  private val Mix = Vector("dijkstra", "astar", "yen3", "dijkstra", "astar",
    "dijkstra", "astar", "yen3")

  /** Seeded query picks over `oracle`'s vertices; one pair in ten
    * targets the unreachable island.
    */
  final class Picker(seed: Long, islandIds: Vector[String]) {
    private val rnd = new Random(seed * 1000003L + 17)
    private val isl = islandIds.toSet
    private var n = 0
    def next(oracle: RoadOracle): Query = {
      val main = oracle.vertices.filterNot(isl)
      val algo = Mix(n % Mix.size)
      n += 1
      val src = main(rnd.nextInt(main.size))
      val dst =
        if (rnd.nextDouble() < 0.1) islandIds(rnd.nextInt(islandIds.size))
        else Iterator.continually(main(rnd.nextInt(main.size))).find(_ != src).get
      Query(algo, src, dst)
    }
  }

  /** The served operation: the public ShortestPaths call, forced with a
    * `noop` write.
    */
  def serve(spark: SparkSession, g: PropertyGraph, q: Query): DataFrame = {
    val df = q.algo match {
      case "dijkstra" => ShortestPaths.dijkstraSummary(spark, g, q.src, q.dst)
      case "astar" => ShortestPaths.astarSummary(spark, g, q.src, q.dst)
      case _ => ShortestPaths.yen(spark, g, q.src, q.dst, 3)
    }
    df.write.format("noop").mode("overwrite").save()
    df
  }

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-4

  /** Compares a served result with the oracle: cost and hop count; for
    * Yen, also that every path is a real loopless src→dst path of the
    * stated cost, the paths distinct and their costs those of the
    * oracle's own Yen k=3, in order.
    */
  def check(q: Query, df: DataFrame, oracle: RoadOracle): Option[String] = {
    val want = oracle.shortest(q.src, q.dst)
    val rows = df.collect()
    def got = rows.mkString(";").take(200)
    if (q.algo != "yen3") {
      val r = rows.head
      val hops = r.getLong(0)
      val cost = if (r.isNullAt(1)) None else Some(r.getDouble(1))
      want match {
        case None if hops == 0 && cost.isEmpty => None
        case Some((c, h)) if hops == h && cost.exists(close(_, c)) => None
        case _ => Some(s"$q: want $want, got $got")
      }
    } else {
      val paths = rows.sortBy(_.getInt(0)).toSeq.map(r => (r.getSeq[String](1), r.getDouble(3)))
      def valid(p: Seq[String], total: Double): Boolean =
        p.head == q.src && p.last == q.dst && p.distinct.size == p.size && {
          val legs = p.sliding(2).map(e => oracle.edgeCost(e(0), e(1))).toSeq
          legs.forall(_.isDefined) && close(legs.flatten.sum, total)
        }
      val costs = oracle.yenCosts(q.src, q.dst, 3)
      val ok = paths.size == costs.size &&
        paths.zip(costs).forall { case ((_, t), c) => close(t, c) } &&
        paths.forall { case (p, t) => valid(p, t) } &&
        paths.map(_._1).distinct.size == paths.size &&
        want.forall { case (_, h) => paths.head._1.size == h }
      if (ok) None else Some(s"$q: want costs $costs, got $got")
    }
  }

  /** Traced attribution of one served query (whose latency was `queryMs`):
    * the budget job and the CSR build it ran, each kernel on a prebuilt
    * CSR for the same pair, and the remainder after its own kernel.
    */
  def attribute(h: Harness, g: PropertyGraph, lg: LocalGraph, q: Query, queryMs: Double): Unit = {
    val budget = h.timeLayer("core.budget_ms")(LocalBudget.measureEdges(g.projection))._2
    val csr = h.timeLayer("algo.csr_ms")(LocalGraph.fromProjection(g.projection, Some(g.nodes)))._2
    val s = lg.idOf(q.src); val d = lg.idOf(q.dst)
    val kernels = Map(
      "dijkstra" -> h.timeLayer("algo.dijkstra_ms")(LocalKernels.dijkstra(lg, s, d))._2,
      "astar" -> h.timeLayer("algo.astar_ms")(LocalKernels.astar(lg, s, d))._2,
      "yen3" -> h.timeLayer("algo.yen3_ms")(LocalKernels.yen(lg, s, d, 3))._2)
    h.layer("algo.unattributed_ms", queryMs - budget - csr - kernels(q.algo))
  }

  /** Base-graph ingest: build plus materializing the nodes, edges and
    * projection caches; returns the graph and its ingest time in ms.
    * Traced, it also times a bare CSV read and splits build/projection.
    */
  def ingest(spark: SparkSession, h: Harness, csv: String, exp: Expected,
      traced: Boolean): (PropertyGraph, Double) = {
    if (traced) h.timeLayer("graph.read_ms")(EdgeListIngest.readRaw(spark, csv).count())
    val t0 = h.now()
    val g = EdgeListIngest.build(spark, csv).cache()
    val nodes = g.nodes.count()
    val edges = g.edges.count()
    val built = h.ms(t0)
    g.projection.count()
    val total = h.ms(t0)
    if (traced) {
      h.layer("graph.build_ms", built)
      h.layer("graph.projection_ms", total - built)
    }
    val pending = g.pending.get.count()
    h.verify(s"ingest $csv: want $exp, got $nodes/$edges/$pending")(
      Expected(nodes, edges, pending) == exp)
    (g, total)
  }

  /** Set-up: three full ingests, the median reported; the last is kept. */
  def setup(spark: SparkSession, h: Harness, csv: String, exp: Expected,
      traced: Boolean): (PropertyGraph, Double) = {
    val runs = (1 to 3).map { i =>
      val (g, t) = ingest(spark, h, csv, exp, traced)
      if (i < 3) g.unpersistAll()
      (g, t)
    }
    (runs.last._1, Stats.median(runs.map(_._2)) / 1000)
  }

  /** `road_paths`: returns set-up seconds. */
  def paths(spark: SparkSession, h: Harness, a: Args): Double = {
    val rows = RoadGen.rows(a.seed, PathRows)
    val csv = RoadGen.write(a.work, "road", rows, rows.size + rows.size / 20).toString
    val oracle = new RoadOracle(rows)
    Host.log("inputs generated")
    val (g, setupS) = setup(spark, h, csv, RoadGen.expected(rows), a.trace)
    val lg = if (a.trace) LocalGraph.fromProjection(g.projection, Some(g.nodes)) else null
    val picker = new Picker(a.seed, island(rows))
    h.loop(warm = 2, a.seconds, a.trace) { timed =>
      for (_ <- 1 to PathsPerRound) {
        val q = picker.next(oracle)
        h.op(q.algo, timed)(serve(spark, g, q))(check(q, _, oracle)).foreach {
          case (_, t) => if (timed.contains(true)) attribute(h, g, lg, q, t)
        }
      }
    }
    setupS
  }

  /** Cumulative slices of one generated network, written as CSVs, with
    * their expected counts and oracles; `g` is the served graph and `i`
    * the index of the slice it holds.
    */
  private final class SliceSet(dir: Path, seed: Long, nRows: Int, k: Int) {
    private val full = RoadGen.rows(seed, nRows)
    private val slices = RoadGen.cumulative(full, k)
    val csvs: Vector[String] = slices.zipWithIndex.map { case (s, i) =>
      RoadGen.write(dir, s"slice${i + 1}", s, full.size + full.size / 20).toString
    }
    val exps: Vector[Expected] = slices.map(RoadGen.expected)
    val oracles: Vector[RoadOracle] = slices.map(new RoadOracle(_))
    val picker = new Picker(seed, island(full))
    var g: PropertyGraph = _
    var i = 0
  }

  /** One append operation: the next slice onto `s.g`, then path queries
    * on the grown graph; traced, the append time and the queries'
    * attribution are recorded.
    */
  private def appendOp(spark: SparkSession, h: Harness, s: SliceSet,
      timed: Option[Boolean]): Unit = {
    val n = s.i + 1
    val qs = Seq.fill(QueriesPerAppend)(s.picker.next(s.oracles(n)))
    val res = h.op("append", timed) {
      val t0 = h.now()
      s.g = grow(spark, s.g, s.csvs(n), checkpointed = s.i > 0)
      s.i = n
      val counts = (s.g.nodes.count(), s.g.edges.count())
      val appendMs = h.ms(t0)
      val served = qs.map { q =>
        val t = h.now(); val df = serve(spark, s.g, q); (q, df, h.ms(t))
      }
      (counts, appendMs, served)
    } { case ((nodes, edges), _, served) =>
      val p = s.g.pending.get.count()
      if (Expected(nodes, edges, p) != s.exps(n))
        Some(s"append slice ${n + 1}: want ${s.exps(n)}, got $nodes/$edges/$p")
      else served.iterator.flatMap { case (q, df, _) => check(q, df, s.oracles(n)) }.nextOption()
    }
    if (timed.contains(true)) res.foreach { case ((_, appendMs, served), _) =>
      h.layer("graph.append_ms", appendMs)
      val lg = LocalGraph.fromProjection(s.g.projection, Some(s.g.nodes))
      served.foreach { case (q, _, t) => attribute(h, s.g, lg, q, t) }
    }
  }

  /** Appends one slice and materializes the grown graph the way the
    * engine's own multi-generation sweep does: nodes, edges and pending
    * are checkpointed, which cuts the plan lineage that would otherwise
    * nest every earlier generation, and the previous generation is freed.
    */
  private def grow(spark: SparkSession, prev: PropertyGraph, csv: String,
      checkpointed: Boolean): PropertyGraph = {
    val next = EdgeListIngest.append(spark, prev, csv)
    val g = PropertyGraph(next.nodes.localCheckpoint(true),
      next.edges.localCheckpoint(true),
      pending = next.pending.map(_.localCheckpoint(true)))
    next.underlying.foreach(_.unpersist())
    release(prev, checkpointed)
    g
  }

  private def release(g: PropertyGraph, checkpointed: Boolean): Unit =
    if (!checkpointed) g.unpersistAll()
    else {
      Checkpoints.release(g.nodes)
      Checkpoints.release(g.edges)
      g.pending.foreach(Checkpoints.release)
      g.projection.unpersist()
    }

  /** Road layers for a traced run whose workload has no graph work: a
    * small seeded two-slice network, one traced ingest and append.
    */
  def probe(spark: SparkSession, h: Harness, dir: Path, seed: Long): Unit = {
    val s = new SliceSet(dir.resolve("probe"), seed, 3000, 2)
    s.g = ingest(spark, h, s.csvs(0), s.exps(0), traced = true)._1
    appendOp(spark, h, s, Some(true))
    release(s.g, checkpointed = s.i > 0)
  }
}
