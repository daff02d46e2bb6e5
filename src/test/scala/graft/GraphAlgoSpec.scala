package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.algo.{DistributedSSSP, LocalGraph, LocalKernels, ShortestPaths}
import graft.graph.EdgeListIngest

/** Ingest parity (reference counts) + cross-kernel agreement
  * (SURVEY §5.2: local Dijkstra ≡ distributed relaxation ≡ A* admissible
  * ≡ Yen top-1; path validity invariants).
  */
class GraphAlgoSpec extends AnyFunSuite with FreesCachedPlans {

  lazy val spark: SparkSession = core.Sessions.local(4, "graft-test")
  import spark.implicits._

  val slice1 = "/root/reference/Shenzhen_Edgelist_1.csv"

  lazy val pg = EdgeListIngest.build(spark, slice1).cache()
  lazy val lg = LocalGraph.fromProjection(pg.projection, Some(pg.nodes))

  // ---- the twins' in-memory references take the one driver graph ----
  // these build it from in-memory ids and edges the way the twins do,
  // and name the Int labels they return

  private def graphOf(nodeIds: Array[String], pairs: Array[(String, String)])
      : LocalGraph =
    LocalGraph.collect(pairs.toSeq.toDF("src", "dst"),
      nodes = Some(nodeIds.toSeq.toDF("node")))

  private def named(g: LocalGraph, lbl: Array[Int]): Map[String, String] =
    g.nodes.map(v => g.ids(v) -> g.ids(lbl(v))).toMap

  private def lpaRef(nodeIds: Array[String], pairs: Array[(String, String)],
      rounds: Int): Map[String, String] = {
    val g = graphOf(nodeIds, pairs)
    named(g, algo.LabelPropagation.localReference(g, rounds))
  }

  private def louvainRef(nodeIds: Array[String], pairs: Array[(String, String)],
      rounds: Int): Map[String, String] = {
    val g = graphOf(nodeIds, pairs)
    named(g, algo.Louvain.localWeightedReference(g, rounds))
  }

  private def twoLevelRef(nodeIds: Array[String],
      pairs: Array[(String, String)], rounds: Int, coarseRounds: Int)
      : Map[String, String] = {
    val g = graphOf(nodeIds, pairs)
    named(g, algo.Louvain.localMultiLevel(g, rounds, coarseRounds, 2))
  }

  private def multiLevelRef(nodeIds: Array[String],
      pairs: Array[(String, String)], rounds: Int, coarseRounds: Int,
      maxLevels: Int): Map[String, String] = {
    val g = graphOf(nodeIds, pairs)
    named(g, algo.Louvain.localMultiLevel(g, rounds, coarseRounds, maxLevels))
  }

  private def weightedRef(nodeIds: Array[String],
      triples: Array[(String, String, Long)], rounds: Int)
      : Map[String, String] = {
    val g = LocalGraph.collect(triples.toSeq.toDF("src", "dst", "w"),
      Some(org.apache.spark.sql.functions.col("w")),
      Some(nodeIds.toSeq.toDF("node")))
    named(g, algo.Louvain.localWeightedReference(g, rounds))
  }

  private def modularityOf(nodeIds: Array[String],
      pairs: Array[(String, String)], lbl: Map[String, String]): BigInt = {
    val g = graphOf(nodeIds, pairs)
    algo.Louvain.modularityNum(g, Array.tabulate(g.n)(v =>
      lbl.get(g.ids(v)).fold(v)(g.idOf)))
  }

  private def walksRef(nodeIds: Array[String], pairs: Array[(String, String)],
      numWalks: Int, length: Int) =
    algo.RandomWalks.localReference(graphOf(nodeIds, pairs), numWalks, length)

  private def node2vecRef(nodeIds: Array[String],
      pairs: Array[(String, String)], numWalks: Int, length: Int,
      retWeight: Int = 1, adjWeight: Int = 4, farWeight: Int = 2) =
    algo.RandomWalks.localNode2vecReference(graphOf(nodeIds, pairs),
      numWalks, length, retWeight, adjWeight, farWeight)

  /** Id alphabets of the random-graph equivalence specs: plain ASCII, and
    * ids whose UTF-16 order disagrees with the engines' UTF-8 byte order
    * (U+FF01 sorts below U+1F600 in UTF-8 but above its surrogate pair
    * in UTF-16) — a twin that orders ids as Java Strings fails on it.
    */
  private val alphabets: Seq[(String, Int => String)] = Seq(
    "ascii" -> (i => s"v$i"),
    "mixed" -> (i => Seq("！", "😀", "！😀")(i % 3) + i))

  /** The engines' string order (UTF-8 bytes), for brute-force expectations. */
  private val engineOrder: Ordering[String] = Ordering.fromLessThan((a, b) =>
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0)

  test("graft_shortest_path SQL table function matches the DataFrame path") {
    graft.functions.GraftFunctions.register(spark)
    val sqlRows = spark
      .sql("SELECT * FROM graft_shortest_path('2022', '2802')")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq
    val dfRows = ShortestPaths
      .dijkstraPath(spark, queries.Graph.graphFor(spark, slice1), "2022", "2802")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq
    assert(sqlRows.nonEmpty && sqlRows === dfRows)
    // non-literal / wrong-arity calls fail with a clear analysis error
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_shortest_path('2022')").collect()
    }
    assert(e.getMessage.contains("graft_shortest_path"))
  }

  test("slice-1 ingest counts match the reference (3705 nodes, 9696 edges)") {
    assert(pg.nodes.count() === 3705L)   // standalone.txt:2
    assert(pg.edges.count() === 9696L)   // IMPL.md:754
  }

  test("padding rows are dropped at scan") {
    val raw = EdgeListIngest.readRaw(spark, slice1)
    assert(raw.count() === 9999L)
  }

  private def nodeSet(p: graph.PropertyGraph): Set[(String, Double, Double)] =
    p.nodes.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
  private def edgeSet(d: org.apache.spark.sql.DataFrame)
      : Set[(String, String, String, Double)] =
    d.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getDouble(3))).toSet

  test("append: slice1 + slice2 ≡ from-scratch slice-2 build") {
    // the shipped slices are cumulative prefixes, so a from-scratch
    // build of slice 2 IS the union build the append contract promises
    val slice2 = "/root/reference/Shenzhen_Edgelist_2.csv"
    val scratch = EdgeListIngest.build(spark, slice2)
    val inc = EdgeListIngest.append(spark, pg, slice2)
    assert(nodeSet(inc) === nodeSet(scratch))
    assert(edgeSet(inc.edges) === edgeSet(scratch.edges))
    assert(edgeSet(inc.pending.get) === edgeSet(scratch.pending.get))
    // chained append 1→2→3 still equals the from-scratch build
    val slice3 = "/root/reference/Shenzhen_Edgelist_3.csv"
    val inc3 = EdgeListIngest.append(spark, inc, slice3)
    val scratch3 = EdgeListIngest.build(spark, slice3)
    assert(nodeSet(inc3) === nodeSet(scratch3))
    assert(edgeSet(inc3.edges) === edgeSet(scratch3.edges))
    assert(edgeSet(inc3.pending.get) === edgeSet(scratch3.pending.get))
  }

  test("append property: random edge lists, random batch splits — " +
      "append chain ≡ from-scratch build") {
    // seeded random graphs with deliberately dangling endpoints, split
    // into 3 random batches: the chained append must equal the
    // from-scratch build over the concatenation for EVERY split,
    // including the pending backlog (danglers whose START_NODE arrives
    // in a later batch revive; others stay pending)
    val header = "XCoord,YCoord,START_NODE,END_NODE,EDGE,LENGTH\n"
    for (seed <- Seq(7, 23, 91)) {
      val rnd = new scala.util.Random(seed)
      val n = 12 + rnd.nextInt(10)
      val rows = (0 until 60 + rnd.nextInt(40)).map { i =>
        val src = rnd.nextInt(n)
        // END_NODE may exceed the START_NODE id space → dangling
        val dst = rnd.nextInt(n + 6)
        f"$src%d.5,${src * 2}%d.5,$src,$dst,e${i % 37},${1 + rnd.nextInt(9)}.25\n"
      }
      val parts = rows.grouped(math.max(1, rows.size / 3 + 1)).toSeq
      val dir = java.nio.file.Files.createTempDirectory(s"graft-prop-$seed")
      val paths = parts.zipWithIndex.map { case (p, i) =>
        val f = dir.resolve(f"b$i%02d.csv")
        java.nio.file.Files.write(f, (header + p.mkString).getBytes("UTF-8"))
        f.toString
      }
      val union = dir.resolve("union.csv")
      java.nio.file.Files.write(union,
        (header + rows.mkString).getBytes("UTF-8"))
      val inc = paths.tail.foldLeft(EdgeListIngest.build(spark, paths.head)) {
        (pg, p) => EdgeListIngest.append(spark, pg, p)
      }
      val scratch = EdgeListIngest.build(spark, union.toString)
      assert(nodeSet(inc) === nodeSet(scratch), s"nodes seed=$seed")
      assert(edgeSet(inc.edges) === edgeSet(scratch.edges),
        s"edges seed=$seed")
      assert(edgeSet(inc.pending.get) === edgeSet(scratch.pending.get),
        s"pending seed=$seed")
    }
  }

  test("append over TRUE deltas: build(slice1) + delta2 + delta3 ≡ " +
      "from-scratch slice-3 build") {
    // r9 verdict item 5: the batch sweep replays cumulative slice files,
    // so work-∝-delta was only proven for shuffle volume. Here the
    // appended input IS the derived per-slice delta (suffix rows, prefix
    // property re-verified inside deriveDelta) — the honest delta-feed
    // workflow a production ingest would run.
    val dir = java.nio.file.Files.createTempDirectory("graft-truedelta")
    val header = {
      val src = scala.io.Source.fromFile(slice1)
      try src.getLines().next() finally src.close()
    }
    val l1 = AppendSweep.dataLines(slice1)
    val l2 = AppendSweep.dataLines("/root/reference/Shenzhen_Edgelist_2.csv")
    val l3 = AppendSweep.dataLines("/root/reference/Shenzhen_Edgelist_3.csv")
    val d2 = dir.resolve("delta2.csv"); val d3 = dir.resolve("delta3.csv")
    val n2 = AppendSweep.deriveDelta(l1, l2, header, d2)
    val n3 = AppendSweep.deriveDelta(l2, l3, header, d3)
    assert(n2 === l2.size - l1.size && n3 === l3.size - l2.size)
    val inc = EdgeListIngest.append(spark,
      EdgeListIngest.append(spark, pg, d2.toString), d3.toString)
    val scratch = EdgeListIngest.build(spark,
      "/root/reference/Shenzhen_Edgelist_3.csv")
    assert(nodeSet(inc) === nodeSet(scratch))
    assert(edgeSet(inc.edges) === edgeSet(scratch.edges))
    assert(edgeSet(inc.pending.get) === edgeSet(scratch.pending.get))
  }

  test("append: a later slice revives a pending (dangling-endpoint) edge") {
    val dir = java.nio.file.Files.createTempDirectory("graft-append")
    val header = "XCoord,YCoord,START_NODE,END_NODE,EDGE,LENGTH\n"
    def writeCsv(name: String, rows: String): String = {
      val f = dir.resolve(name)
      java.nio.file.Files.write(f, (header + rows).getBytes("UTF-8"))
      f.toString
    }
    val rowsA = "1.0,1.0,1,2,e1,10.0\n2.0,2.0,2,1,e2,10.0\n1.0,1.0,1,9,e3,5.0\n"
    val rowsB = "9.0,9.0,9,1,e4,7.0\n"
    val pgA = EdgeListIngest.build(spark, writeCsv("a.csv", rowsA))
    assert(pgA.edges.count() === 2L)        // 1→9 dangles: 9 not a node yet
    assert(edgeSet(pgA.pending.get) === Set(("1", "9", "e3", 5.0)))
    val pgB = EdgeListIngest.append(spark, pgA, writeCsv("b.csv", rowsB))
    assert(pgB.nodes.count() === 3L)
    assert(pgB.edges.count() === 4L)        // e3 revived + e4 appended
    assert(pgB.pending.get.count() === 0L)
    // DISJOINT slices: append ≡ from-scratch over the concatenation too
    val scratch = EdgeListIngest.build(spark, writeCsv("u.csv", rowsA + rowsB))
    assert(nodeSet(pgB) === nodeSet(scratch))
    assert(edgeSet(pgB.edges) === edgeSet(scratch.edges))
  }

  test("dijkstra 2022→2802 matches the frozen slice-1 golden") {
    val p = LocalKernels.dijkstra(lg, lg.idOf("2022"), lg.idOf("2802")).get
    assert(p.nodes.length > 1)
    // golden frozen from the independent (non-Spark) oracle, SURVEY §5.2.2
    assert(math.abs(p.totalCost - 9221.720430639) < 1e-6)
    // running-cost stream: last cost == total
    assert(math.abs(p.costs.last - p.totalCost) < 1e-9)
    // path validity: every consecutive pair is an edge with matching cost
    val adj = (0 until lg.n).map { u =>
      (lg.offsets(u) until lg.offsets(u + 1))
        .map(e => lg.targets(e) -> lg.costs(e)).toMap
    }
    p.nodes.sliding(2).zipWithIndex.foreach { case (Array(u, v), i) =>
      val w = adj(u)(v)
      assert(math.abs((p.costs(i + 1) - p.costs(i)) - w) < 1e-9)
    }
  }

  test("A* (admissible Euclidean) agrees with Dijkstra on total cost") {
    val d = LocalKernels.dijkstra(lg, lg.idOf("2022"), lg.idOf("2802")).get
    val a = LocalKernels.astar(lg, lg.idOf("2022"), lg.idOf("2802")).get
    assert(math.abs(d.totalCost - a.totalCost) < 1e-9)
  }

  test("sssp distance to target equals dijkstra total (IMPL.md:388 parity)") {
    val (dist, _) = LocalKernels.sssp(lg, lg.idOf("2022"))
    val d = LocalKernels.dijkstra(lg, lg.idOf("2022"), lg.idOf("2802")).get
    assert(math.abs(dist(lg.idOf("2802")) - d.totalCost) < 1e-9)
  }

  test("yen k=3: top-1 equals dijkstra; costs non-decreasing; loopless") {
    val d = LocalKernels.dijkstra(lg, lg.idOf("2022"), lg.idOf("2802")).get
    val ys = LocalKernels.yen(lg, lg.idOf("2022"), lg.idOf("2802"), 3)
    assert(ys.length === 3)
    assert(math.abs(ys.head.totalCost - d.totalCost) < 1e-9)
    assert(ys.sliding(2).forall { case Seq(a, b) =>
      a.totalCost <= b.totalCost + 1e-9 })
    ys.foreach { p => assert(p.nodes.distinct.length === p.nodes.length) }
  }

  test("distributed kernel agrees with local kernel on a random graph") {
    val rnd = new scala.util.Random(7)
    val n = 60
    val edges = (for {
      _ <- 0 until 400
      u = rnd.nextInt(n); v = rnd.nextInt(n)
      if u != v
    } yield (s"n$u", s"n$v", 1.0 + rnd.nextInt(100) / 10.0)).distinct
    val edf = edges.toDF("src", "dst", "cost")
      .groupBy("src", "dst").agg(org.apache.spark.sql.functions.min("cost").as("cost"))
    val lgr = LocalGraph.fromProjection(edf, None)
    val (dist, _) = LocalKernels.sssp(lgr, lgr.idOf("n0"))
    for (delta <- Seq(None, Some(5.0))) {
      val state = DistributedSSSP.run(spark, edf, Seq("n0"), delta = delta)
      val got = state.select("nodeId", "dist").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      (0 until lgr.n).foreach { i =>
        val id = lgr.ids(i)
        if (dist(i).isFinite)
          assert(math.abs(got(id) - dist(i)) < 1e-9, s"node $id (delta=$delta)")
        else assert(!got.contains(id), s"node $id unreachable (delta=$delta)")
      }
    }
  }

  test("distributed early-exit path matches local dijkstra") {
    val rnd = new scala.util.Random(13)
    val n = 40
    val edges = (for {
      _ <- 0 until 240
      u = rnd.nextInt(n); v = rnd.nextInt(n)
      if u != v
    } yield (s"n$u", s"n$v", 1.0 + rnd.nextInt(50) / 5.0)).distinct
    val edf = edges.toDF("src", "dst", "cost")
      .groupBy("src", "dst").agg(org.apache.spark.sql.functions.min("cost").as("cost"))
    val lgr = LocalGraph.fromProjection(edf, None)
    val local = LocalKernels.dijkstra(lgr, lgr.idOf("n0"), lgr.idOf("n1"))
    val state = DistributedSSSP.run(spark, edf, Seq("n0"), Some("n1"))
    val rec = DistributedSSSP.reconstructPath(state, "n0", "n1")
    (local, rec) match {
      case (Some(lp), Some((_, dists))) =>
        assert(math.abs(lp.totalCost - dists.last) < 1e-9)
      case (None, None) => succeed
      case other => fail(s"kernel disagreement: $other")
    }
  }

  test("distributed Yen matches local Yen on a random graph") {
    val rnd = new scala.util.Random(29)
    val n = 25
    val edges = (for {
      _ <- 0 until 140
      u = rnd.nextInt(n); v = rnd.nextInt(n)
      if u != v
    } yield (s"n$u", s"n$v", 1.0 + rnd.nextInt(40) / 4.0)).distinct
    val edf = edges.toDF("src", "dst", "cost")
      .groupBy("src", "dst").agg(org.apache.spark.sql.functions.min("cost").as("cost"))
    val lgr = LocalGraph.fromProjection(edf, None)
    val local = LocalKernels.yen(lgr, lgr.idOf("n0"), lgr.idOf("n1"), 3)
    val dist = algo.DistributedYen.run(spark, edf, "n0", "n1", 3)
    assert(local.length === dist.length)
    local.zip(dist).foreach { case (lp, dp) =>
      assert(math.abs(lp.totalCost - dp.total) < 1e-9)
      assert(lp.nodes.map(lgr.ids).toVector === dp.nodes,
        "node sequences must match, not just totals")
    }
    // batched multi-spur rounds (default) ≡ strictly sequential
    // per-spur searches: batched results are read back and enqueued in
    // spur-index order, so the candidate-pool insertion sequence —
    // hence tie behavior — is identical by construction; pin it anyway
    val seq1 = algo.DistributedYen.run(spark, edf, "n0", "n1", 3,
      batchSpurs = false)
    assert(seq1.map(_.nodes) === dist.map(_.nodes))
    assert(seq1.map(_.costs) === dist.map(_.costs))
  }

  test("distributed kernel releases every checkpoint it creates") {
    // Every forced-distributed kernel (localEdgeThreshold = 0, or its
    // distributed entry point) on one seeded random digraph: run it,
    // force its result, release the result, and the persistent-RDD
    // registry is back at its pre-run population (suites run
    // sequentially in the forked test JVM, so the diff is ours), with no
    // RDD the run persisted left persisted (Leaks: the registry alone
    // forgets garbage-collected RDDs). Dataset.unpersist() is a no-op on
    // localCheckpoint'ed frames, so a kernel must release through
    // Checkpoints. Each row also reports its Spark job count, the "same
    // work" figure across refactors.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, lit}
    val rnd = new scala.util.Random(41)
    val n = 24
    val arcs = (for {
      _ <- 0 until 80
      u = rnd.nextInt(n); v = rnd.nextInt(n)
      if u != v
    } yield (s"n$u", s"n$v", 1.0 + rnd.nextInt(20) / 4.0)).distinct
    val costs = arcs.toDF("src", "dst", "cost")
      .groupBy("src", "dst").agg(org.apache.spark.sql.functions.min("cost").as("cost"))
    val edges = costs.select("src", "dst")
    val weights = costs.select(col("src"), col("dst"),
      (col("cost") * 4).cast("long").as("w"))
    val nodes = (0 until n).map(i => s"n$i").toDF("node")
    val pairs = edges.withColumn("n_pairs", lit(1L))
    // a 41-node chain: six pointer-jumping supersteps to converge
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val rows: Seq[(String, () => Any)] = Seq(
      "pagerank" -> (() => algo.PageRank.run(nodes, edges, iters = 3,
        localEdgeThreshold = 0L)),
      "ppr" -> (() => algo.PageRank.personalized(nodes, edges, "n0",
        iters = 3, localEdgeThreshold = 0L)),
      "hits" -> (() => algo.Hits.run(nodes, edges, iters = 3,
        localEdgeThreshold = 0L)),
      "labelprop" -> (() => algo.LabelPropagation.run(spark, nodes, edges,
        rounds = 3, localEdgeThreshold = 0L)),
      "louvain" -> (() => algo.Louvain.run(spark, nodes, edges, rounds = 3,
        localEdgeThreshold = 0L)),
      "louvainW" -> (() => algo.Louvain.runWeighted(spark, nodes, weights,
        rounds = 3, localEdgeThreshold = 0L)),
      "louvain2l" -> (() => algo.Louvain.runTwoLevel(spark, nodes, edges,
        rounds = 3, coarseRounds = 2, localEdgeThreshold = 0L)),
      "louvainML" -> (() => algo.Louvain.runMultiLevel(spark, nodes, edges,
        rounds = 3, coarseRounds = 2, maxLevels = 3,
        localEdgeThreshold = 0L)),
      "conductance" -> (() => algo.Louvain.conductance(spark, nodes, edges,
        nodes.select(col("node"), col("node").as("lbl")))),
      "kcore" -> (() => algo.KCore.core(spark, edges, k = 2,
        localEdgeThreshold = 0L)),
      "truss" -> (() => algo.Truss.truss(spark, edges, k = 3,
        localEdgeThreshold = 0L)),
      "mis" -> (() => algo.IndependentSet.luby(spark, nodes, edges,
        localEdgeThreshold = 0L)),
      "coloring" -> (() => algo.Coloring.greedy(spark, nodes, edges,
        localEdgeThreshold = 0L)),
      "matchW" -> (() => algo.Matching.heaviest(spark, costs,
        localEdgeThreshold = 0L)),
      "match" -> (() => algo.Matching.maximal(spark, edges,
        localEdgeThreshold = 0L)),
      "mst" -> (() => algo.Boruvka.mst(spark, costs,
        localEdgeThreshold = 0L)),
      "wcc" -> (() => algo.GraphComponents.wcc(spark, nodes, edges,
        localEdgeThreshold = 0L)),
      "scc" -> (() => algo.StronglyConnected.scc(spark, nodes, edges,
        localEdgeThreshold = 0L)),
      "betweenness" -> (() => algo.Betweenness.run(spark, nodes, costs,
        Seq("n0", "n1"), localEdgeThreshold = 0L)),
      "walks" -> (() => algo.RandomWalks.walks(nodes, edges, length = 3,
        localEdgeThreshold = 0L)),
      "node2vec" -> (() => algo.RandomWalks.node2vecWalks(nodes, edges,
        length = 3, localEdgeThreshold = 0L)),
      "embedding" -> (() => algo.EmbeddingTrain.train(nodes, pairs,
        epochs = 2, localPairThreshold = 0L)),
      "hyperanf" -> (() => algo.HyperAnf.neighborhoodFunction(spark, nodes,
        edges, rounds = 3)),
      "triangles" -> (() => algo.Triangles.perNode(nodes, edges,
        localEdgeThreshold = 0L)),
      "motifs" -> (() => algo.Motifs.counts(nodes, edges)),
      "sssp" -> (() => DistributedSSSP.run(spark, costs, Seq("n0"))),
      "sssp-delta" -> (() => DistributedSSSP.run(spark, costs, Seq("n0"),
        delta = Some(3.0))),
      "yen" -> (() => algo.DistributedYen.run(spark, costs, "n0", "n1", 3)),
      "ch" -> (() => algo.DistributedCH.build(spark, nodes, costs,
        localFinishEdges = 0L)),
      "dedup-groups" -> (() => llm.Dedup.transitiveGroups(chain,
        localThreshold = 0L)),
      // fails on purpose: the random digraph needs more than one Borůvka
      // round and more than one color
      "mst-fails" -> (() => intercept[IllegalStateException](
        algo.Boruvka.mst(spark, costs, maxRounds = 1,
          localEdgeThreshold = 0L))),
      "coloring-fails" -> (() => intercept[IllegalStateException](
        algo.Coloring.greedy(spark, nodes, edges, maxColors = 1,
          localEdgeThreshold = 0L))),
      // and the chain needs more than one superstep
      "dedup-groups-fails" -> (() => intercept[IllegalStateException](
        llm.Dedup.transitiveGroups(chain, maxIter = 1,
          localThreshold = 0L))))
    def finish(out: Any): Unit = out match {
      case df: DataFrame @unchecked =>
        df.count(); core.Checkpoints.release(df)
      case b: algo.DistributedCH.Built =>
        Seq(b.chEdges, b.ranks).foreach { df =>
          df.count(); core.Checkpoints.release(df) }
      case _ =>
    }
    val report = rows.map { case (name, run) =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      var jobs = Seq.empty[Int]
      val stillPersisted = Leaks.of(spark) {
        jobs = JobGroups.jobsOf(spark, s"leak-$name")(finish(run()))
      }
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      (name, jobs.size, leaked ++ stillPersisted)
    }
    info(report.map { case (name, jobs, _) => s"$name=$jobs" }
      .mkString("jobs: ", " ", ""))
    report.foreach { case (name, _, leaked) =>
      assert(leaked.isEmpty, s"$name leaked persistent RDDs: $leaked") }
  }

  test("graphFor memoizes per session; release drops and rebuilds") {
    val pg1 = queries.Graph.graphFor(spark, slice1)
    assert(queries.Graph.graphFor(spark, slice1) eq pg1)
    queries.Graph.release(spark)
    val pg2 = queries.Graph.graphFor(spark, slice1)
    assert(pg2 ne pg1)
    assert(pg2.nodes.count() === 3705L)
  }

  test("multigraph parallel edges survive; exact duplicates collapse") {
    val raw = Seq(
      (0.0, 0.0, "a", "b", "r1", 5.0),
      (0.0, 0.0, "a", "b", "r2", 7.0),   // parallel, distinct roadId
      (0.0, 0.0, "a", "b", "r1", 5.0),   // exact duplicate → collapses
      (1.0, 1.0, "b", "a", "r3", 2.0),
      (2.0, 2.0, "c", "zz", "r4", 1.0)   // dangling END_NODE 'zz' → dropped
    ).toDF("XCoord", "YCoord", "START_NODE", "END_NODE", "EDGE", "LENGTH")
    val n = EdgeListIngest.nodes(raw)
    val e = EdgeListIngest.edges(raw, n)
    assert(n.count() === 3)
    assert(e.count() === 3)  // a→b ×2 + b→a; c→zz dropped
  }

  test("wcc: distributed path ≡ local union-find on slice 1") {
    val nodes = pg.nodes.select("nodeId")
    val edges = pg.projection.select("src", "dst")
    val local = algo.GraphComponents.wcc(spark, nodes, edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // force the distributed superstep path regardless of slice size
    val dist = algo.GraphComponents.wcc(spark, nodes, edges,
        localEdgeThreshold = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(local.size === 3705)
    assert(dist === local)
    assert(local.values.toSet.size === 113) // slice-1 component count
    // every label is the lexicographic min of its component
    val byComp = local.groupBy(_._2).map { case (c, m) => c -> m.keys.min }
    assert(byComp.forall { case (c, minMember) => c == minMember })
  }

  test("scc: distributed FW-BW path ≡ local Tarjan on slice 1") {
    val nodes = pg.nodes.select("nodeId")
    val edges = pg.projection.select("src", "dst")
    val local = algo.StronglyConnected.scc(spark, nodes, edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val dist = algo.StronglyConnected.scc(spark, nodes, edges,
        localEdgeThreshold = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(local.size === 3705)
    assert(dist === local)
    // slice-1 audit (tools/scc_golden.py): 113 SCCs, top sizes
    // 2191/850/208, no singletons — and the slice's SCCs coincide with
    // its WCCs (road segments are mostly paired), which the directed
    // kernel must discover, not assume
    assert(local.values.toSet.size === 113)
    val sizes = local.groupBy(_._2).view.mapValues(_.size).values.toSeq
      .sorted(Ordering[Int].reverse)
    assert(sizes.take(3) === Seq(2191, 850, 208))
    assert(sizes.last > 1)
    val byComp = local.groupBy(_._2).map { case (c, m) => c -> m.keys.min }
    assert(byComp.forall { case (c, minMember) => c == minMember })
  }

  test("scc: directed fixtures — cycles, chains, self-loops, isolates") {
    // c1: 3-cycle a→b→c→a; chain c→d→e (d, e singletons);
    // f⇄g 2-cycle; h isolated; i with self-loop only
    val nodes = Seq("a", "b", "c", "d", "e", "f", "g", "h", "i").toDF("node")
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "a"),
      ("c", "d"), ("d", "e"),
      ("f", "g"), ("g", "f"), ("g", "f"), // parallel dup
      ("i", "i")                          // self-loop
    ).toDF("src", "dst")
    val expected = Map(
      "a" -> "a", "b" -> "a", "c" -> "a",
      "d" -> "d", "e" -> "e",
      "f" -> "f", "g" -> "f",
      "h" -> "h", "i" -> "i")
    val local = algo.StronglyConnected.scc(spark, nodes, edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(local === expected)
    val dist = algo.StronglyConnected.scc(spark, nodes, edges,
        localEdgeThreshold = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dist === expected)
  }

  test("scc: random digraphs ≡ brute-force mutual reachability") {
    for ((alpha, id) <- alphabets; seed <- Seq(7, 23, 71, 131, 223)) {
      val rnd = new scala.util.Random(seed)
      val n = 15 + rnd.nextInt(15)
      val pairs = (for (_ <- 0 until 35 + rnd.nextInt(40)) yield
        (id(rnd.nextInt(n)), id(rnd.nextInt(n))))
        .filter(e => e._1 != e._2).distinct
      val nodesDf = (0 until n).map(id).toDF("node")
      val edgesDf = pairs.toDF("src", "dst")
      // brute: forward-reachable sets by BFS, label = min mutual partner
      val adj = pairs.groupBy(_._1).map { case (k, es) =>
        k -> es.map(_._2).toSet }
      def reach(start: String): Set[String] = {
        val seen = scala.collection.mutable.Set(start)
        val q = scala.collection.mutable.Queue(start)
        while (q.nonEmpty) {
          adj.getOrElse(q.dequeue(), Set.empty).foreach { v =>
            if (seen.add(v)) q.enqueue(v)
          }
        }
        seen.toSet
      }
      val fwd = (0 until n).map(id).map(v => v -> reach(v)).toMap
      val expected = fwd.keys.map { v =>
        v -> fwd(v).filter(u => fwd(u).contains(v)).min(engineOrder) // v ∈ fwd(v)
      }.toMap
      val dist = algo.StronglyConnected.scc(spark, nodesDf, edgesDf,
          localEdgeThreshold = 0L)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(dist === expected, s"scc-dist $alpha seed=$seed")
      val local = algo.StronglyConnected.scc(spark, nodesDf, edgesDf)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(local === expected, s"scc-local $alpha seed=$seed")
    }
  }

  test("betweenness: slice-1 kernel matches the independent golden") {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val tree = om.readTree(new java.io.File(
      "tools/goldens/betweenness_slice1.json"))
    val golden = scala.collection.mutable.HashMap.empty[String, Long]
    tree.fields().forEachRemaining(e => golden(e.getKey) = e.getValue.asLong())
    val sources = (0 until 200).map(i => (i * 17 + 1).toString)
    val got = algo.Betweenness.run(spark, pg.nodes.select("nodeId"),
        pg.projection.select("src", "dst", "cost"), sources)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size === 3705)
    assert(got === golden.toMap)
    // audited shape: 2318 nodes carry positive bc; top node 739
    assert(got.count(_._2 > 0L) === 2318)
    assert(got.maxBy(_._2)._1 === "739")
  }

  test("betweenness: distributed path ≡ local kernel on random digraphs") {
    // integer-valued double costs force genuine shortest-path ties, so
    // σ > 1 and the fixed-point δ division are both exercised
    for (seed <- Seq(11, 47, 83)) {
      val rnd = new scala.util.Random(seed)
      val n = 12 + rnd.nextInt(10)
      val pairs = (for (_ <- 0 until 40 + rnd.nextInt(30)) yield
        (s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}",
          (1 + rnd.nextInt(4)).toDouble))
        .filter(e => e._1 != e._2)
        .groupBy(e => (e._1, e._2)).map(_._2.minBy(_._3)).toSeq
      val nodesDf = (0 until n).map(i => s"v$i").toDF("node")
      val edgesDf = pairs.toDF("src", "dst", "cost")
      val sources = (0 until n by 3).map(i => s"v$i")
      val local = algo.Betweenness.run(spark, nodesDf, edgesDf, sources)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val dist = algo.Betweenness.run(spark, nodesDf, edgesDf, sources,
          maxHops = 25, localEdgeThreshold = 0L)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(dist === local, s"betweenness seed=$seed")
      assert(local.values.exists(_ > 0L), s"degenerate case seed=$seed")
    }
  }

  test("betweenness error contract: FULL-source run is exact Brandes on " +
      "unique-path fixtures") {
    // g18's quantity is EXACTLY Σ_{s∈S} δ_s(v), not an estimate: with
    // S = V it must equal textbook all-sources Brandes. On fixtures with
    // unique shortest paths σ ≡ 1, so the micro fixed-point's floor
    // division is exact and the analytic value is 10⁶ · #{(s,t) pairs
    // whose shortest path passes through v}.
    // Directed path p0→p1→…→p5: interior node i carries i·(n-1-i) pairs.
    val n = 6
    val pNodes = (0 until n).map(i => s"p$i").toDF("node")
    val pEdges = (0 until n - 1).map(i => (s"p$i", s"p${i + 1}", 1.0))
      .toDF("src", "dst", "cost")
    val all = (0 until n).map(i => s"p$i")
    for (thr <- Seq(Long.MaxValue, 0L)) {   // local kernel AND distributed
      val got = algo.Betweenness.run(spark, pNodes, pEdges, all,
          localEdgeThreshold = thr)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = (0 until n)
        .map(i => s"p$i" -> 1_000_000L * i * (n - 1 - i)).toMap
      assert(got === exact, s"path graph thr=$thr")
    }
    // Out-star + in-star through a hub: c is on every spoke-to-spoke
    // path (k_in · k_out pairs); spokes carry 0.
    val hubNodes = Seq("a1", "a2", "a3", "c", "b1", "b2").toDF("node")
    val hubEdges = (Seq("a1", "a2", "a3").map(a => (a, "c", 1.0)) ++
      Seq("b1", "b2").map(b => ("c", b, 1.0))).toDF("src", "dst", "cost")
    val hubAll = Seq("a1", "a2", "a3", "c", "b1", "b2")
    val gotHub = algo.Betweenness.run(spark, hubNodes, hubEdges, hubAll)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotHub("c") === 1_000_000L * 3 * 2)
    assert(hubAll.filterNot(_ == "c").forall(v => gotHub(v) === 0L))
  }

  test("label propagation: DataFrame superstep ≡ in-memory reference on slice 1") {
    val nodes = pg.nodes.select("nodeId")
    val edges = pg.projection.select("src", "dst")
    // force the DISTRIBUTED superstep loop — the adaptive local path IS
    // localReference, so only the loop needs the cross-check
    val got = algo.LabelPropagation.run(spark, nodes, edges, rounds = 16,
        localEdgeThreshold = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val nodeIds = nodes.collect().map(_.getString(0))
    val pairs = edges.collect().map(r => (r.getString(0), r.getString(1)))
    val ref = lpaRef(nodeIds, pairs, 16)
    assert(got.size === 3705)
    assert(got === ref)
    // and the adaptive dispatch (local path on a slice-1-sized graph)
    // agrees bit for bit
    val adaptive = algo.LabelPropagation.run(spark, nodes, edges, rounds = 16)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(adaptive === got)
    // communities must be real (propagation happened, not identity)
    assert(got.values.toSet.size < 3705)
    assert(got.exists { case (n, c) => n != c })
  }

  test("label propagation: deterministic tie-breaks on fixtures") {
    // star a-{b,c}: b,c adopt a; a sees {b,c} tied → min label b.
    // isolated z keeps its own label. Round 2 re-ties deterministically.
    val nodes = Seq("a", "b", "c", "z").toDF("node")
    val edges = Seq(("a", "b"), ("a", "c")).toDF("src", "dst")
    val r1 = algo.LabelPropagation.run(spark, nodes, edges, rounds = 1,
        localEdgeThreshold = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(r1 === Map("a" -> "b", "b" -> "a", "c" -> "a", "z" -> "z"))
    val ref = lpaRef(
      Array("a", "b", "c", "z"), Array(("a", "b"), ("a", "c")), 16)
    val r16 = algo.LabelPropagation.run(spark, nodes, edges, rounds = 16,
        localEdgeThreshold = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(r16 === ref)
  }

  test("louvain: DataFrame superstep ≡ in-memory reference on slice 1") {
    val nodes = pg.nodes.select("nodeId")
    val edges = pg.projection.select("src", "dst")
    // force the DISTRIBUTED superstep loop — the adaptive local path IS
    // localWeightedReference, so only the loop needs the cross-check
    val got = algo.Louvain.run(spark, nodes, edges, rounds = 16,
        localEdgeThreshold = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val nodeIds = nodes.collect().map(_.getString(0))
    val pairs = edges.collect().map(r => (r.getString(0), r.getString(1)))
    val ref = louvainRef(nodeIds, pairs, 16)
    assert(got.size === 3705)
    assert(got === ref)
    // and the adaptive dispatch (local path on a slice-1-sized graph)
    // agrees bit for bit
    val adaptive = algo.Louvain.run(spark, nodes, edges, rounds = 16)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(adaptive === got)
    // communities must be real (moves happened, not the identity
    // partition) and coarser than singletons
    assert(got.values.toSet.size < 3705)
    assert(got.exists { case (n, c) => n != c })
  }

  test("louvain: planted communities recovered; modularity beats singletons") {
    // two 5-cliques joined by one bridge edge: the planted partition is
    // the unique modularity optimum — each clique must land in ONE
    // community and the two communities must differ
    val cliqueA = (0 until 5).map(i => s"a$i")
    val cliqueB = (0 until 5).map(i => s"b$i")
    val intra = (for {
      g <- Seq(cliqueA, cliqueB); i <- g.indices; j <- g.indices
      if i < j
    } yield (g(i), g(j)))
    val edges = (intra :+ ("a0" -> "b0")).toDF("src", "dst")
    val nodes = (cliqueA ++ cliqueB).toDF("node")
    for (thr <- Seq(Long.MaxValue, 0L)) { // local twin AND distributed
      val got = algo.Louvain.run(spark, nodes, edges, rounds = 16,
          localEdgeThreshold = thr)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(cliqueA.map(got).toSet.size === 1, s"clique A split thr=$thr")
      assert(cliqueB.map(got).toSet.size === 1, s"clique B split thr=$thr")
      assert(got("a0") !== got("b0"), s"cliques merged thr=$thr")
    }
    // modularity of the found partition exceeds the singleton baseline
    // (Q=.. for singletons is negative; planted split is ~0.46)
    val part = louvainRef(
      (cliqueA ++ cliqueB).toArray, (intra :+ ("a0" -> "b0")).toArray, 16)
    val und = (intra :+ ("a0" -> "b0")).flatMap(p => Seq(p, p.swap)).distinct
    val deg = und.groupBy(_._1).map { case (k, es) => k -> es.size.toDouble }
    val m2 = und.size.toDouble
    def q(p: Map[String, String]): Double =
      und.count { case (u, v) => p(u) == p(v) } / m2 -
        p.keys.groupBy(p).values.map(ns =>
          math.pow(ns.map(deg).sum / m2, 2)).sum
    assert(q(part) > 0.4)
    assert(q(part) > q(part.keys.map(k => k -> k).toMap))
  }

  test("two-level louvain: distributed ≡ local twin; modularity never " +
      "below level 1") {
    val nodes = pg.nodes.select("nodeId")
    val edges = pg.projection.select("src", "dst")
    val nodeIds = nodes.collect().map(_.getString(0))
    val pairs = edges.collect().map(r => (r.getString(0), r.getString(1)))
    val dist = algo.Louvain.runTwoLevel(spark, nodes, edges, rounds = 16,
        coarseRounds = 8, localEdgeThreshold = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val ref = twoLevelRef(nodeIds, pairs, 16, 8)
    assert(dist.size === 3705)
    assert(dist === ref)
    // adaptive dispatch (local path on slice 1) agrees bit for bit
    val adaptive = algo.Louvain.runTwoLevel(spark, nodes, edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(adaptive === dist)
    // the coarse phase must never lose modularity vs the level-1
    // partition (every coarse move is argmax-gain including "stay"),
    // and must actually coarsen on this graph
    val l1 = louvainRef(nodeIds, pairs, 16)
    val q1 = modularityOf(nodeIds, pairs, l1)
    val q2 = modularityOf(nodeIds, pairs, ref)
    assert(q2 >= q1, s"coarse phase lost modularity: $q2 < $q1")
    assert(ref.values.toSet.size < l1.values.toSet.size)
  }

  test("two-level louvain: bridged cliques stay separate; random graphs " +
      "≡ twin across round budgets") {
    import spark.implicits._
    val cliqueA = (0 until 5).map(i => s"a$i")
    val cliqueB = (0 until 5).map(i => s"b$i")
    val intra = (for {
      g <- Seq(cliqueA, cliqueB); i <- g.indices; j <- g.indices
      if i < j
    } yield (g(i), g(j)))
    val pairs = (intra :+ ("a0" -> "b0")).toArray
    val got = twoLevelRef(
      (cliqueA ++ cliqueB).toArray, pairs, 16, 8)
    // two dense cliques joined by one bridge: coarsening must NOT merge
    // them (merging two equal-mass cliques loses modularity)
    assert(cliqueA.map(got).toSet.size === 1)
    assert(cliqueB.map(got).toSet.size === 1)
    assert(got("a0") !== got("b0"))
    for ((alpha, id) <- alphabets; seed <- Seq(17, 59)) {
      val rnd = new scala.util.Random(seed)
      val n = 15 + rnd.nextInt(15)
      val rndPairs = (for (_ <- 0 until 30 + rnd.nextInt(40)) yield
        (id(rnd.nextInt(n)), id(rnd.nextInt(n))))
        .filter(e => e._1 != e._2).distinct
      val nodesDf = (0 until n).map(id).toDF("node")
      val edgesDf = rndPairs.toDF("src", "dst")
      for ((r1, r2) <- Seq((4, 2), (16, 8))) {
        val g2 = algo.Louvain.runTwoLevel(spark, nodesDf, edgesDf, r1, r2,
            localEdgeThreshold = 0L)
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        val refR = twoLevelRef(
          (0 until n).map(id).toArray, rndPairs.toArray, r1, r2)
        assert(g2 === refR, s"two-level $alpha seed=$seed rounds=($r1,$r2)")
      }
    }
  }

  test("multi-level louvain: distributed ≡ twin; per-level modularity " +
      "non-decrease; early stop ≡ deeper cap") {
    // seeded random graphs on both id alphabets: forced-distributed
    // levels ≡ the twin ≡ the adaptive dispatch
    for ((alpha, id) <- alphabets; seed <- Seq(17, 59)) {
      val rnd = new scala.util.Random(seed)
      val n = 15 + rnd.nextInt(15)
      val rndPairs = (for (_ <- 0 until 30 + rnd.nextInt(40)) yield
        (id(rnd.nextInt(n)), id(rnd.nextInt(n))))
        .filter(e => e._1 != e._2).distinct
      val nodesDf = (0 until n).map(id).toDF("node")
      val edgesDf = rndPairs.toDF("src", "dst")
      def levels(t: Long) = algo.Louvain.runMultiLevel(spark, nodesDf,
          edgesDf, rounds = 16, coarseRounds = 8, maxLevels = 4,
          localEdgeThreshold = t)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val distR = levels(0L)
      assert(distR === multiLevelRef((0 until n).map(id).toArray,
        rndPairs.toArray, 16, 8, 4), s"multi-level $alpha seed=$seed")
      assert(levels(core.LocalBudget.MaxLocalEdges) === distR,
        s"multi-level adaptive $alpha seed=$seed")
    }
    val nodes = pg.nodes.select("nodeId")
    val edges = pg.projection.select("src", "dst")
    val nodeIds = nodes.collect().map(_.getString(0))
    val pairs = edges.collect().map(r => (r.getString(0), r.getString(1)))
    val dist = algo.Louvain.runMultiLevel(spark, nodes, edges,
        rounds = 16, coarseRounds = 8, maxLevels = 4,
        localEdgeThreshold = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val ref = multiLevelRef(nodeIds, pairs, 16, 8, 4)
    assert(dist.size === 3705)
    assert(dist === ref)
    // modularity never decreases level over level (each level's moves
    // are argmax-gain including "stay"), and the hierarchy strictly
    // coarsens past the two-level form on this graph before converging
    val byLevel = (1 to 4).map(l =>
      multiLevelRef(nodeIds, pairs, 16, 8, l))
    val qs = byLevel.map(modularityOf(nodeIds, pairs, _))
    qs.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a, s"modularity decreased across a level: $qs")
    }
    val sizes = byLevel.map(_.values.toSet.size)
    assert(sizes(1) < sizes(0), s"no contraction at level 2: $sizes")
    info(s"communities per level cap: $sizes, Q·(2m)²: $qs")
    // the early stop is a provable no-op: a deeper cap returns the
    // identical mapping once a level moves nothing
    val deeper = multiLevelRef(nodeIds, pairs, 16, 8, 8)
    assert(deeper === ref)
    // maxLevels = 2 reproduces the two-level contract exactly
    assert(byLevel(1) === twoLevelRef(nodeIds, pairs, 16, 8))
  }

  test("weighted louvain: weights steer the partition; distributed ≡ " +
      "twin on both paths") {
    import spark.implicits._
    // chain a-b-c-g with heavy ends and a light middle: the weighted
    // contract must cut the light edge. Node names are parity-mixed per
    // heavy pair (md5 parity a=even b=odd, c=even g=odd) — the
    // synchronous rule lets two EQUAL-parity mutual-argmax neighbors
    // swap forever (they move in the same rounds), which is exactly
    // the oscillation mode the parity coloring exists to damp
    val triples = Seq(("a", "b", 100L), ("b", "c", 1L), ("c", "g", 100L))
    val nodesDf = Seq("a", "b", "c", "g").toDF("node")
    val edgesDf = triples.toDF("src", "dst", "w")
    for (thr <- Seq(Long.MaxValue, 0L)) {
      val got = algo.Louvain.runWeighted(spark, nodesDf, edgesDf,
          rounds = 16, localEdgeThreshold = thr)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got("a") === got("b"), s"thr=$thr")
      assert(got("c") === got("g"), s"thr=$thr")
      assert(got("a") !== got("c"), s"thr=$thr")
    }
    // seeded random weighted graphs on both id alphabets: local twin ≡
    // forced-distributed ≡ the in-memory weighted reference
    for ((alpha, id) <- alphabets; seed <- Seq(13, 47)) {
      val rnd = new scala.util.Random(seed)
      val n = 12 + rnd.nextInt(12)
      val rndTriples = (for (_ <- 0 until 30 + rnd.nextInt(30)) yield
        (id(rnd.nextInt(n)), id(rnd.nextInt(n)), 1L + rnd.nextInt(20)))
      val nodesR = (0 until n).map(id).toDF("node")
      val edgesR = rndTriples.toDF("src", "dst", "w")
      def weighted(t: Long) = algo.Louvain.runWeighted(spark, nodesR, edgesR,
          rounds = 16, localEdgeThreshold = t)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val distR = weighted(0L)
      assert(distR === weightedRef((0 until n).map(id).toArray,
        rndTriples.toArray, 16), s"weighted $alpha seed=$seed")
      assert(weighted(Long.MaxValue) === distR,
        s"weighted adaptive $alpha seed=$seed")
    }
    // asymmetric directed weights collapse to the min in BOTH engines
    val asym = Seq(("a", "b", 7L), ("b", "a", 3L)).toDF("src", "dst", "w")
    val gotAsym = algo.Louvain.runWeighted(spark,
        Seq("a", "b").toDF("node"), asym, rounds = 4,
        localEdgeThreshold = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val refAsym = weightedRef(
      Array("a", "b"), Array(("a", "b", 7L), ("b", "a", 3L)), 4)
    assert(gotAsym === refAsym)
    // slice 1: forced-distributed ≡ in-memory weighted reference
    import org.apache.spark.sql.functions.{col, floor}
    val we = pg.projection.select(col("src"), col("dst"),
      floor(col("cost") * 1000 + 0.5).cast("long").as("w"))
    val dist = algo.Louvain.runWeighted(spark, pg.nodes.select("nodeId"),
        we, rounds = 8, localEdgeThreshold = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val ref = weightedRef(
      pg.nodes.select("nodeId").collect().map(_.getString(0)),
      we.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))),
      8)
    assert(dist === ref)
  }

  test("conductance: hand-computed fixture; zero-denominator totality") {
    import spark.implicits._
    // two triangles joined by one bridge; labels = the planted split.
    // Community A = {a0,a1,a2}: vol = 2·3 + 1(bridge side) = 7,
    // cut = 1, denom = min(7, 14−7) = 7 → φ = 1/7
    val tri = Seq(("a0", "a1"), ("a1", "a2"), ("a0", "a2"),
      ("b0", "b1"), ("b1", "b2"), ("b0", "b2"), ("a0", "b0"))
    val nodesDf = Seq("a0", "a1", "a2", "b0", "b1", "b2").toDF("node")
    val labelsDf = Seq("a0" -> "A", "a1" -> "A", "a2" -> "A",
      "b0" -> "B", "b1" -> "B", "b2" -> "B").toDF("node", "lbl")
    val rows = algo.Louvain.conductance(spark, nodesDf,
        tri.toDF("src", "dst"), labelsDf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val phi = math.floor(1.0 / 7 * 1e6 + 0.5) / 1e6
    assert(rows("A") === ((3L, 1L, 7L, phi)))
    assert(rows("B") === ((3L, 1L, 7L, phi)))
    // single-community partition: cut 0, denom 0 → φ = 0 (total)
    import org.apache.spark.sql.functions.{col, lit}
    val one = algo.Louvain.conductance(spark, nodesDf,
        tri.toDF("src", "dst"),
        nodesDf.select(col("node"), lit("X").as("lbl")))
      .collect()
    assert(one.length === 1 && one.head.getLong(2) === 0L &&
      one.head.getDouble(4) === 0.0)
  }

  test("louvain: random graphs ≡ reference across rounds") {
    for ((alpha, id) <- alphabets; seed <- Seq(11, 43, 71)) {
      val rnd = new scala.util.Random(seed)
      val n = 15 + rnd.nextInt(15)
      val pairs = (for (_ <- 0 until 30 + rnd.nextInt(40)) yield
        (id(rnd.nextInt(n)), id(rnd.nextInt(n))))
        .filter(e => e._1 != e._2).distinct
      val nodesDf = (0 until n).map(id).toDF("node")
      val edgesDf = pairs.toDF("src", "dst")
      for (rounds <- Seq(1, 4, 16)) {
        val got = algo.Louvain.run(spark, nodesDf, edgesDf, rounds,
            localEdgeThreshold = 0L)
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        val ref = louvainRef(
          (0 until n).map(id).toArray, pairs.toArray, rounds)
        assert(got === ref, s"louvain $alpha seed=$seed rounds=$rounds")
      }
    }
  }

  test("label propagation: random graphs ≡ reference across rounds") {
    for ((alpha, id) <- alphabets; seed <- Seq(5, 29, 97)) {
      val rnd = new scala.util.Random(seed)
      val n = 15 + rnd.nextInt(15)
      val pairs = (for (_ <- 0 until 30 + rnd.nextInt(40)) yield
        (id(rnd.nextInt(n)), id(rnd.nextInt(n))))
        .filter(e => e._1 != e._2).distinct
      val nodesDf = (0 until n).map(id).toDF("node")
      val edgesDf = pairs.toDF("src", "dst")
      for (rounds <- Seq(1, 4, 16)) {
        val got = algo.LabelPropagation.run(spark, nodesDf, edgesDf, rounds,
            localEdgeThreshold = 0L)
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        val ref = lpaRef(
          (0 until n).map(id).toArray, pairs.toArray, rounds)
        assert(got === ref, s"lpa $alpha seed=$seed rounds=$rounds")
      }
    }
  }

  test("hits: distributed ≡ sequential on slice 1; mass bounds hold") {
    val nodes = pg.nodes.select("nodeId")
    val edges = pg.projection.select("src", "dst")
    val local = algo.Hits.run(nodes, edges, iters = 10)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val dist = algo.Hits.run(nodes, edges, iters = 10,
        localEdgeThreshold = 0L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(local.size === 3705)
    assert(dist === local)
    // each ppm-normalized vector sums to ≤ 10¹² and is non-degenerate
    val hubSum = local.values.iterator.map(_._1).sum
    val authSum = local.values.iterator.map(_._2).sum
    assert(hubSum > 0L && hubSum <= 1_000_000_000_000L)
    assert(authSum > 0L && authSum <= 1_000_000_000_000L)
    assert(local.values.exists(_._1 > 0L) && local.values.exists(_._2 > 0L))
  }

  test("hits: star fixture — leaves are pure authorities, hub is pure hub") {
    // c -> {a, b, d}: c is the only hub; a/b/d split authority evenly;
    // iso has neither. Exact ppm thirds: (10^6 div 3) * 10^6 each.
    val nodes = Seq("a", "b", "c", "d", "iso").toDF("node")
    val edges = Seq(("c", "a"), ("c", "b"), ("c", "d")).toDF("src", "dst")
    val got = algo.Hits.run(nodes, edges, iters = 10)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val third = (1_000_000L / 3L) * 1_000_000L
    assert(got("c") === ((1_000_000_000_000L, 0L)))
    Seq("a", "b", "d").foreach(v => assert(got(v) === ((0L, third)), v))
    assert(got("iso") === ((0L, 0L)))
    // edgeless graph: degenerate rounds keep the uniform vector
    val flat = algo.Hits.run(nodes,
        Seq.empty[(String, String)].toDF("src", "dst"), iters = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2))).distinct
    assert(flat === Seq((200_000_000_000L, 200_000_000_000L)))
  }

  test("hits: random digraphs — distributed ≡ sequential across iterations") {
    for ((alpha, id) <- alphabets; seed <- Seq(13, 61)) {
      val rnd = new scala.util.Random(seed)
      val n = 15 + rnd.nextInt(15)
      val pairs = (for (_ <- 0 until 40 + rnd.nextInt(40)) yield
        (id(rnd.nextInt(n)), id(rnd.nextInt(n))))
        .filter(e => e._1 != e._2).distinct
      val nodesDf = (0 until n).map(id).toDF("node")
      val edgesDf = pairs.toDF("src", "dst")
      for (iters <- Seq(1, 5)) {
        val local = algo.Hits.run(nodesDf, edgesDf, iters)
          .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
          .toMap
        val dist = algo.Hits.run(nodesDf, edgesDf, iters,
            localEdgeThreshold = 0L)
          .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
          .toMap
        assert(dist === local, s"hits $alpha seed=$seed iters=$iters")
      }
    }
  }

  test("random walks: DataFrame chain ≡ in-memory reference on slice 1") {
    val got = algo.RandomWalks.walks(pg.nodes.select("nodeId"),
        pg.projection.select("src", "dst"), numWalks = 2, length = 8,
        localEdgeThreshold = 0L)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet
    val nodeIds = pg.nodes.select("nodeId").collect().map(_.getString(0))
    val pairs = pg.projection.select("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val ref = walksRef(nodeIds, pairs, 2, 8)
    assert(got === ref)
    // every (node, walk) pair has its step-0 row; walks genuinely move
    assert(got.count(_._3 == 0) === 3705 * 2)
    assert(got.exists(t => t._3 > 0 && t._4 != t._1))
    // determinism under repartition
    val again = algo.RandomWalks.walks(
        pg.nodes.select("nodeId").repartition(7),
        pg.projection.select("src", "dst").repartition(13), 2, 8,
        localEdgeThreshold = 0L)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet
    assert(again === got)
    // adaptive dispatch (driver-sized graph -> sequential twin) agrees
    val adaptive = algo.RandomWalks.walks(pg.nodes.select("nodeId"),
        pg.projection.select("src", "dst"), 2, 8)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet
    assert(adaptive === got)
  }

  test("random walks: dead ends stop early, neighbor order is by id") {
    // a -> {b, c}; b dead end; c -> a (cycle). Walks from b emit only
    // step 0. Next-hop from a must index the ID-SORTED neighbor list.
    val nodes = Seq("a", "b", "c").toDF("node")
    val edges = Seq(("a", "b"), ("a", "c"), ("c", "a")).toDF("src", "dst")
    val got = algo.RandomWalks.walks(nodes, edges, numWalks = 3, length = 5,
        localEdgeThreshold = 0L)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet
    val ref = walksRef(Array("a", "b", "c"),
      Array(("a", "b"), ("a", "c"), ("c", "a")), 3, 5)
    assert(got === ref)
    assert(got.filter(t => t._1 == "b") === got.filter(t =>
      t._1 == "b" && t._3 == 0), "dead-end walks must stop at step 0")
  }

  test("ppr: distributed ≡ sequential on slice 1; mass localizes at the seed") {
    val nodes = pg.nodes.select("nodeId")
    val edges = pg.projection.select("src", "dst")
    val local = algo.PageRank.personalized(nodes, edges, queries.Graph.Src,
        iters = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dist = algo.PageRank.personalized(nodes, edges, queries.Graph.Src,
        iters = 10, localEdgeThreshold = 0L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(local.size === 3705)
    assert(dist === local)
    // the seed keeps the teleport mass — it must rank at/near the top,
    // and nodes unreachable from the seed carry exactly 0
    assert(local(queries.Graph.Src) >= 150_000_000_000L * 85L / 100L)
    assert(local.values.exists(_ == 0L))
    val totalMass = local.values.sum
    assert(totalMass > 0L && totalMass <= 1_000_000_000_000L)
  }

  test("node2vec walks: DataFrame chain ≡ in-memory reference on slice 1") {
    val got = algo.RandomWalks.node2vecWalks(pg.nodes.select("nodeId"),
        pg.projection.select("src", "dst"), numWalks = 2, length = 8,
        localEdgeThreshold = 0L)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet
    val nodeIds = pg.nodes.select("nodeId").collect().map(_.getString(0))
    val pairs = pg.projection.select("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val ref = node2vecRef(nodeIds, pairs, 2, 8)
    assert(got === ref)
    // the bias must actually change trajectories vs the uniform walker
    val uniform = walksRef(nodeIds, pairs, 2, 8)
    assert(got !== uniform)
    assert(got.count(_._3 == 0) === 3705 * 2)
    // adaptive dispatch (driver-sized graph -> sequential twin) agrees
    val adaptive = algo.RandomWalks.node2vecWalks(pg.nodes.select("nodeId"),
        pg.projection.select("src", "dst"), numWalks = 2, length = 8)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet
    assert(adaptive === got)
  }

  test("node2vec walks: weights steer the pick on a fixture") {
    // a -> {b, c}, b -> a, c -> a: walks bounce through a. With an
    // overwhelming return weight the step AFTER a->x must return to a;
    // with an overwhelming far weight, from x it must still go to a
    // (only neighbor), but from a (arrived from x) the non-adjacent
    // non-return candidate wins.
    val nodes = Seq("a", "b", "c").toDF("node")
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "a"), ("c", "a"))
      .toDF("src", "dst")
    val pairs = Array(("a", "b"), ("a", "c"), ("b", "a"), ("c", "a"))
    for ((rw, aw, fw) <- Seq((1000, 1, 1), (1, 1000, 1), (1, 1, 1000))) {
      val got = algo.RandomWalks.node2vecWalks(nodes, edges,
          numWalks = 2, length = 6, retWeight = rw, adjWeight = aw,
          farWeight = fw, localEdgeThreshold = 0L)
        .collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3)))
        .toSet
      val ref = node2vecRef(
        Array("a", "b", "c"), pairs, 2, 6, rw, aw, fw)
      assert(got === ref, s"weights=($rw,$aw,$fw)")
    }
  }

  test("skip-gram pairs: window fixture + symmetry over a known walk") {
    import spark.implicits._
    // one walk a,b,c,d: window-2 pairs are exactly the |Δstep|<=2
    // ordered pairs; the relation is symmetric (n(x,y) = n(y,x))
    val w = Seq(("s", 0, 0, "a"), ("s", 0, 1, "b"), ("s", 0, 2, "c"),
      ("s", 0, 3, "d")).toDF("start_id", "walk_id", "step", "node_id")
    val got = algo.RandomWalks.skipGramPairs(w, window = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val expected = Map(
      ("a", "b") -> 1L, ("a", "c") -> 1L,
      ("b", "a") -> 1L, ("b", "c") -> 1L, ("b", "d") -> 1L,
      ("c", "a") -> 1L, ("c", "b") -> 1L, ("c", "d") -> 1L,
      ("d", "b") -> 1L, ("d", "c") -> 1L)
    assert(got === expected)
    // slice-1 corpus: symmetric counts, no self-free guarantee violated
    val pairs = algo.RandomWalks.skipGramPairs(
      algo.RandomWalks.walks(pg.nodes.select("nodeId"),
        pg.projection.select("src", "dst"), 2, 8), 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(pairs.nonEmpty)
    pairs.foreach { case ((x, y), n) =>
      assert(pairs((y, x)) === n, s"asymmetric pair ($x,$y)")
    }
  }

  test("embedding train: distributed epochs ≡ sequential twin on slice 1; " +
      "pairless nodes keep their md5 init vector") {
    val nodes = pg.nodes.select("nodeId")
    val pairs = algo.RandomWalks.skipGramPairs(
      algo.RandomWalks.walks(nodes, pg.projection.select("src", "dst"),
        2, 8), 2)
    val local = algo.EmbeddingTrain.train(nodes, pairs, dims = 4, epochs = 6)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    val dist = algo.EmbeddingTrain.train(nodes, pairs, dims = 4, epochs = 6,
        localPairThreshold = 0L)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    assert(local.size === 3705 * 4)
    assert(dist === local)
    // epoch-0 init: a node with no pairs (none on slice 1 — fabricate by
    // training with an empty pair table) keeps H(v|k) mod M everywhere
    import spark.implicits._
    val frozen = algo.EmbeddingTrain.train(nodes,
        Seq.empty[(String, String, Long)]
          .toDF("center", "context", "n_pairs"), dims = 2, epochs = 3)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(key: String): Long = java.lang.Long.parseLong(
      md.digest(key.getBytes("UTF-8")).map("%02x".format(_))
        .mkString.take(8), 16)
    frozen.foreach { case ((v, k), x) =>
      assert(x === h(s"$v|$k") % algo.EmbeddingTrain.Modulus)
    }
  }

  test("embedding train: planted communities embed closer than cross pairs") {
    import spark.implicits._
    // two 6-cliques bridged by one edge: walks stay inside a clique
    // almost always, so trained vectors must cluster by clique
    val a = (0 until 6).map(i => s"a$i")
    val b = (0 until 6).map(i => s"b$i")
    val cliqueEdges = (for (xs <- Seq(a, b); x <- xs; y <- xs if x != y)
      yield (x, y)) :+ (("a0", "b0")) :+ (("b0", "a0"))
    val nodesDf = (a ++ b).toDF("node")
    val edgesDf = cliqueEdges.toDF("src", "dst")
    val walks = algo.RandomWalks.walks(nodesDf, edgesDf, numWalks = 4,
      length = 8)
    val emb = algo.EmbeddingTrain
      .train(nodesDf, algo.RandomWalks.skipGramPairs(walks, 2),
        dims = 8, epochs = 8)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    def vec(v: String): Array[Double] =
      (0 until 8).map(k => emb((v, k)).toDouble).toArray
    def dist(x: String, y: String): Double =
      math.sqrt(vec(x).zip(vec(y)).map { case (p, q) =>
        (p - q) * (p - q) }.sum)
    val intra = (for (xs <- Seq(a, b); x <- xs; y <- xs if x < y)
      yield dist(x, y))
    val inter = for (x <- a; y <- b) yield dist(x, y)
    val meanIntra = intra.sum / intra.size
    val meanInter = inter.sum / inter.size
    assert(meanIntra * 2 < meanInter,
      s"planted communities not separated: intra=$meanIntra inter=$meanInter")
  }

  test("triangles: fixture counts, dup/reverse edges collapse, zeros kept") {
    // two triangles sharing edge b–c, one spectator node e; parallel and
    // reversed edges must not double-count
    val nodes = Seq("a", "b", "c", "d", "e").toDF("node")
    val edges = Seq(
      ("a", "b"), ("b", "a"),          // reverse dup
      ("b", "c"), ("c", "a"),
      ("b", "d"), ("c", "d"), ("c", "d") // parallel dup
    ).toDF("src", "dst")
    val got = algo.Triangles.perNode(nodes, edges)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 1L, "b" -> 2L, "c" -> 2L, "d" -> 1L, "e" -> 0L))
  }

  test("triangles: slice 1 total matches the brute-force audit (188)") {
    val out = algo.Triangles.perNode(pg.nodes.select("nodeId"),
      pg.projection.select("src", "dst"))
    assert(out.agg(org.apache.spark.sql.functions.sum("n_triangles"))
      .head().getLong(0) === 3L * 188L)
    assert(out.count() === 3705L)
    // distributed path ≡ adaptive (local) path
    val dist = algo.Triangles.perNode(pg.nodes.select("nodeId"),
      pg.projection.select("src", "dst"), localEdgeThreshold = 0L)
    assert(dist.except(out).count() === 0L && out.except(dist).count() === 0L)
  }

  test("wcc/triangles/node-similarity: random digraphs ≡ brute force") {
    // seeded random graphs, every new operator (distributed path forced
    // for WCC/triangles) against an independent in-test brute force
    val random = for {
      (alpha, id) <- alphabets; seed <- Seq(3, 17, 59, 101, 211)
    } yield {
      val rnd = new scala.util.Random(seed)
      val n = 20 + rnd.nextInt(20)
      val pairs = (for (_ <- 0 until 60 + rnd.nextInt(60)) yield
        (id(rnd.nextInt(n)), id(rnd.nextInt(n))))
        .filter(e => e._1 != e._2).distinct
      (s"$alpha seed=$seed", (0 until n).map(id), pairs)
    }
    // adversarial shape: a path whose ids sort along it, so min-label
    // propagation would need n supersteps; hook+contract must not
    val pathIds = (0 until 2000).map(i => f"p$i%04d")
    val path = ("path n=2000", pathIds, pathIds.zip(pathIds.tail))
    for ((label, ids, pairs) <- random :+ path) {
      val nodesDf = ids.toDF("node")
      val edgesDf = pairs.toDF("src", "dst")
      // brute components (undirected BFS)
      val adj = scala.collection.mutable.HashMap
        .empty[String, scala.collection.mutable.Set[String]]
      pairs.foreach { case (a, b) =>
        adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
      }
      val comp = scala.collection.mutable.HashMap.empty[String, String]
      ids.foreach { start =>
        if (!comp.contains(start)) {
          val seen = scala.collection.mutable.Set(start)
          val q = scala.collection.mutable.Queue(start)
          while (q.nonEmpty) {
            val u = q.dequeue()
            adj.getOrElse(u, Set.empty).foreach { v =>
              if (seen.add(v)) q.enqueue(v)
            }
          }
          val lbl = seen.min(engineOrder)
          seen.foreach(v => comp(v) = lbl)
        }
      }
      val gotWcc = algo.GraphComponents.wcc(spark, nodesDf, edgesDf,
          localEdgeThreshold = 0L)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(gotWcc === comp.toMap, s"wcc $label")
      // and the local union-find twin under the default budget
      val localWcc = algo.GraphComponents.wcc(spark, nodesDf, edgesDf)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(localWcc === comp.toMap, s"local wcc $label")
      // brute triangles over the simple undirected graph
      val cnt = scala.collection.mutable.HashMap.empty[String, Long]
        .withDefaultValue(0L)
      val keys = adj.keys.toSeq.sorted
      for (a <- keys) {
        val nb = adj(a).filter(_ > a).toSeq.sorted
        for (i <- nb.indices; j <- i + 1 until nb.length
             if adj(nb(i)).contains(nb(j))) {
          cnt(a) += 1; cnt(nb(i)) += 1; cnt(nb(j)) += 1
        }
      }
      val gotTri = algo.Triangles.perNode(nodesDf, edgesDf,
          localEdgeThreshold = 0L)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(gotTri === ids.map(v => v -> cnt(v)).toMap,
        s"triangles $label")
      // brute neighbor-set Jaccard at 1/3
      val out = pairs.groupBy(_._1).map { case (k, es) =>
        k -> es.map(_._2).toSet }
      val expSim = (for {
        a <- out.keys; b <- out.keys if engineOrder.lt(a, b)
        common = (out(a) & out(b)).size
        union = (out(a) | out(b)).size
        if common * 3 >= union
      } yield (a, b) -> ((common.toLong, union.toLong))).toMap
      val gotSim = algo.NodeSimilarity.jaccard(edgesDf, 1, 3)
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap
      assert(gotSim === expSim, s"node-similarity $label")
    }
  }

  test("forced-distributed kernels keep result-plan stats small " +
      "(Checkpoints.freshStats barrier)") {
    // Spark 4 localCheckpoint carries ESTIMATED origin stats into the
    // checkpoint leaf; a kernel whose rounds fan the state out under
    // several joins compounds them to megabit sizeInBytes (minutes of
    // BigInteger planning) unless freshStats resets them each round.
    // Slice 1 measured <= 5.6k bits (notes/ROUND13.md).
    val rnd = new scala.util.Random(29)
    val side = 30
    def id(x: Int, y: Int) = f"g$x%02d_$y%02d"
    // seeded road-like grid: 80% of the lattice links, costs 1..9
    val links = for {
      x <- 0 until side; y <- 0 until side
      (dx, dy) <- Seq((1, 0), (0, 1))
      if x + dx < side && y + dy < side && rnd.nextDouble() < 0.8
    } yield (id(x, y), id(x + dx, y + dy), 1L + rnd.nextInt(9))
    val nodes = (for (x <- 0 until side; y <- 0 until side)
      yield id(x, y)).toDF("node")
    val edges = links.map(l => (l._1, l._2)).toDF("src", "dst")
    val weighted = links.toDF("src", "dst", "w")
    // 10 rounds: without the barrier Louvain's estimate passes 2^14 bits
    // by round 8 (about x2 a round) and reaches megabits by round 16
    val kernels: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "louvain" -> (() => algo.Louvain.run(spark, nodes, edges,
        rounds = 10, localEdgeThreshold = 0L)),
      "louvain2l" -> (() => algo.Louvain.runTwoLevel(spark, nodes, edges,
        rounds = 10, coarseRounds = 4, localEdgeThreshold = 0L)),
      "louvainW" -> (() => algo.Louvain.runWeighted(spark, nodes, weighted,
        rounds = 10, localEdgeThreshold = 0L)),
      "labelprop" -> (() => algo.LabelPropagation.run(spark, nodes, edges,
        rounds = 10, localEdgeThreshold = 0L)),
      "kcore" -> (() => algo.KCore.core(spark, edges,
        localEdgeThreshold = 0L)))
    val bits = kernels.map { case (name, run) =>
      val df = run()
      val b = df.queryExecution.optimizedPlan.stats.sizeInBytes
        .bigInteger.bitLength
      core.Checkpoints.release(df)
      name -> b
    }
    info(bits.map { case (n, b) => s"$n=$b" }.mkString("stat bits: ", " ", ""))
    bits.foreach { case (name, b) => assert(b <= (1 << 14), s"$name: $b bits") }
    // unweighted Louvain is the weighted setup at w = 1: on both
    // dispatch paths `run` ≡ the local twin, and `runWeighted` over unit
    // weights ≡ `run`
    def labels(df: org.apache.spark.sql.DataFrame): Map[String, String] = {
      val m = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      core.Checkpoints.release(df)
      m
    }
    val ids = (for (x <- 0 until side; y <- 0 until side)
      yield id(x, y)).toArray
    val ref = louvainRef(ids,
      links.map(l => (l._1, l._2)).toArray, 10)
    val unit = links.map(l => (l._1, l._2, 1L)).toDF("src", "dst", "w")
    Seq(0L, core.LocalBudget.MaxLocalEdges).foreach { cap =>
      val run = labels(algo.Louvain.run(spark, nodes, edges, rounds = 10,
        localEdgeThreshold = cap))
      assert(run === ref, s"run, cap $cap")
      assert(labels(algo.Louvain.runWeighted(spark, nodes, unit, rounds = 10,
        localEdgeThreshold = cap)) === run, s"runWeighted, cap $cap")
    }
  }

  test("kcore: fixture peel; forced-distributed ≡ local on slice 1") {
    // triangle abc (2-core) + pendant chain c-d-e peeled in two rounds
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"),
      ("c", "d"), ("d", "e")).toDF("src", "dst")
    val got = algo.KCore.core(spark, edges, k = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
    val local = algo.KCore.core(spark, pg.projection.select("src", "dst"),
        k = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(local.size === 2600)
    val dist = algo.KCore.core(spark, pg.projection.select("src", "dst"),
        k = 2, localEdgeThreshold = 0L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dist === local)
  }

  test("mst: forced-distributed ≡ local kruskal on slice 1; random " +
      "multigraphs ≡ brute prim; spanning, acyclic, optimal") {
    // slice 1: the distributed Borůvka rounds and the local Kruskal
    // must produce the IDENTICAL edge set — the uniqueness-under-total-
    // order contract the DuckDB oracle also rests on
    val localMst = algo.Boruvka.mst(spark,
        pg.projection.select("src", "dst", "cost"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .toSet
    val distMst = algo.Boruvka.mst(spark,
        pg.projection.select("src", "dst", "cost"), localEdgeThreshold = 0L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .toSet
    assert(distMst === localMst)
    // spanning: the forest connects exactly what the graph connects
    // (same WCC labeling), and |forest| = n − #components (acyclicity
    // + maximality in one count)
    val fullWcc = algo.GraphComponents.wcc(spark,
        pg.nodes.select("nodeId"), pg.projection.select("src", "dst"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val mstEdgesDf = localMst.toSeq.map(e => (e._1, e._2))
      .toDF("src", "dst")
    val mstWcc = algo.GraphComponents.wcc(spark,
        pg.nodes.select("nodeId"), mstEdgesDf)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(mstWcc === fullWcc)
    val nComponents = fullWcc.values.toSet.size
    assert(localMst.size === fullWcc.size - nComponents)
    // random weighted multigraphs (parallel edges, ties): distributed
    // Borůvka ≡ an independent in-test Prim — optimality cross-check
    // from a different algorithm family
    for (seed <- Seq(7, 23, 71)) {
      val rnd = new scala.util.Random(seed)
      val n = 12 + rnd.nextInt(10)
      val raw = for (_ <- 0 until 50 + rnd.nextInt(40)) yield
        (s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}",
          (1 + rnd.nextInt(9)).toDouble) // small int costs force ties
      val edgesDf = raw.toDF("src", "dst", "cost")
      val got = algo.Boruvka.mst(spark, edgesDf, localEdgeThreshold = 0L)
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
        .toSet
      // brute Prim per component over the canonical min-cost simple graph,
      // frontier ordered by the same (cost, a, b) total order
      val canon = raw.filter(e => e._1 != e._2)
        .map(e => (Seq(e._1, e._2).min, Seq(e._1, e._2).max, e._3))
        .groupBy(e => (e._1, e._2))
        .map { case (_, es) => es.minBy(_._3) }.toSeq
      val adj = scala.collection.mutable.HashMap
        .empty[String, List[(Double, String, String, String)]]
        .withDefaultValue(Nil)
      canon.foreach { case (a, b, c) =>
        adj(a) = (c, a, b, b) :: adj(a)
        adj(b) = (c, a, b, a) :: adj(b)
      }
      val nodes = raw.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val inTree = scala.collection.mutable.Set.empty[String]
      val exp = scala.collection.mutable.Set.empty[(String, String, Double)]
      nodes.foreach { start =>
        if (!inTree.contains(start)) {
          inTree += start
          val pq = scala.collection.mutable.SortedSet
            .empty[(Double, String, String, String)]
          adj(start).foreach(pq += _)
          while (pq.nonEmpty) {
            val e @ (c, a, b, to) = pq.head
            pq -= e
            if (!inTree.contains(to)) {
              inTree += to
              exp += ((a, b, c))
              adj(to).foreach(pq += _)
            }
          }
        }
      }
      assert(got === exp.toSet, s"mst seed=$seed")
      // total weight agrees even where tie-broken edge identities could
      // legally differ between algorithms (they don't, but weight is the
      // semantics-level invariant)
      assert(math.abs(got.toSeq.map(_._3).sum - exp.toSeq.map(_._3).sum)
        < 1e-9, s"mst weight seed=$seed")
    }
  }

  test("mis: independent and maximal on slice 1 and random digraphs; " +
      "deterministic across reruns") {
    def check(nodesDf: org.apache.spark.sql.DataFrame,
        edgesDf: org.apache.spark.sql.DataFrame, tag: String)
        : Map[String, Long] = {
      val got = algo.IndependentSet.luby(spark, nodesDf, edgesDf)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val pairs = edgesDf.collect()
        .map(r => (r.getString(0), r.getString(1))).filter(e => e._1 != e._2)
      // independence: no edge has both endpoints in the set
      pairs.foreach { case (a, b) =>
        assert(!(got(a) == 1L && got(b) == 1L), s"$tag: edge $a-$b in MIS")
      }
      // maximality: every excluded node has an MIS neighbor
      val adj = pairs.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
        .map { case (k, es) => k -> es.map(_._2).toSet }
      got.filter(_._2 == 0L).keys.foreach { v =>
        assert(adj.getOrElse(v, Set.empty).exists(got(_) == 1L),
          s"$tag: $v excluded without an MIS neighbor")
      }
      got
    }
    val first = check(pg.nodes.select("nodeId"),
      pg.projection.select("src", "dst"), "slice1")
    assert(first.values.count(_ == 1L) > 1000) // road networks are sparse
    // hash priorities ⇒ bit-identical reruns, and the forced-distributed
    // rounds must equal the local replay exactly (same recurrence)
    val again = algo.IndependentSet.luby(spark, pg.nodes.select("nodeId"),
        pg.projection.select("src", "dst"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again === first)
    val dist = algo.IndependentSet.luby(spark, pg.nodes.select("nodeId"),
        pg.projection.select("src", "dst"), localEdgeThreshold = 0L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dist === first)
    for (seed <- Seq(5, 31, 77)) {
      val rnd = new scala.util.Random(seed)
      val n = 25 + rnd.nextInt(25)
      val pairs = (for (_ <- 0 until 100 + rnd.nextInt(80)) yield
        (s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}"))
        .filter(e => e._1 != e._2).distinct
      check((0 until n).map(i => s"v$i").toDF("node"),
        pairs.toDF("src", "dst"), s"seed=$seed")
    }
  }

  test("matching: valid and maximal on slice 1 and random digraphs; " +
      "deterministic across reruns") {
    def check(edgesDf: org.apache.spark.sql.DataFrame, tag: String)
        : Set[(String, String)] = {
      val got = algo.Matching.maximal(spark, edgesDf)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      // validity: no two matched edges share an endpoint
      val ends = got.toSeq.flatMap(e => Seq(e._1, e._2))
      assert(ends.distinct.size === ends.size, s"$tag: shared endpoint")
      // maximality: every original undirected edge touches a matched node
      val matchedNodes = ends.toSet
      edgesDf.collect().map(r => (r.getString(0), r.getString(1)))
        .filter(e => e._1 != e._2)
        .foreach { case (a, b) =>
          assert(matchedNodes.contains(a) || matchedNodes.contains(b),
            s"$tag: edge $a-$b unmatched on both sides")
        }
      got
    }
    val first = check(pg.projection.select("src", "dst"), "slice1")
    assert(first.size > 1000)
    val again = algo.Matching.maximal(spark, pg.projection
        .select("src", "dst"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(again === first)
    // forced-distributed rounds ≡ the local replay
    val dist = algo.Matching.maximal(spark,
        pg.projection.select("src", "dst"), localEdgeThreshold = 0L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(dist === first)
    for (seed <- Seq(13, 47, 83)) {
      val rnd = new scala.util.Random(seed)
      val n = 20 + rnd.nextInt(25)
      val pairs = (for (_ <- 0 until 90 + rnd.nextInt(70)) yield
        (s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}"))
        .filter(e => e._1 != e._2).distinct
      check(pairs.toDF("src", "dst"), s"seed=$seed")
    }
  }

  test("coloring: proper on slice 1 and random digraphs; layer count " +
      "within max degree + 1; colors = iterated MIS layers") {
    def check(nodesDf: org.apache.spark.sql.DataFrame,
        edgesDf: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val got = algo.Coloring.greedy(spark, nodesDf, edgesDf)
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      val pairs = edgesDf.collect()
        .map(r => (r.getString(0), r.getString(1))).filter(e => e._1 != e._2)
      // proper: no edge joins two same-colored nodes
      pairs.foreach { case (a, b) =>
        assert(got(a) !== got(b), s"$tag: edge $a-$b same color ${got(a)}")
      }
      // totality + Δ+1 bound
      assert(got.size === nodesDf.count())
      val deg = pairs.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .map(_._2.length)
      val maxDeg = if (deg.isEmpty) 0 else deg.max
      assert(got.values.max <= maxDeg + 1,
        s"$tag: ${got.values.max} colors > Δ+1 = ${maxDeg + 1}")
      // color 1 must be exactly the first MIS of the full graph
      val mis1 = algo.IndependentSet.luby(spark, nodesDf, edgesDf)
        .filter(org.apache.spark.sql.functions.col("in_mis") === 1L)
        .collect().map(_.getString(0)).toSet
      assert(got.filter(_._2 == 1).keySet === mis1, s"$tag: layer-1 drift")
    }
    check(pg.nodes.select("nodeId"), pg.projection.select("src", "dst"),
      "slice1")
    // forced-distributed layers ≡ the local layered replay
    val localC = algo.Coloring.greedy(spark, pg.nodes.select("nodeId"),
        pg.projection.select("src", "dst"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val distC = algo.Coloring.greedy(spark, pg.nodes.select("nodeId"),
        pg.projection.select("src", "dst"), localEdgeThreshold = 0L)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(distC === localC)
    for (seed <- Seq(9, 41)) {
      val rnd = new scala.util.Random(seed)
      val n = 18 + rnd.nextInt(18)
      val pairs = (for (_ <- 0 until 70 + rnd.nextInt(60)) yield
        (s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}"))
        .filter(e => e._1 != e._2).distinct
      check((0 until n).map(i => s"v$i").toDF("node"),
        pairs.toDF("src", "dst"), s"seed=$seed")
    }
  }

  test("weighted matching: ≡ sequential heaviest-first greedy; ≥ ½ of " +
      "the brute-force optimum on small graphs") {
    // sequential twin: sort edges by (cost, a, b) DESC, take if both
    // endpoints free — the unique greedy matching the parallel
    // locally-dominant rounds must reproduce exactly
    def greedySeq(canon: Seq[(String, String, Double)])
        : Set[(String, String, Double)] = {
      val used = scala.collection.mutable.Set.empty[String]
      val out = scala.collection.mutable.Set.empty[(String, String, Double)]
      canon
        .sortWith { case ((a1, b1, c1), (a2, b2, c2)) =>
          if (c1 != c2) c1 > c2
          else if (a1 != a2) engineOrder.gt(a1, a2)
          else engineOrder.gt(b1, b2) }
        .foreach { case e @ (a, b, _) =>
          if (!used.contains(a) && !used.contains(b)) {
            used += a; used += b; out += e
          }
        }
      out.toSet
    }
    def canonOf(raw: Seq[(String, String, Double)]) = raw
      .filter(e => e._1 != e._2)
      .map(e => (Seq(e._1, e._2).min(engineOrder),
        Seq(e._1, e._2).max(engineOrder), e._3))
      .groupBy(e => (e._1, e._2))
      .map { case (_, es) => es.maxBy(_._3) }.toSeq
    // small random graphs: ≡ greedy twin AND ≥ ½ of the brute optimum
    def bruteOpt(canon: List[(String, String, Double)]): Double =
      canon match {
        case Nil => 0.0
        case e :: rest =>
          val without = bruteOpt(rest)
          val withE = e._3 + bruteOpt(rest.filter(o =>
            o._1 != e._1 && o._1 != e._2 && o._2 != e._1 && o._2 != e._2))
          math.max(without, withE)
      }
    for ((alpha, id) <- alphabets; seed <- Seq(19, 61)) {
      val rnd = new scala.util.Random(seed)
      val n = 10
      val raw = (for (_ <- 0 until 18) yield
        (id(rnd.nextInt(n)), id(rnd.nextInt(n)),
          (1 + rnd.nextInt(50)).toDouble)).toSeq
      val canon = canonOf(raw)
      val got = algo.Matching.heaviest(spark, raw.toDF("src", "dst", "cost"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
        .toSet
      assert(got === greedySeq(canon), s"$alpha seed=$seed")
      val gotW = got.toSeq.map(_._3).sum
      val optW = bruteOpt(canon.toList)
      assert(gotW * 2 >= optW - 1e-9, s"$alpha seed=$seed got=$gotW opt=$optW")
      // forced-distributed dominance rounds ≡ the local twin
      assert(algo.Matching.heaviest(spark, raw.toDF("src", "dst", "cost"),
          localEdgeThreshold = 0L)
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
        .toSet === got, s"distributed $alpha seed=$seed")
    }
    // slice 1: distributed rounds ≡ sequential greedy
    val sliceRaw = pg.projection.select("src", "dst", "cost").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    val gotSlice = algo.Matching.heaviest(spark,
        pg.projection.select("src", "dst", "cost"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .toSet
    assert(gotSlice === greedySeq(canonOf(sliceRaw)))
    // forced-distributed dominance rounds ≡ the sequential greedy too
    val distSlice = algo.Matching.heaviest(spark,
        pg.projection.select("src", "dst", "cost"),
        localEdgeThreshold = 0L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .toSet
    assert(distSlice === gotSlice)
  }

  test("k-truss: fixpoint invariants on slice 1; forced-distributed ≡ " +
      "local; random digraphs ≡ brute peel") {
    def brute(pairs: Seq[(String, String)], k: Int)
        : Set[(String, String)] = {
      var es = pairs.filter(e => e._1 != e._2)
        .map(e => (Seq(e._1, e._2).min, Seq(e._1, e._2).max)).toSet
      var changed = true
      while (changed) {
        val adj = es.toSeq.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
          .map { case (n, vs) => n -> vs.map(_._2).toSet }
        val keep = es.filter { case (a, b) =>
          (adj(a) & adj(b)).size >= k - 2 }
        changed = keep.size != es.size
        es = keep
      }
      es
    }
    val local = algo.Truss.truss(spark,
        pg.projection.select("src", "dst"), k = 3)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // fixpoint invariant: every surviving edge has ≥ k−2 common
    // neighbors INSIDE the truss (not just in the full graph)
    val adj = local.toSeq.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
      .map { case (n, vs) => n -> vs.map(_._2).toSet }
    local.foreach { case (a, b) =>
      assert((adj(a) & adj(b)).nonEmpty, s"unsupported truss edge $a-$b")
    }
    assert(local === brute(pg.projection.select("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq, 3))
    val dist = algo.Truss.truss(spark, pg.projection.select("src", "dst"),
        k = 3, localEdgeThreshold = 0L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(dist === local)
    for (seed <- Seq(29, 67)) {
      val rnd = new scala.util.Random(seed)
      val n = 14 + rnd.nextInt(12)
      val pairs = (for (_ <- 0 until 70 + rnd.nextInt(50)) yield
        (s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}"))
        .filter(e => e._1 != e._2).distinct
      for (k <- Seq(3, 4)) {
        val got = algo.Truss.truss(spark, pairs.toDF("src", "dst"), k,
            localEdgeThreshold = 0L)
          .collect().map(r => (r.getString(0), r.getString(1))).toSet
        assert(got === brute(pairs, k), s"seed=$seed k=$k")
      }
    }
  }

  test("node similarity: fixture Jaccard counts; threshold excludes weak pairs") {
    // N(a)={x,y,z}, N(b)={x,y,w}, N(c)={x}, N(d)={q}
    val edges = Seq(
      ("a", "x"), ("a", "y"), ("a", "z"),
      ("b", "x"), ("b", "y"), ("b", "w"),
      ("c", "x"), ("d", "q")).toDF("src", "dst")
    val got = algo.NodeSimilarity.jaccard(edges, 1, 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // a~b: 2/4 = 0.5 ≥ 1/3 in; a~c: 1/3 in (boundary); b~c: 1/3 in;
    // d shares nothing
    assert(got === Map(
      ("a", "b") -> ((2L, 4L)),
      ("a", "c") -> ((1L, 3L)),
      ("b", "c") -> ((1L, 3L))))
    // tighter threshold drops the boundary pairs
    val tight = algo.NodeSimilarity.jaccard(edges, 1, 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(tight === Set(("a", "b")))
  }

  test("pagerank: DataFrame loop ≡ sequential integer reimplementation") {
    val edges = pg.projection.select("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val nodeIds = pg.nodes.select("nodeId").collect().map(_.getString(0))
    // independent sequential evaluation of the same integer recurrence
    val n = nodeIds.length
    val unit = 1_000_000_000_000L / n
    val base = 15L * unit / 100L
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
    var r = nodeIds.map(_ -> unit).toMap
    for (_ <- 1 to 10) {
      val in = scala.collection.mutable.HashMap.empty[String, Long]
        .withDefaultValue(0L)
      edges.foreach { case (s, d) => in(d) += r(s) / deg(s) }
      r = nodeIds.map(v => v -> (base + 85L * in(v) / 100L)).toMap
    }
    // force the DISTRIBUTED path — the local fast path IS this
    // sequential loop, so only the distributed one needs the cross-check
    val got = algo.PageRank.run(pg.nodes.select("nodeId"),
        pg.projection.select("src", "dst"), iters = 10,
        localEdgeThreshold = 0L)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(got === r)
    // and the adaptive local path agrees with both
    val loc = algo.PageRank.run(pg.nodes.select("nodeId"),
        pg.projection.select("src", "dst"), iters = 10)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(loc === r)
    // mass sanity: teleport + damped flow can only leak (dangling /
    // truncation), never create mass
    assert(got.values.sum <= 1_000_000_000_000L)
    assert(got.values.sum > 600_000_000_000L)
  }

  test("pagerank + ppr: random digraphs — local and forced-distributed " +
      "≡ sequential integer loop") {
    for ((alpha, id) <- alphabets; seed <- Seq(5, 41, 97)) {
      val rnd = new scala.util.Random(seed)
      val n = 15 + rnd.nextInt(15)
      val ids = (0 until n).map(id)
      // simple digraph; some nodes stay dangling or isolated
      val edges = (for (_ <- 0 until 2 * n + rnd.nextInt(2 * n)) yield
        (id(rnd.nextInt(n)), id(rnd.nextInt(n))))
        .filter(e => e._1 != e._2).distinct
      val deg = edges.groupBy(_._1).map { case (s, es) =>
        s -> es.length.toLong }
      // the slice-1 test's loop, with the start mass and teleport base
      // as inputs so the personalized variant shares it
      def sequential(start: String => Long,
          teleport: String => Long): Map[String, Long] = {
        var r = ids.map(v => v -> start(v)).toMap
        for (_ <- 1 to 10) {
          val in = scala.collection.mutable.HashMap.empty[String, Long]
            .withDefaultValue(0L)
          edges.foreach { case (s, d) => in(d) += r(s) / deg(s) }
          r = ids.map(v => v -> (teleport(v) + 85L * in(v) / 100L)).toMap
        }
        r
      }
      val mass = 1_000_000_000_000L
      val unit = mass / n
      val uniform = sequential(_ => unit, _ => 15L * unit / 100L)
      val pprSeed = edges.head._1
      val ppr = sequential(v => if (v == pprSeed) mass else 0L,
        v => if (v == pprSeed) 15L * mass / 100L else 0L)
      val nodesDf = ids.toDF("node")
      val edgesDf = edges.toDF("src", "dst")
      def ranks(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
        df.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      for (thr <- Seq(graft.core.LocalBudget.MaxLocalEdges, 0L)) {
        assert(ranks(algo.PageRank.run(nodesDf, edgesDf, iters = 10,
          localEdgeThreshold = thr)) === uniform,
          s"pagerank $alpha seed=$seed threshold=$thr")
        assert(ranks(algo.PageRank.personalized(nodesDf, edgesDf, pprSeed,
          iters = 10, localEdgeThreshold = thr)) === ppr,
          s"ppr $alpha seed=$seed threshold=$thr")
      }
    }
  }

  test("mst: random multigraphs with tied costs — local kruskal ≡ " +
      "forced-distributed boruvka") {
    // the generator of the slice-1 mst test's random multigraphs
    for ((alpha, id) <- alphabets; seed <- Seq(7, 23, 71)) {
      val rnd = new scala.util.Random(seed)
      val n = 12 + rnd.nextInt(10)
      val raw = for (_ <- 0 until 50 + rnd.nextInt(40)) yield
        (id(rnd.nextInt(n)), id(rnd.nextInt(n)),
          (1 + rnd.nextInt(9)).toDouble) // small int costs force ties
      val edgesDf = raw.toDF("src", "dst", "cost")
      def forest(thr: Long): Set[(String, String, Double)] =
        algo.Boruvka.mst(spark, edgesDf, localEdgeThreshold = thr)
          .collect()
          .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
      val local = forest(graft.core.LocalBudget.MaxLocalEdges)
      assert(local.nonEmpty, s"mst $alpha seed=$seed")
      assert(local === forest(0L), s"mst $alpha seed=$seed")
    }
  }

  test("k-core/k-truss/mis/coloring: random digraphs — local twin ≡ " +
      "forced-distributed") {
    for ((alpha, id) <- alphabets; seed <- Seq(11, 29, 83)) {
      val rnd = new scala.util.Random(seed)
      val n = 12 + rnd.nextInt(8)
      val nodesDf = (0 until n).map(id).toDF("node")
      // self-loops and reverse/parallel duplicates kept: every kernel
      // collapses them itself
      val edgesDf = (for (_ <- 0 until 4 * n) yield
        (id(rnd.nextInt(n)), id(rnd.nextInt(n)))).toDF("src", "dst")
      val kernels: Seq[(String, Long => org.apache.spark.sql.DataFrame)] =
        Seq(
          "k-core" -> (t => algo.KCore.core(spark, edgesDf, k = 3,
            localEdgeThreshold = t)),
          "k-truss" -> (t => algo.Truss.truss(spark, edgesDf, k = 3,
            localEdgeThreshold = t)),
          "mis" -> (t => algo.IndependentSet.luby(spark, nodesDf, edgesDf,
            localEdgeThreshold = t)),
          "coloring" -> (t => algo.Coloring.greedy(spark, nodesDf, edgesDf,
            localEdgeThreshold = t)))
      for ((name, kernel) <- kernels) {
        def rows(t: Long) = kernel(t).collect().map(_.toSeq).toSet
        val local = rows(graft.core.LocalBudget.MaxLocalEdges)
        assert(local.nonEmpty, s"$name $alpha seed=$seed")
        assert(local === rows(0L), s"$name $alpha seed=$seed")
      }
    }
  }

  test("scc: empty node set returns an empty typed frame, not null") {
    val nodes = Seq.empty[String].toDF("node")
    val edges = Seq.empty[(String, String)].toDF("src", "dst")
    val local = algo.StronglyConnected.scc(spark, nodes, edges)
    assert(local != null && local.count() === 0L)
    assert(local.columns.toSeq === Seq("node", "component"))
    val dist = algo.StronglyConnected.scc(spark, nodes, edges,
      localEdgeThreshold = -1L)
    assert(dist != null && dist.count() === 0L)
    assert(dist.columns.toSeq === Seq("node", "component"))
  }

  test("ppr: missing seed fails loudly on BOTH dispatch paths; " +
      "quoted seed ids survive the distributed teleport expression") {
    val nodes = Seq("a", "o'brien").toDF("node")
    val edges = Seq(("a", "o'brien"), ("o'brien", "a")).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      algo.PageRank.personalized(nodes, edges, "zzz", iters = 2)
    }
    intercept[IllegalArgumentException] {
      algo.PageRank.personalized(nodes, edges, "zzz", iters = 2,
        localEdgeThreshold = 0L)
    }
    // a seed containing a quote is a data value, never SQL text: the
    // distributed path must parse, run, and agree with the local one
    val loc = algo.PageRank.personalized(nodes, edges, "o'brien", iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dist = algo.PageRank.personalized(nodes, edges, "o'brien", iters = 3,
        localEdgeThreshold = 0L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dist === loc)
    assert(loc("o'brien") > 0L)
  }

  test("ALT: exact Dijkstra optimum with strictly fewer expansions; " +
      "coordinate-free on random digraphs") {
    import graft.algo.{Landmarks, LocalGraph}
    val landmarks = (0 until 40).map(i => (i * 17 + 1).toString)
      .map(lg.find).filter(_ >= 0)
    val s = lg.idOf("2022"); val t = lg.idOf("2802")
    val h = Landmarks.altHeuristic(lg, LocalGraph.reverse(lg), landmarks, t)
    val (altRes, altExp) = LocalKernels.astarTable(lg, s, t, h)
    val wsD = new LocalKernels.Workspace(lg.n)
    val dijRes = LocalKernels.dijkstra(lg, s, t, wsD)
    val dijExp = wsD.nSettled
    val wsA = new LocalKernels.Workspace(lg.n)
    val eucRes = LocalKernels.astar(lg, s, t, wsA)
    val eucExp = wsA.nSettled
    // exactness: identical optimum and (unique-path slice) identical path
    assert(altRes.get.totalCost === dijRes.get.totalCost)
    assert(altRes.get.nodes.toSeq === dijRes.get.nodes.toSeq)
    assert(eucRes.get.totalCost === dijRes.get.totalCost)
    assert(eucExp <= dijExp)
    // pruning: ALT must beat blind Dijkstra outright
    info(s"expansions 2022->2802: ALT=$altExp euclid=$eucExp " +
      s"dijkstra=$dijExp")
    assert(altExp < dijExp, s"ALT $altExp !< dijkstra $dijExp")
    // the heuristic is admissible everywhere: h(v) ≤ d(v, t) exactly
    val (distToT, _) = LocalKernels.sssp(LocalGraph.reverse(lg), t)
    var v = 0
    while (v < lg.n) {
      if (distToT(v).isFinite)
        assert(h(v) <= distToT(v) + 1e-9, s"inadmissible h at $v")
      v += 1
    }
    // coordinate-free: on random digraphs (no coords) ALT still returns
    // the exact Dijkstra distance for random pairs
    for (seed <- Seq(7, 23)) {
      val rnd = new scala.util.Random(seed)
      val n = 40 + rnd.nextInt(30)
      val pairs = (for (_ <- 0 until 200) yield
        (s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}",
          1.0 + rnd.nextInt(9))).filter(e => e._1 != e._2)
      import spark.implicits._
      val proj = pairs.toDF("src", "dst", "cost")
        .groupBy("src", "dst")
        .agg(org.apache.spark.sql.functions.min("cost").as("cost"))
      val rg = LocalGraph.fromProjection(proj, None)
      val rrev = LocalGraph.reverse(rg)
      val lms = (0 until rg.n by 7).take(6)
      for (_ <- 0 until 20) {
        val a = rnd.nextInt(rg.n); val b = rnd.nextInt(rg.n)
        if (a != b) {
          val hr = Landmarks.altHeuristic(rg, rrev, lms, b)
          val alt = LocalKernels.astarTable(rg, a, b, hr)._1
          val dij = LocalKernels.dijkstra(rg, a, b)
          assert(alt.map(_.totalCost) === dij.map(_.totalCost),
            s"seed=$seed $a->$b")
        }
      }
    }
  }

  test("bidirectional dijkstra: exact optimum and path on the canonical " +
      "pair with fewer expansions; ≡ dijkstra on random digraphs") {
    import graft.algo.LocalGraph
    val rev = LocalGraph.reverse(lg)
    val s = lg.idOf("2022"); val t = lg.idOf("2802")
    val (bdRes, bdExp) = LocalKernels.bidirectional(lg, rev, s, t)
    val wsD = new LocalKernels.Workspace(lg.n)
    val dijRes = LocalKernels.dijkstra(lg, s, t, wsD)
    val dijExp = wsD.nSettled
    assert(bdRes.get.totalCost === dijRes.get.totalCost)
    // unique-path slice: the stitched node sequence is THE shortest path
    assert(bdRes.get.nodes.toSeq === dijRes.get.nodes.toSeq)
    // running costs are consistent cumulative sums ending at the total
    assert(bdRes.get.costs.head === 0.0)
    assert(bdRes.get.costs.last === bdRes.get.totalCost)
    assert(bdRes.get.costs.sliding(2).forall(p => p(0) <= p(1)))
    info(s"expansions 2022->2802: bidirectional=$bdExp dijkstra=$dijExp")
    assert(bdExp < dijExp, s"bidirectional $bdExp !< dijkstra $dijExp")
    // degenerate + unreachable cases are total
    assert(LocalKernels.bidirectional(lg, rev, s, s)._1.get.totalCost
      === 0.0)
    // ≡ dijkstra across random digraphs, including unreachable pairs
    for (seed <- Seq(11, 31)) {
      val rnd = new scala.util.Random(seed)
      val n = 40 + rnd.nextInt(30)
      val pairs = (for (_ <- 0 until 200) yield
        (s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}",
          1.0 + rnd.nextInt(9))).filter(e => e._1 != e._2)
      import spark.implicits._
      val proj = pairs.toDF("src", "dst", "cost")
        .groupBy("src", "dst")
        .agg(org.apache.spark.sql.functions.min("cost").as("cost"))
      val rg = LocalGraph.fromProjection(proj, None)
      val rrev = LocalGraph.reverse(rg)
      for (_ <- 0 until 40) {
        val a = rnd.nextInt(rg.n); val b = rnd.nextInt(rg.n)
        val bd = LocalKernels.bidirectional(rg, rrev, a, b)._1
        val dij = if (a == b)
          Some(LocalKernels.PathResult(Array(a), Array(0.0), 0.0))
        else LocalKernels.dijkstra(rg, a, b)
        assert(bd.map(_.totalCost) === dij.map(_.totalCost),
          s"seed=$seed $a->$b")
        // the stitched sequence is a REAL path of exactly that cost
        bd.foreach { p =>
          p.nodes.toSeq.sliding(2).filter(_.size == 2).foreach { e =>
            val Seq(u, v) = e
            var k = rg.offsets(u); var ok = false
            while (k < rg.offsets(u + 1) && !ok) {
              if (rg.targets(k) == v) ok = true
              k += 1
            }
            assert(ok, s"seed=$seed $a->$b: $u->$v not an edge")
          }
        }
      }
    }
  }

  test("bidirectional ALT: exact optimum with fewer expansions than " +
      "either parent; feasible averaged potential; ≡ dijkstra on random " +
      "digraphs") {
    import graft.algo.{Landmarks, LocalGraph}
    val rev = LocalGraph.reverse(lg)
    val s = lg.idOf("2022"); val t = lg.idOf("2802")
    val lms = (0 until 40).map(i => (i * 17 + 1).toString)
      .map(lg.find).filter(_ >= 0)
    val (pf, prune) = Landmarks.bidiAltPotentials(lg, rev, lms, s, t)
    // feasibility audit: BOTH directions' reduced edge costs must be
    // nonnegative (up to IEEE slack) — the soundness condition for the
    // meet-in-the-middle stop rule under a potential
    var u = 0
    while (u < lg.n) {
      var e = lg.offsets(u)
      while (e < lg.offsets(u + 1)) {
        val v = lg.targets(e)
        if (!prune(u) && !prune(v)) {
          val red = lg.costs(e) - pf(u) + pf(v)
          assert(red >= -1e-7, s"edge $u->$v reduced cost $red")
        }
        e += 1
      }
      u += 1
    }
    val (res, exp) = LocalKernels.bidirectionalAlt(lg, rev, s, t, pf, prune)
    val wsD = new LocalKernels.Workspace(lg.n)
    val dij = LocalKernels.dijkstra(lg, s, t, wsD)
    assert(res.get.totalCost === dij.get.totalCost)
    assert(res.get.nodes.toSeq === dij.get.nodes.toSeq)
    // scope: below blind bidirectional AND below unidirectional ALT on
    // the canonical pair (the combination beats both parents)
    val bdExp = LocalKernels.bidirectional(lg, rev, s, t)._2
    val altExp = LocalKernels.astarTable(lg, s, t,
      Landmarks.altHeuristic(lg, rev, lms, t))._2
    info(s"expansions 2022->2802: bidiALT=$exp bidirectional=$bdExp " +
      s"ALT=$altExp dijkstra=${wsD.nSettled}")
    assert(exp < bdExp, s"bidiALT $exp !< bidirectional $bdExp")
    assert(exp < altExp, s"bidiALT $exp !< ALT $altExp")
    // degenerate: identical endpoints
    assert(LocalKernels.bidirectionalAlt(lg, rev, s, s, pf, prune)
      ._1.get.totalCost === 0.0)
    // ≡ dijkstra on random digraphs incl. unreachable pairs (landmark
    // sets chosen with no reachability guarantees — the prune/∞ logic
    // must stay fail-safe, and stitched hops must be real edges)
    for (seed <- Seq(17, 47)) {
      val rnd = new scala.util.Random(seed)
      val n = 40 + rnd.nextInt(30)
      val pairs = (for (_ <- 0 until 200) yield
        (s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}",
          1.0 + rnd.nextInt(9))).filter(e => e._1 != e._2)
      import spark.implicits._
      val proj = pairs.toDF("src", "dst", "cost")
        .groupBy("src", "dst")
        .agg(org.apache.spark.sql.functions.min("cost").as("cost"))
      val rg = LocalGraph.fromProjection(proj, None)
      val rrev = LocalGraph.reverse(rg)
      val rlms = (0 until rg.n by 7).take(6)
      for (_ <- 0 until 40) {
        val a = rnd.nextInt(rg.n); val b = rnd.nextInt(rg.n)
        val (rpf, rprune) = Landmarks.bidiAltPotentials(rg, rrev, rlms, a, b)
        val got = LocalKernels.bidirectionalAlt(rg, rrev, a, b, rpf, rprune)._1
        val want = if (a == b)
          Some(LocalKernels.PathResult(Array(a), Array(0.0), 0.0))
        else LocalKernels.dijkstra(rg, a, b)
        assert(got.map(_.totalCost) === want.map(_.totalCost),
          s"seed=$seed $a->$b")
        got.foreach { p =>
          p.nodes.toSeq.sliding(2).filter(_.size == 2).foreach { hop =>
            val Seq(x, y) = hop
            var k = rg.offsets(x); var ok = false
            while (k < rg.offsets(x + 1) && !ok) {
              if (rg.targets(k) == y) ok = true
              k += 1
            }
            assert(ok, s"seed=$seed $a->$b: $x->$y not an edge")
          }
        }
      }
    }
  }

  test("contraction hierarchy: exact ≡ dijkstra with the smallest search " +
      "scope of the family; unpacked hops are real edges; deterministic " +
      "build; ≡ dijkstra on random digraphs") {
    import graft.algo.{ContractionHierarchy, LocalGraph}
    val ch = ContractionHierarchy.build(lg)
    info(s"slice 1: ${ch.shortcuts} shortcuts over ${lg.targets.length} edges")
    val s = lg.idOf("2022"); val t = lg.idOf("2802")
    val (pathOpt, exp) = ch.query(lg, s, t)
    val wsD = new LocalKernels.Workspace(lg.n)
    val dij = LocalKernels.dijkstra(lg, s, t, wsD)
    val costs = LocalKernels.rewalk(lg, pathOpt.get)
    assert(costs.last === dij.get.totalCost)
    assert(pathOpt.get.toSeq === dij.get.nodes.toSeq)
    // the hierarchy query must be the smallest scope in the family:
    // CH < bidiALT (1048) < ALT (1236) < bidirectional (1651) < 2191
    val rev = LocalGraph.reverse(lg)
    val bdExp = LocalKernels.bidirectional(lg, rev, s, t)._2
    info(s"expansions 2022->2802: CH=$exp bidirectional=$bdExp " +
      s"dijkstra=${wsD.nSettled}")
    assert(exp < 1048, s"CH $exp !< bidiALT 1048")
    // determinism: a second build yields identical ranks and shortcuts
    val ch2 = ContractionHierarchy.build(lg)
    assert(ch2.shortcuts === ch.shortcuts)
    assert(ch2.rank.toSeq === ch.rank.toSeq)
    assert(ch2.query(lg, s, t)._1.get.toSeq === pathOpt.get.toSeq)
    // degenerate: identical endpoints
    assert(ch.query(lg, s, s)._1.get.toSeq === Seq(s))
    // ≡ dijkstra on random digraphs incl. unreachable pairs; every
    // unpacked hop must be a REAL original edge
    for (seed <- Seq(23, 59)) {
      val rnd = new scala.util.Random(seed)
      val n = 40 + rnd.nextInt(30)
      val pairs = (for (_ <- 0 until 200) yield
        (s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}",
          1.0 + rnd.nextInt(9))).filter(e => e._1 != e._2)
      import spark.implicits._
      val proj = pairs.toDF("src", "dst", "cost")
        .groupBy("src", "dst")
        .agg(org.apache.spark.sql.functions.min("cost").as("cost"))
      val rg = LocalGraph.fromProjection(proj, None)
      val rch = ContractionHierarchy.build(rg)
      for (_ <- 0 until 40) {
        val a = rnd.nextInt(rg.n); val b = rnd.nextInt(rg.n)
        val got = rch.query(rg, a, b)._1
        val want = if (a == b)
          Some(LocalKernels.PathResult(Array(a), Array(0.0), 0.0))
        else LocalKernels.dijkstra(rg, a, b)
        assert(got.isDefined === want.isDefined, s"seed=$seed $a->$b")
        got.foreach { p =>
          val walked = LocalKernels.rewalk(rg, p)
          assert(walked.last === want.get.totalCost, s"seed=$seed $a->$b")
          p.toSeq.sliding(2).filter(_.size == 2).foreach { hop =>
            val Seq(x, y) = hop
            var k = rg.offsets(x); var ok = false
            while (k < rg.offsets(x + 1) && !ok) {
              if (rg.targets(k) == y) ok = true
              k += 1
            }
            assert(ok, s"seed=$seed $a->$b: $x->$y not an edge")
          }
        }
      }
    }
  }

  test("landmark staleness under append: stale tables remain UPPER " +
      "bounds; uncovered growth is detectable; new nodes never served") {
    import graft.algo.{Landmarks, LocalGraph}
    val landmarks = (0 until 40).map(i => (i * 17 + 1).toString)
    val srcSet = (0 until 40).map(i => (i * 31 + 2).toString)
    val dstSet = (0 until 40).map(i => (i * 43 + 3).toString)
    graft.core.Scratch.withScratch("graft-landmark-stale") { dir =>
      // tables from the PRE-append graph
      Landmarks.persistTables(spark, pg, landmarks, dir)
      // grow the graph (append-only: the slices are cumulative, so no
      // edge cost ever increases — distances can only shrink)
      val g2 = EdgeListIngest.append(spark, pg,
        "/root/reference/Shenzhen_Edgelist_2.csv")
      val lg2 = LocalGraph.fromProjection(g2.projection, Some(g2.nodes))
      // a slice-2-only node: present after append, unknown to the tables
      val oldIds = pg.nodes.select("nodeId").collect()
        .map(_.getString(0)).toSet
      val newIds = g2.nodes.select("nodeId").collect()
        .map(_.getString(0)).filterNot(oldIds).take(3)
      assert(newIds.nonEmpty, "append added no nodes — fixture drifted")
      val served = Landmarks.serve(spark, dir,
        srcSet ++ newIds, dstSet ++ newIds).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3))
        .toMap
      assert(served.nonEmpty)
      // 1) est from stale tables ≥ exact distance on the APPENDED
      // graph: est ≥ d_old(u,v) ≥ d_new(u,v) under append-only growth —
      // stale tables degrade to looser bounds, never to wrong answers
      def r4(x: Double): Double =
        BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val exact = served.keySet.map(_._1).map { u =>
        u -> LocalKernels.sssp(lg2, lg2.idOf(u))._1
      }.toMap
      served.foreach { case ((u, v), e) =>
        val d = exact(u)(lg2.idOf(v))
        assert(d.isFinite, s"$u->$v served but unreachable after append")
        assert(e >= r4(d) - 1e-9,
          s"stale est $e < appended-graph distance $d for $u->$v")
      }
      // 2) staleness is DETECTABLE: the stored node universe no longer
      // covers the appended graph's nodes
      val covered = spark.read.parquet(dir + "/fwd")
        .select("node").distinct().count()
      assert(covered < g2.nodes.count(),
        "appended graph fully covered — staleness check has no signal")
      // 3) fail-safe absence: nodes unknown to the tables never appear
      // in served rows (no row beats a fabricated distance)
      val servedNodes = served.keySet.flatMap(p => Set(p._1, p._2))
      assert(newIds.forall(n => !servedNodes(n)),
        s"slice-2-only node served from stale tables: $servedNodes")
    }
  }

  test("landmark estimates: all-absent landmark set returns an empty " +
      "typed frame") {
    val out = graft.algo.Landmarks.estimates(spark, pg,
      Seq("no-such-node", "also-missing"), Seq("2022"), Seq("2802"))
    assert(out.columns.toSeq === Seq("src_id", "dst_id", "n_via", "est"))
    assert(out.count() === 0L)
  }

  test("landmark estimates: upper bound on exact distance, tight when the " +
      "target is itself a landmark") {
    val landmarks = (0 until 40).map(i => (i * 17 + 1).toString)
    val srcSet = (0 until 40).map(i => (i * 31 + 2).toString)
    // include the landmarks themselves as targets: d(u,L)+d(L,L)=d(u,L),
    // so those rows must equal the exact distance bit-for-bit
    val dstSet = (0 until 40).map(i => (i * 43 + 3).toString) ++
      landmarks.take(5)
    val est = graft.algo.Landmarks
      .estimates(spark, pg, landmarks, srcSet, dstSet)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(est.nonEmpty)
    // exact distances from each queried source via the local kernel
    val exact = srcSet.filter(s => lg.find(s) >= 0).map { s =>
      val (d, _) = LocalKernels.sssp(lg, lg.idOf(s))
      s -> d
    }.toMap
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    est.foreach { case ((u, v), e) =>
      val ex = exact(u)(lg.idOf(v))
      assert(ex.isFinite, s"estimate for unreachable pair $u->$v")
      // upper bound (rounding both sides to the presentation contract)
      assert(e >= r4(ex) - 1e-9, s"$u->$v est $e < exact $ex")
      if (landmarks.contains(v)) assert(e === r4(ex),
        s"landmark target $u->$v est $e != exact $ex")
    }
  }

  test("landmark tables persisted + served ≡ in-session estimates; the " +
      "serve plan runs no SSSP kernel") {
    val landmarks = (0 until 40).map(i => (i * 17 + 1).toString)
    val srcSet = (0 until 40).map(i => (i * 29 + 5).toString)
    val dstSet = (0 until 40).map(i => (i * 37 + 7).toString)
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))
    val direct = graft.algo.Landmarks
      .estimates(spark, pg, landmarks, srcSet, dstSet)
      .collect().map(key).toMap
    graft.core.Scratch.withScratch("graft-landmark-spec") { dir =>
      graft.algo.Landmarks.persistTables(spark, pg, landmarks, dir)
      val served = graft.algo.Landmarks.serve(spark, dir, srcSet, dstSet)
      // plan pin (g34's scale contract): serving reads ONLY the stored
      // tables — parquet scans with the node filter pushed; no RDD scan
      // (the kernels' checkpoint state) anywhere in the plan means no
      // SSSP ran to answer the batch
      val p = served.queryExecution.executedPlan.toString
      assert(p.contains("Scan parquet") || p.contains("FileScan"), p)
      assert(!p.contains("ExistingRDD"), p)
      assert(p.contains("PushedFilters: [In(node"), p)
      // bit-equal to the compute-in-session path: storage round-trips
      // the doubles exactly and the serve algebra is the same
      val got = served.collect().map(key).toMap
      assert(got === direct)
      // the persisted layout prunes by landmark: a single-landmark read
      // touches one partition directory
      val one = spark.read.parquet(dir + "/fwd")
        .filter(org.apache.spark.sql.functions.col("lm") === landmarks.head)
      val pruned = one.queryExecution.executedPlan.toString
      assert(!pruned.contains("PartitionFilters: []"), pruned)
    }
  }

  test("exhaustive APSP: distributed multi-source over ALL sources ≡ " +
      "per-source Dijkstra, every pair (g49's weighted contract)") {
    // the g49 query hash-pins exhaustive REACHABILITY in SQL; the
    // weighted fixpoint over all sources is not SQL-oracle-able at gate
    // cost, so THIS is where it pins: every (source, node) distance from
    // one all-sources distributed relaxation must equal the sequential
    // CSR kernel's, on a graph with unreachable pairs
    import spark.implicits._
    val rnd = new scala.util.Random(83)
    val n = 120
    val pairs = (for (_ <- 0 until 420) yield
      (s"a${rnd.nextInt(n)}", s"a${rnd.nextInt(n)}",
        1.0 + rnd.nextInt(9))).filter(e => e._1 != e._2)
    val proj = pairs.toDF("src", "dst", "cost")
      .groupBy("src", "dst")
      .agg(org.apache.spark.sql.functions.min("cost").as("cost"))
    val rg = LocalGraph.fromProjection(proj, None)
    val allSources = rg.ids.toSeq
    val state = DistributedSSSP.run(spark, proj, allSources)
    val got = state.select("source", "nodeId", "dist").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    graft.core.Checkpoints.release(state)
    val want = allSources.flatMap { s =>
      val (dist, _) = LocalKernels.sssp(rg, rg.idOf(s))
      dist.indices.filter(i => dist(i).isFinite)
        .map(i => (s, rg.ids(i)) -> dist(i))
    }.toMap
    assert(got.size === want.size)
    assert(got === want)
  }

  test("graph profile: exact moments on a fixture; assortativity " +
      "overflow fails loudly instead of wrapping") {
    // two triangles sharing node c — hand-computed sufficient statistics
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"),
      ("c", "d"), ("d", "e"), ("e", "c")).toDF("src", "dst")
    val nodes = Seq("a", "b", "c", "d", "e").toDF("nodeId")
    val r = algo.GraphProfile.stats(nodes, edges).collect()(0)
    assert(r.getLong(0) === 5L)        // n_nodes
    assert(r.getLong(2) === 6L)        // n_und
    assert(r.getLong(3) === 4L)        // max_deg (c)
    // degrees a,b,d,e = 2, c = 4 → wedges = 4·1 + 6 = 10; triangles = 2
    assert(r.getLong(4) === 10L)
    assert(r.getLong(5) === 2L)
    // moments: sx = Σ(da+db) = 32, sxy = Σ2·da·db = 80, sx2 = Σ(da²+db²)
    // = 96 → num = 2·6·80 − 32² = −64, den = 2·6·96 − 32² = 128,
    // assortativity = −0.5 (star-within: hubs attach to leaves)
    assert(r.getLong(7) === -64L)
    assert(r.getLong(8) === 128L)
    assert(r.getDouble(10) === -0.5)
    // the guard (round 18, non-ANSI Spark wraps Long silently where
    // DuckDB raises): a hub star pushes sx = D(D+1) past sqrt(2^61)
    val d = 39000
    val starE = spark.range(d.toLong)
      .selectExpr("'hub' AS src", "concat('l', id) AS dst")
    val starN = spark.range(d.toLong).selectExpr("concat('l', id) AS nodeId")
      .union(Seq("hub").toDF("nodeId"))
    val ex = intercept[Exception] {
      algo.GraphProfile.stats(starN, starE).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("exact-BIGINT envelope")),
      s"expected the overflow guard, got: $ex")
  }
}
