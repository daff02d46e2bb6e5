package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints

/** Distributed contraction-hierarchy BUILD — the scale twin of
  * [[ContractionHierarchy.build]] (whose doc names this design:
  * "the distributed analogue partitions by rank level"). The driver-side
  * builder contracts one node at a time; at 100× road scale the BUILD is
  * the bottleneck (IMPL.md:831-836's "reduce the search scope" line ends
  * here), so this builder contracts whole independent LEVELS per round,
  * every round a fixed set of keyed joins/aggregations.
  *
  * Batch contraction by independent sets (the published parallel-CH
  * construction shape — Geisberger et al. 2008 §5 "parallelization",
  * also the PHAST build): each round selects S = the remaining nodes
  * whose priority struct(in·out shortcut work, md5 scramble, id) is a
  * strict local minimum among their remaining neighbors in either
  * direction. Local minima are pairwise non-adjacent by construction,
  * and every shortcut created by contracting v ∈ S connects two
  * NON-members (u, w are neighbors of v, hence excluded from S) — so
  * batch-contracting S sees exactly the neighbor state any sequential
  * order of S would see, and the classic correctness argument (any total
  * order with distance-preserving shortcuts keeps all pairwise
  * distances; a path can never traverse two same-level nodes
  * consecutively because level-mates are non-adjacent) lifts to levels
  * verbatim. No witness search runs distributed — every u→v→w two-hop
  * through a contracted v becomes a shortcut, min-merged per (u, w) pair.
  * Extra shortcuts cost size, never correctness (the driver-side
  * builder's settle-capped witness search makes the same trade).
  *
  * Scale shape per round: two degree aggregations, one neighbor-min
  * aggregation, one membership-marker join, one v-keyed in×out join
  * (volume Σ_{v∈S} in(v)·out(v), bounded because work-minimal nodes
  * contract first and hubs last), one pair min-merge. Rounds are
  * O(log n) in expectation (each remaining node is a local minimum with
  * probability ≥ 1/(deg+1)).
  *
  * Per-round state discipline (two failure modes found building this,
  * both structural, both from the SELF-JOINING shape of a round):
  * (1) `localCheckpoint` snapshots the origin plan's estimated stats
  * into the LogicalRDD, and self-joins compound those BigInt
  * sizeInBytes doubly-exponentially — by round ~8 Catalyst stats
  * estimation ground million-digit ToomCook multiplications
  * (DistributedSSSP's single-join linear growth never trips this).
  * (2) cache()-based materialization keeps honest stats but an
  * InMemoryRelation EMBEDS its child plan, so round-over-round the
  * plan TREE nests multiplicatively and the driver stalls rendering
  * exponentially-sized plan strings into every execution-start event.
  * The shape that avoids both: every per-round frame becomes a true
  * LEAF — localCheckpoint, then re-wrap the materialized RDD WITHOUT
  * origin stats (`Scope.fresh`): plans stay constant-depth,
  * stats stay constant-size, and the price is one Row↔InternalRow
  * conversion per consumer over an already-cached RDD.
  *
  * The top of the hierarchy densifies: the last few thousand nodes of a
  * road-like graph approach a clique, where batch rounds degrade toward
  * singleton sets and per-round job overhead dominates. Like every
  * kernel in algo/, the build therefore finishes the small dense core on
  * the driver (witness-checked, via [[ContractionHierarchy.buildParts]])
  * once the remaining edge set fits `localFinishEdges`; the local ranks
  * stack on top of the distributed levels, and frozen-edge/shortcut
  * semantics are identical across the seam (a pair freezes exactly when
  * its first endpoint contracts, carrying the cost current at that
  * moment — so unpacking a shortcut always finds its two constituent
  * edges frozen at the costs the shortcut was derived from).
  */
object DistributedCH {

  /** chEdges: (src, dst, cost, via) with via = "" for original edges;
    * ranks: (node, rank) covering every input node — lower rank =
    * contracted earlier. `rounds` counts the levels assigned BEFORE the
    * driver finish: the distributed levels plus, when any node remains
    * at handoff, the isolated-node pseudo-level (local ranks from the
    * driver finish stack above `rounds`).
    */
  final case class Built(chEdges: DataFrame, ranks: DataFrame,
      rounds: Int, nShortcuts: Long)

  /** nodes: single-column node ids; edges: (src, dst, cost) directed
    * (parallel edges min-collapsed here, self-loops dropped).
    * `verbose` prints one line per round (level sizes + seconds) — the
    * scale checks enable it so build pathologies are attributable.
    */
  def build(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
      localFinishEdges: Long = 50000, maxRounds: Int = 10000,
      verbose: Boolean = false, maxContractWork: Long = 4096,
      localWitnessCap: Int = 16,
      localFinishHardCap: Long = 2000000L,
      stallHandoffEdges: Long = 200000L): Built = Checkpoints.scoped { s =>
    import spark.implicits._

    // a stats-free, plan-tree-cutting LEAF (see class doc) and its size
    def mat(df: DataFrame): (DataFrame, Long) = {
      val c = s.fresh(df)
      (c, c.count())
    }

    var (cur, curCount) = mat(edges
      .select(col(edges.columns(0)).as("src"),
        col(edges.columns(1)).as("dst"), col(edges.columns(2)).as("cost"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(min(col("cost")).as("cost"))
      .withColumn("via", lit("")))
    var (rem, remCount) = mat(
      nodes.select(col(nodes.columns(0)).as("node")).distinct())
    val frozenParts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val rankParts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var level = 0
    var stalled = false
    var workCap = maxContractWork

    while (!stalled && remCount > 0 && curCount > localFinishEdges &&
        level < maxRounds) {
      val t0 = System.nanoTime()
      val ind = cur.groupBy(col("dst").as("node"))
        .agg(count(lit(1)).as("din"))
      val outd = cur.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("dout"))
      // priority: simulated shortcut work first (hubs last), md5 scramble
      // so ties don't follow id-correlated chains, id as the unique
      // tiebreak that makes local minimality strict
      val (pri, _) = mat(rem.join(ind, Seq("node"), "left_outer")
        .join(outd, Seq("node"), "left_outer")
        .select(col("node"),
          (coalesce(col("din"), lit(0L)) * coalesce(col("dout"), lit(0L)))
            .as("work"),
          md5(col("node").cast("string")).as("h")))
      val nbrMin = cur.select(col("src").as("nbr"), col("dst").as("node"))
        .unionByName(cur.select(col("dst").as("nbr"), col("src").as("node")))
        .join(pri.select(col("node").as("nbr"),
          struct(col("work"), col("h"), col("node")).as("p")), Seq("nbr"))
        .groupBy("node").agg(min(col("p")).as("np"))
      // S: strict local minima (isolated remaining nodes qualify
      // trivially), RESTRICTED to candidates whose contraction work
      // in·out fits maxContractWork. The cap is the dense-core handoff:
      // low-degree nodes — the bulk of any road-like graph — contract
      // distributed round after round, and when nothing under the cap
      // remains the loop exits to the driver finish instead of grinding
      // 1%-per-round rounds on a core whose degree keeps growing (the
      // measured stall without the cap). Priority leads with work, so a
      // capped node is automatically strictly smaller than any
      // over-cap neighbor; independence is unaffected (any subset of
      // local minima is still pairwise non-adjacent).
      val (sSet, sCount) = mat(pri.join(nbrMin, Seq("node"), "left_outer")
        .filter(col("work") <= workCap &&
          (col("np").isNull ||
            struct(col("work"), col("h"), col("node")) < col("np")))
        .select("node"))
      if (sCount == 0 && curCount > stallHandoffEdges) {
        // nothing fits the work cap at all and the core is too big to
        // hand off: double the cap and keep contracting distributed.
        // Candidacy is the only thing the cap touches — any subset of
        // local minima is independent, so correctness is
        // cap-path-independent. This case is checked BEFORE the stall
        // rate test (which sCount == 0 would trivially satisfy); an
        // empty S on a driver-tractable core (≤ stallHandoffEdges)
        // still falls through to the handoff below.
        // min-guard: works are < 2^62, so once the cap passes them S is
        // nonempty and this branch can't loop — the guard only prevents
        // a sign flip from overflow
        workCap = math.min(workCap * 2, Long.MaxValue / 4)
        if (verbose) println(s"[ch-build] level=$level empty under cap; " +
          s"workCap doubled to $workCap")
      } else if (sCount * 50 < remCount &&
          (curCount <= stallHandoffEdges || sCount * 200 < remCount)) {
        // Contraction rate under 2% — hand the core to the driver finish
        // when EITHER the working set is already driver-tractable
        // (≤ stallHandoffEdges) or the rate has truly collapsed (< 0.5%:
        // rounds no longer pay for themselves at any size). The two-part
        // guard is load-bearing (round 17, measured on a 1050×500 grid):
        // the rate crosses 2% while the working set is still ~620k edges
        // (core degree ≈ 58 ⇒ natural local-min rate 1/(deg+1) ≈ 1.7%),
        // and the witness-checked sequential finish on a core that size
        // runs for HOURS — so a merely-slow distributed round (seconds)
        // must keep going. But grid-like graphs never shrink below their
        // separator structure (the CH top of a w×h grid is a near-clique
        // on ~min(w,h) nodes — ~tw² working edges by construction), so a
        // size-only guard would grind to maxRounds; the rate floor hands
        // off once progress genuinely stops. sCount ≥ 1 always holds
        // when any node fits the cap (priority leads with work, so the
        // global minimum among under-cap nodes has no smaller neighbor).
        stalled = true
      } else {
      val (marked, _) = mat(cur
        .join(sSet.select(col("node").as("src"), lit(1).as("ms")),
          Seq("src"), "left_outer")
        .join(sSet.select(col("node").as("dst"), lit(1).as("md")),
          Seq("dst"), "left_outer"))
      // freeze: a pair leaves the working graph the round its first
      // endpoint contracts (ms and md are mutually exclusive — S is
      // independent), carrying its current (cost, via). Checkpointed
      // (eager) so the buffered part survives this round's frees.
      frozenParts += s.checkpoint(marked
        .filter(col("ms").isNotNull || col("md").isNotNull)
        .select("src", "dst", "cost", "via"))
      rankParts += s.checkpoint(sSet.withColumn("rank", lit(level)))
      val scAll = marked.filter(col("md").isNotNull)
        .select(col("src").as("u"), col("dst").as("v"), col("cost").as("c1"))
        .join(marked.filter(col("ms").isNotNull)
          .select(col("src").as("v"), col("dst").as("w"),
            col("cost").as("c2")), Seq("v"))
        .filter(col("u") =!= col("w"))
        .select(col("u").as("src"), col("w").as("dst"),
          (col("c1") + col("c2")).as("cost"), col("v").as("via"))
      // 2-hop witness prune (the one-join form of Geisberger's witness
      // search): a candidate u→v→w is unnecessary when some u→x→w
      // through a DIFFERENT node x certifies the distance. Two regimes,
      // split on whether x itself contracts this round:
      //  - x SURVIVES: the path u→x→w persists in the working graph, so
      //    cost ≤ candidate suffices;
      //  - x ∈ S: the path is destroyed this round too, but x's own
      //    batch contraction emits candidate (u, w, via = x) at the
      //    witness cost (u, w are x's neighbors) — requiring STRICTLY
      //    shorter here makes mutual annihilation impossible: the
      //    minimum-cost candidate of a pair has no strictly shorter
      //    sibling, so it survives unless a persisting path covers it.
      // Without this prune, witness-less contraction densifies road
      // grids catastrophically (measured: a 42k-node grid's working set
      // grew 167k → 633k edges while the contraction rate collapsed to
      // 1%/round). Killing is per (pair, via): same-pair candidates
      // through other nodes are judged on their own costs.
      val wKill = scAll
        .select(col("src").as("csrc"), col("dst").as("cdst"),
          col("cost").as("ccost"), col("via").as("cvia"))
        .join(marked.select(col("src").as("wu"), col("dst").as("wx"),
          col("cost").as("wc1"), col("md").as("wxInS")),
          col("wu") === col("csrc"))
        .filter(col("wx") =!= col("cvia"))
        .join(marked.select(col("src").as("wx2"), col("dst").as("ww"),
          col("cost").as("wc2")),
          col("wx2") === col("wx") && col("ww") === col("cdst"))
        .filter(col("wc1") + col("wc2") < col("ccost") ||
          (col("wxInS").isNull &&
            col("wc1") + col("wc2") <= col("ccost")))
        .select(col("csrc").as("src"), col("cdst").as("dst"),
          col("cvia").as("via"))
        .distinct()
      // 3-hop witness leg, SURVIVING intermediates only (their path
      // persists verbatim, so plain ≤ is safe with no mutual-kill
      // analysis): u→x1→x2→w. On road grids the 2-hop leg alone leaves
      // enough detour shortcuts alive to pump remaining degrees and
      // stall contraction early; this leg keeps the handoff core small.
      val sEdges = marked.filter(col("ms").isNull && col("md").isNull)
      val wKill3 = scAll
        .select(col("src").as("csrc"), col("dst").as("cdst"),
          col("cost").as("ccost"), col("via").as("cvia"))
        .join(sEdges.select(col("src").as("wu"), col("dst").as("wx1"),
          col("cost").as("wc1")), col("wu") === col("csrc"))
        .filter(col("wx1") =!= col("cvia"))
        .join(sEdges.select(col("src").as("wx1b"), col("dst").as("wx2"),
          col("cost").as("wc2")), col("wx1b") === col("wx1"))
        .filter(col("wx2") =!= col("cvia") && col("wx2") =!= col("csrc"))
        .join(sEdges.select(col("src").as("wx2b"), col("dst").as("ww"),
          col("cost").as("wc3")),
          col("wx2b") === col("wx2") && col("ww") === col("cdst"))
        .filter(col("wc1") + col("wc2") + col("wc3") <= col("ccost"))
        .select(col("csrc").as("src"), col("cdst").as("dst"),
          col("cvia").as("via"))
        .distinct()
      val sc = scAll.join(wKill.unionByName(wKill3),
        Seq("src", "dst", "via"), "left_anti")
      val survivors = marked.filter(col("ms").isNull && col("md").isNull)
        .select("src", "dst", "cost", "via")
      val (newCur, newCurCount) = mat(survivors.unionByName(sc)
        .groupBy("src", "dst")
        .agg(min(struct(col("cost"), col("via"))).as("m"))
        .select(col("src"), col("dst"), col("m.cost").as("cost"),
          col("m.via").as("via")))
      val (newRem, newRemCount) = mat(
        rem.join(sSet, Seq("node"), "left_anti"))
      cur = newCur; curCount = newCurCount
      rem = newRem; remCount = newRemCount
      if (verbose) println(f"[ch-build] level=$level |S|=$sCount " +
        f"cur=$curCount rem=$remCount " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
      level += 1
      }
      // all consumers are materialized leaves — free the round's
      // intermediates and the previous incarnation now
      s.keep(Seq(cur, rem) ++ frozenParts ++ rankParts: _*)
    }

    // local finish on the dense core. Isolated remaining nodes (no
    // incident working edge) contract as one extra level first — they
    // are mutually and universally non-adjacent, create nothing, and
    // keeping them out of the LocalGraph (whose index is edge-derived)
    // keeps the seam simple.
    var localEdgesDf: Option[DataFrame] = None
    var localRanksDf: Option[DataFrame] = None
    if (remCount > 0) {
      // the stall/maxRounds exits hand over WHATEVER remains, not just
      // a localFinishEdges-bounded core — log the handoff size always
      // and fail loudly past the hard cap instead of OOMing the driver
      // on an unexpectedly dense core (ADVICE r14)
      println(f"[ch-build] handoff: $curCount%,d edges / $remCount%,d " +
        f"nodes to the driver finish (stalled=$stalled)")
      require(curCount <= localFinishHardCap,
        f"CH driver-finish handoff of $curCount%,d edges exceeds " +
          f"localFinishHardCap=$localFinishHardCap%,d — the distributed " +
          "phase stalled on a dense core too large to finish locally; " +
          "raise the cap only with driver memory to match, or raise " +
          "maxContractWork so the distributed phase keeps contracting")
      val endpoints = cur.select(col("src").as("node"))
        .unionByName(cur.select(col("dst").as("node"))).distinct()
      val isolated = rem.join(endpoints, Seq("node"), "left_anti")
      rankParts += s.checkpoint(isolated.withColumn("rank", lit(level)))
      level += 1
      if (curCount > 0) {
        val t0 = System.nanoTime()
        val pairVia = cur.collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getString(3))
          .toMap
        val lgRem = LocalGraph.fromProjection(cur.select("src", "dst", "cost"),
          None)
        val (rankLoc, edgesLoc) =
          ContractionHierarchy.buildParts(lgRem, localWitnessCap)
        val base = level
        localRanksDf = Some(rankLoc.indices
          .map(i => (lgRem.ids(i), base + rankLoc(i)))
          .toDF("node", "rank"))
        localEdgesDf = Some(edgesLoc.toSeq.map { case (u, w, c, vi) =>
          val su = lgRem.ids(u); val sw = lgRem.ids(w)
          // via = -1 marks a pair the local phase never overwrote: its
          // (cost, via) is still the working graph's — which may itself
          // be a distributed-phase shortcut
          (su, sw, c, if (vi >= 0) lgRem.ids(vi) else pairVia((su, sw)))
        }.toDF("src", "dst", "cost", "via"))
        if (verbose) println(f"[ch-build] local finish: ${lgRem.n}%,d " +
          f"nodes / $curCount%,d edges in " +
          f"${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
    }

    val chEdges = s.checkpoint((frozenParts ++ localEdgesDf)
      .reduceOption(_ unionByName _)
      .getOrElse(Seq.empty[(String, String, Double, String)]
        .toDF("src", "dst", "cost", "via")))
    val ranks = s.checkpoint((rankParts ++ localRanksDf)
      .reduceOption(_ unionByName _)
      .getOrElse(Seq.empty[(String, Int)].toDF("node", "rank")))
    val nShort = chEdges.filter(col("via") =!= "").count()
    Built(chEdges, ranks, level, nShort)
  }

  /** Freeze a distributed build into the in-memory serving structure
    * over the dense id space of `lg` (the caller's reference LocalGraph
    * for the SAME graph). Collects int-ified edges (~24 B/edge) — the
    * serving tier is driver-side by design (the g34 story: the BUILD was
    * the distributed part); `lg.n` rank rows and every CH edge must
    * resolve against `lg`'s index.
    */
  def assemble(spark: SparkSession, lg: LocalGraph, built: Built)
      : ContractionHierarchy = {
    import spark.implicits._
    val idMap = lg.ids.zipWithIndex.toSeq.toDF("node", "i")
    val edges = built.chEdges
      .join(idMap.select(col("node").as("src"), col("i").as("ui")),
        Seq("src"))
      .join(idMap.select(col("node").as("dst"), col("i").as("wi")),
        Seq("dst"))
      .join(idMap.select(col("node").as("via"), col("i").as("vi")),
        Seq("via"), "left_outer")
      .select(col("ui"), col("wi"), col("cost"),
        coalesce(col("vi"), lit(-1)).as("vi"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getInt(3)))
    val rankRows = built.ranks.join(idMap, Seq("node"))
      .select("i", "rank").collect()
    require(rankRows.length == lg.n,
      s"rank table covers ${rankRows.length} of ${lg.n} nodes")
    val rank = new Array[Int](lg.n)
    rankRows.foreach(r => rank(r.getInt(0)) = r.getInt(1))
    ContractionHierarchy.fromParts(lg.n, rank, edges)
  }
}
