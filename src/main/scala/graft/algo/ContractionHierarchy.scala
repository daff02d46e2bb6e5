package graft.algo

/** Contraction hierarchies (Geisberger et al. 2008) — the endpoint of
  * the reference's "reduce the search scope" improvement line
  * (IMPL.md:831-836) that the g33/g35/g37 family walks toward: instead
  * of steering one query's search, PRECOMPUTE a hierarchy once and make
  * every query a pair of tiny upward searches.
  *
  * Build: contract nodes one at a time in a deterministic lazy
  * edge-difference order; when node v goes, any shortest path u→v→w
  * between still-uncontracted neighbors that has no WITNESS (a u→w path
  * avoiding v that is at least as short) gets a shortcut edge u→w of
  * cost d(u,v)+d(v,w) remembering v for unpacking. Correctness does NOT
  * depend on the order — any total order with witness-checked shortcuts
  * preserves all pairwise distances — the order only shapes how many
  * shortcuts appear; the edge-difference heuristic keeps that near-
  * linear on road-like graphs.
  *
  * Query: d(s,t) = min_x dF(x) + dB(x), where dF runs from s using only
  * UPWARD edges (rank rises along the step) and dB runs from t using
  * only DOWNWARD edges traversed backward. Both cones are tiny (the
  * hierarchy funnels every shortest path through a highest-rank apex —
  * the classic result), and each side may stop as soon as its heap top
  * reaches the best μ seen (the plain bidirectional topF+topB rule does
  * NOT apply here: the two searches meet at the apex, not midway).
  *
  * Scale shape: this is the g34 story one level up — the expensive part
  * is a one-time batch precompute (here driver-side over the LocalGraph
  * fast path; [[DistributedCH]] is the forced-distributed twin that
  * contracts whole independent rank LEVELS per round and assembles back
  * into this structure — certified ≡ Dijkstra on a 42k-node /
  * 167k-edge grid, notes/ROUND16.md), and serving cost per query is
  * independent of graph radius. The arrays are immutable after build, so one hierarchy
  * serves any number of (s, t) batches.
  */
final class ContractionHierarchy private (
    val n: Int,
    val rank: Array[Int],
    // G↑: CH edges (u → v, rank v > rank u), CSR over u
    upOff: Array[Int], upTgt: Array[Int], upCost: Array[Double],
    // reverse(G↓): CH edges (a → b, rank a > rank b) stored at b as b → a
    dnOff: Array[Int], dnTgt: Array[Int], dnCost: Array[Double],
    // full CH edge map for unpacking: (u, v) -> (cost, via); via = -1
    // marks an original edge
    edgeCost: java.util.HashMap[Long, Double],
    edgeVia: java.util.HashMap[Long, Int],
    val shortcuts: Int) {

  @inline private def key(u: Int, v: Int): Long = (u.toLong << 32) | v

  /** Bidirectional upward search. Returns (unpacked node path, settled
    * count) — None when t is unreachable from s.
    */
  def query(g: LocalGraph, source: Int, target: Int)
      : (Option[Array[Int]], Int) = {
    if (source == target) return (Some(Array(source)), 0)
    val distF = Array.fill(n)(Double.PositiveInfinity)
    val distB = Array.fill(n)(Double.PositiveInfinity)
    val predF = Array.fill(n)(-1)
    val predB = Array.fill(n)(-1)
    val setF = new Array[Boolean](n)
    val setB = new Array[Boolean](n)
    var mu = Double.PositiveInfinity
    var apex = -1
    var settled = 0
    // each side runs to exhaustion or until its top ≥ μ — upward cones
    // are tiny, so no alternation finesse is needed
    def side(off: Array[Int], tgt: Array[Int], cst: Array[Double],
        dist: Array[Double], pred: Array[Int], set: Array[Boolean],
        other: Array[Double], start: Int): Unit = {
      // max-heap under (-cost, -node): top = smallest cost, smallest
      // node id on ties — deterministic pop order
      val heapD = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](
        Ordering.by[(Double, Int), (Double, Int)](p => (-p._1, -p._2)))
      dist(start) = 0.0
      heapD.enqueue((0.0, start))
      var done = false
      while (!done && heapD.nonEmpty) {
        val (d, u) = heapD.dequeue()
        if (d >= mu) done = true
        else if (!set(u)) {
          set(u) = true
          settled += 1
          if (other(u).isFinite && d + other(u) < mu) {
            mu = d + other(u); apex = u
          }
          var e = off(u)
          while (e < off(u + 1)) {
            val v = tgt(e)
            val nd = d + cst(e)
            if (nd < dist(v)) {
              dist(v) = nd; pred(v) = u; heapD.enqueue((nd, v))
            }
            e += 1
          }
        }
      }
    }
    side(upOff, upTgt, upCost, distF, predF, setF, distB, source)
    side(dnOff, dnTgt, dnCost, distB, predB, setB, distF, target)
    // a second forward pass is unnecessary: μ only shrank while the
    // backward side ran, and the forward cone was searched to
    // exhaustion of keys < the then-current μ ≥ final μ — every node
    // with dF < final μ is settled, which is all the apex needs
    if (apex < 0) return (None, settled)
    // shortcut-level paths: source → apex via predF, apex → target via
    // predB (predB chains the REVERSED down edges, i.e. toward target)
    val upPath = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
      var cur = apex
      while (cur != -1) { buf += cur; cur = predF(cur) }
      buf.reverse
    }
    val downPath = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
      var cur = predB(apex)
      while (cur != -1) { buf += cur; cur = predB(cur) }
      buf
    }
    // unpack every CH hop to original edges
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    out += upPath.head
    def unpack(u: Int, v: Int): Unit = {
      val via = edgeVia.getOrDefault(key(u, v), -1)
      if (via < 0) out += v
      else { unpack(u, via); unpack(via, v) }
    }
    var i = 1
    while (i < upPath.length) { unpack(upPath(i - 1), upPath(i)); i += 1 }
    // down hops run apex → ... → target; each (a, b) is a CH edge a→b
    var prev = apex
    i = 0
    while (i < downPath.length) { unpack(prev, downPath(i)); prev = downPath(i); i += 1 }
    (Some(out.toArray), settled)
  }
}

object ContractionHierarchy {

  /** Deterministic build over a LocalGraph (parallel edges min-collapse
    * on entry). Lazy edge-difference ordering: priority(v) =
    * (#shortcuts a contraction of v would add) − (#incident remaining
    * edges) + (#already-contracted neighbors), ties by node id; the
    * popped minimum is re-evaluated and re-queued if stale (standard
    * lazy update). Witness searches are exact within the remaining
    * graph but settle-capped: a truncated search just ADDS the shortcut
    * (extra shortcuts cost size, never correctness).
    */
  def build(g: LocalGraph, witnessCap: Int = 64): ContractionHierarchy = {
    val (rank, edges) = buildParts(g, witnessCap)
    fromParts(g.n, rank, edges)
  }

  /** The contraction core, exposed as data: returns (rank, CH edge list
    * (u, v, cost, via) with via = -1 marking an original edge). [[build]]
    * freezes it into the queryable structure; DistributedCH's hybrid
    * build runs it over the densified top-of-hierarchy core and stacks
    * the resulting ranks on its distributed levels.
    */
  def buildParts(g: LocalGraph, witnessCap: Int = 64)
      : (Array[Int], Array[(Int, Int, Double, Int)]) = {
    val n = g.n
    // mutable adjacency over REMAINING nodes; also the accumulating CH
    // edge set (edges are never deleted, contraction only flags nodes)
    // values typed java.lang.Double on purpose: a scala.Double value
    // type would auto-unbox absent keys' null to 0.0 in `get`
    val fwd = Array.fill(n)(new java.util.HashMap[Integer, java.lang.Double]())
    val bwd = Array.fill(n)(new java.util.HashMap[Integer, java.lang.Double]())
    val via = new java.util.HashMap[Long, Int]()
    @inline def key(u: Int, v: Int): Long = (u.toLong << 32) | v
    var u = 0
    while (u < n) {
      var e = g.offsets(u)
      while (e < g.offsets(u + 1)) {
        val v = g.targets(e); val c = g.costs(e)
        if (v != u) {
          val old = fwd(u).get(v)
          if (old == null || c < old) {
            fwd(u).put(v, c); bwd(v).put(u, c); via.remove(key(u, v))
          }
        }
        e += 1
      }
      u += 1
    }
    val contracted = new Array[Boolean](n)
    val rank = new Array[Int](n)
    // one-to-many witness search scratch (touched-reset, shared across
    // every contraction like LocalKernels.Workspace)
    val wDist = Array.fill(n)(Double.PositiveInfinity)
    val wTouched = new Array[Int](n)
    var wTouchedN = 0
    def resetW(): Unit = {
      var i = 0
      while (i < wTouchedN) {
        wDist(wTouched(i)) = Double.PositiveInfinity; i += 1
      }
      wTouchedN = 0
    }
    def runWitness(wu: Int, skip: Int, bound: Double): Unit = {
      val pq = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](
        Ordering.by[(Double, Int), (Double, Int)](p => (-p._1, -p._2)))
      wDist(wu) = 0.0; wTouched(wTouchedN) = wu; wTouchedN += 1
      pq.enqueue((0.0, wu))
      var nSettled = 0
      var done = false
      val settledMark = new java.util.HashSet[Integer]()
      while (!done && pq.nonEmpty) {
        val (d, x) = pq.dequeue()
        if (d > bound || nSettled >= witnessCap) done = true
        else if (!settledMark.contains(x)) {
          settledMark.add(x)
          nSettled += 1
          val it = fwd(x).entrySet().iterator()
          while (it.hasNext) {
            val en = it.next()
            val y = en.getKey.intValue()
            if (!contracted(y) && y != skip) {
              val nd = d + en.getValue
              if (nd < wDist(y)) {
                if (wDist(y).isInfinite) { wTouched(wTouchedN) = y; wTouchedN += 1 }
                wDist(y) = nd
                pq.enqueue((nd, y))
              }
            }
          }
        }
      }
    }
    // simulate (count = true) or perform (count = false) contraction of v
    def contractOrCount(v: Int, count: Boolean): Int = {
      var added = 0
      val ins = bwd(v).entrySet().iterator()
      // collect remaining in/out neighbor lists deterministically sorted
      val inN = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
      while (ins.hasNext) {
        val en = ins.next()
        val x = en.getKey.intValue()
        if (!contracted(x)) inN += ((x, en.getValue))
      }
      val outs = fwd(v).entrySet().iterator()
      val outN = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
      while (outs.hasNext) {
        val en = outs.next()
        val x = en.getKey.intValue()
        if (!contracted(x)) outN += ((x, en.getValue))
      }
      val inS = inN.sortBy(_._1)
      val outS = outN.sortBy(_._1)
      var i = 0
      while (i < inS.length) {
        val (wu, cu) = inS(i)
        var maxP = 0.0
        var j = 0
        while (j < outS.length) {
          val (ww, cw) = outS(j)
          if (ww != wu && cu + cw > maxP) maxP = cu + cw
          j += 1
        }
        if (maxP > 0.0) {
          runWitness(wu, v, maxP)
          j = 0
          while (j < outS.length) {
            val (ww, cw) = outS(j)
            if (ww != wu) {
              val p = cu + cw
              if (!(wDist(ww) <= p)) {
                // no witness — shortcut needed
                if (count) added += 1
                else {
                  val old = fwd(wu).get(ww)
                  if (old == null || p < old) {
                    fwd(wu).put(ww, p); bwd(ww).put(wu, p)
                    via.put(key(wu, ww), v)
                    added += 1
                  }
                }
              }
            }
            j += 1
          }
          resetW()
        }
        i += 1
      }
      added
    }
    val contractedNeighbors = new Array[Int](n)
    def priority(v: Int): Int = {
      val deg = {
        var d = 0
        val it1 = fwd(v).keySet().iterator()
        while (it1.hasNext) { if (!contracted(it1.next().intValue())) d += 1 }
        val it2 = bwd(v).keySet().iterator()
        while (it2.hasNext) { if (!contracted(it2.next().intValue())) d += 1 }
        d
      }
      contractOrCount(v, count = true) - deg + contractedNeighbors(v)
    }
    // lazy-update ordering heap: (priority, node)
    val order = scala.collection.mutable.PriorityQueue.empty[(Int, Int)](
      Ordering.by[(Int, Int), (Int, Int)](p => (-p._1, -p._2)))
    var v = 0
    while (v < n) { order.enqueue((priority(v), v)); v += 1 }
    var nextRank = 0
    var nShortcuts = 0
    while (order.nonEmpty) {
      val (p, x) = order.dequeue()
      if (!contracted(x)) {
        val fresh = priority(x)
        if (order.nonEmpty && fresh > order.head._1) order.enqueue((fresh, x))
        else {
          nShortcuts += contractOrCount(x, count = false)
          contracted(x) = true
          rank(x) = nextRank; nextRank += 1
          // neighbors' contracted-neighbor counts rise (depth term)
          val it1 = fwd(x).keySet().iterator()
          while (it1.hasNext) {
            val y = it1.next().intValue()
            if (!contracted(y)) contractedNeighbors(y) += 1
          }
          val it2 = bwd(x).keySet().iterator()
          while (it2.hasNext) {
            val y = it2.next().intValue()
            if (!contracted(y)) contractedNeighbors(y) += 1
          }
        }
      }
    }
    // emit the CH edge list (u, v, cost, via)
    val out = Array.newBuilder[(Int, Int, Double, Int)]
    u = 0
    while (u < n) {
      val it = fwd(u).entrySet().iterator()
      while (it.hasNext) {
        val en = it.next()
        val w = en.getKey.intValue()
        out += ((u, w, en.getValue: Double, via.getOrDefault(key(u, w), -1)))
      }
      u += 1
    }
    (rank, out.result())
  }

  /** Freeze a (rank, CH edge list) pair — [[buildParts]]'s output or a
    * DistributedCH assembly — into the queryable up/down CSR structure.
    * Every edge must connect distinct ranks ("upward" would otherwise be
    * undefined; both builders guarantee it — sequential ranks are a
    * total order, and distributed level-mates are never adjacent).
    */
  def fromParts(n: Int, rank: Array[Int],
      edges: Array[(Int, Int, Double, Int)]): ContractionHierarchy = {
    @inline def key(u: Int, v: Int): Long = (u.toLong << 32) | v
    val upCnt = new Array[Int](n + 1)
    val dnCnt = new Array[Int](n + 1)
    var i = 0
    while (i < edges.length) {
      val (u, w, _, _) = edges(i)
      require(rank(u) != rank(w), s"same-rank CH edge $u -> $w")
      if (rank(w) > rank(u)) upCnt(u + 1) += 1 else dnCnt(w + 1) += 1
      i += 1
    }
    i = 0
    while (i < n) { upCnt(i + 1) += upCnt(i); dnCnt(i + 1) += dnCnt(i); i += 1 }
    val upPos = upCnt.clone(); val dnPos = dnCnt.clone()
    val m = upCnt(n) + dnCnt(n)
    val upTgt = new Array[Int](upCnt(n))
    val upCost = new Array[Double](upCnt(n))
    val dnTgt = new Array[Int](dnCnt(n))
    val dnCost = new Array[Double](dnCnt(n))
    val edgeCost = new java.util.HashMap[Long, Double](m * 2)
    val viaMap = new java.util.HashMap[Long, Int]()
    var nShortcuts = 0
    i = 0
    while (i < edges.length) {
      val (u, w, c, via) = edges(i)
      // both builders min-merge per (u, w) before emitting, so a pair
      // appears at most once — checked, not just argued: a duplicate
      // would double-count in the CSR arrays while edgeCost/viaMap keep
      // only the last cost, silently corrupting query state
      require(!edgeCost.containsKey(key(u, w)),
        s"duplicate CH edge $u -> $w")
      edgeCost.put(key(u, w), c)
      if (via >= 0) { viaMap.put(key(u, w), via); nShortcuts += 1 }
      if (rank(w) > rank(u)) {
        upTgt(upPos(u)) = w; upCost(upPos(u)) = c; upPos(u) += 1
      } else {
        // stored reversed at w for the backward search
        dnTgt(dnPos(w)) = u; dnCost(dnPos(w)) = c; dnPos(w) += 1
      }
      i += 1
    }
    new ContractionHierarchy(n, rank, upCnt, upTgt, upCost,
      dnCnt, dnTgt, dnCost, edgeCost, viaMap, nShortcuts)
  }
}
