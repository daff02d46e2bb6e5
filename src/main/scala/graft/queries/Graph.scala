package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.GQ
import graft.algo.ShortestPaths
import graft.graph.{EdgeListIngest, PropertyGraph}

/** The reference's own query corpus (neo4j-code.txt's 8 canonical queries)
  * re-expressed Spark-first. The anchors 2022→80240 and the result shapes
  * mirror the reference; see SURVEY §2.9/§3.
  *
  * These read the Shenzhen edge list from the read-only reference checkout
  * (slice selectable via GRAFT_EDGELIST); the driver's sfDir is irrelevant
  * to them. EVERY query carries a DuckDB oracle on the default slice:
  * ingest counts via read_csv, the iterative shortest-path family via a
  * hop-bounded chained relaxation CTE that is bit-identical to the
  * Dijkstra kernels (see `Oracle` below and SURVEY §5.2.6), Yen via
  * goldens frozen from the independent Python implementation. The
  * slice-1-specific oracles drop to rows-only under a GRAFT_EDGELIST
  * override; the ScalaTest suite (local CSR ≡ distributed relaxation ≡
  * ScalaCheck properties, SURVEY §5.2.3) cross-validates on every slice.
  */
object Graph {

  val DefaultEdgeList = "/root/reference/Shenzhen_Edgelist_1.csv"
  def edgeListPath: String =
    sys.env.getOrElse("GRAFT_EDGELIST", DefaultEdgeList)

  /** Canonical anchors. The reference's query pair is 2022→80240, but
    * node 80240 exists only in the unshipped 100 972-row file (verified:
    * it appears in NO shipped slice) — so, per SURVEY §5.2.2, we freeze
    * our own golden on slice 1: 2022→2802, the farthest reachable node
    * (independent-oracle distance 9221.720430639).
    */
  val Src = "2022"
  val Dst = "2802"

  // Memoize the built graph per (session, path): the 8 graph queries share
  // one ingest instead of re-reading the CSV per query. A WeakHashMap on
  // the session would never evict here — the cached PropertyGraph's
  // DataFrames strongly reference their SparkSession, so the value would
  // pin the weak key forever. Instead: key on session identity (not
  // hashCode, which can collide) and purge entries whose SparkContext has
  // stopped on every access, plus an explicit release() for callers that
  // cycle sessions on a live context.
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), PropertyGraph]()
  def graphFor(spark: SparkSession, path: String): PropertyGraph = {
    graft.core.Sessions.purgeStopped(cache)
    cache.computeIfAbsent((spark, path),
      { case (s, p) => EdgeListIngest.build(s, p).cache() })
  }

  /** Memoized incremental append of slice 2 onto the (cached) slice-1
    * graph — g27's subject. Separate map because `cache`'s loader is the
    * from-scratch build; purged/released together with it.
    */
  val Slice2EdgeList = "/root/reference/Shenzhen_Edgelist_2.csv"
  private val appendCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), PropertyGraph]()
  private def appendedGraph(s: SparkSession): PropertyGraph = {
    graft.core.Sessions.purgeStopped(appendCache)
    appendCache.computeIfAbsent((s, Slice2EdgeList),
      { case (ss, p) =>
        EdgeListIngest.append(ss, graphFor(ss, DefaultEdgeList), p).cache()
      })
  }

  /** Shared from-scratch-rebuild oracle over slice 1 ∪ slice 2 — used
    * by BOTH g27_append_graph (batch append) and stream_graph_append
    * (streaming maintenance), so the two append surfaces are pinned to
    * the same ground truth and cannot drift.
    */
  private[queries] val AppendOracleSql: String =
    s"""WITH raw AS (
       |  SELECT * FROM read_csv('${DefaultEdgeList}', header=true,
       |    columns={'XCoord':'DOUBLE','YCoord':'DOUBLE',
       |      'START_NODE':'VARCHAR','END_NODE':'VARCHAR',
       |      'EDGE':'VARCHAR','LENGTH':'DOUBLE'})
       |  WHERE START_NODE IS NOT NULL
       |  UNION ALL
       |  SELECT * FROM read_csv('/root/reference/Shenzhen_Edgelist_2.csv',
       |    header=true,
       |    columns={'XCoord':'DOUBLE','YCoord':'DOUBLE',
       |      'START_NODE':'VARCHAR','END_NODE':'VARCHAR',
       |      'EDGE':'VARCHAR','LENGTH':'DOUBLE'})
       |  WHERE START_NODE IS NOT NULL),
       |nodes AS (SELECT DISTINCT START_NODE, XCoord, YCoord FROM raw),
       |ids AS (SELECT DISTINCT START_NODE FROM nodes),
       |cand AS (SELECT DISTINCT START_NODE AS src, END_NODE AS dst,
       |  EDGE AS roadId, LENGTH AS cost FROM raw),
       |edges AS (SELECT * FROM cand
       |  WHERE src IN (SELECT * FROM ids)
       |    AND dst IN (SELECT * FROM ids))
       |SELECT (SELECT count(*) FROM nodes) AS n_nodes,
       |       (SELECT count(*) FROM edges) AS n_edges,
       |       (SELECT round(sum(cost), 1) FROM edges) AS sum_cost,
       |       (SELECT count(*) FROM cand) -
       |         (SELECT count(*) FROM edges) AS n_pending""".stripMargin

  /** The shared one-row summary both append queries emit. */
  private[queries] def appendSummary(pg: PropertyGraph): DataFrame =
    pg.nodes.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(pg.edges.agg(count(lit(1)).as("n_edges"),
        round(sum(col("cost")), 1).as("sum_cost")))
      .crossJoin(pg.pending.get.agg(count(lit(1)).as("n_pending")))

  /** Drop and unpersist every graph cached for `spark`. */
  def release(spark: SparkSession): Unit = {
    Seq(cache, appendCache).foreach { c =>
      val it = c.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey._1 eq spark) {
          if (!spark.sparkContext.isStopped) e.getValue.unpersistAll()
          it.remove()
        }
      }
    }
  }

  private def g(s: SparkSession): PropertyGraph = graphFor(s, edgeListPath)

  /** g48's radius horizon: 6 register-advance rounds — deep enough for
    * real expansion to read a diameter trend off, shallow enough that
    * the SQL replay stays a per-round gate cost. reached90 is RELATIVE
    * TO THE HORIZON by contract (the full effective diameter needs
    * rounds ≈ diameter ≈ 58 here). Declared BEFORE `queries`: object
    * vals initialize in declaration order, and the oracle strings
    * interpolate this at `queries` construction time.
    */
  private val HyperAnfRounds = 6

  /** g51's canonical weighted-APSP subgraph: the 300 lexicographically
    * smallest node ids (both engines agree on ASCII string order), with
    * the induced edge set. The relaxation chain is padded to |S| − 1 =
    * 299 steps — a loopless shortest path in a 300-node graph has at
    * most 299 hops, so the fixpoint is reached UNCONDITIONALLY, with no
    * external hop-bound audit (extra steps past the fixpoint are
    * no-ops). Declared before `queries` (object-init order).
    */
  private val ApspSubN = 300
  private val ApspSubHops = ApspSubN - 1

  /** Every graph oracle encodes slice-1 facts — the CSV path itself, the
    * hop bounds, and the frozen Yen goldens. When GRAFT_EDGELIST points
    * the Spark side at a different slice, the oracles must drop away
    * (rows-only check) rather than compare slice N against slice-1 SQL.
    * Env is immutable per JVM, so evaluating at class-init is sound.
    */
  private def sliceOracle(sql: => String): Option[String] =
    if (edgeListPath == DefaultEdgeList) Some(sql) else None

  /** Full-graph per-node triangle counts (Schank's degree-ordered
    * orientation replayed in SQL) — shared by g12 (direct count) and
    * g46 (incremental maintenance): both must land on the same counts,
    * so one oracle pins direct ≡ incremental ≡ SQL.
    */
  /** The tund/tdeg/tor/ttri/tcr CTE chain over `edges` — undirected
    * simple collapse, degrees, Schank orientation, one row per triangle,
    * per-node counts. Shared by [[triangleOracleSql]] and the g50
    * graph-profile oracle so all three queries pin to ONE SQL source.
    */
  private def triangleCtes: String =
    s"""tund AS MATERIALIZED (
       |  SELECT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src <> dst GROUP BY 1, 2),
       |tdeg AS MATERIALIZED (
       |  SELECT n, count(*) AS deg FROM (
       |    SELECT a AS n FROM tund UNION ALL SELECT b AS n FROM tund)
       |  GROUP BY 1),
       |tor AS MATERIALIZED (
       |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
       |              THEN u.a ELSE u.b END AS u,
       |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
       |              THEN u.b ELSE u.a END AS v
       |  FROM tund u JOIN tdeg da ON da.n = u.a JOIN tdeg db ON db.n = u.b),
       |ttri AS MATERIALIZED (
       |  SELECT o1.u, o1.v, o2.v AS w
       |  FROM tor o1 JOIN tor o2 ON o1.u = o2.u AND o1.v < o2.v
       |  JOIN tund e ON e.a = o1.v AND e.b = o2.v),
       |tcr AS (SELECT node, count(*) AS n_triangles FROM (
       |  SELECT u AS node FROM ttri UNION ALL SELECT v FROM ttri
       |  UNION ALL SELECT w FROM ttri) GROUP BY 1)""".stripMargin

  private def triangleOracleSql: String =
    s"""WITH ${Oracle.edgesCte},
       |$triangleCtes
       |SELECT n.START_NODE AS node_id,
       |  coalesce(c.n_triangles, 0) AS n_triangles
       |FROM ids n LEFT JOIN tcr c ON c.node = n.START_NODE""".stripMargin

  /** DuckDB oracle SQL for the iterative graph queries.
    *
    * The shortest-path family is oracled with a hop-bounded chained
    * Bellman-Ford relaxation: step k holds min-cost-over-≤k-hop-paths per
    * node, so after H ≥ (max hop count of any minimal-hop optimal path)
    * steps the chain IS the SSSP fixpoint. Both engines fold path costs
    * left-to-right in IEEE doubles (dist(u) + cost), and min over doubles
    * is order-independent, so the fixpoint is bit-identical to the
    * Dijkstra kernels — verified bit-for-bit over all 2 191 reachable
    * nodes by tools/graph_golden.py + a DuckDB run of this SQL.
    *
    * Every step is MATERIALIZED: each is referenced twice, and DuckDB
    * would otherwise inline the doubly-referenced CTEs and plan the chain
    * exponentially.
    *
    * Hop bounds come from tools/graph_golden.py (independent Python
    * implementation): 66 for source 2022, 89 across g7's 78 present
    * sources — padded to 80/100 (extra steps past the fixpoint are no-ops).
    */
  private object Oracle {
    val HopsSingle = 80
    val HopsMulti = 100

    /** Ingest-equivalent edge table: padding dropped, nodes = distinct
      * START_NODE, exact-duplicate rows collapsed, dangling END_NODE
      * dropped, parallel edges pre-aggregated to min cost (the same
      * projection PropertyGraph feeds the algorithm kernels).
      */
    val edgesCte: String =
      s"""raw AS MATERIALIZED (
         |  SELECT * FROM read_csv('${DefaultEdgeList}', header=true,
         |    columns={'XCoord':'DOUBLE','YCoord':'DOUBLE',
         |      'START_NODE':'VARCHAR','END_NODE':'VARCHAR',
         |      'EDGE':'VARCHAR','LENGTH':'DOUBLE'})
         |  WHERE START_NODE IS NOT NULL),
         |ids AS MATERIALIZED (SELECT DISTINCT START_NODE FROM raw),
         |edges AS MATERIALIZED (SELECT src, dst, min(cost) AS cost FROM (
         |  SELECT DISTINCT START_NODE AS src, END_NODE AS dst, EDGE, LENGTH AS cost
         |  FROM raw WHERE END_NODE IN (SELECT * FROM ids)) GROUP BY 1, 2)""".stripMargin

    /** Single-source relaxation chain s0..s<hops> over (node, dist). */
    def chain(src: String, hops: Int): String = {
      val s0 = s"s0 AS MATERIALIZED (SELECT '$src' AS node, CAST(0.0 AS DOUBLE) AS dist)"
      val steps = (1 to hops).map { i =>
        s"""s$i AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
           |  SELECT node, dist FROM s${i - 1}
           |  UNION ALL
           |  SELECT e.dst AS node, s.dist + e.cost AS dist
           |  FROM s${i - 1} s JOIN edges e ON s.node = e.src) GROUP BY 1)""".stripMargin
      }
      (s0 +: steps).mkString(",\n")
    }

    /** Multi-source chain keyed by (source, node); seeds from `srcs(id)`.
      * `edgeTable` lets g51 run the same chain over an induced subgraph's
      * edge CTE instead of the full `edges` table.
      */
    def chainMulti(hops: Int, edgeTable: String = "edges"): String = {
      val s0 = """s0 AS MATERIALIZED (
                 |  SELECT id AS source, id AS node, CAST(0.0 AS DOUBLE) AS dist
                 |  FROM srcs)""".stripMargin
      val steps = (1 to hops).map { i =>
        s"""s$i AS MATERIALIZED (SELECT source, node, min(dist) AS dist FROM (
           |  SELECT source, node, dist FROM s${i - 1}
           |  UNION ALL
           |  SELECT s.source, e.dst AS node, s.dist + e.cost AS dist
           |  FROM s${i - 1} s JOIN $edgeTable e ON s.node = e.src) GROUP BY 1, 2)""".stripMargin
      }
      (s0 +: steps).mkString(",\n")
    }

    /** chainMulti's reverse-direction twin r0..r<hops> over the flipped
      * edge table: r<hops>(source, node, dist) = d(node → source). Hop
      * bound audited by tools/landmark_golden.py — 89 across both
      * directions for the g29 landmark set, padded to HopsMulti.
      */
    def chainMultiRev(hops: Int): String = {
      val pre = """redges AS MATERIALIZED (
                  |  SELECT dst AS src, src AS dst, cost FROM edges),
                  |r0 AS MATERIALIZED (
                  |  SELECT id AS source, id AS node, CAST(0.0 AS DOUBLE) AS dist
                  |  FROM srcs)""".stripMargin
      val steps = (1 to hops).map { i =>
        s"""r$i AS MATERIALIZED (SELECT source, node, min(dist) AS dist FROM (
           |  SELECT source, node, dist FROM r${i - 1}
           |  UNION ALL
           |  SELECT s.source, e.dst AS node, s.dist + e.cost AS dist
           |  FROM r${i - 1} s JOIN redges e ON s.node = e.src) GROUP BY 1, 2)"""
          .stripMargin
      }
      (pre +: steps).mkString(",\n")
    }

    /** SSSP fixpoint + backward optimal-path walk from Dst. The walk
      * follows exact-double pred equality (dist(u) + cost == dist(v)) —
      * the identity Dijkstra established for its own pred — one row per
      * hop because the slice-1 optimum is unique (graph_golden.py).
      */
    def walkCte: String =
      s"""fin AS MATERIALIZED (SELECT node, dist FROM s$HopsSingle),
         |w(node, dist, back) AS (
         |  SELECT node, dist, 0 FROM fin WHERE node = '$Dst'
         |  UNION
         |  SELECT e.src, f.dist, w.back + 1
         |  FROM w JOIN edges e ON e.dst = w.node JOIN fin f ON f.node = e.src
         |  WHERE f.dist + e.cost = w.dist)""".stripMargin

    def singleSourcePrefix: String =
      s"WITH RECURSIVE $edgesCte,\n${chain(Src, HopsSingle)},\n$walkCte"

    /** Min-label fixpoint for weakly-connected components: step k holds
      * the min label over ≤k undirected hops, so after H ≥ (max
      * eccentricity of any component's min-label node) steps the chain
      * is the WCC fixpoint. Slice-1 max eccentricity is 58
      * (tools/graph_golden.py BFS audit) — padded to 70; extra steps
      * past the fixpoint are no-ops. Labels are VARCHAR minima, which
      * order byte-wise identically in both engines.
      */
    val HopsWcc = 70
    def wccChain(hops: Int): String = {
      val und = """und AS MATERIALIZED (SELECT src, dst FROM edges
                  |  UNION SELECT dst AS src, src AS dst FROM edges)""".stripMargin
      val c0 = "c0 AS MATERIALIZED (SELECT START_NODE AS node, START_NODE AS lbl FROM ids)"
      val steps = (1 to hops).map { i =>
        s"""c$i AS MATERIALIZED (SELECT node, min(lbl) AS lbl FROM (
           |  SELECT node, lbl FROM c${i - 1}
           |  UNION ALL
           |  SELECT u.dst AS node, c.lbl FROM c${i - 1} c JOIN und u ON c.node = u.src)
           |  GROUP BY 1)""".stripMargin
      }
      (Seq(und, c0) ++ steps).mkString(",\n")
    }

    /** HyperANF register chain hr0..hr<rounds> over (node, bucket, r):
      * hr0 sketches {node} per node (the HllOracle bucket/rho string
      * algebra verbatim), each step max-merges out-neighbors' registers
      * — the exact algo.HyperAnf round. MATERIALIZED: each step is
      * referenced twice (next step + its radius readoff).
      */
    def hyperAnfChain(rounds: Int): String = {
      val init = """hr0 AS MATERIALIZED (
        |  SELECT node, bucket, rho AS r FROM (
        |    SELECT node,
        |      CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
        |        + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)
        |        AS INT) AS bucket,
        |      CASE WHEN z = 8 THEN 33 ELSE z * 4 +
        |        CASE WHEN c = '1' THEN 3
        |             WHEN c IN ('2', '3') THEN 2
        |             WHEN c IN ('4', '5', '6', '7') THEN 1
        |             ELSE 0 END + 1 END AS rho
        |    FROM (
        |      SELECT node, h, z, substr(h8, z + 1, 1) AS c FROM (
        |        SELECT node, h, h8,
        |          length(regexp_extract(h8, '^(0*)', 1)) AS z
        |        FROM (SELECT node, h, substr(h, 3, 8) AS h8 FROM (
        |          SELECT START_NODE AS node,
        |            md5(CAST(START_NODE AS VARCHAR)) AS h
        |          FROM ids))))))""".stripMargin
      val steps = (1 to rounds).map { i =>
        s"""hr$i AS MATERIALIZED (SELECT node, bucket, max(r) AS r FROM (
           |  SELECT node, bucket, r FROM hr${i - 1}
           |  UNION ALL
           |  SELECT e.src AS node, h.bucket, h.r FROM hr${i - 1} h
           |  JOIN edges e ON e.dst = h.node) GROUP BY 1, 2)""".stripMargin
      }
      (init +: steps).mkString(",\n")
    }

    /** node2vec second-order walk chain nv0..nv<length>: per step,
      * candidates carry the integer (ret, adj, far) weight by CASE +
      * EXISTS(prev→cand), the windowed cumulative sum orders candidates
      * by id, and the md5 positional-hex hash mod Σw picks the unique
      * candidate whose [cum−w, cum) interval contains it — the exact
      * algo.RandomWalks.node2vecWalks contract.
      */
    def node2vecChain(numWalks: Int, length: Int, retW: Int, adjW: Int,
        farW: Int): String = {
      val walkVals = (0 until numWalks).map(w => s"($w)").mkString(", ")
      val pre = s"""nvhx(i, p) AS (SELECT * FROM (VALUES (1, 268435456),
         |  (2, 16777216), (3, 1048576), (4, 65536), (5, 4096), (6, 256),
         |  (7, 16), (8, 1)) v(i, p)),
         |nvnbr AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
         |nv0 AS MATERIALIZED (
         |  SELECT START_NODE AS start, w.walk, '' AS prev, START_NODE AS cur
         |  FROM ids CROSS JOIN (VALUES $walkVals) w(walk))""".stripMargin
      val steps = (1 to length).map { t =>
        s"""nvc$t AS MATERIALIZED (
           |  SELECT s.start, s.walk, s.prev, s.cur, n.dst AS cand,
           |    CASE WHEN n.dst = s.prev THEN $retW
           |         WHEN EXISTS (SELECT 1 FROM nvnbr e2
           |                      WHERE e2.src = s.prev AND e2.dst = n.dst)
           |           THEN $adjW
           |         ELSE $farW END AS w
           |  FROM nv${t - 1} s JOIN nvnbr n ON n.src = s.cur),
           |nvs$t AS MATERIALIZED (
           |  SELECT *, sum(w) OVER (PARTITION BY start, walk, cur, prev
           |      ORDER BY cand ROWS UNBOUNDED PRECEDING) AS cum,
           |    sum(w) OVER (PARTITION BY start, walk, cur, prev) AS tot
           |  FROM nvc$t),
           |nv$t AS MATERIALIZED (
           |  SELECT start, walk, cur AS prev, cand AS cur
           |  FROM (SELECT *, ((
           |      SELECT sum((strpos('0123456789abcdef', substr(
           |        md5(concat_ws('|', start, walk, $t, cur, prev)), x.i, 1))
           |        - 1) * x.p)
           |      FROM nvhx x) % tot) AS r FROM nvs$t)
           |  WHERE r >= cum - w AND r < cum)""".stripMargin
      }
      val levels = (s"SELECT start, walk, 0 AS step, cur AS node FROM nv0" +:
        (1 to length).map(t =>
          s"SELECT start, walk, $t AS step, cur AS node FROM nv$t"))
        .mkString("\nUNION ALL\n")
      (Seq(pre) ++ steps).mkString(",\n") + s",\nnvall AS (\n$levels)"
    }

    /** Personalized-PageRank chain pp0..pp<iters>: g11's integer chain
      * with the teleport mass returning to the single seed.
      */
    def pprChain(seed: String, iters: Int): String = {
      val deg = "ppdeg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY 1)"
      val base = "(15 * 1000000000000 // 100)"
      val p0 = s"pp0 AS MATERIALIZED (SELECT START_NODE AS node, CAST(CASE WHEN START_NODE = '$seed' THEN 1000000000000 ELSE 0 END AS BIGINT) AS r FROM ids)"
      val steps = (1 to iters).map { i =>
        s"""pp$i AS MATERIALIZED (
           |  SELECT n.START_NODE AS node,
           |    CAST((CASE WHEN n.START_NODE = '$seed' THEN $base ELSE 0 END)
           |      + (85 * coalesce(s.m, 0)) // 100 AS BIGINT) AS r
           |  FROM ids n LEFT JOIN (
           |    SELECT e.dst AS node, sum(p.r // d.deg) AS m
           |    FROM pp${i - 1} p JOIN ppdeg d ON d.src = p.node
           |      JOIN edges e ON e.src = p.node
           |    GROUP BY 1) s ON s.node = n.START_NODE)""".stripMargin
      }
      (Seq(deg, p0) ++ steps).mkString(",\n")
    }

    /** Deterministic random-walk chain wk0..wk<length> (the md5-keyed
      * next-hop contract of algo.RandomWalks): per step, the correlated
      * positional-hex-digit sum parses the first 8 md5 hex digits — the
      * minhash-oracle technique — and picks the (H mod deg)-th
      * ascending-id out-neighbor.
      */
    def walkChain(numWalks: Int, length: Int): String = {
      val walkVals = (0 until numWalks).map(w => s"($w)").mkString(", ")
      val pre = s"""whx(i, p) AS (SELECT * FROM (VALUES (1, 268435456),
         |  (2, 16777216), (3, 1048576), (4, 65536), (5, 4096), (6, 256),
         |  (7, 16), (8, 1)) v(i, p)),
         |wnbr AS MATERIALIZED (
         |  SELECT src, dst,
         |         row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
         |  FROM (SELECT DISTINCT src, dst FROM edges)),
         |wdeg AS MATERIALIZED (SELECT src, count(*) AS deg FROM wnbr GROUP BY 1),
         |wk0 AS MATERIALIZED (
         |  SELECT START_NODE AS start, w.walk, START_NODE AS cur
         |  FROM ids CROSS JOIN (VALUES $walkVals) w(walk))""".stripMargin
      val steps = (1 to length).map { t =>
        s"""wk$t AS MATERIALIZED (
           |  SELECT s.start, s.walk, n.dst AS cur
           |  FROM wk${t - 1} s
           |  JOIN wdeg d ON d.src = s.cur
           |  JOIN wnbr n ON n.src = s.cur AND n.idx = ((
           |    SELECT sum((strpos('0123456789abcdef', substr(
           |      md5(concat_ws('|', s.start, s.walk, $t, s.cur)), x.i, 1)) - 1)
           |      * x.p)
           |    FROM whx x) % d.deg))""".stripMargin
      }
      val levels = (s"SELECT start, walk, 0 AS step, start AS node FROM wk0" +:
        (1 to length).map(t =>
          s"SELECT start, walk, $t AS step, cur AS node FROM wk$t"))
        .mkString("\nUNION ALL\n")
      (Seq(pre) ++ steps).mkString(",\n") +
        s",\nwall AS (\n$levels)"
    }

    /** Embedding-training chain em0..em<epochs> over the g24 pair table
      * (assumes walkChain's `wall` CTE precedes it): the closed-form-
      * per-epoch integer recurrence of algo.EmbeddingTrain —
      * em'(v,k) = (7·em + 3·(Σ n_pairs·em_ctx div Σ n_pairs)) div 10,
      * everything nonnegative below the prime modulus so truncating
      * (Spark div) and floor (DuckDB //) division agree, md5-hex init
      * per (node, dim) via the whx positional-digit table walkChain
      * already defines.
      */
    def embedChain(window: Int, dims: Int, epochs: Int): String = {
      val m = graft.algo.EmbeddingTrain.Modulus
      val dimVals = (0 until dims).map(k => s"($k)").mkString(", ")
      val pre = s"""epairs AS MATERIALIZED (
         |  SELECT a.node AS center, b.node AS context, count(*) AS n_pairs
         |  FROM wall a JOIN wall b
         |    ON a.start = b.start AND a.walk = b.walk
         |    AND a.step <> b.step AND abs(a.step - b.step) <= $window
         |  GROUP BY 1, 2),
         |etot AS MATERIALIZED (
         |  SELECT center, sum(n_pairs) AS n_tot FROM epairs GROUP BY 1),
         |em0 AS MATERIALIZED (
         |  SELECT START_NODE AS node, d.k AS dim,
         |    CAST((SELECT sum((strpos('0123456789abcdef', substr(
         |      md5(concat_ws('|', START_NODE, d.k)), x.i, 1)) - 1) * x.p)
         |      FROM whx x) % $m AS BIGINT) AS val
         |  FROM ids CROSS JOIN (VALUES $dimVals) d(k))""".stripMargin
      val steps = (1 to epochs).map { i =>
        s"""em$i AS MATERIALIZED (
           |  SELECT e.node, e.dim,
           |    CAST(CASE WHEN t.n_tot IS NULL OR t.n_tot = 0 THEN e.val
           |      ELSE (7 * e.val + 3 * (coalesce(c.cs, 0) // t.n_tot)) // 10
           |    END AS BIGINT) AS val
           |  FROM em${i - 1} e
           |  LEFT JOIN (
           |    SELECT p.center, x.dim, sum(p.n_pairs * x.val) AS cs
           |    FROM epairs p JOIN em${i - 1} x ON x.node = p.context
           |    GROUP BY 1, 2) c ON c.center = e.node AND c.dim = e.dim
           |  LEFT JOIN etot t ON t.center = e.node)""".stripMargin
      }
      (Seq(pre) ++ steps).mkString(",\n")
    }

    /** HITS chain h0..h<iters> in ppm fixed point (the g11 integer
      * discipline): auth = (Σ in-hub · 10⁶ div total) · 10⁶ then hub =
      * (Σ out-auth · 10⁶ div total) · 10⁶ per round — every op integer,
      * every sum order-independent; the ppm-then-rescale form keeps all
      * Spark-side products inside BIGINT (DuckDB would silently promote
      * to HUGEINT and diverge from an overflowing engine otherwise).
      */
    def hitsChain(iters: Int): String = {
      val unit = s"(1000000000000 // (SELECT cnt FROM nct))"
      val h0 = s"h0 AS MATERIALIZED (SELECT START_NODE AS node, CAST($unit AS BIGINT) AS hub, CAST($unit AS BIGINT) AS auth FROM ids)"
      // degenerate-round rule mirrors Hits.run: a raw sum of 0/NULL
      // (edgeless round) KEEPS the previous vector instead of emitting
      // NULL / dividing by zero — both sides of the pinned contract
      // stay total on degenerate inputs
      val steps = (1 to iters).map { i =>
        s"""ar$i AS MATERIALIZED (
           |  SELECT e.dst AS node, sum(h.hub) AS raw
           |  FROM edges e JOIN h${i - 1} h ON h.node = e.src GROUP BY 1),
           |at$i AS MATERIALIZED (SELECT sum(raw) AS t FROM ar$i),
           |ha$i AS MATERIALIZED (
           |  SELECT n.node, n.hub,
           |    CASE WHEN (SELECT t FROM at$i) IS NULL
           |           OR (SELECT t FROM at$i) = 0 THEN n.auth
           |    ELSE CAST((coalesce(a.raw, 0) * 1000000
           |           // (SELECT t FROM at$i)) * 1000000 AS BIGINT)
           |    END AS auth
           |  FROM h${i - 1} n LEFT JOIN ar$i a USING (node)),
           |hr$i AS MATERIALIZED (
           |  SELECT e.src AS node, sum(x.auth) AS raw
           |  FROM edges e JOIN ha$i x ON x.node = e.dst GROUP BY 1),
           |ht$i AS MATERIALIZED (SELECT sum(raw) AS t FROM hr$i),
           |h$i AS MATERIALIZED (
           |  SELECT n.node,
           |    CASE WHEN (SELECT t FROM ht$i) IS NULL
           |           OR (SELECT t FROM ht$i) = 0 THEN n.hub
           |    ELSE CAST((coalesce(r.raw, 0) * 1000000
           |           // (SELECT t FROM ht$i)) * 1000000 AS BIGINT)
           |    END AS hub, n.auth
           |  FROM ha$i n LEFT JOIN hr$i r USING (node))""".stripMargin
      }
      (Seq("nct AS MATERIALIZED (SELECT count(*) AS cnt FROM ids)", h0) ++
        steps).mkString(",\n")
    }

    /** Synchronous min-tie-break label-propagation chain l0..l<rounds>:
      * each step every node adopts the most frequent neighbor label
      * (ties → minimum label, VARCHAR order), isolated nodes keep their
      * own. The FIXED round count is part of the semantics (g16's peel
      * convention), so the chain is the whole contract — no convergence
      * argument needed.
      */
    def lpaChain(rounds: Int): String = {
      val und = """lund AS MATERIALIZED (SELECT src, dst FROM edges WHERE src <> dst
                  |  UNION SELECT dst AS src, src AS dst FROM edges WHERE src <> dst)""".stripMargin
      val l0 = "l0 AS MATERIALIZED (SELECT START_NODE AS node, START_NODE AS lbl FROM ids)"
      val steps = (1 to rounds).map { i =>
        s"""lc$i AS MATERIALIZED (
           |  SELECT u.src AS node, l.lbl, count(*) AS c
           |  FROM lund u JOIN l${i - 1} l ON l.node = u.dst
           |  GROUP BY 1, 2),
           |l$i AS MATERIALIZED (
           |  SELECT p.node,
           |    coalesce(min(CASE WHEN c.c = m.mc THEN c.lbl END), p.lbl) AS lbl
           |  FROM l${i - 1} p
           |  LEFT JOIN (SELECT node, max(c) AS mc FROM lc$i GROUP BY 1) m
           |    ON m.node = p.node
           |  LEFT JOIN lc$i c ON c.node = p.node
           |  GROUP BY p.node, p.lbl)""".stripMargin
      }
      (Seq(und, l0) ++ steps).mkString(",\n")
    }

    /** Louvain chain v0..v<rounds> over (node, lbl): synchronous
      * parity-alternating modularity-gain moves with the all-integer
      * score 2m·k(i,c) − k(i)·(Σtot(c) − [i∈c]·k(i)) and min-label
      * tie-break — the algo.Louvain contract verbatim. vund holds both
      * orientations of each distinct undirected pair, so count(*) over
      * it IS 2m and a per-src count IS the degree.
      */
    def louvainChain(rounds: Int): String = {
      val oddSet = "('1','3','5','7','9','b','d','f')"
      val base = s"""vund AS MATERIALIZED (
         |  SELECT src, dst FROM edges WHERE src <> dst
         |  UNION SELECT dst AS src, src AS dst FROM edges WHERE src <> dst),
         |vdeg AS MATERIALIZED (
         |  SELECT i.START_NODE AS node, count(u.dst) AS deg
         |  FROM ids i LEFT JOIN vund u ON u.src = i.START_NODE
         |  GROUP BY 1),
         |vm AS MATERIALIZED (SELECT count(*) AS m2 FROM vund),
         |v0 AS MATERIALIZED (
         |  SELECT START_NODE AS node, START_NODE AS lbl FROM ids)""".stripMargin
      val steps = (1 to rounds).map { i =>
        val in = if (i % 2 == 1) "IN" else "NOT IN"
        s"""vs$i AS MATERIALIZED (
           |  SELECT l.lbl AS cand, sum(d.deg) AS s
           |  FROM v${i - 1} l JOIN vdeg d ON d.node = l.node GROUP BY 1),
           |vk$i AS MATERIALIZED (
           |  SELECT u.src AS node, l.lbl AS cand, count(*) AS kic
           |  FROM vund u JOIN v${i - 1} l ON l.node = u.dst GROUP BY 1, 2),
           |vc$i AS MATERIALIZED (
           |  SELECT node, own, deg, cand, max(kic) AS kic FROM (
           |    SELECT p.node, p.lbl AS own, d.deg, k.cand, k.kic
           |    FROM v${i - 1} p JOIN vdeg d ON d.node = p.node
           |    JOIN vk$i k ON k.node = p.node
           |    UNION ALL
           |    SELECT p.node, p.lbl AS own, d.deg, p.lbl AS cand,
           |      CAST(0 AS BIGINT) AS kic
           |    FROM v${i - 1} p JOIN vdeg d ON d.node = p.node)
           |  GROUP BY 1, 2, 3, 4),
           |vx$i AS MATERIALIZED (
           |  SELECT c.node, c.cand,
           |    m.m2 * c.kic - c.deg * (s.s -
           |      CASE WHEN c.cand = c.own THEN c.deg ELSE 0 END) AS sc
           |  FROM vc$i c JOIN vs$i s ON s.cand = c.cand CROSS JOIN vm m),
           |v$i AS MATERIALIZED (
           |  SELECT p.node,
           |    CASE WHEN substr(md5(p.node), 1, 1) $in $oddSet
           |      THEN coalesce(min(CASE WHEN x.sc = mx.ms THEN x.cand END),
           |                    p.lbl)
           |      ELSE p.lbl END AS lbl
           |  FROM v${i - 1} p
           |  LEFT JOIN (SELECT node, max(sc) AS ms FROM vx$i GROUP BY 1) mx
           |    ON mx.node = p.node
           |  LEFT JOIN vx$i x ON x.node = p.node
           |  GROUP BY p.node, p.lbl)""".stripMargin
      }
      (Seq(base) ++ steps).mkString(",\n")
    }

    /** louvainChain's coarsening tail (the two-level gds.louvain
      * contract): contract v<rounds> communities into weighted
      * super-nodes — lwf(c1,c2) counts und rows between communities
      * (c1=c2 rows are self-loop weight), lk(c) = Σ_c2 lwf(c,c2) so
      * Σk stays 2m — then replay the SAME synchronous move recurrence
      * with weighted w(i,c) (self-loops excluded from kic, included in
      * deg: textbook ΔQ) for y1..y<coarseRounds>. Same md5 parity,
      * same min-label tie-break, same m2.
      */
    def louvainCoarseChain(rounds: Int, coarseRounds: Int): String = {
      val oddSet = "('1','3','5','7','9','b','d','f')"
      val base = s"""${louvainChain(rounds)},
         |lwf AS MATERIALIZED (
         |  SELECT la.lbl AS c1, lb.lbl AS c2, count(*) AS w
         |  FROM vund u JOIN v$rounds la ON la.node = u.src
         |  JOIN v$rounds lb ON lb.node = u.dst GROUP BY 1, 2),
         |lk AS MATERIALIZED (
         |  SELECT c.lbl AS node, CAST(coalesce(sum(w.w), 0) AS BIGINT)
         |    AS deg
         |  FROM (SELECT DISTINCT lbl FROM v$rounds) c
         |  LEFT JOIN lwf w ON w.c1 = c.lbl
         |  GROUP BY 1),
         |y0 AS MATERIALIZED (SELECT node, node AS lbl FROM lk)""".stripMargin
      val steps = (1 to coarseRounds).map { i =>
        val in = if (i % 2 == 1) "IN" else "NOT IN"
        s"""ys$i AS MATERIALIZED (
           |  SELECT l.lbl AS cand, sum(d.deg) AS s
           |  FROM y${i - 1} l JOIN lk d ON d.node = l.node GROUP BY 1),
           |yk$i AS MATERIALIZED (
           |  SELECT w.c1 AS node, l.lbl AS cand,
           |    CAST(sum(w.w) AS BIGINT) AS kic
           |  FROM lwf w JOIN y${i - 1} l ON l.node = w.c2
           |  WHERE w.c1 <> w.c2 GROUP BY 1, 2),
           |yc$i AS MATERIALIZED (
           |  SELECT node, own, deg, cand, max(kic) AS kic FROM (
           |    SELECT p.node, p.lbl AS own, d.deg, k.cand, k.kic
           |    FROM y${i - 1} p JOIN lk d ON d.node = p.node
           |    JOIN yk$i k ON k.node = p.node
           |    UNION ALL
           |    SELECT p.node, p.lbl AS own, d.deg, p.lbl AS cand,
           |      CAST(0 AS BIGINT) AS kic
           |    FROM y${i - 1} p JOIN lk d ON d.node = p.node)
           |  GROUP BY 1, 2, 3, 4),
           |yx$i AS MATERIALIZED (
           |  SELECT c.node, c.cand,
           |    m.m2 * c.kic - c.deg * (s.s -
           |      CASE WHEN c.cand = c.own THEN c.deg ELSE 0 END) AS sc
           |  FROM yc$i c JOIN ys$i s ON s.cand = c.cand CROSS JOIN vm m),
           |y$i AS MATERIALIZED (
           |  SELECT p.node,
           |    CASE WHEN substr(md5(p.node), 1, 1) $in $oddSet
           |      THEN coalesce(min(CASE WHEN x.sc = mx.ms THEN x.cand END),
           |                    p.lbl)
           |      ELSE p.lbl END AS lbl
           |  FROM y${i - 1} p
           |  LEFT JOIN (SELECT node, max(sc) AS ms FROM yx$i GROUP BY 1) mx
           |    ON mx.node = p.node
           |  LEFT JOIN yx$i x ON x.node = p.node
           |  GROUP BY p.node, p.lbl)""".stripMargin
      }
      (Seq(base) ++ steps).mkString(",\n")
    }

    /** Full multi-level Louvain chain (gds.louvain level iteration):
      * level 1 = louvainChain(rounds), then `levels − 1` coarse levels
      * replayed UNCONDITIONALLY — the engine's early stop fires only on
      * an identity level, which contracts to the same graph and makes
      * every later level a provable no-op, so fixed-depth replay is
      * bit-equal. Each level contracts the base vund rows against the
      * COMPOSED mapping mq{j} (original node → level-j community):
      * weights are original-row counts between communities, identical
      * to iterated graph-by-graph contraction. Same md5 parity, same
      * min-label tie-break, same m2 at every level.
      */
    def louvainMultiChain(rounds: Int, coarseRounds: Int, levels: Int)
        : String = {
      val oddSet = "('1','3','5','7','9','b','d','f')"
      val base = s"""${louvainChain(rounds)},
         |mq0 AS MATERIALIZED (SELECT node, lbl FROM v$rounds)""".stripMargin
      val levelCtes = (1 to (levels - 1)).map { j =>
        val contract = s"""mwf$j AS MATERIALIZED (
           |  SELECT qa.lbl AS c1, qb.lbl AS c2, count(*) AS w
           |  FROM vund u JOIN mq${j - 1} qa ON qa.node = u.src
           |  JOIN mq${j - 1} qb ON qb.node = u.dst GROUP BY 1, 2),
           |mk$j AS MATERIALIZED (
           |  SELECT c.lbl AS node, CAST(coalesce(sum(w.w), 0) AS BIGINT)
           |    AS deg
           |  FROM (SELECT DISTINCT lbl FROM mq${j - 1}) c
           |  LEFT JOIN mwf$j w ON w.c1 = c.lbl
           |  GROUP BY 1),
           |mz${j}_0 AS MATERIALIZED (SELECT node, node AS lbl FROM mk$j)""".stripMargin
        val steps = (1 to coarseRounds).map { i =>
          val in = if (i % 2 == 1) "IN" else "NOT IN"
          s"""mzs${j}_$i AS MATERIALIZED (
             |  SELECT l.lbl AS cand, sum(d.deg) AS s
             |  FROM mz${j}_${i - 1} l JOIN mk$j d ON d.node = l.node
             |  GROUP BY 1),
             |mzk${j}_$i AS MATERIALIZED (
             |  SELECT w.c1 AS node, l.lbl AS cand,
             |    CAST(sum(w.w) AS BIGINT) AS kic
             |  FROM mwf$j w JOIN mz${j}_${i - 1} l ON l.node = w.c2
             |  WHERE w.c1 <> w.c2 GROUP BY 1, 2),
             |mzc${j}_$i AS MATERIALIZED (
             |  SELECT node, own, deg, cand, max(kic) AS kic FROM (
             |    SELECT p.node, p.lbl AS own, d.deg, k.cand, k.kic
             |    FROM mz${j}_${i - 1} p JOIN mk$j d ON d.node = p.node
             |    JOIN mzk${j}_$i k ON k.node = p.node
             |    UNION ALL
             |    SELECT p.node, p.lbl AS own, d.deg, p.lbl AS cand,
             |      CAST(0 AS BIGINT) AS kic
             |    FROM mz${j}_${i - 1} p JOIN mk$j d ON d.node = p.node)
             |  GROUP BY 1, 2, 3, 4),
             |mzx${j}_$i AS MATERIALIZED (
             |  SELECT c.node, c.cand,
             |    m.m2 * c.kic - c.deg * (s.s -
             |      CASE WHEN c.cand = c.own THEN c.deg ELSE 0 END) AS sc
             |  FROM mzc${j}_$i c JOIN mzs${j}_$i s ON s.cand = c.cand
             |  CROSS JOIN vm m),
             |mz${j}_$i AS MATERIALIZED (
             |  SELECT p.node,
             |    CASE WHEN substr(md5(p.node), 1, 1) $in $oddSet
             |      THEN coalesce(min(CASE WHEN x.sc = mx.ms THEN x.cand END),
             |                    p.lbl)
             |      ELSE p.lbl END AS lbl
             |  FROM mz${j}_${i - 1} p
             |  LEFT JOIN (SELECT node, max(sc) AS ms FROM mzx${j}_$i
             |    GROUP BY 1) mx ON mx.node = p.node
             |  LEFT JOIN mzx${j}_$i x ON x.node = p.node
             |  GROUP BY p.node, p.lbl)""".stripMargin
        }
        val compose = s"""mq$j AS MATERIALIZED (
           |  SELECT q.node, y.lbl FROM mq${j - 1} q
           |  JOIN mz${j}_$coarseRounds y ON y.node = q.lbl)""".stripMargin
        (Seq(contract) ++ steps ++ Seq(compose)).mkString(",\n")
      }
      (Seq(base) ++ levelCtes).mkString(",\n")
    }

    /** Weighted Louvain chain (gds.louvain with
      * relationshipWeightProperty): the louvainChain recurrence with
      * integer micro-unit edge weights — w = floor(cost·1000 + 0.5)
      * per min-cost directed edge, undirected pair weight = min over
      * both directions, weighted degrees, 2m = Σw. Same md5 parity,
      * same min-label tie-break.
      */
    def louvainWeightedChain(rounds: Int): String = {
      val oddSet = "('1','3','5','7','9','b','d','f')"
      val base = s"""vwe AS MATERIALIZED (
         |  SELECT src, dst, CAST(floor(cost * 1000 + 0.5) AS BIGINT) AS w
         |  FROM edges),
         |wund AS MATERIALIZED (
         |  SELECT a, b, min(w) AS w FROM (
         |    SELECT src AS a, dst AS b, w FROM vwe
         |    UNION ALL SELECT dst AS a, src AS b, w FROM vwe)
         |  WHERE a <> b GROUP BY 1, 2),
         |wdeg AS MATERIALIZED (
         |  SELECT i.START_NODE AS node,
         |    CAST(coalesce(sum(u.w), 0) AS BIGINT) AS deg
         |  FROM ids i LEFT JOIN wund u ON u.a = i.START_NODE
         |  GROUP BY 1),
         |wm AS MATERIALIZED (
         |  SELECT CAST(coalesce(sum(w), 0) AS BIGINT) AS m2 FROM wund),
         |w0 AS MATERIALIZED (
         |  SELECT START_NODE AS node, START_NODE AS lbl FROM ids)""".stripMargin
      val steps = (1 to rounds).map { i =>
        val in = if (i % 2 == 1) "IN" else "NOT IN"
        s"""wsg$i AS MATERIALIZED (
           |  SELECT l.lbl AS cand, sum(d.deg) AS s
           |  FROM w${i - 1} l JOIN wdeg d ON d.node = l.node GROUP BY 1),
           |wkk$i AS MATERIALIZED (
           |  SELECT u.a AS node, l.lbl AS cand,
           |    CAST(sum(u.w) AS BIGINT) AS kic
           |  FROM wund u JOIN w${i - 1} l ON l.node = u.b GROUP BY 1, 2),
           |wcc$i AS MATERIALIZED (
           |  SELECT node, own, deg, cand, max(kic) AS kic FROM (
           |    SELECT p.node, p.lbl AS own, d.deg, k.cand, k.kic
           |    FROM w${i - 1} p JOIN wdeg d ON d.node = p.node
           |    JOIN wkk$i k ON k.node = p.node
           |    UNION ALL
           |    SELECT p.node, p.lbl AS own, d.deg, p.lbl AS cand,
           |      CAST(0 AS BIGINT) AS kic
           |    FROM w${i - 1} p JOIN wdeg d ON d.node = p.node)
           |  GROUP BY 1, 2, 3, 4),
           |wxx$i AS MATERIALIZED (
           |  SELECT c.node, c.cand,
           |    m.m2 * c.kic - c.deg * (s.s -
           |      CASE WHEN c.cand = c.own THEN c.deg ELSE 0 END) AS sc
           |  FROM wcc$i c JOIN wsg$i s ON s.cand = c.cand CROSS JOIN wm m),
           |w$i AS MATERIALIZED (
           |  SELECT p.node,
           |    CASE WHEN substr(md5(p.node), 1, 1) $in $oddSet
           |      THEN coalesce(min(CASE WHEN x.sc = mx.ms THEN x.cand END),
           |                    p.lbl)
           |      ELSE p.lbl END AS lbl
           |  FROM w${i - 1} p
           |  LEFT JOIN (SELECT node, max(sc) AS ms FROM wxx$i GROUP BY 1) mx
           |    ON mx.node = p.node
           |  LEFT JOIN wxx$i x ON x.node = p.node
           |  GROUP BY p.node, p.lbl)""".stripMargin
      }
      (Seq(base) ++ steps).mkString(",\n")
    }

    /** Betweenness chains over the multi-source relaxation fixpoint
      * s<hops> (chainMulti): the shortest-path DAG by exact double
      * equality, then σ (exact integer path counts) and δ (micro
      * fixed-point dependencies, floor division) as full-recompute
      * chains — round k is exact for DAG depth ≤ k, and the audited max
      * depth is 89 (tools/betweenness_golden.py), so <hops>=100 rounds
      * land every engine on the same integers. Every op is integer
      * after the DAG, making sums order-independent and the whole
      * recurrence hash-oracle-able.
      */
    def betweennessChains(hops: Int): String = {
      val dag = s"""dag AS MATERIALIZED (
         |  SELECT du.source, du.node AS u, e.dst AS v
         |  FROM s$hops du JOIN edges e ON e.src = du.node
         |  JOIN s$hops dv ON dv.source = du.source AND dv.node = e.dst
         |  WHERE du.dist + e.cost = dv.dist)""".stripMargin
      val g0 = "g0 AS MATERIALIZED (SELECT id AS source, id AS node, CAST(1 AS BIGINT) AS sg FROM srcs)"
      val gsteps = (1 to hops).map { i =>
        s"""g$i AS MATERIALIZED (
           |  SELECT id AS source, id AS node, CAST(1 AS BIGINT) AS sg FROM srcs
           |  UNION ALL
           |  SELECT d.source, d.v AS node, CAST(sum(s.sg) AS BIGINT) AS sg
           |  FROM dag d JOIN g${i - 1} s ON s.source = d.source AND s.node = d.u
           |  WHERE d.v <> d.source
           |  GROUP BY 1, 2)""".stripMargin
      }
      val d0 = s"d0 AS MATERIALIZED (SELECT source, node, CAST(0 AS BIGINT) AS dl FROM s$hops)"
      val dsteps = (1 to hops).map { i =>
        s"""d$i AS MATERIALIZED (
           |  SELECT r.source, r.node,
           |         CAST(coalesce(sum((su.sg * (1000000 + dw.dl)) // sw.sg), 0) AS BIGINT) AS dl
           |  FROM s$hops r
           |  LEFT JOIN dag x ON x.source = r.source AND x.u = r.node
           |  LEFT JOIN g$hops su ON su.source = r.source AND su.node = r.node
           |  LEFT JOIN g$hops sw ON sw.source = x.source AND sw.node = x.v
           |  LEFT JOIN d${i - 1} dw ON dw.source = x.source AND dw.node = x.v
           |  GROUP BY 1, 2)""".stripMargin
      }
      (Seq(dag, g0) ++ gsteps ++ Seq(d0) ++ dsteps).mkString(",\n")
    }

    /** Exact-integer PageRank chain p0..p<iters> (micro-mass 10¹²,
      * d = 0.85): every op is integer (`//`, integer sums), so the
      * chain is bit-identical to algo.PageRank's DataFrame loop.
      */
    def pageRankChain(iters: Int): String = {
      val deg = "deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY 1)"
      val nct = "nct AS MATERIALIZED (SELECT count(*) AS cnt FROM ids)"
      val base = "(15 * (1000000000000 // (SELECT cnt FROM nct))) // 100"
      val p0 = "p0 AS MATERIALIZED (SELECT START_NODE AS node, 1000000000000 // (SELECT cnt FROM nct) AS r FROM ids)"
      val steps = (1 to iters).map { i =>
        s"""p$i AS MATERIALIZED (
           |  SELECT n.START_NODE AS node,
           |    CAST($base + (85 * coalesce(s.m, 0)) // 100 AS BIGINT) AS r
           |  FROM ids n LEFT JOIN (
           |    SELECT e.dst AS node, sum(p.r // d.deg) AS m
           |    FROM p${i - 1} p JOIN deg d ON d.src = p.node
           |      JOIN edges e ON e.src = p.node
           |    GROUP BY 1) s ON s.node = n.START_NODE)""".stripMargin
      }
      (Seq(deg, nct, p0) ++ steps).mkString(",\n")
    }

    /** 1-row convergence gate for the fixed-budget chains: raises a
      * DuckDB error() when `bad` holds, so an under-budgeted oracle
      * fails with a clear message instead of hash-mismatching on a
      * partial fixpoint (the engine side already fails loudly via
      * require — this is its oracle twin). The chain's final alias
      * CROSS JOINs the gate to force evaluation.
      */
    def convergedCte(name: String, bad: String, msg: String): String =
      s"$name AS (SELECT CASE WHEN $bad THEN error('$msg') ELSE 1 END AS ok)"

    /** Fixed-round Borůvka chain bc0..bc<rounds> (algo.Boruvka's
      * distributed recurrence): per round every component's minimum
      * out-edge in the strict total order (cost, a, b) — under which
      * the spanning forest is UNIQUE, so Spark's Kruskal/Borůvka paths
      * and this SQL replay agree by mathematics, not lockstep. The
      * chosen-edge pointer map's only cycles are mutual-choice 2-cycles
      * (severed at the smaller label); pointer-doubling closes the
      * severed forest (components at least halve per round, so round r
      * needs ≤ max(13−r, 2) doublings from slice 1's 3 705 start);
      * contraction re-mins parallel component pairs. Rounds past
      * convergence are empty no-ops.
      */
    def mstChain(rounds: Int): String = {
      val bc0 = """bc0 AS MATERIALIZED (
        |  SELECT a AS pa, b AS pb, cost, a, b FROM (
        |    SELECT least(src, dst) AS a, greatest(src, dst) AS b,
        |      min(cost) AS cost
        |    FROM edges WHERE src <> dst GROUP BY 1, 2))""".stripMargin
      val steps = (1 to rounds).map { r =>
        val dbl = math.max(13 - r, 2)
        val jumps = (1 to dbl).map { k =>
          s"""bf${r}_$k AS MATERIALIZED (
             |  SELECT x.c, coalesce(y.t, x.t) AS t
             |  FROM bf${r}_${k - 1} x
             |  LEFT JOIN bf${r}_${k - 1} y ON y.c = x.t)""".stripMargin
        }
        (Seq(
          s"""bo$r AS MATERIALIZED (
             |  SELECT pa AS c, pb AS o, cost, a, b FROM bc${r - 1}
             |  UNION ALL
             |  SELECT pb AS c, pa AS o, cost, a, b FROM bc${r - 1})""".stripMargin,
          s"""bm$r AS MATERIALIZED (
             |  SELECT c, o, cost, a, b FROM (
             |    SELECT *, row_number() OVER (PARTITION BY c
             |      ORDER BY cost, a, b) AS rn
             |    FROM bo$r) WHERE rn = 1)""".stripMargin,
          s"""bf${r}_0 AS MATERIALIZED (
             |  SELECT m.c, CASE WHEN m2.o = m.c AND m.c < m.o THEN m.c
             |    ELSE m.o END AS t
             |  FROM bm$r m LEFT JOIN bm$r m2 ON m2.c = m.o)""".stripMargin) ++
          jumps ++ Seq(
          s"""bc$r AS MATERIALIZED (
             |  SELECT pa, pb, cost, a, b FROM (
             |    SELECT pa, pb, cost, a, b,
             |      row_number() OVER (PARTITION BY pa, pb
             |        ORDER BY cost, a, b) AS rn
             |    FROM (
             |      SELECT least(coalesce(ja.t, e.pa), coalesce(jb.t, e.pb))
             |          AS pa,
             |        greatest(coalesce(ja.t, e.pa), coalesce(jb.t, e.pb))
             |          AS pb,
             |        e.cost, e.a, e.b
             |      FROM bc${r - 1} e
             |      LEFT JOIN bf${r}_$dbl ja ON ja.c = e.pa
             |      LEFT JOIN bf${r}_$dbl jb ON jb.c = e.pb)
             |    WHERE pa <> pb) WHERE rn = 1)""".stripMargin))
          .mkString(",\n")
      }
      val all = (1 to rounds)
        .map(r => s"SELECT a, b, cost FROM bm$r")
        .mkString("\n  UNION ALL\n  ")
      // loud-fail gates: every round's pointer map must have reached its
      // doubling fixpoint (no pointer still targets a non-root), and the
      // final round must hold no inter-component edge
      val jumpBad = (1 to rounds).map { r =>
        val dbl = math.max(13 - r, 2)
        s"""EXISTS (SELECT 1 FROM bf${r}_$dbl x
           |      JOIN bf${r}_$dbl y ON y.c = x.t WHERE y.t <> x.t)"""
          .stripMargin
      }
      val bad = (jumpBad :+ s"EXISTS (SELECT 1 FROM bc$rounds)")
        .mkString("\n    OR ")
      (Seq(bc0) ++ steps).mkString(",\n") +
        s",\n${convergedCte("bchk", bad,
          "mstChain budget exhausted: pointer chain or inter-component edges remain")}" +
        s",\nbmst AS (SELECT DISTINCT a, b, cost FROM (\n  $all)" +
        " CROSS JOIN bchk WHERE bchk.ok = 1)"
    }

    /** Fixed-round Luby chain (algo.IndependentSet's recurrence):
      * round-r priorities md5(r:node) — re-randomized per round but
      * engine-shared, so the whole symmetry-breaking run replays; a
      * node wins when its (priority, id) pair beats every undecided
      * neighbor's; winners + their neighborhoods leave the undecided
      * subgraph. Slice 1 finishes in 3 rounds; extra rounds are no-ops.
      */
    def misChain(rounds: Int): String = {
      val pre = Seq(
        """mue0 AS MATERIALIZED (
          |  SELECT src AS a, dst AS b FROM edges WHERE src <> dst
          |  UNION
          |  SELECT dst AS a, src AS b FROM edges WHERE src <> dst)"""
          .stripMargin,
        "mund0 AS MATERIALIZED (SELECT START_NODE AS node FROM ids)")
      val steps = (1 to rounds).map { r =>
        s"""mp$r AS MATERIALIZED (
           |  SELECT node, md5('$r:' || node) AS p FROM mund${r - 1}),
           |mlose$r AS MATERIALIZED (
           |  SELECT DISTINCT e.a AS node
           |  FROM mue${r - 1} e
           |  JOIN mp$r pa ON pa.node = e.a
           |  JOIN mp$r pb ON pb.node = e.b
           |  WHERE (pb.p, e.b) > (pa.p, e.a)),
           |mcand$r AS MATERIALIZED (
           |  SELECT node FROM mund${r - 1}
           |  WHERE node NOT IN (SELECT node FROM mlose$r)),
           |mexcl$r AS MATERIALIZED (
           |  SELECT DISTINCT e.a AS node FROM mue${r - 1} e
           |  WHERE e.b IN (SELECT node FROM mcand$r)),
           |mund$r AS MATERIALIZED (
           |  SELECT node FROM mund${r - 1}
           |  WHERE node NOT IN (SELECT node FROM mcand$r)
           |    AND node NOT IN (SELECT node FROM mexcl$r)),
           |mue$r AS MATERIALIZED (
           |  SELECT a, b FROM mue${r - 1}
           |  WHERE a IN (SELECT node FROM mund$r)
           |    AND b IN (SELECT node FROM mund$r))""".stripMargin
      }
      val all = (1 to rounds).map(r => s"SELECT node FROM mcand$r")
        .mkString("\n  UNION ALL\n  ")
      (pre ++ steps).mkString(",\n") +
        s",\n${convergedCte("mchk", s"EXISTS (SELECT 1 FROM mund$rounds)",
          "misChain budget exhausted: undecided nodes remain")}" +
        s",\nmmis AS (\n  SELECT node FROM (\n  $all)" +
        " CROSS JOIN mchk WHERE mchk.ok = 1)"
    }

    /** Fixed-round locally-maximal-matching chain (algo.Matching's
      * recurrence, MIS's edge-side twin): round-r edge priorities
      * md5(r:a:b); an edge matches when it is the (p, a, b)-maximum
      * incident edge at BOTH endpoints; matched endpoints' edges drop.
      * Slice 1 finishes in 4 rounds; extra rounds are no-ops.
      */
    def matchChain(rounds: Int): String = {
      val pre =
        """xue0 AS MATERIALIZED (
          |  SELECT least(src, dst) AS a, greatest(src, dst) AS b
          |  FROM edges WHERE src <> dst GROUP BY 1, 2)""".stripMargin
      val steps = (1 to rounds).map { r =>
        s"""xp$r AS MATERIALIZED (
           |  SELECT a, b, md5('$r:' || a || ':' || b) AS p
           |  FROM xue${r - 1}),
           |xin$r AS MATERIALIZED (
           |  SELECT a AS node, p, a AS ea, b AS eb FROM xp$r
           |  UNION ALL
           |  SELECT b AS node, p, a AS ea, b AS eb FROM xp$r),
           |xw$r AS MATERIALIZED (
           |  SELECT node, ea, eb FROM (
           |    SELECT *, row_number() OVER (PARTITION BY node
           |      ORDER BY p DESC, ea DESC, eb DESC) AS rn
           |    FROM xin$r) WHERE rn = 1),
           |xm$r AS MATERIALIZED (
           |  SELECT e.a, e.b FROM xp$r e
           |  JOIN xw$r wa ON wa.node = e.a AND wa.ea = e.a AND wa.eb = e.b
           |  JOIN xw$r wb ON wb.node = e.b AND wb.ea = e.a AND wb.eb = e.b),
           |xg$r AS MATERIALIZED (
           |  SELECT a AS node FROM xm$r UNION SELECT b AS node FROM xm$r),
           |xue$r AS MATERIALIZED (
           |  SELECT a, b FROM xue${r - 1}
           |  WHERE a NOT IN (SELECT node FROM xg$r)
           |    AND b NOT IN (SELECT node FROM xg$r))""".stripMargin
      }
      val all = (1 to rounds).map(r => s"SELECT a, b FROM xm$r")
        .mkString("\n  UNION ALL\n  ")
      (Seq(pre) ++ steps).mkString(",\n") +
        s",\n${convergedCte("xchk", s"EXISTS (SELECT 1 FROM xue$rounds)",
          "matchChain budget exhausted: unmatched edges remain")}" +
        s",\nxmatch AS (\n  SELECT a, b FROM (\n  $all)" +
        " CROSS JOIN xchk WHERE xchk.ok = 1)"
    }

    /** Fixed-round locally-DOMINANT weighted-matching chain
      * (algo.Matching.heaviest): priorities are the edge weights
      * themselves under the strict (cost, a, b) order, so the chain
      * computes THE unique greedy heaviest-first matching. Slice 1
      * finishes in 4 rounds.
      */
    def weightedMatchChain(rounds: Int): String = {
      val pre =
        """wue0 AS MATERIALIZED (
          |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
          |    max(cost) AS cost
          |  FROM edges WHERE src <> dst GROUP BY 1, 2)""".stripMargin
      val steps = (1 to rounds).map { r =>
        s"""wic$r AS MATERIALIZED (
           |  SELECT a AS node, cost, a AS ea, b AS eb FROM wue${r - 1}
           |  UNION ALL
           |  SELECT b AS node, cost, a AS ea, b AS eb FROM wue${r - 1}),
           |wwn$r AS MATERIALIZED (
           |  SELECT node, ea, eb FROM (
           |    SELECT *, row_number() OVER (PARTITION BY node
           |      ORDER BY cost DESC, ea DESC, eb DESC) AS rn
           |    FROM wic$r) WHERE rn = 1),
           |wxm$r AS MATERIALIZED (
           |  SELECT e.a, e.b, e.cost FROM wue${r - 1} e
           |  JOIN wwn$r wa ON wa.node = e.a AND wa.ea = e.a AND wa.eb = e.b
           |  JOIN wwn$r wb ON wb.node = e.b AND wb.ea = e.a AND wb.eb = e.b),
           |wxg$r AS MATERIALIZED (
           |  SELECT a AS node FROM wxm$r UNION SELECT b AS node FROM wxm$r),
           |wue$r AS MATERIALIZED (
           |  SELECT a, b, cost FROM wue${r - 1}
           |  WHERE a NOT IN (SELECT node FROM wxg$r)
           |    AND b NOT IN (SELECT node FROM wxg$r))""".stripMargin
      }
      val all = (1 to rounds).map(r => s"SELECT a, b, cost FROM wxm$r")
        .mkString("\n  UNION ALL\n  ")
      (Seq(pre) ++ steps).mkString(",\n") +
        s",\n${convergedCte("wchk", s"EXISTS (SELECT 1 FROM wue$rounds)",
          "weightedMatchChain budget exhausted: unmatched edges remain")}" +
        s",\nwmatch AS (\n  SELECT a, b, cost FROM (\n  $all)" +
        " CROSS JOIN wchk WHERE wchk.ok = 1)"
    }

    /** Fixed-layer greedy-coloring chain (algo.Coloring's recurrence):
      * layer L = the misChain recurrence over the residual graph, with
      * per-layer CTE prefixes. Slice 1 needs 7 layers (max degree 7) and
      * ≤ 3 inner rounds per layer; budgets pad to 8 / 5 — exhausted
      * layers are no-ops.
      */
    def colorChain(layers: Int, inner: Int): String = {
      val base = Seq(
        "cl1n AS MATERIALIZED (SELECT START_NODE AS node FROM ids)",
        """cl1e AS MATERIALIZED (
          |  SELECT src AS a, dst AS b FROM edges WHERE src <> dst
          |  UNION
          |  SELECT dst AS a, src AS b FROM edges WHERE src <> dst)"""
          .stripMargin)
      val layerCtes = (1 to layers).flatMap { l =>
        val rounds = (1 to inner).map { r =>
          val (u0, v0) =
            if (r == 1) (s"cl${l}n", s"cl${l}e")
            else (s"cl${l}u${r - 1}", s"cl${l}v${r - 1}")
          s"""cl${l}p$r AS MATERIALIZED (
             |  SELECT node, md5('$r:' || node) AS p FROM $u0),
             |cl${l}l$r AS MATERIALIZED (
             |  SELECT DISTINCT e.a AS node
             |  FROM $v0 e
             |  JOIN cl${l}p$r pa ON pa.node = e.a
             |  JOIN cl${l}p$r pb ON pb.node = e.b
             |  WHERE (pb.p, e.b) > (pa.p, e.a)),
             |cl${l}c$r AS MATERIALIZED (
             |  SELECT node FROM $u0
             |  WHERE node NOT IN (SELECT node FROM cl${l}l$r)),
             |cl${l}x$r AS MATERIALIZED (
             |  SELECT DISTINCT e.a AS node FROM $v0 e
             |  WHERE e.b IN (SELECT node FROM cl${l}c$r)),
             |cl${l}u$r AS MATERIALIZED (
             |  SELECT node FROM $u0
             |  WHERE node NOT IN (SELECT node FROM cl${l}c$r)
             |    AND node NOT IN (SELECT node FROM cl${l}x$r)),
             |cl${l}v$r AS MATERIALIZED (
             |  SELECT a, b FROM $v0
             |  WHERE a IN (SELECT node FROM cl${l}u$r)
             |    AND b IN (SELECT node FROM cl${l}u$r))""".stripMargin
        }
        val mis = (1 to inner).map(r => s"SELECT node FROM cl${l}c$r")
          .mkString("\n  UNION ALL\n  ")
        val nxt =
          if (l == layers) Nil
          else Seq(
            s"""cl${l + 1}n AS MATERIALIZED (
               |  SELECT node FROM cl${l}n
               |  WHERE node NOT IN (SELECT node FROM cl${l}m))""".stripMargin,
            s"""cl${l + 1}e AS MATERIALIZED (
               |  SELECT a, b FROM cl${l}e
               |  WHERE a IN (SELECT node FROM cl${l + 1}n)
               |    AND b IN (SELECT node FROM cl${l + 1}n))""".stripMargin)
        rounds ++ Seq(s"cl${l}m AS MATERIALIZED (\n  $mis)") ++ nxt
      }
      val colors = (1 to layers)
        .map(l => s"SELECT node, $l AS color FROM cl${l}m")
        .mkString("\n  UNION ALL\n  ")
      // loud-fail gates: every layer's Luby run must have decided all of
      // its nodes (an undecided residual means the layer's MIS is not
      // maximal — a SILENT divergence from the engine's converged layer,
      // not just missing rows), and no node may remain uncolored after
      // the last layer
      val bad = ((1 to layers)
        .map(l => s"EXISTS (SELECT 1 FROM cl${l}u$inner)") :+
        s"""EXISTS (SELECT 1 FROM cl${layers}n WHERE node NOT IN
           |      (SELECT node FROM cl${layers}m))""".stripMargin)
        .mkString("\n    OR ")
      (base ++ layerCtes).mkString(",\n") +
        s",\n${convergedCte("cchk", bad,
          "colorChain budget exhausted: undecided or uncolored nodes remain")}" +
        s",\nccolors AS (\n  SELECT node, color FROM (\n  $colors)" +
        " CROSS JOIN cchk WHERE cchk.ok = 1)"
    }

    /** Fixed-round k-truss peel chain (algo.Truss): per round, the g12
      * degree-oriented triangle enumeration over the SURVIVING edges,
      * support distributed to the 3 member edges, under-supported edges
      * dropped. The fixpoint is unique and order-independent (dropping
      * only lowers support), so extra rounds are no-ops. Slice 1 at
      * k = 3 peels to its fixpoint in 2 of the 4 budget rounds.
      */
    def trussChain(k: Int, rounds: Int): String = {
      val minSup = k - 2
      val te0 = """te0 AS MATERIALIZED (
        |  SELECT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM edges WHERE src <> dst GROUP BY 1, 2)""".stripMargin
      val steps = (1 to rounds).map { r =>
        s"""td$r AS MATERIALIZED (
           |  SELECT n, count(*) AS deg FROM (
           |    SELECT a AS n FROM te${r - 1}
           |    UNION ALL SELECT b AS n FROM te${r - 1}) GROUP BY 1),
           |tg$r AS MATERIALIZED (
           |  SELECT CASE WHEN da.deg < db.deg
           |        OR (da.deg = db.deg AND e.a < e.b)
           |      THEN e.a ELSE e.b END AS u,
           |    CASE WHEN da.deg < db.deg
           |        OR (da.deg = db.deg AND e.a < e.b)
           |      THEN e.b ELSE e.a END AS v
           |  FROM te${r - 1} e
           |  JOIN td$r da ON da.n = e.a JOIN td$r db ON db.n = e.b),
           |tx$r AS MATERIALIZED (
           |  SELECT o1.u AS x, o1.v AS y, o2.v AS z
           |  FROM tg$r o1 JOIN tg$r o2 ON o1.u = o2.u AND o1.v < o2.v
           |  JOIN te${r - 1} e ON e.a = least(o1.v, o2.v)
           |    AND e.b = greatest(o1.v, o2.v)),
           |ts$r AS MATERIALIZED (
           |  SELECT a, b, count(*) AS sup FROM (
           |    SELECT least(x, y) AS a, greatest(x, y) AS b FROM tx$r
           |    UNION ALL
           |    SELECT least(x, z) AS a, greatest(x, z) AS b FROM tx$r
           |    UNION ALL
           |    SELECT least(y, z) AS a, greatest(y, z) AS b FROM tx$r)
           |  GROUP BY 1, 2),
           |te$r AS MATERIALIZED (
           |  SELECT e.a, e.b FROM te${r - 1} e
           |  JOIN ts$r s ON s.a = e.a AND s.b = e.b AND s.sup >= $minSup)"""
          .stripMargin
      }
      // final alias so callers cannot select a mid-peel state when the
      // round budget changes; the gate demands a reached fixpoint (edge
      // set monotonically shrinks, so equal counts ⇒ identical sets)
      (Seq(te0) ++ steps).mkString(",\n") +
        s",\n${convergedCte("tchk",
          s"(SELECT count(*) FROM te$rounds) <> " +
            s"(SELECT count(*) FROM te${rounds - 1})",
          "trussChain budget exhausted: peel has not reached its fixpoint")}" +
        s",\nttruss AS (SELECT e.a, e.b FROM te$rounds e" +
        " CROSS JOIN tchk WHERE tchk.ok = 1)"
    }
  }

  val queries: Seq[GQ] = Seq(

    // S1-S4 + J1: ingest pipeline with the reference's dedup semantics;
    // slice 1 must yield 3 705 nodes / 9 696 edges (standalone.txt:2,
    // IMPL.md:754).
    GQ("g1_ingest_counts",
      (s, _) => {
        val pg = g(s)
        pg.nodes.agg(count(lit(1)).as("n_nodes"))
          .crossJoin(pg.edges.agg(count(lit(1)).as("n_edges")))
      },
      // slice-generic (derives counts from whatever CSV the engine read),
      // so it stays active under GRAFT_EDGELIST — unlike the slice-1
      // oracles below
      Some(s"""WITH raw AS (
              |  SELECT * FROM read_csv('${edgeListPath}', header=true,
              |    columns={'XCoord':'DOUBLE','YCoord':'DOUBLE',
              |      'START_NODE':'VARCHAR','END_NODE':'VARCHAR',
              |      'EDGE':'VARCHAR','LENGTH':'DOUBLE'})
              |  WHERE START_NODE IS NOT NULL),
              |nodes AS (SELECT DISTINCT START_NODE, XCoord, YCoord FROM raw),
              |ids AS (SELECT DISTINCT START_NODE FROM nodes),
              |edges AS (SELECT DISTINCT START_NODE, END_NODE, EDGE, LENGTH
              |  FROM raw WHERE START_NODE IN (SELECT * FROM ids)
              |  AND END_NODE IN (SELECT * FROM ids))
              |SELECT (SELECT count(*) FROM nodes) AS n_nodes,
              |       (SELECT count(*) FROM edges) AS n_edges""".stripMargin)),

    // G1: Dijkstra path stream (neo4j-code.txt:2-17 shape). Oracle:
    // relaxation fixpoint + backward optimal-path walk; running cost at
    // each path node equals its SSSP distance (prefix-optimality).
    GQ("g2_dijkstra_path",
      (s, _) => ShortestPaths.dijkstraPath(s, g(s), Src, Dst),
      sliceOracle(s"""${Oracle.singleSourcePrefix}
              |SELECT CAST((SELECT max(back) FROM w) - back AS INT) AS seq,
              |       node AS node_id, dist AS cost
              |FROM w""".stripMargin)),

    // G1 summary: count + Max (neo4j-code.txt:19-36).
    GQ("g3_dijkstra_summary",
      (s, _) => ShortestPaths.dijkstraSummary(s, g(s), Src, Dst),
      sliceOracle(s"""${Oracle.singleSourcePrefix}
              |SELECT (SELECT count(*) FROM w) AS path_node_number,
              |       (SELECT round(dist, 4) FROM fin WHERE node = '$Dst')
              |         AS total_cost""".stripMargin)),

    // G2: delta-stepping SSSP distances (neo4j-code.txt:39-54). The
    // reference slices the collected result [29920..29930); our surface
    // keeps the full distance table and exposes the slice as a top-k page
    // ordered by (distance, node_id).
    GQ("g4_sssp_distances",
      (s, _) => ShortestPaths.sssp(s, g(s), Src)
        .select(col("node_id"), round(col("distance"), 4).as("distance"))
        .orderBy(col("distance").asc, col("node_id").asc),
      sliceOracle(s"""WITH RECURSIVE ${Oracle.edgesCte},
              |${Oracle.chain(Src, Oracle.HopsSingle)}
              |SELECT node AS node_id, round(dist, 4) AS distance
              |FROM s${Oracle.HopsSingle}
              |ORDER BY distance ASC, node_id ASC""".stripMargin)),

    // G4: A* with admissible Euclidean heuristic (SURVEY §4.3 decision:
    // agrees with Dijkstra, diverging deliberately from the reference's
    // inadmissible-heuristic 54140.0 artifact) — hence the Dijkstra
    // oracle applies verbatim (unique optimum ⇒ same path, same count).
    GQ("g5_astar_summary",
      (s, _) => ShortestPaths.astarSummary(s, g(s), Src, Dst),
      sliceOracle(s"""${Oracle.singleSourcePrefix}
              |SELECT (SELECT count(*) FROM w) AS path_node_number,
              |       (SELECT round(dist, 4) FROM fin WHERE node = '$Dst')
              |         AS total_cost""".stripMargin)),

    // G5: Yen K=3 loopless shortest paths (neo4j-code.txt:127-145):
    // summary shape (path_index, path_node_number, total_cost) plus the
    // reduce-over-costs total (neo4j-code.txt:145).
    // Oracle: goldens frozen from tools/graph_golden.py's independent
    // Python Yen (same Lawler restriction, same left-fold cost
    // accumulation — bit-comparable doubles). path 0 additionally agrees
    // with the g2/g3 relaxation-CTE oracle by construction.
    GQ("g6_yen_k3",
      (s, _) => ShortestPaths.yen(s, g(s), Src, Dst, 3)
        .select(col("path_index"),
          size(col("node_ids")).as("path_node_number"),
          round(aggregate(col("costs"), lit(0.0), (acc, x) => acc + x), 4)
            .as("reduce_total"),
          col("total_cost")),
      sliceOracle("""SELECT CAST(i AS INT) AS path_index,
             |       CAST(n AS INT) AS path_node_number,
             |       CAST(r AS DOUBLE) AS reduce_total,
             |       CAST(t AS DOUBLE) AS total_cost
             |FROM (VALUES (0, 66, 282930.0439, 9221.7204),
             |             (1, 67, 292107.7675, 9223.3373),
             |             (2, 67, 292325.0819, 9224.0622)) v(i, n, r, t)""".stripMargin)),

    // G4 path-row shape (neo4j-code.txt:79-101): the A* stream YIELDs
    // one row per path node (`RETURN NodeId, cost`) rather than the g5
    // count/Max summary — the remaining literal corpus form. Same
    // admissible-heuristic contract as g5, so the Dijkstra backward-walk
    // oracle applies verbatim (unique optimum ⇒ identical rows, and the
    // running cost at each node IS its SSSP distance).
    GQ("g5b_astar_path",
      (s, _) => ShortestPaths.astarPath(s, g(s), Src, Dst),
      sliceOracle(s"""${Oracle.singleSourcePrefix}
              |SELECT CAST((SELECT max(back) FROM w) - back AS INT) AS seq,
              |       node AS node_id, dist AS cost
              |FROM w""".stripMargin)),

    // G5 path shape (neo4j-code.txt:147-165): Yen `YIELD path RETURN
    // path LIMIT 1` — the BEST of the K paths rendered as rows. Paths
    // stream in ascending total-cost order, so LIMIT 1 is path_index 0,
    // which by Yen's construction is the Dijkstra optimum: the g2
    // backward-walk oracle pins every (seq, node, running-cost) row.
    GQ("g6b_yen_best_path",
      (s, _) => ShortestPaths.yen(s, g(s), Src, Dst, 3)
        .filter(col("path_index") === 0)
        .select(posexplode(arrays_zip(col("node_ids"), col("costs"))))
        .select(col("pos").cast("int").as("seq"),
          col("col.node_ids").as("node_id"), col("col.costs").as("cost")),
      sliceOracle(s"""${Oracle.singleSourcePrefix}
              |SELECT CAST((SELECT max(back) FROM w) - back AS INT) AS seq,
              |       node AS node_id, dist AS cost
              |FROM w""".stripMargin)),

    // G3: APSP ranking query (neo4j-code.txt:56-77): finite distances,
    // self-pairs excluded, top-10 longest, id-tie-broken.
    //
    // SOURCE-SET CONTRACT (the sampling surface, explicit since r13
    // VERDICT #3): the reference call streams EVERY pair; this query BY
    // CONTRACT serves the ranked head from the canonical 200-key source
    // subset below (78 present on slice 1), because an explicit source
    // set is what scales — one multi-source relaxation, never a
    // materialized N². The source set is an API parameter
    // (ShortestPaths.apsp(sources); None = exhaustive), and the
    // exhaustive all-3705-sources surface is g49_apsp_exhaustive —
    // a user asking for "all pairs" has a first-class query, not a
    // silently restricted answer.
    GQ("g7_apsp_top10",
      (s, _) => {
        val sources = (0 until 200).map(i => (i * 17 + 1).toString)
        val pg = g(s)
        val present = pg.nodes.select("nodeId")
          .filter(col("nodeId").isin(sources: _*))
          .collect().map(_.getString(0)).toSeq
        ShortestPaths.apsp(s, pg, Some(present))
          .filter(col("source_id") =!= col("target_id"))
          .select(col("source_id"), col("target_id"),
            round(col("distance"), 4).as("distance"))
          .orderBy(col("distance").desc, col("source_id").asc,
            col("target_id").asc)
          .limit(10)
      },
      sliceOracle({
        val srcVals = (0 until 200).map(i => s"('${i * 17 + 1}')").mkString(",")
        s"""WITH ${Oracle.edgesCte},
           |srcs AS MATERIALIZED (SELECT id FROM (VALUES $srcVals) v(id)
           |  WHERE id IN (SELECT * FROM ids)),
           |${Oracle.chainMulti(Oracle.HopsMulti)}
           |SELECT source AS source_id, node AS target_id,
           |       round(dist, 4) AS distance
           |FROM s${Oracle.HopsMulti} WHERE source <> node
           |ORDER BY distance DESC, source_id ASC, target_id ASC
           |LIMIT 10""".stripMargin
      })),

    // S6 write-back shape: distances joined back onto the node table
    // (writeProperty 'sssp', neo4j-code.txt:33) — J2 id join-back.
    // Unreachable nodes carry the -1.0 sentinel rather than NULL: the
    // driver's hash compare can't equate engine NULL encodings, and a
    // sentinel keeps the writeback oracle-checkable end to end.
    GQ("g8_sssp_writeback",
      (s, _) => {
        val pg = g(s)
        val dist = ShortestPaths.sssp(s, pg, Src)
        pg.nodes.join(dist, pg.nodes("nodeId") === dist("node_id"), "left_outer")
          .select(col("nodeId").as("node_id"), col("x"), col("y"),
            coalesce(round(col("distance"), 4), lit(-1.0)).as("sssp"))
      },
      sliceOracle(s"""WITH ${Oracle.edgesCte},
              |${Oracle.chain(Src, Oracle.HopsSingle)},
              |fin AS MATERIALIZED (SELECT node, dist FROM s${Oracle.HopsSingle}),
              |nds AS (SELECT DISTINCT START_NODE, XCoord, YCoord FROM raw)
              |SELECT n.START_NODE AS node_id, n.XCoord AS x, n.YCoord AS y,
              |       coalesce(round(f.dist, 4), CAST(-1.0 AS DOUBLE)) AS sssp
              |FROM nds n LEFT JOIN fin f ON f.node = n.START_NODE""".stripMargin)),

    // §2.11 capstone: the graph surface as a SQL TABLE FUNCTION —
    // SELECT * FROM graft_shortest_path(src, dst) resolves at plan time
    // (ShortestPathTvf) to the same rows as the g2 DataFrame query, so
    // the g2 relaxation-CTE oracle applies verbatim. SQL users get the
    // path surface without touching the DataFrame API.
    GQ("g9_path_sql_tvf",
      (s, _) => {
        graft.functions.GraftFunctions.register(s)
        s.sql(s"SELECT * FROM graft_shortest_path('$Src', '$Dst')")
      },
      sliceOracle(s"""${Oracle.singleSourcePrefix}
              |SELECT CAST((SELECT max(back) FROM w) - back AS INT) AS seq,
              |       node AS node_id, dist AS cost
              |FROM w""".stripMargin)),

    // Weakly-connected components (the reference platform's gds.wcc):
    // adaptive local union-find / distributed Shiloach–Vishkin; labels
    // are lexicographic-min member ids, matching the oracle's min-label
    // relaxation chain. Slice 1 has 113 components.
    GQ("g10_wcc",
      (s, _) => {
        val pg = g(s)
        graft.algo.GraphComponents.wcc(s, pg.nodes.select("nodeId"),
            pg.projection.select("src", "dst"))
          .select(col("node").as("node_id"), col("component"))
      },
      sliceOracle(s"""WITH ${Oracle.edgesCte},
              |${Oracle.wccChain(Oracle.HopsWcc)}
              |SELECT node AS node_id, lbl AS component
              |FROM c${Oracle.HopsWcc}""".stripMargin)),

    // PageRank (the reference platform's gds.pageRank) in exact integer
    // micro-mass — the only formulation whose iterative sums are
    // order-independent and therefore hash-oracle-able (float PR can
    // never be: partial-agg order differs across engines).
    GQ("g11_pagerank",
      (s, _) => {
        val pg = g(s)
        graft.algo.PageRank.run(pg.nodes.select("nodeId"),
            pg.projection.select("src", "dst"), iters = 10)
          .select(col("node").as("node_id"), col("rank_micro"))
      },
      sliceOracle(s"""WITH ${Oracle.edgesCte},
              |${Oracle.pageRankChain(10)}
              |SELECT node AS node_id, r AS rank_micro
              |FROM p10""".stripMargin)),

    // Exact per-node triangle count (the reference platform's
    // gds.triangleCount): degree-ordered orientation bounds the wedge
    // join on any skew; each triangle found once at its min-(deg, id)
    // apex. Slice 1 holds 188 triangles (brute-force audited).
    GQ("g12_triangles",
      (s, _) => {
        val pg = g(s)
        graft.algo.Triangles.perNode(pg.nodes.select("nodeId"),
            pg.projection.select("src", "dst"))
          .select(col("node").as("node_id"), col("n_triangles"))
      },
      sliceOracle(triangleOracleSql)),

    // SQL-surface parity for RECURSION itself: the same WITH RECURSIVE
    // text runs on Spark 4's UnionLoop recursion and on DuckDB — a
    // 10-hop BFS from the canonical source (walks bounded ≈ 95k by the
    // hop limit; UNION ALL + terminal min() is the recursion shape both
    // engines implement identically). The DataFrame relaxation kernels
    // stay the scale path; this pins the SQL-recursion entry point.
    GQ("g13_bfs_recursive_sql",
      (s, _) => {
        g(s).projection.createOrReplaceTempView("graft_bfs_edges")
        s.sql(s"""
          |WITH RECURSIVE bfs(node, hops) AS (
          |  SELECT '$Src' AS node, 0 AS hops
          |  UNION ALL
          |  SELECT e.dst, b.hops + 1
          |  FROM bfs b JOIN graft_bfs_edges e ON e.src = b.node
          |  WHERE b.hops < 10)
          |SELECT node AS node_id, min(hops) AS hops
          |FROM bfs GROUP BY node""".stripMargin)
      },
      sliceOracle(s"""WITH RECURSIVE ${Oracle.edgesCte},
              |bfs(node, hops) AS (
              |  SELECT '$Src' AS node, 0 AS hops
              |  UNION ALL
              |  SELECT e.dst, b.hops + 1
              |  FROM bfs b JOIN edges e ON e.src = b.node
              |  WHERE b.hops < 10)
              |SELECT node AS node_id, min(hops) AS hops
              |FROM bfs GROUP BY node""".stripMargin)),

    // Neighbor-set Jaccard similarity (the reference platform's
    // gds.nodeSimilarity) at threshold 1/3 — integer counts only, no
    // float ratio in the contract. The Spark side runs the
    // prefix-filtered AllPairs core (lossless at the threshold); the
    // oracle is the naive common-neighbor join, equal by construction.
    GQ("g14_node_similarity",
      (s, _) => graft.algo.NodeSimilarity.jaccard(
        g(s).projection.select("src", "dst"), minJacNum = 1, minJacDen = 3),
      sliceOracle(s"""WITH ${Oracle.edgesCte},
              |nbr AS MATERIALIZED (SELECT src AS n, dst AS v FROM edges),
              |dg AS (SELECT n, count(*) AS deg FROM nbr GROUP BY 1),
              |cand AS (
              |  SELECT a.n AS node_a, b.n AS node_b, count(*) AS n_common
              |  FROM nbr a JOIN nbr b ON a.v = b.v AND a.n < b.n
              |  GROUP BY 1, 2)
              |SELECT c.node_a, c.node_b, c.n_common,
              |  da.deg + db.deg - c.n_common AS n_union
              |FROM cand c JOIN dg da ON da.n = c.node_a
              |  JOIN dg db ON db.n = c.node_b
              |WHERE c.n_common * 3 >= (da.deg + db.deg - c.n_common) * 1""".stripMargin)),

    // Closeness centrality over the canonical source set (the reference
    // platform's gds.alpha.closeness), reusing the multi-source
    // relaxation kernel and its chainMulti oracle. Per-node distance
    // sums quantize to integer micro-units BEFORE summing — the
    // distances themselves are bit-identical cross-engine (g4's
    // contract), and integer sums are order-independent, which is what
    // makes a SUM over 2k doubles hash-oracle-able at all. Output keeps
    // (n_reached, total micro-distance); closeness = (n−1)/Σ derives
    // exactly from the two integers.
    GQ("g15_closeness",
      (s, _) => {
        val sources = (0 until 200).map(i => (i * 17 + 1).toString)
        val pg = g(s)
        val present = pg.nodes.select("nodeId")
          .filter(col("nodeId").isin(sources: _*))
          .collect().map(_.getString(0)).toSeq
        ShortestPaths.apsp(s, pg, Some(present))
          .filter(col("source_id") =!= col("target_id"))
          .select(col("source_id"),
            floor(col("distance") * 1e6 + 0.5).cast("long").as("dm"))
          .groupBy("source_id")
          .agg(count(lit(1)).as("n_reached"),
            sum(col("dm")).as("total_dist_micro"))
      },
      sliceOracle({
        val srcVals = (0 until 200).map(i => s"('${i * 17 + 1}')").mkString(",")
        s"""WITH ${Oracle.edgesCte},
           |srcs AS MATERIALIZED (SELECT id FROM (VALUES $srcVals) v(id)
           |  WHERE id IN (SELECT * FROM ids)),
           |${Oracle.chainMulti(Oracle.HopsMulti)}
           |SELECT source AS source_id, count(*) AS n_reached,
           |  CAST(sum(CAST(floor(dist * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
           |    AS total_dist_micro
           |FROM s${Oracle.HopsMulti} WHERE source <> node
           |GROUP BY 1""".stripMargin
      })),

    // k-core decomposition (the reference platform's gds.kcore): peel
    // degree-<k nodes to fixpoint. Oracle is a chained peel (16 rounds
    // padded over the audited depth of 9; rounds past the fixpoint are
    // no-ops). Slice-1 2-core: 2 600 nodes.
    GQ("g16_kcore",
      (s, _) => graft.algo.KCore.core(s, g(s).projection.select("src", "dst"),
          k = 2)
        .select(col("node").as("node_id"), col("core_degree")),
      sliceOracle {
        val rounds = 16
        val peel = (1 to rounds).map { i =>
          s"""kd$i AS MATERIALIZED (SELECT n, count(*) AS dg FROM (
             |  SELECT a AS n FROM ke${i - 1} UNION ALL SELECT b AS n FROM ke${i - 1})
             |  GROUP BY 1),
             |ke$i AS MATERIALIZED (
             |  SELECT e.a, e.b FROM ke${i - 1} e
             |  JOIN kd$i da ON da.n = e.a JOIN kd$i db ON db.n = e.b
             |  WHERE da.dg >= 2 AND db.dg >= 2)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${Oracle.edgesCte},
           |ke0 AS MATERIALIZED (
           |  SELECT least(src, dst) AS a, greatest(src, dst) AS b
           |  FROM edges WHERE src <> dst GROUP BY 1, 2),
           |$peel
           |SELECT n AS node_id, CAST(count(*) AS BIGINT) AS core_degree
           |FROM (SELECT a AS n FROM ke$rounds
           |      UNION ALL SELECT b AS n FROM ke$rounds)
           |GROUP BY 1""".stripMargin
      }),

    // Strongly-connected components — the directed complement to g10's
    // WCC (the corpus is a directed road network: one-way segments make
    // the distinction real in general, though slice 1's SCCs coincide
    // with its WCCs — 113 components, audited by tools/scc_golden.py
    // against iterative Tarjan). Labels are min member ids, a canonical
    // output, so the adaptive Tarjan/FW-BW kernel and the oracle's
    // reachability closure agree without sharing any algorithm: the
    // oracle computes component(v) = min{u : v ⇝ u ∧ u ⇝ v} directly
    // from the transitive closure (7.5 s in DuckDB on slice 1).
    GQ("g17_scc",
      (s, _) => {
        val pg = g(s)
        graft.algo.StronglyConnected.scc(s, pg.nodes.select("nodeId"),
            pg.projection.select("src", "dst"))
          .select(col("node").as("node_id"), col("component"))
      },
      sliceOracle(s"""WITH RECURSIVE ${Oracle.edgesCte},
              |reach(s, d) AS (
              |  SELECT src AS s, dst AS d FROM edges WHERE src <> dst
              |  UNION
              |  SELECT r.s, e.dst AS d FROM reach r JOIN edges e ON e.src = r.d),
              |mutual AS MATERIALIZED (
              |  SELECT r1.s AS v, r1.d AS u
              |  FROM reach r1 JOIN reach r2 ON r2.s = r1.d AND r2.d = r1.s)
              |SELECT n.START_NODE AS node_id,
              |       coalesce(min(m.u), n.START_NODE) AS component
              |FROM ids n LEFT JOIN mutual m ON m.v = n.START_NODE
              |GROUP BY 1""".stripMargin)),

    // Betweenness centrality over the canonical g7/g15 source set (the
    // reference platform's gds.betweenness, sampled-source mode). Exact
    // integer σ over the shortest-path DAG + micro fixed-point δ with
    // floor division — the only Brandes formulation whose sums are
    // order-independent and therefore hash-oracle-able (float δ never
    // is). Audited against tools/betweenness_golden.py (2 318 nodes
    // carry positive bc on slice 1; top node 739).
    GQ("g18_betweenness",
      (s, _) => {
        val sources = (0 until 200).map(i => (i * 17 + 1).toString)
        val pg = g(s)
        graft.algo.Betweenness.run(s, pg.nodes.select("nodeId"),
            pg.projection.select("src", "dst", "cost"), sources)
          .select(col("node").as("node_id"), col("bc_micro"))
      },
      sliceOracle({
        val srcVals = (0 until 200).map(i => s"('${i * 17 + 1}')").mkString(",")
        s"""WITH ${Oracle.edgesCte},
           |srcs AS MATERIALIZED (SELECT id FROM (VALUES $srcVals) v(id)
           |  WHERE id IN (SELECT * FROM ids)),
           |${Oracle.chainMulti(Oracle.HopsMulti)},
           |${Oracle.betweennessChains(Oracle.HopsMulti)}
           |SELECT n.START_NODE AS node_id,
           |  CAST(coalesce(sum(CASE WHEN d.node <> d.source THEN d.dl END), 0)
           |    AS BIGINT) AS bc_micro
           |FROM ids n LEFT JOIN d${Oracle.HopsMulti} d ON d.node = n.START_NODE
           |GROUP BY 1""".stripMargin
      })),

    // Label-propagation communities (the reference platform's
    // gds.labelPropagation) — synchronous rounds, most-frequent neighbor
    // label, min tie-break, FIXED 16 rounds as the deterministic
    // contract (async random-order LPA can never be oracled). The Spark
    // superstep loop and the 16-step chained CTE compute the identical
    // label table.
    GQ("g19_labelprop",
      (s, _) => {
        val pg = g(s)
        graft.algo.LabelPropagation.run(s, pg.nodes.select("nodeId"),
            pg.projection.select("src", "dst"), rounds = 16)
          .select(col("node").as("node_id"), col("community"))
      },
      sliceOracle(s"""WITH ${Oracle.edgesCte},
              |${Oracle.lpaChain(16)}
              |SELECT node AS node_id, lbl AS community
              |FROM l16""".stripMargin)),

    // HITS hubs & authorities (the reference platform's gds.alpha.hits)
    // in ppm fixed point with L1 normalization — the only formulation
    // whose per-round sums are order-independent and whose products
    // stay inside BIGINT in both engines (L2's sqrt is irrational;
    // see algo.Hits scaladoc). Fixed 10 rounds like g11.
    GQ("g20_hits",
      (s, _) => {
        val pg = g(s)
        graft.algo.Hits.run(pg.nodes.select("nodeId"),
            pg.projection.select("src", "dst"), iters = 10)
          .select(col("node").as("node_id"), col("hub_micro"),
            col("auth_micro"))
      },
      sliceOracle(s"""WITH ${Oracle.edgesCte},
              |${Oracle.hitsChain(10)}
              |SELECT node AS node_id, hub AS hub_micro, auth AS auth_micro
              |FROM h10""".stripMargin)),

    // Deterministic random-walk corpus (the DeepWalk/node2vec sampling
    // shape: walk sequences feed a skip-gram embedding trainer like
    // token windows — a training-data-pipeline operator as much as a
    // graph one). True PRNG walks are un-oracle-able, so the contract
    // fixes the randomness: next hop = ascending-id out-neighbor at
    // index (first-8-hex-of-md5(start|walk|step|cur) mod outdeg);
    // dead ends stop early; 2 walks × 8 steps per node.
    GQ("g21_walks",
      (s, _) => {
        val pg = g(s)
        graft.algo.RandomWalks.walks(pg.nodes.select("nodeId"),
          pg.projection.select("src", "dst"), numWalks = 2, length = 8)
      },
      sliceOracle(s"""WITH ${Oracle.edgesCte},
              |${Oracle.walkChain(2, 8)}
              |SELECT start AS start_id, walk AS walk_id, step, node AS node_id
              |FROM wall""".stripMargin)),

    // Personalized PageRank from the canonical source (gds.pageRank with
    // sourceNodes): teleport mass returns to the seed only — the
    // similarity/recommendation variant, in g11's exact-integer
    // micro-mass discipline (order-independent sums, hash-oracle-able).
    GQ("g22_ppr",
      (s, _) => {
        val pg = g(s)
        graft.algo.PageRank.personalized(pg.nodes.select("nodeId"),
            pg.projection.select("src", "dst"), seed = Src, iters = 10)
          .select(col("node").as("node_id"), col("rank_micro"))
      },
      sliceOracle(s"""WITH ${Oracle.edgesCte},
              |${Oracle.pprChain(Src, 10)}
              |SELECT node AS node_id, r AS rank_micro
              |FROM pp10""".stripMargin)),

    // node2vec second-order biased walks (Grover & Leskovec) — g21's
    // corpus sampler with the (p, q) return/in-out bias, integer
    // weights (1, 4, 2) ≙ p=4, q=2 so the weighted pick is exact and
    // cross-engine: cumulative-weight interval selection under the same
    // md5 hash family. Directed adjacency convention (prev→x).
    GQ("g23_node2vec",
      (s, _) => {
        val pg = g(s)
        graft.algo.RandomWalks.node2vecWalks(pg.nodes.select("nodeId"),
          pg.projection.select("src", "dst"), numWalks = 2, length = 8)
      },
      sliceOracle(s"""WITH ${Oracle.edgesCte},
              |${Oracle.node2vecChain(2, 8, 1, 4, 2)}
              |SELECT start AS start_id, walk AS walk_id, step, node AS node_id
              |FROM nvall""".stripMargin)),

    // Skip-gram (center, context) pairs over the g21 walk corpus with
    // window 2 — walks are sentences, nodes are tokens, the window is
    // word2vec's (DeepWalk §3). Aggregated counts keep the output
    // order-independent; the oracle reruns the walk chain and the same
    // windowed self-join.
    GQ("g24_walk_pairs",
      (s, _) => {
        val pg = g(s)
        graft.algo.RandomWalks.skipGramPairs(
          graft.algo.RandomWalks.walks(pg.nodes.select("nodeId"),
            pg.projection.select("src", "dst"), numWalks = 2, length = 8),
          window = 2)
      },
      sliceOracle(s"""WITH ${Oracle.edgesCte},
              |${Oracle.walkChain(2, 8)}
              |SELECT a.node AS center, b.node AS context,
              |       count(*) AS n_pairs
              |FROM wall a JOIN wall b
              |  ON a.start = b.start AND a.walk = b.walk
              |  AND a.step <> b.step AND abs(a.step - b.step) <= 2
              |GROUP BY 1, 2""".stripMargin)),

    // Sampled eccentricity over the canonical source set (the companion
    // distance metric to g15's closeness — gds.alpha eccentricity/
    // diameter family): ecc(s) = max finite distance from s. max over
    // the bit-identical relaxation distances is order-independent, so
    // unlike a Σ no quantization is needed — round(·,4) as the
    // presentation contract like g7.
    GQ("g25_eccentricity",
      (s, _) => {
        val sources = (0 until 200).map(i => (i * 17 + 1).toString)
        val pg = g(s)
        val present = pg.nodes.select("nodeId")
          .filter(col("nodeId").isin(sources: _*))
          .collect().map(_.getString(0)).toSeq
        ShortestPaths.apsp(s, pg, Some(present))
          .filter(col("source_id") =!= col("target_id"))
          .groupBy("source_id")
          .agg(count(lit(1)).as("n_reached"),
            round(max(col("distance")), 4).as("eccentricity"))
      },
      sliceOracle({
        val srcVals = (0 until 200).map(i => s"('${i * 17 + 1}')").mkString(",")
        s"""WITH ${Oracle.edgesCte},
           |srcs AS MATERIALIZED (SELECT id FROM (VALUES $srcVals) v(id)
           |  WHERE id IN (SELECT * FROM ids)),
           |${Oracle.chainMulti(Oracle.HopsMulti)}
           |SELECT source AS source_id, count(*) AS n_reached,
           |  round(max(dist), 4) AS eccentricity
           |FROM s${Oracle.HopsMulti} WHERE source <> node
           |GROUP BY 1""".stripMargin
      })),

    // Embedding training over the g24 skip-gram pairs — the pipeline's
    // terminal stage (graph → walks → windows → vectors; GDS node2vec's
    // train surface). Float SGD is order-dependent and can never
    // hash-match, so the contract is algo.EmbeddingTrain's closed-form-
    // per-epoch integer recurrence: each epoch every center vector moves
    // 3/10 of the way toward the n_pairs-weighted integer mean of its
    // context vectors (md5-hex init, all state nonnegative below a prime
    // modulus). Co-occurring nodes converge, non-co-occurring nodes keep
    // independent positions — skip-gram geometry in exact arithmetic.
    GQ("g26_embed_train",
      (s, _) => {
        val pg = g(s)
        val pairs = graft.algo.RandomWalks.skipGramPairs(
          graft.algo.RandomWalks.walks(pg.nodes.select("nodeId"),
            pg.projection.select("src", "dst"), numWalks = 2, length = 8),
          window = 2)
        graft.algo.EmbeddingTrain.train(pg.nodes.select("nodeId"), pairs,
            dims = 4, epochs = 6)
          .select(col("node").as("node_id"), col("dim"), col("val"))
      },
      sliceOracle(s"""WITH ${Oracle.edgesCte},
              |${Oracle.walkChain(2, 8)},
              |${Oracle.embedChain(2, 4, 6)}
              |SELECT node AS node_id, dim, val
              |FROM em6""".stripMargin)),

    // Incremental batch append (EdgeListIngest.append): slice 2 merged
    // into the slice-1 graph without re-ingest — the reference's
    // growing-slice workflow (standalone.txt:1-11) in its production
    // shape. The oracle is the FROM-SCRATCH build over both slices'
    // raw rows, so the hash check IS the append≡rebuild equivalence
    // (nodes, materialized edges, and the pending backlog all match).
    // Both slice paths are fixed, so this stays oracled under
    // GRAFT_EDGELIST overrides.
    GQ("g27_append_graph",
      (s, _) => appendSummary(appendedGraph(s)),
      Some(AppendOracleSql)),

    // Louvain community detection (the reference platform's
    // production-tier gds.louvain) in the deterministic synchronous
    // contract: parity-alternating modularity-gain moves, all-integer
    // score (ΔQ × 2m²), min-label tie-break, fixed 16 rounds — see
    // algo.Louvain. The DuckDB oracle replays the identical 16-step
    // recurrence as chained CTEs, so a hash match pins every move of
    // every round, not just the final partition shape.
    GQ("g28_louvain",
      (s, _) => {
        val pg = g(s)
        graft.algo.Louvain.run(s, pg.nodes.select("nodeId"),
            pg.projection.select("src", "dst"), rounds = 16)
          .select(col("node").as("node_id"), col("community"))
      },
      sliceOracle(s"""WITH ${Oracle.edgesCte},
              |${Oracle.louvainChain(16)}
              |SELECT node AS node_id, lbl AS community
              |FROM v16""".stripMargin)),

    // Landmark (pivot) distance oracle — the precompute-then-lookup
    // answer to pairwise distance queries once per-query traversal (g2)
    // or streamed APSP (g7) stops scaling: |L| reverse + |L| forward
    // SSSP tables once, then est(u,v) = min_L d(u,L)+d(L,v) ≥ d(u,v)
    // from |L| rows per side (ALT / Potamias landmark estimation; see
    // algo.Landmarks). The oracle replays both direction chains and the
    // same min-over-landmarks join; hop bound 89 audited both ways by
    // tools/landmark_golden.py.
    GQ("g29_landmark_dist",
      (s, _) => {
        val landmarks = (0 until 40).map(i => (i * 17 + 1).toString)
        val srcSet = (0 until 40).map(i => (i * 31 + 2).toString)
        val dstSet = (0 until 40).map(i => (i * 43 + 3).toString)
        graft.algo.Landmarks.estimates(s, g(s), landmarks, srcSet, dstSet)
      },
      sliceOracle({
        val lmVals = (0 until 40).map(i => s"('${i * 17 + 1}')").mkString(",")
        val saVals = (0 until 40).map(i => s"('${i * 31 + 2}')").mkString(",")
        val sbVals = (0 until 40).map(i => s"('${i * 43 + 3}')").mkString(",")
        s"""WITH ${Oracle.edgesCte},
           |srcs AS MATERIALIZED (SELECT id FROM (VALUES $lmVals) v(id)
           |  WHERE id IN (SELECT * FROM ids)),
           |qa AS MATERIALIZED (SELECT id FROM (VALUES $saVals) v(id)),
           |qb AS MATERIALIZED (SELECT id FROM (VALUES $sbVals) v(id)),
           |${Oracle.chainMulti(Oracle.HopsMulti)},
           |${Oracle.chainMultiRev(Oracle.HopsMulti)}
           |SELECT r.node AS src_id, f.node AS dst_id, count(*) AS n_via,
           |  round(min(r.dist + f.dist), 4) AS est
           |FROM r${Oracle.HopsMulti} r
           |JOIN s${Oracle.HopsMulti} f ON f.source = r.source
           |WHERE r.node IN (SELECT * FROM qa)
           |  AND f.node IN (SELECT * FROM qb)
           |  AND r.node <> f.node
           |GROUP BY 1, 2""".stripMargin
      })),

    // Two-level (hierarchical) Louvain — g28 plus the coarsening phase
    // classic Louvain is known for, kept deterministic: one fixed
    // contraction barrier (community → weighted super-node, Σk
    // conserved at 2m), then the SAME synchronous parity move rule on
    // the weighted coarse graph for a fixed 8 rounds. The oracle
    // replays contraction and every weighted move as chained CTEs;
    // the spec pins exact integer modularity non-decrease over level 1.
    GQ("g30_louvain_multilevel",
      (s, _) => {
        val pg = g(s)
        graft.algo.Louvain.runTwoLevel(s, pg.nodes.select("nodeId"),
            pg.projection.select("src", "dst"),
            rounds = 16, coarseRounds = 8)
          .select(col("node").as("node_id"), col("community"))
      },
      sliceOracle(s"""WITH ${Oracle.edgesCte},
              |${Oracle.louvainCoarseChain(16, 8)}
              |SELECT v.node AS node_id, y.lbl AS community
              |FROM v16 v JOIN y8 y ON y.node = v.lbl""".stripMargin)),

    // Weighted Louvain — relationshipWeightProperty: 'cost' (the same
    // knob every weighted GDS call in the corpus sets,
    // neo4j-code.txt:14) applied to community detection: edge weights
    // in integer micro-units (floor(cost·1000 + 0.5)), undirected pair
    // weight = min over both directions, weighted degrees, 2m = Σw —
    // the identical synchronous parity contract through the shared
    // weighted move loop.
    GQ("g31_louvain_weighted",
      (s, _) => {
        val pg = g(s)
        val we = pg.projection.select(col("src"), col("dst"),
          floor(col("cost") * 1000 + 0.5).cast("long").as("w"))
        graft.algo.Louvain.runWeighted(s, pg.nodes.select("nodeId"), we,
            rounds = 16)
          .select(col("node").as("node_id"), col("community"))
      },
      sliceOracle(s"""WITH ${Oracle.edgesCte},
              |${Oracle.louvainWeightedChain(16)}
              |SELECT node AS node_id, lbl AS community
              |FROM w16""".stripMargin)),

    // Per-community conductance over the g28 partition — the
    // gds.conductance companion metric a platform user runs right
    // after community detection: cut and volume as exact integers,
    // φ = cut / min(vol, 2m − vol) as one IEEE division portable-
    // rounded to 6 dp. The oracle replays the full 16-round louvain
    // chain and the same cut/vol joins, so partition AND metric pin
    // in one hash.
    GQ("g32_conductance",
      (s, _) => {
        val pg = g(s)
        val labels = graft.algo.Louvain.run(s, pg.nodes.select("nodeId"),
          pg.projection.select("src", "dst"), rounds = 16)
        graft.algo.Louvain.conductance(s, pg.nodes.select("nodeId"),
          pg.projection.select("src", "dst"), labels)
      },
      sliceOracle(s"""WITH ${Oracle.edgesCte},
              |${Oracle.louvainChain(16)},
              |gcut AS MATERIALIZED (
              |  SELECT la.lbl AS community, count(*) AS cut
              |  FROM vund u JOIN v16 la ON la.node = u.src
              |  JOIN v16 lb ON lb.node = u.dst
              |  WHERE la.lbl <> lb.lbl GROUP BY 1),
              |gvol AS MATERIALIZED (
              |  SELECT l.lbl AS community, count(*) AS n_nodes,
              |    CAST(coalesce(sum(d.deg), 0) AS BIGINT) AS vol
              |  FROM v16 l JOIN vdeg d ON d.node = l.node GROUP BY 1)
              |SELECT v.community, v.n_nodes,
              |  CAST(coalesce(t.cut, 0) AS BIGINT) AS cut, v.vol,
              |  ${graft.llm.TextAnalysis.portableRoundSql(
                   """CASE WHEN least(v.vol, m.m2 - v.vol) = 0 THEN 0.0
                      |  ELSE CAST(coalesce(t.cut, 0) AS DOUBLE)
                      |    / least(v.vol, m.m2 - v.vol) END""".stripMargin,
                   6)} AS conductance
              |FROM gvol v LEFT JOIN gcut t ON t.community = v.community
              |CROSS JOIN vm m""".stripMargin)),

    // ALT: A* steered by the g29 landmark tables as triangle-inequality
    // LOWER bounds (Goldberg–Harrelson) — the reference's own "reduce
    // the search scope" improvement direction (IMPL.md:831-836) made
    // concrete. Admissible + consistent, so the result is the exact
    // Dijkstra optimum (same oracle as g3/g5) with fewer expanded
    // nodes — the pruning is pinned by spec (expansion counts), the
    // exactness by this hash.
    GQ("g33_astar_landmark",
      (s, _) => {
        val landmarks = (0 until 40).map(i => (i * 17 + 1).toString)
        ShortestPaths.astarLandmarkSummary(s, g(s), Src, Dst, landmarks)
      },
      sliceOracle(s"""${Oracle.singleSourcePrefix}
              |SELECT (SELECT count(*) FROM w) AS path_node_number,
              |       (SELECT round(dist, 4) FROM fin WHERE node = '$Dst')
              |         AS total_cost""".stripMargin)),

    // Bidirectional Dijkstra — the last "reduce the search scope"
    // direction from the reference's improvement list (IMPL.md:831-836)
    // not yet represented: forward + reversed-CSR frontiers meet in the
    // middle, exact ≡ Dijkstra (same oracle as g3/g5), roughly half the
    // settled nodes with no coordinates and no precomputation. The
    // pruning is pinned by spec (expansion counts vs blind Dijkstra and
    // ALT); exactness by this hash.
    GQ("g35_bidirectional",
      (s, _) => ShortestPaths.bidirectionalSummary(s, g(s), Src, Dst),
      sliceOracle(s"""${Oracle.singleSourcePrefix}
              |SELECT (SELECT count(*) FROM w) AS path_node_number,
              |       (SELECT round(dist, 4) FROM fin WHERE node = '$Dst')
              |         AS total_cost""".stripMargin)),

    // Bidirectional ALT — g33's landmark steering and g35's meet-in-the-
    // middle scope cut COMBINED (Goldberg–Harrelson's full form):
    // averaged potentials pf = (ht − hs)/2 keep both frontiers' reduced
    // costs nonnegative, so the plain stop rule stays sound while both
    // searches are pulled toward each other AND landmark-proved dead
    // nodes are pruned outright. Exact ≡ Dijkstra (same oracle as
    // g3/g5/g33/g35); expansions below BOTH parents pinned by spec.
    GQ("g37_bidi_alt",
      (s, _) => {
        val landmarks = (0 until 40).map(i => (i * 17 + 1).toString)
        ShortestPaths.bidiAltSummary(s, g(s), Src, Dst, landmarks)
      },
      sliceOracle(s"""${Oracle.singleSourcePrefix}
              |SELECT (SELECT count(*) FROM w) AS path_node_number,
              |       (SELECT round(dist, 4) FROM fin WHERE node = '$Dst')
              |         AS total_cost""".stripMargin)),

    // Contraction hierarchies — the ENDPOINT of the "reduce the search
    // scope" line the g33/g35/g37 family walks (IMPL.md:831-836): a
    // one-time witness-checked contraction precompute turns every
    // (src, dst) query into two tiny upward searches (46 settled nodes
    // vs blind Dijkstra's 2191 on this pair — the per-query shape that
    // stays flat as the graph grows). Correctness is order-independent
    // (any total order + witness-checked shortcuts preserves all
    // distances), so the deterministic build pins against the same
    // relaxation oracle as g3/g5/g33/g35/g37 after shortcut unpacking.
    GQ("g38_contraction",
      (s, _) => ShortestPaths.chSummary(s, g(s), Src, Dst),
      sliceOracle(s"""${Oracle.singleSourcePrefix}
              |SELECT (SELECT count(*) FROM w) AS path_node_number,
              |       (SELECT round(dist, 4) FROM fin WHERE node = '$Dst')
              |         AS total_cost""".stripMargin)),

    // Landmark tables PERSISTED and SERVED — g29's precompute-then-
    // lookup contract made durable (the production shape of the
    // reference's APSP call site, neo4j-code.txt:56-77): the |L|·|V|
    // forward/reverse tables are written ONCE to landmark-partitioned
    // parquet, then a DIFFERENT (src, dst) batch than g29's is answered
    // purely from the stored tables — two pruned scans + one landmark-
    // keyed join, no SSSP re-run (PlanSpec pins the plan; the result is
    // collected to an inert LocalRelation before the scratch dir is
    // removed). The oracle re-derives the same estimates from the
    // chained-relaxation CTEs, so storage round-trip AND serve algebra
    // pin in one hash.
    GQ("g34_landmark_serve",
      (s, _) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
        val landmarks = (0 until 40).map(i => (i * 17 + 1).toString)
        val srcSet = (0 until 40).map(i => (i * 29 + 5).toString)
        val dstSet = (0 until 40).map(i => (i * 37 + 7).toString)
        graft.core.Scratch.withScratch("graft-landmark-tables") { dir =>
          graft.algo.Landmarks.persistTables(s, g(s), landmarks, dir)
          val rows = graft.algo.Landmarks.serve(s, dir, srcSet, dstSet)
            .collect()
            .map(r => Row(r.getString(0), r.getString(1), r.getLong(2),
              r.getDouble(3)))
            .sortBy(r => (r.getString(0), r.getString(1))).toIndexedSeq
          graft.core.Scratch.localResult(s, StructType(Seq(
            StructField("src_id", StringType),
            StructField("dst_id", StringType),
            StructField("n_via", LongType),
            StructField("est", DoubleType))), rows)
        }
      },
      sliceOracle({
        val lmVals = (0 until 40).map(i => s"('${i * 17 + 1}')").mkString(",")
        val saVals = (0 until 40).map(i => s"('${i * 29 + 5}')").mkString(",")
        val sbVals = (0 until 40).map(i => s"('${i * 37 + 7}')").mkString(",")
        s"""WITH ${Oracle.edgesCte},
           |srcs AS MATERIALIZED (SELECT id FROM (VALUES $lmVals) v(id)
           |  WHERE id IN (SELECT * FROM ids)),
           |qa AS MATERIALIZED (SELECT id FROM (VALUES $saVals) v(id)),
           |qb AS MATERIALIZED (SELECT id FROM (VALUES $sbVals) v(id)),
           |${Oracle.chainMulti(Oracle.HopsMulti)},
           |${Oracle.chainMultiRev(Oracle.HopsMulti)}
           |SELECT r.node AS src_id, f.node AS dst_id, count(*) AS n_via,
           |  round(min(r.dist + f.dist), 4) AS est
           |FROM r${Oracle.HopsMulti} r
           |JOIN s${Oracle.HopsMulti} f ON f.source = r.source
           |WHERE r.node IN (SELECT * FROM qa)
           |  AND f.node IN (SELECT * FROM qb)
           |  AND r.node <> f.node
           |GROUP BY 1, 2""".stripMargin
      })),

    // FULL multi-level Louvain — g30's two-level form extended to the
    // level iteration gds.louvain actually runs: contraction + weighted
    // coarse rounds repeat (cap 4 levels, deterministic) until a level
    // moves nothing, which provably makes every later level a no-op —
    // so the oracle replays the fixed 3 coarse levels unconditionally
    // and stays bit-equal to the early-stopping engine. Each level
    // contracts the base graph against the COMPOSED node→community
    // mapping (≡ iterated contraction, since weights are original-row
    // counts all along).
    GQ("g36_louvain_full",
      (s, _) => {
        val pg = g(s)
        graft.algo.Louvain.runMultiLevel(s, pg.nodes.select("nodeId"),
            pg.projection.select("src", "dst"),
            rounds = 16, coarseRounds = 8, maxLevels = 4)
          .select(col("node").as("node_id"), col("community"))
      },
      sliceOracle(s"""WITH ${Oracle.edgesCte},
              |${Oracle.louvainMultiChain(16, 8, 4)}
              |SELECT node AS node_id, lbl AS community
              |FROM mq3""".stripMargin)),

    // Minimum spanning forest (the reference platform's
    // gds.spanningTree) — Borůvka distributed, Kruskal on the local
    // fast path, a fixed-round Borůvka CTE chain in the oracle. The
    // contract that makes an MST hash-comparable across three
    // implementations: under the strict total order (cost, a, b) the
    // forest is UNIQUE (algo.Boruvka doc), so the engines agree by
    // mathematics, not lockstep replay. 100 TB shape: O(log n) rounds
    // of component-keyed joins over a monotonically CONTRACTING edge
    // list; nothing node-scale collects on the distributed path.
    GQ("g39_mst",
      (s, _) => {
        val pg = g(s)
        graft.algo.Boruvka.mst(s, pg.projection.select("src", "dst", "cost"))
          .select(col("src").as("src_id"), col("dst").as("dst_id"),
            col("cost"))
      },
      sliceOracle(s"""WITH ${Oracle.edgesCte},
              |${Oracle.mstChain(12)}
              |SELECT a AS src_id, b AS dst_id, cost
              |FROM bmst""".stripMargin)),

    // Maximal independent set (Luby) — the symmetry-breaking primitive
    // behind conflict-free scheduling and parallel coloring. Round-r
    // priorities are md5(r:node), re-randomized per round as Luby
    // requires but engine-shared, so the whole Las-Vegas loop becomes
    // a deterministic fixed-round replay and the RESULT hash-verifies.
    // 100 TB shape: per round two node-keyed joins over the SHRINKING
    // undecided edge list — O(log n) rounds, nothing collects.
    GQ("g40_mis",
      (s, _) => {
        val pg = g(s)
        graft.algo.IndependentSet.luby(s, pg.nodes.select("nodeId"),
            pg.projection.select("src", "dst"))
          .select(col("node").as("node_id"), col("in_mis"))
      },
      sliceOracle(s"""WITH ${Oracle.edgesCte},
              |${Oracle.misChain(8)}
              |SELECT n.START_NODE AS node_id,
              |  CAST(CASE WHEN n.START_NODE IN (SELECT node FROM mmis)
              |    THEN 1 ELSE 0 END AS BIGINT) AS in_mis
              |FROM ids n""".stripMargin)),

    // Maximal matching by locally-maximal edges — MIS's edge-side twin
    // (parallel pairing: entity-resolution assignment, two-sided dedup
    // arbitration). An edge matches when its hash priority is the
    // maximum incident edge at BOTH endpoints — two per-endpoint max
    // reductions over the shrinking undecided edge list, never an
    // edge×edge adjacency join. Same replay contract as g40.
    GQ("g41_matching",
      (s, _) => {
        val pg = g(s)
        graft.algo.Matching.maximal(s, pg.projection.select("src", "dst"))
          .select(col("src").as("src_id"), col("dst").as("dst_id"))
      },
      sliceOracle(s"""WITH ${Oracle.edgesCte},
              |${Oracle.matchChain(8)}
              |SELECT a AS src_id, b AS dst_id
              |FROM xmatch""".stripMargin)),

    // Greedy coloring by iterated MIS (Jones–Plassmann) — each color
    // class is one MIS layer of the residual graph, so rows sharing a
    // color never share an edge: the conflict-free parallel-update
    // schedule, in ≤ Δ+1 layers (slice 1: 7 layers at max degree 7).
    // Layer equality with the oracle follows from g40's replay contract
    // applied per residual graph; extra budget layers/rounds are no-ops.
    GQ("g42_coloring",
      (s, _) => {
        val pg = g(s)
        graft.algo.Coloring.greedy(s, pg.nodes.select("nodeId"),
            pg.projection.select("src", "dst"))
          .select(col("node").as("node_id"), col("color"))
      },
      sliceOracle(s"""WITH ${Oracle.edgesCte},
              |${Oracle.colorChain(8, 5)}
              |SELECT node AS node_id, CAST(color AS INT) AS color
              |FROM ccolors""".stripMargin)),

    // Greedy WEIGHTED matching (Preis/Hoepman locally-dominant edges,
    // ≥ ½ of the maximum-weight matching): the unique heaviest-first
    // greedy matching under the strict (cost, a, b) order, so parallel
    // rounds, the sequential twin, and the SQL chain agree by
    // mathematics — the g39 uniqueness argument applied to matchings.
    GQ("g43_weighted_matching",
      (s, _) => {
        val pg = g(s)
        graft.algo.Matching.heaviest(s,
            pg.projection.select("src", "dst", "cost"))
          .select(col("src").as("src_id"), col("dst").as("dst_id"),
            col("cost"))
      },
      sliceOracle(s"""WITH ${Oracle.edgesCte},
              |${Oracle.weightedMatchChain(10)}
              |SELECT a AS src_id, b AS dst_id, cost
              |FROM wmatch""".stripMargin)),

    // k-truss (k = 3): the cohesive-subgraph refinement of k-core —
    // every surviving edge sits in ≥ 1 triangle after iterative peel.
    // The peel fixpoint is unique and order-independent, so the engines
    // agree however they schedule the rounds; per round the work is the
    // g12 degree-oriented triangle join over a monotonically shrinking
    // edge list.
    GQ("g44_ktruss",
      (s, _) => {
        val pg = g(s)
        graft.algo.Truss.truss(s, pg.projection.select("src", "dst"), k = 3)
          .select(col("src").as("src_id"), col("dst").as("dst_id"))
      },
      sliceOracle(s"""WITH ${Oracle.edgesCte},
              |${Oracle.trussChain(3, 4)}
              |SELECT a AS src_id, b AS dst_id
              |FROM ttruss""".stripMargin)),

    // Incremental WCC maintenance — the q62_incremental_agg idea for
    // graph state: labels computed on 90% of the edges are UPDATED with
    // the remaining 10% by contracting the delta through the existing
    // labels and running WCC on the label-granularity graph (≤ #old
    // components nodes, ≤ |delta| edges), then composing the two maps.
    // Composition is exact, not approximate: old labels are component
    // MINIMA, so the contracted run's minima are minima of the merged
    // member sets — incremental ≡ from-scratch bit for bit, which the
    // full-graph oracle (g10's fixpoint chain) pins in one hash. At
    // 100 TB this is the production shape for a growing graph: per
    // batch, work ∝ delta + one label-map join, never a full recompute.
    GQ("g45_incremental_wcc",
      (s, _) => graft.core.Checkpoints.scoped { scope =>
        val pg = g(s)
        val e = pg.projection.select("src", "dst")
        val bucket = pmod(xxhash64(col("src"), col("dst")), lit(10))
        val old = e.filter(bucket =!= 0)
        val delta = e.filter(bucket === 0)
        val base = scope.cache(graft.algo.GraphComponents.wcc(s,
          pg.nodes.select("nodeId"), old))
        val contracted = delta
          .join(base.select(col("node").as("src"),
            col("component").as("cs")), Seq("src"))
          .join(base.select(col("node").as("dst"),
            col("component").as("cd")), Seq("dst"))
          .select(col("cs").as("src"), col("cd").as("dst"))
        val labelNodes = base.select(col("component").as("nodeId"))
          .distinct()
        val merged = graft.algo.GraphComponents.wcc(s, labelNodes,
          contracted)
        base.join(merged.select(col("node").as("component"),
            col("component").as("final_component")), Seq("component"))
          .select(col("node").as("node_id"),
            col("final_component").as("component"))
      },
      sliceOracle(s"""WITH ${Oracle.edgesCte},
              |${Oracle.wccChain(Oracle.HopsWcc)}
              |SELECT node AS node_id, lbl AS component
              |FROM c${Oracle.HopsWcc}""".stripMargin)),

    // Incremental triangle maintenance, the clustering companion of
    // g45: hold 90% of the edges as the standing graph with per-node
    // counts already computed, then fold in the 10% delta by counting
    // ONLY triangles that touch a new edge — for each truly-new
    // undirected edge (a, b), the closing third corners are the common
    // neighbors of a and b in the updated graph, and a distinct on the
    // sorted triple de-multiplies triangles containing 2–3 new edges.
    // Exact by decomposition (a triangle either avoids the delta — in
    // the base counts — or touches it — enumerated from its new edges),
    // so incremental ≡ from-scratch bit for bit; the full-graph oracle
    // (g12's SQL, shared) pins it in one hash. At 100 TB this is the
    // production shape for clustering metrics on a growing graph: per
    // batch, candidate volume ∝ Σ_(new edge) |N(a) ∩ N(b)| — delta-
    // proportional, never a recount of the standing graph.
    GQ("g46_incremental_triangles",
      (s, _) => graft.core.Checkpoints.scoped { scope =>
        val pg = g(s)
        val e = pg.projection.select("src", "dst")
        val bucket = pmod(xxhash64(col("src"), col("dst")), lit(10))
        def und(df: org.apache.spark.sql.DataFrame) =
          df.filter(col("src") =!= col("dst"))
            .select(least(col("src"), col("dst")).as("a"),
              greatest(col("src"), col("dst")).as("b")).distinct()
        val undOld = scope.cache(und(e.filter(bucket =!= 0)))
        // delta edges whose canonical form is genuinely absent from the
        // standing graph (the multigraph can carry both orientations in
        // different buckets — those are not new undirected edges)
        val undNew = scope.cache(und(e.filter(bucket === 0))
          .join(undOld, Seq("a", "b"), "left_anti"))
        graft.algo.Triangles.incrementalPerNode(
            pg.nodes.select("nodeId"), undOld, undNew)
          .select(col("node").as("node_id"), col("n_triangles"))
      },
      sliceOracle(triangleOracleSql)),

    // Directed small-motif census (Milo et al. 2002 taxonomy): 2-path
    // centers by pure degree arithmetic (in·out − mutual — the count
    // that would enumerate quadratically under skew is closed-form),
    // feed-forward loops and directed 3-cycles by a shared 2-path equi
    // join + closure join. Complements g12's undirected triangles with
    // the DIRECTED pattern structure of the multigraph.
    GQ("g47_motifs",
      (s, _) => {
        val pg = g(s)
        graft.algo.Motifs.counts(pg.nodes.select("nodeId"),
            pg.projection.select("src", "dst"))
          .select(col("node").as("node_id"), col("n_path2"),
            col("n_ffl"), col("n_cyc3"))
      },
      sliceOracle(s"""WITH ${Oracle.edgesCte},
              |de AS MATERIALIZED (
              |  SELECT src, dst FROM edges WHERE src <> dst),
              |outd AS (SELECT src AS n, count(*) AS od FROM de GROUP BY 1),
              |ind AS (SELECT dst AS n, count(*) AS indeg FROM de GROUP BY 1),
              |mu AS (
              |  SELECT x.dst AS n, count(*) AS m
              |  FROM de x JOIN de y ON y.src = x.dst AND y.dst = x.src
              |  GROUP BY 1),
              |mp2 AS MATERIALIZED (
              |  SELECT ab.src AS a, bc.dst AS c
              |  FROM de ab JOIN de bc
              |    ON bc.src = ab.dst AND bc.dst <> ab.src),
              |ffl AS (
              |  SELECT p.a AS n, count(*) AS f
              |  FROM mp2 p JOIN de ac ON ac.src = p.a AND ac.dst = p.c
              |  GROUP BY 1),
              |cyc AS (
              |  SELECT p.a AS n, count(*) AS cy
              |  FROM mp2 p JOIN de ca ON ca.src = p.c AND ca.dst = p.a
              |  GROUP BY 1)
              |SELECT i.START_NODE AS node_id,
              |  coalesce(o.od, 0) * coalesce(d.indeg, 0)
              |    - coalesce(m.m, 0) AS n_path2,
              |  coalesce(f.f, 0) AS n_ffl,
              |  coalesce(cy.cy, 0) AS n_cyc3
              |FROM ids i
              |LEFT JOIN outd o ON o.n = i.START_NODE
              |LEFT JOIN ind d ON d.n = i.START_NODE
              |LEFT JOIN mu m ON m.n = i.START_NODE
              |LEFT JOIN ffl f ON f.n = i.START_NODE
              |LEFT JOIN cyc cy ON cy.n = i.START_NODE""".stripMargin)),

    // HyperANF (Boldi–Rosa–Vigna 2011): the neighborhood function
    // N(r) = Σ_v |ball(v, r)| for r = 0..6 plus the effective-diameter
    // flag (·10 ≥ 9·max — pure integer, no 0.9 float compare), from one
    // 256-register HLL per node advanced by register-max merges along
    // out-edges (algo.HyperAnf) — the natural next GDS-family member on
    // top of the q57 register machinery. Two readoffs per radius:
    // nf_est (raw-estimator hash contract) and nf_occ (exact occupied-
    // register sum — the linear-counting numerator, the meaningful
    // signal at slice-1 ball sizes; reached90 reads off IT). Per-node
    // estimates floor to BIGINT before the corpus sum, so even the
    // APPROXIMATE function hash-verifies against the SQL replay of the
    // same register algebra, radius by radius. 100 TB shape: one
    // edge-keyed join + one (node, bucket) max agg per round, state
    // bounded at n·256 rows by construction — where exact BFS balls
    // carry Σ|ball| = n² rows on any well-connected graph.
    GQ("g48_hyperanf",
      (s, _) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{LongType, StructField, StructType}
        val pg = g(s)
        val nf = graft.algo.HyperAnf.neighborhoodFunction(s,
          pg.nodes.select("nodeId"), pg.projection.select("src", "dst"),
          rounds = HyperAnfRounds)
        val occMax = nf.last._3
        val rows = nf.map { case (r, est, occ) =>
          Row(r.toLong, est, occ, if (occ * 10 >= occMax * 9) 1L else 0L)
        }
        graft.core.Scratch.localResult(s, StructType(Seq(
          StructField("radius", LongType),
          StructField("nf_est", LongType),
          StructField("nf_occ", LongType),
          StructField("reached90", LongType))), rows)
      },
      sliceOracle {
        val r = HyperAnfRounds
        val perRadius = (0 to r).map { k =>
          s"""hnf$k AS (SELECT CAST($k AS BIGINT) AS radius,
             |  CAST(sum(n_est) AS BIGINT) AS nf_est,
             |  (SELECT CAST(count(*) AS BIGINT) FROM hr$k) AS nf_occ FROM (
             |  SELECT node, ${Relational.HllOracle.estExprSql} AS n_est
             |  FROM hr$k GROUP BY node))""".stripMargin
        }.mkString(",\n")
        val unions = (0 to r).map(k => s"SELECT * FROM hnf$k")
          .mkString("\n  UNION ALL ")
        s"""WITH ${Oracle.edgesCte},
           |${Oracle.hyperAnfChain(r)},
           |$perRadius,
           |hnfall AS ($unions)
           |SELECT radius, nf_est, nf_occ,
           |  CAST(CASE WHEN nf_occ * 10 >= (SELECT nf_occ FROM hnf$r) * 9
           |    THEN 1 ELSE 0 END AS BIGINT) AS reached90
           |FROM hnfall""".stripMargin
      }),

    // Exhaustive all-sources APSP surface — the reference's
    // gds.alpha.allShortestPaths.stream (neo4j-code.txt:56-77) streams
    // EVERY pair, where g7 serves its ranked head from the canonical
    // 200-source subset (the documented sampling contract, SURVEY §2.9
    // G3). This query runs the kernel over ALL 3705 sources
    // (ShortestPaths.apsp(sources = None): broadcast CSR, one task per
    // source batch — the per-source Dijkstras are embarrassingly
    // parallel) and hash-pins the exhaustive per-source REACHABILITY
    // structure against a DuckDB recursive closure. The weighted
    // fixpoint over all sources is deliberately NOT SQL-oracled: the
    // 100-step 3705-source relaxation chain measures >600 s in DuckDB —
    // unusable as a per-round gate — so distances stay pinned by g7's
    // oracled subset (the same kernel) plus the cross-kernel exhaustive
    // spec (GraphAlgoSpec: distributed multi-source over ALL sources ≡
    // per-source Dijkstra, every pair).
    GQ("g49_apsp_exhaustive",
      (s, _) => {
        val pg = g(s)
        ShortestPaths.apsp(s, pg, None)
          .groupBy(col("source_id"))
          .agg((count(lit(1)) - 1).as("n_reachable"))
      },
      sliceOracle(s"""WITH RECURSIVE ${Oracle.edgesCte},
              |reach(source, node) AS (
              |  SELECT START_NODE AS source, START_NODE AS node FROM ids
              |  UNION
              |  SELECT r.source, e.dst AS node FROM reach r
              |  JOIN edges e ON e.src = r.node)
              |SELECT source AS source_id,
              |  CAST(count(*) - 1 AS BIGINT) AS n_reachable
              |FROM reach GROUP BY 1""".stripMargin)),

    // Whole-graph statistical profile (the graph-side q69_data_profile:
    // gds.graph.list-style metadata plus the topology statistics every
    // GDS tutorial derives first) — one row of exact-integer sufficient
    // statistics with the two standard derived ratios:
    //  - global clustering coefficient 3·triangles/wedges, and the
    //    per-node local-CC sum in exact micro-units (floor-divided per
    //    node, so the SUM is an integer both engines agree on — a float
    //    mean would be partial-agg-order-dependent and never hash);
    //  - degree assortativity (Newman 2002) from integer moments over
    //    both orientations of each undirected edge: r = num/den with
    //    num = m·Σxy − (Σx)², den = m·Σx² − (Σx)² — num/den emitted as
    //    exact BIGINTs, the ratio as one correctly-rounded double both
    //    engines compute from identical integers.
    // Scale shape: two degree aggregations, one triangle count (Schank
    // orientation — the g12 kernel), one deg⋈deg edge join; no window,
    // no driver loop, nothing beyond the shuffles the statistics name.
    GQ("g50_graph_profile",
      (s, _) => {
        val pg = g(s)
        graft.algo.GraphProfile.stats(pg.nodes.select("nodeId"),
          pg.projection.select("src", "dst"))
      },
      sliceOracle(s"""WITH ${Oracle.edgesCte},
              |$triangleCtes,
              |gp_cnt AS (SELECT
              |  (SELECT CAST(count(*) AS BIGINT) FROM ids) AS n_nodes,
              |  (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
              |  (SELECT CAST(count(*) AS BIGINT) FROM tund) AS n_und),
              |gp_deg AS (SELECT CAST(max(deg) AS BIGINT) AS max_deg,
              |  CAST(sum(deg * (deg - 1)) AS BIGINT) // 2 AS wedges
              |  FROM tdeg),
              |gp_tri AS (SELECT CAST(count(*) AS BIGINT) AS n_tri
              |  FROM ttri),
              |gp_lcc AS (SELECT CAST(sum(CASE WHEN d.deg >= 2
              |    THEN (2000000 * coalesce(c.n_triangles, 0))
              |      // (d.deg * (d.deg - 1))
              |    ELSE 0 END) AS BIGINT) AS lcc_micro_sum
              |  FROM tdeg d LEFT JOIN tcr c ON c.node = d.n),
              |gp_ast AS (SELECT
              |    CAST(sum(da.deg + db.deg) AS BIGINT) AS sx,
              |    CAST(sum(2 * da.deg * db.deg) AS BIGINT) AS sxy,
              |    CAST(sum(da.deg * da.deg + db.deg * db.deg) AS BIGINT)
              |      AS sx2
              |  FROM tund u JOIN tdeg da ON da.n = u.a
              |    JOIN tdeg db ON db.n = u.b)
              |SELECT n_nodes, n_edges, n_und, max_deg, wedges,
              |  n_tri AS n_triangles, lcc_micro_sum,
              |  CAST(2 * n_und * sxy - sx * sx AS BIGINT) AS assort_num,
              |  CAST(2 * n_und * sx2 - sx * sx AS BIGINT) AS assort_den,
              |  round(CAST(3 * n_tri AS DOUBLE) / CAST(wedges AS DOUBLE),
              |    6) AS global_cc,
              |  round(CAST(2 * n_und * sxy - sx * sx AS DOUBLE)
              |    / CAST(2 * n_und * sx2 - sx * sx AS DOUBLE), 6)
              |    AS assortativity
              |FROM gp_cnt, gp_deg, gp_tri, gp_lcc, gp_ast""".stripMargin)),

    // Weighted exhaustive APSP on a canonical induced subgraph — the
    // DISTANCE complement to g49's full-graph reachability pin. g49
    // deliberately pins reachability only (a 3,705-source weighted
    // DuckDB fixpoint exceeds 600 s — unusable as a per-round gate);
    // this query pins the weighted all-pairs distances themselves at a
    // scale the oracle can afford: the 300 lexicographically smallest
    // node ids, their induced min-cost edge set, every reachable pair.
    // The chain is padded to 299 steps = |S| − 1, so the fixpoint is
    // unconditional (no hop-bound audit); both engines fold path costs
    // left-to-right in IEEE doubles, so distances are bit-identical
    // before the display rounding (the g4 argument verbatim).
    // Spark shape: two broadcast semi-joins prune the projection, then
    // the g49 kernel (broadcast CSR, one task per source batch).
    GQ("g51_apsp_weighted_sub",
      (s, _) => {
        val pg = g(s)
        val sub = pg.nodes.orderBy(col("nodeId")).limit(ApspSubN)
        val subEdges = pg.projection
          .join(broadcast(sub.select(col("nodeId").as("src"))),
            Seq("src"), "left_semi")
          .join(broadcast(sub.select(col("nodeId").as("dst"))),
            Seq("dst"), "left_semi")
          .select("src", "dst", "cost")
        // nodes with NO induced edge still own a (v, v, 0.0) pair in
        // all-pairs semantics; the CSR index only interns projection
        // endpoints, so those self rows are united in explicitly (the
        // kernel's own (s, s, 0.0) rows dedupe via distinct)
        ShortestPaths.apsp(s, graft.graph.PropertyGraph(sub, subEdges),
            None)
          .unionByName(sub.select(col("nodeId").as("source_id"),
            col("nodeId").as("target_id"), lit(0.0).as("distance")))
          .distinct()
          .select(col("source_id"), col("target_id"),
            round(col("distance"), 4).as("distance"))
      },
      sliceOracle(s"""WITH ${Oracle.edgesCte},
              |sub AS MATERIALIZED (
              |  SELECT START_NODE AS id FROM ids
              |  ORDER BY START_NODE LIMIT $ApspSubN),
              |srcs AS MATERIALIZED (SELECT id FROM sub),
              |subedges AS MATERIALIZED (
              |  SELECT e.src, e.dst, e.cost FROM edges e
              |  JOIN sub a ON a.id = e.src JOIN sub b ON b.id = e.dst),
              |${Oracle.chainMulti(ApspSubHops, edgeTable = "subedges")}
              |SELECT source AS source_id, node AS target_id,
              |  round(dist, 4) AS distance
              |FROM s$ApspSubHops""".stripMargin))
  )
}
