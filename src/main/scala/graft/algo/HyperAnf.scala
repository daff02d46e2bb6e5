package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints
import graft.operators.HyperLogLog

/** HyperANF (Boldi–Rosa–Vigna, WWW 2011): the neighborhood function
  * N(r) = Σ_v |ball(v, r)| — and its readoff, the effective diameter —
  * estimated with one 256-register HLL sketch per node, advanced by
  * register-max merges along out-edges:
  *
  * {{{
  * regs₀(v)   = sketch({v})
  * regs_k(v)  = max-merge(regs_{k-1}(v), regs_{k-1}(w) for (v, w) ∈ E)
  * }}}
  *
  * so after k rounds regs_k(v) sketches exactly ball(v, k) (register max
  * is the set-union homomorphism — HyperLogLog's whole point).
  *
  * Scale shape: each round is ONE edge-keyed shuffle join + one
  * (node, bucket) max aggregation with map-side partial max; state is
  * bounded at n·m register rows BY CONSTRUCTION (m = 256), per round,
  * whatever the ball sizes — the exact-BFS alternative carries
  * Σ|ball(v, k)| rows, which is n² on any well-connected graph. Rounds
  * localCheckpoint with the previous incarnation released (the
  * DistributedSSSP discipline). No local fast path exists because none
  * is needed: the kernel is pure DataFrame algebra end to end.
  *
  * Hash-oracle discipline (operators.HyperLogLog doc): the per-node
  * ball estimate floors to BIGINT before the corpus sum — each per-node
  * harmonic sum is dyadic-exact (order-independent in IEEE double), the
  * division by the α·m² literal is one correctly-rounded op, and the
  * final Σ is integer arithmetic — so even the APPROXIMATE neighborhood
  * function hash-verifies against the g48 SQL replay, radius by radius.
  */
object HyperAnf {

  /** One register-advance round. */
  private def advance(e: DataFrame, regs: DataFrame): DataFrame =
    regs.unionByName(
        e.join(regs, e("dst") === regs("node"))
          .select(e("src").as("node"), col("bucket"), col("r")))
      .groupBy("node", "bucket").agg(max(col("r")).as("r"))

  /** Initial per-node single-key register frame (node, bucket, r). */
  private def init(nodes: DataFrame): DataFrame = {
    val (bucket, rho) = HyperLogLog.bucketAndRho(col("node").cast("string"))
    nodes.select(col(nodes.columns(0)).as("node"))
      .select(col("node"), bucket.as("bucket"), rho.as("r"))
  }

  /** N(r) for r = 0..rounds as (radius, nf_est, nf_occ):
    *
    *  - nf_est — the sum of per-node floored RAW ball estimates. The raw
    *    estimator's published-accuracy regime starts at ~2.5·m distinct
    *    per node; below it (small balls) it is biased-but-deterministic,
    *    so it hash-verifies either way (the q57 discipline).
    *  - nf_occ — the total OCCUPIED-register count Σ_v |regs(v)|, i.e.
    *    the linear-counting numerator: exact integer in both engines,
    *    and in the small-ball regime (V ≪ m ⇒ m·ln(m/(m−V)) ≈ V) it IS
    *    the meaningful ball-volume signal — read radius trends and the
    *    effective-diameter flag off THIS column.
    */
  def neighborhoodFunction(spark: SparkSession, nodes: DataFrame,
      edges: DataFrame, rounds: Int): Seq[(Int, Long, Long)] =
      Checkpoints.scoped { s =>
    val e = edges.select(col(edges.columns(0)).as("src"),
      col(edges.columns(1)).as("dst"))
    // BATCHED readoff actions (r16 batched ALL radii into one action;
    // r17 bounds the cost of that): each radius' estimate is a 1-row
    // aggregate over that round's (already materialized) register
    // checkpoint, so the readoffs have no sequential dependency — only
    // the advances do. Collecting them as unions lets the scheduler
    // overlap the aggregation trees instead of paying a full action
    // round-trip per radius (r16 measured 41 → 35 jobs). But a single
    // union over ALL rounds retains rounds+1 register checkpoints
    // (n·m rows EACH) until the final collect — at 100 TB-scale n that
    // is rounds× the kernel's peak state (r16 verdict item 5). Flush in
    // groups of `ReadoffGroup` instead: peak retention is bounded at
    // ReadoffGroup register tables regardless of the round count, for
    // at most ceil((rounds+1)/group) readoff actions.
    val ReadoffGroup = 3
    def nfDf(i: Int, r: DataFrame): DataFrame =
      HyperLogLog.estimateOccBy(r, Seq("node"))
        .agg(sum(col("n_est")).as("nf_est"), sum(col("n_occ")).as("nf_occ"))
        .select(lit(i).as("radius"), col("nf_est"), col("nf_occ"))
    var regs = s.checkpoint(init(nodes))
    val legs = scala.collection.mutable.ArrayBuffer(nfDf(0, regs))
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    def flush(): Unit = {
      rows ++= legs.reduce(_ unionByName _).collect()
      legs.clear()
      // the LAST round's registers stay live (the next advance reads
      // them); everything older is done
      s.keep(regs)
    }
    for (i <- 1 to rounds) {
      if (legs.size >= ReadoffGroup) flush()
      regs = s.checkpoint(advance(e, regs))
      legs += nfDf(i, regs)
    }
    flush()
    rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
  }
}
