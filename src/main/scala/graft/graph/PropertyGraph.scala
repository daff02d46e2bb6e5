package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A weighted directed property multigraph held as two DataFrames —
  * the Spark-native equivalent of the reference's GDS in-memory projection
  * (reference: neo4j-code.txt:4-11 nodeProjection/relationshipProjection).
  *
  * `nodes`: (nodeId: String, x: Double, y: Double)
  * `edges`: (src: String, dst: String, roadId: String, cost: Double)
  */
final case class PropertyGraph(nodes: DataFrame, edges: DataFrame,
    underlying: Seq[DataFrame] = Nil,
    pending: Option[DataFrame] = None) {

  /** The algorithm projection: parallel edges pre-aggregated to min cost
    * per (src, dst) — sound for every shortest-path semantic and the
    * direct analogue of projecting into GDS memory (SURVEY §2.1 S5).
    * Cached because every algorithm superstep re-reads it; it keeps the
    * layout of `edges` (one partition for a small graph, see
    * EdgeListIngest.build), larger ones are sized by AQE.
    */
  lazy val projection: DataFrame =
    edges.groupBy("src", "dst").agg(min("cost").as("cost")).cache()

  def cache(): this.type = { nodes.cache(); edges.cache(); this }

  /** Releases the graph caches AND any upstream cached frames the
    * builder registered (e.g. the raw CSV scan) — without the latter,
    * loops like SliceSweep would accumulate unreachable cached scans.
    */
  def unpersistAll(): Unit = {
    nodes.unpersist(); edges.unpersist(); projection.unpersist()
    pending.foreach(_.unpersist())
    // underlying may hold cache()d frames (the raw CSV scan, appendRaw's
    // candidate table) or localCheckpoint'ed ones. Dataset.unpersist
    // handles the former; for the latter it is a silent no-op, so ALSO
    // reach through to the RDD — but only when the frame's root ITSELF
    // is the checkpoint scan. A blanket Checkpoints.release here walked
    // EVERY LogicalRDD leaf in the plan, which for a cached frame whose
    // plan embeds a checkpointed parent graph would destroy the parent's
    // still-live checkpoints while never releasing the cache (r16
    // advice).
    underlying.foreach { df =>
      df.unpersist()
      df.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false)
        case _ => ()
      }
    }
  }
}
