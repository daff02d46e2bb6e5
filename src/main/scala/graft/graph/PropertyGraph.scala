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
  lazy val projection: DataFrame = {
    projectionBuilt = true
    edges.groupBy("src", "dst").agg(min("cost").as("cost")).cache()
  }

  // freeing a graph must not build and cache the projection to uncache it
  @volatile private var projectionBuilt = false

  def cache(): this.type = { nodes.cache(); edges.cache(); this }

  /** This generation materialized as ONE eager tagged-union checkpoint.
    * Nodes, edges and pending hang off the same candidate/backlog
    * subtrees, so one action lets the scheduler reuse the shared
    * exchanges within a single plan and pays one checkpoint job instead
    * of three (the streaming maintainer ran 50 jobs for 2 batches with
    * three). The returned frames are narrow tag-filters over the
    * checkpoint, which is the returned graph's only `underlying` entry,
    * so `unpersistAll()` frees it. The frames this graph reads stay the
    * caller's to free.
    */
  def checkpoint(): PropertyGraph = {
    val nullS = lit(null).cast("string")
    val nullD = lit(null).cast("double")
    def edgeRows(tag: Int, df: DataFrame): DataFrame = df.select(
      lit(tag).as("tag"), nullS.as("nodeId"), nullD.as("x"), nullD.as("y"),
      col("src"), col("dst"), col("roadId"), col("cost"))
    val nodeRows = nodes.select(lit(0).as("tag"), col("nodeId"), col("x"),
      col("y"), nullS.as("src"), nullS.as("dst"), nullS.as("roadId"),
      nullD.as("cost"))
    val tagged = (Seq(nodeRows, edgeRows(1, edges)) ++
        pending.map(edgeRows(2, _)))
      .reduce(_ unionByName _)
      .localCheckpoint(true)
    def rows(tag: Int, cols: String*): DataFrame =
      tagged.filter(col("tag") === tag).select(cols.map(col): _*)
    val edgeCols = Seq("src", "dst", "roadId", "cost")
    PropertyGraph(rows(0, "nodeId", "x", "y"), rows(1, edgeCols: _*),
      underlying = Seq(tagged),
      pending = pending.map(_ => rows(2, edgeCols: _*)))
  }

  /** Frees this generation: the graph caches, the projection if it was
    * built, and every
    * frame the builder registered in `underlying` (the raw CSV scan,
    * append's candidate table, a checkpoint's tagged union) — without
    * the latter, loops like SliceSweep would accumulate unreachable
    * cached scans. Dataset.unpersist handles cached frames; for a
    * checkpoint it is a silent no-op, so ALSO reach through to the RDD —
    * but only when the frame's root ITSELF is the checkpoint scan. A
    * blanket Checkpoints.release here walked EVERY LogicalRDD leaf in
    * the plan, which for a cached frame whose plan embeds a checkpointed
    * parent graph would destroy the parent's still-live checkpoints
    * while never releasing the cache (r16 advice).
    */
  def unpersistAll(): Unit =
    (Seq(nodes, edges) ++ Option.when(projectionBuilt)(projection) ++ pending ++
        underlying).foreach { df =>
      df.unpersist()
      df.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false)
        case _ => ()
      }
    }
}
