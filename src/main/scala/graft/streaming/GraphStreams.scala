package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.graph.{EdgeListIngest, PropertyGraph}

/** Streaming graph maintenance — the reference's growing-slice workflow
  * (standalone.txt:1-11 re-imports ever-larger edge lists) as a LIVE
  * pipeline: a file-source stream of edge-list CSVs MERGEs into the
  * running property graph one micro-batch at a time via
  * `EdgeListIngest.appendRaw`, the Delta-style per-batch upsert shape
  * (Structured Streaming's foreachBatch is the documented idempotent-
  * merge hook).
  *
  * Invariant carried over from the batch append contract (pinned by
  * GraphAlgoSpec + StreamingSpec): after the stream drains, the
  * maintained graph — nodes, materialized edges, AND the pending
  * dangling-endpoint backlog — is identical to a from-scratch build
  * over the union of every file's rows, regardless of file order or
  * batch boundaries.
  *
  * Scale shape: each micro-batch costs work proportional to the DELTA
  * plus the pending backlog (anti-joins on natural keys + broadcast
  * endpoint resolution), never the accumulated graph; graph state lives
  * in localCheckpoint'ed frames that are swapped atomically per batch —
  * the previous generation is released only after the next one is
  * eagerly materialized, so micro-batch frames (which expire with their
  * batch) are never referenced afterwards.
  */
object GraphStreams {

  /** Drain a directory of edge-list CSVs as a one-file-per-micro-batch
    * stream and return the maintained graph. Blocks until every file
    * already in `dir` is processed.
    */
  def maintainFromFiles(spark: SparkSession, dir: String,
      initial: Option[PropertyGraph] = None): PropertyGraph = {
    var pg = initial.getOrElse(EdgeListIngest.emptyGraph(spark))
    var generation = 0   // 0 = initial frames, not checkpoint-owned
    val src = spark.readStream
      .schema(EdgeListIngest.schema)
      .option("header", "true")
      .option("maxFilesPerTrigger", 1)
      .csv(dir)
    graft.core.Scratch.withStreamCheckpoint("graft-ckpt-gmaint-") { ck =>
    val q = src.writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // materialize BEFORE the batch frame expires / old state drops.
        // appendRaw without cached candidates adds nothing to
        // `underlying`, so the only storage to free is the generation
        // this one replaces — never the caller's initial graph.
        val next = EdgeListIngest.appendRaw(spark, pg, batch,
          cacheCandidates = false).checkpoint()
        if (generation > 0) pg.unpersistAll()
        pg = next
        generation += 1
        ()
      }
      .start()
    try { q.processAllAvailable() } finally { q.stop() }
    pg
    }
  }
}
