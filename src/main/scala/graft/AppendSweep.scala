package graft

import graft.algo.{LocalKernels, ShortestPaths}
import graft.graph.{EdgeListIngest, PropertyGraph}

/** Incremental-maintenance sweep over the reference's 7 growing slices
  * (standalone.txt:1-11's actual workflow): slice 1 builds from
  * scratch, every later slice APPENDS (EdgeListIngest.append), and at
  * each step the maintained graph is checked against a from-scratch
  * build of the same slice — node/edge/pending counts AND the canonical
  * 2022→2802 Dijkstra cost (g2's anchor), so the check covers both set
  * equality and query-result equality. Prints one line per slice plus
  * the incremental-vs-rebuild wall-time split, which is the point of
  * the operator: append cost tracks the DELTA, rebuild cost tracks the
  * accumulated corpus.
  *
  * Modes:
  *  - default (batch): append replays each FULL cumulative slice file —
  *    the reference's literal re-import workflow; the anti-joins throw
  *    away the already-known prefix, so the measured win is shuffle
  *    volume, not input volume.
  *  - `delta`: appends only the TRUE per-slice delta (slice i minus
  *    slice i−1, derived up front with the prefix property re-verified
  *    line by line) — the honest work-∝-delta demonstration: per-step
  *    append time must stay flat in the ~10k-row delta while the
  *    rebuild time grows with the accumulated graph.
  *  - `stream`: all slices drained through the file-source micro-batch
  *    maintainer and compared once at the end.
  */
object AppendSweep {

  private def slicePath(i: Int) =
    s"/root/reference/Shenzhen_Edgelist_$i.csv"

  /** Non-padding data lines of a slice CSV (header dropped; the
    * reference pads every slice to a fixed line count with ',,,,,'
    * rows, which the ingest's padding-drop discards the same way).
    */
  private[graft] def dataLines(path: String): Vector[String] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().drop(1)
      .filter(l => l.nonEmpty && !l.startsWith(",")).toVector
    finally src.close()
  }

  /** Write the TRUE delta file (rows of `cur` beyond `prev`) to
    * `out`, re-verifying the cumulative-prefix property the derivation
    * rests on. Returns the delta row count.
    */
  private[graft] def deriveDelta(prev: Vector[String], cur: Vector[String],
      header: String, out: java.nio.file.Path): Int = {
    require(cur.view.take(prev.size).sameElements(prev),
      s"slice is not a prefix extension (${prev.size} -> ${cur.size})")
    val delta = cur.drop(prev.size)
    java.nio.file.Files.write(out,
      (header + "\n" + delta.mkString("\n") + "\n").getBytes("UTF-8"))
    delta.size
  }

  def main(args: Array[String]): Unit = {
    val streamMode = args.contains("stream")
    val deltaMode = args.contains("delta")
    val slices = args.filterNot(a => a == "stream" || a == "delta") match {
      case a if a.nonEmpty => a.map(_.toInt).toSeq
      case _ => (1 to 7)
    }
    val spark = core.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-append-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    def dijkstraCost(pg: PropertyGraph): Double = {
      val lg = ShortestPaths.localGraph(pg)
      LocalKernels.dijkstra(lg, lg.idOf(queries.Graph.Src),
        lg.idOf(queries.Graph.Dst)).map(_.totalCost).getOrElse(-1.0)
    }
    def counts(pg: PropertyGraph): (Long, Long, Long) =
      (pg.nodes.count(), pg.edges.count(),
        pg.pending.map(_.count()).getOrElse(-1L))

    if (streamMode) {
      // STREAMING drain: all requested slices dropped into one stream
      // directory, one file per micro-batch, maintained live — must
      // equal a from-scratch build of the LAST slice (slices are
      // cumulative), including the canonical Dijkstra cost
      val dir = java.nio.file.Files.createTempDirectory("graft-sweep-stream")
      slices.foreach { i =>
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(slicePath(i)), dir.resolve(f"$i%04d.csv"))
      }
      val t0 = System.nanoTime()
      val streamed = graft.streaming.GraphStreams
        .maintainFromFiles(spark, dir.toString)
      val (nI, eI, pI) = counts(streamed)
      val tStream = (System.nanoTime() - t0) / 1e9
      val scratch = EdgeListIngest.build(spark, slicePath(slices.last))
        .cache()
      val (nS, eS, pS) = counts(scratch)
      val dI = dijkstraCost(streamed)
      val dS = dijkstraCost(scratch)
      require(nI == nS && eI == eS && pI == pS && dI == dS,
        s"stream mismatch: streamed=($nI,$eI,$pI,$dI) scratch=($nS,$eS,$pS,$dS)")
      println(f"[sweep] STREAMED ${slices.size} slices in $tStream%.1f s: " +
        f"$nI nodes / $eI edges / $pI pending, dijkstra $dI%.3f ≡ " +
        "from-scratch build of the last slice")
      spark.stop()
      return
    }

    // per-step input: the full cumulative slice (batch mode) or the
    // derived true delta (delta mode); −1 marks "whole slice"
    val steps: Seq[(Int, String, Int)] =
      if (!deltaMode) slices.map(i => (i, slicePath(i), -1))
      else {
        val dir = java.nio.file.Files.createTempDirectory("graft-sweep-delta")
        val header = {
          val src = scala.io.Source.fromFile(slicePath(slices.head))
          try src.getLines().next() finally src.close()
        }
        var prev = Vector.empty[String]
        slices.map { i =>
          val cur = dataLines(slicePath(i))
          if (prev.isEmpty) { prev = cur; (i, slicePath(i), cur.size) }
          else {
            val out = dir.resolve(f"delta$i%02d.csv")
            val n = deriveDelta(prev, cur, header, out)
            prev = cur
            (i, out.toString, n)
          }
        }
      }

    println("| slice | delta_rows | nodes | edges | pending | append_s | rebuild_s | dijkstra ≡ |")
    println("|---|---|---|---|---|---|---|---|")
    var inc: PropertyGraph = null
    steps.foreach { case (i, path, nDelta) =>
      val t0 = System.nanoTime()
      inc = if (inc == null) EdgeListIngest.build(spark, path).cache()
        else {
          // materialize the new generation eagerly, then free the raw
          // scan and candidates it consumed and the generation it
          // replaces
          val next = EdgeListIngest.append(spark, inc, path)
          val mat = next.checkpoint()
          next.unpersistAll()
          inc.unpersistAll()
          mat
        }
      val (nI, eI, pI) = counts(inc)
      val tInc = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val scratch = EdgeListIngest.build(spark, slicePath(i)).cache()
      val (nS, eS, pS) = counts(scratch)
      val tScr = (System.nanoTime() - t1) / 1e9
      val dI = dijkstraCost(inc)
      val dS = dijkstraCost(scratch)
      val ok = nI == nS && eI == eS && pI == pS && dI == dS
      require(ok, s"slice $i mismatch: inc=($nI,$eI,$pI,$dI) " +
        s"scratch=($nS,$eS,$pS,$dS)")
      val d = if (nDelta >= 0) nDelta.toString else "full"
      println(f"| $i | $d | $nI | $eI | $pI | $tInc%.2f | $tScr%.2f | ✓ ($dI%.3f) |")
      scratch.unpersistAll()
    }
    spark.stop()
  }
}
