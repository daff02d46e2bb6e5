package graft

import graft.algo.{LocalKernels, ShortestPaths}
import graft.graph.EdgeListIngest

/** Scale-sweep harness reproducing the reference's benchmark shape
  * (SURVEY §6): for each shipped edge-list slice, measure ingest
  * (node/edge counts + wall time) and the three algorithm latencies on
  * the canonical anchor pair. Prints one JSON line per slice plus a
  * markdown table, mirroring the reference's standalone tables
  * (standalone.txt / 算法时间.xlsx).
  *
  * The reference's imports are superlinear (MERGE index pressure,
  * 931s for 70k rows); this pipeline is a linear parallel scan+dedup+join
  * — the table shows the shape difference directly.
  */
object SliceSweep {
  def main(args: Array[String]): Unit = {
    val slices = if (args.nonEmpty) args.map(_.toInt).toSeq else (1 to 7)
    val spark = core.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-slice-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    val src = queries.Graph.Src
    val dst = queries.Graph.Dst
    println("| slice | lines | nodes | edges | ingest_s | dijkstra_ms | astar_ms | yen3_ms |")
    println("|---|---|---|---|---|---|---|---|")
    slices.foreach { i =>
      val path = s"/root/reference/Shenzhen_Edgelist_$i.csv"
      val t0 = System.nanoTime()
      val pg = EdgeListIngest.build(spark, path).cache()
      val nNodes = pg.nodes.count()
      val nEdges = pg.edges.count()
      val lg = ShortestPaths.localGraph(pg)
      val ingestS = (System.nanoTime() - t0) / 1e9
      val lines = EdgeListIngest.readRaw(spark, path).count()

      def ms[T](f: => T): Double = {
        val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6
      }
      // warm + measure (median of 3)
      def med(f: => Unit): Double = {
        f; val xs = Seq(ms(f), ms(f), ms(f)).sorted; xs(1)
      }
      val dj = med(LocalKernels.dijkstra(lg, lg.idOf(src), lg.idOf(dst)))
      val as = med(LocalKernels.astar(lg, lg.idOf(src), lg.idOf(dst)))
      val yn = med(LocalKernels.yen(lg, lg.idOf(src), lg.idOf(dst), 3))
      println(f"| $i | $lines | $nNodes | $nEdges | $ingestS%.2f | $dj%.1f | $as%.1f | $yn%.1f |")
      System.err.println(
        f"""{"slice":$i,"lines":$lines,"nodes":$nNodes,"edges":$nEdges,"ingest_s":$ingestS%.2f,"dijkstra_ms":$dj%.1f,"astar_ms":$as%.1f,"yen3_ms":$yn%.1f}""")
      pg.unpersistAll()
    }
    spark.stop()
  }
}
