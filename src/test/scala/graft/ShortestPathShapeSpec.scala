package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, max, round}
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.algo.ShortestPaths
import graft.graph.EdgeListIngest

/** The driver-side result shapers of ShortestPaths: every summary entry
  * point must equal the reference's `count(nodeId), Max(cost)` shaping
  * (kept here as a Spark aggregate over dijkstraPath's rows) in schema
  * and rows, and the path entry points keep their schema when empty.
  */
class ShortestPathShapeSpec extends AnyFunSuite with FreesCachedPlans {

  lazy val spark: SparkSession = core.Sessions.local(4, "graft-test")
  import spark.implicits._

  // a→b→c→d is the unique optimum (3.73461, five decimals so the
  // 4-place rounding matters); e is an island
  private lazy val graph = EdgeListIngest.appendRaw(spark,
    EdgeListIngest.emptyGraph(spark),
    Seq(("a", "b", 1.23456), ("b", "c", 2.00005), ("a", "c", 5.0),
      ("c", "d", 0.5), ("d", "a", 7.0), ("e", "e", 0.0))
      .map { case (s, d, c) => (1.0, 2.0, s, d, s"$s-$d", c) }
      .toDF("XCoord", "YCoord", "START_NODE", "END_NODE", "EDGE", "LENGTH"))

  private val pairs = Seq(("a", "d"), ("a", "e"), ("b", "b"))
  private val landmarks = Seq("a", "d", "absent")

  private def reference(src: String, dst: String): DataFrame =
    ShortestPaths.dijkstraPath(spark, graph, src, dst)
      .agg(count(col("node_id")).as("path_node_number"),
        round(max(col("cost")), 4).as("total_cost"))

  test("all six summaries ≡ count/round(max) over dijkstraPath: " +
      "reachable, unreachable and src == dst") {
    val summaries: Seq[(String, (String, String) => DataFrame)] = Seq(
      "dijkstra" -> (ShortestPaths.dijkstraSummary(spark, graph, _, _)),
      "astar" -> (ShortestPaths.astarSummary(spark, graph, _, _)),
      "bidirectional" ->
        (ShortestPaths.bidirectionalSummary(spark, graph, _, _)),
      "alt" -> (ShortestPaths.astarLandmarkSummary(spark, graph, _, _,
        landmarks)),
      "bidiAlt" -> (ShortestPaths.bidiAltSummary(spark, graph, _, _,
        landmarks)),
      "ch" -> (ShortestPaths.chSummary(spark, graph, _, _)))
    for ((src, dst) <- pairs) {
      val want = reference(src, dst)
      val wantRows = want.collect().toSeq
      for ((name, summary) <- summaries) {
        val got = summary(src, dst)
        assert(got.schema === want.schema, s"$name $src->$dst schema")
        assert(got.collect().toSeq === wantRows, s"$name $src->$dst rows")
      }
    }
    // the pairs cover what they claim
    assert(reference("a", "d").collect().head.getDouble(1) === 3.7346)
    assert(reference("a", "e").collect().head.isNullAt(1))
    assert(reference("b", "b").collect().head.getLong(0) === 1L)
  }

  test("dijkstraPath/astarPath keep (seq: Int, node_id, cost) when empty") {
    val schema = StructType(Seq(
      StructField("seq", IntegerType, nullable = false),
      StructField("node_id", StringType, nullable = true),
      StructField("cost", DoubleType, nullable = false)))
    for (path <- Seq(ShortestPaths.dijkstraPath _, ShortestPaths.astarPath _)) {
      val empty = path(spark, graph, "a", "e")
      assert(empty.schema === schema)
      assert(empty.collect().isEmpty)
      val full = path(spark, graph, "a", "d")
      assert(full.schema === schema)
      assert(full.collect().map(_.getString(1)).toSeq === Seq("a", "b", "c", "d"))
    }
  }
}
