package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.algo.ShortestPaths
import graft.graph.{EdgeListIngest, PropertyGraph}

/** The resident projection of ShortestPaths under EdgeListIngest
  * append: a child graph is never served its parent's entry, the
  * parent's entry stays valid for the parent, and a warm graph answers
  * a repeat query without a Spark job.
  */
class ResidentGraphSpec extends AnyFunSuite with FreesCachedPlans {

  lazy val spark: SparkSession = core.Sessions.local(4, "graft-test")
  import spark.implicits._

  private def raw(rows: Seq[(String, String, Double)]): DataFrame =
    rows.map { case (s, d, c) => (0.0, 0.0, s, d, s"$s-$d", c) }
      .toDF("XCoord", "YCoord", "START_NODE", "END_NODE", "EDGE", "LENGTH")

  private def ingest(base: PropertyGraph, rows: Seq[(String, String, Double)]) =
    EdgeListIngest.appendRaw(spark, base, raw(rows))

  // s→t: the chain s-a-b-c-t costs 4, s-b-c-t 4.5, s-x-t 6; c→z stays
  // pending until z appears as a start node
  private val baseRows = Seq(("s", "a", 1.0), ("a", "b", 1.0), ("b", "c", 1.0),
    ("c", "t", 1.0), ("s", "b", 2.5), ("s", "x", 3.0), ("x", "t", 3.0),
    ("t", "s", 10.0), ("c", "z", 0.2))
  // cheaper s→t paths: s-y-t (1.0, a new node) and s-a-b-c-z-t (3.3,
  // reviving the pending c→z)
  private val deltaRows = Seq(("s", "y", 0.5), ("y", "t", 0.5), ("z", "t", 0.1))

  private val queries: Seq[(String, PropertyGraph => Seq[Row])] = Seq(
    "dijkstraSummary" -> (g =>
      ShortestPaths.dijkstraSummary(spark, g, "s", "t").collect().toSeq),
    "astarSummary" -> (g =>
      ShortestPaths.astarSummary(spark, g, "s", "t").collect().toSeq),
    "yen3" -> (g => ShortestPaths.yen(spark, g, "s", "t", 3).collect().toSeq),
    "sssp" -> (g => ShortestPaths.sssp(spark, g, "s").collect().toSeq
      .sortBy(_.getString(0))),
    "chSummary" -> (g =>
      ShortestPaths.chSummary(spark, g, "s", "t").collect().toSeq))

  private def answers(g: PropertyGraph): Map[String, Seq[Row]] =
    queries.map { case (name, q) => name -> q(g) }.toMap

  test("parent, appended child and parent again each ≡ a from-scratch " +
      "ingest of their rows; warm repeats run no job, a child's first " +
      "query measures its own projection") {
    val empty = EdgeListIngest.emptyGraph(spark)
    val parent = ingest(empty, baseRows)
    val parentBefore = answers(parent)
    val warm = JobGroups.jobsOf(spark, "resident-warm") {
      ShortestPaths.dijkstraSummary(spark, parent, "s", "t").collect()
      ShortestPaths.yen(spark, parent, "s", "t", 3).collect()
    }
    assert(warm.isEmpty, s"jobs run by repeat queries on a warm graph: $warm")

    val child = ingest(parent, deltaRows)
    val childFirst = JobGroups.jobsOf(spark, "resident-child") {
      ShortestPaths.dijkstraSummary(spark, child, "s", "t").collect()
    }
    assert(childFirst.nonEmpty, "the child's first query ran no job")
    val childAnswers = answers(child)
    val parentAfter = answers(parent)

    val wantParent = answers(ingest(empty, baseRows))
    val wantChild = answers(ingest(empty, baseRows ++ deltaRows))
    for ((name, _) <- queries) {
      assert(parentBefore(name) === wantParent(name), s"$name: parent")
      assert(childAnswers(name) === wantChild(name), s"$name: child")
      assert(parentAfter(name) === wantParent(name), s"$name: parent again")
    }
    // the append really changes every answer for the pair
    for ((name, _) <- queries)
      assert(wantChild(name) !== wantParent(name), s"$name: delta is inert")
    assert(wantParent("dijkstraSummary") === Seq(Row(5L, 4.0)))
    assert(wantChild("dijkstraSummary") === Seq(Row(3L, 1.0)))
    assert(wantChild("yen3").map(_.getDouble(3)) === Seq(1.0, 3.3, 3.8))
  }
}
