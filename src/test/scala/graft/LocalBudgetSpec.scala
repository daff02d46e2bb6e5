package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.LocalBudget

/** The one dispatch gate of the adaptive graph kernels: the cap rules
  * (negative refuses without a Spark job, 0 admits only the empty edge
  * set) and the default cap admitting a small frame.
  */
class LocalBudgetSpec extends AnyFunSuite {

  lazy val spark: SparkSession = core.Sessions.local(4, "graft-test")
  import spark.implicits._

  private def small = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")

  /** Ids of the jobs `body` ran, read from the status tracker under a
    * fresh job group. The tracker is fed asynchronously, in event order,
    * so a sentinel job in a second group is awaited first: once it is
    * visible, every job `body` started is too.
    */
  private def jobsOf(name: String)(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try body finally sc.clearJobGroup()
    val sentinel = s"$name-sentinel"
    sc.setJobGroup(sentinel, sentinel)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30_000_000_000L
    while (sc.statusTracker.getJobIdsForGroup(sentinel).isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(sentinel).nonEmpty,
      "sentinel job never reached the status tracker")
    sc.statusTracker.getJobIdsForGroup(name).toSeq
  }

  test("negative cap refuses without running a Spark job") {
    var verdict = true
    val jobs = jobsOf("budget-negative") {
      verdict = LocalBudget.fits(small, -1L)
    }
    assert(!verdict)
    assert(jobs.isEmpty, s"jobs run for a negative cap: $jobs")
    // the same frame at a non-negative cap does run the measurement,
    // so the empty job list above is not a blind spot of the tracker
    val measured = jobsOf("budget-measured") {
      verdict = LocalBudget.fits(small, 10L)
    }
    assert(verdict)
    assert(measured.nonEmpty, "no job recorded for the measurement")
  }

  test("cap 0 admits an empty frame and refuses a non-empty one") {
    val empty = Seq.empty[(String, String)].toDF("src", "dst")
    assert(LocalBudget.fits(empty, 0L))
    assert(!LocalBudget.fits(small, 0L))
    assert(!LocalBudget.fits(small, 1L))
    assert(LocalBudget.fits(small, 2L))
  }

  test("the default cap admits a small frame; payload bytes count " +
      "against the byte budget") {
    assert(LocalBudget.fits(small, LocalBudget.MaxLocalEdges))
    assert(LocalBudget.fits(small, LocalBudget.MaxLocalEdges,
      payloadBytesPerRow = 8))
    assert(!LocalBudget.fits(small, LocalBudget.MaxLocalEdges,
      payloadBytesPerRow = LocalBudget.MaxLocalBytes))
  }
}
