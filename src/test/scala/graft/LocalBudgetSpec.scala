package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.LocalBudget

/** The one dispatch gate of the adaptive graph kernels: the cap rules
  * (negative refuses without a Spark job, 0 admits only the empty edge
  * set, any other cap measures in exactly one job) and the default cap
  * admitting a small frame.
  */
class LocalBudgetSpec extends AnyFunSuite {

  lazy val spark: SparkSession = core.Sessions.local(4, "graft-test")
  import spark.implicits._

  private def small = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")

  private def jobsOf(name: String)(body: => Unit): Seq[Int] =
    JobGroups.jobsOf(spark, name)(body)

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
    assert(measured.size == 1, s"measurement ran jobs $measured, not one")
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

  test("measureEdges: a row with a null id counts but adds no characters") {
    val withNull = Seq[(String, String)](("a", "b"), (null, "bc"), ("cd", null))
      .toDF("src", "dst")
    // 3 rows; characters only from the all-non-null row (1 + 1)
    assert(LocalBudget.measureEdges(withNull) ===
      ((3L, 2L * 2 + 3 * LocalBudget.RowOverheadBytes)))
    assert(LocalBudget.measureEdges(small) ===
      ((2L, 2L * 4 + 2 * LocalBudget.RowOverheadBytes)))
  }
}
