package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Checkpoints, LocalBudget}

/** The driver-side plumbing every adaptive graph kernel shares. The one
  * dispatch gate: the cap rules (negative refuses without a Spark job, 0
  * admits only the empty edge set, any other cap measures in exactly one
  * job) and the default cap admitting a small frame. The one
  * materialization scope, `Checkpoints.scoped`: what `keep`, an
  * exception and the scope's close free, and what they leave live.
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

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Ids of the checkpoint RDDs `df` scans. */
  private def leaves(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }
      .toSet

  private def numbers = spark.range(40).select((col("id") % 7).as("k"),
    col("id").as("v"))

  test("scope: a frame held twice stays live while named; keep() and " +
      "close free the rest") {
    val before = persisted
    Checkpoints.scoped { s =>
      val cp = s.checkpoint(numbers)
      assert(s.adopt(cp) eq cp)
      val other = s.checkpoint(numbers.filter(col("k") === 1))
      s.keep(cp)
      assert(leaves(cp).subsetOf(persisted), "a named frame was freed")
      assert(!leaves(other).exists(persisted), "an unnamed frame is live")
      assert(cp.count() == 40L)
      s.keep(cp, cp)
      assert(leaves(cp).subsetOf(persisted))
      s.keep()
      assert(!leaves(cp).exists(persisted))
    }
    assert(persisted === before)
  }

  test("scope: an exception inside the scope frees everything it holds") {
    val before = persisted
    var cached: DataFrame = null
    val e = intercept[IllegalStateException](Checkpoints.scoped { s =>
      s.checkpoint(numbers)
      s.fresh(numbers.filter(col("k") > 2))
      cached = s.cache(numbers.select(col("v") * 2))
      cached.count()
      assert(persisted.size > before.size)
      throw new IllegalStateException("boom")
    })
    assert(e.getMessage == "boom")
    assert(persisted === before)
    assert(cached.storageLevel == StorageLevel.NONE)
  }

  test("scope: the returned frame survives the scope, and release(result) " +
      "frees every held frame it reads") {
    val before = persisted
    var cached: DataFrame = null
    var unread: DataFrame = null
    val result = Checkpoints.scoped { s =>
      cached = s.cache(numbers.select(col("k"), (col("v") * 2).as("w")))
      cached.count()
      val view = s.fresh(numbers.groupBy("k").count())
      val cp = s.checkpoint(numbers.filter(col("v") < 30))
      unread = s.checkpoint(numbers.filter(col("v") >= 30))
      cp.join(view, "k").join(cached.groupBy("k").count()
        .withColumnRenamed("count", "n"), "k")
    }
    assert(!leaves(unread).exists(persisted), "an unread frame is live")
    assert(cached.storageLevel != StorageLevel.NONE)
    assert(result.count() == 30L)
    Checkpoints.release(result)
    assert(persisted === before)
    assert(cached.storageLevel == StorageLevel.NONE)
  }

  test("scope: a stats-clean checkpoint is kept and freed through its view") {
    val before = persisted
    val result = Checkpoints.scoped { s =>
      val view = s.fresh(numbers)
      val cp = s.backing(view)
      assert(cp ne view)
      assert(leaves(view).intersect(leaves(cp)).isEmpty,
        "the view must not scan the checkpoint's own RDD")
      s.keep(view)
      assert(leaves(cp).subsetOf(persisted), "keep(view) freed its checkpoint")
      s.keep()
      assert(!leaves(cp).exists(persisted), "keep() left the checkpoint live")
      // a result that reads a view keeps its checkpoint until release
      s.fresh(numbers).filter(col("k") === 3)
    }
    assert(persisted.size == before.size + 1)
    assert(result.count() > 0L)
    Checkpoints.release(result)
    assert(persisted === before)
  }

  test("scope: keeping, freeing and closing run no Spark job") {
    val cp = numbers.localCheckpoint(true)
    val cached = numbers.filter(col("k") === 0).cache()
    cached.count()
    var result: DataFrame = null
    val jobs = jobsOf("scope-bookkeeping") {
      result = Checkpoints.scoped { s =>
        s.adopt(cp)
        s.adopt(cached)
        s.cache(numbers.select(col("v")))
        s.keep(cp, s.backing(cached))
        cp.join(cached, "k")
      }
      Checkpoints.release(result)
    }
    assert(jobs.isEmpty, s"the scope ran jobs $jobs")
    // a stats-clean checkpoint costs exactly its localCheckpoint's jobs
    val plain = jobsOf("plain-checkpoint") {
      Checkpoints.release(numbers.localCheckpoint(true))
    }
    val fresh = jobsOf("fresh-checkpoint") {
      Checkpoints.release(Checkpoints.scoped(_.fresh(numbers)))
    }
    assert(fresh.size == plain.size && plain.nonEmpty)
  }
}
