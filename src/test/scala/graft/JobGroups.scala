package graft

import org.apache.spark.sql.SparkSession

/** Counting the Spark jobs a block of code runs, for the specs that pin
  * "no job" or "one job" claims.
  */
object JobGroups {

  /** Ids of the jobs `body` ran, read from the status tracker under a
    * fresh job group. The tracker is fed asynchronously, in event order,
    * so a sentinel job in a second group is awaited first: once it is
    * visible, every job `body` started is too.
    */
  def jobsOf(spark: SparkSession, name: String)(body: => Unit): Seq[Int] = {
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
}
