package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** The persisted RDDs a block of code leaves behind, for the leak specs.
  *
  * `getPersistentRDDs` holds its RDDs weakly, and the ContextCleaner
  * unpersists a persisted RDD once it is garbage-collected, so a leaked
  * intermediate can vanish from the registry before a check reads it. A
  * poller therefore keeps a strong reference to every RDD that shows up
  * in the registry while `body` runs (which also keeps the cleaner off
  * it); afterwards the ones still persisted are the leaks.
  */
object Leaks {

  /** Ids of the RDDs persisted while `body` ran that are still
    * persisted after it, excluding those persisted before it.
    */
  def of(spark: SparkSession)(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[RDD[_]]()
    @volatile var running = true
    val poller = new Thread(() =>
      while (running) {
        sc.getPersistentRDDs.values.foreach(seen.add)
        Thread.sleep(1)
      })
    poller.setDaemon(true)
    poller.start()
    try body finally { running = false; poller.join() }
    sc.getPersistentRDDs.values.foreach(seen.add)
    seen.asScala.filter(r => !before(r.id) &&
      r.getStorageLevel != StorageLevel.NONE).map(_.id).toSeq.sorted
  }
}

/** Frees every plan cached in the shared session when a suite ends. The
  * suites share one JVM and one session, so a fixture a suite caches (a
  * `lazy val docs = ….cache()`, a seeded graph, an unreleased query
  * result) would otherwise outlive it; LifetimeSpec names any plan it
  * finds cached at its start.
  */
trait FreesCachedPlans extends org.scalatest.BeforeAndAfterAll {
  this: org.scalatest.Suite =>
  def spark: SparkSession
  override def afterAll(): Unit =
    try spark.catalog.clearCache() finally super.afterAll()
}
