package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Local mode is a single JVM; `spark.sql.shuffle.partitions` is sized to
  * the core count instead of the default 200 so small-SF shuffles don't
  * drown in empty tasks. AQE stays on so the same plans re-split/coalesce
  * correctly on a real cluster at 100 TB (skew-join handling, dynamic
  * partition coalescing).
  *
  * `canChangeCachedPlanOutputPartitioning` lets AQE coalesce the final
  * stage of a cached plan too. Off (the Spark default), a frame cached
  * under `shuffle.partitions = cores` served every later read as
  * cores-many near-empty tasks: the root cause of the inverse core
  * scaling measured in round 17 (8 cores beat 32 on the graph and dedup
  * families). On, each cache's partition count tracks its volume.
  */
object Sessions {
  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
            appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drops every entry of a per-(session, key) memo whose session's
    * SparkContext has stopped — the memos call this on every access.
    */
  def purgeStopped[V](memo: java.util.Map[(SparkSession, String), V]): Unit =
    memo.keySet().removeIf(_._1.sparkContext.isStopped)
}
