package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loader for the driver-generated synthetic tables (TESTDATA.md /
  * FIXTURES.md §B): one parquet per table under `sfDir`.
  *
  * Parquet scans are columnar + vectorized; Catalyst pushes filters and
  * prunes columns, so callers should express selection declaratively and
  * NOT pre-materialize. AQE coalesces the final stage of cached plans
  * too (the `canChangeCachedPlanOutputPartitioning` conf in
  * [[Sessions.local]]); [[Tables.compact]] sizes only the frames it
  * cannot reach.
  */
final class Tables(spark: SparkSession, sfDir: String) {
  def apply(name: String): DataFrame =
    Tables.load(spark, s"$sfDir/$name.parquet",
      spread = name == "documents")

  def region: DataFrame = apply("region")
  def nation: DataFrame = apply("nation")
  def customer: DataFrame = apply("customer")
  def supplier: DataFrame = apply("supplier")
  def part: DataFrame = apply("part")
  def orders: DataFrame = apply("orders")
  def lineitem: DataFrame = apply("lineitem")
  /** events.parquet has shipped with three different physical encodings of
    * `ts` across testdata regenerations: TIMESTAMP(NANOS) (which Spark's
    * vectorized reader rejects — read as raw nanos via the legacy long
    * mode), plain `timestamp[us]` without a timezone (read as
    * TIMESTAMP_NTZ), and UTC-adjusted `timestamp[us]` (read as
    * TimestampType). Normalize ALL of them here to the session-UTC
    * TimestampType so every downstream operator sees ONE canonical type —
    * the session timezone is UTC, so the NTZ→LTZ cast is value-identical,
    * and the nanos→micros conversion is lossless for this data (values
    * carry at most µs precision). This single normalization point is what
    * keeps range joins, `unix_micros`, and streaming state ops working
    * regardless of how the files were written.
    */
  def events: DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.normalizeTs(apply("events"))
  }
  def documents: DataFrame = apply("documents")
  def embeddings: DataFrame = apply("embeddings")
}

object Tables {
  def apply(spark: SparkSession, sfDir: String): Tables =
    new Tables(spark, sfDir)

  /** Per-(session, path) memo of the PROBED scan-partition count, so the
    * scan-parallelism probe below runs once per table per session, not
    * once per query. Only the Int is memoized — the frame itself is
    * rebuilt per call, so each query plans against a fresh file listing
    * and no two consumers share one plan object (a shared frame made one
    * consumer's cache()/unpersist() visible to every other and froze the
    * listing for the session — r16 advice). Entries whose context has
    * stopped are purged on access (Sessions.purgeStopped, shared with the
    * queries.Graph caches).
    */
  private val probedParts = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Integer]()

  /** `spread` is opt-in per table: measured at sf0.1 (bench_r16_before vs
    * _mid), spreading pays off exactly where per-row expression work
    * dominates the scan — the text/media-payload `documents` table (langid
    * −6.8 s, multimodal decode −3.4 s, substring dedup −2.1 s, …) — and
    * LOSES on the cheap numeric tables, where the extra exchange + AQE
    * stage outweigh the parallelism (50 relational queries regressed
    * +0.2–1.4 s each when lineitem/orders/events/embeddings were spread).
    */
  private[core] def load(spark: SparkSession, path: String,
      spread: Boolean): DataFrame = {
    Sessions.purgeStopped(probedParts)
    val df = spark.read.parquet(path)
    if (!spread) df
    else spreadIfNarrow(spark, df, probedParts.computeIfAbsent((spark, path),
      _ => df.rdd.getNumPartitions))
  }

  /** Unsplittable-input guard (optimization guide §2.5: "one huge
    * unsplittable file … repartition immediately after the read").
    *
    * The driver's test tables are single parquet files with ONE row group,
    * so the scan stage plans at 1 split no matter what maxPartitionBytes
    * says — every map-side expression (regex, md5, split/explode, partial
    * aggregation) of every query runs single-threaded while the other
    * cores idle. Measured on llm_langid at sf0.1: the whole query was 2
    * tasks.
    *
    * When the planned scan parallelism is far below the session's core
    * count, insert ONE round-robin repartition to defaultParallelism right
    * above the scan. Catalyst pushes deterministic filters below
    * Repartition and prunes columns through it, so PushedFilters/ReadSchema
    * at the scan are unchanged — the exchange moves only surviving columns
    * of surviving rows. On production-shaped input (many files / many row
    * groups) the scan already plans ≥ cores splits and this is a no-op, so
    * nothing here is tuned to local mode: the check derives from
    * defaultParallelism, which tracks SPARK_GRAFT_CPUS.
    *
    * The probe (`df.rdd.getNumPartitions`) only plans the bare scan — no
    * job runs — and the result is memoized per (session, path) above.
    */
  def spreadNarrowScan(spark: SparkSession, df: DataFrame): DataFrame =
    spreadIfNarrow(spark, df, df.rdd.getNumPartitions)

  private def spreadIfNarrow(spark: SparkSession, df: DataFrame,
      scanParts: Int): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    if (scanParts * 2 <= target) df.repartition(target) else df
  }

  /** Volume-sized partition count for a long-lived frame that AQE does
    * not size: one with no shuffle at its top (a map over the spread
    * `documents` scan, a driver-built LocalRelation), or a small graph
    * frame that the kernels' joins must see as ONE partition at plan
    * time. The frame gets ceil(bytes / 8 MB) partitions from its plan
    * estimate (no job), so a small one becomes `SinglePartition` and the
    * joins and aggregates over it plan no exchange; at or above
    * cores × 8 MB it is returned unchanged, so production-sized input
    * never pays this.
    * `shuffle = false` narrows (the coalesce fuses into the producing
    * stage, fine when the producer is cheap); `shuffle = true` adds one
    * exchange, so a costly per-row map upstream keeps its parallelism.
    * Each call site cites the layout A/B in CHANGES.md that kept it.
    */
  def compact(df: DataFrame, shuffle: Boolean = false): DataFrame = {
    val perPartition = 8L << 20
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes >= BigInt(perPartition) * cores) df
    else {
      val n = ((bytes + perPartition - 1) / perPartition).max(1).min(cores)
        .toInt
      if (shuffle) df.repartition(n) else df.coalesce(n)
    }
  }

  /** Normalize a `ts` column to the session-UTC TimestampType whatever the
    * stored encoding was (nanos-as-long, TIMESTAMP_NTZ, or TimestampType).
    */
  def normalizeTs(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn(tsCol, timestamp_micros(expr(s"$tsCol div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(tsCol,
          col(tsCol).cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
}
