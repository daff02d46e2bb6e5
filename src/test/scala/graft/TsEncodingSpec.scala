package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams

/** The events testdata has shipped `ts` in three different physical
  * parquet encodings across regenerations — TIMESTAMP(NANOS) (Spark reads
  * it as a raw long under `nanosAsLong`), plain `timestamp[us]` without a
  * timezone (Spark reads TIMESTAMP_NTZ), and UTC-adjusted micros
  * (TimestampType). The round-7 drift from nanos to NTZ broke five driver
  * queries because `readEvents` pinned one schema. This spec regenerates
  * the SAME rows in all three encodings and pins that `Tables.events` and
  * `EventStreams.readEvents` normalize every one of them to identical
  * session-UTC TimestampType rows — so the NEXT encoding drift is caught
  * here, not by the driver.
  */
class TsEncodingSpec extends AnyFunSuite with FreesCachedPlans {

  lazy val spark: SparkSession = core.Sessions.local(4, "graft-tsenc-test")

  val sf = "/root/testdata/sf0.001"

  // a deterministic 200-row slice of the real table, already normalized
  lazy val slice: DataFrame = core.Tables(spark, sf).events
    .orderBy("event_id").limit(200).cache()

  private def tmpDir(tag: String): java.io.File = {
    val d = java.nio.file.Files
      .createTempDirectory(s"graft-tsenc-$tag").toFile
    d.deleteOnExit(); d
  }

  /** Write the slice with ts as UTC-adjusted micros (TimestampType). */
  lazy val ltzDir: String = {
    val d = tmpDir("ltz")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    slice.coalesce(1).write.mode("overwrite")
      .parquet(s"${d.getAbsolutePath}/events.parquet")
    d.getAbsolutePath
  }

  /** Write the slice with ts as timezone-less micros (TIMESTAMP_NTZ) —
    * the round-7 testdata encoding.
    */
  lazy val ntzDir: String = {
    val d = tmpDir("ntz")
    slice.withColumn("ts", col("ts").cast("timestamp_ntz"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${d.getAbsolutePath}/events.parquet")
    d.getAbsolutePath
  }

  /** Write the slice with ts as TIMESTAMP(NANOS) via parquet-java directly
    * (Spark cannot produce nanos) — the pre-round-7 testdata encoding.
    */
  lazy val nanosDir: String = {
    val d = tmpDir("nanos")
    val schema: MessageType = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64)
        .as(LogicalTypeAnnotation.timestampType(true, TimeUnit.NANOS))
        .named("ts")
      .required(INT64).named("user_id")
      .required(BINARY).as(LogicalTypeAnnotation.stringType())
        .named("event_type")
      .required(DOUBLE).named("value")
      .required(BINARY).as(LogicalTypeAnnotation.stringType())
        .named("props")
      .named("events")
    val file = new java.io.File(d, "events.parquet")
    val writer = ExampleParquetWriter
      .builder(new Path(file.getAbsolutePath))
      .withType(schema).build()
    val fac = new SimpleGroupFactory(schema)
    try slice.collect().foreach { r =>
      val g = fac.newGroup()
      g.add("event_id", r.getLong(r.fieldIndex("event_id")))
      val micros = r.getTimestamp(r.fieldIndex("ts")).getTime * 1000L +
        (r.getTimestamp(r.fieldIndex("ts")).getNanos / 1000L) % 1000L
      g.add("ts", micros * 1000L)
      g.add("user_id", r.getLong(r.fieldIndex("user_id")))
      g.add("event_type", r.getString(r.fieldIndex("event_type")))
      g.add("value", r.getDouble(r.fieldIndex("value")))
      g.add("props", r.getString(r.fieldIndex("props")))
      writer.write(g)
    } finally writer.close()
    d.getAbsolutePath
  }

  private def key(df: DataFrame): Set[(Long, java.sql.Timestamp, String)] =
    df.select("event_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2))).toSet

  test("Tables.events normalizes all three ts encodings to TimestampType") {
    val expected = key(slice)
    for ((dir, tag) <- Seq((ltzDir, "ltz"), (ntzDir, "ntz"),
        (nanosDir, "nanos"))) {
      val got = core.Tables(spark, dir).events
      assert(got.schema("ts").dataType ===
        org.apache.spark.sql.types.TimestampType, s"encoding=$tag")
      assert(key(got) === expected, s"encoding=$tag")
    }
  }

  test("readEvents streams all three encodings to identical rows") {
    val expected = key(slice)
    for ((dir, tag) <- Seq((ltzDir, "ltz"), (ntzDir, "ntz"),
        (nanosDir, "nanos"))) {
      val name = s"t_tsenc_$tag"
      val q = EventStreams.readEvents(spark, s"$dir/events.parquet")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table(name)
      assert(got.schema("ts").dataType ===
        org.apache.spark.sql.types.TimestampType, s"encoding=$tag")
      assert(key(got) === expected, s"encoding=$tag")
    }
  }

  test("hourly window aggregation agrees across encodings (no 1970 collapse)") {
    // the round-7 failure mode: micros interpreted as nanos collapsed 30
    // days into 43 minutes of 1970 — pin that every encoding yields the
    // same (many-windowed) hourly histogram as the normalized batch table
    val batch = slice
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("s"), col("event_type"), col("n"))
      .collect().map(r =>
        (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(batch.map(_._1.getTime).exists(_ > 1.7e12.toLong),
      "windows must be in the real event-time range, not 1970")
    for ((dir, tag) <- Seq((ntzDir, "ntz"), (nanosDir, "nanos"))) {
      val got = core.Tables(spark, dir).events
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("s"), col("event_type"), col("n"))
        .collect().map(r =>
          (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(got === batch, s"encoding=$tag")
    }
  }
}
