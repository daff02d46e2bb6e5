package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams

/** Streaming ≡ batch convergence on finite replayed input, plus the
  * custom-state sessionizer vs the built-in session_window.
  */
class StreamingSpec extends AnyFunSuite with FreesCachedPlans {

  lazy val spark: SparkSession = core.Sessions.local(4, "graft-stream-test")
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  def batchEvents = core.Tables(spark, sf).events

  test("streamed hourly counts equal batch hourly counts") {
    val q = EventStreams.hourlyCounts(
        EventStreams.readEvents(spark, s"$sf/events.parquet"))
      .writeStream.format("memory").queryName("t_hourly")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("t_hourly")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .toSet
    val batch = batchEvents
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(streamed === batch)
  }

  test("sliding windows produce 4x window coverage per event hour") {
    val q = EventStreams.slidingValue(
        EventStreams.readEvents(spark, s"$sf/events.parquet"))
      .writeStream.format("memory").queryName("t_sliding")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val n = spark.table("t_sliding").count()
    assert(n > 0)
  }

  test("stream-stream interval join equals the batch interval join") {
    val q = EventStreams.purchaseClickJoin(
        EventStreams.readEvents(spark, s"$sf/events.parquet"))
      .writeStream.format("memory").queryName("t_ssjoin")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("t_ssjoin").collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSet
    val batch = EventStreams.purchaseClickJoin(batchEvents).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("stream-static enrichment: only the aggregation holds state") {
    val q = EventStreams.enrichedSegmentTotals(
        EventStreams.readEvents(spark, s"$sf/events.parquet"),
        core.Tables(spark, sf).customer)
      .writeStream.format("memory").queryName("t_enrich")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("t_enrich").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val batch = EventStreams.enrichedSegmentTotals(batchEvents,
        core.Tables(spark, sf).customer).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // the static join side must NOT appear as a stateful operator —
    // exactly one (the aggregation), or dimension state would grow with
    // the stream
    val stateOps = q.lastProgress.stateOperators
    assert(stateOps.length === 1, stateOps.map(_.operatorName).mkString(","))
    // the aggregation's state op is "stateStoreSave"; a stateful join
    // would add a "symmetricHashJoin" operator
    assert(stateOps(0).operatorName === "stateStoreSave",
      stateOps(0).operatorName)
  }

  test("streaming dedup drops planted duplicates within the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(minutes: Int) = new java.sql.Timestamp(
      base.getTime + minutes * 60000L)
    // ids 1..5, with 2 and 4 duplicated (same id, near timestamps)
    mem.addData((1L, t(0), 1.0), (2L, t(1), 2.0), (2L, t(2), 2.0),
      (3L, t(3), 3.0), (4L, t(4), 4.0), (4L, t(4), 4.0), (5L, t(5), 5.0))
    val deduped = EventStreams.dedupEvents(
      mem.toDF().toDF("event_id", "ts", "value"))
    val q = deduped.writeStream.format("memory").queryName("t_dedup")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val ids = spark.table("t_dedup").select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("count-min sketch built across REAL micro-batch boundaries equals " +
      "the batch sketch cell-by-cell") {
    // mergeability is the point of the streamed sketch: per-batch
    // increments must sum to exactly the one-pass batch cells. Feed the
    // corpus in three separate micro-batches via MemoryStream.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.CountMin
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val mem = MemoryStream[String]
    val sk = CountMin.sketch(CountMin.tokens(mem.toDF().toDF("text")))
    val q = sk.writeStream.format("memory").queryName("t_cms")
      .outputMode("complete").start()
    try {
      val chunk = math.max(1, texts.length / 3)
      texts.grouped(chunk).foreach { batch =>
        mem.addData(batch.toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("t_cms").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val batchCells = CountMin.sketch(CountMin.tokens(
        spark.read.parquet(s"$sf/documents.parquet")))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batchCells)
    assert(streamed.size <= CountMin.Depth * CountMin.Width)
  }

  test("update-mode HLL changelog: later triggers emit only touched " +
      "registers, and the max-fold reconstructs the batch sketch exactly") {
    // the stream_hll_update contract: update mode is a CHANGELOG (rows =
    // registers a micro-batch raised), not a re-emission of the world —
    // and because register maxima are monotone, folding the changelog
    // with max-per-bucket IS current state
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.HyperLogLog
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[String]
    val sk = HyperLogLog.sketch(mem.toDF().toDF("k"), col("k"))
    val q = sk.writeStream.format("memory").queryName("t_hllu")
      .outputMode("update").start()
    try {
      mem.addData((1 to 2000).map(i => s"k$i"))
      q.processAllAvailable()
      val n1 = spark.table("t_hllu").count()
      mem.addData((2001 to 2005).map(i => s"k$i"))
      q.processAllAvailable()
      val n2 = spark.table("t_hllu").count()
      assert(n1 <= graft.operators.HyperLogLog.M.toLong)
      assert(n2 - n1 <= 5L,
        s"second trigger re-emitted ${n2 - n1} rows for 5 keys")
      val folded = spark.table("t_hllu").groupBy("bucket")
        .agg(max(col("r")).as("r"))
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
      val batch = HyperLogLog.sketch(
          (1 to 2005).map(i => s"k$i").toDF("k"), col("k"))
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
      assert(folded === batch)
    } finally q.stop()
  }

  test("update-mode CMS changelog: later triggers emit only touched " +
      "cells, and the max-fold reconstructs the batch sketch exactly") {
    // the stream_cms_update contract: cell counts are monotone
    // nondecreasing, update mode emits each touched cell's new TOTAL, so
    // max-per-cell over the changelog IS current state — and a trigger
    // touching few tokens must emit ≤ Depth rows per distinct token, not
    // the full sketch
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.CountMin
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val mem = MemoryStream[String]
    val sk = CountMin.sketch(CountMin.tokens(mem.toDF().toDF("text")))
    val q = sk.writeStream.format("memory").queryName("t_cmsu")
      .outputMode("update").start()
    try {
      mem.addData(texts.toIndexedSeq)
      q.processAllAvailable()
      val n1 = spark.table("t_cmsu").count()
      mem.addData(Seq("zebra zebra quokka"))
      q.processAllAvailable()
      val n2 = spark.table("t_cmsu").count()
      assert(n1 <= CountMin.Depth.toLong * CountMin.Width)
      assert(n2 - n1 <= 2L * CountMin.Depth,
        s"second trigger re-emitted ${n2 - n1} rows for 2 distinct tokens")
      val folded = spark.table("t_cmsu").groupBy("j", "bucket")
        .agg(max(col("cnt")).as("cnt"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      val batch = CountMin.sketch(CountMin.tokens(
          (texts :+ "zebra zebra quokka").toSeq.toDF("text")))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(folded === batch)
    } finally q.stop()
  }

  test("update-mode geo changelog: argmax-by-count fold reconstructs a " +
      "consistent (count, sums) snapshot per cell") {
    // the stream_geo_update contract: every update emission of a cell
    // carries a STRICTLY larger count than its previous emission (any
    // arriving point increments it), so max(struct(count, sums)) per
    // cell is the latest consistent tuple — no monotonicity assumption
    // on the sums themselves
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val grid = graft.operators.Geo.hotspots(
      mem.toDF().toDF("x", "y"), 5000L)
    val q = grid.writeStream.format("memory").queryName("t_geou")
      .outputMode("update").start()
    try {
      mem.addData(Seq((100L, 100L), (200L, 300L), (7000L, 100L)))
      q.processAllAvailable()
      val n1 = spark.table("t_geou").count()
      mem.addData(Seq((400L, 900L)))   // touches cell (0, 0) only
      q.processAllAvailable()
      val n2 = spark.table("t_geou").count()
      assert(n1 == 2L, s"first trigger emitted $n1 cells, expected 2")
      assert(n2 - n1 == 1L,
        s"second trigger re-emitted ${n2 - n1} rows for 1 touched cell")
      val folded = spark.table("t_geou").groupBy("cx", "cy")
        .agg(max(struct(col("n_points"), col("sum_x"), col("sum_y")))
          .as("m"))
        .select(col("cx"), col("cy"), col("m.n_points"), col("m.sum_x"),
          col("m.sum_y"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val batch = graft.operators.Geo.hotspots(
          Seq((100L, 100L), (200L, 300L), (7000L, 100L), (400L, 900L))
            .toDF("x", "y"), 5000L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(folded === batch)
    } finally q.stop()
  }

  test("update-mode MAD changelog: retractions are emitted, unchanged " +
      "days stay silent, argmax-by-seq fold equals batch") {
    // the stream_mad_update contract — the first NON-MONOTONE member of
    // the changelog family: the MAD fence is a global percentile, so a
    // median-moving batch can LOWER an existing day's score. The
    // changelog must (a) emit those downward revisions, (b) stay silent
    // on days whose (val_cents, score, outlier) tuple is unchanged, and
    // (c) fold back to the batch fence by argmax-by-seq per day.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    def ts(d: String) = java.sql.Timestamp.valueOf(s"2024-01-0$d 10:00:00")
    // val_cents: d1=10, d2=20, d3=30 → +d4=20 → +d5=100
    mem.addData(Seq((ts("1"), 0.10), (ts("2"), 0.20), (ts("3"), 0.30)))
    val changelog = EventStreams.anomalyScoreChangelog(spark,
      mem.toDF().toDF("ts", "value"),
      drive = q => {
        q.processAllAvailable()
        mem.addData(Seq((ts("4"), 0.20)))
        q.processAllAvailable()
        mem.addData(Seq((ts("5"), 1.00)))
        q.processAllAvailable()
      })
    val rows = changelog.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val seqs = rows.map(_._1).distinct.sorted
    assert(seqs.length == 3, s"expected 3 emitting triggers, got $seqs")
    def at(s: Long) = rows.filter(_._1 == s).map(r => r._2 -> r._4).toMap
    val (t1, t2, t3) = (at(seqs(0)), at(seqs(1)), at(seqs(2)))
    // trigger 1: all three days scored (10/20/30 → med 20, mad 10)
    assert(t1 === Map("2024-01-01" -> 1000000L, "2024-01-02" -> 0L,
      "2024-01-03" -> 1000000L))
    // trigger 2 (+d4=20): MAD halves → d1/d3 rise, d2 UNCHANGED (silent),
    // d4 new — exactly 3 rows, no full-state re-emission
    assert(t2 === Map("2024-01-01" -> 2000000L, "2024-01-03" -> 2000000L,
      "2024-01-04" -> 0L), s"trigger 2 emitted $t2")
    // trigger 3 (+d5=100): MAD doubles back → d1/d3 scores DROP (the
    // retraction), d2/d4 silent, d5 an outlier
    assert(t3 === Map("2024-01-01" -> 1000000L, "2024-01-03" -> 1000000L,
      "2024-01-05" -> 8000000L), s"trigger 3 emitted $t3")
    assert(t3("2024-01-01") < t2("2024-01-01"),
      "expected a downward score revision for day 1")
    assert(rows.filter(r => r._1 == seqs(2) && r._2 == "2024-01-05")
      .head._5 == 1L, "d5 must be flagged an outlier")
    // fold ≡ batch: latest row per day equals the batch fence over the
    // full daily table
    val folded = changelog.groupBy("day")
      .agg(max(struct(col("seq"), col("val_cents"), col("score_micro"),
        col("is_outlier"))).as("m"))
      .select(col("day"), col("m.val_cents"), col("m.score_micro"),
        col("m.is_outlier"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val batch = EventStreams.madScores(
        Seq(("2024-01-01", 10L), ("2024-01-02", 20L), ("2024-01-03", 30L),
          ("2024-01-04", 20L), ("2024-01-05", 100L))
          .toDF("day", "val_cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(folded === batch)
  }

  test("update-mode MAD changelog: the driver-side day fold refuses to " +
      "grow past its hard cap") {
    // the r16-verdict bound: dayState is a driver HashMap keyed by
    // calendar day; if the input is not day-bounded the fold must fail
    // loudly instead of growing without limit
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    def ts(d: String) = java.sql.Timestamp.valueOf(s"2024-01-0$d 10:00:00")
    mem.addData(Seq((ts("1"), 0.10), (ts("2"), 0.20), (ts("3"), 0.30)))
    val e = intercept[Exception] {
      EventStreams.anomalyScoreChangelog(spark,
        mem.toDF().toDF("ts", "value"), maxDays = 2)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else String.valueOf(t.getMessage) +: messages(t.getCause)
    assert(messages(e).exists(_.contains("day-keyed state grew")),
      s"expected the cap error, got: ${messages(e).mkString(" | ")}")
  }

  test("chunked staging splits a single-file table into N streamable " +
      "files that round-trip the data") {
    val staged = EventStreams.chunkedStage(spark,
      s"$sf/documents.parquet", 4)
    val files = new java.io.File(staged).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")
        && !f.getName.startsWith("."))
    assert(files.length == 4, s"expected 4 chunk files, got ${files.length}")
    val orig = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val round = spark.read.parquet(staged)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(round.toSeq === orig.toSeq)
  }

  test("chunked staging is content-keyed: a rewritten source maps to a " +
      "fresh staging dir, same content reuses the old one") {
    // the round-18 staleness fix: the staging key folds in every data
    // file's (name, length, mtime), so a regenerated source — even a
    // parquet DIRECTORY whose own mtime does not change, or a
    // same-second rewrite — can never be served stale chunks
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft-chunked-stale-").toFile
    val path = srcDir.getAbsolutePath
    Seq(1L, 2L, 3L).toDF("doc_id").write.mode("overwrite").parquet(path)
    val staged1 = EventStreams.chunkedStage(spark, path, 2)
    val again = EventStreams.chunkedStage(spark, path, 2)
    assert(again === staged1, "unchanged source must reuse the dir")
    // rewrite the source in place (the dir path — and often its mtime —
    // is unchanged; only the part files differ)
    Seq(4L, 5L, 6L, 7L).toDF("doc_id").write.mode("overwrite").parquet(path)
    val staged2 = EventStreams.chunkedStage(spark, path, 2)
    assert(staged2 !== staged1,
      "rewritten source must map to a fresh staging dir")
    val got = spark.read.parquet(staged2)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === Seq(4L, 5L, 6L, 7L))
  }

  test("custom-state sessionizer runs as a real stream and matches batch") {
    val ev = EventStreams.readEvents(spark, s"$sf/events.parquet")
      .select(col("ts"), col("user_id"), col("value"))
      .as[EventStreams.Ev]
    val q = EventStreams.sessionizeWithState(ev)
      .writeStream.format("memory").queryName("t_custom_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("t_custom_stream").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(3))).toSet
    val batchEv = batchEvents.select(col("ts"), col("user_id"), col("value"))
      .as[EventStreams.Ev]
    val batch = EventStreams.sessionizeWithState(batchEv).collect()
      .map(s => (s.user_id, s.session_start.getTime, s.n_events)).toSet
    assert(streamed === batch)
  }

  test("transformWithState sessionizer ≡ flatMapGroupsWithState on a real stream") {
    // Spark 4's arbitrary-state successor API must produce the exact
    // session set the fMGWS sessionizer emits. TWS requires the RocksDB
    // state-store provider — set only for this query's session conf.
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ev = EventStreams.readEvents(spark, s"$sf/events.parquet")
        .select(col("ts"), col("user_id"), col("value"))
        .as[EventStreams.Ev]
      val q = EventStreams.sessionizeTws(ev)
        .writeStream.format("memory").queryName("t_tws_stream")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val tws = spark.table("t_tws_stream").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getTimestamp(2).getTime, r.getLong(3), r.getDouble(4))).toSet
      val ev2 = EventStreams.readEvents(spark, s"$sf/events.parquet")
        .select(col("ts"), col("user_id"), col("value"))
        .as[EventStreams.Ev]
      val q2 = EventStreams.sessionizeWithState(ev2)
        .writeStream.format("memory").queryName("t_fmgws_stream")
        .outputMode("append").start()
      try q2.processAllAvailable() finally q2.stop()
      val fmgws = spark.table("t_fmgws_stream").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getTimestamp(2).getTime, r.getLong(3), r.getDouble(4))).toSet
      assert(tws.nonEmpty && tws === fmgws)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("outer interval join: matches ≡ batch; unmatched flush exactly at the watermark") {
    val q = EventStreams.purchaseClickOuterJoin(
        EventStreams.readEvents(spark, s"$sf/events.parquet"))
      .writeStream.format("memory").queryName("t_outer_join")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("t_outer_join").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
        r.getLong(3), r.getTimestamp(4).getTime)).toSet
    // batch expectation: full left-outer join, with sentinel-extended
    // rows kept ONLY for purchases older than the final watermark
    // (min of both sides' max event time − 1 h) — younger unmatched
    // purchases are still in state when the finite stream stops
    val ev = batchEvents
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val wmMillis = math.min(
      p.agg(max("p_ts")).head().getTimestamp(0).getTime,
      c.agg(max("c_ts")).head().getTimestamp(0).getTime) - 3600L * 1000L
    val joined = p.join(c,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
          col("c_ts") <= col("p_ts"),
        "left_outer")
      .select(col("p_id"), col("p_user"), col("p_ts"), col("c_id"),
        col("c_ts"))
      .collect()
    val expected = joined.flatMap { r =>
      val pTs = r.getTimestamp(2).getTime
      if (!r.isNullAt(3))
        Some((r.getLong(0), r.getLong(1), pTs, r.getLong(3),
          r.getTimestamp(4).getTime))
      else if (pTs < wmMillis)
        Some((r.getLong(0), r.getLong(1), pTs, -1L, 0L))
      else None
    }.toSet
    assert(streamed.nonEmpty)
    assert(streamed.exists(_._4 == -1L),
      "no sentinel-extended rows — the outer flush never happened")
    assert(streamed === expected)
  }

  test("streaming near-dup at ingest ≡ batch minhashNearDup on the same slice") {
    // per-band bucket state (transformWithState ListState) with in-state
    // exact-Jaccard verification must reproduce the batch operator's
    // verified pair set exactly on finite replay — same signatures,
    // same buckets, same arithmetic
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = graft.streaming.StreamingDedup.nearDupPairs(
          EventStreams.readDocuments(spark, s"$sf/documents.parquet"),
          w = 3, k = 32, bands = 8, minJaccard = 0.3)
        .writeStream.format("memory").queryName("t_stream_neardup")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val streamed = spark.table("t_stream_neardup").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = graft.llm.Dedup.minhashNearDup(
          spark.read.parquet(s"$sf/documents.parquet"),
          w = 3, k = 32, bands = 8, minJaccard = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(streamed.nonEmpty)
      assert(streamed === batch)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("custom-state sessionizer agrees with built-in session_window") {
    val ev = batchEvents.select(col("ts"), col("user_id"), col("value"))
      .as[EventStreams.Ev]
    // custom sessionizer only emits CLOSED sessions (the final open
    // session per user stays in state), so compare on the closed subset
    val custom = EventStreams.sessionizeWithState(ev).collect()
      .map(s => (s.user_id, s.session_start.getTime, s.n_events)).toSet
    val builtin = batchEvents
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("w.start"), col("n"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2))).toSet
    assert(custom.subsetOf(builtin))
    // every user's closed sessions = total sessions - (0 or 1 open)
    assert(custom.size >= builtin.size - batchEvents
      .select("user_id").distinct().count())
  }

  test("parquet file sink: exactly-once across checkpoint restarts") {
    // The durable-sink contract a memory sink can't show: rows land in
    // parquet once and only once, even when the stream is stopped,
    // restarted on the same checkpoint after new input arrives, and
    // restarted again with nothing new (no reprocessing either way).
    val inDir = java.nio.file.Files.createTempDirectory("graft-eo-in-")
    val outDir = java.nio.file.Files.createTempDirectory("graft-eo-out-")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-eo-ckpt-")
    val ev = batchEvents
      .select(col("event_id"), col("user_id"), col("event_type"))
    val schema = ev.schema
    def addBatch(lo: Long, hi: Long): Unit =
      ev.filter(col("event_id") >= lo && col("event_id") < hi)
        .coalesce(1).write.mode("append").parquet(inDir.toString)
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(inDir.toString)
        .dropDuplicates("event_id")
        .writeStream.format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .start()
      try { q.processAllAvailable() } finally { q.stop() }
    }
    val total = ev.count()
    val half = total / 2
    addBatch(0, half)
    runOnce()
    assert(spark.read.parquet(outDir.toString).count() === half)
    addBatch(half, total + 1)
    runOnce() // restart from the checkpoint: only the new file processes
    runOnce() // nothing new: must be a no-op, not a replay
    val out = spark.read.parquet(outDir.toString)
    assert(out.count() === total, "every input row exactly once")
    assert(out.select("event_id").distinct().count() === total,
      "no duplicates across restarts")
  }

  test("streaming corpus stats equal the batch annotate rollup") {
    val q = EventStreams.corpusStats(
        EventStreams.readDocuments(spark, s"$sf/documents.parquet"))
      .writeStream.format("memory").queryName("t_corpus")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("t_corpus")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batch = EventStreams.corpusStats(
        spark.read.parquet(s"$sf/documents.parquet"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
    assert(streamed.map(_._2).sum ===
      spark.read.parquet(s"$sf/documents.parquet").count())
  }

  test("streaming graph maintenance ≡ batch build; pending edge revives " +
      "across micro-batch boundaries") {
    // same fixture as the batch append spec: batch A leaves edge 1→9
    // dangling (9 not yet a node), batch B adds node 9 — the stream
    // processes one file per micro-batch, so the revival must survive a
    // REAL batch boundary through the checkpointed pending backlog
    val dir = java.nio.file.Files.createTempDirectory("graft-gstream-spec")
    val header = "XCoord,YCoord,START_NODE,END_NODE,EDGE,LENGTH\n"
    java.nio.file.Files.write(dir.resolve("0001.csv"),
      (header + "1.0,1.0,1,2,e1,10.0\n2.0,2.0,2,1,e2,10.0\n" +
        "1.0,1.0,1,9,e3,5.0\n").getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("0002.csv"),
      (header + "9.0,9.0,9,1,e4,7.0\n").getBytes("UTF-8"))
    val pg = graft.streaming.GraphStreams.maintainFromFiles(
      spark, dir.toString)
    assert(pg.nodes.count() === 3L)
    assert(pg.edges.count() === 4L)        // e3 revived + e4 appended
    assert(pg.pending.get.count() === 0L)
    val edgeSet = pg.edges.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getDouble(3))).toSet
    assert(edgeSet === Set(("1", "2", "e1", 10.0), ("2", "1", "e2", 10.0),
      ("1", "9", "e3", 5.0), ("9", "1", "e4", 7.0)))
  }

  test("streaming ANN ingest ≡ batch assignment under the frozen quantizer") {
    import graft.llm.Similarity
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").cache()
    val refined = Similarity.kmeansRefine(spark,
      Similarity.assignToCentroids(emb, Similarity.seedCentroids(emb, 16)))
    val cents = refined.select(col("c_id"), col("c_vec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val q = graft.streaming.VectorStreams.assignAtIngest(
        graft.streaming.VectorStreams.readEmbeddings(
          spark, s"$sf/embeddings.parquet"), cents)
      .writeStream.format("memory").queryName("t_ann_ingest")
      .outputMode("append").start()
    val lastProgress = try {
      q.processAllAvailable(); q.lastProgress
    } finally q.stop()
    val streamed = spark.table("t_ann_ingest")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Similarity.assignToCentroids(emb, cents)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(streamed.size === batch.size)
    assert(streamed === batch)
    // stateless contract: no state-store operator in the streamed plan
    if (lastProgress != null) assert(lastProgress.stateOperators.isEmpty)
  }

  test("streaming quality scoring ≡ batch training output under the " +
      "frozen model") {
    import graft.llm.{QualityClassifier, TextAnalysis}
    spark.sparkContext // init the lazy session before building columns
    val labelExpr = when(
      TextAnalysis.qualityScore(col("text")) >= 0.6, 1L).otherwise(0L)
    val batchDocs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), labelExpr.as("label"), col("text")).cache()
    val model = QualityClassifier.trainModel(batchDocs)
    val q = graft.streaming.ModelServing.scoreDocuments(
        EventStreams.readDocuments(spark, s"$sf/documents.parquet"),
        model, labelExpr)
      .writeStream.format("memory").queryName("t_qscore")
      .outputMode("append").start()
    val lastProgress = try {
      q.processAllAvailable(); q.lastProgress
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val streamed = rows(spark.table("t_qscore"))
    val batch = rows(QualityClassifier.train(batchDocs))
    assert(streamed.nonEmpty && streamed === batch)
    if (lastProgress != null) assert(lastProgress.stateOperators.isEmpty)
  }

  test("streaming MAD anomaly fence ≡ the same fence computed in batch") {
    val got = SparkEntry.queries("stream_anomaly_mad")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    // batch twin: identical algebra over a plain read of the same file
    val daily = core.Tables(spark, sf).events
      .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("val_cents"))
      .cache()
    val med2x = daily.agg(expr(
      "cast(percentile(2 * val_cents, 0.5) as bigint)")).head().getLong(0)
    val devs = daily.collect()
      .map(r => (r.getString(0), r.getLong(1),
        math.abs(2 * r.getLong(1) - med2x))).sortBy(_._1).toSeq
    val mad2x2 = {
      val s = devs.map(_._3 * 2).sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
    val want = devs.map { case (d, v, dev2x) =>
      val score = (2000000L * dev2x) / mad2x2
      (d, v, score, if (score >= 3500000L) 1L else 0L)
    }
    daily.unpersist()
    assert(got.nonEmpty && got === want)
  }
}
