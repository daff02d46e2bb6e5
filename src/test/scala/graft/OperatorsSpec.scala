package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AsOfJoin, RangeJoin}
import graft.llm.TextAnalysis

/** As-of / range join semantics pinned against brute-force formulations,
  * plus deterministic-sampling invariants.
  */
class OperatorsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = core.Sessions.local(4, "graft-ops-test")
  import spark.implicits._

  test("as-of backward join matches brute-force most-recent-prior lookup") {
    val left = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 15L),
      (4L, "c", 5L)).toDF("l_id", "k", "lt")
    val right = Seq((100L, "a", 8L), (101L, "a", 10L), (102L, "a", 19L),
      (103L, "b", 16L), (104L, "b", 1L)).toDF("r_id", "k", "rt")
    val got = AsOfJoin.backward(left, right, keys = Seq("k"),
      leftTs = "lt", rightTs = "rt", rightCols = Seq("r_id"))
      .select("l_id", "asof_r_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    // l_id=1 at t=10: right 101 is at EXACTLY 10 → inclusive match
    assert(got === Map(1L -> 101L, 2L -> 102L, 3L -> 104L, 4L -> -1L))
  }

  test("as-of join on events equals window-free brute force") {
    val ev = core.Tables(spark, "/root/testdata/sf0.001").events
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val fast = AsOfJoin.backward(purchases, clicks, Seq("user_id"),
      "ts", "ts", Seq("event_id"))
      .select(col("event_id"), col("asof_event_id"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    // brute force: inequality join + argmax(ts, event_id) struct
    val brute = purchases.as("p")
      .join(clicks.as("c"),
        col("p.user_id") === col("c.user_id") && col("c.ts") <= col("p.ts"),
        "left_outer")
      .groupBy(col("p.event_id").as("event_id"))
      .agg(max(struct(col("c.ts"), col("c.event_id"))).as("m"))
      .select(col("event_id"), col("m.event_id").as("match_id"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(fast === brute)
  }

  test("as-of join: multi-key, null keys/timestamps preserved not polluting") {
    val left = Seq((1L, Some("a"), "x", Some(10L)),
      (2L, Some("a"), "y", Some(10L)), (3L, Some("a"), "x", None),
      (4L, None, "x", Some(10L))).toDF("l_id", "k1", "k2", "lt")
    val right = Seq((100L, Some("a"), "x", Some(5L)),
      (101L, Some("a"), "y", Some(7L)), (102L, Some("a"), "x", None),
      (103L, None, "x", Some(5L))).toDF("r_id", "k1", "k2", "rt")
    val got = AsOfJoin.backward(left, right, keys = Seq("k1", "k2"),
      leftTs = "lt", rightTs = "rt", rightCols = Seq("r_id"))
      .select("l_id", "asof_r_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    // multi-key: (a,x) matches 100, (a,y) matches 101 — never crossed;
    // null-ts left row 3 survives with no match; null-ts right row 102
    // matches nothing (it would otherwise pollute every (a,x) row);
    // null-keyed rows 4/103 never meet (SQL: NULL ≠ NULL) but row 4
    // still comes out
    assert(got === Map(1L -> 100L, 2L -> 101L, 3L -> -1L, 4L -> -1L))
  }

  test("interval join matches brute-force inequality join") {
    val ev = core.Tables(spark, "/root/testdata/sf0.001").events
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("e_id"), col("user_id"),
        expr("ts - INTERVAL 5 MINUTE").as("lo"), col("ts").as("hi"))
    val all = ev.select(col("user_id"), col("ts").as("r_ts"),
      col("event_id").as("r_id"))
    val fast = RangeJoin.intervalJoin(errors, all, Seq("user_id"),
      "lo", "hi", "r_ts", bucketSeconds = 300)
      .select("e_id", "r_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = errors.join(all,
        errors("user_id") === all("user_id") &&
          col("r_ts") >= col("lo") && col("r_ts") <= col("hi"))
      .select("e_id", "r_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast === brute)
    assert(fast.nonEmpty)
  }

  test("interval join with bucket much smaller than interval still exact") {
    val left = Seq((1L, "k", 0L, 100L)).toDF("l_id", "k", "lo", "hi")
    val right = Seq(("k", -1L), ("k", 0L), ("k", 50L), ("k", 100L),
      ("k", 101L)).toDF("k", "rt")
    val got = RangeJoin.intervalJoin(left, right, Seq("k"),
      "lo", "hi", "rt", bucketSeconds = 7)
      .select("rt").collect().map(_.getLong(0)).toSet
    assert(got === Set(0L, 50L, 100L))   // inclusive bounds, no dups
  }

  test("z-order: column ≡ long twin on random coords; every box point " +
      "lands inside the corner z-range; layout prune reads fewer dirs") {
    import graft.operators.ZOrder
    val rnd = new scala.util.Random(7)
    val coords = (0 until 500).map(_ =>
      (rnd.nextInt(1 << ZOrder.Bits).toLong,
        rnd.nextInt(1 << ZOrder.Bits).toLong))
    val df = coords.toDF("x", "y")
      .withColumn("z", ZOrder.interleave(col("x"), col("y")))
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    coords.foreach { case (x, y) =>
      assert(got((x, y)) === ZOrder.interleaveLong(x, y), s"($x,$y)")
    }
    // interleave is a bijection on the bit budget: distinct coords →
    // distinct z (catches any overlapping shift positions)
    assert(got.values.toSet.size === coords.distinct.size)
    // box containment: for random boxes, EVERY member's z lies within
    // [z(lo,lo), z(hi,hi)] — the property partition pruning rests on
    for (seed <- Seq(11, 42, 99)) {
      val r2 = new scala.util.Random(seed)
      val (x1, y1) = (r2.nextInt(3000).toLong, r2.nextInt(3000).toLong)
      val (x2, y2) = (x1 + 1 + r2.nextInt(800), y1 + 1 + r2.nextInt(800))
      val (zlo, zhi) = (ZOrder.interleaveLong(x1, y1),
        ZOrder.interleaveLong(x2, y2))
      coords.filter(c => c._1 >= x1 && c._1 <= x2 &&
          c._2 >= y1 && c._2 <= y2)
        .foreach { case (x, y) =>
          val z = ZOrder.interleaveLong(x, y)
          assert(z >= zlo && z <= zhi, s"seed=$seed ($x,$y) z=$z")
        }
    }
    // layout: writing partitioned by zbucket and filtering on the box's
    // bucket range must touch strictly fewer directories than exist
    core.Scratch.withScratch("graft-zorder-spec") { dir =>
      val path = s"$dir/zt"
      graft.sources.Sinks.parquet(
        df.withColumn("zbucket", shiftright(col("z"), ZOrder.BucketShift)),
        path, partitionBy = Seq("zbucket"))
      val all = new java.io.File(path).listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("zbucket="))
      val (zlo, zhi) = (ZOrder.interleaveLong(100, 100),
        ZOrder.interleaveLong(900, 900))
      val (blo, bhi) = (zlo >> ZOrder.BucketShift, zhi >> ZOrder.BucketShift)
      val pruned = spark.read.parquet(path)
        .filter(col("zbucket").between(blo, bhi)
          && col("x").between(100, 900) && col("y").between(100, 900))
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [") && plan.contains("zbucket"))
      assert(bhi - blo + 1 < all,
        s"bucket range ${bhi - blo + 1} must undercut $all dirs")
      // and the pruned read is still CORRECT (superset range + residual)
      val brute = coords.count(c => c._1 >= 100 && c._1 <= 900 &&
        c._2 >= 100 && c._2 <= 900)
      assert(pruned.count() === brute.toLong)
    }
  }

  test("scd2 history: per-key intervals chain exactly, one current " +
      "version, consecutive attributes differ") {
    // independent row-accounting over the q59 output (the invariant
    // class that caught q56's shift-boundary bug): for every customer
    // the version intervals must chain valid_from → valid_to with no
    // gaps/overlaps, close with the single sentinel-dated current row,
    // and never repeat an attribute across adjacent versions
    val rows = SparkEntry.queries("q59_scd2")(spark,
        "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getString(3), r.getString(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (cust, vs) =>
      val sorted = vs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1 to sorted.length).toSeq,
        s"cust=$cust versions not dense")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._5 === b._4, s"cust=$cust interval gap ${a._5} ${b._4}")
          assert(a._3 !== b._3, s"cust=$cust adjacent versions share attr")
          assert(a._6 === 0L, s"cust=$cust non-last version marked current")
        case _ =>
      }
      assert(sorted.last._6 === 1L && sorted.last._5 === "9999-12-31",
        s"cust=$cust last version must be the open sentinel interval")
    }
  }

  test("bloom semi-join reduction: zero false negatives, prefilter " +
      "survivors bounded by matches plus fp slack") {
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val urgent = orders.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val keys = urgent.collect().map(_.getLong(0)).toSet
    val words = urgent
      .select(col("o_orderkey").cast("string").cast("binary")
        .as[Array[Byte]])
      .select(new graft.functions.BloomBuild(1024, 7).toColumn).head()
    val bloom = new graft.functions.BloomBits(words, 7)
    def hit(c: org.apache.spark.sql.Column) =
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.BloomContainsExpr(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(c),
          bloom))
    val survivors = lineitem
      .filter(hit(col("l_orderkey").cast("string")))
      .select(col("l_orderkey")).collect().map(_.getLong(0))
    // no false negatives: every true match survives the prefilter
    val trueMatches = lineitem.select(col("l_orderkey")).collect()
      .map(_.getLong(0)).filter(keys.contains)
    assert(trueMatches.forall(k => survivors.contains(k)))
    assert(survivors.count(keys.contains) === trueMatches.length)
    // pruning bite: false-positive survivors stay a small fraction of
    // the non-matching stream (64 Kibit / 7 hashes over ~300 keys →
    // fp ≪ 1%; assert a loose 5%)
    val nonMatch = lineitem.count() - trueMatches.length
    val fps = survivors.length - trueMatches.length
    assert(fps <= math.max(1L, nonMatch / 20),
      s"fps=$fps of nonMatch=$nonMatch")
  }

  test("OrderedFold EWMA ≡ buffered collect_list fold, bit for bit") {
    // deterministic pseudo-random corpus: skewed keys (key 0 holds ~30%
    // of rows), duplicate (o1, o2) pairs planted so the value tiebreak
    // is actually exercised, values spanning sign and magnitude
    val n = 50_000L
    val ev = spark.range(n).select(
      when(pmod(col("id"), lit(10)) < 3, lit(0L))
        .otherwise(pmod(xxhash64(col("id"), lit(1)), lit(500L)) + 1)
        .as("k"),
      pmod(xxhash64(col("id"), lit(2)), lit(97L)).as("o1"), // many ties
      pmod(xxhash64(col("id"), lit(3)), lit(11L)).as("o2"), // more ties
      ((pmod(xxhash64(col("id"), lit(4)), lit(2001L)) - 1000L).cast("double")
        / lit(3.0)).as("v"))
    val fast = graft.operators.OrderedFold
      .ewmaByKey(ev, "k", "o1", "o2", "v", alpha = 0.3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val brute = ev.groupBy("k")
      .agg(count(lit(1)).as("n"),
        aggregate(
          transform(
            array_sort(collect_list(struct(col("o1"), col("o2"), col("v")))),
            e => e.getField("v")),
          lit(null).cast("double"),
          (acc, x) => when(acc.isNull, x)
            .otherwise(lit(0.3) * x + lit(0.7) * acc)).as("ewma"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(fast.keySet === brute.keySet)
    fast.foreach { case (k, (cnt, e)) =>
      assert((cnt, e) === brute(k), s"key $k")
    }
  }

  test("deterministic sampling: stable, content-keyed, ~fraction rate") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val s1 = docs.filter(TextAnalysis.sampleByFingerprint(col("text"), 0.1))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = docs.repartition(7)
      .filter(TextAnalysis.sampleByFingerprint(col("text"), 0.1))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 === s2)                      // partitioning-independent
    val n = docs.count().toDouble
    assert(s1.size > n * 0.03 && s1.size < n * 0.25)  // ~10% ± noise
  }

  test("normalize: lowercase, punctuation stripped, whitespace collapsed") {
    val out = Seq("  Hello,   WORLD!!  42\tok ").toDF("text")
      .select(TextAnalysis.normalize(col("text"))).head().getString(0)
    assert(out === "hello world 42 ok")
  }

  test("distributed percentile ≡ built-in percentile(), bit for bit") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val ps = Seq("p0" -> 0.0, "p25" -> 0.25, "p50" -> 0.5,
      "p95" -> 0.95, "p100" -> 1.0)
    for (buckets <- Seq(1, 8)) {
      val got = graft.operators.DistributedPercentile.exact(
        li, "l_returnflag", "l_extendedprice", ps, buckets)
        .collect().map(r => r.getString(0) ->
          ps.indices.map(i => r.getDouble(i + 1))).toMap
      val want = li.groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, array(0.0, 0.25, 0.5, 0.95, 1.0))"))
        .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
      assert(got.keySet === want.keySet, s"buckets=$buckets")
      // exact equality, not tolerance: the operator mirrors the
      // built-in's weighted interpolation form
      got.foreach { case (g, vs) =>
        vs.zip(want(g)).zipWithIndex.foreach { case ((a, b), i) =>
          assert(a === b, s"group $g percentile ${ps(i)._1} buckets=$buckets")
        }
      }
    }
  }

  test("distributed percentile: nulls ignored, singleton and tiny groups") {
    val df = Seq(
      ("a", Some(10.0)), ("a", Some(20.0)), ("a", None),
      ("b", Some(5.0)),
      ("c", None)).toDF("g", "v")
    val got = graft.operators.DistributedPercentile.exact(
      df, "g", "v", Seq("p50" -> 0.5, "p75" -> 0.75), buckets = 4)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2))).toMap
    // group c has no non-null values → absent, like percentile()
    assert(got.keySet === Set("a", "b"))
    assert(got("a") === ((15.0, 17.5)))
    assert(got("b") === ((5.0, 5.0)))
  }

  test("distributed percentile multi-column: one group all-NULL in one col") {
    val df = Seq(
      ("a", Some(1.0), Some(10.0)), ("a", Some(3.0), Some(30.0)),
      ("b", Some(7.0), None)).toDF("g", "x", "y")
    val rows = graft.operators.DistributedPercentile.exactMulti(
      df, "g", Seq("x" -> Seq("x50" -> 0.5), "y" -> Seq("y50" -> 0.5)),
      buckets = 3).collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet === Set("a", "b"))
    assert(rows("a").getDouble(1) === 2.0 && rows("a").getDouble(2) === 20.0)
    // b has values for x but only NULLs for y → NULL cell, row kept
    assert(rows("b").getDouble(1) === 7.0 && rows("b").isNullAt(2))
  }

  test("distributed percentile compound key ≡ built-in grouped by both, bit for bit") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val got = graft.operators.DistributedPercentile.exactKeys(
      li, Seq("l_returnflag", "l_linestatus"),
      Seq("l_extendedprice" -> Seq("p50" -> 0.5, "p95" -> 0.95)), buckets = 8)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    val want = li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(expr("percentile(l_extendedprice, array(0.5, 0.95))"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> {
        val s = r.getSeq[Double](2); (s(0), s(1))
      }).toMap
    assert(got === want)
    assert(got.size > 1) // the compound key actually splits groups
  }

  test("distributed percentile leaves no lingering checkpoint blocks") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    graft.operators.DistributedPercentile.exact(
      li, "l_returnflag", "l_quantity", Seq("p50" -> 0.5)).collect()
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked RDDs: $leaked")
  }

  test("q56 merge upsert: row accounting = base − deletes + inserts, " +
      "update delta exact") {
    val sf = "/root/testdata/sf0.001"
    val base = spark.read.parquet(s"$sf/orders.parquet")
    val nBase = base.count()
    val nDel = base.filter(pmod(col("o_orderkey"), lit(10)) === 7).count()
    val nIns = base.filter(pmod(col("o_orderkey"), lit(97)) === 0).count()
    val rows = SparkEntry.queries("q56_merge_upsert")(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum === nBase - nDel + nIns)
    assert(rows.map(_.getLong(3)).sum === nIns)
    // the cents delta vs the surviving base must equal exactly the sum
    // of the +10% (integer div) updates plus the inserted clones
    val cents = (col("o_totalprice").cast("decimal(15,2)") * 100)
      .cast("long")
    val survivorCents = base.filter(pmod(col("o_orderkey"), lit(10)) =!= 7)
      .select(sum(cents)).head().getLong(0)
    val updSum = base.filter(pmod(col("o_orderkey"), lit(10)) === 3)
      .select(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) div 10")))
      .head().getLong(0)
    val insSum = base.filter(pmod(col("o_orderkey"), lit(97)) === 0)
      .select(sum(cents)).head().getLong(0)
    assert(rows.map(_.getLong(2)).sum === survivorCents + updSum + insSum)
  }

  test("portableRound rounds the binary double, unlike Spark's round()") {
    // 0.65774999999999994582 is strictly BELOW the 4-dp half boundary,
    // but its shortest decimal repr is "0.65775": Spark's round() (via
    // BigDecimal.valueOf ∘ Double.toString) rounds it UP to 0.6578 while
    // DuckDB rounds the binary value DOWN to 0.6577 — the divergence
    // that flipped one sf0.1 quality row. portableRound must take the
    // binary branch (floor(x·1e4 + 0.5)/1e4 = DuckDB's answer).
    val x = 0.65774999999999994582
    val r = spark.range(1).select(
      graft.llm.TextAnalysis.portableRound(lit(x), 4).as("p"),
      round(lit(x), 4).as("sparkRound")).head()
    assert(r.getDouble(0) === 0.6577)  // binary-value rounding
    assert(r.getDouble(1) === 0.6578)  // Spark's repr-based rounding
    // agreement everywhere off the boundary
    val probe = spark.range(10000).select(
      (col("id") / 9973.0).as("x"))
    val disagree = probe.select(
        graft.llm.TextAnalysis.portableRound(col("x"), 4).as("p"),
        round(col("x"), 4).as("r"))
      .filter(abs(col("p") - col("r")) > 1e-12).count()
    // ratios of small ints DO hit boundaries; just assert it's sparse
    assert(disagree < 10, s"portableRound vs round disagreed on $disagree/10000")
  }

  test("a scope's cache read by its result is freed by release(result)") {
    import org.apache.spark.storage.StorageLevel
    var shared: org.apache.spark.sql.DataFrame = null
    val result = core.Checkpoints.scoped { s =>
      shared = s.cache(spark.range(100).select((col("id") % 7).as("k")))
      shared.groupBy("k").count().agg(sum("count").as("n"))
    }
    result.collect()
    assert(shared.storageLevel != StorageLevel.NONE,
      "shared intermediate should be cached while the result is live")
    core.Checkpoints.release(result)
    assert(shared.storageLevel == StorageLevel.NONE,
      "release(result) must unpersist the scope's intermediate")
    // idempotent: releasing again must not throw
    core.Checkpoints.release(result)
  }
}
