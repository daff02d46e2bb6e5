package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.Curation
import graft.operators.PrefixSum

/** Corpus-curation operators (llm.Curation) and the distributed prefix
  * sum underneath sequence packing (operators.PrefixSum).
  */
class CurationSpec extends AnyFunSuite with FreesCachedPlans {

  lazy val spark: SparkSession = core.Sessions.local(4, "graft-curation-test")
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$sf/documents.parquet").cache()

  // ---- PrefixSum -------------------------------------------------------

  test("prefix sum matches a sequential scan, any bucket count") {
    // shuffled input order — the operator must order by the key itself
    val rows = Seq((7L, 10), (1L, 3), (5L, 1), (2L, 4), (9L, 2), (3L, 8))
    val expected = rows.sortBy(_._1)
      .scanLeft((0L, 0L)) { case ((_, acc), (k, w)) => (k, acc + w) }
      .tail.toMap
    for (buckets <- Seq(1, 3, 16)) {
      val out = PrefixSum.running(
        rows.toDF("k", "w"), "k", "w", buckets)
      val got = out.select("k", "running_total").as[(Long, Long)]
        .collect().toMap
      assert(got === expected, s"buckets=$buckets")
      // a narrow coalesce computes several parent partitions inside one
      // task (Verify writes through coalesce(1)) — the bucket offsets
      // must survive it, which is why the bucket id lives in the data
      // and not in TaskContext.getPartitionId
      val coalesced = out.coalesce(1)
        .select("k", "running_total").as[(Long, Long)].collect().toMap
      assert(coalesced === expected, s"coalesce(1), buckets=$buckets")
      // multi-weight: one pass must equal two independent passes
      val multi = PrefixSum.runningMulti(
        rows.toDF("k", "w").withColumn("u", org.apache.spark.sql.functions.lit(1L)),
        "k", Seq("w", "u"), buckets)
      val gotW = multi.select("k", "running_w").as[(Long, Long)]
        .collect().toMap
      val gotU = multi.select("k", "running_u").as[(Long, Long)]
        .collect().toMap
      assert(gotW === expected, s"multi running_w, buckets=$buckets")
      val expectedRank = rows.sortBy(_._1).zipWithIndex
        .map { case ((k, _), i) => k -> (i + 1L) }.toMap
      assert(gotU === expectedRank, s"multi running_u, buckets=$buckets")
      graft.core.Checkpoints.release(out)
    }
  }

  test("prefix sum result plan has no shuffle at all, let alone a global one") {
    val df = docs.select(col("doc_id"), col("n_chars"))
    val out = PrefixSum.running(df, "doc_id", "n_chars", 8)
    val plan = out.queryExecution.executedPlan.toString
    // the one range shuffle is materialized inside running(); the result
    // is checkpoint-scan → local sort → accumulator pass
    assert(!plan.contains("SinglePartition"),
      s"global-window shuffle found in:\n$plan")
    assert(!plan.contains("Exchange"), s"residual shuffle found in:\n$plan")
    graft.core.Checkpoints.release(out)
  }

  test("prefix sum releases its checkpoint blocks") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = PrefixSum.running(
      docs.select(col("doc_id"), col("n_chars")), "doc_id", "n_chars", 4)
    out.count()
    graft.core.Checkpoints.release(out)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked RDD ids: $leaked")
  }

  // ---- sequence packing ------------------------------------------------

  test("packSequences: offsets chain and sequence ranges are consistent") {
    val out = Curation.packSequences(docs, capacity = 100, buckets = 8)
    val rows = out.orderBy("doc_id").collect()
    var expectedStart = 0L
    rows.foreach { r =>
      val (ntok, start) = (r.getAs[Int]("n_tokens"), r.getAs[Long]("start_tok"))
      val (first, last) = (r.getAs[Long]("first_seq"), r.getAs[Long]("last_seq"))
      assert(start === expectedStart, s"gap before doc ${r.getLong(0)}")
      assert(first === start / 100)
      assert(last === (start + ntok - 1) / 100)
      assert(r.getAs[Long]("n_seqs") === last - first + 1)
      expectedStart += ntok
    }
    graft.core.Checkpoints.release(out)
  }

  test("chunkTokens matches a sequential reimplementation; edge cases") {
    // planted edges: empty text (1 empty token after split), single word,
    // exactly chunkSize, chunkSize+1 (forces a second, overlapping chunk)
    val planted = Seq(
      (9001L, ""),
      (9002L, "solo"),
      (9003L, (1 to 8).map("w" + _).mkString(" ")),
      (9004L, (1 to 9).map("w" + _).mkString(" ")))
      .toDF("doc_id", "text")
    val all = docs.select(col("doc_id"), col("text")).union(planted)
    val (cs, st) = (8, 5)
    val got = Curation.chunkTokens(all, chunkSize = cs, stride = st)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), r.getLong(3))).toMap
    val want = all.collect().flatMap { r =>
      val toks = r.getString(1).trim.toLowerCase
        .replaceAll("\\s+", " ").split(" ", -1)
      val n = toks.length
      val nChunks = 1 + math.max(0,
        math.ceil((n - cs).toDouble / st).toInt)
      (0 until nChunks).map { i =>
        val chunk = toks.slice(i * st, i * st + cs)
        (r.getLong(0), i.toLong) ->
          (chunk.mkString(" "), chunk.length.toLong)
      }
    }.toMap
    assert(got === want)
    // overlap invariant: consecutive chunks share chunkSize − stride
    // tokens when the earlier chunk is full
    val d4 = (0 to 1).map(i => got((9004L, i.toLong))._1.split(" ", -1))
    assert(d4(0).drop(st).sameElements(d4(1).take(cs - st)))
  }

  // ---- PII redaction ---------------------------------------------------

  test("redactPii replaces emails, IPs and phones; counts match") {
    val cases = Seq(
      ("mail me at a.b+c@ex-1.org now", "mail me at <EMAIL> now", 1, 0, 0),
      ("host 10.0.200.7 then 1.2.3.4", "host <IP> then <IP>", 0, 2, 0),
      ("call 555-0199.", "call <PHONE>.", 0, 0, 1),
      ("x@y.io on 8.8.8.8 tel 123-4567", "<EMAIL> on <IP> tel <PHONE>", 1, 1, 1),
      ("no pii here at all", "no pii here at all", 0, 0, 0),
      // version strings must NOT be eaten by the IP pattern (\b anchors,
      // exactly four octets)
      ("v1.2.3 released", "v1.2.3 released", 0, 0, 0))
    val (em, ip, ph) = Curation.piiCounts(col("t"))
    val got = cases.map(_._1).toDF("t")
      .select(Curation.redactPii(col("t")), em, ip, ph)
      .collect()
    cases.zip(got).foreach { case ((in, want, e, i, p), r) =>
      assert(r.getString(0) === want, in)
      assert((r.getInt(1), r.getInt(2), r.getInt(3)) === ((e, i, p)), in)
    }
  }

  // ---- contamination ---------------------------------------------------

  test("contamination scores planted overlap exactly") {
    // bench doc: tokens a..h → four 5-grams. corpus doc 100 shares the
    // first 5 tokens (one contaminated 5-gram of its two); doc 101 is
    // disjoint; doc 102 is too short for any 5-gram and must be absent.
    val bench = Seq((0L, "a b c d e f g h")).toDF("doc_id", "text")
    val corpus = Seq(
      (100L, "a b c d e zz"),
      (101L, "p q r s t u"),
      (102L, "x y z")).toDF("doc_id", "text")
    val got = Curation.contamination(corpus, bench, w = 5)
      .select("doc_id", "n_ngrams", "n_contaminated", "contamination")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === Map(
      100L -> ((2L, 1L, 0.5)),
      101L -> ((2L, 0L, 0.0))))
  }

  test("contamination broadcasts the benchmark side") {
    val plan = Curation.contamination(docs, docs.filter(col("doc_id") < 20))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("contaminationBloom ≡ contamination on the real table and planted edges") {
    // identical output contract: the bloom pre-filter admits no false
    // negatives and the left-semi verify removes its false positives
    val bench = docs.filter(col("doc_id") < 20)
    val a = Curation.contamination(docs, bench, w = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val b = Curation.contaminationBloom(docs, bench, w = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(a === b)
    // planted micro-case incl. a too-short doc (absent from both)
    val smallBench = Seq((0L, "a b c d e f g h")).toDF("doc_id", "text")
    val corpus = Seq((100L, "a b c d e zz"), (101L, "p q r s t u"),
      (102L, "x y z")).toDF("doc_id", "text")
    val got = Curation.contaminationBloom(corpus, smallBench, w = 5)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === Map(100L -> ((2L, 1L, 0.5)), 101L -> ((2L, 0L, 0.0))))
  }

  test("bloom filter: no false negatives, fp rate near design point") {
    import graft.functions.{BloomBits, BloomBuild}
    val spark2 = spark
    import spark2.implicits._
    val keys = (0 until 2000).map(i => s"key-$i")
    val words = keys.toDF("k")
      .select(col("k").cast("binary")).as[Array[Byte]]
      .select(new BloomBuild(numWords = 512, numHashes = 7).toColumn).head()
    val bloom = new BloomBits(words.toArray, 7)
    import org.apache.spark.unsafe.types.UTF8String
    // every inserted key answers true — the exactness premise
    keys.foreach(k => assert(bloom.contains(UTF8String.fromString(k)), k))
    // absent keys mostly answer false (512 words = 32768 bits for 2000
    // keys ≈ 16 bits/key → well under 1% fp; allow a loose 5% bound)
    val fp = (0 until 2000).count(i =>
      bloom.contains(UTF8String.fromString(s"absent-$i"))) / 2000.0
    assert(fp < 0.05, s"false-positive rate $fp")
  }

  // ---- repetition stats ------------------------------------------------

  test("repetitionStats computes the Gopher-rule signals") {
    val d = Seq(
      (1L, "aa aa aa bb"), // top=3/4, dup=3/4, mean=2
      (2L, "The the ZZZZ") // case-folded: the×2 + zzzz
    ).toDF("doc_id", "text")
    val got = Curation.repetitionStats(d).orderBy("doc_id").collect()
    val r1 = got(0)
    assert(r1.getAs[Long]("n_tokens") === 4L)
    assert(r1.getAs[Long]("n_types") === 2L)
    assert(r1.getAs[Double]("top_token_ratio") === 0.75)
    assert(r1.getAs[Double]("dup_token_ratio") === 0.75)
    assert(r1.getAs[Double]("mean_token_len") === 2.0)
    assert(!r1.getAs[Boolean]("keep")) // top ratio over 0.2
    val r2 = got(1)
    assert(r2.getAs[Long]("n_tokens") === 3L)
    assert(r2.getAs[Long]("n_types") === 2L)
    assert(r2.getAs[Double]("top_token_ratio") === 0.6667)
    assert(r2.getAs[Double]("mean_token_len") === 3.3333)
  }

  // ---- composed curation pipeline --------------------------------------

  test("curateCorpus drops contaminated and low-quality docs, keeps rest") {
    // plant: 9001 = exact copy of a benchmark doc (contamination 1.0),
    // 9002 = degenerate repeated-token doc (top_token_ratio 1 → keep=false)
    val benchText = docs.filter(col("doc_id") === 3)
      .select("text").head().getString(0)
    val extra = Seq(
      (9001L, benchText, "en"),
      (9002L, Array.fill(30)("spam").mkString(" "), "en"))
      .toDF("doc_id", "text", "lang")
    val corpus = docs.select("doc_id", "text", "lang").union(extra)
    // rate 1.0 disables sampling so only the two filters decide
    val out = Curation.curateCorpus(corpus,
      corpus.filter(col("doc_id") < 20),
      Map("en" -> 1.0), defaultRate = 1.0)
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(9001L), "benchmark duplicate survived")
    assert(!ids.contains(9002L), "repetition-rule reject survived")
    assert(ids.nonEmpty)
    // every survivor passed the repetition rule and carries a redaction
    // fingerprint + a coalesced contamination score
    val keepers = Curation.repetitionStats(corpus)
      .filter(col("keep")).select("doc_id").as[Long].collect().toSet
    assert(ids.subsetOf(keepers))
    out.collect().foreach { r =>
      assert(r.getAs[String]("redacted_fp").length === 32)
      assert(r.getAs[Double]("contamination") < 0.5)
    }
  }

  // ---- weighted sampling -----------------------------------------------

  test("weighted sampling is deterministic, nested by rate, and falls back") {
    def sample(rates: Map[String, Double], default: Double = 0.02) =
      docs.filter(Curation.weightedSampleFilter(col("text"), col("lang"),
          rates, default))
        .select("doc_id").as[Long].collect().toSet

    val lo = sample(Map("en" -> 0.05))
    val hi = sample(Map("en" -> 0.30))
    assert(sample(Map("en" -> 0.30)) === hi) // reproducible
    assert(lo.subsetOf(hi)) // md5-prefix thresholds nest
    // unknown strata use the default rate: an empty rate map at default r
    // must equal the flat sampleByFingerprint predicate at the same r
    val flat = docs.filter(
        graft.llm.TextAnalysis.sampleByFingerprint(col("text"), 0.1))
      .select("doc_id").as[Long].collect().toSet
    assert(sample(Map.empty, 0.1) === flat)
  }

  test("urlHosts extracts hosts, counts urls and distinct docs") {
    val d = Seq(
      (1L, "see http://a.com/x and https://b.org/y?z=1 twice http://a.com/q"),
      (2L, "only https://b.org/other plus junk http:// not-a-url"),
      (3L, "no urls at all")).toDF("doc_id", "text")
    val out = Curation.urlHosts(d, col("text")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("a.com") === ((2L, 1L)))  // two urls, one doc
    assert(out("b.org") === ((2L, 2L)))  // one url in each of two docs
    // "http:// " has no host chars → never extracted as a URL
    assert(!out.contains(""))
    assert(out.size === 2)
  }

  test("domainMixture: temperature rates, expected size, determinism") {
    val out = Curation.domainMixture(docs, "lang", tau = 0.5)
    val rates = out.select("lang", "r_micro").distinct()
      .as[(String, Long)].collect().toMap
    val counts = docs.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    // α = 0.5 temperature: the per-doc sampling rate of a SMALLER domain
    // must be strictly higher (upweighting), and all rates ≤ 1
    val en = rates("en"); val de = rates("de")
    assert(counts("en") > counts("de") && de > en,
      s"temperature must upweight small domains: de=$de en=$en")
    assert(rates.values.forall(_ <= 1000000L))
    // expected sample ≈ τ·N; md5 uniformity at N=500 → generous band
    val n = docs.count()
    assert(math.abs(out.count() - 0.5 * n) < 0.15 * n)
    // reproducible, and the derivation matches a driver-side recompute
    assert(out.count() === Curation.domainMixture(docs, "lang", 0.5).count())
    val wByLang = counts.map { case (l, c) =>
      l -> math.floor(math.sqrt(c.toDouble) * 1e6 + 0.5).toLong }
    val wTot = wByLang.values.sum.toDouble
    val nTot = counts.values.sum.toDouble
    rates.foreach { case (l, rMicro) =>
      val r = math.min(1.0, 0.5 * nTot * wByLang(l) / (wTot * counts(l)))
      assert(rMicro === math.floor(r * 1e6 + 0.5).toLong, s"lang=$l")
    }
  }

  test("shuffleShards: positions are a per-shard permutation, stable") {
    val out = Curation.shuffleShards(docs, nShards = 8).cache()
    try {
      assert(out.count() === docs.count())
      // every shard's positions are exactly 1..size(shard)
      val byShard = out.groupBy("shard")
        .agg(count(lit(1)).as("n"), min("pos").as("lo"), max("pos").as("hi"),
          countDistinct("pos").as("d"))
        .as[(Int, Long, Long, Long, Long)].collect()
      assert(byShard.length === 8)
      byShard.foreach { case (s, n, lo, hi, d) =>
        assert(lo === 1L && hi === n && d === n, s"shard=$s")
      }
      // deterministic across runs and independent of input partitioning
      val again = Curation.shuffleShards(
        docs.repartition(13), nShards = 8)
      assert(out.except(again).count() === 0)
      assert(again.except(out).count() === 0)
      // content-independent: built from doc_id, so a doc keeps its slot
      // even if its text changes
      val retexted = Curation.shuffleShards(
        docs.withColumn("text", lit("X")), nShards = 8)
      assert(out.except(retexted).count() === 0)
    } finally out.unpersist()
  }

  test("dataprepE2e: per-shard token streams are contiguous from zero") {
    val out = Curation.dataprepE2e(docs, "lang", tau = 0.5, nShards = 8,
      capacity = 512).cache()
    try {
      val rows = out.select("shard", "pos", "n_tokens", "start_tok",
          "first_seq", "last_seq")
        .as[(Int, Long, Int, Long, Long, Long)].collect()
      rows.groupBy(_._1).foreach { case (shard, rs) =>
        val byPos = rs.sortBy(_._2)
        assert(byPos.head._4 === 0L, s"shard $shard must start at token 0")
        byPos.sliding(2).foreach {
          case Array(a, b) =>
            assert(b._4 === a._4 + a._3,
              s"shard $shard pos ${b._2}: stream not contiguous")
          case _ =>
        }
        byPos.foreach { r =>
          assert(r._5 === r._4 / 512 &&
            r._6 === (r._4 + r._3 - 1) / 512)
        }
      }
      // the sampled set is exactly the domainMixture sample
      val sampleIds = Curation.domainMixture(docs, "lang", 0.5)
        .select("doc_id").as[Long].collect().toSet
      assert(out.select("doc_id").as[Long].collect().toSet === sampleIds)
    } finally {
      graft.core.Checkpoints.release(out)
      out.unpersist()
    }
  }

  test("dupNgrams finds planted cross-doc boilerplate, not unique text") {
    val boiler = "all rights reserved by the site"
    val d = Seq(
      (1L, s"alpha beta $boiler gamma"),
      (2L, s"$boiler delta epsilon"),
      (3L, s"unique words only here nothing shared at all"),
      (4L, s"zeta $boiler $boiler")).toDF("doc_id", "text")
    val out = graft.llm.Dedup.dupNgrams(d, w = 5, minDocs = 2, k = 10)
      .as[(String, Long, Long)].collect()
    // "all rights reserved by the" spans docs 1, 2, 4 (twice in 4)
    val top = out.find(_._1 == "all rights reserved by the")
    assert(top.exists { case (_, nd, no) => nd === 3L && no === 4L })
    // nothing from the unique doc appears
    assert(!out.exists(_._1.contains("unique")))
    // every returned gram is in ≥ 2 docs
    assert(out.forall(_._2 >= 2))
  }

  test("cutDupSpans excises planted boilerplate, keeps first occurrence") {
    val boiler = "all rights reserved by the site"
    val d = Seq(
      (1L, s"alpha beta $boiler gamma"),
      (2L, s"$boiler delta epsilon"),
      (3L, "unique words only here nothing shared at all"),
      (4L, s"zeta $boiler omega"),
      (5L, boiler)).toDF("doc_id", "text")
    val out = graft.llm.Dedup.cutDupSpans(d, w = 5, minDocs = 2)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    // doc 1 holds the corpus-first occurrence of both duplicated
    // 5-grams, so it keeps its full (normalized) text
    assert(out(1L) === ((1L, 9L, 0L, s"alpha beta $boiler gamma")))
    // doc 2's leading boilerplate is cut (positions 0-5, the union of
    // both overlapping dup-gram spans), unique tail survives
    assert(out(2L) === ((2L, 8L, 6L, "delta epsilon")))
    // doc 3 shares no 5-gram with anything — untouched
    assert(out(3L)._3 === 0L)
    assert(out(3L)._4 === "unique words only here nothing shared at all")
    // doc 4: interior boilerplate excised, both flanks survive
    assert(out(4L) === ((4L, 8L, 6L, "zeta omega")))
    // doc 5 is ENTIRELY boilerplate: survives as a row with empty text
    assert(out(5L) === ((5L, 6L, 6L, "")))
  }
}
