package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.Scoring

/** Retrieval / LM scoring operators: invariants and hand-computed
  * goldens on planted corpora (the DuckDB oracle covers the full-table
  * hash; these pin the semantics on cases small enough to verify by
  * hand).
  */
class ScoringSpec extends AnyFunSuite with FreesCachedPlans {

  lazy val spark: SparkSession = core.Sessions.local(4, "graft-scoring-test")

  val sf = "/root/testdata/sf0.001"

  private def docsDf = spark.read.parquet(s"$sf/documents.parquet")

  test("invertedIndex: shard dfs sum to true df, postings sorted and consistent") {
    val idx = Scoring.invertedIndex(docsDf, shards = 4).cache()
    try {
      // per-shard postings length == df_shard, postings strictly ascending
      idx.collect().foreach { r =>
        val postings = r.getSeq[Long](3)
        assert(postings.length === r.getLong(2))
        assert(postings === postings.sorted)
        assert(postings.distinct === postings) // one entry per doc
        val shard = r.getLong(1)
        assert(postings.forall(_ % 4 === shard))
      }
      // summed across shards == independent per-token doc count
      val byTok = idx.groupBy("tok").agg(sum("df_shard").as("df"))
      val direct = docsDf.select(col("doc_id"),
          explode(array_distinct(split(lower(trim(col("text"))), "\\s+"))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("df"))
      assert(byTok.join(direct, "tok")
        .filter(byTok("df") =!= direct("df")).count() === 0)
      assert(byTok.count() === direct.count())
    } finally idx.unpersist()
  }

  test("invertedIndex minDf thresholds GLOBAL df, not per-shard counts") {
    import spark.implicits._
    // 'duo' appears in two docs landing in DIFFERENT shards (df_shard = 1
    // each) — a per-shard threshold would wrongly drop it at minDf = 2
    val docs = Seq((0L, "duo alpha"), (1L, "duo beta"), (2L, "solo"))
      .toDF("doc_id", "text")
    val idx = Scoring.invertedIndex(docs, shards = 2, minDf = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(idx.map(_._1).distinct.sorted === Seq("duo"))
    assert(idx.sortBy(_._2) === Seq(("duo", 0L, 1L), ("duo", 1L, 1L)))
  }

  test("bm25 matches a hand-computed three-document golden") {
    import spark.implicits._
    val docs = Seq(
      (0L, "spark spark query filter"), // tf(spark)=2, tf(query)=1, dl=4
      (1L, "filter sort merge"),        // no match
      (2L, "query")                     // tf(query)=1, dl=1
    ).toDF("doc_id", "text")
    val out = Scoring.bm25(docs, Seq("spark", "query"), k1 = 1.2, b = 0.75)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // N=3, avgdl=8/3; df(spark)=1, df(query)=2
    val avgdl = 8.0 / 3
    def idf(df: Long) = math.log(1.0 + (3 - df + 0.5) / (df + 0.5))
    def ts(tf: Long, dl: Long, df: Long) = {
      val raw = idf(df) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
      math.round(raw * 1e6)
    }
    val exp0 = (ts(2, 4, 1) + ts(1, 4, 2)) / 1e6
    val exp2 = ts(1, 1, 2) / 1e6
    assert(out(0L)._1 === 2L)
    assert(math.abs(out(0L)._2 - exp0) < 1e-9)
    assert(out(2L)._1 === 1L)
    assert(math.abs(out(2L)._2 - exp2) < 1e-9)
    assert(!out.contains(1L)) // zero matches → absent, not zero-scored
  }

  test("bigramNll matches a hand-computed golden; short docs absent") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b"), (1L, "a b"), (2L, "a c"),
      (3L, "x")                          // one token → no bigrams
    ).toDF("doc_id", "text")
    val out = Scoring.bigramNll(docs, k = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // V=4 (a,b,c,x); c2(a,b)=2, c2(a,c)=1; c1(a)=3
    val nllAb = math.round(-math.log((2 + 0.5) / (3 + 0.5 * 4)) * 1e6) / 1e6
    val nllAc = math.round(-math.log((1 + 0.5) / (3 + 0.5 * 4)) * 1e6) / 1e6
    assert(out(0L) === ((1L, nllAb)))
    assert(out(1L) === ((1L, nllAb)))
    assert(out(2L) === ((1L, nllAc)))
    assert(!out.contains(3L))
  }

  test("l2NormMicro and meanPool match hand-computed vectors") {
    import spark.implicits._
    import graft.llm.Similarity
    val df = Seq(
      (0L, Seq(3.0f, 4.0f)),   // ‖v‖ = 5
      (2L, Seq(1.0f, 0.0f)),   // unit
      (4L, Seq(0.0f, 2.0f))
    ).toDF("vec_id", "embedding")
    val norms = df.select(col("vec_id"),
        Similarity.l2NormMicro(col("embedding")).as("nm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(norms === Map(0L -> 5000000L, 2L -> 1000000L, 4L -> 2000000L))
    // one group (all even ids % 2 = 0): mean = ((3+1+0)/3, (4+0+2)/3)
    val pooled = Similarity.meanPool(df, pmod(col("vec_id"), lit(2L)), dim = 2)
      .collect()
    assert(pooled.length === 1 && pooled.head.getLong(1) === 3L)
    val vec = pooled.head.getSeq[Float](2)
    assert(math.abs(vec(0) - 4.0f / 3) < 1e-6 && math.abs(vec(1) - 2.0f) < 1e-6)
  }

  test("splitAssign: total, deterministic, duplicate-stable, ~fractions") {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val a = Scoring.splitAssign(docsDf, splits).cache()
    try {
      assert(a.count() === docsDf.count())            // every doc assigned
      assert(a.filter(!col("split").isin("train", "val", "test")).count() === 0)
      // partitioning-independent (content-keyed, not row-order-keyed)
      val b = Scoring.splitAssign(docsDf.repartition(13), splits)
      assert(a.join(b, Seq("doc_id"))
        .filter(a("split") =!= b("split")).count() === 0)
      // identical text ⇒ identical split (dups never straddle train/test)
      // (orderBy before limit: a bare limit(1) may pick different rows
      // per evaluation, which would make this vacuous or flaky)
      val one = docsDf.orderBy("doc_id").limit(1)
      val dup = one.union(one)
      val dupSplits = Scoring.splitAssign(dup, splits)
        .select("split").collect().map(_.getString(0))
      assert(dupSplits.distinct.length === 1)
      // fractions roughly honored at n=500 (binomial ±5 σ)
      val n = a.count().toDouble
      val trainFrac = a.filter(col("split") === "train").count() / n
      assert(math.abs(trainFrac - 0.8) < 0.1, s"train frac $trainFrac")
    } finally a.unpersist()
  }
}
