package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.Bpe
import graft.queries.BpeOracle

/** BPE tokenizer invariants (llm.Bpe). The DuckDB oracle covers the
  * local training path (test-SF vocab is tiny, so `train` dispatches
  * local); the distributed superstep path is pinned here as bit-equal
  * to the local one — the same technique as PageRank's local/distributed
  * parity pin.
  */
class BpeSpec extends AnyFunSuite with FreesCachedPlans {

  lazy val spark: SparkSession = core.Sessions.local(4, "graft-bpe-test")
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$sf/documents.parquet").cache()

  test("mergePass is left-to-right non-overlapping") {
    def s(w: String) = w.map(_.toString).toIndexedSeq
    assert(Bpe.mergePass(s("aaaa"), "a", "a") === Seq("aa", "aa"))
    assert(Bpe.mergePass(s("aaa"), "a", "a") === Seq("aa", "a"))
    assert(Bpe.mergePass(s("abab"), "a", "b") === Seq("ab", "ab"))
    assert(Bpe.mergePass(IndexedSeq("ab", "a", "b"), "a", "b")
      === Seq("ab", "ab"))
    assert(Bpe.mergePass(s("xyz"), "a", "b") === Seq("x", "y", "z"))
  }

  test("trainLocal learns the classic Sennrich merges") {
    // 'lo' appears in low(5) + lower(2) = 7, the unique max after 'es'
    // ties resolve; hand-traced greedy sequence on this corpus:
    val wf = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val m = Bpe.trainLocal(wf, 4).map(m => (m.lft, m.rgt))
    // step1: es=9 (newest+widest); step2: est=9; step3: lo=7; step4: low=5
    assert(m === Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")))
  }

  test("trainLocal tie-break is (count DESC, left, right) and stable") {
    // every adjacent pair occurs exactly once → pure (lft, rgt) order
    val m = Bpe.trainLocal(Seq("ba" -> 1L, "dc" -> 1L), 2)
    assert(m.map(x => (x.lft, x.rgt)) === Seq(("b", "a"), ("d", "c")))
  }

  test("trainLocal stops when no pairs remain") {
    val m = Bpe.trainLocal(Seq("ab" -> 3L), 10)
    assert(m.size === 1 && (m.head.lft, m.head.rgt) === ("a", "b"))
  }

  test("distributed superstep training is bit-equal to local") {
    val wc = Bpe.wordCounts(docs).cache()
    val local = Bpe.trainLocal(
      wc.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        .sortBy(_._1), BpeOracle.NumMerges)
    val dist = Bpe.trainDistributed(wc, BpeOracle.NumMerges)
    wc.unpersist()
    assert(dist === local)
  }

  test("encodeWord applies merges rank-ascending, one pass per rank") {
    val merges = Seq(Bpe.Merge(1, "e", "s"), Bpe.Merge(2, "es", "t"),
      Bpe.Merge(3, "l", "o"), Bpe.Merge(4, "lo", "w"))
    assert(Bpe.encodeWord("lowest", merges) === Seq("low", "est"))
    assert(Bpe.encodeWord("newest", merges)
      === Seq("n", "e", "w", "est"))
    assert(Bpe.encodeWord("slow", merges) === Seq("s", "low"))
    assert(Bpe.encodeWord("", merges) === Seq.empty)
  }

  test("encode conserves tokens and covers every document") {
    val merges = Bpe.train(docs, BpeOracle.NumMerges)
    val enc = Bpe.encode(docs, merges).cache()
    // one output row per input doc, even token-free ones
    assert(enc.count() === docs.count())
    val row = enc.filter($"n_bpe_tokens" > 0).limit(1)
      .collect().head
    // bpe_text token count equals n_bpe_tokens (space-joined contract)
    assert(row.getString(2).split(" ").length === row.getLong(1))
    // merged symbols concatenate back to the letters of the document
    val docId = row.getLong(0)
    val origLetters = docs.filter($"doc_id" === docId)
      .select($"text").head().getString(0)
      .toLowerCase.replaceAll("[^a-z]", "")
    assert(row.getString(2).replace(" ", "") === origLetters)
  }

  test("multi-char merges actually fire on the corpus") {
    val merges = Bpe.train(docs, BpeOracle.NumMerges)
    assert(merges.size === BpeOracle.NumMerges)
    // chained merges produce ≥3-char tokens at 20 merges on real text
    assert(merges.exists(m => (m.lft + m.rgt).length >= 3))
  }
}
