package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Byte-pair-encoding tokenizer — train + encode — over the `documents`
  * table (north-star LLM-pipeline surface; replaces TextAnalysis
  * .subwordCount's single-regex stand-in with the real algorithm,
  * Sennrich et al. 2016).
  *
  * Semantics are pinned EXACTLY, because the DuckDB oracle re-derives
  * both training and encoding stage by stage:
  *  - pre-tokenize: `regexp_extract_all(lower(text), "[a-z]+")`, words
  *    keep their in-document order; initial symbols are single chars (no
  *    end-of-word marker — documented divergence from GPT-2's byte-level
  *    alphabet, which needs no linguistic difference here and would
  *    poison SQL portability);
  *  - one training step: count EVERY adjacent symbol position (overlaps
  *    included — "aaa" contributes (a,a) twice) weighted by word
  *    frequency; best pair = max count, ties broken (left ASC,
  *    right ASC); then merge ALL its occurrences in every word in one
  *    left-to-right non-overlapping pass;
  *  - encode: apply the learned merges in rank order, one left-to-right
  *    pass per rank (the original Sennrich apply order). Processing
  *    ranks ascending is exhaustive: a merge's output symbol exists only
  *    after the merge that created its parts, so a pass can never
  *    resurrect a LOWER-rank pair.
  *
  * Scale design (100 TB corpus): everything corpus-sized is one
  * distributed pass — word counting is a map-side regex explode + one
  * groupBy(word) shuffle, and encoding touches only DISTINCT words (the
  * merge loop runs once per distinct word, never per occurrence) before
  * joining back. The vocab-sized training loop dispatches like the graph
  * kernels (GraphComponents pattern): collect-and-train locally below
  * `localWordThreshold` distinct words (what every production BPE
  * trainer does — the word-frequency table, not the corpus, is the
  * training input), superstep DataFrame iterations with deterministic
  * checkpoint release above it.
  */
object Bpe {

  /** Shared with the oracle SQL — change in lockstep. */
  val WordPattern = "[a-z]+"

  final case class Merge(rank: Int, lft: String, rgt: String)
  final case class WordSyms(word: String, freq: Long, syms: Seq[String])

  /** One left-to-right non-overlapping merge pass of (a,b) → a+b.
    * "aaaa" with (a,a) → [aa, aa]; "aaa" → [aa, a].
    */
  def mergePass(syms: IndexedSeq[String], a: String, b: String): IndexedSeq[String] = {
    val out = new ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toIndexedSeq
  }

  /** Greedy BPE training over an in-memory word-frequency table.
    * Recounts pairs each iteration — O(numMerges · total symbols), the
    * right trade below the dispatch threshold (the classic incremental
    * pair-delta index is an optimization, not a semantic change).
    */
  def trainLocal(wordFreq: Seq[(String, Long)], numMerges: Int): Seq[Merge] = {
    var words: Seq[(IndexedSeq[String], Long)] =
      wordFreq.map { case (w, f) => (w.map(_.toString).toIndexedSeq, f) }
    val merges = ArrayBuffer.empty[Merge]
    var r = 1
    var exhausted = false
    while (r <= numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i + 1 < syms.length) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        // max count, ties by (left, right) ascending — same total order
        // as the oracle's ORDER BY cnt DESC, lft, rgt LIMIT 1
        val ((a, b), _) = counts.minBy { case ((l, rr), c) => (-c, l, rr) }
        merges += Merge(r, a, b)
        words = words.map { case (syms, f) => (mergePass(syms, a, b), f) }
        r += 1
      }
    }
    merges.toSeq
  }

  /** Distributed word-frequency table: (word, freq), one shuffle. */
  def wordCounts(docs: DataFrame): DataFrame =
    docs.select(explode(regexp_extract_all(lower(col("text")),
        lit(WordPattern), lit(0))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Superstep training over a word-frequency DataFrame that does not
    * fit a driver: per merge, one pair-count aggregate (map-side partial
    * combine, tiny result), a 1-row argmax collect, and a map-only
    * rewrite, each superstep's checkpoint freed once the next one exists
    * so numMerges supersteps cannot accumulate storage.
    */
  def trainDistributed(wordFreq: DataFrame, numMerges: Int): Seq[Merge] =
      graft.core.Checkpoints.scoped { s =>
    val spark = wordFreq.sparkSession
    import spark.implicits._
    var words: Dataset[WordSyms] = s.checkpoint(wordFreq
      .select(col("word"), col("freq").cast("long"))
      .as[(String, Long)]
      .map { case (w, f) => WordSyms(w, f, w.map(_.toString)) }
      .toDF()).as[WordSyms]
    val merges = ArrayBuffer.empty[Merge]
    var r = 1
    var exhausted = false
    while (r <= numMerges && !exhausted) {
      val best = words.toDF()
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(syms) - 2), i -> struct(syms[i] as lft, syms[i + 1] as rgt))"))
          .as("p"))
        .groupBy(col("p.lft").as("lft"), col("p.rgt").as("rgt"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("lft"), col("rgt"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b) = (best(0).getString(0), best(0).getString(1))
        merges += Merge(r, a, b)
        val next = s.checkpoint(words
          .map(ws => ws.copy(syms = mergePass(ws.syms.toIndexedSeq, a, b)))
          .toDF())
        s.keep(next)
        words = next.as[WordSyms]
        r += 1
      }
    }
    merges.toSeq
  }

  /** Above this many distinct words the training loop stays distributed;
    * below, the word-frequency table collects and trains locally (31
    * words at test SF; real crawls sit in the tens of millions — still
    * far below corpus size, but above a driver's comfort).
    */
  val LocalWordThreshold = 2000000L

  /** Train `numMerges` merges on the corpus. The corpus-sized work (word
    * counting) is always distributed; the vocab-sized loop dispatches on
    * distinct-word count.
    */
  def train(docs: DataFrame, numMerges: Int): Seq[Merge] =
      graft.core.Checkpoints.scoped { s =>
    val wc = s.cache(wordCounts(docs))
    if (wc.count() <= LocalWordThreshold)
      trainLocal(
        wc.collect().map(row => (row.getString(0), row.getLong(1))).toSeq
          .sortBy(_._1), // deterministic iteration order
        numMerges)
    else trainDistributed(wc, numMerges)
  }

  /** Encode one word with the learned merges, rank-ascending, one pass
    * per rank. Cost: |merges| passes over a short symbol list; runs once
    * per DISTINCT word.
    */
  def encodeWord(word: String, merges: Seq[Merge]): IndexedSeq[String] = {
    var syms: IndexedSeq[String] = word.map(_.toString)
    merges.foreach { m =>
      if (syms.length >= 2) syms = mergePass(syms, m.lft, m.rgt)
    }
    syms
  }

  /** Distinct-word → encoded-token-list table. The merge table rides the
    * closure (a Seq of case classes — broadcast-sized by construction:
    * numMerges entries).
    */
  def encodedWords(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(explode(regexp_extract_all(lower(col("text")),
        lit(WordPattern), lit(0))).as("word"))
      .distinct()
      .as[String]
      .map(w => (w, encodeWord(w, merges)))
      .toDF("word", "toks")
  }

  /** Per-document BPE encoding: (doc_id, n_bpe_tokens, bpe_text) with
    * bpe_text = all tokens in document order joined by ' '. Word order
    * survives via posexplode position + ordered array_sort reassembly
    * (the A3 ordered-collect pattern) — no window over whole documents.
    * The distinct-word join is AQE-broadcastable when the vocab is small
    * and a plain shuffle join when it is not; per-occurrence work is one
    * join probe, never a merge loop.
    */
  def encode(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    val occ = docs.select(col("doc_id"),
      posexplode(regexp_extract_all(lower(col("text")),
        lit(WordPattern), lit(0))).as(Seq("pos", "word")))
    val enc = occ.join(encodedWords(docs, merges), Seq("word"))
      .select(col("doc_id"), col("pos"),
        size(col("toks")).cast("long").as("n_toks"),
        array_join(col("toks"), " ").as("wtxt"))
      .groupBy("doc_id")
      .agg(sum(col("n_toks")).as("n_bpe_tokens"),
        array_join(expr(
          "transform(array_sort(collect_list(struct(pos, wtxt))), x -> x.wtxt)"),
          " ").as("bpe_text"))
    docs.select(col("doc_id")).join(enc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"),
        coalesce(col("bpe_text"), lit("")).as("bpe_text"))
  }

  /** The learned merge table as a DataFrame (merge_rank, lft, rgt) — the
    * llm_bpe_train query surface. Named merge_rank, not rank: `rank` is
    * a window-function keyword in the oracle engine.
    */
  def mergeTable(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.toDF("merge_rank", "lft", "rgt")
  }
}
