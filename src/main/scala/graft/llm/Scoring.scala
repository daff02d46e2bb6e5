package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Retrieval / language-model scoring operators over the `documents`
  * table — the IR side of a training-data pipeline (quality-weighting a
  * corpus by retrieval relevance, perplexity-filtering against a
  * reference n-gram model, building the token index a retrieval mixer
  * needs).
  *
  * Determinism contract (shared by every operator here): any score that
  * SUMS doubles is first quantized per term to integer micro-units
  * (round(x·1e6) as BIGINT) and summed as integers, so the result is
  * independent of summation order — Spark's partial aggregation and
  * DuckDB's sequential sum meet bit-for-bit, which is what lets these
  * ship with hash-checked oracles instead of tolerance checks.
  */
object Scoring {

  private def toks(text: Column): Column =
    split(lower(trim(text)), "\\s+")

  /** Sharded inverted index: token → per-shard document-frequency and
    * sorted posting list. Postings shard by `doc_id % shards`, so one
    * hot token ("the") never concentrates a corpus-sized array in a
    * single aggregation buffer — each group holds ≤ |docs-with-token| /
    * shards ids, and the shuffle key (tok, shard) spreads skew across
    * the cluster. A retrieval layer unions shards of a token on read.
    */
  def invertedIndex(docs: DataFrame, shards: Int = 16,
      minDf: Long = 1L): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val idx = docs.select(col("doc_id"),
        explode(array_distinct(toks(col("text")))).as("tok"))
      .filter(col("tok") =!= "")
      .withColumn("shard", pmod(col("doc_id"), lit(shards.toLong)))
      .groupBy(col("tok"), col("shard"))
      .agg(count(lit(1)).as("df_shard"),
        sort_array(collect_list(col("doc_id"))).as("postings"))
    if (minDf <= 1L) idx
    else {
      // minDf thresholds the token's GLOBAL df, not the per-shard count
      // (a rare-in-every-shard but globally-common token must survive).
      // The window runs over |vocab| × shards index rows, not the corpus.
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("tok"))
      idx.withColumn("df_total", sum(col("df_shard")).over(w))
        .filter(col("df_total") >= minDf)
        .drop("df_total")
    }
  }

  /** BM25 relevance of every document against a fixed query-term set
    * (Robertson/Sparck Jones; the Lucene idf variant
    * ln(1 + (N - df + 0.5)/(df + 0.5))).
    *
    * Plan shape: one pass computes per-doc length, one tiny aggregation
    * derives N/avgdl/df (collected — 2 scalars + |terms| rows, the same
    * bounded-collect contract as the IVF centroid table), then a single
    * explode → filter-to-terms → per-(doc,term) count → per-doc integer
    * sum. Nothing corpus-sized crosses the driver; the only shuffles
    * are the two keyed aggregations. Term scores quantize to micro-units
    * before summing (see object doc), so the doc score is
    * order-independent and oracle-hashable.
    */
  def bm25(docs: DataFrame, terms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75): DataFrame = graft.core.Checkpoints.scoped { scope =>
    // query terms pass through the document tokenizer's normalization —
    // an unlowered term would otherwise silently never match anything
    val qTerms = terms.map(_.trim.toLowerCase).filter(_.nonEmpty).distinct
    require(qTerms.nonEmpty, "bm25: need at least one non-empty query term")
    // tokenize once: stats, dfs and the returned tf plan all derive from
    // this checkpoint instead of re-scanning the corpus three times
    // (a leaf of the result: release(result) frees it)
    val base = scope.checkpoint(docs
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .withColumn("dl", size(col("tk"))))
    val statsRow = base.agg(count(lit(1)), sum(col("dl"))).head()
    val nDocs = statsRow.getLong(0)
    require(nDocs > 0, "bm25: empty corpus")
    val sumDl = statsRow.getLong(1)
    val avgdl = sumDl.toDouble / nDocs
    val dfMap = base
      .select(explode(array_distinct(col("tk"))).as("tok"))
      .filter(col("tok").isin(qTerms: _*))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // idf per term, driver-computed from exact integers and inlined; a
    // term absent from the corpus has df = 0 and still gets its
    // (maximal) idf — it just never matches a row
    val idf = qTerms.map { t =>
      val df = dfMap.getOrElse(t, 0L).toDouble
      t -> math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))
    }
    val idfCol = element_at(
      map(idf.flatMap { case (t, v) => Seq(lit(t), lit(v)) }: _*), col("tok"))
    val tf = base.select(col("doc_id"), col("dl"), explode(col("tk")).as("tok"))
      .filter(col("tok").isin(qTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    // literal arithmetic stays in the SAME shape as the oracle SQL
    // ((k1 + 1), (1 - b) computed in IEEE by both engines, never
    // pre-simplified to decimal constants that may parse to a different
    // double than the runtime sum produces)
    val termScore = idfCol * (col("tf") * lit(k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(avgdl)))
    tf.withColumn("micro", round(termScore * 1e6, 0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matched"),
        round(sum(col("micro")) / 1e6, 6).as("score"))
  }

  /** Per-document mean negative log-likelihood under an add-k-smoothed
    * bigram model trained on the corpus itself — the perplexity-style
    * quality filter of a training pipeline (high NLL = unlike the
    * corpus = candidate for dropping), self-trained here because the
    * sandbox ships no external reference model.
    *
    * P(w2|w1) = (c(w1 w2) + k) / (c(w1 ·) + k·V), V = unigram types.
    * Scale shape: bigram extraction is map-side (two array slices
    * zipped — no per-token window function); model training is one
    * (w1, w2) count aggregation plus a (w1) rollup of it; scoring joins
    * doc bigrams to the model on the bigram key — an equi-join that
    * shuffles |bigram occurrences| once, with AQE free to broadcast the
    * model side when the vocabulary is small. NLL quantizes to integer
    * micro-units before the per-doc sum (see object doc). Documents
    * with fewer than two tokens have no bigrams and are absent.
    */
  def bigramNll(docs: DataFrame, k: Double = 0.5): DataFrame =
      graft.core.Checkpoints.scoped { scope =>
    require(k > 0, s"add-k smoothing needs k > 0, got $k")
    val base = docs.select(col("doc_id"), toks(col("text")).as("tk"))
    // checkpoint the extracted bigrams: the returned plan reads them on
    // BOTH sides of the scoring join (model counts + per-doc stream), so
    // an unmaterialized subtree would tokenize the corpus twice more
    // (a leaf of the result: release(result) frees it)
    val bigrams = scope.checkpoint(base
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("tk"), lit(1), greatest(size(col("tk")) - 1, lit(0))).as("w1"),
        slice(col("tk"), lit(2), greatest(size(col("tk")) - 1, lit(0))).as("w2")))
        .as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= ""))
    val c2 = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val vocab = base.select(explode(col("tk")).as("tok"))
      .filter(col("tok") =!= "")
      .agg(countDistinct(col("tok"))).head().getLong(0)
    val model = c2.join(c1, "w1")
      .withColumn("nll_micro",
        round(-log((col("c2") + k) / (col("c1") + k * vocab)) * 1e6, 0)
          .cast("long"))
      .select(col("w1"), col("w2"), col("nll_micro"))
    bigrams.join(model, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        TextAnalysis.portableRound(
          sum(col("nll_micro")) / count(lit(1)) / 1e6, 6).as("avg_nll"))
  }

  /** Deterministic content-keyed train/validation/test assignment:
    * cumulative thresholds over the first four hex chars of the content
    * fingerprint (resolution 1/65536). The same reproducibility contract
    * as TextAnalysis.sampleByFingerprint — stable across runs, engines,
    * partitionings and cluster growth, and exact duplicates always land
    * in the same split (rand()-based splitting leaks dups across
    * train/test). Fractions must sum to ≤ 1; any remainder falls into
    * the last split.
    */
  def splitAssign(docs: DataFrame,
      splits: Seq[(String, Double)]): DataFrame = {
    require(splits.size >= 2, "need at least two splits")
    require(splits.map(_._2).sum <= 1.0 + 1e-9, "fractions must sum to <= 1")
    require(splits.forall(_._2 > 0), "fractions must be positive")
    val bounds = hex4Bounds(splits)
    val fp4 = substring(TextAnalysis.fingerprintMd5(col("text")), 1, 4)
    val assigned = bounds.init.foldLeft(when(lit(false), lit(""))) {
      case (acc, (name, bound)) => acc.when(fp4 <= lit(bound), name)
    }.otherwise(bounds.last._1)
    // passthrough of ALL input columns: the operator's contract is only
    // doc_id + text; hardcoding any other column would break corpora
    // without it at analysis time
    docs.select(docs.columns.map(col) :+ assigned.as("split"): _*)
  }

  /** Cumulative 4-hex-char upper bounds for `splitAssign` — exposed so
    * the DuckDB oracle CASE compares against the identical literals.
    */
  def hex4Bounds(splits: Seq[(String, Double)]): Seq[(String, String)] = {
    var cum = 0.0
    splits.map { case (name, frac) =>
      cum += frac
      val bound = math.min(65535, math.max(0, math.round(cum * 65536).toInt - 1))
      name -> f"$bound%04x"
    }
  }
}
