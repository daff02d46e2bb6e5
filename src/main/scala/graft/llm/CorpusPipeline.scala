package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Opinionated end-to-end training-corpus preparation — the composition a
  * data-curation user actually runs, wired from the individual operators:
  *
  *   annotate (lang-id, quality, token count)
  *     → quality filter
  *     → exact + MinHash near-dup dedup (transitive grouping)
  *     → optional deterministic content-keyed sample
  *
  * Every stage is a DataFrame transformation: annotation and filtering
  * are pure map-side codegen, dedup is the LSH pipeline (no O(n²) stage),
  * sampling is a fingerprint predicate — so the whole pipeline scales as
  * a linear scan plus the dedup shuffles regardless of corpus size, and
  * is fully deterministic (same input → same kept set, any cluster
  * shape).
  */
object CorpusPipeline {

  /** Prepare a corpus: returns the input rows that survive, annotated
    * with `lang_pred`, `quality` and `n_tokens`.
    */
  def prepare(docs: DataFrame, minQuality: Double = 0.3,
      minJaccard: Double = 0.8,
      sampleFraction: Option[Double] = None): DataFrame =
      graft.core.Checkpoints.scoped { s =>
    val annotated = docs
      .withColumn("lang_pred", TextAnalysis.langId(col("text")))
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
    // cache the annotated+filtered corpus: the lang-id/quality columns
    // are deeply nested expression trees, and without the cache every
    // downstream dedup stage INLINES them into its own plan — paying
    // their evaluation AND a fresh codegen compilation per stage (~3×
    // the whole pipeline's cost, measured at sf0.1)
    // a map over the spread scan, which AQE cannot coalesce: its deletion
    // read +0.8 s at 32 cores on pipeline_e2e (layout A/B in CHANGES.md)
    val filtered = s.cache(annotated.filter(col("quality") >= minQuality)
      .transform(graft.core.Tables.compact(_, shuffle = true)))
    // dedupCorpus returns an eagerly-materialized frame the result does
    // not read `filtered` through, so the scope drops the cache on return
    // (and on a dedup failure)
    val deduped = Dedup.dedupCorpus(filtered, minJaccard = minJaccard)
    sampleFraction.fold(deduped)(f =>
      deduped.filter(TextAnalysis.sampleByFingerprint(col("text"), f)))
  }

  /** Per-predicted-language summary of a prepared corpus. The quality
    * mean goes through integer micro-units (round(q·1e6) per doc, exact
    * long sum, one final division) — a raw double avg() depends on
    * partial-aggregation order, which differs between engines and runs,
    * so it cannot sit under a hash-checked oracle (the llm.Scoring
    * determinism contract).
    */
  def summary(prepared: DataFrame): DataFrame =
    prepared.groupBy(col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"),
        TextAnalysis.portableRound(
          sum(round(col("quality") * 1e6, 0).cast("long"))
            / (count(lit(1)) * 1e6), 6).as("avg_quality"),
        sum(col("n_tokens")).as("total_tokens"))
}
