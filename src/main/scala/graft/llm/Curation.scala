package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond dedup/similarity: PII redaction, benchmark-contamination
  * detection, repetition-based quality stats (the Gopher-rule family),
  * per-stratum weighted sampling, and sequence packing.
  *
  * Scale notes per operator are on each method; the common theme is that
  * everything is either pure map-side (redaction, sampling) or a
  * standard keyed aggregation whose shuffle width is bounded by the data
  * it must group (repetition stats, contamination) — no all-pairs
  * stages, no driver-side materialization beyond O(buckets) subtotals.
  */
object Curation {

  // ---- PII redaction ---------------------------------------------------

  // Deliberately simple patterns sharing the Java-regex / RE2 common
  // subset, so the DuckDB oracle runs the byte-identical regex. Order
  // matters: emails first (their domains contain dots that the IP
  // pattern must not see), then IPv4, then dashed phone extensions.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  private val PhoneRe = "\\b[0-9]{3}-[0-9]{4}\\b"

  def piiCounts(text: Column): (Column, Column, Column) =
    (regexp_count(text, lit(EmailRe)),
      regexp_count(text, lit(Ipv4Re)),
      regexp_count(text, lit(PhoneRe)))

  /** Replace emails / IPv4 addresses / dashed phone numbers with typed
    * placeholder tokens. Pure codegen'd regexp chain: map-side, zero
    * shuffles, linear in corpus bytes at any scale.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** SQL fragments for the DuckDB oracle (same regexes, RE2 dialect). */
  def redactSql(textExpr: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace($textExpr,
       |  '$EmailRe', '<EMAIL>', 'g'),
       |  '$Ipv4Re', '<IP>', 'g'),
       |  '$PhoneRe', '<PHONE>', 'g')""".stripMargin

  def countSql(textExpr: String, re: String): String =
    s"CAST(len(regexp_extract_all($textExpr, '$re')) AS INT)"

  def emailRe: String = EmailRe
  def ipv4Re: String = Ipv4Re
  def phoneRe: String = PhoneRe

  // ---- URL / domain statistics ---------------------------------------

  private val UrlRe = "https?://[^\\s]+"
  private val HostRe = "^https?://([^/?#]+)"

  /** Per-host URL rollup over a text column — the domain-level view that
    * URL blocklists and source-mixing filters operate on. One compiled
    * regex pass extracts URLs map-side, one explode, one host-keyed
    * aggregation (shuffle width = distinct hosts, never corpus-sized).
    */
  def urlHosts(docs: DataFrame, textCol: Column): DataFrame =
    docs.select(col("doc_id"),
        explode(regexp_extract_all(textCol, lit(UrlRe), lit(0))).as("url"))
      .select(col("doc_id"),
        regexp_extract(col("url"), HostRe, 1).as("host"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_urls"),
        count_distinct(col("doc_id")).as("n_docs"))

  def urlRe: String = UrlRe
  def hostRe: String = HostRe

  // ---- benchmark-contamination detection -------------------------------

  /** Per-document n-gram overlap against a benchmark corpus: the
    * fraction of each document's DISTINCT word w-grams that also occur
    * anywhere in `bench`. Training pipelines run exactly this check
    * before shipping a corpus (decontamination against eval sets).
    *
    * Scale design: the benchmark side is eval sets — thousands of
    * documents, not billions — so its distinct-shingle table is
    * broadcast; the corpus side is one explode + one aggregation keyed
    * by doc_id (shuffle width = distinct shingles per doc, bounded by
    * document length). No corpus×bench join ever materializes: the
    * broadcast hash probe marks hits in the map stage. Documents
    * shorter than w tokens have no w-grams and drop out (no score is
    * the honest answer, not 0.0).
    */
  def contamination(docs: DataFrame, bench: DataFrame, w: Int = 5)
      : DataFrame = {
    def grams(df: DataFrame): DataFrame = df
      .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(Dedup.shinglesFromTokens(col("toks"), w)).as("ng"))

    val benchGrams = grams(bench).select(col("ng")).distinct()
      .withColumn("__hit", lit(1))

    grams(docs)
      .join(broadcast(benchGrams), Seq("ng"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_contaminated"))
      .withColumn("contamination",
        TextAnalysis.portableRound(
          col("n_contaminated") / col("n_ngrams").cast("double"), 4))
  }

  /** Bloom-accelerated contamination — SAME RESULT as `contamination`
    * (the Bloom pre-filter has no false negatives and a left-semi
    * verify join removes its false positives), different scale shape:
    * instead of broadcasting the benchmark's distinct-shingle TABLE,
    * only a compact bit array (~10 bits per benchmark shingle) reaches
    * every task, and the verify join's probe side shrinks to the
    * bloom-positive shingles — ≈ true hits + fp-rate·|corpus shingles|.
    * Use this when the eval suite is itself large (millions of
    * shingles, where a broadcast hash table stops fitting) — the
    * filter grows 10 bits per entry where the table grows ~50 bytes.
    *
    * The filter is sized to the next power of two ≥ 10 bits/shingle
    * (k = 7 → ~1% false positives), capped at 2^28 bits = 32 MB of
    * driver/task memory; past the cap the fp rate degrades gracefully
    * and correctness is unaffected (the verify join stays exact).
    */
  def contaminationBloom(docs: DataFrame, bench: DataFrame, w: Int = 5)
      : DataFrame = graft.core.Checkpoints.scoped { scope =>
    val spark = docs.sparkSession
    // the explode sits DIRECTLY over the shingle HOF with `toks` bound
    // one projection below: hoisting the shingle array into its own
    // projection (e.g. to take size() map-side) lets CollapseProject
    // substitute the tokenizer into the HOF lambda, which then
    // re-tokenizes the document PER ELEMENT — a measured ~9× slowdown
    // (the interpreted-HOF trap; Generate blocks the collapse)
    def grams(df: DataFrame): DataFrame = df
      .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(Dedup.shinglesFromTokens(col("toks"), w)).as("ng"))
    // materialized once: the filter build AND the verify join read it
    // (a leaf of the result: release(result) frees it)
    val benchGrams = scope.checkpoint(grams(bench).select(col("ng"))
      .distinct())
    val nBench = benchGrams.count()
    val targetBits = math.min(1L << 28, math.max(1L << 16, nBench * 10))
    val numBits =
      if (java.lang.Long.bitCount(targetBits) == 1) targetBits
      else java.lang.Long.highestOneBit(targetBits) << 1
    val numHashes = 7
    import spark.implicits._
    // build over RAW utf-8 bytes (cast binary = raw copy) so build and
    // probe hash identical byte sequences — see BloomBuild's scaladoc
    val words = benchGrams.select(col("ng").cast("binary")).as[Array[Byte]]
      .select(new graft.functions.BloomBuild((numBits / 64).toInt, numHashes)
        .toColumn).head()
    // the filter (up to 32 MB) attaches as ONE plan reference object via
    // the package bridge — boxing it through a function-registry literal
    // would round-trip every word through the driver per plan copy
    val bloom = new graft.functions.BloomBits(words, numHashes)
    def bloomHit(c: Column): Column =
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.BloomContainsExpr(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(c), bloom))
    // the corpus is shingled twice (total + hits) — the price of NOT
    // broadcasting the bench table; both passes stay in the safe
    // generator shape, and `total`'s shuffle is |docs| rows after
    // map-side partial aggregation. (The alternative — checkpointing
    // corpus-sized shingle streams — costs more than the second scan.)
    val dg = grams(docs)
    val total = dg.groupBy(col("doc_id")).agg(count(lit(1)).as("n_ngrams"))
    val hits = dg.filter(bloomHit(col("ng")))
      .join(benchGrams, Seq("ng"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
    total.join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_ngrams"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        TextAnalysis.portableRound(coalesce(col("n_contaminated"), lit(0L)) /
          col("n_ngrams").cast("double"), 4).as("contamination"))
  }

  // ---- repetition / quality statistics (Gopher-rule family) ------------

  /** Per-document token-repetition statistics: token and type counts,
    * most-frequent-token share, fraction of tokens that are repeats,
    * mean token length — the signals behind the published "repetitious
    * document" quality filters — plus the keep/drop verdict.
    *
    * Scale design: explode → two-level aggregation. The first groupBy
    * keys on (doc_id, token) with map-side partial aggregation, so the
    * shuffle carries one row per distinct token per document (≈ the
    * size of the corpus' per-doc vocabularies, far below token count);
    * the second collapses to one row per document. Never quadratic in
    * document length, unlike the HOF formulation
    * `transform(distinct, d -> size(filter(toks, eq(d))))`.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(Dedup.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")

    val perTok = toks.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"))

    perTok.groupBy(col("doc_id"))
      .agg(
        sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        TextAnalysis.portableRound(
          max(col("cnt")) / sum(col("cnt")).cast("double"), 4)
          .as("top_token_ratio"),
        TextAnalysis.portableRound(
          sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)) /
          sum(col("cnt")).cast("double"), 4).as("dup_token_ratio"),
        TextAnalysis.portableRound(
          sum(length(col("tok")) * col("cnt")) /
          sum(col("cnt")).cast("double"), 4).as("mean_token_len"))
      .withColumn("keep",
        col("top_token_ratio") <= 0.2 &&
          col("mean_token_len") >= 3.0 && col("mean_token_len") <= 10.0)
  }

  // ---- per-stratum weighted sampling -----------------------------------

  /** Deterministic content-keyed sampling with a different rate per
    * stratum (the corpus-mixing primitive: "keep 30% of en, 5% of fr").
    * Same md5-prefix predicate as TextAnalysis.sampleByFingerprint —
    * reproducible across runs, engines and partitionings — with the
    * threshold chosen per stratum value. Pure map-side: scales as a
    * scan, immune to stratum skew (no shuffle keys on the stratum at
    * all, unlike exact-k-per-stratum window designs).
    *
    * Rate resolution is 1/256 (two hex chars); rates are clamped to
    * [1/256, 1] like sampleByFingerprint. Strata absent from `rates`
    * fall back to `defaultRate`.
    */
  def weightedSampleFilter(text: Column, stratum: Column,
      rates: Map[String, Double], defaultRate: Double): Column = {
    val thr = rates.toSeq.sortBy(_._1).foldRight(
      lit(TextAnalysis.hexThreshold(defaultRate)): Column) { case ((k, r), acc) =>
      when(stratum === k, lit(TextAnalysis.hexThreshold(r))).otherwise(acc)
    }
    substring(TextAnalysis.fingerprintMd5(text), 1, 2) <= thr
  }

  /** Temperature-weighted domain-mixture sampling — the corpus-mixing
    * rule where rates are DERIVED from the data instead of hand-picked
    * (weightedSampleFilter's caller supplies rates; here the operator
    * computes them): domain d with n_d documents gets mixture weight
    * w_d ∝ n_d^0.5 (the α = 0.5 "temperature" that upweights small
    * domains relative to proportional sampling, as used for published
    * multi-corpus pretraining mixes), and a per-domain rate
    * r_d = min(1, τ·N·w_d / (W·n_d)) so the expected sample size is
    * τ·N overall. Selection is content-keyed: a salted md5 fingerprint
    * prefix against a 4-hex-char per-domain bound — deterministic
    * across runs, engines and partitionings, and independent of the
    * plain-fingerprint samplers (the "mix:" salt decorrelates it).
    *
    * Cross-engine determinism contract: every step is either exact
    * integer arithmetic (domain counts, Σ of integer micro-weights) or
    * a fixed tree of IEEE-754 double ops on exact-integer inputs.
    * sqrt is correctly rounded per IEEE 754 — unlike pow, whose last
    * ulp is libm-specific — which is why α is fixed at 0.5 rather than
    * a knob. An oracle re-deriving r_d with the same expression tree
    * gets bit-identical doubles, hence the identical hex bound.
    *
    * Scale: one |domains|-row count aggregate, rates broadcast back
    * onto the corpus, then a map-side filter — the corpus is scanned
    * once and never shuffled.
    *
    * Returns the sampled rows as (doc_id, domain, r_micro) where
    * r_micro = ⌊r_d·10⁶ + ½⌋ records the applied rate exactly.
    */
  def domainMixture(docs: DataFrame, domainCol: String = "lang",
      tau: Double = 0.5): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0, 1], got $tau")
    val counts = docs.groupBy(col(domainCol)).agg(count(lit(1)).as("n_d"))
    val weights = counts.withColumn("w_d",
      floor(sqrt(col("n_d")) * 1e6 + 0.5).cast("long"))
    val totals = weights.agg(sum(col("w_d")).as("w_tot"),
      sum(col("n_d")).as("n_tot"))
    val rates = weights.crossJoin(broadcast(totals))
      .withColumn("r_d", least(lit(1.0),
        (lit(tau) * col("n_tot").cast("double") * col("w_d").cast("double"))
          / (col("w_tot").cast("double") * col("n_d").cast("double"))))
      .withColumn("bound_hex", lpad(lower(hex(
        least(floor(col("r_d") * 65536.0).cast("long"), lit(65535L)))),
        4, "0"))
      .withColumn("r_micro", floor(col("r_d") * 1e6 + 0.5).cast("long"))
      .select(col(domainCol), col("bound_hex"), col("r_micro"))
    docs.join(broadcast(rates), Seq(domainCol))
      .filter(substring(md5(concat(lit("mix:"),
        regexp_replace(lower(trim(col("text"))), "\\s+", " "))), 1, 4)
        <= col("bound_hex"))
      .select(col("doc_id"), col(domainCol), col("r_micro"))
  }

  // ---- end-to-end curation (all stages oracle-able) --------------------

  /** Composed curation pipeline: repetition-quality filter →
    * decontamination against `bench` → per-stratum weighted sample →
    * PII redaction on the survivors. Unlike CorpusPipeline (whose dedup
    * stage is LSH-based and therefore rows-only at the gate), every
    * stage here is deterministic and engine-portable, so the WHOLE
    * pipeline is DuckDB-oracle-checkable — the composition proof for
    * the curation family.
    *
    * Scale: two doc_id-keyed aggregates of the same scan joined back to
    * the corpus (shuffle width = |docs|), a broadcast contamination
    * probe inside `contamination`, then map-side sample + redaction.
    * Docs absent from the contamination output (shorter than w tokens)
    * count as 0.0 — too short to overlap is not a reason to drop.
    */
  def curateCorpus(docs: DataFrame, bench: DataFrame,
      rates: Map[String, Double], defaultRate: Double,
      maxContamination: Double = 0.5, w: Int = 5): DataFrame = {
    val stats = repetitionStats(docs).select("doc_id", "n_tokens", "keep")
    val contam = contamination(docs, bench, w)
      .select("doc_id", "contamination")
    docs
      .join(stats, Seq("doc_id"))
      .join(contam, Seq("doc_id"), "left_outer")
      .withColumn("contamination", coalesce(col("contamination"), lit(0.0)))
      .filter(col("keep") && col("contamination") < maxContamination)
      .filter(weightedSampleFilter(col("text"), col("lang"),
        rates, defaultRate))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("contamination"),
        md5(redactPii(col("text"))).as("redacted_fp"))
  }

  // ---- sequence packing ------------------------------------------------

  /** Concat-and-chunk sequence packing: lay every document's tokens end
    * to end in doc_id order and cut the stream into fixed `capacity`
    * training sequences. Emits, per document, its global token offset
    * and the [first_seq, last_seq] range of sequences it lands in —
    * the bookkeeping a tokenize-and-pack job needs to write shards.
    *
    * Scale design: the global token offset is an exact prefix sum over
    * doc_id order, computed by operators.PrefixSum — two linear passes
    * plus an O(buckets) driver-side subtotal prefix, never the
    * single-partition `OVER (ORDER BY ...)` window that a naive SQL
    * formulation plans. Callers done with the result should
    * `graft.core.Checkpoints.release` it (PrefixSum materializes the
    * range-partitioning once; release frees those blocks).
    */
  def packSequences(docs: DataFrame, capacity: Int = 512,
      buckets: Int = 32): DataFrame = {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    val withTok = docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    graft.operators.PrefixSum.running(withTok, "doc_id", "n_tokens", buckets)
      .select(col("doc_id"), col("n_tokens"),
        (col("running_total") - col("n_tokens")).as("start_tok"),
        floor((col("running_total") - col("n_tokens")) / capacity)
          .as("first_seq"),
        floor((col("running_total") - 1) / capacity).as("last_seq"))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
  }

  /** Deterministic global training-order shuffle + shard assignment:
    * the "shuffle the corpus, cut it into shards, number the examples"
    * step every pretraining data-prep run ends with. Each document gets
    * a pseudo-random but reproducible shuffle key (md5 over a salted
    * doc_id — content-independent, so duplicate texts still get distinct
    * positions), a shard = (first key byte) mod nShards, and a 1-based
    * position within its shard in shuffle-key order.
    *
    * Scale design: within-shard position is NOT a
    * `row_number() OVER (PARTITION BY shard)` window — with nShards
    * small (8–64) each window partition would hold corpus/nShards rows
    * in one task, exactly the shape that dies at 100 TB. Instead the
    * global rank over the (shard, key) total order comes from
    * operators.PrefixSum (range-repartition + O(buckets) driver
    * subtotals), and the per-shard base offsets from an |shards|-row
    * aggregate joined back broadcast. Callers done with the result
    * should `graft.core.Checkpoints.release` it (PrefixSum materializes
    * its range partitioning once).
    *
    * Returns (doc_id, shard, pos).
    */
  def shuffleShards(docs: DataFrame, nShards: Int = 8,
      buckets: Int = 32): DataFrame = {
    require(nShards >= 1 && nShards <= 99,
      s"nShards must be in [1, 99], got $nShards")
    val skey = md5(concat(lit("shuf:"), col("doc_id").cast("string")))
    val keyed = docs.select(col("doc_id"), skey.as("skey"))
      .withColumn("shard", pmod(
        conv(substring(col("skey"), 1, 2), 16, 10).cast("int"),
        lit(nShards)))
      // zero-padded shard prefix + 32 fixed hex chars: lexicographic
      // order on __k == (shard ASC, skey ASC), and unique because skey
      // is an md5 of the unique doc_id
      .withColumn("__k",
        concat(lpad(col("shard").cast("string"), 2, "0"), col("skey")))
      .withColumn("__one", lit(1L))
    val ranked = graft.operators.PrefixSum.running(keyed, "__k", "__one",
      buckets)
    val bases = ranked.groupBy(col("shard"))
      .agg(min(col("running_total")).as("__base"))
    ranked.join(broadcast(bases), Seq("shard"))
      .select(col("doc_id"), col("shard"),
        (col("running_total") - col("__base") + 1L).as("pos"))
  }

  /** Composed training-data export: temperature domain-mixture sample →
    * deterministic shuffle-shard assignment → per-shard sequence packing
    * (token offsets and [first_seq, last_seq] within each shard's
    * training stream). The full layout job a pretraining run executes
    * after curation — and, because every stage is deterministic and
    * engine-portable, the WHOLE composition is hash-oracle-able
    * (the curation counterpart of llm_curation_e2e's filter pipeline).
    *
    * Scale: mixture is a broadcast-rate map-side filter; shard, pos AND
    * the per-shard token prefix all come from ONE multi-weight PrefixSum
    * pass over the (shard, key) total order (one range shuffle carrying
    * both the rank weight and the token weight) plus one |shards|-row
    * base-offset join. Callers should `graft.core.Checkpoints.release`
    * the result.
    */
  def dataprepE2e(docs: DataFrame, domainCol: String = "lang",
      tau: Double = 0.5, nShards: Int = 8, capacity: Int = 512,
      buckets: Int = 32): DataFrame = {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    require(nShards >= 1 && nShards <= 99,
      s"nShards must be in [1, 99], got $nShards")
    val sampled = domainMixture(docs, domainCol, tau)
    val withTok = sampled.join(docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens")), Seq("doc_id"))
    // same shuffle key + shard recipe as shuffleShards — the oracle CTEs
    // are shared text, so the two must not drift
    val keyed = withTok
      .withColumn("skey",
        md5(concat(lit("shuf:"), col("doc_id").cast("string"))))
      .withColumn("shard", pmod(
        conv(substring(col("skey"), 1, 2), 16, 10).cast("int"),
        lit(nShards)))
      .withColumn("__k",
        concat(lpad(col("shard").cast("string"), 2, "0"), col("skey")))
      .withColumn("__one", lit(1L))
    val run = graft.operators.PrefixSum.runningMulti(keyed, "__k",
      Seq("__one", "n_tokens"), buckets)
    val bases = run.groupBy(col("shard"))
      .agg(min(col("running___one")).as("__pbase"),
        min(col("running_n_tokens") - col("n_tokens")).as("__tbase"))
    run.join(broadcast(bases), Seq("shard"))
      .withColumn("pos", col("running___one") - col("__pbase") + 1L)
      .withColumn("start_tok",
        col("running_n_tokens") - col("n_tokens") - col("__tbase"))
      .select(col("doc_id"), col(domainCol), col("shard"), col("pos"),
        col("n_tokens").cast("int").as("n_tokens"), col("start_tok"),
        floor(col("start_tok") / capacity).as("first_seq"),
        floor((col("start_tok") + col("n_tokens") - 1) / capacity)
          .as("last_seq"))
  }

  /** Split each document into fixed-size token windows with overlap —
    * the chunking step of a context-window-bounded pretraining or
    * retrieval pipeline (`chunkSize` tokens per chunk, chunk starts
    * every `stride` tokens, so consecutive chunks overlap by
    * chunkSize − stride). Every document yields ≥ 1 chunk; the last
    * chunk is short when the token count doesn't fill the window.
    *
    * Pure map-side: tokens bound once per row (HOF-interpreted rule),
    * chunk starts from an integer-arithmetic `sequence`, one
    * posexplode. No shuffle, survives any scale as a scan. Chunk count
    * is 1 + ⌈(n − chunkSize)/stride⌉ via integer ceil-div, clamped at
    * zero so short docs emit exactly one chunk.
    */
  def chunkTokens(docs: DataFrame, chunkSize: Int = 64,
      stride: Int = 48): DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
    require(stride >= 1 && stride <= chunkSize,
      s"stride must be in [1, chunkSize], got $stride")
    val n = size(col("toks"))
    // floor of a possibly-negative double ratio differs between engines
    // only below the greatest() clamp, so the clamp makes it exact
    val extra = greatest(lit(0L),
      floor((n - chunkSize + (stride - 1)) / lit(stride.toDouble))
        .cast("long"))
    docs
      .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0L), extra),
          i => i * stride)).as(Seq("chunk_idx", "start_tok")),
        col("toks"))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        concat_ws(" ", slice(col("toks"),
          (col("start_tok") + 1).cast("int"), lit(chunkSize))).as("chunk_text"),
        least(lit(chunkSize.toLong), size(col("toks")) - col("start_tok"))
          .cast("long").as("n_chunk_tokens"))
  }
}
