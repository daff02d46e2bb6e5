package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints

/** Deduplication operators over `documents` (doc_id, text, ...).
  *
  * Scale design:
  *  - exact dedup = one hash shuffle on the fingerprint (min_by keeps the
  *    canonical row) — the same plan at 100 TB, with AQE handling skew on
  *    pathological duplicate clusters;
  *  - MinHash/LSH near-dup avoids the O(n²) pairwise join entirely: docs
  *    shuffle once per band on the band key, candidate pairs are generated
  *    only inside buckets, and exact Jaccard verification runs on the
  *    (tiny) candidate set — published MinHash-LSH banding (Broder '97,
  *    Leskovec et al. MMDS ch.3);
  *  - SimHash groups by the full 64-bit signature (near-identical docs
  *    collide) — one shuffle;
  *  - embedding near-dup uses random-hyperplane LSH (sign bits) with the
  *    same banding trick.
  */
object Dedup {

  // ---- exact ----------------------------------------------------------

  /** Keep the lowest doc_id per normalized-text fingerprint. */
  def exact(docs: DataFrame): DataFrame =
    docs
      .withColumn("fp", TextAnalysis.fingerprintMd5(col("text")))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Paragraph-level exact dedup (RefinedWeb/Dolma-style): drop every
    * repeated paragraph CORPUS-WIDE, keeping only its first occurrence
    * (ordered by doc_id, then position), and reassemble each document
    * from its surviving paragraphs. The corpus has no newline structure,
    * so "paragraph" is re-expressed as a deterministic non-overlapping
    * `chunkSize`-token window (Curation.chunkTokens with stride =
    * chunkSize) — the unit is different, the dedup semantics are the
    * published ones.
    *
    * Returns (doc_id, n_chunks, n_kept, text_dedup); docs whose every
    * chunk was seen earlier survive with n_kept = 0 and empty text.
    *
    * Scale: chunking is map-side; the first-occurrence rule is one
    * window pass hash-partitioned by chunk fingerprint (group size =
    * duplicate multiplicity, never corpus-sized); reassembly is one
    * groupBy(doc_id). Three narrow shuffles, nothing quadratic, no
    * broadcast — the same plan at 100 TB.
    */
  def paragraphDedup(docs: DataFrame, chunkSize: Int = 16): DataFrame = {
    val chunks = Curation.chunkTokens(docs, chunkSize, chunkSize)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_text"),
        md5(col("chunk_text")).as("fp"))
    val firstSeen = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp"))
      .orderBy(col("doc_id").asc, col("chunk_idx").asc)
    val kept = chunks
      .withColumn("rn", row_number().over(firstSeen))
      .filter(col("rn") === 1)
    val rebuilt = kept.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_kept"),
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("chunk_idx"), col("chunk_text")))),
        s => s.getField("chunk_text"))).as("text_dedup"))
    chunks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
      .join(rebuilt, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  // ---- MinHash + LSH --------------------------------------------------

  /** Normalized whitespace tokens of a text column. Materialize this as
    * its own column BEFORE calling shinglesFromTokens: higher-order
    * functions evaluate interpreted, and a lambda body that references a
    * non-trivial outer expression re-evaluates it per element — binding
    * the tokens to an attribute makes those references O(1) field reads
    * (measured 17× on the minhash pipeline).
    */
  def tokens(text: Column): Column =
    split(regexp_replace(lower(trim(text)), "\\s+", " "), " ")

  /** Sliding w-gram shingle set over a BOUND token array column. */
  def shinglesFromTokens(toks: Column, w: Int = 3): Column =
    array_distinct(
      filter(
        transform(toks, (_, i) =>
          when(i <= size(toks) - w,
            concat_ws(" ", slice(toks, i + 1, lit(w))))),
        x => x.isNotNull))

  /** Convenience one-shot form — only for small inputs / tests; the
    * two-step tokens→shingles form is the pipeline path.
    */
  def shingles(text: Column, w: Int = 3): Column =
    shinglesFromTokens(tokens(text), w)

  /** Cross-document duplicated n-gram statistics — the corpus-level
    * repeated-sequence audit behind substring-level training-data
    * dedup (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better"): every w-token window occurring in ≥ minDocs
    * DISTINCT documents, with its document spread and total occurrence
    * count, top-k by spread. The output is the triage list a pipeline
    * uses to decide which boilerplate sequences to strip before
    * training (and the gram list feeds span-removal directly).
    *
    * Unlike shinglesFromTokens this keeps duplicate windows (occurrence
    * counts matter here), so the explode is over the raw transform.
    *
    * Scale: gram generation is map-side; the groupBy(gram) aggregation
    * is the classic hot-key shape (viral boilerplate grams), which
    * partial aggregation absorbs — count(*) combines map-side, and
    * count(DISTINCT doc_id) plans as the two-level expand+agg Spark
    * generates, both skew-tolerant. Top-k is TakeOrderedAndProject
    * (never a global sort) with a total tiebreak order (gram is unique
    * per row) so the cut is deterministic.
    */
  def dupNgrams(docs: DataFrame, w: Int = 5, minDocs: Int = 2,
      k: Int = 100): DataFrame = {
    require(w >= 1, s"w must be >= 1, got $w")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val withToks = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val grams = withToks.select(col("doc_id"),
      explode(filter(
        transform(col("toks"), (_, i) =>
          when(i <= size(col("toks")) - w,
            concat_ws(" ", slice(col("toks"), i + 1, lit(w))))),
        x => x.isNotNull)).as("gram"))
    grams.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("gram").asc)
      .limit(k)
  }

  /** Per-document n-gram NOVELTY score (the memorization / near-verbatim
    * overlap signal a curation pipeline reads before oversampling a
    * source — RefinedWeb/Dolma-style): for each document, the fraction
    * of its DISTINCT w-grams whose corpus-first owner (min doc_id over
    * all documents containing the gram) is the document itself. A score
    * near 0 = the document is assembled from text seen earlier in the
    * corpus; near 1 = fresh text. Emitted in exact micro-units
    * (floor(1e6 · first / distinct)) so the score hash-verifies.
    *
    * Scale shape: gram explode → per-doc distinct (one shuffle), min
    * aggregation per gram (map-side partial min), join back on gram,
    * per-doc count — work ∝ corpus token volume, never corpus²; the
    * gram-keyed shuffle is the same volume every dedup operator here
    * already pays. Documents shorter than w tokens carry no gram and are
    * absent by contract (both engines).
    */
  def ngramNovelty(docs: DataFrame, w: Int = 5): DataFrame = {
    require(w >= 1, s"w must be >= 1, got $w")
    val withToks = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val grams = withToks.select(col("doc_id"),
      explode(filter(
        transform(col("toks"), (_, i) =>
          when(i <= size(col("toks")) - w,
            concat_ws(" ", slice(col("toks"), i + 1, lit(w))))),
        x => x.isNotNull)).as("gram"))
      .distinct()
    val owner = grams.groupBy(col("gram"))
      .agg(min(col("doc_id")).as("owner"))
    grams.join(owner, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct"),
        sum(when(col("doc_id") === col("owner"), 1L).otherwise(0L))
          .as("n_first"))
      .select(col("doc_id"), col("n_distinct"), col("n_first"),
        expr("(1000000 * n_first) div n_distinct").as("novelty_micro"))
  }

  /** Substring-level dedup EXECUTION (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"): where dupNgrams only
    * AUDITS repeated sequences, this removes them. Every w-token window
    * occurring in >= minDocs distinct documents is a duplicated span;
    * all its occurrences except the corpus-first one (lexicographic min
    * (doc_id, start) — the same all-but-one retention rule as exact
    * dedup) are cut, every token position under a cut span drops, and
    * each document is reassembled from its surviving tokens in order.
    *
    * Returns (doc_id, n_tokens, n_cut, text_dedup); a document that is
    * entirely boilerplate survives with n_cut = n_tokens and empty text.
    *
    * Scale: gram generation is map-side; duplicated-gram detection is
    * ONE skew-tolerant aggregation per gram (count(DISTINCT doc_id)
    * plans as Spark's expand + two-level agg, and the kept occurrence
    * min(struct(doc_id, start)) rides the same pass as a
    * partial-aggregable min — no window over the unbounded per-gram
    * occurrence list); the occurrence→dup join is a hash join keyed by
    * gram; the cut-position explode is bounded by w × duplicate
    * occurrences; the anti-join and reassembly shuffle by doc_id.
    * Nothing quadratic, no driver state — the same plan at 100 TB.
    */
  def cutDupSpans(docs: DataFrame, w: Int = 5, minDocs: Int = 2): DataFrame = {
    require(w >= 1, s"w must be >= 1, got $w")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val withToks = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val grams = withToks.select(col("doc_id"),
      explode(filter(
        transform(col("toks"), (_, i) =>
          when(i <= size(col("toks")) - w,
            struct(i.as("start"),
              concat_ws(" ", slice(col("toks"), i + 1, lit(w))).as("gram")))),
        x => x.isNotNull)).as("o"))
      .select(col("doc_id"), col("o.start").as("start"),
        col("o.gram").as("gram"))
    val dup = grams.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        min(struct(col("doc_id"), col("start"))).as("keep"))
      .filter(col("n_docs") >= minDocs)
      .select(col("gram"), col("keep.doc_id").as("keep_doc"),
        col("keep.start").as("keep_start"))
    val cuts = grams.join(dup, Seq("gram"))
      .filter(!(col("doc_id") === col("keep_doc") &&
        col("start") === col("keep_start")))
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + lit(w - 1))).as("pos"))
      .distinct()
    val toksPos = withToks.select(col("doc_id"),
      posexplode(col("toks")).as(Seq("pos", "token")))
    val kept = toksPos.join(cuts, Seq("doc_id", "pos"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_kept"),
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("token")))),
        s => s.getField("token"))).as("text_dedup"))
    withToks
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_cut"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** k-value MinHash signature in ONE array pass via the native
    * double-hashing expression (functions.MinHashSignatureExpr) — the
    * naive k-transforms formulation traverses and re-hashes the shingle
    * array k times and was the bench's dominant cost.
    */
  def minhashSignature(shingleCol: Column, k: Int = 32): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    graft.functions.GraftFunctions.register(spark)
    call_function("graft_minhash", shingleCol, lit(k))
  }

  /** LSH banding: docs sharing any band bucket become candidate pairs;
    * candidates are verified with exact shingle-set Jaccard.
    *
    * bands × rowsPerBand must equal the signature length. With 32 hashes
    * as 8 bands × 4 rows, the S-curve threshold sits near
    * (1/8)^(1/4) ≈ 0.6 Jaccard.
    */
  def minhashNearDup(docs: DataFrame, w: Int = 3, k: Int = 32,
      bands: Int = 8, minJaccard: Double = 0.6,
      collapseExact: Boolean = true): DataFrame = {
    val rowsPerBand = k / bands
    require(bands * rowsPerBand == k, "bands must divide signature length")
    graft.functions.GraftFunctions.register(
      org.apache.spark.sql.SparkSession.active)
    if (!collapseExact)
      minhashBandVerify(docs, w, k, bands, minJaccard, selfPairs = None)
    else Checkpoints.scoped { s =>
      // Exact-duplicate collapse (r9, the same clone-cluster hardening
      // as simhashNearDup/ImageDedup): every downstream value —
      // signature, band keys, shingle set, Jaccard — is a pure function
      // of the TOKEN SEQUENCE, so the banded join and verification run on
      // ONE representative per distinct sequence, and verified pairs
      // expand back to member pairs at the end. Output is provably
      // identical; candidate volume stops being quadratic in clone
      // multiplicity (tokens never contain whitespace, so the
      // space-joined fingerprint is collision-free up to md5).
      // fped, withSig, candSh (minhashBandVerify) and dedupCorpus's
      // survivors are maps over the spread `documents` scan: no shuffle
      // at their top for AQE to coalesce, so Tables.compact sizes them.
      // Their deletion read +0.4–0.8 s at 32 cores on minhash/
      // dedup_corpus/pipeline_e2e in the layout A/B in CHANGES.md.
      val fped = s.cache(docs.select(col("doc_id"),
          md5(concat_ws(" ", tokens(col("text")))).as("fp"))
        .transform(graft.core.Tables.compact(_, shuffle = true)))
      // Early-out (r9 verdict item): on a MOSTLY-DISTINCT corpus the
      // collapse grouping buys nothing and costs two extra shuffles —
      // doc-level banding finds the few clone pairs anyway (identical
      // signatures share every band bucket, Jaccard 1 ≥ any threshold),
      // so the output is identical either way. One approximate
      // aggregate decides; the collapse engages only when clones are
      // plentiful enough (>5%) to threaten the quadratic candidate
      // blowup it exists to prevent.
      val st = fped.agg(count(lit(1)), approx_count_distinct(col("fp")))
        .head()
      if (st.getLong(1) >= 0.95 * st.getLong(0)) {
        s.keep()
        minhashBandVerify(docs, w, k, bands, minJaccard, selfPairs = None)
      } else {
        val groups = s.cache(fped.groupBy(col("fp"))
          .agg(min(col("doc_id")).as("rep_id"),
            count(lit(1)).as("n_members")))
        val reps = docs.join(groups.select(col("rep_id").as("doc_id")),
          Seq("doc_id"), "left_semi")

        // Exact-duplicate groups re-enter as rep SELF pairs
        // (id_a = id_b): the shared verify computes their Jaccard on
        // (sh, sh), so the empty-shingle and null-sig exclusions apply to
        // clone groups exactly as they did to doc-level banding.
        val selfPairs = groups.filter(col("n_members") > 1)
          .select(col("rep_id").as("id_a"), col("rep_id").as("id_b"))
        val verifiedReps = s.adopt(minhashBandVerify(reps, w, k, bands,
          minJaccard, selfPairs = Some(selfPairs)))
        // expand verified rep pairs to member pairs: cross-group pairs
        // order by least/greatest (each unordered member pair appears
        // exactly once because rep pairs carry id_a < id_b); same-group
        // (self) pairs take the m_a < m_b half of the within-group cross
        // join
        val members = fped.join(groups.select(col("fp"), col("rep_id")),
          Seq("fp"))
        s.checkpoint(verifiedReps
          .join(members.select(col("rep_id").as("id_a"),
            col("doc_id").as("m_a")), Seq("id_a"))
          .join(members.select(col("rep_id").as("id_b"),
            col("doc_id").as("m_b")), Seq("id_b"))
          .filter(col("id_a") =!= col("id_b") || col("m_a") < col("m_b"))
          .select(least(col("m_a"), col("m_b")).as("id_a"),
            greatest(col("m_a"), col("m_b")).as("id_b"), col("jaccard")))
      }
    }
  }

  /** The signature → band-bucket join → exact-Jaccard-verify core shared
    * by the collapsed and doc-level minhash paths (r9 ADVICE: the two
    * ~50-line copies could drift — now there is one). `selfPairs`
    * injects rep self-pairs (id_a = id_b) so clone groups are verified
    * under the same shingle-based exclusions as everything else; rows
    * whose id has a null signature are dropped here, matching the old
    * semi-join. Returns an eagerly-materialized (id_a, id_b, jaccard)
    * frame with every internal cache released.
    */
  private def minhashBandVerify(docs: DataFrame, w: Int, k: Int,
      bands: Int, minJaccard: Double,
      selfPairs: Option[DataFrame]): DataFrame = Checkpoints.scoped { s =>
    val rowsPerBand = k / bands
    // Signature in one fused native pass (tokens → w-gram windows →
    // double-hash minima): no shingle strings or intermediate arrays are
    // materialized for the corpus — only candidates get real shingle
    // sets. (doc_id, sig) is k longs per doc — cache it so the banded
    // self-join computes each signature once, not twice.
    val withSig = s.cache(docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        call_function("graft_minhash_text", col("toks"), lit(w), lit(k))
          .as("sig"))
      .filter(col("sig").isNotNull)
      // sized: see minhashNearDup's fped
      .transform(graft.core.Tables.compact(_, shuffle = true)))
    // explode into (band_id, band_key) keys — ids only, narrow shuffle.
    // The key is the band's signature VALUES joined as a string, not a
    // hash of them: same bucketing (equal slices ⇔ equal keys, with no
    // hash-collision caveat), and engine-portable — the DuckDB oracle
    // rebuilds the identical keys, which a xxhash64 band key precluded
    val banded = withSig.select(
      col("doc_id"),
      posexplode(array((0 until bands).map { b =>
        concat_ws(",",
          slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)
            .cast("array<string>"))
      }: _*)).as(Seq("band_id", "band_key")))
    val bandCands = banded.select(col("band_id"), col("band_key"),
        col("doc_id").as("id_a"))
      .join(banded.select(col("band_id"), col("band_key"),
        col("doc_id").as("id_b")), Seq("band_id", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    val cands = s.cache(selfPairs match {
      case Some(sp) => bandCands.union(
        sp.join(withSig.select(col("doc_id").as("id_a")), Seq("id_a"),
          "left_semi"))
      case None => bandCands
    })
    // exact Jaccard verification — shingle sets materialized ONLY for
    // docs that appear in a candidate pair. On a typical corpus that set
    // is tiny and AQE turns these joins into broadcasts at runtime; on a
    // duplicate-dense corpus (the primary dedup use case) it is NOT
    // small, so no broadcast is forced — AQE decides from observed sizes
    // instead of failing on the 8 GB broadcast limit.
    val candIds = cands.select(col("id_a").as("doc_id"))
      .union(cands.select(col("id_b").as("doc_id"))).distinct()
    val candSh = s.cache(docs
      .join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), shinglesFromTokens(col("toks"), w).as("sh"))
      // sized: see minhashNearDup's fped
      .transform(graft.core.Tables.compact(_, shuffle = true)))
    // eager: the verified pair set is LSH-pruned; materializing it here
    // lets the scope free the intermediates immediately instead of
    // accumulating cached blocks across repeated dedup calls
    s.checkpoint(cands
      .join(candSh.select(col("doc_id").as("id_a"),
        col("sh").as("sh_a")), Seq("id_a"))
      .join(candSh.select(col("doc_id").as("id_b"),
        col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("uni") > 0)
      .withColumn("jaccard", TextAnalysis.portableRound(
        col("inter") / col("uni").cast("double"), 4))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard")))
  }

  /** Cross-corpus near-dup decontamination (MinHash+LSH): flag training
    * docs whose shingle set NEAR-duplicates any benchmark/eval doc — the
    * fuzzy complement to Curation.contamination's exact n-gram overlap
    * (light paraphrases and small edits defeat exact n-grams; they do
    * not defeat Jaccard at the LSH S-curve threshold).
    *
    * Same machinery as minhashNearDup — fused one-pass md5 signatures,
    * value-keyed band buckets, exact-Jaccard verify on candidates only —
    * but the band join is corpus×bench instead of a self-join, so
    * candidate volume is bounded by the BENCH bucket sizes: at 100 TB
    * corpus × 10k-doc eval suite the banded bench side is tiny, AQE
    * broadcasts it, and the corpus is never joined against itself.
    * Pairs with equal doc_id are excluded (the eval docs themselves,
    * when the bench is drawn from the corpus).
    *
    * Returns one row per flagged corpus doc:
    * (doc_id, n_bench_matches, max_jaccard ≥ minJaccard).
    */
  def crossNearDup(corpus: DataFrame, bench: DataFrame, w: Int = 3,
      k: Int = 32, bands: Int = 8, minJaccard: Double = 0.6): DataFrame =
      Checkpoints.scoped { s =>
    val rowsPerBand = k / bands
    require(bands * rowsPerBand == k, "bands must divide signature length")
    graft.functions.GraftFunctions.register(
      org.apache.spark.sql.SparkSession.active)

    def banded(docs: DataFrame, idAs: String): DataFrame = docs
      .select(col("doc_id").as(idAs), tokens(col("text")).as("toks"))
      .select(col(idAs),
        call_function("graft_minhash_text", col("toks"), lit(w), lit(k))
          .as("sig"))
      .filter(col("sig").isNotNull)
      .select(col(idAs),
        posexplode(array((0 until bands).map { b =>
          concat_ws(",",
            slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)
              .cast("array<string>"))
        }: _*)).as(Seq("band_id", "band_key")))

    // candidates: corpus band rows against the (small) bench band rows —
    // no self-join; AQE broadcasts the bench side from observed size
    val cands = s.cache(banded(corpus, "doc_id")
      .join(banded(bench, "bench_id"), Seq("band_id", "band_key"))
      .filter(col("doc_id") =!= col("bench_id"))
      .select(col("doc_id"), col("bench_id"))
      .dropDuplicates("doc_id", "bench_id"))

    // exact verify: corpus shingle sets only for candidate docs, bench
    // shingle sets for the whole (small) bench
    val candSh = corpus
      .join(cands.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), shinglesFromTokens(col("toks"), w).as("sh_a"))
    val benchSh = bench
      .select(col("doc_id").as("bench_id"), tokens(col("text")).as("toks"))
      .select(col("bench_id"),
        shinglesFromTokens(col("toks"), w).as("sh_b"))
    s.checkpoint(cands
      .join(candSh, Seq("doc_id"))
      .join(benchSh, Seq("bench_id"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("uni") > 0)
      .withColumn("jaccard", TextAnalysis.portableRound(
        col("inter") / col("uni").cast("double"), 4))
      .filter(col("jaccard") >= minJaccard)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bench_matches"),
        max(col("jaccard")).as("max_jaccard")))
  }

  /** EXACT n-gram Jaccard self-join at scale via prefix filtering
    * (AllPairs, Bayardo et al. WWW'07; prefix-filter principle from
    * SSJoin, Chaudhuri et al. ICDE'06). Unlike minhashNearDup this has
    * recall 1.0 — every pair at or above the threshold is returned —
    * while still never comparing all pairs:
    *
    *  1. order each doc's shingles by global rarity (document frequency
    *     ascending, shingle ascending as the tiebreak — any TOTAL order
    *     works for correctness; rarest-first minimizes candidates);
    *  2. index only each doc's PREFIX — the first
    *     |S| − ⌈t·|S|⌉ + 1 shingles. Two sets with Jaccard ≥ t have
    *     |x∩y| ≥ t·max(|x|,|y|), so the intersection cannot fit inside
    *     both suffixes and the prefixes must share a shingle;
    *  3. candidate pairs come from an equi-join on prefix shingles,
    *     pruned further by the size bound t·|x| ≤ |y| ≤ |x|/t;
    *  4. exact set intersection verifies candidates.
    *
    * Shuffles are all narrow equi-joins/aggregations keyed on shingle or
    * doc_id — the same plan shape at 100 TB, with AQE handling hot
    * shingles. The threshold is a RATIONAL num/den so the prefix length,
    * size filter and final test are integer arithmetic end to end — no
    * float boundary cases, and a DuckDB oracle can reproduce the exact
    * output (pairs are returned with integer intersection/union sizes).
    */
  def jaccardNearDup(docs: DataFrame, w: Int = 3,
      minJacNum: Int = 3, minJacDen: Int = 5): DataFrame =
      Checkpoints.scoped { s =>
    require(minJacNum > 0 && minJacNum <= minJacDen,
      s"threshold must be in (0,1]: $minJacNum/$minJacDen")
    // Exact-duplicate collapse (r9, shared with minhashNearDup): the
    // output (n_common, n_union) is a pure function of the shingle
    // sets, which are pure functions of the token sequence — so the
    // AllPairs prefix join runs on one representative per distinct
    // sequence and verified pairs expand to member pairs at the end.
    // Without it, clone clusters make prefix-join candidates quadratic
    // in clone multiplicity (the r9 10× scale run measured the cost).
    val fped = s.cache(docs.select(col("doc_id"),
        md5(concat_ws(" ", tokens(col("text")))).as("fp")))
    // Early-out (r9 verdict item, same reasoning as minhashNearDup): on
    // a mostly-distinct corpus the collapse grouping buys nothing and
    // costs two extra shuffles — the AllPairs prefix join finds clone
    // pairs anyway (identical nonempty sets share every prefix shingle
    // at Jaccard 1), so the output is identical either way.
    val st = fped.agg(count(lit(1)), approx_count_distinct(col("fp")))
      .head()
    if (st.getLong(1) >= 0.95 * st.getLong(0)) {
      s.keep()
      val shAll = docs
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), shinglesFromTokens(col("toks"), w).as("sh"))
      jaccardPairsFromSets(shAll, minJacNum, minJacDen)
    } else {
      val groups = s.cache(fped.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("rep_id"),
          count(lit(1)).as("n_members")))
      val reps = docs.join(groups.select(col("rep_id").as("doc_id")),
        Seq("doc_id"), "left_semi")
      // Eagerly checkpointed: a materialization BARRIER, not just reuse.
      // The selfReps projection below reads size(sh), and without the
      // barrier the optimizer collapses projections and inlines the full
      // tokens expression into the shingle lambda, re-evaluating it PER
      // ELEMENT (the documented HOF-interpreted pitfall — measured 81 s
      // vs ~1 s on the 10× corpus for exactly this size() read).
      val sh = s.checkpoint(reps
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), shinglesFromTokens(col("toks"), w).as("sh")))
      val repPairs = s.adopt(jaccardPairsFromSets(sh, minJacNum, minJacDen))
      // intra-clone pairs: identical NONEMPTY sets have Jaccard exactly 1
      // (empty-set docs never reached the prefix join in the doc-level
      // formulation either — explode skips them)
      val selfReps = groups.filter(col("n_members") > 1)
        .join(sh.select(col("doc_id").as("rep_id"),
          size(col("sh")).cast("long").as("n_sh")), Seq("rep_id"))
        .filter(col("n_sh") > 0)
        .select(col("rep_id").as("id_a"), col("rep_id").as("id_b"),
          col("n_sh").as("n_common"), col("n_sh").as("n_union"))
      val members = fped.join(groups.select(col("fp"), col("rep_id")),
        Seq("fp"))
      s.checkpoint(repPairs.union(selfReps)
        .join(members.select(col("rep_id").as("id_a"),
          col("doc_id").as("m_a")), Seq("id_a"))
        .join(members.select(col("rep_id").as("id_b"),
          col("doc_id").as("m_b")), Seq("id_b"))
        .filter(col("id_a") =!= col("id_b") || col("m_a") < col("m_b"))
        .select(least(col("m_a"), col("m_b")).as("id_a"),
          greatest(col("m_a"), col("m_b")).as("id_b"),
          col("n_common"), col("n_union")))
    }
  }

  /** Threshold-Jaccard similar pairs over arbitrary element SETS — the
    * prefix-filtered AllPairs core of jaccardNearDup, factored out so
    * graph node-similarity (neighbor sets) reuses the identical
    * machinery. `sets` is (doc_id, sh: array<string>) with distinct
    * elements per row; returns (id_a, id_b, n_common, n_union) for every
    * pair with Jaccard ≥ minJacNum/minJacDen — exact (the prefix filter
    * is lossless at the threshold), so a naive SQL formulation oracles
    * it directly.
    */
  def jaccardPairsFromSets(sets: DataFrame, minJacNum: Int,
      minJacDen: Int): DataFrame = Checkpoints.scoped { s =>
    require(minJacNum > 0 && minJacNum <= minJacDen,
      s"threshold must be in (0,1]: $minJacNum/$minJacDen")
    // cached: read by the frequency agg, the prefix build and verify
    val sh = s.cache(sets.select(col(sets.columns(0)).as("doc_id"),
        col(sets.columns(1)).as("sh")))
    val exploded = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val freq = exploded.groupBy(col("s")).agg(count(lit(1)).as("df"))

    // Per-doc rarest-first rank + set size via two windows over the SAME
    // doc_id partitioning (one shuffle + one sort, computed together by
    // WindowExec) — no collect_list array ever materializes. Window
    // partitions here are DOC-sized (bounded by document length), not
    // corpus-sized, so the usual window-at-scale hazard doesn't apply.
    // Prefix length |S| − ⌈t·|S|⌉ + 1 with integer ceil via
    // floor((sz·num + den − 1) / den) — exact for sizes < 2^50.
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
    val ceilT = floor((col("sz") * minJacNum + (minJacDen - 1))
      / lit(minJacDen)).cast("long")
    // cached: both sides of the self-join below
    val pref = s.cache(exploded.join(freq, Seq("s"))
      .withColumn("sz", count(lit(1)).over(byDoc))
      .withColumn("rn",
        row_number().over(byDoc.orderBy(col("df"), col("s"))))
      .filter(col("rn") <= col("sz") - ceilT + 1)
      .select(col("doc_id"), col("sz"), col("rn"), col("s")))

    // Candidate pairs grouped so the PPJoin positional filter (Xiao et
    // al. WWW'08) can run before any shingle array is materialized:
    // intersection elements ≤ the LAST shared prefix shingle (in global
    // order) are exactly the shared prefix shingles — both sets are
    // sorted by the same total order — and elements beyond it number at
    // most min(remaining suffix lengths). So
    //   overlap ≤ n_pref_common + min(sz_a − max_rn_a, sz_b − max_rn_b),
    // while Jaccard ≥ num/den needs overlap ≥ ⌈num·(sz_a+sz_b)/(num+den)⌉
    // (from |x∩y| ≥ t/(1+t)·(|x|+|y|)). Cuts verify-join volume 3× on
    // the benchmark corpus.
    val cands = pref.select(col("s"), col("doc_id").as("id_a"),
        col("sz").as("sz_a"), col("rn").as("rn_a"))
      .join(pref.select(col("s"), col("doc_id").as("id_b"),
        col("sz").as("sz_b"), col("rn").as("rn_b")), Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("sz_b") * minJacDen >= col("sz_a") * minJacNum &&
        col("sz_a") * minJacDen >= col("sz_b") * minJacNum)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_pref_common"),
        first(col("sz_a")).as("sz_a"), first(col("sz_b")).as("sz_b"),
        max(col("rn_a")).as("max_pa"), max(col("rn_b")).as("max_pb"))
      .filter(col("n_pref_common") +
        least(col("sz_a") - col("max_pa"), col("sz_b") - col("max_pb")) >=
        floor(((col("sz_a") + col("sz_b")) * minJacNum
          + (minJacNum + minJacDen - 1)) / lit(minJacNum + minJacDen)))
      .select(col("id_a"), col("id_b"))

    s.checkpoint(cands
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")),
        Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")),
        Seq("id_b"))
      .withColumn("n_common",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("n_union",
        size(col("sh_a")) + size(col("sh_b")) - col("n_common"))
      .filter(col("n_common") * minJacDen >= col("n_union") * minJacNum)
      .select(col("id_a"), col("id_b"), col("n_common"),
        col("n_union").cast("long").as("n_union")))
  }

  /** Brute-force n-gram Jaccard above a threshold — the small-data oracle
    * for minhashNearDup (O(n²); never the scale path, kept for validation
    * and for explicit small-input use).
    */
  def ngramJaccardExact(docs: DataFrame, w: Int = 3,
      minJaccard: Double = 0.6): DataFrame = {
    val d = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), shinglesFromTokens(col("toks"), w).as("sh"))
      .filter(size(col("sh")) > 0)
    val a = d.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = d.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("uni") > 0)
      .withColumn("jaccard", TextAnalysis.portableRound(
        col("inter") / col("uni").cast("double"), 4))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  // ---- SimHash --------------------------------------------------------

  /** 64-bit SimHash: bit j of the signature is the sign of
    * Σ_distinct-tokens (bit j of hash(token) ? +1 : −1). Computed by the
    * fused native expression (functions.SimHashExpr) — one pass over the
    * token array with local per-bit vote counters.
    */
  def simhash(text: Column): Column = {
    graft.functions.GraftFunctions.register(
      org.apache.spark.sql.SparkSession.active)
    call_function("graft_simhash", tokens(text))
  }

  /** Near-dup groups by identical SimHash signature. */
  def simhashDup(docs: DataFrame): DataFrame =
    docs.withColumn("simhash", simhash(col("text")))
      .groupBy(col("simhash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
      .filter(col("n_docs") > 1)

  /** SimHash near-dup within Hamming distance `maxHamming` via the
    * pigeonhole banding trick (Manku et al., WWW'07): split the 64-bit
    * signature into `bands` chunks — two signatures within Hamming k <
    * bands must agree exactly on ≥1 chunk, so candidate pairs come from
    * per-chunk equality buckets (one narrow shuffle), then Hamming is
    * verified with bit_count(xor). Never compares all pairs.
    *
    * The band join runs over DISTINCT signatures, not documents (the
    * duplicate-fingerprint handling of the same paper): a real corpus
    * carries huge exact-duplicate clusters, and banding doc-level rows
    * makes candidate volume quadratic in clone multiplicity — the r9
    * 10×-replicated scale run measured 136× cost for 10× data exactly
    * because of it. Signature-level banding keeps the quadratic part
    * confined to the final expansion join, whose size is the OUTPUT
    * size (every clone pair genuinely is a hamming-0 near-dup pair).
    */
  def simhashNearDup(docs: DataFrame, maxHamming: Int = 3,
      bands: Int = 4): DataFrame = Checkpoints.scoped { s =>
    require(maxHamming < bands, "pigeonhole needs maxHamming < bands")
    val bits = 64 / bands
    // 1L << 64 wraps to 1 (Scala shifts are mod 64): a full-width band
    // needs an explicit all-ones mask or every band_val collapses to 0
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    // (doc_id, simhash) is two longs per doc — cached because the
    // signature-distinct band join and both expansion sides read it
    val sigs = s.cache(docs
      .select(col("doc_id"), simhash(col("text")).as("simhash"))
      // a map over the spread scan, which AQE cannot coalesce: its
      // deletion read +0.8 s at 32 cores in the layout A/B in CHANGES.md
      .transform(graft.core.Tables.compact(_, shuffle = true)))
    val distinctSigs = sigs.select(col("simhash")).distinct()
    val banded = distinctSigs.select(col("simhash"),
      posexplode(array((0 until bands).map { b =>
        shiftrightunsigned(col("simhash"), b * bits)
          .bitwiseAND(lit(mask))
      }: _*)).as(Seq("band_id", "band_val")))
    // verified signature pairs: distinct unordered sig pairs sharing a
    // band, within the Hamming bound. Same-signature pairs (hamming 0)
    // are added explicitly below via the expansion join's >= vs >.
    val sigPairs = banded.select(col("band_id"), col("band_val"),
        col("simhash").as("sig_a"))
      .join(banded.select(col("band_id"), col("band_val"),
        col("simhash").as("sig_b")),
        Seq("band_id", "band_val"))
      .filter(col("sig_a") =!= col("sig_b"))
      .select(col("sig_a"), col("sig_b"))
      .dropDuplicates("sig_a", "sig_b")
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      // identical signatures pair at hamming 0 (every band collides,
      // so doc-level banding found them too)
      .union(distinctSigs.select(col("simhash").as("sig_a"),
        col("simhash").as("sig_b"), lit(0).as("hamming")))
    // expand signature pairs back to ordered doc pairs
    s.checkpoint(sigPairs
      .join(sigs.select(col("simhash").as("sig_a"),
        col("doc_id").as("id_a")), Seq("sig_a"))
      .join(sigs.select(col("simhash").as("sig_b"),
        col("doc_id").as("id_b")), Seq("sig_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("hamming")))
  }

  // ---- transitive grouping + end-to-end corpus dedup ------------------

  /** Connected components over a candidate-pair graph (id_a, id_b):
    * driver-side union-find when the pair set fits on the driver (the
    * common case — LSH keeps candidate pairs tiny relative to the
    * corpus), otherwise iterative min-label propagation with the same
    * checkpointed superstep pattern as the SSSP kernel.
    * Returns (doc_id, group_id = min doc_id in component).
    */
  def transitiveGroups(pairs: DataFrame, maxIter: Int = 50,
      localThreshold: Long = graft.core.LocalBudget.MaxLocalEdges)
      : DataFrame = Checkpoints.scoped { s =>
    val spark = pairs.sparkSession
    // Adaptive fast path (the shared core.LocalBudget byte-guard policy
    // — r9 verdict item 6 retired the last bare row-count guard here):
    // a pair set that fits the driver budget resolves in one collect +
    // union-find instead of paying a shuffle per propagation superstep.
    // The gate's string-length estimate over long ids overestimates the
    // collected (Long, Long) rows, so the admit is conservative.
    val cached = s.cache(pairs.select(col("id_a"), col("id_b")))
    if (graft.core.LocalBudget.fits(cached, localThreshold)) {
      val edges = cached.collect().map(r => (r.getLong(0), r.getLong(1)))
      s.keep()
      // intern in numeric order: the min-rooted union-find then labels
      // each group with its minimum doc id
      val members = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      def id(x: Long): Int = java.util.Arrays.binarySearch(members, x)
      val uf = new graft.algo.UnionFind(members.length)
      edges.foreach { case (a, b) => uf.union(id(a), id(b)) }
      import spark.implicits._
      members.indices.map(i => (members(i), members(uf.find(i))))
        .toDF("doc_id", "group_id")
    } else {
      s.keep()
      val sym = s.cache(pairs.select(col("id_a").as("u"), col("id_b").as("v"))
        .union(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
        .distinct())
      var labels = s.checkpoint(sym.select(col("u").as("doc_id")).distinct()
        .withColumn("group_id", col("doc_id")))
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < maxIter) {
        // step 1 — neighbor-min propagation (one join + one aggregation)
        val neighborMin = sym
          .join(labels, sym("v") === labels("doc_id"))
          .groupBy(col("u").as("doc_id"))
          .agg(min(col("group_id")).as("n_min"))
        val propagated = labels.join(neighborMin, Seq("doc_id"), "left_outer")
          .select(col("doc_id"),
            least(col("group_id"), coalesce(col("n_min"), col("group_id")))
              .as("group_id"))
        // step 2 — pointer jumping: replace my label with my label's
        // label. Labels are node ids, so the lookup is a self-join; this
        // halves label-chain depth every superstep, turning O(diameter)
        // rounds into O(log n) — a 5M-node near-dup chain converges in
        // ~23 supersteps instead of 5M (Shiloach–Vishkin shortcutting).
        val jumped = s.checkpoint(propagated.as("a")
          .join(propagated.select(col("doc_id").as("j_id"),
            col("group_id").as("j_grp")),
            col("a.group_id") === col("j_id"), "left_outer")
          .select(col("a.doc_id").as("doc_id"),
            coalesce(col("j_grp"), col("a.group_id")).as("group_id")))
        changed = jumped.join(labels.select(col("doc_id"),
            col("group_id").as("old_grp")), Seq("doc_id"))
          .filter(col("group_id") < col("old_grp")).count()
        s.keep(sym, jumped)
        labels = jumped
        iter += 1
      }
      if (changed > 0)
        throw new IllegalStateException(
          s"transitiveGroups did not converge after $maxIter iterations " +
            s"($changed labels still improving) — the pair graph has a " +
            s"component with diameter > $maxIter; raise maxIter")
      labels
    }
  }

  /** End-to-end corpus dedup: exact fingerprint collapse, then MinHash
    * near-dup pairs, then transitive grouping — returns the documents to
    * KEEP (lowest doc_id of each near-dup cluster; docs with no
    * near-dups keep themselves).
    */
  def dedupCorpus(docs: DataFrame, w: Int = 3, k: Int = 32, bands: Int = 8,
      minJaccard: Double = 0.8): DataFrame = Checkpoints.scoped { s =>
    val exactKeep = exact(docs).select(col("keep_id").as("doc_id"))
    // survivors feeds the signature scan, the candidate-shingle scan and
    // the final anti-join — cache it so the exact-dedup groupBy shuffle
    // runs once, not once per downstream reference
    val survivors = s.cache(docs.join(exactKeep, Seq("doc_id"), "left_semi")
      // sized: see minhashNearDup's fped
      .transform(graft.core.Tables.compact(_, shuffle = true)))
    // survivors carry one doc per fingerprintMd5, which IS the collapse
    // fingerprint — skip the (provably no-op) exact-duplicate collapse
    val pairs = s.adopt(minhashNearDup(survivors, w, k, bands, minJaccard,
      collapseExact = false))
    val groups = s.adopt(transitiveGroups(pairs.select("id_a", "id_b")))
    // `drop` is small only when the corpus has few near-dups — the
    // opposite of the dedup-heavy case this operator exists for, so let
    // AQE pick the join strategy from its observed size
    val drop = groups.filter(col("doc_id") =!= col("group_id"))
      .select(col("doc_id"))
    s.checkpoint(survivors.join(drop, Seq("doc_id"), "left_anti"))
  }

  // ---- embedding cosine near-dup --------------------------------------

  /** Random-hyperplane LSH sign bits (low `nBits` of a long) via the
    * fused native expression (functions.HyperplaneBitsExpr) —
    * deterministic hyperplanes from a per-(bit,dim) hash, one compiled
    * pass of nBits×dim multiply-adds.
    */
  def hyperplaneBits(vec: Column, nBits: Int = 48): Column = {
    graft.functions.GraftFunctions.register(
      org.apache.spark.sql.SparkSession.active)
    call_function("graft_hyperplane", vec, lit(nBits))
  }

  /** Embedding near-duplicates with the SAME banding trick as MinHash-LSH:
    * nBits sign bits split into `bands` chunks; two vectors become a
    * candidate pair when any chunk matches exactly (for cosine θ the
    * per-bit match probability is 1 − θ/π, so a 12-bit band at cos ≥ 0.95
    * matches with p ≈ 0.28 and 4 bands lift recall to ≈ 0.73, while
    * random pairs collide at ~4/4096 — the S-curve that makes the
    * bucket join feasible). Candidates are id-pairs only; embeddings are
    * joined back for exact-cosine verification, so the wide vectors are
    * never exploded through the banding shuffle.
    */
  def embeddingNearDup(emb: DataFrame,
      minCosine: Double = 0.95, nBits: Int = 48, bands: Int = 4): DataFrame =
      Checkpoints.scoped { s =>
    require(nBits % bands == 0 && nBits <= 64, "bands must divide nBits ≤ 64")
    val bitsPerBand = nBits / bands
    // same mod-64 shift wrap guard as simhashNearDup
    val mask = if (bitsPerBand == 64) -1L else (1L << bitsPerBand) - 1
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val sigs = s.cache(vecs
      .select(col("vec_id"), hyperplaneBits(col("embedding"), nBits).as("hb")))
    val banded = sigs.select(col("vec_id"),
      posexplode(array((0 until bands).map { b =>
        shiftrightunsigned(col("hb"), b * bitsPerBand)
          .bitwiseAND(lit(mask))
      }: _*)).as(Seq("band_id", "band_val")))
    val cands = banded.select(col("band_id"), col("band_val"),
        col("vec_id").as("id_a"))
      .join(banded.select(col("band_id"), col("band_val"),
        col("vec_id").as("id_b")), Seq("band_id", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    s.checkpoint(cands
      .join(vecs.select(col("vec_id").as("id_a"),
        col("embedding").as("v_a")), Seq("id_a"))
      .join(vecs.select(col("vec_id").as("id_b"),
        col("embedding").as("v_b")), Seq("id_b"))
      .withColumn("cosine",
        round(Similarity.cosine(col("v_a"), col("v_b")), 4))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cosine")))
  }
}
