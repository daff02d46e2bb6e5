package graft.queries

import org.apache.spark.sql.functions._
import graft.GQ
import graft.core.Tables
import graft.llm.{Bpe, Curation, Dedup, Multimodal, QualityClassifier, Scoring, Similarity, TextAnalysis}

/** LLM-training-data pipeline operators over `documents` / `embeddings`
  * (north-star surface, SURVEY §7.4): dedup family, similarity search,
  * text analysis, multimodal plumbing.
  *
  * Oracle policy (current since r6, this note was stale until r10):
  * EVERY query here is hash-oracled — the LSH/banding family included.
  * What made that possible: engine-portable hashing (md5 hex-digit
  * arithmetic instead of xxhash64) for signatures/bands/fingerprints,
  * band keys built from signature VALUES rather than hashes of them,
  * integer or quantized outputs everywhere a float sum would be
  * order-dependent, and DuckDB chained CTEs replaying each iterative
  * contract. The ScalaTest exact-counterpart checks remain as a second
  * line of defense, not as the primary gate.
  */
object Llm {

  private def t(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables(s, dir)

  /** Query vector: embedding of vec_id 0, fetched once per (session, dir).
    * Weak session key — the cached Seq[Float] holds no session reference,
    * so a dropped session's entry is collectable (unlike Graph.cache).
    */
  private val qvecCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      scala.collection.concurrent.TrieMap[String, Seq[Float]]]())
  private def queryVec(s: org.apache.spark.sql.SparkSession, dir: String): Seq[Float] =
    qvecCache.computeIfAbsent(s,
        _ => scala.collection.concurrent.TrieMap.empty)
      .getOrElseUpdate(dir,
        t(s, dir).embeddings.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0).toIndexedSeq)

  /** DuckDB oracle SQL for the seeded k-means / IVF pipeline. The
    * pipeline is fully deterministic (seeds = lowest vec_ids, fixed
    * iteration count), so it is SQL-expressible end to end:
    *  - assignment argmax mirrors assignToCentroids' greatest(struct(sim,
    *    c_id)) tie-break via ORDER BY sim DESC, c_id DESC;
    *  - centroid refinement mirrors CentroidMean (double sum / count,
    *    cast to float — the float cast absorbs summation-order noise);
    *  - cosine is the same double-precision formulation the
    *    llm_ann_bruteforce oracle already hash-matches with.
    */
  /** BM25 oracle CTEs + score expression, shared by llm_bm25 and
    * llm_rrf_fusion so the two retrieval oracles cannot drift.
    */
  private val Bm25Ctes: String =
    """mb AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
      |  FROM documents),
      |mbl AS (SELECT doc_id, tk, len(tk) AS dl FROM mb),
      |mst AS (SELECT count(*) AS n,
      |        CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM mbl),
      |mdf AS (SELECT tok, count(*) AS df FROM (
      |    SELECT doc_id, unnest(list_distinct(tk)) AS tok FROM mbl)
      |  WHERE tok IN ('spark','query','vector','window') GROUP BY 1),
      |mtf AS (SELECT doc_id, dl, tok, count(*) AS tf FROM (
      |    SELECT doc_id, dl, unnest(tk) AS tok FROM mbl)
      |  WHERE tok IN ('spark','query','vector','window') GROUP BY 1, 2, 3)""".stripMargin

  private val Bm25ScoreExpr: String =
    """round(sum(CAST(round(
      |    ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * (t.tf * (1.2 + 1))
      |      / (t.tf + 1.2 * ((1 - 0.75) + (0.75 * t.dl) / s.avgdl))
      |    * 1e6, 0) AS BIGINT)) / 1e6, 6)""".stripMargin

  private[queries] object KmOracle {
    def cos(a: String, b: String): String =
      s"""(list_sum(list_transform(list_zip($a, $b),
         |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         | / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |  * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))""".stripMargin

    /** Nearest-centroid assignment of every `src` embedding against
      * `cents`.
      */
    def assign(cents: String, out: String, src: String = "embeddings")
        : String =
      s"""sim_$out AS (
         |  SELECT e.vec_id, e.embedding, s.c_id,
         |         ${cos("e.embedding", "s.c_vec")} AS sim
         |  FROM $src e CROSS JOIN $cents s),
         |$out AS (
         |  SELECT vec_id, embedding, c_id AS centroid_id FROM (
         |    SELECT vec_id, embedding, c_id,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, c_id DESC) AS rn
         |    FROM sim_$out) WHERE rn = 1)""".stripMargin

    /** Element-wise mean of each centroid's members (CentroidMean). */
    def refine(asg: String, out: String): String =
      s"""$out AS (
         |  SELECT c_id, list(CAST(v AS FLOAT) ORDER BY pos) AS c_vec FROM (
         |    SELECT centroid_id AS c_id, pos, avg(CAST(val AS DOUBLE)) AS v FROM (
         |      SELECT centroid_id, unnest(embedding) AS val,
         |             generate_subscripts(embedding, 1) AS pos FROM $asg)
         |    GROUP BY 1, 2) GROUP BY 1)""".stripMargin

    def seeds(n: Int, src: String = "embeddings"): String =
      s"""seeds AS (SELECT vec_id AS c_id, embedding AS c_vec
         |  FROM $src ORDER BY vec_id ASC LIMIT $n)""".stripMargin

    /** seeds16 → assign → one k-means refine → re-assign → probe top-4
      * centroids → exact cosine top-20 inside the probed buckets.
      */
    val ivfSql: String =
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |${seeds(16)},
         |${assign("seeds", "asg0")},
         |${refine("asg0", "ref1")},
         |${assign("ref1", "asg1")},
         |probes AS (SELECT c_id FROM (
         |    SELECT r.c_id, ${cos("r.c_vec", "(SELECT qv FROM q)")} AS sim
         |    FROM ref1 r)
         |  ORDER BY sim DESC, c_id ASC LIMIT 4)
         |SELECT vec_id,
         |       round(${cos("embedding", "(SELECT qv FROM q)")}, 6) AS cosine
         |FROM asg1 WHERE centroid_id IN (SELECT c_id FROM probes)
         |ORDER BY cosine DESC, vec_id ASC LIMIT 20""".stripMargin

    /** llm_semantic_dedup: originals ∪ id-shifted exact copies →
      * seeds8 → 2 × (assign → refine) → final assign → drop every
      * vector with a lower-id same-cluster neighbor at cosine ≥ 0.95.
      * Mirrors Similarity.semanticDedup(k = 8, iters = 2) exactly.
      */
    val semanticSql: String =
      s"""WITH aug AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 10000000, embedding FROM embeddings),
         |${seeds(8, "aug")},
         |${assign("seeds", "s_asg0", "aug")},
         |${refine("s_asg0", "s_ref1")},
         |${assign("s_ref1", "s_asg1", "aug")},
         |${refine("s_asg1", "s_ref2")},
         |${assign("s_ref2", "s_asgF", "aug")},
         |sdrop AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM s_asgF a JOIN s_asgF b ON a.centroid_id = b.centroid_id
         |    AND a.vec_id < b.vec_id
         |  WHERE ${cos("a.embedding", "b.embedding")} >= 0.95)
         |SELECT vec_id, centroid_id FROM s_asgF
         |WHERE vec_id NOT IN (SELECT vec_id FROM sdrop)""".stripMargin

    /** seeds8 → 3 × (assign → refine) → final assign → cluster sizes. */
    val kmeansSql: String =
      s"""WITH ${seeds(8)},
         |${assign("seeds", "k_asg0")},
         |${refine("k_asg0", "k_ref1")},
         |${assign("k_ref1", "k_asg1")},
         |${refine("k_asg1", "k_ref2")},
         |${assign("k_ref2", "k_asg2")},
         |${refine("k_asg2", "k_ref3")},
         |${assign("k_ref3", "k_asgF")}
         |SELECT centroid_id, count(*) AS n_members
         |FROM k_asgF GROUP BY 1""".stripMargin
  }

  /** Shared DuckDB CTEs recomputing the engine's 64-bit SimHash entirely
    * in SQL: per-token hash = first 16 md5 hex digits parsed
    * positionally (exactly SimHashUtil.tokenHash's big-endian md5
    * prefix — the hash was CHOSEN for this portability), bit votes over
    * distinct tokens, unsigned signature reassembled from 2^j powers
    * and converted to Spark's signed long. `ssig` exposes both the
    * unsigned form (`u`, for band arithmetic) and the signed `simhash`.
    */
  private object SimOracle {
    val ctes: String =
      """spw(j, p) AS (SELECT 0, CAST(1 AS HUGEINT)
        |  UNION ALL SELECT j+1, p*2 FROM spw WHERE j < 63),
        |pw16(i, w) AS (SELECT 16, CAST(1 AS HUGEINT)
        |  UNION ALL SELECT i-1, w*16 FROM pw16 WHERE i > 1),
        |stok AS (SELECT doc_id, unnest(list_distinct(
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
        |      ' '))) AS tok
        |  FROM documents),
        |shash AS (
        |  SELECT s.doc_id, s.tok,
        |    sum((strpos('0123456789abcdef', substr(md5(s.tok), p.i, 1)) - 1)
        |        * p.w) AS h
        |  FROM stok s CROSS JOIN pw16 p GROUP BY 1, 2),
        |sbit AS (
        |  SELECT h.doc_id, b.j, b.p,
        |    CASE WHEN sum(CASE WHEN (h.h // b.p) % 2 = 1 THEN 1 ELSE -1 END) > 0
        |      THEN 1 ELSE 0 END AS bit
        |  FROM shash h CROSS JOIN spw b GROUP BY 1, 2, 3),
        |ssig AS (
        |  SELECT doc_id, sum(bit * p) AS u,
        |    CAST(CASE WHEN sum(bit * p) >= (SELECT p FROM spw WHERE j = 63)
        |      THEN sum(bit * p) - 2 * (SELECT p FROM spw WHERE j = 63)
        |      ELSE sum(bit * p) END AS BIGINT) AS simhash
        |  FROM sbit GROUP BY 1)""".stripMargin
  }

  /** DuckDB CTE chain replaying pqTrain(kCodes=16, subDim=8,
    * refineIters=1) + pqEncode + the vec_id-0 ADC tables: seed subvector
    * codebooks from the 16 lowest-vec_id embeddings, one Lloyd pass
    * (first-min argmin, ties to the smaller code; empty codes keep the
    * seed row), re-encode, and build per-(subspace, code) micro-unit
    * query distances. Ends with `pqa1` (vec_id, mi, code), `pqt`
    * (mi, code, dmicro), `pqq` (qv). Shared by llm_pq_topk and
    * llm_pq_rerank so the two oracles cannot drift.
    */
  private object PqOracle {
    // per-subspace L2: left-to-right double accumulation, the same
    // association order as PqUtil.encode / pqAdcTables
    private def l2(vecSlice: String, bv: String): String =
      s"""list_sum(list_transform(list_zip($vecSlice, $bv),
         |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
         |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))""".stripMargin
    // encode every embedding against codebook `book`: first-min argmin
    // per (vec, subspace) ≡ the kernel's d < bestD scan
    private def encode(book: String, out: String): String =
      s"""d_$out AS (SELECT e.vec_id, b.mi, b.code,
         |    ${l2(s"list_slice(e.embedding, b.mi * 8 + 1, b.mi * 8 + 8)",
                   "b.bv")} AS dist
         |  FROM embeddings e CROSS JOIN $book b),
         |$out AS (SELECT vec_id, mi, code FROM (
         |    SELECT vec_id, mi, code, row_number() OVER (
         |      PARTITION BY vec_id, mi ORDER BY dist ASC, code ASC) AS rn
         |    FROM d_$out) WHERE rn = 1)""".stripMargin
    val ctes: String =
      s"""pqm AS (SELECT CAST(range AS INT) AS mi FROM range(0, 8)),
         |pqseed AS (SELECT vec_id, embedding,
         |    CAST(row_number() OVER (ORDER BY vec_id ASC) - 1 AS INT) AS code
         |  FROM (SELECT vec_id, embedding FROM embeddings
         |        ORDER BY vec_id ASC LIMIT 16)),
         |pqb0 AS (SELECT m.mi, s.code,
         |    list_slice(s.embedding, m.mi * 8 + 1, m.mi * 8 + 8) AS bv
         |  FROM pqseed s CROSS JOIN pqm m),
         |${encode("pqb0", "pqa0")},
         |pqr1 AS (SELECT mi, code, list(CAST(v AS FLOAT) ORDER BY pos) AS bv
         |  FROM (
         |    SELECT mi, code, pos, avg(CAST(val AS DOUBLE)) AS v FROM (
         |      SELECT a.mi, a.code,
         |        unnest(list_slice(e.embedding, a.mi * 8 + 1, a.mi * 8 + 8))
         |          AS val,
         |        generate_subscripts(
         |          list_slice(e.embedding, a.mi * 8 + 1, a.mi * 8 + 8), 1)
         |          AS pos
         |      FROM pqa0 a JOIN embeddings e USING (vec_id))
         |    GROUP BY 1, 2, 3) GROUP BY 1, 2),
         |pqb1 AS (SELECT b.mi, b.code, coalesce(r.bv, b.bv) AS bv
         |  FROM pqb0 b LEFT JOIN pqr1 r ON r.mi = b.mi AND r.code = b.code),
         |${encode("pqb1", "pqa1")},
         |pqq AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |pqt AS (SELECT b.mi, b.code,
         |    CAST(round(${l2(
              s"list_slice((SELECT qv FROM pqq), b.mi * 8 + 1, b.mi * 8 + 8)",
              "b.bv")} * 1e6, 0) AS BIGINT) AS dmicro
         |  FROM pqb1 b)""".stripMargin
  }

  /** DuckDB CTE chain recomputing the MinHash-LSH near-dup pipeline over
    * source table `src` (w=3, k=32, bands=8): md5-half double-hash
    * signatures (MinHashUtil.pairFromDigest), value-keyed band buckets,
    * candidate self-join, exact-Jaccard verification. Ends with `mver`
    * (id_a, id_b, jaccard rounded 4dp) — callers filter to their
    * threshold. Shared by llm_minhash_neardup and llm_dedup_corpus so
    * the two oracles cannot drift.
    */
  private[queries] def minhashCtes(src: String): String =
    s"""mpw(j, p) AS (SELECT 0, CAST(1 AS HUGEINT)
       |  UNION ALL SELECT j+1, p*2 FROM mpw WHERE j < 63),
       |mpw16(i, w) AS (SELECT 16, CAST(1 AS HUGEINT)
       |  UNION ALL SELECT i-1, w*16 FROM mpw16 WHERE i > 1),
       |midx(i) AS (SELECT 0 UNION ALL SELECT i+1 FROM midx WHERE i < 31),
       |mtwo AS (SELECT 2 * p AS m64, p AS m63 FROM mpw WHERE j = 63),
       |msh0 AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    range(1, len(t) - 1),
       |    i -> array_to_string(t[i:i+2], ' '))) AS sh
       |  FROM (SELECT doc_id,
       |        string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
       |          ' ') AS t
       |        FROM $src)),
       |msh AS (SELECT doc_id, sh FROM msh0 WHERE len(sh) > 0),
       |mng AS (SELECT doc_id, unnest(sh) AS ng FROM msh),
       |mhash AS (
       |  SELECT g.doc_id, g.ng,
       |    sum((strpos('0123456789abcdef', substr(md5(g.ng), p.i, 1)) - 1)
       |        * p.w) AS h1,
       |    sum((strpos('0123456789abcdef', substr(md5(g.ng), p.i + 16, 1)) - 1)
       |        * p.w) AS h2r
       |  FROM mng g CROSS JOIN mpw16 p GROUP BY 1, 2),
       |mraw AS (
       |  SELECT h.doc_id, x.i,
       |    CAST(CASE
       |      WHEN ((h.h1 + x.i * (h.h2r - (h.h2r % 2) + 1)) % t.m64) >= t.m63
       |      THEN ((h.h1 + x.i * (h.h2r - (h.h2r % 2) + 1)) % t.m64) - t.m64
       |      ELSE ((h.h1 + x.i * (h.h2r - (h.h2r % 2) + 1)) % t.m64)
       |    END AS BIGINT) AS hv
       |  FROM mhash h CROSS JOIN midx x CROSS JOIN mtwo t),
       |msig AS (SELECT doc_id, i, min(hv) AS v FROM mraw GROUP BY 1, 2),
       |mband AS (
       |  SELECT doc_id, i // 4 AS band_id,
       |    array_to_string(list(CAST(v AS VARCHAR) ORDER BY i), ',') AS band_key
       |  FROM msig GROUP BY 1, 2),
       |mcand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM mband a JOIN mband b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key
       |    AND a.doc_id < b.doc_id),
       |mver AS (
       |  SELECT c.id_a, c.id_b,
       |    ${TextAnalysis.portableRoundSql(
            """len(list_intersect(x.sh, y.sh)) /
              |      CAST(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))
              |        AS DOUBLE)""".stripMargin, 4)} AS jaccard
       |  FROM mcand c
       |  JOIN msh x ON x.doc_id = c.id_a
       |  JOIN msh y ON y.doc_id = c.id_b)""".stripMargin

  /** Shared DuckDB fragments for the text-annotation family: the
    * standalone llm_langid / llm_quality_score oracles and the composed
    * llm_pipeline_e2e reuse the SAME text, so the oracles cannot drift
    * (the CurOracle convention).
    */
  private[queries] object TextOracle {
    /** Per-language marker-score select items over a token-array column
      * `tk` (langScores' stopword-hit fractions).
      */
    val scoreCols: String =
      """    CASE WHEN len(tk) = 0 THEN 0 ELSE len(list_filter(tk, x -> x IN
        |      ('der','die','das','und','in','den','von','zu','mit','auf',
        |       'ist','ein','eine','nicht'))) / CAST(len(tk) AS DOUBLE) END AS s_de,
        |    CASE WHEN len(tk) = 0 THEN 0 ELSE len(list_filter(tk, x -> x IN
        |      ('the','a','an','and','or','of','in','to','is','are','was',
        |       'for','on','with','as','by','at','it'))) / CAST(len(tk) AS DOUBLE) END AS s_en,
        |    CASE WHEN len(tk) = 0 THEN 0 ELSE len(list_filter(tk, x -> x IN
        |      ('el','la','los','las','de','que','y','en','un','una','por',
        |       'con','para','es'))) / CAST(len(tk) AS DOUBLE) END AS s_es,
        |    CASE WHEN len(tk) = 0 THEN 0 ELSE len(list_filter(tk, x -> x IN
        |      ('le','la','les','de','des','et','en','un','une','du','que',
        |       'pour','dans','est'))) / CAST(len(tk) AS DOUBLE) END AS s_fr""".stripMargin

    /** Arg-max over the score columns with keep-first tie semantics. */
    val langCase: String =
      """CASE WHEN s_en IS NULL THEN 'und'
        |       WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
        |       WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
        |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
        |       WHEN s_es >= s_fr THEN 'es'
        |       ELSE 'fr' END""".stripMargin

    /** TextAnalysis.qualityScore over a text column expression.
      * Two portability rules embedded here: (1) parenthesization matches
      * Spark's grouping (a + (1.0 - b)) + c — a different association is
      * a different double in the last ulp; (2) the final rounding is the
      * portable floor form (TextAnalysis.portableRound), because Spark's
      * round() rounds the shortest decimal repr while DuckDB rounds the
      * binary value, and ratio-of-small-int scores sit on 4-dp
      * boundaries (one sf0.1 row flipped 0.6577 vs 0.6578).
      */
    def qualityExpr(text: String): String =
      TextAnalysis.portableRoundSql(
        s"""(least(length($text) / 500.0, 1.0)
           | + (1.0 - least(4 * (CASE WHEN length($text) = 0 THEN 0
           |     ELSE length(regexp_replace($text, '[^!-/:-@\\[-`{-~]', '', 'g'))
           |       / CAST(length($text) AS DOUBLE) END), 1.0))
           | + least(3 * (CASE WHEN len(regexp_split_to_array(lower(trim($text)), '\\s+')) = 0 THEN 0
           |     ELSE len(list_filter(regexp_split_to_array(lower(trim($text)), '\\s+'),
           |       x -> x IN ('the','a','an','and','or','of','in','to','is','are',
           |                  'was','for','on','with','as','by','at','it')))
           |       / CAST(len(regexp_split_to_array(lower(trim($text)), '\\s+')) AS DOUBLE)
           |   END), 1.0)) / 3""".stripMargin, 4)
  }

  /** Near-dup transitive-grouping drop set over `mver` (the minhashCtes
    * tail): pairs at `threshold` become undirected edges, a recursive
    * CTE computes each component's transitive closure, and `mdrop`
    * holds every member except its component's minimum (exactly
    * Dedup.transitiveGroups' min-label CC). Shared by llm_dedup_corpus
    * and llm_pipeline_e2e.
    */
  private def ccDropCtes(threshold: String): String =
    s"""mpairs AS (SELECT id_a, id_b FROM mver WHERE jaccard >= $threshold),
       |medge(a, b) AS (SELECT id_a, id_b FROM mpairs
       |  UNION SELECT id_b, id_a FROM mpairs),
       |mcomp(doc, lbl) AS (
       |  SELECT DISTINCT a, a FROM medge
       |  UNION
       |  SELECT e.b, c.lbl FROM mcomp c JOIN medge e ON e.a = c.doc),
       |mdrop AS (
       |  SELECT doc FROM (SELECT doc, min(lbl) AS group_id
       |    FROM mcomp GROUP BY 1) WHERE doc <> group_id)""".stripMargin

  /** Corpus-mixing rates for llm_weighted_sample ('zh' deliberately
    * absent — it exercises the default-rate fallback).
    */
  private val SampleRates = Map(
    "en" -> 0.30, "de" -> 0.20, "es" -> 0.10, "fr" -> 0.05)

  /** Shared DuckDB fragments for the curation family: the standalone
    * queries and the composed llm_curation_e2e reuse the SAME CTE text,
    * so the oracles cannot drift apart stage by stage.
    */
  private object CurOracle {
    /** tf → agg → rep (doc_id, counts, ratios, keep). */
    val repCtes: String =
      s"""tf AS (
        |  SELECT doc_id, tok, count(*) AS cnt FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
        |    FROM documents) WHERE tok <> '' GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |    count(*) AS n_types,
        |    ${TextAnalysis.portableRoundSql(
             "max(cnt) / CAST(sum(cnt) AS DOUBLE)", 4)} AS top_token_ratio,
        |    ${TextAnalysis.portableRoundSql(
             """sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)
               |      / CAST(sum(cnt) AS DOUBLE)""".stripMargin, 4)}
        |      AS dup_token_ratio,
        |    ${TextAnalysis.portableRoundSql(
             """sum(length(tok) * cnt)
               |      / CAST(sum(cnt) AS DOUBLE)""".stripMargin, 4)}
        |      AS mean_token_len
        |  FROM tf GROUP BY 1),
        |rep AS (
        |  SELECT *, (top_token_ratio <= 0.2 AND mean_token_len >= 3.0
        |             AND mean_token_len <= 10.0) AS keep
        |  FROM agg)""".stripMargin

    /** ctoks → cgrams → cbench → contam (doc_id, n_ngrams,
      * n_contaminated, contamination); bench = doc_id < 20.
      */
    val contamCtes: String =
      s"""ctoks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
        |  FROM documents),
        |cgrams AS (
        |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+4], ' ') AS ng
        |  FROM (SELECT doc_id, tk, generate_subscripts(tk, 1) AS i FROM ctoks)
        |  WHERE i + 4 <= len(tk)),
        |cbench AS (SELECT DISTINCT ng FROM cgrams WHERE doc_id < 20),
        |contam AS (
        |  SELECT g.doc_id, count(*) AS n_ngrams,
        |    CAST(sum(CASE WHEN b.ng IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_contaminated,
        |    ${TextAnalysis.portableRoundSql(
             """sum(CASE WHEN b.ng IS NULL THEN 0 ELSE 1 END)
               |      / CAST(count(*) AS DOUBLE)""".stripMargin, 4)}
        |      AS contamination
        |  FROM cgrams g LEFT JOIN cbench b USING (ng)
        |  GROUP BY 1)""".stripMargin

    /** Per-stratum md5-prefix threshold (the weighted-sample CASE). */
    def sampleCase(col: String): String =
      s"""CASE $col
         |${SampleRates.toSeq.sorted.map { case (k, r) =>
             s"       WHEN '$k' THEN '${TextAnalysis.hexThreshold(r)}'"
           }.mkString("\n")}
         |       ELSE '${TextAnalysis.hexThreshold(0.02)}' END""".stripMargin
  }

  val queries: Seq[GQ] = Seq(

    // ---- exact dedup (hash-groupBy on normalized fingerprint) ---------
    GQ("llm_exact_dedup",
      (s, dir) => Dedup.exact(t(s, dir).documents),
      Some("""SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
             |min(doc_id) AS keep_id, count(*) AS n_copies
             |FROM documents GROUP BY 1""".stripMargin)),

    // ---- text statistics (token/char/ratio family) --------------------
    GQ("llm_text_stats",
      (s, dir) => t(s, dir).documents.select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        length(col("text")).as("n_chars_actual"),
        TextAnalysis.portableRound(TextAnalysis.alphaRatio(col("text")), 4)
          .as("alpha_ratio"),
        TextAnalysis.portableRound(TextAnalysis.stopwordRatio(col("text")), 4)
          .as("stopword_ratio")),
      Some(s"""SELECT doc_id,
             |CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n_tokens,
             |CAST(length(text) AS INT) AS n_chars_actual,
             |${TextAnalysis.portableRoundSql(
               """CASE WHEN length(text) = 0 THEN 0
                 |  ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                 |    / CAST(length(text) AS DOUBLE) END""".stripMargin, 4)}
             |  AS alpha_ratio,
             |${TextAnalysis.portableRoundSql(
               """CASE WHEN len(regexp_split_to_array(lower(trim(text)), '\s+')) = 0 THEN 0
                 |  ELSE len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                 |    x -> x IN ('the','a','an','and','or','of','in','to','is','are',
                 |               'was','for','on','with','as','by','at','it')))
                 |    / CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS DOUBLE)
                 |  END""".stripMargin, 4)}
             |  AS stopword_ratio
             |FROM documents""".stripMargin)),

    // ---- quality scoring ---------------------------------------------
    GQ("llm_quality_score",
      (s, dir) => t(s, dir).documents.select(
        col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality")),
      Some(s"""SELECT doc_id,
             |${TextOracle.qualityExpr("text")} AS quality
             |FROM documents""".stripMargin)),

    // ---- language ID (n-gram/stopword heuristic) ----------------------
    GQ("llm_langid",
      (s, dir) => t(s, dir).documents.select(
        col("doc_id"), col("lang").as("labeled_lang"),
        TextAnalysis.langId(col("text")).as("predicted_lang")),
      Some(s"""WITH toks AS (
             |  SELECT doc_id, lang,
             |    regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
             |  FROM documents
             |), scores AS (
             |  SELECT doc_id, lang,
             |${TextOracle.scoreCols}
             |  FROM toks
             |)
             |SELECT doc_id, lang AS labeled_lang,
             |  ${TextOracle.langCase} AS predicted_lang
             |FROM scores""".stripMargin)),

    // ---- document fingerprinting (md5 + order-sensitive chained md5) --
    GQ("llm_fingerprint",
      (s, dir) => t(s, dir).documents.select(
        col("doc_id"),
        TextAnalysis.fingerprintMd5(col("text")).as("fp_md5"),
        TextAnalysis.chainedMd5(col("text")).as("fp_chain")),
      Some("""SELECT doc_id,
             |md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_md5,
             |list_reduce(list_prepend('', regexp_split_to_array(lower(trim(text)), '\s+')),
             |  (acc, t) -> md5(acc || ' ' || t)) AS fp_chain
             |FROM documents""".stripMargin)),

    // ---- vocabulary building: corpus-wide token top-k -----------------
    // explode → count → top-k: map-side partial agg keeps the shuffle at
    // |vocab| not |tokens|; TakeOrderedAndProject caps the sort at k
    GQ("llm_vocab_topk",
      (s, dir) => t(s, dir).documents
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok").asc)
        .limit(100),
      Some("""SELECT tok, count(*) AS n FROM (
             |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
             |  FROM documents)
             |WHERE tok <> '' GROUP BY 1
             |ORDER BY n DESC, tok ASC LIMIT 100""".stripMargin)),

    // ---- deterministic content-keyed sampling (~10%) ------------------
    GQ("llm_sample",
      (s, dir) => t(s, dir).documents
        .filter(TextAnalysis.sampleByFingerprint(col("text"), 0.1))
        .select(col("doc_id"), col("lang")),
      Some("""SELECT doc_id, lang FROM documents
             |WHERE substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 2) <= '19'""".stripMargin)),

    // ---- exact-size reproducible sample (top-k by content hash) -------
    // ORDER BY fingerprint LIMIT k plans as TakeOrderedAndProject — a
    // per-partition heap + driver merge of k rows, never a global sort;
    // the deterministic complement to the fixed-RATE md5-prefix sample
    GQ("llm_sample_k",
      (s, dir) => t(s, dir).documents
        .select(col("doc_id"),
          TextAnalysis.fingerprintMd5(col("text")).as("fp"))
        .orderBy(col("fp").asc, col("doc_id").asc)
        .limit(50),
      Some("""SELECT doc_id,
             |md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
             |FROM documents ORDER BY fp ASC, doc_id ASC LIMIT 50""".stripMargin)),

    // ---- canonical text normalization ---------------------------------
    GQ("llm_normalize",
      (s, dir) => t(s, dir).documents.select(col("doc_id"),
        TextAnalysis.normalize(col("text")).as("norm_text")),
      Some("""SELECT doc_id,
             |trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
             |  '\s+', ' ', 'g')) AS norm_text
             |FROM documents""".stripMargin)),

    // ---- MinHash + LSH near-dup candidates ----------------------------
    // Hash-oracled end to end: the signature's double-hash family
    // derives from md5 halves (MinHashUtil.pairFromDigest) and band keys
    // are the raw slice values, so DuckDB rebuilds the SAME signatures,
    // the SAME buckets, the SAME candidate pairs, then verifies exact
    // Jaccard just like the operator. The recursive CTEs supply 2^j /
    // 16^j powers and the 0..31 family index.
    GQ("llm_minhash_neardup",
      (s, dir) => Dedup.minhashNearDup(t(s, dir).documents,
        w = 3, k = 32, bands = 8, minJaccard = 0.3),
      Some(s"""WITH RECURSIVE ${minhashCtes("documents")}
             |SELECT id_a, id_b, jaccard FROM mver
             |WHERE jaccard >= 0.3""".stripMargin)),

    // ---- exact n-gram Jaccard near-dup (prefix-filtered AllPairs) -----
    // Exact (recall 1.0) unlike the LSH variants, so the brute-force
    // DuckDB formulation hash-verifies the whole pipeline: tokenization,
    // shingling, prefix-filter candidate generation and set-overlap
    // verification. Integer num/den threshold — no float boundaries.
    GQ("llm_jaccard_neardup",
      (s, dir) => Dedup.jaccardNearDup(t(s, dir).documents,
        w = 3, minJacNum = 3, minJacDen = 5),
      Some("""WITH sh0 AS (
             |  SELECT doc_id, list_distinct(list_transform(
             |    range(1, len(t) - 1),
             |    i -> array_to_string(t[i:i+2], ' '))) AS sh
             |  FROM (SELECT doc_id,
             |        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
             |          ' ') AS t
             |        FROM documents)),
             |sh AS (SELECT doc_id, sh, len(sh) AS sz FROM sh0 WHERE len(sh) > 0),
             |esh AS (SELECT doc_id, sz, unnest(sh) AS s FROM sh),
             |inter AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |         count(*) AS n_common,
             |         any_value(a.sz) AS sz_a, any_value(b.sz) AS sz_b
             |  FROM esh a JOIN esh b ON a.s = b.s AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT id_a, id_b, n_common,
             |       sz_a + sz_b - n_common AS n_union
             |FROM inter
             |WHERE n_common * 5 >= (sz_a + sz_b - n_common) * 3""".stripMargin)),

    // ---- overlapping token-window chunking ----------------------------
    // context-window-bounded chunk split (64-token windows, stride 48);
    // integer-arithmetic starts → bit-identical chunk boundaries in both
    // engines, so the map-side operator is hash-verified end to end
    GQ("llm_chunk_split",
      (s, dir) => Curation.chunkTokens(t(s, dir).documents,
        chunkSize = 64, stride = 48),
      Some("""WITH tk AS (
             |  SELECT doc_id,
             |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
             |      ' ') AS t
             |  FROM documents),
             |st AS (
             |  SELECT doc_id, t,
             |         unnest(range(0, 1 + greatest(0,
             |           (len(t) - 64 + 47) // 48))) AS chunk_idx
             |  FROM tk)
             |SELECT doc_id, chunk_idx,
             |       array_to_string(t[chunk_idx * 48 + 1 : chunk_idx * 48 + 64],
             |         ' ') AS chunk_text,
             |       least(64, len(t) - chunk_idx * 48) AS n_chunk_tokens
             |FROM st""".stripMargin)),

    // ---- paragraph-level exact dedup (first occurrence wins) ----------
    // "Paragraph" = non-overlapping 16-token window (the corpus has no
    // newline structure); the corpus genuinely contains repeated windows
    // at this width (78 at sf0.01), so the dedup is exercised without
    // planting. Oracle mirrors chunking, the first-occurrence window
    // rank, and ordered reassembly.
    GQ("llm_paragraph_dedup",
      (s, dir) => Dedup.paragraphDedup(t(s, dir).documents, chunkSize = 16),
      Some("""WITH tk AS (
             |  SELECT doc_id,
             |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
             |      ' ') AS t
             |  FROM documents),
             |st AS (
             |  SELECT doc_id, t,
             |         unnest(range(0, 1 + greatest(0,
             |           (len(t) - 16 + 15) // 16))) AS chunk_idx
             |  FROM tk),
             |cc AS (
             |  SELECT doc_id, chunk_idx,
             |         array_to_string(t[chunk_idx * 16 + 1 : chunk_idx * 16 + 16],
             |           ' ') AS chunk_text
             |  FROM st),
             |rk AS (
             |  SELECT doc_id, chunk_idx, chunk_text,
             |         row_number() OVER (PARTITION BY md5(chunk_text)
             |           ORDER BY doc_id, chunk_idx) AS rn
             |  FROM cc),
             |reb AS (
             |  SELECT doc_id, count(*) AS n_kept,
             |         string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS text_dedup
             |  FROM rk WHERE rn = 1 GROUP BY 1),
             |tot AS (SELECT doc_id, count(*) AS n_chunks FROM cc GROUP BY 1)
             |SELECT t.doc_id, t.n_chunks,
             |       coalesce(r.n_kept, 0) AS n_kept,
             |       coalesce(r.text_dedup, '') AS text_dedup
             |FROM tot t LEFT JOIN reb r USING (doc_id)""".stripMargin)),

    // ---- substring-level dedup EXECUTION (Lee et al. span removal) ----
    // dupNgrams' audit turned into surgery: 5-token windows seen in >= 2
    // distinct docs are duplicated spans; all but the corpus-first
    // occurrence are cut and docs reassemble from surviving tokens. The
    // whole pipeline is deterministic integer/string work, so the oracle
    // mirrors it stage by stage (grams -> dup set -> first-occurrence
    // rank -> cut positions -> anti-join -> ordered reassembly). The
    // corpus genuinely contains cross-doc 5-grams (30 docs cut at
    // sf0.001), so the operator is exercised without planting.
    GQ("llm_substring_dedup",
      (s, dir) => Dedup.cutDupSpans(t(s, dir).documents, w = 5, minDocs = 2),
      Some("""WITH tk AS (
             |  SELECT doc_id,
             |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
             |      ' ') AS t
             |  FROM documents),
             |st AS (
             |  SELECT doc_id, t,
             |         unnest(range(0, greatest(len(t) - 4, 0))) AS start
             |  FROM tk),
             |gr AS (
             |  SELECT doc_id, start,
             |         array_to_string(t[start + 1 : start + 5], ' ') AS gram
             |  FROM st),
             |dup AS (
             |  SELECT gram FROM gr GROUP BY gram
             |  HAVING count(DISTINCT doc_id) >= 2),
             |rk AS (
             |  SELECT doc_id, start,
             |         row_number() OVER (PARTITION BY gram
             |           ORDER BY doc_id, start) AS rn
             |  FROM gr JOIN dup USING (gram)),
             |cut AS (
             |  SELECT DISTINCT doc_id, unnest(range(start, start + 5)) AS pos
             |  FROM rk WHERE rn > 1),
             |tok AS (
             |  SELECT doc_id, unnest(range(0, len(t))) AS pos,
             |         unnest(t) AS token
             |  FROM tk),
             |keep AS (
             |  SELECT k.doc_id, k.pos, k.token
             |  FROM tok k LEFT JOIN cut c ON k.doc_id = c.doc_id AND k.pos = c.pos
             |  WHERE c.doc_id IS NULL),
             |reb AS (
             |  SELECT doc_id, count(*) AS n_kept,
             |         string_agg(token, ' ' ORDER BY pos) AS text_dedup
             |  FROM keep GROUP BY 1)
             |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
             |       CAST(len(t.t) - coalesce(r.n_kept, 0) AS BIGINT) AS n_cut,
             |       coalesce(r.text_dedup, '') AS text_dedup
             |FROM tk t LEFT JOIN reb r USING (doc_id)""".stripMargin)),

    // ---- SimHash signatures (md5-derived token hash → full-SQL oracle)
    GQ("llm_simhash_groups",
      (s, dir) => t(s, dir).documents
        .select(col("doc_id"), Dedup.simhash(col("text")).as("simhash")),
      Some(s"""WITH RECURSIVE ${SimOracle.ctes}
             |SELECT d.doc_id, s.simhash
             |FROM documents d LEFT JOIN ssig s USING (doc_id)""".stripMargin)),

    // ---- end-to-end corpus dedup (exact + MinHash + transitive groups)
    // Fully oracled since the LSH stage went engine-portable: exact-
    // dedup survivors feed the shared minhash CTEs, near-dup pairs at
    // jaccard ≥ 0.8 become undirected edges, a recursive CTE computes
    // each component's transitive closure (min reachable label ≡
    // transitiveGroups' min-label CC), and non-minimal members drop.
    GQ("llm_dedup_corpus",
      (s, dir) => Dedup.dedupCorpus(t(s, dir).documents, minJaccard = 0.8)
        .select(col("doc_id"), col("lang"), col("source")),
      Some(s"""WITH RECURSIVE surv AS (
             |  SELECT d.* FROM documents d JOIN (
             |    SELECT min(doc_id) AS doc_id FROM (
             |      SELECT doc_id,
             |        md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
             |      FROM documents) GROUP BY fp) k USING (doc_id)),
             |${minhashCtes("surv")},
             |${ccDropCtes("0.8")}
             |SELECT doc_id, lang, source FROM surv
             |WHERE doc_id NOT IN (SELECT doc FROM mdrop)""".stripMargin)),

    // ---- end-to-end corpus preparation pipeline -----------------------
    // annotate → quality-filter → dedup → summarize. Fully oracled now
    // that the LSH dedup stage is engine-portable: the SQL composes the
    // llm_langid / llm_quality_score expressions, the exact-dedup
    // fingerprint, the shared minhash CTEs and the CC drop set, then
    // aggregates per predicted language like CorpusPipeline.summary.
    GQ("llm_pipeline_e2e",
      (s, dir) => graft.llm.CorpusPipeline.summary(
        graft.llm.CorpusPipeline.prepare(t(s, dir).documents,
          minQuality = 0.2, minJaccard = 0.8)),
      Some(s"""WITH RECURSIVE ptok AS (
             |  SELECT doc_id, text,
             |    regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
             |  FROM documents),
             |pscore AS (
             |  SELECT doc_id, text,
             |${TextOracle.scoreCols}
             |  FROM ptok),
             |pann AS (
             |  SELECT doc_id, text,
             |    ${TextOracle.langCase} AS lang_pred,
             |    ${TextOracle.qualityExpr("text")} AS quality,
             |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n_tokens
             |  FROM pscore),
             |pfilt AS (SELECT * FROM pann WHERE quality >= 0.2),
             |surv AS (
             |  SELECT p.* FROM pfilt p JOIN (
             |    SELECT min(doc_id) AS doc_id FROM (
             |      SELECT doc_id,
             |        md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
             |      FROM pfilt) GROUP BY fp) k USING (doc_id)),
             |${minhashCtes("surv")},
             |${ccDropCtes("0.8")}
             |SELECT lang_pred, count(*) AS n_docs,
             |  ${TextAnalysis.portableRoundSql(
                  """sum(CAST(round(quality * 1e6, 0) AS BIGINT))
                    |    / (count(*) * 1e6)""".stripMargin, 6)} AS avg_quality,
             |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
             |FROM surv WHERE doc_id NOT IN (SELECT doc FROM mdrop)
             |GROUP BY 1""".stripMargin)),

    // ---- SimHash near-dup (banded pigeonhole + Hamming verify) --------
    // band values from the UNSIGNED signature via pure arithmetic
    // (u // 2^(16b) % 2^16 ≡ shiftrightunsigned + mask); Hamming via
    // bit_count∘xor on the signed longs — same two's-complement bits
    GQ("llm_simhash_neardup",
      (s, dir) => Dedup.simhashNearDup(t(s, dir).documents,
        maxHamming = 3, bands = 4),
      Some(s"""WITH RECURSIVE ${SimOracle.ctes},
             |sbands AS (SELECT j // 16 AS band_id, p AS bp
             |  FROM spw WHERE j % 16 = 0),
             |sbanded AS (
             |  SELECT g.doc_id, g.simhash, b.band_id,
             |    CAST((g.u // b.bp) % 65536 AS BIGINT) AS band_val
             |  FROM ssig g CROSS JOIN sbands b),
             |spairs AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             |    a.simhash AS sig_a, b.simhash AS sig_b
             |  FROM sbanded a JOIN sbanded b
             |    ON a.band_id = b.band_id AND a.band_val = b.band_val
             |    AND a.doc_id < b.doc_id)
             |SELECT id_a, id_b,
             |  CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
             |FROM spairs WHERE bit_count(xor(sig_a, sig_b)) <= 3""".stripMargin)),

    // ---- brute-force cosine top-k (exact ANN baseline) ----------------
    GQ("llm_ann_bruteforce",
      (s, dir) => Similarity.bruteForceTopK(
        t(s, dir).embeddings, queryVec(s, dir), k = 20),
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
             |SELECT vec_id,
             |round(list_sum(list_transform(list_zip(embedding, (SELECT qv FROM q)),
             |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             | / (sqrt(list_sum(list_transform(embedding,
             |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |  * sqrt(list_sum(list_transform((SELECT qv FROM q),
             |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cosine
             |FROM embeddings
             |ORDER BY cosine DESC, vec_id ASC LIMIT 20""".stripMargin)),

    // ---- IVF-style pruned ANN (the scale path): seed → assign →
    // k-means centroid refinement (typed Aggregator) → re-assign → probe
    GQ("llm_ann_ivf",
      (s, dir) => graft.core.Checkpoints.scoped { scope =>
        val emb = t(s, dir).embeddings
        val seeds = Similarity.seedCentroids(emb, 16)
        val refined = scope.cache(Similarity.kmeansRefine(s,
          Similarity.assignToCentroids(emb, seeds)))
        val assigned = Similarity.assignToCentroids(emb, refined)
        Similarity.ivfTopK(s, assigned, refined, queryVec(s, dir),
          k = 20, nProbe = 4)
      },
      Some(KmOracle.ivfSql)),

    // ---- exact k-NN join (multi-query top-k, per-partition heaps) -----
    // 20 query vectors × top-5 each; exact, so the brute-force DuckDB
    // cross-join formulation hash-verifies the heap + merge machinery
    GQ("llm_knn_join",
      (s, dir) => {
        val emb = t(s, dir).embeddings
        val queries = emb.filter(col("vec_id") < 20)
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => r.getLong(0) -> r.getSeq[Float](1))
          .sortBy(_._1).toSeq
        Similarity.knnJoin(emb, queries, k = 5)
      },
      Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv
             |  FROM embeddings WHERE vec_id < 20),
             |s AS (SELECT q.q_id, e.vec_id,
             |    ${KmOracle.cos("e.embedding", "q.qv")} AS sim
             |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id),
             |r AS (SELECT q_id, vec_id, sim,
             |    row_number() OVER (PARTITION BY q_id
             |      ORDER BY sim DESC, vec_id ASC) AS rn FROM s)
             |SELECT q_id, vec_id, round(sim, 6) AS cosine
             |FROM r WHERE rn <= 5""".stripMargin)),

    // ---- IVF-bucketed approximate k-NN join (the ANN-join scale path)
    // Deterministic end to end (seeded centroids, one refine iteration,
    // literal-inlined probe ranking), so even the APPROXIMATE result is
    // DuckDB-expressible and hash-verified: same buckets, same probes,
    // same candidates, same ranks in both engines.
    GQ("llm_knn_join_ivf",
      (s, dir) => Similarity.ivfKnnJoin(s, t(s, dir).embeddings,
        k = 5, nCentroids = 16, nProbe = 4),
      Some(s"""WITH ${KmOracle.seeds(16)},
             |${KmOracle.assign("seeds", "iasg0")},
             |${KmOracle.refine("iasg0", "iref1")},
             |${KmOracle.assign("iref1", "iasg1")},
             |ip AS (
             |  SELECT vec_id AS q_id, embedding AS q_vec,
             |         c_id AS probe_cid FROM (
             |    SELECT e.vec_id, e.embedding, s.c_id,
             |      row_number() OVER (PARTITION BY e.vec_id
             |        ORDER BY ${KmOracle.cos("e.embedding", "s.c_vec")} DESC,
             |          s.c_id DESC) AS rn
             |    FROM embeddings e CROSS JOIN iref1 s) WHERE rn <= 4),
             |icand AS (
             |  SELECT p.q_id, a.vec_id,
             |         ${KmOracle.cos("p.q_vec", "a.embedding")} AS sim
             |  FROM ip p JOIN iasg1 a ON a.centroid_id = p.probe_cid
             |  WHERE a.vec_id <> p.q_id),
             |ir AS (SELECT q_id, vec_id, sim,
             |    row_number() OVER (PARTITION BY q_id
             |      ORDER BY sim DESC, vec_id ASC) AS rn FROM icand)
             |SELECT q_id, vec_id, round(sim, 6) AS cosine
             |FROM ir WHERE rn <= 5""".stripMargin)),

    // ---- graph-based ANN (the HNSW-class path) ------------------------
    // Deterministic k-NN-graph build (bucketed candidates, top-6 per
    // vector) + 3 beam-search rounds, entered through the COARSE
    // CENTROID LAYER (each query routes to its top-4 centroids' entry
    // points — bounded fan-out, r10) — every rank tie-broken on exact
    // doubles, so the routed APPROXIMATE result hash-verifies against
    // the same chain in DuckDB.
    GQ("llm_ann_graph",
      (s, dir) => {
        val emb = t(s, dir).embeddings
        val qs = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        Similarity.graphAnn(s, emb, qs, k = 10, m = 6, efSearch = 24,
          rounds = 3, nCentroids = 16, graphProbes = 2)
      },
      Some {
        def beamRound(t: Int): String = {
          val prev = s"gb${t - 1}"
          s"""gc$t AS (SELECT q_id, vec_id FROM $prev
             |  UNION
             |  SELECT b.q_id, a.dst AS vec_id FROM $prev b
             |    JOIN gadj a ON a.src = b.vec_id),
             |gb$t AS (SELECT q_id, vec_id FROM (
             |    SELECT c.q_id, c.vec_id,
             |      row_number() OVER (PARTITION BY c.q_id
             |        ORDER BY ${KmOracle.cos("e.embedding", "q.qv")} DESC,
             |          c.vec_id ASC) AS rn
             |    FROM gc$t c JOIN gdv e ON e.vec_id = c.vec_id
             |      JOIN gq q ON q.q_id = c.q_id) WHERE rn <= 24)""".stripMargin
        }
        // gdv = one representative (min vec_id) per DISTINCT embedding:
        // the engine's clone-cluster collapse, replayed as pure
        // equality grouping (no float hashing); the final select
        // expands rep beams back to member ids by embedding equality
        s"""WITH gq AS (SELECT vec_id AS q_id, embedding AS qv
           |  FROM embeddings WHERE vec_id < 8),
           |gdv AS (SELECT min(vec_id) AS vec_id, embedding
           |  FROM embeddings GROUP BY embedding),
           |${KmOracle.seeds(16, "gdv")},
           |${KmOracle.assign("seeds", "ga0", "gdv")},
           |${KmOracle.refine("ga0", "gr1")},
           |${KmOracle.assign("gr1", "ga1", "gdv")},
           |gp AS (SELECT vec_id, embedding, c_id FROM (
           |    SELECT e.vec_id, e.embedding, s.c_id,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${KmOracle.cos("e.embedding", "s.c_vec")} DESC,
           |          s.c_id DESC) AS rn
           |    FROM gdv e CROSS JOIN gr1 s) WHERE rn <= 2),
           |gcand AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
           |  FROM gp a JOIN gp b ON a.c_id = b.c_id
           |    AND a.vec_id <> b.vec_id),
           |gsim AS (SELECT c.src, c.dst,
           |    ${KmOracle.cos("ea.embedding", "eb.embedding")} AS sim
           |  FROM gcand c JOIN embeddings ea ON ea.vec_id = c.src
           |    JOIN embeddings eb ON eb.vec_id = c.dst),
           |gadj AS (SELECT src, dst FROM (
           |    SELECT src, dst, row_number() OVER (PARTITION BY src
           |      ORDER BY sim DESC, dst ASC) AS rn FROM gsim)
           |  WHERE rn <= 6),
           |gqp AS (SELECT q_id, c_id FROM (
           |    SELECT q.q_id, s.c_id,
           |      row_number() OVER (PARTITION BY q.q_id
           |        ORDER BY ${KmOracle.cos("q.qv", "s.c_vec")} DESC,
           |          s.c_id DESC) AS rn
           |    FROM gq q CROSS JOIN gr1 s) WHERE rn <= 4),
           |gent AS (SELECT centroid_id, vec_id FROM (
           |    SELECT a.centroid_id, a.vec_id,
           |      row_number() OVER (PARTITION BY a.centroid_id
           |      ORDER BY ${KmOracle.cos("a.embedding", "r.c_vec")} DESC,
           |        a.vec_id ASC) AS rn
           |    FROM ga1 a JOIN gr1 r ON r.c_id = a.centroid_id)
           |  WHERE rn = 1),
           |gb0 AS (SELECT DISTINCT p.q_id, g.vec_id FROM gqp p
           |  JOIN gent g ON g.centroid_id = p.c_id),
           |${beamRound(1)},
           |${beamRound(2)},
           |${beamRound(3)},
           |grep_top AS (SELECT c.q_id, e.embedding,
           |    ${KmOracle.cos("e.embedding", "q.qv")} AS sim
           |  FROM gb3 c JOIN gdv e ON e.vec_id = c.vec_id
           |    JOIN gq q ON q.q_id = c.q_id)
           |SELECT q_id, vec_id, round(sim, 6) AS cosine FROM (
           |  SELECT t.q_id, mem.vec_id, t.sim,
           |    row_number() OVER (PARTITION BY t.q_id
           |      ORDER BY t.sim DESC, mem.vec_id ASC) AS rn
           |  FROM grep_top t JOIN embeddings mem
           |    ON mem.embedding = t.embedding
           |  WHERE mem.vec_id <> t.q_id) WHERE rn <= 10""".stripMargin
      }),

    // ---- product quantization + asymmetric-distance top-k -------------
    // Train (seed subvector codebooks from the 16 lowest-vec_id
    // embeddings, one Lloyd iteration per subspace), encode the corpus
    // to m=8 int codes, then answer the vec_id-0 query by ADC over the
    // ENCODED table only. Deterministic end to end: seed order, strict
    // first-min argmin (ties → smaller code), empty codes keep their
    // seed vector, and the ADC sum is micro-unit integers — so even the
    // APPROXIMATE result is DuckDB-expressible and hash-verified.
    GQ("llm_pq_topk",
      (s, dir) => {
        val emb = t(s, dir).embeddings
        val model = Similarity.pqTrain(s, emb,
          kCodes = 16, subDim = 8, refineIters = 1)
        Similarity.pqAdcTopK(Similarity.pqEncode(emb, model), model,
          queryVec(s, dir), k = 20)
      },
      Some {
        s"""WITH ${PqOracle.ctes}
           |SELECT a.vec_id, CAST(sum(t.dmicro) AS BIGINT) AS adc_micro
           |FROM pqa1 a JOIN pqt t ON t.mi = a.mi AND t.code = a.code
           |GROUP BY 1 ORDER BY adc_micro ASC, vec_id ASC LIMIT 20""".stripMargin
      }),

    // ADC shortlist (top-100 over the ENCODED table) → exact re-rank of
    // only those 100 rows against the float embeddings — the production
    // PQ serving shape: corpus scan touches m ints per vector, floats
    // are read for the shortlist alone. Exact distances quantize
    // per-dimension to micro-units so the 64-term sum is
    // association-order-free on both engines.
    GQ("llm_pq_rerank",
      (s, dir) => {
        val emb = t(s, dir).embeddings
        val model = Similarity.pqTrain(s, emb,
          kCodes = 16, subDim = 8, refineIters = 1)
        Similarity.pqAdcRerank(emb, Similarity.pqEncode(emb, model), model,
          queryVec(s, dir), k = 10, shortlist = 100)
      },
      Some {
        s"""WITH ${PqOracle.ctes},
           |pqsl AS (SELECT a.vec_id,
           |    CAST(sum(t.dmicro) AS BIGINT) AS adc_micro
           |  FROM pqa1 a JOIN pqt t ON t.mi = a.mi AND t.code = a.code
           |  GROUP BY 1 ORDER BY adc_micro ASC, vec_id ASC LIMIT 100)
           |SELECT e.vec_id, CAST(list_sum(list_transform(
           |    list_zip(e.embedding, (SELECT qv FROM pqq)),
           |    x -> CAST(round(
           |        (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
           |      * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * 1e6, 0)
           |      AS BIGINT))) AS BIGINT) AS l2_micro
           |FROM pqsl s JOIN embeddings e USING (vec_id)
           |ORDER BY l2_micro ASC, vec_id ASC LIMIT 10""".stripMargin
      }),

    // IVF+PQ composite (FAISS IVFPQ, by_residual=false): the coarse
    // cosine quantizer (same seeds16 → refine → assign pipeline as
    // llm_ann_ivf) prunes the scan to 4 probed buckets; PQ ADC ranks
    // inside them over the encoded ints. Index build is ONE map-side
    // projection (assignment argmax + codes); at scale the index is
    // written partitioned by centroid_id so a probe is a partition-
    // pruned scan of m ints per vector — floats never read at query
    // time. Oracle = KmOracle coarse chain + PqOracle code chain,
    // composed; both deterministic, so the doubly-approximate result
    // hash-verifies.
    GQ("llm_pq_ivf",
      (s, dir) => graft.core.Checkpoints.scoped { scope =>
        val emb = t(s, dir).embeddings
        val seeds = Similarity.seedCentroids(emb, 16)
        val refined = scope.cache(Similarity.kmeansRefine(s,
          Similarity.assignToCentroids(emb, seeds)))
        val cents = refined.collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
        val model = Similarity.pqTrain(s, emb,
          kCodes = 16, subDim = 8, refineIters = 1)
        Similarity.ivfPqTopK(Similarity.ivfPqIndex(emb, cents, model),
          refined, model, queryVec(s, dir), k = 20, nProbe = 4)
      },
      Some {
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |${KmOracle.seeds(16)},
           |${KmOracle.assign("seeds", "asg0")},
           |${KmOracle.refine("asg0", "ref1")},
           |${KmOracle.assign("ref1", "asg1")},
           |probes AS (SELECT c_id FROM (
           |    SELECT r.c_id,
           |      ${KmOracle.cos("r.c_vec", "(SELECT qv FROM q)")} AS sim
           |    FROM ref1 r)
           |  ORDER BY sim DESC, c_id ASC LIMIT 4),
           |${PqOracle.ctes}
           |SELECT a.vec_id, CAST(sum(t.dmicro) AS BIGINT) AS adc_micro
           |FROM pqa1 a JOIN pqt t ON t.mi = a.mi AND t.code = a.code
           |JOIN asg1 g ON g.vec_id = a.vec_id
           |WHERE g.centroid_id IN (SELECT c_id FROM probes)
           |GROUP BY 1 ORDER BY adc_micro ASC, a.vec_id ASC LIMIT 20""".stripMargin
      }),

    // ---- k-means document clustering over embeddings ------------------
    GQ("llm_kmeans_clusters",
      (s, dir) => Similarity.kmeans(s, t(s, dir).embeddings, k = 8, iters = 3)
        .groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("n_members")),
      Some(KmOracle.kmeansSql)),

    // ---- embedding near-dup via banded hyperplane LSH -----------------
    // The synthetic embeddings are near-orthogonal random vectors (max
    // pairwise cosine ≈ 0.6 at every SF), so near-dup detection over the
    // raw table is vacuously empty. Instead the query plants exact
    // duplicates by unioning an id-shifted copy of the table: identical
    // vectors produce identical LSH sign bits, every band collides, and
    // recall is deterministically 100% — which makes the output exactly
    // one (i, i+OFFSET, 1.0) row per vector and therefore DuckDB-oracle
    // checkable end to end (banding + verification both exercised).
    GQ("llm_embedding_neardup",
      (s, dir) => {
        val emb = t(s, dir).embeddings.select(col("vec_id"), col("embedding"))
        val shifted = emb.select(
          (col("vec_id") + lit(10000000L)).as("vec_id"), col("embedding"))
        Dedup.embeddingNearDup(emb.union(shifted), minCosine = 0.95)
      },
      Some("""SELECT vec_id AS id_a, vec_id + 10000000 AS id_b,
             |CAST(1.0 AS DOUBLE) AS cosine
             |FROM embeddings""".stripMargin)),

    // ---- embedding vector ops: per-group L2 norms + mean pooling ------
    // pooled means project to micro-unit-int CSV (float-to-string
    // formatting diverges between engines; scaled integers don't), and
    // norms sum as micro-unit integers — both per the Scoring
    // determinism contract, so the whole query hash-verifies
    GQ("llm_vector_ops",
      (s, dir) => {
        val emb = t(s, dir).embeddings
        val norms = emb.select(pmod(col("vec_id"), lit(8L)).as("group_id"),
            Similarity.l2NormMicro(col("embedding")).as("norm_micro"))
          .groupBy(col("group_id"))
          .agg(sum(col("norm_micro")).as("sum_norm_micro"))
        Similarity.meanPool(emb, pmod(col("vec_id"), lit(8L)))
          .join(norms, Seq("group_id"))
          .select(col("group_id"), col("n_vecs"), col("sum_norm_micro"),
            concat_ws(",", transform(col("pooled"), x =>
              round(x.cast("double") * 10000, 0).cast("long").cast("string")))
              .as("pooled_csv"))
      },
      Some("""WITH vb AS (
             |  SELECT vec_id % 8 AS group_id, embedding,
             |    CAST(round(sqrt(list_sum(list_transform(embedding,
             |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * 1e6, 0)
             |      AS BIGINT) AS norm_micro
             |  FROM embeddings),
             |vpool AS (
             |  SELECT group_id, pos, CAST(avg(CAST(val AS DOUBLE)) AS FLOAT) AS m
             |  FROM (SELECT group_id, unnest(embedding) AS val,
             |        generate_subscripts(embedding, 1) AS pos FROM vb)
             |  GROUP BY 1, 2),
             |vcsv AS (
             |  SELECT group_id, array_to_string(list(
             |    CAST(CAST(round(CAST(m AS DOUBLE) * 10000, 0) AS BIGINT) AS VARCHAR)
             |    ORDER BY pos), ',') AS pooled_csv
             |  FROM vpool GROUP BY 1)
             |SELECT v.group_id, count(*) AS n_vecs,
             |  CAST(sum(v.norm_micro) AS BIGINT) AS sum_norm_micro,
             |  any_value(c.pooled_csv) AS pooled_csv
             |FROM vb v JOIN vcsv c USING (group_id)
             |GROUP BY 1""".stripMargin)),

    // ---- SemDeDup-style semantic dedup --------------------------------
    // The raw synthetic embeddings are near-orthogonal (max pairwise
    // cosine ≈ 0.6), so — like llm_embedding_neardup — the query plants
    // exact duplicates by unioning an id-shifted copy: every copy has a
    // lower-id twin at cosine 1.0 in the same cluster and drops, every
    // original survives. The k-means clustering, the within-cluster
    // pairwise test and the drop rule are all recomputed in SQL.
    GQ("llm_semantic_dedup",
      (s, dir) => {
        val emb = t(s, dir).embeddings.select(col("vec_id"), col("embedding"))
        val aug = emb.union(emb.select(
          (col("vec_id") + lit(10000000L)).as("vec_id"), col("embedding")))
        Similarity.semanticDedup(s, aug, k = 8, iters = 2, minCosine = 0.95)
      },
      Some(KmOracle.semanticSql)),

    // ---- int8 embedding quantization ----------------------------------
    GQ("llm_quantize",
      (s, dir) => Similarity.quantizeInt8(t(s, dir).embeddings),
      Some("""WITH qs AS (
             |  SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd,
             |    list_max(list_transform(embedding,
             |      x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
             |  FROM embeddings),
             |qq AS (
             |  SELECT vec_id, vd, scale,
             |    list_transform(vd, x -> CASE WHEN scale = 0 THEN 0.0
             |      ELSE round(x / scale, 0) END) AS q
             |  FROM qs)
             |SELECT vec_id,
             |  CAST(round(scale * 1e9, 0) AS BIGINT) AS scale_nano,
             |  CAST(list_sum(q) AS BIGINT) AS q_sum,
             |  CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS q_l1,
             |  CAST(round(list_max(list_transform(list_zip(vd, q),
             |    p -> abs(p[1] - p[2] * scale))) * 1e9, 0) AS BIGINT)
             |    AS max_err_nano
             |FROM qq""".stripMargin)),

    // ---- PII redaction ------------------------------------------------
    // The synthetic corpus carries no PII, so the query PLANTS one email,
    // one IPv4 and one phone number per document (derived from doc_id —
    // deterministic, so the DuckDB oracle plants the identical text) and
    // then redacts + counts. Exercises the real operator end to end:
    // counts confirm detection, the redacted text confirms replacement.
    GQ("llm_pii_redact",
      (s, dir) => {
        // coalesce: Spark concat NULL-propagates while DuckDB concat
        // skips NULL arguments — '' makes both engines see the same text
        val planted = t(s, dir).documents.select(col("doc_id"),
          concat(coalesce(col("text"), lit("")),
            lit(" contact user"), col("doc_id"),
            lit("@example.com from 10.0."), col("doc_id") % 256,
            lit("."), col("doc_id") % 100,
            lit(" call 555-0"),
            lpad(col("doc_id") % 1000, 3, "0")).as("ptext"))
        val (em, ip, ph) = Curation.piiCounts(col("ptext"))
        planted.select(col("doc_id"),
          em.as("n_emails"), ip.as("n_ips"), ph.as("n_phones"),
          Curation.redactPii(col("ptext")).as("redacted"))
      },
      Some(s"""WITH p AS (SELECT doc_id,
             |  concat(coalesce(text, ''), ' contact user', doc_id, '@example.com from 10.0.',
             |         doc_id % 256, '.', doc_id % 100, ' call 555-0',
             |         lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')) AS ptext
             |  FROM documents)
             |SELECT doc_id,
             |  ${Curation.countSql("ptext", Curation.emailRe)} AS n_emails,
             |  ${Curation.countSql("ptext", Curation.ipv4Re)} AS n_ips,
             |  ${Curation.countSql("ptext", Curation.phoneRe)} AS n_phones,
             |  ${Curation.redactSql("ptext")} AS redacted
             |FROM p""".stripMargin)),

    // ---- benchmark-contamination detection ----------------------------
    // Benchmark set = the 20 lowest doc_ids (stand-in for an eval set);
    // score = fraction of each doc's distinct 5-grams found in it.
    GQ("llm_contamination",
      (s, dir) => {
        val d = t(s, dir).documents
        Curation.contamination(d, d.filter(col("doc_id") < 20), w = 5)
      },
      Some(s"""WITH ${CurOracle.contamCtes}
             |SELECT doc_id, n_ngrams, n_contaminated, contamination
             |FROM contam""".stripMargin)),

    // ---- bloom-accelerated contamination (same oracle: the bloom is a
    // pre-filter with exact verify, so results are identical — only the
    // scale shape differs: a ~10-bit/shingle bit array replaces the
    // broadcast shingle table, and the verify join sees only candidates)
    GQ("llm_contamination_bloom",
      (s, dir) => {
        val d = t(s, dir).documents
        Curation.contaminationBloom(d, d.filter(col("doc_id") < 20), w = 5)
      },
      Some(s"""WITH ${CurOracle.contamCtes}
             |SELECT doc_id, n_ngrams, n_contaminated, contamination
             |FROM contam""".stripMargin)),

    // ---- NEAR-dup decontamination (fuzzy complement to the exact
    // n-gram contamination check: paraphrases/small edits defeat exact
    // n-grams but not Jaccard at the LSH threshold). Same bench set.
    // Oracle equivalence: with bench ⊆ corpus, the corpus×bench band
    // join produces exactly the self-join candidates (mver) that touch a
    // bench id — both sides band the SAME signatures — so the shared
    // minhashCtes oracle applies with a bench-side filter, and the three
    // minhash oracles cannot drift apart.
    GQ("llm_decontam_neardup",
      (s, dir) => {
        val d = t(s, dir).documents
        Dedup.crossNearDup(d, d.filter(col("doc_id") < 20),
          w = 3, k = 32, bands = 8, minJaccard = 0.6)
      },
      Some(s"""WITH RECURSIVE ${minhashCtes("documents")},
             |xm AS (
             |  SELECT id_b AS doc_id, jaccard FROM mver
             |  WHERE id_a < 20 AND jaccard >= 0.6
             |  UNION ALL
             |  SELECT id_a AS doc_id, jaccard FROM mver
             |  WHERE id_b < 20 AND jaccard >= 0.6)
             |SELECT doc_id, count(*) AS n_bench_matches,
             |  max(jaccard) AS max_jaccard
             |FROM xm GROUP BY 1""".stripMargin)),

    // ---- URL extraction + per-domain rollup ---------------------------
    // The corpus carries no URLs, so the query plants one per doc (and a
    // second for every third doc) derived from doc_id — same idiom as
    // llm_pii_redact. Hosts aggregate across ~97+13 planted domains.
    GQ("llm_url_domains",
      (s, dir) => {
        val planted = t(s, dir).documents.select(col("doc_id"),
          concat(coalesce(col("text"), lit("")),
            lit(" http://d"), col("doc_id") % 97,
            lit(".example.com/p/"), col("doc_id"),
            when(col("doc_id") % 3 === 0,
              concat(lit(" https://site"), col("doc_id") % 13,
                lit(".org/x?q="), col("doc_id"))).otherwise(lit("")))
            .as("ptext"))
        Curation.urlHosts(planted, col("ptext"))
      },
      Some(s"""WITH p AS (SELECT doc_id,
             |  concat(coalesce(text, ''), ' http://d', doc_id % 97,
             |    '.example.com/p/', doc_id,
             |    CASE WHEN doc_id % 3 = 0
             |      THEN concat(' https://site', doc_id % 13, '.org/x?q=', doc_id)
             |      ELSE '' END) AS ptext FROM documents),
             |u AS (SELECT doc_id,
             |  unnest(regexp_extract_all(ptext, '${Curation.urlRe}')) AS url
             |  FROM p)
             |SELECT regexp_extract(url, '${Curation.hostRe}', 1) AS host,
             |       count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs
             |FROM u GROUP BY 1""".stripMargin)),

    // ---- repetition / quality stats (Gopher-rule family) --------------
    GQ("llm_repetition_stats",
      (s, dir) => Curation.repetitionStats(t(s, dir).documents),
      Some(s"""WITH ${CurOracle.repCtes}
             |SELECT * FROM rep""".stripMargin)),

    // ---- per-stratum weighted sampling (corpus mixing) ----------------
    GQ("llm_weighted_sample",
      (s, dir) => t(s, dir).documents
        .filter(Curation.weightedSampleFilter(col("text"), col("lang"),
          SampleRates, defaultRate = 0.02))
        .select(col("doc_id"), col("lang")),
      Some(s"""SELECT doc_id, lang FROM documents
             |WHERE substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 2)
             |  <= ${CurOracle.sampleCase("lang")}""".stripMargin)),

    // ---- temperature-weighted domain mixture (derived rates) ----------
    // The oracle re-derives the per-domain rates with the identical
    // expression tree (integer counts → integer micro-weights via the
    // correctly-rounded sqrt → one fixed double formula), so the hex
    // bounds — and therefore the sampled set — are bit-identical.
    GQ("llm_domain_mixture",
      (s, dir) => Curation.domainMixture(t(s, dir).documents,
        domainCol = "lang", tau = 0.5),
      Some("""WITH dmc AS (SELECT lang, count(*) AS n_d FROM documents GROUP BY 1),
             |dmw AS (SELECT lang, n_d,
             |    CAST(floor(sqrt(n_d) * 1e6 + 0.5) AS BIGINT) AS w_d FROM dmc),
             |dmt AS (SELECT sum(w_d) AS w_tot, sum(n_d) AS n_tot FROM dmw),
             |dmr AS (SELECT lang,
             |    least(1.0, (0.5 * CAST(n_tot AS DOUBLE) * CAST(w_d AS DOUBLE))
             |      / (CAST(w_tot AS DOUBLE) * CAST(n_d AS DOUBLE))) AS r_d
             |  FROM dmw CROSS JOIN dmt),
             |dmb AS (SELECT lang,
             |    printf('%04x', least(CAST(floor(r_d * 65536.0) AS BIGINT), 65535)) AS bound_hex,
             |    CAST(floor(r_d * 1e6 + 0.5) AS BIGINT) AS r_micro FROM dmr)
             |SELECT d.doc_id, d.lang, b.r_micro
             |FROM documents d JOIN dmb b USING (lang)
             |WHERE substr(md5('mix:' ||
             |    regexp_replace(lower(trim(d.text)), '\s+', ' ', 'g')), 1, 4)
             |  <= b.bound_hex""".stripMargin)),

    // ---- deterministic global shuffle + shard assignment --------------
    // Spark computes within-shard positions via PrefixSum over the
    // (shard, key) total order (no corpus/nShards-sized window
    // partitions); the oracle's row_number window is the semantic spec.
    GQ("llm_shuffle_shards",
      (s, dir) => Curation.shuffleShards(t(s, dir).documents, nShards = 8),
      Some("""WITH shk AS (
             |  SELECT doc_id, md5('shuf:' || CAST(doc_id AS VARCHAR)) AS skey
             |  FROM documents),
             |shs AS (
             |  SELECT doc_id, skey, CAST(
             |      ((instr('0123456789abcdef', substr(skey, 1, 1)) - 1) * 16
             |        + instr('0123456789abcdef', substr(skey, 2, 1)) - 1) % 8
             |    AS INT) AS shard
             |  FROM shk)
             |SELECT doc_id, shard,
             |  row_number() OVER (PARTITION BY shard ORDER BY skey) AS pos
             |FROM shs""".stripMargin)),

    // ---- composed training-data export (mixture → shard → pack) -------
    // Every stage shares its CTE text with the standalone oracles
    // (mixture rates, shuffle-key sharding, token counting), so the
    // composition cannot drift from the pieces.
    GQ("llm_dataprep_e2e",
      (s, dir) => Curation.dataprepE2e(t(s, dir).documents,
        domainCol = "lang", tau = 0.5, nShards = 8, capacity = 512),
      Some("""WITH dmc AS (SELECT lang, count(*) AS n_d FROM documents GROUP BY 1),
             |dmw AS (SELECT lang, n_d,
             |    CAST(floor(sqrt(n_d) * 1e6 + 0.5) AS BIGINT) AS w_d FROM dmc),
             |dmt AS (SELECT sum(w_d) AS w_tot, sum(n_d) AS n_tot FROM dmw),
             |dmr AS (SELECT lang,
             |    least(1.0, (0.5 * CAST(n_tot AS DOUBLE) * CAST(w_d AS DOUBLE))
             |      / (CAST(w_tot AS DOUBLE) * CAST(n_d AS DOUBLE))) AS r_d
             |  FROM dmw CROSS JOIN dmt),
             |dmb AS (SELECT lang,
             |    printf('%04x', least(CAST(floor(r_d * 65536.0) AS BIGINT), 65535)) AS bound_hex
             |  FROM dmr),
             |dps AS (
             |  SELECT d.doc_id, d.lang,
             |    len(regexp_split_to_array(trim(d.text), '\s+')) AS n_tokens,
             |    md5('shuf:' || CAST(d.doc_id AS VARCHAR)) AS skey
             |  FROM documents d JOIN dmb b USING (lang)
             |  WHERE substr(md5('mix:' ||
             |      regexp_replace(lower(trim(d.text)), '\s+', ' ', 'g')), 1, 4)
             |    <= b.bound_hex),
             |dsh AS (SELECT *, CAST(
             |    ((instr('0123456789abcdef', substr(skey, 1, 1)) - 1) * 16
             |      + instr('0123456789abcdef', substr(skey, 2, 1)) - 1) % 8
             |  AS INT) AS shard FROM dps),
             |drk AS (SELECT doc_id, lang, shard, n_tokens,
             |    row_number() OVER (PARTITION BY shard ORDER BY skey) AS pos,
             |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY skey
             |      ROWS UNBOUNDED PRECEDING) - n_tokens AS start_tok
             |  FROM dsh)
             |SELECT doc_id, lang, shard, CAST(pos AS BIGINT) AS pos,
             |  CAST(n_tokens AS INT) AS n_tokens,
             |  CAST(start_tok AS BIGINT) AS start_tok,
             |  CAST(start_tok // 512 AS BIGINT) AS first_seq,
             |  CAST((start_tok + n_tokens - 1) // 512 AS BIGINT) AS last_seq
             |FROM drk""".stripMargin)),

    // ---- cross-document duplicated n-gram audit -----------------------
    GQ("llm_dup_ngrams",
      (s, dir) => Dedup.dupNgrams(t(s, dir).documents,
        w = 5, minDocs = 2, k = 100),
      Some("""WITH dtk AS (
             |  SELECT doc_id,
             |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
             |      ' ') AS t
             |  FROM documents),
             |dgr AS (
             |  SELECT doc_id, unnest(list_transform(range(1, len(t) - 3),
             |    i -> array_to_string(t[i:i+4], ' '))) AS gram
             |  FROM dtk)
             |SELECT gram, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
             |FROM dgr
             |GROUP BY 1
             |HAVING count(DISTINCT doc_id) >= 2
             |ORDER BY n_docs DESC, n_occ DESC, gram
             |LIMIT 100""".stripMargin)),

    // ---- per-document n-gram novelty (memorization signal) ------------
    // corpus-first ownership per distinct 5-gram (min doc_id), novelty =
    // fraction of a document's distinct grams it owns first, in exact
    // micro-units. The same gram algebra as llm_dup_ngrams, read from
    // the document's side — audit tells you WHICH spans repeat, novelty
    // tells you WHICH DOCUMENTS are assembled from seen text.
    GQ("llm_ngram_novelty",
      (s, dir) => Dedup.ngramNovelty(t(s, dir).documents, w = 5),
      Some("""WITH ntk AS (
             |  SELECT doc_id,
             |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
             |      ' ') AS t
             |  FROM documents),
             |ngr AS (
             |  SELECT DISTINCT doc_id, gram FROM (
             |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 3),
             |      i -> array_to_string(t[i:i+4], ' '))) AS gram
             |    FROM ntk)),
             |nown AS (SELECT gram, min(doc_id) AS owner FROM ngr GROUP BY 1)
             |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_distinct,
             |  CAST(sum(CASE WHEN g.doc_id = o.owner THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_first,
             |  (1000000 * CAST(sum(CASE WHEN g.doc_id = o.owner
             |      THEN 1 ELSE 0 END) AS BIGINT))
             |    // CAST(count(*) AS BIGINT) AS novelty_micro
             |FROM ngr g JOIN nown o USING (gram)
             |GROUP BY 1""".stripMargin)),

    // ---- composed curation pipeline (every stage oracled) -------------
    // quality filter (rep.keep) → decontaminate (< 0.5 vs the doc_id<20
    // bench set; absent-from-contam = too short = 0.0) → weighted sample
    // → PII-redact survivors (md5 fingerprint proves redaction ran).
    // CorpusPipeline stays the LSH-dedup e2e (rows-only); this is the
    // fully-deterministic composition the gate can hash end to end.
    GQ("llm_curation_e2e",
      (s, dir) => {
        val d = t(s, dir).documents
        Curation.curateCorpus(d, d.filter(col("doc_id") < 20),
          SampleRates, defaultRate = 0.02, maxContamination = 0.5, w = 5)
      },
      Some(s"""WITH ${CurOracle.repCtes},
             |${CurOracle.contamCtes}
             |SELECT d.doc_id, d.lang, r.n_tokens,
             |  coalesce(c.contamination, 0.0) AS contamination,
             |  md5(${Curation.redactSql("d.text")}) AS redacted_fp
             |FROM documents d
             |JOIN rep r USING (doc_id)
             |LEFT JOIN contam c USING (doc_id)
             |WHERE r.keep AND coalesce(c.contamination, 0.0) < 0.5
             |  AND substr(md5(regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g')), 1, 2)
             |    <= ${CurOracle.sampleCase("d.lang")}""".stripMargin)),

    // ---- sequence packing (concat-and-chunk shard bookkeeping) --------
    GQ("llm_seq_pack",
      (s, dir) => Curation.packSequences(t(s, dir).documents,
        capacity = 512, buckets = 16),
      Some("""WITH t AS (SELECT doc_id,
             |    len(regexp_split_to_array(trim(text), '\s+')) AS ntok
             |  FROM documents),
             |c AS (SELECT doc_id, ntok,
             |    sum(ntok) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct
             |  FROM t)
             |SELECT doc_id, CAST(ntok AS INT) AS n_tokens,
             |  CAST(ct - ntok AS BIGINT) AS start_tok,
             |  CAST((ct - ntok) // 512 AS BIGINT) AS first_seq,
             |  CAST((ct - 1) // 512 AS BIGINT) AS last_seq,
             |  CAST((ct - 1) // 512 - (ct - ntok) // 512 + 1 AS BIGINT) AS n_seqs
             |FROM c""".stripMargin)),

    // ---- sharded inverted index (token → df + sorted postings) --------
    // postings project to a CSV digest for the gate: the hash-compare
    // sorts rows by every output column, which list-typed cells break
    GQ("llm_inverted_index",
      (s, dir) => Scoring.invertedIndex(t(s, dir).documents, shards = 16)
        .select(col("tok"), col("shard"), col("df_shard"),
          array_join(col("postings"), ",").as("postings_csv")),
      Some("""SELECT tok, doc_id % 16 AS shard, count(*) AS df_shard,
             |       array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings_csv
             |FROM (SELECT doc_id, unnest(list_distinct(
             |        regexp_split_to_array(lower(trim(text)), '\s+'))) AS tok
             |      FROM documents)
             |WHERE tok <> '' GROUP BY 1, 2""".stripMargin)),

    // ---- BM25 retrieval scoring against a fixed query ------------------
    // micro-unit integer summation makes the doc score order-independent
    // → hash-oracled end to end (see llm.Scoring determinism contract)
    GQ("llm_bm25",
      (s, dir) => Scoring.bm25(t(s, dir).documents,
        terms = Seq("spark", "query", "vector", "window")),
      Some(s"""WITH $Bm25Ctes
             |SELECT t.doc_id, count(*) AS n_matched,
             |  $Bm25ScoreExpr AS score
             |FROM mtf t JOIN mdf d USING (tok) CROSS JOIN mst s
             |GROUP BY 1""".stripMargin)),

    // ---- hybrid retrieval: reciprocal-rank fusion (BM25 ⊕ cosine) -----
    // RRF (Cormack et al.): Σ 1/(60 + rank) over the two top-50 lists,
    // held in integer micro-units (1e6 // (60 + rank)) so the fused
    // score is exact. Both ranks are deterministic cross-engine: the
    // BM25 score is micro-unit-summed and the cosine is the round-6
    // value the ann oracle already hash-matches, each with an id
    // tiebreak. The rank windows run AFTER a TakeOrderedAndProject
    // top-50 cut, so no corpus-wide single-partition window exists.
    GQ("llm_rrf_fusion",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val bmTop = Scoring.bm25(t(s, dir).documents,
            terms = Seq("spark", "query", "vector", "window"))
          .orderBy(col("score").desc, col("doc_id").asc).limit(50)
        val bmRank = bmTop.withColumn("rank_bm25", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("int"))
          .select(col("doc_id"), col("rank_bm25"))
        val cosTop = Similarity.bruteForceTopK(
          t(s, dir).embeddings, queryVec(s, dir), k = 50)
        val cosRank = cosTop.withColumn("rank_cos", row_number().over(
          Window.orderBy(col("cosine").desc, col("vec_id").asc)).cast("int"))
          .select(col("vec_id").as("doc_id"), col("rank_cos"))
        bmRank.join(cosRank, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            coalesce(col("rank_bm25"), lit(0)).as("rank_bm25"),
            coalesce(col("rank_cos"), lit(0)).as("rank_cos"))
          .selectExpr("doc_id", "rank_bm25", "rank_cos",
            """CAST(coalesce(CASE WHEN rank_bm25 > 0
              |  THEN 1000000 div (60 + rank_bm25) END, 0)
              |+ coalesce(CASE WHEN rank_cos > 0
              |  THEN 1000000 div (60 + rank_cos) END, 0)
              |AS BIGINT) AS rrf_micro""".stripMargin)
          .orderBy(col("rrf_micro").desc, col("doc_id").asc).limit(20)
      },
      Some(s"""WITH $Bm25Ctes,
             |bmsc AS (SELECT t.doc_id, $Bm25ScoreExpr AS score
             |  FROM mtf t JOIN mdf d USING (tok) CROSS JOIN mst s GROUP BY 1),
             |bmrk AS (SELECT doc_id, rank_bm25 FROM (
             |  SELECT doc_id, CAST(row_number() OVER (
             |    ORDER BY score DESC, doc_id) AS INT) AS rank_bm25 FROM bmsc)
             |  WHERE rank_bm25 <= 50),
             |fq AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             |cosc AS (SELECT vec_id AS doc_id,
             |  round(list_sum(list_transform(list_zip(embedding, (SELECT qv FROM fq)),
             |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             |   / (sqrt(list_sum(list_transform(embedding,
             |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |    * sqrt(list_sum(list_transform((SELECT qv FROM fq),
             |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS sim
             |  FROM embeddings),
             |cork AS (SELECT doc_id, rank_cos FROM (
             |  SELECT doc_id, CAST(row_number() OVER (
             |    ORDER BY sim DESC, doc_id) AS INT) AS rank_cos FROM cosc)
             |  WHERE rank_cos <= 50)
             |SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
             |  CAST(coalesce(b.rank_bm25, 0) AS INT) AS rank_bm25,
             |  CAST(coalesce(c.rank_cos, 0) AS INT) AS rank_cos,
             |  CAST(coalesce(1000000 // (60 + b.rank_bm25), 0)
             |     + coalesce(1000000 // (60 + c.rank_cos), 0) AS BIGINT)
             |    AS rrf_micro
             |FROM bmrk b FULL OUTER JOIN cork c ON b.doc_id = c.doc_id
             |ORDER BY rrf_micro DESC, doc_id LIMIT 20""".stripMargin)),

    // ---- bigram-LM perplexity scoring (self-trained, add-k smoothed) --
    GQ("llm_bigram_nll",
      (s, dir) => Scoring.bigramNll(t(s, dir).documents, k = 0.5),
      Some("""WITH gb AS (
             |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
             |  FROM documents),
             |gbg AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
             |        FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM gb)
             |        WHERE tk[i] <> '' AND tk[i+1] <> ''),
             |gc2 AS (SELECT w1, w2, count(*) AS c2 FROM gbg GROUP BY 1, 2),
             |gc1 AS (SELECT w1, sum(c2) AS c1 FROM gc2 GROUP BY 1),
             |gv AS (SELECT count(DISTINCT tok) AS v FROM
             |        (SELECT unnest(tk) AS tok FROM gb) WHERE tok <> ''),
             |gm AS (SELECT c.w1, c.w2, CAST(round(
             |    -ln((c.c2 + 0.5) / (p.c1 + 0.5 * (SELECT v FROM gv))) * 1e6, 0)
             |    AS BIGINT) AS nll_micro
             |  FROM gc2 c JOIN gc1 p USING (w1))
             |SELECT b.doc_id, count(*) AS n_bigrams,
             |  floor((sum(m.nll_micro) / count(*) / 1e6) * 1000000 + 0.5)
             |    / 1000000 AS avg_nll
             |FROM gbg b JOIN gm m USING (w1, w2)
             |GROUP BY 1""".stripMargin)),

    // ---- deterministic content-keyed train/val/test split -------------
    GQ("llm_split_assign",
      (s, dir) => Scoring.splitAssign(t(s, dir).documents,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("lang"), col("split")),
      Some {
        val bounds = Scoring.hex4Bounds(
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        val fp = "substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 4)"
        s"""SELECT doc_id, lang,
           |  CASE ${bounds.init.map { case (n, b) =>
                 s"WHEN $fp <= '$b' THEN '$n'"
               }.mkString(" ")}
           |       ELSE '${bounds.last._1}' END AS split
           |FROM documents""".stripMargin
      }),

    // ---- multimodal: decode + metadata + frame sampling ---------------
    // Oracle technique: every payload is synthesized deterministically
    // from doc_id (Multimodal.syntheticMedia) and then ENCODED to real
    // container bytes and PARSED back (MediaHeaders). The decoded
    // metadata is therefore a pure integer function of doc_id, which the
    // oracle re-derives in SQL — so a hash match proves the whole
    // encode→parse round trip (PNG/BMP dims, WAV fmt/data-size math,
    // AVI avih fields) reproduced the generation parameters exactly.
    // Content features (pixel/sample decode) are pinned separately by
    // the independent pure-Python decoder goldens in
    // MultimodalGoldenSpec (tools/media_golden.py).
    GQ("llm_multimodal_decode",
      (s, dir) => {
        val media = Multimodal.syntheticMedia(s, t(s, dir).documents)
        Multimodal.decodeAll(media).toDF()
          .groupBy(col("kind"), col("format"))
          .agg(count(lit(1)).as("n_media"),
            TextAnalysis.portableRound(avg(col("width")), 4).as("avg_width"),
            TextAnalysis.portableRound(avg(col("height")), 4).as("avg_height"),
            TextAnalysis.portableRound(avg(col("n_frames")), 4).as("avg_frames"),
            TextAnalysis.portableRound(avg(col("sample_rate")), 4)
              .as("avg_sample_rate"),
            TextAnalysis.portableRound(avg(col("duration_ms")), 4)
              .as("avg_duration_ms"))
      },
      Some(s"""WITH m AS (
         |  SELECT doc_id,
         |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
         |         ELSE 'video' END AS kind,
         |    CASE WHEN doc_id % 3 = 0 THEN
         |           (CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END)
         |         WHEN doc_id % 3 = 1 THEN 'wav' ELSE 'avi' END AS format,
         |    CASE WHEN doc_id % 3 = 0 THEN 16 + doc_id % 48
         |         WHEN doc_id % 3 = 1 THEN 0
         |         ELSE 8 + doc_id % 17 END AS width,
         |    CASE WHEN doc_id % 3 = 0 THEN 16 + (doc_id // 5) % 48
         |         WHEN doc_id % 3 = 1 THEN 0
         |         ELSE 8 + (doc_id // 11) % 13 END AS height,
         |    CASE WHEN doc_id % 3 = 0 THEN 1
         |         WHEN doc_id % 3 = 1 THEN
         |           (8000 * (1 + (doc_id // 3) % 3)) * (1 + doc_id % 5) // 100
         |         ELSE 1 + doc_id % 16 END AS n_frames,
         |    CASE WHEN doc_id % 3 = 1 THEN 8000 * (1 + (doc_id // 3) % 3)
         |         ELSE 0 END AS sample_rate,
         |    CASE WHEN doc_id % 3 = 1 THEN
         |           ((8000 * (1 + (doc_id // 3) % 3)) * (1 + doc_id % 5) // 100)
         |             * 1000 // (8000 * (1 + (doc_id // 3) % 3))
         |         WHEN doc_id % 3 = 2 THEN ((1 + doc_id % 16) * 33333) // 1000
         |         ELSE 0 END AS duration_ms
         |  FROM documents)
         |SELECT kind, format, count(*) AS n_media,
         |  ${TextAnalysis.portableRoundSql("avg(width)", 4)} AS avg_width,
         |  ${TextAnalysis.portableRoundSql("avg(height)", 4)} AS avg_height,
         |  ${TextAnalysis.portableRoundSql("avg(n_frames)", 4)} AS avg_frames,
         |  ${TextAnalysis.portableRoundSql("avg(sample_rate)", 4)}
         |    AS avg_sample_rate,
         |  ${TextAnalysis.portableRoundSql("avg(duration_ms)", 4)}
         |    AS avg_duration_ms
         |FROM m GROUP BY 1, 2""".stripMargin)),

    // n_sampled for a video of f frames at stride 4 is |{0,4,...,<f}| =
    // (f-1)//4 + 1, with f = 1 + doc_id%16 — derived in SQL from the
    // same doc_id recipe the generator uses, so the match proves the
    // AVI avih frame count survived the encode→parse round trip and the
    // sequence() sampling stayed exact.
    GQ("llm_multimodal_frames",
      (s, dir) => {
        val media = Multimodal.syntheticMedia(s, t(s, dir).documents)
        Multimodal.sampleFrames(Multimodal.decodeAll(media), stride = 4)
          .groupBy(col("media_id")).agg(count(lit(1)).as("n_sampled"))
      },
      Some("""SELECT doc_id AS media_id,
         |  CAST((doc_id % 16) // 4 + 1 AS BIGINT) AS n_sampled
         |FROM documents WHERE doc_id % 3 = 2""".stripMargin)),

    // ---- perceptual-hash image near-dup (aHash/dHash over real decode)
    // The Spark side hashes REAL decoded container bytes (pngPixels /
    // bmpPixels); the oracle re-derives the same integer grid-sample
    // lumas straight from the deterministic doc_id pixel recipe
    // (syntheticMedia's gradient), packs the same bit layout into
    // (hi, lo) halves, and brute-forces the pair join DuckDB-side. A
    // hash match therefore proves decode + nearest-grid sampling +
    // Rec.601 luma + bit packing + Hamming banding end to end (the
    // banding is pigeonhole-lossless at maxHamming 2 < 4 bands, so the
    // banded Spark pair set equals the oracle's brute-force pair set).
    GQ("llm_image_neardup",
      (s, dir) => {
        val media = Multimodal.syntheticMedia(s, t(s, dir).documents)
        graft.llm.ImageDedup.nearDup(
          graft.llm.ImageDedup.imageHashes(media).toDF(),
          maxHamming = 2, bands = 4)
      },
      Some("""WITH dims AS (
         |  SELECT doc_id, 16 + doc_id % 48 AS pw, 16 + (doc_id // 5) % 48 AS ph
         |  FROM documents WHERE doc_id % 3 = 0),
         |ag AS (
         |  SELECT doc_id, pw, ph, unnest(range(0, 64)) AS i FROM dims),
         |alum AS (
         |  SELECT doc_id, i,
         |         (299 * ((((i % 8) * pw) // 8 * 7 + doc_id) % 256)
         |        + 587 * ((((i // 8) * ph) // 8 * 5 + doc_id // 3) % 256)
         |        + 114 * ((((i % 8) * pw) // 8 + ((i // 8) * ph) // 8 + doc_id)
         |                 % 256)) // 1000 AS l
         |  FROM ag),
         |atot AS (SELECT doc_id, sum(l) AS t FROM alum GROUP BY 1),
         |abits AS (
         |  SELECT a.doc_id,
         |         sum(CASE WHEN l * 64 >= t AND i >= 32
         |             THEN CAST(1 AS BIGINT) << CAST(i - 32 AS INT)
         |             ELSE 0 END) AS ahash_hi,
         |         sum(CASE WHEN l * 64 >= t AND i < 32
         |             THEN CAST(1 AS BIGINT) << CAST(i AS INT)
         |             ELSE 0 END) AS ahash_lo
         |  FROM alum a JOIN atot USING (doc_id) GROUP BY 1),
         |dg AS (
         |  SELECT doc_id, pw, ph, unnest(range(0, 64)) AS j FROM dims),
         |dlum AS (
         |  SELECT doc_id, j,
         |         (299 * (((((j % 8) * pw) // 9) * 7 + doc_id) % 256)
         |        + 587 * (((((j // 8) * ph) // 8) * 5 + doc_id // 3) % 256)
         |        + 114 * ((((j % 8) * pw) // 9 + ((j // 8) * ph) // 8 + doc_id)
         |                 % 256)) // 1000 AS l1,
         |         (299 * ((((((j % 8) + 1) * pw) // 9) * 7 + doc_id) % 256)
         |        + 587 * (((((j // 8) * ph) // 8) * 5 + doc_id // 3) % 256)
         |        + 114 * (((((j % 8) + 1) * pw) // 9 + ((j // 8) * ph) // 8
         |                 + doc_id) % 256)) // 1000 AS l2
         |  FROM dg),
         |dbits AS (
         |  SELECT doc_id,
         |         sum(CASE WHEN l1 < l2 AND j >= 32
         |             THEN CAST(1 AS BIGINT) << CAST(j - 32 AS INT)
         |             ELSE 0 END) AS dhash_hi,
         |         sum(CASE WHEN l1 < l2 AND j < 32
         |             THEN CAST(1 AS BIGINT) << CAST(j AS INT)
         |             ELSE 0 END) AS dhash_lo
         |  FROM dlum GROUP BY 1),
         |hs AS (SELECT * FROM abits JOIN dbits USING (doc_id)),
         |pr AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         CAST(bit_count(xor(a.dhash_hi, b.dhash_hi))
         |            + bit_count(xor(a.dhash_lo, b.dhash_lo)) AS BIGINT)
         |           AS dhash_hamming,
         |         CAST(bit_count(xor(a.ahash_hi, b.ahash_hi))
         |            + bit_count(xor(a.ahash_lo, b.ahash_lo)) AS BIGINT)
         |           AS ahash_hamming
         |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, dhash_hamming, ahash_hamming
         |FROM pr WHERE dhash_hamming <= 2 AND ahash_hamming <= 2""".stripMargin)),

    // ---- perceptual video near-dup (pooled frame dHash/aHash) ---------
    // Frames sampled at stride 4 from REAL AVI decode, per-frame image
    // hashes majority-pooled per bit (ties → 1) into one 64-bit video
    // signature, then the SAME skew-hardened banding as llm_image_neardup.
    // The oracle re-derives every frame's grid lumas from the synthetic
    // per-frame gradient recipe, pools, packs, and brute-forces the pair
    // join — a match proves AVI decode + frame sampling + pooling +
    // banding end to end.
    GQ("llm_video_neardup",
      (s, dir) => {
        val media = Multimodal.syntheticMedia(s, t(s, dir).documents)
        graft.llm.ImageDedup.nearDup(
          graft.llm.MediaDedup.videoHashes(media, stride = 4).toDF(),
          maxHamming = 2, bands = 4)
      },
      Some("""WITH vdims AS (
         |  SELECT doc_id, 8 + doc_id % 17 AS fw, 8 + (doc_id // 11) % 13 AS fh,
         |         1 + doc_id % 16 AS nf
         |  FROM documents WHERE doc_id % 3 = 2),
         |vf AS (SELECT doc_id, fw, fh, unnest(range(0, nf, 4)) AS fi FROM vdims),
         |vag AS (SELECT doc_id, fw, fh, fi, unnest(range(0, 64)) AS i FROM vf),
         |valum AS (
         |  SELECT doc_id, fi, i,
         |         (299 * ((((i % 8) * fw) // 8 * 3 + fi * 11 + doc_id) % 256)
         |        + 587 * ((((i // 8) * fh) // 8 * 7 + fi * 5) % 256)
         |        + 114 * ((((i % 8) * fw) // 8 + ((i // 8) * fh) // 8 + fi
         |                 + doc_id) % 256)) // 1000 AS l
         |  FROM vag),
         |vatot AS (SELECT doc_id, fi, sum(l) AS t FROM valum GROUP BY 1, 2),
         |vapool AS (
         |  SELECT doc_id, i,
         |         CASE WHEN 2 * sum(CASE WHEN l * 64 >= t THEN 1 ELSE 0 END)
         |              >= count(*) THEN 1 ELSE 0 END AS b
         |  FROM valum a JOIN vatot USING (doc_id, fi) GROUP BY 1, 2),
         |vabits AS (
         |  SELECT doc_id,
         |         sum(CASE WHEN b = 1 AND i >= 32
         |             THEN CAST(1 AS BIGINT) << CAST(i - 32 AS INT)
         |             ELSE 0 END) AS ahash_hi,
         |         sum(CASE WHEN b = 1 AND i < 32
         |             THEN CAST(1 AS BIGINT) << CAST(i AS INT)
         |             ELSE 0 END) AS ahash_lo
         |  FROM vapool GROUP BY 1),
         |vdg AS (SELECT doc_id, fw, fh, fi, unnest(range(0, 64)) AS j FROM vf),
         |vdlum AS (
         |  SELECT doc_id, fi, j,
         |         (299 * (((((j % 8) * fw) // 9) * 3 + fi * 11 + doc_id) % 256)
         |        + 587 * (((((j // 8) * fh) // 8) * 7 + fi * 5) % 256)
         |        + 114 * ((((j % 8) * fw) // 9 + ((j // 8) * fh) // 8 + fi
         |                 + doc_id) % 256)) // 1000 AS l1,
         |         (299 * ((((((j % 8) + 1) * fw) // 9) * 3 + fi * 11 + doc_id) % 256)
         |        + 587 * (((((j // 8) * fh) // 8) * 7 + fi * 5) % 256)
         |        + 114 * (((((j % 8) + 1) * fw) // 9 + ((j // 8) * fh) // 8 + fi
         |                 + doc_id) % 256)) // 1000 AS l2
         |  FROM vdg),
         |vdpool AS (
         |  SELECT doc_id, j,
         |         CASE WHEN 2 * sum(CASE WHEN l1 < l2 THEN 1 ELSE 0 END)
         |              >= count(*) THEN 1 ELSE 0 END AS b
         |  FROM vdlum GROUP BY 1, 2),
         |vdbits AS (
         |  SELECT doc_id,
         |         sum(CASE WHEN b = 1 AND j >= 32
         |             THEN CAST(1 AS BIGINT) << CAST(j - 32 AS INT)
         |             ELSE 0 END) AS dhash_hi,
         |         sum(CASE WHEN b = 1 AND j < 32
         |             THEN CAST(1 AS BIGINT) << CAST(j AS INT)
         |             ELSE 0 END) AS dhash_lo
         |  FROM vdpool GROUP BY 1),
         |vhs AS (SELECT * FROM vabits JOIN vdbits USING (doc_id)),
         |vpr AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         CAST(bit_count(xor(a.dhash_hi, b.dhash_hi))
         |            + bit_count(xor(a.dhash_lo, b.dhash_lo)) AS BIGINT)
         |           AS dhash_hamming,
         |         CAST(bit_count(xor(a.ahash_hi, b.ahash_hi))
         |            + bit_count(xor(a.ahash_lo, b.ahash_lo)) AS BIGINT)
         |           AS ahash_hamming
         |  FROM vhs a JOIN vhs b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, dhash_hamming, ahash_hamming
         |FROM vpr WHERE dhash_hamming <= 2 AND ahash_hamming <= 2""".stripMargin)),

    // ---- perceptual audio near-dup (block-energy hashes) --------------
    // 64-block integer mean-|amplitude| grid over REAL WAV decode: aHash
    // bit = block ≥ overall mean, dHash bit = quieter than right
    // neighbor on a 65-block grid (the 1-D analogue of the 9×8 image
    // difference grid). Same banding. The oracle rebuilds the triangle-
    // wave samples from the generator recipe; block(i) inverts the
    // lo = k·n//B partition exactly (k = ((i+1)·B − 1)//n).
    GQ("llm_audio_neardup",
      (s, dir) => {
        val media = Multimodal.syntheticMedia(s, t(s, dir).documents)
        graft.llm.ImageDedup.nearDup(
          graft.llm.MediaDedup.audioHashes(media).toDF(),
          maxHamming = 2, bands = 4)
      },
      Some("""WITH adoc AS (
         |  SELECT doc_id,
         |         (8000 * (1 + (doc_id // 3) % 3)) * (1 + doc_id % 5) // 100 AS ns,
         |         64 + doc_id % 192 AS period
         |  FROM documents WHERE doc_id % 3 = 1),
         |asmp AS (SELECT doc_id, ns, period, unnest(range(0, ns)) AS i FROM adoc),
         |aval AS (
         |  SELECT doc_id, ns, i,
         |         abs((CASE WHEN (i % period) < period // 2 THEN i % period
         |              ELSE period - (i % period) END) * 4096
         |             // greatest(1, period // 2) - 2048) AS av
         |  FROM asmp),
         |am64 AS (SELECT doc_id, ((i + 1) * 64 - 1) // ns AS k,
         |                sum(av) // count(*) AS m
         |         FROM aval GROUP BY 1, 2),
         |atot AS (SELECT doc_id, sum(m) AS t FROM am64 GROUP BY 1),
         |aabits AS (
         |  SELECT a.doc_id,
         |         sum(CASE WHEN m * 64 >= t AND k >= 32
         |             THEN CAST(1 AS BIGINT) << CAST(k - 32 AS INT)
         |             ELSE 0 END) AS ahash_hi,
         |         sum(CASE WHEN m * 64 >= t AND k < 32
         |             THEN CAST(1 AS BIGINT) << CAST(k AS INT)
         |             ELSE 0 END) AS ahash_lo
         |  FROM am64 a JOIN atot USING (doc_id) GROUP BY 1),
         |am65 AS (SELECT doc_id, ((i + 1) * 65 - 1) // ns AS k,
         |                sum(av) // count(*) AS m
         |         FROM aval GROUP BY 1, 2),
         |adbits AS (
         |  SELECT x.doc_id,
         |         sum(CASE WHEN x.m < y.m AND x.k >= 32
         |             THEN CAST(1 AS BIGINT) << CAST(x.k - 32 AS INT)
         |             ELSE 0 END) AS dhash_hi,
         |         sum(CASE WHEN x.m < y.m AND x.k < 32
         |             THEN CAST(1 AS BIGINT) << CAST(x.k AS INT)
         |             ELSE 0 END) AS dhash_lo
         |  FROM am65 x JOIN am65 y ON y.doc_id = x.doc_id AND y.k = x.k + 1
         |  WHERE x.k < 64 GROUP BY 1),
         |ahs AS (SELECT * FROM aabits JOIN adbits USING (doc_id)),
         |apr AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         CAST(bit_count(xor(a.dhash_hi, b.dhash_hi))
         |            + bit_count(xor(a.dhash_lo, b.dhash_lo)) AS BIGINT)
         |           AS dhash_hamming,
         |         CAST(bit_count(xor(a.ahash_hi, b.ahash_hi))
         |            + bit_count(xor(a.ahash_lo, b.ahash_lo)) AS BIGINT)
         |           AS ahash_hamming
         |  FROM ahs a JOIN ahs b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, dhash_hamming, ahash_hamming
         |FROM apr WHERE dhash_hamming <= 2 AND ahash_hamming <= 2""".stripMargin)),

    // ---- real BPE tokenizer: train (merge table) + encode (per-doc) ----
    // Sennrich-style greedy BPE with pinned deterministic semantics
    // (pre-tokenize [a-z]+, overlap-counting pair stats, (cnt DESC, lft,
    // rgt) tie-break, left-to-right non-overlapping merge passes). The
    // oracle unrolls the training loop as one chained-CTE group per merge
    // rank (BpeOracle) — the llm_substring_dedup staged-oracle technique
    // — so both the learned merge table AND the full encoded corpus
    // hash-compare. Replaces TextAnalysis.subwordCount's regex stand-in.
    GQ("llm_bpe_train",
      (s, dir) => Bpe.mergeTable(s,
        Bpe.train(t(s, dir).documents, BpeOracle.NumMerges)),
      Some(BpeOracle.trainSql)),
    GQ("llm_bpe_encode",
      (s, dir) => {
        val d = t(s, dir).documents
        Bpe.encode(d, Bpe.train(d, BpeOracle.NumMerges))
      },
      Some(BpeOracle.encodeSql)),

    // ---- model-based quality filtering (CCNet/FineWeb pattern) --------
    // DISTILLATION: the weak label is the llm_quality_score rule stack
    // thresholded at 0.6 (in production: a filter too expensive or too
    // upstream to run everywhere — an LLM judge, a reference-corpus
    // membership bit); the linear model learns to replay it from hashed
    // bag-of-words features for the cost of one dot product per doc.
    // `pred` is the keep decision; measured on sf0.01 the model replays
    // the rule at 93.6% training accuracy vs a 50.4% majority baseline
    // (the lang column, by contrast, is independent of this synthetic
    // text — no text model can learn it, which is the point of
    // distilling a TEXT-DERIVED label). Float SGD can never hash-match,
    // so the contract is llm.QualityClassifier's integer Rocchio
    // (nearest-centroid) model with a shrinking-step threshold search —
    // md5-hex feature hashing, order-independent integer sums,
    // truncating integer division (identical in Java and DuckDB //).
    // The oracle replays the label rule, the centroid weights, the
    // scoring pass, and every epoch's threshold move as chained CTEs,
    // so a hash match pins the full training trajectory, not just the
    // final accept set.
    GQ("llm_quality_classifier",
      (s, dir) => QualityClassifier.train(
        t(s, dir).documents.select(col("doc_id"),
          when(TextAnalysis.qualityScore(col("text")) >= 0.6, 1L)
            .otherwise(0L).as("label"),
          col("text")),
        buckets = ClassifierOracle.NumBuckets,
        epochs = ClassifierOracle.NumEpochs),
      Some(ClassifierOracle.sql)),

    // Threshold-free evaluation of the same classifier: ROC-AUC by the
    // Mann–Whitney rank statistic — AUC = (Σ_pos 2·r̄ − n₁(n₁+1)) /
    // (2·n₁·n₀) with r̄ the tie-averaged rank, kept integral by carrying
    // 2·r̄ = 2·min_rank + ties − 1 (whole numbers end to end; the one
    // division is truncating integer division, identical in Java and
    // DuckDB //). The rank structure is computed at the DISTINCT-SCORE
    // level — groupBy(score) tie counts, then PrefixSum's two-level
    // scan for the exclusive running tie total that IS min_rank − 1 —
    // so no global single-partition window ever forms (the naive
    // rank() OVER (ORDER BY score) collapses 100 TB onto one task; the
    // oracle may use it, an engine may not). Scores come from the
    // integer Rocchio contract llm_quality_classifier already pins, so
    // the AUC of the full training trajectory hash-verifies.
    GQ("llm_classifier_auc",
      (s, dir) => {
        val scored = QualityClassifier.train(
          t(s, dir).documents.select(col("doc_id"),
            when(TextAnalysis.qualityScore(col("text")) >= 0.6, 1L)
              .otherwise(0L).as("label"),
            col("text")),
          buckets = ClassifierOracle.NumBuckets,
          epochs = ClassifierOracle.NumEpochs)
        val perScore = scored.groupBy(col("score"))
          .agg(sum(col("label")).as("n1s"), count(lit(1)).as("ts"))
        val withRun = graft.operators.PrefixSum.running(
          perScore, keyCol = "score", weightCol = "ts")
        // min_rank(score) = 1 + exclusive running ties; each positive at
        // this score contributes r2 = 2·min_rank + ts − 1. (The range-
        // partition checkpoint inside PrefixSum is released by the
        // caller's post-execution Checkpoints.release, like every
        // PrefixSum consumer.)
        withRun.agg(
            sum(col("n1s")).as("n_pos"),
            (sum(col("ts")) - sum(col("n1s"))).as("n_neg"),
            sum(col("n1s") *
              (lit(2) * (col("running_total") - col("ts") + 1)
                + col("ts") - 1)).as("rsum"))
          .select(col("n_pos"), col("n_neg"),
            (col("rsum") - col("n_pos") * (col("n_pos") + 1)).as("u2"))
          .select(col("n_pos"), col("n_neg"), col("u2"),
            expr("(1000000 * u2) div (2 * n_pos * n_neg)")
              .as("auc_micro"))
      },
      Some(ClassifierOracle.aucSql)),

    // ---- URL canonicalization + dedup — the crawl-pipeline step that
    // runs BEFORE content dedup: http/https, www., default ports
    // (:80/:443), query strings, fragments, trailing slashes, and host
    // case all collapse to one canonical form, so the fetcher/dedup
    // stages never see the same page eight ways. Variant URLs are
    // planted deterministically (8 surface forms per canonical page,
    // spread across documents), then canonicalized with an anchored
    // regexp chain — every pattern matches at most once, so Spark's
    // replace-all and DuckDB's replace-first semantics coincide. The
    // whole operator is one codegen'd projection + one canonical-keyed
    // count: linear, no joins, the 100 TB shape.
    GQ("llm_url_canonical",
      (s, dir) => {
        val planted = t(s, dir).documents.select(col("doc_id"))
          .withColumn("m", col("doc_id") % 100)
          .withColumn("h",
            concat(lit("example"), col("m") % 10, lit(".com")))
          .withColumn("p", concat(lit("/p/"), col("m")))
          .withColumn("v", expr("(doc_id div 100) % 8"))
          .withColumn("url",
            when(col("v") === 0,
              concat(lit("http://"), col("h"), col("p")))
            .when(col("v") === 1,
              concat(lit("https://"), col("h"), col("p")))
            .when(col("v") === 2,
              concat(lit("http://www."), col("h"), col("p")))
            .when(col("v") === 3,
              concat(lit("https://"), col("h"), col("p"), lit("/")))
            .when(col("v") === 4,
              concat(lit("http://"), col("h"), col("p"),
                lit("?utm_source=feed&ref="), col("doc_id")))
            .when(col("v") === 5,
              concat(lit("HTTP://"), upper(col("h")), col("p")))
            .when(col("v") === 6,
              concat(lit("http://"), col("h"), lit(":80"), col("p")))
            .otherwise(concat(lit("https://"), col("h"), lit(":443"),
              col("p"), lit("#section-2"))))
        planted
          .withColumn("c", regexp_replace(lower(col("url")),
            "^https?://", ""))
          .withColumn("c", regexp_replace(col("c"), "^www\\.", ""))
          .withColumn("c", regexp_replace(col("c"), "[?#].*$", ""))
          .withColumn("c", regexp_replace(col("c"),
            "^([^/]+):(80|443)(/|$)", "$1$3"))
          .withColumn("c", regexp_replace(col("c"), "/$", ""))
          .groupBy(col("c").as("canonical_url"))
          .agg(count(lit(1)).as("n_raw"),
            count_distinct(col("url")).as("n_variants"),
            min(col("doc_id")).as("rep_doc"))
      },
      Some("""WITH u AS (
             |  SELECT doc_id, doc_id % 100 AS m,
             |    'example' || ((doc_id % 100) % 10) || '.com' AS h,
             |    '/p/' || (doc_id % 100) AS p,
             |    (doc_id // 100) % 8 AS v
             |  FROM documents),
             |r AS (SELECT doc_id,
             |  CASE v
             |    WHEN 0 THEN 'http://' || h || p
             |    WHEN 1 THEN 'https://' || h || p
             |    WHEN 2 THEN 'http://www.' || h || p
             |    WHEN 3 THEN 'https://' || h || p || '/'
             |    WHEN 4 THEN 'http://' || h || p ||
             |      '?utm_source=feed&ref=' || doc_id
             |    WHEN 5 THEN 'HTTP://' || upper(h) || p
             |    WHEN 6 THEN 'http://' || h || ':80' || p
             |    ELSE 'https://' || h || ':443' || p || '#section-2'
             |  END AS url
             |  FROM u),
             |c AS (SELECT doc_id, url,
             |  regexp_replace(regexp_replace(regexp_replace(
             |    regexp_replace(regexp_replace(lower(url),
             |    '^https?://', ''), '^www\.', ''), '[?#].*$', ''),
             |    '^([^/]+):(80|443)(/|$)', '\1\3'), '/$', '') AS curl
             |  FROM r)
             |SELECT curl AS canonical_url,
             |  CAST(count(*) AS BIGINT) AS n_raw,
             |  CAST(count(DISTINCT url) AS BIGINT) AS n_variants,
             |  CAST(min(doc_id) AS BIGINT) AS rep_doc
             |FROM c GROUP BY 1""".stripMargin)),

    // Crawl-archive (WARC/WET-shaped) build → parse roundtrip — the
    // ingestion step every web-corpus pipeline starts from: multi-record
    // archive text is segmented back into records with regexp splits and
    // header extraction, entirely inside codegen (no UDF). Per-source
    // archives are synthesized deterministically from the documents
    // table (records in doc_id order, WARC-style headers with a
    // Content-Length); the parse recovers every record, re-extracts the
    // doc id from the target URI, and validates each payload against
    // its declared length. The oracle computes the roundtrip invariants
    // (record count, payload volume, id checksum, zero length
    // mismatches) straight from the raw table — the Spark side must
    // earn them through the archive. Scale shape: archives are
    // source-keyed (one groupBy), parsing is a per-archive projection +
    // explode — linear, and at 100 TB the splitter runs per archive
    // FILE, exactly how WET readers shard.
    GQ("llm_warc_parse",
      (s, dir) => {
        val rec = t(s, dir).documents.select(col("source"),
          col("doc_id"),
          concat(
            lit("WARC/1.0\nWARC-Target-URI: http://archive.example/"),
            col("doc_id"), lit("\nContent-Length: "),
            length(col("text")), lit("\n\n"), col("text"), lit("\n\n"))
            .as("record"))
        val archives = rec.groupBy(col("source"))
          .agg(expr("""array_join(transform(
                 array_sort(collect_list(struct(doc_id, record))),
                 x -> x.record), '')""").as("archive"))
        val records = archives.select(col("source"),
          explode(expr(
            "slice(split(archive, 'WARC/1\\\\.0\\n'), 2, 2147483647)"))
            .as("rec"))
        val parsed = records.select(col("source"),
          regexp_extract(col("rec"),
            "WARC-Target-URI: http://archive\\.example/([0-9]+)\n", 1)
            .cast("long").as("rec_doc_id"),
          regexp_extract(col("rec"), "Content-Length: ([0-9]+)\n", 1)
            .cast("long").as("declared_len"),
          regexp_extract(col("rec"), "(?s)\n\n(.*)\n\n$", 1)
            .as("payload"))
        parsed.groupBy(col("source"))
          .agg(count(lit(1)).as("n_records"),
            sum(length(col("payload"))).as("sum_chars"),
            sum(col("rec_doc_id")).as("id_checksum"),
            sum(when(length(col("payload")) =!= col("declared_len"), 1L)
              .otherwise(0L)).as("n_len_mismatch"))
      },
      Some("""SELECT source,
             |  CAST(count(*) AS BIGINT) AS n_records,
             |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_checksum,
             |  CAST(0 AS BIGINT) AS n_len_mismatch
             |FROM documents GROUP BY 1""".stripMargin)),

    // ---- corpus report (dataset-card row per source) -------------------
    // The capstone reporting shape: volume (docs/tokens/chars), exact-
    // dup pressure (distinct normalized fingerprints, the llm_exact_dedup
    // contract), and language concentration (majority lang + its
    // integer-micro share) in ONE result — what a dataset card's
    // "composition" table is generated from. Distinct counting is
    // two-phase BY HAND (group on (source, fp) first, then count rows
    // per source) so no countDistinct Expand forms; the lang leg's
    // window runs over ≤ sources×langs rows, never the corpus. Two
    // passes over the scan; at 100 TB either cache the projected
    // columns or fuse the lang leg into the fingerprint key.
    GQ("llm_corpus_report",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = t(s, dir).documents.select(col("source"), col("lang"),
          md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
            .as("fp"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("tk"),
          length(col("text")).cast("long").as("ch"))
        val byFp = d.groupBy(col("source"), col("fp"))
          .agg(count(lit(1)).as("n"), sum(col("tk")).as("tk"),
            sum(col("ch")).as("ch"))
        val base = byFp.groupBy(col("source"))
          .agg(sum(col("n")).as("n_docs"),
            count(lit(1)).as("n_distinct"),
            sum(col("tk")).as("n_tokens"), sum(col("ch")).as("n_chars"))
        val langTop = d.groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("lc"))
          .withColumn("rk", row_number().over(Window
            .partitionBy(col("source"))
            .orderBy(col("lc").desc, col("lang"))))
          .filter(col("rk") === 1)
          .select(col("source"), col("lang").as("top_lang"), col("lc"))
        base.join(langTop, Seq("source"))
          .select(col("source"), col("n_docs"), col("n_distinct"),
            (col("n_docs") - col("n_distinct")).as("n_dup_copies"),
            col("n_tokens"), col("n_chars"), col("top_lang"),
            expr("1000000 * lc div n_docs").as("top_lang_share_micro"))
      },
      Some("""WITH d AS (
             |  SELECT source, lang,
             |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
             |      AS fp,
             |    CAST(len(regexp_split_to_array(trim(text), '\s+'))
             |      AS BIGINT) AS tk,
             |    CAST(length(text) AS BIGINT) AS ch
             |  FROM documents),
             |byfp AS (
             |  SELECT source, fp, count(*) AS n,
             |    CAST(sum(tk) AS BIGINT) AS tk,
             |    CAST(sum(ch) AS BIGINT) AS ch
             |  FROM d GROUP BY 1, 2),
             |base AS (
             |  SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
             |    count(*) AS n_distinct,
             |    CAST(sum(tk) AS BIGINT) AS n_tokens,
             |    CAST(sum(ch) AS BIGINT) AS n_chars
             |  FROM byfp GROUP BY 1),
             |lt AS (
             |  SELECT source, lang AS top_lang, lc FROM (
             |    SELECT source, lang, count(*) AS lc,
             |      row_number() OVER (PARTITION BY source
             |        ORDER BY count(*) DESC, lang) AS rk
             |    FROM d GROUP BY source, lang)
             |  WHERE rk = 1)
             |SELECT b.source, b.n_docs, b.n_distinct,
             |  b.n_docs - b.n_distinct AS n_dup_copies,
             |  b.n_tokens, b.n_chars, l.top_lang,
             |  (1000000 * l.lc) // b.n_docs AS top_lang_share_micro
             |FROM base b JOIN lt l ON l.source = b.source""".stripMargin))
  )

  /** Chained-CTE replay of QualityClassifier.train's Rocchio-centroid
    * recurrence: qcf = the hashed integer feature table (first-4-md5-hex
    * buckets — the whx positional-digit technique), qw = the integer
    * centroid-difference weights, qs = the single scoring pass, qt0 =
    * the threshold init (class score means), then per epoch e one
    * three-candidate error aggregate and the argmin move (tie → the
    * smallest candidate, c0 < c1 < c2, so the CASE order below IS the
    * lexicographic (err, τ) min). DuckDB's `//` truncates toward zero
    * exactly like Java long division (verified: -7 // 2 = -3), so the
    * possibly-negative mean/threshold divisions replay bit-exactly.
    * sum() returns HUGEINT in DuckDB, so every surfaced column is CAST
    * back to BIGINT to match Spark's long schema.
    */
  private[queries] object ClassifierOracle {
    val NumBuckets = 64
    val NumEpochs = 4

    /** The feature/weight/score CTE chain shared by the training-
      * trajectory oracle (`sql`) and the AUC oracle (`aucSql`).
      */
    private def baseCtes: String =
      s"""qcx(i, p) AS (SELECT * FROM (VALUES (1, 4096),
        |  (2, 256), (3, 16), (4, 1)) v(i, p)),
        |qcd AS MATERIALIZED (
        |  SELECT doc_id, CASE WHEN ${TextOracle.qualityExpr("text")} >= 0.6
        |    THEN 1 ELSE 0 END AS label
        |  FROM documents),
        |qcf AS MATERIALIZED (
        |  SELECT doc_id, f, count(*) AS x FROM (
        |    SELECT doc_id,
        |      CAST((SELECT sum((strpos('0123456789abcdef',
        |          substr(md5(tok), x.i, 1)) - 1) * x.p) FROM qcx x)
        |        % $NumBuckets AS INT) AS f
        |    FROM (SELECT doc_id,
        |        unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
        |      FROM documents)
        |    WHERE tok <> '')
        |  GROUP BY 1, 2),
        |qn AS MATERIALIZED (
        |  SELECT CAST(greatest(coalesce(sum(label), 0), 1) AS BIGINT) AS n1,
        |    CAST(greatest(count(*) - coalesce(sum(label), 0), 1) AS BIGINT)
        |      AS n0
        |  FROM qcd),
        |qw AS MATERIALIZED (
        |  SELECT ft.f,
        |    CAST(1000000 * sum(CASE WHEN d.label = 1 THEN ft.x ELSE 0 END)
        |        // (SELECT n1 FROM qn)
        |      - 1000000 * sum(CASE WHEN d.label = 0 THEN ft.x ELSE 0 END)
        |        // (SELECT n0 FROM qn) AS BIGINT) AS wv
        |  FROM qcf ft JOIN qcd d ON d.doc_id = ft.doc_id
        |  GROUP BY 1),
        |qs AS MATERIALIZED (
        |  SELECT d.doc_id, d.label, CAST(coalesce(t.dot, 0) AS BIGINT)
        |    AS score
        |  FROM qcd d LEFT JOIN (
        |    SELECT ft.doc_id, sum(ft.x * w.wv) AS dot
        |    FROM qcf ft JOIN qw w ON w.f = ft.f
        |    GROUP BY 1) t ON t.doc_id = d.doc_id),
        |qt0 AS MATERIALIZED (
        |  SELECT CAST((s1 + s0) // 2 AS BIGINT) AS tau,
        |    CAST(abs(s1 - s0) // 2 AS BIGINT) AS delta
        |  FROM (
        |    SELECT coalesce(sum(CASE WHEN label = 1 THEN score ELSE 0 END), 0)
        |        // (SELECT n1 FROM qn) AS s1,
        |      coalesce(sum(CASE WHEN label = 0 THEN score ELSE 0 END), 0)
        |        // (SELECT n0 FROM qn) AS s0
        |    FROM qs))""".stripMargin

    def sql: String = {
      val base = baseCtes
      val steps = (1 to NumEpochs).map { e =>
        s"""qt$e AS MATERIALIZED (
           |  SELECT CAST(CASE WHEN e0 <= e1 AND e0 <= e2 THEN c0
           |      WHEN e1 <= e2 THEN c1 ELSE c2 END AS BIGINT) AS tau, delta
           |  FROM (
           |    SELECT p.tau - p.delta // ${1L << e} AS c0, p.tau AS c1,
           |      p.tau + p.delta // ${1L << e} AS c2, p.delta AS delta,
           |      (SELECT count(*) FROM qs WHERE label <> CASE
           |        WHEN score > p.tau - p.delta // ${1L << e} THEN 1 ELSE 0
           |        END) AS e0,
           |      (SELECT count(*) FROM qs WHERE label <> CASE
           |        WHEN score > p.tau THEN 1 ELSE 0 END) AS e1,
           |      (SELECT count(*) FROM qs WHERE label <> CASE
           |        WHEN score > p.tau + p.delta // ${1L << e} THEN 1 ELSE 0
           |        END) AS e2
           |    FROM qt${e - 1} p))""".stripMargin
      }
      s"""WITH $base,
         |${steps.mkString(",\n")}
         |SELECT doc_id, CAST(label AS BIGINT) AS label, score,
         |  CAST(CASE WHEN score > (SELECT tau FROM qt$NumEpochs)
         |    THEN 1 ELSE 0 END AS BIGINT) AS pred
         |FROM qs""".stripMargin
    }

    /** Rank-statistic AUC over the same scored frame: 2·r̄ carried as an
      * integer (2·min_rank + ties − 1), so the whole statistic is exact
      * and the one division is the shared truncating integer `//`.
      */
    def aucSql: String =
      s"""WITH $baseCtes,
         |qrk AS MATERIALIZED (
         |  SELECT label,
         |    2 * rank() OVER (ORDER BY score)
         |      + count(*) OVER (PARTITION BY score) - 1 AS r2
         |  FROM qs),
         |qagg AS (
         |  SELECT CAST(sum(label) AS BIGINT) AS n_pos,
         |    CAST(count(*) - sum(label) AS BIGINT) AS n_neg,
         |    CAST(sum(CASE WHEN label = 1 THEN r2 ELSE 0 END)
         |      - sum(label) * (sum(label) + 1) AS BIGINT) AS u2
         |  FROM qrk)
         |SELECT n_pos, n_neg, u2,
         |  CAST((1000000 * u2) // (2 * n_pos * n_neg) AS BIGINT)
         |    AS auc_micro
         |FROM qagg""".stripMargin
  }
}
