package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import graft.core.Checkpoints

/** Model-based quality filtering — the CCNet / FineWeb pattern: train a
  * linear text classifier against a weak label, then score the whole
  * corpus and keep what the model accepts. The canonical use at 100 TB
  * is DISTILLATION: the label comes from a filter that is too expensive
  * (or too upstream) to run everywhere — a rule stack, an LLM judge, a
  * reference-corpus membership bit — and the learned model replays it
  * for the cost of one hashed-feature dot product per document.
  *
  * Why not float SGD / logistic regression: order-dependent float
  * updates can never hash-match across engines (the algo.EmbeddingTrain
  * argument). And a synchronous integer batch perceptron — the obvious
  * deterministic substitute — provably oscillates here: hashed token
  * counts are a near-rank-one feature family (every bucket's count
  * scales with document length), so full-batch sign updates overshoot
  * the shared direction every epoch (verified: period-2 flip between
  * all-positive and all-negative predictions, accuracy pinned at the
  * majority rate). The formulation that is BOTH deterministic and
  * actually learns is the classical ROCCHIO (nearest-centroid) model in
  * integer fixed point, plus a shrinking-step threshold search:
  *
  *   x[d,f]  = count of doc d's tokens hashing to bucket f
  *             (first 4 md5 hex digits mod `buckets`)
  *   w[f]    = K·Σ_{label=1} x[d,f] div n₁ − K·Σ_{label=0} x[d,f] div n₀
  *   score_d = Σ_f w[f]·x[d,f]
  *   τ₀      = (s̄₁ + s̄₀) div 2,  Δ = |s̄₁ − s̄₀| div 2
  *   epoch e = 1..E:  τ ← argmin_{t ∈ {τ−Δ div 2ᵉ, τ, τ+Δ div 2ᵉ}}
  *                         trainErr(t)   (tie → smallest t)
  *   pred_d  = [score_d > τ_E]
  *
  * Every aggregate is an order-independent integer sum; every division
  * truncates toward zero in Spark (`div`), Java (`/`), and DuckDB
  * (`//`) alike, so negatives are safe; the threshold search is
  * monotone non-increasing in training error (each epoch keeps τ unless
  * a strictly better candidate exists), so there is no oscillation to
  * damp. Measured on the sf0.01 corpus against the distilled rule label
  * (TextAnalysis.qualityScore ≥ 0.6 — a TEXT-DERIVED label; metadata
  * columns like `lang` are independent of this synthetic text and
  * unlearnable by construction): 93.6% training accuracy vs a 50.4%
  * majority baseline. The fixed epoch count is part of the contract and
  * a DuckDB chained CTE replays the identical recurrence — the driver
  * oracle pins every threshold move, not just the final accept set.
  *
  * Scale shape: the feature table is built once (one explode + one
  * (doc, f) count — map-side-combinable) and checkpointed; the scored
  * corpus is built once (one broadcast join against the (buckets)-row
  * weight table + one per-doc sum) and checkpointed. Model state is
  * O(buckets) longs on the driver — the parameter-aggregation pattern
  * of distributed linear-model training; each threshold epoch is ONE
  * three-conditional-sum aggregate over the scored corpus. Nothing
  * corpus-sized reaches the driver at any scale. The adaptive local
  * twin (core.LocalBudget row/byte guard) runs the identical recurrence
  * sequentially for driver-sized corpora.
  *
  * SERVING: `trainModel` returns the fitted (weights, τ) so new
  * documents can be scored WITHOUT the feature shuffle — `scoreCol`
  * folds the token array against the weight table as one map-side
  * codegen'd expression (Σ over tokens of w[bucket(tok)] ≡ Σ_f w[f]·x —
  * commutative Long addition, bit-identical to the trained scores).
  * That is the train-batch / score-at-ingest split the streaming
  * surface uses.
  */
object QualityClassifier {

  /** Number of hash buckets (feature dimension). Small by design: the
    * weight table must broadcast and the centroid collect is O(buckets).
    */
  val Buckets: Int = 64

  /** Fixed-point scale for the centroid weights (micro-units — the g11
    * integer discipline).
    */
  val Scale: Long = 1000000L

  /** Threshold-refinement epochs: step e moves τ by Δ div 2ᵉ, so epochs
    * beyond log₂Δ are provable no-ops and 8 resolves τ to Δ/256.
    */
  val Epochs: Int = 8

  /** The fitted model: per-bucket centroid-difference weights and the
    * refined decision threshold. pred = [score > tau].
    */
  final case class RocchioModel(weights: Array[Long], tau: Long)

  /** Hash a token column to its feature bucket: first 4 md5 hex digits
    * as an integer, mod `buckets` — bit-identical in Spark and DuckDB
    * (the minhash-oracle hex-digit technique).
    */
  def bucketOf(tok: Column, buckets: Int): Column =
    (conv(substring(md5(tok), 1, 4), 16, 10).cast("long") % buckets)
      .cast("int")

  /** Map-side scoring expression: fold the document's tokens against
    * the weight table — no explode, no shuffle, codegen'd builtins
    * only. Exactly Σ_f w[f]·x[d,f] by commutativity of Long addition.
    * The bucket count comes from the model itself: a caller-supplied
    * count disagreeing with weights.length would make element_at
    * return null out-of-range (non-ANSI), null the whole fold, and
    * coalesce it into a silent score 0.
    */
  def scoreCol(model: RocchioModel, text: Column): Column = {
    val buckets = model.weights.length
    val w = typedLit(model.weights.toSeq)
    coalesce(
      aggregate(
        filter(split(lower(trim(text)), "\\s+"), t => t =!= ""),
        lit(0L),
        (acc, t) => acc + element_at(w, bucketOf(t, buckets) + 1)),
      lit(0L))
  }

  /** Train on `docs` (columns: doc_id, label ∈ {0,1}, text) and return
    * every doc scored by the final model: (doc_id, label, score, pred)
    * — `pred` is the keep decision. All-integer output,
    * hash-oracle-able. An empty class yields the all-zero centroid
    * (max(n,1) guard) rather than an error, keeping the recurrence
    * total.
    */
  def train(docs: DataFrame, buckets: Int = Buckets, epochs: Int = Epochs,
      localRowThreshold: Long = graft.core.LocalBudget.MaxLocalFeatureRows)
      : DataFrame = Checkpoints.scoped { scope =>
    fit(scope, docs, buckets, epochs, localRowThreshold) match {
      case Left((spark, scored, tau, _)) =>
        import spark.implicits._
        scored.toSeq
          .map { case (id, label, sc) =>
            (id, label, sc, if (sc > tau) 1L else 0L) }
          .toDF("doc_id", "label", "score", "pred")
      case Right((scores, _, tau)) =>
        scores.select(col("doc_id"), col("label"), col("score"),
          when(col("score") > tau, 1L).otherwise(0L).as("pred"))
    }
  }

  /** Train and return only the model (weights + τ) — the serving
    * artifact for `scoreCol`. The scored-corpus checkpoint the fit
    * built is released before returning.
    */
  def trainModel(docs: DataFrame, buckets: Int = Buckets,
      epochs: Int = Epochs,
      localRowThreshold: Long = graft.core.LocalBudget.MaxLocalFeatureRows)
      : RocchioModel = Checkpoints.scoped { scope =>
    fit(scope, docs, buckets, epochs, localRowThreshold) match {
      case Left((_, _, tau, w)) => RocchioModel(w, tau)
      case Right((_, w, tau)) => RocchioModel(w, tau)
    }
  }

  // Left = local path (spark, scored rows, tau, weights);
  // Right = distributed (scores checkpointed in `scope`, weights, tau)
  private type LocalFit =
    (SparkSession, Array[(Long, Long, Long)], Long, Array[Long])
  private type DistFit = (DataFrame, Array[Long], Long)

  private def fit(scope: Checkpoints.Scope, docs: DataFrame, buckets: Int,
      epochs: Int, localRowThreshold: Long): Either[LocalFit, DistFit] = {
    require(buckets >= 1 && epochs >= 0, "buckets >= 1 and epochs >= 0")
    val s = docs.sparkSession
    val d = docs.select(col("doc_id").cast("long").as("doc_id"),
      col("label").cast("long").as("label"), col("text"))
    // Feature table, built once: (doc_id, label, f, x). Carrying label
    // here lets the centroid pass run without a join back to the docs.
    val feats = scope.checkpoint(d
      .select(col("doc_id"), col("label"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("doc_id"), col("label"),
        bucketOf(col("tok"), buckets).as("f"))
      .agg(count(lit(1)).as("x")))
    // Docs with no tokens still get scored (score = 0, the empty dot).
    val docsL = scope.checkpoint(d.select(col("doc_id"), col("label")))

    // Fixed-width feature rows (4 longs ≈ 132 B collected): the
    // LocalBudget guard with a static row model.
    val nFeat = feats.count()
    if (graft.core.LocalBudget.fitsLocal(nFeat,
        nFeat * (32L + graft.core.LocalBudget.RowOverheadBytes),
        localRowThreshold)) {
      val fr = feats.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      val dr = docsL.collect().map(r => (r.getLong(0), r.getLong(1)))
      scope.keep()
      val (scored, tau, w) = localFit(dr, fr, buckets, epochs)
      return Left((s, scored, tau, w))
    }

    // ---- centroid pass: O(buckets) rows to the driver ----------------
    val nRow = docsL.agg(sum(col("label")), count(lit(1))).head()
    val n1 = if (nRow.isNullAt(0)) 0L else nRow.getLong(0)
    val n0 = nRow.getLong(1) - n1
    val w = Array.fill[Long](buckets)(0L)
    feats.groupBy(col("f"))
      .agg(sum(when(col("label") === 1L, col("x")).otherwise(0L)).as("c1"),
        sum(when(col("label") === 0L, col("x")).otherwise(0L)).as("c0"))
      .collect()
      .foreach { r =>
        w(r.getInt(0)) = Scale * r.getLong(1) / math.max(n1, 1L) -
          Scale * r.getLong(2) / math.max(n0, 1L)
      }
    val wDf = s.createDataFrame(
      java.util.Arrays.asList((0 until buckets).map(f => Row(f, w(f))): _*),
      StructType(Seq(StructField("f", IntegerType, nullable = false),
        StructField("wv", LongType, nullable = false))))

    // ---- scoring pass: one broadcast join + one per-doc sum ----------
    val scores = scope.checkpoint(docsL
      .join(feats.join(broadcast(wDf), Seq("f"))
          .groupBy(col("doc_id")).agg(sum(col("x") * col("wv")).as("dot")),
        Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("label"),
        coalesce(col("dot"), lit(0L)).as("score")))
    scope.keep(scores)

    // ---- threshold init + shrinking-step refinement -------------------
    // Overflow bound (cf. Louvain.runWeighted's Σw·k_max note): these
    // class sums are plain 64-bit Spark sums, so the contract is
    // Σ|score| < 2⁶³ per class. |score| ≤ Scale·tokens_per_doc, so with
    // Scale = 10⁶ the bound trips around 9·10¹² total tokens per class —
    // beyond that, shard the corpus or move the two init sums (only) to
    // Decimal; the per-epoch error counts are row counts and never at
    // risk.
    val mRow = scores.agg(
      sum(when(col("label") === 1L, col("score")).otherwise(0L)),
      sum(when(col("label") === 0L, col("score")).otherwise(0L))).head()
    val s1 = (if (mRow.isNullAt(0)) 0L else mRow.getLong(0)) /
      math.max(n1, 1L)
    val s0 = (if (mRow.isNullAt(1)) 0L else mRow.getLong(1)) /
      math.max(n0, 1L)
    var tau = (s1 + s0) / 2
    val delta = math.abs(s1 - s0) / 2
    def errExpr(t: Long) = sum(when(col("label") =!=
      when(col("score") > t, 1L).otherwise(0L), 1L).otherwise(0L))
    for (e <- 1 to epochs) {
      val step = delta / (1L << e)
      val cands = Seq(tau - step, tau, tau + step)
      val eRow = scores.agg(errExpr(cands(0)), errExpr(cands(1)),
        errExpr(cands(2))).head()
      val errs = (0 to 2).map(i => if (eRow.isNullAt(i)) 0L
        else eRow.getLong(i))
      tau = errs.zip(cands).min._2 // argmin error, tie → smallest τ
    }
    Right((scores, w, tau))
  }

  /** Sequential twin of the distributed recurrence (adaptive path) —
    * identical hashing, centroid arithmetic, and threshold search,
    * pinned bit-equal in LlmOpsSpec. Returns (scored rows, τ, weights).
    */
  private def localFit(docRows: Array[(Long, Long)],
      featRows: Array[(Long, Long, Int, Long)], buckets: Int, epochs: Int)
      : (Array[(Long, Long, Long)], Long, Array[Long]) = {
    val n1 = docRows.count(_._2 == 1L).toLong
    val n0 = docRows.length - n1
    val w = Array.fill[Long](buckets)(0L)
    val c1 = Array.fill[Long](buckets)(0L)
    val c0 = Array.fill[Long](buckets)(0L)
    featRows.foreach { case (_, label, f, x) =>
      if (label == 1L) c1(f) += x else c0(f) += x
    }
    (0 until buckets).foreach { f =>
      w(f) = Scale * c1(f) / math.max(n1, 1L) -
        Scale * c0(f) / math.max(n0, 1L)
    }
    val dot = scala.collection.mutable.HashMap.empty[Long, Long]
      .withDefaultValue(0L)
    featRows.foreach { case (id, _, f, x) => dot(id) += w(f) * x }
    val scored = docRows.map { case (id, label) => (id, label, dot(id)) }
    val s1 = scored.filter(_._2 == 1L).map(_._3).sum / math.max(n1, 1L)
    val s0 = scored.filter(_._2 == 0L).map(_._3).sum / math.max(n0, 1L)
    var tau = (s1 + s0) / 2
    val delta = math.abs(s1 - s0) / 2
    def nErr(t: Long): Long = scored.count { case (_, label, sc) =>
      label != (if (sc > t) 1L else 0L) }.toLong
    for (e <- 1 to epochs) {
      val step = delta / (1L << e)
      val cands = Seq(tau - step, tau, tau + step)
      tau = cands.map(t => (nErr(t), t)).min._2
    }
    (scored, tau, w)
  }
}
