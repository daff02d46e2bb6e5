package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.{Dedup, Multimodal, Similarity, TextAnalysis}

/** LLM-pipeline operator invariants, including the LSH-vs-exact
  * validations that replace DuckDB oracles for hash-based ops.
  */
class LlmOpsSpec extends AnyFunSuite with FreesCachedPlans {

  lazy val spark: SparkSession = core.Sessions.local(4, "graft-llm-test")
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$sf/documents.parquet").cache()
  lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet").cache()

  test("exact dedup keeps one representative per distinct text") {
    val d = Dedup.exact(docs)
    assert(d.count() === docs.select("text").distinct().count())
    assert(d.agg(sum("n_copies")).head().getLong(0) === docs.count())
  }

  test("minhash LSH candidates ⊆ reasonable and find planted near-dups") {
    // plant a near-duplicate pair: doc text + same text with one word changed
    val base = docs.limit(1).select("text").head().getString(0)
    val mutated = base.split(" ").zipWithIndex
      .map { case (w, i) => if (i == 2) "XQZ" else w }.mkString(" ")
    val planted = Seq((9001L, base), (9002L, mutated))
      .toDF("doc_id", "text")
    val all = docs.select("doc_id", "text").union(planted)
    val pairs = Dedup.minhashNearDup(all, w = 3, k = 32, bands = 8,
      minJaccard = 0.5).collect()
    assert(pairs.exists(r => r.getLong(0) == 9001L && r.getLong(1) == 9002L))
    // verification step guarantees reported jaccard ≥ threshold
    pairs.foreach(r => assert(r.getDouble(2) >= 0.5))
  }

  test("minhash near-dup: exact-duplicate collapse ≡ doc-level banding " +
      "on a clone-heavy corpus") {
    // every doc gains two exact clones (and one whitespace/case variant,
    // which the token fingerprint must ALSO group) — the collapse path
    // must emit the identical pair set the doc-level path emits,
    // including all intra-clone jaccard-1.0 pairs
    val base = docs.filter(col("doc_id") < 40).select("doc_id", "text")
    val clones = base.select((col("doc_id") + 1000L).as("doc_id"),
        col("text"))
      .union(base.select((col("doc_id") + 2000L).as("doc_id"),
        concat(upper(col("text")), lit("  ")).as("text")))
    val all = base.union(clones)
    val collapsed = Dedup.minhashNearDup(all, w = 3, k = 32, bands = 8,
        minJaccard = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val docLevel = Dedup.minhashNearDup(all, w = 3, k = 32, bands = 8,
        minJaccard = 0.5, collapseExact = false).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(collapsed === docLevel)
    // the planted clone relations are present at jaccard 1.0 — note the
    // case variant pairs only if tokens() lowercases (it does)
    assert(collapsed.contains((0L, 1000L, 1.0)))
    assert(collapsed.contains((0L, 2000L, 1.0)))
    assert(collapsed.contains((1000L, 2000L, 1.0)))
  }

  test("jaccard near-dup: exact-duplicate collapse ≡ doc-level AllPairs " +
      "on a clone-heavy corpus") {
    val base = docs.filter(col("doc_id") < 40).select("doc_id", "text")
    val clones = base.select((col("doc_id") + 1000L).as("doc_id"),
        col("text"))
      .union(base.select((col("doc_id") + 2000L).as("doc_id"),
        concat(upper(col("text")), lit("  ")).as("text")))
    val all = base.union(clones)
    val collapsed = Dedup.jaccardNearDup(all, w = 3, minJacNum = 1,
        minJacDen = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // doc-level path: the AllPairs core applied to EVERY doc's shingles
    val shAll = all
      .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        Dedup.shinglesFromTokens(col("toks"), 3).as("sh"))
    val docLevel = Dedup.jaccardPairsFromSets(shAll, 1, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(collapsed === docLevel)
    // intra-clone pairs present with n_common == n_union (jaccard 1)
    assert(collapsed.exists(p => p._1 == 0L && p._2 == 1000L &&
      p._3 == p._4))
    assert(collapsed.exists(p => p._1 == 1000L && p._2 == 2000L &&
      p._3 == p._4))
  }

  test("crossNearDup flags paraphrased bench docs, skips unrelated ones") {
    // bench doc 0; corpus has a one-word paraphrase of it (near-dup, must
    // flag), an exact copy (jaccard 1.0, must flag), and the unrelated
    // rest of the corpus (must not flag). Self-pairs (bench ⊆ corpus by
    // id) are excluded by contract.
    val bench = docs.filter($"doc_id" === 0L).select("doc_id", "text")
    val base = bench.select("text").head().getString(0)
    val paraphrase = base.split(" ").zipWithIndex
      .map { case (w, i) => if (i == 4) "ZWX" else w }.mkString(" ")
    val corpus = docs.select("doc_id", "text")
      .union(Seq((9101L, paraphrase), (9102L, base)).toDF("doc_id", "text"))
    val flagged = Dedup.crossNearDup(corpus, bench, w = 3, k = 32,
      bands = 8, minJaccard = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(flagged.contains(9101L) && flagged(9101L)._2 >= 0.5)
    assert(flagged.contains(9102L) && flagged(9102L)._2 === 1.0)
    assert(!flagged.contains(0L), "the bench doc itself must not self-flag")
    flagged.foreach { case (_, (n, j)) => assert(n >= 1L && j >= 0.5) }
  }

  test("ngram novelty: clones own nothing, the corpus-first doc owns " +
      "everything, short docs are absent") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),     // first owner
      (2L, "alpha beta gamma delta epsilon zeta"),     // exact clone
      (3L, "one two three four five"),                 // fresh, 1 gram
      (4L, "too short")                                // < w tokens
    ).toDF("doc_id", "text")
    val nov = Dedup.ngramNovelty(d, w = 5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(!nov.contains(4L), "sub-w doc must carry no gram row")
    assert(nov(1L) === ((2L, 2L, 1000000L)), "first owner: novelty 1.0")
    assert(nov(2L) === ((2L, 0L, 0L)), "clone: novelty 0.0")
    assert(nov(3L) === ((1L, 1L, 1000000L)), "fresh doc: novelty 1.0")
  }

  test("minhash candidates match exact n-gram jaccard on a small sample") {
    val sample = docs.filter(col("doc_id") < 60).select("doc_id", "text")
    val exact = Dedup.ngramJaccardExact(sample, w = 3, minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDup(sample, w = 3, k = 32, bands = 8,
      minJaccard = 0.3).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH reports a subset (may miss candidates whose bands never collide);
    // everything it reports must be exact-verified true
    assert(lsh.subsetOf(exact))
  }

  test("prefix-filtered jaccard ≡ integer-math brute force, any threshold") {
    // inline brute force with the SAME rational threshold arithmetic
    // (ngramJaccardExact rounds to 4 decimals before filtering, which
    // can disagree with the rational test exactly at the boundary)
    def brute(d: org.apache.spark.sql.DataFrame, num: Int, den: Int) = {
      val sh = d.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
        .filter(size(col("sh")) > 0)
      sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
        .crossJoin(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")))
        .filter(col("id_a") < col("id_b"))
        .withColumn("n_common",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
        .withColumn("n_union",
          (size(col("sh_a")) + size(col("sh_b"))).cast("long") - col("n_common"))
        .filter(col("n_common") * den >= col("n_union") * num)
        .select("id_a", "id_b", "n_common", "n_union")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3))).toSet
    }
    val sample = docs.select("doc_id", "text")
    for ((num, den) <- Seq((1, 10), (3, 10), (3, 5), (1, 1))) {
      val fast = Dedup.jaccardNearDup(sample, w = 3,
        minJacNum = num, minJacDen = den)
      val got = fast.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSet
      assert(got === brute(sample, num, den), s"threshold $num/$den")
      graft.core.Checkpoints.release(fast)
    }
  }

  test("prefix-filtered jaccard finds planted exact and near duplicates") {
    val base = docs.filter(col("doc_id") === 2).select("text")
      .head().getString(0)
    val words = base.split(" ")
    val mutated = words.zipWithIndex
      .map { case (w, i) => if (i == words.length / 2) "zzqx" else w }
      .mkString(" ")
    val planted = Seq((9301L, base), (9302L, mutated)).toDF("doc_id", "text")
    val all = docs.select("doc_id", "text").union(planted)
    val out = Dedup.jaccardNearDup(all, w = 3, minJacNum = 3, minJacDen = 5)
    val pairs = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // exact dup of doc 2: identical shingle sets → n_common == n_union
    assert(pairs.exists(p => p._1 == 2L && p._2 == 9301L && p._3 == p._4))
    // one-word mutation: still above 0.6 (recall 1.0 — no LSH luck needed)
    assert(pairs.exists(p => p._1 == 9301L && p._2 == 9302L))
    graft.core.Checkpoints.release(out)
  }

  test("simhash: identical text → identical signature; planted dup collides") {
    val sig = docs.limit(5).select(col("text"))
      .withColumn("s1", Dedup.simhash(col("text")))
      .withColumn("s2", Dedup.simhash(col("text")))
    sig.collect().foreach(r => assert(r.getLong(1) === r.getLong(2)))
  }

  test("simhash banded near-dup finds a one-word-changed document") {
    val base = docs.filter(col("doc_id") === 1).select("text")
      .head().getString(0)
    val words = base.split(" ")
    val mutated = words.zipWithIndex
      .map { case (w, i) => if (i == words.length / 2) "qqzz" else w }
      .mkString(" ")
    val planted = Seq((9201L, base), (9202L, mutated)).toDF("doc_id", "text")
    val all = docs.select("doc_id", "text").union(planted)
    val pairs = Dedup.simhashNearDup(all, maxHamming = 8, bands = 16)
      .collect()
    assert(pairs.exists(r => r.getLong(0) == 9201L && r.getLong(1) == 9202L))
    // exact duplicate of planted base must appear at hamming 0
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 9201L &&
      r.getInt(2) == 0))
  }

  test("brute-force cosine top-k: self-similarity is 1 and ranks first") {
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toIndexedSeq
    val top = Similarity.bruteForceTopK(emb, q, 5).collect()
    assert(top.head.getLong(0) === 0L)
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-6)
    val sims = top.map(_.getDouble(1))
    assert(sims.sliding(2).forall { case Array(a, b) => a >= b })
  }

  test("knn join ≡ crossJoin+window brute force; self excluded; dup ranks 1st") {
    import org.apache.spark.sql.expressions.Window
    // plant an exact duplicate of vec 0 so recall is provable, not lucky
    val dup = emb.filter(col("vec_id") === 0)
      .select(lit(777777L).as("vec_id"), col("embedding"))
    val all = emb.select(col("vec_id"), col("embedding")).union(dup)
    val queries = all.filter(col("vec_id") < 10)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).sortBy(_._1).toSeq
    val got = Similarity.knnJoin(all, queries, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // brute force: every (query, corpus) pair through the same native
    // cosine, ranked per query with the same tiebreak
    val qdf = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val want = all.crossJoin(qdf).filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", Similarity.cosine(col("embedding"), col("qv")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 4)
      .select(col("q_id"), col("vec_id"), round(col("sim"), 6)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSet === want.toSet)
    assert(got.length === want.length)
    // no self matches; the planted duplicate is vec 0's rank-1 at cos 1.0
    assert(!got.exists(p => p._1 == p._2))
    assert(got.contains((0L, 777777L, 1.0)))
  }

  test("IVF knn join: planted twins found (recall provable), deterministic") {
    // a shifted exact copy of EVERY vector: each query's true top-1 is
    // its twin, and an identical vector probes the identical centroid
    // list, so IVF recall on twins is deterministically 1.0 — no
    // bucketing luck involved
    val base = emb.select(col("vec_id"), col("embedding"))
    val twins = base.select((col("vec_id") + 500000L).as("vec_id"),
      col("embedding"))
    val all = base.union(twins)
    val out = Similarity.ivfKnnJoin(spark, all, k = 3,
      nCentroids = 8, nProbe = 2)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val n = base.count()
    // every base query's result contains its twin at cosine 1.0
    val top = rows.groupBy(_._1)
    (0L until n).foreach { q =>
      assert(top(q).exists(p => p._2 == q + 500000L && p._3 == 1.0),
        s"query $q missing its twin")
    }
    // well-formed: ≤ k rows per query, no self matches
    assert(rows.groupBy(_._1).forall(_._2.length <= 3))
    assert(!rows.exists(p => p._1 == p._2))
    // deterministic: a second run is identical
    val again = Similarity.ivfKnnJoin(spark, all, k = 3,
      nCentroids = 8, nProbe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSet === again.toSet)
  }

  test("IVF knn join recall vs exact knnJoin is floor-pinned") {
    // the REAL approximation quality measurement (twins alone can't see
    // a probe/bucket regression — duplicates always share the top
    // bucket). Deterministic data → deterministic recall → a floor is
    // safe to pin; measured 2026-08-12: 0.473 at 2/8 probes, 0.745 at
    // 4/8, on the sf0.001 embeddings.
    val base = emb.select(col("vec_id"), col("embedding"))
    val queries = base.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).sortBy(_._1).toSeq
    val exact = Similarity.knnJoin(base, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfKnnJoin(spark, base, k = 5,
      nCentroids = 8, nProbe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf & exact).size.toDouble / exact.size
    info(f"IVF recall at nProbe=2/8: $recall%.3f")
    assert(recall >= 0.4, f"recall collapsed: $recall%.3f")
    // more probes must not lose recall
    val ivf4 = Similarity.ivfKnnJoin(spark, base, k = 5,
      nCentroids = 8, nProbe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall4 = (ivf4 & exact).size.toDouble / exact.size
    info(f"IVF recall at nProbe=4/8: $recall4%.3f")
    assert(recall4 >= recall)
  }

  test("graph ANN: clustered corpus routes to the right cluster; " +
      "deterministic under repartition") {
    import spark.implicits._
    // 8 planted clusters × 25 members, ids interleaved (vec_id = j*100+c)
    // so the 16 lowest-id seed centroids span every cluster. Each member
    // = a dominant one-hot spike at dim c plus a small deterministic
    // perturbation — intra-cluster cosine ≫ cross-cluster, so correct
    // routing is provable, not bucketing luck.
    val dim = 16
    val rows = for (c <- 0 until 8; j <- 0 until 25) yield {
      val v = Array.tabulate(dim)(d =>
        (if (d == c) 1.0f else 0.0f) +
          0.02f * (((c * 31 + j * 7 + d * 13) % 5)))
      (j * 100L + c, v.toSeq)
    }
    val corpus = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast(
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)))
    val queries = corpus.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val got = Similarity.graphAnn(spark, corpus, queries, k = 10,
        dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.groupBy(_._1).size === 8)
    got.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.length === 10, s"query $q returned ${rs.length} rows")
      // every retrieved neighbor belongs to the query's cluster
      rs.foreach { case (_, v, _) =>
        assert(v % 100 === q % 100, s"query $q retrieved cross-cluster $v")
      }
    }
    // no self matches; scores sorted within each query's result
    assert(!got.exists(p => p._1 == p._2))
    // deterministic under repartition
    val again = Similarity.graphAnn(spark, corpus.repartition(7), queries,
        k = 10, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(again.toSet === got.toSet)
  }

  test("graph ANN recall vs exact knnJoin is floor-pinned") {
    // same measurement discipline as the IVF floor: deterministic data →
    // deterministic recall → a floor is safe to pin.
    val base = emb.select(col("vec_id"), col("embedding"))
    val queries = base.filter(col("vec_id") < 32).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).sortBy(_._1).toSeq
    val exact = Similarity.knnJoin(base, queries, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val qdf = base.filter(col("vec_id") < 32)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val ann = Similarity.graphAnn(spark, base, qdf, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ann & exact).size.toDouble / exact.size
    info(f"graph-ANN recall@10: $recall%.3f")
    // measured 2026-08-14: 0.881 at defaults (√n policy → 45 buckets),
    // 0.947 at ef=48/4 rounds, on the sf0.001 embeddings (deterministic
    // data → safe to pin)
    assert(recall >= 0.7, f"recall collapsed: $recall%.3f")
    // a wider beam must not lose recall
    val wide = Similarity.graphAnn(spark, base, qdf, k = 10,
        efSearch = 48, rounds = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallWide = (wide & exact).size.toDouble / exact.size
    info(f"graph-ANN recall@10 (ef=48, 4 rounds): $recallWide%.3f")
    assert(recallWide >= recall)
  }

  test("graph ANN clone collapse: exact twins come back as cosine-1.0 " +
      "members, never crowd the rep beam") {
    import spark.implicits._
    // base corpus + 4 id-shifted exact copies: every vector has 4 twins
    // (the sf1 clone-cluster shape that cost ~50× before the collapse)
    val base = emb.select(col("vec_id"), col("embedding"))
    val clones = (1 to 4).foldLeft(base) { (acc, i) =>
      acc.union(base.select(col("vec_id") + lit(i * 100000L),
        col("embedding")))
    }
    val qdf = base.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val got = Similarity.graphAnn(spark, clones, qdf, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    got.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.length === 10, s"query $q returned ${rs.length} rows")
      // the query's own 4 twins are the top hits at exactly 1.0,
      // smallest ids first; the query row itself never self-matches
      val twins = rs.filter(_._3 === 1.0).map(_._2)
      assert(twins.toSeq === (1 to 4).map(i => q + i * 100000L),
        s"query $q twins: ${twins.toSeq}")
      assert(!rs.exists(_._2 === q))
      // beyond the twins, results match the clone-free search expanded:
      // every non-twin hit's BASE id must appear in the base-corpus run
      val baseRun = Similarity.graphAnn(spark, base, qdf, k = 10)
        .collect().filter(_.getLong(0) == q).map(_.getLong(1)).toSet
      rs.filter(_._3 < 1.0).foreach { case (_, v, _) =>
        assert(baseRun(v % 100000L), s"query $q hit $v not in base run")
      }
    }
  }

  test("IVF top-k recall vs brute force is reasonable on probed buckets") {
    val q = emb.filter(col("vec_id") === 7).select("embedding")
      .head().getSeq[Float](0).toIndexedSeq
    val brute = Similarity.bruteForceTopK(emb, q, 10)
      .collect().map(_.getLong(0)).toSet
    val assigned = Similarity.ivfAssign(spark, emb, nCentroids = 16)
    val centroids = emb.orderBy(col("vec_id").asc).limit(16)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val ivf = Similarity.ivfTopK(spark, assigned, centroids, q, 10, nProbe = 8)
      .collect().map(_.getLong(0)).toSet
    // half the probes → recall won't be perfect, but must overlap well
    assert((brute intersect ivf).size >= 5)
  }

  test("embedding near-dup finds planted duplicate vector") {
    val v = emb.filter(col("vec_id") === 3).select("embedding")
      .head().getSeq[Float](0)
    val planted = Seq((9100L, v)).toDF("vec_id", "embedding")
    val all = emb.select("vec_id", "embedding").union(planted)
    val dups = Dedup.embeddingNearDup(all, minCosine = 0.99)
      .collect()
    assert(dups.exists(r => r.getLong(0) == 3L && r.getLong(1) == 9100L &&
      r.getDouble(2) >= 0.999))
  }

  test("transitive grouping merges chained near-dup pairs (both paths)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L),
      (22L, 23L)).toDF("id_a", "id_b")
    // threshold high → union-find path; threshold 0 → distributed path
    for (thr <- Seq(Long.MaxValue, 0L)) {
      val groups = Dedup.transitiveGroups(pairs, localThreshold = thr)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(groups(1L) === 1L && groups(2L) === 1L && groups(3L) === 1L,
        s"thr=$thr")
      assert(groups(10L) === 10L && groups(11L) === 10L, s"thr=$thr")
      assert(Seq(20L, 21L, 22L, 23L).forall(groups(_) === 20L), s"thr=$thr")
    }
  }

  test("transitive grouping converges on a 300-link chain (pointer jumping)") {
    // chain 0-1-2-...-300: diameter 300 >> maxIter 50, so the distributed
    // path only converges because pointer jumping halves chain depth per
    // superstep (O(log n) rounds); without it this throws at maxIter
    val chain = (0L until 300L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val groups = Dedup.transitiveGroups(chain, localThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups.size === 301)
    assert(groups.values.forall(_ === 0L))
  }

  test("corpus dedup drops planted duplicate chain, keeps the rest") {
    val base = docs.filter(col("doc_id") === 2).select("text")
      .head().getString(0)
    val words = base.split(" ")
    def mutate(i: Int): String =
      words.zipWithIndex.map { case (w, j) => if (j == i) s"zz$i" else w }
        .mkString(" ")
    // chain: base ≈ m1 ≈ m2 (each one word off)
    val planted = Seq((9301L, base), (9302L, mutate(1)), (9303L, mutate(2)))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val all = docs.union(planted.select(docs.columns.map(col): _*))
    val kept = Dedup.dedupCorpus(all, minJaccard = 0.6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // doc 2 (lowest id of the cluster) survives; planted copies dropped
    assert(kept.contains(2L))
    assert(!kept.contains(9301L) && !kept.contains(9302L) && !kept.contains(9303L))
    // untouched docs all survive
    assert(kept.contains(0L) && kept.contains(1L))
  }

  test("text analysis columns are sane") {
    val r = docs.select(
      TextAnalysis.tokenCount(col("text")).as("tc"),
      TextAnalysis.alphaRatio(col("text")).as("ar"),
      TextAnalysis.qualityScore(col("text")).as("q"),
      TextAnalysis.langId(col("text")).as("lang")).collect()
    r.foreach { row =>
      assert(row.getInt(0) > 0)
      assert(row.getDouble(1) >= 0 && row.getDouble(1) <= 1)
      assert(row.getDouble(2) >= 0 && row.getDouble(2) <= 1)
      assert(Set("en", "es", "fr", "de", "und").contains(row.getString(3)))
    }
  }

  test("langId ties resolve to the alphabetically-first language") {
    // 'the' is an en marker, 'el' an es marker → scores tie at 0.5 and
    // en (earlier in sorted order) must win; 'la de' ties es/fr at 1.0
    // → es. Pins the argmax tiebreak the DuckDB oracle's CASE order
    // encodes, across rewrites of the argmax formulation.
    val rows = Seq((1L, "the el"), (2L, "la de"), (3L, "zzz qqq"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.llm.TextAnalysis.langId(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows === Map(1L -> "en", 2L -> "es", 3L -> "und"))
  }

  test("corpus pipeline: monotone stages, threshold respected, deterministic") {
    import graft.llm.CorpusPipeline
    val prepared = CorpusPipeline.prepare(docs, minQuality = 0.2,
      minJaccard = 0.6).cache()
    val n = prepared.count()
    assert(n > 0 && n <= docs.count())
    // every surviving row respects the quality floor and is annotated
    val bad = prepared.filter(col("quality") < 0.2).count()
    assert(bad === 0)
    assert(prepared.columns.toSet.intersect(
      Set("lang_pred", "quality", "n_tokens")).size === 3)
    // sampling stage strictly reduces (at ~10% it can't keep everything)
    val sampled = CorpusPipeline.prepare(docs, minQuality = 0.2,
      minJaccard = 0.6, sampleFraction = Some(0.1)).count()
    assert(sampled < n)
    // deterministic end to end
    val n2 = CorpusPipeline.prepare(docs, minQuality = 0.2,
      minJaccard = 0.6).count()
    assert(n2 === n)
    prepared.unpersist()
  }

  test("media header parse round-trips synthesized PNG/BMP/WAV/AVI exactly") {
    import graft.llm.MediaHeaders
    val tail = "payload-body".getBytes("UTF-8")
    assert(MediaHeaders.parse(MediaHeaders.pngBytes(640, 480, tail)) ===
      Some(MediaHeaders.Meta("png", 640, 480, 1, 0, 0)))
    assert(MediaHeaders.parse(MediaHeaders.bmpBytes(123, 77, tail)) ===
      Some(MediaHeaders.Meta("bmp", 123, 77, 1, 0, 0)))
    assert(MediaHeaders.parse(MediaHeaders.wavBytes(16000, 1, 16, 32000, tail)) ===
      Some(MediaHeaders.Meta("wav", 0, 0, 32000, 16000, 2000)))
    assert(MediaHeaders.parse(MediaHeaders.aviBytes(320, 240, 12, 33333, tail)) ===
      Some(MediaHeaders.Meta("avi", 320, 240, 12, 0, 399)))
    assert(MediaHeaders.parse("not a media file".getBytes("UTF-8")).isEmpty)
    assert(MediaHeaders.parse(Array[Byte](0x89.toByte, 'P')).isEmpty)
    // corrupt AVI with a near-Int.MaxValue chunk size: must return None,
    // not wrap the scan offset negative and throw
    val corrupt = "RIFF".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0) ++
      "AVI ".getBytes("US-ASCII") ++ "junk".getBytes("US-ASCII") ++
      Array[Byte](-1, -1, -1, 0x7f) ++ Array.fill[Byte](32)(0)
    assert(MediaHeaders.parse(corrupt).isEmpty)
  }

  test("BMP pixel decode round-trips exactly; WAV sample decode too") {
    import graft.llm.MediaHeaders
    // 3×2 raster with distinct channel values, including row-padding
    // (3 px * 3 B = 9 B → stride 12) and bottom-up storage
    val rgb = Array(0xff0000, 0x00ff00, 0x0000ff, 0x102030, 0x405060, 0x708090)
    val bmp = MediaHeaders.bmpBytesRgb(3, 2, rgb)
    val Some((w, h, back)) = MediaHeaders.bmpPixels(bmp)
    assert((w, h) === ((3, 2)))
    assert(back.toSeq === rgb.toSeq)
    // header parse still agrees on the dims
    assert(MediaHeaders.parse(bmp).map(m => (m.width, m.height)) ===
      Some((3, 2)))
    // truncated pixel array → None, not an exception
    assert(MediaHeaders.bmpPixels(bmp.dropRight(1)).isEmpty)

    val samples = Array[Short](0, 1000, -1000, 32767, -32768, 42)
    val wav = MediaHeaders.wavBytesPcm16(8000, samples)
    assert(MediaHeaders.wavSamples(wav).map(_.toSeq) === Some(samples.toSeq))
    assert(MediaHeaders.parse(wav).map(m => (m.sampleRate, m.nFrames)) ===
      Some((8000, 6)))
    // declared size beyond the actual payload → prefix, no exception
    assert(MediaHeaders.wavSamples(wav.dropRight(2)).map(_.toSeq) ===
      Some(samples.dropRight(1).toSeq))
    // stereo 16-bit: header parses but sample decode declines (mono-only
    // stats), falling back rather than mixing interleaved channels
    val stereo = MediaHeaders.wavBytes(8000, 2, 16, 100,
      Array.fill[Byte](400)(7))
    assert(MediaHeaders.parse(stereo).nonEmpty)
    assert(MediaHeaders.wavSamples(stereo).isEmpty)
    // corrupt width ~2^30: Int stride math would overflow past the
    // bounds check and throw on allocation — must be None, no exception
    val evil = java.nio.ByteBuffer.allocate(54)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    evil.put('B'.toByte).put('M'.toByte).putInt(54).putInt(0).putInt(54)
    evil.putInt(40).putInt(0x2AAAAAAB).putInt(3)
    evil.putShort(1).putShort(24)
    evil.putInt(0).putInt(0).putInt(0).putInt(0).putInt(0).putInt(0)
    assert(MediaHeaders.bmpPixels(evil.array()).isEmpty)
  }

  test("PNG codec: encode→decode round-trips exactly under all 5 filters") {
    import graft.llm.MediaHeaders
    val (w, h) = (23, 17) // deliberately non-multiple-of-anything dims
    val rgb = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      ((x * 31 + y) % 256 << 16) | ((y * 17 + x * 3) % 256 << 8) |
        ((x ^ y) % 256)
    }
    for (ft <- 0 to 4) {
      val png = MediaHeaders.pngBytesRgb(w, h, rgb, ft)
      // header parse sees the real IHDR
      assert(MediaHeaders.parse(png) ===
        Some(MediaHeaders.Meta("png", w, h, 1, 0, 0)))
      // pixel decode inverts the filter + DEFLATE exactly
      val Some((dw, dh, drgb)) = MediaHeaders.pngPixels(png)
      assert((dw, dh) === ((w, h)), s"filter $ft dims")
      assert(drgb.toSeq === rgb.toSeq, s"filter $ft pixels")
    }
    // totality on garbage: truncated, corrupt zlib, corrupt filter byte
    val good = MediaHeaders.pngBytesRgb(4, 4, Array.fill(16)(0x123456))
    assert(MediaHeaders.pngPixels(good.take(30)).isEmpty)
    val corrupt = good.clone()
    corrupt(good.length - 20) = 0x7f // scribble inside IDAT
    assert(MediaHeaders.pngPixels(corrupt).isEmpty ||
      MediaHeaders.pngPixels(corrupt).get._3.length === 16) // total either way
    // dimension bomb: a 66000×66000 IHDR must refuse, not allocate 13 GB
    val bomb = MediaHeaders.pngBytesRgb(2, 2, Array.fill(4)(0))
    val bb = java.nio.ByteBuffer.wrap(bomb)
    bb.putInt(16, 66000); bb.putInt(20, 66000)
    assert(MediaHeaders.pngPixels(bomb).isEmpty)
  }

  test("AVI DIB frames: encode→extract round-trips exactly") {
    import graft.llm.MediaHeaders
    val (w, h) = (10, 6) // stride padding exercised (10*3=30 → 32)
    val frames = Array.tabulate(4) { fi =>
      Array.tabulate(w * h) { i =>
        ((i * 3 + fi) % 256 << 16) | ((i * 7 + fi * 5) % 256 << 8) |
          ((i + fi) % 256)
      }
    }
    val avi = MediaHeaders.aviBytesDib(w, h, 33333, frames)
    // header parse reads the real avih
    val meta = MediaHeaders.parse(avi).get
    assert(meta.format === "avi" && meta.width === w &&
      meta.height === h && meta.nFrames === 4)
    // frame extraction inverts the bottom-up strided DIB layout exactly
    val Some((dw, dh, got)) = MediaHeaders.aviFrames(avi)
    assert((dw, dh) === ((w, h)))
    assert(got.length === 4)
    got.zip(frames).foreach { case (a, b) => assert(a.toSeq === b.toSeq) }
    // totality: truncated payload and header-only AVI both refuse cleanly
    assert(MediaHeaders.aviFrames(avi.take(60)).isEmpty)
    assert(MediaHeaders.aviFrames(
      MediaHeaders.aviBytes(64, 48, 3, 33333, "x".getBytes)).isEmpty)
  }

  test("decoded features are real content stats for BMP and WAV") {
    import graft.llm.MediaHeaders
    // all-white 2×2 → all luma mass in the top bin
    val white = MediaHeaders.bmpBytesRgb(2, 2, Array.fill(4)(0xffffff))
    val hWhite = Multimodal.lumaHistogram(
      MediaHeaders.bmpPixels(white).get._3)
    assert(hWhite(7) === 1.0f && hWhite.take(7).forall(_ === 0.0f))
    // all-black → bottom bin
    val hBlack = Multimodal.lumaHistogram(Array.fill(4)(0))
    assert(hBlack(0) === 1.0f)
    // constant full-scale signal: rms = peak = 1 (within float), zcr 0
    val dc = Array.fill[Short](100)(32767)
    val f = Multimodal.pcmFeatures(dc)
    assert(math.abs(f(0) - 32767.0 / 32768.0) < 1e-6)
    assert(f(1) === (32767.0 / 32768.0).toFloat)
    assert(f(2) === 0.0f)
    // alternating sign: maximal zero-crossing rate
    val alt = Array.tabulate[Short](100)(i => if (i % 2 == 0) 1000 else -1000)
    assert(Multimodal.pcmFeatures(alt)(2) === 0.99f)
    // the pipeline actually uses these: decoded bmp/wav features are
    // histograms/stats, not byte hashes
    val media = Multimodal.syntheticMedia(spark, docs)
    val decoded = Multimodal.decodeAll(media).collect()
    decoded.filter(d => d.format == "bmp" || d.format == "png").foreach { d =>
      assert(math.abs(d.feature.sum - 1.0f) < 1e-5) // L1-normalized histogram
    }
    // avi features are means of per-frame L1 histograms → also sum to 1
    decoded.filter(_.format == "avi").foreach { d =>
      assert(math.abs(d.feature.sum - 1.0f) < 1e-4)
    }
    decoded.filter(_.format == "wav").foreach { d =>
      assert(d.feature(1) <= 1.0f && d.feature(0) <= d.feature(1)) // rms ≤ peak
      assert(d.feature(1) > 0.0f) // triangle wave is not silence
    }
  }

  test("decoded media carries genuinely parsed container metadata") {
    val media = Multimodal.syntheticMedia(spark, docs)
    val decoded = Multimodal.decodeAll(media).collect()
    // every synthesized payload is well-formed → no 'unknown' fallbacks
    assert(decoded.forall(_.format != "unknown"))
    decoded.foreach { d =>
      d.kind match {
        case "image" =>
          assert(d.format == "png" || d.format == "bmp")
          // parsed back from the actual header bytes (both raster
          // encoders share the capped gradient dims)
          assert(d.width === 16 + (d.media_id % 48).toInt)
        case "audio" =>
          assert(d.format === "wav")
          assert(d.sample_rate === 8000 * (1 + ((d.media_id / 3) % 3).toInt))
        case "video" =>
          assert(d.format === "avi")
          assert(d.n_frames === 1 + (d.media_id % 16).toInt)
      }
    }
    // the sample-rate field must actually vary, or the parser's rate
    // read is never exercised beyond one value
    assert(decoded.filter(_.kind == "audio").map(_.sample_rate)
      .distinct.length >= 2)
  }

  test("multimodal decode pipeline is deterministic and total") {
    val media = Multimodal.syntheticMedia(spark, docs)
    val d1 = Multimodal.decodeAll(media).collect().sortBy(_.media_id)
    val d2 = Multimodal.decodeAll(media).collect().sortBy(_.media_id)
    assert(d1.length === docs.count())
    d1.zip(d2).foreach { case (a, b) =>
      assert(a.width === b.width && a.height === b.height)
      assert(a.feature.toSeq === b.feature.toSeq)
    }
    val frames = Multimodal.sampleFrames(Multimodal.decodeAll(media))
    assert(frames.count() > 0)
  }

  test("paragraph dedup keeps first occurrence, reassembles in order") {
    // 4-token chunks: doc 1 = [a b c d][e f g h]; doc 2 repeats doc 1's
    // first chunk then adds fresh text; doc 3 is an exact copy of doc 1;
    // doc 4 repeats its own first chunk (within-doc duplicate)
    val d = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d x y z w"),
      (3L, "a b c d e f g h"),
      (4L, "p q r s p q r s")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(d, chunkSize = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) === ((2L, 2L, "a b c d e f g h")))
    assert(out(2L) === ((2L, 1L, "x y z w"))) // first chunk seen in doc 1
    assert(out(3L) === ((2L, 0L, "")))        // full copy → all dropped
    assert(out(4L) === ((2L, 1L, "p q r s"))) // self-duplicate collapses
  }

  test("semantic dedup drops planted twins, keeps near-orthogonal set") {
    val base = emb.select("vec_id", "embedding")
    val twins = base.select((col("vec_id") + 10000000L).as("vec_id"),
      col("embedding"))
    val kept = Similarity.semanticDedup(spark, base.union(twins),
      k = 8, iters = 2, minCosine = 0.95)
      .collect().map(_.getLong(0)).toSet
    val ids = base.collect().map(_.getLong(0)).toSet
    // every original survives (no natural pair reaches 0.95), every
    // planted twin has a lower-id duplicate in its own cluster → dropped
    assert(kept === ids)
  }

  test("int8 quantization round-trips within scale/2 per element") {
    val v = Seq((1L, Seq(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f))) // zero vector edge
      .toDF("vec_id", "embedding")
    val rows = Similarity.quantizeInt8(v).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // vec 1: scale = 1/127; q = [64, -127, 32, 0] (0.5*127 = 63.5 → 64)
    val (scaleNano, qSum, qL1, errNano) = rows(1L)
    assert(scaleNano === math.round(1.0 / 127.0 * 1e9))
    assert(qSum === (64L - 127L + 32L))
    assert(qL1 === (64L + 127L + 32L))
    // worst element error ≤ scale/2
    assert(errNano <= scaleNano / 2 + 1)
    // zero vector: all-zero quantization, zero error
    assert(rows(2L) === ((0L, 0L, 0L, 0L)))
    // real corpus: every element reconstructs within half a step
    val bad = Similarity.quantizeInt8(emb)
      .filter(col("max_err_nano") > col("scale_nano") / 2 + 1).count()
    assert(bad === 0L)
  }

  private def qualityLabeled = docs.select(col("doc_id"),
    when(TextAnalysis.qualityScore(col("text")) >= 0.6, 1L)
      .otherwise(0L).as("label"), col("text"))

  test("quality classifier: distributed ≡ local twin, bit-exact") {
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    val local = rows(graft.llm.QualityClassifier.train(qualityLabeled))
    val dist = rows(graft.llm.QualityClassifier.train(qualityLabeled,
      localRowThreshold = 0L))
    assert(local === dist)
  }

  test("quality classifier distills the rule label far beyond majority") {
    val out = graft.llm.QualityClassifier.train(qualityLabeled)
    val n = out.count()
    val correct = out.filter(col("pred") === col("label")).count()
    val n1 = qualityLabeled.filter(col("label") === 1L).count()
    val majority = math.max(n1, n - n1)
    // measured 463/500 vs majority 261 at sf0.001; assert a wide margin,
    // not the exact number, so testdata regeneration can't flake it
    assert(correct > (majority + n) / 2,
      s"correct=$correct majority=$majority n=$n")
  }

  test("classifier AUC: rank statistic ≡ brute pairwise probability, " +
      "ties at half credit; perfect and random extremes exact") {
    def aucMicro(scored: Seq[(Long, Long)]): Long = {
      import spark.implicits._
      val df = scored.toDF("label", "score")
      val perScore = df.groupBy(col("score"))
        .agg(sum(col("label")).as("n1s"), count(lit(1)).as("ts"))
      val withRun = graft.operators.PrefixSum.running(
        perScore, keyCol = "score", weightCol = "ts")
      val r = withRun.agg(
          sum(col("n1s")).as("n_pos"),
          (sum(col("ts")) - sum(col("n1s"))).as("n_neg"),
          sum(col("n1s") * (lit(2) * (col("running_total") - col("ts") + 1)
            + col("ts") - 1)).as("rsum"))
        .select(expr("(1000000 * (rsum - n_pos * (n_pos + 1))) div " +
          "(2 * n_pos * n_neg)").as("auc_micro"))
        .head().getLong(0)
      graft.core.Checkpoints.release(withRun)
      r
    }
    // brute: P(score_pos > score_neg) + ½·P(tie), the AUC definition
    def brute(scored: Seq[(Long, Long)]): Long = {
      val pos = scored.filter(_._1 == 1L).map(_._2)
      val neg = scored.filter(_._1 == 0L).map(_._2)
      val num2 = (for (p <- pos; q <- neg) yield
        if (p > q) 2L else if (p == q) 1L else 0L).sum
      1000000L * num2 / (2L * pos.size * neg.size)
    }
    val rnd = new scala.util.Random(42)
    val mixed = (0 until 200).map(_ =>
      (rnd.nextInt(2).toLong, rnd.nextInt(20).toLong)) // heavy ties
    assert(aucMicro(mixed) === brute(mixed))
    val skewed = (0 until 150).map { i =>
      val lbl = if (i % 3 == 0) 1L else 0L
      (lbl, lbl * 10 + rnd.nextInt(15).toLong)
    }
    assert(aucMicro(skewed) === brute(skewed))
    // perfect separation → exactly 1.0; all-tied scores → exactly 0.5
    val perfect = (0 until 50).map(i =>
      (if (i < 20) 1L else 0L, if (i < 20) 100L else 1L))
    assert(aucMicro(perfect) === 1000000L)
    val allTied = (0 until 50).map(i => ((i % 2).toLong, 7L))
    assert(aucMicro(allTied) === 500000L)
  }

  test("quality classifier: map-side scoreCol ≡ trained scores, both " +
      "dispatch paths") {
    for (thr <- Seq(Long.MaxValue, 0L)) {
      val model = graft.llm.QualityClassifier.trainModel(qualityLabeled,
        localRowThreshold = thr)
      val served = qualityLabeled.select(col("doc_id"),
          graft.llm.QualityClassifier.scoreCol(model, col("text"))
            .as("score"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val trained = graft.llm.QualityClassifier.train(qualityLabeled,
          localRowThreshold = thr)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(served === trained, s"thr=$thr")
    }
  }

  test("quality classifier separates planted vocabularies perfectly") {
    import spark.implicits._
    val planted = ((0 until 40).map(i =>
      (i.toLong, 1L, s"alpha beta gamma delta epsilon tok$i")) ++
      (0 until 40).map(i =>
        (100L + i, 0L, s"omega psi chi phi upsilon tok$i")))
      .toDF("doc_id", "label", "text")
    val out = graft.llm.QualityClassifier.train(planted)
    assert(out.filter(col("pred") =!= col("label")).count() === 0L)
  }

  test("quality classifier: single-class and empty-token corpora are total") {
    import spark.implicits._
    // all label=1: the negative centroid is the zero guard path
    val oneClass = Seq((1L, 1L, "alpha beta"), (2L, 1L, "beta gamma"))
      .toDF("doc_id", "label", "text")
    val r1 = graft.llm.QualityClassifier.train(oneClass).collect()
    assert(r1.length === 2 && r1.forall(!_.anyNull))
    // a doc with no tokens still gets scored (score = 0)
    val withEmpty = Seq((1L, 1L, "alpha beta"), (2L, 0L, "   "))
      .toDF("doc_id", "label", "text")
    val r2 = graft.llm.QualityClassifier.train(withEmpty)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(r2(2L) === 0L)
  }

  // ---- product quantization ------------------------------------------

  test("PQ encode: per-subspace argmin matches a local recompute, " +
      "ties to the smaller code") {
    val model = Similarity.pqTrain(spark, emb, kCodes = 16, subDim = 8,
      refineIters = 1)
    val dim = emb.select("embedding").head().getSeq[Float](0).length
    assert(model.m === dim / 8 && model.books.length === model.m * 16)
    val enc = Similarity.pqEncode(emb, model)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val vecs = emb.limit(25).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    for ((id, v) <- vecs) {
      val want = (0 until model.m).map { mi =>
        val dists = (0 until model.kCodes).map { c =>
          val bv = model.books(mi * model.kCodes + c)
          var d = 0.0; var j = 0
          while (j < model.subDim) {
            val diff = v(mi * model.subDim + j).toDouble - bv(j).toDouble
            d += diff * diff; j += 1
          }
          d
        }
        // strict first-min: ties resolve to the smaller code
        dists.zipWithIndex.minBy { case (d, c) => (d, c) }._2
      }
      assert(enc(id) === want, s"vec $id")
    }
    // exact twins get identical codes (encode is a pure map function)
    assert(enc.nonEmpty)
  }

  test("PQ train is deterministic and empty codes keep their seed vector") {
    val m1 = Similarity.pqTrain(spark, emb, kCodes = 16, subDim = 8,
      refineIters = 1)
    val m2 = Similarity.pqTrain(spark, emb.repartition(7), kCodes = 16,
      subDim = 8, refineIters = 1)
    assert(m1 === m2)
    // kCodes larger than the corpus: kEff caps at corpus size, no empty rows
    val tiny = emb.filter(col("vec_id") < 3)
    val m3 = Similarity.pqTrain(spark, tiny, kCodes = 16, subDim = 8)
    assert(m3.kCodes === 3 && m3.books.length === m3.m * 3)
    assert(m3.books.forall(_.length == 8))
  }

  test("PQ ADC top-k: twin of the query ranks at the query's own ADC " +
      "distance; recall vs exact L2 is floor-pinned") {
    import spark.implicits._
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0)
    // plant an exact twin of the query vector: identical codes → identical
    // adc_micro, so it MUST appear in any top-k that contains vec 0
    val twin = Seq((888888L, q)).toDF("vec_id", "embedding")
    val all = emb.select(col("vec_id"), col("embedding")).union(twin)
    val model = Similarity.pqTrain(spark, all, kCodes = 16, subDim = 8,
      refineIters = 1)
    val encoded = Similarity.pqEncode(all, model)
    val got = Similarity.pqAdcTopK(encoded, model, q, k = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === 20)
    val byId = got.toMap
    assert(byId.contains(0L) && byId.contains(888888L) &&
      byId(0L) === byId(888888L))
    // adc ascending with (adc, vec_id) tiebreak
    assert(got.sliding(2).forall { case Array(a, b) =>
      a._2 < b._2 || (a._2 == b._2 && a._1 < b._1) })
    // ADC-only recall vs exact L2 top-20: isotropic random 64-dim
    // embeddings are PQ's worst case (no subspace structure to exploit),
    // so the raw-ADC floor is honest-low — observed 0.25-0.30 at
    // 16 codes / 8-dim subspaces on sf0.001. The serving path below
    // (shortlist → exact re-rank) is where recall is recovered.
    val exact = all.select(col("vec_id"),
        aggregate(zip_with(col("embedding"), typedLit(q.toSeq),
            (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x).as("d2"))
      .orderBy(col("d2").asc, col("vec_id").asc).limit(20)
      .collect().map(_.getLong(0)).toSet
    val recall = (got.map(_._1).toSet & exact).size.toDouble / exact.size
    info(f"PQ-ADC recall@20: $recall%.3f")
    assert(recall >= 0.15, f"recall collapsed: $recall%.3f")
    // ADC shortlist → exact re-rank: recall@20 recovers (observed 0.80
    // at shortlist=100 on sf0.001) and a wider shortlist can't lose it
    val rer = Similarity.pqAdcRerank(all, encoded, model, q,
        k = 20, shortlist = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rer.length === 20 && rer.sliding(2).forall { case Array(a, b) =>
      a._2 < b._2 || (a._2 == b._2 && a._1 < b._1) })
    val rerRecall = (rer.map(_._1).toSet & exact).size.toDouble / exact.size
    info(f"PQ rerank recall@20 (shortlist=100): $rerRecall%.3f")
    assert(rerRecall >= 0.6, f"rerank recall collapsed: $rerRecall%.3f")
    assert(rerRecall >= recall)
    // the twin pair survives re-rank at l2_micro 0 (exact distance)
    val rerById = rer.toMap
    assert(rerById.get(0L).contains(0L) && rerById.get(888888L).contains(0L))
    // a shortlist as wide as the corpus IS exact top-k
    val full = Similarity.pqAdcRerank(all, encoded, model, q,
        k = 20, shortlist = 501).collect().map(_.getLong(0)).toSet
    assert(full === exact)
  }

  test("IVF+PQ: probing every bucket ≡ full-corpus ADC; pruned probes " +
      "agree with ADC restricted to the probed buckets; twin found") {
    import spark.implicits._
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0)
    val twin = Seq((888888L, q)).toDF("vec_id", "embedding")
    val all = emb.select(col("vec_id"), col("embedding")).union(twin)
    val refined = Similarity.kmeansRefine(spark,
      Similarity.assignToCentroids(all, Similarity.seedCentroids(all, 16)))
      .cache()
    val cents = refined.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val model = Similarity.pqTrain(spark, all, kCodes = 16, subDim = 8,
      refineIters = 1)
    val index = Similarity.ivfPqIndex(all, cents, model).cache()
    // nProbe = all buckets: bucket pruning drops nothing → ≡ pqAdcTopK
    val everyBucket = Similarity.ivfPqTopK(index, refined, model, q,
        k = 20, nProbe = 16).collect().map(r => (r.getLong(0), r.getLong(1)))
    val fullAdc = Similarity.pqAdcTopK(Similarity.pqEncode(all, model),
        model, q, 20).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(everyBucket.toSeq === fullAdc.toSeq)
    // nProbe = 4: result ≡ ADC over exactly the probed-bucket members
    val probeIds = refined
      .select(col("c_id"), Similarity.cosine(col("c_vec"),
        typedLit(q.toSeq).cast("array<float>")).as("sim"))
      .orderBy(col("sim").desc, col("c_id").asc).limit(4)
      .collect().map(_.getLong(0))
    val pruned = Similarity.ivfPqTopK(index, refined, model, q,
        k = 20, nProbe = 4).collect().map(r => (r.getLong(0), r.getLong(1)))
    val members = index.filter(col("centroid_id").isin(probeIds: _*))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(pruned.forall(p => members.contains(p._1)))
    val restricted = Similarity.pqAdcTopK(
        Similarity.pqEncode(all, model).filter(col("vec_id")
          .isin(members.toSeq: _*)), model, q, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pruned.toSeq === restricted.toSeq)
    // the query's own vector and its exact twin share codes AND bucket,
    // and the query's bucket is always the top-1 probe → both found
    val ids = pruned.map(_._1).toSet
    assert(ids.contains(0L) && ids.contains(888888L))
    assert(pruned.toMap.apply(0L) === pruned.toMap.apply(888888L))
  }
}
