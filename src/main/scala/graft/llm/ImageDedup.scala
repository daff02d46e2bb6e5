package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Perceptual-hash image near-duplicate detection — the image-content
  * counterpart of the text near-dup family (reference scope: the graph
  * study has no image ops; this is north-star LLM-pipeline surface,
  * same category as Dedup/Similarity).
  *
  * Two classic content hashes over the decoded raster (public
  * algorithms, e.g. the pHash family write-ups):
  *  - aHash (average hash): 8×8 luma grid, bit = cell ≥ grid mean;
  *  - dHash (difference hash): 9×8 luma grid, bit = left < right —
  *    robust to global brightness shifts where aHash is not.
  *
  * Both use NEAREST-NEIGHBOR sampling at integer grid positions
  * (x·w div 9, y·h div 8) and integer Rec.601 luma
  * ((299r + 587g + 114b) div 1000) so the hash is a pure integer
  * function of the raster — bit-identical across engines, which is what
  * lets the llm_image_neardup oracle re-derive it in SQL from the
  * deterministic synthetic-pixel recipe while the Spark side computes it
  * from REAL decoded container bytes (pngPixels/bmpPixels): a hash match
  * proves decode + hash end to end. Each 64-bit hash ships as two
  * unsigned 32-bit halves (hi, lo) to keep sign semantics trivial in
  * both engines.
  *
  * Scale design mirrors Dedup.simhashNearDup (Manku et al. pigeonhole
  * banding): hashing is pure map-side work per image (no shuffle, codec
  * state per partition); near-dup candidates come from per-band equality
  * buckets over the dHash — two signatures within Hamming k < bands must
  * agree on ≥ 1 band — then exact Hamming verifies on both hashes.
  * Never all-pairs.
  */
object ImageDedup {

  final case class ImageHashRow(media_id: Long, width: Int, height: Int,
      ahash_hi: Long, ahash_lo: Long, dhash_hi: Long, dhash_lo: Long)

  /** (aHash, dHash) of a row-major packed-0xRRGGBB raster. */
  def perceptualHashes(w: Int, h: Int, px: Array[Int]): (Long, Long) = {
    require(w > 0 && h > 0 && px.length >= w * h,
      s"raster ${px.length} px does not cover ${w}x$h")
    def luma(x: Int, y: Int): Int = {
      val v = px(y * w + x)
      (299 * ((v >> 16) & 0xff) + 587 * ((v >> 8) & 0xff) +
        114 * (v & 0xff)) / 1000
    }
    val ls = new Array[Int](64)
    var i = 0
    while (i < 64) {
      ls(i) = luma((i % 8) * w / 8, (i / 8) * h / 8)
      i += 1
    }
    var total = 0
    i = 0
    while (i < 64) { total += ls(i); i += 1 }
    var a = 0L
    i = 0
    // l*64 >= total avoids the mean division (exact integer compare)
    while (i < 64) { if (ls(i) * 64 >= total) a |= 1L << i; i += 1 }
    var d = 0L
    var y = 0
    while (y < 8) {
      val sy = y * h / 8
      var x = 0
      while (x < 8) {
        if (luma(x * w / 9, sy) < luma((x + 1) * w / 9, sy))
          d |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    (a, d)
  }

  /** Per-image perceptual hashes over REAL container decode: PNG first
    * (magic-checked), BMP fallback. Undecodable payloads drop (same
    * totality contract as MediaHeaders — a corrupt blob in 100 TB of
    * crawl data must not kill the stage). Pure map-side; payload bytes
    * never shuffle.
    */
  def imageHashes(media: Dataset[Multimodal.MediaRow]): Dataset[ImageHashRow] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "image").flatMap { m =>
      MediaHeaders.pngPixels(m.payload)
        .orElse(MediaHeaders.bmpPixels(m.payload))
        .map { case (w, h, px) =>
          val (a, d) = perceptualHashes(w, h, px)
          ImageHashRow(m.media_id, w, h,
            a >>> 32, a & 0xffffffffL, d >>> 32, d & 0xffffffffL)
        }
    }
  }

  /** Near-dup image pairs within Hamming `maxHamming` on BOTH hashes
    * (dHash bands generate candidates; requiring the aHash to agree too
    * suppresses gradient-texture false positives). Output
    * (id_a, id_b, dhash_hamming, ahash_hamming), id_a < id_b.
    *
    * Bucket-skew hardening (round-6 advice): low-texture corpora
    * concentrate on degenerate band values (all-zero bands from flat
    * rows), making one band bucket quadratic. The bucket key is
    * therefore TWO-level pigeonhole: a matching pair must agree on band
    * b AND, given that, its remaining bits differ in ≤ maxHamming
    * positions, so it also agrees on ≥ 1 of (maxHamming+1) sub-chunks
    * of the band-zeroed hash. Keying on (band, sub-chunk) is lossless
    * and splits a hot band bucket by everything OUTSIDE the band;
    * only images whose FULL hashes collide stay co-bucketed — and an
    * identical-hash cluster's pair list is genuinely quadratic output,
    * not avoidable join skew.
    */
  def nearDup(hashes: DataFrame, maxHamming: Int = 2,
      bands: Int = 4): DataFrame = graft.core.Checkpoints.scoped { s =>
    require(maxHamming < bands, "pigeonhole needs maxHamming < bands")
    require(64 % bands == 0, s"bands must divide 64, got $bands")
    val bits = 64 / bands
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    val subs = maxHamming + 1
    val sigs = s.cache(hashes.select(col("media_id"),
      shiftleft(col("dhash_hi"), 32).bitwiseOR(col("dhash_lo")).as("dh"),
      shiftleft(col("ahash_hi"), 32).bitwiseOR(col("ahash_lo")).as("ah"))
      // a map over the hashed media rows, which AQE cannot coalesce: its
      // deletion read +0.7–0.9 s at 32 cores on image/video/audio in the
      // layout A/B in CHANGES.md
      .transform(graft.core.Tables.compact(_, shuffle = true)))
    // Band DISTINCT (dh, ah) signatures, not media rows (the r9 fix
    // shared with Dedup.simhashNearDup): duplicate-media clusters made
    // the doc-level candidate join quadratic in clone multiplicity
    // (measured 63 s at the 10× scale corpus). Verified signature pairs
    // expand back to media pairs at the very end, so the quadratic part
    // is confined to the genuine OUTPUT.
    val distinctSigs = sigs.select(col("dh"), col("ah")).distinct()
    val keys = for { b <- 0 until bands; j <- 0 until subs } yield {
      val bandVal =
        shiftrightunsigned(col("dh"), b * bits).bitwiseAND(lit(mask))
      // band b zeroed in BOTH sides, so sub-chunk equality is exactly
      // "no differing bit in this chunk outside the band"
      val rest = col("dh").bitwiseAND(lit(~(mask << (b * bits))))
      val lo = j * 64 / subs
      val width = (j + 1) * 64 / subs - lo
      val subMask = if (width == 64) -1L else (1L << width) - 1
      val subVal = shiftrightunsigned(rest, lo).bitwiseAND(lit(subMask))
      struct(bandVal.as("bv"), subVal.as("sv"))
    }
    val banded = distinctSigs.select(col("dh"), col("ah"),
        posexplode(array(keys: _*)).as(Seq("key_id", "k")))
      .select(col("dh"), col("ah"), col("key_id"),
        col("k.bv").as("band_val"), col("k.sv").as("sub_val"))
    val sigPairs = banded.select(col("key_id"), col("band_val"),
        col("sub_val"), col("dh").as("dh_a"), col("ah").as("ah_a"))
      .join(banded.select(col("key_id"), col("band_val"), col("sub_val"),
        col("dh").as("dh_b"), col("ah").as("ah_b")),
        Seq("key_id", "band_val", "sub_val"))
      .filter(col("dh_a") =!= col("dh_b") || col("ah_a") =!= col("ah_b"))
      .select(col("dh_a"), col("ah_a"), col("dh_b"), col("ah_b"))
      .dropDuplicates("dh_a", "ah_a", "dh_b", "ah_b")
      .withColumn("dhash_hamming",
        bit_count(col("dh_a").bitwiseXOR(col("dh_b"))).cast("long"))
      .withColumn("ahash_hamming",
        bit_count(col("ah_a").bitwiseXOR(col("ah_b"))).cast("long"))
      .filter(col("dhash_hamming") <= maxHamming &&
        col("ahash_hamming") <= maxHamming)
      // identical signatures pair at hamming (0, 0); disjoint from the
      // join side, which keeps only non-identical signature pairs
      .union(distinctSigs.select(col("dh").as("dh_a"),
        col("ah").as("ah_a"), col("dh").as("dh_b"), col("ah").as("ah_b"),
        lit(0L).as("dhash_hamming"), lit(0L).as("ahash_hamming")))
    s.checkpoint(sigPairs
      .join(sigs.select(col("dh").as("dh_a"), col("ah").as("ah_a"),
        col("media_id").as("id_a")), Seq("dh_a", "ah_a"))
      .join(sigs.select(col("dh").as("dh_b"), col("ah").as("ah_b"),
        col("media_id").as("id_b")), Seq("dh_b", "ah_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        col("dhash_hamming"), col("ahash_hamming")))
  }
}
