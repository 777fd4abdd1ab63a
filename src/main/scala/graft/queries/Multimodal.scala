package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.{ImageCodec, MediaPipeline}

/** Correctness queries over the multimodal pipeline. The Spark side
  * round-trips REAL containers: text bytes → encode (BMP bottom-up BGR
  * padded / PPM / WAV) → [[graft.multimodal.ImageCodec.decode]] →
  * canonical-raster folds. The DuckDB oracle never parses a container —
  * it predicts what a CORRECT codec must produce straight from
  * (doc_id, text): dims from the id, raster byte j = text[j mod len],
  * container sizes from the format arithmetic. The order-sensitive
  * `raster_check` (Σ (j+1)·byte_j) is what turns "decoder dropped the
  * BMP row flip / BGR swap / padding skip" into a hash mismatch instead
  * of a silent pass.
  */
object Multimodal {

  def mediaFeatures(spark: SparkSession, dir: String): DataFrame =
    MediaPipeline.extractFeatures(
      MediaPipeline.encoded(MediaPipeline.mediaTable(spark, dir)))
      .groupBy(col("media_type"))
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("sum_bytes"),
        sum(col("width")).as("sum_width"),
        sum(col("height")).as("sum_height"),
        sum(col("pixel_sum")).as("sum_pixel"),
        sum(col("raster_check")).as("sum_raster_check"))

  /** The oracle's container-size arithmetic, spelled out:
    * BMP = 54 + rowSize·h (rowSize = 3w padded to 4); PPM = 9 + digits
    * of w + digits of h + 3wh; WAV = 44 + samples. Decoded dims: images
    * (w, h); audio (samples, 1). */
  val mediaFeaturesSql: String =
    """WITH m AS (SELECT doc_id AS media_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'image'
      |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
      |    text, len(text) AS tl,
      |    8 + doc_id % 24 AS w, 8 + doc_id % 16 AS h FROM documents),
      |d AS (SELECT media_type, text, tl,
      |    CASE WHEN media_type = 'audio' THEN w*h ELSE 3*w*h END AS nd,
      |    CASE media_type
      |      WHEN 'image' THEN 54 + ((3*w + 3) // 4) * 4 * h
      |      WHEN 'video' THEN 9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR)) + 3*w*h
      |      ELSE 44 + w*h END AS n_bytes,
      |    CASE WHEN media_type = 'audio' THEN w*h ELSE w END AS width,
      |    CASE WHEN media_type = 'audio' THEN 1 ELSE h END AS height
      |  FROM m),
      |f AS (SELECT media_type, n_bytes, width, height,
      |    CAST(coalesce(list_sum(list_transform(range(0, nd), j ->
      |      CASE WHEN tl > 0 THEN ascii(substr(text, CAST(j % tl AS INT) + 1, 1)) ELSE 0 END)), 0) AS BIGINT) AS pixel_sum,
      |    CAST(coalesce(list_sum(list_transform(range(0, nd), j ->
      |      (j + 1) * CASE WHEN tl > 0 THEN ascii(substr(text, CAST(j % tl AS INT) + 1, 1)) ELSE 0 END)), 0) AS BIGINT) AS raster_check
      |  FROM d)
      |SELECT media_type, COUNT(*) AS n_media,
      |  CAST(SUM(n_bytes) AS BIGINT) AS sum_bytes,
      |  CAST(SUM(width) AS BIGINT) AS sum_width,
      |  CAST(SUM(height) AS BIGINT) AS sum_height,
      |  CAST(SUM(pixel_sum) AS BIGINT) AS sum_pixel,
      |  CAST(SUM(raster_check) AS BIGINT) AS sum_raster_check
      |FROM f GROUP BY media_type""".stripMargin

  /** The resize stage verified THROUGH the binary boundary: the
    * thumbnail container is decoded AGAIN on the Spark side and folded
    * to per-type dims + order-sensitive checksums, so the oracle (which
    * predicts the nearest-neighbor source positions on the text bytes)
    * catches any loss, reorder, or off-by-one in decode → resample →
    * re-encode → re-decode — not just in the summary arithmetic. */
  def mediaResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    MediaPipeline.resize(
      MediaPipeline.encoded(MediaPipeline.mediaTable(spark, dir)))
      .map { r =>
        val d = ImageCodec.decode(r.resized)
        var wsum = 0L; var j = 0
        while (j < d.data.length) { wsum += (j + 1).toLong * (d.data(j) & 0xff); j += 1 }
        (r.media_type, r.orig_bytes, r.resized.length.toLong,
          d.width, d.height, wsum)
      }
      .toDF("media_type", "orig_bytes", "new_bytes", "rw", "rh", "raster_check")
      .groupBy(col("media_type"))
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("orig_bytes")).as("sum_orig_bytes"),
        sum(col("new_bytes")).as("sum_new_bytes"),
        min(col("rw")).as("min_rw"), max(col("rw")).as("max_rw"),
        min(col("rh")).as("min_rh"), max(col("rh")).as("max_rh"),
        sum(col("raster_check")).as("sum_raster_check"))
  }

  /** Thumbnail raster prediction: out byte j maps to source raster
    * index (⌊ty·h/8⌋·w + ⌊tx·w/8⌋)·3 + c with (ty,tx,c) unpacked from
    * j; audio sample k maps to ⌊k·n/64⌋. Resized container sizes are
    * constants of the format: BMP 8×8 = 246, PPM 8×8 = 203, WAV 64 =
    * 108. */
  val mediaResizeSql: String =
    """WITH m AS (SELECT doc_id AS media_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'image'
      |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
      |    text, len(text) AS tl,
      |    8 + doc_id % 24 AS w, 8 + doc_id % 16 AS h FROM documents),
      |d AS (SELECT media_type, text, tl, w, h,
      |    CASE media_type
      |      WHEN 'image' THEN 54 + ((3*w + 3) // 4) * 4 * h
      |      WHEN 'video' THEN 9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR)) + 3*w*h
      |      ELSE 44 + w*h END AS orig_bytes,
      |    CASE media_type WHEN 'image' THEN 246 WHEN 'video' THEN 203
      |      ELSE 108 END AS new_bytes,
      |    CASE WHEN media_type = 'audio' THEN 64 ELSE 8 END AS rw,
      |    CASE WHEN media_type = 'audio' THEN 1 ELSE 8 END AS rh
      |  FROM m),
      |f AS (SELECT media_type, orig_bytes, new_bytes, rw, rh,
      |    CAST(coalesce(list_sum(CASE WHEN media_type = 'audio'
      |      THEN list_transform(range(0, 64), k ->
      |        (k + 1) * CASE WHEN tl > 0 THEN ascii(substr(text,
      |          CAST((k * w * h // 64) % tl AS INT) + 1, 1)) ELSE 0 END)
      |      ELSE list_transform(range(0, 192), j ->
      |        (j + 1) * CASE WHEN tl > 0 THEN ascii(substr(text,
      |          CAST(((((j // 24) * h // 8) * w + ((j // 3) % 8) * w // 8) * 3 + j % 3) % tl AS INT) + 1, 1)) ELSE 0 END)
      |      END), 0) AS BIGINT) AS raster_check
      |  FROM d)
      |SELECT media_type, COUNT(*) AS n_media,
      |  CAST(SUM(orig_bytes) AS BIGINT) AS sum_orig_bytes,
      |  CAST(SUM(new_bytes) AS BIGINT) AS sum_new_bytes,
      |  MIN(rw) AS min_rw, MAX(rw) AS max_rw,
      |  MIN(rh) AS min_rh, MAX(rh) AS max_rh,
      |  CAST(SUM(raster_check) AS BIGINT) AS sum_raster_check
      |FROM f GROUP BY media_type""".stripMargin

  /** Video frame sampling verified through the container boundary: the
    * Spark side encodes a REAL concatenated-P6 multi-frame stream, walks
    * it back frame-by-frame, keeps every 2nd frame, and folds the kept
    * rasters with GLOBAL-position weights. The oracle predicts the same
    * fold from (doc_id, text) and the stream-layout arithmetic — a
    * mis-advanced frame boundary, an off-by-one frame count, or keeping
    * the wrong frames all hash-fail. */
  def frameSampleAgg(spark: SparkSession, dir: String): DataFrame =
    MediaPipeline.frameSample(
      MediaPipeline.encodedVideo(MediaPipeline.videoTable(spark, dir)))
      .groupBy(col("n_frames"))
      .agg(
        count(lit(1)).as("n_videos"),
        sum(col("total_bytes")).as("sum_bytes"),
        sum(col("n_sampled")).as("sum_sampled"),
        sum(col("sampled_check")).as("sum_sampled_check"))

  /** Stream layout: frame container = header (9 + digits(w) +
    * digits(h)) + 3wh raster; total = n_frames of those. Kept frames =
    * ⌈F/2⌉. Global raster byte g = text[g mod len], weight g+1, summed
    * over g in the even frames' spans. */
  val frameSampleSql: String =
    """WITH v AS (SELECT doc_id, text, len(text) AS tl,
      |    8 + doc_id % 24 AS w, 8 + doc_id % 16 AS h,
      |    2 + doc_id % 5 AS nf
      |  FROM documents WHERE doc_id % 3 = 2),
      |d AS (SELECT nf, tl, text, 3*w*h AS p,
      |    nf * (9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR)) + 3*w*h) AS total_bytes,
      |    (nf + 1) // 2 AS n_sampled
      |  FROM v),
      |f AS (SELECT nf, total_bytes, n_sampled,
      |    CAST(coalesce(list_sum(list_transform(range(0, nf*p), g ->
      |      CASE WHEN (g // p) % 2 = 0 THEN
      |        (g + 1) * (CASE WHEN tl > 0 THEN ascii(substr(text, CAST(g % tl AS INT) + 1, 1)) ELSE 0 END)
      |      ELSE 0 END)), 0) AS BIGINT) AS sampled_check
      |  FROM d)
      |SELECT nf AS n_frames, COUNT(*) AS n_videos,
      |  CAST(SUM(total_bytes) AS BIGINT) AS sum_bytes,
      |  CAST(SUM(n_sampled) AS BIGINT) AS sum_sampled,
      |  CAST(SUM(sampled_check) AS BIGINT) AS sum_sampled_check
      |FROM f GROUP BY nf""".stripMargin

  // ---- perceptual-hash image dedup ----

  /** Image NEAR-duplicate detection via aHash + Hamming-ball join —
    * multimodal dedup through the REAL codec boundary: images are
    * encoded into actual BMP containers, decoded back
    * ([[graft.multimodal.MediaPipeline.aHashMedia]]), perceptually
    * hashed (8×8 NN grayscale average-hash — pure integer arithmetic,
    * so every bit is oracle-predictable), and paired with the SAME 4×16
    * pigeonhole block join as [[LlmDedup.simhashNearDup]] (d ≤ 3 ⇒ ≥1
    * equal block; [[LlmDedup.SimBucketCap]] caps adversarial buckets
    * with the same recall contract, mirrored by the oracle).
    * Identical fingerprints (d = 0 — exact and near-exact re-encodes)
    * collapse to a min-id representative BEFORE pairing, the dedup
    * family's division-of-labor rule, with the clique size reported on
    * the representative's pairs. */
  /** Fingerprint census: one row per DISTINCT aHash (representative id +
    * clique size + the four 16-bit blocks). This is the entry that
    * hash-verifies every bit of every image's perceptual hash against
    * the oracle's symbolic prediction — [[phashDedup]]'s pair join can
    * legitimately be near-empty at small SFs (few images within Hamming
    * 3), so the census carries the cross-engine proof of the hash
    * itself. */
  def phashCensus(spark: SparkSession, dir: String): DataFrame =
    phashReps(spark, dir)

  /** Deterministic near-dup plant (the llm_pii_scrub injection
    * convention, applied here so the PAIR-JOIN gate row is non-vacuous
    * at every SF — the repo's rel_except lesson: a zero-row oracle
    * match also passes for any bug that yields empty). doc_id ≡ 0 and
    * ≡ 48 (mod 96) are both images (÷3) at w = h = 8 (÷48, the
    * lcm(24,16) dim cycle), so cell i of the 8×8 grid reads text bytes
    * 3i..3i+2 directly: "aaa…" grays every cell to 97 → all 64 bits
    * below-mean → fingerprint 0; "zzz" + "a"×189 lifts ONLY cell 0 to
    * 122 → exactly bit 0 set. The two rep groups sit at Hamming 1 —
    * inside the ball, above the d=0 collapse — and the oracle derives
    * the same two fingerprints symbolically from the same override. */
  private val PlantMod = 96L
  private val plantedText =
    when(col("doc_id") % PlantMod === 0, lit("a" * 192))
      .when(col("doc_id") % PlantMod === 48, lit("zzz" + "a" * 189))
      .otherwise(col("text"))

  private def phashReps(spark: SparkSession, dir: String): DataFrame = {
    val hashes = MediaPipeline.aHashes(MediaPipeline.encoded(
      MediaPipeline.mediaTable(spark, dir, plantedText)
        .filter(_.media_type == "image")))
      .toDF()
    hashes.groupBy(col("b0"), col("b1"), col("b2"), col("b3"))
      .agg(min(col("media_id")).as("media_id"), count(lit(1)).as("n_exact"))
  }

  def phashDedup(spark: SparkSession, dir: String): DataFrame = {
    val reps = phashReps(spark, dir)
    val keyed = reps
      .select(col("media_id"), col("n_exact"),
        col("b0"), col("b1"), col("b2"), col("b3"),
        posexplode(array(col("b0"), col("b1"), col("b2"), col("b3"))))
      .withColumnRenamed("pos", "k")
      .withColumnRenamed("col", "bval")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("k"), col("bval"))
    val idx = keyed
      .withColumn("bucket_n", count(lit(1)).over(w))
      .filter(col("bucket_n") <= LlmDedup.SimBucketCap)
      .drop("bucket_n")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ham = (0 until 4)
      .map(k => bit_count(col(s"x.b$k").bitwiseXOR(col(s"y.b$k"))))
      .reduce(_ + _)
    idx.as("x")
      .join(idx.as("y"),
        col("x.k") === col("y.k") && col("x.bval") === col("y.bval") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("media_a"), col("y.media_id").as("media_b"),
        ham.cast("long").as("hamming"),
        (col("x.n_exact") + col("y.n_exact")).as("clique_size"))
      .filter(col("hamming") <= LlmDedup.SimHamMax && col("hamming") > 0)
      .distinct()
  }

  /** Every aHash bit re-derived symbolically: gray cell i of image
    * (doc_id ≡ 0 mod 3) = (byte(base) + byte(base+1) + byte(base+2)) / 3
    * with base = ((⌊i/8⌋·h/8)·w + (i%8)·w/8)·3 and byte(k) =
    * text[k mod len]; bit i = gray_i·64 > Σgray. */
  /** Shared symbolic-fingerprint CTE chain (text → gray cells → bits →
    * blocks → representative collapse), used by both oracles so the
    * hash definition cannot diverge between census and pair join. */
  private val phashRepCte: String = {
    def block(k: Int): String =
      s"""CAST(list_sum(list_transform(range(0, 16), i ->
         |  CASE WHEN gr[CAST(${16 * k} + i AS INT) + 1] * 64 > s
         |       THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END)) AS BIGINT)""".stripMargin
    s"""m0 AS (SELECT doc_id AS media_id,
       |    CASE WHEN doc_id % $PlantMod = 0 THEN repeat('a', 192)
       |         WHEN doc_id % $PlantMod = 48 THEN 'zzz' || repeat('a', 189)
       |         ELSE text END AS text,
       |    8 + doc_id % 24 AS w, 8 + doc_id % 16 AS h
       |  FROM documents WHERE doc_id % 3 = 0),
       |m AS (SELECT media_id, text, len(text) AS tl, w, h FROM m0),
       |g AS (SELECT media_id, list_transform(range(0, 64), i ->
       |    (CASE WHEN tl > 0 THEN ascii(substr(text, CAST(((((i // 8) * h // 8) * w + ((i % 8) * w // 8)) * 3 + 0) % tl AS INT) + 1, 1)) ELSE 0 END
       |     + CASE WHEN tl > 0 THEN ascii(substr(text, CAST(((((i // 8) * h // 8) * w + ((i % 8) * w // 8)) * 3 + 1) % tl AS INT) + 1, 1)) ELSE 0 END
       |     + CASE WHEN tl > 0 THEN ascii(substr(text, CAST(((((i // 8) * h // 8) * w + ((i % 8) * w // 8)) * 3 + 2) % tl AS INT) + 1, 1)) ELSE 0 END
       |    ) // 3) AS gr
       |  FROM m),
       |gs AS (SELECT media_id, gr, CAST(list_sum(gr) AS BIGINT) AS s FROM g),
       |fp AS (SELECT media_id, ${block(0)} AS b0, ${block(1)} AS b1,
       |         ${block(2)} AS b2, ${block(3)} AS b3 FROM gs),
       |rep AS (SELECT MIN(media_id) AS media_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
       |          b0, b1, b2, b3 FROM fp GROUP BY b0, b1, b2, b3)""".stripMargin
  }

  val phashCensusSql: String =
    s"""WITH $phashRepCte
       |SELECT media_id, n_exact, b0, b1, b2, b3 FROM rep""".stripMargin

  val phashDedupSql: String = {
    val ham = (0 until 4).map(k => s"bit_count(xor(x.b$k, y.b$k))").mkString(" + ")
    s"""WITH $phashRepCte,
       |kx AS (SELECT media_id, n_exact, b0, b1, b2, b3, k,
       |         CASE k WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS bval
       |       FROM rep, unnest([0, 1, 2, 3]) AS u(k)),
       |hot AS (SELECT k, bval FROM kx GROUP BY k, bval
       |        HAVING COUNT(*) > ${LlmDedup.SimBucketCap}),
       |kf AS (SELECT kx.* FROM kx ANTI JOIN hot USING (k, bval))
       |SELECT DISTINCT x.media_id AS media_a, y.media_id AS media_b,
       |  CAST($ham AS BIGINT) AS hamming,
       |  CAST(x.n_exact + y.n_exact AS BIGINT) AS clique_size
       |FROM kf x JOIN kf y ON x.k = y.k AND x.bval = y.bval AND x.media_id < y.media_id
       |WHERE $ham BETWEEN 1 AND ${LlmDedup.SimHamMax}""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("mm_phash", phashCensus, phashCensusSql),
    Entry("mm_phash_dedup", phashDedup, phashDedupSql),
    Entry("mm_media_features", mediaFeatures, mediaFeaturesSql),
    Entry("mm_media_resize", mediaResize, mediaResizeSql),
    Entry("mm_frame_sample", frameSampleAgg, frameSampleSql))
}
