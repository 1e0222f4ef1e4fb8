package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal

/** Multimodal plumbing exercised end-to-end: binary payloads built
  * deterministically from `documents`, batch feature extraction via
  * mapPartitions, digest per kind. The DuckDB oracle mirrors the
  * byte arithmetic with ascii()/substr() over the (ASCII-only) text
  * the payloads were encoded from — so the whole binary path
  * (encode → mapPartitions → byte ops → agg) is value-checked. */
object MultimodalQ {
  import Tables._

  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    val blobs = Multimodal.mediaFromDocuments(documents(spark, dir))
    Multimodal.extractFeatures(blobs).toDF()
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_bytes")).as("sum_bytes"),
        sum(col("checksum")).as("sum_checksum"),
        sum(col("op_sum")).as("sum_op"),
        sum(col("meta_width")).as("sum_width"))
      .orderBy("kind")
  }

  val mediaFeaturesSql: String =
    """WITH d AS (
      |  SELECT doc_id, text,
      |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |      ELSE 'video' END AS kind
      |  FROM documents WHERE length(text) = strlen(text)),
      |f AS (
      |  SELECT doc_id, kind, strlen(text) AS n_bytes,
      |    list_sum(list_transform(range(1, length(text) + 1),
      |      i -> ascii(substr(text, i, 1)))) AS checksum,
      |    CASE kind
      |      WHEN 'image' THEN list_sum(list_transform(
      |        list_filter(range(1, length(text) + 1), i -> (i - 1) % 16 = 0),
      |        i -> ascii(substr(text, i, 1))))
      |      WHEN 'audio' THEN list_sum(list_transform(
      |        range(1, least(256, length(text)) + 1),
      |        i -> ascii(substr(text, i, 1))))
      |      ELSE list_sum(list_transform(
      |        list_filter(range(1, length(text) + 1), i -> (i - 1) % 100 = 0),
      |        i -> ascii(substr(text, i, 1))))
      |    END AS op_sum,
      |    CASE kind WHEN 'image' THEN 1 + ascii(substr(text, 1, 1)) % 64
      |      WHEN 'audio' THEN 0 ELSE 16 END AS meta_width
      |  FROM d)
      |SELECT kind, count(*) AS n,
      |  CAST(sum(n_bytes) AS BIGINT) AS sum_bytes,
      |  CAST(sum(checksum) AS BIGINT) AS sum_checksum,
      |  CAST(sum(op_sum) AS BIGINT) AS sum_op,
      |  CAST(sum(meta_width) AS BIGINT) AS sum_width
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  /** REAL image decode, value-checked: synthetic binary-PPM rasters
    * (one per nation key, [[Multimodal.syntheticPpm]]) flow through
    * the SAME mapPartitions feature extraction as q63, and the output
    * carries the decoder's parsed dimensions and per-image pixel sums.
    * The oracle regenerates header + pixels from the formula in SQL —
    * a header-grammar or plane-walk defect in [[Multimodal.decodePpm]]
    * breaks the hash. */
  def imageDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val blobs = nation(spark, dir)
      .select(col("n_nationkey").cast("long")).as[Long]
      .map(id =>
        Multimodal.MediaBlob(id, "image", Multimodal.syntheticPpm(id)))
    Multimodal.extractFeatures(blobs).toDF()
      .select(col("media_id"), col("ppm_w"), col("ppm_h"),
        col("n_bytes"), col("checksum"), col("ppm_sum_rgb"))
      .orderBy("media_id")
  }

  val imageDecodeSql: String =
    """WITH ids AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS media_id,
      |    4 + n_nationkey % 8 AS w, 3 + n_nationkey % 5 AS h
      |  FROM nation),
      |px AS (
      |  SELECT media_id, w, h,
      |    'P6' || chr(10) || CAST(w AS VARCHAR) || ' ' ||
      |      CAST(h AS VARCHAR) || chr(10) || '255' || chr(10) AS hdr,
      |    list_transform(range(0, w * h * 3),
      |      k -> (media_id * 7 + k * 13) % 256) AS pix
      |  FROM ids)
      |SELECT media_id, CAST(w AS INTEGER) AS ppm_w,
      |  CAST(h AS INTEGER) AS ppm_h,
      |  CAST(strlen(hdr) + w * h * 3 AS INTEGER) AS n_bytes,
      |  CAST(list_sum(list_transform(range(1, strlen(hdr) + 1),
      |    i -> ascii(substr(hdr, CAST(i AS INTEGER), 1))))
      |    + list_sum(pix) AS BIGINT) AS checksum,
      |  CAST(list_sum(pix) AS BIGINT) AS ppm_sum_rgb
      |FROM px ORDER BY media_id""".stripMargin

  /** Shared per-media-op scaffold: nation keys → one synthetic blob
    * per id → byte-level digest inside the mapPartitions batch shape
    * (one closure invocation per partition — where a real codec's init
    * cost would amortize) → named columns, ordered. Every per-nation
    * media query (q82/q83/q84) is this with a different digest
    * lambda. */
  private def mediaDigest[T <: Product : org.apache.spark.sql.Encoder](
      spark: SparkSession, dir: String, cols: Seq[String])(
      digest: Long => T): DataFrame = {
    import spark.implicits._
    nation(spark, dir)
      .select(col("n_nationkey").cast("long")).as[Long]
      .mapPartitions(_.map(digest))
      .toDF(("media_id" +: cols): _*)
      .orderBy("media_id")
  }

  /** REAL image resize, value-checked: the q81 synthetic rasters
    * nearest-neighbor-downsampled by 2 inside the same mapPartitions
    * batch shape ([[Multimodal.resizePpm]]: output pixel (ox, oy) =
    * source pixel (2ox, 2oy), dims = ceil(dim/2)). The oracle
    * recomputes every SAMPLED pixel from the generation formula via
    * the output→source index map — an off-by-one in the stride walk
    * or the ceil-dims breaks the hash. */
  def imageResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaDigest(spark, dir, Seq("rw", "rh", "r_sum_rgb")) { id =>
      val r = Multimodal.resizePpm(Multimodal.syntheticPpm(id), 2)
      (id, r.map(_.width).getOrElse(-1), r.map(_.height).getOrElse(-1),
        r.map(_.sumRgb).getOrElse(-1L))
    }
  }

  /** j-th output byte (j = (oy*rw + ox)*3 + c) maps to source pixel
    * byte k = ((oy*2)*w + ox*2)*3 + c; value = (id*7 + k*13) % 256. */
  val imageResizeSql: String =
    """WITH ids AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS media_id,
      |    4 + n_nationkey % 8 AS w, 3 + n_nationkey % 5 AS h
      |  FROM nation),
      |r AS (SELECT media_id, w, h,
      |        (w + 1) // 2 AS rw, (h + 1) // 2 AS rh FROM ids),
      |s AS (
      |  SELECT media_id, rw, rh,
      |    list_sum(list_transform(range(0, rw * rh * 3),
      |      j -> (media_id * 7 +
      |            (((j // (rw * 3)) * 2 * w + ((j % (rw * 3)) // 3) * 2) * 3
      |             + j % 3) * 13) % 256)) AS r_sum_rgb
      |  FROM r)
      |SELECT media_id, CAST(rw AS INTEGER) AS rw, CAST(rh AS INTEGER) AS rh,
      |  CAST(r_sum_rgb AS BIGINT) AS r_sum_rgb
      |FROM s ORDER BY media_id""".stripMargin

  /** REAL video frame sampling, value-checked: synthetic fixed-size
    * frame containers ([[Multimodal.syntheticVideo]]) sampled at
    * stride 2 ([[Multimodal.sampleFrames]]); the oracle recomputes the
    * kept frames' byte sum from the generation formula. */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaDigest(spark, dir, Seq("n_frames", "n_sampled", "sum_sampled")) {
      id =>
        val s = Multimodal.sampleFrames(Multimodal.syntheticVideo(id), 48, 2)
        (id, s.n_frames, s.n_sampled, s.sum_sampled)
    }
  }

  val frameSampleSql: String =
    """WITH ids AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS media_id,
      |    6 + n_nationkey % 5 AS nf
      |  FROM nation),
      |s AS (
      |  SELECT media_id, nf,
      |    list_sum(list_transform(range(0, nf * 48),
      |      k -> CASE WHEN (k // 48) % 2 = 0
      |        THEN (media_id * 11 + (k // 48) * 17 + (k % 48) * 19) % 256
      |        ELSE 0 END)) AS sum_sampled
      |  FROM ids)
      |SELECT media_id, CAST(nf AS INTEGER) AS n_frames,
      |  CAST((nf + 1) // 2 AS INTEGER) AS n_sampled,
      |  CAST(sum_sampled AS BIGINT) AS sum_sampled
      |FROM s ORDER BY media_id""".stripMargin

  /** REAL audio decode + energy windowing, value-checked: synthetic
    * little-endian int16 PCM clips ([[Multimodal.syntheticPcm]],
    * signed samples) decoded byte-level and windowed in 64-sample
    * windows ([[Multimodal.pcmWindowEnergy]]). The oracle recomputes
    * the per-window absolute-amplitude sums from the sample formula —
    * a sign-extension or little-endian defect in the PCM reassembly
    * breaks the hash. */
  def audioEnergy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaDigest(spark, dir,
      Seq("n_samples", "n_windows", "sum_abs", "max_window_abs")) { id =>
      val e = Multimodal.pcmWindowEnergy(Multimodal.syntheticPcm(id), 64)
      (id, e.n_samples, e.n_windows, e.sum_abs, e.max_window_abs)
    }
  }

  val audioEnergySql: String =
    """WITH ids AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS media_id,
      |    256 + (n_nationkey % 4) * 64 AS n
      |  FROM nation),
      |w AS (SELECT media_id, n, n // 64 AS nw FROM ids),
      |e AS (
      |  SELECT media_id, n, nw,
      |    list_transform(range(0, nw), wi ->
      |      list_sum(list_transform(range(wi * 64, wi * 64 + 64),
      |        s -> abs((media_id * 31 + s * 77) % 4096 - 2048)))) AS wins
      |  FROM w)
      |SELECT media_id, CAST(n AS INTEGER) AS n_samples,
      |  CAST(nw AS INTEGER) AS n_windows,
      |  CAST(list_sum(wins) AS BIGINT) AS sum_abs,
      |  CAST(list_max(wins) AS BIGINT) AS max_window_abs
      |FROM e ORDER BY media_id""".stripMargin

  /** q124: image CONTENT dedup — the multimodal sibling of q55:
    * rasters are fingerprinted on their DECODED pixel content
    * ([[Multimodal.ppmContentHash]]: poly hash over (w, h, pixel
    * bytes)), so duplicates group regardless of how the file arrived,
    * then the q55 keeper digest runs on the hash groups. The blob
    * builder seeds content by `media_id % 7`, so the 25 media ids
    * collapse to 7 distinct rasters (groups of 3 and 4) and every
    * digest arm is exercised.
    *
    * Scale shape: decode+hash runs in the mapPartitions batch stage
    * (per-blob byte loop — the codec shape); what crosses the shuffle
    * is (content_hash, media_id) pairs only, never raster bytes —
    * exactly q55's one-shuffle dedup geometry. The oracle regenerates
    * the rasters arithmetically and folds the identical polynomial in
    * SQL, so a decoder defect breaks the hash. */
  /** q186: PERCEPTUAL image dedup (dHash) — the near-dup sibling of
    * q124's exact content dedup: a brightness-shifted or re-encoded
    * copy has a different content hash but (mostly) the same 64-bit
    * difference-hash ([[Multimodal.ppmDHash]]: 9×8 integer-luminance
    * grid, horizontal-gradient bits). The blob builder makes this
    * measurable: 25 media ids = 7 base rasters × brightness shifts
    * (0/2/4/6, bytes wrapping mod 256), so exact hashing yields ~25
    * groups while dHash collapses each base's unwrapped variants.
    * Per (perceptual group size): group count, keeper sum, and the
    * DISTINCT-CONTENT sum — the count of exact-distinct rasters each
    * perceptual group merged, i.e. exactly what the perceptual pass
    * bought over q124.
    *
    * Scale shape: decode + dHash in the mapPartitions batch stage
    * (per-blob byte loop, the codec policy); the shuffle carries
    * (dhash, content_hash, media_id) triples only. Wrap-around
    * gradient flips are part of the deterministic arithmetic — the
    * oracle regenerates raster and hash from the formula, so the
    * grouping is checked value-for-value, not asserted. */
  def perceptualDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    nation(spark, dir)
      .select(col("n_nationkey").cast("long")).as[Long]
      .mapPartitions(_.map { id =>
        val blob = Multimodal.syntheticPpmVariant(id % 7, (id / 7) * 2)
        (id,
          Multimodal.ppmDHash(blob).getOrElse(-1L),
          Multimodal.ppmContentHash(blob).getOrElse(-1L))
      })
      .toDF("media_id", "dhash", "content_hash")
      .groupBy(col("dhash"))
      .agg(min(col("media_id")).as("keeper"),
        count(lit(1)).as("group_size"),
        expr("count(distinct content_hash)").as("n_contents"))
      .groupBy(col("group_size"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("keeper")).as("sum_keepers"),
        sum(col("n_contents")).as("sum_contents"),
        expr("bit_xor(dhash)").as("dhash_digest"))
      .orderBy("group_size")
  }

  val perceptualDedupSql: String = {
    // lum(gx, gy) computed straight from the generator formula —
    // px[k] = (base*7 + k*13 + shift) % 256, k = ((sy*w + sx)*3 + c)
    def lum(gx: String): String =
      s"""list_sum(list_transform(range(0, 3), c ->
         |  (base * 7 + ((((gy * h) // 8) * w + (($gx * w) // 9)) * 3 + c)
         |     * 13 + shift) % 256))""".stripMargin
    s"""WITH ids AS (
       |  SELECT CAST(n_nationkey AS BIGINT) AS media_id,
       |    n_nationkey % 7 AS base, (n_nationkey // 7) * 2 AS shift
       |  FROM nation),
       |d AS (SELECT media_id, base, shift,
       |        4 + base % 8 AS w, 3 + base % 5 AS h
       |      FROM ids),
       |hb AS (
       |  SELECT media_id, base, shift, w, h,
       |    -- bit 63 contributes -2^63 (two's complement): the Scala
       |    -- kernel ORs 1L << 63 into a signed long, and disjoint
       |    -- bits make OR == SUM; a plain BIGINT 1 << 63 overflows
       |    CAST(list_sum(flatten(list_transform(range(0, 8), gy ->
       |      list_transform(range(0, 8), gx ->
       |        CASE WHEN ${lum("gx")} > ${lum("(gx + 1)")}
       |          THEN (CASE WHEN gy * 8 + gx = 63
       |                THEN (-9223372036854775808)::HUGEINT
       |                ELSE (1::HUGEINT << (gy * 8 + gx)) END)
       |          ELSE 0::HUGEINT END))))
       |      AS BIGINT) AS dhash,
       |    list_reduce(
       |      list_prepend(0::BIGINT,
       |        list_concat([w::BIGINT, h::BIGINT],
       |          list_transform(range(0, w * h * 3),
       |            k -> (base * 7 + k * 13 + shift) % 256))),
       |      (acc, v) -> (acc * 131 + v) % 1000000007) AS content_hash
       |  FROM d),
       |g AS (
       |  SELECT dhash, min(media_id) AS keeper, count(*) AS group_size,
       |    count(DISTINCT content_hash) AS n_contents
       |  FROM hb GROUP BY 1)
       |SELECT group_size, count(*) AS n_groups,
       |  CAST(sum(keeper) AS BIGINT) AS sum_keepers,
       |  CAST(sum(n_contents) AS BIGINT) AS sum_contents,
       |  bit_xor(dhash) AS dhash_digest
       |FROM g GROUP BY 1 ORDER BY 1""".stripMargin
  }

  def imageDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    nation(spark, dir)
      .select(col("n_nationkey").cast("long")).as[Long]
      .mapPartitions(_.map { id =>
        val ch = Multimodal.ppmContentHash(
          Multimodal.syntheticPpm(id % 7)).getOrElse(-1L)
        (id, ch)
      })
      .toDF("media_id", "content_hash")
      .groupBy(col("content_hash"))
      .agg(min(col("media_id")).as("keeper"),
        count(lit(1)).as("group_size"))
      .groupBy(col("group_size"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("keeper")).as("sum_keepers"),
        expr("bit_xor(content_hash)").as("hash_digest"))
      .orderBy("group_size")
  }

  val imageDedupSql: String =
    """WITH ids AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS media_id,
      |    n_nationkey % 7 AS s
      |  FROM nation),
      |px AS (
      |  SELECT media_id, 4 + s % 8 AS w, 3 + s % 5 AS h,
      |    list_transform(range(0, (4 + s % 8) * (3 + s % 5) * 3),
      |      k -> (s * 7 + k * 13) % 256) AS pix
      |  FROM ids),
      |ch AS (
      |  SELECT media_id,
      |    list_reduce(
      |      list_prepend(0::BIGINT,
      |        list_concat([w::BIGINT, h::BIGINT],
      |          list_transform(pix, x -> x::BIGINT))),
      |      (acc, v) -> (acc * 131 + v) % 1000000007) AS content_hash
      |  FROM px),
      |g AS (SELECT content_hash, min(media_id) AS keeper,
      |        count(*) AS group_size
      |      FROM ch GROUP BY 1)
      |SELECT group_size, count(*) AS n_groups,
      |  CAST(sum(keeper) AS BIGINT) AS sum_keepers,
      |  bit_xor(content_hash) AS hash_digest
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  /** q161: REAL JPEG/PNG decode via the JDK's ImageIO codecs — the
    * production-format closure of q81's PPM path. Per nation id, the
    * shared synthetic raster formula is ENCODED to real PNG and JPEG
    * containers ([[Multimodal.encodeImage]]) and decoded back through
    * [[Multimodal.decodeImage]] inside the same mapPartitions batch
    * shape. PNG is lossless, so its decoded dims + per-channel pixel
    * sums must equal the formula EXACTLY (the oracle restates the
    * generation rule in SQL — any defect in the encode→decode chain
    * breaks the hash). JPEG is lossy: dims are exact; pixel sums are
    * checked against the exact raster within a stated mean-deviation
    * band and the BOOLEAN is what both engines state (the q22/q69
    * sketch-band pattern), with the tightness spec'd numerically in
    * MultimodalSpec. */
  def imageioDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaDigest(spark, dir,
      Seq("png_w", "png_h", "png_sum_rgb", "jpeg_w", "jpeg_h",
        "jpeg_within_band")) { id =>
      val png = Multimodal.decodeImage(Multimodal.encodeImage(id, "png"))
        .getOrElse(sys.error(s"PNG round-trip failed for id=$id"))
      val jpg = Multimodal.decodeImage(Multimodal.encodeImage(id, "jpg"))
        .getOrElse(sys.error(s"JPEG round-trip failed for id=$id"))
      // mean abs per-channel-sum deviation per pixel-channel: JPEG at
      // the JDK writer's default quality stays well inside this on
      // every fixture (MultimodalSpec pins the measured max).
      val dev = (math.abs(jpg.sumR - png.sumR) + math.abs(jpg.sumG - png.sumG)
        + math.abs(jpg.sumB - png.sumB)).toDouble /
        (png.width.toLong * png.height * 3)
      (id, png.width, png.height, png.sumRgb, jpg.width, jpg.height,
        dev <= 32.0)
    }
  }

  val imageioDecodeSql: String =
    """WITH ids AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS media_id,
      |    4 + n_nationkey % 8 AS w, 3 + n_nationkey % 5 AS h
      |  FROM nation)
      |SELECT media_id,
      |  CAST(w AS INTEGER) AS png_w, CAST(h AS INTEGER) AS png_h,
      |  CAST(list_sum(list_transform(range(0, w * h * 3),
      |    k -> (media_id * 7 + k * 13) % 256)) AS BIGINT) AS png_sum_rgb,
      |  CAST(w AS INTEGER) AS jpeg_w, CAST(h AS INTEGER) AS jpeg_h,
      |  TRUE AS jpeg_within_band
      |FROM ids ORDER BY media_id""".stripMargin

  /** q169: REAL WAV-container decode via `javax.sound.sampled` — the
    * production-format closure of q84's raw-PCM path, exactly as q161
    * closed q81's PPM path with ImageIO. Per nation id, the shared
    * PCM sample formula is wrapped in an actual RIFF/WAV container
    * ([[Multimodal.encodeWav]]) and decoded back through
    * [[Multimodal.decodeWavAudio]] inside the mapPartitions batch
    * shape; the decoded stream then runs the SAME 64-sample energy
    * windowing as q84. WAV is lossless PCM, so the container header
    * fields (rate rule, mono) and every energy figure must match the
    * formula EXACTLY — the oracle restates both in SQL, and any
    * defect in the header parse, sample-width normalization, or
    * little-endian reassembly breaks the hash. */
  def wavDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaDigest(spark, dir,
      Seq("sample_rate", "channels", "n_samples", "n_windows", "sum_abs",
        "max_window_abs")) { id =>
      val wav = Multimodal.decodeWavAudio(Multimodal.encodeWav(id))
        .getOrElse(sys.error(s"WAV round-trip failed for id=$id"))
      val e = Multimodal.pcmWindowEnergy(wav.pcm, 64)
      (id, wav.sampleRate, wav.channels, e.n_samples, e.n_windows,
        e.sum_abs, e.max_window_abs)
    }
  }

  val wavDecodeSql: String =
    """WITH ids AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS media_id,
      |    256 + (n_nationkey % 4) * 64 AS n
      |  FROM nation),
      |w AS (SELECT media_id, n, n // 64 AS nw FROM ids),
      |e AS (
      |  SELECT media_id, n, nw,
      |    list_transform(range(0, nw), wi ->
      |      list_sum(list_transform(range(wi * 64, wi * 64 + 64),
      |        s -> abs((media_id * 31 + s * 77) % 4096 - 2048)))) AS wins
      |  FROM w)
      |SELECT media_id,
      |  CAST(8000 + (media_id % 4) * 8000 AS INTEGER) AS sample_rate,
      |  CAST(1 AS INTEGER) AS channels,
      |  CAST(n AS INTEGER) AS n_samples,
      |  CAST(nw AS INTEGER) AS n_windows,
      |  CAST(list_sum(wins) AS BIGINT) AS sum_abs,
      |  CAST(list_max(wins) AS BIGINT) AS max_window_abs
      |FROM e ORDER BY media_id""".stripMargin

  val all: Map[String, Query] = Map(
    "q63_media_features" -> Query(mediaFeatures, mediaFeaturesSql),
    "q81_image_decode" -> Query(imageDecode, imageDecodeSql),
    "q82_image_resize" -> Query(imageResize, imageResizeSql),
    "q83_frame_sample" -> Query(frameSample, frameSampleSql),
    "q84_audio_energy" -> Query(audioEnergy, audioEnergySql),
    "q124_image_dedup" -> Query(imageDedup, imageDedupSql),
    "q186_perceptual_dedup" -> Query(perceptualDedup, perceptualDedupSql),
    "q161_imageio_decode" -> Query(imageioDecode, imageioDecodeSql),
    "q169_wav_decode" -> Query(wavDecode, wavDecodeSql)
  )
}
