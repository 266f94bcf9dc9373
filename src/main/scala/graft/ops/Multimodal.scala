package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Memo, Q, Tables}
import graft.functions.ByteHistogram16.byte_histogram16
import graft.functions.exprs.poly_hash

/** Multimodal columns: image/audio/video as opaque `binary` payloads with
  * typed metadata. The Spark-side plumbing — schema, typed Dataset,
  * batch-shaped mapPartitions decode (the Scala analog of mapInPandas),
  * codegen'd feature extraction, frame sampling — is real and tested.
  *
  * Codec inventory: images go through REAL codecs — compressed PNG/JPEG via
  * the JDK's bundled `javax.imageio` (headless-safe) and uncompressed BMP
  * via a byte-level parser below; audio through a real WAV/PCM parser
  * (cross-validated against `javax.sound.sampled` in MultimodalSpec); the
  * video-class multi-frame path through THREE real containers — animated
  * GIF (sequence write + per-frame LZW decode), hand-rolled MJPEG-in-AVI
  * (RIFF chunk tree around real ImageIO JPEG frames), and JPEG-PES over
  * MPEG-TS (full 13818-1 demux: PAT/PMT walk, MPEG CRC-32, continuity
  * counters, PES reassembly). Only H.264-class BITSTREAM decode remains a
  * clearly marked deterministic STUB: the JDK ships no such codec and the
  * container has no ffmpeg.
  *
  * For the stub-backed queries the synthetic payload is the UTF-8 encoding
  * of `documents.text`, so the oracle can recompute every decoded value
  * from `length(text)` arithmetic while the engine goes through the actual
  * binary path.
  */
object Multimodal {

  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])
  case class DecodedMedia(media_id: Long, kind: String, payload: Array[Byte],
      width: Int, height: Int, sample_rate: Int, n_frames: Int)

  /** documents → opaque media rows (binary payload + modality tag). */
  def encode(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("payload"))

  /** STUB media decoder — now needed only for MP4/H.264-CLASS payloads (no
    * such codec exists in the JDK or this container; images, audio, and
    * the multi-frame video-class path have real codecs below: ImageIO
    * PNG/JPEG/animated-GIF, hand-rolled MJPEG-in-AVI, byte-level BMP/WAV).
    * Header fields derive deterministically from the payload length. The
    * mapPartitions shape — one decoder instance per partition, streaming
    * batches of rows — is the production layout.
    */
  def decodeStub(media: Dataset[MediaRow]): Dataset[DecodedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition "codec handle" — stands in for an expensive native init
      val codecReady = true
      it.map { m =>
        require(codecReady)
        val len = m.payload.length
        DecodedMedia(m.media_id, m.kind, m.payload,
          width = 16 + len % 64,
          height = (16 + (len.toLong * 7) % 64).toInt, // long: no wrap at ~307MB payloads
          sample_rate = 8000 + (len % 3) * 4000,
          n_frames = 1 + len % 30)
      }
    }
  }

  private def decoded(spark: SparkSession, sfDir: String): Dataset[DecodedMedia] = {
    import spark.implicits._
    decodeStub(encode(spark, sfDir).as[MediaRow])
  }

  // ---- REAL pure-JVM codecs: BMP (image) and WAV/PCM (audio) ------------
  //
  // These two formats are plain byte arithmetic — no codec library needed —
  // so unlike the JPEG/MP4-class stub above, this path builds genuine file
  // bytes and genuinely parses them back. Construction parameters derive
  // from doc_id alone, so the DuckDB oracle recomputes every decoded value
  // arithmetically while the engine must actually walk the binary format
  // (headers verified, padding skipped, samples read as little-endian
  // int16). Real-format references: BMP = BITMAPFILEHEADER(14) +
  // BITMAPINFOHEADER(40) + 24bpp rows padded to 4 bytes; WAV = RIFF/WAVE +
  // 16-byte PCM fmt chunk + data chunk (public, ubiquitous specs).

  case class RealMedia(media_id: Long, kind: String, payload: Array[Byte])
  case class AudioFrame(media_id: Long, frame: Int, n_smp: Int,
      energy: Long, zero_cross: Int, peak: Long)
  case class RealDecoded(media_id: Long, kind: String,
      width: Option[Int], height: Option[Int],
      sample_rate: Option[Int], n_samples: Option[Int],
      file_size: Int, content_sum: Long)

  def bmpBytes(id: Long): Array[Byte] = {
    val w = (4 + id % 8).toInt; val h = (2 + id % 5).toInt
    val rowSize = ((w * 3 + 3) / 4) * 4
    val size = 54 + h * rowSize
    val bb = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(size)
      .putShort(0).putShort(0).putInt(54)        // reserved, pixel offset
    bb.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(h * rowSize).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)                       // 72 dpi; no palette
    var k = 0
    (0 until h).foreach { _ =>
      var x = 0
      while (x < w) {
        val v = ((id + k) % 256).toByte
        bb.put(v).put(v).put(v); k += 1; x += 1
      }
      var pad = rowSize - w * 3
      while (pad > 0) { bb.put(0.toByte); pad -= 1 }
    }
    bb.array()
  }

  def wavBytes(id: Long): Array[Byte] = {
    val rate = (8000 + (id % 3) * 4000).toInt
    val n = (100 + id % 50).toInt
    val bb = java.nio.ByteBuffer.allocate(44 + n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + n * 2)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(1)
      .putInt(rate).putInt(rate * 2).putShort(2).putShort(16) // PCM mono 16-bit
    bb.put("data".getBytes("US-ASCII")).putInt(n * 2)
    (0 until n).foreach(i => bb.putShort(((id + i * 7) % 2003 - 1001).toShort))
    bb.array()
  }

  // ---- REAL compressed-image codec via the JDK (javax.imageio) ----------
  //
  // JDK 17 bundles PNG and JPEG ImageReaders/ImageWriters that work
  // headless — verified in this container. Pixel values are a deterministic
  // gray ramp of doc_id (the same ramp the BMP builder uses), so the DuckDB
  // oracle recomputes the decoded pixel sum arithmetically while the engine
  // drives a genuine compressed-format encoder AND decoder per row. PNG is
  // lossless → exact round-trip oracle; JPEG is lossy → dimensions are
  // exact but pixels only approximate (asserted with tolerance in
  // MultimodalSpec, kept out of the hash-compared oracle).

  /** Deterministic w×h gray ramp: pixel k (row-major) = (id + k) % 256 on
    * all three channels. TYPE_3BYTE_BGR (not TYPE_BYTE_GRAY) so the PNG is
    * truecolor and decode returns the exact sRGB bytes we wrote — a gray
    * color space would round-trip through a gamma conversion.
    */
  private def rampImage(id: Long): java.awt.image.BufferedImage = {
    val w = (4 + id % 8).toInt; val h = (2 + id % 5).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    var k = 0; var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = ((id + k) % 256).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v); k += 1; x += 1
      }
      y += 1
    }
    img
  }

  /** Encode the ramp through a real ImageIO writer ("png" or "jpg"). */
  def imageBytes(id: Long, format: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ok = javax.imageio.ImageIO.write(rampImage(id), format, bos)
    require(ok, s"no ImageIO writer for $format")
    bos.toByteArray
  }

  /** documents → one `kind` payload per doc id. `encoder` runs once per
    * partition (so a writer it opens serves the whole partition, with
    * ImageIO's disk cache off: in-memory, no /tmp spill) and returns the
    * per-id encode.
    */
  private def encodeDocs(spark: SparkSession, sfDir: String, kind: String)(
      encoder: () => Long => Array[Byte]): Dataset[RealMedia] = {
    import spark.implicits._
    Tables.spread(Tables.documents(spark, sfDir).select("doc_id")).as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        val enc = encoder()
        it.map(id => RealMedia(id, kind, enc(id)))
      }
  }

  /** Σ(r+g+b) over a decoded raster. */
  private def rgbSum(img: java.awt.image.BufferedImage): Long = {
    var sum = 0L; var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
        x += 1
      }
      y += 1
    }
    sum
  }

  /** documents → genuine PNG file bytes (every doc). */
  def encodePng(spark: SparkSession, sfDir: String): Dataset[RealMedia] =
    encodeDocs(spark, sfDir, "png")(() => imageBytes(_, "png"))

  /** Decode arbitrary image bytes through the JDK's real ImageIO readers
    * (PNG/JPEG/BMP/GIF). Unrecognizable or truncated payloads quarantine as
    * kind = "invalid" (ImageIO.read returns null / throws IOException)
    * rather than failing the task — same PERMISSIVE posture as
    * [[decodeReal]]. content_sum = Σ(r+g+b) over the actual decoded raster.
    */
  def decodeImageIO(media: Dataset[RealMedia]): Dataset[RealDecoded] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { m =>
        val p = m.payload
        def invalid = RealDecoded(m.media_id, "invalid", None, None, None, None,
          p.length, 0L)
        try {
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
          if (img == null) invalid
          else RealDecoded(m.media_id, m.kind, Some(img.getWidth),
            Some(img.getHeight), None, None, p.length, rgbSum(img))
        } catch { case _: java.io.IOException => invalid }
      }
    }
  }

  // ---- Perceptual image dedup: dHash over decoded luma ------------------
  //
  // Difference hash (dHash — Krawetz's DCT-free perceptual fingerprint,
  // public knowledge; the gradient variant of Niu & Jiao's average hash
  // family): resample the decoded luma raster to a 9×8 grid, emit one bit
  // per horizontally-adjacent comparison → a 64-bit code whose Hamming
  // distance survives re-encoding, scaling and small retouches. This
  // connects the multimodal plane to the similarity plane: the codes ride
  // the SAME parametric MIH engine (Similarity.mihPairsChunked) as the
  // embedding sign codes — 4 chunks of 16 bits, per-chunk radius
  // [[DhashTau]]/4 = 2, 137 probe masks per chunk, candidate work
  // Θ(n·chunks·masks) instead of n². The corpus is a REAL codec
  // round-trip: each document renders
  // to a genuine PNG (deterministic grayscale raster, one in five images
  // a retouched copy of its predecessor — a sparse pixel stripe shifted),
  // and the engine's code is computed from the ImageIO-DECODED pixels
  // while the oracle recomputes it from the generative arithmetic — green
  // proves encode → real PNG decode → resample → hash, end to end.
  // Measured at sf0.1: retouched pairs land at Hamming 0–6 (avg 2.1),
  // the background ramp starts at 9 — τ = 8 sits in the valley.

  /** Hamming radius for the perceptual pair search. Chunk geometry is
    * corpus-sized via `Similarity.mihChunksFor(n, 64, τ)` (3 wide
    * chunks, per-chunk radius 2, at measured fixture-to-250k counts),
    * not fixed here.
    */
  final val DhashTau = 8

  case class DhashCode(media_id: Long, dlo: Long, dhi: Long)

  /** Deterministic grayscale pixel of the perceptual-family image:
    * quadratic congruential mixing of (base id, pixel index) — enough
    * entropy that unrelated images land at background Hamming distance —
    * plus, for retouched copies, a +97 shift on the k ≡ 0 (mod 29) pixel
    * stripe (~3% of pixels: a visible-but-small edit).
    */
  private[graft] def percPixel(b: Long, k: Long, pert: Boolean): Int =
    ((((b * 131 + 31 * k + ((b + k) * (b + k)) % 257) % 256)
      + (if (pert && k % 29 == 0) 97 else 0)) % 256).toInt

  private def percImage(id: Long): java.awt.image.BufferedImage = {
    val b = if (id % 5 == 1) id - 1 else id
    val pert = id % 5 == 1
    val w = (16 + b % 7).toInt; val h = (12 + b % 5).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = percPixel(b, y.toLong * w + x, pert)
        img.setRGB(x, y, (v << 16) | (v << 8) | v); x += 1
      }
      y += 1
    }
    img
  }

  /** One perceptual-family raster as genuine PNG bytes. */
  private[graft] def percPngBytes(id: Long): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(percImage(id), "png", bos),
      "no PNG writer")
    bos.toByteArray
  }

  /** documents → genuine PNG bytes of the perceptual-family raster. */
  def encodePerc(spark: SparkSession, sfDir: String): Dataset[RealMedia] =
    encodeDocs(spark, sfDir, "png")(() => percPngBytes(_))

  /** 64-bit dHash of a DECODED raster: nearest-neighbor 9×8 luma grid
    * (sx = gx·w div 9, sy = gy·h div 8 — integer resample, so the code is
    * integer-exact and oracle-checkable), bit (gy·8+gx) set iff
    * luma(gy,gx) < luma(gy,gx+1); split into two 32-bit words for the
    * parametric MIH engine (the signCodes layout).
    */
  private[graft] def dhashOf(img: java.awt.image.BufferedImage): (Long, Long) = {
    val w = img.getWidth; val h = img.getHeight
    var lo = 0L; var hi = 0L
    var gy = 0
    while (gy < 8) {
      val sy = gy * h / 8
      var gx = 0
      while (gx < 8) {
        val va = (img.getRGB(gx * w / 9, sy) >> 16) & 0xff
        val vb = (img.getRGB((gx + 1) * w / 9, sy) >> 16) & 0xff
        if (va < vb) {
          val i = gy * 8 + gx
          if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
        }
        gx += 1
      }
      gy += 1
    }
    (lo, hi)
  }

  /** Per-image dHash codes from real PNG decode. A payload OUR encoder
    * produced failing to decode is a bug, not dirty input — fail loudly
    * (the quarantine posture is for foreign bytes).
    */
  def dhashCodes(media: Dataset[RealMedia]): Dataset[DhashCode] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { m =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(m.payload))
        require(img != null, s"perceptual PNG ${m.media_id} failed to decode")
        val (lo, hi) = dhashOf(img)
        DhashCode(m.media_id, lo, hi)
      }
    }
  }

  case class PercCodes(media_id: Long,
      dlo: Long, dhi: Long, alo: Long, ahi: Long)

  /** 64-bit average hash (aHash — the mean-threshold member of Krawetz's
    * perceptual family, beside dHash's gradient member): 8×8
    * nearest-neighbor luma samples (sx = gx·w div 8, sy = gy·h div 8 —
    * the same integer resample discipline as [[dhashOf]]), bit (gy·8+gx)
    * set iff sample·64 > Σ samples. The mean threshold is decided by
    * integer cross-multiplication, never a float mean, so the code from
    * DECODED pixels equals the closed-form oracle exactly.
    */
  private[graft] def ahashOf(img: java.awt.image.BufferedImage): (Long, Long) = {
    val w = img.getWidth; val h = img.getHeight
    val v   = new Array[Long](64)
    var sum = 0L
    var gy  = 0
    while (gy < 8) {
      val sy = gy * h / 8
      var gx = 0
      while (gx < 8) {
        val p = ((img.getRGB(gx * w / 8, sy) >> 16) & 0xff).toLong
        v(gy * 8 + gx) = p
        sum += p
        gx += 1
      }
      gy += 1
    }
    var lo = 0L; var hi = 0L
    var i  = 0
    while (i < 64) {
      if (v(i) * 64L > sum) {
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
      }
      i += 1
    }
    (lo, hi)
  }

  // ---- memoized perceptual code frame (round 15) ------------------------
  private val memo = new Memo[String, DataFrame]

  /** Both perceptual code families for the corpus, encoded+decoded ONCE
    * and cached: five declared queries (dhash codes / MIH pairs, ahash
    * codes, the agreement report, perceptual ingest) each re-ran the PNG
    * codec round-trip per plan reference before (the agreement query's
    * plan alone held it 3×). dhashCodes computes the identical dhashOf
    * values and the ahash columns are ahashOf's, so selecting the
    * family's columns from this frame is value-identical
    * (oracle-hash-checked).
    */
  private[graft] def percCodesFrame(s: SparkSession, dir: String): DataFrame =
    memo(s, dir)(percCodes(encodePerc(s, dir)).toDF().cache())

  def clearCaches(s: SparkSession): Unit = memo.clear(s)
  def cacheCount(s: SparkSession): Int = memo.count(s)

  /** Both perceptual codes from ONE decode pass — the agreement query
    * never decodes a payload twice.
    */
  def percCodes(media: Dataset[RealMedia]): Dataset[PercCodes] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { m =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(m.payload))
        require(img != null, s"perceptual PNG ${m.media_id} failed to decode")
        val (dlo, dhi) = dhashOf(img)
        val (alo, ahi) = ahashOf(img)
        PercCodes(m.media_id, dlo, dhi, alo, ahi)
      }
    }
  }

  /** Batch core of the perceptual INGEST twin: per incoming image, decode
    * → dHash → count frozen-index codes within [[DhashTau]] — a re-upload
    * or retouch of an indexed image scores ≥ 1 (drop it), fresh content
    * scores 0 (keep). Decisions depend only on (image, frozen index) —
    * never on batch peers or arrival order — so batch ≡ stream by
    * construction (StreamingSpec asserts it on an out-of-order
    * multi-trigger feed). Candidates ride the cross-frame sized-MIH join
    * ([[Similarity.mihJoinChunked]]): per-trigger cost is
    * batch-proportional, the index partitions on (chunk, key).
    */
  def percIngestScoreCodes(indexCodes: DataFrame, inCodes: DataFrame,
      nIndex: Long): DataFrame = {
    val m = Similarity.mihChunksFor(math.max(nIndex, 2L), 64, DhashTau)
    val matches = Similarity.mihJoinChunked(
        inCodes.withColumnRenamed("media_id", "vec_id"),
        indexCodes.withColumnRenamed("media_id", "vec_id"),
        Seq("dlo", "dhi"), DhashTau, m)
      .groupBy(col("p_id").as("media_id"))
      .agg(count(lit(1)).as("nm"))
    inCodes.select("media_id")
      .join(matches, Seq("media_id"), "left")
      .select(col("media_id"),
        coalesce(col("nm"), lit(0L)).as("n_index_matches"))
      .withColumn("is_novel", col("n_index_matches") === 0L)
  }

  /** [[percIngestScoreCodes]] from raw media payloads (one decode pass). */
  def percIngestScore(indexCodes: DataFrame, incoming: Dataset[RealMedia],
      nIndex: Long): DataFrame =
    percIngestScoreCodes(indexCodes, dhashCodes(incoming).toDF(), nIndex)

  /** The generative-family prefix shared by every perceptual-code oracle:
    * which base image each document renders, whether it is the retouched
    * copy, and its raster dimensions.
    */
  private def percPrefixSql: String =
    """WITH pm AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 5 = 1 THEN doc_id - 1 ELSE doc_id END AS b,
      |         (doc_id % 5 = 1) AS pert
      |  FROM documents),
      |pg AS (
      |  SELECT doc_id, b, pert,
      |         CAST(16 + b % 7 AS BIGINT) AS w,
      |         CAST(12 + b % 5 AS BIGINT) AS h
      |  FROM pm)""".stripMargin

  /** The closed-form dHash-code SQL shared by both perceptual oracles:
    * recomputes the grid comparisons from the generative pixel arithmetic
    * (the engine computes them from decoded PNG pixels).
    */
  private def dhashCodesSql: String = percPrefixSql + ",\n" +
    """gp AS (
      |  SELECT doc_id, b, pert, w, CAST(i AS BIGINT) AS i,
      |         ((i // 8) * h) // 8 AS sy,
      |         ((i % 8) * w) // 9 AS sxa,
      |         (((i % 8) + 1) * w) // 9 AS sxb
      |  FROM pg, range(0, 64) t(i)),
      |kv AS (
      |  SELECT doc_id, i, b, pert,
      |         sy * w + sxa AS ka, sy * w + sxb AS kb
      |  FROM gp),
      |pv AS (
      |  SELECT doc_id, i,
      |         ((b*131 + 31*ka + ((b+ka)*(b+ka)) % 257) % 256
      |          + CASE WHEN pert AND ka % 29 = 0 THEN 97 ELSE 0 END) % 256 AS va,
      |         ((b*131 + 31*kb + ((b+kb)*(b+kb)) % 257) % 256
      |          + CASE WHEN pert AND kb % 29 = 0 THEN 97 ELSE 0 END) % 256 AS vb
      |  FROM kv),
      |dcodes AS (
      |  SELECT doc_id AS media_id,
      |         CAST(sum(CASE WHEN i < 32 AND va < vb
      |                  THEN 1::BIGINT << i ELSE 0 END) AS BIGINT) AS dlo,
      |         CAST(sum(CASE WHEN i >= 32 AND va < vb
      |                  THEN 1::BIGINT << (i - 32) ELSE 0 END) AS BIGINT) AS dhi
      |  FROM pv GROUP BY doc_id)""".stripMargin

  /** Closed-form aHash CTEs (appended after [[percPrefixSql]] or
    * [[dhashCodesSql]]): 8×8 nearest-neighbor samples, mean threshold
    * decided by integer cross-multiplication (v·64 > Σv — never a float
    * mean), mirroring [[ahashOf]] bit for bit.
    */
  private def ahashCtesSql: String =
    """,
      |ag AS (
      |  SELECT doc_id, b, pert, w, CAST(i AS BIGINT) AS i,
      |         ((i // 8) * h) // 8 AS sy,
      |         ((i % 8) * w) // 8 AS sx
      |  FROM pg, range(0, 64) t(i)),
      |apv AS (
      |  SELECT doc_id, i,
      |         ((b*131 + 31*(sy*w+sx) + ((b+sy*w+sx)*(b+sy*w+sx)) % 257) % 256
      |          + CASE WHEN pert AND (sy*w+sx) % 29 = 0 THEN 97 ELSE 0 END)
      |           % 256 AS v
      |  FROM ag),
      |asum AS (SELECT doc_id, CAST(sum(v) AS BIGINT) AS s
      |         FROM apv GROUP BY doc_id),
      |acodes AS (
      |  SELECT p.doc_id AS media_id,
      |         CAST(sum(CASE WHEN i < 32 AND v * 64 > s
      |                  THEN 1::BIGINT << i ELSE 0 END) AS BIGINT) AS alo,
      |         CAST(sum(CASE WHEN i >= 32 AND v * 64 > s
      |                  THEN 1::BIGINT << (i - 32) ELSE 0 END) AS BIGINT) AS ahi
      |  FROM apv p JOIN asum USING (doc_id) GROUP BY p.doc_id)""".stripMargin

  // ---- REAL multi-frame container: animated GIF via ImageIO -------------
  //
  // The JDK's GIF writer/reader handles SEQUENCES (writeToSequence /
  // getNumImages), so the video-class operation — per-frame decode and
  // fingerprinting out of one container payload — runs against a genuine
  // multi-frame format, not a stub. Frames are TYPE_BYTE_INDEXED over an
  // explicit 256-gray IndexColorModel: GIF is palette-based, and with the
  // palette pinned the round-trip is bit-exact (the default RGB path would
  // quantize to the web-safe palette). Only MP4-class codecs remain out of
  // reach (nothing in the JDK decodes them).

  private val grayPalette: java.awt.image.IndexColorModel = {
    val g = Array.tabulate[Byte](256)(_.toByte)
    new java.awt.image.IndexColorModel(8, 256, g, g, g)
  }

  private def gifFrame(id: Long, f: Int, w: Int, h: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
    var k = 0; var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = ((id + 31L * f + k) % 256).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v); k += 1; x += 1
      }
      y += 1
    }
    img
  }

  /** Genuine animated-GIF bytes: 2 + id%3 frames of the per-frame ramp,
    * written with a caller-owned writer — the encode path reuses ONE
    * writer per partition (writer construction + service lookup per row
    * measurably dominates these tiny payloads); `wr.reset()` between
    * payloads restores the pristine state the sequence API needs.
    * Interlace is explicitly DISABLED in the per-frame metadata: the JDK's
    * GIF writer interlaces by default, and its interlace passes corrupt
    * rows for frames shorter than 8 px (verified empirically: a 4×2 frame
    * round-trips row-scrambled interlaced, exact non-interlaced).
    */
  private def gifBytesWith(wr: javax.imageio.ImageWriter,
      id: Long): Array[Byte] = {
    val w = (4 + id % 8).toInt; val h = (2 + id % 5).toInt
    val nf = (2 + id % 3).toInt
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      wr.setOutput(ios)
      wr.prepareWriteSequence(null)
      val param = wr.getDefaultWriteParam
      (0 until nf).foreach { f =>
        val img = gifFrame(id, f, w, h)
        val md = wr.getDefaultImageMetadata(
          new javax.imageio.ImageTypeSpecifier(img), param)
        val fmt = "javax_imageio_gif_image_1.0"
        val root = md.getAsTree(fmt).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
        (0 until root.getLength).foreach { i =>
          val c = root.item(i).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
          if (c.getNodeName == "ImageDescriptor") c.setAttribute("interlaceFlag", "FALSE")
        }
        md.setFromTree(fmt, root)
        wr.writeToSequence(new javax.imageio.IIOImage(img, null, md), param)
      }
      wr.endWriteSequence()
    } finally { wr.reset(); ios.close() }
    bos.toByteArray
  }

  case class GifFrame(media_id: Long, frame_idx: Int, width: Int, height: Int,
      frame_sum: Long, valid: Boolean)

  /** documents → genuine animated-GIF payloads (every doc). One writer per
    * partition (see [[gifBytesWith]]); left to GC at partition end — the
    * JDK GIF plugin is pure Java, no native resources to release eagerly.
    */
  def encodeGif(spark: SparkSession, sfDir: String): Dataset[RealMedia] =
    encodeDocs(spark, sfDir, "gif") { () =>
      val wr = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      gifBytesWith(wr, _)
    }

  /** Real per-frame decode out of the container: one output row per frame
    * with the frame's actual decoded pixel sum — the frame-sampling layout
    * (narrow per-row fan-out, no shuffle) over a genuine multi-frame
    * format. A malformed payload quarantines as one `valid=false` row.
    */
  def decodeGifFrames(media: Dataset[RealMedia]): Dataset[GifFrame] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // one reader per partition, fresh input per payload; a payload that
      // throws may leave the reader in an undefined state, so the catch
      // path replaces it before the next row
      var rd = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      it.flatMap { m =>
        def invalid = Seq(GifFrame(m.media_id, -1, 0, 0, 0L, valid = false))
        try {
          rd.setInput(javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(m.payload)))
          val n = rd.getNumImages(true)
          if (n <= 0) invalid
          else (0 until n).map { f =>
            val img = rd.read(f)
            GifFrame(m.media_id, f, img.getWidth, img.getHeight, rgbSum(img),
              valid = true)
          }
        } catch {
          case e @ (_: java.io.IOException | _: IndexOutOfBoundsException |
                    _: java.util.NoSuchElementException) =>
            rd.dispose()
            rd = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
            invalid
        }
      }
    }
  }

  // ---- REAL video container: MJPEG-in-AVI (hand-rolled RIFF) ------------
  //
  // The JDK ships no MP4/H.264 codec, but MJPEG-in-AVI is a real,
  // historically ubiquitous video format whose two ingredients this module
  // already drives for real: RIFF chunk layout (the WAV builder above) and
  // the JDK's actual JPEG codec. The builder hand-rolls the standard
  // 'RIFF/AVI ' container — 'hdrl' header list (avih + strl{strh,strf}),
  // 'movi' payload list of '00dc' compressed-frame chunks, 'idx1' keyframe
  // index — around per-frame JPEG bytes from the real ImageIO encoder at
  // compression quality 1.0; the parser walks the chunk tree back (magics
  // verified, word alignment honored, avih frame-count/dimension
  // cross-checks applied) and decodes every frame through the real ImageIO
  // JPEG reader.
  //
  // Frames are CONSTANT gray v = (id + 31·f) % 256: at quality 1.0 the
  // quantization tables are all ones, a constant block's AC coefficients
  // are exactly zero and its DC is exactly representable, so the lossy
  // codec is exact on this subfamily (asserted bit-exact in MultimodalSpec)
  // and the per-frame pixel sum 3·w·h·v is oracle-checkable cell-exact.
  // Ramp-content JPEG frames stay lossy and are asserted with tolerance in
  // MultimodalSpec, mirroring the still-JPEG test.

  private def fourcc(s: String): Array[Byte] = s.getBytes("US-ASCII")
  private def le32(v: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(v); bb.array()
  }
  /** RIFF chunk: fourcc + LE32 size + body + pad byte to word alignment
    * (the size field excludes the pad, per the RIFF spec).
    */
  private def riffChunk(id: String, body: Array[Byte]): Array[Byte] = {
    val pad: Array[Byte] =
      if ((body.length & 1) == 1) Array(0.toByte) else Array.emptyByteArray
    fourcc(id) ++ le32(body.length) ++ body ++ pad
  }
  private def riffList(formType: String, body: Array[Byte]): Array[Byte] =
    riffChunk("LIST", fourcc(formType) ++ body)

  /** Constant-gray frame in the truecolor layout the JPEG writer expects. */
  private def flatFrame(v: Int, w: Int, h: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(v, v, v))
    g.fillRect(0, 0, w, h)
    g.dispose()
    img
  }

  /** JPEG-encode through a caller-owned writer at explicit quality 1.0 —
    * the quality where all quantization entries are 1 and constant frames
    * round-trip exactly (see the section comment).
    */
  def jpegBytesWith(wr: javax.imageio.ImageWriter,
      img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      wr.setOutput(ios)
      val param = wr.getDefaultWriteParam
      param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionQuality(1.0f)
      wr.write(null, new javax.imageio.IIOImage(img, null, null), param)
    } finally { wr.reset(); ios.close() }
    bos.toByteArray
  }

  /** Genuine MJPEG-in-AVI bytes: 2 + id%3 constant-gray JPEG frames in the
    * standard RIFF/'AVI ' layout (avih/strh/strf headers, '00dc' movi
    * chunks, idx1 keyframe index), against a caller-owned JPEG writer —
    * the encode path reuses ONE writer per partition (same rationale as
    * [[gifBytesWith]]).
    */
  def aviBytesWith(wr: javax.imageio.ImageWriter, id: Long): Array[Byte] = {
    val w = (4 + id % 8).toInt; val h = (2 + id % 5).toInt
    val nf = (2 + id % 3).toInt
    val frames = (0 until nf).map { f =>
      jpegBytesWith(wr, flatFrame(((id + 31L * f) % 256).toInt, w, h))
    }
    val maxFrame = frames.map(_.length).max

    val avih = {
      val bb = java.nio.ByteBuffer.allocate(56)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(100000)       // dwMicroSecPerFrame: 10 fps
        .putInt(0)            // dwMaxBytesPerSec
        .putInt(0)            // dwPaddingGranularity
        .putInt(0x10)         // dwFlags: AVIF_HASINDEX
        .putInt(nf)           // dwTotalFrames
        .putInt(0)            // dwInitialFrames
        .putInt(1)            // dwStreams
        .putInt(maxFrame)     // dwSuggestedBufferSize
        .putInt(w).putInt(h)
        .putInt(0).putInt(0).putInt(0).putInt(0) // dwReserved[4]
      bb.array()
    }
    val strh = {
      val bb = java.nio.ByteBuffer.allocate(56)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(fourcc("vids")).put(fourcc("MJPG"))
        .putInt(0)                        // dwFlags
        .putShort(0).putShort(0)          // wPriority, wLanguage
        .putInt(0)                        // dwInitialFrames
        .putInt(1).putInt(10)             // dwScale/dwRate: 10 fps
        .putInt(0)                        // dwStart
        .putInt(nf)                       // dwLength (frames)
        .putInt(maxFrame)                 // dwSuggestedBufferSize
        .putInt(-1)                       // dwQuality: default
        .putInt(0)                        // dwSampleSize: varying
        .putShort(0).putShort(0)          // rcFrame left, top
        .putShort(w.toShort).putShort(h.toShort) // rcFrame right, bottom
      bb.array()
    }
    val strf = { // BITMAPINFOHEADER with biCompression = 'MJPG'
      val bb = java.nio.ByteBuffer.allocate(40)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
        .put(fourcc("MJPG")).putInt(w * h * 3)
        .putInt(0).putInt(0).putInt(0).putInt(0)
      bb.array()
    }
    val hdrl = riffList("hdrl",
      riffChunk("avih", avih) ++
        riffList("strl", riffChunk("strh", strh) ++ riffChunk("strf", strf)))

    // movi chunks + idx1 entries (offsets relative to the 'movi' fourcc,
    // the common convention; our own parser walks the chunk tree and does
    // not depend on idx1, but the index makes the container spec-complete)
    val moviChunks = frames.map(fb => riffChunk("00dc", fb))
    val movi = riffList("movi", moviChunks.flatten.toArray)
    val idx1 = {
      val bb = java.nio.ByteBuffer.allocate(16 * nf)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var off = 4
      frames.indices.foreach { f =>
        bb.put(fourcc("00dc")).putInt(0x10) // AVIIF_KEYFRAME
          .putInt(off).putInt(frames(f).length)
        off += moviChunks(f).length
      }
      bb.array()
    }
    riffChunk("RIFF", fourcc("AVI ") ++ hdrl ++ movi ++ riffChunk("idx1", idx1))
  }

  case class AviFrame(media_id: Long, frame_idx: Int, width: Int, height: Int,
      frame_sum: Long, valid: Boolean)

  /** documents → genuine MJPEG-in-AVI payloads (every doc). One JPEG
    * writer per partition, as in [[encodeGif]].
    */
  def encodeAvi(spark: SparkSession, sfDir: String): Dataset[RealMedia] =
    encodeDocs(spark, sfDir, "avi") { () =>
      val wr = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      aviBytesWith(wr, _)
    }

  /** Walk the RIFF/'AVI ' chunk tree and decode every '00dc' frame through
    * the real ImageIO JPEG reader. Header checks are genuine: RIFF + form
    * magics, declared chunk sizes vs physical length, and the avih
    * dwTotalFrames / dwWidth / dwHeight cross-checked against what the
    * frames actually decode to. A malformed payload quarantines as one
    * `valid=false` row — same posture as [[decodeGifFrames]].
    */
  def decodeAviFrames(media: Dataset[RealMedia]): Dataset[AviFrame] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // one JPEG reader per partition; replaced if a payload corrupts it
      var rd = javax.imageio.ImageIO.getImageReadersByFormatName("jpg").next()
      it.flatMap { m =>
        val p = m.payload
        def invalid = Seq(AviFrame(m.media_id, -1, 0, 0, 0L, valid = false))
        def str(o: Int) = new String(p, o, 4, "US-ASCII")
        def u32(o: Int) = java.nio.ByteBuffer.wrap(p, o, 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
        try {
          require(p.length >= 12 && str(0) == "RIFF" && str(8) == "AVI ")
          val riffEnd = 8 + u32(4)
          require(riffEnd <= p.length)
          var declaredFrames = -1; var avihW = -1; var avihH = -1
          val frames = Seq.newBuilder[(Int, Int, Long)] // (w, h, pixel sum)
          var o = 12
          while (o + 8 <= riffEnd) {
            val id = str(o); val sz = u32(o + 4)
            require(sz >= 0 && o + 8 + sz <= riffEnd)
            if (id == "LIST") {
              val form = str(o + 8)
              if (form == "hdrl") {
                // scan the header list for the avih chunk
                var ho = o + 12; val hEnd = o + 8 + sz
                while (ho + 8 <= hEnd) {
                  val hid = str(ho); val hsz = u32(ho + 4)
                  require(hsz >= 0 && ho + 8 + hsz <= hEnd)
                  if (hid == "avih") {
                    require(hsz >= 40)
                    declaredFrames = u32(ho + 8 + 16)
                    avihW = u32(ho + 8 + 32); avihH = u32(ho + 8 + 36)
                  }
                  ho += 8 + hsz + (hsz & 1)
                }
              } else if (form == "movi") {
                var mo = o + 12; val mEnd = o + 8 + sz
                while (mo + 8 <= mEnd) {
                  val cid = str(mo); val csz = u32(mo + 4)
                  require(csz >= 0 && mo + 8 + csz <= mEnd)
                  if (cid == "00dc") {
                    rd.setInput(javax.imageio.ImageIO.createImageInputStream(
                      new java.io.ByteArrayInputStream(p, mo + 8, csz)))
                    val img = rd.read(0)
                    frames += ((img.getWidth, img.getHeight, rgbSum(img)))
                  }
                  mo += 8 + csz + (csz & 1)
                }
              }
            }
            o += 8 + sz + (sz & 1)
          }
          val fs = frames.result()
          // header/content cross-checks: the avih must agree with what the
          // frames actually decoded to
          require(fs.nonEmpty && fs.size == declaredFrames &&
            fs.forall { case (w, h, _) => w == avihW && h == avihH })
          fs.zipWithIndex.map { case ((w, h, sum), f) =>
            AviFrame(m.media_id, f, w, h, sum, valid = true)
          }
        } catch {
          case _: IllegalArgumentException | _: IndexOutOfBoundsException =>
            invalid // a require tripped or a header lied about size
          case _: java.io.IOException | _: java.util.NoSuchElementException |
               _: javax.imageio.IIOException =>
            // the JPEG reader may be left in an undefined state — replace it
            rd.dispose()
            rd = javax.imageio.ImageIO.getImageReadersByFormatName("jpg").next()
            invalid
        }
      }
    }
  }

  // ---- REAL video container #2: JPEG-PES over MPEG-TS --------------------
  //
  // ISO/IEC 13818-1 transport stream — the broadcast/HLS container — built
  // and parsed for real at the layer the JVM can honestly own: 188-byte
  // fixed packets (sync 0x47, 13-bit PIDs, 4-bit continuity counters,
  // adaptation-field stuffing), a PAT on PID 0 pointing at a PMT, a PMT
  // declaring one private-data elementary stream (stream_type 0x06), and
  // per-frame PES packets (start code 00 00 01, stream_id 0xBD) carrying
  // the SAME exact-at-quality-1.0 JPEG frames the AVI path encodes. PSI
  // sections carry the genuine MPEG CRC-32 (MSB-first 0x04C11DB7 — NOT
  // java.util.zip's reflected IEEE variant), computed on write and
  // verified on read; continuity counters are checked packet by packet.
  // H.264/H.265 BITSTREAMS stay labeled out of reach (no JVM codec) — the
  // container, demux, CRC, and frame-sampling layers are the real thing.

  final val TsPmtPid = 0x100
  final val TsEsPid  = 0x101

  /** MPEG-2 PSI CRC-32: MSB-first, poly 0x04C11DB7, init all-ones, no
    * final xor, no reflection. A section INCLUDING its trailing CRC
    * checks to 0.
    */
  private[graft] def crc32Mpeg(data: Array[Byte], off: Int, len: Int): Int = {
    var crc = 0xFFFFFFFF
    var i = off
    while (i < off + len) {
      crc ^= (data(i) & 0xFF) << 24
      var b = 0
      while (b < 8) {
        crc = if ((crc & 0x80000000) != 0) (crc << 1) ^ 0x04C11DB7
              else crc << 1
        b += 1
      }
      i += 1
    }
    crc
  }

  private def be16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)

  /** One 188-byte packet; a short payload is pushed to the END by an
    * adaptation field of stuffing bytes (AFC = 3), per spec.
    */
  private def tsPacket(pid: Int, cc: Int, pusi: Boolean,
      payload: Array[Byte]): Array[Byte] = {
    require(payload.length <= 184)
    val out = new Array[Byte](188)
    out(0) = 0x47
    out(1) = (((if (pusi) 0x40 else 0) | (pid >> 8)) & 0xFF).toByte
    out(2) = (pid & 0xFF).toByte
    val adaptation = payload.length < 184
    out(3) = (((if (adaptation) 3 else 1) << 4) | (cc & 0xF)).toByte
    var o = 4
    if (adaptation) {
      val afLen = 183 - payload.length // the length byte itself excluded
      out(o) = afLen.toByte; o += 1
      if (afLen > 0) {
        out(o) = 0x00; o += 1 // adaptation flags: none
        var i = 1
        while (i < afLen) { out(o) = 0xFF.toByte; o += 1; i += 1 }
      }
    }
    System.arraycopy(payload, 0, out, o, payload.length)
    out
  }

  /** pointer_field + PSI section with header and trailing CRC-32. */
  private def psiBytes(tableId: Int, idField: Int,
      body: Array[Byte]): Array[Byte] = {
    val secLen = 5 + body.length + 4 // post-length header + body + CRC
    val sec = Array[Byte](tableId.toByte,
      (0xB0 | ((secLen >> 8) & 0x0F)).toByte, (secLen & 0xFF).toByte) ++
      be16(idField) ++ Array[Byte](0xC1.toByte, 0, 0) ++ body
    val crc = crc32Mpeg(sec, 0, sec.length)
    Array[Byte](0) ++ sec ++ Array(
      ((crc >> 24) & 0xFF).toByte, ((crc >> 16) & 0xFF).toByte,
      ((crc >> 8) & 0xFF).toByte, (crc & 0xFF).toByte)
  }

  /** PES packet, stream_id 0xBD (private_stream_1), empty optional
    * header: 00 00 01 BD len(2) 80 00 00 payload.
    */
  private def pesBytes(payload: Array[Byte]): Array[Byte] =
    Array[Byte](0, 0, 1, 0xBD.toByte) ++ be16(3 + payload.length) ++
      Array[Byte](0x80.toByte, 0x00, 0x00) ++ payload

  /** Genuine single-program transport stream: PAT, PMT, then each
    * constant-gray JPEG frame as one PES packet split across TS packets
    * with sequential continuity counters. Geometry/frame constants differ
    * from the AVI family so the two container paths cannot shadow each
    * other's results.
    */
  def tsBytesWith(wr: javax.imageio.ImageWriter, id: Long): Array[Byte] = {
    val w = (4 + id % 6).toInt; val h = (3 + id % 4).toInt
    val nf = (1 + id % 4).toInt
    val frames = (0 until nf).map { f =>
      jpegBytesWith(wr, flatFrame(((7 * id + 31L * f + 13) % 256).toInt, w, h))
    }
    val out = Array.newBuilder[Byte]
    out ++= tsPacket(0, 0, pusi = true,
      psiBytes(0x00, 1, be16(1) ++ be16(0xE000 | TsPmtPid)))
    out ++= tsPacket(TsPmtPid, 0, pusi = true,
      psiBytes(0x02, 1,
        be16(0xE000 | TsEsPid) ++ be16(0xF000) ++ // PCR PID, no prog info
          Array[Byte](0x06) ++ be16(0xE000 | TsEsPid) ++ be16(0xF000)))
    var cc = 0
    frames.foreach { fb =>
      pesBytes(fb).grouped(184).zipWithIndex.foreach { case (chunk, i) =>
        out ++= tsPacket(TsEsPid, cc, pusi = i == 0, chunk)
        cc = (cc + 1) & 0xF
      }
    }
    out.result()
  }

  case class TsFrame(media_id: Long, frame_idx: Int, width: Int, height: Int,
      frame_sum: Long, valid: Boolean)

  /** documents → genuine transport-stream payloads (every doc). One JPEG
    * writer per partition, as in [[encodeAvi]].
    */
  def encodeTs(spark: SparkSession, sfDir: String): Dataset[RealMedia] =
    encodeDocs(spark, sfDir, "ts") { () =>
      val wr = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      tsBytesWith(wr, _)
    }

  /** Demultiplex the transport stream and decode every PES-carried JPEG
    * frame. The checks are genuine: per-packet sync bytes, PAT and PMT
    * located by PID with their MPEG CRC-32s verified (a section including
    * its CRC must check to 0), the elementary PID taken from the PMT (not
    * assumed), per-packet continuity counters sequential mod 16, and every
    * PES length consistent with its payload. Malformed payloads quarantine
    * as one valid=false row — the [[decodeAviFrames]] posture.
    */
  def decodeTsFrames(media: Dataset[RealMedia]): Dataset[TsFrame] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      var rd = javax.imageio.ImageIO.getImageReadersByFormatName("jpg").next()
      it.flatMap { m =>
        val p = m.payload
        def invalid = Seq(TsFrame(m.media_id, -1, 0, 0, 0L, valid = false))
        try {
          require(p.length > 0 && p.length % 188 == 0)
          val n = p.length / 188
          def pidOf(k: Int)  = ((p(k * 188 + 1) & 0x1F) << 8) | (p(k * 188 + 2) & 0xFF)
          def pusiOf(k: Int) = (p(k * 188 + 1) & 0x40) != 0
          def ccOf(k: Int)   = p(k * 188 + 3) & 0xF
          def payloadOf(k: Int): (Int, Int) = { // (offset, length) within p
            val o = k * 188
            require(p(o) == 0x47, "sync byte")
            val afc = (p(o + 3) >> 4) & 3
            require((afc & 1) != 0, "payload expected")
            var po = o + 4
            if ((afc & 2) != 0) {
              val afLen = p(po) & 0xFF
              po += 1 + afLen
            }
            require(po <= o + 188)
            (po, o + 188 - po)
          }
          // PSI section at a packet: verify CRC, return (table_id, body)
          def section(k: Int): (Int, Array[Byte]) = {
            val (po, plen) = payloadOf(k)
            val ptr = p(po) & 0xFF
            val so = po + 1 + ptr
            val secLen = ((p(so + 1) & 0x0F) << 8) | (p(so + 2) & 0xFF)
            require(so + 3 + secLen <= po + plen, "section overruns packet")
            require(crc32Mpeg(p, so, 3 + secLen) == 0, "PSI CRC mismatch")
            (p(so) & 0xFF, p.slice(so + 8, so + 3 + secLen - 4))
          }
          val patK = (0 until n).find(k => pidOf(k) == 0 && pusiOf(k))
            .getOrElse(sys.error("no PAT"))
          val (patId, patBody) = section(patK)
          require(patId == 0x00 && patBody.length >= 4)
          val pmtPid = ((patBody(2) & 0x1F) << 8) | (patBody(3) & 0xFF)
          val pmtK = (0 until n).find(k => pidOf(k) == pmtPid && pusiOf(k))
            .getOrElse(sys.error("no PMT"))
          val (pmtId, pmtBody) = section(pmtK)
          require(pmtId == 0x02 && pmtBody.length >= 9)
          require((pmtBody(4) & 0xFF) == 0x06, "expected private-data stream")
          val esPid = ((pmtBody(5) & 0x1F) << 8) | (pmtBody(6) & 0xFF)
          // reassemble the elementary stream, checking continuity
          val esKs = (0 until n).filter(k => pidOf(k) == esPid)
          require(esKs.nonEmpty, "no elementary packets")
          esKs.zipWithIndex.foreach { case (k, i) =>
            require(ccOf(k) == (ccOf(esKs.head) + i) % 16,
              "continuity counter break")
          }
          val pesStreams = Seq.newBuilder[Array[Byte]]
          var buf: scala.collection.mutable.ArrayBuffer[Byte] = null
          esKs.foreach { k =>
            val (po, plen) = payloadOf(k)
            if (pusiOf(k)) {
              if (buf != null) pesStreams += buf.toArray
              buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
            }
            require(buf != null, "payload before first PUSI")
            var i = 0
            while (i < plen) { buf += p(po + i); i += 1 }
          }
          if (buf != null) pesStreams += buf.toArray
          val frames = pesStreams.result().map { pes =>
            require(pes.length >= 9 && pes(0) == 0 && pes(1) == 0 &&
              pes(2) == 1 && (pes(3) & 0xFF) == 0xBD, "PES start code")
            val pesLen = ((pes(4) & 0xFF) << 8) | (pes(5) & 0xFF)
            require(pesLen == pes.length - 6, "PES length mismatch")
            val hdl = pes(8) & 0xFF
            val jo = 9 + hdl
            rd.setInput(javax.imageio.ImageIO.createImageInputStream(
              new java.io.ByteArrayInputStream(pes, jo, pes.length - jo)))
            val img = rd.read(0)
            (img.getWidth, img.getHeight, rgbSum(img))
          }
          require(frames.nonEmpty &&
            frames.forall { case (w, h, _) =>
              w == frames.head._1 && h == frames.head._2 })
          frames.zipWithIndex.map { case ((w, h, sum), f) =>
            TsFrame(m.media_id, f, w, h, sum, valid = true)
          }
        } catch {
          case _: IllegalArgumentException | _: IndexOutOfBoundsException |
               _: RuntimeException =>
            invalid
          case _: java.io.IOException | _: java.util.NoSuchElementException =>
            rd.dispose()
            rd = javax.imageio.ImageIO.getImageReadersByFormatName("jpg").next()
            invalid
        }
      }
    }
  }

  /** documents → genuine BMP/WAV file bytes (even ids image, odd audio). */
  def encodeReal(spark: SparkSession, sfDir: String): Dataset[RealMedia] = {
    import spark.implicits._
    Tables.spread(Tables.documents(spark, sfDir).select("doc_id")).as[Long].map { id =>
      if (id % 2 == 0) RealMedia(id, "image", bmpBytes(id))
      else RealMedia(id, "audio", wavBytes(id))
    }
  }

  /** Parse the real file bytes back: verify magic + header layout, skip BMP
    * row padding, read WAV samples as LE int16. A malformed payload yields
    * a quarantine row (kind = "invalid") rather than a thrown task — the
    * PERMISSIVE posture of the JSON source, applied to binary media.
    */
  def decodeReal(media: Dataset[RealMedia]): Dataset[RealDecoded] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val p = m.payload
        def invalid = RealDecoded(m.media_id, "invalid", None, None, None, None,
          p.length, 0L)
        try {
          val bb = java.nio.ByteBuffer.wrap(p)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          if (p.length >= 54 && p(0) == 'B' && p(1) == 'M') {
            val w = bb.getInt(18); val h = bb.getInt(22)
            // w <= 0 makes rowSize 0, which would let ANY height pass the
            // size check below with an empty pixel loop — quarantine it
            require(w > 0 && h > 0)
            require(bb.getShort(28) == 24 && bb.getInt(10) == 54)
            val rowSize = ((w * 3 + 3) / 4) * 4
            require(p.length == 54 + h * rowSize)
            var sum = 0L
            var y = 0
            while (y < h) {
              val base = 54 + y * rowSize
              var x = 0
              while (x < w * 3) { sum += p(base + x) & 0xff; x += 1 }
              y += 1
            }
            RealDecoded(m.media_id, "image", Some(w), Some(h), None, None,
              p.length, sum)
          } else if (p.length >= 44 && p(0) == 'R' && p(8) == 'W') {
            require(new String(p, 0, 4, "US-ASCII") == "RIFF" &&
              new String(p, 8, 4, "US-ASCII") == "WAVE" &&
              new String(p, 12, 4, "US-ASCII") == "fmt " &&
              new String(p, 36, 4, "US-ASCII") == "data" && // chunk magic, not just length
              bb.getShort(20) == 1 && bb.getShort(22) == 1 && // PCM, mono
              bb.getShort(34) == 16)
            val rate = bb.getInt(24)
            val n = bb.getInt(40) / 2
            require(p.length == 44 + n * 2)
            var sum = 0L
            var i = 0
            while (i < n) { sum += math.abs(bb.getShort(44 + i * 2).toLong); i += 1 }
            RealDecoded(m.media_id, "audio", None, None, Some(rate), Some(n),
              p.length, sum)
          } else invalid
        } catch {
          case _: IllegalArgumentException  => invalid // a require tripped
          case _: IndexOutOfBoundsException => invalid // header lied about size
        }
      }
    }
  }

  /** Per-frame audio features decoded from REAL WAV bytes: 32-sample
    * frames, integer energy Σs², zero-crossing count, and peak |s| — the
    * signal-processing primitives a speech/audio curation pass runs
    * (silence trim, clipping detection, activity gating), all in exact
    * integer arithmetic so the oracle recomputes them from the generator
    * formula. Parsing re-checks the same header invariants as
    * [[decodeReal]]; image payloads yield no rows. Per-row fan-out to
    * frames inside one mapPartitions — zero shuffle.
    */
  def audioFrameFeatures(media: Dataset[RealMedia]): Dataset[AudioFrame] = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      val p = m.payload
      if (p.length >= 44 && p(0) == 'R' && p(8) == 'W' &&
        new String(p, 0, 4, "US-ASCII") == "RIFF" &&
        new String(p, 8, 4, "US-ASCII") == "WAVE" &&
        new String(p, 36, 4, "US-ASCII") == "data") {
        val bb = java.nio.ByteBuffer.wrap(p)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val n = bb.getInt(40) / 2
        if (p.length == 44 + n * 2) {
          val s = Array.tabulate(n)(i => bb.getShort(44 + i * 2).toLong)
          (0 until (n + 31) / 32).map { f =>
            val lo = f * 32
            val hi = math.min(lo + 32, n)
            var energy = 0L; var zc = 0; var peak = 0L
            var i = lo
            while (i < hi) {
              energy += s(i) * s(i)
              if (i > lo && ((s(i - 1) < 0) != (s(i) < 0))) zc += 1
              peak = math.max(peak, math.abs(s(i)))
              i += 1
            }
            AudioFrame(m.media_id, f, hi - lo, energy, zc, peak)
          }
        } else Nil
      } else Nil
    }
  }

  val queries: Seq[Q] = Seq(

    // Decoded metadata — engine goes binary-encode → mapPartitions-decode;
    // oracle recomputes the same header arithmetic from length(text).
    Q("q_media_meta",
      """SELECT doc_id AS media_id,
        |       CASE WHEN doc_id % 3 = 0 THEN 'image'
        |            WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |       CAST(16 + length(text) % 64 AS INTEGER) AS width,
        |       CAST(16 + (length(text) * 7) % 64 AS INTEGER) AS height,
        |       CAST(8000 + (length(text) % 3) * 4000 AS INTEGER) AS sample_rate,
        |       CAST(1 + length(text) % 30 AS INTEGER) AS n_frames
        |FROM documents ORDER BY media_id""".stripMargin) { (s, dir) =>
      decoded(s, dir).toDF()
        .select("media_id", "kind", "width", "height", "sample_rate", "n_frames")
        .orderBy("media_id")
    },

    // REAL codec round-trip: the engine BUILDS genuine BMP/WAV bytes and
    // PARSES them back (headers verified, padding skipped, LE int16
    // samples); the oracle recomputes every decoded value from the same
    // doc_id arithmetic the builder used. Narrow per-row work end-to-end.
    // Per-frame audio features through the REAL WAV decode path (LE int16
    // samples parsed from genuine RIFF bytes): frame energy, zero
    // crossings, peak — every value recomputed by the oracle from the
    // deterministic sample formula the builder used. Exact integers
    // throughout; the fan-out to frames is per-row, zero shuffle.
    Q("q_media_audio_features",
      """WITH m AS (
        |  SELECT doc_id, CAST(100 + doc_id % 50 AS INTEGER) AS n
        |  FROM documents WHERE doc_id % 2 = 1),
        |s AS (
        |  SELECT doc_id, n,
        |         [CAST((doc_id + i * 7) % 2003 - 1001 AS BIGINT)
        |          for i in range(0, n)] AS smp
        |  FROM m),
        |f AS (
        |  SELECT doc_id, n, smp,
        |         unnest(range(0, (n + 31) // 32)) AS frame
        |  FROM s)
        |SELECT doc_id AS media_id, CAST(frame AS INTEGER) AS frame,
        |  CAST(least(frame * 32 + 32, n) - frame * 32 AS INTEGER) AS n_smp,
        |  CAST(list_sum([smp[i + 1] * smp[i + 1]
        |        for i in range(frame * 32, least(frame * 32 + 32, n))])
        |    AS BIGINT) AS energy,
        |  CAST(len(list_filter(range(frame * 32 + 1, least(frame * 32 + 32, n)),
        |        i -> (smp[i] < 0) != (smp[i + 1] < 0))) AS INTEGER) AS zero_cross,
        |  CAST(list_max([abs(smp[i + 1])
        |        for i in range(frame * 32, least(frame * 32 + 32, n))])
        |    AS BIGINT) AS peak
        |FROM f ORDER BY media_id, frame""".stripMargin) { (s, dir) =>
      audioFrameFeatures(encodeReal(s, dir)
        .filter(col("kind") === "audio").as[RealMedia](
          org.apache.spark.sql.Encoders.product[RealMedia]))
        .toDF()
        .orderBy("media_id", "frame")
    },

    Q("q_media_codec",
      """WITH m AS (
        |  SELECT doc_id,
        |         (doc_id % 2 = 0) AS is_img,
        |         CAST(4 + doc_id % 8 AS INTEGER) AS w,
        |         CAST(2 + doc_id % 5 AS INTEGER) AS h,
        |         CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS rate,
        |         CAST(100 + doc_id % 50 AS INTEGER) AS n
        |  FROM documents)
        |SELECT doc_id AS media_id,
        |  CASE WHEN is_img THEN 'image' ELSE 'audio' END AS kind,
        |  CASE WHEN is_img THEN w END AS width,
        |  CASE WHEN is_img THEN h END AS height,
        |  CASE WHEN is_img THEN NULL ELSE rate END AS sample_rate,
        |  CASE WHEN is_img THEN NULL ELSE n END AS n_samples,
        |  CAST(CASE WHEN is_img THEN 54 + h * (((w * 3 + 3) // 4) * 4)
        |            ELSE 44 + n * 2 END AS INTEGER) AS file_size,
        |  CAST(CASE WHEN is_img
        |       THEN 3 * list_aggregate(list_transform(range(0, w * h),
        |              k -> (doc_id + k) % 256), 'sum')
        |       ELSE list_aggregate(list_transform(range(0, n),
        |              i -> abs((doc_id + i * 7) % 2003 - 1001)), 'sum')
        |       END AS BIGINT) AS content_sum
        |FROM m ORDER BY media_id""".stripMargin) { (s, dir) =>
      decodeReal(encodeReal(s, dir)).toDF()
        .select("media_id", "kind", "width", "height", "sample_rate",
          "n_samples", "file_size", "content_sum")
        .orderBy("media_id")
    },

    // REAL compressed codec round-trip: the engine encodes a deterministic
    // gray ramp through the JDK's actual PNG writer and decodes it back
    // through the actual PNG reader (real zlib inflate, real filter
    // reconstruction — not header arithmetic); the oracle recomputes the
    // decoded pixel sum from the same doc_id ramp the builder used. PNG is
    // lossless so the round-trip is bit-exact. file_size is excluded: it is
    // encoder-dependent, not oracle-derivable.
    Q("q_media_png",
      """SELECT doc_id AS media_id, 'png' AS kind,
        |       CAST(4 + doc_id % 8 AS INTEGER) AS width,
        |       CAST(2 + doc_id % 5 AS INTEGER) AS height,
        |       CAST(3 * list_aggregate(list_transform(
        |              range(0, (4 + doc_id % 8) * (2 + doc_id % 5)),
        |              k -> (doc_id + k) % 256), 'sum') AS BIGINT) AS content_sum
        |FROM documents ORDER BY media_id""".stripMargin) { (s, dir) =>
      decodeImageIO(encodePng(s, dir)).toDF()
        .select("media_id", "kind", "width", "height", "content_sum")
        .orderBy("media_id")
    },

    // REAL multi-frame container round-trip: the engine writes a genuine
    // animated GIF per document through the JDK's sequence writer and
    // decodes every frame back through the real GIF reader (LZW decode,
    // palette lookup); each frame's actual pixel sum is oracle-checked
    // against the ramp arithmetic. The video-class frame-sampling layout
    // over a real container — per-row fan-out to frames, no shuffle.
    Q("q_media_gif",
      """WITH m AS (
        |  SELECT doc_id,
        |         CAST(4 + doc_id % 8 AS INTEGER) AS w,
        |         CAST(2 + doc_id % 5 AS INTEGER) AS h,
        |         CAST(2 + doc_id % 3 AS INTEGER) AS nf
        |  FROM documents)
        |SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
        |       w AS width, h AS height,
        |       CAST(3 * list_aggregate(list_transform(range(0, w * h),
        |              k -> (doc_id + 31 * f + k) % 256), 'sum') AS BIGINT) AS frame_sum
        |FROM m, range(0, 4) t(f)
        |WHERE f < nf
        |ORDER BY media_id, frame_idx""".stripMargin) { (s, dir) =>
      decodeGifFrames(encodeGif(s, dir)).toDF()
        .filter(col("valid"))
        .select("media_id", "frame_idx", "width", "height", "frame_sum")
        .orderBy("media_id", "frame_idx")
    },

    // REAL video container round-trip: the engine writes a genuine
    // MJPEG-in-AVI file per document (hand-rolled RIFF/'AVI ' chunk tree
    // around real ImageIO JPEG frames at quality 1.0) and parses it back —
    // chunk walk with magic/size/avih cross-checks, then a real JPEG decode
    // per '00dc' frame. Frames are constant gray, the subfamily on which
    // JPEG at quality 1.0 is exact (see the codec section comment), so each
    // frame's decoded pixel sum 3·w·h·((id+31f)%256) is oracle-checked
    // cell-exact. Same scale shape as the GIF path: binary column in,
    // narrow per-row frame fan-out, zero shuffle.
    Q("q_media_video",
      """WITH m AS (
        |  SELECT doc_id,
        |         CAST(4 + doc_id % 8 AS INTEGER) AS w,
        |         CAST(2 + doc_id % 5 AS INTEGER) AS h,
        |         CAST(2 + doc_id % 3 AS INTEGER) AS nf
        |  FROM documents)
        |SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
        |       w AS width, h AS height,
        |       CAST(3 * w * h * ((doc_id + 31 * f) % 256) AS BIGINT)
        |         AS frame_sum
        |FROM m, range(0, 4) t(f)
        |WHERE f < nf
        |ORDER BY media_id, frame_idx""".stripMargin) { (s, dir) =>
      decodeAviFrames(encodeAvi(s, dir)).toDF()
        .filter(col("valid"))
        .select("media_id", "frame_idx", "width", "height", "frame_sum")
        .orderBy("media_id", "frame_idx")
    },

    // Second REAL video container: JPEG-PES over MPEG-TS (ISO 13818-1 —
    // the broadcast/HLS packet layer). Full demux on the read side: sync
    // bytes, PAT→PMT walk with MPEG CRC-32 verification, PMT-declared
    // elementary PID, continuity-counter checks, PES reassembly across
    // packet boundaries, then the real ImageIO JPEG decode. Constant-gray
    // frames make quality-1.0 JPEG bit-exact (the q_media_video
    // argument), so the per-frame pixel sums are oracle-checkable
    // cell-exact; geometry/frame constants differ from the AVI family so
    // the two container paths cannot shadow each other. H.264-class
    // BITSTREAM decode stays the labeled environmental stub.
    Q("q_media_ts",
      """WITH m AS (
        |  SELECT doc_id,
        |         CAST(4 + doc_id % 6 AS INTEGER) AS w,
        |         CAST(3 + doc_id % 4 AS INTEGER) AS h,
        |         CAST(1 + doc_id % 4 AS INTEGER) AS nf
        |  FROM documents)
        |SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
        |       w AS width, h AS height,
        |       CAST(3 * w * h * ((7 * doc_id + 31 * f + 13) % 256) AS BIGINT)
        |         AS frame_sum
        |FROM m, range(0, 4) t(f)
        |WHERE f < nf
        |ORDER BY media_id, frame_idx""".stripMargin) { (s, dir) =>
      decodeTsFrames(encodeTs(s, dir)).toDF()
        .filter(col("valid"))
        .select("media_id", "frame_idx", "width", "height", "frame_sum")
        .orderBy("media_id", "frame_idx")
    },

    // Feature extraction: 16-bin byte histogram of the payload (codegen'd
    // expression); oracle mirrors it over ascii(char) >> 4 (ASCII text ⇒
    // chars == bytes).
    Q("q_media_features",
      """SELECT doc_id AS media_id, CAST(b AS INTEGER) AS bin,
        |       (len(list_filter(list_transform(range(1, length(text) + 1),
        |          i -> ascii(substr(text, i, 1)) // 16), x -> x = b))
        |        / length(text)) AS frac
        |FROM documents, range(0, 16) t(b)
        |ORDER BY media_id, bin""".stripMargin) { (s, dir) =>
      encode(s, dir)
        .select(col("media_id"),
          posexplode(byte_histogram16(col("payload"))).as(Seq("bin", "frac")))
        .orderBy("media_id", "bin")
    },

    // Resize stub: downsample the payload to a fixed 16-"pixel" thumbnail
    // by strided sampling (the real system calls the codec's scaler here),
    // then fingerprint it. Exercises the resize plumbing end-to-end; the
    // oracle recomputes the strided sample from the text view.
    Q("q_media_thumbs",
      s"""WITH t AS (
         |  SELECT doc_id AS media_id, text,
         |         greatest(length(text) // 16, 1) AS stride
         |  FROM documents)
         |SELECT media_id,
         |       ${Dedup.hashSql(
                  "list_reduce(list_transform(range(0, 16), i -> substr(text, CAST(i * stride + 1 AS INTEGER), 1)), (a, b) -> a || b)")} AS thumb_hash
         |FROM t ORDER BY media_id""".stripMargin) { (s, dir) =>
      val stride = greatest(floor(length(col("txt")) / 16).cast("int"), lit(1))
      val thumb = concat_ws("", transform(sequence(lit(0), lit(15)),
        i => col("txt").substr(i * stride + 1, lit(1))))
      encode(s, dir)
        // project the string view ONCE — inlining the cast would re-decode
        // the payload 17x per row
        .withColumn("txt", col("payload").cast("string"))
        .select(col("media_id"), poly_hash(thumb).as("thumb_hash"))
        .orderBy("media_id")
    },

    // Exact binary dedup: group identical payloads by md5 of the raw
    // bytes — the first pass of any media-dedup pipeline (cheap, catches
    // byte-identical re-uploads before any perceptual hashing). The digest
    // is computed per-row (narrow); only (digest, id) pairs shuffle, never
    // payloads. Oracle parity: the payload IS the UTF-8 encoding of
    // documents.text, and DuckDB's md5(VARCHAR) hashes the string's UTF-8
    // bytes — identical input bytes, identical digest.
    Q("q_media_dedup",
      """SELECT md5(text) AS digest,
        |       min(doc_id) AS keep_id,
        |       count(*) AS n_copies,
        |       CAST(min(strlen(text)) AS INTEGER) AS n_bytes
        |FROM documents
        |GROUP BY md5(text) ORDER BY keep_id""".stripMargin) { (s, dir) =>
      encode(s, dir)
        .groupBy(md5(col("payload")).as("digest"))
        .agg(min("media_id").as("keep_id"), count(lit(1)).as("n_copies"),
          min(length(col("payload"))).as("n_bytes"))
        .orderBy("keep_id")
    },

    // Frame sampling for video payloads: fixed-stride slices, each
    // fingerprinted — the shuffle-free scan layout for frame-level dedup.
    Q("q_media_frames",
      s"""WITH v AS (
         |  SELECT doc_id AS media_id, text,
         |         least(1 + length(text) % 30, 4) AS k
         |  FROM documents WHERE doc_id % 3 = 2
         |)
         |SELECT media_id, CAST(f AS INTEGER) AS frame_idx,
         |       ${Dedup.hashSql("substr(text, 1 + f * 32, 32)")} AS frame_hash
         |FROM v, range(0, 4) t(f)
         |WHERE f < k
         |ORDER BY media_id, frame_idx""".stripMargin) { (s, dir) =>
      decoded(s, dir).toDF()
        .filter(col("kind") === "video")
        .select(col("media_id"),
          // payload is the UTF-8 bytes of text: hash fixed-stride slices of
          // its string view (frames)
          posexplode(transform(
            sequence(lit(0), least(col("n_frames"), lit(4)) - 1),
            f => poly_hash(col("payload").cast("string").substr(f * 32 + 1, lit(32)))))
            .as(Seq("frame_idx", "frame_hash")))
        .orderBy("media_id", "frame_idx")
    },

    // Perceptual dHash codes from REAL PNG decode (see the dHash section
    // comment): the engine renders each document's raster to genuine PNG
    // bytes, decodes them back through ImageIO, and hashes the DECODED
    // luma grid; the oracle recomputes the code from the generative pixel
    // arithmetic — green proves the full encode → decode → resample →
    // hash chain is integer-exact.
    Q("q_dhash_codes",
      s"""$dhashCodesSql
         |SELECT media_id, dlo, dhi FROM dcodes ORDER BY media_id""".stripMargin) {
      (s, dir) =>
        percCodesFrame(s, dir)
          .select("media_id", "dlo", "dhi").orderBy("media_id")
    },

    // Perceptual near-duplicate pair search: the dHash codes ride the
    // parametric MIH engine (Similarity.mihPairsChunked — the
    // q_hamming_mih index, geometry sized from the corpus count via
    // Similarity.mihChunksFor; the count comes from the documents table,
    // 1:1 with encodePerc rows, so the decode never runs twice) at
    // radius DhashTau; the oracle is the brute-force all-pairs
    // scan, so green re-proves pigeonhole completeness on this third code
    // family (embedding sign codes, SimHash text codes, now perceptual
    // image codes). Retouched copies land at Hamming 0–6, the background
    // ramp starts at 9 — the measured valley τ = 8 separates them.
    Q("q_dhash_mih",
      s"""$dhashCodesSql
         |SELECT a.media_id AS v1, b.media_id AS v2,
         |       CAST(bit_count(xor(a.dlo, b.dlo))
         |            + bit_count(xor(a.dhi, b.dhi)) AS INTEGER) AS ham
         |FROM dcodes a JOIN dcodes b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.dlo, b.dlo)) + bit_count(xor(a.dhi, b.dhi))
         |      <= $DhashTau
         |ORDER BY v1, v2""".stripMargin) { (s, dir) =>
      Similarity.mihPairsChunked(
          percCodesFrame(s, dir).select("media_id", "dlo", "dhi")
            .withColumnRenamed("media_id", "vec_id"),
          Seq("dlo", "dhi"), DhashTau,
          Similarity.mihChunksFor(
            Tables.documents(s, dir).count(), 64, DhashTau))
        .orderBy("v1", "v2")
    },

    // AVERAGE HASH — the mean-threshold perceptual code beside dHash's
    // gradient code, from the same real PNG decode; a FOURTH code family
    // through the parametric MIH engine. Oracle: the closed-form pixel
    // arithmetic with the mean decided by integer cross-multiplication.
    Q("q_ahash_codes",
      s"""$percPrefixSql$ahashCtesSql
         |SELECT media_id, alo, ahi FROM acodes ORDER BY media_id""".stripMargin) {
      (s, dir) =>
        percCodesFrame(s, dir)
          .select("media_id", "alo", "ahi").orderBy("media_id")
    },

    // CROSS-HASH AGREEMENT: per-pair (dham, aham) for every pair close
    // under EITHER code — the report that tells an operator where the two
    // perceptual families agree (retouch pairs: both small) and where
    // they diverge (aHash flips more bits when an edit shifts the global
    // mean; dHash only where it crosses a local gradient). Candidates
    // come from one sized-MIH pass per family (pigeonhole covers each
    // OR-arm; the union covers the predicate), codes decode ONCE
    // (percCodes), and the oracle is the brute-force all-pairs scan —
    // green re-proves completeness of both passes simultaneously.
    Q("q_hash_agreement",
      s"""$dhashCodesSql$ahashCtesSql,
         |codes AS (
         |  SELECT d.media_id, d.dlo, d.dhi, a.alo, a.ahi
         |  FROM dcodes d JOIN acodes a USING (media_id))
         |SELECT a.media_id AS v1, b.media_id AS v2,
         |       CAST(bit_count(xor(a.dlo, b.dlo))
         |            + bit_count(xor(a.dhi, b.dhi)) AS INTEGER) AS dham,
         |       CAST(bit_count(xor(a.alo, b.alo))
         |            + bit_count(xor(a.ahi, b.ahi)) AS INTEGER) AS aham
         |FROM codes a JOIN codes b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.dlo, b.dlo)) + bit_count(xor(a.dhi, b.dhi))
         |        <= $DhashTau
         |   OR bit_count(xor(a.alo, b.alo)) + bit_count(xor(a.ahi, b.ahi))
         |        <= $DhashTau
         |ORDER BY v1, v2""".stripMargin) { (s, dir) =>
      val codes = percCodesFrame(s, dir)
      val m = Similarity.mihChunksFor(
        Tables.documents(s, dir).count(), 64, DhashTau)
      val vc = codes.withColumnRenamed("media_id", "vec_id")
      // one fused OR-of-families MIH pass (round 16) instead of two full
      // engine runs + union: same candidate coverage per family's
      // pigeonhole, the exact (dham/aham) filter below is unchanged
      val cand = Similarity.mihPairsChunkedOrCandidates(
        vc, Seq(Seq("dlo", "dhi"), Seq("alo", "ahi")), DhashTau, m)
      val a = codes.select(col("media_id").as("v1"), col("dlo").as("dlo1"),
        col("dhi").as("dhi1"), col("alo").as("alo1"), col("ahi").as("ahi1"))
      val b = codes.select(col("media_id").as("v2"), col("dlo").as("dlo2"),
        col("dhi").as("dhi2"), col("alo").as("alo2"), col("ahi").as("ahi2"))
      cand.join(a, "v1").join(b, "v2")
        .select(col("v1"), col("v2"),
          expr("CAST(bit_count(dlo1 ^ dlo2) + bit_count(dhi1 ^ dhi2) AS INT)")
            .as("dham"),
          expr("CAST(bit_count(alo1 ^ alo2) + bit_count(ahi1 ^ ahi2) AS INT)")
            .as("aham"))
        .filter(col("dham") <= DhashTau || col("aham") <= DhashTau)
        .orderBy("v1", "v2")
    },

    // PERCEPTUAL INGEST against a frozen code index — the batch twin of
    // streaming.Streams.percIngest (the nearDupCuration/semDedupIngest/
    // chunkNoveltyIngest family, applied to images): index = the %5==0
    // family (every retouch's base), incoming = the %5∈{1,2} docs, so the
    // feed mixes guaranteed dups (retouches of indexed bases) with
    // guaranteed-novel content. Oracle: brute-force left join on the
    // Hamming predicate — green proves the cross-frame MIH join's
    // completeness AND the match counts exactly.
    Q("q_perc_ingest",
      s"""$dhashCodesSql,
         |idx AS (SELECT * FROM dcodes WHERE media_id % 5 = 0),
         |inc AS (SELECT * FROM dcodes WHERE media_id % 5 IN (1, 2))
         |SELECT i.media_id,
         |       CAST(count(x.media_id) AS BIGINT) AS n_index_matches,
         |       (count(x.media_id) = 0) AS is_novel
         |FROM inc i LEFT JOIN idx x
         |  ON bit_count(xor(i.dlo, x.dlo)) + bit_count(xor(i.dhi, x.dhi))
         |     <= $DhashTau
         |GROUP BY i.media_id ORDER BY i.media_id""".stripMargin) { (s, dir) =>
      val codes = percCodesFrame(s, dir).select("media_id", "dlo", "dhi")
      val idx = codes.filter(col("media_id") % 5 === 0)
      val inc = codes.filter(col("media_id") % 5 === 1 ||
        col("media_id") % 5 === 2)
      val nIdx = Tables.documents(s, dir)
        .filter(col("doc_id") % 5 === 0).count()
      percIngestScoreCodes(idx, inc, nIdx).orderBy("media_id")
    }
  )
}
