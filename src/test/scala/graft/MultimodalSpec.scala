package graft

import org.apache.spark.sql.functions._
import graft.ops.Multimodal
import graft.ops.Multimodal.MediaRow
import graft.functions.ByteHistogram16.byte_histogram16

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("binary payload roundtrips: cast back to string equals source text") {
    val bad = Multimodal.encode(spark, sfDir)
      .join(Tables.documents(spark, sfDir), col("media_id") === col("doc_id"))
      .filter(col("payload").cast("string") =!= col("text"))
    assert(bad.count() === 0)
  }

  test("decode stub is deterministic and schema-complete over all kinds") {
    val d = Multimodal.decodeStub(
      Multimodal.encode(spark, sfDir).as[MediaRow]).toDF()
    assert(d.filter(col("width") < 16 || col("width") >= 80).count() === 0)
    assert(d.select("kind").distinct().count() === 3)
    val twice = Multimodal.decodeStub(
      Multimodal.encode(spark, sfDir).as[MediaRow]).toDF()
    assert(d.except(twice).count() === 0)
  }

  test("byte histogram fractions sum to 1 per payload") {
    val s = Multimodal.encode(spark, sfDir)
      .select(aggregate(byte_histogram16(col("payload")), lit(0.0), _ + _).as("s"))
    assert(s.filter(abs(col("s") - 1.0) > 1e-9).count() === 0)
  }

  test("byte histogram handles the empty payload without dividing by zero") {
    val h = Seq(Array.empty[Byte]).toDF("payload")
      .select(byte_histogram16(col("payload")).as("h"))
      .select(aggregate(col("h"), lit(0.0), _ + _).as("s"))
      .collect().head.getDouble(0)
    assert(h === 0.0)
  }

  test("frame sampling yields at most 4 frames and only for video") {
    val f = SparkEntry.queries("q_media_frames")(spark, sfDir)
    assert(f.groupBy("media_id").count().filter(col("count") > 4).count() === 0)
    assert(f.filter(col("media_id") % 3 =!= 2).count() === 0)
  }

  test("real BMP/WAV codec round-trips construction parameters for every document") {
    // parse(build(id)) must round-trip construction parameters exactly,
    // for every document — the decode genuinely reads the bytes (the
    // oracle separately recomputes the same values arithmetically)
    import spark.implicits._
    val dec = ops.Multimodal.decodeReal(ops.Multimodal.encodeReal(spark, sfDir))
    val df  = dec.toDF().cache()
    try {
      assert(df.filter(col("kind") === "invalid").count() === 0,
        "a built payload failed its own parser")
      assert(df.filter(col("kind") === "image" &&
        (col("width") =!= (lit(4) + col("media_id") % 8) ||
         col("height") =!= (lit(2) + col("media_id") % 5))).count() === 0)
      assert(df.filter(col("kind") === "audio" &&
        col("n_samples") =!= (lit(100) + col("media_id") % 50)).count() === 0)
    } finally df.unpersist()
  }

  // deterministic gray-ramp expectations shared by the ImageIO tests
  private def rampDims(id: Long): (Int, Int) = ((4 + id % 8).toInt, (2 + id % 5).toInt)
  private def rampSum(id: Long): Long = {
    val (w, h) = rampDims(id)
    3L * (0 until w * h).map(k => (id + k) % 256).sum
  }

  test("ImageIO PNG codec round-trips exact pixels for every document") {
    import spark.implicits._
    val dec = ops.Multimodal.decodeImageIO(ops.Multimodal.encodePng(spark, sfDir))
    val df = dec.toDF().cache()
    try {
      assert(df.filter(col("kind") === "invalid").count() === 0,
        "a real PNG failed the real PNG reader")
      assert(df.filter(
        col("width") =!= (lit(4) + col("media_id") % 8) ||
        col("height") =!= (lit(2) + col("media_id") % 5)).count() === 0)
      // decoded pixel sums must equal the ramp arithmetic bit-exactly
      val mismatched = dec.collect().count(d => d.content_sum != rampSum(d.media_id))
      assert(mismatched === 0, s"$mismatched PNG pixel sums off the ramp")
    } finally df.unpersist()
  }

  test("ImageIO decoder quarantines non-image bytes instead of failing the task") {
    import spark.implicits._
    val junk = Seq(
      ops.Multimodal.RealMedia(1L, "png", Array[Byte](1, 2, 3)),
      ops.Multimodal.RealMedia(2L, "png", "not an image at all".getBytes("US-ASCII")),
      // a real PNG signature followed by garbage — reader throws mid-stream
      ops.Multimodal.RealMedia(3L, "png",
        Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a, 9, 9, 9, 9))).toDS()
    val out = ops.Multimodal.decodeImageIO(junk).collect()
    assert(out.length === 3 && out.forall(_.kind == "invalid"),
      s"malformed images must quarantine, got ${out.map(_.kind).toSeq}")
  }

  test("ImageIO JPEG round-trip: exact dimensions, pixels within lossy tolerance") {
    // JPEG is lossy so the pixel check is a tolerance, not equality — which
    // is exactly why q_media_png (hash-compared oracle) uses PNG instead
    (0L until 50L).foreach { id =>
      val bytes = ops.Multimodal.imageBytes(id, "jpg")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      val (w, h) = rampDims(id)
      assert(img.getWidth === w && img.getHeight === h)
      var err = 0L; var k = 0
      for (y <- 0 until h; x <- 0 until w) {
        val v = ((id + k) % 256).toInt
        err += math.abs(((img.getRGB(x, y) >> 8) & 0xff) - v); k += 1
      }
      assert(err.toDouble / (w * h) < 24.0,
        s"JPEG mean green-channel error too large for id=$id: ${err.toDouble / (w * h)}")
    }
  }

  test("hand-rolled BMP parser agrees with the JDK's ImageIO BMP reader") {
    import spark.implicits._
    // same bytes through both decoders: the byte-level parser and the JDK's
    // independent BMP ImageReader must extract identical (w, h, pixel sum)
    val bmps = (0L until 200L).map(id =>
      ops.Multimodal.RealMedia(id, "image", ops.Multimodal.bmpBytes(id)))
    val ours  = ops.Multimodal.decodeReal(bmps.toDS()).collect()
      .map(d => d.media_id -> ((d.width.get, d.height.get, d.content_sum))).toMap
    val jdk   = ops.Multimodal.decodeImageIO(bmps.toDS()).collect()
      .map(d => d.media_id -> ((d.width.get, d.height.get, d.content_sum))).toMap
    assert(ours === jdk)
  }

  test("hand-rolled WAV parser agrees with javax.sound.sampled on valid bytes") {
    import spark.implicits._
    def viaAudioSystem(bytes: Array[Byte]): (Int, Int, Long) = {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = ais.getFormat
      assert(fmt.getChannels === 1 && fmt.getSampleSizeInBits === 16 && !fmt.isBigEndian)
      val raw = ais.readAllBytes()
      val bb = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val sum = (0 until raw.length / 2).map(i => math.abs(bb.getShort(i * 2).toLong)).sum
      (fmt.getSampleRate.toInt, ais.getFrameLength.toInt, sum)
    }
    val ids = (1L until 400L by 2).toSeq // odd ids are the audio kind
    val wavs = ids.map(id => ops.Multimodal.RealMedia(id, "audio",
      ops.Multimodal.wavBytes(id)))
    val ours = ops.Multimodal.decodeReal(wavs.toDS()).collect()
      .map(d => d.media_id -> ((d.sample_rate.get, d.n_samples.get, d.content_sum))).toMap
    ids.foreach { id =>
      val jdk = viaAudioSystem(ops.Multimodal.wavBytes(id))
      assert(ours(id) === jdk, s"WAV parsers disagree for id=$id")
    }
  }

  test("audio frame features cross-check against javax.sound.sampled samples") {
    import spark.implicits._
    val ids = (1L until 200L by 2).toSeq
    val wavs = ids.map(id => ops.Multimodal.RealMedia(id, "audio",
      ops.Multimodal.wavBytes(id)))
    val got = ops.Multimodal.audioFrameFeatures(wavs.toDS()).collect()
      .groupBy(_.media_id)
    ids.foreach { id =>
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(ops.Multimodal.wavBytes(id)))
      val raw = ais.readAllBytes()
      val bb = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val s = Array.tabulate(raw.length / 2)(i => bb.getShort(i * 2).toLong)
      val frames = got(id).sortBy(_.frame)
      assert(frames.length === (s.length + 31) / 32, s"id=$id frame count")
      assert(frames.map(_.n_smp).sum === s.length, s"id=$id frames must tile samples")
      frames.foreach { f =>
        val seg = s.slice(f.frame * 32, f.frame * 32 + f.n_smp)
        assert(f.energy === seg.map(x => x * x).sum)
        assert(f.peak === seg.map(math.abs).max)
        assert(f.zero_cross ===
          seg.sliding(2).count(p => p.length == 2 && (p(0) < 0) != (p(1) < 0)))
      }
    }
  }

  test("WAV parser quarantines headers javax.sound.sampled also rejects") {
    import spark.implicits._
    val good = ops.Multimodal.wavBytes(7L)
    // corrupt the 'data' chunk magic (offset 36) and the channel count
    // (offset 22) — both must quarantine, not parse garbage sample sums
    val badMagic = good.clone();  "LIST".getBytes("US-ASCII").copyToArray(badMagic, 36)
    val stereo   = good.clone();  stereo(22) = 2
    val out = ops.Multimodal.decodeReal(Seq(
      ops.Multimodal.RealMedia(1L, "audio", badMagic),
      ops.Multimodal.RealMedia(2L, "audio", stereo)).toDS()).collect()
    assert(out.forall(_.kind == "invalid"),
      s"corrupted WAV headers must quarantine, got ${out.map(_.kind).toSeq}")
    // the JDK parser independently refuses the corrupted-magic bytes too
    intercept[Exception] {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(badMagic))
      ais.readAllBytes() // some JDKs only fail on read
      assert(ais.getFrameLength <= 0) // or yield an empty stream
    }
  }

  test("animated GIF container round-trips exact per-frame pixels for every document") {
    import spark.implicits._
    val frames = ops.Multimodal.decodeGifFrames(
      ops.Multimodal.encodeGif(spark, sfDir)).cache()
    try {
      assert(frames.filter(!col("valid")).count() === 0,
        "a built GIF failed the real GIF reader")
      // frame count, dims, and per-frame pixel sums all from actually
      // decoding the container — must equal the construction arithmetic
      val perDoc = frames.groupBy("media_id")
        .agg(count(lit(1)).as("nf"), max("frame_idx").as("maxf"))
      assert(perDoc.filter(col("nf") =!= (lit(2) + col("media_id") % 3) ||
        col("maxf") =!= col("nf") - 1).count() === 0, "frame count off")
      val bad = frames.collect().count { fr =>
        val (w, h) = ((4 + fr.media_id % 8).toInt, (2 + fr.media_id % 5).toInt)
        val want = 3L * (0 until w * h).map(k =>
          (fr.media_id + 31L * fr.frame_idx + k) % 256).sum
        fr.width != w || fr.height != h || fr.frame_sum != want
      }
      assert(bad === 0, s"$bad GIF frames off the ramp")
    } finally frames.unpersist()
  }

  test("GIF frame decoder quarantines non-GIF bytes as a single invalid row") {
    import spark.implicits._
    val junk = Seq(
      ops.Multimodal.RealMedia(1L, "gif", Array[Byte](1, 2, 3)),
      ops.Multimodal.RealMedia(2L, "gif", "GIF89a then garbage".getBytes("US-ASCII"))).toDS()
    val out = ops.Multimodal.decodeGifFrames(junk).collect()
    assert(out.length === 2 && out.forall(f => !f.valid && f.frame_idx == -1),
      s"malformed GIFs must quarantine, got ${out.toSeq}")
  }

  test("MJPEG-in-AVI container round-trips exact per-frame pixels for every document") {
    import spark.implicits._
    // constant-gray frames at JPEG quality 1.0 are the exact subfamily of
    // the lossy codec (all-ones quant tables, zero AC coefficients) — the
    // decoded sums must equal the construction arithmetic bit-exactly,
    // which is what licenses the cell-exact q_media_video oracle
    val frames = ops.Multimodal.decodeAviFrames(
      ops.Multimodal.encodeAvi(spark, sfDir)).cache()
    try {
      assert(frames.filter(!col("valid")).count() === 0,
        "a built AVI failed its own parser / the real JPEG reader")
      val perDoc = frames.groupBy("media_id")
        .agg(count(lit(1)).as("nf"), max("frame_idx").as("maxf"))
      assert(perDoc.filter(col("nf") =!= (lit(2) + col("media_id") % 3) ||
        col("maxf") =!= col("nf") - 1).count() === 0, "frame count off")
      val bad = frames.collect().count { fr =>
        val (w, h) = ((4 + fr.media_id % 8).toInt, (2 + fr.media_id % 5).toInt)
        val v = (fr.media_id + 31L * fr.frame_idx) % 256
        fr.width != w || fr.height != h || fr.frame_sum != 3L * w * h * v
      }
      assert(bad === 0, s"$bad AVI frames off the constant-gray expectation")
    } finally frames.unpersist()
  }

  test("ramp-content MJPEG frames in an AVI decode within lossy tolerance") {
    // non-constant content keeps JPEG lossy even at quality 1.0 — the AVI
    // *container* is exact but pixel checks are a tolerance, mirroring the
    // still-JPEG test; this is why q_media_video's oracle uses the
    // constant-gray subfamily
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    try {
      (0L until 20L).foreach { id =>
        val (w, h) = rampDims(id)
        val jpeg = ops.Multimodal.jpegBytesWith(wr, {
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
          var k = 0
          for (y <- 0 until h; x <- 0 until w) {
            val v = ((id + k) % 256).toInt
            img.setRGB(x, y, (v << 16) | (v << 8) | v); k += 1
          }
          img
        })
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpeg))
        assert(img.getWidth === w && img.getHeight === h)
        var err = 0L; var k = 0
        for (y <- 0 until h; x <- 0 until w) {
          val v = ((id + k) % 256).toInt
          err += math.abs(((img.getRGB(x, y) >> 8) & 0xff) - v); k += 1
        }
        assert(err.toDouble / (w * h) < 24.0,
          s"ramp MJPEG frame error too large for id=$id")
      }
    } finally wr.dispose()
  }

  /** Runs `f` against a fresh JPEG writer, disposed afterwards. */
  private def withJpegWriter[T](f: javax.imageio.ImageWriter => T): T = {
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    try f(wr) finally wr.dispose()
  }

  test("AVI frame decoder quarantines malformed payloads as a single invalid row") {
    import spark.implicits._
    val good = withJpegWriter(ops.Multimodal.aviBytesWith(_, 5L))
    // corrupt avih dwTotalFrames (fixed offset in our layout: RIFF hdr 12 +
    // LIST hdr 12 + avih chunk hdr 8 + 16) — the header/content cross-check
    // must catch the lie, not parse through it
    val badCount = good.clone()
    badCount(48) = (badCount(48) + 1).toByte
    val junk = Seq(
      ops.Multimodal.RealMedia(1L, "avi", Array[Byte](1, 2, 3)),
      ops.Multimodal.RealMedia(2L, "avi", "RIFFxxxxAVI broken".getBytes("US-ASCII")),
      ops.Multimodal.RealMedia(3L, "avi", badCount)).toDS()
    val out = ops.Multimodal.decodeAviFrames(junk).collect()
    assert(out.length === 3 && out.forall(f => !f.valid && f.frame_idx == -1),
      s"malformed AVIs must quarantine, got ${out.toSeq}")
  }

  test("MPEG-TS demux round-trips exact frames; CRC/continuity tampering quarantines") {
    import spark.implicits._
    // (a) every built stream demuxes valid with the construction sums
    val frames = ops.Multimodal.decodeTsFrames(
      ops.Multimodal.encodeTs(spark, sfDir)).cache()
    try {
      assert(frames.filter(!col("valid")).count() === 0,
        "a built TS failed its own demuxer / the real JPEG reader")
      val bad = frames.collect().count { fr =>
        val (w, h) = ((4 + fr.media_id % 6).toInt, (3 + fr.media_id % 4).toInt)
        val v = (7 * fr.media_id + 31L * fr.frame_idx + 13) % 256
        fr.width != w || fr.height != h || fr.frame_sum != 3L * w * h * v
      }
      assert(bad === 0, s"$bad TS frames off the constant-gray expectation")
    } finally frames.unpersist()
    // (b) tampering: a flipped PSI byte must fail the MPEG CRC; a bumped
    // continuity counter must fail the sequence check; a truncated stream
    // must fail the 188-byte packetization — all as quarantine rows
    val good = withJpegWriter(ops.Multimodal.tsBytesWith(_, 5L))
    val badCrc = good.clone()
    // PSI payload rides AFTER the adaptation stuffing: locate the PAT
    // section through the AF length byte, then flip a body byte (the
    // program number) so only the CRC can catch it
    val patOff = 4 + 1 + (good(4) & 0xFF)
    badCrc(patOff + 9) = (badCrc(patOff + 9) ^ 1).toByte
    val badCc = good.clone()
    badCc(2 * 188 + 3) = (badCc(2 * 188 + 3) ^ 1).toByte // first ES packet cc
    val junk = Seq(
      ops.Multimodal.RealMedia(1L, "ts", badCrc),
      ops.Multimodal.RealMedia(2L, "ts", badCc),
      ops.Multimodal.RealMedia(3L, "ts", good.take(200))).toDS()
    val out = ops.Multimodal.decodeTsFrames(junk).collect()
    assert(out.length === 3 && out.forall(f => !f.valid && f.frame_idx == -1),
      s"tampered transport streams must quarantine, got ${out.toSeq}")
  }

  test("real codec quarantines malformed payloads instead of failing the task") {
    import spark.implicits._
    // a 54-byte 'BM' header claiming width 0: rowSize 0 would satisfy the
    // size check at any height — must still quarantine
    val zeroWidthBmp = {
      val bb = java.nio.ByteBuffer.allocate(54)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte).putInt(54).putShort(0).putShort(0)
        .putInt(54).putInt(40).putInt(0).putInt(7).putShort(1).putShort(24)
      bb.array()
    }
    val junk = Seq(
      ops.Multimodal.RealMedia(1L, "image", Array[Byte]('B', 'M', 3, 1)), // truncated
      ops.Multimodal.RealMedia(2L, "audio", "RIFFxxxxWAVEbroken".getBytes("US-ASCII")),
      ops.Multimodal.RealMedia(3L, "image", Array[Byte](9, 9, 9)),
      ops.Multimodal.RealMedia(4L, "image", zeroWidthBmp)).toDS()
    val out = ops.Multimodal.decodeReal(junk).collect()
    assert(out.length === 4 && out.forall(_.kind == "invalid"),
      s"malformed payloads must quarantine, got ${out.map(_.kind).toSeq}")
  }

  test("perceptual dHash is container-invariant: PNG and BMP encodings hash alike") {
    // the property that makes a PERCEPTUAL hash one: the code depends on
    // the decoded pixels only, so re-encoding through a different
    // (lossless) container must not move a single bit — here the same
    // rasters through the JDK's PNG and BMP writers and back through
    // their real readers
    import javax.imageio.ImageIO
    val ids = Tables.documents(spark, sfDir).select("doc_id").as[Long]
      .collect().take(64)
    assert(ids.nonEmpty)
    ids.foreach { id =>
      val img = ImageIO.read(
        new java.io.ByteArrayInputStream(ops.Multimodal.percPngBytes(id)))
      def reencoded(fmt: String): (Long, Long) = {
        val bos = new java.io.ByteArrayOutputStream()
        assert(ImageIO.write(img, fmt, bos), s"no $fmt writer")
        ops.Multimodal.dhashOf(
          ImageIO.read(new java.io.ByteArrayInputStream(bos.toByteArray)))
      }
      assert(reencoded("png") === reencoded("bmp"),
        s"dHash of doc $id differs across containers")
      assert(reencoded("png") === ops.Multimodal.dhashOf(img))
    }
  }

  test("perceptual dHash: every planted retouched pair is recovered by MIH") {
    // recall of the planted family = 1: each (base, retouch) pair must
    // fall within DhashTau and therefore appear in the MIH pair output
    // (its brute-force oracle checks completeness; this gates the planted
    // pairs specifically, so a formula/valley drift fails here first)
    val pairs = SimilarityReference.mihPairs(
        ops.Multimodal.dhashCodes(ops.Multimodal.encodePerc(spark, sfDir))
          .toDF().withColumnRenamed("media_id", "vec_id"),
        Seq("dlo", "dhi"), ops.Multimodal.DhashTau)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    val planted = Tables.documents(spark, sfDir)
      .select("doc_id").as[Long].collect()
      .filter(id => id % 5 == 1).map(id => (id - 1, id))
    assert(planted.nonEmpty)
    val missed = planted.filterNot(pairs.contains)
    assert(missed.isEmpty,
      s"${missed.length}/${planted.length} retouched pairs above DhashTau: " +
        missed.take(5).mkString(", "))
  }

  test("perceptual aHash: container-invariant, and agreement covers every planted pair") {
    import javax.imageio.ImageIO
    // container invariance (the dHash gate, fourth code family)
    Tables.documents(spark, sfDir).select("doc_id").as[Long]
      .collect().take(32).foreach { id =>
      val img = ImageIO.read(
        new java.io.ByteArrayInputStream(ops.Multimodal.percPngBytes(id)))
      val bos = new java.io.ByteArrayOutputStream()
      assert(ImageIO.write(img, "bmp", bos))
      assert(ops.Multimodal.ahashOf(ImageIO.read(
          new java.io.ByteArrayInputStream(bos.toByteArray)))
        === ops.Multimodal.ahashOf(img),
        s"aHash of doc $id differs across containers")
    }
    // the agreement frame contains every planted pair, with BOTH hams in
    // the near-dup regime for at least the dHash arm (aHash may sit at
    // the valley edge — that divergence is the report's point)
    val agree = ops.Multimodal.queries.find(_.name == "q_hash_agreement").get
      .build(spark, sfDir)
      .select("v1", "v2", "dham", "aham")
      .as[(Long, Long, Int, Int)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val planted = Tables.documents(spark, sfDir)
      .select("doc_id").as[Long].collect()
      .filter(id => id % 5 == 1).map(id => (id - 1, id))
    assert(planted.nonEmpty)
    planted.foreach { p =>
      assert(agree.contains(p), s"planted pair $p missing from agreement")
      val (dh, ah) = agree(p)
      assert(dh <= ops.Multimodal.DhashTau, s"planted $p dham=$dh")
      assert(ah <= ops.Multimodal.DhashTau + 4, s"planted $p aham=$ah")
    }
  }
}
