package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val media = Multimodal.asMediaTable(
    Seq((1L, "some text payload " * 12), (2L, "another, longer, text payload right here " * 8))
      .toDF("doc_id", "text"), "doc_id", "text", "image")

  test("asMediaTable produces the canonical (id, modality, payload) schema") {
    assert(media.schema == StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("modality", StringType, nullable = false),
      StructField("payload", BinaryType))))
  }

  test("decodeStub: one row per media row, deterministic, real byte counts") {
    val a = Multimodal.decodeStub(media).collect().sortBy(_.id)
    val b = Multimodal.decodeStub(media).collect().sortBy(_.id)
    assert(a.toSeq == b.toSeq) // deterministic stub
    assert(a.map(_.id).toSeq == Seq(1L, 2L))
    assert(a(0).nBytes == ("some text payload " * 12).getBytes("UTF-8").length)
    assert(a.forall(m => m.width >= 16 && m.height >= 16 && m.nFrames >= 1))
  }

  // ---- real JDK codec path -----------------------------------------

  test("PNG encode/decode round trip preserves dimensions and pixels") {
    val img = Multimodal.solidImage(23, 17, 141)
    val back = Multimodal.decodeImage(Multimodal.encodePng(img)).get
    assert(back.getWidth == 23 && back.getHeight == 17)
    assert((back.getRGB(5, 5) & 0xFFFFFF) == 0x8D8D8D) // 141 in all channels
    assert(Multimodal.meanGray(back) == 141.0)
  }

  test("decodeImage returns None on corrupt/unknown payloads, never throws") {
    assert(Multimodal.decodeImage(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.decodeImage("not an image".getBytes("UTF-8")).isEmpty)
    // truncated PNG: valid magic, cut body
    val png = Multimodal.encodePng(Multimodal.solidImage(8, 8, 10))
    assert(Multimodal.decodeImage(png.take(12)).isEmpty)
  }

  test("decodeImageMeta reads true dimensions out of real PNG payloads") {
    val imgs = Multimodal.syntheticImages(Seq(3L, 10L, 77L).toDF("doc_id"), "doc_id")
    val metas = Multimodal.decodeImageMeta(imgs).collect().sortBy(_.id)
    assert(metas.map(_.id).toSeq == Seq(3L, 10L, 77L))
    metas.foreach { m =>
      assert(m.width == Multimodal.synthWidth(m.id))
      assert(m.height == Multimodal.synthHeight(m.id))
      assert(m.nFrames == 1)
      assert(m.nBytes > 0)
    }
  }

  test("decodeImageMeta marks undecodable payloads as zero-dim audit rows") {
    val bad = Seq((9L, "image", "garbage bytes".getBytes("UTF-8"))).toDF("id", "modality", "payload")
    val m = Multimodal.decodeImageMeta(bad).collect().head
    assert(m.id == 9L && m.width == 0 && m.height == 0 && m.nFrames == 0 && m.nBytes > 0)
  }

  test("pack/unpackFrames round trip; truncated tail frame dropped") {
    val frames = Seq(Array[Byte](1, 2, 3), Array[Byte](), Array[Byte](9, 8, 7, 6))
    val packed = Multimodal.packFrames(frames)
    assert(Multimodal.unpackFrames(packed).map(_.toSeq) == frames.map(_.toSeq))
    assert(Multimodal.unpackFrames(packed.dropRight(2)).map(_.toSeq) == frames.take(2).map(_.toSeq))
    assert(Multimodal.unpackFrames(Array.emptyByteArray).isEmpty)
  }

  test("sampleFrames decodes every stride-th real frame with exact pixel stats") {
    val vids = Multimodal.syntheticVideos(Seq(4L).toDF("doc_id"), "doc_id") // 1 + 4%5 = 5 frames
    val all = Multimodal.sampleFrames(vids, stride = 1).collect().sortBy(_.frameIdx)
    assert(all.map(_.frameIdx).toSeq == Seq(0, 1, 2, 3, 4))
    all.foreach { f =>
      assert(f.width == 16 && f.height == 12)
      assert(f.meanGray == Multimodal.synthGray(4L, f.frameIdx).toDouble) // PNG is lossless
      val thumb = Multimodal.decodeImage(f.thumbPng).get // thumbnail is itself a valid PNG
      assert(math.max(thumb.getWidth, thumb.getHeight) <= 16)
    }
    val sampled = Multimodal.sampleFrames(vids, stride = 2).collect()
    assert(sampled.map(_.frameIdx).sorted.toSeq == Seq(0, 2, 4))
  }

  test("sampleFrames thumbnails shrink oversized frames to thumbMax, aspect kept") {
    val big = Seq((1L, "image", Multimodal.encodePng(Multimodal.solidImage(128, 64, 200))))
      .toDF("id", "modality", "payload")
    val f = Multimodal.sampleFrames(big, stride = 1, thumbMax = 32).collect().head
    assert(f.width == 128 && f.height == 64) // reported dims are the ORIGINAL's
    val thumb = Multimodal.decodeImage(f.thumbPng).get
    assert(thumb.getWidth == 32 && thumb.getHeight == 16)
    assert((thumb.getRGB(10, 10) & 0xFF) == 200) // resize of a solid stays solid
  }

  test("imageFeatures: real pixel-grid embedding (solid → uniform, gradient → ordered)") {
    val solid = Seq((1L, "image", Multimodal.encodePng(Multimodal.solidImage(40, 30, 102))))
      .toDF("id", "modality", "payload")
    val fs = Multimodal.imageFeatures(solid, grid = 4).collect().head.features
    assert(fs.length == 16)
    assert(fs.forall(v => math.abs(v - 102f / 255f) < 1e-6f))

    // left-dark / right-bright gradient: features must increase along each row
    val img = new java.awt.image.BufferedImage(64, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 64; y <- 0 until 16) {
      val c = x * 4; img.setRGB(x, y, (c << 16) | (c << 8) | c)
    }
    val grad = Seq((2L, "image", Multimodal.encodePng(img))).toDF("id", "modality", "payload")
    val gf = Multimodal.imageFeatures(grad, grid = 4).collect().head.features
    for (row <- 0 until 4; x <- 0 until 3)
      assert(gf(row * 4 + x) < gf(row * 4 + x + 1), s"row $row not increasing: ${gf.toSeq}")
  }

  test("animated GIF: real multi-frame encode/decode, per-frame pixels exact") {
    val frames = Seq(40, 120, 200).map(g => Multimodal.solidImage(10, 8, g))
    val gif = Multimodal.encodeAnimatedGif(frames)
    val back = Multimodal.decodeFrames(gif)
    assert(back.length == 3)
    back.zip(Seq(40, 120, 200)).foreach { case (img, g) =>
      assert(img.getWidth == 10 && img.getHeight == 8)
      assert(Multimodal.meanGray(img) == g.toDouble) // GIF palette is lossless
    }
    assert(Multimodal.decodeFrames("junk".getBytes("UTF-8")).isEmpty)
    // single-frame formats decode as one frame through the same path
    assert(Multimodal.decodeFrames(Multimodal.encodePng(frames.head)).length == 1)
  }

  test("gif modality flows through decodeImageMeta/sampleFrames/imageFeatures") {
    val gifs = Multimodal.syntheticGifs(Seq(3L, 6L).toDF("doc_id"), "doc_id")
    val metas = Multimodal.decodeImageMeta(gifs).collect().sortBy(_.id)
    metas.foreach { m =>
      assert(m.width == 10 && m.height == 8)
      assert(m.nFrames == 1 + (m.id % 4).toInt)
    }
    val frames = Multimodal.sampleFrames(gifs, stride = 2).collect()
    frames.foreach { f =>
      assert(f.meanGray == Multimodal.synthGray(f.id, f.frameIdx).toDouble)
      assert(f.frameIdx % 2 == 0)
    }
    // id=3 has 4 frames → sampled {0,2}; id=6 has 3 → {0,2}
    assert(frames.count(_.id == 3L) == 2 && frames.count(_.id == 6L) == 2)
    val feats = Multimodal.imageFeatures(gifs, grid = 2).collect()
      .map(f => f.id -> f.features).toMap
    // features come from the FIRST frame: gray = synthGray(id, 0)
    assert(feats(3L).forall(v => math.abs(v - Multimodal.synthGray(3L, 0) / 255f) < 1e-6f))
  }

  test("WAV encode/decode roundtrip: exact samples, rate, channels") {
    val samples = Array.tabulate(400)(i => ((i % 7) * 1000 - 3000).toShort)
    val wav = Multimodal.encodeWavPcm16(samples, 8000)
    val (rate, ch, back) = Multimodal.decodeWav(wav).get
    assert(rate == 8000 && ch == 1)
    assert(back.toSeq == samples.toSeq) // PCM is lossless
    assert(Multimodal.decodeWav("not audio".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeWav(wav.take(20)).isEmpty) // truncated header
  }

  test("decodeAudioMeta reads true signal stats out of real WAV payloads") {
    val audio = Multimodal.syntheticAudio(Seq(2L, 9L, 14L).toDF("doc_id"), "doc_id")
    val metas = Multimodal.decodeAudioMeta(audio).collect().sortBy(_.id)
    metas.foreach { m =>
      assert(m.sampleRate == 8000 && m.channels == 1)
      assert(m.nSamples == Multimodal.synthSampleCount(m.id).toLong)
      assert(m.peak == Multimodal.synthAmplitude(m.id))
      // constant-amplitude signal: RMS == amplitude exactly
      assert(m.rms == Multimodal.synthAmplitude(m.id).toDouble)
    }
    val bad = Seq((1L, "audio", Array[Byte](1, 2, 3))).toDF("id", "modality", "payload")
    val audit = Multimodal.decodeAudioMeta(bad).collect().head
    assert(audit.sampleRate == 0 && audit.nSamples == 0L && audit.nBytes == 3L)
  }

  test("imageFeatures drops undecodable rows; video rows use the first frame") {
    val mixed = Seq(
      (1L, "image", "corrupt".getBytes("UTF-8")),
      (2L, "video", Multimodal.packFrames(Seq(
        Multimodal.encodePng(Multimodal.solidImage(10, 10, 60)),
        Multimodal.encodePng(Multimodal.solidImage(10, 10, 200)))))
    ).toDF("id", "modality", "payload")
    val out = Multimodal.imageFeatures(mixed, grid = 2).collect()
    assert(out.map(_.id).toSeq == Seq(2L))
    assert(out.head.features.forall(v => math.abs(v - 60f / 255f) < 1e-6f))
  }

  test("dHash: bits are exactly the adjacent-pixel gradient comparisons") {
    // hand-built 9×8 image with a known pattern → recompute every bit locally
    val img = new java.awt.image.BufferedImage(9, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    def g(x: Int, y: Int): Int = Multimodal.synthPatternGray(42L, x, y, 0)
    for (y <- 0 until 8; x <- 0 until 9) {
      val v = g(x, y); img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    var want = 0L
    for (y <- 0 until 8; x <- 0 until 8)
      if (g(x + 1, y) > g(x, y)) want |= (1L << (y * 8 + x))
    assert(Multimodal.dHash(img) == want)
    // PNG round trip preserves the hash (lossless codec on the critical path)
    val back = Multimodal.decodeImage(Multimodal.encodePng(img)).get
    assert(Multimodal.dHash(back) == want)
  }

  test("dHash: robust to uniform brightness shift and to re-scaling") {
    val base = new java.awt.image.BufferedImage(90, 80, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val shifted = new java.awt.image.BufferedImage(90, 80, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rnd = new scala.util.Random(3)
    // smooth horizontal ramp with per-row offsets: gradient signs survive +20
    for (y <- 0 until 80; x <- 0 until 90) {
      val v = math.min(200, (x * 2 + y / 8 + rnd.nextInt(2)))
      base.setRGB(x, y, (v << 16) | (v << 8) | v)
      val w = v + 20
      shifted.setRGB(x, y, (w << 16) | (w << 8) | w)
    }
    assert(Multimodal.dHash(base) == Multimodal.dHash(shifted))
    // 2× upscale preserves most gradient signs (hamming stays small)
    val scaled = Multimodal.resizeImage(base, 180, 160)
    val d = java.lang.Long.bitCount(Multimodal.dHash(base) ^ Multimodal.dHash(scaled))
    assert(d <= 6, s"hamming after rescale was $d")
  }

  test("dHashes: distributed batched decode; video first frame; undecodable audited") {
    val img = Multimodal.solidImage(9, 8, 10)
    // non-uniform column so the hash is non-zero
    for (y <- 0 until 8) img.setRGB(3, y, (200 << 16) | (200 << 8) | 200)
    val media = Seq(
      (1L, "image", Multimodal.encodePng(img)),
      (2L, "video", Multimodal.packFrames(Seq(Multimodal.encodePng(img)))),
      (3L, "image", Array[Byte](1, 2, 3))
    ).toDF("id", "modality", "payload")
    val got = Multimodal.dHashes(media).collect().map(r => r.id -> (r.decoded, r.dhash)).toMap
    assert(got(1L)._1 && got(1L)._2 == Multimodal.dHash(img))
    assert(got(2L) == got(1L)) // first frame of the framed container
    assert(!got(3L)._1)
  }

  test("syntheticPatternImages: real PNGs whose pixels are the pattern formula; bump at (0,0)") {
    val rows = Seq((7L, 7L, 0), (8L, 7L, 1)).toDF("rid", "pat", "bump")
    val media = Multimodal.syntheticPatternImages(rows, "rid", "pat", "bump")
      .collect().map(m => m.id -> m.payload).toMap
    val a = Multimodal.decodeImage(media(7L)).get
    val b = Multimodal.decodeImage(media(8L)).get
    for (y <- 0 until 8; x <- 0 until 9) {
      assert(Multimodal.grayAt(a, x, y) == Multimodal.synthPatternGray(7L, x, y, 0))
      assert(Multimodal.grayAt(b, x, y) == Multimodal.synthPatternGray(7L, x, y, 1))
    }
    // the twin differs in exactly the (0,0) pixel → hamming ≤ 1
    val d = java.lang.Long.bitCount(Multimodal.dHash(a) ^ Multimodal.dHash(b))
    assert(d <= 1)
  }

  test("audioSpectrum: on-bin tones concentrate at their bin; corrupt rows audit") {
    val ids = Seq(1L, 5L, 9L, 13L).toDF("id")
    val tones = Multimodal.syntheticTones(ids, "id")
    val got = Multimodal.audioSpectrum(tones).collect().map(s => s.id -> s).toMap
    for (id <- Seq(1L, 5L, 9L, 13L)) {
      val k = Multimodal.synthToneBin(id, 16)
      val s = got(id)
      assert(s.domBin == k, s"id $id: dom ${s.domBin} != tone bin $k")
      assert(s.sampleRate == 8000 && s.nSamples == 256L)
      // a pure on-bin tone: the signal bin carries essentially all
      // non-DC energy (quantization noise is ~50 dB down)
      val nonDc = s.bandPower.drop(1)
      assert(nonDc(k - 1) / math.max(nonDc.sum, 1e-12) > 0.99,
        s"id $id: power not concentrated (${nonDc.toSeq})")
    }
    val corrupt = Seq((99L, "audio", Array[Byte](1, 2, 3))).toDF("id", "modality", "payload")
    val audit = Multimodal.audioSpectrum(corrupt).collect()
    assert(audit.length == 1 && audit(0).sampleRate == 0 && audit(0).bandPower.isEmpty)
  }

  test("frameDiffStats: per-transition motion stats; threshold and single-pixel change") {
    val a = Multimodal.solidImage(8, 6, 10)
    val b = Multimodal.solidImage(8, 6, 20)
    val vid = Multimodal.packFrames(Seq(a, b, b).map(Multimodal.encodePng))
    val media = Seq((1L, "video", vid)).toDF("id", "modality", "payload")
    val out = Multimodal.frameDiffStats(media).collect().sortBy(_.frameIdx)
    assert(out.length == 2)
    assert(out(0).meanAbsDiff == 10.0 && out(0).maxAbsDiff == 10 && out(0).changedFrac == 1.0)
    assert(out(1).meanAbsDiff == 0.0 && out(1).maxAbsDiff == 0 && out(1).changedFrac == 0.0)
    // threshold above the delta: nothing counts as changed
    val strict = Multimodal.frameDiffStats(media, changeThreshold = 15)
      .collect().sortBy(_.frameIdx)
    assert(strict(0).changedFrac == 0.0 && strict(0).meanAbsDiff == 10.0)
    // a single-pixel bump changes exactly 1/(w·h) of the frame
    val p0 = Multimodal.decodeImage(Multimodal.syntheticPatternImages(
      Seq((1L, 7L, 0)).toDF("rid", "pat", "bump"), "rid", "pat", "bump")
      .collect()(0).payload).get
    val p1 = Multimodal.decodeImage(Multimodal.syntheticPatternImages(
      Seq((1L, 7L, 200)).toDF("rid", "pat", "bump"), "rid", "pat", "bump")
      .collect()(0).payload).get
    val vid2 = Multimodal.packFrames(Seq(p0, p1).map(Multimodal.encodePng))
    val one = Multimodal.frameDiffStats(
      Seq((2L, "video", vid2)).toDF("id", "modality", "payload"),
      changeThreshold = 0).collect()(0)
    assert(one.changedFrac == 1.0 / (p0.getWidth * p0.getHeight),
      s"single-pixel change: ${one.changedFrac}")
    // single frame → no transitions
    val single = Seq((3L, "video",
      Multimodal.packFrames(Seq(Multimodal.encodePng(a))))).toDF("id", "modality", "payload")
    assert(Multimodal.frameDiffStats(single).count() == 0L)
  }

  test("frameDiffStats: an animated GIF gives the transitions of the same frames framed") {
    val frames = Seq(10, 20, 20, 200).map(g => Multimodal.solidImage(8, 6, g))
    val media = Seq(
      (1L, "video", Multimodal.packFrames(frames.map(Multimodal.encodePng))),
      (2L, "gif", Multimodal.encodeAnimatedGif(frames))
    ).toDF("id", "modality", "payload")
    val out = Multimodal.frameDiffStats(media).collect()
      .groupBy(_.id).map { case (id, ds) => id -> ds.sortBy(_.frameIdx).map(_.copy(id = 0L)).toSeq }
    assert(out(1L).map(_.meanAbsDiff) == Seq(10.0, 0.0, 180.0))
    assert(out(2L) == out(1L))
  }

  test("a framed container with a truncated first frame is an audit row") {
    // a noisy frame's PNG is 256 bytes or more, so its length prefix
    // reads 00 00 w h with w > 0: ImageIO's WBMP reader would take the
    // truncated payload for a w×h WBMP
    val rnd = new scala.util.Random(1)
    val img = new java.awt.image.BufferedImage(64, 48, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 48; x <- 0 until 64) img.setRGB(x, y, rnd.nextInt())
    val vid = Multimodal.packFrames(Seq(Multimodal.encodePng(img)))
    val media = Seq((1L, "video", vid.dropRight(10))).toDF("id", "modality", "payload")
    val m = Multimodal.decodeImageMeta(media).collect().head
    assert(m.width == 0 && m.height == 0 && m.nFrames == 0)
    assert(!Multimodal.dHashes(media).collect().head.decoded)
  }

  test("audio decoders and frameDiffStats read only id and payload") {
    val wav = Multimodal.encodeWavPcm16(Array.fill[Short](64)(1000), 8000)
    val audio = Seq((1L, wav)).toDF("id", "payload")
    assert(Multimodal.decodeAudioMeta(audio).collect().head.peak == 1000)
    assert(Multimodal.audioQuality(audio).collect().head.nSamples == 64L)
    assert(Multimodal.audioSpectrum(audio).collect().head.domBin >= 1)
    val vid = Multimodal.packFrames(Seq(10, 30).map(g =>
      Multimodal.encodePng(Multimodal.solidImage(4, 4, g))))
    val motion = Multimodal.frameDiffStats(Seq((2L, vid)).toDF("id", "payload")).collect()
    assert(motion.map(_.meanAbsDiff).toSeq == Seq(20.0))
  }

  test("no decoder's executed plan has an exchange") {
    val imgs = Multimodal.syntheticImages(Seq(1L, 2L).toDF("doc_id"), "doc_id")
    val plans = Seq[Dataset[_]](
      Multimodal.decodeImageMeta(imgs), Multimodal.sampleFrames(imgs, stride = 1),
      Multimodal.imageFeatures(imgs), Multimodal.frameDiffStats(imgs),
      Multimodal.dHashes(imgs), Multimodal.decodeAudioMeta(imgs),
      Multimodal.audioQuality(imgs), Multimodal.audioSpectrum(imgs),
      Multimodal.decodeStub(imgs.toDF()))
      .map(_.queryExecution.executedPlan.toString)
    plans.foreach(p => assert(!p.contains("Exchange"), p))
  }

  test("audioQuality: clipping/silence fractions, DC offset, peak on hand-built PCM") {
    // 8 samples: two clipped, two silent-ish, known mean and peak
    val samples = Array[Short](32767, -32767, 0, 2, 100, -100, 5000, -5000)
    val wav = Multimodal.encodeWavPcm16(samples, 8000)
    val media = Seq((1L, "audio", wav), (2L, "audio", Array[Byte](9, 9))).toDF(
      "id", "modality", "payload")
    val out = Multimodal.audioQuality(media).collect().map(q => q.id -> q).toMap
    val q1 = out(1L)
    assert(q1.nSamples == 8L && q1.peak == 32767)
    assert(q1.clipFrac == 2.0 / 8 && q1.silenceFrac == 2.0 / 8)
    assert(math.abs(q1.dcOffset - samples.map(_.toInt).sum / 8.0) < 1e-12)
    assert(out(2L).sampleRate == 0 && out(2L).nSamples == 0L, "corrupt row audits")
    // saturating generator really clips when overdriven
    val clipped = Multimodal.audioQuality(
      Multimodal.syntheticClipped(Seq(4L).toDF("id"), "id")).collect()(0)
    // id 4: amp = 20000 + (4 % 3)·8000 = 28000 < 32767 → no clipping
    assert(clipped.clipFrac == 0.0 && clipped.peak <= 28000)
    val hot = Multimodal.audioQuality(
      Multimodal.syntheticClipped(Seq(2L).toDF("id"), "id")).collect()(0)
    // id 2: amp = 36000 > 32767 → flat-topped sine clips; the negative
    // rail clamps to −32768, so the absolute peak reads 32768
    assert(hot.clipFrac > 0.0 && hot.peak == 32768, s"overdriven tone must clip: $hot")
  }

  test("audioSpectrum matches a reference DFT on an arbitrary (off-bin) signal") {
    // non-sinusoidal ramp: every bin carries energy; compare each
    // band power against a direct driver-side DFT of the same samples
    val samples = Array.tabulate(200)(i => ((i * 131) % 4001 - 2000).toShort)
    val wav = Multimodal.encodeWavPcm16(samples, 8000)
    val media = Seq((1L, "audio", wav)).toDF("id", "modality", "payload")
    val got = Multimodal.audioSpectrum(media, nBins = 8).collect()(0)
    for (b <- 0 until 8) {
      var re = 0.0; var im = 0.0
      for (i <- samples.indices) {
        val th = 2.0 * math.Pi * b * i / samples.length
        re += samples(i) * math.cos(th); im += samples(i) * math.sin(th)
      }
      val want = re * re + im * im
      assert(math.abs(got.bandPower(b) - want) <= math.abs(want) * 1e-12 + 1e-6,
        s"bin $b: ${got.bandPower(b)} vs $want")
    }
  }
}
