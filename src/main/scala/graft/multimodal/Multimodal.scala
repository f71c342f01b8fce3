package graft.multimodal

import java.awt.RenderingHints
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.ByteBuffer
import javax.imageio.ImageIO

import scala.collection.IndexedSeqView
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video as opaque `binary` columns
  * with typed metadata, decoded row by row inside one narrow map.
  *
  * The image path is REAL: payloads are decoded with the JDK codec
  * (`javax.imageio.ImageIO` — PNG/JPEG/GIF/BMP, no external jars),
  * resized with `Graphics2D`, and features are actual pixel
  * intensities. Video is modeled as a framed container (length-
  * prefixed encoded images, [[packFrames]]/[[unpackFrames]]) whose
  * frames decode through the same real codec; a production deployment
  * swaps the frame source for an FFmpeg/JNI call — the Spark plumbing
  * (schema, the per-row mapPartitions, partition sizing) is exactly
  * what that swap inherits. Audio follows the same binary-payload +
  * per-row-decode shape.
  *
  * Scale shape: decode is a narrow mapPartitions — no shuffle, scales
  * with input splits. Each row's outputs stream out before the next
  * row decodes, so a task holds one row's decoded frames at a time
  * (width×height×4 B each — far larger than the compressed payload;
  * bound it with the input split size, not a row count). Corrupt
  * payloads MUST NOT kill a 100 TB job: undecodable rows surface as
  * `width = height = nFrames = 0` audit rows from [[decodeImageMeta]]
  * and are skipped by frame/feature extraction.
  *
  * Reference shape: scio models unstructured blobs as `SCollection[
  *   Array[Byte]]` via binaryFile IO (scio-core/src/main/scala/com/
  * spotify/scio/io/BinaryIO.scala:43); the typed-metadata + per-row
  * decode layering here is the Spark-native equivalent.
  */
object Multimodal {

  // Executor-side codec hygiene: never fall back to an AWT display
  // (headless JVMs) and never spill ImageIO's stream cache to disk —
  // a per-decode temp file would serialize every task on /tmp.
  System.setProperty("java.awt.headless", "true")
  ImageIO.setUseCache(false)

  /** Canonical media row. */
  final case class MediaRow(id: Long, modality: String, payload: Array[Byte])

  /** Decoded-media metadata row. `width = height = nFrames = 0` marks
    * an undecodable payload (kept, not dropped: the audit channel).
    */
  final case class MediaMeta(id: Long, modality: String, nBytes: Long,
                             width: Int, height: Int, nFrames: Int)

  /** One decoded, sampled frame: true decoded dimensions, mean pixel
    * intensity (0..255 scale, exact for lossless codecs), and a
    * re-encoded PNG thumbnail bounded by `thumbMax`.
    */
  final case class DecodedFrame(id: Long, frameIdx: Int, width: Int, height: Int,
                                meanGray: Double, thumbPng: Array[Byte])

  /** Feature row: row-major grid of gray intensities in [0,1]. */
  final case class FeatureRow(id: Long, features: Array[Float])

  // ------------------------------------------------------------------
  // Plain-JVM codec kernels (used inside mapPartitions on executors).
  // ------------------------------------------------------------------

  /** Encode to PNG (lossless — pixel values survive a round trip). */
  def encodePng(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Real decode via the JDK codec; None on corrupt/unknown payloads
    * (ImageIO returns null for unrecognized formats and throws on
    * truncated streams — both map to None, never a task failure).
    */
  def decodeImage(bytes: Array[Byte]): Option[BufferedImage] =
    try Option(ImageIO.read(new ByteArrayInputStream(bytes)))
    catch { case _: Exception => None }

  /** Graphics2D bilinear resize to exactly (w, h). */
  def resizeImage(img: BufferedImage, w: Int, h: Int): BufferedImage = {
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    try {
      g.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
        RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, w, h, null)
    } finally g.dispose()
    out
  }

  /** Mean gray intensity over all pixels, 0..255 scale. */
  def meanGray(img: BufferedImage): Double = {
    var sum = 0.0
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        sum += (((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)) / 3.0
        x += 1
      }
      y += 1
    }
    sum / (img.getWidth.toLong * img.getHeight)
  }

  /** Solid-fill RGB image (gray level in all three channels). */
  def solidImage(w: Int, h: Int, gray: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try { g.setColor(new java.awt.Color(gray, gray, gray)); g.fillRect(0, 0, w, h) }
    finally g.dispose()
    img
  }

  /** Framed-container format for multi-frame media: each frame is
    * [4-byte big-endian length][frame bytes], concatenated. Frames are
    * independently decodable images (the stand-in for keyframe-only
    * video; a real codec swap reads its own container here).
    */
  def packFrames(frames: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val len = ByteBuffer.allocate(4)
    frames.foreach { f =>
      len.clear(); len.putInt(f.length)
      bos.write(len.array()); bos.write(f)
    }
    bos.toByteArray
  }

  /** Inverse of [[packFrames]]; a truncated tail frame is dropped
    * rather than thrown (corrupt-input contract).
    */
  def unpackFrames(bytes: Array[Byte]): Seq[Array[Byte]] = {
    val out = Seq.newBuilder[Array[Byte]]
    var off = 0
    while (off + 4 <= bytes.length) {
      val n = ByteBuffer.wrap(bytes, off, 4).getInt
      if (n < 0 || off + 4 + n > bytes.length) return out.result()
      out += java.util.Arrays.copyOfRange(bytes, off + 4, off + 4 + n)
      off += 4 + n
    }
    out.result()
  }

  // Deterministic synthetic-media formulas, shared by the generators,
  // the specs, and the DuckDB oracles (which recompute them from
  // doc_id). The ROUND TRIP is what's under test: the generator
  // encodes a real PNG with these dims/colors, the decode path reads
  // them back out of actual pixels — a fake decoder cannot match.
  def synthWidth(id: Long): Int = 8 + math.floorMod(id, 64L).toInt
  def synthHeight(id: Long): Int = 8 + math.floorMod(id * 3, 48L).toInt
  def synthGray(id: Long, frameIdx: Int): Int = math.floorMod(id * 37 + frameIdx, 256L).toInt

  /** The one generator behind every `synthetic*` table: one
    * `modality` row per input row, its payload computed from the id
    * (`idCol` cast to long) and the row of `id +: more`.
    */
  private def synthetic(df: DataFrame, idCol: String, modality: String, more: Column*)(
      payload: (Long, Row) => Array[Byte]): Dataset[MediaRow] =
    df.select(col(idCol).cast("long").as("id") +: more: _*)
      .mapPartitions((rows: Iterator[Row]) =>
        rows.map(r => MediaRow(r.getLong(0), modality, payload(r.getLong(0), r))))(
        Encoders.product[MediaRow])

  /** Synthetic single-image table: one REAL PNG payload per input id,
    * dims/color derived deterministically from the id.
    */
  def syntheticImages(df: DataFrame, idCol: String): Dataset[MediaRow] =
    synthetic(df, idCol, "image") { (id, _) =>
      encodePng(solidImage(synthWidth(id), synthHeight(id), synthGray(id, 0)))
    }

  /** Synthetic framed-video table: `1 + id % maxFrames` real PNG
    * frames of `w`×`h`, frame i colored `synthGray(id, i)`, packed
    * with [[packFrames]].
    */
  def syntheticVideos(df: DataFrame, idCol: String, maxFrames: Int = 5,
                      w: Int = 16, h: Int = 12): Dataset[MediaRow] =
    synthetic(df, idCol, "video") { (id, _) =>
      val n = 1 + math.floorMod(id, maxFrames.toLong).toInt
      packFrames((0 until n).map(i => encodePng(solidImage(w, h, synthGray(id, i)))))
    }

  // ------------------------------------------------------------------
  // Distributed operators over (id, modality, payload) tables.
  // ------------------------------------------------------------------

  /** The columns of the canonical media table, which the image
    * decoders and [[decodeStub]] take whole; the audio decoders and
    * [[frameDiffStats]] read only `id` and `payload`.
    */
  private val MediaCols = Seq("id", "modality", "payload")

  /** The one decode loop: `decode` runs on each row of `cols`, in a
    * narrow mapPartitions over the media scan (no exchange), and the
    * row's outputs stream out before the next row is decoded.
    */
  private def perRow[T <: Product : TypeTag](media: Dataset[_], cols: String*)(
      decode: Row => IterableOnce[T]): Dataset[T] =
    media.toDF().select(cols.map(col): _*)
      .mapPartitions((rows: Iterator[Row]) => rows.flatMap(decode))(Encoders.product[T])

  /** The one frame source of the image decoders: a payload's frames in
    * container order, each decoded when read (None = that frame does
    * not decode); "first frame" is container frame 0. A payload whose
    * first byte is below 0x40 (a first length prefix under 1 GiB) is a
    * framed container ([[packFrames]]), truncated or not; any other
    * payload goes to ImageIO, which yields every frame of an animated
    * GIF, the one frame of a PNG/JPEG/BMP/TIFF (their magic bytes all
    * start at 0x42 or above), and none for an unknown or corrupt
    * payload. WBMP has no magic and starts with 0x00, so it reads as a
    * container with no whole frame; given to ImageIO, a truncated
    * container would instead decode as a WBMP of garbage.
    */
  private def frames(bytes: Array[Byte]): IndexedSeqView[Option[BufferedImage]] =
    if (bytes.nonEmpty && (bytes(0) & 0xFF) < 0x40)
      unpackFrames(bytes).toIndexedSeq.view.map(decodeImage)
    else decodeFrames(bytes).toIndexedSeq.view.map(Some(_))

  /** REAL decode: ImageIO reads each payload's frame 0 for its true
    * dimensions, with nFrames = the container's frame count;
    * undecodable rows come back as zero-dim audit rows.
    */
  def decodeImageMeta(media: Dataset[_]): Dataset[MediaMeta] =
    perRow(media, MediaCols: _*) { r =>
      val (id, modality, bytes) = (r.getLong(0), r.getString(1), r.getAs[Array[Byte]](2))
      val fs = frames(bytes)
      Some(fs.headOption.flatten match {
        case Some(img) => MediaMeta(id, modality, bytes.length.toLong,
          img.getWidth, img.getHeight, fs.length)
        case None => MediaMeta(id, modality, bytes.length.toLong, 0, 0, 0)
      })
    }

  /** Per-transition motion row from [[frameDiffStats]]. */
  final case class FrameDiff(id: Long, frameIdx: Int, meanAbsDiff: Double,
                             maxAbsDiff: Int, changedFrac: Double)

  /** REAL motion analysis over multi-frame media (framed video or
    * animated GIF): decode consecutive frame pairs and report, per
    * transition i→i+1, the mean/max absolute gray-level change and the
    * fraction of pixels that changed by more than `changeThreshold` —
    * the scene-change / static-video signals a video curation pass
    * filters on (a near-zero meanAbsDiff across all transitions = a
    * still image padded into a clip; spikes = cuts). Undecodable frames
    * are skipped; single-frame or undecodable rows emit no transitions
    * (audit via [[decodeImageMeta]]). Mismatched frame dimensions score
    * the overlapping region (top-left crop) — the honest bound without
    * resampling.
    */
  def frameDiffStats(media: Dataset[_], changeThreshold: Int = 8): Dataset[FrameDiff] = {
    require(changeThreshold >= 0, s"changeThreshold must be >= 0, got $changeThreshold")
    perRow(media, "id", "payload") { r =>
      val id = r.getLong(0)
      frames(r.getAs[Array[Byte]](1)).flatten.toSeq.sliding(2).zipWithIndex.collect {
        case (Seq(a, b), i) =>
          val w = math.min(a.getWidth, b.getWidth)
          val h = math.min(a.getHeight, b.getHeight)
          var sum = 0L
          var mx = 0
          var changed = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val d = math.abs(grayAt(a, x, y) - grayAt(b, x, y))
              sum += d
              if (d > mx) mx = d
              if (d > changeThreshold) changed += 1
              x += 1
            }
            y += 1
          }
          val n = math.max(w.toLong * h, 1L)
          FrameDiff(id, i, sum.toDouble / n, mx, changed.toDouble / n)
      }
    }
  }

  /** REAL frame sampling: decode every `stride`-th frame with ImageIO,
    * report true dims + exact mean intensity, and re-encode a
    * Graphics2D thumbnail bounded by `thumbMax` on the long side
    * (aspect preserved). Single images are one-frame media.
    * Undecodable frames are skipped (decode metadata via
    * [[decodeImageMeta]] to audit).
    */
  def sampleFrames(media: Dataset[_], stride: Int, thumbMax: Int = 64): Dataset[DecodedFrame] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    perRow(media, MediaCols: _*) { r =>
      val fs = frames(r.getAs[Array[Byte]](2))
      fs.indices.by(stride).flatMap(i => fs(i).map { img =>
        val scale = thumbMax.toDouble / math.max(img.getWidth, img.getHeight)
        val thumb =
          if (scale >= 1.0) img
          else resizeImage(img,
            math.max(1, math.round(img.getWidth * scale).toInt),
            math.max(1, math.round(img.getHeight * scale).toInt))
        DecodedFrame(r.getLong(0), i, img.getWidth, img.getHeight,
          meanGray(img), encodePng(thumb))
      })
    }
  }

  /** REAL feature extraction: decode frame 0, Graphics2D-resize to a
    * `grid`×`grid` patch, emit row-major gray intensities in [0,1] as
    * `features: array<float>` — the classic pixel-grid embedding,
    * directly consumable by graft's KNN/cosine operators. Undecodable
    * rows are dropped here (audit via [[decodeImageMeta]]).
    */
  def imageFeatures(media: Dataset[_], grid: Int = 4): Dataset[FeatureRow] = {
    require(grid >= 1, s"grid must be >= 1, got $grid")
    perRow(media, MediaCols: _*) { r =>
      frames(r.getAs[Array[Byte]](2)).headOption.flatten.map { img =>
        val p = resizeImage(img, grid, grid)
        val fs = new Array[Float](grid * grid)
        var y = 0
        while (y < grid) {
          var x = 0
          while (x < grid) {
            val rgb = p.getRGB(x, y)
            fs(y * grid + x) =
              ((((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)) / 3.0f) / 255.0f
            x += 1
          }
          y += 1
        }
        FeatureRow(r.getLong(0), fs)
      }
    }
  }

  // ------------------------------------------------------------------
  // Animated GIF: a REAL multi-frame JDK codec path (ImageIO reads
  // every frame of an animated GIF natively) — actual motion-media
  // decode, complementing the framed-PNG container stand-in.
  // ------------------------------------------------------------------

  /** Encode frames as one animated GIF (JDK GIF writer sequence API).
    * GIF is palette-lossless: frames of ≤256 distinct colors survive
    * a round trip bit-exact.
    */
  def encodeAnimatedGif(frames: Seq[BufferedImage]): Array[Byte] = {
    require(frames.nonEmpty, "animated GIF needs at least one frame")
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new ByteArrayOutputStream()
    val out = ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(out)
      writer.prepareWriteSequence(null)
      frames.foreach(f => writer.writeToSequence(new javax.imageio.IIOImage(f, null, null), null))
      writer.endWriteSequence()
    } finally { writer.dispose(); out.close() }
    bos.toByteArray
  }

  /** Decode ALL frames of a (possibly animated) image payload — one
    * frame for PNG/JPEG, every frame for animated GIF. Nil on corrupt
    * payloads.
    */
  def decodeFrames(bytes: Array[Byte]): Seq[BufferedImage] =
    try {
      val in = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
      try {
        val readers = ImageIO.getImageReaders(in)
        if (!readers.hasNext) Nil
        else {
          val reader = readers.next()
          try {
            reader.setInput(in)
            val n = reader.getNumImages(true)
            (0 until n).map(reader.read)
          } finally reader.dispose()
        }
      } finally in.close()
    } catch { case _: Exception => Nil }

  /** Synthetic animated-GIF table: `1 + id % maxFrames` solid frames,
    * frame i colored `synthGray(id, i)` — real multi-frame payloads
    * whose per-frame pixel values an oracle recomputes from the id.
    */
  def syntheticGifs(df: DataFrame, idCol: String, maxFrames: Int = 4,
                    w: Int = 10, h: Int = 8): Dataset[MediaRow] =
    synthetic(df, idCol, "gif") { (id, _) =>
      val n = 1 + math.floorMod(id, maxFrames.toLong).toInt
      encodeAnimatedGif((0 until n).map(i => solidImage(w, h, synthGray(id, i))))
    }

  // ------------------------------------------------------------------
  // Audio: REAL JDK WAV codec (javax.sound.sampled — PCM WAVE
  // encode/decode ships with the JDK, headless-safe). Real pipelines
  // swap the per-row decode body for FFmpeg exactly like video.
  // ------------------------------------------------------------------

  /** Decoded-audio metadata + signal stats. `sampleRate = 0` marks an
    * undecodable payload (audit row, mirrors [[MediaMeta]]).
    */
  final case class AudioMeta(id: Long, nBytes: Long, sampleRate: Int, channels: Int,
                             nSamples: Long, peak: Int, rms: Double)

  /** Encode 16-bit signed PCM mono samples as a WAV container. */
  def encodeWavPcm16(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    import javax.sound.sampled.{AudioFormat, AudioFileFormat, AudioInputStream, AudioSystem}
    val bytes = new Array[Byte](samples.length * 2)
    val bb = ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(bb.putShort)
    val fmt = new AudioFormat(sampleRate.toFloat, 16, 1, true, false) // signed, LE
    val in = new AudioInputStream(new ByteArrayInputStream(bytes), fmt, samples.length.toLong)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(in, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Real WAV decode: container + PCM samples (mono or first-channel
    * of interleaved multi-channel); None on corrupt/unknown payloads.
    */
  def decodeWav(bytes: Array[Byte]): Option[(Int, Int, Array[Short])] =
    try {
      import javax.sound.sampled.AudioSystem
      val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        if (fmt.getSampleSizeInBits != 16) None
        else {
          val raw = in.readAllBytes()
          val bb = ByteBuffer.wrap(raw).order(
            if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
            else java.nio.ByteOrder.LITTLE_ENDIAN)
          val ch = fmt.getChannels
          val n = raw.length / 2 / ch
          val samples = new Array[Short](n)
          var i = 0
          while (i < n) { samples(i) = bb.getShort(i * 2 * ch); i += 1 } // first channel
          Some((fmt.getSampleRate.toInt, ch, samples))
        }
      } finally in.close()
    } catch { case _: Exception => None }

  // deterministic synthetic-audio formulas (shared with specs/oracles)
  def synthSampleCount(id: Long): Int = 800 + math.floorMod(id, 5L).toInt * 160
  def synthAmplitude(id: Long): Int = math.floorMod(id * 37, 16384L).toInt

  /** Synthetic WAV table: one REAL WAV payload per id — constant-
    * amplitude PCM (every sample = synthAmplitude), so peak and RMS
    * decode back to exactly that value.
    */
  def syntheticAudio(df: DataFrame, idCol: String, sampleRate: Int = 8000): Dataset[MediaRow] =
    synthetic(df, idCol, "audio") { (id, _) =>
      encodeWavPcm16(Array.fill(synthSampleCount(id))(synthAmplitude(id).toShort), sampleRate)
    }

  /** REAL audio decode: WAV container + PCM stats (peak, RMS) per
    * row; undecodable rows become zero-rate audit rows.
    */
  def decodeAudioMeta(media: Dataset[_]): Dataset[AudioMeta] =
    perRow(media, "id", "payload") { r =>
      val id = r.getLong(0)
      val bytes = r.getAs[Array[Byte]](1)
      Some(decodeWav(bytes) match {
        case Some((rate, ch, samples)) =>
          var peak = 0
          var sumSq = 0.0
          samples.foreach { s =>
            val a = math.abs(s.toInt)
            if (a > peak) peak = a
            sumSq += s.toDouble * s.toDouble
          }
          AudioMeta(id, bytes.length.toLong, rate, ch, samples.length.toLong,
            peak, math.sqrt(sumSq / math.max(samples.length, 1)))
        case None => AudioMeta(id, bytes.length.toLong, 0, 0, 0L, 0, 0.0)
      })
    }

  /** Per-row audio quality metrics from [[audioQuality]]. */
  final case class AudioQuality(id: Long, sampleRate: Int, nSamples: Long,
                                clipFrac: Double, silenceFrac: Double,
                                dcOffset: Double, peak: Int)

  /** Synthetic saturating-tone WAVs: trunc(amp·sin) clamped into
    * int16 — amp ABOVE 32767 produces real clipped audio (flat-topped
    * sine), engine-reproducible sample by sample (explicit
    * least/greatest saturation, never Scala's wrapping toShort).
    */
  def syntheticClipped(df: DataFrame, idCol: String, n: Int = 256,
                       sampleRate: Int = 8000): Dataset[MediaRow] =
    synthetic(df, idCol, "audio") { (id, _) =>
      // every third id overdrives (clips); amplitude formula shared
      // with the oracle
      val amp = 20000 + math.floorMod(id, 3L).toInt * 8000
      val k = 1 + math.floorMod(id, 7L).toInt
      val samples = Array.tabulate(n) { i =>
        val raw = (amp * math.sin(2.0 * math.Pi * k * i / n)).toLong
        math.max(-32768L, math.min(32767L, raw)).toShort
      }
      encodeWavPcm16(samples, sampleRate)
    }

  /** REAL audio-quality screen: decode WAV and report the clipping
    * fraction (|s| ≥ clipLevel), near-silence fraction
    * (|s| ≤ silenceLevel), DC offset (mean sample), and peak — the
    * reject-before-transcribe gates of an audio curation pass
    * (clipped or silent clips waste label/compute budget). Same
    * per-row no-shuffle shape as [[decodeAudioMeta]]; undecodable
    * rows become zero-rate audit rows.
    */
  def audioQuality(media: Dataset[_], clipLevel: Int = 32767,
                   silenceLevel: Int = 3): Dataset[AudioQuality] = {
    require(clipLevel > 0 && silenceLevel >= 0, s"bad levels ($clipLevel, $silenceLevel)")
    perRow(media, "id", "payload") { r =>
      val id = r.getLong(0)
      Some(decodeWav(r.getAs[Array[Byte]](1)) match {
        case Some((rate, _, samples)) if samples.nonEmpty =>
          var clip = 0L
          var silent = 0L
          var sum = 0L
          var peak = 0
          samples.foreach { s =>
            val a = math.abs(s.toInt)
            if (a >= clipLevel) clip += 1
            if (a <= silenceLevel) silent += 1
            if (a > peak) peak = a
            sum += s.toInt
          }
          val n = samples.length
          AudioQuality(id, rate, n.toLong, clip.toDouble / n,
            silent.toDouble / n, sum.toDouble / n, peak)
        case _ => AudioQuality(id, 0, 0L, 0.0, 0.0, 0.0, 0)
      })
    }
  }

  /** Per-row frequency features: DFT power at the first `nBins` bins
    * plus the dominant non-DC bin. `dom_bin = 0` + empty powers marks
    * an undecodable payload (the audit channel, like [[MediaMeta]]).
    */
  final case class AudioSpectrum(id: Long, sampleRate: Int, nSamples: Long,
                                 domBin: Int, bandPower: Array[Double])

  // deterministic synthetic-tone formulas (shared with specs/oracles):
  // a pure sine EXACTLY on DFT bin k of an n-sample frame, so the
  // spectrum concentrates at k and the oracle can recompute the argmax
  def synthToneBin(id: Long, nBins: Int): Int =
    1 + math.floorMod(id * 11, (nBins - 1).toLong).toInt
  def synthToneAmp(id: Long): Int = 8000 + math.floorMod(id, 7L).toInt * 1000

  /** Synthetic tone table: one REAL WAV per id carrying
    * trunc(amp·sin(2π·k·i/n)) PCM — sample values any engine with sin()
    * reproduces (truncation toward zero = SQL trunc; ±1-ulp sin noise
    * at integer boundaries only perturbs samples by 1, which cannot
    * move the spectral argmax of an on-bin tone).
    */
  def syntheticTones(df: DataFrame, idCol: String, n: Int = 256,
                     sampleRate: Int = 8000, nBins: Int = 16): Dataset[MediaRow] =
    synthetic(df, idCol, "audio") { (id, _) =>
      val k = synthToneBin(id, nBins)
      val a = synthToneAmp(id)
      val samples = Array.tabulate(n)(i =>
        (a * math.sin(2.0 * math.Pi * k * i / n)).toShort)
      encodeWavPcm16(samples, sampleRate)
    }

  /** REAL spectral analysis: decode WAV, direct DFT at the first
    * `nBins` bins (power |Σ sₙ·e^(−2πi·b·n/N)|²), dominant non-DC bin
    * (ties → lowest). O(nBins·N) per row — for a feature extractor
    * reading a handful of bins that beats an FFT's setup; swap the
    * kernel for a JNI FFT when nBins approaches N/2. Same narrow
    * no-shuffle mapPartitions shape as [[decodeAudioMeta]];
    * undecodable rows become zero-rate audit rows, never task kills.
    */
  def audioSpectrum(media: Dataset[_], nBins: Int = 16): Dataset[AudioSpectrum] = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    perRow(media, "id", "payload") { r =>
      val id = r.getLong(0)
      Some(decodeWav(r.getAs[Array[Byte]](1)) match {
        case Some((rate, _, samples)) if samples.nonEmpty =>
          val n = samples.length
          val power = Array.tabulate(nBins) { b =>
            var re = 0.0
            var im = 0.0
            var i = 0
            while (i < n) {
              val theta = 2.0 * math.Pi * b * i / n
              re += samples(i) * math.cos(theta)
              im += samples(i) * math.sin(theta)
              i += 1
            }
            re * re + im * im
          }
          var dom = 1
          var i = 2
          while (i < nBins) {
            if (power(i) > power(dom)) dom = i
            i += 1
          }
          AudioSpectrum(id, rate, n.toLong, dom, power)
        case _ => AudioSpectrum(id, 0, 0L, 0, Array.empty)
      })
    }
  }

  // ------------------------------------------------------------------
  // Text-payload plumbing (kept: the binary-column schema contract and
  // a length-derived metadata path an external oracle can recompute
  // without a codec).
  // ------------------------------------------------------------------

  /** Pack any table into the canonical multimodal schema:
    * (id, modality, payload binary). Here payload is the utf-8
    * encoding of a text column — a stand-in for real media bytes; the
    * schema and partitioning are what downstream relies on.
    */
  def asMediaTable(df: DataFrame, idCol: String, textCol: String, modality: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"), lit(modality).as("modality"),
      encode(col(textCol), "UTF-8").cast("binary").as("payload"))

  /** Per-row decode with LENGTH-DERIVED metadata: the same decode
    * loop as [[decodeImageMeta]], but width/height/nFrames are
    * deterministic functions of the payload byte length so an
    * external, codec-less oracle (DuckDB octet_length) can recompute
    * them — this pins the plumbing. For true decoded metadata use
    * [[decodeImageMeta]].
    */
  def decodeStub(media: DataFrame): Dataset[MediaMeta] =
    perRow(media, MediaCols: _*) { r =>
      val n = r.getAs[Array[Byte]](2).length.toLong
      Some(MediaMeta(r.getLong(0), r.getString(1), n,
        width = 16 + (n % 1920L).toInt,
        height = 16 + (n * 7L % 1080L).toInt,
        nFrames = 1 + (n % 32L).toInt))
    }

  // ------------------------------------------------------------------
  // Perceptual image hashing (dHash) — the image counterpart of
  // SimHash text near-dup: a 64-bit gradient signature whose hamming
  // distance tracks visual similarity, robust to re-encoding and
  // uniform brightness shifts.
  // ------------------------------------------------------------------

  /** dHash grid: comparisons run on a (DHashW+1) × DHashH grayscale. */
  val DHashW = 8
  val DHashH = 8

  /** Mean-channel gray at (x, y), 0..255 (exact when r == g == b). */
  def grayAt(img: BufferedImage, x: Int, y: Int): Int = {
    val rgb = img.getRGB(x, y)
    (((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)) / 3
  }

  /** 64-bit difference hash: resize to 9×8 grayscale (skipped when the
    * image already is exactly 9×8 — keeps synthetic-oracle pixels
    * bit-exact), bit `y*8+x` set iff gray(x+1, y) > gray(x, y).
    */
  def dHash(img: BufferedImage): Long = {
    val g = if (img.getWidth == DHashW + 1 && img.getHeight == DHashH)
      img else resizeImage(img, DHashW + 1, DHashH)
    var hash = 0L
    var y = 0
    while (y < DHashH) {
      var x = 0
      while (x < DHashW) {
        if (grayAt(g, x + 1, y) > grayAt(g, x, y)) hash |= (1L << (y * DHashW + x))
        x += 1
      }
      y += 1
    }
    hash
  }

  /** Per-row dHash row: null-marker is `decoded = false`. */
  final case class DHashRow(id: Long, decoded: Boolean, dhash: Long)

  /** REAL dHash over an (id, modality, payload) media table: ImageIO
    * decode of frame 0, then [[dHash]]. Undecodable rows come back
    * `decoded = false` (audit channel), mirroring [[decodeImageMeta]].
    */
  def dHashes(media: Dataset[_]): Dataset[DHashRow] =
    perRow(media, MediaCols: _*) { r =>
      val first = frames(r.getAs[Array[Byte]](2)).headOption.flatten
      Some(DHashRow(r.getLong(0), decoded = first.isDefined, first.fold(0L)(dHash)))
    }

  /** Deterministic patterned-pixel formula shared by the generator,
    * the specs, and the DuckDB oracles (the [[synthGray]] counterpart
    * with per-PIXEL variation, so gradient hashes are non-trivial):
    * gray(x, y) = (pat·(x+1)·(y+3) + 7x + 13y [+ bump at (0,0)]) mod 256.
    */
  def synthPatternGray(pat: Long, x: Int, y: Int, bump: Int): Int =
    math.floorMod(pat * (x + 1) * (y + 3) + 7L * x + 13L * y +
      (if (x == 0 && y == 0) bump.toLong else 0L), 256L).toInt

  /** Synthetic patterned-image table: one REAL PNG per input row whose
    * pixel (x, y) is [[synthPatternGray]] of `patternCol` — rows with
    * the same pattern value and a small `bumpCol` perturbation are
    * near-duplicates by construction (the dHash test corpus shape).
    * Default dims are the dHash grid so the hash needs no resample
    * and an external oracle can recompute every bit.
    */
  def syntheticPatternImages(df: DataFrame, idCol: String, patternCol: String,
                             bumpCol: String, w: Int = DHashW + 1,
                             h: Int = DHashH): Dataset[MediaRow] =
    synthetic(df, idCol, "image", col(patternCol).cast("long").as("pat"),
        col(bumpCol).cast("int").as("bump")) { (_, r) =>
      val (pat, bump) = (r.getLong(1), r.getInt(2))
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val g = synthPatternGray(pat, x, y, bump)
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      encodePng(img)
    }
}
