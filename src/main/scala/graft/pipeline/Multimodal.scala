package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media travel as opaque `binary` columns
  * with typed metadata; decode/feature-extraction runs batch-wise inside
  * `mapPartitions` (the Scala-native equivalent of mapInPandas — one
  * iterator per partition, no per-row serialization round trips, no
  * driver involvement).
  *
  * Two decoders sit behind the same seam: [[ImageCodec]] is a REAL
  * javax.imageio PNG/JPEG decode (mm_real_* entries push actual PNG
  * bytes through it, oracle-checked against closed-form pixel
  * arithmetic), and [[FakeDecoder.decode]] is the deterministic
  * stand-in kept for the md5-based oracle entries and for codecs the
  * JDK lacks (audio/video frames). The Spark-side plumbing — binary
  * column synthesis, partition-wise batch iteration, schema of the
  * extracted features — is identical through both and oracle-checked
  * end-to-end.
  */
object Multimodal {

  /** Stand-in for an image decoder. Real implementation would hand
    * `bytes` to a codec; this fake treats them AS the pixel buffer. */
  object FakeDecoder {
    final case class Decoded(width: Int, height: Int, pixels: Array[Byte])
    def decode(bytes: Array[Byte], width: Int, height: Int): Decoded =
      Decoded(width, height, pixels = bytes) // STUB: identity "decode"
  }

  /** The REAL codec behind the same seam: javax.imageio (in the JDK —
    * no extra dependency), decoding PNG/JPEG/GIF/BMP bytes to a flat
    * row-major RGB buffer. Runs entirely executor-side inside the same
    * mapPartitions batches as the stub; the bytes never touch the
    * driver. PNG is lossless, so encodePng+decode round-trips pixels
    * EXACTLY — which is what lets the mm_real_* oracle recompute the
    * decoded sums in closed-form SQL arithmetic: if the codec (or the
    * binary column plumbing) corrupted anything, the hashes diverge. */
  object ImageCodec {
    // ImageIO's stream factories default to DISK-backed caching: every
    // read()/write()/createImageInputStream() call spills the (already
    // in-memory) byte array through a temp FILE — a create/write/read/
    // delete round on executor-local disk PER IMAGE. With thousands of
    // tiny media rows per partition that file churn, not pixel work,
    // dominated the mm_real_* decode cost. The bytes never need a disk
    // detour; cache in memory. (Executor-side object init — runs once
    // per JVM before the first codec call.) NOTE: this toggle is
    // PROCESS-GLOBAL JVM state — any other ImageIO user in the same
    // driver/executor JVM also loses the disk-backed stream cache. For
    // this engine that is the intended deployment default (images are
    // byte[] columns, always already in memory); an embedder who needs
    // disk-cached ImageIO elsewhere must scope their own streams
    // explicitly, as encodeGifFrames does with
    // MemoryCacheImageOutputStream.
    javax.imageio.ImageIO.setUseCache(false)

    /** BufferedImage -> flat row-major RGB bytes, bulk path. Exactly
      * the values the per-pixel getRGB(x, y) loop produced (same
      * ColorModel conversion), without the per-pixel method dispatch:
      * single-band indexed images (GIF frames, palette PNGs) go
      * through one palette LUT over the raw index raster, everything
      * else through ONE bulk getRGB call. */
    private def toRgbBuffer(img: java.awt.image.BufferedImage): FakeDecoder.Decoded = {
      val w = img.getWidth
      val h = img.getHeight
      val px = new Array[Byte](w * h * 3)
      val raster = img.getRaster
      img.getColorModel match {
        case icm: java.awt.image.IndexColorModel
            if raster.getNumBands == 1 &&
              raster.getTransferType == java.awt.image.DataBuffer.TYPE_BYTE =>
          val n = icm.getMapSize
          val reds = new Array[Byte](n); val greens = new Array[Byte](n)
          val blues = new Array[Byte](n)
          icm.getReds(reds); icm.getGreens(greens); icm.getBlues(blues)
          val idx = raster.getSamples(0, 0, w, h, 0, new Array[Int](w * h))
          var i = 0
          var j = 0
          while (i < w * h) {
            val k = idx(i)
            px(j) = reds(k); px(j + 1) = greens(k); px(j + 2) = blues(k)
            i += 1; j += 3
          }
        case _ =>
          val rgb = img.getRGB(0, 0, w, h, null, 0, w)
          var i = 0
          var j = 0
          while (i < w * h) {
            val v = rgb(i)
            px(j) = ((v >> 16) & 0xff).toByte
            px(j + 1) = ((v >> 8) & 0xff).toByte
            px(j + 2) = (v & 0xff).toByte
            i += 1; j += 3
          }
      }
      FakeDecoder.Decoded(w, h, px)
    }

    def decode(bytes: Array[Byte]): FakeDecoder.Decoded = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      require(img != null, "bytes are not a decodable image")
      toRgbBuffer(img)
    }

    /** Encode a grayscale gradient as PNG, pixel(x, y) given by `gray`
      * (0-255; replicated into R=G=B). Deterministic: PNG is lossless
      * and the pixel loop is fixed-order. */
    def encodePng(width: Int, height: Int, gray: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val g = gray(x, y) & 0xff
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** A 256-entry grayscale palette: with an indexed image the GIF
      * writer stores the palette verbatim, making the multi-frame
      * round trip LOSSLESS (an RGB input would get quantized).
      * A `val`: IndexColorModel is immutable and shareable — the old
      * per-frame `def` allocated a fresh 256-entry model for EVERY
      * frame of every clip. */
    private val grayPalette: java.awt.image.IndexColorModel = {
      val ramp = Array.tabulate(256)(_.toByte)
      new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp)
    }

    /** Per-thread GIF reader/writer: ImageIO's registry lookup +
      * plugin construction per row is pure overhead in a mapPartitions
      * batch loop; readers/writers are reusable after reset() but NOT
      * thread-safe, so each executor task thread keeps its own.
      * Lifetime contract: ONE non-reentrant instance per task-pool
      * thread, never dispose()d — it is retained (with its plugin
      * state, a few KB) for the JVM lifetime, which is bounded for a
      * fixed executor pool. The reset()-based reuse assumes the codec
      * helpers are not re-entered on the same thread mid-call (true
      * here: each encode/decode call completes before the row ends). */
    private val gifReader = new ThreadLocal[javax.imageio.ImageReader] {
      override def initialValue(): javax.imageio.ImageReader =
        javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    }
    private val gifWriter = new ThreadLocal[javax.imageio.ImageWriter] {
      override def initialValue(): javax.imageio.ImageWriter =
        javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    }

    /** Encode `nFrames` full-size grayscale frames as one animated GIF
      * — a real multi-frame container (the JDK's closest thing to a
      * video codec), written frame-by-frame through writeToSequence. */
    def encodeGifFrames(width: Int, height: Int, nFrames: Int,
                        gray: (Int, Int, Int) => Int): Array[Byte] = {
      val writer = gifWriter.get()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        var f = 0
        while (f < nFrames) {
          val img = new java.awt.image.BufferedImage(
            width, height, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
          val raster = img.getRaster
          var y = 0
          while (y < height) {
            var x = 0
            while (x < width) {
              raster.setSample(x, y, 0, gray(f, x, y) & 0xff)
              x += 1
            }
            y += 1
          }
          writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
          f += 1
        }
        writer.endWriteSequence()
        ios.flush()
        bos.toByteArray
      } finally {
        writer.reset() // reusable across rows; per-thread instance
        ios.close()
      }
    }

    /** Decode every frame of an animated GIF to flat RGB buffers. */
    def decodeGifFrames(bytes: Array[Byte]): Seq[FakeDecoder.Decoded] = {
      val reader = gifReader.get()
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        reader.setInput(iis)
        val n = reader.getNumImages(true)
        (0 until n).map(i => toRgbBuffer(reader.read(i)))
      } finally {
        reader.reset() // reusable across rows; per-thread instance
        iis.close()
      }
    }
  }

  /** The real AUDIO half of the seam: WAV (RIFF PCM16 mono) decoded by
    * javax.sound.sampled — also in the JDK. The encoder is a
    * hand-rolled RIFF writer, so decoding through AudioSystem proves
    * the JDK codec and the container spec agree on the bytes; both
    * directions run executor-side. */
  object AudioCodec {
    final case class DecodedAudio(sampleRate: Int, samples: Array[Short])

    /** RIFF/WAVE PCM16 mono container around `samples`. */
    def encodeWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
        .putInt(16).putShort(1).putShort(1) // PCM, mono
        .putInt(sampleRate).putInt(sampleRate * 2) // byte rate
        .putShort(2).putShort(16) // block align, bits
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(bb.putShort)
      bb.array()
    }

    def decodeWav(bytes: Array[Byte]): DecodedAudio = {
      val ais = try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      catch {
        case e: javax.sound.sampled.UnsupportedAudioFileException =>
          throw new IllegalArgumentException("bytes are not decodable audio", e)
      }
      try {
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
          !fmt.isBigEndian && fmt.getEncoding ==
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          s"expected PCM16 mono little-endian, got $fmt")
        val raw = ais.readAllBytes()
        val out = new Array[Short](raw.length / 2)
        var i = 0
        while (i < out.length) {
          out(i) = (((raw(2 * i) & 0xff)) | (raw(2 * i + 1) << 8)).toShort
          i += 1
        }
        DecodedAudio(fmt.getSampleRate.toInt, out)
      } finally ais.close()
    }
  }

  final case class MediaRow(doc_id: Long, media: Array[Byte], width: Int, height: Int)
  final case class FeatureRow(doc_id: Long, width: Int, height: Int,
                              feat_hash: Long, byte_sum: Long)

  /** Synthesize an opaque binary column + metadata from documents (the
    * fixture corpus has no real media; md5(text) bytes stand in). */
  def mediaTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    s.read.parquet(s"$dir/documents.parquet")
      .selectExpr(
        "doc_id",
        "unhex(md5(text)) AS media",
        "cast(1 + n_chars % 64 AS INT) AS width",
        "cast(1 + n_chars % 48 AS INT) AS height")
      .as[MediaRow]
  }

  /** REAL media fixture: one PNG per document, generated executor-side
    * (mapPartitions — the encode is the write half of the codec seam)
    * with a doc-keyed gradient gray(x, y) = (x + 2y + doc_id) mod 256
    * over a doc-keyed geometry. The gradient is closed-form, so the
    * oracle can recompute every decoded feature with SQL arithmetic
    * while the Spark side pushes actual PNG bytes through
    * javax.imageio — a real encode->binary column->decode round trip,
    * not a synthetic identity. Metadata width/height carry the true
    * image geometry. */
  def realMediaTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    // the doc table ships as ONE small parquet file, so the scan is
    // one partition — and unlike the projection-only consumers, HERE
    // the scan stage carries the per-row codec work. Spread the
    // (8-byte) ids across the session's cores before the heavy map
    // (guide §2.5: unsplittable input → repartition right after the
    // read). Exec.spread carries the width guard (>= half the session
    // parallelism passes through untouched), so on a real multi-file
    // deployment this is a no-op, not an always-on exchange.
    Exec.spread(
        s.read.parquet(s"$dir/documents.parquet").select(col("doc_id")),
        "doc_id")
      .as[Long]
      .mapPartitions { ids =>
        ids.map { d =>
          val w = 4 + (d % 13).toInt
          val h = 4 + (d % 11).toInt
          val png = ImageCodec.encodePng(w, h,
            (x, y) => ((x + 2 * y + d) % 256).toInt)
          MediaRow(d, png, w, h)
        }
      }
  }

  final case class VideoRow(doc_id: Long, frames: Array[Array[Byte]])
  final case class SampledRow(doc_id: Long, n_frames: Int, n_sampled: Int,
                              first_byte_sum: Long)

  /** Synthesize a "video" as an array of opaque frame buffers (md5 of
    * text+index stands in for decoded frames). */
  def videoTable(s: SparkSession, dir: String): Dataset[VideoRow] = {
    import s.implicits._
    s.read.parquet(s"$dir/documents.parquet")
      .selectExpr(
        "doc_id",
        "transform(sequence(0, cast(4 + doc_id % 12 AS INT)), i -> unhex(md5(concat(text, i)))) AS frames")
      .as[VideoRow]
  }

  /** Frame sampling (every k-th frame) + per-frame feature, batch-wise:
    * the frames array never leaves the executor, and the stubbed
    * per-frame decode is the seam where a real codec would sit. */
  def sampleFrames(videos: Dataset[VideoRow], every: Int): Dataset[SampledRow] = {
    import videos.sparkSession.implicits._
    videos.mapPartitions { batch =>
      batch.map { v =>
        val sampled = v.frames.zipWithIndex.collect { case (f, i) if i % every == 0 => f }
        var sum = 0L
        sampled.foreach { f =>
          val d = FakeDecoder.decode(f, 4, 4)
          sum += d.pixels(0) & 0xffL
        }
        SampledRow(v.doc_id, v.frames.length, sampled.length, sum)
      }
    }
  }

  final case class RealVideoRow(doc_id: Long, media: Array[Byte])
  final case class RealSampledRow(doc_id: Long, n_frames: Int, n_sampled: Int,
                                  first_byte_sum: Long, pix_sum: Long)

  /** REAL multi-frame fixture: one animated GIF per document (8x6,
    * nFrames = 5 + doc_id mod 12 — the stub videoTable's frame count),
    * frame gradient gray(f, x, y) = (x + 2y + 3f + doc_id) mod 256,
    * generated executor-side. */
  def realVideoTable(s: SparkSession, dir: String): Dataset[RealVideoRow] = {
    import s.implicits._
    // single-file scan + per-row GIF encode: parallelize the heavy
    // map, not the 8-byte ids; width-guarded like realMediaTable
    Exec.spread(
        s.read.parquet(s"$dir/documents.parquet").select(col("doc_id")),
        "doc_id")
      .as[Long]
      .mapPartitions { ids =>
        ids.map { d =>
          val nf = 5 + (d % 12).toInt
          RealVideoRow(d, ImageCodec.encodeGifFrames(8, 6, nf,
            (f, x, y) => ((x + 2 * y + 3 * f + d) % 256).toInt))
        }
      }
  }

  /** Frame sampling through the REAL container: decode the GIF's frame
    * sequence, keep every `every`-th frame, reduce each to gray-channel
    * features. The full decode stays inside the executor batch loop —
    * the shape a real video pipeline has with an ffmpeg JNI seam. */
  def sampleRealFrames(videos: Dataset[RealVideoRow], every: Int): Dataset[RealSampledRow] = {
    import videos.sparkSession.implicits._
    videos.mapPartitions { batch =>
      batch.map { v =>
        val frames = ImageCodec.decodeGifFrames(v.media)
        val sampled = frames.zipWithIndex.collect { case (f, i) if i % every == 0 => f }
        var firstSum = 0L
        var pixSum = 0L
        sampled.foreach { d =>
          firstSum += d.pixels(0) & 0xffL
          var i = 0
          while (i < d.pixels.length) { // R channel of the gray triple
            pixSum += d.pixels(i) & 0xffL
            i += 3
          }
        }
        RealSampledRow(v.doc_id, frames.length, sampled.length, firstSum, pixSum)
      }
    }
  }

  final case class FrameDiffRow(doc_id: Long, n_frames: Int, diff_energy: Long)

  /** Inter-frame difference energy through the REAL animated-GIF
    * decode — the scene-change / static-clip screen a video-curation
    * pipeline runs before sampling frames for training: the sum of
    * absolute per-pixel differences between consecutive frames, pure
    * integers over the decoded RGB buffers (all three channels; the
    * gray fixture makes them equal, a real decoder feeds color). A
    * static slideshow scores ~0, a hard cut spikes. Decode and the
    * pairwise pass stay inside mapPartitions; bytes never reach the
    * driver. */
  def frameDiffEnergy(videos: Dataset[RealVideoRow]): Dataset[FrameDiffRow] = {
    import videos.sparkSession.implicits._
    videos.mapPartitions(_.map { v =>
      val frames = ImageCodec.decodeGifFrames(v.media)
      var e = 0L
      var f = 1
      while (f < frames.length) {
        val a = frames(f - 1).pixels
        val b = frames(f).pixels
        var i = 0
        while (i < a.length) {
          e += math.abs((b(i) & 0xff) - (a(i) & 0xff))
          i += 1
        }
        f += 1
      }
      FrameDiffRow(v.doc_id, frames.length, e)
    })
  }

  final case class ResizedRow(doc_id: Long, out_w: Int, out_h: Int, pixel_sum: Long)

  /** Nearest-neighbor "resize" of the pixel buffer to out_w x out_h —
    * the index arithmetic is the real resize kernel shape; pixels come
    * from the stub decoder by default, or javax.imageio when
    * `useRealCodec` (real PNG/JPEG bytes in the binary column). */
  def resize(media: Dataset[MediaRow], outW: Int, outH: Int,
             useRealCodec: Boolean = false): Dataset[ResizedRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      batch.map { row =>
        val d = if (useRealCodec) ImageCodec.decode(row.media)
                else FakeDecoder.decode(row.media, row.width, row.height)
        val n = d.pixels.length
        var sum = 0L
        var y = 0
        while (y < outH) {
          var x = 0
          while (x < outW) {
            // nearest-neighbor source index over the flat buffer
            val src = ((y.toLong * n / outH + x.toLong * n / (outW.toLong * outH)) % n).toInt
            sum += d.pixels(src) & 0xffL
            x += 1
          }
          y += 1
        }
        ResizedRow(row.doc_id, outW, outH, sum)
      }
    }
  }

  final case class AudioRow(doc_id: Long, media: Array[Byte])
  final case class AudioFeatureRow(doc_id: Long, sample_rate: Int,
                                   n_samples: Int, sample_sum: Long, peak: Int)

  /** REAL audio fixture: one WAV per document, generated executor-side
    * with the closed-form signal s(i) = ((31 i + 7 doc_id) mod 65536)
    * - 32768 over n = 64 + doc_id mod 97 samples at 8 kHz — the audio
    * analog of [[realMediaTable]]'s gradient PNGs. */
  def realAudioTable(s: SparkSession, dir: String): Dataset[AudioRow] = {
    import s.implicits._
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { d =>
          val n = 64 + (d % 97).toInt
          val samples = Array.tabulate(n)(i =>
            (((i.toLong * 31 + d * 7) % 65536) - 32768).toShort)
          AudioRow(d, AudioCodec.encodeWav(8000, samples))
        }
      }
  }

  /** Batch audio feature extraction (duration, energy proxies) through
    * the REAL WAV decode — the mapPartitions shape a loudness/VAD
    * filter over a 100 TB speech corpus runs, with the codec where a
    * production build would link ffmpeg. */
  def extractAudioFeatures(audio: Dataset[AudioRow]): Dataset[AudioFeatureRow] = {
    import audio.sparkSession.implicits._
    audio.mapPartitions { batch =>
      batch.map { row =>
        val d = AudioCodec.decodeWav(row.media)
        var sum = 0L
        var peak = 0
        var i = 0
        while (i < d.samples.length) {
          val v = d.samples(i).toInt
          sum += v
          val a = math.abs(v)
          if (a > peak) peak = a
          i += 1
        }
        AudioFeatureRow(row.doc_id, d.sampleRate, d.samples.length, sum, peak)
      }
    }
  }

  final case class AudioWindowRow(doc_id: Long, win: Int, n_in_win: Int,
                                  abs_sum: Long, peak: Int)

  /** Fixed-width energy windows over the REAL WAV decode — the
    * frame-level loudness pass a VAD/segmentation pipeline runs before
    * any model sees audio: per `winSamples` window, the integer
    * absolute-amplitude mass and peak. One linear pass per clip inside
    * mapPartitions; bytes never leave the executor, and the output is
    * window-granular (clip_seconds / window_seconds rows per clip), the
    * natural input to a silence-trim or diarization stage. */
  def audioEnergyWindows(audio: Dataset[AudioRow],
                         winSamples: Int = 32): Dataset[AudioWindowRow] = {
    import audio.sparkSession.implicits._
    require(winSamples > 0, s"winSamples must be positive, got $winSamples")
    audio.flatMap { row =>
      val d = AudioCodec.decodeWav(row.media)
      val out = scala.collection.mutable.ArrayBuffer.empty[AudioWindowRow]
      var i = 0
      while (i < d.samples.length) {
        val end = math.min(i + winSamples, d.samples.length)
        var sum = 0L
        var peak = 0
        var j = i
        while (j < end) {
          val a = math.abs(d.samples(j).toInt)
          sum += a
          if (a > peak) peak = a
          j += 1
        }
        out += AudioWindowRow(row.doc_id, i / winSamples, end - i, sum, peak)
        i = end
      }
      out
    }
  }

  final case class AudioLoudnessRow(doc_id: Long, n_samples: Int, abs_sum: Long)

  /** Per-clip integer loudness (total absolute amplitude mass) through
    * the REAL WAV decode — the statistic a loudness-normalization or
    * too-quiet/too-hot screen keys on before audio reaches a model.
    * One linear pass per clip inside mapPartitions; integer-exact,
    * bytes never leave the executor. (A zero-crossing-rate pass was
    * considered and rejected for the gate: the synthetic ramp corpus
    * is monotone within a clip, so its ZCR census is degenerate at
    * small tiers and would verify nothing.) */
  def audioLoudness(audio: Dataset[AudioRow]): Dataset[AudioLoudnessRow] = {
    import audio.sparkSession.implicits._
    audio.mapPartitions { batch =>
      batch.map { row =>
        val d = AudioCodec.decodeWav(row.media)
        var sum = 0L
        var i = 0
        while (i < d.samples.length) {
          sum += math.abs(d.samples(i).toInt)
          i += 1
        }
        AudioLoudnessRow(row.doc_id, d.samples.length, sum)
      }
    }
  }

  final case class MediaCaptionRow(doc_id: Long, media: Array[Byte], caption_emb: Array[Byte])
  final case class PairScoreRow(doc_id: Long, dot: Long, na: Long, nb: Long, keep: Boolean)

  /** Synthesize (image, caption-embedding) pairs: md5(text) bytes stand
    * in for the decoded image embedding, md5(reverse(text)) for the
    * caption encoder's output — the two stubbed encoder seams of a real
    * CLIP pair pipeline. */
  def pairTable(s: SparkSession, dir: String): Dataset[MediaCaptionRow] = {
    import s.implicits._
    s.read.parquet(s"$dir/documents.parquet")
      .selectExpr(
        "doc_id",
        "unhex(md5(text)) AS media",
        "unhex(md5(reverse(text))) AS caption_emb")
      .as[MediaCaptionRow]
  }

  /** CLIP-style image-text pair filtering: embed both sides (stubbed),
    * keep pairs whose cosine clears `minCos100`/100. The threshold is
    * evaluated in INTEGERS via cross-multiplication —
    * dot >= 0 and dot^2 * 10000 >= minCos100^2 * |a|^2 * |b|^2 —
    * so the keep decision is exact and engine-reproducible (no float
    * division, no sqrt). Per-partition batch loop = the mapInPandas
    * shape; a real deployment swaps FakeDecoder for the image codec and
    * the caption bytes for a real text encoder. */
  def filterPairs(pairs: Dataset[MediaCaptionRow], minCos100: Int): Dataset[PairScoreRow] = {
    require(minCos100 >= 0 && minCos100 <= 100,
      s"minCos100 must be in [0, 100], got $minCos100")
    import pairs.sparkSession.implicits._
    val t = minCos100.toLong
    pairs.mapPartitions { batch =>
      batch.map { row =>
        val img = FakeDecoder.decode(row.media, 4, 4).pixels
        val cap = row.caption_emb
        val dims = math.min(img.length, cap.length)
        var dot = 0L; var na = 0L; var nb = 0L
        var i = 0
        while (i < dims) {
          val a = img(i) & 0xffL; val b = cap(i) & 0xffL
          dot += a * b; na += a * a; nb += b * b
          i += 1
        }
        val keep = dot >= 0 && dot * dot * 10000L >= t * t * na * nb
        PairScoreRow(row.doc_id, dot, na, nb, keep)
      }
    }
  }

  /** Batch feature extraction over the binary column; the decoder seam
    * takes the stub by default or the real javax.imageio codec. */
  def extractFeatures(media: Dataset[MediaRow],
                      useRealCodec: Boolean = false): Dataset[FeatureRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      batch.map { row =>
        val d = if (useRealCodec) ImageCodec.decode(row.media)
                else FakeDecoder.decode(row.media, row.width, row.height)
        // feature = first 7 "pixel" bytes as big-endian int (fits i64)
        var feat = 0L
        var i = 0
        while (i < 7 && i < d.pixels.length) { feat = (feat << 8) | (d.pixels(i) & 0xffL); i += 1 }
        var sum = 0L
        var j = 0
        while (j < d.pixels.length) { sum += d.pixels(j) & 0xffL; j += 1 }
        FeatureRow(row.doc_id, d.width, d.height, feat, sum)
      }
    }
  }

  final case class GradientRow(doc_id: Long, width: Int, height: Int,
                               grad_energy: Long)

  /** Σ|∇| gradient energy over REAL decoded pixels — the cheap
    * blur / flat-image / synthetic-fill screen an image-curation
    * pipeline runs before any model scoring: sum of absolute
    * horizontal and vertical neighbor differences per channel, pure
    * integers over the decoded RGB buffer. Map-only per row inside
    * mapPartitions; bytes never reach the driver. */
  def gradientEnergy(media: Dataset[MediaRow]): Dataset[GradientRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { row =>
      val d = ImageCodec.decode(row.media)
      val (w, h) = (d.width, d.height)
      var e = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val base = 3 * (y * w + x)
          var c = 0
          while (c < 3) {
            if (x + 1 < w)
              e += math.abs((d.pixels(base + 3 + c) & 0xff) - (d.pixels(base + c) & 0xff))
            if (y + 1 < h)
              e += math.abs((d.pixels(base + 3 * w + c) & 0xff) - (d.pixels(base + c) & 0xff))
            c += 1
          }
          x += 1
        }
        y += 1
      }
      GradientRow(row.doc_id, w, h, e)
    })
  }

  final case class PngMetaRow(doc_id: Long, width: Int, height: Int,
                              bit_depth: Int, color_type: Int,
                              n_chunks: Int, crc_ok: Boolean)

  /** Chunk-level PNG metadata WITHOUT decoding — the cheap first pass
    * a media pipeline runs to filter by geometry before paying for
    * pixel decode: walk the chunk list (length/type/data/CRC), pull
    * IHDR's width/height/bit-depth/color-type, verify every chunk's
    * CRC32 against its type+data bytes. Rejects non-PNG magic loudly.
    * O(bytes) with no image allocation; runs per-row inside
    * mapPartitions batches, bytes never touch the driver. */
  def pngMeta(media: Dataset[MediaRow]): Dataset[PngMetaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { row =>
      val b = row.media
      require(b.length > 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' &&
        b(2) == 'N' && b(3) == 'G', s"doc ${row.doc_id}: not a PNG")
      def be32(o: Int): Int =
        ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
          ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
      var off = 8
      var (w, h, depth, ctype, n) = (0, 0, 0, 0, 0)
      var crcOk = true
      var done = false
      while (!done && off + 12 <= b.length) {
        val len = be32(off)
        // a corrupt/truncated length (negative be32, or one that walks
        // past the buffer — including int overflow in off + 12 + len)
        // must reject loudly like the magic check, not surface as a raw
        // ArrayIndexOutOfBounds from CRC32.update
        require(len >= 0 && off + 12 + len.toLong <= b.length,
          s"doc ${row.doc_id}: corrupt PNG chunk at offset $off " +
            s"(declared length $len, ${b.length - off - 12} bytes remain)")
        val typ = new String(b, off + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val crc = new java.util.zip.CRC32
        crc.update(b, off + 4, 4 + len)
        if (crc.getValue.toInt != be32(off + 8 + len)) crcOk = false
        if (typ == "IHDR") {
          require(len >= 13, s"doc ${row.doc_id}: IHDR chunk too short ($len < 13)")
          w = be32(off + 8); h = be32(off + 12)
          depth = b(off + 16) & 0xff; ctype = b(off + 17) & 0xff
        }
        n += 1
        if (typ == "IEND") done = true
        off += 12 + len
      }
      PngMetaRow(row.doc_id, w, h, depth, ctype, n, crcOk)
    })
  }

  final case class AHashRow(doc_id: Long, ah1: Long, ah2: Long)

  /** Perceptual average-hash (the aHash of pHash lore) over REAL
    * decoded pixels: nearest-neighbor sample an 8×8 grid
    * (xi = gx·w/8, yi = gy·h/8 — integer floors, no resampling
    * kernel to disagree about), threshold each sample against the
    * integer-floor mean of the 64 samples (strictly greater), and
    * pack the 64 bits as TWO 32-bit halves in longs — 1L<<63 is
    * sign-hostile on both engines, and the halves feed bit_count(xor)
    * Hamming directly. 16 bytes per image; near-dup pairing is then
    * pure ALU over the packed table. */
  def averageHash(media: Dataset[MediaRow]): Dataset[AHashRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { row =>
      val d = ImageCodec.decode(row.media)
      val samples = new Array[Int](64)
      var gi = 0
      var sum = 0L
      while (gi < 64) {
        val xi = (gi % 8) * d.width / 8
        val yi = (gi / 8) * d.height / 8
        val p = d.pixels(3 * (yi * d.width + xi)) & 0xff // R (R=G=B gray)
        samples(gi) = p
        sum += p
        gi += 1
      }
      val mean = sum / 64
      var (a1, a2) = (0L, 0L)
      gi = 0
      while (gi < 64) {
        if (samples(gi) > mean) {
          if (gi < 32) a1 |= 1L << gi else a2 |= 1L << (gi - 32)
        }
        gi += 1
      }
      AHashRow(row.doc_id, a1, a2)
    })
  }

  /** Difference hash (dHash): the gradient-sign sibling of
    * [[averageHash]] — bit (r,c) is set when the sampled pixel one
    * column to the right is strictly brighter, 8 rows x 9 sample
    * columns -> 64 bits. More robust than aHash to global brightness
    * shifts because only LOCAL ordering enters the hash. Same decode
    * path and executor-side discipline: bytes never leave the
    * partition, two packed longs per image come back. */
  def differenceHash(media: Dataset[MediaRow]): Dataset[AHashRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { row =>
      val d = ImageCodec.decode(row.media)
      // 8 rows x 9 columns of samples; bit gi = r*8+c compares
      // column c+1 against column c in row r
      val samples = Array.ofDim[Int](8, 9)
      var r = 0
      while (r < 8) {
        val yi = r * d.height / 8
        var c = 0
        while (c < 9) {
          val xi = c * d.width / 9
          samples(r)(c) = d.pixels(3 * (yi * d.width + xi)) & 0xff
          c += 1
        }
        r += 1
      }
      var (h1, h2) = (0L, 0L)
      var gi = 0
      while (gi < 64) {
        if (samples(gi / 8)(gi % 8 + 1) > samples(gi / 8)(gi % 8)) {
          if (gi < 32) h1 |= 1L << gi else h2 |= 1L << (gi - 32)
        }
        gi += 1
      }
      AHashRow(row.doc_id, h1, h2)
    })
  }
}
