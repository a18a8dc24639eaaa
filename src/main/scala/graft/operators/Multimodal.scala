package graft.operators

import graft.sources.Tables

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media is carried as an opaque `BINARY` column plus a typed metadata
  * struct — the layout a 100 TB training-data lake uses (media bytes inline
  * or as object-store pointers; metadata queryable without decoding). The
  * Spark-side plumbing — schema, partitioning, batched per-partition
  * processing, frame explosion — is real and tested. The IMAGE codec is
  * real: JDK `javax.imageio.ImageIO` (PNG/JPEG, zero extra dependencies)
  * decodes bytes into true dimensions and a pixel-derived feature vector.
  * The AUDIO codec is real for WAV-PCM: JDK `javax.sound.sampled` parses
  * the container and the features come from the actual samples. VIDEO
  * decode (and compressed audio) stays a clearly marked deterministic
  * STUB (no codec libraries in this environment); swapping it in changes
  * no plan shape — decode is a per-partition, batch-at-a-time map with no
  * shuffle either way.
  */
object Multimodal {

  val FeatureDim = 16
  val DefaultBatchSize = 64

  /** media_id, format, media(binary), width, height, n_frames. */
  case class MediaRow(media_id: Long, format: String, media: Array[Byte],
      width: Int, height: Int, n_frames: Int)

  /** `width`/`height` are DECODED geometry (from the bytes, not metadata):
    * pixel dimensions for images, (sample rate Hz, frame count) for audio;
    * -1 where the codec is stubbed (video, compressed audio) or the bytes
    * don't parse. */
  case class MediaFeatures(media_id: Long, format: String,
      width: Int, height: Int, features: Array[Float], n_bytes: Long)

  // ImageIO's default stream cache is a temp FILE per decode — pure
  // overhead for in-memory byte arrays on executors; Graphics2D (resize)
  // must never look for a display on an executor
  java.lang.System.setProperty("java.awt.headless", "true")
  javax.imageio.ImageIO.setUseCache(false)

  /** Deterministic synthetic PNG: a real, decodable image whose pixel at
    * (x, y) is a fixed function of (id, x, y) — so tests and oracles know
    * the decoded dimensions AND pixel content by construction. */
  private[graft] def makePng(id: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((x + id) & 0xFF).toInt
        val g = ((y + 2 * id) & 0xFF).toInt
        val b = (x ^ y) & 0xFF
        px(y * w + x) = (r << 16) | (g << 8) | b
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, w, h, px, 0, w) // bulk store: one raster write
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private val makePngUdf = udf(makePng _)

  /** Fixed sample rate for the synthetic WAV fixtures (8 kHz mono PCM16). */
  private[graft] val WavRate = 8000

  /** RIFF/WAVE PCM16 mono container around `samples` at `rate` Hz. */
  private[graft] def wavBytes(samples: Array[Short], rate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort)             // PCM
      .putShort(1.toShort)             // mono
      .putInt(rate)
      .putInt(rate * 2)                // byte rate
      .putShort(2.toShort)             // block align
      .putShort(16.toShort)            // bits/sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < samples.length) { buf.putShort(samples(i)); i += 1 }
    buf.array()
  }

  /** Deterministic synthetic WAV: a real RIFF/WAVE PCM16 mono file whose
    * sample `i` is a fixed function of (id, i) — the audio analogue of
    * [[makePng]]: decodable only by actually parsing the container, with
    * frame count and content known by construction. A triangular
    * amplitude envelope with an id-dependent period count gives each
    * clip loudness STRUCTURE (a flat-envelope fixture would make every
    * clip identical to an envelope fingerprint — degenerate for the
    * near-dup gate). */
  private[graft] def makeWav(id: Long, nSamples: Int): Array[Byte] = {
    val m = (id % 13 + 3).toInt
    wavBytes(Array.tabulate(nSamples) { i =>
      val base = (((id * 31 + i * 17) % 65536) - 32768).toInt
      val p = (i.toLong * m % nSamples).toInt
      val tri = if (2 * p < nSamples) 2 * p else 2 * (nSamples - p)
      val amp = 32 + 224 * tri / nSamples // 32..256
      (base * amp / 256).toShort
    }, WavRate)
  }

  /** PCM16 samples of a parseable WAV (mono-folds multi-channel by taking
    * channel 0), with the container's sample rate. */
  private[graft] def wavSamples(media: Array[Byte]): Option[(Array[Short], Int)] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(media))
      try {
        val fmt = in.getFormat
        if (fmt.getSampleSizeInBits != 16 || fmt.getChannels < 1) None
        else {
          val bytes = in.readAllBytes()
          val bb = java.nio.ByteBuffer.wrap(bytes).order(
            if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
            else java.nio.ByteOrder.LITTLE_ENDIAN)
          val ch = fmt.getChannels
          val n = bytes.length / 2 / ch
          if (n == 0) None
          else {
            val out = new Array[Short](n)
            var i = 0
            while (i < n) {
              out(i) = bb.getShort(i * 2 * ch)
              i += 1
            }
            Some((out, fmt.getSampleRate.toInt))
          }
        }
      } finally in.close()
    } catch { case _: Exception => None }

  /** Naive decimation resample: keep every `factor`-th sample, rate drops
    * by `factor` — a REAL audio transform (the thumbnail analogue) whose
    * output is a valid, decodable WAV. None for unparseable bytes. */
  private[graft] def decimateWav(media: Array[Byte], factor: Int): Option[Array[Byte]] = {
    require(factor >= 1, s"decimation factor must be >= 1, got $factor")
    wavSamples(media).flatMap { case (s, rate) =>
      val n = (s.length + factor - 1) / factor
      if (n == 0 || rate < factor) None
      else Some(wavBytes(Array.tabulate(n)(i => s(i * factor)), rate / factor))
    }
  }

  /** Gain change + 16-bit requantization: sample' = round(sample · gain),
    * clamped — the volume-normalization transform an ingest pipeline
    * applies. Output is a valid, decodable WAV. */
  private[graft] def scaleWav(media: Array[Byte], gain: Double): Option[Array[Byte]] = {
    require(gain > 0.0, s"gain must be positive, got $gain")
    wavSamples(media).map { case (s, rate) =>
      wavBytes(s.map(x => math.max(Short.MinValue.toLong,
        math.min(Short.MaxValue.toLong, math.round(x * gain))).toShort), rate)
    }
  }

  /** 64-bit audio envelope fingerprint ("audio dHash"): decode → 65-window
    * RMS loudness envelope → bit i = (rms(i+1) > rms(i)). The envelope's
    * SHAPE survives resampling/requantization the way an image's 9×8
    * reduction survives rescaling, so a decimated or re-encoded copy sits
    * within a small Hamming distance. None for unparseable bytes. */
  private[graft] def awash64(media: Array[Byte]): Option[Long] =
    wavSamples(media).flatMap { case (s, _) =>
      if (s.length < 66) None
      else {
        val rms = new Array[Double](65)
        var w = 0
        while (w < 65) {
          val lo = (s.length.toLong * w / 65).toInt
          val hi = (s.length.toLong * (w + 1) / 65).toInt
          var acc = 0.0
          var i = lo
          while (i < hi) { acc += s(i).toDouble * s(i); i += 1 }
          rms(w) = math.sqrt(acc / math.max(1, hi - lo))
          w += 1
        }
        var h = 0L
        var i = 0
        while (i < 64) {
          if (rms(i + 1) > rms(i)) h |= 1L << i
          i += 1
        }
        Some(h)
      }
    }

  /** AUDIO near-duplicate pairs — the audio sibling of
    * [[imageNearDupPairs]]: envelope fingerprints from the batched codec
    * seam, pairs from the shared chunk-subset Hamming blocking
    * ([[graft.operators.Dedup.hammingNearDupPairs]]). Finds decimated,
    * re-encoded, and requantized copies; undecodable rows drop out. */
  def audioNearDupPairs(media: DataFrame, idCol: String,
      maxHamming: Int = 8, maxBucketSize: Int = 256,
      batchSize: Int = DefaultBatchSize): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val fps = media.filter(col("format") === "audio")
      .select(col(idCol).cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.flatMap { case (id, bytes) =>
            awash64(bytes).map(h => (id, h))
          }
        }
      }
      .toDF("id", "fp")
    Dedup.hammingNearDupPairs(fps, maxHamming, maxBucketSize,
      numChunks = 0, "audio_near_dup_bucket_cap")
  }

  private val makeWavUdf = udf(makeWav _)

  /** REAL audio decode via JDK `javax.sound.sampled` (WAV-PCM — the
    * container the JDK ships a parser for, zero extra dependencies):
    * parses the RIFF header through `AudioSystem`, reads the PCM frames,
    * and returns (sampleRateHz, frameCount, L1-normalized [[FeatureDim]]-bin
    * amplitude histogram) computed from the actual samples. None when the
    * bytes are not parseable audio — callers fall back to the stub, same
    * degradation contract as [[decodeImage]]. Compressed codecs (mp3 etc.)
    * have no JDK parser and take the stub path — see the boundary table at
    * [[stubDecode]]. */
  private[graft] def decodeAudio(media: Array[Byte]): Option[(Int, Int, Array[Float])] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(media))
      try {
        val fmt = in.getFormat
        if (fmt.getSampleSizeInBits != 16 || fmt.getChannels < 1) None
        else {
          val bytes = in.readAllBytes()
          val bb = java.nio.ByteBuffer.wrap(bytes).order(
            if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
            else java.nio.ByteOrder.LITTLE_ENDIAN)
          val hist = new Array[Float](FeatureDim)
          var n = 0
          while (bb.remaining() >= 2) {
            val s = bb.getShort.toInt
            hist((s + 32768) * FeatureDim / 65536) += 1f
            n += 1
          }
          if (n == 0) None
          else {
            val frames = n / fmt.getChannels
            Some((fmt.getSampleRate.toInt, frames, hist.map(_ / n)))
          }
        }
      } finally in.close()
    } catch { case _: Exception => None }

  /** Deterministic synthetic media table derived from `documents`: image
    * rows carry REAL PNG bytes (decodable only by actually parsing them —
    * [[extractFeatures]] never sees the metadata columns), audio/video rows
    * carry text bytes as opaque stand-ins. Dimensions are small (≤ 79×59)
    * so fixture generation stays off any hot path. */
  def syntheticMediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("format"),
      col("text"),
      (col("doc_id") % 64 + 16).cast("int").as("width"),
      (col("doc_id") % 48 + 12).cast("int").as("height"),
      (col("doc_id") % 24 + 1).cast("int").as("n_frames"))
      // spread rows before the codec with an EXPLICIT partition count: the
      // rows crossing this shuffle are tiny metadata, so AQE's byte-based
      // coalescing would fold them into one partition and serialize the
      // compute-bound codec behind it — the count pins codec parallelism
      // to the cores, not the shuffle bytes
      .repartition(spark.sparkContext.defaultParallelism, col("media_id"))
      // when() evaluates lazily per row: the PNG/WAV encoders run only on
      // their formats' rows, and not at all in plans that filter them out
      // (e.g. q61 sees only video rows)
      .withColumn("media",
        when(col("format") === "image",
          makePngUdf(col("media_id"), col("width"), col("height")))
          .when(col("format") === "audio",
            makeWavUdf(col("media_id"), (col("media_id") % 500 + 100).cast("int")))
          .otherwise(encode(col("text"), "UTF-8")))
      .select("media_id", "format", "media", "width", "height", "n_frames")

  /** Real-world ingestion path: a directory of raw media files via Spark's
    * `binaryFile` source, mapped into the engine's media schema. Format is
    * derived from the file extension; dimensions stay unknown (-1) until the
    * decoder fills them — metadata-only columns (path, size) are queryable
    * without touching bytes. `pathGlobFilter` pushes the extension filter
    * into file listing, so a 100 TB lake scan never opens non-media files. */
  def loadMediaDir(spark: SparkSession, dir: String,
      glob: String = "*.{png,jpg,jpeg,wav,mp3,mp4,mkv}"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(
        xxhash64(col("path")).as("media_id"),
        element_at(split(col("path"), "\\."), -1).as("ext"),
        col("path"),
        col("length").as("n_bytes"),
        col("content").as("media"))
      .withColumn("format",
        when(col("ext").isin("png", "jpg", "jpeg"), "image")
          .when(col("ext").isin("wav", "mp3"), "audio")
          .otherwise("video"))
      .withColumn("width", lit(-1)).withColumn("height", lit(-1))
      .withColumn("n_frames", lit(1))
      .select("media_id", "format", "media", "width", "height", "n_frames", "path", "n_bytes")

  /** REAL image decode via JDK ImageIO (PNG/JPEG/GIF/BMP — whatever the
    * installed readers handle): true dimensions plus an L1-normalized
    * [[FeatureDim]]-bin luminance histogram computed from the actual
    * pixels (ITU-R BT.601 integer weights). Returns None when the bytes
    * are not a parseable image — callers fall back to the stub, so a
    * corrupt file degrades to weaker features instead of failing the job. */
  private[graft] def decodeImage(media: Array[Byte]): Option[(Int, Int, Array[Float])] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(media))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        // bulk fetch: one raster read instead of w*h getRGB sync calls
        val px = img.getRGB(0, 0, w, h, null, 0, w)
        val hist = new Array[Float](FeatureDim)
        var i = 0
        while (i < px.length) {
          val rgb = px(i)
          val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
            (rgb & 0xFF) * 114) / 1000
          hist(lum * FeatureDim / 256) += 1f
          i += 1
        }
        val n = (w.toLong * h).toFloat
        Some((w, h, hist.map(_ / n)))
      }
    } catch { case _: Exception => None }

  /** STUB decoder for the formats with no codec in this environment
    * (video, compressed audio): features are a folded byte histogram,
    * normalized. The signature — bytes in, fixed-dim float vector out — is
    * the real one.
    *
    * == What a real codec drop-in needs (the complete boundary) ==
    *
    * Everything Spark-side is already in place; a future environment with
    * codec libraries closes the gap in THIS FILE ONLY, by replacing this
    * function the way [[decodeImage]] (round 6, ImageIO) and
    * [[decodeAudio]] (round 7, javax.sound.sampled WAV-PCM) replaced
    * their stubs:
    *
    * | piece | status | where |
    * |---|---|---|
    * | bytes → decoded samples/frames | image REAL, WAV-PCM audio REAL, video/mp3 STUB (this fn) | video: a JavaCV/FFmpeg binding; compressed audio: an mp3/opus SPI |
    * | decoded → fixed-dim features | real (histogram shape) | fold samples/pixels into [[FeatureDim]] bins exactly as the real decoders do |
    * | failure handling | real | return None/stub on undecodable bytes — corrupt files degrade, never fail the job ([[extractFeatures]]) |
    * | batch seam | real | [[extractFeatures]]'s grouped-`mapPartitions`: hand a whole batch to a vectorized/native decoder in one call |
    * | schema & partitioning | real | opaque `binary` + typed metadata ([[loadMediaDir]]); codec parallelism pinned against AQE coalescing (MultimodalSpec) |
    * | frame sampling plumbing | real | [[sampleFrames]] explodes engine-side; only `frame_bytes` extraction is the stub slice |
    *
    * No other file participates: sources, queries (q60/q61), specs, and the
    * oracle gates all flow through this one bytes→features seam. */
  private def stubDecode(media: Array[Byte]): Array[Float] = {
    val acc = new Array[Float](FeatureDim)
    var i = 0
    while (i < media.length) {
      acc(media(i) & (FeatureDim - 1)) += 1f
      i += 1
    }
    val n = math.max(media.length, 1).toFloat
    acc.map(_ / n)
  }

  /** Batched per-partition feature extraction. The batching (accumulate
    * `batchSize` rows, process together, emit) mirrors the arrow-batch shape
    * a vectorized decoder wants; no shuffle, no driver involvement. Image
    * rows go through the real ImageIO decode (true width/height + pixel
    * histogram); other formats — and undecodable image bytes — take the
    * stub with width = height = -1. */
  def extractFeatures(media: DataFrame,
      batchSize: Int = DefaultBatchSize): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "format", "media").as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // a real native decoder would process the whole batch in one call
          batch.iterator.map { case (id, fmt, bytes) =>
            // audio reuses (width, height) as (sample rate Hz, frame count)
            // — the decoded-geometry slots of its modality
            val decoded = fmt match {
              case "image" => decodeImage(bytes)
              case "audio" => decodeAudio(bytes)
              case _ => None
            }
            decoded match {
              case Some((w, h, f)) => MediaFeatures(id, fmt, w, h, f, bytes.length.toLong)
              case None => MediaFeatures(id, fmt, -1, -1, stubDecode(bytes), bytes.length.toLong)
            }
          }
        }
      }
  }

  /** Frame sampling for video rows: one output row per sampled frame index,
    * with a deterministic per-frame byte slice (STUB for frame extraction).
    * Explode happens in the engine (codegen'd), not in user code. */
  def sampleFrames(media: DataFrame, everyN: Int): DataFrame =
    media.filter(col("format") === "video")
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("n_frames") - 1, lit(everyN))))
      .withColumn("frame_bytes",
        // STUB: slice of the media bytes stands in for a decoded frame
        expr(s"substring(media, CAST(frame_idx % 8 + 1 AS INT), 32)"))
      .select("media_id", "frame_idx", "frame_bytes", "width", "height")

  /** 64-bit difference-hash (dHash) perceptual fingerprint of an image:
    * decode → bilinear-resize to 9×8 grayscale → bit i·8+j = (pixel(j,i) >
    * pixel(j+1,i)). Resize-/re-encode-invariant BY CONSTRUCTION (the 9×8
    * reduction discards exactly the detail a rescale changes), so a
    * resized or recompressed copy lands within a small Hamming distance
    * of its original — the standard image near-dup fingerprint. None for
    * unparseable bytes. */
  private[graft] def dhash64(media: Array[Byte]): Option[Long] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(media))
      if (img == null) None
      else {
        val small = new java.awt.image.BufferedImage(
          9, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = small.createGraphics()
        try {
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, 9, 8, null)
        } finally g.dispose()
        var h = 0L
        var i = 0
        while (i < 8) {
          var j = 0
          while (j < 8) {
            def lum(x: Int, y: Int): Int = {
              val rgb = small.getRGB(x, y)
              (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
                (rgb & 0xFF) * 114) / 1000
            }
            if (lum(j, i) > lum(j + 1, i)) h |= 1L << (i * 8 + j)
            j += 1
          }
          i += 1
        }
        Some(h)
      }
    } catch { case _: Exception => None }

  /** Aspect-preserving resize by `factor` (the thumbnail path): target
    * dims come from the DECODED image (metadata may lie), floored at 1px.
    * None for unparseable bytes. */
  private[graft] def resizePngBy(media: Array[Byte], factor: Double): Option[Array[Byte]] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(media))
      if (img == null) None
      else resizePng(media,
        math.max(1, math.round(img.getWidth * factor).toInt),
        math.max(1, math.round(img.getHeight * factor).toInt))
    } catch { case _: Exception => None }

  /** [[resizeImages]]'s aspect-preserving sibling: every image scaled by
    * `factor` (thumbnails at 0.5, previews at 0.25, …); metadata follows
    * the actual re-decoded dims. Non-image rows pass through untouched. */
  def resizeImagesBy(media: DataFrame, factor: Double,
      batchSize: Int = DefaultBatchSize): Dataset[MediaRow] = {
    require(factor > 0.0, s"scale factor must be positive, got $factor")
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "format", "media", "width", "height", "n_frames")
      .as[MediaRow]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { r =>
            if (r.format != "image") r
            else resizePngBy(r.media, factor) match {
              case Some(bytes) => decodeImage(bytes) match {
                case Some((w, h, _)) => r.copy(media = bytes, width = w, height = h)
                case None => r.copy(media = bytes)
              }
              case None => r
            }
          }
        }
      }
  }

  /** IMAGE near-duplicate pairs: perceptual dHash fingerprints (batched
    * per-partition decode — the codec seam) fed through the engine's
    * chunk-subset Hamming blocking
    * ([[graft.operators.Dedup.hammingNearDupPairs]] — the same exact-recall
    * multi-index machinery SimHash text dedup uses). Finds resized,
    * recompressed, and lightly-edited copies; undecodable rows drop out.
    * Returns (id_a, id_b, hamming). */
  def imageNearDupPairs(media: DataFrame, idCol: String,
      maxHamming: Int = 6, maxBucketSize: Int = 256,
      batchSize: Int = DefaultBatchSize): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val fps = media.filter(col("format") === "image")
      .select(col(idCol).cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.flatMap { case (id, bytes) =>
            dhash64(bytes).map(h => (id, h))
          }
        }
      }
      .toDF("id", "fp")
    Dedup.hammingNearDupPairs(fps, maxHamming, maxBucketSize,
      numChunks = 0, "image_near_dup_bucket_cap")
  }

  /** Metadata-level resize: plan-only transform (real resize happens in the
    * decoder at materialization time; the lake keeps declared target dims). */
  def declareResize(media: DataFrame, w: Int, h: Int): DataFrame =
    media.withColumn("target_width", lit(w)).withColumn("target_height", lit(h))

  /** REAL image resize: decode (ImageIO) → bilinear rescale (Graphics2D,
    * headless) → re-encode PNG. None when the bytes are not a parseable
    * image — same degradation contract as the decoders. */
  private[graft] def resizePng(media: Array[Byte], w: Int, h: Int): Option[Array[Byte]] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(media))
      if (img == null) None
      else {
        val out = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        try {
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, w, h, null)
        } finally g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        Some(bos.toByteArray)
      }
    } catch { case _: Exception => None }

  /** Materialized image resize over a media table — the realization of
    * [[declareResize]]'s declared dims: image rows come back with
    * re-encoded `(w × h)` PNG bytes and updated metadata; non-image rows
    * and undecodable bytes pass through untouched. Same per-partition
    * batched seam as [[extractFeatures]] — no shuffle, codec-bound. */
  def resizeImages(media: DataFrame, w: Int, h: Int,
      batchSize: Int = DefaultBatchSize): Dataset[MediaRow] = {
    require(w > 0 && h > 0, s"target dims must be positive, got $w x $h")
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "format", "media", "width", "height", "n_frames")
      .as[MediaRow]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { r =>
            if (r.format != "image") r
            else resizePng(r.media, w, h) match {
              case Some(bytes) => r.copy(media = bytes, width = w, height = h)
              case None => r
            }
          }
        }
      }
  }

  // ---- declared queries ----

  /** Oracle-gated INCLUDING the real decodes: image rows' decoded_width /
    * decoded_height come out of ImageIO parsing the actual PNG bytes, and
    * audio rows' (sample rate, frame count) out of javax.sound.sampled
    * parsing the actual WAV bytes — [[extractFeatures]] never sees the
    * metadata columns, so matching the oracle's formulas proves both
    * codecs genuinely decoded the containers. Video rows (stub codec)
    * report -1. A validity check on the feature vector (fixed dim,
    * L1-normalized — true for every codec path) is folded in as a
    * boolean; exact pixel/sample-level feature values are pinned by
    * MultimodalSpec. */
  def q60MediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    extractFeatures(syntheticMediaTable(spark, dir))
      .toDF()
      .select(col("media_id"), col("format"),
        col("width").as("decoded_width"), col("height").as("decoded_height"),
        (size(col("features")) === FeatureDim &&
          abs(aggregate(col("features").cast("array<double>"), lit(0.0d),
            (acc, x) => acc + x) - 1.0d) < 0.001d).as("features_valid"))
      .orderBy("media_id")
  }

  def q61FrameSample(spark: SparkSession, dir: String): DataFrame =
    sampleFrames(syntheticMediaTable(spark, dir), everyN = 6)
      .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
        length(col("frame_bytes")).cast("long").as("n_frame_bytes"))
      .orderBy("media_id", "frame_idx")

  /** Resize-then-decode round trip, oracle-gated: image rows pass through
    * the REAL decode → bilinear rescale → re-encode pipeline to 24×18 and
    * the reported dims come from RE-PARSING the resized bytes — the only
    * way to match the oracle's constants. Non-image rows pass through
    * [[resizeImages]] untouched, so their decoded geometry still matches
    * their own fixture formulas (audio rate/frames, video -1). */
  def q101ResizeImages(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    extractFeatures(resizeImages(
        syntheticMediaTable(spark, dir), w = 24, h = 18).toDF())
      .toDF()
      .select(col("media_id"), col("format"),
        col("width").as("decoded_width"), col("height").as("decoded_height"),
        (size(col("features")) === FeatureDim &&
          abs(aggregate(col("features").cast("array<double>"), lit(0.0d),
            (acc, x) => acc + x) - 1.0d) < 0.001d).as("features_valid"))
      .orderBy("media_id")
  }

  /** Image near-dup, gated: ≥ 95% of the base images' HALF-SIZE thumbnail
    * twins (re-encoded at different dimensions — different bytes,
    * different exact hash) must be found by the perceptual-hash pairing
    * at Hamming ≤ 8. The q52 recall-gate convention: the pair set is
    * perceptual by design, but the recall fraction over planted twins IS
    * a deterministic, oracle-checkable fact. 95%, not 100%: the synthetic
    * pixel formula's (x XOR y) checkerboard is adversarial high-frequency
    * content that can alias under halving — real photographs sit far
    * inside the bound. Extra base-base pairs (smooth synthetic gradients
    * cluster in dHash space) don't enter the gate. */
  def q105ImageNearDup(spark: SparkSession, dir: String): DataFrame = {
    val TwinOffset = 10000000L
    // bounded gate probe (the q52 discipline): the codec round trips are
    // the cost, so the GATE prices a fixed id-range of images at any SF
    // while the operator itself stays corpus-wide
    val imgs = syntheticMediaTable(spark, dir)
      .filter(col("format") === "image" && col("media_id") < 750L)
    val twins = resizeImagesBy(imgs, 0.5).toDF()
      .withColumn("media_id", col("media_id") + TwinOffset)
    // a generous bucket cap keeps the cap out of the GATE's way (drops
    // stay observable, q45-style)
    val pairs = imageNearDupPairs(imgs.unionByName(twins), "media_id",
      maxHamming = 8, maxBucketSize = 4096)
    val twinPairs = pairs.filter(
      greatest(col("id_a"), col("id_b")) - least(col("id_a"), col("id_b"))
        === TwinOffset)
    imgs.agg(count(lit(1)).as("n_images"))
      .join(twinPairs.agg(count(lit(1)).as("__t")))
      .select(col("n_images"),
        (col("__t").cast("double") >= col("n_images").cast("double") * 0.95)
          .as("recall_ok"))
  }

  /** Audio near-dup, gated: EVERY base clip's volume-normalized twin
    * (gain 0.5 + requantization — different bytes, same loudness SHAPE)
    * must be found by the envelope fingerprinting at Hamming ≤ 4. Unlike
    * q105's 95%, this gate is exact: gain scaling preserves every
    * envelope comparison, so a missed twin is a bug, not aliasing. Extra
    * same-envelope-class pairs (the fixture has 13 AM classes) don't
    * enter the gate. */
  def q106AudioNearDup(spark: SparkSession, dir: String): DataFrame = {
    val TwinOffset = 10000000L
    val spark2 = spark
    import spark2.implicits._
    // bounded gate probe, as in q105
    val auds = syntheticMediaTable(spark, dir)
      .filter(col("format") === "audio" && col("media_id") < 750L)
    val twins = auds.select(col("media_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        scaleWav(bytes, 0.5).map(b => (id + TwinOffset, "audio", b))
      })
      .toDF("media_id", "format", "media")
    val all = auds.select("media_id", "format", "media").unionByName(twins)
    val pairs = audioNearDupPairs(all, "media_id",
      maxHamming = 4, maxBucketSize = 8192)
    val twinPairs = pairs.filter(
      greatest(col("id_a"), col("id_b")) - least(col("id_a"), col("id_b"))
        === TwinOffset)
    auds.agg(count(lit(1)).as("n_clips"))
      .join(twinPairs.agg(count(lit(1)).as("__t")))
      .select(col("n_clips"), (col("__t") === col("n_clips")).as("all_twins_found"))
  }

  /** The decoded image dimensions and audio (rate, frames) are
    * SQL-expressible because the fixture PNGs/WAVs are generated FROM the
    * metadata formulas — the oracle recomputes the formulas, the engine
    * must recover the same numbers by actually parsing the containers.
    * Stub-path feature values are engine-specific; vector validity is the
    * SQL-checkable part. */
  val declared: Map[String, Query] = Map(
    "q60_media_features" -> Query(q60MediaFeatures,
      s"""SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS format,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id % 64 + 16 AS INT)
        |       WHEN doc_id % 3 = 1 THEN $WavRate ELSE -1 END AS decoded_width,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id % 48 + 12 AS INT)
        |       WHEN doc_id % 3 = 1 THEN CAST(doc_id % 500 + 100 AS INT)
        |       ELSE -1 END AS decoded_height,
        |  CASE WHEN doc_id % 3 = 2 THEN LENGTH(text) > 0 ELSE TRUE END AS features_valid
        |FROM documents ORDER BY media_id""".stripMargin),
    "q101_resize_images" -> Query(q101ResizeImages,
      s"""SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS format,
        |  CASE WHEN doc_id % 3 = 0 THEN 24
        |       WHEN doc_id % 3 = 1 THEN $WavRate ELSE -1 END AS decoded_width,
        |  CASE WHEN doc_id % 3 = 0 THEN 18
        |       WHEN doc_id % 3 = 1 THEN CAST(doc_id % 500 + 100 AS INT)
        |       ELSE -1 END AS decoded_height,
        |  CASE WHEN doc_id % 3 = 2 THEN LENGTH(text) > 0 ELSE TRUE END AS features_valid
        |FROM documents ORDER BY media_id""".stripMargin),
    "q105_image_near_dup" -> Query(q105ImageNearDup,
      """SELECT COUNT(*) AS n_images, true AS recall_ok
        |FROM documents WHERE doc_id % 3 = 0 AND doc_id < 750""".stripMargin),
    "q106_audio_near_dup" -> Query(q106AudioNearDup,
      """SELECT COUNT(*) AS n_clips, true AS all_twins_found
        |FROM documents WHERE doc_id % 3 = 1 AND doc_id < 750""".stripMargin),
    "q61_frame_sample" -> Query(q61FrameSample,
      """SELECT doc_id AS media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(LENGTH(SUBSTRING(text, CAST(frame_idx % 8 + 1 AS INT), 32)) AS BIGINT) AS n_frame_bytes
        |FROM (SELECT doc_id, text, unnest(range(0, doc_id % 24 + 1, 6)) AS frame_idx
        |      FROM documents WHERE doc_id % 3 = 2)
        |ORDER BY media_id, frame_idx""".stripMargin))
}
