package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media payloads are opaque `binary` columns with a typed metadata struct.
  * Four codecs implement the `Codec` seam: [[ImageIoCodec]] (real
  * standards decode — PNG/JPEG/GIF/BMP via the JDK's javax.imageio, no
  * native libraries), [[WavCodec]] (real audio decode — RIFF/WAVE via
  * javax.sound.sampled, 8/16/24-bit PCM amplitude histogram), [[BmpCodec]]
  * (dependency-free container parser), and [[FakeCodec]] (deterministic
  * stand-in for synthetic fixtures and for formats with no JVM decoder).
  * Motion gets a real path too: [[decodeFrames]] walks animated GIF —
  * the one multi-frame format the JDK decodes natively — frame by frame;
  * MP4/H.264-class codecs would arrive via JNI/javacpp behind the same
  * seam without touching the plan shape.
  *
  * Scale notes: decode runs as `mapPartitions` over the binary column — one
  * task per input split, no shuffle, and the iterator keeps memory bounded to
  * one record batch. Feature vectors come back as `array<float>` columns that
  * feed straight into [[Similarity]] / [[Dedup]].
  */
object Multimodal {

  /** Typed metadata carried alongside every media payload. */
  case class MediaMeta(format: String, width: Int, height: Int,
                       nChannels: Int, nBytes: Long)

  case class MediaRecord(media_id: Long, content: Array[Byte])
  case class DecodedRecord(media_id: Long, meta: MediaMeta,
                           features: Array[Float])

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("content", BinaryType, nullable = true)))

  /** Decoder contract: bytes → (meta, fixed-width feature vector). */
  trait Codec extends Serializable {
    def featureDim: Int
    def decode(bytes: Array[Byte]): (MediaMeta, Array[Float])
  }

  /** Deterministic stand-in for a real image decoder: metadata derived from
    * payload length, features from a rolling byte histogram, so tests are
    * reproducible and the full pipeline (schema → partitioned decode →
    * downstream similarity) is exercised end-to-end.
    */
  class FakeCodec(val featureDim: Int = 16) extends Codec {
    def decode(bytes: Array[Byte]): (MediaMeta, Array[Float]) = {
      val n = if (bytes == null) 0 else bytes.length
      // a real codec would parse the container header here — STUB:
      val meta = MediaMeta(format = "fake", width = n % 640, height = n % 480,
        nChannels = 3, nBytes = n.toLong)
      val feat = new Array[Float](featureDim)
      var i = 0
      while (i < n) { feat(i % featureDim) += (bytes(i) & 0xFF) / 255.0f; i += 1 }
      (meta, feat)
    }
  }

  /** A REAL (if minimal) codec: parses the BMP container format — 'BM'
    * magic, little-endian BITMAPINFOHEADER fields (pixel-data offset at
    * byte 10, width at 18, height at 22 [negative = top-down], bits-per-
    * pixel at 28) — pure JDK, no native libraries. Features are the same
    * rolling byte histogram as [[FakeCodec]], computed over the PIXEL DATA
    * only (header excluded), so two images differing only in header
    * padding embed identically. Proves the `Codec` seam carries an actual
    * byte format end to end; swap in a JNI/javacpp decoder for JPEG/PNG
    * the same way.
    */
  class BmpCodec(val featureDim: Int = 16) extends Codec {
    private def le32(b: Array[Byte], off: Int): Int =
      (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
        ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)
    private def le16(b: Array[Byte], off: Int): Int =
      (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)
    def decode(bytes: Array[Byte]): (MediaMeta, Array[Float]) = {
      require(bytes != null && bytes.length >= 54 &&
        bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte,
        "not a BMP payload (missing BM magic / header)")
      val pixelOff = le32(bytes, 10)
      require(pixelOff >= 54 && pixelOff <= bytes.length,
        s"BMP pixel-data offset $pixelOff out of range")
      val meta = MediaMeta(format = "bmp",
        width = le32(bytes, 18), height = math.abs(le32(bytes, 22)),
        nChannels = le16(bytes, 28) / 8, nBytes = bytes.length.toLong)
      val feat = new Array[Float](featureDim)
      var i = pixelOff
      while (i < bytes.length) {
        feat((i - pixelOff) % featureDim) += (bytes(i) & 0xFF) / 255.0f
        i += 1
      }
      (meta, feat)
    }
  }

  /** Full standards codec via `javax.imageio` (pure JDK, java.desktop
    * module — works headless): decodes every container the JDK ships
    * readers for (PNG, JPEG, GIF, BMP, WBMP). Format name comes from the
    * matched ImageReader, metadata from the decoded raster, features from
    * a luminance histogram over the actual PIXELS — so a PNG and a JPEG
    * of the same image embed near-identically, which the byte-histogram
    * codecs above cannot do. This is the real-decoder end of the `Codec`
    * seam; [[FakeCodec]] stays for synthetic fixtures and [[BmpCodec]]
    * as the dependency-free container parser.
    */
  class ImageIoCodec(val featureDim: Int = 16) extends Codec {
    def decode(bytes: Array[Byte]): (MediaMeta, Array[Float]) = {
      require(bytes != null && bytes.length > 0, "empty media payload")
      // MemoryCacheImageInputStream directly: ImageIO.createImageInputStream
      // defaults to a DISK cache — one temp file per record, reclaimed only
      // at GC, pure churn in a mapPartitions decode loop (and it returns
      // null on an unusable tmpdir)
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        require(readers.hasNext, "no ImageIO reader for payload")
        val reader = readers.next()
        try {
          reader.setInput(iis)
          val img = reader.read(0)
          // Locale.ROOT: default-locale lowercasing turns "JPEG" into a
          // dotless-i variant under tr_TR, breaking format equality checks
          val meta = MediaMeta(
            format = reader.getFormatName.toLowerCase(java.util.Locale.ROOT),
            width = img.getWidth, height = img.getHeight,
            nChannels = img.getColorModel.getNumComponents,
            nBytes = bytes.length.toLong)
          val feat = new Array[Float](featureDim)
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val rgb = img.getRGB(x, y)
              val lum = (((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) +
                (rgb & 0xFF)) / (3.0f * 255.0f)
              feat((y * img.getWidth + x) % featureDim) += lum
              x += 1
            }
            y += 1
          }
          (meta, feat)
        } finally reader.dispose()
      } finally iis.close()
    }
  }

  /** Real AUDIO codec via `javax.sound.sampled` (pure JDK, java.desktop
    * module, headless-safe): parses the RIFF/WAVE container through the
    * JDK's audio file readers — format, frame count, sample rate, channel
    * layout all come from the actual header, not the payload length.
    * Features are an amplitude histogram over the decoded PCM samples
    * (8/16/24-bit, signed or unsigned, either endianness — every sample is
    * scaled to the signed 16-bit domain first, so bit depth changes
    * amplitude RESOLUTION, not bucket placement): `featureDim` buckets
    * across the signed sample range, so two files with the same waveform
    * embed identically regardless of header padding or sample width. This does for audio what [[ImageIoCodec]] does for images —
    * the third REAL decoder behind the `Codec` seam; video stays on
    * [[FakeCodec]] (no JVM decoder without native libraries).
    *
    * MediaMeta mapping (the struct is shared across modalities):
    * `width` = PCM frames, `height` = sample rate (Hz),
    * `nChannels` = channels.
    */
  class WavCodec(val featureDim: Int = 16) extends Codec {
    def decode(bytes: Array[Byte]): (MediaMeta, Array[Float]) = {
      require(bytes != null && bytes.length > 0, "empty media payload")
      val ais =
        try javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        catch {
          case e: javax.sound.sampled.UnsupportedAudioFileException =>
            throw new IllegalArgumentException(
              "no javax.sound reader for payload", e)
        }
      try {
        val fmt = ais.getFormat
        // validate BEFORE building metadata: the JDK opens some
        // compressed/streamed payloads with NOT_SPECIFIED (-1) frame
        // counts, which would otherwise escape as width=-1 metadata
        val enc = fmt.getEncoding
        require(enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
            enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED,
          s"WavCodec handles PCM payloads, got encoding $enc")
        val bits = fmt.getSampleSizeInBits
        require(bits == 8 || bits == 16 || bits == 24,
          s"WavCodec handles 8/16/24-bit PCM, got $bits-bit")
        require(ais.getFrameLength !=
            javax.sound.sampled.AudioSystem.NOT_SPECIFIED,
          "WavCodec needs a declared frame length (streamed payload?)")
        val meta = MediaMeta(format = "wav",
          width = ais.getFrameLength.toInt,
          height = fmt.getSampleRate.toInt,
          nChannels = fmt.getChannels,
          nBytes = bytes.length.toLong)
        val data = ais.readAllBytes()
        val feat = new Array[Float](featureDim)
        val little = !fmt.isBigEndian
        val unsigned =
          enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
        val bytesPer = bits / 8
        var i = 0
        while (i + bytesPer <= data.length) {
          // raw unsigned word, endianness-resolved
          var raw = 0
          var b = 0
          while (b < bytesPer) {
            val shift = if (little) 8 * b else 8 * (bytesPer - 1 - b)
            raw |= (data(i + b) & 0xFF) << shift
            b += 1
          }
          // → signed, then scaled to the 16-bit histogram domain, so the
          // bucket math (and the 16-bit hash baseline) is depth-invariant
          val signed =
            if (unsigned) raw - (1 << (bits - 1))
            else (raw << (32 - bits)) >> (32 - bits)
          val s16 = if (bits >= 16) signed >> (bits - 16)
                    else signed << (16 - bits)
          feat(((s16 + 32768) * featureDim) >>> 16) += 1.0f
          i += bytesPer
        }
        (meta, feat)
      } finally ais.close()
    }
  }

  /** Deterministic synthetic WAV (seed-keyed 16-bit PCM, real
    * `javax.sound` encode) — the audio twin of [[syntheticPng]]: generate
    * samples arithmetically from the seed, let `AudioSystem.write` build
    * the real RIFF/WAVE container, so a decode through [[WavCodec]]
    * exercises the JDK's actual reader and the decoded metadata stays
    * pure arithmetic a SQL oracle can check.
    */
  def syntheticWav(seed: Long, nFrames: Int, sampleRate: Int,
                   channels: Int, bits: Int = 16): Array[Byte] = {
    require(bits == 8 || bits == 16 || bits == 24,
      s"syntheticWav emits 8/16/24-bit PCM, got $bits")
    // WAV conventions: 8-bit PCM is UNSIGNED, wider widths signed
    // little-endian — matching what real encoders put in fmt chunks, so
    // the decoder's unsigned/sign-extension paths get exercised for real
    val signed = bits != 8
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, bits, channels, signed, false)
    val bytesPer = bits / 8
    val pcm = new Array[Byte](nFrames * channels * bytesPer)
    var i = 0
    var k = 0
    while (i < nFrames * channels) {
      // the same seed-keyed 16-bit waveform at every depth, shifted to
      // the target width (so cross-depth features agree up to resolution)
      val s16 = ((((seed * 31 + i.toLong * i) % 65536) + 65536) % 65536
        - 32768).toInt
      val s = if (bits >= 16) s16 << (bits - 16)
              else (s16 >> (16 - bits)) + (1 << (bits - 1)) // → unsigned 8
      var b = 0
      while (b < bytesPer) {
        pcm(k + b) = ((s >> (8 * b)) & 0xFF).toByte
        b += 1
      }
      i += 1; k += bytesPer
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Deterministic synthetic PNG (seed-keyed gradient, real ImageIO
    * encode) — fixture generator for exercising the [[ImageIoCodec]] path
    * distributively: encode in one mapPartitions pass, decode in another,
    * and the decoded metadata is pure arithmetic over the seed, so a SQL
    * oracle can check the whole loop.
    */
  def syntheticPng(seed: Long, width: Int, height: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val v = (((seed * 31 + y * width + x) % 256 + 256) % 256).toInt
        img.setRGB(x, y, (v << 16) | ((255 - v) << 8) | (v * 7 % 256))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic NOISE image (splitmix64-scrambled pixels, real PNG
    * encode): unlike [[syntheticPng]]'s linear ramp — whose structured
    * cells put some distinct seeds within a few Hamming bits of each
    * other under [[dHash]] — distinct seeds here behave like independent
    * 64-bit fingerprints (collision odds within radius 3:
    * ~C(64,≤3)/2^64 per pair), which is what a planted-pair dedup
    * fixture needs.
    */
  def syntheticNoisePng(seed: Long, width: Int, height: Int): Array[Byte] = {
    def mix(z0: Long): Long = { // splitmix64 finalizer
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        img.setRGB(x, y, (mix(seed * 0x100000001L + y * width + x)
          & 0xFFFFFF).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Decode any ImageIO-supported payload to a BufferedImage — the
    * [[ImageIoCodec]] reader discipline (memory-cached stream, explicit
    * reader dispose) without the feature extraction, shared by [[dHash]].
    */
  private def readImage(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    require(bytes != null && bytes.length > 0, "empty media payload")
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      require(readers.hasNext, "no ImageIO reader for payload")
      val reader = readers.next()
      try { reader.setInput(iis); reader.read(0) } finally reader.dispose()
    } finally iis.close()
  }

  /** 64-bit difference hash (dHash — Krawetz 2013, the standard image
    * perceptual fingerprint) of an image payload: real ImageIO decode,
    * area-averaged downsample to a 9×8 luminance grid, bit (row·8 + x)
    * set iff cell (row, x+1) outshines cell (row, x). The brightness
    * comparison is exact integer cross-multiplication (sumR·cntL >
    * sumL·cntR), so the hash is bit-deterministic across JVMs — no float
    * anywhere in the pipeline. Invariant to container re-encoding, to
    * exact ×k upscales when 9 | width and 8 | height (cell boundaries
    * land on the same pixels), and to strictly monotone brightness maps
    * (only ORDER of cell averages matters); small perturbations flip few
    * bits, which is what [[imageNearDupPairs]]' Hamming join prices.
    * 8 bytes per image: corpus-scale image dedup shuffles a long column,
    * never pixels.
    */
  def dHash(bytes: Array[Byte]): Long = dHashImage(readImage(bytes))

  /** [[dHash]]'s core over an already-decoded image — shared by the
    * whole-payload hash and the per-frame video fingerprints
    * ([[frameHashes]]), so a still and the identical frame of an
    * animation hash identically by construction.
    */
  private[graft] def dHashImage(
      img: java.awt.image.BufferedImage): Long = {
    val gw = 9; val gh = 8
    val w = img.getWidth; val h = img.getHeight
    val sums = new Array[Long](gh * gw)
    val counts = new Array[Long](gh * gw)
    // ONE bulk getRGB per image: the per-pixel accessor dispatches
    // through the ColorModel per call, which dominates decode-side CPU
    // on small grids; the bulk form performs the identical sRGB
    // conversion row-block-wise, so the hash is bit-unchanged
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    var y = 0
    while (y < h) {
      val gy = math.min(y * gh / h, gh - 1)
      val row = y * w
      var x = 0
      while (x < w) {
        val gx = math.min(x * gw / w, gw - 1)
        val rgb = px(row + x)
        sums(gy * gw + gx) += ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) +
          (rgb & 0xFF)
        counts(gy * gw + gx) += 1
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var gy = 0
    while (gy < gh) {
      var gx = 0
      while (gx < gw - 1) {
        // exact: avg(right) > avg(left) ⇔ sumR·cntL > sumL·cntR; sums are
        // < 3·255·W·H < 2^40 and counts < 2^20, so the products fit a long
        if (sums(gy * gw + gx + 1) * counts(gy * gw + gx) >
            sums(gy * gw + gx) * counts(gy * gw + gx + 1))
          hash |= 1L << (gy * 8 + gx)
        gx += 1
      }
      gy += 1
    }
    hash
  }

  /** dHash per row of a `media_id`/`content` frame: one mapPartitions
    * decode pass (no shuffle), returning (media_id, dhash). */
  def dHashes(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id"), col("content"))
      .as(Encoders.product[MediaRecord])
      .mapPartitions(_.map(r => (r.media_id, dHash(r.content))))
      .toDF("media_id", "dhash")
  }

  /** Image near-duplicate pairs: [[dHash]] fingerprints through the
    * blocked 64-bit Hamming join ([[Dedup.hammingPairs64]] — four 16-bit
    * blocks, pigeonhole-exact for maxHamming ≤ 3). Pixels are read once
    * in the decode pass; the join shuffles only (id, hash, block) ints.
    * Returns (id_a, id_b, hamming).
    */
  def imageNearDupPairs(df: DataFrame, maxHamming: Int = 3): DataFrame =
    Dedup.hammingPairs64(dHashes(df), "media_id", "dhash", maxHamming)

  /** Hash-once media-fingerprint index — the multimodal analog of the
    * MinHash gate index: decode every payload ONCE, at ingest, persist
    * the 8-byte [[dHash]] next to the media id, and serve every later
    * dedup question from the fingerprint table. "Read once" was already
    * true WITHIN one [[imageNearDupPairs]] run; this makes it true
    * across the corpus lifetime — at 100 TB the bytes are the cost
    * (full image decode per payload), and steady-state maintenance must
    * never touch them twice. The audio path composes identically from
    * [[audioHashes]].
    *
    * Plain unpartitioned parquet of (media_id, dhash): 16 bytes/row
    * means a billion-image index is ~16 GB — scan-cheap, join-cheap,
    * compactable by [[graft.sources.Compaction.compact]] on the same
    * cadence as the other sidecars.
    */
  def writeMediaHashIndex(df: DataFrame, indexPath: String): Unit =
    dHashes(df).write.mode("overwrite").parquet(indexPath)

  /** Append one ingest batch's fingerprints (one decode pass over the
    * BATCH only — the indexed corpus is never re-decoded). */
  def appendMediaHashIndex(df: DataFrame, indexPath: String): Unit =
    dHashes(df).write.mode("append").parquet(indexPath)

  /** TAKEDOWN over a media/audio fingerprint index: one anti-join
    * rewrite of the flat (media_id, hash) table — 16 bytes per row,
    * O(index) — via the staged atomic swap. After it, the media gate
    * cannot match new payloads against the retracted item, and a
    * re-submitted copy of it re-admits (tombstone ≠ ban). Idempotent.
    */
  def retractFromMediaIndex(spark: SparkSession, indexPath: String,
                            ids: DataFrame, idCol: String): Unit =
    graft.sources.Compaction.retractRows(spark, indexPath,
      ids.select(col(idCol).cast("long").as("__rid")).distinct(),
      (t, k) => t("media_id") === k("__rid"))

  /** [[imageNearDupPairs]] served FROM the fingerprint index: the same
    * blocked Hamming join, zero decodes — the steady-state dedup pass.
    * Returns (id_a, id_b, hamming).
    */
  def imageNearDupPairsFromIndex(spark: SparkSession, indexPath: String,
                                 maxHamming: Int = 3): DataFrame =
    Dedup.hammingPairs64(
      // lazy-takedown overlay ([[graft.sources.Tombstones]])
      graft.sources.Tombstones.exclude(spark.read.parquet(indexPath),
        indexPath, col("media_id")),
      "media_id", "dhash", maxHamming)

  /** New-batch media ids whose fingerprint sits within `maxHamming` of
    * an INDEXED fingerprint — the media twin of
    * [[Dedup.dedupAgainstIndex]]: the batch is decoded once (its own
    * hashes), the corpus side joins by stored hash. Returns
    * (new_id, corpus_id, hamming).
    */
  def dedupAgainstMediaIndex(batch: DataFrame, indexPath: String,
                             maxHamming: Int = 3): DataFrame = {
    val spark = batch.sparkSession
    val newHashes = dHashes(batch)
      .select(col("media_id").as("new_id"), col("dhash"))
    val indexed = graft.sources.Tombstones.exclude(
        spark.read.parquet(indexPath), indexPath, col("media_id"))
      .select(col("media_id").as("corpus_id"), col("dhash"))
    Dedup.hammingJoin64(newHashes, "new_id", indexed, "corpus_id",
      "dhash", maxHamming)
  }

  /** Nearest-neighbor integer upscale of an image payload, re-encoded as
    * PNG — fixture generator for the resize-invariance contract of
    * [[dHash]] (exact when 9 | width and 8 | height; see there).
    */
  def upscaleNearest(bytes: Array[Byte], factor: Int): Array[Byte] = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val src = readImage(bytes)
    val out = new java.awt.image.BufferedImage(src.getWidth * factor,
      src.getHeight * factor, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < out.getHeight) {
      var x = 0
      while (x < out.getWidth) {
        out.setRGB(x, y, src.getRGB(x / factor, y / factor))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", bos)
    bos.toByteArray
  }

  /** Decoded PCM frame amplitudes: per frame, the sum over channels of
    * |sample| scaled to the 16-bit domain (the [[WavCodec]] depth
    * normalization) — shared by [[audioHash]] and [[stretchWav]].
    */
  private def frameAmplitudes(bytes: Array[Byte]): Array[Long] = {
    require(bytes != null && bytes.length > 0, "empty media payload")
    val ais =
      try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      catch {
        case e: javax.sound.sampled.UnsupportedAudioFileException =>
          throw new IllegalArgumentException(
            "no javax.sound reader for payload", e)
      }
    try {
      val fmt = ais.getFormat
      val enc = fmt.getEncoding
      val bits = fmt.getSampleSizeInBits
      require(enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
        enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED,
        s"audioHash handles PCM payloads, got $enc")
      require(bits == 8 || bits == 16 || bits == 24,
        s"audioHash handles 8/16/24-bit PCM, got $bits")
      val channels = fmt.getChannels
      val data = ais.readAllBytes()
      val little = !fmt.isBigEndian
      val unsigned =
        enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
      val bytesPer = bits / 8
      val frameBytes = bytesPer * channels
      val nFrames = data.length / frameBytes
      val amps = new Array[Long](nFrames)
      var f = 0
      while (f < nFrames) {
        var acc = 0L
        var c = 0
        while (c < channels) {
          val i = f * frameBytes + c * bytesPer
          var raw = 0
          var b = 0
          while (b < bytesPer) {
            val shift = if (little) 8 * b else 8 * (bytesPer - 1 - b)
            raw |= (data(i + b) & 0xFF) << shift
            b += 1
          }
          val signed =
            if (unsigned) raw - (1 << (bits - 1))
            else (raw << (32 - bits)) >> (32 - bits)
          val s16 = if (bits >= 16) signed >> (bits - 16)
                    else signed << (16 - bits)
          acc += math.abs(s16.toLong)
          c += 1
        }
        amps(f) = acc
        f += 1
      }
      amps
    } finally ais.close()
  }

  /** 64-bit audio fingerprint — the waveform analog of [[dHash]]: real
    * javax.sound PCM decode, per-frame summed |amplitude| (16-bit-domain
    * normalized, so bit depth changes resolution, not shape), bucketed
    * into 65 time windows; bit w set iff window w+1 is louder than window
    * w, decided by exact integer cross-multiplication. Invariant to the
    * container (WAV header padding), to bit-depth widening, and to exact
    * ×k time stretches when 65 | frames (window boundaries land on the
    * same frames — the [[dHash]] upscale theorem in one dimension).
    * 8 bytes per clip: audio dedup at corpus scale shuffles a long
    * column through the same [[Dedup.hammingPairs64]] join as images
    * and text.
    */
  def audioHash(bytes: Array[Byte]): Long = {
    val amps = frameAmplitudes(bytes)
    val win = 65
    val n = amps.length
    require(n >= win, s"audioHash needs >= $win frames, got $n")
    val sums = new Array[Long](win)
    val counts = new Array[Long](win)
    var f = 0
    while (f < n) {
      val w = math.min(f * win / n, win - 1)
      sums(w) += amps(f)
      counts(w) += 1
      f += 1
    }
    var hash = 0L
    var w = 0
    while (w < win - 1) {
      // amplitudes ≤ 32768·channels ≤ 2^21-ish per frame, windows ≤ 2^20
      // frames → sums < 2^41, counts < 2^20: the products fit a long
      if (sums(w + 1) * counts(w) > sums(w) * counts(w + 1))
        hash |= 1L << w
      w += 1
    }
    hash
  }

  /** [[audioHash]] per row of a `media_id`/`content` frame: one
    * mapPartitions decode pass, returning (media_id, ahash). */
  def audioHashes(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id"), col("content"))
      .as(Encoders.product[MediaRecord])
      .mapPartitions(_.map(r => (r.media_id, audioHash(r.content))))
      .toDF("media_id", "ahash")
  }

  /** Audio near-duplicate pairs: [[audioHash]] fingerprints through the
    * blocked 64-bit Hamming join. Returns (id_a, id_b, hamming). */
  def audioNearDupPairs(df: DataFrame, maxHamming: Int = 3): DataFrame =
    Dedup.hammingPairs64(audioHashes(df), "media_id", "ahash", maxHamming)

  /** Hash-once AUDIO fingerprint index — [[writeMediaHashIndex]]'s
    * waveform twin: decode every payload once at ingest, persist
    * (media_id, ahash), serve every later dedup question from the
    * 16-byte rows. Same maintenance story (append per batch, plain
    * compaction) and the same steady-state claim: at 100 TB the PCM
    * decode is the cost and it is paid exactly once per payload.
    */
  def writeAudioHashIndex(df: DataFrame, indexPath: String): Unit =
    audioHashes(df).write.mode("overwrite").parquet(indexPath)

  /** [[audioNearDupPairs]] served FROM the fingerprint index — zero
    * decodes. Returns (id_a, id_b, hamming). */
  def audioNearDupPairsFromIndex(spark: SparkSession, indexPath: String,
                                 maxHamming: Int = 3): DataFrame =
    Dedup.hammingPairs64(
      // lazy-takedown overlay ([[graft.sources.Tombstones]])
      graft.sources.Tombstones.exclude(spark.read.parquet(indexPath),
        indexPath, col("media_id")),
      "media_id", "ahash", maxHamming)

  /** Exact ×k time stretch of a 16-bit PCM WAV (each frame repeated k
    * times, real javax.sound re-encode) — fixture generator for the
    * stretch-invariance contract of [[audioHash]].
    */
  def stretchWav(bytes: Array[Byte], factor: Int): Array[Byte] = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val fmt = ais.getFormat
      require(fmt.getSampleSizeInBits == 16,
        s"stretchWav expects 16-bit PCM, got ${fmt.getSampleSizeInBits}")
      val data = ais.readAllBytes()
      val frameBytes = fmt.getFrameSize
      val nFrames = data.length / frameBytes
      val out = new Array[Byte](data.length * factor)
      var f = 0
      while (f < nFrames) {
        var k = 0
        while (k < factor) {
          System.arraycopy(data, f * frameBytes, out,
            (f * factor + k) * frameBytes, frameBytes)
          k += 1
        }
        f += 1
      }
      val stretched = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(out), fmt,
        (nFrames * factor).toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(stretched,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    } finally ais.close()
  }

  /** Deterministic NOISE WAV (splitmix64-scrambled 16-bit mono-or-multi
    * PCM, real javax.sound encode) — the audio twin of
    * [[syntheticNoisePng]]: distinct seeds fingerprint like independent
    * 64-bit hashes under [[audioHash]], where [[syntheticWav]]'s
    * structured waveform would not guarantee separation.
    */
  def syntheticNoiseWav(seed: Long, nFrames: Int, sampleRate: Int,
                        channels: Int): Array[Byte] = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, channels, true, false)
    val pcm = new Array[Byte](nFrames * channels * 2)
    var i = 0
    while (i < nFrames * channels) {
      val s16 = (mix(seed * 0x100000001L + i) & 0xFFFF).toInt - 32768
      pcm(2 * i) = (s16 & 0xFF).toByte
      pcm(2 * i + 1) = ((s16 >> 8) & 0xFF).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Decode a binary media column into (meta struct, feature vector),
    * batch-iterating per partition. Input df must have `media_id`/`content`.
    */
  def decode(df: DataFrame, codec: Codec): Dataset[DecodedRecord] = {
    implicit val enc = Encoders.product[DecodedRecord]
    df.select(col("media_id"), col("content")).as(Encoders.product[MediaRecord])
      .mapPartitions { it: Iterator[MediaRecord] =>
        it.map { r =>
          val (meta, feat) = codec.decode(r.content)
          DecodedRecord(r.media_id, meta, feat)
        }
      }
  }

  /** One sampled frame of a multi-frame (video-shaped) payload. */
  case class FrameRecord(media_id: Long, n_frames: Int, frame_idx: Int,
                         features: Array[Float])

  /** REAL multi-frame decode — the video-shaped path with an actual
    * decoder: animated GIF is the one motion format the JDK decodes
    * without native libraries (ImageIO's GIF reader is multi-image:
    * `getNumImages` / `read(i)` walk the animation). Every `stride`-th
    * frame is decoded and embedded with the same luminance histogram as
    * [[ImageIoCodec]], so frame features land in the space the image path
    * uses — cross-modal retrieval over frames comes free.
    *
    * Same scale shape as [[decode]]: mapPartitions over the binary column,
    * one task per split, no shuffle; the per-record frame list is bounded
    * by the payload itself. Frame COUNT is read once, frames are decoded
    * individually — skipping unsampled frames never buffers them.
    */
  def decodeFrames(df: DataFrame, stride: Int,
                   featureDim: Int): Dataset[FrameRecord] = {
    require(stride >= 1)
    implicit val enc = Encoders.product[FrameRecord]
    df.select(col("media_id"), col("content"))
      .as(Encoders.product[MediaRecord])
      .mapPartitions { it: Iterator[MediaRecord] =>
        it.flatMap { r =>
          require(r.content != null && r.content.length > 0,
            "empty media payload")
          val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(r.content))
          try {
            val readers = javax.imageio.ImageIO.getImageReaders(iis)
            require(readers.hasNext, "no ImageIO reader for payload")
            val reader = readers.next()
            try {
              reader.setInput(iis)
              val n = reader.getNumImages(true)
              (0 until n by stride).map { f =>
                val img = reader.read(f)
                val feat = new Array[Float](featureDim)
                var y = 0
                while (y < img.getHeight) {
                  var x = 0
                  while (x < img.getWidth) {
                    val rgb = img.getRGB(x, y)
                    val lum = (((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) +
                      (rgb & 0xFF)) / (3.0f * 255.0f)
                    feat((y * img.getWidth + x) % featureDim) += lum
                    x += 1
                  }
                  y += 1
                }
                FrameRecord(r.media_id, n, f, feat)
              }
            } finally reader.dispose()
          } finally iis.close()
        }
      }
  }

  /** Per-frame [[dHash]] fingerprints of multi-frame payloads (animated
    * GIF through the same ImageIO seam as [[decodeFrames]]): ONE decode
    * pass, one (media_id, frame_idx, fhash) row per sampled frame —
    * 12 bytes of fingerprint per frame where the payload held kilobytes
    * of pixels. `stride` subsamples frames (every stride-th), the usual
    * video-fingerprint economy: near-dup detection needs the frame SET's
    * signature, not every frame.
    */
  def frameHashes(df: DataFrame, stride: Int = 1): DataFrame = {
    require(stride >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id"), col("content"))
      .as(Encoders.product[MediaRecord])
      .mapPartitions { it: Iterator[MediaRecord] =>
        it.flatMap { r =>
          require(r.content != null && r.content.length > 0,
            "empty media payload")
          val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(r.content))
          try {
            val readers = javax.imageio.ImageIO.getImageReaders(iis)
            require(readers.hasNext, "no ImageIO reader for payload")
            val reader = readers.next()
            try {
              reader.setInput(iis)
              val n = reader.getNumImages(true)
              (0 until n by stride)
                .map(f => (r.media_id, f, dHashImage(reader.read(f))))
            } finally reader.dispose()
          } finally iis.close()
        }
      }.toDF("media_id", "frame_idx", "fhash")
  }

  /** Video near-duplicate pairs by frame-fingerprint SET overlap — the
    * motion member of the near-dup family (images: Hamming on one hash;
    * audio: Hamming on the loudness profile; video: Jaccard over the
    * frame-hash set, the shape that catches re-cuts, trims and
    * re-containered copies that share footage). Candidates BLOCK on a
    * shared frame hash — the contamination-join shape: only media
    * sharing at least one exact frame fingerprint ever meet, nothing
    * goes all-pairs, and the join shuffles (id, 8-byte hash) rows, never
    * pixels. Jaccard is priced exactly over the DISTINCT frame-hash sets
    * (na + nb − shared in the denominator, so the count never double-
    * dips). Returns (id_a < id_b, shared, jaccard) at
    * `jaccard >= minJaccard`.
    *
    * Per-frame NEAR-matches (a re-encode that perturbs pixels) are out
    * of scope of the exact-equality block by design — compose
    * [[frameHashes]] with [[graft.operators.Dedup.hammingPairs64]] on
    * the frame level when the footage itself is lossy-re-encoded.
    *
    * `maxFrameDf` is the BOILERPLATE-FRAME guard, and it matters at
    * corpus scale: a frame hash shared by B media generates B² candidate
    * rows at the join, and real video corpora are full of near-universal
    * frames (black frames, title cards, network logos) — one black frame
    * across a million clips is a 10¹² -row bucket. Capping the blocking
    * at document frequency ≤ maxFrameDf drops such hashes from BOTH the
    * blocking and the Jaccard sets (both sides symmetrically, so the
    * measure stays a true Jaccard — over the DISCRIMINATIVE frames),
    * the stop-word practice of every similarity join. A pair sharing
    * ONLY boilerplate frames is then not reported — which is the point:
    * two different shows sharing a black frame are not duplicates.
    * Default ∞ = exact set Jaccard (the gap twin's setting).
    */
  def videoNearDupPairs(df: DataFrame, stride: Int = 1,
                        minJaccard: Double = 0.5,
                        maxFrameDf: Long = Long.MaxValue): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard=$minJaccard must be in (0, 1] — at 0 every pair of " +
        "media sharing any frame would emit, which is the blocked join's " +
        "candidate set, not a duplicate verdict")
    require(maxFrameDf >= 1, s"maxFrameDf=$maxFrameDf")
    val fhAll = frameHashes(df, stride)
      .select("media_id", "fhash").distinct()
    val fh =
      if (maxFrameDf == Long.MaxValue) fhAll
      else {
        // document frequency per frame hash over the DISTINCT sets —
        // one extra hash-keyed aggregate, paid only when the cap is on
        val dfreq = fhAll.groupBy("fhash")
          .agg(count(lit(1)).as("__vf_df"))
          .where(col("__vf_df") <= maxFrameDf)
          .select("fhash")
        fhAll.join(dfreq, Seq("fhash"), "left_semi")
      }
    val sizes = fh.groupBy("media_id").agg(count(lit(1)).as("nf"))
    val withSizes = fh.join(sizes, "media_id")
    val a = withSizes.select(col("media_id").as("id_a"), col("fhash"),
      col("nf").as("na"))
    val b = withSizes.select(col("media_id").as("id_b"), col("fhash"),
      col("nf").as("nb"))
    a.join(b, "fhash")
      .where(col("id_a") < col("id_b"))
      // na/nb are constants per pair — grouping keys, not aggregates
      .groupBy("id_a", "id_b", "na", "nb")
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard", col("shared").cast("double") /
        (col("na") + col("nb") - col("shared")))
      .where(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "shared", "jaccard")
  }

  /** Deterministic synthetic animated GIF (seed-keyed per-frame gradients,
    * real ImageIO sequence encode) — the motion twin of [[syntheticPng]]:
    * frame COUNT is pure arithmetic over the seed, so a SQL oracle can
    * check the whole encode → GIF89a bytes → multi-image decode loop.
    */
  def syntheticGif(seed: Long, nFrames: Int, width: Int,
                   height: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    val writer =
      javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < nFrames) {
        val img = new java.awt.image.BufferedImage(width, height,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < height) {
          var x = 0
          while (x < width) {
            val v = (((seed * 31 + f * 97 + y * width + x) % 256 + 256)
              % 256).toInt
            img.setRGB(x, y, (v << 16) | ((255 - v) << 8) | (v * 7 % 256))
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(
          new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    bos.toByteArray
  }

  /** Frame sampling for video-shaped payloads WITHOUT a decoder: split the
    * payload into `frameBytes`-sized pseudo-frames and keep every
    * `stride`-th — the partition/batch shape of frame extraction when the
    * container has no JVM reader ([[decodeFrames]] is the real-decoder
    * variant). Pure Column expression (no UDF): returns `array<binary>`.
    */
  def sampleFrames(content: org.apache.spark.sql.Column, frameBytes: Int,
                   stride: Int): org.apache.spark.sql.Column = {
    val nFrames = floor(length(content) / frameBytes).cast("int")
    when(nFrames === 0, array().cast("array<binary>")).otherwise(
      filter(
        transform(sequence(lit(0), nFrames - 1),
          i => content.substr(i * frameBytes + 1, lit(frameBytes))),
        (_, i) => i % stride === 0))
  }
}
