package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for a training-data pipeline: media payloads
  * travel as opaque `binary` columns next to a typed metadata struct; the
  * decode steps run per-partition over batches.
  *
  * Image decode is REAL: PNG/JPEG payloads go through the JDK's
  * `javax.imageio.ImageIO` (no external codec dependency) — true
  * width/height/format/pixels come off the decoded raster. Audio decode is
  * a RIFF/WAVE walk with a `javax.sound.sampled` fallback. A payload
  * neither codec recognizes decodes to None, and the decode passes drop
  * its row.
  */
object Multimodal {

  /** Build an asset table from any (id, string) source — the string bytes
    * stand in for a media payload. Pure column ops. */
  def toAssets(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("asset_id"),
      lit("image/fake").as("media_type"),
      col(textCol).cast("binary").as("payload"),
      struct(
        (length(col(textCol)) % 1024).cast("int").as("width"),
        (length(col(textCol)) % 768).cast("int").as("height"),
        lit("fake").as("format")).as("meta"))

  // ── real image codec (JDK ImageIO — no external dependency) ──────────

  /** Deterministic gray value for synthesized test images; the DuckDB
    * oracle reproduces the same arithmetic, so a query that ENCODES with
    * this and then truly DECODES the PNG bytes is hash-checkable. */
  def grayAt(x: Int, y: Int, seed: Long): Int =
    ((x.toLong * 7 + y.toLong * 13 + seed) % 256).toInt

  /** Encode a real 8-bit grayscale PNG with `grayAt` pixels. PNG is
    * lossless, so every sample round-trips exactly through decode. */
  def encodePng(width: Int, height: Int, seed: Long): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { raster.setSample(x, y, 0, grayAt(x, y, seed)); x += 1 }
      y += 1
    }
    writePng(img)
  }

  /** PNG-encode through an explicitly MEMORY-cached image stream.
    * `ImageIO.write(img, fmt, outputStream)` defaults to a
    * `FileCacheImageOutputStream` — a temp file created, written, read
    * back, and deleted PER IMAGE. In a hot codec scan that is a disk
    * round-trip and an inode churn per record (and an outright failure on
    * a read-only container); payloads here are KBs, so the memory cache
    * is strictly better. */
  def writePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try javax.imageio.ImageIO.write(img, "png", ios) finally ios.close()
    bos.toByteArray
  }

  final case class DecodedImage(width: Int, height: Int, format: String,
                                pixel_sum: Long, image: java.awt.image.BufferedImage)

  /** Real decode: sniff the format with ImageIO's reader registry, decode
    * the pixels, and sum band-0 samples (an order-independent integer
    * checksum of the raster). None when no installed reader recognizes the
    * bytes. */
  def decodeImage(bytes: Array[Byte]): Option[DecodedImage] = {
    if (bytes == null || bytes.isEmpty) return None
    try {
      // memory-cached stream, NOT ImageIO.createImageInputStream: the
      // factory consults getUseCache() and wraps the byte array in a
      // FileCacheImageInputStream — a temp file per decoded record
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis)
            val fmt = reader.getFormatName.toLowerCase
            val img = reader.read(0)
            val raster = img.getRaster
            var sum = 0L
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) { sum += raster.getSample(x, y, 0); x += 1 }
              y += 1
            }
            Some(DecodedImage(img.getWidth, img.getHeight, fmt, sum, img))
          } finally reader.dispose()
        }
      } finally iis.close()
    } catch { case _: java.io.IOException => None }
  }

  // ── real audio codec (JDK javax.sound.sampled — no external dep) ─────

  /** Deterministic signed 16-bit sample for synthesized test audio; the
    * DuckDB oracle reproduces the arithmetic, so a query that ENCODES
    * with this and truly DECODES the WAV container is hash-checkable. */
  def pcmAt(i: Int, seed: Long): Int =
    ((i.toLong * 37 + seed) % 65536L).toInt - 32768

  /** Encode a real 16-bit PCM mono WAV (8 kHz) with `pcmAt` samples.
    * PCM is lossless: every sample round-trips exactly.
    *
    * The 44-byte canonical PCM header is written directly — bit-for-bit
    * what `AudioSystem.write(..., Type.WAVE, ...)` produces (pinned by
    * MultimodalSpec), without the per-call writer lookup and stream
    * plumbing that dominate when each row synthesizes a sub-KB payload. */
  def encodeWav(nSamples: Int, seed: Long): Array[Byte] = {
    require(nSamples > 0, s"bad sample count $nSamples")
    val dataLen = nSamples * 2 // 16-bit mono
    val out = new Array[Byte](44 + dataLen)
    def tag(off: Int, s: String): Unit = {
      var i = 0; while (i < 4) { out(off + i) = s(i).toByte; i += 1 }
    }
    def le32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xFF).toByte
      out(off + 1) = ((v >> 8) & 0xFF).toByte
      out(off + 2) = ((v >> 16) & 0xFF).toByte
      out(off + 3) = ((v >> 24) & 0xFF).toByte
    }
    def le16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xFF).toByte
      out(off + 1) = ((v >> 8) & 0xFF).toByte
    }
    tag(0, "RIFF"); le32(4, 36 + dataLen); tag(8, "WAVE")
    tag(12, "fmt "); le32(16, 16) // fmt chunk length
    le16(20, 1) // format tag: integer PCM
    le16(22, 1) // channels: mono
    le32(24, 8000) // sample rate
    le32(28, 16000) // byte rate = rate * blockAlign
    le16(32, 2) // block align = channels * bits/8
    le16(34, 16) // bits per sample
    tag(36, "data"); le32(40, dataLen)
    var i = 0
    while (i < nSamples) {
      val s = pcmAt(i, seed)
      out(44 + 2 * i) = (s & 0xFF).toByte // little-endian
      out(44 + 2 * i + 1) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    out
  }

  final case class DecodedAudio(sample_rate: Int, channels: Int, bits: Int,
                                n_frames: Long, sample_sum: Long)

  /** The fmt/data facts of a canonical PCM RIFF/WAVE container, plus the
    * data chunk's byte range inside the payload. */
  final case class WavPcm(sampleRate: Int, channels: Int, bits: Int,
                          dataOff: Int, dataLen: Int) {
    def frameSize: Int = math.max(1, channels * (bits / 8))
  }

  /** Minimal RIFF/WAVE chunk walker for the canonical case: format tag 1
    * (integer PCM), a `fmt ` chunk before `data`. This IS a real
    * container parse — RIFF magic, WAVE form type, word-aligned chunk
    * walk, little-endian fmt fields — just without `AudioSystem`'s
    * per-call provider discovery and stream machinery, which dominate
    * when payloads are sub-KB rows in a hot scan (each
    * `getAudioInputStream` call sniffs every registered AudioFileReader).
    * Returns None for anything non-canonical (compressed WAV, AIFF/AU,
    * truncated chunks) — callers fall back to the full javax.sound path,
    * so coverage is unchanged. Parity with that path is property-tested
    * in MultimodalSpec. */
  def parseWavPcm(b: Array[Byte]): Option[WavPcm] = {
    def u16(i: Int): Int = (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
    def u32(i: Int): Long =
      (b(i) & 0xFFL) | ((b(i + 1) & 0xFFL) << 8) |
        ((b(i + 2) & 0xFFL) << 16) | ((b(i + 3) & 0xFFL) << 24)
    def tag(i: Int): String = new String(b, i, 4, "ISO-8859-1")
    if (b == null || b.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE")
      return None
    var pos = 12
    var fmt: Option[(Int, Int, Int)] = None // (rate, channels, bits)
    while (pos + 8 <= b.length) {
      val id = tag(pos)
      val len = u32(pos + 4)
      if (len < 0 || len > b.length.toLong - pos - 8) {
        // tolerate only a long-running final data chunk (streams of
        // unknown length write 0xFFFFFFFF); anything else is malformed
        if (id == "data" && fmt.isDefined) {
          val (r, c, bits) = fmt.get
          return Some(WavPcm(r, c, bits, pos + 8, b.length - pos - 8))
        }
        return None
      }
      val l = len.toInt
      if (id == "fmt ") {
        if (l < 16 || u16(pos + 8) != 1) return None // 1 = integer PCM
        fmt = Some((u32(pos + 12).toInt, u16(pos + 10), u16(pos + 22)))
      } else if (id == "data") {
        if (fmt.isEmpty) return None
        val (r, c, bits) = fmt.get
        return Some(WavPcm(r, c, bits, pos + 8, l))
      }
      pos += 8 + l + (l & 1) // RIFF chunks are word-aligned
    }
    None
  }

  /** Sum of little-endian 16-bit samples over a byte range — the same
    * lossless integer checksum the javax.sound path computes, a trailing
    * odd byte ignored identically. */
  private def sumPcm16(b: Array[Byte], off: Int, len: Int): Long = {
    var sum = 0L
    var i = off
    val end = off + len
    while (i + 1 < end) {
      sum += ((b(i) & 0xFF) | (b(i + 1).toInt << 8)).toShort
      i += 2
    }
    sum
  }

  /** Real audio decode: parse the WAV container (format chunk →
    * rate/channels/bits, data chunk → frames) and sum the PCM samples as
    * a lossless integer checksum. Canonical PCM WAVs take the direct
    * RIFF walk; anything else falls back to javax.sound.sampled, so
    * every format the JDK can read still decodes. None when neither
    * recognizes the bytes (MP3/OGG have no JDK codec). */
  def decodeAudio(payload: Array[Byte]): Option[DecodedAudio] = {
    if (payload == null || payload.isEmpty) return None
    parseWavPcm(payload) match {
      case Some(w) =>
        val sum = if (w.bits == 16) sumPcm16(payload, w.dataOff, w.dataLen)
                  else 0L // javax.sound path also sums only 16-bit LE
        Some(DecodedAudio(w.sampleRate, w.channels, w.bits,
          w.dataLen.toLong / w.frameSize, sum))
      case None => decodeAudioJavax(payload)
    }
  }

  /** The full javax.sound.sampled decode — the fallback for non-canonical
    * containers (AIFF, AU, compressed WAV). */
  private def decodeAudioJavax(payload: Array[Byte]): Option[DecodedAudio] = {
    import javax.sound.sampled._
    try {
      val ais = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val f = ais.getFormat
        val data = ais.readAllBytes()
        val sum =
          if (f.getSampleSizeInBits == 16 && !f.isBigEndian)
            sumPcm16(data, 0, data.length)
          else 0L
        Some(DecodedAudio(f.getSampleRate.toInt, f.getChannels,
          f.getSampleSizeInBits,
          data.length.toLong / math.max(1, f.getFrameSize), sum))
      } finally ais.close()
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => None
      case _: java.io.IOException                               => None
    }
  }

  /** Synthesize an asset table with REAL WAV payloads, frame counts
    * deterministic from the id — the audio twin of
    * `synthesizeImageAssets`. */
  def synthesizeAudioAssets(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions(_.map { id => (id, encodeWav(wavSamples(id), seed = id)) })
      .toDF("asset_id", "payload")
      .select(col("asset_id"), lit("audio/wav").as("media_type"),
        col("payload"),
        struct(lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          lit(null).cast("string").as("format")).as("meta"))
  }

  def wavSamples(id: Long): Int = (50 + id % 200).toInt

  final case class AudioMeta(asset_id: Long, sample_rate: Int, channels: Int,
                             bits: Int, n_frames: Long, sample_sum: Long)

  /** Real decode pass over audio assets — narrow mapPartitions,
    * undecodable payloads dropped (quarantine in production). */
  def decodeAudios(assets: DataFrame): Dataset[AudioMeta] = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select(col("asset_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        decodeAudio(bytes).map(d => AudioMeta(id, d.sample_rate, d.channels,
          d.bits, d.n_frames, d.sample_sum))
      })
  }

  /** Synthesize an asset table with REAL PNG payloads: dims derive
    * deterministically from the id (so an oracle can predict the decoded
    * output), pixels from `grayAt`. Metadata is left null — on ingest the
    * payload arrives first and decode fills the meta, which is exactly
    * what `decodeImages` does. */
  def synthesizeImageAssets(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions(_.map { id =>
        (id, encodePng(imgWidth(id), imgHeight(id), seed = id))
      })
      .toDF("asset_id", "payload")
      .select(col("asset_id"), lit("image/png").as("media_type"),
        col("payload"),
        struct(lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          lit(null).cast("string").as("format")).as("meta"))
  }

  /** Deterministic synthesized-image dims (small: encode stays cheap even
    * over millions of rows; the shape — not the pixel count — is what the
    * pipeline exercises). */
  def imgWidth(id: Long): Int = (4 + id % 29).toInt
  def imgHeight(id: Long): Int = (3 + id % 17).toInt

  final case class ImageMeta(asset_id: Long, width: Int, height: Int,
                             format: String, pixel_sum: Long)

  /** Real decode pass over an asset table: ImageIO parses each payload's
    * actual bytes; undecodable payloads are dropped (a production pipeline
    * would route them to a quarantine sink). Narrow mapPartitions — no
    * shuffle, payload column pruned everywhere downstream. */
  def decodeImages(assets: DataFrame): Dataset[ImageMeta] = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select(col("asset_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        decodeImage(bytes).map(d =>
          ImageMeta(id, d.width, d.height, d.format, d.pixel_sum))
      })
  }

  // ── perceptual image hashing (s16's decode-side primitives) ──────────

  /** Brightness bump planted on the origin pixel of a near-duplicate
    * copy (mod 256 keeps it a valid 8-bit sample). Small enough that the
    * copy's aHash lands within the s16 Hamming threshold of its base —
    * except when the origin pixel sits within 8 of saturation and the
    * bump WRAPS (a genuinely large edit; ~3% of planted copies at 50k
    * ids), which can push the pair past the radius. Documented, not
    * hidden: s16's oracle recomputes the same hashes either way. */
  val NearDupBump = 8

  /** s16's pixel field. [[grayAt]]'s plane `7x+13y+seed` differs between
    * seeds almost purely by a constant BRIGHTNESS offset — exactly what a
    * mean-thresholded average-hash is designed to ignore — so under
    * aHash, distinct s10-style images collide en masse (measured: 1122
    * of 1225 pairs within Hamming 3 at 50 docs). This field gives every
    * seed its own x/y/xy gradient STRUCTURE (the curvature terms), which
    * is what survives mean-thresholding; measured at 5000 ids: 3
    * non-planted pairs within radius, planted copies at distance <= 1.
    * Pure integer arithmetic — the DuckDB oracle replicates it exactly. */
  def grayMixAt(x: Int, y: Int, seed: Long): Int = {
    val xl = x.toLong; val yl = y.toLong
    ((xl * xl * (3 + seed % 31) + yl * yl * (5 + seed % 29) +
      xl * yl * (1 + seed % 13) +
      xl * (3 + seed % 251) + yl * (7 + seed % 241) + seed) % 256).toInt
  }

  /** Synthesized image corpus WITH planted near-duplicates: rows where
    * `id % 10 == 7` carry a perturbed copy of (id-7)'s image — same dims,
    * same [[grayMixAt]] pixel field, origin pixel bumped by
    * [[NearDupBump]] — instead of their own pattern. The perturbation is
    * arithmetic-replicable, so the s16 DuckDB oracle recomputes every
    * copy's hash without decoding a byte. */
  def synthesizeImageAssetsNearDup(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions(_.map { id =>
        val seed = if (id % 10 == 7) id - 7 else id
        val w = imgWidth(seed); val h = imgHeight(seed)
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { raster.setSample(x, y, 0, grayMixAt(x, y, seed)); x += 1 }
          y += 1
        }
        if (id % 10 == 7)
          raster.setSample(0, 0, 0, (grayMixAt(0, 0, seed) + NearDupBump) % 256)
        (id, writePng(img))
      })
      .toDF("asset_id", "payload")
      .select(col("asset_id"), lit("image/png").as("media_type"),
        col("payload"),
        struct(lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          lit(null).cast("string").as("format")).as("meta"))
  }

  /** 64-bit average-hash of a decoded grayscale image, split into two
    * unsigned 32-bit halves so every downstream system (Spark BIGINT,
    * DuckDB BIGINT, the oracle's `1 << b` arithmetic) stays clear of the
    * int64 sign bit. Definition — chosen for EXACT cross-engine
    * replication, no floats anywhere:
    *
    *   sample(i,j) = raster(i*w/8, j*h/8)  for i,j in 0..7  (point
    *   sample, integer floor division — total for any w,h >= 1, unlike a
    *   block average which would leave empty blocks when w < 8);
    *   bit b = i*8+j is set iff 64*sample >= sum(all 64 samples)
    *   (integer cross-multiplied mean comparison — no division).
    *
    * aHash is brightness-THRESHOLD invariant by construction; two
    * images differing by a small localized edit share almost every bit,
    * which is exactly the property s16's banded Hamming join exploits. */
  def aHash64(img: java.awt.image.BufferedImage): (Long, Long) = {
    val r = img.getRaster
    val w = img.getWidth; val h = img.getHeight
    val s = new Array[Int](64)
    var tot = 0L
    var i = 0
    while (i < 8) {
      var j = 0
      while (j < 8) {
        val v = r.getSample(i * w / 8, j * h / 8, 0)
        s(i * 8 + j) = v; tot += v; j += 1
      }
      i += 1
    }
    var hi = 0L; var lo = 0L
    var b = 0
    while (b < 64) {
      if (64L * s(b) >= tot) {
        if (b >= 32) hi |= 1L << (b - 32) else lo |= 1L << b
      }
      b += 1
    }
    (hi, lo)
  }

  final case class ImageHash(asset_id: Long, hash_hi: Long, hash_lo: Long)

  /** Real-decode perceptual-hash pass: ImageIO parses each payload, the
    * raster feeds [[aHash64]], undecodable payloads drop (quarantine in
    * production). Narrow mapPartitions; the output is 24 bytes/row — the
    * payload column never survives past this map, which is what lets
    * s16's join stage shuffle hashes instead of images. */
  def imageAHashes(assets: DataFrame): Dataset[ImageHash] = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select(col("asset_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        decodeImage(bytes).map { d =>
          val (hi, lo) = aHash64(d.image)
          ImageHash(id, hi, lo)
        }
      })
  }

  /** Frame-sampling stub: pick every `stride`-th byte window as a "frame",
    * emitting (asset_id, frame_no, frame_bytes) — the explode-shaped op a
    * video pipeline needs, with deterministic fake frames. */
  def sampleFrames(assets: DataFrame, frameLen: Int = 16,
                   stride: Int = 64): DataFrame =
    assets.select(col("asset_id"),
        posexplode(expr(
          s"transform(sequence(0, greatest(int(length(payload) / $stride) - 1, 0))," +
            s" i -> substring(payload, i * $stride + 1, $frameLen))")))
      .withColumnRenamed("pos", "frame_no")
      .withColumnRenamed("col", "frame_bytes")
}
