package graft.multimodal

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def assets = Multimodal.toAssets(
    Seq((1L, "hello world"), (2L, "x" * 200), (3L, ""))
      .toDF("id", "t"), "id", "t")

  test("asset table carries binary payload + typed metadata") {
    assert(assets.schema.fields.map(f => (f.name, f.dataType.typeName)).toSeq ==
      Seq("asset_id" -> "long", "media_type" -> "string",
        "payload" -> "binary", "meta" -> "struct"))
    val r = assets.where(col("asset_id") === 1L).head()
    assert(new String(r.getAs[Array[Byte]]("payload")) == "hello world")
    assert(r.getAs[org.apache.spark.sql.Row]("meta").getAs[Int]("width") == 11)
  }

  test("encodePng round-trips through a REAL ImageIO decode") {
    val bytes = Multimodal.encodePng(5, 4, seed = 9)
    // genuine PNG magic header, not a fake payload
    assert((bytes(0) & 0xFF) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' &&
      bytes(3) == 'G')
    val d = Multimodal.decodeImage(bytes).get
    assert(d.width == 5 && d.height == 4 && d.format == "png")
    val expected = (for { x <- 0 until 5; y <- 0 until 4 }
      yield Multimodal.grayAt(x, y, 9).toLong).sum
    assert(d.pixel_sum == expected)
  }

  test("decodeImage rejects non-image bytes; features fall back to stub") {
    assert(Multimodal.decodeImage("not an image".getBytes).isEmpty)
    assert(Multimodal.decodeImage(Array.empty[Byte]).isEmpty)
    assert(Multimodal.decodeImage(null).isEmpty)
  }

  test("decodeImage is format-agnostic: a real JPEG decodes with format=jpeg") {
    // encode via ImageIO's own JPEG writer — lossy, so only dims/format
    // are asserted (pixel fidelity is PNG's contract, not JPEG's)
    val img = new java.awt.image.BufferedImage(
      24, 10, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val d = Multimodal.decodeImage(bos.toByteArray).get
    assert(d.width == 24 && d.height == 10)
    assert(d.format == "jpeg")
  }

  test("distributed decode of synthesized PNGs yields true dims + checksums") {
    val ids = Seq(3L, 40L, 777L).toDF("doc_id")
    val metas = Multimodal.decodeImages(
        Multimodal.synthesizeImageAssets(ids, "doc_id"))
      .collect().map(m => m.asset_id -> m).toMap
    assert(metas.keySet == Set(3L, 40L, 777L))
    metas.values.foreach { m =>
      assert(m.width == Multimodal.imgWidth(m.asset_id))
      assert(m.height == Multimodal.imgHeight(m.asset_id))
      assert(m.format == "png")
      val expected = (for {
        x <- 0 until m.width; y <- 0 until m.height
      } yield Multimodal.grayAt(x, y, m.asset_id).toLong).sum
      assert(m.pixel_sum == expected)
    }
  }

  test("encodeWav round-trips through a REAL javax.sound decode") {
    val bytes = Multimodal.encodeWav(120, seed = 5)
    // genuine RIFF/WAVE container header
    assert(new String(bytes, 0, 4) == "RIFF" && new String(bytes, 8, 4) == "WAVE")
    val d = Multimodal.decodeAudio(bytes).get
    assert(d.sample_rate == 8000 && d.channels == 1 && d.bits == 16)
    assert(d.n_frames == 120)
    val expected = (0 until 120).map(i => Multimodal.pcmAt(i, 5).toLong).sum
    assert(d.sample_sum == expected)
    // non-audio bytes are rejected, not mangled
    assert(Multimodal.decodeAudio("not audio".getBytes).isEmpty)
    assert(Multimodal.decodeAudio(Multimodal.encodePng(4, 4, 1)).isEmpty)
  }

  test("distributed audio decode yields true format + sample checksums") {
    val metas = Multimodal.decodeAudios(
        Multimodal.synthesizeAudioAssets(Seq(2L, 77L).toDF("doc_id"), "doc_id"))
      .collect().map(m => m.asset_id -> m).toMap
    assert(metas.keySet == Set(2L, 77L))
    metas.values.foreach { m =>
      val n = Multimodal.wavSamples(m.asset_id)
      assert(m.n_frames == n && m.sample_rate == 8000 && m.bits == 16)
      assert(m.sample_sum ==
        (0 until n).map(i => Multimodal.pcmAt(i, m.asset_id).toLong).sum)
    }
  }

  test("16-bit grayscale PNGs decode and feature-extract without overflow") {
    // samples up to 65535: the decode keeps their full depth
    val img = new java.awt.image.BufferedImage(
      6, 4, java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    for (y <- 0 until 4; x <- 0 until 6)
      img.getRaster.setSample(x, y, 0, 60000 + x * 100 + y)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val d = Multimodal.decodeImage(bos.toByteArray).get
    assert(d.width == 6 && d.height == 4 && d.format == "png")
    assert(d.pixel_sum ==
      (for (y <- 0 until 4; x <- 0 until 6) yield 60000L + x * 100 + y).sum)
  }

  test("frame sampling explodes payload into strided windows") {
    val frames = Multimodal.sampleFrames(assets, frameLen = 16, stride = 64)
      .where(col("asset_id") === 2L).collect()
    assert(frames.length == 3) // 200 bytes / 64 stride
    assert(frames.map(_.getAs[Int]("frame_no")).toSeq == Seq(0, 1, 2))
    assert(frames.forall(_.getAs[Array[Byte]]("frame_bytes").length == 16))
  }

  test("encodeWav header is bit-for-bit what AudioSystem.write produces") {
    // the hand-written 44-byte canonical PCM header must be EXACTLY the
    // JDK writer's output — any drift would mean the synth payloads are
    // no longer "real WAVs as javax.sound writes them"
    import javax.sound.sampled._
    def javaxWav(n: Int, seed: Long): Array[Byte] = {
      val bytes = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        val s = Multimodal.pcmAt(i, seed)
        bytes(2 * i) = (s & 0xFF).toByte
        bytes(2 * i + 1) = ((s >> 8) & 0xFF).toByte
        i += 1
      }
      val fmt = new AudioFormat(8000f, 16, 1, true, false)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val rnd = new scala.util.Random(7)
    (1 to 50).foreach { _ =>
      val n = 1 + rnd.nextInt(500)
      val seed = rnd.nextLong()
      assert(Multimodal.encodeWav(n, seed).toSeq == javaxWav(n, seed).toSeq,
        s"header drift at n=$n seed=$seed")
    }
  }

  test("parseWavPcm fast path == javax.sound decode on real WAVs") {
    // the RIFF walker must agree with AudioSystem field-for-field,
    // including the sample checksum, on JDK-written containers
    import javax.sound.sampled._
    val rnd = new scala.util.Random(11)
    (1 to 50).foreach { _ =>
      val n = 1 + rnd.nextInt(400)
      val wav = Multimodal.encodeWav(n, rnd.nextLong())
      val fast = Multimodal.decodeAudio(wav).get
      val ais = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(wav))
      val f = ais.getFormat
      val data = ais.readAllBytes()
      ais.close()
      assert(fast.sample_rate == f.getSampleRate.toInt)
      assert(fast.channels == f.getChannels)
      assert(fast.bits == f.getSampleSizeInBits)
      assert(fast.n_frames == data.length.toLong / f.getFrameSize)
      var sum = 0L
      var i = 0
      while (i + 1 < data.length) {
        sum += ((data(i) & 0xFF) | (data(i + 1).toInt << 8)).toShort
        i += 2
      }
      assert(fast.sample_sum == sum)
    }
  }

  test("parseWavPcm rejects non-canonical bytes; decodeAudio still falls back") {
    assert(Multimodal.parseWavPcm("RIFFxxxxNOPE".getBytes ++
      new Array[Byte](40)).isEmpty)
    assert(Multimodal.parseWavPcm(new Array[Byte](10)).isEmpty)
    // truncated mid-header
    assert(Multimodal.parseWavPcm(
      Multimodal.encodeWav(100, 1L).take(30)).isEmpty)
    // garbage is None end-to-end (both paths decline)
    assert(Multimodal.decodeAudio("definitely not audio".getBytes).isEmpty)
  }

  test("codecs never throw on corrupted bytes: mutate/truncate fuzz") {
    // a malformed payload in a 100 TB scan must yield None (quarantine),
    // never an executor-killing exception — fuzz both decoders with
    // random single-byte mutations and truncations of valid payloads
    val rnd = new scala.util.Random(13)
    val wav = Multimodal.encodeWav(200, 5L)
    val png = Multimodal.encodePng(9, 7, 5L)
    (1 to 300).foreach { _ =>
      def mutate(src: Array[Byte]): Array[Byte] = {
        val b = src.clone()
        (0 to rnd.nextInt(3)).foreach { _ =>
          b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte }
        if (rnd.nextBoolean()) b.take(1 + rnd.nextInt(b.length)) else b
      }
      // must return (possibly None) without throwing
      Multimodal.decodeAudio(mutate(wav))
      Multimodal.parseWavPcm(mutate(wav))
      Multimodal.decodeImage(mutate(png))
    }
    // pure noise is always None
    val noise = Array.fill(64)(rnd.nextInt(256).toByte)
    assert(Multimodal.decodeAudio(noise).isEmpty)
    assert(Multimodal.decodeImage(noise).isEmpty)
  }
}
