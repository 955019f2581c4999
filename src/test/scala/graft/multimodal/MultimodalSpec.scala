package graft.multimodal

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import Multimodal._

  test("rendered blobs are genuine PNG files") {
    val bytes = ImageCodec.encodePng(7L)
    // PNG signature: 89 50 4E 47 0D 0A 1A 0A
    assert(bytes.take(8).map(_ & 0xFF).toSeq ==
      Seq(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A))
  }

  test("ImageIO decode round-trips the pixel formula exactly") {
    for (id <- Seq(0L, 1L, 31L, 100L, 499L)) {
      val stats = ImageCodec.decodeStats(id, ImageCodec.encodePng(id))
      val w = ImageCodec.width(id)
      val h = ImageCodec.height(id)
      var sum = 0L
      var checksum = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val p = ImageCodec.pixel(id, x, y)
        sum += p
        checksum += p.toLong * (y.toLong * w + x + 1)
      }
      assert(stats == ImageStats(id, w, h, w.toLong * h, sum, checksum),
        s"round-trip mismatch for id=$id")
    }
  }

  test("distributed render + decode over the documents fixture") {
    import spark.implicits._
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val media = renderPngImages(docs)
    assert(media.schema.fieldNames.toSeq ==
      Seq("media_id", "media", "meta"))
    val got = decodeImages(media)
      .filter($"media_id" === 2L).head()
    assert(got.width == 18 && got.height == 30 && got.n_pixels == 540)
  }

  test("GIF and BMP round-trip the pixel formula exactly (palette resolved)") {
    for (fmt <- Seq("gif", "bmp"); id <- Seq(0L, 1L, 31L, 100L, 499L)) {
      val stats = ImageCodec.decodeStats(id, ImageCodec.encodeLossless(id, fmt))
      val w = ImageCodec.width(id)
      val h = ImageCodec.height(id)
      var sum = 0L
      var checksum = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val p = ImageCodec.pixel(id, x, y)
        sum += p
        checksum += p.toLong * (y.toLong * w + x + 1)
      }
      assert(stats == ImageStats(id, w, h, w.toLong * h, sum, checksum),
        s"$fmt round-trip mismatch for id=$id")
    }
    // GIF really is indexed — the palette-resolution path is exercised
    val gif = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      ImageCodec.encodeLossless(3L, "gif")))
    assert(gif.getColorModel.isInstanceOf[java.awt.image.IndexColorModel])
  }

  test("rendered JPEG blobs are genuine JFIF files") {
    val bytes = ImageCodec.encodeJpeg(7L)
    // JPEG SOI marker FF D8, and FF D9 EOI at the end
    assert((bytes(0) & 0xFF) == 0xFF && (bytes(1) & 0xFF) == 0xD8)
    assert((bytes(bytes.length - 2) & 0xFF) == 0xFF &&
      (bytes.last & 0xFF) == 0xD9)
  }

  test("JPEG decode stays within the tolerance band on the smooth fixture") {
    for (id <- Seq(0L, 1L, 31L, 100L, 499L)) {
      val f = ImageCodec.fidelityStats(id,
        ImageCodec.encodeJpeg(id))(ImageCodec.smoothPixel)
      val w = ImageCodec.width(id)
      val h = ImageCodec.height(id)
      assert(f.width == w && f.height == h && f.n_pixels == w.toLong * h,
        s"dims mismatch for id=$id: $f")
      assert(f.max_abs_err <= 16,
        s"id=$id: max_abs_err=${f.max_abs_err} exceeds tolerance")
      // mean error should be tiny on a smooth ramp at quality 0.95
      assert(f.sum_abs_err <= 2L * f.n_pixels,
        s"id=$id: mean err ${f.sum_abs_err.toDouble / f.n_pixels} too high")
    }
  }

  test("aHash is stable across the PNG→JPEG codec boundary") {
    // Encode the SAME smooth raster losslessly (PNG) and lossily
    // (JPEG); the 64-bit perceptual hash should move only a few bits.
    for (id <- Seq(2L, 17L, 63L)) {
      val w = ImageCodec.width(id)
      val h = ImageCodec.height(id)
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until h; x <- 0 until w)
        img.getRaster.setSample(x, y, 0, ImageCodec.smoothPixel(id, x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      val hPng = ImageCodec.averageHash(id, bos.toByteArray).ahash
      val hJpg = ImageCodec.averageHash(id, ImageCodec.encodeJpeg(id)).ahash
      val hamming = java.lang.Long.bitCount(hPng ^ hJpg)
      assert(hamming <= 8, s"id=$id: ahash moved $hamming bits across codecs")
    }
  }

  test("distributed JPEG render + fidelity decode over the fixture") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val media = renderJpegImages(docs)
    assert(media.schema.fieldNames.toSeq == Seq("media_id", "media", "meta"))
    val got = decodeJpegFidelity(media).collect()
    assert(got.nonEmpty)
    assert(got.forall(_.max_abs_err <= 16),
      s"worst max_abs_err=${got.map(_.max_abs_err).max}")
    val two = got.find(_.media_id == 2L).get
    assert(two.width == 18 && two.height == 30 && two.n_pixels == 540)
  }

  test("mixed-format render: decoded aHash is container-invariant") {
    // The same pixel formula encoded as png, gif, and bmp must decode
    // to the SAME perceptual hash through the sniffing ImageIO path —
    // the property the multimodal_mixed_format_dups clusters rest on.
    for (id <- Seq(0L, 10L, 42L, 127L, 255L)) {
      val hashes = Seq("png", "gif", "bmp").map(f =>
        ImageCodec.averageHash(id, ImageCodec.encodeLossless(id, f)).ahash)
      assert(hashes.distinct.size == 1,
        s"id=$id: format-dependent hashes $hashes")
    }
  }

  test("mixed-format fixture: pixel twins at id±256 land in different formats") {
    import spark.implicits._
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val media = renderMixedFormatImages(docs)
    val fmts = media.select($"media_id", $"meta.mime")
      .as[(Long, String)].collect().toMap
    // twins: 0↔256 (png↔bmp via div-128 index 0 vs 2), 130↔386 (gif↔png)
    assert(fmts(0L) == "image/png" && fmts(256L) == "image/bmp")
    assert(fmts(130L) == "image/gif" && fmts(386L) == "image/png")
    // and they hash identically despite the format change
    val h = averageHashes(media).toDF()
      .select($"media_id", $"ahash").as[(Long, Long)].collect().toMap
    assert(h(0L) == h(256L) && h(130L) == h(386L))
  }

  test("jpeg decoded aHash deviates ≤2 bits from the smooth-formula hash " +
      "over the full id period") {
    // The image content is periodic in id with period 64 (smoothPixel
    // uses id%64, dims id%32), so probing 0..127 covers EVERY id. The
    // ≤2-bit bound is what guarantees pigeonhole banding (4×16-bit,
    // clean band whenever hamming ≤ 3) always surfaces the png twin in
    // multimodal_cross_format_twin.
    def formulaHash(id: Long): Long = {
      val w = ImageCodec.width(id); val h = ImageCodec.height(id)
      val s = (0 until 64).map { k =>
        ImageCodec.smoothPixel(id, ((k % 8) * w) / 8, ((k / 8) * h) / 8)
      }
      val mean = s.map(_.toLong).sum / 64
      s.zipWithIndex.foldLeft(0L) { case (acc, (p, k)) =>
        if (p > mean) acc | (1L << k) else acc
      }
    }
    val worst = (0L until 128L).map { id =>
      val dec = ImageCodec.averageHash(id, ImageCodec.encodeJpeg(id)).ahash
      java.lang.Long.bitCount(dec ^ formulaHash(id))
    }.max
    assert(worst <= 2, s"jpeg hash deviation $worst bits > 2")
  }

  test("rendered blobs are genuine RIFF/WAVE files the JDK codec accepts") {
    val bytes = Multimodal.AudioCodec.encodeWav(5L)
    assert(new String(bytes.slice(0, 4), "US-ASCII") == "RIFF")
    assert(new String(bytes.slice(8, 12), "US-ASCII") == "WAVE")
    val fmt = javax.sound.sampled.AudioSystem.getAudioFileFormat(
      new java.io.ByteArrayInputStream(bytes))
    assert(fmt.getFormat.getSampleSizeInBits == 16)
    assert(fmt.getFormat.getSampleRate == 8000f)
  }

  test("AudioSystem decode round-trips the sample formula exactly") {
    for (id <- Seq(0L, 3L, 799L, 801L)) {
      val stats = Multimodal.AudioCodec.decodeStats(id,
        Multimodal.AudioCodec.encodeWav(id))
      val n = Multimodal.AudioCodec.nSamples(id)
      var sum = 0L
      var checksum = 0L
      for (i <- 0 until n) {
        val v = Multimodal.AudioCodec.sample(id, i).toLong
        sum += v
        checksum += v * (i + 1)
      }
      assert(stats.n_samples == n && stats.sum_samples == sum &&
        stats.checksum == checksum && stats.sample_rate == 8000,
        s"round-trip mismatch for id=$id: $stats")
    }
  }

  test("distributed audio render + decode over the documents fixture") {
    import spark.implicits._
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val got = decodeAudio(renderWavAudio(docs))
      .filter($"media_id" === 2L).head()
    assert(got.n_samples == 802L && got.duration_ms == 100L)
  }

  test("video container round-trips every frame's pixel formula") {
    for (id <- Seq(0L, 3L, 31L)) {
      val stats = Multimodal.VideoCodec.decodeFrames(id,
        Multimodal.VideoCodec.encode(id), everyK = 1)
      val n = Multimodal.VideoCodec.nFrames(id)
      assert(stats.size == n)
      val w = Multimodal.ImageCodec.width(id)
      val h = Multimodal.ImageCodec.height(id)
      stats.foreach { fsr =>
        var sum = 0L
        for (y <- 0 until h; x <- 0 until w)
          sum += Multimodal.VideoCodec.framePixel(id, fsr.frame_idx, x, y)
        assert(fsr.width == w && fsr.height == h &&
          fsr.sum_pixels == sum && fsr.n_frames == n,
          s"frame mismatch id=$id f=${fsr.frame_idx}")
      }
    }
  }

  test("frame sampling decodes only every k-th frame") {
    val id = 6L // 4 + 6 % 5 = 5 frames
    val all = Multimodal.VideoCodec.decodeFrames(id,
      Multimodal.VideoCodec.encode(id), everyK = 1)
    val sampled = Multimodal.VideoCodec.decodeFrames(id,
      Multimodal.VideoCodec.encode(id), everyK = 2)
    assert(all.map(_.frame_idx) == Seq(0, 1, 2, 3, 4))
    assert(sampled.map(_.frame_idx) == Seq(0, 2, 4))
    assert(sampled == all.filter(_.frame_idx % 2 == 0))
  }

  test("distributed video render + frame sample over the fixture") {
    import spark.implicits._
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val got = sampleFrames(renderVideos(docs), everyK = 2)
      .filter($"media_id" === 2L).collect().sortBy(_.frame_idx)
    // id=2: 4 + 2 % 5 = 6 frames -> sampled 0, 2, 4; 10 fps
    assert(got.map(_.frame_idx).toSeq == Seq(0, 2, 4))
    assert(got.forall(f => f.n_frames == 6 && f.fps == 10))
  }

  test("the codecs leave the JVM-wide ImageIO cache setting alone") {
    val before = javax.imageio.ImageIO.getUseCache
    javax.imageio.ImageIO.setUseCache(true)
    try {
      assert(graft.SparkEntry.queries("multimodal_decode")(spark,
        sf("sf0.001")).count() > 0)
      assert(graft.SparkEntry.queries("multimodal_video_frames")(spark,
        sf("sf0.001")).count() > 0)
      assert(javax.imageio.ImageIO.getUseCache)
      // the codec objects may already be initialized in this JVM, so
      // initialize fresh copies of them too
      val urls = sys.props("java.class.path")
        .split(java.io.File.pathSeparator)
        .map(p => new java.io.File(p).toURI.toURL)
      val fresh = new java.net.URLClassLoader(urls,
        ClassLoader.getPlatformClassLoader)
      try for (codec <- Seq("ImageCodec", "VideoCodec")) {
        fresh.loadClass(s"graft.multimodal.Multimodal$$$codec$$")
          .getField("MODULE$").get(null)
        assert(javax.imageio.ImageIO.getUseCache, s"$codec changed it")
      } finally fresh.close()
    } finally javax.imageio.ImageIO.setUseCache(before)
  }
}
