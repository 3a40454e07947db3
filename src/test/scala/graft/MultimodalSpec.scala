package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** Multimodal plumbing: binary columns, partition-batched stub decode,
  * frame sampling shapes.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val media = Seq(
    (1L, "fake-jpeg-payload-AAAA".getBytes),
    (2L, "fake-jpeg-payload-BBBB".getBytes),
    (3L, "fake-jpeg-payload-AAAA".getBytes))
    .toDF("media_id", "payload")

  test("decodeFeatures: fixed-dim deterministic features per payload") {
    val out = Multimodal.decodeFeatures(media, "payload", dim = 16)
    assert(out.schema("features").dataType.typeName === "array")
    val feats = out.select("media_id", "features").as[(Long, Seq[Float])]
      .collect().toMap
    assert(feats.values.forall(_.length === 16))
    assert(feats(1L) === feats(3L)) // same bytes → same features
    assert(feats(1L) !== feats(2L))
  }

  test("sampleFrames: one row per frame with index and payload slice") {
    val out = Multimodal.sampleFrames(media.filter(col("media_id") === 1), "payload", n = 4)
      .select("media_id", "frame_idx", "frame")
      .as[(Long, Int, Array[Byte])].collect().sortBy(_._2)
    assert(out.length === 4)
    assert(out.map(_._2).toSeq === Seq(0, 1, 2, 3))
    assert(out.map(_._3.length).sum <= 22)
  }

  // ---- REAL ImageIO codec --------------------------------------------------

  /** A solid-color PNG encoded with the same pure-JDK writer executors use. */
  private def solidPng(rgb: Int, w: Int = 8, h: Int = 8): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("ImageIoDecoder decodes REAL PNG bytes distributed; known images land in the right luminance buckets") {
    // black → all mass in bucket 0; white → all in the top bucket;
    // mid-gray (lum 128 of 256, dim 8 → bucket 4)
    val imgs = Seq(
      (1L, solidPng(0x000000)),
      (2L, solidPng(0xffffff)),
      (3L, solidPng(0x808080))).toDF("media_id", "payload")
      .repartition(3) // decode on multiple tasks, not one
    val feats = Multimodal.decodeFeatures(imgs, "payload", dim = 8,
        decoder = Multimodal.ImageIoDecoder)
      .select("media_id", "features").as[(Long, Seq[Float])].collect().toMap
    assert(feats(1L) === Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f))
    assert(feats(2L) === Seq(0f, 0f, 0f, 0f, 0f, 0f, 0f, 1f))
    assert(feats(3L) === Seq(0f, 0f, 0f, 0f, 1f, 0f, 0f, 0f))
    // non-images fail loudly (no silent fallback)
    val ex = intercept[org.apache.spark.SparkException](
      Multimodal.decodeFeatures(media, "payload", dim = 8,
        decoder = Multimodal.ImageIoDecoder).collect())
    assert(ex.getMessage != null)
  }

  test("PngEncoder: ImageIO reads own bytes back to exact pixels; bytes deterministic; multi-block zlib") {
    val rnd = new scala.util.Random(5)
    val w = 24; val h = 24
    val rgb = Array.fill(w * h)(rnd.nextInt(1 << 24))
    val bytes = Multimodal.PngEncoder.encode(w, h, rgb)
    // byte determinism — the whole point vs ImageIO's writer
    assert(Multimodal.PngEncoder.encode(w, h, rgb).toSeq === bytes.toSeq)
    // FOREIGN decoder (ImageIO) must read our container to the exact pixels
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img != null, "ImageIO rejected PngEncoder output")
    assert(img.getWidth === w && img.getHeight === h)
    for (y <- 0 until h; x <- 0 until w)
      assert((img.getRGB(x, y) & 0xffffff) === rgb(y * w + x), s"pixel ($x,$y)")
    // raw stream > 65535 bytes forces the multi-block stored-deflate path
    val bw = 200; val bh = 150 // 150*(1+600) = 90150 raw bytes, 2 blocks
    val big = Array.tabulate(bw * bh)(i => i % (1 << 24))
    val bigBytes = Multimodal.PngEncoder.encode(bw, bh, big)
    val bigImg = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bigBytes))
    assert(bigImg != null && bigImg.getWidth === bw && bigImg.getHeight === bh)
    for (i <- Seq(0, 1, bw - 1, bw, bw * bh / 2, bw * bh - 1))
      assert((bigImg.getRGB(i % bw, i / bw) & 0xffffff) === big(i), s"big pixel $i")
  }

  test("withSyntheticPng emits decodable PNGs; distributed decode ≡ driver decode of the same bytes") {
    val df = Multimodal.withSyntheticPng(
      Seq(10L, 11L, 12L).toDF("doc_id"), "doc_id", "png", w = 16, h = 16)
    val rows = df.select("doc_id", "png").as[(Long, Array[Byte])].collect()
    assert(rows.length === 3)
    // PNG magic
    rows.foreach { case (_, b) =>
      assert((b(0) & 0xff) === 0x89 && b(1) === 'P'.toByte) }
    val distributed = Multimodal.decodeFeatures(df.repartition(3), "png",
        dim = 8, decoder = Multimodal.ImageIoDecoder)
      .select("doc_id", "features").as[(Long, Seq[Float])].collect().toMap
    rows.foreach { case (id, bytes) =>
      val local = Multimodal.ImageIoDecoder.features(bytes, 8).toSeq
      assert(distributed(id) === local, s"doc $id: executor ≠ driver decode")
      assert(math.abs(local.map(_.toDouble).sum - 1.0) < 1e-6,
        "histogram must sum to 1")
    }
    // same seed → same pixels → same features, independent of PNG bytes
    val again = Multimodal.decodeFeatures(
        Multimodal.withSyntheticPng(Seq(10L).toDF("doc_id"), "doc_id", "png",
          w = 16, h = 16), "png", dim = 8,
        decoder = Multimodal.ImageIoDecoder)
      .select("features").as[Seq[Float]].head()
    assert(again === distributed(10L))
  }

  test("ImageIoDecoder.frames: still image → 1 frame; animated GIF → per-frame PNGs; frames re-decode to source pixels") {
    val png = solidPng(0x808080)
    val one = Multimodal.ImageIoDecoder.frames(png, 4)
    assert(one.length === 1)
    assert(Multimodal.ImageIoDecoder.features(one.head, 8).toSeq ===
      Seq(0f, 0f, 0f, 0f, 1f, 0f, 0f, 0f))
    // 3-frame animated GIF via the JDK's sequence writer
    val bos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    for (rgb <- Seq(0x000000, 0x808080, 0xffffff)) {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, rgb)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence(); ios.close(); writer.dispose()
    val gif = bos.toByteArray
    val frames = Multimodal.ImageIoDecoder.frames(gif, 10)
    assert(frames.length === 3, "animated GIF must yield every frame")
    val buckets = frames.map(f =>
      Multimodal.ImageIoDecoder.features(f, 8).indexWhere(_ == 1f))
    assert(buckets === Seq(0, 4, 7), s"frame luminance buckets: $buckets")
    // n caps the sample
    assert(Multimodal.ImageIoDecoder.frames(gif, 2).length === 2)
    // the sampleFrames plumbing carries the real codec end to end
    val sampled = Multimodal.sampleFrames(
        Seq((1L, gif)).toDF("media_id", "payload"), "payload", n = 10,
        decoder = Multimodal.ImageIoDecoder)
      .select("frame_idx").as[Int].collect().sorted
    assert(sampled.toSeq === Seq(0, 1, 2))
  }

  test("ImageIoDecoder.frames: alpha-bearing source round-trips its alpha channel (color type 6)") {
    // a PNG with PARTIAL alpha (not just 0/255): flattening to RGB would
    // silently change content for transparent GIF/PNG frames
    val img = new java.awt.image.BufferedImage(
      4, 4, java.awt.image.BufferedImage.TYPE_INT_ARGB)
    for (y <- 0 until 4; x <- 0 until 4)
      img.setRGB(x, y, ((x * 60 + y) << 24) | (x << 16) | (y << 8) | 0x40)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val frames = Multimodal.ImageIoDecoder.frames(bos.toByteArray, 2)
    assert(frames.length === 1)
    // the re-encoded frame is our own color-type-6 PNG; a foreign decode
    // must reproduce every ARGB pixel exactly, alpha included
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(frames.head))
    assert(back.getColorModel.hasAlpha, "frame must keep its alpha channel")
    for (y <- 0 until 4; x <- 0 until 4)
      assert(back.getRGB(x, y) === img.getRGB(x, y),
        s"ARGB mismatch at ($x,$y)")
    // opaque sources keep the 3-byte-per-pixel RGB form (no alpha inflation)
    val opaque = Multimodal.ImageIoDecoder.frames(solidPng(0x123456), 1)
    val backO = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(opaque.head))
    assert((backO.getRGB(0, 0) & 0xffffff) === 0x123456)
  }

  test("image_features (declared query): value-level gate — decoded luminance " +
      "histograms match an analytic recount of the synthetic pixels") {
    // the synthetic PNG's pixels are a KNOWN integer function of
    // (doc_id, x, y) and PNG is lossless RGB, so the exact expected
    // histogram is computable without ImageIO — an independent recount of
    // the whole encode→decode→featurize query path (the ir_metrics-style
    // gate VERDICT asked for; the PNG BYTES stay unpinned, the VALUES are
    // now gated, not just row counts).
    val got = SparkEntry.queries("image_features")(spark, sf0001)
      .collect().map { r =>
        r.getLong(0) -> (1 to 8).map(i => r.getFloat(i)).toSeq
      }.toMap
    assert(got.size === 500)
    def expected(docId: Long): Seq[Float] = {
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(String.valueOf(docId).getBytes("UTF-8"))
      val seed = java.nio.ByteBuffer.wrap(digest).getInt
      val counts = new Array[Long](8)
      for (y <- 0 until 24; x <- 0 until 24) {
        val rgb = ((x * 73856093) ^ (y * 19349663) ^ seed) & 0xffffff
        val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000
        counts(math.min(7, lum * 8 / 256)) += 1
      }
      (0 until 8).map(i => (counts(i).toDouble / (24L * 24)).toFloat)
    }
    got.foreach { case (id, fs) =>
      assert(fs === expected(id), s"decoded features diverge for doc $id")
    }
  }

  // ---- WavPcmDecoder: the REAL audio codec ---------------------------------

  private def synthSamples(seed: Long, n: Int): Array[Short] =
    Array.tabulate(n)(t => (java.lang.Math.floorMod(
      seed * 2654435761L + t.toLong * 40503L, 65536L).toInt - 32768).toShort)

  test("WavPcmDecoder: encode→decode round-trips samples and rate; skips foreign chunks") {
    val samples = synthSamples(42L, 777)
    val wav = Multimodal.WavPcmDecoder.encode(samples, 8000)
    val (rate, got) = Multimodal.WavPcmDecoder.decode(wav)
    assert(rate === 8000)
    assert(got.toSeq === samples.toSeq)
    // a real-world WAV carries LIST/INFO chunks before data — inject an
    // ODD-sized junk chunk (word-alignment padding must be honored)
    val junk = Array[Byte]('j', 'u', 'n', 'k', 5, 0, 0, 0, 1, 2, 3, 4, 5, 0)
    val withJunk = wav.slice(0, 12) ++ junk ++ wav.drop(12)
    val bb = java.nio.ByteBuffer.wrap(withJunk)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(4, withJunk.length - 8) // fix RIFF size
    val (rate2, got2) = Multimodal.WavPcmDecoder.decode(withJunk)
    assert(rate2 === 8000 && got2.toSeq === samples.toSeq,
      "foreign chunk must be skipped with word alignment")
  }

  test("WavPcmDecoder: malformed payloads fail loudly, never featurize garbage") {
    val d = Multimodal.WavPcmDecoder
    intercept[IllegalArgumentException](d.decode("nope".getBytes))
    intercept[IllegalArgumentException](
      d.decode(Array.fill[Byte](44)(0))) // zeroed magic
    val wav = d.encode(synthSamples(1L, 16), 8000)
    wav(20) = 2 // fmt=2 (ADPCM) — compressed, must be rejected
    intercept[IllegalArgumentException](d.decode(wav))
    intercept[IllegalArgumentException](
      d.decode(d.encode(synthSamples(1L, 16), 8000).dropRight(3))) // truncated data
  }

  test("WavPcmDecoder.frames: time slices re-decode and concatenate to the original clip") {
    val samples = synthSamples(7L, 1000)
    val wav = Multimodal.WavPcmDecoder.encode(samples, 16000)
    val slices = Multimodal.WavPcmDecoder.frames(wav, 4)
    assert(slices.size === 4)
    val decoded = slices.map(Multimodal.WavPcmDecoder.decode)
    assert(decoded.forall(_._1 === 16000), "slice rate must match the clip")
    assert(decoded.flatMap(_._2).toSeq === samples.toSeq,
      "slices must concatenate back to the original samples")
    // non-divisible length: ceil-step slicing once emitted an EMPTY 4th
    // clip for len=9, n=4 — proportional boundaries must keep every slice
    // non-empty and the concat identity intact
    val nine = synthSamples(3L, 9)
    val nSlices = Multimodal.WavPcmDecoder.frames(
      Multimodal.WavPcmDecoder.encode(nine, 8000), 4)
    assert(nSlices.size === 4)
    val nDec = nSlices.map(Multimodal.WavPcmDecoder.decode(_)._2)
    assert(nDec.forall(_.nonEmpty), "no slice may be an empty clip")
    assert(nDec.flatten.toSeq === nine.toSeq)
  }

  test("WavPcmDecoder: stereo decodes channel-agnostically for features, frames refuses loudly; " +
      "hostile chunk sizes fail the bound, never allocate") {
    val d = Multimodal.WavPcmDecoder
    val mono = d.encode(synthSamples(5L, 64), 8000)
    val stereo = mono.clone()
    stereo(22) = 2 // nChannels field of the fmt chunk
    val (rate, ch, samples) = d.decodeFull(stereo)
    assert(rate === 8000 && ch === 2 && samples.length === 64)
    assert(d.features(stereo, 8).toSeq === d.features(mono, 8).toSeq,
      "amplitude histogram is channel-agnostic")
    intercept[IllegalArgumentException](d.frames(stereo, 4)) // mono-only re-encode
    // declared size near Int.MaxValue must fail the (Long) bound check,
    // not wrap negative and attempt a ~2 GB allocation
    val hostile = mono.clone()
    java.nio.ByteBuffer.wrap(hostile).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(40, 0x7ffffff0) // data chunk size field
    intercept[IllegalArgumentException](d.decode(hostile))
  }

  test("withSyntheticWav emits real WAVs whose samples match the documented formula; " +
      "distributed decode ≡ driver decode") {
    val df = spark.range(6).select(col("id").as("doc_id"))
    val withWav = Multimodal.withSyntheticWav(df, "doc_id", "wav", nSamples = 512)
    val rows = withWav.select(col("doc_id"), col("wav"))
      .as[(Long, Array[Byte])].collect()
    rows.foreach { case (id, bytes) =>
      val (rate, got) = Multimodal.WavPcmDecoder.decode(bytes)
      assert(rate === 8000)
      assert(got.toSeq === synthSamples(id, 512).toSeq,
        s"doc $id samples diverge from the formula the oracle replays")
    }
    // distributed featurize ≡ driver featurize of the same bytes
    val dist = Multimodal.decodeFeatures(withWav, "wav", dim = 8,
        decoder = Multimodal.WavPcmDecoder)
      .select(col("doc_id"), col("features"))
      .as[(Long, Seq[Float])].collect().toMap
    rows.foreach { case (id, bytes) =>
      assert(dist(id) === Multimodal.WavPcmDecoder.features(bytes, 8).toSeq,
        s"distributed decode of doc $id diverges from the driver twin")
    }
  }

  // ---- AviDibDecoder: the REAL video codec ---------------------------------

  private def synthPixel(seed: Long, f: Int, x: Int, y: Int): Int =
    java.lang.Math.floorMod(seed * 2654435761L + f.toLong * 69427L +
      y.toLong * 19349663L + x.toLong * 73856093L, 1 << 24).toInt

  private def lumOf(m: Int): Int =
    (((m >> 16) & 0xff) * 299 + ((m >> 8) & 0xff) * 587 + (m & 0xff) * 114) / 1000

  test("AviDibDecoder: encode→decode round-trips frames; pixels match the formula; " +
      "odd width exercises row padding") {
    // w=5: rowBytes = 16 ≠ w*3 — bottom-up order AND padding must both hold
    val df = spark.range(3).select(col("id").as("doc_id"))
    val withAvi = Multimodal.withSyntheticAvi(df, "doc_id", "avi",
      w = 5, h = 4, nFrames = 3)
    withAvi.select(col("doc_id"), col("avi"))
      .as[(Long, Array[Byte])].collect().foreach { case (id, bytes) =>
        val v = Multimodal.AviDibDecoder.decode(bytes)
        assert(v.w === 5 && v.h === 4 && v.frames.size === 3)
        for (f <- 0 until 3; y <- 0 until 4; x <- 0 until 5) {
          val m = synthPixel(id, f, x, y)
          assert(v.lum(v.frames(f), x, y) === lumOf(m),
            s"pixel (doc=$id f=$f x=$x y=$y) diverges from the formula")
        }
      }
  }

  test("AviDibDecoder: malformed payloads fail loudly") {
    val d = Multimodal.AviDibDecoder
    intercept[IllegalArgumentException](d.decode("notavi".getBytes))
    val ok = d.encode(d.Video(4, 4,
      Vector(new Array[Byte](48), new Array[Byte](48))), 10)
    // flip biCompression to 1 (BI_RLE8) — compressed must be rejected:
    // strf data starts after RIFF(12)+LIST hdrl hdr(12)+avih(8+56)+
    // LIST strl hdr(12)+strh(8+56)+strf id/size(8); compression at +16
    val bad = ok.clone()
    val strfData = 12 + 12 + 64 + 12 + 64 + 8
    java.nio.ByteBuffer.wrap(bad).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(strfData + 16, 1)
    intercept[IllegalArgumentException](d.decode(bad))
    intercept[IllegalArgumentException](d.decode(ok.dropRight(5))) // truncated
    // single frame: decodes fine, but motion features must refuse
    val one = d.encode(d.Video(4, 4, Vector(new Array[Byte](48))), 10)
    assert(d.decode(one).frames.size === 1)
    intercept[IllegalArgumentException](d.features(one, 8))
  }

  test("AviDibDecoder: an AVI with an AUDIO stream decodes — the 18-byte WAVEFORMATEX " +
      "strf is dispatched by its strh type, not parsed as a BITMAPINFOHEADER") {
    val d = Multimodal.AviDibDecoder
    val base = d.encode(d.Video(4, 4,
      Vector(new Array[Byte](48), new Array[Byte](48))), 10)
    // splice LIST('strl' strh('auds'...) strf(18-byte WAVEFORMATEX)) into
    // hdrl after the video strl, patching the hdrl and RIFF sizes
    val strl = java.nio.ByteBuffer.allocate(12 + 64 + 8 + 18)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    strl.put("LIST".getBytes("US-ASCII")).putInt(4 + 64 + 8 + 18)
      .put("strl".getBytes("US-ASCII"))
      .put("strh".getBytes("US-ASCII")).putInt(56)
      .put("auds".getBytes("US-ASCII")).put(Array.fill[Byte](52)(0))
      .put("strf".getBytes("US-ASCII")).putInt(18)
      .put(Array.fill[Byte](18)(0))
    val ins = strl.array()
    val bb = java.nio.ByteBuffer.wrap(base).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val hdrlSize = bb.getInt(16)
    val insertAt = 12 + 8 + hdrlSize // right after the hdrl LIST
    val spliced = base.slice(0, insertAt) ++ ins ++ base.drop(insertAt)
    // the audio strl must live INSIDE hdrl: extend hdrl over it
    val out = java.nio.ByteBuffer.wrap(spliced).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.putInt(4, bb.getInt(4) + ins.length)   // RIFF size
    out.putInt(16, hdrlSize + ins.length)      // hdrl LIST size
    val v = d.decode(spliced)
    assert(v.w === 4 && v.h === 4 && v.frames.size === 2,
      "video stream must decode unchanged beside the audio strl")
  }

  test("AviDibDecoder.frames: BMP re-encode feeds the IMAGE pipeline — cross-codec pixels agree") {
    val df = spark.range(2).select(col("id").as("doc_id"))
    val bytes = Multimodal.withSyntheticAvi(df, "doc_id", "avi", w = 6, h = 6, nFrames = 2)
      .filter(col("doc_id") === 1).select(col("avi"))
      .as[Array[Byte]].head()
    val bmps = Multimodal.AviDibDecoder.frames(bytes, 2)
    assert(bmps.size === 2)
    bmps.zipWithIndex.foreach { case (bmp, f) =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bmp))
      assert(img != null, "frame BMP must be ImageIO-decodable")
      for (y <- 0 until 6; x <- 0 until 6)
        assert((img.getRGB(x, y) & 0xffffff) === synthPixel(1L, f, x, y),
          s"BMP pixel (f=$f x=$x y=$y) diverges from the DIB source")
    }
  }

  test("video_features (declared query): motion histogram matches an analytic recount") {
    val got = graft.queries.TextQueries.queries("video_features")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> (1 until r.length).map(r.getFloat).toSeq).toMap
    val dim = 8
    got.foreach { case (id, fs) =>
      val counts = new Array[Long](dim)
      for (f <- 0 until 3; y <- 0 until 16; x <- 0 until 16) {
        val diff = math.abs(lumOf(synthPixel(id, f + 1, x, y)) -
          lumOf(synthPixel(id, f, x, y)))
        counts(math.min(dim - 1, diff * dim / 256)) += 1
      }
      val want = (0 until dim).map(i => (counts(i).toDouble / 768).toFloat)
      assert(fs === want, s"motion features diverge for doc $id")
    }
  }
}
