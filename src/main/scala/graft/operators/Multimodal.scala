package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: image/audio/video payloads as opaque BINARY columns
  * with typed metadata, plus partition-batched decode / feature-extraction /
  * frame-sampling plumbing.
  *
  * Three codecs behind the `Decoder` boundary: `ImageIoDecoder` is a REAL
  * image decoder (pure-JDK `javax.imageio` — PNG/JPEG/GIF/BMP, luminance
  * histograms + frame extraction, no native deps), `WavPcmDecoder` is a
  * REAL audio decoder (RIFF/WAVE PCM16 parsed with plain byte math —
  * amplitude histograms + time-slice segmentation, fully DuckDB-hash-gated
  * because the synthetic samples are an exact integer function of the
  * seed), and `FakeDecoder` stays the deterministic stand-in whose
  * dyadic-rational output the oracle replays bit-for-bit (and the shape a
  * COMPRESSED audio/video codec — which the JDK does NOT ship — would plug
  * into). A production deployment
  * swaps in a JNI/FFI codec (libjpeg-turbo/ffmpeg) without touching the
  * Spark plumbing: decode stays a per-partition batch call so codec init
  * cost amortizes across each task's rows, exactly like the embedding
  * provider (SURVEY S9).
  */
object Multimodal {

  /** Pluggable codec boundary. */
  trait Decoder extends Serializable {
    /** bytes → fixed-dim feature vector ("decode + embed"). */
    def features(payload: Array[Byte], dim: Int): Array[Float]
    /** bytes → up to n frame payloads ("video frame-sample"). */
    def frames(payload: Array[Byte], n: Int): Seq[Array[Byte]]
  }

  /** STUB codec: deterministic md5-nibble features and even byte-slicing —
    * NOT a real media decoder (none available in this container); the
    * deterministic output is what makes the plumbing testable. Feature i is
    * nibble i of md5(payload) mapped to [-0.5, 0.4375] — every value is an
    * exact dyadic rational (n/16), so an external SQL oracle reproduces the
    * floats bit-for-bit and the driver gate can hash-match the pipeline.
    */
  object FakeDecoder extends Decoder {
    override def features(payload: Array[Byte], dim: Int): Array[Float] = {
      require(dim <= 32, s"FakeDecoder supports dim <= 32 (md5 nibbles), got $dim")
      val digest = java.security.MessageDigest.getInstance("MD5").digest(payload)
      Array.tabulate(dim) { i =>
        val b = digest(i / 2) & 0xff
        val nib = if (i % 2 == 0) b >>> 4 else b & 0xf
        nib / 16.0f - 0.5f
      }
    }
    override def frames(payload: Array[Byte], n: Int): Seq[Array[Byte]] = {
      if (payload.isEmpty) return Seq.empty
      val step = math.max(1, payload.length / n)
      (0 until math.min(n, payload.length)).map { i =>
        payload.slice(i * step, math.min(i * step + step, payload.length))
      }
    }
  }

  /** REAL image codec over pure-JDK `javax.imageio` (PNG/JPEG/GIF/BMP — the
    * formats the JDK ships readers for; zero native/external deps):
    *
    *  - `features`: a `dim`-bucket LUMINANCE HISTOGRAM of the decoded
    *    pixels — integer pixel math (ITU-R 601 integer weights, integer
    *    bucket index) and ONE exact IEEE division per bucket, so the same
    *    payload produces bit-identical features on every executor/JVM;
    *  - `frames`: up to `n` decoded frames of the container (animated GIFs
    *    carry many; stills carry one), each re-encoded as PNG bytes.
    *
    * This is the swap-in the `Decoder` boundary was designed for: a codec
    * that initializes per call (ImageIO readers are cheap; a JNI codec
    * would hoist init into the mapPartitions prologue) with the Spark-side
    * plumbing — schema, batching, output shape — unchanged. `FakeDecoder`
    * stays the ORACLE path: its dyadic-rational features are what the
    * DuckDB gate replays; ImageIO PNG/JPEG emitter bytes are not pinned
    * across JDK builds, so image-derived queries gate rows-only + spec.
    */
  object ImageIoDecoder extends Decoder {
    // ImageIO.read(InputStream) wraps the stream in a DISK-backed
    // ImageInputStream when useCache is on (the JDK default): one temp file
    // created+deleted PER IMAGE, which serializes concurrent decoders on
    // filesystem metadata (measured at sf0.1: 5000 decodes/rep swung
    // 0.5-2.5 s run to run once the decode stage ran 32-wide). The payload
    // is already a byte array — cache in memory. JVM-global flag, set once;
    // decoded pixels are identical either way.
    javax.imageio.ImageIO.setUseCache(false)
    override def features(payload: Array[Byte], dim: Int): Array[Float] = {
      require(dim >= 1, s"dim must be >= 1, got $dim")
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      require(img != null, "payload is not a decodable image " +
        "(JDK readers: PNG, JPEG, GIF, BMP, WBMP)")
      val w = img.getWidth; val h = img.getHeight
      val counts = new Array[Long](dim)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
            (rgb & 0xff) * 114) / 1000
          counts(math.min(dim - 1, lum * dim / 256)) += 1
          x += 1
        }
        y += 1
      }
      val total = w.toLong * h
      Array.tabulate(dim)(i => (counts(i).toDouble / total).toFloat)
    }

    override def frames(payload: Array[Byte], n: Int): Seq[Array[Byte]] = {
      if (n <= 0) return Seq.empty
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      require(readers.hasNext, "payload is not a decodable image")
      val reader = readers.next()
      try {
        reader.setInput(iis)
        val total = reader.getNumImages(true) // allowSearch: exact count
        (0 until math.min(n, total)).map { i =>
          // own PngEncoder, not ImageIO.write: frame BYTES become a pure
          // function of the decoded pixels (ImageIO's compressed emitter is
          // unpinned across JDK builds), so downstream digests/dedup over
          // sampled frames are stable
          val img = reader.read(i)
          val w = img.getWidth; val h = img.getHeight
          // one bulk getRGB: the per-pixel call pays Raster+ColorModel
          // dispatch w*h times per frame on the executor hot path
          val rgb = img.getRGB(0, 0, w, h, null, 0, w)
          if (img.getColorModel.hasAlpha)
            // alpha-bearing sources (transparent GIF/PNG frames) keep their
            // alpha channel — color type 6; flattening to RGB would change
            // frame CONTENT, not just encoding, for those payloads
            PngEncoder.encodeRgba(w, h, rgb)
          else {
            var p = 0
            while (p < rgb.length) { rgb(p) = rgb(p) & 0xffffff; p += 1 }
            PngEncoder.encode(w, h, rgb)
          }
        }
      } finally { reader.dispose(); iis.close() }
    }
  }

  /** REAL audio codec over the RIFF/WAVE PCM16 container — the one audio
    * format that needs NO codec at all (PCM samples are the bytes), parsed
    * with plain JDK byte math like a production WAV reader:
    *
    *  - `features`: a `dim`-bucket ABSOLUTE-AMPLITUDE histogram of the
    *    decoded samples (the audio mirror of `ImageIoDecoder`'s luminance
    *    histogram) — integer bucket math and ONE exact IEEE division per
    *    bucket, bit-identical on every executor/JVM;
    *  - `frames`: up to `n` contiguous equal TIME SLICES of the clip, each
    *    re-encoded as a standalone playable WAV (the clip→segments explode
    *    shape a speech pipeline feeds to per-segment models).
    *
    * Because the container is written by `withSyntheticWav` byte-for-byte
    * deterministically AND the samples are an exact integer function of the
    * seed, the `audio_features` query gets a FULL DuckDB hash gate: the
    * oracle regenerates the samples directly from doc_id (no WAV bytes) and
    * recomputes the histogram — any encode OR parse defect breaks the hash.
    * (Compressed audio — MP3/AAC — stays behind the `Decoder` boundary as
    * the JNI swap-in, same as video.)
    */
  object WavPcmDecoder extends Decoder {

    /** Strict RIFF/WAVE walk → (sampleRate, interleaved PCM16 samples).
      * Over-permissive parsing would silently featurize garbage, so every
      * structural assumption is a loud require.
      */
    private[graft] def decode(payload: Array[Byte]): (Int, Array[Short]) = {
      val (rate, _, samples) = decodeFull(payload)
      (rate, samples)
    }

    /** (sampleRate, channels, interleaved samples) — `features` is
      * channel-agnostic (the amplitude histogram counts every channel's
      * samples), but `frames` must know the channel count to slice and
      * re-label correctly.
      */
    private[graft] def decodeFull(payload: Array[Byte]): (Int, Int, Array[Short]) = {
      require(payload.length >= 44, s"WAV too short: ${payload.length} bytes")
      val bb = java.nio.ByteBuffer.wrap(payload)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def tag(off: Int): String =
        new String(payload, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
      require(tag(0) == "RIFF" && tag(8) == "WAVE",
        "payload is not a RIFF/WAVE container")
      var off = 12
      var rate = -1
      var channels = -1
      var samples: Array[Short] = null
      while (off + 8 <= payload.length && (rate < 0 || samples == null)) {
        val id = tag(off)
        val size = bb.getInt(off + 4)
        // Long arithmetic: a hostile declared size near Int.MaxValue would
        // wrap `off + 8 + size` negative and sail past an Int comparison
        // straight into a ~2 GB allocation
        require(size >= 0 && off + 8 + size.toLong <= payload.length,
          s"chunk '$id' overruns the payload (size $size at offset $off)")
        id match {
          case "fmt " =>
            require(size >= 16, s"fmt chunk too short: $size")
            val fmt = bb.getShort(off + 8)
            channels = bb.getShort(off + 10)
            val bits = bb.getShort(off + 22)
            require(fmt == 1, s"not PCM (fmt=$fmt) — compressed WAV needs a codec")
            require(bits == 16, s"only PCM16 supported, got $bits bits")
            require(channels >= 1, s"invalid channel count $channels")
            rate = bb.getInt(off + 12)
          case "data" =>
            require(size % 2 == 0, s"odd PCM16 data size $size")
            samples = new Array[Short](size / 2)
            var i = 0
            while (i < samples.length) {
              samples(i) = bb.getShort(off + 8 + 2 * i); i += 1
            }
          case _ => // LIST/INFO etc. — skipped, like every WAV reader
        }
        off += 8 + size + (size & 1) // chunks are word-aligned
      }
      require(rate > 0, "missing fmt chunk")
      require(samples != null, "missing data chunk")
      (rate, channels, samples)
    }

    /** PCM16 mono WAV bytes for `samples` — the canonical 44-byte-header
      * form; byte-deterministic (unlike ImageIO's PNG emitter).
      */
    private[graft] def encode(samples: Array[Short], rate: Int): Array[Byte] = {
      require(rate > 0, s"sample rate must be positive, got $rate")
      val bb = java.nio.ByteBuffer.allocate(44 + samples.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + samples.length * 2)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(rate).putInt(rate * 2)
        .putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(samples.length * 2)
      samples.foreach(bb.putShort)
      bb.array()
    }

    override def features(payload: Array[Byte], dim: Int): Array[Float] = {
      require(dim >= 1, s"dim must be >= 1, got $dim")
      val (_, samples) = decode(payload)
      require(samples.nonEmpty, "empty PCM stream")
      val counts = new Array[Long](dim)
      var i = 0
      while (i < samples.length) {
        val a = math.abs(samples(i).toInt) // abs(-32768) = 32768, clamped below
        counts(math.min(dim - 1, a * dim / 32768)) += 1
        i += 1
      }
      Array.tabulate(dim)(i => (counts(i).toDouble / samples.length).toFloat)
    }

    override def frames(payload: Array[Byte], n: Int): Seq[Array[Byte]] = {
      if (n <= 0) return Seq.empty
      val (rate, channels, samples) = decodeFull(payload)
      // the mono re-encode below would mislabel interleaved channels (and a
      // slice boundary could split an L/R pair) — loud, never garbage
      require(channels == 1,
        s"time-slicing supports mono clips, got $channels channels " +
          "(thread the channel count through encode to extend)")
      if (samples.isEmpty) return Seq.empty
      val slices = math.min(n, samples.length)
      // proportional boundaries i·len/slices: ceil-step slicing overshoots
      // on e.g. len=9, n=4 (boundaries 0,3,6,9,9) and emits an EMPTY
      // trailing "clip" that crashes downstream featurization
      (0 until slices).map { i =>
        encode(samples.slice((i.toLong * samples.length / slices).toInt,
          ((i + 1).toLong * samples.length / slices).toInt), rate)
      }
    }
  }

  /** REAL video codec over the RIFF/AVI container with UNCOMPRESSED DIB
    * frames (BI_RGB 24-bit) — like PCM for audio, the one video form that
    * needs no codec: frames are raw bottom-up BGR rows. Parsed with plain
    * JDK byte math (recursive RIFF LIST walk, strict loud-fail headers per
    * the public AVI RIFF reference):
    *
    *  - `features`: a `dim`-bucket INTER-FRAME MOTION histogram — per-pixel
    *    absolute luminance difference between consecutive frames (the
    *    video-native signal; integer ITU-R 601 luminance, integer bucket
    *    math, ONE exact IEEE division per bucket);
    *  - `frames`: up to `n` frames re-encoded as standalone BMP payloads
    *    (byte-deterministic — the DIB rows are copied, not re-rendered),
    *    which `ImageIoDecoder` can read: video → frames → image pipeline
    *    composes end to end.
    *
    * `withSyntheticAvi` pixels are an exact integer function of the seed,
    * so `video_features` gets the same FULL DuckDB hash gate as audio: the
    * oracle regenerates every pixel and recomputes the motion histogram.
    * (Compressed video — H.264 etc. — stays the JNI swap-in behind the
    * `Decoder` boundary.)
    */
  object AviDibDecoder extends Decoder {

    /** 24-bit DIB row stride (4-byte aligned) — the ONE definition the
      * encoder, the decoder's frame-size check, and the synthetic generator
      * all share; a stride change in one copy must not desynchronize them.
      */
    private[graft] def dibRowBytes(w: Int): Int = (w * 3 + 3) & ~3

    private[graft] final case class Video(w: Int, h: Int, frames: Vector[Array[Byte]]) {
      val rowBytes: Int = dibRowBytes(w)
      /** Integer ITU-R 601 luminance of pixel (x, y) in a DIB frame
        * (bottom-up padded BGR rows).
        */
      def lum(frame: Array[Byte], x: Int, y: Int): Int = {
        val off = (h - 1 - y) * rowBytes + x * 3
        val b = frame(off) & 0xff
        val g = frame(off + 1) & 0xff
        val r = frame(off + 2) & 0xff
        (r * 299 + g * 587 + b * 114) / 1000
      }
    }

    private[graft] def decode(payload: Array[Byte]): Video = {
      require(payload.length >= 12, s"AVI too short: ${payload.length} bytes")
      val bb = java.nio.ByteBuffer.wrap(payload)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def tag(off: Int): String =
        new String(payload, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
      require(tag(0) == "RIFF" && tag(8) == "AVI ",
        "payload is not a RIFF/AVI container")
      var w = -1; var h = -1
      // strf payloads are typed by the PRECEDING strh's fccType: a real AVI
      // with an audio track carries an 18-byte WAVEFORMATEX strf that must
      // be skipped, not parsed as (and rejected for not being) a
      // BITMAPINFOHEADER
      var streamType = ""
      val frames = Vector.newBuilder[Array[Byte]]
      def walk(start: Int, end: Int): Unit = {
        var off = start
        while (off + 8 <= end) {
          val id = tag(off)
          val size = bb.getInt(off + 4)
          // Long arithmetic: a hostile size near Int.MaxValue would wrap
          // the Int sum negative and pass the bound (see the WAV twin)
          require(size >= 0 && off + 8 + size.toLong <= end,
            s"chunk '$id' overruns its parent (size $size at offset $off)")
          if (id == "LIST") walk(off + 12, off + 8 + size)
          else if (id == "strh") {
            require(size >= 4, s"strh too short: $size")
            streamType = tag(off + 8)
          } else if (id == "strf" && streamType == "vids") {
            require(size >= 40, s"strf/BITMAPINFOHEADER too short: $size")
            val bitCount = bb.getShort(off + 8 + 14)
            val compression = bb.getInt(off + 8 + 16)
            require(compression == 0,
              s"not uncompressed DIB (biCompression=$compression) — compressed AVI needs a codec")
            require(bitCount == 24, s"only 24-bit BI_RGB supported, got $bitCount")
            w = bb.getInt(off + 8 + 4)
            h = bb.getInt(off + 8 + 8)
            require(w > 0 && h > 0, s"invalid frame dims ${w}x$h")
          } else if (id.endsWith("db") || id.endsWith("dc")) {
            require(w > 0, "frame chunk before the strf header")
            require(size == dibRowBytes(w) * h,
              s"frame chunk size $size != expected ${dibRowBytes(w) * h} for ${w}x$h DIB")
            frames += java.util.Arrays.copyOfRange(payload, off + 8, off + 8 + size)
          }
          off += 8 + size + (size & 1) // chunks are word-aligned
        }
      }
      walk(12, payload.length)
      val fs = frames.result()
      require(w > 0 && h > 0, "missing strf header")
      require(fs.nonEmpty, "no video frames in movi")
      Video(w, h, fs)
    }

    /** Minimal valid single-stream AVI wrapping the given DIB frames —
      * byte-deterministic (header fields are pure functions of the
      * geometry), per the public AVI RIFF reference layout.
      */
    private[graft] def encode(v: Video, fps: Int): Array[Byte] = {
      require(fps > 0, s"fps must be positive, got $fps")
      require(v.frames.forall(_.length == v.rowBytes * v.h),
        "every frame must be a full DIB bitmap")
      val frameBytes = v.rowBytes * v.h
      val nf = v.frames.size
      val moviSize = 4 + nf * (8 + frameBytes)
      val hdrlSize = 4 + (8 + 56) + (8 + 4 + (8 + 56) + (8 + 40))
      val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize)
      val bb = java.nio.ByteBuffer.allocate(8 + riffSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def ascii(s: String): Unit = bb.put(s.getBytes("US-ASCII"))
      ascii("RIFF"); bb.putInt(riffSize); ascii("AVI ")
      ascii("LIST"); bb.putInt(hdrlSize); ascii("hdrl")
      ascii("avih"); bb.putInt(56)
      bb.putInt(1000000 / fps).putInt(frameBytes * fps).putInt(0)
        .putInt(0) // flags: no AVIF_HASINDEX — we carry no idx1 chunk
        .putInt(nf).putInt(0).putInt(1).putInt(frameBytes)
        .putInt(v.w).putInt(v.h).putInt(0).putInt(0).putInt(0).putInt(0)
      ascii("LIST"); bb.putInt(4 + (8 + 56) + (8 + 40)); ascii("strl")
      ascii("strh"); bb.putInt(56)
      ascii("vids"); ascii("DIB "); bb.putInt(0).putInt(0).putInt(0)
        .putInt(1).putInt(fps).putInt(0).putInt(nf).putInt(frameBytes)
        .putInt(-1).putInt(0)
        .putShort(0).putShort(0).putShort(v.w.toShort).putShort(v.h.toShort)
      ascii("strf"); bb.putInt(40)
      bb.putInt(40).putInt(v.w).putInt(v.h).putShort(1).putShort(24)
        .putInt(0).putInt(frameBytes).putInt(0).putInt(0).putInt(0).putInt(0)
      ascii("LIST"); bb.putInt(moviSize); ascii("movi")
      v.frames.foreach { f => ascii("00db"); bb.putInt(frameBytes); bb.put(f) }
      bb.array()
    }

    /** Standalone BMP bytes for one decoded DIB frame (rows copied
      * verbatim — deterministic, and `ImageIoDecoder` reads BMP).
      */
    private[graft] def frameToBmp(v: Video, frame: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(54 + frame.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte).putInt(54 + frame.length)
        .putInt(0).putInt(54)
        .putInt(40).putInt(v.w).putInt(v.h).putShort(1).putShort(24)
        .putInt(0).putInt(frame.length).putInt(0).putInt(0).putInt(0).putInt(0)
        .put(frame)
      bb.array()
    }

    override def features(payload: Array[Byte], dim: Int): Array[Float] = {
      require(dim >= 1, s"dim must be >= 1, got $dim")
      val v = decode(payload)
      require(v.frames.size >= 2,
        s"motion features need >= 2 frames, got ${v.frames.size}")
      val counts = new Array[Long](dim)
      // each frame's luminance computed ONCE and rolled forward — the naive
      // cur/prev double evaluation paid the 3-load+3-mul+div pixel kernel
      // twice for every interior frame
      def lumArray(frame: Array[Byte]): Array[Int] = {
        val out = new Array[Int](v.w * v.h)
        var y = 0; var i = 0
        while (y < v.h) {
          var x = 0
          while (x < v.w) { out(i) = v.lum(frame, x, y); i += 1; x += 1 }
          y += 1
        }
        out
      }
      var prev = lumArray(v.frames(0))
      var f = 1
      while (f < v.frames.size) {
        val cur = lumArray(v.frames(f))
        var i = 0
        while (i < cur.length) {
          val diff = math.abs(cur(i) - prev(i))
          counts(math.min(dim - 1, diff * dim / 256)) += 1
          i += 1
        }
        prev = cur
        f += 1
      }
      val total = (v.frames.size - 1).toLong * v.w * v.h
      Array.tabulate(dim)(i => (counts(i).toDouble / total).toFloat)
    }

    override def frames(payload: Array[Byte], n: Int): Seq[Array[Byte]] = {
      if (n <= 0) return Seq.empty
      val v = decode(payload)
      v.frames.take(n).map(frameToBmp(v, _))
    }
  }

  /** Deterministic synthetic AVI payloads: adds `binCol` holding a real
    * uncompressed-DIB AVI whose pixel (frame f, x, y) packs the 24-bit
    * value `(seed·2654435761 + f·69427 + y·19349663 + x·73856093) mod 2²⁴`
    * as BGR — exact integer arithmetic a SQL oracle reproduces, so the
    * whole encode→decode→motion-featurize pipeline hash-gates in DuckDB.
    */
  def withSyntheticAvi(df: DataFrame, seedCol: String, binCol: String,
      w: Int = 16, h: Int = 16, nFrames: Int = 4, fps: Int = 10): DataFrame = {
    require(w >= 1 && h >= 1, s"frame dims must be >= 1, got ${w}x$h")
    require(nFrames >= 2, s"motion features need >= 2 frames, got $nFrames")
    val spark = df.sparkSession
    val idx = df.schema.fieldIndex(seedCol)
    val outSchema = StructType(df.schema.fields :+ StructField(binCol, BinaryType))
    val rdd = Dedup.widened(df).rdd.mapPartitions { it =>
      it.map { r =>
        val seed = r.getLong(idx)
        val rowBytes = AviDibDecoder.dibRowBytes(w)
        val frames = Vector.tabulate(nFrames) { f =>
          val data = new Array[Byte](rowBytes * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val m = java.lang.Math.floorMod(
                seed * 2654435761L + f.toLong * 69427L +
                  y.toLong * 19349663L + x.toLong * 73856093L, 1 << 24).toInt
              val off = (h - 1 - y) * rowBytes + x * 3
              data(off) = (m & 0xff).toByte            // B
              data(off + 1) = ((m >> 8) & 0xff).toByte // G
              data(off + 2) = ((m >> 16) & 0xff).toByte // R
              x += 1
            }
            y += 1
          }
          data
        }
        Row.fromSeq(r.toSeq :+
          AviDibDecoder.encode(AviDibDecoder.Video(w, h, frames), fps))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Deterministic synthetic WAV payloads: adds `binCol` holding a real
    * PCM16 mono WAV whose samples are an EXACT integer function of the
    * LONG seed column — `((seed·2654435761 + t·40503) mod 65536) − 32768`
    * in plain 64-bit arithmetic, chosen because a SQL oracle computes the
    * identical value and can therefore hash-gate the whole
    * encode→decode→featurize pipeline without ever parsing WAV bytes.
    */
  def withSyntheticWav(df: DataFrame, seedCol: String, binCol: String,
      nSamples: Int = 2048, rate: Int = 8000): DataFrame = {
    require(nSamples >= 1, s"nSamples must be >= 1, got $nSamples")
    val spark = df.sparkSession
    val idx = df.schema.fieldIndex(seedCol)
    val outSchema = StructType(df.schema.fields :+ StructField(binCol, BinaryType))
    val rdd = Dedup.widened(df).rdd.mapPartitions { it =>
      it.map { r =>
        val seed = r.getLong(idx)
        val samples = Array.tabulate(nSamples) { t =>
          (java.lang.Math.floorMod(
            seed * 2654435761L + t.toLong * 40503L, 65536L).toInt - 32768).toShort
        }
        Row.fromSeq(r.toSeq :+ WavPcmDecoder.encode(samples, rate))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Deterministic PNG encoder — the image twin of `WavPcmDecoder.encode` /
    * `AviDibDecoder.encode`: ~60 lines of plain byte math per the public
    * PNG spec (RFC 2083) and zlib/deflate (RFC 1950/1951). The pixel stream
    * rides STORED (uncompressed) deflate blocks, so the emitted bytes are a
    * pure function of the pixels — unlike ImageIO's PNG writer, whose
    * compressed output is unpinned across JDK builds. That determinism is
    * what lets the DuckDB oracle regenerate synthetic payload bytes exactly
    * and hash-gate the full encode→decode→featurize path (`image_features`),
    * while decode stays `ImageIoDecoder` — a genuinely FOREIGN decoder
    * reading our bytes, the realistic codec-interop check.
    */
  private[graft] object PngEncoder {

    /** One PNG chunk: length + type + data + CRC32(type ++ data), ints
      * big-endian per the spec.
      */
    private def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val tb = typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val out = java.nio.ByteBuffer.allocate(12 + data.length) // BE default
      out.putInt(data.length).put(tb).put(data)
      val crc = new java.util.zip.CRC32
      crc.update(tb); crc.update(data)
      out.putInt(crc.getValue.toInt)
      out.array()
    }

    /** `w`×`h` truecolor 8-bit PNG of row-major 0xRRGGBB pixels. */
    def encode(w: Int, h: Int, rgb: Array[Int]): Array[Byte] =
      encodeImpl(w, h, rgb, alpha = false)

    /** `w`×`h` truecolor-with-alpha 8-bit PNG (color type 6) of row-major
      * 0xAARRGGBB pixels — for alpha-bearing sources (transparent GIF/PNG
      * frames), whose transparency must round-trip through `sampleFrames`
      * rather than silently flatten to RGB.
      */
    def encodeRgba(w: Int, h: Int, argb: Array[Int]): Array[Byte] =
      encodeImpl(w, h, argb, alpha = true)

    private def encodeImpl(w: Int, h: Int, px: Array[Int], alpha: Boolean): Array[Byte] = {
      require(w >= 1 && h >= 1, s"image dims must be >= 1, got ${w}x$h")
      require(px.length == w * h, s"expected ${w * h} pixels, got ${px.length}")
      val bpp = if (alpha) 4 else 3
      // raw scanline stream: per-row filter byte 0 (None) + RGB(A) samples
      val raw = new Array[Byte](h * (1 + bpp * w))
      var i = 0
      var y = 0
      while (y < h) {
        raw(i) = 0; i += 1
        var x = 0
        while (x < w) {
          val p = px(y * w + x)
          raw(i) = ((p >> 16) & 0xff).toByte
          raw(i + 1) = ((p >> 8) & 0xff).toByte
          raw(i + 2) = (p & 0xff).toByte
          if (alpha) raw(i + 3) = ((p >>> 24) & 0xff).toByte
          i += bpp; x += 1
        }
        y += 1
      }
      // zlib: 2-byte header, stored deflate blocks (LEN/NLEN little-endian,
      // max 65535 bytes each), big-endian Adler32 trailer
      val nBlocks = (raw.length + 65534) / 65535
      val z = java.nio.ByteBuffer.allocate(2 + 5 * nBlocks + raw.length + 4)
      z.put(0x78.toByte).put(0x01.toByte)
      var off = 0
      var b = 0
      while (b < nBlocks) {
        val len = math.min(65535, raw.length - off)
        z.put(if (b == nBlocks - 1) 1.toByte else 0.toByte)
        z.put((len & 0xff).toByte).put(((len >> 8) & 0xff).toByte)
        z.put((~len & 0xff).toByte).put(((~len >> 8) & 0xff).toByte)
        z.put(raw, off, len)
        off += len; b += 1
      }
      val adler = new java.util.zip.Adler32
      adler.update(raw)
      z.putInt(adler.getValue.toInt)
      val ihdr = java.nio.ByteBuffer.allocate(13)
        .putInt(w).putInt(h)
        .put(8.toByte)  // bit depth
        .put((if (alpha) 6 else 2).toByte) // color type: truecolor (+alpha)
        .put(0.toByte).put(0.toByte).put(0.toByte) // deflate, filter 0, no interlace
      val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
      sig ++ chunk("IHDR", ihdr.array()) ++ chunk("IDAT", z.array()) ++
        chunk("IEND", Array.emptyByteArray)
    }
  }

  /** Deterministic synthetic PNG payloads: adds `binCol` holding a real
    * `w`×`h` RGB PNG whose pixels integer-mix (seed, x, y) — genuine image
    * bytes for the decode pipeline without shipping media fixtures (none in
    * this container). The seed derives from the seed column's md5, so any
    * id type works and the image content is stable across runs; the bytes
    * come from the own stored-block `PngEncoder`, so — like the WAV/AVI
    * twins — the PAYLOAD is byte-deterministic and a SQL oracle can
    * regenerate the pixels (md5 hex nibbles 3..8 are exactly the seed's low
    * 24 bits, the only ones the mix keeps) and hash-gate the whole
    * pipeline. Decode still goes through foreign `ImageIoDecoder`.
    * mapPartitions like the decode side: one encoder init per task.
    */
  def withSyntheticPng(df: DataFrame, seedCol: String, binCol: String,
      w: Int = 24, h: Int = 24): DataFrame = {
    require(w >= 1 && h >= 1, s"image dims must be >= 1, got ${w}x$h")
    val spark = df.sparkSession
    val idx = df.schema.fieldIndex(seedCol)
    val outSchema = StructType(df.schema.fields :+ StructField(binCol, BinaryType))
    val rdd = Dedup.widened(df).rdd.mapPartitions { it =>
      it.map { r =>
        val digest = java.security.MessageDigest.getInstance("MD5")
          .digest(String.valueOf(r.get(idx)).getBytes("UTF-8"))
        val seed = java.nio.ByteBuffer.wrap(digest).getInt
        val rgb = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            rgb(y * w + x) = ((x * 73856093) ^ (y * 19349663) ^ seed) & 0xffffff
            x += 1
          }
          y += 1
        }
        Row.fromSeq(r.toSeq :+ PngEncoder.encode(w, h, rgb))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Partition-batched decode+featurize: adds `features ARRAY<FLOAT>(dim)`.
    * mapPartitions (not a per-row UDF) so a real codec initializes once per
    * task; rows stream through in arrival order — no shuffle.
    */
  def decodeFeatures(df: DataFrame, binCol: String, dim: Int,
      decoder: Decoder = FakeDecoder): DataFrame = {
    // Dedup.widened at every mapPartitions entry point in this file: codec
    // encode/decode is per-ROW-heavy work whose parallelism is otherwise
    // inherited from the scan — a corpus packed into few parquet files ran
    // the whole decode on ONE task (measured at sf0.1: image_features was a
    // single 3.2 s single-threaded stage). widened is scale-adaptive: a
    // production-scale scan is already thousands of splits wide and the
    // repartition is a no-op (see its scaladoc).
    val spark = df.sparkSession
    val idx = df.schema.fieldIndex(binCol)
    val outSchema = StructType(df.schema.fields :+
      StructField("features", ArrayType(FloatType, containsNull = false)))
    val rdd = Dedup.widened(df).rdd.mapPartitions { it =>
      // codec init would happen here, once per task
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        Row.fromSeq(r.toSeq :+ decoder.features(bytes, dim).toSeq)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Frame sampling: one row per sampled frame, `(… , frame_idx INT,
    * frame BINARY)` — the video→frames explode shape.
    */
  def sampleFrames(df: DataFrame, binCol: String, n: Int,
      decoder: Decoder = FakeDecoder): DataFrame = {
    val spark = df.sparkSession
    val idx = df.schema.fieldIndex(binCol)
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("frame", BinaryType)))
    val rdd = Dedup.widened(df).rdd.mapPartitions { it =>
      it.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        decoder.frames(bytes, n).zipWithIndex.map { case (f, i) =>
          Row.fromSeq(r.toSeq ++ Seq(i, f))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }
}
