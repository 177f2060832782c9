package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column operators (builder brief): treat image/audio/video
  * payloads as opaque `binary` columns carried next to typed metadata
  * structs, with decode / feature-extract / resize / frame-sample stages.
  *
  * The IMAGE decode is real: `javax.imageio` ships with the JDK and reads
  * the lossless formats (PNG/BMP/GIF) deterministically, so
  * [[decodeImageStats]] / [[extractFeatures]] run an actual byte→pixel
  * decode on executors. Audio/video codecs are NOT in the JDK — those
  * payloads ride the same binary-column plumbing (payload stats, frame
  * sampling, batch shape) but decode to null until a codec is wired in.
  *
  * Scale shape: payload bytes never shuffle. Every operator here is a
  * narrow per-row/per-partition transform that runs at scan speed; anything
  * aggregate (e.g. [[corpusStats]]) first projects payloads down to tiny
  * fixed-width features so the shuffle moves KB, not the 100 TB of media.
  * For real corpora, pair with `spark.sql.files.maxPartitionBytes` tuned so
  * one task's batch of decoded frames fits executor memory.
  */
object Multimodal {

  // ImageIO defaults to a DISK-backed stream cache: every encode/decode
  // call creates and deletes a temp file, which at corpus scale turns the
  // codec into an IO benchmark. In-memory payloads never need it.
  // (JVM-global, idempotent, set on executor-side first use too since
  // this object initializes wherever its functions run.)
  javax.imageio.ImageIO.setUseCache(false)

  /** Typed metadata carried with each media payload. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("media_type", StringType),  // image | audio | video
    StructField("format", StringType),      // e.g. png, wav, mp4
    StructField("width", IntegerType),      // image/video
    StructField("height", IntegerType),
    StructField("sample_rate", IntegerType), // audio
    StructField("n_frames", IntegerType)))   // video/audio frames

  /** Attach a payload byte-length + a content digest without decoding —
    * the cheap always-available columns for filtering/dedup at scale. */
  def withPayloadStats(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("payload_bytes", length(col(binCol)).cast("long"))
      .withColumn("payload_digest", md5(col(binCol)))

  /** Exact per-image decode stats: (width, height, per-channel pixel SUMS).
    * Sums stay exact integers so an oracle can recompute them bit-for-bit;
    * means are one division at the query layer. Returns null for null or
    * undecodable payloads (a real corpus always has corrupt rows — decode
    * failure is data, not an exception). */
  def decodeImageStats(bytes: Array[Byte]): Array[Long] = {
    val img = decodeImage(bytes)
    if (img == null) return null
    val w = img.getWidth
    val h = img.getHeight
    var sr = 0L; var sg = 0L; var sb = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        sr += (p >> 16) & 0xff
        sg += (p >> 8) & 0xff
        sb += p & 0xff
        x += 1
      }
      y += 1
    }
    Array(w.toLong, h.toLong, sr, sg, sb)
  }

  /** Real JDK image decode (PNG/BMP/GIF lossless; JPEG decodes too but is
    * codec-version-dependent — don't oracle-check JPEG pixels). Null-safe:
    * null/undecodable bytes → null, not an exception. */
  def decodeImage(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    if (bytes == null) return null
    try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    catch { case _: java.io.IOException => null }
  }

  /** Decode + feature-extract stage: per partition, iterate payload rows in
    * batches and emit fixed-width feature vectors (the `mapInPandas` batch
    * shape on the JVM). Output schema: input columns minus the payload,
    * plus `features array<float>` = mean luminance per cell of a
    * `grid`×`grid` tiling (row-major, dim = grid²) — a real, deterministic
    * pixel feature; null where the payload doesn't decode. */
  def extractFeatures(df: DataFrame, idCol: String, binCol: String,
                      grid: Int = 3): DataFrame = {
    require(grid > 0, s"grid must be positive, got $grid")
    val outSchema = StructType(
      df.schema.fields.filterNot(_.name == binCol) :+
        StructField("features", ArrayType(FloatType)))
    val binIdx = df.schema.fieldIndex(binCol)
    val keepIdx = df.schema.fields.indices.filterNot(_ == binIdx)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val feats = gridLuminance(r.getAs[Array[Byte]](binIdx), grid)
        Row.fromSeq(keepIdx.map(r.get) :+ (if (feats == null) null else feats.toSeq))
      }
    }(enc)
  }

  /** Mean luminance ((r+g+b)/3) per cell of a `grid`×`grid` tiling of the
    * decoded image; cells partition the image with integer bounds
    * (cell c covers [c·d/grid, (c+1)·d/grid)). Images smaller than the
    * grid leave trailing empty cells at 0. */
  def gridLuminance(bytes: Array[Byte], grid: Int): Array[Float] = {
    val img = decodeImage(bytes)
    if (img == null) return null
    val w = img.getWidth
    val h = img.getHeight
    val sums = new Array[Double](grid * grid)
    val counts = new Array[Long](grid * grid)
    var y = 0
    while (y < h) {
      val cy = y * grid / h
      var x = 0
      while (x < w) {
        val cx = x * grid / w
        val p = img.getRGB(x, y)
        val lum = (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3.0
        sums(cy * grid + cx) += lum
        counts(cy * grid + cx) += 1
        x += 1
      }
      y += 1
    }
    Array.tabulate(grid * grid)(i =>
      if (counts(i) == 0) 0.0f else (sums(i) / counts(i)).toFloat)
  }

  /** Per-row decode stats as columns: width, height, and exact per-channel
    * pixel sums (`sum_r/g/b`), null where the payload doesn't decode. Same
    * per-partition batch shape as [[extractFeatures]]; payload column is
    * retained (project it away at the call site if not needed). */
  def withImageStats(df: DataFrame, binCol: String): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("width", LongType), StructField("height", LongType),
      StructField("sum_r", LongType), StructField("sum_g", LongType),
      StructField("sum_b", LongType)))
    val binIdx = df.schema.fieldIndex(binCol)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val st = decodeImageStats(r.getAs[Array[Byte]](binIdx))
        val extra: Seq[Any] =
          if (st == null) Seq(null, null, null, null, null) else st.toSeq
        Row.fromSeq(r.toSeq ++ extra)
      }
    }(enc)
  }

  /** Deterministic synthetic image fixture: a w×h RGB image whose pixel
    * (x, y) channels are modular functions of `seed` — stands in for real
    * camera payloads in tests/demos, and being closed-form lets a SQL
    * oracle recompute the decoded pixel sums exactly (both supported
    * formats are lossless, so decode returns precisely the planted
    * values). Default format is BMP: uncompressed, so encode+decode run
    * ~10x faster than PNG's deflate at identical decoded pixels — at
    * corpus scale the fixture generator must not dominate the decode
    * stage it exists to exercise.
    * w = 8 + seed % 9, h = 6 + seed % 7;
    * r = (31·seed + 7x + 13y) % 256, g = (17·seed + 11x + 5y) % 256,
    * b = (23·seed + 3x + 19y) % 256. Negative seeds are not supported. */
  def plantedImage(seed: Long, format: String = "bmp"): Array[Byte] = {
    require(seed >= 0, s"plantedImage seed must be non-negative, got $seed")
    val w = (8 + seed % 9).toInt
    val h = (6 + seed % 7).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((31 * seed + 7L * x + 13L * y) % 256).toInt
        val g = ((17 * seed + 11L * x + 5L * y) % 256).toInt
        val b = ((23 * seed + 3L * x + 19L * y) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  /** Column form of [[plantedImage]] for distributed fixture generation. */
  def plantedImageCol(seed: Column, format: String = "bmp"): Column = {
    val f = udf((s: Long) => plantedImage(s, format))
    f(seed)
  }

  /** Textured near-dup fixture for perceptual hashing: seeds in the same
    * `seed div 5` block render the SAME image up to a small red-channel
    * brightness shift (`3·(seed mod 5)`, mod-256 wraparound) — the
    * transformation a content hash (md5) treats as a brand-new payload
    * but a difference hash mostly ignores, which is the property
    * [[dHash]] exists to exploit. The `x·y` interaction term varies per
    * base so DIFFERENT bases decorrelate (a pure gradient like
    * [[plantedImage]] gives near-identical dHashes across seeds — the
    * smooth-image degenerate case, measured and rejected for this
    * fixture). Closed-form per-pixel, so a SQL oracle replays the
    * decoded pixels exactly.
    * base = seed div 5, v = seed mod 5; w = 8 + base % 9,
    * h = 6 + base % 7, t = base % 11 + 3;
    * r = (31·base + 7x + 13y + x·y·t + 3v) % 256,
    * g = (17·base + 11x + 5y + x·y·(t+2)) % 256,
    * b = (23·base + 3x + 19y + x·y·(t+5)) % 256. */
  def texturedImage(seed: Long, format: String = "bmp"): Array[Byte] = {
    require(seed >= 0, s"texturedImage seed must be non-negative, got $seed")
    val base = seed / 5
    val v = seed % 5
    val w = (8 + base % 9).toInt
    val h = (6 + base % 7).toInt
    val t = base % 11 + 3
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val xy = x.toLong * y
        val r = ((31 * base + 7L * x + 13L * y + xy * t + 3 * v) % 256).toInt
        val g = ((17 * base + 11L * x + 5L * y + xy * (t + 2)) % 256).toInt
        val b = ((23 * base + 3L * x + 19L * y + xy * (t + 5)) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  /** Column form of [[texturedImage]]. */
  def texturedImageCol(seed: Column, format: String = "bmp"): Column = {
    val f = udf((s: Long) => texturedImage(s, format))
    f(seed)
  }

  /** Difference hash (dHash) — the standard perceptual image signature
    * (Krawetz 2013 form): tile the image into a `gw`×`gh` luminance
    * grid and emit one bit per horizontally-adjacent cell pair,
    * set when the left cell is brighter. Near-duplicate images (crops,
    * brightness shifts, re-encodes) agree on most bits, so corpus-scale
    * image dedup is a banded Hamming join over these signatures —
    * [[graft.text.Dedup.hammingCandidates]], the same machinery as
    * SimHash text dedup.
    *
    * Determinism (the oracle-grade details): cells tile with integer
    * bounds (cell of x = x·gw div w — no resampling kernel, which is
    * library-specific); luminance is the exact integer r+g+b sum; the
    * brightness comparison cross-multiplies sums and counts
    * (`sₗ·cᵣ > sᵣ·cₗ`) so no division ever happens. Images narrower
    * than the grid leave empty trailing cells, which compare as mean 0.
    * Default 9×7 grid → 8 comparisons × 7 rows = 56 bits, fitting a
    * positive long (a 9×8 grid's bit 63 is the sign bit — the classic
    * 64-bit dHash needs an unsigned type SQL doesn't have).
    * Null/undecodable payloads → null. */
  def dHash(bytes: Array[Byte], gw: Int = 9, gh: Int = 7): java.lang.Long = {
    require(gw >= 2 && gh >= 1 && (gw - 1) * gh <= 63,
      s"dHash grid ${gw}x$gh must fit 63 bits")
    val img = decodeImage(bytes)
    if (img == null) return null
    val w = img.getWidth
    val h = img.getHeight
    val sums = new Array[Long](gw * gh)
    val cnts = new Array[Long](gw * gh)
    var y = 0
    while (y < h) {
      val cy = y * gh / h
      var x = 0
      while (x < w) {
        val cx = x * gw / w
        val p = img.getRGB(x, y)
        sums(cy * gw + cx) += (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)).toLong
        cnts(cy * gw + cx) += 1L
        x += 1
      }
      y += 1
    }
    var sig = 0L
    var cy = 0
    while (cy < gh) {
      var cx = 0
      while (cx < gw - 1) {
        val i = cy * gw + cx
        if (sums(i) * cnts(i + 1) > sums(i + 1) * cnts(i))
          sig |= 1L << (cy * (gw - 1) + cx)
        cx += 1
      }
      cy += 1
    }
    sig
  }

  /** Column form of [[dHash]]. */
  def dHashCol(bin: Column, gw: Int = 9, gh: Int = 7): Column = {
    val f = udf((b: Array[Byte]) => Option(dHash(b, gw, gh)).map(_.longValue))
    f(bin)
  }

  /** Resize stage (images): pure metadata math — output dims preserving
    * aspect ratio under a max edge; the pixel resample itself lives behind
    * the decode stub. Null-safe. */
  def resizePlan(meta: Column, maxEdge: Int): Column = {
    val w = meta.getField("width").cast("double")
    val h = meta.getField("height").cast("double")
    val scale = least(lit(1.0), lit(maxEdge.toDouble) / greatest(w, h))
    struct(
      round(w * scale).cast("int").as("out_width"),
      round(h * scale).cast("int").as("out_height"),
      round(scale, 6).as("scale"))
  }

  /** Frame-sample stage (video/audio): pick `k` evenly-spaced frame indices
    * from `n_frames` — a pure expression, explodable into per-frame rows
    * that the decode stage consumes. */
  def frameSampleIndices(meta: Column, k: Int): Column = {
    val n = meta.getField("n_frames")
    when(n.isNull || n <= 0, array().cast("array<int>"))
      .when(n <= k, sequence(lit(0), n - 1))
      .otherwise(transform(sequence(lit(0), lit(k - 1)),
        i => (i * n / k).cast("int")))
  }

  /** Corpus-level stats over extracted features: projects media down to
    * per-row scalars FIRST (narrow), then one small aggregate. */
  def corpusStats(feats: DataFrame, byCol: String): DataFrame =
    feats
      .withColumn("__fmean",
        aggregate(col("features"), lit(0.0), (a, v) => a + v.cast("double"))
          / greatest(size(col("features")), lit(1)))
      .groupBy(byCol)
      .agg(count(lit(1)).as("n"),
        avg(col("payload_bytes")).as("avg_bytes"),
        avg(col("__fmean")).as("avg_feature_mean"))

  /** REAL image resize by exact integer box averaging: output pixel
    * (ox, oy) averages the source box `[ox·w div W, (ox+1)·w div W) ×
    * [oy·h div H, (oy+1)·h div H)` — the boxes PARTITION the source, so
    * every input pixel contributes exactly once and the result is
    * integer-deterministic (library resamplers pick platform-varying
    * kernels; a div-floor box average is the same everywhere, including
    * in SQL). This is the thumbnail/normalize stage of an image
    * pipeline, running on the REAL decode ([[decodeImage]]). Per-channel
    * means floor. Upscaling is rejected (an empty box would divide by
    * zero — resize-to-larger is a different operator). */
  def resizeBoxAverage(bytes: Array[Byte], outW: Int, outH: Int): Array[(Int, Int, Int, Int, Int)] = {
    require(outW >= 1 && outH >= 1, s"output dims must be positive: $outW x $outH")
    val img = decodeImage(bytes)
    if (img == null) return null
    val w = img.getWidth
    val h = img.getHeight
    require(w >= outW && h >= outH,
      s"resizeBoxAverage downscales only: $w x $h -> $outW x $outH")
    val out = new Array[(Int, Int, Int, Int, Int)](outW * outH)
    var oy = 0
    while (oy < outH) {
      val y0 = oy * h / outH
      val y1 = (oy + 1) * h / outH
      var ox = 0
      while (ox < outW) {
        val x0 = ox * w / outW
        val x1 = (ox + 1) * w / outW
        var rs = 0L; var gs = 0L; var bs = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val p = img.getRGB(x, y)
            rs += (p >> 16) & 0xff; gs += (p >> 8) & 0xff; bs += p & 0xff
            x += 1
          }
          y += 1
        }
        val np = (x1 - x0).toLong * (y1 - y0)
        out(oy * outW + ox) =
          (ox, oy, (rs / np).toInt, (gs / np).toInt, (bs / np).toInt)
        ox += 1
      }
      oy += 1
    }
    out
  }

  /** Distributed form of [[resizeBoxAverage]]: one decode+resize per
    * row, exploded to `(idCol, ox, oy, r, g, b)` — shuffle-free until
    * the caller aggregates. */
  def resizedPixels(df: DataFrame, idCol: String, binCol: String,
                    outW: Int, outH: Int): DataFrame = {
    val kernel = udf((bytes: Array[Byte]) =>
      if (bytes == null) null else resizeBoxAverage(bytes, outW, outH))
    df.select(col(idCol), explode(kernel(col(binCol))).as("__p"))
      .select(col(idCol), col("__p._1").as("ox"), col("__p._2").as("oy"),
        col("__p._3").as("r"), col("__p._4").as("g"), col("__p._5").as("b"))
  }

  // --------------------------------------------------------------- audio

  /** Planted 16-bit mono PCM WAV fixture — the audio analog of
    * [[plantedImage]]: a REAL WAV container (`javax.sound.sampled`
    * writes it; any decoder reads it) holding closed-form samples
    * `sᵢ = ((seed·2654435761 + i·40503) mod 65536) − 32768`, so a SQL
    * oracle replays the DECODED samples exactly — WAV PCM is lossless
    * framing around the raw ints. n = 4000 + (seed mod 5)·800 samples
    * at 8 kHz mono. Seeds are bounded to the range where
    * `seed·2654435761 + i·40503` stays inside a non-negative Long
    * (seed ≤ ~3.4e9): past it the product wraps, `% 65536` turns
    * negative, and the decoded samples diverge from the closed form
    * the SQL oracle replays. */
  def plantedWav(seed: Long, sampleRate: Int = 8000): Array[Byte] = {
    require(seed >= 0 && seed <= 3400000000L,
      s"plantedWav seed must be in [0, 3400000000] (Long-overflow-free " +
        s"range of the sample recurrence), got $seed")
    val n = (4000 + (seed % 5) * 800).toInt
    val data = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val v = (((seed * 2654435761L + i.toLong * 40503L) % 65536L) - 32768L).toShort
      data(2 * i) = (v & 0xff).toByte // little-endian, as the format declares
      data(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Column form of [[plantedWav]]. */
  def plantedWavCol(seed: Column): Column = {
    val f = udf((s: Long) => plantedWav(s))
    f(seed)
  }

  /** REAL WAV decode via `javax.sound.sampled.AudioSystem` — parses the
    * RIFF header, honors the declared encoding, and returns the PCM
    * samples as ints (16-bit little-endian mono assumed, the fixture
    * contract; a production corpus would branch on the `AudioFormat`).
    * This is the decode javax.imageio gave images in round 5: actual
    * bytes-to-signal, not a stub. */
  def decodeWavSamples(bytes: Array[Byte]): Array[Int] = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val raw = ais.readAllBytes()
      val out = new Array[Int](raw.length / 2)
      var i = 0
      while (i < out.length) {
        out(i) = ((raw(2 * i + 1).toInt << 8) | (raw(2 * i).toInt & 0xff))
        i += 1
      }
      out
    } finally ais.close()
  }

  /** Per-window audio features over decoded PCM — the standard cheap
    * speech/music/silence discriminators, computed EXACTLY: per
    * `windowSize`-sample window, the energy as the exact integer Σs²
    * (16-bit samples: ≤ 2³⁰ per sample, BIGINT-safe to ~2³³ samples per
    * window) and the zero-crossing count (sign changes against the
    * previous sample WITHIN the window — no cross-window state, so
    * windows parallelize). One decode per row, one explode; the decoded
    * signal never shuffles (only the window rows do).
    *
    * Output: `(idCol, win, n_samples, sumsq, zero_crossings)`. */
  def audioWindowStats(df: DataFrame, idCol: String, binCol: String,
                       windowSize: Int): DataFrame = {
    require(windowSize >= 2, s"windowSize must be >= 2, got $windowSize")
    val kernel = udf((bytes: Array[Byte]) => {
      if (bytes == null) null
      else {
        val s = decodeWavSamples(bytes)
        val nw = (s.length + windowSize - 1) / windowSize
        (0 until nw).map { w =>
          val lo = w * windowSize
          val hi = math.min(lo + windowSize, s.length)
          var sumsq = 0L
          var zc = 0L
          var i = lo
          while (i < hi) {
            sumsq += s(i).toLong * s(i)
            if (i > lo && (s(i) >= 0) != (s(i - 1) >= 0)) zc += 1
            i += 1
          }
          (w, (hi - lo).toLong, sumsq, zc)
        }
      }
    })
    df.select(col(idCol), explode(kernel(col(binCol))).as("__w"))
      .select(col(idCol), col("__w._1").as("win"), col("__w._2").as("n_samples"),
        col("__w._3").as("sumsq"), col("__w._4").as("zero_crossings"))
  }

  // --------------------------------------------------------------- video

  /** Planted multi-frame video fixture — a REAL animated-GIF container
    * (the one multi-frame format `javax.imageio` both writes and reads),
    * closing the decode matrix: image ([[plantedImage]]), audio
    * ([[plantedWav]]), video here. Frames are 16×12 indexed-grayscale —
    * the 256-level gray palette is written explicitly, so GIF's
    * palette encoding is LOSSLESS for these pixels and the decode
    * returns the closed form exactly:
    * `v(f, x, y) = (29·seed + 31·f + 7·x + 13·y) mod 256`, r = g = b = v.
    * n_frames = 4 + (seed mod 4). A SQL oracle replays the decoded
    * luminance sums bit-for-bit, the q54/q194 planted-fixture trick. */
  def plantedVideo(seed: Long): Array[Byte] = {
    require(seed >= 0 && seed <= 1000000000L,
      s"plantedVideo seed must be in [0, 1e9], got $seed")
    val nFrames = (4 + seed % 4).toInt
    val w = 16
    val h = 12
    val grays = Array.tabulate(256)(_.toByte)
    val icm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < nFrames) {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            raster.setSample(x, y, 0,
              ((29 * seed + 31L * f + 7L * x + 13L * y) % 256).toInt)
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    bos.toByteArray
  }

  /** Column form of [[plantedVideo]]. */
  def plantedVideoCol(seed: Column): Column = {
    val f = udf((s: Long) => plantedVideo(s))
    f(seed)
  }

  final case class VideoMeta(media_type: String, format: String,
                             width: Int, height: Int, n_frames: Int)

  /** REAL container probe: format name, first-frame dims, and the frame
    * count from the GIF image sequence — the header pass that feeds
    * [[frameSampleIndices]] without decoding pixel data for every frame.
    * Null/unreadable payloads → null (decode failure is data). */
  def videoMeta(bytes: Array[Byte]): VideoMeta = {
    if (bytes == null) return null
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return null
      val reader = readers.next()
      try {
        reader.setInput(iis)
        VideoMeta("video", reader.getFormatName.toLowerCase,
          reader.getWidth(0), reader.getHeight(0), reader.getNumImages(true))
      } finally reader.dispose()
    } catch { case _: java.io.IOException => null }
    finally iis.close()
  }

  /** REAL multi-frame decode of the SAMPLED frames only: one container
    * parse per row, random-access `reader.read(i)` per requested index
    * (GIF frames here are full-frame, no inter-frame compositing), and
    * per frame the exact integer luminance sum over the gray pixels.
    * Out-of-range indices are dropped, not errors. */
  def decodeVideoFrameStats(bytes: Array[Byte],
                            idxs: Seq[Int]): Seq[(Int, Int, Int, Long)] = {
    if (bytes == null) return null
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return null
      val reader = readers.next()
      try {
        reader.setInput(iis)
        val n = reader.getNumImages(true)
        idxs.filter(i => i >= 0 && i < n).map { i =>
          val img = reader.read(i)
          val w = img.getWidth
          val h = img.getHeight
          var s = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              s += img.getRGB(x, y) & 0xff // gray palette: r = g = b
              x += 1
            }
            y += 1
          }
          (i, w, h, s)
        }
      } finally reader.dispose()
    } catch { case _: java.io.IOException => null }
    finally iis.close()
  }

  /** Frame-sampled video features in ONE container parse per row: the
    * frame-count probe, the sampling plan (the JVM twin of
    * [[frameSampleIndices]]'s `i·n/k` formula — [[sampleIndices]],
    * parity-specced), and the random-access frame decodes all share a
    * single reader. Decode cost scales with k, not n_frames — the plan a
    * 100 TB video corpus needs. Shuffle-free: payload bytes never leave
    * their scan partition; only the exploded per-frame feature rows (a
    * few ints each) flow on.
    *
    * A split meta-probe + decode pair (the previous shape) parses the
    * container twice AND re-evaluates any upstream planted/generated
    * bytes expression once per reference — ~2x q210's wall time.
    *
    * Output: `(idCol, n_frames, frame_idx, width, height, sum_gray)`. */
  def videoFrameFeatures(df: DataFrame, idCol: String, binCol: String,
                         k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val kernel = udf((b: Array[Byte]) => videoStats(b, k))
    df.withColumn("__vs", kernel(col(binCol)))
      .select(col(idCol), col("__vs._1").as("n_frames"),
        explode(col("__vs._2")).as("__f"))
      .select(col(idCol), col("n_frames"),
        col("__f._1").as("frame_idx"), col("__f._2").as("width"),
        col("__f._3").as("height"), col("__f._4").as("sum_gray"))
  }

  /** Single-parse kernel behind [[videoFrameFeatures]]: (n_frames,
    * per-sampled-frame (idx, w, h, luminance sum)). Null/unreadable → null. */
  def videoStats(bytes: Array[Byte], k: Int): (Int, Seq[(Int, Int, Int, Long)]) = {
    if (bytes == null) return null
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return null
      val reader = readers.next()
      try {
        reader.setInput(iis)
        val n = reader.getNumImages(true)
        (n, sampleIndices(n, k).map { i =>
          val img = reader.read(i)
          val w = img.getWidth
          val h = img.getHeight
          var s = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              s += img.getRGB(x, y) & 0xff // gray palette: r = g = b
              x += 1
            }
            y += 1
          }
          (i, w, h, s)
        })
      } finally reader.dispose()
    } catch { case _: java.io.IOException => null }
    finally iis.close()
  }

  /** JVM twin of [[frameSampleIndices]] — MUST stay formula-identical
    * (MultimodalSpec asserts parity over an n sweep). */
  def sampleIndices(n: Int, k: Int): Seq[Int] =
    if (n <= 0) Seq.empty
    else if (n <= k) 0 until n
    else (0 until k).map(i => (i.toLong * n / k).toInt)
}
