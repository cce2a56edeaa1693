package graft.ml

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns plus typed metadata, with decode/feature-extract as
  * `mapPartitions` batch transforms.
  *
  * Decode is REAL for the self-describing pure-JDK formats (24-bit BMP
  * images → dimension/color/luma stats; 16-bit PCM WAV audio → sample
  * rate/RMS/zero-crossing stats) and STUBBED for codecs that need native
  * libs (JPEG/MP4…) with a deterministic fake. The Spark-side contract
  * (schema, partition-local batching, per-partition init cost amortized
  * across a partition, no shuffles) is the same either way: heavy per-row
  * decode work stays inside a partition; only extracted features (small)
  * flow onward.
  */
object Multimodal {

  /** Canonical media envelope. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false), // image|audio|video
    StructField("data", BinaryType, nullable = true),      // opaque payload
    StructField("mime", StringType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true)))

  final case class MediaFeatures(media_id: Long, modality: String,
                                 n_bytes: Long, feature: Array[Double])

  /** Decoder front: REAL parsers for the self-describing formats a JDK
    * can read without native libs (24-bit BMP images, 16-bit PCM WAV
    * audio), detected by magic bytes; anything else falls to the
    * deterministic stub (the seam where libjpeg/ffmpeg-class codecs would
    * plug in via JNI). */
  private[ml] def decode(modality: String, data: Array[Byte]): Array[Double] = {
    if (data == null || data.isEmpty) Array.fill(8)(0.0)
    else if (data.length > 2 && data(0) == 'B' && data(1) == 'M') decodeBmp24(data)
    else if (data.length > 12 && new String(data, 0, 4, "US-ASCII") == "RIFF"
      && new String(data, 8, 4, "US-ASCII") == "WAVE") decodeWavPcm16(data)
    else if (isPng(data) || isJpeg(data) || isGif(data)) decodeImageIO(modality, data)
    else decodeStub(modality, data)
  }

  private def isPng(d: Array[Byte]): Boolean =
    d.length > 8 && (d(0) & 0xFF) == 0x89 && d(1) == 'P' && d(2) == 'N' && d(3) == 'G'
  private def isJpeg(d: Array[Byte]): Boolean =
    d.length > 3 && (d(0) & 0xFF) == 0xFF && (d(1) & 0xFF) == 0xD8 && (d(2) & 0xFF) == 0xFF
  private def isGif(d: Array[Byte]): Boolean =
    d.length > 6 && d(0) == 'G' && d(1) == 'I' && d(2) == 'F' && d(3) == '8'

  /** PNG/JPEG/GIF via the JDK-bundled ImageIO readers (headless-safe, no
    * native libraries): same feature vector as the BMP path —
    * [width, height, meanB, meanG, meanR, stdLuma, 0, 0]. Falls back to
    * the stub if the reader rejects the payload. */
  private def decodeImageIO(modality: String, data: Array[Byte]): Array[Double] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(data))
    if (img == null) return decodeStub(modality, data)
    val (w, h) = (img.getWidth, img.getHeight)
    var (sb, sg, sr, sl, sl2) = (0.0, 0.0, 0.0, 0.0, 0.0)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val (r, g, b) = (((rgb >> 16) & 0xFF) / 255.0, ((rgb >> 8) & 0xFF) / 255.0, (rgb & 0xFF) / 255.0)
        sb += b; sg += g; sr += r
        val luma = 0.299 * r + 0.587 * g + 0.114 * b
        sl += luma; sl2 += luma * luma
        x += 1
      }
      y += 1
    }
    val n = math.max(1, w * h).toDouble
    val stdLuma = math.sqrt(math.max(0, sl2 / n - (sl / n) * (sl / n)))
    Array(w.toDouble, h.toDouble, sb / n, sg / n, sr / n, stdLuma, 0.0, 0.0)
  }

  private def u16le(d: Array[Byte], i: Int): Int = (d(i) & 0xFF) | ((d(i + 1) & 0xFF) << 8)
  private def u32le(d: Array[Byte], i: Int): Int =
    (d(i) & 0xFF) | ((d(i + 1) & 0xFF) << 8) | ((d(i + 2) & 0xFF) << 16) | ((d(i + 3) & 0xFF) << 24)

  /** 24-bit uncompressed BMP → [width, height, meanB, meanG, meanR,
    * stdLuma, 0, 0]. Row stride pads to 4 bytes; rows are bottom-up. */
  private def decodeBmp24(d: Array[Byte]): Array[Double] = {
    val off = u32le(d, 10)
    val w = u32le(d, 18)
    val h = u32le(d, 22)
    require(u16le(d, 28) == 24, s"bmp: only 24bpp supported, got ${u16le(d, 28)}")
    val stride = (w * 3 + 3) / 4 * 4
    var (sb, sg, sr, sl, sl2) = (0.0, 0.0, 0.0, 0.0, 0.0)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = off + y * stride + x * 3
        val (b, g, r) = ((d(p) & 0xFF) / 255.0, (d(p + 1) & 0xFF) / 255.0, (d(p + 2) & 0xFF) / 255.0)
        sb += b; sg += g; sr += r
        val luma = 0.299 * r + 0.587 * g + 0.114 * b
        sl += luma; sl2 += luma * luma
        x += 1
      }
      y += 1
    }
    val n = math.max(1, w * h).toDouble
    val stdLuma = math.sqrt(math.max(0, sl2 / n - (sl / n) * (sl / n)))
    Array(w.toDouble, h.toDouble, sb / n, sg / n, sr / n, stdLuma, 0.0, 0.0)
  }

  /** RIFF/WAVE with 16-bit PCM `data` chunk → [sampleRate, nSamples,
    * rms, zeroCrossRate, meanAbs, 0, 0, 0]. Walks chunks to find fmt/data
    * (they need not be adjacent). */
  private def decodeWavPcm16(d: Array[Byte]): Array[Double] = {
    var i = 12
    var sampleRate = 0
    var dataOff = -1
    var dataLen = 0
    while (i + 8 <= d.length) {
      val id = new String(d, i, 4, "US-ASCII")
      val len = u32le(d, i + 4)
      if (id == "fmt ") {
        require(u16le(d, i + 8) == 1 && u16le(d, i + 8 + 14) == 16,
          "wav: only 16-bit PCM supported")
        sampleRate = u32le(d, i + 8 + 4)
      } else if (id == "data") { dataOff = i + 8; dataLen = len }
      i += 8 + len + (len & 1) // chunks are word-aligned
    }
    require(sampleRate > 0 && dataOff >= 0, "wav: missing fmt/data chunk")
    val n = dataLen / 2
    var (sum2, sumAbs, crossings) = (0.0, 0.0, 0L)
    var prev = 0
    var k = 0
    while (k < n) {
      val s = u16le(d, dataOff + 2 * k).toShort.toInt
      val x = s / 32768.0
      sum2 += x * x; sumAbs += math.abs(x)
      if (k > 0 && ((s >= 0) != (prev >= 0))) crossings += 1
      prev = s
      k += 1
    }
    val nn = math.max(1, n).toDouble
    Array(sampleRate.toDouble, n.toDouble, math.sqrt(sum2 / nn),
      crossings / math.max(1.0, nn - 1), sumAbs / nn, 0.0, 0.0, 0.0)
  }

  /** STUB decoder for formats without a pure-JDK parser (inter-frame
    * video codecs — MP4/H.264-class; PNG/JPEG/GIF/BMP/WAV decode for real
    * above, and AVI containers with DIB/MJPEG frames via
    * [[aviFrameStats]]): deterministic byte-histogram moments so tests
    * are stable. This is the seam where an ffmpeg-class codec would
    * plug in. */
  private def decodeStub(modality: String, data: Array[Byte]): Array[Double] = {
    // ??? <- native codec goes here; deterministic fake below
    val out = new Array[Double](8)
    var i = 0
    while (i < data.length) { out(i % 8) += (data(i) & 0xFF) / 255.0; i += 1 }
    out.map(_ / math.max(1, data.length / 8))
  }

  /** Feature extraction over media rows: partition-local, batched, with a
    * per-partition "codec init" once (the expensive part in real codecs). */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "modality", "data").as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition codec init happens HERE (once), not per row
        rows.map { case (id, modality, data) =>
          MediaFeatures(id, modality,
            if (data == null) 0L else data.length.toLong,
            decode(modality, data))
        }
      }
  }

  /** Frame-sample stub for video: emit `n` evenly-spaced (frame_idx,
    * offset_ms) rows per video — the explode-shaped plumbing is real. */
  def frameSample(media: DataFrame, n: Int): DataFrame =
    media.filter(col("modality") === "video")
      .withColumn("frame_idx", explode(sequence(lit(0), lit(n - 1))))
      .withColumn("offset_ms",
        floor(col("frame_idx").cast(DoubleType) / n * coalesce(col("duration_ms"), lit(0L))).cast(LongType))
      .select("media_id", "frame_idx", "offset_ms")

  final case class FrameStats(media_id: Long, frame_idx: Int, w: Int, h: Int,
                              mean_b: Double, mean_g: Double, mean_r: Double)

  /** REAL multi-frame decode for animated GIF: one row of channel stats
    * per stored frame, via the from-scratch GIF89a decoder
    * (functions/Gif.scala — the JDK's ImageIO GIF reader mis-decodes some
    * small multi-frame images, verified byte-level). This shrinks the
    * decoder stub to true video codecs (MP4/H.264-class) only. Same
    * partition-local contract as [[extractFeatures]]: frames never leave
    * the partition, only the small per-frame stats flow on. */
  def gifFrameStats(media: DataFrame): Dataset[FrameStats] =
    frameStatsOver(media, data =>
      if (data == null || !graft.functions.Gif.isGif(data)) Iterator.empty
      else graft.functions.Gif.decodeFrames(data).iterator.map(fr => (fr.w, fr.h, fr.pixels)))

  /** Shared per-frame channel-mean kernel: decoders hand over
    * (width, height, packed-RGB pixels) per frame; only the slim stats rows
    * leave the partition. A single implementation keeps the GIF and AVI
    * gates arithmetically identical by construction. */
  private def frameStatsOver(media: DataFrame,
      decode: Array[Byte] => Iterator[(Int, Int, Array[Int])]): Dataset[FrameStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "data").as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, data) =>
          decode(data).zipWithIndex.map { case ((w, h, pixels), i) =>
            var (sb, sg, sr) = (0.0, 0.0, 0.0)
            var k = 0
            while (k < pixels.length) {
              val rgb = pixels(k)
              sb += (rgb & 0xFF) / 255.0
              sg += ((rgb >> 8) & 0xFF) / 255.0
              sr += ((rgb >> 16) & 0xFF) / 255.0
              k += 1
            }
            val np = math.max(1, pixels.length).toDouble
            FrameStats(id, i, w, h, sb / np, sg / np, sr / np)
          }
        }
      }
  }

  /** REAL multi-frame decode for AVI video: one row of channel stats per
    * frame via the from-scratch RIFF/AVI container parser
    * (functions/Avi.scala — uncompressed-DIB frames decoded from spec,
    * MJPEG frames via ImageIO). With GIF and AVI/MJPEG real, the decoder
    * stub covers ONLY inter-frame codecs (H.264-class, which need a
    * native decoder). Same partition-local contract as
    * [[gifFrameStats]]. */
  def aviFrameStats(media: DataFrame): Dataset[FrameStats] =
    frameStatsOver(media, data =>
      if (data == null || !graft.functions.Avi.isAvi(data)) Iterator.empty
      else graft.functions.Avi.decodeFrames(data).iterator.map(fr => (fr.w, fr.h, fr.pixels)))

  /** Deterministic 2×2 uncompressed AVI with the SAME per-frame pixel
    * formula as [[syntheticGif]] (channel c of pixel (x, y) in frame f =
    * (key*37 + f*53 + y*16 + x*4 + c) mod 256) — raw DIB frames are
    * lossless, so the GIF oracle arithmetic carries over unchanged. */
  def syntheticAvi(key: Long, nFrames: Int): Array[Byte] = {
    def ch(x: Int, y: Int, c: Int, f: Int): Int =
      (((key * 37 + f * 53 + y * 16 + x * 4 + c) % 256) + 256).toInt % 256
    val frames = (0 until nFrames).map { f =>
      (for (y <- 0 until 2; x <- 0 until 2)
        yield (ch(x, y, 2, f) << 16) | (ch(x, y, 1, f) << 8) | ch(x, y, 0, f)).toArray
    }
    graft.functions.Avi.write(2, 2, rawFrames = frames)
  }

  /** Deterministic animated 2×2 GIF: channel c of pixel (x, y) in frame f
    * = (key*37 + f*53 + y*16 + x*4 + c) mod 256 (c: 0=B 1=G 2=R — the
    * [[syntheticBmp]] formula extended with a frame term). ≤4 colors per
    * frame, so the GIF palette is exact and decode is lossless. */
  def syntheticGif(key: Long, nFrames: Int): Array[Byte] = {
    def ch(x: Int, y: Int, c: Int, f: Int): Int =
      (((key * 37 + f * 53 + y * 16 + x * 4 + c) % 256) + 256).toInt % 256
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val out = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      for (f <- 0 until nFrames) {
        // hand the writer an ALREADY-INDEXED image with the exact 4-color
        // palette — a TYPE_INT_RGB input would get quantized to the GIF
        // writer's default web palette and break losslessness
        val px = for (y <- 0 until 2; x <- 0 until 2)
          yield (ch(x, y, 2, f), ch(x, y, 1, f), ch(x, y, 0, f)) // (r, g, b)
        // 8-bit 256-entry palette (entries 4+ padded): the ubiquitous GIF
        // color-table shape — sub-byte tables trip some reader paths
        val (rA, gA, bA) = (new Array[Byte](256), new Array[Byte](256), new Array[Byte](256))
        px.zipWithIndex.foreach { case ((r, g, b), i) =>
          rA(i) = r.toByte; gA(i) = g.toByte; bA(i) = b.toByte
        }
        val icm = new java.awt.image.IndexColorModel(8, 256, rA, gA, bA)
        val img = new java.awt.image.BufferedImage(2, 2,
          java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
        for (y <- 0 until 2; x <- 0 until 2)
          img.getRaster.setSample(x, y, 0, y * 2 + x) // palette index per pixel
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    out.toByteArray
  }

  /** Deterministic 2×2 24-bit BMP whose pixel bytes derive from `key`:
    * channel c of pixel (x, y) = (key*37 + y*16 + x*4 + c) mod 256.
    * Lets an oracle recompute decoder outputs independently. */
  def syntheticBmp(key: Long): Array[Byte] = {
    def px(x: Int, y: Int, c: Int): Int = ((key * 37 + y * 16 + x * 4 + c) % 256).toInt
    bmp24(2, 2, px)
  }

  private def le16(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
  private def le32(v: Int) = Array(v, v >> 8, v >> 16, v >> 24).map(x => (x & 0xFF).toByte)

  /** 24-bit uncompressed BMP writer for any size — `chan(x, y, c)` gives
    * channel c (0=B 1=G 2=R) of the pixel the decoder reads back at
    * (x, y) counting rows BOTTOM-UP (the BMP storage order, matching
    * [[decodeBmp24]]'s traversal). */
  private def bmp24(w: Int, h: Int, chan: (Int, Int, Int) => Int): Array[Byte] = {
    val stride = (w * 3 + 3) / 4 * 4
    val data = new Array[Byte](stride * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var c = 0
        while (c < 3) { data(y * stride + x * 3 + c) = (chan(x, y, c) & 0xFF).toByte; c += 1 }
        x += 1
      }
      y += 1
    }
    "BM".getBytes ++ le32(54 + data.length) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++
      Array.fill(24)(0.toByte) ++ data
  }

  /** splitmix64-style mix — per-(key, x, y, c) pseudo-random values for
    * the perceptual-dedup fixtures: unlike [[syntheticBmp]]'s sawtooth
    * (whose x-gradient is constant, so every image would dHash alike),
    * independent random content gives every key an independent
    * fingerprint. */
  private def mix64(key: Long, x: Int, y: Int, c: Int): Long = {
    var z = key * 0x9E3779B97F4A7C15L + x * 0xC2B2AE3D27D4EB4FL +
      y * 0x165667B19E3779F9L + c * 0x27D4EB2F165667C5L
    z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL; z ^= z >>> 33
    z
  }
  private def mixByte(key: Long, x: Int, y: Int, c: Int): Int =
    (mix64(key, x, y, c) & 0xFF).toInt

  /** Deterministic pseudo-random w×h 24-bit BMP for the perceptual-dedup
    * gate. `brighten` adds a uniform clamped brightness shift — the
    * canonical "near-identical re-render" perturbation dHash is built to
    * absorb (a monotone shift preserves every neighbor comparison except
    * at the 255 clamp). */
  def syntheticImageBmp(key: Long, w: Int = 16, h: Int = 16,
                        brighten: Int = 0): Array[Byte] =
    bmp24(w, h, (x, y, c) => math.min(255, mixByte(key, x, y, c) + brighten))

  /** 24-bit BMP → (width, height, top-down packed-RGB pixels). */
  private[graft] def decodeBmp24Pixels(d: Array[Byte]): (Int, Int, Array[Int]) = {
    val off = u32le(d, 10)
    val w = u32le(d, 18)
    val h = u32le(d, 22)
    require(u16le(d, 28) == 24, s"bmp: only 24bpp supported, got ${u16le(d, 28)}")
    val stride = (w * 3 + 3) / 4 * 4
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = off + (h - 1 - y) * stride + x * 3 // stored bottom-up
        px(y * w + x) = ((d(p + 2) & 0xFF) << 16) | ((d(p + 1) & 0xFF) << 8) | (d(p) & 0xFF)
        x += 1
      }
      y += 1
    }
    (w, h, px)
  }

  /** 64-bit difference hash (dHash — the DCT-free perceptual fingerprint;
    * the standard image near-dup primitive): luma-grayscale, box-average
    * onto a 9×8 grid, one bit per horizontal neighbor comparison
    * (bit cy*8+cx = 1 iff cell(cx+1, cy) > cell(cx, cy)). Robust to
    * uniform brightness/contrast shifts (monotone transforms preserve
    * comparisons) and to resizing (the grid is scale-normalized).
    * Images narrower than the grid reuse pixels across cells (the
    * max(x0+1, ·) guard), so any size ≥ 1×1 hashes without special
    * cases. Pure per-row CPU — pairs come from
    * [[Dedup.hammingBandedPairs]], never an all-pairs compare. */
  def dHash64(w: Int, h: Int, pixels: Array[Int]): Long = {
    val cols = 9
    val rows = 8
    val cell = Array.ofDim[Double](rows, cols)
    var cy = 0
    while (cy < rows) {
      val y0 = cy * h / rows
      val y1 = math.min(h, math.max(y0 + 1, (cy + 1) * h / rows))
      var cx = 0
      while (cx < cols) {
        val x0 = cx * w / cols
        val x1 = math.min(w, math.max(x0 + 1, (cx + 1) * w / cols))
        var s = 0.0
        var n = 0
        var y = math.min(y0, h - 1)
        while (y < y1) {
          var x = math.min(x0, w - 1)
          while (x < x1) {
            val rgb = pixels(y * w + x)
            s += 0.299 * ((rgb >> 16) & 0xFF) + 0.587 * ((rgb >> 8) & 0xFF) +
              0.114 * (rgb & 0xFF)
            n += 1
            x += 1
          }
          y += 1
        }
        cell(cy)(cx) = s / math.max(1, n)
        cx += 1
      }
      cy += 1
    }
    var bits = 0L
    cy = 0
    while (cy < rows) {
      var cx = 0
      while (cx < 8) {
        if (cell(cy)(cx + 1) > cell(cy)(cx)) bits |= 1L << (cy * 8 + cx)
        cx += 1
      }
      cy += 1
    }
    bits
  }

  /** (id, bmp-bytes) → (id, 64-bit dHash) — decode + hash fused in one
    * row-local pass; only the 8-byte fingerprint leaves the partition. */
  def dhashBmp(media: DataFrame, idCol: String, dataCol: String): DataFrame = {
    val f = udf { (data: Array[Byte]) =>
      val (w, h, px) = decodeBmp24Pixels(data)
      dHash64(w, h, px)
    }
    media.select(col(idCol), f(col(dataCol)).as("dhash"))
  }

  /** RIFF/WAVE 16-bit PCM → (sampleRate, samples) — the raw-sample
    * sibling of [[decodeWavPcm16]]'s stats decode, for fingerprinting. */
  private[graft] def decodeWavPcm16Samples(d: Array[Byte]): (Int, Array[Short]) = {
    var i = 12
    var sampleRate = 0
    var dataOff = -1
    var dataLen = 0
    while (i + 8 <= d.length) {
      val id = new String(d, i, 4, "US-ASCII")
      val len = u32le(d, i + 4)
      if (id == "fmt ") {
        require(u16le(d, i + 8) == 1 && u16le(d, i + 8 + 14) == 16,
          "wav: only 16-bit PCM supported")
        sampleRate = u32le(d, i + 8 + 4)
      } else if (id == "data") { dataOff = i + 8; dataLen = len }
      i += 8 + len + (len & 1)
    }
    require(sampleRate > 0 && dataOff >= 0, "wav: missing fmt/data chunk")
    val n = dataLen / 2
    val out = new Array[Short](n)
    var k = 0
    while (k < n) { out(k) = u16le(d, dataOff + 2 * k).toShort; k += 1 }
    (sampleRate, out)
  }

  /** 64-bit audio energy-difference hash — the dHash analog for the
    * audio modality (chromaprint-flavor, spectral-free): the sample
    * stream is box-averaged into 65 equal frames of mean energy (x²),
    * one bit per adjacent-frame comparison. Invariant under uniform
    * gain (scaling every sample preserves energy ORDER, modulo
    * re-quantization at the ±1-LSB level) — the audio analog of dHash's
    * brightness invariance — and length-normalized by the fixed frame
    * grid. Short clips reuse samples across frames (the dHash guard).
    * Pairs come from the same [[Dedup.hammingBandedPairs]] machinery. */
  def aHash64(samples: Array[Short]): Long = {
    val frames = 65
    val n = samples.length
    if (n == 0) return 0L
    val e = new Array[Double](frames)
    var f = 0
    while (f < frames) {
      val s0 = math.min(f * n / frames, n - 1)
      val s1 = math.min(n, math.max(s0 + 1, (f + 1) * n / frames))
      var s = 0.0
      var i = s0
      while (i < s1) { val x = samples(i).toDouble; s += x * x; i += 1 }
      e(f) = s / (s1 - s0)
      f += 1
    }
    var bits = 0L
    f = 0
    while (f < 64) {
      if (e(f + 1) > e(f)) bits |= 1L << f
      f += 1
    }
    bits
  }

  /** (id, wav-bytes) → (id, 64-bit aHash) — decode + hash fused
    * row-locally, as [[dhashBmp]]. */
  def ahashWav(media: DataFrame, idCol: String, dataCol: String): DataFrame = {
    val f = udf { (data: Array[Byte]) =>
      val (_, samples) = decodeWavPcm16Samples(data)
      aHash64(samples)
    }
    media.select(col(idCol), f(col(dataCol)).as("ahash"))
  }

  /** Deterministic pseudo-random 16-bit mono PCM WAV for the
    * audio-dedup fixtures. `gainPct` applies an integer uniform gain —
    * the canonical "same recording, different level" perturbation
    * aHash64 absorbs (use ≤100 to avoid clipping). */
  def syntheticWav(key: Long, nSamples: Int = 2048, gainPct: Int = 100): Array[Byte] = {
    val data = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val raw = ((mix64(key, i, 0, 0) & 0xFFFFL) - 32768L).toInt
      val v = math.max(-32768, math.min(32767, raw * gainPct / 100))
      data(2 * i) = (v & 0xFF).toByte
      data(2 * i + 1) = ((v >> 8) & 0xFF).toByte
      i += 1
    }
    val sampleRate = 16000
    val byteRate = sampleRate * 2
    "RIFF".getBytes ++ le32(36 + data.length) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(sampleRate) ++
      le32(byteRate) ++ le16(2) ++ le16(16) ++
      "data".getBytes ++ le32(data.length) ++ data
  }

  /** 64-bit TEMPORAL video hash — dHash's rule applied along time (the
    * last multimodal-dedup form: image=dHash64, audio=aHash64, video=
    * this): the per-frame mean-luma sequence is box-averaged onto a
    * 65-slot temporal grid, one bit per adjacent-slot comparison.
    * Invariances mirror its siblings': uniform brightness shifts
    * preserve mean-luma ORDER (dHash's monotone argument), resolution
    * changes wash out in the per-frame MEAN, and — the video-specific
    * one — the fixed temporal grid normalizes FRAME RATE: a re-encode
    * that duplicates every frame (2× fps) box-averages to the identical
    * slot means, so it hashes bit-identically (spec-pinned). Videos
    * shorter than the grid reuse frames across slots (the dHash/aHash64
    * guard). Spatially blind by design — two videos whose per-frame
    * means agree collide; the spatial granularity is llm_phash_pairs'
    * per-frame dHash, this is the temporal one. Pairs come from the
    * same [[Dedup.hammingBandedPairs]]. */
  def vHash64(frameLuma: Array[Double]): Long = {
    val slots = 65
    val n = frameLuma.length
    if (n == 0) return 0L
    val e = new Array[Double](slots)
    var f = 0
    while (f < slots) {
      val s0 = math.min(f * n / slots, n - 1)
      val s1 = math.min(n, math.max(s0 + 1, (f + 1) * n / slots))
      var s = 0.0
      var i = s0
      while (i < s1) { s += frameLuma(i); i += 1 }
      e(f) = s / (s1 - s0)
      f += 1
    }
    var bits = 0L
    f = 0
    while (f < 64) {
      if (e(f + 1) > e(f)) bits |= 1L << f
      f += 1
    }
    bits
  }

  /** Mean luma (the dHash64 weights) of one packed-RGB frame. */
  private def frameMeanLuma(pixels: Array[Int]): Double = {
    var s = 0.0
    var k = 0
    while (k < pixels.length) {
      val rgb = pixels(k)
      s += 0.299 * ((rgb >> 16) & 0xFF) + 0.587 * ((rgb >> 8) & 0xFF) +
        0.114 * (rgb & 0xFF)
      k += 1
    }
    s / math.max(1, pixels.length)
  }

  /** (id, avi-bytes) → (id, 64-bit vHash) — container walk + per-frame
    * decode + luma reduction + temporal hash fused in ONE row-local
    * pass (the [[dhashBmp]]/[[ahashWav]] contract: frames never leave
    * the partition, only the 8-byte fingerprint shuffles). */
  def vhashAvi(media: DataFrame, idCol: String, dataCol: String): DataFrame = {
    val f = udf { (data: Array[Byte]) =>
      val frames = graft.functions.Avi.decodeFrames(data)
      vHash64(frames.iterator.map(fr => frameMeanLuma(fr.pixels)).toArray)
    }
    media.select(col(idCol), f(col(dataCol)).as("vhash"))
  }

  /** Deterministic pseudo-random w×h uncompressed AVI for the video-dedup
    * fixtures — [[syntheticImageBmp]]'s mix64 content extended with a
    * frame axis (key offset per frame by a large odd constant, so frames
    * are mutually independent and videos have independent temporal
    * fingerprints). `brighten` is the canonical re-render perturbation
    * (clamped uniform shift); `dupFrames` writes every frame twice (a 2×
    * frame-rate re-encode — must hash identically under [[vHash64]]). */
  def syntheticVideoAvi(key: Long, nFrames: Int = 130, w: Int = 8, h: Int = 8,
                        brighten: Int = 0, dupFrames: Boolean = false): Array[Byte] = {
    def frame(f: Int): Array[Int] = {
      val fKey = key + (f + 1) * 0x9E3779B97F4A7C15L
      val px = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          def ch(c: Int) = math.min(255, mixByte(fKey, x, y, c) + brighten)
          px(y * w + x) = (ch(2) << 16) | (ch(1) << 8) | ch(0)
          x += 1
        }
        y += 1
      }
      px
    }
    val frames = (0 until nFrames).flatMap { f =>
      val p = frame(f)
      if (dupFrames) Seq(p, p) else Seq(p)
    }
    graft.functions.Avi.write(w, h, rawFrames = frames)
  }

  /** Deterministic 2×2 RGB PNG with the SAME pixel formula as
    * [[syntheticBmp]] (channel c of pixel (x, y) = (key*37 + y*16 + x*4
    * + c) mod 256, c: 0=B 1=G 2=R) — PNG is lossless, so the decoder must
    * recover the exact channel values and the BMP oracle arithmetic
    * carries over unchanged. */
  def syntheticPng(key: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    def ch(x: Int, y: Int, c: Int): Int = ((key * 37 + y * 16 + x * 4 + c) % 256).toInt
    for (y <- 0 until 2; x <- 0 until 2)
      img.setRGB(x, y, (ch(x, y, 2) << 16) | (ch(x, y, 1) << 8) | ch(x, y, 0))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Deterministic synthetic media table for tests (derived from the
    * documents table so it exists at every SF). */
  def syntheticMedia(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.core.Tables(spark, dir, "documents")
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast(IntegerType)).as("modality"),
      col("text").cast(BinaryType).as("data"),
      lit("application/octet-stream").as("mime"),
      lit(64).as("width"), lit(64).as("height"),
      (col("n_chars") * 10).as("duration_ms"))
  }
}
