package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: media (image/audio/video) as opaque `binary`
  * columns with typed metadata, processed per-partition in batches.
  *
  * IMAGE decode is REAL: PNG/JPEG/GIF/BMP bytes are decoded with the JDK's
  * `javax.imageio` (zero extra dependencies) into width/height/pixel
  * features. AUDIO decode is REAL for 16-bit PCM WAVs: the RIFF container
  * is parsed and the raw samples analyzed ([[graft.functions.WavUtil]] —
  * PCM needs no codec library). Bytes that are neither (video/synthetic
  * test payloads) fall back to the clearly-marked deterministic stub
  * (`fakeDecode`) so the pipeline shape stays total; swapping in further
  * codecs changes one function, not the pipeline.
  */
object MultimodalOps {

  // ImageIO's default stream cache is FILE-backed: every read/write of an
  // in-memory image round-trips through a temp file on local disk. All
  // media here lives in byte arrays, so switch the JVM to the in-memory
  // cache — identical bytes decoded/encoded, zero per-row disk I/O.
  // Exposed as an explicit idempotent entry point (only a read of the
  // setting when already off) so any codepath that reaches ImageIO WITHOUT
  // touching this object — e.g. a fixture generator's serialized lambda
  // on a remote executor — can force it provably before first use; the
  // object initializer below covers every MultimodalOps method itself.
  // This deliberately mutates process-global ImageIO state: the engine
  // never decodes through files, so the in-memory cache is strictly
  // better for every ImageIO user it hosts.
  private[graft] def ensureInMemoryImageIO(): Unit =
    if (javax.imageio.ImageIO.getUseCache) javax.imageio.ImageIO.setUseCache(false)
  ensureInMemoryImageIO()

  /** Cheap magic-byte sniff: only bytes that claim to be a decodable image
    * format are handed to ImageIO (sniffing first keeps the non-image fast
    * path allocation-free). */
  private[ops] def looksLikeImage(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && (
      (bytes(0) == 0x89.toByte && bytes(1) == 0x50) ||               // PNG
      (bytes(0) == 0xff.toByte && bytes(1) == 0xd8.toByte) ||        // JPEG
      (bytes(0) == 'B' && bytes(1) == 'M') ||                        // BMP
      (bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F'))       // GIF

  /** REAL image decode (JDK ImageIO): bytes → (width, height, 8 features =
    * mean luminance in [0,1] over a 4x2 grid). None for anything that does
    * not decode — callers fall back to the stub path. */
  private[ops] def decodeImage(bytes: Array[Byte]): Option[(Int, Int, Array[Float])] = {
    if (!looksLikeImage(bytes)) return None
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) return None
      val w = img.getWidth
      val h = img.getHeight
      val sums = new Array[Double](8)
      val counts = new Array[Int](8)
      var y = 0
      while (y < h) {
        val rowCell = 4 * math.min(1, y * 2 / h)
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
            (rgb & 0xff) * 114) / 1000.0 / 255.0
          val cell = rowCell + math.min(3, x * 4 / w)
          sums(cell) += lum
          counts(cell) += 1
          x += 1
        }
        y += 1
      }
      val feats = new Array[Float](8)
      var i = 0
      while (i < 8) {
        feats(i) = if (counts(i) > 0) (sums(i) / counts(i)).toFloat else 0f
        i += 1
      }
      Some((w, h, feats))
    } catch { case _: Exception => None }
  }

  /** Output schema contract of the decode stage. The decoder always emits
    * a features array; the column is declared nullable because that is
    * what a typed Dataset pipeline naturally carries for reference-typed
    * fields (tightening it would require an extra plan node for zero
    * semantic gain). */
  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("byte_len", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("features", ArrayType(FloatType), nullable = true)))

  /** REAL audio decode for 16-bit integer-PCM WAVs (container parsed by
    * [[graft.functions.WavUtil]] — no codec library needed, the payload IS
    * the samples): one frame per sample, features = per-window RMS over 8
    * equal time windows normalized to [0,1]. None for anything that is not
    * a 16-bit PCM WAV — those fall through to the stub. */
  private[ops] def decodeAudio(bytes: Array[Byte]): Option[(Int, Array[Float])] = {
    val p = graft.functions.WavUtil.parse(bytes)
    if (p == null || p(0) != 1 || p(3) != 16) return None
    val off = p(4)
    val n = p(5) / 2
    val feats = new Array[Float](8)
    var w = 0
    while (w < 8) {
      val lo = (n.toLong * w / 8).toInt
      val hi = (n.toLong * (w + 1) / 8).toInt
      var sumSq = 0.0
      var i = lo
      while (i < hi) {
        val s = ((bytes(off + 2 * i + 1) << 8) | (bytes(off + 2 * i) & 0xff))
        sumSq += s.toDouble * s
        i += 1
      }
      feats(w) = if (hi > lo) (math.sqrt(sumSq / (hi - lo)) / 32768.0).toFloat else 0f
      w += 1
    }
    Some((n, feats))
  }

  private[ops] def looksLikeGif(b: Array[Byte]): Boolean =
    b.length > 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a'

  /** REAL video frame decode for the containers the JDK can walk unaided:
    * animated GIF (ImageIO frame iteration — palette frames are lossless,
    * so decoded pixels are exact) and MJPEG (the raw concatenated-JPEG
    * stream: split on SOI/EOI marker pairs, each part fed to the plain
    * image decoder). Returns the decoded frame rasters, oldest first;
    * None for single-frame media (that is an IMAGE — the image path owns
    * it) and for anything that does not decode. */
  /** Decode-pass counter: how many payloads entered the real video
    * decoder. Exact in local mode (one JVM); per-executor on a cluster.
    * Exists so the near-dup pipeline's one-decode-per-asset discipline is
    * ASSERTABLE (OpsSpec) — a plan change that silently re-runs the
    * decode subtree doubles this, and the spec catches it. */
  val videoDecodeCount = new java.util.concurrent.atomic.AtomicLong()

  private[ops] def decodeVideoFrames(
      bytes: Array[Byte]): Option[Seq[java.awt.image.BufferedImage]] = {
    videoDecodeCount.incrementAndGet()
    if (looksLikeGif(bytes)) {
      try {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return None
        val r = readers.next()
        r.setInput(iis, false, true)
        try {
          val n = r.getNumImages(true)
          if (n < 2) None // single-frame GIF = image
          else Some((0 until n).map(r.read(_)))
        } finally { r.dispose(); iis.close() }
      } catch { case _: Exception => None }
    } else if (bytes.length > 4 && (bytes(0) & 0xff) == 0xff &&
        (bytes(1) & 0xff) == 0xd8) {
      // MJPEG: scan for EOI (FFD9) immediately followed by SOI (FFD8) —
      // each part is a complete baseline JPEG the plain decoder reads
      val cuts = scala.collection.mutable.ArrayBuffer(0)
      var i = 2
      while (i + 3 < bytes.length) {
        if ((bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xff) == 0xd9 &&
            (bytes(i + 2) & 0xff) == 0xff && (bytes(i + 3) & 0xff) == 0xd8) {
          cuts += i + 2
          i += 2
        }
        i += 1
      }
      if (cuts.length < 2) None // one JPEG = image
      else try {
        val bounds = cuts.toSeq :+ bytes.length
        val frames = bounds.sliding(2).map { case Seq(a, b) =>
          javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
            java.util.Arrays.copyOfRange(bytes, a, b)))
        }.toSeq
        if (frames.exists(_ == null)) None else Some(frames)
      } catch { case _: Exception => None }
    } else None
  }

  /** Encode rasters as one animated GIF (ImageIO write sequence) — the
    * planted-fixture twin of [[decodeVideoFrames]]'s GIF path, the same
    * way WavUtil.encodeMono feeds the WAV decoder: tests/queries plant
    * real containers with formula-derived pixels, decode them with the
    * real walker, and check pixels exactly (GIF palettes are lossless
    * for solid frames). */
  def encodeAnimatedGif(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
    require(frames.nonEmpty, "encodeAnimatedGif needs at least one frame")
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    frames.foreach { img =>
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    bos.toByteArray
  }

  /** Per-frame pixel fingerprints from REAL video decode: one row per
    * decoded frame with its dimensions, top-left pixel (packed 0xRRGGBB —
    * proves pixels were decoded, the m05 discipline) and a packed
    * fingerprint `fhash = (w << 44) | (h << 24) | rgb0`. Map-only
    * per-partition decode; media that is not a multi-frame container
    * emits no rows. The SQL-expressible fingerprint is what lets an
    * exact oracle replay the whole near-dup pipeline from the planted
    * pixel formula. */
  def videoFrameTable(df: DataFrame, idCol: String, mediaCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(mediaCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          decodeVideoFrames(bytes).toSeq.flatMap(_.zipWithIndex.map {
            case (img, fi) =>
              val w = img.getWidth
              val h = img.getHeight
              val rgb0 = img.getRGB(0, 0) & 0xffffff
              val fhash = (w.toLong << 44) | (h.toLong << 24) | rgb0.toLong
              (id, fi, w, h, rgb0, fhash)
          })
        }
      }
      .toDF("media_id", "frame_idx", "width", "height", "rgb0", "fhash")
  }

  /** VIDEO near-dup pairs over DECODED frame fingerprints: assets pair
    * when they share >= `minShared` distinct decoded-frame fingerprints
    * ([[videoFrameTable]]) — trims and re-containered uploads of the same
    * footage pair because the PIXELS collide, not the bytes (an MJPEG
    * re-mux of a GIF pairs; byte-level hashing never can). Same scale
    * shape as every dedup candidate stage: df-cap drops ubiquitous
    * frames (test cards, black frames) before the inverted-index join. */
  def decodedVideoNearDupPairs(df: DataFrame, idCol: String, mediaCol: String,
      minShared: Int = 2, maxDf: Int = 32): DataFrame = {
    // persist: the decoded fingerprint frame feeds the df-count
    // aggregate, the left-semi join, and both sides of the self-join —
    // pinned explicitly so the REAL ImageIO decode in videoFrameTable
    // runs once regardless of whether the optimizer's exchange reuse
    // fires (the cdcNearDupPairs discipline; an optimizer change must
    // not be able to silently double the decode cost).
    val f = videoFrameTable(df, idCol, mediaCol)
      .select(col("media_id"), col("fhash")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rare = f.groupBy("fhash")
      .agg(count(lit(1)).as("df")).filter(col("df") <= maxDf)
      .select("fhash")
    val ff = f.join(rare, Seq("fhash"), "left_semi")
    val pairs = ff.as("x").join(ff.as("y"), "fhash")
      .filter(col("x.media_id") < col("y.media_id"))
      .groupBy(col("x.media_id").as("a"), col("y.media_id").as("b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      // EAGER checkpoint of the (tiny) pair list so the fingerprint
      // cache can be released here instead of leaking for the session
      .localCheckpoint(true)
    f.unpersist()
    pairs
  }

  /** STUB decoder for UNKNOWN byte kinds only: deterministic
    * pseudo-features from the raw bytes, keeping the pipeline total over
    * media no JDK-native decoder covers (compressed video codecs —
    * H.264 etc. — would need a codec library this container lacks). The
    * signature (bytes in, frame count + feature vector out) is the real
    * contract; images take [[decodeImage]], 16-bit PCM WAV audio takes
    * [[decodeAudio]], and multi-frame GIF / MJPEG video takes
    * [[decodeVideoFrames]] — all on real pixels/samples. */
  private[ops] def fakeDecode(bytes: Array[Byte]): (Int, Array[Float]) = {
    val frameSize = 64
    val nFrames = bytes.length / frameSize + 1
    var h = 1125899906842597L
    val feats = new Array[Float](8)
    var i = 0
    while (i < bytes.length) { h = h * 31 + bytes(i); i += 1 }
    var f = 0
    while (f < 8) {
      // spread the rolling hash into [0,1) per feature slot
      feats(f) = (((h >>> (f * 8)) & 0xff).toFloat) / 256.0f
      f += 1
    }
    (nFrames, feats)
  }

  /** Batch decode/feature-extract over a media frame:
    * (id, media binary) → featureSchema rows. Runs as per-partition
    * imperative batch work — the one place `mapPartitions` is the right
    * tool (SURVEY §2.3 preference order (d)) because decoding is opaque
    * byte crunching no SQL expression can represent. */
  def decodeFeatures(df: DataFrame, idCol: String, mediaCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(mediaCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          // real decodes first — multi-frame video (GIF/MJPEG; checked
          // BEFORE the image sniff, which would claim a GIF's first
          // frame), images (1 frame, pixel-grid features), PCM WAV audio
          // (per-sample frames, windowed RMS features); remaining media
          // falls back to the deterministic stub
          decodeVideoFrames(bytes) match {
            case Some(frames) =>
              // features = mean decoded luminance per temporal window
              // (8 equal windows over the frame sequence) — the video
              // analog of the audio path's windowed RMS envelope
              val perFrame = frames.map { img =>
                var sum = 0.0
                var y = 0
                while (y < img.getHeight) {
                  var x = 0
                  while (x < img.getWidth) {
                    val rgb = img.getRGB(x, y)
                    sum += (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
                      (rgb & 0xff) * 114) / 1000.0 / 255.0
                    x += 1
                  }
                  y += 1
                }
                sum / (img.getWidth * img.getHeight)
              }
              val feats = new Array[Float](8)
              var wdw = 0
              while (wdw < 8) {
                val lo = perFrame.length * wdw / 8
                val hi = perFrame.length * (wdw + 1) / 8
                feats(wdw) =
                  if (hi > lo) (perFrame.slice(lo, hi).sum / (hi - lo)).toFloat
                  else 0f
                wdw += 1
              }
              (id, bytes.length, frames.length, feats.toSeq)
            case None => decodeImage(bytes) match {
              case Some((_, _, feats)) => (id, bytes.length, 1, feats.toSeq)
              case None => decodeAudio(bytes) match {
                case Some((nFrames, feats)) => (id, bytes.length, nFrames, feats.toSeq)
                case None =>
                  val (nFrames, feats) = fakeDecode(bytes)
                  (id, bytes.length, nFrames, feats.toSeq)
              }
            }
          }
        }
      }
      .toDF(featureSchema.fieldNames.toSeq: _*)
      // typed Dataset mapPartitions (Tungsten-encoded both sides, no RDD
      // drop-down); cast restores the exact declared contract (float array,
      // non-null flags)
      .select(featureSchema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
  }

  /** Image metadata extraction via REAL decode: (media_id, width, height,
    * top_left_rgb) — top-left pixel as packed 0xRRGGBB proves PIXELS were
    * decoded, not just a header sniffed. Null columns for media that does
    * not decode as an image. */
  def imageMeta(df: DataFrame, idCol: String, mediaCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(mediaCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          if (!looksLikeImage(bytes)) (id, None: Option[Int], None: Option[Int], None: Option[Int])
          else
            try {
              val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
              if (img == null) (id, None: Option[Int], None: Option[Int], None: Option[Int])
              else (id, Some(img.getWidth), Some(img.getHeight),
                Some(img.getRGB(0, 0) & 0xffffff))
            } catch {
              case _: Exception => (id, None: Option[Int], None: Option[Int], None: Option[Int])
            }
        }
      }
      .toDF("media_id", "width", "height", "top_left_rgb")
  }

  /** PERCEPTUAL average-hash (aHash) over real decoded rasters: the image
    * is nearest-neighbor resampled onto an `side`×`side` grid, each cell
    * reduced to integer luma (ITU-R 601 in integer arithmetic:
    * (299·R + 587·G + 114·B) / 1000 — deterministic, no floats), and each
    * cell emits one bit of the packed hash: 1 iff its luma >= the grid
    * mean (integer division). Identical rasters hash identically no
    * matter how they were re-encoded, near-identical rasters land within
    * small Hamming distance — the standard cheap image near-dup key,
    * pairable with [[graft.ops.SimilarityOps.hammingTopK]]'s bit_count
    * ranking. Map-only per-partition batches; None for undecodable
    * media. */
  def imagePerceptualHash(df: DataFrame, idCol: String, mediaCol: String,
      side: Int = 8): DataFrame = {
    require(side >= 2 && side * side <= 64, s"side^2 must fit 64 bits, got $side")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(mediaCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          if (!looksLikeImage(bytes)) (id, None: Option[Long])
          else
            try {
              val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
              if (img == null) (id, None: Option[Long])
              else {
                val (w, h) = (img.getWidth, img.getHeight)
                val luma = new Array[Long](side * side)
                var i = 0
                while (i < side * side) {
                  // nearest-neighbor sample of cell (gx, gy)
                  val gx = (i % side) * w / side
                  val gy = (i / side) * h / side
                  val rgb = img.getRGB(gx, gy)
                  val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
                  luma(i) = (299L * r + 587L * g + 114L * b) / 1000L
                  i += 1
                }
                val mean = luma.sum / (side * side)
                var hash = 0L
                i = 0
                while (i < side * side) {
                  if (luma(i) >= mean) hash |= 1L << i
                  i += 1
                }
                (id, Some(hash))
              }
            } catch {
              case _: Exception => (id, None: Option[Long])
            }
        }
      }
      .toDF("media_id", "phash")
  }

  /** AUDIO near-dup fingerprint: energy-envelope hash over REAL decoded
    * s16le mono WAV — mean |amplitude| per time window, thresholded at
    * the envelope mean and packed into one long (the audio analog of
    * [[imagePerceptualHash]]'s aHash). Loudness-structure-derived, so
    * re-containered or globally-rescaled copies of the same material
    * collide while different envelopes separate. Map-only per-partition
    * batches, 8 bytes out per asset; clustering/ranking composes with the
    * same hamming machinery as images (s12). Non-WAV / non-s16le-mono
    * assets emit a null hash (pipeline stays total over mixed media). */
  def audioEnvelopeHash(df: DataFrame, idCol: String, mediaCol: String,
      windows: Int = 16): DataFrame = {
    require(windows >= 2 && windows <= 64, s"windows must fit 64 bits, got $windows")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(mediaCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val p = graft.functions.WavUtil.parse(bytes)
          if (p == null || p(0) != 1 || p(1) != 1 || p(3) != 16)
            (id, None: Option[Long])
          else {
            val off = p(4)
            val n = p(5) / 2
            if (n < windows) (id, None: Option[Long])
            else {
              val env = new Array[Long](windows)
              val cnt = new Array[Long](windows)
              var i = 0
              while (i < n) {
                val s = ((bytes(off + 2 * i) & 0xff) |
                  (bytes(off + 2 * i + 1) << 8)).toShort
                val w = (i.toLong * windows / n).toInt
                env(w) += math.abs(s.toLong); cnt(w) += 1
                i += 1
              }
              var j = 0
              while (j < windows) { env(j) /= math.max(1L, cnt(j)); j += 1 }
              val mean = env.sum / windows
              var hash = 0L
              j = 0
              while (j < windows) { if (env(j) >= mean) hash |= 1L << j; j += 1 }
              (id, Some(hash))
            }
          }
        }
      }
      .toDF("media_id", "ehash")
  }

  /** Resize: REAL nearest-neighbor downscale + PNG re-encode for decodable
    * images (deterministic — no interpolation, no float resampling); the
    * byte-skip STUB transform for everything else, so the pipeline stays
    * total over mixed media. Output contract either way: binary in,
    * smaller binary + typed metadata out, per-partition batches. */
  def resize(df: DataFrame, idCol: String, mediaCol: String,
      factor: Int = 4): DataFrame = {
    require(factor >= 1, s"resize factor must be >= 1, got $factor")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(mediaCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          resizeImage(bytes, factor) match {
            case Some(out) => (id, bytes.length, out.length, out)
            case None =>
              val out = new Array[Byte]((bytes.length + factor - 1) / factor)
              var i = 0
              while (i < out.length) { out(i) = bytes(i * factor); i += 1 }
              (id, bytes.length, out.length, out)
          }
        }
      }
      .toDF("media_id", "orig_len", "resized_len", "resized")
  }

  /** Nearest-neighbor downscale by an integer factor, re-encoded as PNG
    * (lossless, so round-trip checks are exact). None for non-images. */
  private[ops] def resizeImage(bytes: Array[Byte], factor: Int): Option[Array[Byte]] = {
    if (!looksLikeImage(bytes)) return None
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) return None
      val w = math.max(1, img.getWidth / factor)
      val h = math.max(1, img.getHeight / factor)
      val out = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          out.setRGB(x, y, img.getRGB(x * factor, y * factor))
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos)
      Some(bos.toByteArray)
    } catch { case _: Exception => None }
  }

  /** Frame sampling for video-like media: every `stride`-th fixed-size
    * frame, at most `maxFrames` per document — the standard shape for
    * sampling training frames out of long media without decoding all of it.
    * Stays in the typed Dataset world (`Dataset.mapPartitions` with tuple
    * encoders — no RDD drop-down, Tungsten-encoded both sides); the frame
    * SLICING is real byte work, only interpretation of the bytes would need
    * a codec. One output row per sampled frame: (media_id, frame_idx,
    * frame_len, first_byte). */
  /** Per-FRAME content fingerprints for video-like binary columns: sample
    * up to `maxFrames` frames every `stride` frames of `frameSize` bytes
    * and md5 each frame's bytes — one (media_id, frame_idx, fhash) row per
    * sampled frame. Fully declarative (sequence/explode + binary substring
    * + md5, all codegen'd — no UDF, no mapPartitions): at 100 TB the
    * explode is map-only and the output is ~33 bytes per sampled frame.
    * The byte-slice "frame" stands in for a real codec's keyframe decode
    * (not in this container — see the module doc); the sampling/hashing
    * plumbing is the real, tested surface. */
  def frameFingerprints(df: DataFrame, idCol: String, mediaCol: String,
      frameSize: Int = 32, stride: Int = 1, maxFrames: Int = 16): DataFrame =
    df.select(col(idCol).cast(LongType).as("media_id"), col(mediaCol).as("m"))
      .select(col("media_id"), col("m"),
        explode(sequence(lit(0), lit(maxFrames - 1))).as("i"))
      .select(col("media_id"), col("m"), (col("i") * stride).as("frame_idx"))
      .filter(col("frame_idx") * frameSize < length(col("m")))
      .select(col("media_id"), col("frame_idx").cast("int").as("frame_idx"),
        md5(expr(s"substring(m, cast(frame_idx * $frameSize as int) + 1, $frameSize)"))
          .as("fhash"))

  /** VIDEO near-dup pairs by shared-frame overlap: two assets pair when
    * they share at least `minShared` distinct frame fingerprints — the
    * shot-level containment measure that catches re-cuts, trims and
    * shifted copies exact-file hashing misses. Inverted index on fhash
    * (the d04/d11 shape): ubiquitous frames — intros, color bars, black
    * frames — are dropped by the `maxDf` document-frequency cap BEFORE
    * the self-join, so no bucket explodes; the candidate join is linear
    * in (frames × capped df), never all-pairs. Returns (a, b, shared). */
  def videoNearDupPairs(df: DataFrame, idCol: String, mediaCol: String,
      frameSize: Int = 32, stride: Int = 1, maxFrames: Int = 16,
      minShared: Int = 4, maxDf: Int = 32): DataFrame = {
    val f = frameFingerprints(df, idCol, mediaCol, frameSize, stride, maxFrames)
      .select(col("media_id"), col("fhash")).distinct()
    val rare = f.groupBy("fhash")
      .agg(count(lit(1)).as("df")).filter(col("df") <= maxDf)
      .select("fhash")
    val ff = f.join(rare, Seq("fhash"), "left_semi")
    ff.as("x").join(ff.as("y"), "fhash")
      .filter(col("x.media_id") < col("y.media_id"))
      .groupBy(col("x.media_id").as("a"), col("y.media_id").as("b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  // ------------------------------------------- content-defined chunking
  // Gear table for the rolling hash: 256 deterministic 64-bit values from
  // a fixed SplitMix64 walk (public-domain constant), so chunk boundaries
  // are reproducible across engines, runs and partitions.
  private[ops] val Gear: Array[Long] = {
    var x = 0x9e3779b97f4a7c15L
    Array.fill(256) {
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
  }

  /** The gear table's low 4 bits as a SQL array literal — all an external
    * engine needs to replay maskBits<=4 boundary decisions: the boundary
    * test `(h & mask) == 0` with `h = (h << 1) + Gear(b)` only ever reads
    * the low `maskBits` bits of the last `maskBits` gear values (terms
    * shifted left by >= maskBits contribute nothing mod 2^maskBits, and
    * addition carries propagate upward only). This is what makes the m11
    * DuckDB oracle possible without per-byte 64-bit arithmetic. */
  private[graft] def gearLow4Literal: String =
    Gear.map(g => (g & 15L).toString).mkString("[", ",", "]")

  /** Content-defined chunks of a byte payload (gear rolling hash, the
    * FastCDC shape): a boundary falls wherever the rolling hash masks to
    * zero past `minSize` bytes — so boundaries are determined by CONTENT,
    * not position, and an insertion or deletion only perturbs the chunk it
    * lands in; everything downstream re-synchronizes. Returns each chunk's
    * FNV-1a hash. This is what fixed-frame fingerprints ([[frameFingerprints]])
    * structurally cannot do: one inserted byte shifts every later frame. */
  private[ops] def cdcChunkHashes(bytes: Array[Byte], minSize: Int,
      maskBits: Int): Seq[Long] = {
    val mask = (1L << maskBits) - 1
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var start = 0
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h << 1) + Gear(bytes(i) & 0xff)
      if (i - start + 1 >= minSize && (h & mask) == 0L) {
        out += fnv1a(bytes, start, i + 1)
        start = i + 1
        h = 0L
      }
      i += 1
    }
    if (start < bytes.length) out += fnv1a(bytes, start, bytes.length)
    out.toSeq
  }

  private def fnv1a(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Binary near-dup pairs by shared CONTENT-DEFINED chunks: assets pair
    * when they share >= `minShared` distinct chunk hashes. Because
    * boundaries are content-derived, inserted/deleted spans only kill the
    * chunks they touch — trims, splices and prepended headers all still
    * pair, where fixed-frame hashing ([[videoNearDupPairs]]) loses every
    * frame after the edit point. Same scale shape as the frame path:
    * map-only chunking (mapPartitions — per-byte rolling state), df-cap
    * drops ubiquitous chunks before the inverted-index join. */
  def cdcNearDupPairs(df: DataFrame, idCol: String, mediaCol: String,
      minSize: Int = 24, maskBits: Int = 5,
      minShared: Int = 4, maxDf: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // persist: the chunk frame feeds the df-count aggregate, the
    // left-semi join, and both sides of the self-join — without it each
    // use re-runs the per-byte gear hashing over every payload (3x the
    // scan+hash cost at 100 TB). Same discipline as editDistancePairs'
    // persisted shingle stage (DedupOps.scala).
    val f = df.select(col(idCol).cast(LongType), col(mediaCol))
      .filter(col(mediaCol).isNotNull) // match the frame path's null-tolerance
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        cdcChunkHashes(bytes, minSize, maskBits).distinct.map(h => (id, h))
      })
      .toDF("media_id", "chash")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rare = f.groupBy("chash")
      .agg(count(lit(1)).as("df")).filter(col("df") <= maxDf)
      .select("chash")
    val ff = f.join(rare, Seq("chash"), "left_semi")
    val pairs = ff.as("x").join(ff.as("y"), "chash")
      .filter(col("x.media_id") < col("y.media_id"))
      .groupBy(col("x.media_id").as("a"), col("y.media_id").as("b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      // EAGER checkpoint of the (tiny, density-proportional) pair list so
      // the chunk cache can be released HERE instead of leaking for the
      // session lifetime — the unpersist discipline ClusterOps uses for
      // its persisted edges
      .localCheckpoint(true)
    f.unpersist()
    pairs
  }

  def sampleFrames(df: DataFrame, idCol: String, mediaCol: String,
      frameSize: Int = 64, stride: Int = 4, maxFrames: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(mediaCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          Iterator.range(0, maxFrames)
            .map(_ * stride)
            .takeWhile(fi => fi * frameSize < bytes.length)
            .map { fi =>
              val start = fi * frameSize
              val len = math.min(frameSize, bytes.length - start)
              (id, fi, len, bytes(start) & 0xff)
            }
        }
      }
      .toDF("media_id", "frame_idx", "frame_len", "first_byte")
  }
}
