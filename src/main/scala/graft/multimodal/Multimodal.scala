package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (BASELINE.json north-star): image/audio/video
  * payloads as opaque `binary` columns with typed metadata, plus
  * partition-batched feature extraction.
  *
  * The Spark-side mechanics — schema, encoders, partition batching, UDF
  * signature — are real and tested, and so are all three media paths:
  * PNG through the JDK's imageio codec (ImageCodec), WAV columnar
  * (AudioWav), and the GRAV frame-indexed video container (VideoCodec —
  * real index seek + per-frame PNG decode). Only exotic EXTERNAL codecs
  * (H.264 and friends) stay behind the pluggable `MediaDecoder` stub; a
  * production deployment swaps `DeterministicFakeDecoder` for a
  * JNI/javacv-backed implementation without touching the plumbing.
  *
  * Scale notes: media rows are large (MBs); keep
  * `spark.sql.files.maxPartitionBytes` sized so one partition holds a few
  * hundred rows, and never collect payloads. Feature extraction is
  * `mapPartitions` so decoder init (model load, codec contexts) amortizes
  * per partition, mirroring how the reference builds Tika/CoreNLP once
  * per participant (reference: participants/implementations.kt:64, 99).
  */
object Multimodal {

  case class MediaMeta(mime: String, width: Int, height: Int, durationMs: Long)
  case class MediaRecord(media_id: Long, payload: Array[Byte], meta: MediaMeta)
  case class MediaFeatures(media_id: Long, mime: String, n_bytes: Long,
      content_hash: Long, feature: Array[Float])

  /** Pluggable decode step. Implementations MUST be deterministic given
    * the payload (the pipeline replays idempotently, like every reference
    * participant). */
  trait MediaDecoder extends Serializable {
    def features(payload: Array[Byte], meta: MediaMeta): Array[Float]
  }

  /** STUB decoder: a real deployment replaces this with an actual codec.
    * Produces a deterministic 8-dim "embedding" from byte statistics so
    * tests exercise the full plumbing (schema, batching, downstream
    * similarity ops) with stable values. */
  object DeterministicFakeDecoder extends MediaDecoder {
    override def features(payload: Array[Byte], meta: MediaMeta): Array[Float] = {
      val f = new Array[Float](8)
      var i = 0
      while (i < payload.length) {
        f(i % 8) += (payload(i) & 0xFF) / 255.0f
        i += 1
      }
      f
    }
  }

  /** Build a media table from any (id, text) frame by treating the UTF-8
    * bytes as the opaque payload — the shape a binaryFile/object-store
    * source produces. */
  def syntheticMediaFrom(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("media_id"),
      col(textCol).cast("binary").as("payload"),
      struct(
        lit("text/plain").as("mime"),
        lit(0).as("width"), lit(0).as("height"),
        length(col(textCol)).cast("long").as("durationMs")).as("meta"))

  /** Partition-batched feature extraction: one decoder instance per
    * partition, rows streamed through it (never materialized wholesale). */
  def extractFeatures(spark: SparkSession, media: DataFrame,
      decoder: MediaDecoder): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      // decoder init happens here, once per partition
      it.map { r =>
        MediaFeatures(
          media_id = r.media_id,
          mime = r.meta.mime,
          n_bytes = r.payload.length.toLong,
          content_hash = scala.util.hashing.MurmurHash3.bytesHash(r.payload).toLong,
          feature = decoder.features(r.payload, r.meta))
      }
    }
  }

  /** STUB frame sampling: every `stride`-th byte window as a "frame" —
    * the shape (1 media row → N frame rows with ordinals) is the real
    * part; a real sampler decodes the container instead. */
  def sampleFrames(spark: SparkSession, media: DataFrame, stride: Int,
      frameBytes: Int): DataFrame = {
    import spark.implicits._
    media.as[MediaRecord].flatMap { r =>
      r.payload.grouped(stride).zipWithIndex.map { case (window, i) =>
        (r.media_id, i.toLong, window.take(frameBytes), r.meta.mime)
      }
    }.toDF("media_id", "frame_idx", "frame", "mime")
  }

  // ------------------------------------------------- REAL image codec

  /** REAL image path — `javax.imageio` ships IN the JDK, so PNG
    * decode/encode run through an actual lossless codec with no external
    * libraries; only exotic media codecs stay behind the stub decoder.
    * Everything here is deterministic: PNG round-trips pixel-exact. */
  object ImageCodec extends MediaDecoder {

    // ImageIO defaults to a DISK-backed stream cache: every encode/decode
    // through a ByteArrayOutputStream/InputStream creates and deletes a
    // temp file under java.io.tmpdir. Sequentially that is a per-call
    // constant; under 32 concurrent tasks the temp-dir churn serializes
    // (measured on q76 at sf0.1: the spread encode stage ran ~600 ms/task
    // of executor time for ~80 tiny images per task — ~50× the actual
    // encode work; memory-cached streams remove it). These 8×8 images are
    // kilobytes — the disk cache buys nothing at any scale.
    javax.imageio.ImageIO.setUseCache(false)

    def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }

    def decode(bytes: Array[Byte]): java.awt.image.BufferedImage =
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))

    /** 8×8 RGB test-pattern for `id`: channel values are closed-form
      * integer functions of (id, x, y), so an independent engine can
      * compute any decoded-pixel statistic WITHOUT a codec — which is
      * what lets a SQL oracle gate a real encode→decode round-trip. */
    def syntheticPng(id: Long): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          val r = (((id % 1009) * 31 + x * 7 + y * 13) % 256).toInt
          val g = (((id % 1013) * 17 + x * 11 + y * 3) % 256).toInt
          val b = (((id % 997) * 23 + x * 5 + y * 19) % 256).toInt
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      encodePng(img)
    }

    /** [[syntheticPng]] with a per-pixel channel transform applied BEFORE
      * encoding — the planted-perturbation generator of the perceptual-
      * robustness eval (q222): the transform is closed-form, so an
      * independent engine can replay every perturbed pixel. */
    def syntheticPngWith(id: Long)(
        f: (Int, Int, Int, Int, Int) => (Int, Int, Int)): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          val r = (((id % 1009) * 31 + x * 7 + y * 13) % 256).toInt
          val g = (((id % 1013) * 17 + x * 11 + y * 3) % 256).toInt
          val b = (((id % 997) * 23 + x * 5 + y * 19) % 256).toInt
          val (r2, g2, b2) = f(x, y, r, g, b)
          img.setRGB(x, y, (r2 << 16) | (g2 << 8) | b2)
          x += 1
        }
        y += 1
      }
      encodePng(img)
    }

    /** Integer-exact decoded statistics: (width, height, Σr, Σg, Σb). */
    def channelSums(bytes: Array[Byte]): (Int, Int, Long, Long, Long) = {
      val img = decode(bytes)
      var (sr, sg, sb) = (0L, 0L, 0L)
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val p = img.getRGB(x, y)
          sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
          x += 1
        }
        y += 1
      }
      (img.getWidth, img.getHeight, sr, sg, sb)
    }

    /** MediaDecoder over real PNGs: [w, h, meanR, meanG, meanB]. */
    override def features(payload: Array[Byte], meta: MediaMeta): Array[Float] = {
      val (w, h, sr, sg, sb) = channelSums(payload)
      val n = (w.toLong * h).toFloat
      Array(w.toFloat, h.toFloat, sr / n, sg / n, sb / n)
    }

    /** 64-bit average-hash (aHash) of a REAL decoded 8×8 image — the
      * perceptual fingerprint that makes images dedup-able with the
      * SimHash machinery (near-identical images → small hamming
      * distance). Integer-exact by construction: per pixel
      * gray = (r+g+b) div 3, mean = Σgray div 64, bit p = y·8+x set iff
      * gray > mean — every step replayable closed-form by the oracle.
      * Returns (hi, lo) 32-bit halves (a SQL engine cannot build bit 63
      * of a signed BIGINT without overflow; the engine packs
      * (hi << 32) | lo when it wants the single-long SimHash form). */
    def aHash64(bytes: Array[Byte]): (Long, Long, Int) = {
      val img = decode(bytes)
      val w = img.getWidth; val h = img.getHeight
      require(w == 8 && h == 8, s"aHash64 expects 8x8, got ${w}x$h")
      val gray = new Array[Long](64)
      var sum = 0L
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          val p = img.getRGB(x, y)
          val g = (((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)) / 3
          gray(y * 8 + x) = g
          sum += g
          x += 1
        }
        y += 1
      }
      val mean = sum / 64
      var hi = 0L; var lo = 0L; var nSet = 0
      var i = 0
      while (i < 64) {
        if (gray(i) > mean) {
          nSet += 1
          if (i < 32) lo |= (1L << i) else hi |= (1L << (i - 32))
        }
        i += 1
      }
      (hi, lo, nSet)
    }

    /** Image QC statistics through the same decode + per-pixel floor-gray
      * convention as [[aHash64]] (gray = (r+g+b)/3 per pixel, mean =
      * Σgray/64): (mean_gray, min_gray, max_gray) — the
      * exposure/contrast gate of an image-corpus hygiene pass. */
    /** EVERY per-image feature from ONE decode — channel sums, aHash
      * halves, and the QC gray stats ([[channelSums]] + [[aHash64]] +
      * [[qcStats]] fused; identical arithmetic, same floor-gray
      * convention). This is the kernel behind the decode-once media
      * feature artifacts: each of those functions decodes internally, so
      * a query chain touching hash AND QC paid the codec per FUNCTION —
      * and per QUERY. Values are bit-equal to the three separate calls
      * (spec-pinned). */
    def allStats(bytes: Array[Byte]): ImageStatsRow = {
      val img = decode(bytes)
      require(img.getWidth == 8 && img.getHeight == 8,
        s"allStats expects 8x8, got ${img.getWidth}x${img.getHeight}")
      val gray = new Array[Long](64)
      var graySum = 0L
      var mnG = Long.MaxValue
      var mxG = Long.MinValue
      var sr = 0L; var sg = 0L; var sb = 0L
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          val p = img.getRGB(x, y)
          val r = (p >> 16) & 0xFF; val g = (p >> 8) & 0xFF; val b = p & 0xFF
          sr += r; sg += g; sb += b
          val gv = ((r + g + b) / 3).toLong
          gray(y * 8 + x) = gv
          graySum += gv
          if (gv < mnG) mnG = gv
          if (gv > mxG) mxG = gv
          x += 1
        }
        y += 1
      }
      val mean = graySum / 64
      var hi = 0L; var lo = 0L; var nSet = 0L
      var i = 0
      while (i < 64) {
        if (gray(i) > mean) {
          nSet += 1
          if (i < 32) lo |= (1L << i) else hi |= (1L << (i - 32))
        }
        i += 1
      }
      ImageStatsRow(8, 8, sr, sg, sb, hi, lo, nSet, mean, mnG, mxG)
    }

    def qcStats(bytes: Array[Byte]): (Long, Long, Long) = {
      val img = decode(bytes)
      require(img.getWidth == 8 && img.getHeight == 8)
      var sum = 0L
      var mn = Long.MaxValue
      var mx = Long.MinValue
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          val p = img.getRGB(x, y)
          val g = ((((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)) / 3).toLong
          sum += g
          if (g < mn) mn = g
          if (g > mx) mx = g
          x += 1
        }
        y += 1
      }
      (sum / 64, mn, mx)
    }
  }

}

/** Kernel output row for ImageCodec.allStats: every per-image feature
  * from one decode. Top-level so the product encoder resolves without a
  * TypeTag lookup inside the object. */
case class ImageStatsRow(
    width: Int,
    height: Int,
    sum_r: Long,
    sum_g: Long,
    sum_b: Long,
    hash_hi: Long,
    hash_lo: Long,
    n_set: Long,
    mean_gray: Long,
    min_gray: Long,
    max_gray: Long)

/** Kernel output row for VideoCodec.frameFeatures: one decoded frame's
  * FULL feature set (channel sums + aHash) or one error row per corrupt
  * container. */
case class VideoFrameFeatRow(
    media_id: Long,
    frame_idx: Option[Long],
    width: Option[Int],
    height: Option[Int],
    sum_r: Option[Long],
    sum_g: Option[Long],
    sum_b: Option[Long],
    hash_hi: Option[Long],
    hash_lo: Option[Long],
    video_error: Option[String])

/** Kernel output row for VideoCodec.sampleFrames: one decoded frame (or
  * one error row) per record. Top-level so the product encoder resolves
  * without a TypeTag lookup inside the object. */
case class VideoFrameRow(
    media_id: Long,
    frame_idx: Option[Long],
    width: Option[Int],
    height: Option[Int],
    sum_r: Option[Long],
    sum_g: Option[Long],
    sum_b: Option[Long],
    video_error: Option[String])

/** Kernel output row for VideoCodec.sceneCuts: one per-video summary (or
  * error) row. */
case class SceneCutRow(
    media_id: Long,
    n_frames: Option[Long],
    n_cuts: Option[Long],
    max_hamming: Option[Long],
    video_error: Option[String])

/** Kernel output row for VideoCodec.videoSignature: per-video curation
  * signature (or error) row. */
case class VideoSigRow(
    media_id: Long,
    n_frames: Option[Long],
    n_cuts: Option[Long],
    fp_hi: Option[Long],
    fp_lo: Option[Long],
    video_error: Option[String])

/** REAL video-container path — closes the last multimodal stub. No video
  * codec ships in a bare JDK, but a video CONTAINER is just an indexed
  * sequence of frames; this is the GRAV layout (GRFT's audio-video
  * sibling): `GRAV` magic, version, big-endian frame count + fps, an
  * (offset, length) index entry per frame, the concatenated per-frame
  * payloads — each one a genuine PNG through the JDK codec — and a
  * trailing CRC32 of the payload region. So frame SAMPLING (seek the
  * index, slice every stride-th frame, never touch the rest) and frame
  * DECODE (ImageCodec, pixel-exact) are both real operations against a
  * real byte layout, and the closed-form synthetic frames keep every
  * decoded pixel statistic SQL-oracle-replayable. Corrupt containers
  * (bad magic, lying index, payload bit-flips caught by the CRC) isolate
  * per record — A19, the same contract as every other format here. */
object VideoCodec {

  val Fps = 10

  /** GRAV v1: magic(4) ver(1) nFrames(4 BE) fps(4 BE) index[n×(off BE4,
    * len BE4)] payloads crc32(payloads)(4 BE). Offsets are relative to
    * the payload region start. */
  def encode(frames: Seq[Array[Byte]], fps: Int = Fps): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(64 + frames.map(_.length).sum)
    def be32(v: Int): Unit = {
      out.write((v >>> 24) & 0xFF); out.write((v >>> 16) & 0xFF)
      out.write((v >>> 8) & 0xFF); out.write(v & 0xFF)
    }
    out.write('G'); out.write('R'); out.write('A'); out.write('V')
    out.write(1)
    be32(frames.length); be32(fps)
    var off = 0
    frames.foreach { f => be32(off); be32(f.length); off += f.length }
    frames.foreach(f => out.write(f, 0, f.length))
    val crc = new java.util.zip.CRC32()
    frames.foreach(f => crc.update(f))
    be32(crc.getValue.toInt)
    out.toByteArray
  }

  /** Deterministic multi-frame fixture: 4 + id%4 frames, frame i's pixels
    * follow the syntheticPng closed form under frame id `id·100 + i`. */
  def syntheticVideo(id: Long): Array[Byte] = {
    val n = 4 + (id % 4).toInt
    encode((0 until n).map(i => Multimodal.ImageCodec.syntheticPng(id * 100 + i)))
  }

  /** Walk the container and return every `stride`-th frame's bytes, or an
    * error: bad-grav (magic/version/bounds/CRC) — one record's rot never
    * fails the job. */
  def parseFrames(bytes: Array[Byte], stride: Int): Either[String, Seq[(Long, Array[Byte])]] = {
    try {
      def be32(p: Int): Int =
        ((bytes(p) & 0xFF) << 24) | ((bytes(p + 1) & 0xFF) << 16) |
          ((bytes(p + 2) & 0xFF) << 8) | (bytes(p + 3) & 0xFF)
      if (bytes.length < 13 || bytes(0) != 'G' || bytes(1) != 'R' ||
        bytes(2) != 'A' || bytes(3) != 'V' || bytes(4) != 1) return Left("bad-grav")
      val n = be32(5)
      if (n < 0 || n > 1000000) return Left("bad-grav")
      val payloadStart = 13 + 8 * n
      if (bytes.length < payloadStart + 4) return Left("bad-grav")
      val payloadEnd = bytes.length - 4
      val crc = new java.util.zip.CRC32()
      crc.update(bytes, payloadStart, payloadEnd - payloadStart)
      if (crc.getValue.toInt != be32(payloadEnd)) return Left("bad-grav")
      val frames = (0 until n by stride).map { i =>
        val off = be32(13 + 8 * i); val len = be32(13 + 8 * i + 4)
        if (off < 0 || len < 0 || payloadStart + off + len > payloadEnd)
          return Left("bad-grav")
        (i.toLong, java.util.Arrays.copyOfRange(bytes,
          payloadStart + off, payloadStart + off + len))
      }
      Right(frames)
    } catch { case _: Exception => Left("bad-grav") }
  }

  /** Frame sampling + per-frame decode as one mapPartitions kernel over
    * (media_id, content): every `stride`-th frame is sliced via the
    * index and decoded through the real PNG codec into integer-exact
    * channel statistics. Corrupt containers emit ONE error row. */
  def sampleFrames(media: DataFrame, stride: Int,
      idCol: String = "media_id", contentCol: String = "content"): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(contentCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        parseFrames(bytes, stride) match {
          case Left(err) =>
            Seq(VideoFrameRow(id, None, None, None, None, None, None, Some(err)))
          case Right(frames) => frames.map { case (idx, png) =>
            val (w, h, sr, sg, sb) = Multimodal.ImageCodec.channelSums(png)
            VideoFrameRow(id, Some(idx), Some(w), Some(h),
              Some(sr), Some(sg), Some(sb), None)
          }
        }
      }).toDF()
  }

  /** EVERY frame's full feature row (channel sums + aHash halves) from
    * one container walk + one PNG decode per frame — the decode-once
    * feed of the video feature artifact. [[sampleFrames]] (stride-s
    * rows, sums only) and [[sceneCuts]] (hamming lags over the hashes)
    * are both exact projections/folds of this table, so one build
    * serves every downstream consumer without re-touching a container.
    * Corrupt containers emit ONE error row (A19). */
  def frameFeatures(media: DataFrame,
      idCol: String = "media_id", contentCol: String = "content"): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(contentCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        parseFrames(bytes, 1) match {
          case Left(err) =>
            Seq(VideoFrameFeatRow(id, None, None, None, None, None, None,
              None, None, Some(err)))
          case Right(frames) => frames.map { case (idx, png) =>
            val s = Multimodal.ImageCodec.allStats(png)
            VideoFrameFeatRow(id, Some(idx), Some(s.width), Some(s.height),
              Some(s.sum_r), Some(s.sum_g), Some(s.sum_b),
              Some(s.hash_hi), Some(s.hash_lo), None)
          }
        }
      }).toDF()
  }

  /** Scene-cut detection: decode EVERY frame, aHash each, and count
    * consecutive-frame hamming distances above `cutHamming` — the shot
    * boundary signal a video-corpus pipeline samples keyframes by. One
    * per-video summary row from one container pass (frames never leave
    * the kernel); corrupt containers isolate as error rows, same
    * contract as [[sampleFrames]]. */
  def sceneCuts(media: DataFrame, cutHamming: Int,
      idCol: String = "media_id", contentCol: String = "content"): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(contentCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        parseFrames(bytes, 1) match {
          case Left(err) => SceneCutRow(id, None, None, None, Some(err))
          case Right(frames) =>
            val hashes = frames.map { case (_, png) =>
              val (hi, lo, _) = Multimodal.ImageCodec.aHash64(png)
              (hi, lo)
            }
            val hams = hashes.sliding(2).collect {
              case Seq((h1, l1), (h2, l2)) =>
                (java.lang.Long.bitCount(h1 ^ h2) +
                  java.lang.Long.bitCount(l1 ^ l2)).toLong
            }.toSeq
            SceneCutRow(id, Some(frames.size.toLong),
              Some(hams.count(_ > cutHamming).toLong),
              Some(if (hams.isEmpty) 0L else hams.max), None)
        }
      }).toDF()
  }

  /** One-pass per-video CURATION signature (q146): frame count, scene
    * cuts (consecutive-frame aHash hamming > `cutHamming` — the q127
    * signal), and the MAJORITY-VOTE SimHash of the frame aHashes — bit b
    * of the fingerprint is set iff more than half the frames set bit b
    * of their aHash, emitted as 32-bit halves (the aHash64 convention:
    * a SQL BIGINT cannot form bit 63 by shift). Videos sharing most
    * frames land within small hamming of each other; byte-identical
    * containers collide exactly. Frames never leave the kernel; corrupt
    * containers isolate as error rows (A19). */
  def videoSignature(media: DataFrame, cutHamming: Int,
      idCol: String = "media_id", contentCol: String = "content"): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(contentCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        parseFrames(bytes, 1) match {
          case Left(err) => VideoSigRow(id, None, None, None, None, Some(err))
          case Right(frames) =>
            val hashes = frames.map { case (_, png) =>
              val (hi, lo, _) = Multimodal.ImageCodec.aHash64(png)
              (hi, lo)
            }
            val n = hashes.size
            val hams = hashes.sliding(2).collect {
              case Seq((h1, l1), (h2, l2)) =>
                (java.lang.Long.bitCount(h1 ^ h2) +
                  java.lang.Long.bitCount(l1 ^ l2)).toLong
            }.toSeq
            var fpHi = 0L
            var fpLo = 0L
            var b = 0
            while (b < 32) {
              if (2 * hashes.count(h => ((h._2 >>> b) & 1L) == 1L) > n)
                fpLo |= (1L << b)
              if (2 * hashes.count(h => ((h._1 >>> b) & 1L) == 1L) > n)
                fpHi |= (1L << b)
              b += 1
            }
            VideoSigRow(id, Some(n.toLong), Some(hams.count(_ > cutHamming).toLong),
              Some(fpHi), Some(fpLo), None)
        }
      }).toDF()
  }
}
