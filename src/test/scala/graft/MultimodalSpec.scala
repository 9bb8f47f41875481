package graft

import graft.multimodal.Multimodal
import graft.sources.Tables

/** Multimodal plumbing: binary payload + typed metadata through the
  * partition-batched stub codec, frame sampling, and the real PNG, WAV
  * and GRAV codecs. */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val media =
    Multimodal.syntheticMediaFrom(Tables.documents(spark, sf()), "doc_id", "text")

  test("feature extraction is deterministic and partition-batched") {
    val a = Multimodal.extractFeatures(spark, media, Multimodal.DeterministicFakeDecoder)
      .orderBy($"media_id").collect()
    val b = Multimodal.extractFeatures(spark, media.repartition(7), Multimodal.DeterministicFakeDecoder)
      .orderBy($"media_id").collect()
    assert(a.length == b.length && a.length > 0)
    assert(a.zip(b).forall { case (x, y) =>
      x.media_id == y.media_id && x.content_hash == y.content_hash &&
        x.feature.sameElements(y.feature)
    }, "features must not depend on partitioning")
    assert(a.forall(_.feature.length == 8))
  }

  test("transform preserves ids and updates metadata; frames carry ordinals") {
    val frames = Multimodal.sampleFrames(spark, media, stride = 50, frameBytes = 16)
    assert(frames.count() > media.count(), "multi-frame expansion")
    val perDoc = frames.filter($"media_id" === 0)
      .select($"frame_idx").as[Long].collect().sorted
    assert(perDoc.head == 0L && perDoc.length == perDoc.last + 1, "dense ordinals")
  }

  test("REAL PNG codec: lossless round-trip, mean-channel features, nearest-neighbour resize") {
    import Multimodal.ImageCodec
    // encode -> decode round-trips pixel-exact (PNG is lossless)
    val png = ImageCodec.syntheticPng(42L)
    val (w, h, sr, sg, sb) = ImageCodec.channelSums(png)
    assert((w, h) == ((8, 8)))
    // independent recomputation from the pixel formula
    val expected = (for { y <- 0 until 8; x <- 0 until 8 } yield (
      ((42L % 1009) * 31 + x * 7 + y * 13) % 256,
      ((42L % 1013) * 17 + x * 11 + y * 3) % 256,
      ((42L % 997) * 23 + x * 5 + y * 19) % 256))
      .foldLeft((0L, 0L, 0L)) { case ((a, b, c), (r, g, bl)) => (a + r, b + g, c + bl) }
    assert((sr, sg, sb) == expected, s"decoded sums $sr/$sg/$sb vs formula $expected")
    // MediaDecoder features = [w, h, means]
    val f = ImageCodec.features(png, Multimodal.MediaMeta("image/png", 8, 8, 0L))
    assert(f(0) == 8f && f(1) == 8f && math.abs(f(2) - expected._1 / 64.0) < 1e-5)
  }

  test("columnar WAV decode: valid clip stats exact, corrupt clips isolate as wav_error") {
    import graft.multimodal.AudioWav
    val good = AudioWav.encode(Array[Short](100, -200, 300))
    val bad = good.clone(); bad(0) = 'X'.toByte            // break RIFF magic
    val notPcm = good.clone(); notPcm(20) = 2.toByte       // audio format != 1
    val truncated = good.dropRight(2)                      // lying data-size field
    val rows = Seq((1L, good), (2L, bad), (3L, notPcm), (4L, truncated))
      .toDF("media_id", "content")
    val out = AudioWav.parsed(rows).orderBy($"media_id")
      .select($"media_id", $"wav_error", $"n_samples", $"sum_abs", $"peak_abs")
      .collect()
    assert(out(0).getString(1) == null && out(0).getLong(2) == 3L &&
      out(0).getLong(3) == 600L && out(0).getLong(4) == 300L, s"good clip: ${out(0)}")
    assert(out(1).getString(1) == "bad-riff", s"corrupt magic: ${out(1)}")
    assert(out(2).getString(1) == "bad-fmt", s"non-PCM: ${out(2)}")
    assert(out(3).getString(1) == "bad-length", s"truncated clip: ${out(3)}")
    // native kernel and all-expression fold must agree exactly
    val clips = (0L until 50L).map(id => (id, AudioWav.syntheticWav(id)))
      .toDF("media_id", "content")
    val native = AudioWav.parsed(clips).select($"media_id", $"sum_abs", $"peak_abs")
    val exprForm = AudioWav.parsed(clips, nativeSampleFold = false)
      .select($"media_id", $"sum_abs", $"peak_abs")
    assert(native.exceptAll(exprForm).isEmpty && exprForm.exceptAll(native).isEmpty,
      "kernel and expression sample folds diverge")
  }

  test("WAV edge headers: zero-rate isolates as bad-fmt, zero samples fold to 0 (both modes)") {
    import graft.multimodal.AudioWav
    // a zero sample-rate field is malformed (and would divide by zero in
    // duration_ms under ANSI); an EMPTY clip is valid and must fold to
    // sum_abs = peak_abs = 0, not conjure a phantom sample out of
    // sequence(0, -1)
    val zeroRate = AudioWav.encode(Array[Short](10, 20), sampleRate = 0)
    val empty = AudioWav.encode(Array.empty[Short])
    val rows = Seq((1L, zeroRate), (2L, empty)).toDF("media_id", "content")
    for (nativeFold <- Seq(true, false)) {
      val out = AudioWav.parsed(rows, nativeSampleFold = nativeFold)
        .orderBy($"media_id")
        .select($"wav_error", $"n_samples", $"duration_ms", $"sum_abs", $"peak_abs")
        .collect()
      assert(out(0).getString(0) == "bad-fmt",
        s"zero-rate clip (native=$nativeFold): ${out(0)}")
      assert(out(1).getString(0) == null && out(1).getLong(1) == 0L &&
        out(1).getLong(2) == 0L && out(1).getLong(3) == 0L && out(1).getLong(4) == 0L,
        s"empty clip (native=$nativeFold): ${out(1)}")
    }
  }

  test("GRAV container: stride sampling decodes exactly the indexed frames") {
    import graft.multimodal.{Multimodal, VideoCodec}
    val vid = VideoCodec.syntheticVideo(7L) // 4 + 7%4 = 7 frames
    val all = VideoCodec.parseFrames(vid, stride = 1).toOption.get
    assert(all.map(_._1) == (0L until 7L), s"frame ids: ${all.map(_._1)}")
    val sampled = VideoCodec.parseFrames(vid, stride = 2).toOption.get
    assert(sampled.map(_._1) == Seq(0L, 2L, 4L, 6L))
    // each sliced frame is a REAL decodable PNG with the closed-form pixels
    sampled.foreach { case (i, png) =>
      val (w, h, sr, _, _) = Multimodal.ImageCodec.channelSums(png)
      val fid = 7L * 100 + i
      val expR = (for (y <- 0 until 8; x <- 0 until 8)
        yield ((fid % 1009) * 31 + x * 7 + y * 13) % 256).sum
      assert(w == 8 && h == 8 && sr == expR, s"frame $i: w=$w h=$h sr=$sr exp=$expR")
    }
  }

  test("aHash64: formula-exact bits, identical images collide, uniform image hashes to 0") {
    import Multimodal.ImageCodec
    // independent recomputation from the closed-form pixels
    val gid = 42L
    val gray = for { y <- 0 until 8; x <- 0 until 8 } yield
      ((((gid % 1009) * 31 + x * 7 + y * 13) % 256)
        + (((gid % 1013) * 17 + x * 11 + y * 3) % 256)
        + (((gid % 997) * 23 + x * 5 + y * 19) % 256)) / 3
    val mean = gray.sum / 64
    var (ehi, elo, en) = (0L, 0L, 0)
    gray.zipWithIndex.foreach { case (g, p) =>
      if (g > mean) {
        en += 1
        if (p < 32) elo |= (1L << p) else ehi |= (1L << (p - 32))
      }
    }
    val (hi, lo, n) = ImageCodec.aHash64(ImageCodec.syntheticPng(gid))
    assert((hi, lo, n) === ((ehi, elo, en)), "decoded hash must equal the formula hash")
    // identical generator id -> identical hash (the planted-dup guarantee)
    assert(ImageCodec.aHash64(ImageCodec.syntheticPng(gid)) ===
      ImageCodec.aHash64(ImageCodec.syntheticPng(gid)))
    // uniform image: strict gray > mean sets no bit
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, 0x7f7f7f)
    assert(ImageCodec.aHash64(ImageCodec.encodePng(img)) === ((0L, 0L, 0)))
    // non-8x8 inputs are a loud error, not a silent wrong hash
    intercept[IllegalArgumentException] {
      ImageCodec.aHash64(ImageCodec.encodePng(
        new java.awt.image.BufferedImage(4, 4,
          java.awt.image.BufferedImage.TYPE_INT_RGB)))
    }
  }

  test("GRAV container: bad magic, payload rot, and lying index all isolate") {
    import graft.multimodal.VideoCodec
    val vid = VideoCodec.syntheticVideo(3L)
    // magic flip
    val badMagic = vid.clone(); badMagic(0) = 'X'.toByte
    assert(VideoCodec.parseFrames(badMagic, 1).left.toOption.contains("bad-grav"))
    // payload bit rot → container CRC catches it
    val n = 4 + (3L % 4).toInt
    val rot = vid.clone(); val p = 13 + 8 * n + 20
    rot(p) = (rot(p) ^ 0x5A).toByte
    assert(VideoCodec.parseFrames(rot, 1).left.toOption.contains("bad-grav"))
    // index entry pointing past the payload region
    val lie = vid.clone(); lie(13) = 0x7F.toByte // first frame offset high byte
    assert(VideoCodec.parseFrames(lie, 1).left.toOption.contains("bad-grav"))
    // truncation and non-video bytes
    assert(VideoCodec.parseFrames(vid.take(20), 1).left.toOption.contains("bad-grav"))
    assert(VideoCodec.parseFrames("nope".getBytes, 1).left.toOption.contains("bad-grav"))
    // sampleFrames isolates the rotten container, keeps the healthy one
    val rows = Seq((1L, vid), (2L, rot)).toDF("media_id", "content")
    val out = VideoCodec.sampleFrames(rows, stride = 2).collect()
    assert(out.count(_.getLong(0) == 1L) == 4 &&
      out.filter(_.getLong(0) == 1L).forall(_.isNullAt(7)), s"healthy rows: ${out.toSeq}")
    val err = out.filter(_.getLong(0) == 2L)
    assert(err.length == 1 && err(0).getString(7) == "bad-grav", s"error rows: ${err.toSeq}")
  }

  test("scene cuts: identical frames no cut, distinct-frame hamming matches aHash, corrupt isolates") {
    import org.apache.spark.sql.functions.col
    import graft.multimodal.{Multimodal, VideoCodec}
    val p1 = Multimodal.ImageCodec.syntheticPng(1L)
    val p2 = Multimodal.ImageCodec.syntheticPng(2L)
    val (h1a, l1a, _) = Multimodal.ImageCodec.aHash64(p1)
    val (h2a, l2a, _) = Multimodal.ImageCodec.aHash64(p2)
    val h12 = java.lang.Long.bitCount(h1a ^ h2a) + java.lang.Long.bitCount(l1a ^ l2a)
    val good = VideoCodec.encode(Seq(p1, p1, p2)) // hams: 0, h12
    val corrupt = { val b = VideoCodec.encode(Seq(p1, p2)); b(b.length - 10) = 0x7F; b }
    val out = VideoCodec.sceneCuts(
      Seq((1L, good), (2L, corrupt)).toDF("media_id", "content"), cutHamming = 20)
      .orderBy(col("media_id"))
      .as[(Long, Option[Long], Option[Long], Option[Long], Option[String])]
      .collect().toSeq
    val expCuts = if (h12 > 20) 1L else 0L
    assert(out(0) === ((1L, Some(3L), Some(expCuts), Some(h12.toLong), None)), s"got $out h12=$h12")
    assert(out(1) === ((2L, None, None, None, Some("bad-grav"))), s"corrupt row: $out")
  }

  test("video signature: majority-vote fp bits, exact dup collision, corrupt isolates") {
    import org.apache.spark.sql.functions.col
    import graft.multimodal.{Multimodal, VideoCodec}
    val p1 = Multimodal.ImageCodec.syntheticPng(101L)
    val p2 = Multimodal.ImageCodec.syntheticPng(707L)
    val (h1, l1, _) = Multimodal.ImageCodec.aHash64(p1)
    val (h2, l2, _) = Multimodal.ImageCodec.aHash64(p2)
    // 2-of-3 majority over (p1, p1, p2): fp bit set iff BOTH p1 copies
    // set it (p1's bit) — p2 alone can never reach majority
    val good = VideoCodec.encode(Seq(p1, p1, p2))
    val corrupt = { val b = VideoCodec.encode(Seq(p1)); b(5) = 99; b }
    val out = VideoCodec.videoSignature(
      Seq((1L, good), (2L, good), (3L, corrupt)).toDF("media_id", "content"),
      cutHamming = 20)
      .orderBy(col("media_id"))
      .as[(Long, Option[Long], Option[Long], Option[Long], Option[Long], Option[String])]
      .collect().toSeq
    assert(out(0)._4 == Some(h1) && out(0)._5 == Some(l1),
      s"2-of-3 majority must equal the repeated frame's aHash: ${out(0)}")
    assert(out(0)._2 == Some(3L))
    assert(out(1)._4 == out(0)._4 && out(1)._5 == out(0)._5,
      "byte-identical containers must collide exactly")
    assert(out(2) === ((3L, None, None, None, None, Some("bad-grav"))), s"$out")
  }

  test("WAV QC kernel: clipping census, trailing silence run, energy, empty clip") {
    import org.apache.spark.sql.functions.col
    import graft.multimodal.AudioWav
    def qc(samples: Short*) = Seq(Tuple1(AudioWav.encode(samples.toArray))).toDF("content")
      .select(graft.functions.NativeExpressions.wavQcStats(col("content"), 1000, 50).as("q"))
      .select(col("q.n_samples"), col("q.n_clipped"), col("q.longest_silence"), col("q.energy"))
      .as[(Long, Long, Long, Long)].head()
    // 2 clipped (±32767 and 1000 boundary is >=), silence runs 2 then a
    // trailing 3 — the trailing run must count without a closing loud sample
    val r = qc(32767, -32767, 10, -20, 1000, 0, 0, 49)
    assert(r._1 == 8L && r._2 == 3L, s"census: $r")
    assert(r._3 == 3L, s"trailing silence run must win: $r")
    assert(r._4 == 2L * 32767L * 32767L + 100L + 400L + 1000000L + 2401L, s"energy: $r")
    // silence threshold is strict <: a constant 50 clip has no silence
    assert(qc(50, 50, 50) == ((3L, 0L, 0L, 7500L)))
    assert(qc() == ((0L, 0L, 0L, 0L)), "empty data section folds to zeros")
  }
}
