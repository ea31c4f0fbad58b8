package graft.multimodal

import graft.SparkSpec
import graft.similarity.Vectors
import org.apache.spark.sql.functions._

class MediaSpec extends SparkSpec {
  import spark.implicits._

  private lazy val raw = {
    val rng = new scala.util.Random(9)
    (0 until 60).map { i =>
      val typ = Seq("image", "audio", "video")(i % 3)
      val bytes = Array.fill(200 + rng.nextInt(800))(rng.nextInt().toByte)
      (i.toLong, typ, bytes)
    }.toDF("media_id", "media_type", "content")
  }

  test("decode: canonical schema, per-type metadata, content untouched") {
    val decoded = Media.decode(raw).toDF()
    assert(decoded.columns.toSeq ==
      Seq("media_id", "media_type", "content", "meta"))
    val img = decoded.filter($"media_type" === "image").select("meta.*").head
    assert(!img.isNullAt(0) && img.getInt(0) >= 64) // width
    val aud = decoded.filter($"media_type" === "audio").select("meta.*").head
    assert(!aud.isNullAt(2) && aud.getLong(2) >= 1000) // duration
    // content round-trips byte-identically
    val orig = raw.select($"media_id", md5($"content")).as[(Long, String)]
      .collect().toMap
    val back = decoded.select($"media_id", md5($"content")).as[(Long, String)]
      .collect().toMap
    assert(orig == back)
  }

  test("frameSample: duration×fps rows per video, bounded frame bytes") {
    val decoded = Media.decode(raw).toDF()
    val frames = Media.frameSample(decoded, fps = 2.0)
    val perVideo = frames.groupBy($"media_id").count()
    val expected = decoded.filter($"media_type" === "video")
      .select($"media_id", greatest(lit(1),
        floor($"meta.duration_ms" / 1000.0 * 2.0)).cast("long"))
      .as[(Long, Long)].collect().toMap
    perVideo.as[(Long, Long)].collect().foreach { case (id, n) =>
      assert(n == expected(id), s"video $id")
    }
    // frame timestamps monotone within a video
    val ts0 = frames.filter($"frame_idx" === 0).select($"frame_ts_ms").head.getLong(0)
    assert(ts0 == 0L)
  }

  test("REAL png decode → resize → embedding → ANN, end to end") {
    import java.awt.image.BufferedImage
    // two near-identical gradients + one inverted image, as real PNGs
    def png(w: Int, h: Int, invert: Boolean, noise: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v0 = (x * 255 / math.max(1, w - 1) + (x + y) % (noise + 1)).min(255)
        val v = if (invert) 255 - v0 else v0
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      ImageCodec.encodePng(img)
    }
    val rows = Seq(
      (0L, "image", png(40, 20, invert = false, noise = 0)),
      (1L, "image", png(40, 20, invert = false, noise = 2)), // near-dup of 0
      (2L, "image", png(32, 32, invert = true, noise = 0)),  // opposite
      (3L, "image", Array.fill(64)(7.toByte))                // undecodable
    ).toDF("media_id", "media_type", "content")

    // real header dimensions (stub fallback only for the junk row)
    val meta = Media.decode(rows).toDF()
      .select($"media_id", $"meta.width", $"meta.height")
      .as[(Long, Int, Int)].collect()
      .map { case (k, w, h) => k -> ((w, h)) }.toMap
    assert(meta(0L) == ((40, 20)) && meta(2L) == ((32, 32)))

    // real resize: decodable rows only, thumbnail round-trips at (8, 8)
    val thumbs = Media.resizeImages(rows, 8, 8)
    assert(thumbs.count() == 3)
    val tb = thumbs.filter($"media_id" === 0L).head.getAs[Array[Byte]]("thumb")
    val timg = ImageCodec.decode(tb).get
    assert(timg.getWidth == 8 && timg.getHeight == 8)

    // real 64-dim pixel embeddings → cosine ANN finds the near-dup
    val emb = Media.imageEmbeddings(rows, grid = 8).cache()
    assert(emb.count() == 3)
    assert(emb.select(size($"embedding")).head.getInt(0) == 64)
    val q = emb.filter($"media_id" === 0L)
      .select($"media_id".as("q_id"), $"embedding".as("qv"))
    val best = emb.filter($"media_id" =!= 0L)
      .select($"media_id".as("c_id"), $"embedding".as("cv"))
      .crossJoin(broadcast(q))
      .withColumn("cos", Vectors.cosine($"qv", $"cv"))
      .orderBy($"cos".desc).select($"c_id", $"cos")
      .as[(Long, Double)].collect()
    assert(best.head._1 == 1L, s"nearest=${best.toSeq}") // the near-dup wins
    assert(best.head._2 > 0.99 && best.last._2 < 0)      // inverted is anti
    emb.unpersist()
  }

  test("REAL png aHash → blocked near-dup pairs find the visual duplicate") {
    import java.awt.image.BufferedImage
    def png(w: Int, h: Int, invert: Boolean, noise: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v0 = (x * 255 / math.max(1, w - 1) + (x + y) % (noise + 1)).min(255)
        val v = if (invert) 255 - v0 else v0
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      ImageCodec.encodePng(img)
    }
    val rows = Seq(
      (0L, "image", png(40, 20, invert = false, noise = 0)),
      (1L, "image", png(80, 40, invert = false, noise = 2)), // rescaled near-dup
      (2L, "image", png(32, 32, invert = true, noise = 0)),  // opposite
      (3L, "image", Array.fill(64)(9.toByte))                // undecodable
    ).toDF("media_id", "media_type", "content")
    val hashes = Media.imageHashes(rows).cache()
    assert(hashes.count() == 3) // junk row dropped
    val pairs = Media.imageNearDupPairs(hashes, maxDist = 6)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    // the resized+noised copy pairs with the original; the inverted image
    // pairs with nothing (its hash is ~the complement)
    assert(pairs == Set((0L, 1L)), s"pairs=$pairs")
    hashes.unpersist()
  }

  test("REAL wav decode → header meta → RMS embedding → ANN, end to end") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // 16-bit PCM mono WAV with an amplitude envelope
    def wav(sr: Int, seconds: Double, amp: Int => Double): Array[Byte] = {
      val n = (sr * seconds).toInt
      val data = new Array[Byte](n * 2)
      for (i <- 0 until n) {
        val s = (math.sin(2 * math.Pi * 440.0 * i / sr) * amp(i) * 32767)
          .toInt.toShort
        data(2 * i) = (s & 0xff).toByte
        data(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      val fmt = new AudioFormat(sr.toFloat, 16, 1, true, false)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val rows = Seq(
      (0L, "audio", wav(8000, 0.5, _ => 0.80)),
      (1L, "audio", wav(8000, 0.5, _ => 0.78)),            // near-dup of 0
      (2L, "audio", wav(8000, 0.5, i => 0.8 * i / 4000.0)), // ramp envelope
      (3L, "audio", Array.fill(64)(9.toByte))               // undecodable
    ).toDF("media_id", "media_type", "content")

    // real header meta: rate + duration from actual PCM frames
    val meta = Media.decode(rows).toDF()
      .filter($"media_id" === 0L)
      .select($"meta.sample_rate", $"meta.duration_ms").head
    assert(meta.getInt(0) == 8000 && math.abs(meta.getLong(1) - 500L) <= 5,
      meta.toString)

    // real per-band embeddings → the matching envelope is the nearest
    val emb = Media.audioEmbeddings(rows, bands = 16).cache()
    assert(emb.count() == 3) // junk row dropped
    assert(emb.select(size($"embedding")).head.getInt(0) == 16)
    val q = emb.filter($"media_id" === 0L)
      .select($"media_id".as("q_id"), $"embedding".as("qv"))
    val best = emb.filter($"media_id" =!= 0L)
      .select($"media_id".as("c_id"), $"embedding".as("cv"))
      .crossJoin(broadcast(q))
      .withColumn("cos", Vectors.cosine($"qv", $"cv"))
      .orderBy($"cos".desc).select($"c_id").as[Long].collect()
    assert(best.head == 1L, s"nearest=${best.toSeq}")
    emb.unpersist()
  }

  test("byte-budget repartitioning scales partitions with data volume") {
    val parts = Media.repartitionByByteBudget(raw, bytesPerPartition = 5000)
      .rdd.getNumPartitions
    assert(parts >= 4, s"parts=$parts") // ~42KB total / 5KB
  }

  test("REAL mjpeg-avi decode → header meta → frame sample → image pipeline") {
    import java.awt.image.BufferedImage
    // gradient background + a square that moves with the frame index, so
    // frames are real distinct pictures; `inv` flips the gradient for a
    // visually-unrelated video
    def frame(i: Int, inv: Boolean, bright: Int): BufferedImage = {
      val img = new BufferedImage(64, 48, BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until 48; x <- 0 until 64) {
        val gx = x * 255 / 63; val g = if (inv) 255 - gx else gx
        val inSq = x >= i * 5 && x < i * 5 + 8 && y >= 20 && y < 28
        val v = math.min(255, (if (inSq) 255 else g) + bright)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    val vidA = VideoCodec.encodeAvi((0 until 10).map(frame(_, false, 0)), 10)
    val vidB = VideoCodec.encodeAvi((0 until 10).map(frame(_, false, 3)), 10)
    val vidC = VideoCodec.encodeAvi((0 until 10).map(frame(_, true, 0)), 10)

    // container round-trip: header fields + frame bytes are real JPEGs
    val parsed = VideoCodec.parse(vidA).get
    assert(parsed.meta.width == 64 && parsed.meta.height == 48 &&
      parsed.meta.nFrames == 10 && parsed.meta.microSecPerFrame == 100000L,
      parsed.meta.toString)
    assert(parsed.meta.durationMs == 1000L)
    assert((parsed.frames(0)(0) & 0xff) == 0xff &&
      (parsed.frames(0)(1) & 0xff) == 0xd8) // JPEG SOI ff d8
    val f0 = VideoCodec.decodeFrame(parsed.frames(0)).get
    assert(f0.getWidth == 64 && f0.getHeight == 48)

    val rows = Seq((0L, "video", vidA), (1L, "video", vidB),
      (2L, "video", vidC), (3L, "video", Array.fill(64)(7.toByte)))
      .toDF("media_id", "media_type", "content")

    // real header metadata through the canonical decode
    val m = Media.decode(rows).toDF().filter($"media_id" === 0L)
      .select($"meta.width", $"meta.height", $"meta.duration_ms").head
    assert(m.getInt(0) == 64 && m.getInt(1) == 48 && m.getLong(2) == 1000L)

    // sampling at half the native rate keeps every 2nd frame, real ts
    val frames = Media.videoFrames(rows, fps = 5.0).cache()
    assert(frames.filter($"media_id" === 3L).count() == 0) // junk dropped
    val tsA = frames.filter($"media_id" === 0L).orderBy($"frame_idx")
      .select($"frame_ts_ms").as[Long].collect().toSeq
    assert(tsA == Seq(0L, 200L, 400L, 600L, 800L), tsA.toString)

    // sampled frames are real image content: per-frame aHash near-dup
    // pairs align A with its re-brightened twin B, never with inverted C
    val asImages = frames.select(
      ($"media_id" * 100 + $"frame_idx").as("media_id"),
      $"frame_content".as("content"))
    val pairs = Media.imageNearDupPairs(Media.imageHashes(asImages),
      maxDist = 2).cache()
    assert(pairs.filter($"a_id" === 0L && $"b_id" === 100L).count() == 1,
      "frame 0 of A should match frame 0 of B")
    assert(pairs.filter($"b_id" % 100L === lit(0L))
      .filter($"a_id" === 0L && $"b_id" === 200L).count() == 0,
      "A must not match the inverted video C")
    frames.unpersist(); pairs.unpersist()
  }

  test("m1 fixture: aHash round-trips the seed through the real codec, " +
      "and the query matches the host-side arithmetic oracle") {
    import graft.queries.Mm
    // codec gate: PNG encode → ImageIO decode → aHash reproduces the seed
    for (id <- Seq(0L, 1L, 7L, 23L, 123L, 499L)) {
      val s = Mm.seedHost(id)
      val img = graft.multimodal.ImageCodec.decode(Mm.pngOf(s)).get
      assert(graft.multimodal.ImageCodec.aHash(img) == s, s"doc $id")
    }
    // full chain vs an exact host-side all-pairs oracle at sf0.001
    val dir = "/root/testdata/sf0.001"
    val ids = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id").as[Long].collect().sorted
    val seeds = ids.map(id => id -> Mm.seedHost(id))
    val expected = (for {
      (a, sa) <- seeds; (b, sb) <- seeds if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 6
    } yield (a, b, h)).toSet
    val got = graft.SparkEntry.queries("m1_image_neardup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected,
      s"got ${got.size} pairs, expected ${expected.size}")
    assert(expected.size > ids.length / 2, s"fixture too sparse: ${expected.size}")
  }

  test("m2 fixture: audio aHash round-trips the seed through the real WAV " +
      "codec, and the query matches the host-side arithmetic oracle") {
    import graft.queries.Mm
    // codec gate: WAV encode → javax.sound decode → band-RMS aHash
    // reproduces the seed exactly (every RMS value is an exact dyadic)
    for (id <- Seq(0L, 1L, 7L, 23L, 123L, 499L)) {
      val s = Mm.audioSeedHost(id)
      val pcm = graft.multimodal.AudioCodec.decode(Mm.wavOf(s)).get
      assert(pcm.sampleRate == 8000 && pcm.samples.length == 2048, s"doc $id")
      assert(graft.multimodal.AudioCodec.aHash(pcm) == s, s"doc $id")
    }
    // full chain vs an exact host-side all-pairs oracle at sf0.001
    val dir = "/root/testdata/sf0.001"
    val ids = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id").as[Long].collect().sorted
    val seeds = ids.map(id => id -> Mm.audioSeedHost(id))
    val expected = (for {
      (a, sa) <- seeds; (b, sb) <- seeds if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 6
    } yield (a, b, h)).toSet
    val got = graft.SparkEntry.queries("m2_audio_neardup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected,
      s"got ${got.size} pairs, expected ${expected.size}")
    assert(expected.size > ids.length / 2, s"fixture too sparse: ${expected.size}")
  }

  test("m3 fixture: XOR-of-frame aHashes round-trips the signature through " +
      "the real MJPEG-AVI codec (lossy JPEG), and the query matches the " +
      "host-side arithmetic oracle") {
    import graft.queries.Mm
    // codec gate: AVI encode → RIFF parse → per-frame JPEG decode → aHash
    // per frame → XOR reproduces the arithmetic signature EXACTLY, through
    // a lossy codec (8×8 cells align with JPEG DCT blocks, so every block
    // is DC-only and the hash threshold survives quantization)
    for (id <- Seq(0L, 1L, 7L, 23L, 123L, 499L)) {
      val sig = Mm.videoSigHost(id)
      val seeds = (0 until 4).map(Mm.videoSeedHost(id, _))
      val parsed = VideoCodec.parse(Mm.aviOf(seeds)).get
      assert(parsed.frames.length == 4, s"doc $id")
      val got = parsed.frames
        .map(f => graft.multimodal.ImageCodec.aHash(VideoCodec.decodeFrame(f).get))
        .reduce(_ ^ _)
      assert(got == sig, s"doc $id: got ${got.toHexString}, want ${sig.toHexString}")
    }
    // full chain vs an exact host-side all-pairs oracle at sf0.001
    val dir = "/root/testdata/sf0.001"
    val ids = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id").as[Long].collect().sorted
    val sigs = ids.map(id => id -> Mm.videoSigHost(id))
    val expected = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 6
    } yield (a, b, h)).toSet
    val got = graft.SparkEntry.queries("m3_video_neardup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected,
      s"got ${got.size} pairs, expected ${expected.size}")
    assert(expected.size > ids.length / 2, s"fixture too sparse: ${expected.size}")
  }

  test("hammingTopK: asymmetric blocked retrieval ≡ brute-force top-k " +
      "(pigeonhole recall exact at the radius, ties on item_id)") {
    import spark.implicits._
    // 62-bit synthetic hashes with controlled distances: items derive
    // from 16 base patterns, queries perturb a base by 0–9 bit flips —
    // only perturbations ≤ 6 must be retrieved, ranked by distance
    def base(i: Long): Long = {
      var h = 0L
      (0 until 8).foreach { j =>
        val b = math.floor(
          graft.functions.Det.fracHost(i * 8 + j, 31L) * 256).toLong
        h |= (if (j == 7) b % 64 else b) << (8 * j)
      }
      h
    }
    val items = (0 until 16).map(i => (i.toLong, base(i)))
    val queries = (0 until 64).map { q =>
      val b = base(q % 16)
      val flips = (0 until (q % 10)).map(f =>
        1L << (math.floor(graft.functions.Det.fracHost(
          q * 16L + f, 37L) * 62).toInt)).fold(0L)(_ ^ _)
      (q.toLong, b ^ flips)
    }
    val got = graft.multimodal.Media.hammingTopK(
        queries.toDF("query_id", "qhash"),
        items.toDF("item_id", "ihash"),
        maxDist = 6, k = 3, label = "spec")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      .toSet
    val expected = queries.flatMap { case (qid, qh) =>
      items.map { case (iid, ih) =>
        (qid, iid, java.lang.Long.bitCount(qh ^ ih)) }
        .filter(_._3 <= 6)
        .sortBy(t => (t._3, t._2))
        .take(3).zipWithIndex
        .map { case ((a, b, h), r) => (a, b, h, r + 1) }
    }.toSet
    assert(got == expected, s"got ${got.size}, expected ${expected.size}")
    assert(expected.nonEmpty)
  }
}
