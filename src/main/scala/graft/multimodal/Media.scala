package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns for training-data pipelines: image/audio/video as
  * opaque `BINARY` content + typed metadata, with decode / feature-extract /
  * resize / frame-sample stages.
  *
  * The REAL parts (what this module actually delivers): the canonical
  * schema, the mapPartitions batch shape a codec binding plugs into, frame
  * explosion, size-aware partitioning, and the hand-off into the embedding /
  * ANN operators ([[graft.similarity.Vectors]]).
  *
  * IMAGES decode for REAL via the JDK's `javax.imageio` ([[ImageCodec]]):
  * header metadata, resize, and pixel-statistics embeddings all operate on
  * actual pixels, inside the same `mapPartitions` batch shape. Bytes that
  * no installed reader accepts fall back to the deterministic stub values,
  * so synthetic fixtures keep working.
  *
  * AUDIO decodes for REAL via the JDK's `javax.sound.sampled`
  * ([[AudioCodec]]): WAV/AIFF/AU PCM headers (rate, duration) and per-band
  * RMS embeddings operate on actual samples; compressed audio falls back
  * to the stub.
  *
  * VIDEO decodes for REAL when the container is MJPEG-AVI
  * ([[VideoCodec]]: RIFF parse → per-frame JPEG): header metadata and
  * frame sampling ([[videoFrames]]) operate on actual frames, which feed
  * the image operators unchanged.
  *
  * The remaining STUB parts (clearly marked): inter-frame-compressed video
  * (H.264 & co.) and compressed audio (mp3/ogg) — no JDK codec exists for
  * them, so `decode*Stub` / [[frameSample]] derive deterministic fake
  * values from the bytes. Swapping in a real codec changes ONLY the
  * function body inside `mapPartitions`; every schema, partition and join
  * shape stays as tested here.
  */
object Media {

  /** Canonical media-table schema. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = false), // image|audio|video
    StructField("content", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("duration_ms", LongType),
      StructField("sample_rate", IntegerType))))))

  case class MediaMeta(width: Option[Int], height: Option[Int],
                       duration_ms: Option[Long], sample_rate: Option[Int])
  case class DecodedMedia(media_id: Long, media_type: String,
                          content: Array[Byte], meta: MediaMeta)

  /** Wrap raw binary rows (media_id, media_type, content) into the canonical
    * frame with decoded metadata. `mapPartitions` is the codec batch shape:
    * one codec context per partition, streamed rows. */
  def decode(df: DataFrame): Dataset[DecodedMedia] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast(LongType), col("media_type"),
        col("content"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        // one codec context per partition: in-memory ImageIO (no temp files)
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, typ, bytes) =>
          DecodedMedia(id, typ, bytes, decodeHeader(typ, bytes))
        }
      }
  }

  /** Header decode: REAL for images (javax.imageio dimensions), PCM audio
    * containers (javax.sound.sampled rate + duration) and MJPEG-AVI video
    * ([[VideoCodec.parse]] dimensions + duration); stub fallback only for
    * bytes no codec accepts. */
  def decodeHeader(mediaType: String, bytes: Array[Byte]): MediaMeta =
    mediaType match {
      case "image" =>
        ImageCodec.decode(bytes)
          .map(i => MediaMeta(Some(i.getWidth), Some(i.getHeight), None, None))
          .getOrElse(decodeHeaderStub(mediaType, bytes))
      case "audio" =>
        AudioCodec.decode(bytes)
          .map(p => MediaMeta(None, None, Some(p.durationMs), Some(p.sampleRate)))
          .getOrElse(decodeHeaderStub(mediaType, bytes))
      case "video" =>
        VideoCodec.parse(bytes)
          .map(v => MediaMeta(Some(v.meta.width), Some(v.meta.height),
            Some(v.meta.durationMs), None))
          .getOrElse(decodeHeaderStub(mediaType, bytes))
      case _ => decodeHeaderStub(mediaType, bytes)
    }

  /** STUB: header decode. Deterministic fake dimensions derived from the
    * first bytes (a real implementation parses the container header). */
  def decodeHeaderStub(mediaType: String, bytes: Array[Byte]): MediaMeta = {
    def b(i: Int): Int = if (bytes.length > i) bytes(i) & 0xff else 0
    mediaType match {
      case "image" => MediaMeta(Some(64 + b(0) % 512), Some(64 + b(1) % 512), None, None)
      case "audio" => MediaMeta(None, None,
        Some(1000L + (b(0).toLong << 8 | b(1)) * 10), Some(16000 + b(2) % 2 * 28100))
      case "video" => MediaMeta(Some(320 + b(0) % 1600), Some(240 + b(1) % 900),
        Some(5000L + (b(2).toLong << 8 | b(3)) * 40), None)
      case _ => MediaMeta(None, None, None, None)
    }
  }

  /** REAL frame sampling for MJPEG-AVI video ([[VideoCodec]]): parse the
    * container once per row, keep every k-th frame so the sampled rate ≈
    * `fps`, and emit the frame's raw JPEG bytes — real image content that
    * flows straight into [[imageEmbeddings]] / [[imageHashes]] (video
    * dedup becomes the image pipeline's problem, which is already the text
    * pipeline's problem). Frames the container carries but sampling skips
    * are never JPEG-decoded (parse keeps frames as lazy byte slices).
    * Rows that are not parseable AVI are dropped — route them through
    * [[frameSample]]'s stub shape instead if lineage matters. */
  def videoFrames(df: DataFrame, fps: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast(LongType), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          VideoCodec.parse(bytes).toSeq.flatMap { v =>
            val step = math.max(1, math.round(v.meta.fps / fps).toInt)
            v.frames.indices.by(step).map { i =>
              (id, i, i.toLong * v.meta.microSecPerFrame / 1000L, v.frames(i))
            }
          }
        }
      }.toDF("media_id", "frame_idx", "frame_ts_ms", "frame_content")
  }

  /** Frame sampling STUB shape (non-MJPEG codecs): one output row per
    * sampled frame at `fps`, via `explode(sequence(...))` — the frame
    * extraction itself is the STUB slice; the explosion/row-multiplication
    * shape is real. */
  def frameSample(decoded: DataFrame, fps: Double): DataFrame = {
    val nFrames = greatest(lit(1),
      floor(col("meta.duration_ms") / lit(1000.0) * fps)).cast(IntegerType)
    decoded
      .filter(col("media_type") === "video")
      .withColumn("frame_idx",
        explode(sequence(lit(0), nFrames - 1)))
      .withColumn("frame_ts_ms",
        (col("frame_idx") / fps * 1000.0).cast(LongType))
      // STUB frame bytes: deterministic content slice keyed by frame index
      .withColumn("frame_content",
        sha2(concat(col("content"),
          col("frame_idx").cast(StringType).cast(BinaryType)), 256)
          .cast(BinaryType))
  }

  /** REAL image resize: decode → smooth-scale to (w, h) → re-encode PNG,
    * one codec context per partition; rows whose bytes no reader accepts
    * are dropped (count the gap upstream if lineage matters). */
  def resizeImages(df: DataFrame, w: Int, h: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast(LongType), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { case (id, bytes) =>
          ImageCodec.decode(bytes).map(img =>
            (id, ImageCodec.encodePng(ImageCodec.resize(img, w, h))))
        }
      }.toDF("media_id", "thumb")
  }

  /** REAL image feature extraction: grid×grid mean-luminance pixels →
    * `array<float>` embedding (grid² dims, [-1, 1]) matching the
    * `embeddings` table shape — downstream ANN / near-dup
    * ([[graft.similarity.Vectors]]) applies unchanged. Undecodable rows are
    * dropped. */
  def imageEmbeddings(df: DataFrame, grid: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast(LongType), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { case (id, bytes) =>
          ImageCodec.decode(bytes).map(img =>
            (id, ImageCodec.embedding(img, grid).toSeq))
        }
      }.toDF("media_id", "embedding")
  }

  /** REAL audio feature extraction: per-band RMS-energy embedding
    * (`bands` dims, [-1, 1]) from decoded PCM — same `embeddings`-table
    * hand-off as [[imageEmbeddings]]. Undecodable rows are dropped. */
  def audioEmbeddings(df: DataFrame, bands: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast(LongType), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          AudioCodec.decode(bytes).map(p =>
            (id, AudioCodec.embedding(p, bands).toSeq))
        }
      }.toDF("media_id", "embedding")
  }

  /** REAL perceptual image hashing: per-row 64-bit aHash
    * ([[ImageCodec.aHash]]) in the same mapPartitions batch shape —
    * image dedup becomes the text pipeline's hash problem. Undecodable
    * rows are dropped. */
  def imageHashes(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast(LongType), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { case (id, bytes) =>
          ImageCodec.decode(bytes).map(img => (id, ImageCodec.aHash(img)))
        }
      }.toDF("media_id", "ahash")
  }

  /** Image near-duplicate pairs at hamming ≤ `maxDist` over [[imageHashes]]
    * output — the identical 8-chunk blocked self-join the 64-bit text
    * simhash path uses (pigeonhole: hashes within hamming 7 share ≥ 1 of 8
    * byte chunks), hot-chunk guarded. One shuffle on (chunk, value); never
    * a cross product. */
  def imageNearDupPairs(hashes: DataFrame, maxDist: Int = 6): DataFrame =
    blockedHammingPairs(hashes, maxDist, label = "image_ahash")

  /** Audio perceptual hashing: per-row 64-bit [[AudioCodec.aHash]] over the
    * decoded PCM band-energy envelope, same batch shape as [[imageHashes]].
    * Undecodable rows are dropped. */
  def audioHashes(df: DataFrame, bands: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast(LongType), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          AudioCodec.decode(bytes).map(p => (id, AudioCodec.aHash(p, bands)))
        }
      }.toDF("media_id", "ahash")
  }

  /** Audio near-duplicate pairs — identical blocked join to
    * [[imageNearDupPairs]]; only the hash upstream differs. */
  def audioNearDupPairs(hashes: DataFrame, maxDist: Int = 6): DataFrame =
    blockedHammingPairs(hashes, maxDist, label = "audio_ahash")

  /** Shared 8-chunk blocked hamming self-join over (media_id, ahash) rows:
    * pigeonhole recall to hamming 7, hot-chunk guarded, one shuffle on
    * (chunk, value) — never a cross product. */
  private def blockedHammingPairs(hashes: DataFrame, maxDist: Int,
                                  label: String): DataFrame = {
    require(maxDist <= 7, "8-chunk blocking guarantees recall only to hamming 7")
    val chunks = graft.ops.Buckets.capMembers(
      hashes.select(col("media_id"), col("ahash"), posexplode(array(
        (0 until 8).map(c => shiftright(col("ahash"), 8 * c).bitwiseAND(255)): _*))
        .as(Seq("chunk", "cv"))),
      Seq(col("chunk"), col("cv")), label = label)
    chunks.as("x").join(chunks.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.cv") === col("y.cv") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("a_id"), col("y.media_id").as("b_id"),
        bit_count(col("x.ahash").bitwiseXOR(col("y.ahash"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Cross-frame hamming top-k retrieval: for every query row (query_id,
    * qhash), the k nearest item rows (item_id, ihash) within hamming ≤
    * `maxDist` — the ASYMMETRIC twin of [[blockedHammingPairs]] (same
    * 8-chunk pigeonhole: any pair within hamming 7 shares ≥ 1 of 8 byte
    * chunks, so blocking recall is exact at maxDist ≤ 7), hot-chunk
    * guarded on BOTH sides with separate drop-accounting labels. One
    * shuffle on (chunk, value) + one WindowGroupLimit top-k partitioned
    * on query_id; never a cross product. Ties break on item_id. */
  def hammingTopK(queries: DataFrame, items: DataFrame, maxDist: Int,
                  k: Int, label: String = "xmodal"): DataFrame = {
    require(maxDist <= 7,
      "8-chunk blocking guarantees recall only to hamming 7")
    def chunksOf(df: DataFrame, id: String, h: String, lbl: String) =
      graft.ops.Buckets.capMembers(
        df.select(col(id), col(h), posexplode(array(
          (0 until 8).map(c =>
            shiftright(col(h), 8 * c).bitwiseAND(255)): _*))
          .as(Seq("chunk", "cv"))),
        Seq(col("chunk"), col("cv")), label = lbl)
    val qc = chunksOf(queries, "query_id", "qhash", s"${label}_q")
    val ic = chunksOf(items, "item_id", "ihash", s"${label}_i")
    val cand = qc.join(ic, Seq("chunk", "cv"))
      .select(col("query_id"), col("item_id"),
        bit_count(col("qhash").bitwiseXOR(col("ihash"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
    cand.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("hamming"), col("item_id"))))
      .filter(col("rank") <= k)
  }

  /** Media rows are orders of magnitude wider than tabular rows: partition
    * by a byte budget, not a row count (the 100 TB knob). */
  def repartitionByByteBudget(df: DataFrame, bytesPerPartition: Long): DataFrame = {
    val totalBytes = df.agg(sum(length(col("content")))).head.getLong(0)
    val parts = math.max(1, math.ceil(totalBytes.toDouble / bytesPerPartition).toInt)
    df.repartition(parts)
  }
}
