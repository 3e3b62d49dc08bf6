package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A media record: opaque binary payload + typed metadata — the
  * multimodal column model for a training-data pipeline ([EXT]).
  * Image/audio/video bytes travel as `binary` columns; decode and
  * feature extraction run partition-batched on executors.
  */
final case class MediaRecord(
    doc_id: Long,
    media_type: String, // image | audio | video
    payload: Array[Byte])

final case class MediaFeatures(
    doc_id: Long,
    media_type: String,
    byte_len: Int,
    width: Int,
    height: Int,
    channels: Int,
    embedding: Array[Float])

/** Multimodal plumbing. IMAGE decode is REAL — [[decodeImage]] uses
  * `javax.imageio` (JVM built-in: PNG/JPEG/GIF/BMP) — AUDIO decode is
  * REAL — [[decodeAudio]] uses `javax.sound.sampled` (JVM built-in:
  * WAV/AIFF/AU header + PCM) — and VIDEO METADATA is REAL —
  * [[decodeVideoMeta]] walks ISO-BMFF (MP4/MOV) container boxes for
  * track dimensions, no codec needed. Only video FRAME decode
  * (ffmpeg-class libs, not in this container) and bytes no parser can
  * read — like the synthetic text corpus — fall back to
  * [[decodeStub]]'s deterministic fake dimensions. Everything around
  * the codec — schema, Dataset encoders, partition-batched iteration
  * (the mapInPandas batch shape), frame sampling, the aggregation
  * query — is real and tested.
  *
  * Scale notes: payloads never pass through a shuffle here — decode is
  * a narrow mapPartitions stage; only the small typed features flow to
  * the aggregation. At 100 TB of media that's the invariant to keep:
  * shuffle features, never bytes.
  */
object Multimodal {

  /** Deterministic synthetic corpus: documents.text bytes stand in for
    * media payloads (media_type round-robins by doc_id).
    */
  def synthesize(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
      col("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
      encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRecord]
  }

  /** Real image decode via `javax.imageio`: (width, height, channels),
    * or None when the payload is not a decodable image. ImageIO.read
    * returns null (rather than throwing) for unrecognizable bytes;
    * both outcomes map to None so the caller can fall back.
    */
  def decodeImage(payload: Array[Byte]): Option[(Int, Int, Int)] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      Option(img).map(i => (i.getWidth, i.getHeight, i.getColorModel.getNumComponents))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Real audio decode via `javax.sound.sampled` (JVM built-in:
    * WAV/AIFF/AU header + PCM — no external codec needed). Returns
    * (sample_rate_hz, duration_ms, channels) mapped onto the
    * (width, height, channels) feature slots, or None when the payload
    * is not a parseable audio container (the synthetic text corpus,
    * compressed formats like MP3) so the caller can fall back.
    */
  def decodeAudio(payload: Array[Byte]): Option[(Int, Int, Int)] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = in.getFormat
        val durMs =
          if (fmt.getFrameRate > 0 && in.getFrameLength >= 0)
            math.round(in.getFrameLength * 1000.0 / fmt.getFrameRate).toInt
          else 0
        Some((fmt.getSampleRate.toInt, durMs, fmt.getChannels))
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Big-endian 32-bit read. */
  private def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
      ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)

  /** All ISO-BMFF boxes named `name` in [start, end) as payload
    * spans. size==1 boxes (64-bit largesize — mdat in big files) are
    * skipped over correctly; size-0 (= to-end) boxes are honored;
    * truncated or nonsense sizes end the scan (random bytes read as a
    * huge first "size" and fall off the end — which is what makes this
    * safe to probe on arbitrary payloads).
    */
  private def findBoxes(b: Array[Byte], start: Int, end: Int, name: String): List[(Int, Int)] = {
    val out = scala.collection.mutable.ListBuffer.empty[(Int, Int)]
    var i = start
    var ok = true
    while (ok && i + 8 <= end) {
      val size = be32(b, i)
      val typ = new String(b, i + 4, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
      val (payloadStart, boxEnd) =
        if (size == 1 && i + 16 <= end) {
          val large = (be32(b, i + 8) << 32) | be32(b, i + 12)
          (i + 16L, i + large)
        } else (i + 8L, if (size == 0) end.toLong else i + size)
      if (boxEnd < payloadStart || boxEnd > end) ok = false
      else {
        if (typ == name) out += ((payloadStart.toInt, boxEnd.toInt))
        i = boxEnd.toInt
      }
    }
    out.toList
  }

  /** REAL video metadata via ISO-BMFF (MP4/MOV) container parsing —
    * pure byte-level box walking, no codec needed for metadata: scan
    * EVERY moov → trak → tkhd (an MP4's first track is often the audio
    * track, whose tkhd carries width=height=0) and read the first
    * track with non-zero presentation dimensions (16.16 fixed point,
    * the last 8 bytes of tkhd). Returns (width, height, 3) or None for
    * payloads that aren't an MP4-family container (then the caller
    * falls back to the stub — actual FRAME decode still needs an
    * ffmpeg-class library this container lacks).
    */
  def decodeVideoMeta(payload: Array[Byte]): Option[(Int, Int, Int)] =
    try {
      (for {
        (ms, me) <- findBoxes(payload, 0, payload.length, "moov")
        (ts, te) <- findBoxes(payload, ms, me, "trak")
        (_, he) <- findBoxes(payload, ts, te, "tkhd")
        w = (be32(payload, he - 8) >>> 16).toInt
        h = (be32(payload, he - 4) >>> 16).toInt
        if w > 0 && h > 0
      } yield (w, h, 3)).headOption
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Codec dispatch: real ImageIO for decodable image payloads, real
    * javax.sound.sampled for parseable audio containers, real ISO-BMFF
    * box parsing for MP4-family video metadata; the deterministic stub
    * for bytes no parser accepts (including this container's synthetic
    * text payloads) and for video FRAME decode, which would need an
    * ffmpeg-class codec.
    */
  def decode(mediaType: String, payload: Array[Byte]): (Int, Int, Int) =
    (mediaType match {
      case "image" => decodeImage(payload)
      case "audio" => decodeAudio(payload)
      case "video" => decodeVideoMeta(payload)
      case _ => None
    }).getOrElse(decodeStub(payload))

  /** STUB — stands in for the video decoder (and undecodable bytes).
    * Deterministic fake: dimensions derived from payload bytes.
    * Replace with a real codec call when the libraries exist on the
    * cluster.
    */
  def decodeStub(payload: Array[Byte]): (Int, Int, Int) = {
    val h = payload.foldLeft(17L)((acc, b) => acc * 31 + (b & 0xFF))
    (64 + (h % 512).toInt.abs, 64 + ((h >> 9) % 512).toInt.abs, 1 + (h % 3).toInt.abs)
  }

  /** STUB frame sampler — every k-th 64-byte slice as a "frame". */
  def frameSampleStub(payload: Array[Byte], k: Int): Seq[Array[Byte]] =
    payload.grouped(64).zipWithIndex.collect {
      case (frame, i) if i % k == 0 => frame
    }.toSeq

  /** Partition-batched decode + feature extraction (the mapInPandas
    * shape: iterator of batches in, iterator of batches out — decoders
    * amortize per-batch setup; batchSize bounds executor memory).
    */
  def extractFeatures(ds: Dataset[MediaRecord], batchSize: Int = 64): Dataset[MediaFeatures] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // per-batch "model load" would go here (amortized setup)
        batch.iterator.map { r =>
          val (w, h, c) = decode(r.media_type, r.payload)
          val emb = Array.tabulate(8) { i =>
            val slice = r.payload.drop(i * 8).take(8)
            slice.foldLeft(0.0f)((a, b) => a + (b & 0xFF) / 255.0f)
          }
          MediaFeatures(r.doc_id, r.media_type, r.payload.length, w, h, c, emb)
        }
      }
    }
  }

  /** Per-type feature stats — the rows-only registered query. */
  def multimodalStats(s: SparkSession, d: String): DataFrame = {
    val feats = extractFeatures(synthesize(graft.core.Tables.documents(s, d)))
    feats.toDF()
      .groupBy("media_type")
      .agg(
        count(lit(1)).as("n"),
        round(avg("byte_len"), 2).as("avg_bytes"),
        round(avg("width"), 2).as("avg_width"),
        round(avg("height"), 2).as("avg_height"),
        round(avg(element_at(col("embedding"), 1)), 4).as("avg_feat0"))
  }

  /** Frame sampling as a registered query: every 4th 64-byte slice of
    * each payload (video frame-sample shape: narrow flatMap, bytes
    * stay in-partition, only per-frame sizes aggregate). Oracle-able
    * because the stub's frame count/bytes are pure integer functions
    * of the payload length (documents.text is ASCII: bytes == chars).
    */
  def multimodalFrames(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val frames = synthesize(graft.core.Tables.documents(s, d))
      .flatMap(r => frameSampleStub(r.payload, 4)
        .map(f => (r.doc_id, r.media_type, f.length)))
      .toDF("doc_id", "media_type", "frame_bytes")
    frames.groupBy("media_type").agg(
      countDistinct("doc_id").as("n_docs"),
      count(lit(1)).as("n_frames"),
      round(avg("frame_bytes"), 4).as("avg_frame_bytes"))
  }

  /** Average-hash (aHash) perceptual fingerprint of a decodable
    * image: deterministic integer average-pooling of the grayscale
    * into an 8×8 grid (no Graphics2D scaling — its filtering is
    * platform-dependent), then one bit per cell: above-grid-mean.
    * Re-encodes of the same pixels and global brightness shifts map
    * to the SAME hash (mean shifts with the cells); different content
    * diverges — the standard first-pass image near-dup key.
    */
  def aHash(payload: Array[Byte]): Option[Long] =
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val w = img.getWidth; val h = img.getHeight
        val sums = new Array[Long](64); val counts = new Array[Long](64)
        var y = 0
        while (y < h) {
          val cy = y * 8 / h; var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val gray = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
              (rgb & 0xFF) * 114) / 1000
            val c = cy * 8 + x * 8 / w
            sums(c) += gray; counts(c) += 1
            x += 1
          }
          y += 1
        }
        val avgs = Array.tabulate(64)(i =>
          if (counts(i) == 0) 0L else sums(i) / counts(i))
        val mean = avgs.sum / 64
        var bits = 0L; var i = 0
        while (i < 64) { if (avgs(i) > mean) bits |= (1L << i); i += 1 }
        Some(bits)
      }
    } catch { case _: Throwable => None }

  private def md5Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map(x => f"${x & 0xFF}%02x").mkString

  /** Content key for image dedup: perceptual aHash when the payload
    * decodes, raw md5 otherwise — so re-encoded/brightness-shifted
    * copies of a real image collide while undecodable payloads fall
    * back to exact-byte identity.
    */
  def imageKeyOf(payload: Array[Byte]): String =
    aHash(payload).map(b => f"ahash:$b%016x").getOrElse("raw:" + md5Hex(payload))

  /** Image-dedup census over the media corpus's image rows ([EXT]):
    * how many image payloads, how many decoded to a perceptual hash,
    * distinct content keys, and docs that share a key with an earlier
    * doc (the removable duplicates). The synthetic corpus's payloads
    * are text bytes (never decodable), so the registry row certifies
    * the raw-md5 path under the oracle; the REAL aHash path —
    * duplicate collapse across re-encode and brightness shift on
    * actual PNGs — is MultimodalSpec's planted test.
    *
    * Scale: one narrow decode/hash pass (payload bytes never shuffle),
    * then key-cardinality aggregation of 16-byte keys.
    */
  def multimodalPhash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val keys = synthesize(graft.core.Tables.documents(s, d))
      .filter(_.media_type == "image")
      .map { r =>
        val key = imageKeyOf(r.payload)
        (key, r.doc_id, if (key.startsWith("ahash:")) 1L else 0L)
      }
      .toDF("key", "doc_id", "decoded")
    keys.agg(
      count(lit(1)).as("n_images"),
      sum(col("decoded")).as("n_decoded"),
      countDistinct(col("key")).as("n_distinct"),
      (count(lit(1)) - countDistinct(col("key"))).as("n_dup_docs"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "multimodal_stats" -> multimodalStats,
    "multimodal_frames" -> multimodalFrames,
    "multimodal_phash" -> multimodalPhash)

  /** multimodal_stats stays rows-only (decode stub not SQL-portable);
    * the frame sampler's arithmetic IS expressible — integer slice math
    * over length(text).
    */
  def oracleSql: Map[String, String] = Map(
    // text payloads never decode as images, so every key takes the
    // raw-md5 fallback — exactly what this SQL mirrors; if a payload
    // ever decoded, the n_decoded column would flag it loudly
    "multimodal_phash" ->
      """WITH k AS (
        |  SELECT 'raw:' || md5(text) AS key, doc_id
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT count(*) AS n_images,
        |  CAST(0 AS BIGINT) AS n_decoded,
        |  count(DISTINCT key) AS n_distinct,
        |  count(*) - count(DISTINCT key) AS n_dup_docs
        |FROM k""".stripMargin,
    "multimodal_frames" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS media_type,
        |    length(text) AS n,
        |    CAST(ceil(CAST(length(text) AS DOUBLE) / 64) AS BIGINT) AS slices
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, media_type,
        |    (slices + 3) // 4 AS sampled,
        |    CASE WHEN (slices - 1) % 4 = 0
        |      THEN ((slices + 3) // 4 - 1) * 64 + (n - 64 * (slices - 1))
        |      ELSE ((slices + 3) // 4) * 64 END AS sampled_bytes
        |  FROM m)
        |SELECT media_type,
        |  count(DISTINCT doc_id) AS n_docs,
        |  CAST(sum(sampled) AS BIGINT) AS n_frames,
        |  round(CAST(sum(sampled_bytes) AS DOUBLE) / sum(sampled), 4) AS avg_frame_bytes
        |FROM g GROUP BY 1""".stripMargin)
}
