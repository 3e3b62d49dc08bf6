package graft

import graft.multimodal.Multimodal

class MultimodalSpec extends SparkSuite {

  test("synthesize: every doc becomes a typed media record with binary payload") {
    val ds = Multimodal.synthesize(graft.core.Tables.documents(spark, sfDir))
    val rows = ds.collect()
    assert(rows.length === 500)
    assert(rows.forall(r => Set("image", "audio", "video").contains(r.media_type)))
    assert(rows.forall(_.payload.nonEmpty))
  }

  test("extractFeatures: batched decode stub produces bounded dimensions") {
    val ds = Multimodal.synthesize(graft.core.Tables.documents(spark, sfDir))
    val feats = Multimodal.extractFeatures(ds, batchSize = 32).collect()
    assert(feats.length === 500)
    feats.foreach { f =>
      assert(f.width >= 64 && f.width < 64 + 512)
      assert(f.height >= 64 && f.height < 64 + 512)
      assert(f.channels >= 1 && f.channels <= 4)
      assert(f.embedding.length === 8)
      assert(f.byte_len > 0)
    }
  }

  test("real PNG payloads decode to true dimensions via javax.imageio") {
    import spark.implicits._
    def png(w: Int, h: Int, typ: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, typ)
      (0 until w).foreach(x => (0 until h).foreach(y =>
        img.setRGB(x, y, (x * 31 + y * 17) & 0xFFFFFF)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val recs = Seq(
      graft.multimodal.MediaRecord(1L, "image", png(320, 200, java.awt.image.BufferedImage.TYPE_INT_RGB)),
      graft.multimodal.MediaRecord(2L, "image", png(17, 93, java.awt.image.BufferedImage.TYPE_INT_ARGB)),
      graft.multimodal.MediaRecord(3L, "image", png(1, 1, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)),
      // image-typed but undecodable bytes → stub fallback, not a crash
      graft.multimodal.MediaRecord(4L, "image", "not an image".getBytes("UTF-8")),
      // audio stays on the stub even if the bytes happen to be a PNG
      graft.multimodal.MediaRecord(5L, "audio", png(8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)))
    val feats = Multimodal.extractFeatures(spark.createDataset(recs), batchSize = 2)
      .collect().map(f => f.doc_id -> f).toMap
    assert((feats(1L).width, feats(1L).height, feats(1L).channels) === ((320, 200, 3)))
    assert((feats(2L).width, feats(2L).height, feats(2L).channels) === ((17, 93, 4)))
    assert((feats(3L).width, feats(3L).height, feats(3L).channels) === ((1, 1, 1)))
    val stub4 = Multimodal.decodeStub(recs(3).payload)
    assert((feats(4L).width, feats(4L).height, feats(4L).channels) === stub4)
    val stub5 = Multimodal.decodeStub(recs(4).payload)
    assert((feats(5L).width, feats(5L).height, feats(5L).channels) === stub5)
  }

  test("real WAV payloads decode to sample-rate/duration/channels via javax.sound.sampled") {
    import spark.implicits._
    def wav(rate: Float, channels: Int, seconds: Double): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, channels, true, false)
      val nFrames = (rate * seconds).toInt
      val data = Array.tabulate[Byte](nFrames * 2 * channels)(i => ((i * 7) & 0x7F).toByte)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, nFrames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    // (sample_rate_hz, duration_ms, channels) onto the feature slots
    assert(Multimodal.decodeAudio(wav(8000f, 1, 1.0)) === Some((8000, 1000, 1)))
    assert(Multimodal.decodeAudio(wav(44100f, 2, 0.5)) === Some((44100, 500, 2)))
    assert(Multimodal.decodeAudio("not audio".getBytes("UTF-8")) === None)
    // end-to-end through the batched feature pipeline, stub fallback intact
    val recs = Seq(
      graft.multimodal.MediaRecord(1L, "audio", wav(16000f, 2, 0.25)),
      graft.multimodal.MediaRecord(2L, "audio", "stub fallback bytes".getBytes("UTF-8")))
    val feats = Multimodal.extractFeatures(spark.createDataset(recs))
      .collect().map(f => f.doc_id -> f).toMap
    assert((feats(1L).width, feats(1L).height, feats(1L).channels) === ((16000, 250, 2)))
    assert((feats(2L).width, feats(2L).height, feats(2L).channels) ===
      Multimodal.decodeStub(recs(1).payload))
  }

  test("real MP4 container metadata parses to track dimensions via ISO-BMFF boxes") {
    // hand-assembled minimal MP4: ftyp + moov{trak{tkhd(640x360)}}
    def be32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
        ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def box(name: String, payload: Array[Byte]): Array[Byte] =
      be32(8L + payload.length) ++ name.getBytes("ISO-8859-1") ++ payload
    // tkhd v0 payload: version+flags(4) creation(4) mod(4) track(4)
    // reserved(4) duration(4) reserved(8) layer(2) alt(2) volume(2)
    // reserved(2) matrix(36) width(4) height(4) — 16.16 fixed point
    val tkhd = box("tkhd",
      Array.fill[Byte](4 + 4 + 4 + 4 + 4 + 4 + 8 + 2 + 2 + 2 + 2 + 36)(0) ++
        be32(640L << 16) ++ be32(360L << 16))
    val mp4 = box("ftyp", "isom".getBytes("ISO-8859-1") ++ be32(0)) ++
      box("moov", box("trak", tkhd))
    assert(Multimodal.decodeVideoMeta(mp4) === Some((640, 360, 3)))
    assert(Multimodal.decode("video", mp4) === ((640, 360, 3)))
    // audio-track-first container (common muxer layout): first tkhd has
    // width=height=0 — the scan must continue to the video track
    val audioTkhd = box("tkhd",
      Array.fill[Byte](4 + 4 + 4 + 4 + 4 + 4 + 8 + 2 + 2 + 2 + 2 + 36)(0) ++
        be32(0L) ++ be32(0L))
    val mp4AudioFirst = box("ftyp", "isom".getBytes("ISO-8859-1") ++ be32(0)) ++
      box("moov", box("trak", audioTkhd) ++ box("trak", tkhd))
    assert(Multimodal.decodeVideoMeta(mp4AudioFirst) === Some((640, 360, 3)))
    // a 64-bit largesize box (size==1) before moov must be skipped, not
    // abort the scan
    val largeMdat = be32(1L) ++ "mdat".getBytes("ISO-8859-1") ++
      be32(0L) ++ be32(24L) ++ Array.fill[Byte](8)(7)
    val mp4LargeFirst = largeMdat ++ box("moov", box("trak", tkhd))
    assert(Multimodal.decodeVideoMeta(mp4LargeFirst) === Some((640, 360, 3)))
    // non-container bytes: parser declines, stub takes over
    val junk = "just some text, definitely not an mp4 container at all".getBytes("UTF-8")
    assert(Multimodal.decodeVideoMeta(junk) === None)
    assert(Multimodal.decode("video", junk) === Multimodal.decodeStub(junk))
    // truncated container: size field points past the end → None, no throw
    assert(Multimodal.decodeVideoMeta(mp4.take(20)) === None)
  }

  test("decode stub is deterministic (same bytes → same dims)") {
    val b = "hello world".getBytes("UTF-8")
    assert(Multimodal.decodeStub(b) === Multimodal.decodeStub(b.clone()))
  }

  test("frame sampler slices every k-th 64-byte frame") {
    val payload = Array.fill[Byte](64 * 10)(7)
    val frames = Multimodal.frameSampleStub(payload, 3)
    assert(frames.length === 4) // indices 0,3,6,9
    assert(frames.forall(_.length == 64))
  }

  test("multimodal_stats query aggregates per media type") {
    val rows = Multimodal.multimodalStats(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSet === Set("image", "audio", "video"))
    assert(rows.map(_.getLong(1)).sum === 500)
  }

  test("binaryFile source ingests raw media files into the feature pipeline") {
    // the canonical cluster ingest for media blobs: one row per file,
    // bytes never parsed by the reader — filters on path/length prune
    // before any payload is touched
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = new java.io.File("/tmp/graft_media")
    dir.mkdirs()
    val payloads = Map("a.img" -> "imagebytes-0123456789" * 4,
      "b.aud" -> "audiobytes" * 10, "c.vid" -> "v" * 300)
    payloads.foreach { case (name, body) =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/$name"), body.getBytes("UTF-8"))
    }
    val files = spark.read.format("binaryFile").load(dir.toString)
    assert(files.columns.toSet ===
      Set("path", "modificationTime", "length", "content"))
    val recs = files.select(
        monotonically_increasing_id().as("doc_id"),
        element_at(split(col("path"), "\\."), -1).as("media_type"),
        col("content").as("payload"))
      .as[graft.multimodal.MediaRecord]
    val feats = Multimodal.extractFeatures(recs).collect()
    assert(feats.length === 3)
    assert(feats.map(f => f.media_type -> f.byte_len).toMap ===
      Map("img" -> 84, "aud" -> 100, "vid" -> 300))
    assert(feats.forall(_.embedding.length === 8))
  }

  private def pngBytes(w: Int, h: Int, pixel: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pixel(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("aHash collapses re-encodes and brightness shifts, separates distinct content") {
    // half-black half-white pattern: strong cell contrast
    def pat(x: Int, y: Int): Int = if (x < 16) 0x000000 else 0xFFFFFF
    val a1 = pngBytes(32, 32, pat)
    val a2 = pngBytes(32, 32, pat) // fresh encode, same pixels
    // global brightness shift: +40 on every channel
    val a3 = pngBytes(32, 32, (x, y) =>
      if (x < 16) 0x282828 else 0xFFFFFF)
    // genuinely different content: horizontal split instead of vertical
    val b = pngBytes(32, 32, (x, y) => if (y < 16) 0x000000 else 0xFFFFFF)
    val Seq(h1, h2, h3, hb) = Seq(a1, a2, a3, b).map(Multimodal.aHash)
    assert(h1.isDefined && hb.isDefined)
    assert(h1 === h2, "re-encode of identical pixels must hash equal")
    assert(h1 === h3, "global brightness shift must hash equal (mean-relative bits)")
    assert(h1 !== hb, "different content must diverge")
    // undecodable payloads fall back to raw md5 keys
    val k1 = Multimodal.imageKeyOf("not an image".getBytes("UTF-8"))
    val k2 = Multimodal.imageKeyOf("not an image".getBytes("UTF-8"))
    val k3 = Multimodal.imageKeyOf("different".getBytes("UTF-8"))
    assert(k1.startsWith("raw:"))
    assert(k1 === k2)
    assert(k1 !== k3)
    assert(Multimodal.imageKeyOf(a1).startsWith("ahash:"))
  }

  test("multimodal_phash census counts images, decodes, and dup docs") {
    val row = Multimodal.multimodalPhash(spark, sfDir).collect()(0)
    val nImages = row.getLong(0)
    assert(nImages > 0)
    assert(row.getLong(1) === 0L, "text payloads must not decode as images")
    assert(row.getLong(2) <= nImages)
    assert(row.getLong(3) === nImages - row.getLong(2))
  }
}
