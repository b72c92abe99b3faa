package graft

import graft.multimodal.Multimodal

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("ImageIoCodec: REAL PNG decode — dims, resize round-trip, dirty fallback") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO

    // A real 2×2 PNG fixture with distinct pixel values, built in-memory.
    val img = new BufferedImage(2, 2, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff0000); img.setRGB(1, 0, 0x00ff00)
    img.setRGB(0, 1, 0x0000ff); img.setRGB(1, 1, 0xffffff)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    val png = bos.toByteArray

    val codec = Multimodal.ImageIoCodec
    assert(codec.looksDecodable(png))
    assert(codec.decode(png).map(i => (i.getWidth, i.getHeight)).contains((2, 2)))
    // Corrupt tail: magic passes, decode may fail → None, never a throw.
    val corrupt = png.take(12)
    assert(codec.looksDecodable(corrupt))
    assert(codec.decode(corrupt).isEmpty)
    assert(!codec.looksDecodable("not an image".getBytes))
    assert(codec.decode("not an image".getBytes).isEmpty)

    // Decode → 2×2→4×4 upscale → encodePng → decode: a REAL 4×4 PNG.
    val up = new BufferedImage(4, 4, BufferedImage.TYPE_INT_RGB)
    val g = up.createGraphics()
    try g.drawImage(codec.decode(png).get, 0, 0, 4, 4, null) finally g.dispose()
    val back = codec.decode(codec.encodePng(up)).get
    assert(back.getWidth == 4 && back.getHeight == 4)
    // Nearest-corner pixels keep their colors through the upscale.
    assert((back.getRGB(0, 0) & 0xffffff) == 0xff0000)
    assert((back.getRGB(3, 3) & 0xffffff) == 0xffffff)
  }

  test("codecRoundTrip: JVM mix64 twin matches the Column form; decoded sum = byte sum") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.functions.HashFunctions
    // mix64Long must be the same function as the codegen Column mix64 —
    // the oracle replays the Column/SQL form, the codec kernel the JVM one.
    val xs = Seq(0L, 1L, -1L, 42L, Long.MaxValue, Long.MinValue, 987654321L)
    val viaColumn = xs.toDF("x")
      .select(HashFunctions.mix64(col("x")).as("h")).as[Long].collect().toSeq
    assert(viaColumn == xs.map(HashFunctions.mix64Long))

    // Round-trip: decoded dims are the requested 8×8 and the channel sum
    // equals the direct sum of the synthetic bytes (PNG is lossless).
    val out = Multimodal.codecRoundTrip(
        Seq(7L, 123L).map(java.lang.Long.valueOf).toDS())
      .collect().sortBy(_.doc_id)
    for (r <- out) {
      assert(r.decoded_w == 8L && r.decoded_h == 8L)
      val expected = (0 until 192).map(i =>
        HashFunctions.mix64Long(r.doc_id * 192 + i) & 255L).sum
      assert(r.pixel_sum == expected, s"doc ${r.doc_id}")
    }
  }

  test("WavCodec: REAL WAV encode/decode — lossless round trip, conversion, dirty fallback") {
    // Codec-level: 16-bit PCM round-trips bit-exactly, including the
    // endianness-sensitive extremes.
    val samples = Array[Short](0, 1, -1, 1000, -1000, Short.MaxValue, Short.MinValue, 258)
    val wav = Multimodal.WavCodec.encodeWav(samples)
    assert(Multimodal.WavCodec.looksWav(wav))
    val Some((rate, channels, back)) = Multimodal.WavCodec.decodeWav(wav)
    assert(rate == 16000f && channels == 1)
    assert(back.toSeq == samples.toSeq)

    // Non-WAV payloads: sniff rejects, decode is None, never a throw —
    // including a payload that LIES with a RIFF header.
    assert(!Multimodal.WavCodec.looksWav("not audio".getBytes))
    assert(Multimodal.WavCodec.decodeWav("not audio".getBytes).isEmpty)
    val liar = ("RIFF1234WAVEgarbage" + "x" * 64).getBytes
    assert(Multimodal.WavCodec.looksWav(liar))
    assert(Multimodal.WavCodec.decodeWav(liar).isEmpty)

    // 8-bit unsigned source converts through the JDK chain instead of
    // failing. The exact widening rule is the provider's (observed: range
    // scaling, e.g. 255 → 32767, not a plain <<8), so pin it only to
    // within one 8-bit quantization step of the nominal (s−128)·256.
    val fmt8 = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
    val raw8 = Array[Byte](0, 64.toByte, 128.toByte, 255.toByte)
    val ais8 = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(raw8), fmt8, raw8.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais8, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val Some((r8, c8, s8)) = Multimodal.WavCodec.decodeWav(bos.toByteArray)
    assert(r8 == 8000f && c8 == 1 && s8.length == raw8.length)
    raw8.indices.foreach { i =>
      val nominal = ((raw8(i) & 0xff) - 128) * 256
      assert(math.abs(s8(i) - nominal) <= 256, s"i=$i got ${s8(i)} nominal $nominal")
    }

  }

  test("audioRoundTrip: decoded sample sum equals the direct mix64 sum") {
    import graft.functions.HashFunctions
    val out = Multimodal.audioRoundTrip(
        Seq(5L, 321L).map(java.lang.Long.valueOf).toDS())
      .collect().sortBy(_.doc_id)
    for (r <- out) {
      assert(r.n_samples == 256L && r.n_channels == 1L)
      val expected = (0 until 256).map(i =>
        (HashFunctions.mix64Long(r.doc_id * 256 + i) & 0xffffL) - 32768L).sum
      assert(r.sample_sum == expected, s"doc ${r.doc_id}")
    }
  }

  test("GifVideoCodec: REAL multi-frame GIF — lossless gray round trip, dirty fallback") {
    import Multimodal.GifVideoCodec
    // Three 4×2 frames with distinct, extreme-valued pixels: the indexed
    // gray palette must carry every byte 0..255 exactly.
    val pix = Seq(
      Array[Byte](0, 1, 127, -128, -1, 50, 100, -56), // unsigned: 0,1,127,128,255,50,100,200
      Array.tabulate(8)(i => (i * 31).toByte),
      Array.fill(8)(-1: Byte))
    val frames = pix.map(GifVideoCodec.grayFrame(4, 2, _))
    val gif = GifVideoCodec.encodeGif(frames)
    assert(GifVideoCodec.looksGif(gif))
    val Some(back) = GifVideoCodec.decodeFrames(gif)
    assert(back.length == 3)
    for ((expected, img) <- pix.zip(back)) {
      assert(img.getWidth == 4 && img.getHeight == 2)
      val got = for (y <- 0 until 2; x <- 0 until 4)
        yield ((img.getRGB(x, y) >> 16) & 255).toByte
      assert(got.toSeq == expected.toSeq)
      // gray palette: all three channels agree
      assert(((img.getRGB(0, 0) >> 8) & 255) == (img.getRGB(0, 0) & 255))
    }

    // Dirty payloads: sniff rejects junk; a payload that LIES with a GIF
    // header decodes to None, never a throw.
    assert(!GifVideoCodec.looksGif("not a video".getBytes))
    assert(GifVideoCodec.decodeFrames("not a video".getBytes).isEmpty)
    val liar = ("GIF89a" + "garbage" * 16).getBytes
    assert(GifVideoCodec.looksGif(liar))
    assert(GifVideoCodec.decodeFrames(liar).isEmpty)
  }

  test("videoRoundTrip: decoded per-frame pixel sums equal the direct mix64 sums") {
    import graft.functions.HashFunctions
    val out = Multimodal.videoRoundTrip(
        Seq(5L, 321L).map(java.lang.Long.valueOf).toDS())
      .collect().sortBy(r => (r.doc_id, r.frame_idx))
    assert(out.length == 8)
    for (r <- out) {
      assert(r.decoded_w == 16L && r.decoded_h == 8L)
      assert(r.src_frame == r.frame_idx * 6 / 4)
      val bytes = (0 until 128).map(i =>
        HashFunctions.mix64Long((r.doc_id * 6 + r.src_frame) * 128 + i) & 255L)
      assert(r.pixel_sum == bytes.sum, s"doc ${r.doc_id} frame ${r.frame_idx}")
      // position-weighted: breaks if rows come back reordered (interlace)
      val possum = bytes.zipWithIndex.map { case (v, i) => (i + 1L) * v }.sum
      assert(r.pixel_possum == possum, s"possum doc ${r.doc_id} frame ${r.frame_idx}")
    }
  }

  test("frameSignatures: decoded-raster dedup keys — shared contents collide, signatures are exact") {
    import graft.functions.HashFunctions
    // 16 docs × 6 frames over 64 contents: cross-video duplicates are
    // guaranteed (96 > 64); every frame of the same content must produce
    // the IDENTICAL (sum, possum, sha) triple from its decoded raster, and
    // different contents must differ.
    val out = Multimodal.frameSignatures(
        (1L to 16L).map(java.lang.Long.valueOf).toDS())
      .collect()
    assert(out.length == 96)
    val byContent = out.groupBy(r =>
      HashFunctions.mix64Long(r.doc_id * 6 + r.frame_idx) & 63L)
    assert(byContent.size < out.length)
    for ((c, rows) <- byContent) {
      // one signature triple per content — decoded bytes are identical
      assert(rows.map(r => (r.pixel_sum, r.pixel_possum, r.sha256_hex)).toSet.size == 1,
        s"content $c produced divergent signatures")
      // and it equals the direct mix64 replay
      val bytes = (0 until 128).map(i => HashFunctions.mix64Long(c * 128 + i) & 255L)
      assert(rows.head.pixel_sum == bytes.sum)
      assert(rows.head.pixel_possum ==
        bytes.zipWithIndex.map { case (v, i) => (i + 1L) * v }.sum)
    }
    assert(byContent.values.map(_.head.sha256_hex).toSet.size == byContent.size,
      "distinct contents must hash differently")
  }
}
