package graft.multimodal

import java.security.MessageDigest

/** Multimodal-column operators: each one expands ids into synthetic media,
  * runs a REAL encode → decode round trip as a row-local partition
  * transform (no shuffle), and reports integer signatures of the decoded
  * payload that a SQL oracle replays without any media library.
  *
  * All three modalities decode with zero native deps: images via JDK
  * `javax.imageio` ([[ImageIoCodec]] — PNG/BMP/GIF/JPEG), audio via
  * `javax.sound.sampled` ([[WavCodec]] — WAV/PCM), video via the JDK GIF
  * sequence reader/writer ([[GifVideoCodec]] — frame-addressable animated
  * GIF). A payload a codec cannot decode comes back as `None`, never as
  * an exception.
  */
object Multimodal {

  /** Side of [[codecRoundTrip]]'s square RGB image. */
  final val CodecSide = 8
  /** Samples of [[audioRoundTrip]]'s mono clip. */
  final val AudioSamples = 256
  /** Frames per synthetic video, their gray raster, the frames
    * [[videoRoundTrip]] samples, and the shared content pool of
    * [[frameSignatures]] (a power of two: mask arithmetic). */
  final val VideoFrames = 6
  final val FrameW = 16
  final val FrameH = 8
  final val SampledFrames = 4
  final val FrameContents = 64

  /** REAL image codec over JDK `javax.imageio` — no native deps, ships in
    * every JRE. Handles the formats the JDK decodes out of the box (PNG,
    * BMP, GIF, JPEG, WBMP, TIFF on JDK 9+); anything else — or a payload
    * that only claims to be an image — decodes to `None`, so dirty media
    * columns never throw (a decode failure is a row-level outcome, not a
    * job failure).
    *
    * Magic-byte sniffing runs first: `ImageIO.read` on an arbitrary
    * multi-MB non-image payload wastes a full reader probe per row.
    */
  object ImageIoCodec {
    import java.awt.image.BufferedImage
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.imageio.ImageIO
    import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}

    // In-memory ImageInputStream/OutputStream wrappers PER CALL — the
    // executor-local disk is not where per-row decode scratch belongs, but
    // the process-global `ImageIO.setUseCache(false)` would silently
    // reconfigure any co-resident application code that relies on the disk
    // cache (very large images on memory-constrained executors). Keeping
    // the no-disk-cache choice local to each decode/encode costs one
    // wrapper allocation and mutates nothing outside this codec.

    /** Cheap magic-byte check for the JDK-decodable formats. */
    def looksDecodable(payload: Array[Byte]): Boolean = {
      if (payload == null || payload.length < 4) return false
      val b = payload
      (b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') || // PNG
      (b(0) == 'B' && b(1) == 'M') ||                                       // BMP
      (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') ||         // GIF
      (b(0) == 0xff.toByte && b(1) == 0xd8.toByte && b(2) == 0xff.toByte)   // JPEG
    }

    /** Decode to a BufferedImage; None on non-image or corrupt payload. */
    def decode(payload: Array[Byte]): Option[BufferedImage] =
      if (!looksDecodable(payload)) None
      else {
        val iis = new MemoryCacheImageInputStream(new ByteArrayInputStream(payload))
        try Option(ImageIO.read(iis))
        catch { case _: Exception => None }
        // ImageIO.read(ImageInputStream) closes the stream itself after a
        // successful read — this close covers the null/throw paths only.
        finally try iis.close() catch { case _: java.io.IOException => () }
      }

    /** PNG-encode through an explicit in-memory ImageOutputStream (see
      * class note — never the process-global cache setting). */
    def encodePng(img: BufferedImage): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val ios = new MemoryCacheImageOutputStream(bos)
      try { ImageIO.write(img, "png", ios); ios.flush() }
      finally ios.close()
      bos.toByteArray
    }
  }

  /** REAL audio codec over JDK `javax.sound.sampled` — like
    * [[ImageIoCodec]], zero native deps: WAV/AIFF/AU containers with PCM
    * payloads are what the JDK decodes out of the box, and WAV-PCM is the
    * interchange format a training-data audio pipeline actually stages
    * (compressed formats get transcoded to PCM upstream, once, not per
    * read). Compressed codecs (MP3/Opus/AAC) have no JDK decoder — those
    * payloads fail the RIFF sniff and decode to `None`, the same
    * row-level never-throw contract as images.
    *
    * All streams are in-memory (`ByteArrayInputStream` both directions):
    * nothing touches executor-local disk and nothing mutates process-global
    * JVM state (the ImageIoCodec lesson applied from day one here). */
  object WavCodec {
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem, UnsupportedAudioFileException}
    import javax.sound.sampled.spi.{AudioFileReader, AudioFileWriter}

    // File readers/writer resolved ONCE through the public ServiceLoader
    // SPI and reused for every call. `AudioSystem`'s static entry points
    // re-walk a SYNCHRONIZED provider registry per call — executor
    // threads serialize on it (measured: 16 threads gave only 1.6×
    // over serial) — and probe readers in registration order, where the
    // MIDI reader's failed probe dominates a 512-byte WAV parse
    // (Wave-first ordering + cached instances: decode 2.39 s → 0.036 s
    // for 8k calls × 16 threads). Provider instances are stateless per
    // call; AudioSystem itself shares one instance process-wide.
    private val fileReaders: IndexedSeq[AudioFileReader] = {
      import scala.jdk.CollectionConverters._
      java.util.ServiceLoader.load(classOf[AudioFileReader]).asScala.toVector
        .sortBy(r => if (r.getClass.getSimpleName.startsWith("Wave")) 0 else 1)
    }
    private val wavWriter: AudioFileWriter = {
      import scala.jdk.CollectionConverters._
      java.util.ServiceLoader.load(classOf[AudioFileWriter]).asScala
        .find(_.isFileTypeSupported(AudioFileFormat.Type.WAVE))
        .getOrElse(throw new IllegalStateException(
          "WavCodec: no WAVE AudioFileWriter provider in this JRE"))
    }

    /** Cheap magic-byte check: RIFF....WAVE. Mirrors
      * [[ImageIoCodec.looksDecodable]] — `AudioSystem.getAudioInputStream`
      * probes every registered reader on arbitrary bytes, and at 100 TB the
      * mislabeled rows must not each pay that. */
    def looksWav(payload: Array[Byte]): Boolean =
      payload != null && payload.length >= 12 &&
        payload(0) == 'R' && payload(1) == 'I' && payload(2) == 'F' && payload(3) == 'F' &&
        payload(8) == 'W' && payload(9) == 'A' && payload(10) == 'V' && payload(11) == 'E'

    /** Encode signed 16-bit little-endian PCM mono samples at 16 kHz as a
      * WAV container via the JDK writer (header laid down by the codec, not
      * by hand — the decode leg then proves the round trip). */
    def encodeWav(samples: Array[Short]): Array[Byte] = {
      val bytes = new Array[Byte](samples.length * 2)
      var i = 0
      while (i < samples.length) {
        bytes(2 * i) = (samples(i) & 0xff).toByte
        bytes(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new AudioFormat(16000f, 16, 1, true, false) // PCM signed, LE
      val ais = new AudioInputStream(new ByteArrayInputStream(bytes), fmt, samples.length.toLong)
      val bos = new ByteArrayOutputStream()
      try wavWriter.write(ais, AudioFileFormat.Type.WAVE, bos)
      finally ais.close()
      bos.toByteArray
    }

    /** Decode a WAV payload to `(sampleRateHz, channels, interleaved 16-bit
      * samples)`; non-16-bit PCM (8/24/32-bit, a-law/µ-law) converts through
      * the JDK's format-conversion chain. None on non-WAV or corrupt. */
    def decodeWav(payload: Array[Byte]): Option[(Float, Int, Array[Short])] =
      if (!looksWav(payload)) None
      else
        try {
          val in = new ByteArrayInputStream(payload)
          val ais = fileReaders.iterator
            .flatMap { r =>
              try Some(r.getAudioInputStream(in))
              catch { case _: UnsupportedAudioFileException => in.reset(); None }
            }
            .nextOption()
            .getOrElse(throw new UnsupportedAudioFileException(
              "no provider accepted the payload"))
          try {
            val src = ais.getFormat
            val target = new AudioFormat(src.getSampleRate, 16, src.getChannels, true, false)
            val pcm =
              if (src.matches(target)) ais
              else AudioSystem.getAudioInputStream(target, ais)
            try {
              val raw = pcm.readAllBytes()
              val n = raw.length / 2
              val out = new Array[Short](n)
              var i = 0
              while (i < n) {
                out(i) = ((raw(2 * i) & 0xff) | (raw(2 * i + 1) << 8)).toShort
                i += 1
              }
              Some((src.getSampleRate, src.getChannels, out))
            } finally pcm.close()
          } finally ais.close()
        } catch { case _: Exception => None }
  }

  /** REAL video codec over the JDK GIF reader/writer — the third leg of
    * the zero-native-deps codec family ([[ImageIoCodec]] images,
    * [[WavCodec]] audio): an animated GIF is a genuine multi-frame video
    * container the JRE both writes (`ImageWriter.writeToSequence`) and
    * reads frame-addressably (`ImageReader.getNumImages`/`read(i)`), so
    * frame extraction — the operation a training pipeline actually runs on
    * the video column — exercises a real demux/decode loop, not a byte
    * slicer. GIF is 8-bit indexed; with an explicit 256-gray
    * [[grayFrame]] palette the encode→decode round trip is LOSSLESS
    * (index bytes stored verbatim), which is what makes an exact-sum
    * oracle possible. Compressed codecs (H.264/VP9/AV1) have no JDK
    * decoder — those payloads fail the GIF sniff and decode to `None`,
    * the same row-level never-throw contract as the other two codecs. */
  object GifVideoCodec {
    import java.awt.image.{BufferedImage, IndexColorModel}
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.imageio.{IIOImage, ImageIO}
    import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}

    /** Cheap magic-byte check (GIF87a/GIF89a) — same rationale as
      * [[ImageIoCodec.looksDecodable]]/[[WavCodec.looksWav]]. */
    def looksGif(payload: Array[Byte]): Boolean =
      payload != null && payload.length >= 6 &&
        payload(0) == 'G' && payload(1) == 'I' && payload(2) == 'F' && payload(3) == '8'

    private val grayPalette: IndexColorModel = {
      val g = Array.tabulate(256)(_.toByte)
      new IndexColorModel(8, 256, g, g, g)
    }

    /** One grayscale frame from raw pixel bytes (row-major, `w*h` long):
      * TYPE_BYTE_INDEXED over the 256-gray palette stores each byte as a
      * palette index the GIF container carries exactly. */
    def grayFrame(w: Int, h: Int, pix: Array[Byte]): BufferedImage = {
      require(pix.length == w * h, s"grayFrame: ${pix.length} bytes for ${w}x$h")
      val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
      img.getRaster.setDataElements(0, 0, w, h, pix)
      img
    }

    /** Encode frames as one animated GIF via the JDK sequence writer.
      * In-memory streams only (the [[ImageIoCodec]] convention).
      *
      * Interlace is forced OFF per frame: the JDK writer's default image
      * metadata sets the GIF interlace flag, and the JDK READER
      * mis-deinterlaces small frames (observed: a 4×2 frame comes back
      * with its second row zeroed — caught by the per-pixel spec, and
      * invisible to any sum-only check because interlacing only REORDERS
      * rows). Sequential row order makes the round trip exact at every
      * size. */
    def encodeGif(frames: Seq[BufferedImage]): Array[Byte] = {
      require(frames.nonEmpty, "encodeGif: no frames")
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      val bos = new ByteArrayOutputStream()
      val ios = new MemoryCacheImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        // MODE_DISABLED kills the interlace flag while leaving metadata
        // null — the writer then derives the color table from each frame's
        // own IndexColorModel (hand-built image metadata loses it and
        // falls back to a web-safe-ish quantizing palette).
        val param = writer.getDefaultWriteParam
        param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
        frames.foreach(f => writer.writeToSequence(new IIOImage(f, null, null), param))
        writer.endWriteSequence()
        ios.flush()
      } finally {
        writer.dispose()
        try ios.close() catch { case _: java.io.IOException => () }
      }
      bos.toByteArray
    }

    /** Demux+decode every frame; None on non-GIF or corrupt payload. Each
      * frame comes back as its own raster (the GIF reader does not
      * composite disposal methods — full-size frames round-trip 1:1). */
    def decodeFrames(payload: Array[Byte]): Option[IndexedSeq[BufferedImage]] =
      if (!looksGif(payload)) None
      else {
        val iis = new MemoryCacheImageInputStream(new ByteArrayInputStream(payload))
        try {
          val readers = ImageIO.getImageReaders(iis)
          if (!readers.hasNext) None
          else {
            val reader = readers.next()
            try {
              reader.setInput(iis)
              val n = reader.getNumImages(true)
              // 0 frames = a payload that only LOOKS like a GIF (valid
              // header, no decodable image data) — that's a failed decode,
              // not an empty video.
              if (n <= 0) None else Some((0 until n).map(reader.read))
            } finally reader.dispose()
          }
        } catch { case _: Exception => None }
        finally try iis.close() catch { case _: java.io.IOException => () }
      }
  }

  /** One decoded round-trip record per input id: real decoded dimensions
    * and the exact channel-value sum after PNG encode → decode. */
  final case class CodecRoundTrip(
      doc_id: Long,
      decoded_w: Long,
      decoded_h: Long,
      pixel_sum: Long)

  /** REAL-codec round-trip, value-checkable by an engine with no image
    * library: each id deterministically expands to `w×h×3` channel bytes
    * via SplitMix64 (`mix64(id·n + i) & 255` — the catalog's hash), the
    * bytes become a real `w×h` RGB image, PNG-ENCODE → PNG-DECODE runs
    * through [[ImageIoCodec]], and the output reports the decoded
    * dimensions plus the exact channel sum. PNG is lossless and
    * `TYPE_INT_RGB` stores 8-bit channels exactly, so the decoded sum
    * MUST equal the direct sum of the synthetic bytes — which a SQL
    * oracle computes without decoding anything. A lossy codec, a channel
    * swap, a stride bug, or a truncated write all break the equality.
    *
    * Row-local partition transform, no shuffle, and no batch staging:
    * ImageIO allocates its reader/writer per call, so there is no
    * per-batch codec context to amortize, and record-at-a-time keeps
    * buffering O(1 image).
    */
  def codecRoundTrip(
      ids: org.apache.spark.sql.Dataset[java.lang.Long]): org.apache.spark.sql.Dataset[CodecRoundTrip] = {
    val (w, h) = (CodecSide, CodecSide)
    import java.awt.image.BufferedImage
    import graft.functions.HashFunctions.mix64Long
    import ids.sparkSession.implicits._
    val n = w * h * 3
    ids.mapPartitions { iter =>
      iter.map { boxed =>
        val id = boxed.longValue()
        val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        var idx = 0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            def ch(i: Int): Int = (mix64Long(id * n + i) & 255L).toInt
            img.setRGB(x, y, (ch(idx) << 16) | (ch(idx + 1) << 8) | ch(idx + 2))
            idx += 3; x += 1
          }
          y += 1
        }
        val back = ImageIoCodec.decode(ImageIoCodec.encodePng(img)).getOrElse(
          throw new IllegalStateException(s"codecRoundTrip: self-encoded PNG for id=$id failed to decode"))
        var sum = 0L
        y = 0
        while (y < back.getHeight) {
          var x = 0
          while (x < back.getWidth) {
            val p = back.getRGB(x, y)
            sum += ((p >> 16) & 255) + ((p >> 8) & 255) + (p & 255)
            x += 1
          }
          y += 1
        }
        CodecRoundTrip(id, back.getWidth.toLong, back.getHeight.toLong, sum)
      }
    }
  }

  /** One decoded audio round-trip record per input id. */
  final case class AudioRoundTrip(
      doc_id: Long,
      n_samples: Long,
      n_channels: Long,
      sample_sum: Long)

  /** REAL audio-codec round-trip — [[codecRoundTrip]]'s WAV sibling, same
    * oracle design: each id deterministically expands to `n` signed 16-bit
    * samples via SplitMix64 (`(mix64(id·n + i) & 0xFFFF) − 32768`), the
    * samples become a real mono 16 kHz WAV through the JDK writer, WAV
    * DECODE runs back through [[WavCodec]], and the output reports the
    * decoded sample count, channel count, and exact sample sum. PCM is
    * lossless, so the decoded sum MUST equal the direct sum of the
    * synthetic samples — which a SQL engine computes without touching any
    * audio library. A byte-order flip, a header-length bug, a dropped
    * sample, or a signedness error all break the equality (endianness
    * especially: LE/BE confusion survives "did it decode" checks and dies
    * on an exact sum).
    *
    * Row-local partition transform, no shuffle; record-at-a-time for the
    * same reason as [[codecRoundTrip]] (no per-batch codec context in
    * javax.sound — `AudioSystem` resolves its provider per call). */
  def audioRoundTrip(
      ids: org.apache.spark.sql.Dataset[java.lang.Long]): org.apache.spark.sql.Dataset[AudioRoundTrip] = {
    val nSamples = AudioSamples
    import graft.functions.HashFunctions.mix64Long
    import ids.sparkSession.implicits._
    ids.mapPartitions { iter =>
      iter.map { boxed =>
        val id = boxed.longValue()
        val samples = Array.tabulate(nSamples) { i =>
          ((mix64Long(id * nSamples + i) & 0xffffL) - 32768L).toShort
        }
        val wav = WavCodec.encodeWav(samples)
        val (_, channels, back) = WavCodec.decodeWav(wav).getOrElse(
          throw new IllegalStateException(
            s"audioRoundTrip: self-encoded WAV for id=$id failed to decode"))
        var sum = 0L
        var i = 0
        while (i < back.length) { sum += back(i); i += 1 }
        AudioRoundTrip(id, back.length.toLong, channels.toLong, sum)
      }
    }
  }

  /** Scan one decoded gray frame: (plain, position-weighted) pixel sums
    * over the red channel (gray palette: R==G==B==index). When `pixOut`
    * is non-null it also receives the raster bytes row-major (for exact
    * hashing). Shared by [[videoRoundTrip]] and [[frameSignatures]]. */
  private def scanGrayFrame(
      img: java.awt.image.BufferedImage,
      pixOut: Array[Byte]): (Long, Long) = {
    var sum = 0L
    var possum = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val i = y * img.getWidth + x
        val v = (img.getRGB(x, y) >> 16) & 255
        if (pixOut != null) pixOut(i) = v.toByte
        sum += v
        possum += (i + 1L) * v
        x += 1
      }
      y += 1
    }
    (sum, possum)
  }

  /** One decoded video-frame round-trip record per (id, sampled frame).
    * `pixel_possum` is the POSITION-WEIGHTED sum Σ (i+1)·vᵢ (i = y·w + x):
    * unlike the plain sum it breaks if rows come back reordered — exactly
    * the failure mode a mis-deinterlaced GIF produces (rows permuted,
    * plain sum unchanged; see [[GifVideoCodec.encodeGif]]). */
  final case class VideoRoundTrip(
      doc_id: Long,
      frame_idx: Long,
      src_frame: Long,
      decoded_w: Long,
      decoded_h: Long,
      pixel_sum: Long,
      pixel_possum: Long)

  /** REAL video-codec round-trip — [[codecRoundTrip]]'s GIF sibling, same
    * oracle design extended to the FRAME axis: each id deterministically
    * expands to `nFrames` frames of `w×h` gray pixels via SplitMix64
    * (`mix64((id·nFrames + f)·w·h + i) & 255`), the frames become a real
    * animated GIF through the JDK sequence writer, demux+decode runs back
    * through [[GifVideoCodec]], `maxFrames` frames are sampled
    * evenly-spaced (output frame `i` of `take` is source frame
    * `i·n/take`), and each sampled frame reports its source index, decoded dimensions, and exact pixel
    * sum. The gray palette makes GIF lossless here, so each sum MUST equal
    * the direct sum of that frame's synthetic bytes — which a SQL engine
    * replays without any image library. A frame-order bug, a dropped or
    * duplicated frame, a palette remap, or a stride error all break the
    * per-frame equality; the sampling stride itself is value-checked via
    * `src_frame`.
    *
    * Row-local partition transform, no shuffle; record-at-a-time (no
    * per-batch codec context in ImageIO — see [[codecRoundTrip]]). */
  def videoRoundTrip(
      ids: org.apache.spark.sql.Dataset[java.lang.Long]): org.apache.spark.sql.Dataset[VideoRoundTrip] = {
    val (nFrames, w, h, maxFrames) = (VideoFrames, FrameW, FrameH, SampledFrames)
    import graft.functions.HashFunctions.mix64Long
    import ids.sparkSession.implicits._
    val fpix = w * h
    ids.mapPartitions { iter =>
      iter.flatMap { boxed =>
        val id = boxed.longValue()
        val frames = (0 until nFrames).map { f =>
          GifVideoCodec.grayFrame(w, h, Array.tabulate(fpix) { i =>
            (mix64Long((id * nFrames + f).toLong * fpix + i) & 255L).toByte
          })
        }
        val gif = GifVideoCodec.encodeGif(frames)
        val back = GifVideoCodec.decodeFrames(gif).getOrElse(
          throw new IllegalStateException(
            s"videoRoundTrip: self-encoded GIF for id=$id failed to decode"))
        if (back.length != nFrames)
          throw new IllegalStateException(
            s"videoRoundTrip: id=$id wrote $nFrames frames, decoded ${back.length}")
        val take = math.min(maxFrames, nFrames)
        (0 until take).map { i =>
          val src = (i.toLong * nFrames / take).toInt
          val img = back(src)
          val (sum, possum) = scanGrayFrame(img, null)
          VideoRoundTrip(id, i.toLong, src.toLong, img.getWidth.toLong,
            img.getHeight.toLong, sum, possum)
        }
      }
    }
  }

  /** One decoded frame's dedup signature: exact byte hash + two
    * oracle-replayable integer signatures of the decoded pixels. */
  final case class FrameSig(
      doc_id: Long,
      frame_idx: Long,
      pixel_sum: Long,
      pixel_possum: Long,
      sha256_hex: String)

  /** FRAME-level signatures for cross-video dedup — the operation the
    * real codec unlocks: containers decode (`GifVideoCodec`), and each
    * decoded frame emits the exact-dup key a downstream
    * `groupBy`/`Dedup` tier consumes. Dedup keys are computed on the
    * DECODED raster, never the container bytes: the same frame re-encoded
    * in two files (different LZW phases, different neighbor frames) still
    * collides, which is precisely what byte-level hashing of the payload
    * misses. `sha256_hex` is the exact tier (byte-identical rasters);
    * `pixel_sum`/`pixel_possum` are integer signatures a SQL oracle can
    * replay — the catalog pairs them with a `count(distinct sha256) = 1`
    * per-signature check, so the oracle proves byte-identity without
    * hashing anything itself.
    *
    * Synthetic-corpus form (ids → `nFrames` frames of `w×h` gray pixels
    * whose CONTENT is `mix64(id·nFrames + f) & (contents−1)` — a shared
    * pool, so cross-video duplicates exist by construction): each id
    * round-trips a real GIF, and signatures come from the decoded frames.
    * Row-local partition transform, no shuffle. */
  def frameSignatures(
      ids: org.apache.spark.sql.Dataset[java.lang.Long]): org.apache.spark.sql.Dataset[FrameSig] = {
    import graft.functions.HashFunctions.mix64Long
    import ids.sparkSession.implicits._
    val (nFrames, w, h, contents) = (VideoFrames, FrameW, FrameH, FrameContents)
    val fpix = w * h
    ids.mapPartitions { iter =>
      val md = MessageDigest.getInstance("SHA-256")
      iter.flatMap { boxed =>
        val id = boxed.longValue()
        val frames = (0 until nFrames).map { f =>
          val c = mix64Long(id * nFrames + f) & (contents - 1).toLong
          GifVideoCodec.grayFrame(w, h, Array.tabulate(fpix) { i =>
            (mix64Long(c * fpix + i) & 255L).toByte
          })
        }
        val back = GifVideoCodec.decodeFrames(GifVideoCodec.encodeGif(frames))
          .getOrElse(throw new IllegalStateException(
            s"frameSignatures: self-encoded GIF for id=$id failed to decode"))
        // Same loud count guard as videoRoundTrip: a dropped or duplicated
        // frame would silently shift frame_idx off the mix64 content
        // keying and surface only as an opaque oracle diff downstream.
        if (back.length != nFrames)
          throw new IllegalStateException(
            s"frameSignatures: id=$id wrote $nFrames frames, decoded ${back.length}")
        back.zipWithIndex.map { case (img, f) =>
          val pix = new Array[Byte](fpix)
          val (sum, possum) = scanGrayFrame(img, pix)
          md.reset()
          val hex = md.digest(pix).map("%02x".format(_)).mkString
          FrameSig(id, f.toLong, sum, possum, hex)
        }
      }
    }
  }

}
