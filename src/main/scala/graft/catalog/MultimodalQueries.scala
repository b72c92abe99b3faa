package graft
package catalog

import org.apache.spark.sql.functions._

/** Multimodal catalog family: binary payload columns and the image,
  * audio and video codec round-trips. */
object MultimodalQueries extends Family {

  // ---------------------------------------------------------------- q31
  // Multimodal-column plumbing: opaque binary payload + typed metadata.
  // The "decode" is a deterministic stub (container has no codec libs); the
  // byte-level metadata extraction is real and oracle-checked.
  val q31 = query("q31_multimodal_meta")((s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .select(
        col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        sha2(col("payload"), 256).as("sha256_hex"),
        (lit(32L) + length(col("payload")).cast("long") % 480).as("fake_width"),
        (lit(32L) + (length(col("payload")).cast("long") * 7) % 480).as("fake_height")
      )
      .orderBy("doc_id"))(
    """SELECT doc_id,
      | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      | sha256(text) AS sha256_hex,
      | 32 + CAST(octet_length(encode(text)) AS BIGINT) % 480 AS fake_width,
      | 32 + (CAST(octet_length(encode(text)) AS BIGINT) * 7) % 480 AS fake_height
      |FROM documents ORDER BY doc_id""".stripMargin)

  // ---------------------------------------------------------------- q168
  // REAL image-codec round-trip, VALUE-oracled without the oracle ever
  // decoding an image (Multimodal.codecRoundTrip): each doc_id expands
  // deterministically to 8×8×3 channel bytes (mix64(id·192+i) & 255),
  // Spark builds the real PNG, encodes and DECODES it through
  // javax.imageio, and reports decoded dims + exact channel sum; DuckDB
  // independently sums the same synthetic bytes (the splitmix64 replay).
  // PNG is lossless, so any codec/stride/channel bug breaks the hash.
  // Row-local mapPartitions, no shuffle — the q31 plumbing with the codec
  // made load-bearing.
  val q168 = query("q168_codec_roundtrip")((s, dir) => {
    import s.implicits._
    graft.multimodal.Multimodal.codecRoundTrip(
        Tables.documents(s, dir).select(col("doc_id")).as[java.lang.Long], 8, 8)
      .toDF()
      .orderBy("doc_id")
  })({
    val mh = DuckHash.mix64Inline("CAST(doc_id * 192 + i AS UBIGINT)")
    s"""SELECT doc_id,
       |  CAST(8 AS BIGINT) AS decoded_w, CAST(8 AS BIGINT) AS decoded_h,
       |  CAST(sum(($mh) & 255) AS BIGINT) AS pixel_sum
       |FROM (SELECT doc_id, unnest(range(0, 192)) AS i FROM documents)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  })

  // ---------------------------------------------------------------- q175
  // REAL audio-codec round-trip (Multimodal.audioRoundTrip) — q168's WAV
  // sibling, retiring the audio stub: each doc_id expands deterministically
  // to 256 signed 16-bit samples ((mix64(id·256+i) & 0xFFFF) − 32768),
  // Spark writes a real mono WAV through javax.sound.sampled, DECODES it
  // back, and reports decoded sample/channel counts + the exact sample
  // sum; DuckDB independently sums the same synthetic samples without any
  // audio library. PCM is lossless, so a byte-order flip, header-length
  // bug, dropped sample, or signedness error all break the hash.
  val q175 = query("q175_audio_roundtrip")((s, dir) => {
    import s.implicits._
    graft.multimodal.Multimodal.audioRoundTrip(
        Tables.documents(s, dir).select(col("doc_id")).as[java.lang.Long], 256)
      .toDF()
      .orderBy("doc_id")
  })({
    val mh = DuckHash.mix64Inline("CAST(doc_id * 256 + i AS UBIGINT)")
    s"""SELECT doc_id,
       |  CAST(256 AS BIGINT) AS n_samples, CAST(1 AS BIGINT) AS n_channels,
       |  CAST(sum(CAST(($mh) & 65535 AS BIGINT) - 32768) AS BIGINT) AS sample_sum
       |FROM (SELECT doc_id, unnest(range(0, 256)) AS i FROM documents)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  })

  // ---------------------------------------------------------------- q181
  // REAL video-codec round-trip (Multimodal.videoRoundTrip) — q168/q175's
  // GIF sibling, retiring the video stub: each doc_id expands to 6 frames
  // of 16×8 gray pixels (mix64((id·6+f)·128+i) & 255), Spark writes a real
  // animated GIF through the JDK sequence writer, demuxes+DECODES it back,
  // samples 4 of the 6 frames evenly (src 0,1,3,4 — the stride is itself
  // value-checked via src_frame), and reports per-frame decoded dims +
  // exact pixel sums; DuckDB sums the same synthetic bytes with no image
  // library. The 256-gray palette makes GIF lossless, so a frame-order
  // bug, dropped/duplicated frame, palette remap, or stride error all
  // break the hash — and pixel_possum (Σ (i+1)·vᵢ) additionally breaks on
  // ROW reordering inside a frame, the one corruption a plain sum can't
  // see (it's how the JDK writer's default interlace flag was caught).
  val q181 = query("q181_video_roundtrip")((s, dir) => {
    import s.implicits._
    graft.multimodal.Multimodal.videoRoundTrip(
        Tables.documents(s, dir).select(col("doc_id")).as[java.lang.Long],
        nFrames = 6, w = 16, h = 8, maxFrames = 4)
      .toDF()
      .orderBy("doc_id", "frame_idx")
  })({
    val mh = DuckHash.mix64Inline("CAST((doc_id * 6 + src) * 128 + i AS UBIGINT)")
    s"""WITH sel AS (SELECT doc_id, fi, fi * 6 // 4 AS src
       |  FROM (SELECT doc_id, unnest(range(0, 4)) AS fi FROM documents)),
       |px AS (SELECT doc_id, fi, src, unnest(range(0, 128)) AS i FROM sel)
       |SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
       |  CAST(src AS BIGINT) AS src_frame,
       |  CAST(16 AS BIGINT) AS decoded_w, CAST(8 AS BIGINT) AS decoded_h,
       |  CAST(sum(($mh) & 255) AS BIGINT) AS pixel_sum,
       |  CAST(sum((i + 1) * (($mh) & 255)) AS BIGINT) AS pixel_possum
       |FROM px GROUP BY doc_id, fi, src ORDER BY doc_id, frame_idx""".stripMargin
  })

  // ---------------------------------------------------------------- q182
  // CROSS-VIDEO FRAME DEDUP — the operation the real GIF codec unlocks
  // (Multimodal.frameSignatures): every doc becomes a real 6-frame video
  // whose frame CONTENTS draw from a shared 64-entry pool
  // (mix64(id·6+f) & 63 — duplicates across videos by construction), the
  // GIF round-trips encode→demux→decode, and each DECODED raster emits
  // its dedup signature. The rollup groups by the integer signature pair
  // (pixel_sum, pixel_possum) — both SQL-replayable — and per group
  // reports occurrences, distinct videos, the implied duplicate-pair
  // count n_docs·(n_docs−1)/2, and `n_sha` = count(distinct sha256) of
  // the decoded bytes, which MUST be 1: the oracle asserts byte-identity
  // inside every signature bucket without hashing anything itself (a
  // codec bug that decodes two contents to rasters with colliding sums
  // would raise n_sha, and a signature collision would too). Dedup on
  // DECODED pixels, not container bytes — the same frame in two files
  // never hashes equal at the container level (LZW phase, neighbors).
  val q182 = query("q182_frame_dedup")((s, dir) => {
    import s.implicits._
    graft.multimodal.Multimodal.frameSignatures(
        Tables.documents(s, dir).select(col("doc_id")).as[java.lang.Long],
        nFrames = 6, w = 16, h = 8, contents = 64)
      .toDF()
      .groupBy(col("pixel_sum"), col("pixel_possum"))
      .agg(
        count(lit(1)).as("n_frames"),
        countDistinct(col("doc_id")).as("n_docs"),
        countDistinct(col("sha256_hex")).as("n_sha"))
      .select(col("pixel_sum"), col("pixel_possum"), col("n_frames"),
        col("n_docs"),
        // integer div: Column `/` is floating and would round a large
        // pair count through a double
        expr("(n_docs * (n_docs - 1)) div 2").as("n_dup_pairs"),
        col("n_sha"))
      .orderBy("pixel_sum", "pixel_possum")
  })({
    val ch = DuckHash.mix64Inline("CAST(doc_id * 6 + f AS UBIGINT)")
    val mh = DuckHash.mix64Inline("CAST(c * 128 + i AS UBIGINT)")
    s"""WITH occ AS (SELECT doc_id, ($ch) & 63 AS c
       |  FROM (SELECT doc_id, unnest(range(0, 6)) AS f FROM documents)),
       |sig AS (SELECT c,
       |    CAST(sum(($mh) & 255) AS BIGINT) AS pixel_sum,
       |    CAST(sum((i + 1) * (($mh) & 255)) AS BIGINT) AS pixel_possum
       |  FROM (SELECT DISTINCT c FROM occ), unnest(range(0, 128)) AS t(i)
       |  GROUP BY c),
       |agg AS (SELECT c, count(*) AS n_frames, count(DISTINCT doc_id) AS n_docs
       |  FROM occ GROUP BY c)
       |SELECT pixel_sum, pixel_possum,
       |  CAST(n_frames AS BIGINT) AS n_frames, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_docs * (n_docs - 1) // 2 AS BIGINT) AS n_dup_pairs,
       |  CAST(1 AS BIGINT) AS n_sha
       |FROM agg JOIN sig USING (c)
       |ORDER BY pixel_sum, pixel_possum""".stripMargin
  })
}
