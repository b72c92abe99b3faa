package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Document chunking: cut each document's token sequence into fixed-size
  * overlapping windows ([[Chunking.ChunkTokens]] tokens, advancing by
  * [[Chunking.ChunkStride]]) — the
  * context-window / RAG-passage shape.
  *
  * Per-row generate-and-explode, no shuffle: the chunk count and every
  * chunk's slice are array expressions over the tokenized text, so the op
  * maps over 100 TB of documents at scan speed and chunk rows stream
  * straight into the next stage without ever materializing a corpus-wide
  * token stream. Chunk identity is (doc_id, chunk_idx); `chunk_fp` (md5 of
  * the space-joined window) gives chunk-level dedup a key for free.
  */
object Chunking {

  /** Tokens per chunk, and the tokens each chunk advances by. */
  final val ChunkTokens = 32
  final val ChunkStride = 24

  def chunkWindows(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (window, stride) = (ChunkTokens, ChunkStride)
    docs
      .withColumn("__toks", TextFunctions.tokens(col(textCol)))
      .withColumn("__n", size(col("__toks")).cast("long"))
      // windows covering n tokens: 0 for empty docs, else 1 + ceil((n-window)/stride)
      // (the last window may be short). Integer `div`, not `/` (double).
      .withColumn("__nc", expr(
        s"CASE WHEN __n <= 0 THEN 0L WHEN __n <= $window THEN 1L" +
          s" ELSE (__n - $window + ${stride - 1}) div ${stride}L + 1L END"))
      .select(
        col(idCol),
        col("__toks"),
        // empty array (not sequence(0,-1) — Spark would count DOWN) for
        // 0-chunk docs; stepped sequence, NOT transform(seq, i => i*stride):
        // exploding a higher-order-function array is CodegenFallback and
        // knocks the generate out of whole-stage codegen
        posexplode(when(col("__nc") === 0, array().cast("array<bigint>"))
          .otherwise(sequence(
            lit(0L), (col("__nc") - 1) * stride, lit(stride.toLong))))
          .as(Seq("__pos", "start_tok")))
      .select(
        col(idCol),
        col("__pos").cast("long").as("chunk_idx"),
        col("start_tok"),
        slice(col("__toks"), (col("start_tok") + 1).cast("int"), lit(window)).as("__chunk"))
      .select(
        col(idCol),
        col("chunk_idx"),
        col("start_tok"),
        size(col("__chunk")).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", col("__chunk")).cast("binary")).as("chunk_fp"))
  }

  /** Content-defined chunking: cut each document at positions where the
    * TOKEN'S OWN hash hits a gear condition (low hex nibble of md5 = '0',
    * expected chunk length 16 tokens) instead of at fixed offsets. This is
    * the rolling-hash CDC idea (Muthitacharoen et al. 2001, LBFS): because
    * a boundary depends only on local content, inserting or deleting text
    * shifts chunk FRAMES but not chunk IDENTITY — the edited region's
    * chunks change, everything downstream re-aligns and dedups again,
    * which fixed windows ([[chunkWindows]]) structurally cannot do.
    * md5 — not the engine's cheaper xxhash64 — as the gear so an
    * independent SQL engine replays boundaries exactly.
    *
    * Per-row and map-only end to end: boundary positions come from a
    * `filter` higher-order function over the token array (a scalar
    * projection — the EXPLODE input is a plain `sequence` over chunk
    * ordinals, so the generate itself stays in whole-stage codegen), and
    * each chunk's slice + fingerprint are array expressions. No shuffle,
    * no window, no driver state: at 100 TB the chunker rides the scan.
    *
    * Emits `(idCol, chunk_idx, start_tok, n_chunk_tokens, chunk_fp)` —
    * chunk_idx 1-based, start_tok 0-based, fingerprint = md5 of the
    * space-joined tokens. Empty documents produce no chunks.
    */
  def contentDefinedChunks(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
    val starts = toks
      .withColumn("__starts",
        concat(
          array(lit(1)),
          // position 1 is always a chunk start; later positions start a new
          // chunk when their token's md5 ends in nibble 0. Guarded sequence:
          // sequence(2, 1) would count DOWN, not produce empty.
          when(size(col("__toks")) >= 2,
            filter(
              sequence(lit(2), size(col("__toks"))),
              p => substring(md5(element_at(col("__toks"), p).cast("binary")), 32, 1) === "0"))
            .otherwise(array().cast("array<int>"))))
    starts
      .select(col(idCol), col("__toks"), col("__starts"),
        explode(sequence(lit(1), size(col("__starts")))).as("__ci"))
      .select(col(idCol), col("__toks"), col("__ci"),
        element_at(col("__starts"), col("__ci")).as("__s"),
        when(col("__ci") < size(col("__starts")),
          element_at(col("__starts"), col("__ci") + 1))
          .otherwise(size(col("__toks")) + 1).as("__e"))
      .select(
        col(idCol),
        col("__ci").cast("long").as("chunk_idx"),
        (col("__s") - 1).cast("long").as("start_tok"),
        (col("__e") - col("__s")).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ",
          slice(col("__toks"), col("__s"), col("__e") - col("__s"))).cast("binary"))
          .as("chunk_fp"))
  }
}
