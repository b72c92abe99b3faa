package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{HashFunctions, TextFunctions}

/** Thrown DRIVER-SIDE, at operator-call time, when a simjoin blowup guard's
  * measured same-prefix candidate-pair mass exceeds its cap
  * ([[Dedup.prefixFilterJaccardJoin]] `maxPairsPerEntry`). A dedicated
  * type (still an IllegalStateException, so pre-existing broad catches
  * keep working) lets callers distinguish
  * "your corpus would go quadratic" from unrelated illegal states — the
  * failure used to surface as a Spark runtime exception at ACTION time;
  * the eager guard moved it to call time where a catch can react (raise
  * tau, switch to shingles) before any join is planned. */
final class CandidateCapExceededException(message: String)
    extends IllegalStateException(message)

/** Document deduplication for training-data pipelines, at four fidelity
  * tiers (SURVEY-adjacent north-star surface):
  *
  *  1. exact       — content-hash groupBy (one shuffle on a 128-bit key)
  *  2. n-gram      — shingle-overlap candidate pairs + exact Jaccard verify
  *  3. MinHash/LSH — signature banding; shuffle volume ∝ docs × bands, not
  *                   docs², the only tier that survives 100 TB all-pairs
  *  4. SimHash     — 64-bit per-doc sketch, hamming-radius grouping
  *
  * Signatures and sketches are pure codegen'd expressions (no UDFs, no
  * shuffle to build); only candidate generation shuffles, and it shuffles
  * on (band, bucket) — bounded-size keys with natural load spreading.
  */
object Dedup {

  /** Word-shingle width of the MinHash family ([[minHashSignature]],
    * [[minHashSignatures]], the LSH pairs). */
  final val MinHashK = 3
  /** MinHash signature length, and signature rows per LSH band, of
    * [[bandedBuckets]]: 8 bands. */
  final val NumHashes = 16
  final val RowsPerBand = 2
  /** Shingle width and minimum shared shingles of [[ngramJaccardPairs]],
    * and the shingle width of [[contaminationFlags]] (one shared shingle
    * flags a document). */
  final val NgramK = 5
  final val NgramMinShared = 2
  /** Denominator of [[prefixFilterJaccardJoin]]'s threshold: τ = tauNum / 10. */
  final val TauDen = 10
  /** Distinct documents a line must occur in for [[dropDuplicatedLines]]
    * to call it boilerplate. */
  final val BoilerplateMinDocs = 5L

  /** Exact dedup: one row per distinct (normalized) content hash with group
    * size and the minimum id as the canonical survivor. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextFunctions.fingerprintMd5(col(textCol)).as("fingerprint"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col(idCol)).as("keep_id")
      )

  /** Rows surviving exact dedup (min-id per content group). */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactGroups(df, idCol, textCol).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** N-gram candidate pairs: documents sharing ≥ [[NgramMinShared]]
    * distinct word [[NgramK]]-shingles, with exact Jaccard over the shingle sets. Self-join on the
    * shingle key; at scale, cap the explosion by dropping ultra-frequent
    * shingles (stop-shingles) before the join — `maxShingleFreq <= 0`
    * disables the prune (it costs an extra pass over the shingle pipeline,
    * worth paying only when the corpus has skewed shingle frequencies). */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxShingleFreq: Long = 1000L
  ): DataFrame = {
    // Shingles join on their 64-bit hash, not the string: same pair counts
    // (collisions are ~n²/2⁶⁴ improbable) at ~60% of the shuffle bytes and
    // compare cost. Tokens are materialized in their own projection so the
    // per-shingle slice lambda reads a bound array instead of re-running
    // the regex split per shingle (see TextFunctions.shinglesOfTokens).
    val shingled = df
      .select(col(idCol).as("doc"), TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col("doc"),
        array_distinct(TextFunctions.shinglesOfTokens(col("toks"), NgramK)).as("sh"))
      .select(col("doc"), size(col("sh")).as("n_sh"),
        explode(transform(col("sh"), s => xxhash64(s))).as("shingle"))
    // Drop shingles shared by too many docs: they generate quadratic pair
    // blowup while signalling nothing (the "stop-shingle" cut).
    val pruned =
      if (maxShingleFreq <= 0) shingled
      else {
        val rare = shingled
          .groupBy("shingle").agg(count(lit(1)).as("df_freq"))
          .filter(col("df_freq") <= maxShingleFreq)
        shingled.join(rare.select("shingle"), Seq("shingle"), "left_semi")
      }
    val pairs = pruned.as("a")
      .join(pruned.as("b"), col("a.shingle") === col("b.shingle") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= NgramMinShared)
    pairs.select(
      col("doc_a"), col("doc_b"), col("n_shared"),
      (col("n_shared").cast("double") /
        (col("n_a") + col("n_b") - col("n_shared")).cast("double")).as("jaccard")
    )
  }

  /** MinHash signature column: for each of [[NumHashes]] seeded hash-family
    * members, the minimum over the document's distinct [[MinHashK]]-shingle hashes.
    * Entirely per-row — no shuffle.
    *
    * The text is tokenized/shingled/hashed ONCE per row (the naive
    * per-seed-aggregate form re-evaluates the whole shingle pipeline once
    * per hash — 32x the string work; measured 200s vs ~7s on 5k docs), and
    * the seeded-min fold itself runs in the native codegen'd
    * [[graft.plans.MinHashSig]] kernel — one primitive long[NumHashes],
    * no per-shingle array allocation (the previous
    * `aggregate(..., zip_with(least(...)))` composition allocated a fresh
    * accumulator array per shingle; values are identical). */
  def minHashSignature(textCol: Column): Column = {
    val shingleHashes = transform(
      TextFunctions.distinctShingles(textCol),
      s => HashFunctions.tokenHash(s)
    )
    graft.plans.GraftFunctions.minHashSig(shingleHashes)
  }

  /** MinHash signatures as a DataFrame: explode shingle hashes and take the
    * 32-64 per-seed mins as a grouped aggregation. One shuffle, but of
    * map-side-combined partial mins — the shuffled volume equals the
    * signature table itself (docs × numHashes longs), and the primitive
    * long min-aggregate still codegens ~1.4x faster than the per-row fold
    * of [[minHashSignature]] even after the latter's native-kernel rewrite
    * (the column form remains the zero-shuffle option when the signature
    * must stay a derived column). */
  def minHashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int
  ): DataFrame = {
    val k = MinHashK
    // Position-explode, hash per row: exploding a transform(...) array
    // (higher-order function → CodegenFallback) would drop the generate
    // stage out of whole-stage codegen. The per-doc shingle DISTINCT was
    // dropped with the rewrite — min over a multiset equals min over its
    // set, so duplicate shingles cannot change any signature minimum, and
    // the map-side partial min absorbs them before the shuffle. Documents
    // shorter than k tokens keep their explode_outer null row (→ all-
    // MaxValue signature), guarded so the null position never hashes.
    val exploded = df
      .select(col(idCol).as("doc"), TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col("doc"), col("toks"),
        explode_outer(
          when(size(col("toks")) < k, lit(null).cast("array<int>"))
            .otherwise(sequence(lit(0), size(col("toks")) - k))).as("__i"))
      .select(col("doc"),
        when(col("__i").isNull, lit(null).cast("long"))
          .otherwise(HashFunctions.tokenHash(
            concat_ws(" ", slice(col("toks"), col("__i") + 1, lit(k))))).as("h"))
    val aggs = (0 until numHashes).map { i =>
      coalesce(min(HashFunctions.seeded(col("h"), lit(i))), lit(Long.MaxValue)).as(s"sig_$i")
    }
    exploded
      .groupBy(col("doc"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc"), array((0 until numHashes).map(i => col(s"sig_$i")): _*).as("sig"))
  }

  /** (doc, band, bucket) LSH banding of MinHash signatures: split the
    * [[NumHashes]]-long signature into bands of [[RowsPerBand]], hash each band; docs colliding
    * on any (band, bucket) are candidate pairs. Shuffle key is the band
    * bucket — cardinality ~ docs × bands / collision-rate, never docs².
    * The shared candidate-generation table behind self-dedup
    * ([[minHashLshPairs]]) and incremental cross-corpus dedup
    * ([[minHashLshPairsAgainst]]). In a production ingest the REFERENCE
    * side of this table is persisted once and only the incoming batch
    * recomputes. */
  def bandedBuckets(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val numBands = NumHashes / RowsPerBand
    // Documents shorter than MinHashK tokens have NO shingles and would all carry
    // the identical all-MaxValue signature — which collides in every band,
    // pairing every short doc with every other short doc (and, for the
    // cross-corpus form, silently dropping short incoming docs whenever
    // the reference contains any short doc). No shingles = no similarity
    // signal: exclude them from candidate generation entirely.
    val sig = minHashSignatures(
      df.filter(size(TextFunctions.tokens(col(textCol))) >= MinHashK),
      idCol, textCol, NumHashes)
    sig.select(
      col("doc"),
      posexplode(
        transform(
          sequence(lit(0), lit(numBands - 1)),
          b =>
            aggregate(
              slice(col("sig"), b * RowsPerBand + 1, lit(RowsPerBand)),
              lit(1125899906842597L),
              (acc, h) => HashFunctions.mix64(acc * lit(31L) + h)
            )
        )
      ).as(Seq("band", "bucket"))
    )
  }

  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Repartition the banded table by the join key BEFORE the self-join:
    // without an exchange directly above it, the expensive signature
    // pipeline (tokenize → shingle explode → numHashes seeded mins → band
    // fold) is planned ONCE PER JOIN SIDE and executed twice — runtime
    // exchange reuse only recovered the raw document-table shuffle below
    // it (measured at sf0.1: two ~13 task-second signature stages per
    // query, the two hottest stages of every LSH consumer). With the
    // (band, bucket) exchange here, the whole signature subtree sits
    // below one reusable shuffle: side b becomes a ReusedExchange and the
    // signatures are computed exactly once (guide §2.4 — two operations
    // keyed the same way share one exchange). The extra shuffle carries
    // (doc, band, bucket) — docs × bands rows of ~24 bytes, orders of
    // magnitude lighter than recomputing the signature pass at any scale.
    val banded = bandedBuckets(df, idCol, textCol)
      .repartition(col("band"), col("bucket"))
    banded.as("a")
      .join(
        banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc") < col("b.doc")
      )
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
  }

  /** Incremental cross-corpus dedup candidates: every incoming document
    * that collides with an ALREADY-INGESTED reference document in any LSH
    * band — the batch-N-versus-corpus shape a production ingest runs on
    * every refresh (self-pairs within the incoming batch are
    * [[minHashLshPairs]]' job; this join only crosses the boundary, so the
    * candidate volume is incoming × collision-rate, independent of
    * reference size). At scale the reference's banded table is a persisted
    * artifact keyed on (band, bucket); the incoming side shuffles to it.
    * Returns (new_doc, ref_doc) distinct pairs. */
  def minHashLshPairsAgainst(
      incoming: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    val a = bandedBuckets(incoming, idCol, textCol)
    val b = bandedBuckets(reference, idCol, textCol)
    a.as("a")
      .join(b.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.doc").as("new_doc"), col("b.doc").as("ref_doc"))
      .distinct()
  }

  /** Estimated Jaccard from MinHash signatures (fraction of agreeing
    * components) for verifying LSH candidates without re-shingling. */
  def minHashJaccardEstimate(sigA: Column, sigB: Column): Column =
    aggregate(
      zip_with(sigA, sigB, (a, b) => when(a === b, 1).otherwise(0)),
      lit(0),
      (acc, x) => acc + x
    ).cast("double") / size(sigA).cast("double")

  /** 64-bit SimHash sketch: bit b is the sign of the sum over tokens of
    * ±1 according to bit b of the token hash. Near-duplicates land within a
    * small hamming distance. Pure per-row expression. */
  def simHash64(textCol: Column): Column = {
    val tokenHashes = transform(TextFunctions.tokens(TextFunctions.normalize(textCol)), t => xxhash64(t))
    // One literal bit-mask per output bit (lambda variables can't feed the
    // Int-typed shift builtins; masks keep everything in codegen). Single
    // fold with a 64-wide counter accumulator — tokenizes once per row,
    // not once per bit.
    val masks = array((0 to 63).map(b => lit(1L << b)): _*)
    val counts = aggregate(
      tokenHashes,
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, masks, (c, mask) => c + when(h.bitwiseAND(mask) =!= 0L, 1L).otherwise(-1L))
    )
    val bits = transform(counts, c => when(c >= 0, lit(1L)).otherwise(lit(0L)))
    aggregate(bits, lit(0L), (acc, bit) => acc * 2 + bit)
  }

  /** Benchmark decontamination: for each corpus document, the number of its
    * distinct word [[NgramK]]-shingles that also appear in ANY eval-set document,
    * plus a `contaminated` flag when it shares one — the train/eval overlap scan
    * every serious training-data pipeline runs before shipping a corpus.
    *
    * Scale shape: the eval set is small by construction, so its distinct
    * shingles are BROADCAST; the corpus side is a map-only
    * shingle-explode + broadcast semi-join (no corpus shuffle), and the
    * per-doc overlap count is a partial-aggregated groupBy on the doc id —
    * shuffle volume ∝ contaminated shingle hits, not corpus size. Every
    * corpus doc appears in the output (n_overlap = 0 when clean).
    */
  def contaminationFlags(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    val k = NgramK
    // Shingles are 64-BIT HASHES of the k-token windows (xxhash64 over the
    // sliced token array — the window strings are never materialized), and
    // the explode runs over the cheap POSITION sequence with the hash
    // computed per row AFTER the generate. Two measured pathologies drive
    // this shape: (1) building window strings dominates the query (3.8s of
    // 4.4s at sf0.1), and (2) exploding a higher-order-function array
    // (transform is CodegenFallback) drops the whole generate stage out of
    // codegen (~0.4s → ~4s for the identical row count). Per-doc shingle
    // dedup moves into the aggregate (countDistinct, which partial-
    // aggregates map-side and only sees post-semi-join survivors). Equal
    // to string-set semantics up to a 2^-64 hash collision (deterministic
    // for a given corpus; the oracle computes the string form and the
    // correctness gate confirms equality).
    def shingleRows(df: DataFrame): DataFrame =
      df.select(col(idCol).as("doc"), TextFunctions.tokens(col(textCol)).as("toks"))
        .filter(size(col("toks")) >= k)
        .select(col("doc"), col("toks"),
          explode(sequence(lit(0), size(col("toks")) - k)).as("__i"))
        .select(col("doc"),
          xxhash64(slice(col("toks"), col("__i") + 1, lit(k))).as("shingle"))
    val evalShingles = broadcast(shingleRows(evalSet).select(col("shingle")).distinct())
    val hits = shingleRows(corpus)
      .join(evalShingles, Seq("shingle"), "left_semi")
      .groupBy(col("doc"))
      .agg(countDistinct(col("shingle")).as("n_overlap"))
    corpus
      .select(col(idCol).as("doc"))
      .join(hits, Seq("doc"), "left")
      .select(
        col("doc").as(idCol),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") >= 1)
  }

  /** Duplicated-span statistics: for every document, how many of its
    * `w`-token rolling windows (stride 1) also appear in ANOTHER document.
    * This is the span/substring tier of the dedup stack — the scalable
    * stand-in for suffix-array exact-substring dedup (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better"): instead
    * of a global suffix array, fixed-width window fingerprints are grouped
    * and any fingerprint seen in ≥ 2 distinct documents marks all its
    * occurrences as duplicated span material.
    *
    * Output: (idCol, n_spans, n_dup_spans, dup_span_frac) — one row per
    * input document (documents shorter than `w` tokens report 0 spans).
    *
    * Scale shape: span generation is a per-row codegen'd
    * transform+explode (linear — n_tokens rows per doc, no pair blowup);
    * the fingerprint is a 128-bit md5 so the shuffle key is fixed-width
    * regardless of `w`. One shuffle groups fingerprints (map-side combine
    * absorbs within-partition repeats), the cross-doc-duplicated subset —
    * tiny relative to the corpus — semi-joins back (AQE broadcasts it when
    * it fits), and the final per-doc rollup shuffles on the doc key. Never
    * quadratic; at 100 TB every stage is linear in total token count. */
  def duplicatedSpanStats(df: DataFrame, idCol: String, textCol: String, w: Int): DataFrame = {
    require(w >= 2, s"span width must be >= 2, got $w")
    // Explode the POSITION sequence and fingerprint after the generate:
    // exploding a transform(...) array (higher-order function →
    // CodegenFallback) would knock the generate stage out of whole-stage
    // codegen — measured ~10x on the identical row count.
    val toks = df.select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
    val spans = toks
      .filter(size(col("__toks")) >= w)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0), size(col("__toks")) - w)).as("__i"))
      .select(col(idCol),
        md5(concat_ws(" ", slice(col("__toks"), col("__i") + 1, lit(w)))).as("span"))
    val dupSpans = spans
      .groupBy(col("span"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= 2)
      .select(col("span"))
    val perDoc = spans
      .join(dupSpans, Seq("span"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__n_dup"))
    toks
      .select(col(idCol), greatest(size(col("__toks")) - (w - 1), lit(0)).cast("long").as("n_spans"))
      .join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        col("n_spans"),
        coalesce(col("__n_dup"), lit(0L)).as("n_dup_spans"),
        when(col("n_spans") === 0, lit(0.0))
          .otherwise(coalesce(col("__n_dup"), lit(0L)).cast("double") / col("n_spans").cast("double"))
          .as("dup_span_frac"))
  }

  /** Maximal duplicated spans — the EXACT-substring tier above
    * [[duplicatedSpanStats]]'s per-doc fractions (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", the
    * maximal-match reporting step): for each document, every maximal run
    * of consecutive duplicated `w`-token windows, reported as
    * `(idCol, span_start, span_tokens)` — a run of k consecutive
    * duplicated window starts is one maximal shared substring of
    * `k + w - 1` tokens (its interior windows are duplicated by
    * construction, and extending past either end hits a non-duplicated
    * window).
    *
    * This is the suffix-extension a suffix-array tier would do, but over
    * the window table: instead of building a corpus-wide suffix array
    * (super-linear memory, global sort over every suffix), consecutive
    * duplicated positions are grouped with the classic `pos − row_number`
    * run-length trick — ONE extra shuffle, on the doc key, over only the
    * duplicated positions (a small subset of the corpus by the time
    * training data is worth span-level auditing). Every stage stays
    * linear in total token count; nothing is ever pairwise.
    */
  def maximalDuplicatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int): DataFrame = {
    require(w >= 2, s"span width must be >= 2, got $w")
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
    // position-carrying variant of duplicatedSpanStats' window table
    val spans = toks
      .filter(size(col("__toks")) >= w)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0), size(col("__toks")) - w)).as("__pos"))
      .select(col(idCol), col("__pos"),
        md5(concat_ws(" ", slice(col("__toks"), col("__pos") + 1, lit(w)))).as("__span"))
    val dupSpans = spans
      .groupBy(col("__span"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= 2)
      .select(col("__span"))
    val dupPos = spans
      .join(dupSpans, Seq("__span"), "left_semi")
      .select(col(idCol), col("__pos"))
    val ws = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    dupPos
      .withColumn("__grp", col("__pos") - row_number().over(ws))
      .groupBy(col(idCol), col("__grp"))
      .agg(
        min(col("__pos")).cast("long").as("span_start"),
        (count(lit(1)) + lit(w - 1)).cast("long").as("span_tokens"))
      .drop("__grp")
  }

  /** FastSS/SymSpell-style fuzzy blocking: all pairs of rows whose string
    * values are within Levenshtein distance 1, found via single-character
    * DELETION-NEIGHBORHOOD keys instead of an all-pairs distance matrix.
    * Two strings at distance ≤ 1 (one substitution, insertion, or
    * deletion) always share a key in {s} ∪ {s minus char i}, so a hash
    * join on those keys finds every true pair; a row-local `levenshtein`
    * verify then removes the false candidates the key join admits (e.g.
    * "ab"/"ba" share keys "a" and "b" but sit at distance 2). The
    * entity-resolution blocking primitive: name/SKU/id-field variant
    * detection without n² comparisons.
    *
    * At k=1 no distance computation is needed at all: a candidate is a
    * TRUE pair exactly when its shared key comes from the same deletion
    * position on both sides (⟹ the strings differ at most at that one
    * position — a substitution) or from position 0 on either side (one
    * string IS the other minus a character — insert/delete — or both,
    * equal strings). The position test is a row-local integer compare
    * where a Levenshtein verify is an O(len²) DP per candidate — measured
    * 2.5× faster end-to-end at sf0.1 — and DedupSpec pins agreement with
    * real `levenshtein` on randomized inputs (the q127 oracle re-checks
    * it against DuckDB's levenshtein at corpus scale).
    *
    * Scale shape: the key table is rows × (len+1) — len is entity-name
    * sized, not document sized — and the self-join shuffles on the key
    * string (short; hashing it buys nothing here, unlike document
    * shingles). Hot keys (short strings, heavy shared prefixes) blow the
    * join up quadratically per bucket, so keys occurring more than 1000
    * times are dropped first — the stop-shingle prune of
    * [[ngramJaccardPairs]], with the same recall caveat (a pair ONLY
    * reachable through a pruned key is lost).
    * Key frequency counts row-occurrences, not distinct ids ("aa" emits
    * key "a" twice and both count) — the oracle replays the same rule.
    *
    * Keys that SURVIVE the prune can still dominate a reducer: a key at
    * freq f costs f² candidate comparisons, all on one task under plain
    * hash partitioning, and a same-key aggregation downstream is exactly
    * where AQE's skew split cannot help (measured 15× max/mean task skew
    * on the q159 ER capstone — at 100× the hot key IS the wall-clock).
    * So the join is TWO-TIER, split by the same frequency table the
    * prune already builds: keys at freq ≤ 64 equi-join on the key as
    * usual, hotter keys join on (key, salt) — the probe side bucketed by
    * `mix64(id) mod 8` ([[SkewJoin.saltedJoin]]'s deterministic spread),
    * the build side replicated over all 8 salts — which divides each hot
    * key's f² bucket across 8 reducers for the cost of replicating only
    * the hot rows. LOSSLESS: every pair still meets on exactly one (key,
    * salt) cell (the probe row's single bucket), so the output is
    * bit-identical to the unsalted join — DedupSpec pins it.
    *
    * Output: (id_a, id_b, str_a, str_b, dist) with id_a < id_b, dist ∈
    * {0, 1} — distance-0 pairs are distinct ids carrying identical
    * strings, the exact-dup tier's finding, kept here so the blocking
    * report is complete. */
  def editOnePairs(
      df: DataFrame,
      idCol: String,
      strCol: String): DataFrame = {
    // Spread the (id, str) projection before the ×(len+1) key explosion:
    // the natural input here is a DIMENSION (names, SKUs — often a
    // single-rowgroup scan, Spark's atomic split), and without this the
    // whole deletion-key build runs in ONE task while the cluster idles —
    // measured as the dominant task skew in the q159 ER capstone, dwarfing
    // any per-key heat. One light shuffle of two short columns buys
    // key-build parallelism ∝ cluster size. EXPLICIT count: the key build
    // and (when the other side broadcasts) the candidate join itself run
    // in this exchange's partitions, and their per-row cost is string CPU
    // that AQE's byte-based coalescer systematically underestimates —
    // measured 3× wall on this stage when left advisory.
    // Pinned EXPLICITLY so AQE's byte-based coalescer can't shrink it
    // (string CPU per row is what it underestimates; measured 3× wall
    // when left advisory), and sized by BOTH cluster and data:
    //  - floor: half the session's shuffle parallelism (min 16) —
    //    cluster-proportional; 2× coarser than the session default
    //    because at fixture scale the pinned stages' per-task constants
    //    dominate and full width degrades the whole-job skew ratio
    //    (measured 2.6 → 7.6 max/mean at 16 → 32 tasks with the hot
    //    stage itself balanced at 1.2);
    //  - growth: one extra slot per ~50k input rows, capped at the
    //    session width — the pinned stages' work is rows × (len+1)
    //    string CPU, so their right width grows with DATA: the sf10
    //    rehearsal measured the half-width pin costing ~2× wall on
    //    these stages once the key build carries real mass.
    // The sizing count is one scan of a two-column projection of a
    // DIMENSION (this operator's input contract) — metadata-priced.
    val conf = df.sparkSession.sessionState.conf.numShufflePartitions
    val proj = df.select(col(idCol).as("__id"), col(strCol).as("__s"))
    val para = math.min(
      conf.toLong,
      math.max(math.max(conf / 2, 16).toLong, proj.count() / 50000L + 1L)).toInt
    val base = proj.repartition(para, col("__id"))
    // The deletion-key build (the ×(len+1) explode + two substrings per
    // key) is consumed by the frequency pass AND both sides of every
    // candidate-join tier (light a/b, hot a/b when salting) — planned
    // lazily, that subtree executes once PER CONSUMER, because runtime
    // exchange reuse only recovers work below an exchange and the only
    // exchange sat below the explode (measured at sf0.1: the key build
    // ran 4-6×, two ~6 task-second stages per join side). Shuffling the
    // exploded table by the join/grouping key __k puts the build below
    // ONE reusable exchange (guide §2.4): the frequency aggregation
    // reads it co-partitioned (no further exchange), and every join leg
    // above it becomes a ReusedExchange. The explode itself still runs
    // in the __id exchange's `para` partitions, so build parallelism is
    // unchanged; the extra shuffle carries the keys table once — always
    // cheaper than re-building it per consumer.
    val keys = base
      .select(col("__id"), col("__s"),
        explode(sequence(lit(0), length(col("__s")))).as("__i"))
      .select(col("__id"), col("__s"), col("__i"),
        when(col("__i") === 0, col("__s"))
          .otherwise(concat(
            col("__s").substr(lit(1), col("__i") - 1),
            col("__s").substr(col("__i") + 1, length(col("__s")))))
          .as("__k"))
      .repartition(para, col("__k"))
    // One frequency pass serves both the prune and the hot-tier split.
    val freq = keys.groupBy(col("__k")).agg(count(lit(1)).as("__kf"))
    val pruned = keys.join(freq.filter(col("__kf") <= 1000L), Seq("__k"))
    def sideCols(tag: String)(d: DataFrame) = d.select(
      col("__k") +: d.columns.filter(_ == "__g").map(col).toSeq ++: Seq(
        col("__i").as(s"__i$tag"), col("__id").as(s"id_$tag"),
        col("__s").as(s"str_$tag")): _*)
    val light = pruned.filter(col("__kf") <= 64L)
    val hot = pruned.filter(col("__kf") > 64L)
    // Build side replicated over every salt; probe side lands in its one
    // deterministic bucket — each pair meets exactly once.
    val hotA = hot.withColumn("__g", explode(sequence(lit(0), lit(7))))
    val hotB = hot.withColumn("__g",
      pmod(graft.functions.HashFunctions.mix64(col("__id")), lit(8L)).cast("int"))
    sideCols("a")(light).join(sideCols("b")(light), Seq("__k"))
      .unionByName(
        sideCols("a")(hotA).join(sideCols("b")(hotB), Seq("__k", "__g"))
          .drop("__g"))
      .filter(col("id_a") < col("id_b") &&
        (col("__ia") === col("__ib") || col("__ia") === 0 || col("__ib") === 0))
      // same pair can qualify through several keys (an equal-string pair
      // matches at i=0 AND at every same-i key): keep the MINIMUM label,
      // which is 0 exactly for equal strings
      .select(col("id_a"), col("id_b"), col("str_a"), col("str_b"),
        when(col("__ia") === 0 && col("__ib") === 0, 0).otherwise(1).as("__d"))
      // Pin the pair-dedup exchange like the base spread: its input is the
      // full candidate stream (CPU-dense, byte-light — the same AQE
      // coalescer blind spot). Group on the id pair alone — the strings
      // are functionally dependent on their ids FOR KEYED INPUT, so
      // re-emitting them costs no string hashing in the grouping key. The
      // single struct-min keeps (dist, str_a, str_b) from ONE source row:
      // independent min()s could pair one duplicate-id row's string with
      // another's distance label — a combination no candidate pair ever
      // had — if a dirty feed violates id-uniqueness.
      .repartition(para, col("id_a"), col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(struct(col("__d"), col("str_a"), col("str_b"))).as("__m"))
      .select(col("id_a"), col("id_b"),
        col("__m.str_a"), col("__m.str_b"), col("__m.__d").as("dist"))
  }

  /** Quality-aware survivor election: given a `components` table
    * `(node, cluster)` (from [[ConnectedComponents.components]]) and a
    * `scored` table `(idCol, scoreCol)`, return the LOSERS — every cluster
    * member except its best document (max score, min id on ties). Anti-join
    * the result against the corpus to keep the cleanest representative of
    * each duplicate cluster (Lee et al.'s "keep the best" curation rule;
    * min-id survivorship falls out when all scores tie, e.g. exact dups).
    *
    * The election is a [[graft.plans.TopKAgg]] k=1 bounded aggregate: the
    * exchange carries ONE (score, id) pair per cluster — no row_number
    * window, no sort of the membership. Output is loser-count-sized
    * (duplicates only), broadcastable at any realistic dup rate.
    *
    * A cluster whose election is EMPTY (every member's score null — TopKAgg
    * skips null rows) produces no losers: the conservative outcome is
    * keeping the whole cluster, never deleting it. Ids must be integral
    * (TopKAgg's id leg is bigint) — required loudly, the same silent-cast
    * footgun [[ConnectedComponents.components]] guards against. */
  def bestSurvivorLosers(
      components: DataFrame,
      scored: DataFrame,
      idCol: String,
      scoreCol: String): DataFrame = {
    Guards.requireIntegralColumns(scored, Seq(idCol), "bestSurvivorLosers")
    val members = components
      .join(scored, components("node") === scored(idCol), "inner")
      .select(col("cluster"), col(idCol), col(scoreCol).cast("double").as("__s"))
    // best keeps its cluster id: losers are members of clusters WITH a
    // winner, minus the winner — a cluster with no elected best (all-null
    // scores) contributes no losers instead of losing every member
    val best = members.groupBy(col("cluster"))
      .agg(graft.plans.GraftFunctions.topK(col("__s"), col(idCol).cast("long"), 1).as("__t"))
      .select(col("cluster"), explode(col("__t")).as("__w"))
      .select(col("cluster"), col("__w.id").as("__best"))
    members
      .join(best, Seq("cluster"))
      .filter(col(idCol).cast("long") =!= col("__best"))
      .select(idCol)
  }

  /** EXACT similarity join under a Jaccard threshold via prefix filtering
    * (Chaudhuri et al. 2006 "A Primitive Operator for Similarity Joins";
    * Xiao et al. 2008 PPJoin): every pair of documents whose distinct-token
    * sets have Jaccard ≥ tauNum/tauDen — no approximation, no recall loss —
    * without an all-pairs comparison and without indexing every token.
    *
    * Both token sets are sorted by one global canonical order (document
    * frequency ascending, token string tiebreak — rarest first), and only
    * each document's PREFIX of length |x| − ⌈τ·|x|⌉ + 1 is indexed.
    * Correctness: J(A,B) ≥ τ forces |A∩B| ≥ ⌈τ·max(|A|,|B|)⌉ ≥ ⌈τ·|A|⌉,
    * and the GLOBALLY SMALLEST common token cannot hide in either
    * document's suffix of length ⌈τ·|x|⌉ − 1 (all |A∩B| common tokens
    * would have to sit at or after it) — so it lands in BOTH prefixes and
    * the prefix-prefix equi-join finds every qualifying pair. Candidates
    * then verify with an exact row-local set intersection.
    *
    * τ is a RATIONAL (tauNum/tauDen), and every threshold comparison is an
    * integer cross-multiply: ⌈τ·n⌉ = (n·tauNum + tauDen − 1) div tauDen.
    * Double arithmetic would mis-round exact-boundary pairs (0.7 is not
    * representable; ceil(0.7·10) = 8 in binary64) — with integers a pair at
    * exactly τ is provably kept, on any engine.
    *
    * Scale shape: the candidate join touches prefix tokens only — for
    * τ=0.8 that is ~20% of each document's tokens, and they are the RAREST
    * 20% by construction (the df-ascending order exists precisely to make
    * indexed tokens low-frequency, the opposite of the stop-shingle
    * problem). The df pass is one map-combined count; the sort is per-row
    * (array_sort, no shuffle); candidate dedup + the verify join shuffle on
    * doc ids. Nothing is ever corpus × corpus: the quadratic term lives
    * only inside same-prefix-token buckets, which the rare-first order
    * keeps small.
    *
    * Set elements are distinct tokens (`shingleK = 1`) or distinct
    * `shingleK`-token word shingles (Broder 1997 w-shingling) — shingles
    * make the set SEQUENCE-sensitive and keep it sparse on small-vocabulary
    * corpora, where unigram sets degenerate toward all-pairs similarity
    * (and the true answer itself goes quadratic: no algorithm beats output
    * size; pick elements so the output means something).
    *
    * Output: (doc_a, doc_b, n_inter, n_union, jaccard_ppm) with
    * doc_a < doc_b; jaccard_ppm = (n_inter·10⁶) div n_union — integral, so
    * the row hash-matches any engine computing the same pairs. Documents
    * with zero set elements match nothing (Jaccard with an empty set is
    * 0 < τ; τ must be > 0).
    *
    * `maxPairsPerEntry` (required, > 0) is the BLOWUP GUARD for the one
    * way exact mode can still go quadratic: a boilerplate-heavy corpus
    * can share even its RAREST prefix tokens across thousands of
    * documents, and the same-prefix buckets silently explode. The guard
    * pre-computes the exact bucket-pair mass Σ_t n_t·(n_t−1)/2 over the
    * prefix index (one count aggregation, shuffle ∝ distinct prefix
    * tokens — metadata-sized next to the join it screens) EAGERLY at
    * operator-call time and fails loudly driver-side, as
    * [[CandidateCapExceededException]], BEFORE the candidate join is
    * planned when the mass exceeds `maxPairsPerEntry × total indexed
    * prefix entries` — turning "6 hours of shuffle spill" into an
    * immediate, actionable error (raise τ, use shingles). "Use shingles"
    * is a committed measurement, not prose: `KCORE_DEMO_sf10.json` records
    * q148's exact k-core shape run twice at sf10 (by the `graft.KCoreDemo`
    * main, last present at commit 6325750:
    * `git show 6325750:src/main/scala/graft/KCoreDemo.scala`) — unigram
    * (the fixture's dense 31-token vocabulary) reproduces the committed
    * 54 GB disk / 238 GB memory verify-sort spill at 956 s wall, while
    * 3-shingles with every other parameter identical runs the same
    * operator with ZERO spill at 54 s wall. The spill is the fixture's
    * vocabulary density, not the operator's plan. The cap is per indexed
    * entry, not absolute: an absolute cap is a fixture-scale constant — a
    * corpus 100× larger legitimately carries ~100× the candidate mass and
    * would trip it while perfectly healthy (measured: the sf10 rehearsal
    * tripped the catalog's former 10M cap at a healthy 1.2 pairs/entry) —
    * while the per-entry ratio is scale-invariant under linear growth and
    * still explodes when a hot prefix bucket goes quadratic. The estimate
    * is an upper bound on candidate-join output (length/position filters
    * only shrink it), so a passing guard is a real certificate, and the
    * same measured mass sizes the candidate and verify exchange widths
    * (pair-proportional — see the width comments in the body), which
    * protect those stages from AQE's byte-based under-provisioning
    * (61 task-seconds squeezed into 5 tasks at sf1 without them). */
  def prefixFilterJaccardJoin(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tauNum: Int,
      maxPairsPerEntry: Long,
      shingleK: Int = 1): DataFrame = {
    val tauDen = TauDen
    require(tauNum > 0 && tauNum <= tauDen,
      s"need 0 < tau <= 1, got $tauNum/$tauDen")
    require(shingleK >= 1, s"shingleK must be >= 1, got $shingleK")
    require(maxPairsPerEntry > 0,
      s"maxPairsPerEntry must be > 0, got $maxPairsPerEntry")
    // Set elements arrive via POSITION-sequence explode + row-local slice,
    // with set semantics as a relational distinct — NOT by exploding an
    // array_distinct(transform(...)) array: a generate whose input embeds
    // a higher-order function knocks the whole stage (scan included) out
    // of whole-stage codegen (the duplicatedSpanStats staging rule;
    // measured 0.4 s → 4 s on this exact projection at sf0.1). The
    // distinct's exchange is reused by both consumers below, so set
    // semantics costs no extra shuffle. For shingleK = 1 the slice
    // degenerates to the token itself — one code path.
    val toks = df
      .select(col(idCol).as("__doc"), TextFunctions.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= shingleK)
      .select(col("__doc"), col("__toks"),
        explode(sequence(lit(0), size(col("__toks")) - shingleK)).as("__i"))
      .select(col("__doc"),
        concat_ws(" ", slice(col("__toks"), col("__i") + 1, lit(shingleK))).as("__t"))
      .distinct()
    val dfreq = toks.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
    val confWidth =
      df.sparkSession.sessionState.conf.numShufflePartitions.toLong
    // Per-doc arrays in canonical (df asc, token asc) order. The struct
    // sort key is dropped after sorting; sizes ride along for the length
    // filter and the union denominator.
    val ordered = toks
      .join(dfreq, Seq("__t"))
      .groupBy(col("__doc"))
      .agg(transform(
        array_sort(collect_list(struct(col("__df"), col("__t")))),
        s => s.getField("__t")).as("__tk"))
      .select(col("__doc"), col("__tk"), size(col("__tk")).as("__sz"))
      // prefix length |x| − ⌈τ|x|⌉ + 1, all-integer ceil (SQL `div`; `/` is
      // fractional on any engine and mis-rounds boundary sizes)
      .withColumn("__plen",
        expr(s"__sz - ((__sz * $tauNum + ${tauDen - 1}) div $tauDen) + 1"))
      // Materialize the sorted-token table ONCE: the prefix index and both
      // verify legs consume it, and nothing guarantees Spark fuses three
      // consumers of a 5-stage subtree into one computation (the static
      // plan recomputes the tokenize→df-join→sort chain per consumer — 24
      // parquet scans for q141's shape; AQE stage reuse recovers only
      // identical exchanges it happens to schedule). Production simjoin
      // systems persist the prefix index for the same reason. localCheckpoint
      // = corpus-linear (one row per doc, its sorted distinct tokens) —
      // the same order of storage the df-sorted groupBy already shuffles.
      .localCheckpoint()
    val prefix = ordered.select(col("__doc"), col("__sz"),
      posexplode(slice(col("__tk"), lit(1), col("__plen"))).as(Seq("__i", "__t")))
    // Pre-flight blowup guard (see scaladoc), evaluated EAGERLY at
    // operator-call time (the operator is already eager — `ordered` is a
    // localCheckpoint — so this adds one index-sized aggregation job from
    // the checkpoint, not a new eagerness class). Folding it into the
    // checkpoint pass was considered and skipped: measured cost is
    // 0.47-0.5 s warm at sf0.1 (1.4 s cold), dominated by the index-sized
    // explode+shuffle that prefix counting inherently needs — the
    // checkpoint job materializes per-DOC rows, and piggybacking a
    // per-TOKEN count onto it means either checkpointing the exploded
    // table instead (re-plans the checkpoint, larger materialization) or
    // an accumulator inside mapPartitions (breaks codegen and the width
    // pins). The guard stays a separate, correctly-sized job. One
    // aggregation computes BOTH the pair mass Σn(n−1) and the index size
    // Σn; the collected numbers serve two masters: the cap fires
    // driver-side (the job dies before the candidate join is even
    // PLANNED), and the measured mass sizes the candidate and verify
    // widths below — an output-exploding join's right width is
    // pair-proportional, and only the guard knows the pair mass. n·(n−1)
    // runs in decimal(38,0) (a single 10¹⁰-doc boilerplate token squares
    // past 2^63).
    val guardRow = prefix
      .groupBy(col("__t")).agg(count(lit(1)).as("__n"))
      .agg(
        coalesce(
          sum(col("__n").cast("decimal(38,0)") *
            (col("__n") - 1).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("__p2"),
        coalesce(sum(col("__n").cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("__tot"))
      .collect()(0)
    val pairMass2 = BigDecimal(guardRow.getDecimal(0)) // Σn(n−1) = 2·pairs
    val idxEntries = BigDecimal(guardRow.getDecimal(1))
    if (pairMass2 > idxEntries * BigDecimal(maxPairsPerEntry) * 2)
      throw new CandidateCapExceededException(
        s"prefixFilterJaccardJoin: same-prefix candidate pairs " +
          s"${(pairMass2 / 2).toBigInt} over ${idxEntries.toBigInt} indexed " +
          s"entries exceed the cap (maxPairsPerEntry=$maxPairsPerEntry) — " +
          "raise tau or use shingles")
    // Prefix-prefix candidates with the LENGTH filter (τ|A| ≤ |B| ≤ |A|/τ)
    // and PPJoin's POSITION filter, both as integer cross-multiplies: a
    // token matched at 0-based positions (i, j) caps the overlap at
    // min(|A|−i, |B|−j), and a qualifying pair needs overlap I with
    // I·(τnum+τden) ≥ (|A|+|B|)·τnum — the EXACT integer form of
    // Jaccard ≥ τ (J = I/(|A|+|B|−I) ≥ n/d ⟺ I(d+n) ≥ n(|A|+|B|)), which
    // is strictly tighter than the previous ⌈τ·max(|A|,|B|)⌉ requirement
    // (for |A|=|B|=s it needs ~2τs/(1+τ) instead of τs — at τ=0.9 that
    // admits positions ≤ ~5% of the prefix instead of ~10%; the candidate
    // shuffle is the operator's dominant byte mover, guide §2.3). Lossless
    // BECAUSE the pair's globally-smallest common token passes it (every
    // common element sits at or after it in both sorted sets).
    val cond =
      col("a.__t") === col("b.__t") && col("a.__doc") < col("b.__doc") &&
        col("b.__sz") * tauDen >= col("a.__sz") * tauNum &&
        col("a.__sz") * tauDen >= col("b.__sz") * tauNum &&
        least(col("a.__sz") - col("a.__i"), col("b.__sz") - col("b.__i")) *
          (tauNum + tauDen) >=
          (col("a.__sz") + col("b.__sz")) * tauNum
    // Size the candidate join's parallelism by the MEASURED pair mass (an
    // explicit-N repartition is a strict requirement AQE will not
    // coalesce): the join's shuffle INPUT is the compact prefix index, but
    // its OUTPUT explodes by the same-token bucket-pair mass — AQE's
    // byte-based coalescing reads the input size and under-provisions
    // exactly this stage (measured at sf1: 61 task-seconds squeezed into 5
    // tasks of ~12 s on a 32-slot box — the catalog's worst max-task
    // outlier, and the source of q167's adverse task_skew trend; per-stage
    // balance was never the problem, the df-ascending prefix order keeps
    // bucket keys near-uniform at skew ≈ 1.0). A session-width pin fixed
    // the under-provisioning but is itself a cluster-scale constant: at
    // sf1 it left ~2 s join tasks next to ~0.2 s scan tasks (global
    // task_skew 5.5 with the stage internally balanced at 1.05), and at
    // 100 TB pair mass ≫ width × ideal-task-size makes a fixed width the
    // bottleneck. The guard aggregation already measured the exact output
    // mass, so the width is data-proportional: one reducer per
    // `pairsPerTask` candidate pairs (~1M ≈ sub-second of probe+emit
    // work), floored at the session width (never WORSE than configured
    // parallelism on a small corpus) and capped at 16× session width (the
    // same work-per-slot bound every explicit width in the engine
    // respects). The repartition IS the join's exchange (HashPartitioning
    // on the join key, computed once and reused by both self-join legs),
    // so this costs no extra shuffle — it only fixes the reducer count.
    //
    // The pins engage on every call, with no small-mass floor — a floor
    // was tried and measured SLOWER at fixture scale: the pin's value is
    // not spreading the pair mass (210k pairs at sf0.1 is ~6 task-seconds)
    // but holding the index exchange at session width so the whole
    // candidate→verify chain inherits real parallelism. Unpinned, the
    // small-bytes prefix index invites AQE coalescing and broadcast
    // self-joins that collapse the downstream chain to a few tasks and
    // serialize the CPU-dense verify work (measured in-window: q165
    // 5.06→7.05 s, q167 2.69→4.04 s with a 2²¹-pair floor; the pinned
    // operator also measured ~11% faster than an unpinned build
    // method-for-method in the same window).
    val pairsPerTask = BigDecimal(1L << 20)
    val nShuffle = (pairMass2 / 2 / pairsPerTask + 1)
      .min(BigDecimal(confWidth * 16)).max(BigDecimal(confWidth)).toInt
    val probe = prefix.repartition(nShuffle, col("__t"))
    val rawPairs = probe.as("a")
      .join(probe.as("b"), cond)
      .select(col("a.__doc").as("doc_a"), col("b.__doc").as("doc_b"))
    // Pair dedup (a pair re-emits once per shared prefix token). A bare
    // `.distinct()` would add an exchange the width pins do not cover,
    // and at real mass it is the spill bomb: its final aggregation runs at
    // session width no matter how wide the join ran — measured at sf10
    // (2.64B candidate rows, q148's corpus): 32 final-agg tasks × ~82M
    // pairs of hash-agg state each = 56 GB of spill, 11.4k task-seconds in
    // that stage alone. So the RAW pair stream is repartitioned by
    // (doc_a, doc_b) at the mass-proportional width FIRST and deduped
    // partition-locally (hash partitioning on exactly the grouping keys —
    // no second exchange): the same rows shuffle once either way, but the
    // dedup state divides across verifyWidth tasks instead of 32. Keyed on
    // (doc_a, doc_b), not doc_a alone: dedup correctness needs the full
    // key, and the hub-doc caveat below applies unchanged.
    val verifyWidth = (pairMass2 / 2 / BigDecimal(1L << 17) + 1)
      .min(BigDecimal(confWidth * 16)).max(BigDecimal(confWidth)).toInt
    val cand = rawPairs
      .repartition(verifyWidth, col("doc_a"), col("doc_b"))
      .dropDuplicates()
    // Exact verify: both token arrays join back by doc id; intersection is
    // row-local. The candidate set is output-sized + false positives that
    // shared a rare prefix token — small by construction. The verify
    // arrays are re-sorted LEXICOGRAPHICALLY per doc (the (df, token)
    // canonical order only matters for the prefix index) so the
    // intersection cardinality runs as a zero-allocation merge walk
    // (plans.SortedIntersectCount — size(array_intersect(...)) builds and
    // materializes a hash set per PAIR, measured 2.3 s of q141's verify
    // leg at sf0.1; the per-DOC sort is corpus-linear). The verify stage's
    // WIDTH is pinned explicitly, but on the DEDUPED pair table, after the
    // distinct: its per-row cost (a token-array merge walk) is CPU AQE's
    // byte-based sizing underestimates (measured at sf1: 19 task-seconds
    // coalesced into 6 tasks), and the right width is pair-proportional —
    // the guard already measured the mass. ONE pin, on the bare pair
    // table, and none between the joins: at fixture scale the doc-table
    // side of both joins BROADCASTS, so the pinned exchange ships only
    // (doc_a, doc_b) longs and the joins run map-side at its width. A
    // second repartition between the joins ships the JOINED rows — pairs
    // with their full token arrays attached — and measured 32 MB → 404 MB
    // total shuffle, 4.8 s → 12 s wall on q148's dense unigram graph.
    // No doc_a-keyed verify repartition: the pinned dedup above already
    // leaves the pair table hash-partitioned on (doc_a, doc_b) at the
    // mass-proportional width, so the verify joins run map-side (broadcast
    // doc table) in exactly those partitions — a second exchange would
    // ship the deduped pairs again for nothing. The (doc_a, doc_b) key
    // also spreads hub documents that a doc_a-only key concentrates into
    // one reducer.
    val orderedA = ordered.select(col("__doc").as("doc_a"),
      array_sort(col("__tk")).as("__ta"), col("__sz").as("n_a"))
    val orderedB = ordered.select(col("__doc").as("doc_b"),
      array_sort(col("__tk")).as("__tb"), col("__sz").as("n_b"))
    cand.join(orderedA, Seq("doc_a")).join(orderedB, Seq("doc_b"))
      .withColumn("n_inter",
        graft.plans.GraftFunctions.sortedIntersectCount(col("__ta"), col("__tb")))
      .withColumn("n_union", (col("n_a") + col("n_b")).cast("long") - col("n_inter"))
      .filter(col("n_inter") * tauDen >= col("n_union") * tauNum)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"),
        expr("(n_inter * 1000000) div n_union").as("jaccard_ppm"))
  }

  /** Corpus-wide duplicated-LINE removal — the boilerplate scrub every
    * web-corpus pipeline runs before model training (RefinedWeb §"line-wise
    * corrections", FineWeb, Dolma's paragraph dedup): a line occurring in
    * ≥ [[BoilerplateMinDocs]] DISTINCT documents is boilerplate (nav menus, cookie
    * banners, subscribe prompts) and is dropped from every document it
    * appears in; document text is reassembled from the surviving lines in
    * original order.
    *
    * Document identity is deliberately NOT an input to the verdict — the
    * same line is judged once corpus-wide (per-line-HASH count), so the
    * operator is two map-combined aggregations + one semi-probe, never
    * pairwise.
    *
    * Scale shape: lines explode from the scan (corpus-linear);
    * the per-line-hash distinct-doc count is a map-side-combined
    * aggregation whose key space is the distinct-line vocabulary (zipfian
    * — boilerplate concentrates, the long tail is unique lines); the
    * boilerplate set (lines with ≥ BoilerplateMinDocs docs — tiny by zipf) comes back
    * as a broadcast-able semi/anti probe; reassembly is one doc-keyed
    * aggregation. Nothing is ever doc × doc, and the only corpus-sized
    * shuffle is the reassembly.
    *
    * Output: one row per input document —
    * `(idCol, n_lines, n_removed, cleaned_text)` where `cleaned_text` is
    * the newline-join of surviving lines ("" when every line was
    * boilerplate). Blank lines (after trim) are ignored for counting and
    * never removed-by-duplication (they are not content; pipelines handle
    * whitespace normalization separately — [[graft.plans.NfcNormalize]] /
    * Cleaning).
    */
  def dropDuplicatedLines(
      df: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val lines = df
      .select(col(idCol).as("__doc"),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
      .filter(length(trim(col("__line"))) > 0)
    // boilerplate = lines in >= BoilerplateMinDocs distinct docs, keyed by line text
    // (exact match — the production rule; fuzzy line matching would be
    // MinHash territory). countDistinct, not count: a line repeated WITHIN
    // one doc is repetition (q46's metric), not cross-doc boilerplate.
    val boiler = lines
      .groupBy(col("__line"))
      .agg(countDistinct(col("__doc")).as("__nd"))
      .filter(col("__nd") >= BoilerplateMinDocs)
      .select(col("__line"))
    val kept = lines.join(boiler, Seq("__line"), "left_anti")
    val reassembled = kept
      .groupBy(col("__doc"))
      .agg(
        count(lit(1)).as("__n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("__pos"), col("__line")))),
          s => s.getField("__line")), "\n").as("cleaned_text"))
    // Base on the INPUT docs, not the line table: a document whose lines
    // are all blank has no line rows at all and must still come back as
    // (id, 0, 0, "") — "one row per input document" is the contract a
    // pipeline stage composes on.
    df.select(col(idCol).as("__doc"))
      .join(lines.groupBy(col("__doc")).agg(count(lit(1)).as("__n_lines")),
        Seq("__doc"), "left")
      .join(reassembled, Seq("__doc"), "left")
      .select(
        col("__doc").as(idCol),
        coalesce(col("__n_lines"), lit(0L)).as("n_lines"),
        (coalesce(col("__n_lines"), lit(0L)) - coalesce(col("__n_kept"), lit(0L)))
          .as("n_removed"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
  }
}
