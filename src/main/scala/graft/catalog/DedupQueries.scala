package graft
package catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{ConnectedComponents, Dedup, Linkage}

import Shared._

/** Deduplication catalog family: exact and near-duplicate detection —
  * MinHash/SimHash, LSH banding, exact similarity joins, span dedup,
  * decontamination, entity resolution and the curation pipelines built
  * on them. */
object DedupQueries extends Family {

  // ---------------------------------------------------------------- q20
  // Exact dedup by normalized-content hash (one shuffle on a 128-bit key).
  val q20 = query("q20_dedup_exact")((s, dir) =>
    Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")
      .withColumn("n_docs", col("n_docs"))
      .orderBy("fingerprint"))(
    """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
      | count(*) AS n_docs, min(doc_id) AS keep_id
      |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin)

  // ---------------------------------------------------------------- q25
  // N-gram Jaccard near-dup candidates: shingle-bucket self-join — the
  // exact-verification tier of the dedup stack. k=5 word-grams: on the
  // harness's small-vocabulary synthetic docs, k=3 shingles collide across
  // most doc pairs and the self-join goes quadratic (~86M join rows at
  // sf0.1); 5-grams keep buckets selective with the same oracle on both
  // sides.
  // Stop-shingle prune ON (shingles shared by more docs than this carry no
  // near-dup signal but drive quadratic pair blowup); the DuckDB oracle
  // below applies the IDENTICAL doc-frequency cut so both engines compute
  // the same pruned result.
  private val q25MaxShingleFreq = 200L

  val q25 = query("q25_ngram_jaccard")((s, dir) =>
    Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        maxShingleFreq = q25MaxShingleFreq)
      .select("doc_a", "doc_b", "n_shared", "jaccard")
      .orderBy("doc_a", "doc_b"))(
    s"""WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) < 5 THEN []
      |      ELSE list_transform(range(0, len(regexp_split_to_array(trim(text), '\\s+')) - 4),
      |        i -> array_to_string(list_slice(regexp_split_to_array(trim(text), '\\s+'), i+1, i+5), ' '))
      |      END) AS shingles
      |  FROM documents),
      |e0 AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh),
      |rare AS (SELECT shingle FROM e0 GROUP BY shingle HAVING count(*) <= $q25MaxShingleFreq),
      |e AS (SELECT e0.* FROM e0 JOIN rare USING (shingle))
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared,
      |  CAST(count(*) AS DOUBLE) / CAST(a.n_sh + b.n_sh - count(*) AS DOUBLE) AS jaccard
      |FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
      |HAVING count(*) >= 2
      |ORDER BY doc_a, doc_b""".stripMargin)

  // ---------------------------------------------------------------- q26/q27
  // MinHash signatures and SimHash sketches. The sketches are xxhash64 +
  // splitmix64 over shingles/tokens — pure 64-bit integer arithmetic, so
  // the DuckDB oracle reimplements BOTH hashes in SQL ([[DuckHash]]:
  // wrap-around u64 via HUGEINT-mod, list_reduce folds) and checks the
  // sketch VALUES bit-for-bit, not just row counts.
  val q26 = query("q26_minhash_sig")((s, dir) => {
    val d = Tables.documents(s, dir)
    Dedup.minHashSignatures(d, "doc_id", "text", numHashes = 32)
      .select(
        col("doc").as("doc_id"),
        element_at(col("sig"), 1).as("sig_0"),
        element_at(col("sig"), 2).as("sig_1"),
        element_at(col("sig"), 3).as("sig_2"),
        element_at(col("sig"), 4).as("sig_3")
      )
      .orderBy("doc_id")
  })({
    def sig(i: Int) =
      s"coalesce(a.s$i, 9223372036854775807) AS sig_$i"
    s"""WITH toks AS (
       |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
       |    ELSE regexp_split_to_array(trim(text), '\\s+') END AS t
       |  FROM documents),
       |shg AS (SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN []
       |    ELSE list_transform(range(0, len(t) - 2), i -> array_to_string(list_slice(t, i+1, i+3), ' ')) END) AS shingles
       |  FROM toks),
       |hx0 AS (SELECT doc_id, unnest(shingles) AS tok FROM shg),
       |${DuckHash.xxhash64Ctes("tok")},
       |mx0 AS (SELECT doc_id,
       |  ${DuckHash.wadd("h", DuckHash.wmul("CAST(seed AS UBIGINT)", DuckHash.Golden.toString))} AS sx,
       |  seed
       |  FROM (SELECT doc_id, h, unnest([0, 1, 2, 3]) AS seed FROM hx12)),
       |${DuckHash.mix64Ctes("sx")},
       |mins AS (SELECT doc_id, seed, min(${DuckHash.signed("mh")}) AS mn FROM mx4 GROUP BY doc_id, seed),
       |agg AS (SELECT doc_id,
       |  min(CASE WHEN seed = 0 THEN mn END) AS s0,
       |  min(CASE WHEN seed = 1 THEN mn END) AS s1,
       |  min(CASE WHEN seed = 2 THEN mn END) AS s2,
       |  min(CASE WHEN seed = 3 THEN mn END) AS s3
       |  FROM mins GROUP BY doc_id)
       |SELECT d.doc_id, ${sig(0)}, ${sig(1)}, ${sig(2)}, ${sig(3)}
       |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin
  })

  val q27 = query("q27_simhash")((s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), Dedup.simHash64(col("text")).as("simhash"))
      .orderBy("doc_id"))(
    s"""WITH nrm AS (
       |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt FROM documents),
       |hx0 AS (SELECT doc_id,
       |  unnest(CASE WHEN length(trim(nt)) = 0 THEN []
       |    ELSE regexp_split_to_array(trim(nt), '\\s+') END) AS tok
       |  FROM nrm),
       |${DuckHash.xxhash64Ctes("tok")},
       |bits AS (SELECT doc_id, h, unnest(range(0, 64)) AS bitpos FROM hx12),
       |cnts AS (SELECT doc_id, bitpos,
       |  sum(CASE WHEN (h // CAST(power(2, bitpos) AS UBIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS c
       |  FROM bits GROUP BY doc_id, bitpos),
       |sims AS (SELECT doc_id,
       |  sum(CASE WHEN c >= 0 THEN CAST(power(2, 63 - bitpos) AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS sim
       |  FROM cnts GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(CAST(CASE WHEN s.sim >= CAST('9223372036854775808' AS HUGEINT)
       |                     THEN s.sim - CAST('18446744073709551616' AS HUGEINT)
       |                     ELSE s.sim END AS BIGINT), -1) AS simhash
       |FROM documents d LEFT JOIN sims s USING (doc_id) ORDER BY doc_id""".stripMargin)

  // ---------------------------------------------------------------- q43
  // MinHash-LSH banding — the candidate-generation tier that survives
  // 100 TB (shuffle ∝ docs × bands, never docs²). numHashes=16 /
  // rowsPerBand=2: collision probability per band = jaccard², tuned so the
  // harness's low-jaccard corpus still yields a non-trivial candidate set.
  // The oracle replays signatures (DuckHash xxhash64 + splitmix64), the
  // band-bucket fold (same wrap-around mix), and the bucket self-join.
  val q43 = query("q43_minhash_lsh")((s, dir) =>
    Dedup
      .minHashLshPairs(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_a", "doc_b"))(
    s"""WITH $lshBandedCtes,
       |$lshCandCte
       |SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b""".stripMargin)

  // ---------------------------------------------------------------- q51
  // Benchmark decontamination (Dedup.contaminationFlags): docs 0-9 act as
  // the held-out eval set; every remaining corpus doc is scanned for 5-gram
  // overlap with it. Eval shingles broadcast, corpus side map-only — the
  // shuffle is only the per-doc hit count. Every corpus doc appears
  // (n_overlap = 0 when clean), so the output doubles as a keep-list.
  val q51 = query("q51_contamination")((s, dir) => {
    val d = Tables.documents(s, dir)
    Dedup
      .contaminationFlags(
        d.filter(col("doc_id") >= 10), d.filter(col("doc_id") < 10),
        "doc_id", "text")
      .orderBy("doc_id")
  })(
    """WITH tk AS (SELECT doc_id,
      |  CASE WHEN length(trim(text)) = 0 THEN []
      |       ELSE regexp_split_to_array(trim(text), '\s+') END AS t
      |  FROM documents),
      |sh AS (SELECT doc_id, list_distinct(
      |  CASE WHEN len(t) < 5 THEN []
      |       ELSE list_transform(range(0, len(t) - 4),
      |              i -> array_to_string(list_slice(t, i+1, i+5), ' ')) END) AS s
      |  FROM tk),
      |ev AS (SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE doc_id < 10),
      |cs AS (SELECT doc_id, unnest(s) AS shingle FROM sh WHERE doc_id >= 10),
      |cnt AS (SELECT doc_id, count(*) AS n_overlap FROM cs
      |        WHERE shingle IN (SELECT shingle FROM ev) GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(c.n_overlap, 0) AS n_overlap,
      |       coalesce(c.n_overlap, 0) >= 1 AS contaminated
      |FROM (SELECT doc_id FROM documents WHERE doc_id >= 10) d
      |LEFT JOIN cnt c USING (doc_id)
      |ORDER BY doc_id""".stripMargin)

  // ---------------------------------------------------------------- q58
  // Dedup clustering (ConnectedComponents.components over q43's LSH
  // candidate pairs): transitive closure turns pairs into clusters, so
  // survivor selection keeps ONE doc per group even when (a,c) never
  // collided in any band. A pair graph that fits the driver budget is
  // collected once and labelled with union-find; a larger one runs
  // large-star/small-star — O(log n) rounds of two key-partitioned
  // shuffles, no driver collection, lineage truncated per round. The
  // oracle replays the pair generation then takes the transitive closure
  // with a recursive CTE (fine at oracle scale; the Spark side is the one
  // that has to survive 100 TB).
  val q58 = query("q58_dup_clusters")((s, dir) => {
    val pairs = Dedup.minHashLshPairs(
      Tables.documents(s, dir), "doc_id", "text")
    val labels = ConnectedComponents.components(pairs, "doc_a", "doc_b")
    labels
      .join(
        ConnectedComponents.clusterSizes(labels).select("cluster", "n_members"),
        "cluster")
      .select(col("node"), col("cluster"), col("n_members"))
      .orderBy("node")
  })(
    s"""WITH RECURSIVE $lshBandedCtes,
       |$lshCandCte,
       |${closureCtes("cand", "doc_a", "doc_b")},
       |sz AS (SELECT cluster, count(*) AS n_members FROM lbl GROUP BY cluster)
       |SELECT node, cluster, n_members FROM lbl JOIN sz USING (cluster)
       |ORDER BY node""".stripMargin)

  // ---------------------------------------------------------------- q61
  // End-to-end semantic dedup (the full 100 TB pipeline in one query):
  // MinHash-LSH candidates → connected components → keep each cluster's
  // min-id representative → per-(lang, source) doc counts and token mass
  // of the CLEANED corpus. Survivor selection is cluster-correct — a
  // chain a↔b, b↔c keeps only one of {a,b,c}, where the greedy pairwise
  // rule can't see the transitive link. The anti-join loser list is
  // cluster-count-sized (broadcastable at any realistic dup rate).
  val q61 = query("q61_dedup_cleaned")((s, dir) => {
    val d = Tables.documents(s, dir)
    val pairs = Dedup.minHashLshPairs(d, "doc_id", "text")
    val losers = ConnectedComponents.components(pairs, "doc_a", "doc_b")
      .filter(col("node") =!= col("cluster"))
      .select(col("node").as("doc_id"))
    d.join(losers, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col("text")).cast("long")).as("total_tokens"))
      .orderBy("lang", "source")
  })(
    s"""WITH RECURSIVE $lshBandedCtes,
       |$lshCandCte,
       |${closureCtes("cand", "doc_a", "doc_b")},
       |keep AS (SELECT doc_id, lang, source,
       |  CASE WHEN length(trim(text)) = 0 THEN 0
       |       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
       |  FROM documents
       |  WHERE doc_id NOT IN (SELECT node FROM lbl WHERE cluster < node))
       |SELECT lang, source, count(*) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
       |FROM keep GROUP BY lang, source ORDER BY lang, source""".stripMargin)

  // ---------------------------------------------------------------- q64
  // Duplicated-span statistics (Dedup.duplicatedSpanStats): the
  // substring/span tier of the dedup stack — 15-token rolling-window
  // fingerprints grouped corpus-wide; any window seen in ≥ 2 distinct
  // documents marks duplicated span material. Linear everywhere (no pair
  // join): explode → one fingerprint-keyed agg → semi-join back → per-doc
  // rollup. The md5 fingerprint keeps the shuffle key fixed-width, and
  // both engines fingerprint the identical space-joined window text.
  private val q64W = 15

  val q64 = query("q64_span_dedup")((s, dir) =>
    Dedup.duplicatedSpanStats(Tables.documents(s, dir), "doc_id", "text", w = q64W)
      .orderBy("doc_id"))(
    s"""WITH $duckToksCte,
       |sp AS (SELECT doc_id,
       |  CASE WHEN len(t) < $q64W THEN []
       |       ELSE list_transform(range(0, len(t) - ${q64W - 1}),
       |              i -> md5(array_to_string(list_slice(t, i+1, i+$q64W), ' '))) END AS spans
       |  FROM tk),
       |e AS (SELECT doc_id, unnest(spans) AS span FROM sp),
       |dup AS (SELECT span FROM e GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
       |pd AS (SELECT doc_id, count(*) AS n_dup FROM e JOIN dup USING (span) GROUP BY doc_id)
       |SELECT tk.doc_id,
       | CAST(greatest(len(t) - ${q64W - 1}, 0) AS BIGINT) AS n_spans,
       | CAST(coalesce(pd.n_dup, 0) AS BIGINT) AS n_dup_spans,
       | CASE WHEN len(t) < $q64W THEN CAST(0.0 AS DOUBLE)
       |      ELSE CAST(coalesce(pd.n_dup, 0) AS DOUBLE)
       |           / CAST(len(t) - ${q64W - 1} AS DOUBLE) END AS dup_span_frac
       |FROM tk LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin)

  // ---------------------------------------------------------------- q73
  // End-to-end multimodal curation — the flagship composition: exact-dedup
  // survivors, quality-gated text (q22's codegen score ≥ 0.5), joined to
  // their embeddings and kept only when inside the per-label centroid ball
  // (normalized q71 distance ≤ 1.03 — the ~90th percentile of this
  // corpus). Every stage is an operator the catalog verifies in isolation;
  // this query proves they compose lazily into ONE plan: the dedup
  // semi-join, quality filter, and embedding join all ride the same scan
  // pass, nothing materializes between stages. dist2 here is normalized
  // (÷n², one extra exact-integer division) so the threshold is
  // scale-invariant — the q71 form is rank-only within a label.
  //
  // Task-skew shape (per-stage profile at sf1): the
  // three heavy stages are 32-task balanced (hot_stage_skew 1.11); the
  // max task was the final `orderBy`'s AQE-coalesced single-task sort
  // of the RESULT — the total order exists only so the oracle can
  // hash-compare deterministically. So the determinism sort runs at
  // the CONFIGURED width —
  // repartitionByRange(32) + sortWithinPartitions, the q167 "pin the
  // exchange at parallelism" move — an explicit width AQE will not
  // coalesce, so the result sort parallelizes instead of coalescing to
  // one tail task. Gate semantics unchanged (the driver compare
  // re-sorts rows by value; range partitions are themselves ordered).
  // Measured floor (sf1): total task-seconds 41.5 → 23.2 (−44%)
  // at the same wall; the residual ~0.95 s max task is the SAME
  // absolute tail the sheet showed before this change (955 ms) — a fixed
  // first-task cost, not a data-shaped straggler — so the task_skew
  // RATIO rises as the mean falls while hot_stage_skew stays ~1.3.
  // The ratio is the artifact; the absolute tail is the floor. A
  // production curation pass at 100 TB drops the sort entirely
  // (sinks don't need total order).
  val q73 = query("q73_curation_e2e")((s, dir) => {
    val d = Tables.documents(s, dir)
    val keep = Dedup.dropExactDuplicates(d, "doc_id", "text")
    val scored = keep
      .withColumn("quality_score", TextFunctions.qualityScore(col("text")))
      .filter(col("quality_score") >= 0.5)
    val d2 = centroidSquares(s, dir)
      .select(col("vec_id"), col("label"),
        (expr("__sum_du2 div 1000000").cast("double") /
          (col("__n") * col("__n") * lit(1000000L)).cast("double")).as("dist2"))
    scored
      .join(d2, scored("doc_id") === d2("vec_id"))
      .filter(col("dist2") <= 1.03)
      .select(col("doc_id"), col("lang"), col("label"), col("quality_score"), col("dist2"))
      .repartitionByRange(
        s.sessionState.conf.numShufflePartitions, col("doc_id"))
      .sortWithinPartitions("doc_id")
  })(
    s"""WITH keep AS (
       |  SELECT min(doc_id) AS doc_id
       |  FROM documents GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))),
       |sc AS (SELECT d.doc_id, d.lang, $duckQualityScore AS quality_score
       |       FROM documents d JOIN keep USING (doc_id)
       |       WHERE $duckQualityScore >= 0.5),
       |$duckCentroidCtes,
       |d2 AS (SELECT vec_id, label,
       |       CAST(CAST(sum_du2 AS HUGEINT) // 1000000 AS DOUBLE)
       |         /CAST(n*n*1000000 AS DOUBLE) AS dist2 FROM sq)
       |SELECT sc.doc_id, sc.lang, d2.label, sc.quality_score, d2.dist2
       |FROM sc JOIN d2 ON sc.doc_id = d2.vec_id
       |WHERE d2.dist2 <= 1.03
       |ORDER BY sc.doc_id""".stripMargin)

  // ---------------------------------------------------------------- q74
  // Incremental cross-corpus dedup (Dedup.minHashLshPairsAgainst): the
  // batch-N-versus-already-ingested-corpus shape a production ingest runs
  // on every refresh. Odd doc_ids play the incoming batch, even ids the
  // reference corpus; a pair = an incoming doc colliding with a reference
  // doc in any LSH band. The oracle reuses q43's full banded-signature
  // replay and only swaps the final join for the cross-parity form.
  val q74 = query("q74_incremental_dedup")((s, dir) => {
    val d = Tables.documents(s, dir)
    Dedup
      .minHashLshPairsAgainst(
        d.filter(pmod(col("doc_id"), lit(2)) === 1),
        d.filter(pmod(col("doc_id"), lit(2)) === 0),
        "doc_id", "text")
      .orderBy("new_doc", "ref_doc")
  })(
    s"""WITH $lshBandedCtes,
       |cand AS (SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS ref_doc
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket
       |  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0)
       |SELECT new_doc, ref_doc FROM cand ORDER BY new_doc, ref_doc""".stripMargin)

  // ---------------------------------------------------------------- q86
  // Bloom decontamination — the zero-join scale tier of q51: the eval
  // set's 5-gram shingle hashes become a 64 Ki-bit broadcast bitset; every
  // corpus shingle is tested map-only, and per-doc hit counts are an UPPER
  // BOUND on true overlap (bloom can only over-report). At 100 TB the eval
  // side is a few KB of bits instead of a broadcast hash set of millions
  // of shingle strings, and the corpus side never shuffles. The oracle
  // rebuilds the identical bitset (xxhash64 + seeded SplitMix64 replay),
  // so the per-doc DECISIONS are cross-engine verified.
  val q86 = query("q86_bloom_decontaminate")((s, dir) => {
    val d = Tables.documents(s, dir)
    def shingleHashes(df: DataFrame): DataFrame = df
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        array_distinct(TextFunctions.shinglesOfTokens(col("toks"), 5)).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("n_sh"),
        explode_outer(transform(col("sh"), t => xxhash64(t))).as("shingle"))
    val evalBits = graft.operators.BloomPrefilter.buildTable(
      shingleHashes(d.filter(col("doc_id") < 10))
        .filter(col("shingle").isNotNull).select(col("shingle")).distinct(),
      col("shingle"), mBits = 65536)
    val corpus = shingleHashes(d.filter(col("doc_id") >= 10))
    graft.operators.BloomPrefilter
      .prefilter(corpus, col("shingle"), evalBits, mBits = 65536)
      .groupBy(col("doc_id"))
      .agg(
        max(col("n_sh")).cast("long").as("n_shingles"),
        sum(when(col("bloom_pass") && col("shingle").isNotNull, 1L).otherwise(0L))
          .as("n_maybe_contaminated"))
      .withColumn("contaminated", col("n_maybe_contaminated") >= 1L)
      .orderBy("doc_id")
  })({
    import DuckHash._
    s"""WITH tk AS (SELECT doc_id,
       |  CASE WHEN length(trim(text)) = 0 THEN []
       |       ELSE regexp_split_to_array(trim(text), '\\s+') END AS t
       |  FROM documents),
       |shl AS (SELECT doc_id, list_distinct(
       |  CASE WHEN len(t) < 5 THEN []
       |       ELSE list_transform(range(0, len(t) - 4),
       |              i -> array_to_string(list_slice(t, i+1, i+5), ' ')) END) AS s
       |  FROM tk),
       |evs AS (SELECT DISTINCT unnest(s) AS etok FROM shl WHERE doc_id < 10),
       |css AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS ctok FROM shl WHERE doc_id >= 10),
       |hx0 AS (SELECT DISTINCT tok FROM (
       |  SELECT etok AS tok FROM evs UNION SELECT ctok FROM css)),
       |${xxhash64Ctes("tok")},
       |ht AS (SELECT tok, h FROM hx12),
       |sd AS (SELECT tok, h, unnest(range(0, 2)) AS sdx FROM ht),
       |mx0 AS (SELECT tok, sdx,
       |  ${wadd("h", wmul("CAST(sdx AS UBIGINT)", Golden.toString))} AS x FROM sd),
       |${mix64Ctes("x")},
       |hb AS (SELECT tok, sdx, (mh & 65535) >> 6 AS word,
       |  CAST((mh & 65535) % 64 AS INTEGER) AS bit,
       |  CAST(1 AS UBIGINT) << CAST((mh & 65535) % 64 AS INTEGER) AS mask
       |  FROM mx4),
       |bloom AS (SELECT word, bit_or(mask) AS bits
       |  FROM hb JOIN evs ON hb.tok = evs.etok GROUP BY word),
       |probed AS (SELECT c.doc_id, c.n_sh,
       |    (coalesce((b0.bits >> h0.bit) & 1, 0) = 1
       |     AND coalesce((b1.bits >> h1.bit) & 1, 0) = 1) AS pass
       |  FROM css c
       |  JOIN hb h0 ON h0.tok = c.ctok AND h0.sdx = 0
       |  JOIN hb h1 ON h1.tok = c.ctok AND h1.sdx = 1
       |  LEFT JOIN bloom b0 ON b0.word = h0.word
       |  LEFT JOIN bloom b1 ON b1.word = h1.word),
       |perdoc AS (SELECT doc_id, max(n_sh) AS n_shingles,
       |    CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe
       |  FROM probed GROUP BY doc_id)
       |SELECT d.doc_id,
       | CAST(coalesce(p.n_shingles, 0) AS BIGINT) AS n_shingles,
       | coalesce(p.n_maybe, 0) AS n_maybe_contaminated,
       | coalesce(p.n_maybe, 0) >= 1 AS contaminated
       |FROM (SELECT doc_id FROM documents WHERE doc_id >= 10) d
       |LEFT JOIN perdoc p USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  })

  // ---------------------------------------------------------------- q95
  // Maximal duplicated spans (Dedup.maximalDuplicatedSpans): the
  // exact-substring reporting tier over q64's window table — consecutive
  // duplicated 15-token windows merge into one maximal shared substring
  // via the pos − row_number run-length trick (one doc-keyed shuffle over
  // only the duplicated positions; no suffix array, nothing pairwise).
  // Both engines fingerprint identical window text, so start offsets and
  // span lengths hash-match.
  val q95 = query("q95_max_dup_spans")((s, dir) =>
    Dedup.maximalDuplicatedSpans(Tables.documents(s, dir), "doc_id", "text", w = q64W)
      .orderBy("doc_id", "span_start"))(
    s"""WITH $duckToksCte,
       |sp AS (SELECT doc_id, unnest(range(0, len(t) - ${q64W - 1})) AS pos, t
       |  FROM tk WHERE len(t) >= $q64W),
       |e AS (SELECT doc_id, pos,
       |  md5(array_to_string(list_slice(t, pos+1, pos+$q64W), ' ')) AS span FROM sp),
       |dup AS (SELECT span FROM e GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
       |dp AS (SELECT doc_id, pos FROM e JOIN dup USING (span)),
       |r AS (SELECT doc_id, pos,
       |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM dp)
       |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       | CAST(count(*) + ${q64W - 1} AS BIGINT) AS span_tokens
       |FROM r GROUP BY doc_id, grp
       |ORDER BY doc_id, span_start""".stripMargin)

  // ---------------------------------------------------------------- q107
  // Quality-aware dedup survivor selection: q61's pipeline (MinHash-LSH →
  // connected components) but each duplicate cluster keeps its BEST
  // document — argmax quality score, doc_id ASC on ties — instead of the
  // min id. The Lee-et-al.-style curation rule ("when near-dups differ,
  // keep the cleanest"): exact-dup clusters tie on score and fall back to
  // min id (= q61), near-dup clusters can elect a different survivor.
  // The election is a TopKAgg k=1 bounded aggregate (exchange carries one
  // (score, id) pair per cluster, no row_number window); cluster tables
  // are cluster-count-sized and broadcast into the anti-joins.
  val q107 = query("q107_best_survivor_dedup")((s, dir) => {
    val d = Tables.documents(s, dir)
    val pairs = Dedup.minHashLshPairs(d, "doc_id", "text")
    val comp = ConnectedComponents.components(pairs, "doc_a", "doc_b")
    val scored = d.select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("__q"))
    val losers = Dedup.bestSurvivorLosers(comp, scored, "doc_id", "__q")
    d.join(losers, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col("text")).cast("long")).as("total_tokens"))
      .orderBy("lang", "source")
  })(
    s"""WITH RECURSIVE $lshBandedCtes,
       |$lshCandCte,
       |${closureCtes("cand", "doc_a", "doc_b")},
       |sc AS (SELECT doc_id, $duckQualityScore AS q FROM documents),
       |best AS (SELECT doc_id FROM (
       |    SELECT l.cluster, s.doc_id,
       |      row_number() OVER (PARTITION BY l.cluster ORDER BY s.q DESC, s.doc_id ASC) AS rn
       |    FROM lbl l JOIN sc s ON l.node = s.doc_id) WHERE rn = 1),
       |keep AS (SELECT doc_id, lang, source,
       |  CASE WHEN length(trim(text)) = 0 THEN 0
       |       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
       |  FROM documents
       |  WHERE doc_id NOT IN (SELECT node FROM lbl WHERE node NOT IN (SELECT doc_id FROM best)))
       |SELECT lang, source, count(*) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
       |FROM keep GROUP BY lang, source ORDER BY lang, source""".stripMargin)

  // ---------------------------------------------------------------- q121
  // Cross-source duplication matrix: which sources copy from which —
  // q43's LSH candidate pairs rolled up by the (source, source) pair, the
  // provenance-level dedup report a curation pipeline publishes before
  // deciding which feed to drop. Same banding parameters as q43, so the
  // oracle replays the identical signature/band/bucket pipeline (one
  // shared CTE chain). The pair table is collision-sized — both source
  // lookups broadcast it; the matrix is ≤ sources² rows.
  val q121 = query("q121_cross_source_dups")((s, dir) => {
    val d = Tables.documents(s, dir)
    val src = d.select(col("doc_id"), col("source"))
    Dedup
      .minHashLshPairs(d, "doc_id", "text")
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("__sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("__sb")), Seq("doc_b"))
      .groupBy(
        least(col("__sa"), col("__sb")).as("source_x"),
        greatest(col("__sa"), col("__sb")).as("source_y"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_x", "source_y")
  })(
    s"""WITH $lshBandedCtes,
       |$lshCandCte,
       |sp AS (SELECT da.source AS sa, db.source AS sb
       |  FROM cand c JOIN documents da ON da.doc_id = c.doc_a
       |              JOIN documents db ON db.doc_id = c.doc_b)
       |SELECT least(sa, sb) AS source_x, greatest(sa, sb) AS source_y,
       |  count(*) AS n_pairs
       |FROM sp GROUP BY 1, 2 ORDER BY source_x, source_y""".stripMargin)

  // ---------------------------------------------------------------- q126
  // MinHash calibration audit: for q43's LSH candidates, the signature-
  // match count (the MinHash similarity ESTIMATE, est_matches/16) bucketed
  // against the mean EXACT shingle Jaccard — the table that tells you
  // whether the sketch's similarity estimates can be trusted before wiring
  // thresholds to them. Everything is deterministic (signatures replayed
  // by the shared DuckHash chain; exact Jaccard in integer ppm), so even
  // the calibration of the sketch is value-checked cross-engine. Pair
  // work is candidate-sized, never corpus²; output ≤ 17 rows.
  val q126 = query("q126_minhash_calibration")((s, dir) => {
    val d = Tables.documents(s, dir)
    val sigs = d
      .filter(size(TextFunctions.tokens(col("text"))) >= 3)
      .select(col("doc_id"),
        Dedup.minHashSignature(col("text")).as("__sig"),
        TextFunctions.distinctShingles(col("text")).as("__sh"))
    Dedup
      .minHashLshPairs(d, "doc_id", "text")
      .join(sigs.select(col("doc_id").as("doc_a"),
        col("__sig").as("__siga"), col("__sh").as("__sha")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"),
        col("__sig").as("__sigb"), col("__sh").as("__shb")), Seq("doc_b"))
      .select(
        aggregate(
          zip_with(col("__siga"), col("__sigb"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("long").as("est_matches"),
        size(array_intersect(col("__sha"), col("__shb"))).cast("long").as("__inter"),
        (size(col("__sha")) + size(col("__shb"))).cast("long").as("__sz"))
      .select(col("est_matches"),
        expr("CAST((__inter * 1000000L) div (__sz - __inter) AS BIGINT)").as("__jppm"))
      .groupBy(col("est_matches"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("__jppm")).as("__sum"))
      .select(
        col("est_matches"),
        (col("est_matches") * 62500L).as("est_sim_ppm"), // ×1e6/16, exact
        col("n_pairs"),
        (col("__sum").cast("double") / col("n_pairs").cast("double"))
          .as("mean_jaccard_ppm"))
      .orderBy("est_matches")
  })(
    s"""WITH $lshBandedCtes,
       |$lshCandCte,
       |pairsig AS (SELECT c.doc_a, c.doc_b,
       |    sa.sigu AS ga, sb.sigu AS gb, ha.shingles AS sha, hb.shingles AS shb
       |  FROM cand c
       |  JOIN sigl sa ON sa.doc_id = c.doc_a JOIN sigl sb ON sb.doc_id = c.doc_b
       |  JOIN shg ha ON ha.doc_id = c.doc_a JOIN shg hb ON hb.doc_id = c.doc_b),
       |sc AS (SELECT doc_a, doc_b,
       |  CAST(list_sum(list_transform(range(1, 17),
       |    i -> CASE WHEN ga[i] = gb[i] THEN 1 ELSE 0 END)) AS BIGINT) AS est_matches,
       |  len(list_intersect(sha, shb)) AS inter, len(sha) + len(shb) AS sz
       |  FROM pairsig),
       |pj AS (SELECT est_matches,
       |  CAST((CAST(inter AS HUGEINT) * 1000000) // (sz - inter) AS BIGINT) AS jppm
       |  FROM sc)
       |SELECT est_matches, CAST(est_matches * 62500 AS BIGINT) AS est_sim_ppm,
       |  count(*) AS n_pairs,
       |  CAST(sum(jppm) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_jaccard_ppm
       |FROM pj GROUP BY est_matches ORDER BY est_matches""".stripMargin)

  // ---------------------------------------------------------------- q127
  // Fuzzy entity blocking (Dedup.editOnePairs): every customer-name pair
  // within Levenshtein distance 1, found by FastSS single-deletion keys —
  // never an n² distance matrix — then rolled up to the neighbor-count
  // histogram an entity-resolution run publishes (how tangled is this
  // dimension's name space, including the untouched zero bucket). The
  // key join shuffles rows × (len+1) short keys; hot keys are pruned at
  // 1000 (none fire at this fixture); verification is row-local.
  val q127 = query("q127_edit_blocking")((s, dir) => {
    val cust = Tables.customer(s, dir)
    val pairs = Dedup.editOnePairs(cust, "c_custkey", "c_name")
    val perEntity = pairs.select(col("id_a").as("id"))
      .unionAll(pairs.select(col("id_b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("__n"))
    cust.select(col("c_custkey").as("id"))
      .join(perEntity, Seq("id"), "left")
      .select(coalesce(col("__n"), lit(0L)).as("n_neighbors"))
      .groupBy(col("n_neighbors"))
      .agg(count(lit(1)).as("n_entities"))
      .orderBy("n_neighbors")
  })(
    """WITH base AS (SELECT c_custkey AS id, c_name AS s FROM customer),
      |keys AS (SELECT id, s,
      |  unnest(list_prepend(s, list_transform(range(1, length(s)+1),
      |    i -> substr(s, 1, i-1) || substr(s, i+1)))) AS k
      |  FROM base),
      |keep AS (SELECT k FROM keys GROUP BY k HAVING count(*) <= 1000),
      |pk AS (SELECT keys.id, keys.s, keys.k FROM keys JOIN keep USING (k)),
      |cand AS (SELECT DISTINCT a.id AS ia, b.id AS ib, a.s AS sa, b.s AS sb
      |  FROM pk a JOIN pk b ON a.k = b.k AND a.id < b.id),
      |ver AS (SELECT ia, ib FROM cand WHERE levenshtein(sa, sb) <= 1),
      |pe AS (SELECT id, count(*) AS n FROM
      |  (SELECT ia AS id FROM ver UNION ALL SELECT ib FROM ver) GROUP BY id)
      |SELECT coalesce(pe.n, 0) AS n_neighbors, count(*) AS n_entities
      |FROM base LEFT JOIN pe USING (id)
      |GROUP BY 1 ORDER BY n_neighbors""".stripMargin)

  // ---------------------------------------------------------------- q136
  // Record-linkage scoring (Linkage.score over Dedup.editOnePairs):
  // q127's name-variant candidates upgraded to a full entity-resolution
  // verdict — per-field agreement (name distance, nation, market
  // segment, balance within 100.00) combined into one exact integer
  // Fellegi-Sunter-style weight, reported as the score distribution a
  // threshold is chosen from. Blocking keeps pairs collision-sized;
  // attribute joins are id-keyed; scoring is row-local.
  val q136 = query("q136_linkage_scores")((s, dir) => {
    val cust = Tables.customer(s, dir)
    def side(tag: String) = cust.select(
      col("c_custkey").as(s"__id$tag"), col("c_nationkey").as(s"nat_$tag"),
      col("c_mktsegment").as(s"seg_$tag"),
      expr("CAST(round(c_acctbal * 100) AS BIGINT)").as(s"bal_$tag"))
    val pairs = Dedup.editOnePairs(cust, "c_custkey", "c_name")
      .join(side("a"), col("id_a") === col("__ida")).drop("__ida")
      .join(side("b"), col("id_b") === col("__idb")).drop("__idb")
    Linkage.score(pairs, Seq(
      Linkage.FieldRule("name", col("dist") === 0, 4000L, 2500L),
      Linkage.FieldRule("nation", col("nat_a") === col("nat_b"), 1200L, -800L),
      Linkage.FieldRule("segment", col("seg_a") === col("seg_b"), 600L, -400L),
      Linkage.FieldRule("balance",
        abs(col("bal_a") - col("bal_b")) <= 10000L, 500L, -300L)))
      .groupBy(col("score"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("score").desc)
  })(
    """WITH base AS (SELECT c_custkey AS id, c_name AS s FROM customer),
      |keys AS (SELECT id, s, i,
      |  CASE WHEN i = 0 THEN s ELSE substr(s, 1, i-1) || substr(s, i+1) END AS k
      |  FROM base, unnest(range(0, length(s)+1)) AS t(i)),
      |keep AS (SELECT k FROM keys GROUP BY k HAVING count(*) <= 1000),
      |pk AS (SELECT keys.id, keys.s, keys.i, keys.k FROM keys JOIN keep USING (k)),
      |cand AS (SELECT a.id AS id_a, b.id AS id_b,
      |    min(CASE WHEN a.i = 0 AND b.i = 0 THEN 0 ELSE 1 END) AS dist
      |  FROM pk a JOIN pk b ON a.k = b.k AND a.id < b.id
      |  WHERE a.i = b.i OR a.i = 0 OR b.i = 0
      |  GROUP BY a.id, b.id),
      |att AS (SELECT c_custkey AS id, c_nationkey AS nat, c_mktsegment AS seg,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal FROM customer),
      |sc AS (SELECT
      |    (CASE WHEN c.dist = 0 THEN 4000 ELSE 2500 END)
      |  + (CASE WHEN x.nat = y.nat THEN 1200 ELSE -800 END)
      |  + (CASE WHEN x.seg = y.seg THEN 600 ELSE -400 END)
      |  + (CASE WHEN abs(x.bal - y.bal) <= 10000 THEN 500 ELSE -300 END) AS score
      |  FROM cand c JOIN att x ON x.id = c.id_a JOIN att y ON y.id = c.id_b)
      |SELECT CAST(score AS BIGINT) AS score, count(*) AS n_pairs
      |FROM sc GROUP BY score ORDER BY score DESC""".stripMargin)

  // ---------------------------------------------------------------- q141
  // EXACT Jaccard similarity join at τ = 7/10 over distinct 5-token word
  // shingle sets via prefix filtering (Dedup.prefixFilterJaccardJoin) —
  // the zero-recall-loss counterpart to the MinHash-LSH tier (q43 finds
  // *probable* pairs; this finds provably ALL pairs ≥ τ, the contract
  // dedup audits and compliance scans need). Shingle sets, not unigram
  // sets: this corpus draws from a ~31-token vocabulary, so unigram
  // Jaccard is near-1 for almost every pair (the TRUE answer is ~90k
  // pairs at sf0.01 — quadratic output no algorithm beats), while
  // 5-shingle sets are sequence-sensitive and isolate the ~real near-dups.
  // Only each doc's rare-first prefix is indexed; τ and every comparison
  // are integer rationals, so boundary pairs at exactly τ hash-match
  // across engines. The oracle is METHOD-independent: a brute-force
  // shared-shingle join + exact set sizes in DuckDB — it never
  // re-implements the prefix logic, so agreement validates the filter's
  // exactness theorem, not a shared bug.
  // Guard: SCALE-RELATIVE (≤ 32 candidate pairs per indexed prefix entry
  // — true ratio here is ~0.001) so every bench/gate run re-proves the
  // guard SILENT on the known-safe corpus, any future fixture change that
  // blows up the prefix buckets fails loudly in the guard stage instead
  // of spilling in the join, and a linear scale-up never trips it (the
  // old absolute 10M cap was a fixture-scale constant — the sf10
  // rehearsal tripped it at a healthy 1.2 pairs/entry).
  val q141 = query("q141_simjoin_prefix")((s, dir) =>
    graft.operators.Dedup.prefixFilterJaccardJoin(
        Tables.documents(s, dir), "doc_id", "text",
        tauNum = 7, shingleK = 5,
        maxPairsPerEntry = 32L)
      .orderBy("doc_a", "doc_b"))(
    """WITH tk AS (SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN []
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS t
      |  FROM documents),
      |shl AS (SELECT doc_id, list_distinct(
      |    CASE WHEN len(t) < 5 THEN []
      |         ELSE list_transform(range(0, len(t) - 4),
      |                i -> array_to_string(list_slice(t, i+1, i+5), ' ')) END) AS s
      |  FROM tk),
      |sz AS (SELECT doc_id, len(s) AS n FROM shl WHERE len(s) > 0),
      |ex AS (SELECT doc_id, unnest(s) AS tok FROM shl),
      |shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    count(*) AS n_inter
      |  FROM ex a JOIN ex b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT s.doc_a, s.doc_b, s.n_inter,
      |  na.n + nb.n - s.n_inter AS n_union,
      |  (s.n_inter * 1000000) // (na.n + nb.n - s.n_inter) AS jaccard_ppm
      |FROM shared s
      |JOIN sz na ON na.doc_id = s.doc_a
      |JOIN sz nb ON nb.doc_id = s.doc_b
      |WHERE s.n_inter * 10 >= (na.n + nb.n - s.n_inter) * 7
      |ORDER BY doc_a, doc_b""".stripMargin)

  // ---------------------------------------------------------------- q159
  // Entity-resolution CAPSTONE: FastSS deletion-neighborhood blocking
  // (q127) → per-field Fellegi–Sunter scoring (q136) → score ≥ 3800
  // match decision → connected-components clustering (q58's operator) →
  // per-entity cluster table with min-id survivor. Four library
  // operators composing in ONE lazy pipeline — the full
  // duplicate-customer-merge a warehouse actually runs. Every stage
  // keeps its own scale shape (key-join blocking, row-local scoring,
  // O(log n) star rounds), and the oracle replays ALL of it — deletion
  // keys, integer weights, threshold, transitive closure as a recursive
  // CTE — so the composition is value-checked end-to-end, not just its
  // parts.
  val q159 = query("q159_entity_resolution")((s, dir) => {
    val cust = Tables.customer(s, dir)
    def side(tag: String) = cust.select(
      col("c_custkey").as(s"__id$tag"), col("c_nationkey").as(s"nat_$tag"),
      col("c_mktsegment").as(s"seg_$tag"),
      expr("CAST(round(c_acctbal * 100) AS BIGINT)").as(s"bal_$tag"))
    val pairs = Dedup.editOnePairs(cust, "c_custkey", "c_name")
      .join(side("a"), col("id_a") === col("__ida")).drop("__ida")
      .join(side("b"), col("id_b") === col("__idb")).drop("__idb")
    val matches = Linkage.score(pairs, Seq(
        Linkage.FieldRule("name", col("dist") === 0, 4000L, 2500L),
        Linkage.FieldRule("nation", col("nat_a") === col("nat_b"), 1200L, -800L),
        Linkage.FieldRule("segment", col("seg_a") === col("seg_b"), 600L, -400L),
        Linkage.FieldRule("balance",
          abs(col("bal_a") - col("bal_b")) <= 10000L, 500L, -300L)))
      .filter(col("score") >= 3800L)
      .select(col("id_a"), col("id_b"))
    ConnectedComponents.clusterSizes(
        ConnectedComponents.components(matches, "id_a", "id_b"))
      .select(col("cluster"), col("n_members"))
      .orderBy("cluster")
  })(
    s"""WITH RECURSIVE base AS (SELECT c_custkey AS id, c_name AS s FROM customer),
      |keys AS (SELECT id, s, i,
      |  CASE WHEN i = 0 THEN s ELSE substr(s, 1, i-1) || substr(s, i+1) END AS k
      |  FROM base, unnest(range(0, length(s)+1)) AS t(i)),
      |keep AS (SELECT k FROM keys GROUP BY k HAVING count(*) <= 1000),
      |pk AS (SELECT keys.id, keys.s, keys.i, keys.k FROM keys JOIN keep USING (k)),
      |cand AS (SELECT a.id AS id_a, b.id AS id_b,
      |    min(CASE WHEN a.i = 0 AND b.i = 0 THEN 0 ELSE 1 END) AS dist
      |  FROM pk a JOIN pk b ON a.k = b.k AND a.id < b.id
      |  WHERE a.i = b.i OR a.i = 0 OR b.i = 0
      |  GROUP BY a.id, b.id),
      |att AS (SELECT c_custkey AS id, c_nationkey AS nat, c_mktsegment AS seg,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal FROM customer),
      |m AS (SELECT c.id_a, c.id_b FROM cand c
      |  JOIN att x ON x.id = c.id_a JOIN att y ON y.id = c.id_b
      |  WHERE (CASE WHEN c.dist = 0 THEN 4000 ELSE 2500 END)
      |      + (CASE WHEN x.nat = y.nat THEN 1200 ELSE -800 END)
      |      + (CASE WHEN x.seg = y.seg THEN 600 ELSE -400 END)
      |      + (CASE WHEN abs(x.bal - y.bal) <= 10000 THEN 500 ELSE -300 END)
      |      >= 3800),
      |${closureCtes("m", "id_a", "id_b")}
      |SELECT cluster, count(*) AS n_members FROM lbl GROUP BY 1
      |ORDER BY cluster""".stripMargin)

  // ---------------------------------------------------------------- q165
  // LSH recall CERTIFICATE: measure q43's MinHash-LSH candidate generator
  // against the EXACT prefix-filter join on the same similarity space
  // (3-token-shingle Jaccard ≥ 7/10) — the completeness audit that turns
  // "LSH probably finds the near-dups" into a number (recall_ppm) a
  // dataset card can print. The theoretical floor for 16 hashes / 2 rows
  // per band at J = 0.7 is 1−(1−0.49)⁸ ≈ 99.5%; this measures the real
  // corpus. BOTH inputs are evaluated exactly once: a full-outer join on
  // the pair key feeds one aggregation where n_true / n_cand / n_hits
  // are the non-null side counts (a left join would need a second pass
  // over candidates for n_cand — the expensive legs here are the inputs,
  // not the output-sized join). At scale you'd run this on a sampled
  // stratum (the q122 ANN-recall pattern); the operators compose
  // identically.
  val q165 = query("q165_lsh_recall_audit")((s, dir) => {
    val docs = Tables.documents(s, dir)
    val truth = Dedup
      .prefixFilterJaccardJoin(docs, "doc_id", "text", 7, shingleK = 3,
        maxPairsPerEntry = 32L) // q141's always-on scale-relative guard
      .select(col("doc_a"), col("doc_b"), lit(1L).as("__true"))
    val cand = Dedup
      .minHashLshPairs(docs, "doc_id", "text")
      .withColumn("__cand", lit(1L))
    truth.join(cand, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        coalesce(sum(col("__true")), lit(0L)).as("n_true"),
        coalesce(sum(col("__cand")), lit(0L)).as("n_cand"),
        coalesce(sum(col("__true") * col("__cand")), lit(0L)).as("n_hits"))
      .select(col("n_true"), col("n_cand"), col("n_hits"),
        expr("CASE WHEN n_true = 0 THEN 1000000 " +
          "ELSE (n_hits * 1000000) div n_true END").as("recall_ppm"))
  })(
    s"""WITH $lshBandedCtes,
       |$lshCandCte,
       |tk3 AS (SELECT doc_id,
       |    CASE WHEN length(trim(text)) = 0 THEN []
       |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS t
       |  FROM documents),
       |sh3 AS (SELECT doc_id, list_distinct(
       |    CASE WHEN len(t) < 3 THEN []
       |         ELSE list_transform(range(0, len(t) - 2),
       |                i -> array_to_string(list_slice(t, i+1, i+3), ' ')) END) AS s
       |  FROM tk3),
       |sz3 AS (SELECT doc_id, len(s) AS n FROM sh3 WHERE len(s) > 0),
       |ex3 AS (SELECT doc_id, unnest(s) AS tok FROM sh3),
       |shr3 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM ex3 a JOIN ex3 b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truth AS (SELECT s.doc_a, s.doc_b FROM shr3 s
       |  JOIN sz3 na ON na.doc_id = s.doc_a
       |  JOIN sz3 nb ON nb.doc_id = s.doc_b
       |  WHERE s.n_inter * 10 >= (na.n + nb.n - s.n_inter) * 7)
       |SELECT CAST(t.n AS BIGINT) AS n_true, CAST(c.n AS BIGINT) AS n_cand,
       |  CAST(h.n AS BIGINT) AS n_hits,
       |  CAST(CASE WHEN t.n = 0 THEN 1000000
       |    ELSE (h.n * 1000000) // t.n END AS BIGINT) AS recall_ppm
       |FROM (SELECT count(*) AS n FROM truth) t,
       |     (SELECT count(*) AS n FROM cand) c,
       |     (SELECT count(*) AS n FROM truth JOIN cand USING (doc_a, doc_b)) h""".stripMargin)

  // ---------------------------------------------------------------- q167
  // Cross-source duplication matrix: for every unordered source pair,
  // how many EXACT near-dup pairs (3-shingle Jaccard ≥ 7/10, the q141
  // operator) straddle or sit inside it, and how many distinct documents
  // are involved — the "how much of source A is recycled in source B"
  // table that decides which source to drop when curating a mixture
  // (within-source rows measure internal redundancy on the same scale).
  // The pair set is evaluated ONCE: sources label the pair table (two
  // id-keyed joins, pair-table-sized), then a 2-row explode feeds a
  // single aggregation where n_pairs = count div 2 exactly (each pair
  // contributes both endpoints) and n_docs is the distinct endpoint
  // count. Everything after the simjoin is output-sized.
  val q167 = query("q167_cross_source_dup")((s, dir) => {
    val docs = Tables.documents(s, dir)
    def side(tag: String) = docs.select(
      col("doc_id").as(s"doc_$tag"), col("source").as(s"__src_$tag"))
    Dedup.prefixFilterJaccardJoin(docs, "doc_id", "text", 7, shingleK = 3,
        maxPairsPerEntry = 32L) // q141's always-on scale-relative guard
      .join(side("a"), Seq("doc_a"))
      .join(side("b"), Seq("doc_b"))
      .select(
        least(col("__src_a"), col("__src_b")).as("source_x"),
        greatest(col("__src_a"), col("__src_b")).as("source_y"),
        explode(array(col("doc_a"), col("doc_b"))).as("__d"))
      .groupBy(col("source_x"), col("source_y"))
      .agg(expr("count(*) div 2").as("n_pairs"),
        countDistinct(col("__d")).as("n_docs"))
      .orderBy("source_x", "source_y")
  })(
    """WITH tk3 AS (SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN []
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS t
      |  FROM documents),
      |sh3 AS (SELECT doc_id, list_distinct(
      |    CASE WHEN len(t) < 3 THEN []
      |         ELSE list_transform(range(0, len(t) - 2),
      |                i -> array_to_string(list_slice(t, i+1, i+3), ' ')) END) AS s
      |  FROM tk3),
      |sz3 AS (SELECT doc_id, len(s) AS n FROM sh3 WHERE len(s) > 0),
      |ex3 AS (SELECT doc_id, unnest(s) AS tok FROM sh3),
      |shr3 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      |  FROM ex3 a JOIN ex3 b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |truth AS (SELECT s.doc_a, s.doc_b FROM shr3 s
      |  JOIN sz3 na ON na.doc_id = s.doc_a
      |  JOIN sz3 nb ON nb.doc_id = s.doc_b
      |  WHERE s.n_inter * 10 >= (na.n + nb.n - s.n_inter) * 7),
      |lab AS (SELECT least(sa.source, sb.source) AS source_x,
      |    greatest(sa.source, sb.source) AS source_y, t.doc_a, t.doc_b
      |  FROM truth t
      |  JOIN documents sa ON sa.doc_id = t.doc_a
      |  JOIN documents sb ON sb.doc_id = t.doc_b),
      |ex2 AS (SELECT source_x, source_y, unnest([doc_a, doc_b]) AS d FROM lab)
      |SELECT source_x, source_y,
      |  CAST(count(*) // 2 AS BIGINT) AS n_pairs,
      |  CAST(count(DISTINCT d) AS BIGINT) AS n_docs
      |FROM ex2 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  // ---------------------------------------------------------------- q170
  // Dataset-build CAPSTONE: the data-prep side's q159 — raw corpus →
  // exact-dedup survivors (min-id per normalized-md5 group) → quality
  // gate (score ≥ 0.5) → token counting → deterministic shard assignment
  // → per-shard export manifest (docs, token mass, source diversity, id
  // range). Four library operators composing in ONE lazy plan: the
  // "make a training dataset" pipeline a user actually ships, each stage
  // keeping its scale shape (dedup = one md5-keyed shuffle; gate + tokens
  // + shard = map-only on the scan; manifest = 8-row rollup). The oracle
  // replays ALL of it — md5 normalization, the quality formula (the same
  // shared SQL fragments as q22/q73, so the oracles cannot drift), the
  // splitmix64 shard — so the composition is value-checked end-to-end.
  val q170 = query("q170_dataset_build")((s, dir) => {
    val docs = Tables.documents(s, dir)
    val survivors = Dedup.dropExactDuplicates(docs, "doc_id", "text")
    val gated = survivors
      .filter(TextFunctions.qualityScore(col("text")) >= 0.5)
      .select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
    graft.operators.Packing.withShard(gated, "doc_id", 8)
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("shard")
  })({
    import DuckHash._
    val shard = s"(((${signed("mh")}) % 8) + 8) % 8"
    s"""WITH keep AS (SELECT min(doc_id) AS doc_id
       |  FROM documents
       |  GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))),
       |surv AS (SELECT d.doc_id, d.source, d.text
       |  FROM documents d JOIN keep USING (doc_id)),
       |gated AS (SELECT doc_id, source,
       |    CAST($duckNTokens AS BIGINT) AS n_tokens
       |  FROM surv WHERE ($duckQualityScore) >= 0.5),
       |mx0 AS (SELECT doc_id, source, n_tokens,
       |    CAST(doc_id AS UBIGINT) AS sx FROM gated),
       |${mix64Ctes("sx")},
       |sh AS (SELECT doc_id, source, n_tokens,
       |    CAST($shard AS BIGINT) AS shard FROM mx4)
       |SELECT shard, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |FROM sh GROUP BY shard ORDER BY shard""".stripMargin
  })

  // ---------------------------------------------------------------- q196
  // Corpus-wide duplicated-LINE removal (Dedup.dropDuplicatedLines) — the
  // boilerplate scrub every web-corpus pipeline runs (RefinedWeb's
  // line-wise corrections, Dolma's paragraph dedup): any line appearing in
  // ≥ 5 distinct documents (nav menus, cookie banners, promo footers) is
  // dropped from every document, and the text is reassembled from the
  // surviving lines in original order. The corpus has no newlines, so each
  // doc synthesizes a 4-line page hitting every verdict class (the q186
  // synthesize-then-scrub convention): a 3-variant cookie/subscribe/follow
  // banner (≈n/3 docs each — removed), a 6-token content prefix (the rule
  // decides its fate — shared prefixes get scrubbed too, exactly like real
  // template text), a doc-unique footer (kept), and a 4-variant promo code
  // line keyed off mix64 (removed). The oracle rebuilds the same lines
  // arithmetically and replays count→filter→reassemble in SQL, so the
  // verdict threshold, within-doc-repeat handling (countDistinct docs, not
  // occurrences), and reassembly ORDER are all value-checked.
  val q196 = query("q196_line_dedup")((s, dir) => {
    val k = col("doc_id").cast("long")
    val mh = graft.functions.HashFunctions.mix64(k)
    val l1 = when(k % 3 === 0, lit("accept all cookies to continue"))
      .when(k % 3 === 1, lit("subscribe to our newsletter today"))
      .otherwise(lit("follow us on social media"))
    val l2 = concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 6))
    val l3 = format_string("document %d of %s", k, col("source"))
    val l4 = format_string("promo code %d", mh.bitwiseAND(lit(3L)))
    val pages = Tables.documents(s, dir)
      .select(k.as("doc_id"), concat_ws("\n", l1, l2, l3, l4).as("page"))
    Dedup.dropDuplicatedLines(pages, "doc_id", "page")
      .orderBy("doc_id")
  })({
    val mh = DuckHash.mix64Inline("CAST(k AS UBIGINT)")
    s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS k, text, source FROM documents),
       |ln AS (
       |  SELECT k, 0 AS pos,
       |    CASE WHEN k % 3 = 0 THEN 'accept all cookies to continue'
       |         WHEN k % 3 = 1 THEN 'subscribe to our newsletter today'
       |         ELSE 'follow us on social media' END AS line FROM d
       |  UNION ALL
       |  SELECT k, 1, array_to_string(list_slice(
       |    CASE WHEN length(trim(text)) = 0 THEN []
       |         ELSE regexp_split_to_array(trim(text), '\\s+') END, 1, 6), ' ') FROM d
       |  UNION ALL
       |  SELECT k, 2, 'document ' || CAST(k AS VARCHAR) || ' of ' || source FROM d
       |  UNION ALL
       |  SELECT k, 3, 'promo code ' || CAST(($mh) & 3 AS VARCHAR) FROM d),
       |nb AS (SELECT k, pos, line FROM ln WHERE length(trim(line)) > 0),
       |boiler AS (SELECT line FROM (
       |    SELECT line, count(DISTINCT k) AS nd FROM nb GROUP BY line) WHERE nd >= 5),
       |kept AS (SELECT nb.k, nb.pos, nb.line FROM nb
       |  LEFT JOIN boiler b ON nb.line = b.line WHERE b.line IS NULL),
       |re AS (SELECT k, count(*) AS n_kept,
       |    string_agg(line, chr(10) ORDER BY pos) AS cleaned_text
       |  FROM kept GROUP BY k),
       |tot AS (SELECT k, count(*) AS n_lines FROM nb GROUP BY k)
       |SELECT t.k AS doc_id, CAST(t.n_lines AS BIGINT) AS n_lines,
       |  CAST(t.n_lines - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
       |  COALESCE(r.cleaned_text, '') AS cleaned_text
       |FROM tot t LEFT JOIN re r ON r.k = t.k
       |ORDER BY doc_id""".stripMargin
  })

  // ---------------------------------------------------------------- q199
  // Web-corpus curation CAPSTONE — the web-corpus operators composing in
  // ONE lazy plan, the way a FineWeb-style pipeline actually ships: raw
  // HTML page (synthesized per doc: nav banner, body paragraph, a
  // doc-unique ref line, a per-source footer — docs with k%7==0 plant a
  // SHARED boilerplate body so both scrub regimes fire) → htmlToText
  // (q198's extractor) → corpus-wide duplicated-line scrub (q196's
  // operator: the nav line spans all 500 docs, each footer spans its
  // source's 25, the planted bodies span ~71 — all drop at minDocs=5;
  // real bodies and ref lines survive) → survival gate (a doc whose BODY
  // was boilerplate has only its ref line left and is dropped) →
  // per-source export rollup (docs, kept docs, kept token mass). Scale
  // shape: extraction rides the scan, the scrub is q196's two
  // aggregations + anti-probe, the gate is a filter, the rollup is
  // source-keyed — one lazy plan, no collect. The oracle re-derives the
  // extracted lines arithmetically (q198's convention) and replays
  // scrub→gate→rollup in SQL, so the whole composition is value-checked
  // end-to-end.
  val q199 = query("q199_web_curation_e2e")((s, dir) => {
    val k = col("doc_id").cast("long")
    val docs = Tables.documents(s, dir)
    val body = when(k % 7 === 0, lit("lorem ipsum boilerplate body"))
      .otherwise(concat_ws(" ", TextFunctions.tokens(col("text"))))
    val page = concat(
      lit("<html><body><nav>Site Nav</nav><p>"), body,
      lit("</p><div>"), format_string("ref %d", k),
      lit("</div><footer>(c) "), col("source"),
      lit(" network</footer></body></html>"))
    val pages = docs.select(k.as("doc_id"),
      TextFunctions.htmlToText(page).as("page"))
    val scrubbed = Dedup.dropDuplicatedLines(pages, "doc_id", "page")
      .withColumn("__kept", (col("n_lines") - col("n_removed")) >= 2)
      .withColumn("__toks", when(col("__kept"),
        TextFunctions.tokenCount(col("cleaned_text")).cast("long")).otherwise(0L))
    docs.select(k.as("doc_id"), col("source"))
      .join(scrubbed, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__kept"), 1L).otherwise(0L)).as("n_docs_kept"),
        sum(col("__toks")).as("n_tokens_kept"))
      .orderBy("source")
  })(
    s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS k, source, text FROM documents),
       |b AS (SELECT k, source,
       |    CASE WHEN k % 7 = 0 THEN 'lorem ipsum boilerplate body'
       |         ELSE array_to_string(
       |           CASE WHEN length(trim(text)) = 0 THEN []
       |                ELSE regexp_split_to_array(trim(text), '\\s+') END, ' ') END AS body
       |  FROM d),
       |ln AS (
       |  SELECT k, source, 0 AS pos, 'Site Nav' AS line FROM b
       |  UNION ALL SELECT k, source, 1, body FROM b
       |  UNION ALL SELECT k, source, 2, 'ref ' || CAST(k AS VARCHAR) FROM b
       |  UNION ALL SELECT k, source, 3, '(c) ' || source || ' network' FROM b),
       |nb AS (SELECT * FROM ln WHERE length(trim(line)) > 0),
       |boiler AS (SELECT line FROM (
       |    SELECT line, count(DISTINCT k) AS nd FROM nb GROUP BY line) WHERE nd >= 5),
       |kept AS (SELECT nb.k, nb.source, nb.line FROM nb
       |  LEFT JOIN boiler bo ON nb.line = bo.line WHERE bo.line IS NULL),
       |doc AS (SELECT k, source, count(*) AS n_kept,
       |    sum(len(regexp_split_to_array(trim(line), '\\s+'))) AS n_toks
       |  FROM kept GROUP BY k, source)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN n_kept >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
       |  CAST(sum(CASE WHEN n_kept >= 2 THEN n_toks ELSE 0 END) AS BIGINT) AS n_tokens_kept
       |FROM doc GROUP BY source ORDER BY source""".stripMargin)
}
