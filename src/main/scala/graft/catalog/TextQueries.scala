package graft
package catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{AggFunctions, PiiFunctions, TextFunctions}
import graft.operators.{BpeTrainer, Chunking, Packing, TfIdf}

import Shared._

/** Text catalog family: token and quality statistics, language id,
  * TF-IDF, vocabularies, packing and chunking, normalization and BPE. */
object TextQueries extends Family {

  // ---------------------------------------------------------------- q21
  // Token counting / char stats (text-analysis surface) — per-row codegen.
  val q21 = query("q21_token_stats")((s, dir) =>
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"),
        TextFunctions.charCountNoSpace(col("text")).cast("long").as("n_chars_nospace"),
        TextFunctions.meanTokenLength(col("text")).as("mean_token_len")
      )
      .orderBy("doc_id"))(
    """SELECT doc_id,
      | CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
      | CAST(length(text) AS BIGINT) AS n_chars,
      | CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS n_chars_nospace,
      | CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
      |            ELSE len(regexp_split_to_array(trim(text), '\s+')) END) = 0 THEN CAST(0.0 AS DOUBLE)
      |      ELSE CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
      |           / CAST((CASE WHEN length(trim(text)) = 0 THEN 0
      |                   ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS DOUBLE) END
      |   AS mean_token_len
      |FROM documents ORDER BY doc_id""".stripMargin)

  // ---------------------------------------------------------------- q22
  // Quality scoring: length/punctuation/stopword heuristics composed into a
  // deterministic [0,1] score.
  val q22 = query("q22_quality_score")((s, dir) =>
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        TextFunctions.punctRatio(col("text")).as("punct_ratio"),
        TextFunctions.stopwordRatio(col("text")).as("stopword_ratio"),
        TextFunctions.qualityScore(col("text")).as("quality_score")
      )
      .orderBy("doc_id"))(
    s"""SELECT doc_id,
       | $duckPunctRatio AS punct_ratio,
       | $duckStopRatio AS stopword_ratio,
       | $duckQualityScore AS quality_score
       |FROM documents ORDER BY doc_id""".stripMargin)

  // ---------------------------------------------------------------- q23
  // Language identification (marker-token heuristic + CJK codepoint rule).
  val q23 = query("q23_lang_id")((s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id"))({
    def markers(lang: String) =
      TextFunctions.LangMarkers.toMap.apply(lang).map(w => s"'$w'").mkString(", ")
    def cnt(lang: String) =
      s"""len(list_filter(CASE WHEN length(trim(lower(text))) = 0 THEN []
         |    ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END, t -> t IN (${markers(lang)})))""".stripMargin
    s"""WITH c AS (
       |  SELECT doc_id, text,
       |    ${cnt("en")} AS c_en, ${cnt("de")} AS c_de, ${cnt("es")} AS c_es, ${cnt("fr")} AS c_fr,
       |    (length(text) - length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g'))) AS c_zh
       |  FROM documents)
       |SELECT doc_id,
       |  CASE WHEN c_zh * 2 > length(text) THEN 'zh'
       |       WHEN c_en = 0 AND c_de = 0 AND c_es = 0 AND c_fr = 0 THEN 'und'
       |       WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr THEN 'en'
       |       WHEN c_de >= c_es AND c_de >= c_fr THEN 'de'
       |       WHEN c_es >= c_fr THEN 'es'
       |       ELSE 'fr' END AS lang_pred
       |FROM c ORDER BY doc_id""".stripMargin
  })

  // ---------------------------------------------------------------- q24
  // Document fingerprinting: normalized md5 (cross-engine); the rolling
  // 64-bit variant (q27 family) is pinned by ScalaTest goldens.
  val q24 = query("q24_fingerprint")((s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), TextFunctions.fingerprintMd5(col("text")).as("fingerprint"))
      .orderBy("doc_id"))(
    """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin)

  // ---------------------------------------------------------------- q42
  // BPE-ish token-class counting (TextFunctions.BpeIshPattern): the
  // LLM-pipeline token accounting shape — per-row regexp extraction, codegen,
  // no shuffle; identical regex runs in the DuckDB oracle.
  val q42 = query("q42_token_classes")((s, dir) =>
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        TextFunctions.tokenCountBpeIsh(col("text")).cast("long").as("n_bpe"),
        size(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0))).cast("long").as("n_word"),
        size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0))).cast("long").as("n_digit"),
        size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9\\s]+"), lit(0))).cast("long").as("n_punct")
      )
      .orderBy("doc_id"))(
    """SELECT doc_id,
      | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+')) AS BIGINT) AS n_bpe,
      | CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_word,
      | CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
      | CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]+')) AS BIGINT) AS n_punct
      |FROM documents ORDER BY doc_id""".stripMargin)

  // ---------------------------------------------------------------- q40
  // Composed training-data pipeline: quality-filter → exact-dedup →
  // per-(lang, source) corpus stats. The shape every 100 TB curation job
  // runs; here it chains the catalog's own operators end-to-end.
  val q40 = query("q40_pipeline_compose")((s, dir) => {
    val d = Tables.documents(s, dir)
    val scored = d.select(
      col("doc_id"), col("lang"), col("source"),
      TextFunctions.fingerprintMd5(col("text")).as("fp"),
      TextFunctions.qualityScore(col("text")).as("q")
    ).filter(col("q") >= 0.3)
    val keep = scored.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    scored.join(keep, Seq("fp", "doc_id"), "left_semi")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), AggFunctions.avgExact(col("q"), 6).as("avg_quality"))
      .orderBy("lang", "source")
  })({
    val quality = duckQualityScore
    s"""WITH scored AS (
       |  SELECT doc_id, lang, source,
       |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
       |    $quality AS q
       |  FROM documents),
       |kept AS (SELECT * FROM scored WHERE q >= 0.3),
       |keepers AS (SELECT fp, min(doc_id) AS doc_id FROM kept GROUP BY fp)
       |SELECT lang, source, count(*) AS n_docs, ${dAvg("q", 6)} AS avg_quality
       |FROM kept JOIN keepers USING (fp, doc_id)
       |GROUP BY lang, source ORDER BY lang, source""".stripMargin
  })

  // ---------------------------------------------------------------- q46
  // Gopher-style repetition/duplication quality metrics
  // (TextFunctions.dupTokenFraction / topTokenFraction /
  // dupShingleFraction): per-row codegen folds, no shuffle. The top-token
  // count is a sorted-run fold (O(t log t)); the oracle computes the same
  // value with DuckDB's nested list count (fine at oracle scale). All
  // ratios are int/int double divisions — bit-exact cross-engine.
  val q46 = query("q46_repetition_metrics")((s, dir) => {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
    d.select(
      col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"),
      size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
      TextFunctions.dupTokenFraction(col("toks")).as("dup_frac"),
      TextFunctions.topTokenFraction(col("toks")).as("top_frac"),
      TextFunctions.dupShingleFraction(col("toks"), 2).as("dup_bigram_frac")
    ).orderBy("doc_id")
  })(
    """WITH toks AS (SELECT doc_id,
      |  CASE WHEN length(trim(text)) = 0 THEN []
      |       ELSE regexp_split_to_array(trim(text), '\s+') END AS t
      |  FROM documents),
      |sh AS (SELECT doc_id, t,
      |  CASE WHEN len(t) < 2 THEN []
      |       ELSE list_transform(range(0, len(t) - 1),
      |              i -> array_to_string(list_slice(t, i+1, i+2), ' ')) END AS s2
      |  FROM toks)
      |SELECT doc_id,
      | CAST(len(t) AS BIGINT) AS n_tokens,
      | CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
      | CASE WHEN len(t) = 0 THEN CAST(0.0 AS DOUBLE)
      |      ELSE CAST(len(t) - len(list_distinct(t)) AS DOUBLE)/CAST(len(t) AS DOUBLE) END AS dup_frac,
      | CASE WHEN len(t) = 0 THEN CAST(0.0 AS DOUBLE)
      |      ELSE CAST(list_max(list_transform(list_distinct(t), d -> len(list_filter(t, x -> x = d)))) AS DOUBLE)
      |           /CAST(len(t) AS DOUBLE) END AS top_frac,
      | CASE WHEN len(s2) = 0 THEN CAST(0.0 AS DOUBLE)
      |      ELSE CAST(len(s2) - len(list_distinct(s2)) AS DOUBLE)/CAST(len(s2) AS DOUBLE) END AS dup_bigram_frac
      |FROM sh ORDER BY doc_id""".stripMargin)

  // ---------------------------------------------------------------- q52
  // PII scrub audit (PiiFunctions): count + redact emails / NANP phones /
  // IPv4s. The corpus documents are synthetic word-salad with no natural
  // PII, so both engines derive the SAME deterministic corpus inline
  // (2/3 of docs get a doc_id-keyed contact footer, 1/3 stay clean) —
  // the oracle then value-checks the regex counts AND the full redacted
  // text (md5) over varied inputs including the zero-match path. Pure
  // per-row regexp work: at 100 TB the scrub rides the scan, no shuffle.
  val q52 = query("q52_pii_redact")((s, dir) => {
    val footer = concat(
      lit(" contact u"), col("doc_id").cast("string"),
      lit("@ex"), pmod(col("doc_id"), lit(7L)).cast("string"), lit(".org"),
      lit(" call 415-555-"), lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"),
      lit(" from 10."), pmod(col("doc_id"), lit(256L)).cast("string"),
      lit(".0."), pmod(col("doc_id"), lit(100L)).cast("string"))
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        when(pmod(col("doc_id"), lit(3L)) === 0, col("text"))
          .otherwise(concat(col("text"), footer)).as("text"))
      .select(
        col("doc_id"),
        PiiFunctions.emailCount(col("text")).as("n_emails"),
        PiiFunctions.phoneCount(col("text")).as("n_phones"),
        PiiFunctions.ipv4Count(col("text")).as("n_ips"),
        length(PiiFunctions.redact(col("text"))).cast("long").as("n_chars_redacted"),
        md5(PiiFunctions.redact(col("text")).cast("binary")).as("redacted_fp"))
      .orderBy("doc_id")
  })({
    // the runtime pattern strings are Java/RE2-shared (no quoting needed:
    // no single quotes, no constructs DuckDB's RE2 lacks)
    val email = PiiFunctions.EmailPattern
    val phone = PiiFunctions.PhonePattern
    val ip = PiiFunctions.Ipv4Pattern
    s"""WITH corpus AS (SELECT doc_id,
       |  CASE WHEN doc_id % 3 = 0 THEN text
       |       ELSE text || ' contact u' || CAST(doc_id AS VARCHAR)
       |            || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.org'
       |            || ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |            || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
       |            || '.0.' || CAST(doc_id % 100 AS VARCHAR)
       |  END AS text FROM documents),
       |r AS (SELECT doc_id, text,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '$email', '<EMAIL>', 'g'),
       |    '$phone', '<PHONE>', 'g'),
       |    '$ip', '<IP>', 'g') AS red
       |  FROM corpus)
       |SELECT doc_id,
       | CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
       | CAST(len(regexp_extract_all(text, '$phone')) AS BIGINT) AS n_phones,
       | CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ips,
       | CAST(length(red) AS BIGINT) AS n_chars_redacted,
       | md5(red) AS redacted_fp
       |FROM r ORDER BY doc_id""".stripMargin
  })

  // ---------------------------------------------------------------- q53
  // Sequence-packing offsets (Packing.packOffsets): concatenate-and-chunk
  // pretraining layout as a pure offset computation — splitmix64 shard,
  // per-shard running token offset (ONE shuffle: the window sort on
  // shard), context-window ids by integer division. The oracle replays
  // the splitmix64 shard (DuckHash) and the window sum.
  val q53 = query("q53_pack_offsets")((s, dir) =>
    Packing
      .packOffsets(
        Tables.documents(s, dir), "doc_id",
        TextFunctions.tokenCount(col("text")),
        capacity = 2048, nShards = 4)
      .select("shard", "doc_id", "n_tokens", "start_tok",
        "first_window", "last_window", "spans_boundary")
      .orderBy("doc_id"))({
    import DuckHash._
    val shard = s"(((${signed("mh")}) % 4) + 4) % 4"
    s"""WITH tk AS (SELECT doc_id,
       |  CASE WHEN length(trim(text)) = 0 THEN 0
       |       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
       |  FROM documents),
       |mx0 AS (SELECT doc_id, n_tokens, CAST(doc_id AS UBIGINT) AS sx FROM tk),
       |${mix64Ctes("sx")},
       |sh AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |       CAST($shard AS BIGINT) AS shard FROM mx4),
       |off AS (SELECT shard, doc_id, n_tokens,
       |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
       |  FROM sh)
       |SELECT shard, doc_id, n_tokens, start_tok,
       | CAST(start_tok // 2048 AS BIGINT) AS first_window,
       | CAST((start_tok + greatest(n_tokens - 1, 0)) // 2048 AS BIGINT) AS last_window,
       | (start_tok // 2048) != ((start_tok + greatest(n_tokens - 1, 0)) // 2048) AS spans_boundary
       |FROM off ORDER BY doc_id""".stripMargin
  })

  // ---------------------------------------------------------------- q54
  // Document chunking (Chunking.chunkWindows): 32-token windows, stride
  // 24 — per-row generate-and-explode, no shuffle; chunk content is
  // value-checked via md5 of the space-joined window.
  val q54 = query("q54_chunk_windows")((s, dir) =>
    Chunking
      .chunkWindows(Tables.documents(s, dir), "doc_id", "text", window = 32, stride = 24)
      .orderBy("doc_id", "chunk_idx"))(
    s"""WITH $duckToksCte,
       |c AS (SELECT doc_id, t, len(t) AS n,
       |  CASE WHEN len(t) <= 0 THEN 0 WHEN len(t) <= 32 THEN 1
       |       ELSE (len(t) - 32 + 23) // 24 + 1 END AS nc
       |  FROM tk),
       |e AS (SELECT doc_id, t, n, unnest(range(0, nc)) AS ci FROM c),
       |ch AS (SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
       |       CAST(ci * 24 AS BIGINT) AS start_tok,
       |       list_slice(t, ci*24 + 1, least(ci*24 + 32, n)) AS chunk FROM e)
       |SELECT doc_id, chunk_idx, start_tok,
       | CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
       | md5(array_to_string(chunk, ' ')) AS chunk_fp
       |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin)

  // ---------------------------------------------------------------- q55
  // Corpus-relative salient terms (TfIdf.topTerms): tf/df weighting, top-3
  // per document. Two shuffles (doc-term counts, term df) + one vocab-size
  // join — see TfIdf's scaladoc for the 100 TB shape. tf/df is an exact
  // int/int double division, so scores hash-match cross-engine.
  val q55 = query("q55_tfidf_terms")((s, dir) =>
    TfIdf.topTerms(Tables.documents(s, dir), "doc_id", "text", k = 3)
      .orderBy("doc_id", "rnk"))(
    s"""WITH $duckToksCte,
       |ex AS (SELECT doc_id, unnest(t) AS term FROM tk),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY doc_id, term),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |       CAST(tf.tf AS DOUBLE)/CAST(df.df AS DOUBLE) AS score,
       |       row_number() OVER (PARTITION BY tf.doc_id
       |         ORDER BY CAST(tf.tf AS DOUBLE)/CAST(df.df AS DOUBLE) DESC, tf.term) AS rnk
       |       FROM tf JOIN df USING (term))
       |SELECT doc_id, term, tf, df, score, CAST(rnk AS BIGINT) AS rnk
       |FROM sc WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin)

  // ---------------------------------------------------------------- q56
  // Shard-balance manifest (Packing.withShard + rollup): the report a
  // training-data export emits per output shard — doc count, token mass,
  // id range, and each shard's share of total tokens. One shuffle on the
  // 8-value shard key; the global total is a second tiny agg over 8 rows.
  val q56 = query("q56_shard_manifest")((s, dir) => {
    val d = Tables.documents(s, dir)
      .withColumn("n_tokens", TextFunctions.tokenCount(col("text")).cast("long"))
    Packing.withShard(d, "doc_id", 8)
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .withColumn(
        "token_share",
        col("total_tokens").cast("double") /
          sum(col("total_tokens")).over(Window.partitionBy()).cast("double"))
      .orderBy("shard")
  })({
    import DuckHash._
    val shard = s"(((${signed("mh")}) % 8) + 8) % 8"
    s"""WITH tk AS (SELECT doc_id,
       |  CASE WHEN length(trim(text)) = 0 THEN 0
       |       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
       |  FROM documents),
       |mx0 AS (SELECT doc_id, n_tokens, CAST(doc_id AS UBIGINT) AS sx FROM tk),
       |${mix64Ctes("sx")},
       |sh AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |       CAST($shard AS BIGINT) AS shard FROM mx4),
       |ag AS (SELECT shard, count(*) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |       FROM sh GROUP BY shard)
       |SELECT shard, n_docs, total_tokens, min_doc, max_doc,
       | CAST(total_tokens AS DOUBLE)/CAST(sum(total_tokens) OVER () AS DOUBLE) AS token_share
       |FROM ag ORDER BY shard""".stripMargin
  })

  // ---------------------------------------------------------------- q59
  // Corpus vocabulary (TfIdf.vocabulary): top-100 terms with df ≥ 2 —
  // the token-id table a dataset export ships. Map-side combine collapses
  // within-doc repetition before the first shuffle; the global top-k is a
  // TakeOrdered (per-partition heaps), never a full sort.
  val q59 = query("q59_vocab_topk")((s, dir) =>
    TfIdf
      .vocabulary(Tables.documents(s, dir), "doc_id", "text", minDf = 2L, topK = 100)
      .orderBy("vocab_id"))(
    s"""WITH $duckToksCte,
       |ex AS (SELECT doc_id, unnest(t) AS term FROM tk),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY doc_id, term),
       |v AS (SELECT term, CAST(sum(tf) AS BIGINT) AS term_freq, count(*) AS doc_freq
       |      FROM tf GROUP BY term HAVING count(*) >= 2),
       |r AS (SELECT CAST(row_number() OVER (ORDER BY term_freq DESC, term) AS BIGINT) AS vocab_id,
       |             term, term_freq, doc_freq FROM v)
       |SELECT vocab_id, term, term_freq, doc_freq FROM r
       |WHERE vocab_id <= 100 ORDER BY vocab_id""".stripMargin)

  // ---------------------------------------------------------------- q65
  // Unigram corpus-rarity score (TfIdf.tokenRarity): mean corpus
  // probability of each document's tokens — the transcendental-free
  // unigram-LM quality signal (exact integer arithmetic + ONE int/int
  // double division, so it hash-matches cross-engine where ln-based
  // perplexity could not). Vocab agg → vocab join-back → per-doc rollup.
  val q65 = query("q65_token_rarity")((s, dir) =>
    TfIdf.tokenRarity(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id"))(
    s"""WITH $duckToksCte,
       |ex AS (SELECT doc_id, unnest(t) AS term FROM tk),
       |freq AS (SELECT term, count(*) AS cnt FROM ex GROUP BY term),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM freq),
       |pd AS (SELECT doc_id, count(*) AS n_tokens, CAST(sum(cnt) AS BIGINT) AS sum_freq
       |       FROM ex JOIN freq USING (term) GROUP BY doc_id)
       |SELECT tk.doc_id,
       | CAST(coalesce(pd.n_tokens, 0) AS BIGINT) AS n_tokens,
       | CAST(coalesce(pd.sum_freq, 0) AS BIGINT) AS sum_freq,
       | CASE WHEN coalesce(pd.n_tokens, 0) = 0 THEN CAST(0.0 AS DOUBLE)
       |      ELSE CAST(pd.sum_freq AS DOUBLE)
       |           / CAST(pd.n_tokens * tot.total AS DOUBLE) END AS mean_prob
       |FROM tk LEFT JOIN pd USING (doc_id) CROSS JOIN tot ORDER BY doc_id""".stripMargin)

  // ---------------------------------------------------------------- q68
  // Token frequency spectrum (counts-of-counts): the Zipf profile a corpus
  // datasheet reports — for each occurrence count, how many distinct terms
  // occur exactly that often and the token mass they carry. Two cascaded
  // aggregations, the second over the (tiny) distinct-count domain; all
  // integer arithmetic.
  val q68 = query("q68_freq_spectrum")((s, dir) =>
    Tables.documents(s, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("occurrences"))
      .groupBy(col("occurrences")).agg(count(lit(1)).as("n_terms"))
      .withColumn("token_mass", col("occurrences") * col("n_terms"))
      .orderBy("occurrences"))(
    s"""WITH $duckToksCte,
       |ex AS (SELECT doc_id, unnest(t) AS term FROM tk),
       |freq AS (SELECT term, count(*) AS occurrences FROM ex GROUP BY term)
       |SELECT occurrences, count(*) AS n_terms, occurrences * count(*) AS token_mass
       |FROM freq GROUP BY occurrences ORDER BY occurrences""".stripMargin)

  // ---------------------------------------------------------------- q69
  // Per-source corpus datasheet ("datasheets for datasets" rollup): doc
  // and token mass, mean document length, corpus-level stopword mass, and
  // short-doc fraction per source. All metrics are integer sums with a
  // single final int/int double division each — bit-parity without decimal
  // gymnastics. One shuffle on the low-cardinality source key; the text
  // metrics ride the scan as codegen'd expressions.
  val q69 = query("q69_source_datasheet")((s, dir) => {
    val d = Tables.documents(s, dir).select(
      col("source"), col("n_chars"),
      TextFunctions.tokenCount(col("text")).cast("long").as("__nt"),
      TextFunctions.stopwordCount(col("text")).cast("long").as("__ns"))
    d.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("__nt")).cast("double") / count(lit(1)).cast("double")).as("mean_tokens"),
        (sum(col("__ns")).cast("double") / sum(col("__nt")).cast("double")).as("stopword_mass_ratio"),
        (sum(when(col("__nt") < 20, 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double")).as("short_doc_frac"))
      .orderBy("source")
  })(
    s"""WITH m AS (SELECT source, n_chars,
       |  CAST($duckNTokens AS BIGINT) AS nt, CAST($duckStopCount AS BIGINT) AS ns FROM documents)
       |SELECT source, count(*) AS n_docs,
       | CAST(sum(nt) AS BIGINT) AS total_tokens,
       | CAST(sum(n_chars) AS BIGINT) AS total_chars,
       | CAST(sum(nt) AS DOUBLE)/CAST(count(*) AS DOUBLE) AS mean_tokens,
       | CAST(sum(ns) AS DOUBLE)/CAST(sum(nt) AS DOUBLE) AS stopword_mass_ratio,
       | CAST(sum(CASE WHEN nt < 20 THEN 1 ELSE 0 END) AS DOUBLE)/CAST(count(*) AS DOUBLE) AS short_doc_frac
       |FROM m GROUP BY source ORDER BY source""".stripMargin)

  // ---------------------------------------------------------------- q77
  // Unicode NFC normalization (plans.NfcNormalize — native codegen
  // expression, §7 tier b): canonicalizes composed/decomposed forms before
  // hash-based dedup so canonical equality and byte equality coincide.
  // DuckDB's nfc_normalize implements the same Unicode TR15 NFC, making the
  // normalized text value-level comparable across engines.
  val q77 = query("q77_nfc_normalize")((s, dir) =>
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        graft.plans.GraftFunctions.nfcNormalize(col("text")).as("text_nfc"))
      .withColumn("n_chars_nfc", length(col("text_nfc")).cast("long"))
      .orderBy("doc_id"))(
    """SELECT doc_id, nfc_normalize(text) AS text_nfc,
      | length(nfc_normalize(text)) AS n_chars_nfc
      |FROM documents ORDER BY doc_id""".stripMargin)

  // ---------------------------------------------------------------- q115
  // Per-language vocabulary (TfIdf.groupedVocabulary): q59's corpus vocab,
  // grouped — the top-5 terms of EACH language, the per-language tokenizer
  // table a multilingual pipeline ships. Token stream collapses to
  // (lang, term) counts via map-side combine; the row_number ≤ k filter is
  // the InferWindowGroupLimit idiom — a Partial WindowGroupLimitExec below
  // the exchange caps the shuffle at groups × k per map partition
  // (PlanSpec-pinned). Term-text tie-break keeps ranks deterministic.
  val q115 = query("q115_grouped_vocab")((s, dir) =>
    TfIdf.groupedVocabulary(Tables.documents(s, dir), "lang", "text", topK = 5)
      .orderBy("lang", "rank"))(
    s"""WITH ${duckToksCteFor("lang")},
      |ex AS (SELECT lang, unnest(t) AS term FROM tk),
      |c AS (SELECT lang, term, count(*) AS term_freq FROM ex GROUP BY lang, term),
      |r AS (SELECT lang, term, term_freq,
      |    CAST(row_number() OVER (PARTITION BY lang ORDER BY term_freq DESC, term)
      |      AS BIGINT) AS rank
      |  FROM c)
      |SELECT lang, term, term_freq, rank FROM r WHERE rank <= 5
      |ORDER BY lang, rank""".stripMargin)

  // ---------------------------------------------------------------- q118
  // Bigram collocations by PMI (TfIdf.bigramAssociations): top-20 adjacent
  // token pairs by c_xy·N/(c_x·c_y) in ppm — integral division, so the
  // score hash-matches cross-engine where ln-PMI could not (ln ranks
  // identically but isn't bit-reproducible). Pair stream collapses by
  // map-side combine; the vocab-sized unigram table joins back twice
  // (AQE-broadcast); top-k is TakeOrdered, never a global sort.
  val q118 = query("q118_bigram_pmi")((s, dir) =>
    TfIdf.bigramAssociations(Tables.documents(s, dir), "text",
      minCount = 5, topK = 20))(
    s"""WITH $duckToksCte,
      |bg0 AS (SELECT list_transform(range(1, len(t)), i -> [t[i], t[i+1]]) AS bl
      |  FROM tk WHERE len(t) >= 2),
      |bg AS (SELECT unnest(bl) AS p FROM bg0),
      |pc AS (SELECT p[1] AS w1, p[2] AS w2, count(*) AS pair_freq FROM bg GROUP BY 1, 2),
      |tot AS (SELECT sum(pair_freq) AS n FROM pc),
      |un AS (SELECT unnest(t) AS term FROM tk),
      |uc AS (SELECT term, count(*) AS freq FROM un GROUP BY 1)
      |SELECT pc.w1, pc.w2, CAST(pc.pair_freq AS BIGINT) AS pair_freq,
      |  CAST(u1.freq AS BIGINT) AS w1_freq, CAST(u2.freq AS BIGINT) AS w2_freq,
      |  CAST((CAST(pc.pair_freq AS HUGEINT) * CAST(tot.n AS HUGEINT) * 1000000)
      |       // (CAST(u1.freq AS HUGEINT) * CAST(u2.freq AS HUGEINT)) AS BIGINT)
      |    AS assoc_ppm
      |FROM pc
      |JOIN uc u1 ON u1.term = pc.w1
      |JOIN uc u2 ON u2.term = pc.w2
      |CROSS JOIN tot
      |WHERE pc.pair_freq >= 5
      |ORDER BY assoc_ppm DESC, w1, w2
      |LIMIT 20""".stripMargin)

  // ---------------------------------------------------------------- q120
  // Content-defined chunk dedup audit (Chunking.contentDefinedChunks):
  // gear-hash chunking (LBFS-style — boundaries from token content, so
  // chunk identity survives inserts/deletes that shift offsets) followed
  // by a fingerprint-keyed occurrence rollup: how much of the corpus is
  // chunk-level duplicated, and what a chunk store would save. Chunking is
  // map-only (array expressions, no shuffle); the rollup shuffles
  // fixed-width fingerprints with map-side combine, then a 1-row summary.
  val q120 = query("q120_cdc_chunks")((s, dir) => {
    val ch = Chunking.contentDefinedChunks(Tables.documents(s, dir), "doc_id", "text")
    ch.groupBy(col("chunk_fp"))
      .agg(count(lit(1)).as("__occ"), max(col("n_chunk_tokens")).as("__toks"))
      .agg(
        sum(col("__occ")).as("n_chunks"),
        count(lit(1)).as("n_distinct_chunks"),
        sum(col("__occ") * col("__toks")).as("total_tokens"),
        sum(col("__toks")).as("unique_tokens"),
        sum(when(col("__occ") >= 2, col("__occ")).otherwise(0L)).as("dup_occurrences"))
  })(
    s"""WITH $duckToksCte,
      |nz AS (SELECT doc_id, t FROM tk WHERE len(t) > 0),
      |st AS (SELECT doc_id, t,
      |  list_concat([1], list_filter(range(2, len(t) + 1),
      |    p -> substr(md5(t[p]), 32, 1) = '0')) AS ss
      |  FROM nz),
      |c0 AS (SELECT doc_id, t, ss, unnest(range(1, len(ss) + 1)) AS ci FROM st),
      |c1 AS (SELECT
      |  md5(array_to_string(list_slice(t, ss[ci],
      |    (CASE WHEN ci < len(ss) THEN ss[ci+1] ELSE len(t) + 1 END) - 1), ' ')) AS fp,
      |  (CASE WHEN ci < len(ss) THEN ss[ci+1] ELSE len(t) + 1 END) - ss[ci] AS ntk
      |  FROM c0),
      |pf AS (SELECT fp, count(*) AS occ, max(ntk) AS toks FROM c1 GROUP BY fp)
      |SELECT CAST(sum(occ) AS BIGINT) AS n_chunks,
      |  CAST(count(*) AS BIGINT) AS n_distinct_chunks,
      |  CAST(sum(occ * toks) AS BIGINT) AS total_tokens,
      |  CAST(sum(toks) AS BIGINT) AS unique_tokens,
      |  CAST(sum(CASE WHEN occ >= 2 THEN occ ELSE 0 END) AS BIGINT) AS dup_occurrences
      |FROM pf""".stripMargin)

  // ---------------------------------------------------------------- q123
  // Padding-waste audit (Packing.paddingWaste): per source, what a
  // pad-to-512 loader burns versus the true token count — the number that
  // justifies sequence packing (q53) per corpus slice. Exact integer
  // `div` arithmetic; one map-combined aggregation, shuffle ≤ sources.
  val q123 = query("q123_padding_waste")((s, dir) => {
    val d = Tables.documents(s, dir)
    Packing
      .paddingWaste(d, "source",
        size(TextFunctions.tokens(col("text"))), seqLen = 512)
      .orderBy("source")
  })(
    s"""WITH ${duckToksCteFor("source")},
       |n AS (SELECT source, len(t) AS n FROM tk),
       |p AS (SELECT source, n, ((n + 511) // 512) * 512 AS padded FROM n)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(n) AS BIGINT) AS total_tokens,
       |  CAST(sum(padded) AS BIGINT) AS padded_tokens,
       |  CASE WHEN sum(padded) = 0 THEN CAST(0.0 AS DOUBLE)
       |       ELSE CAST(sum(padded) - sum(n) AS DOUBLE) / CAST(sum(padded) AS DOUBLE)
       |  END AS waste_frac
       |FROM p GROUP BY source ORDER BY source""".stripMargin)

  // ---------------------------------------------------------------- q124
  // Vocabulary-growth curve (Heaps'-law audit): per 100-doc bucket of the
  // corpus in id order, the token count and the number of FIRST-SEEN
  // terms, cumulated — the curve that says when more data stops buying
  // vocabulary (and whether a crawl slice is repetitive boilerplate: flat
  // curve) before committing to training on it. First occurrence is a
  // per-term min(doc_id) — one vocab-keyed aggregation; both rollups are
  // map-side combined and the cumulative window runs over the tiny
  // bucket-count table. Never a corpus-wide sort.
  val q124 = query("q124_vocab_growth")((s, dir) => {
    val ex = Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("term"))
    val toks = ex.groupBy(expr("doc_id div 100").as("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val novel = ex.groupBy(col("term")).agg(min(col("doc_id")).as("__fd"))
      .groupBy(expr("__fd div 100").as("bucket"))
      .agg(count(lit(1)).as("n_new_terms"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.join(novel, Seq("bucket"), "left")
      .select(col("bucket"), col("n_tokens"),
        coalesce(col("n_new_terms"), lit(0L)).as("n_new_terms"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("vocab_size", sum(col("n_new_terms")).over(w))
      .orderBy("bucket")
  })(
    s"""WITH $duckToksCte,
       |ex AS (SELECT doc_id, unnest(t) AS term FROM tk),
       |tb AS (SELECT doc_id // 100 AS bucket, count(*) AS n_tokens FROM ex GROUP BY 1),
       |fs AS (SELECT term, min(doc_id) AS fd FROM ex GROUP BY term),
       |nv AS (SELECT fd // 100 AS bucket, count(*) AS n_new_terms FROM fs GROUP BY 1)
       |SELECT tb.bucket, CAST(tb.n_tokens AS BIGINT) AS n_tokens,
       |  CAST(coalesce(nv.n_new_terms, 0) AS BIGINT) AS n_new_terms,
       |  CAST(sum(tb.n_tokens) OVER (ORDER BY tb.bucket) AS BIGINT) AS cum_tokens,
       |  CAST(sum(coalesce(nv.n_new_terms, 0)) OVER (ORDER BY tb.bucket) AS BIGINT) AS vocab_size
       |FROM tb LEFT JOIN nv USING (bucket)
       |ORDER BY bucket""".stripMargin)

  // ---------------------------------------------------------------- q125
  // Rule-based taxonomy classification (TextFunctions.ruleCategory): the
  // keyword-priority domain classifier — first matching rule wins, codegen
  // CASE chain, no join — rolled up to the per-(source, category) mixture
  // report a curation run publishes. Map-only until the groups-sized
  // aggregation.
  private val q125Rules = Seq(
    "stream" -> "streaming", "vector" -> "ml", "join" -> "relational")
  val q125 = query("q125_rule_taxonomy")((s, dir) =>
    Tables.documents(s, dir)
      .select(col("source"),
        TextFunctions.ruleCategory(
          TextFunctions.tokens(col("text")), q125Rules, "other").as("category"))
      .groupBy(col("source"), col("category"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("source", "category"))(
    s"""WITH ${duckToksCteFor("source")},
       |c AS (SELECT source,
       |  CASE WHEN list_contains(t, 'stream') THEN 'streaming'
       |       WHEN list_contains(t, 'vector') THEN 'ml'
       |       WHEN list_contains(t, 'join') THEN 'relational'
       |       ELSE 'other' END AS category
       |  FROM tk)
       |SELECT source, category, count(*) AS n_docs
       |FROM c GROUP BY 1, 2 ORDER BY source, category""".stripMargin)

  // ---------------------------------------------------------------- q128
  // Keyword retrieval (TfIdf.keywordSearch): top-10 documents for a
  // 3-term query under exact-integer tf·idf-ppm scoring — the inverted-
  // index probe a corpus-curation stack runs to pull topic slices. The
  // term filter lands on the token scan before any shuffle (postings
  // exist only for the 3 queried terms), df is a 3-row broadcast, N a
  // 1-row broadcast, top-k is TakeOrderedAndProject. Scores are integer
  // ppm (no libm), so ranking AND scores value-check cross-engine; "dup"
  // (df≈25) dominating "vector"/"stream" (df≈390) is the idf story.
  private val q128Terms = Seq("dup", "vector", "stream")
  val q128 = query("q128_keyword_search")((s, dir) =>
    TfIdf.keywordSearch(Tables.documents(s, dir), "doc_id", "text", q128Terms, 10))(
    s"""WITH $duckToksCte,
       |ex AS (SELECT doc_id, unnest(t) AS term FROM tk),
       |m AS (SELECT doc_id, term, count(*) AS tf FROM ex
       |  WHERE term IN ('dup', 'vector', 'stream') GROUP BY 1, 2),
       |dfreq AS (SELECT term, count(*) AS df FROM m GROUP BY 1),
       |n AS (SELECT count(*) AS n FROM documents)
       |SELECT m.doc_id, count(*) AS n_hit_terms,
       |  CAST(sum(m.tf * ((n.n * 1000000) // dfreq.df)) AS BIGINT) AS score
       |FROM m JOIN dfreq USING (term) CROSS JOIN n
       |GROUP BY m.doc_id
       |ORDER BY score DESC, m.doc_id LIMIT 10""".stripMargin)

  // ---------------------------------------------------------------- q186
  // URL canonicalization + dedup (UrlFunctions.canonicalizeUrl) — the
  // web-corpus curation step before URL-level dedup: the same page
  // arrives under case variants, default ports, tracking params, shuffled
  // query order, trailing slashes, and fragments. Each doc_id synthesizes
  // a RAW url hitting a deterministic branch combination (mixed-case
  // scheme/host, :80/:443/:8080/none, root / trailing-slash / plain
  // paths, utm_*+fbclid+unsorted query variants, #fragment), the codegen
  // expression canonicalizes on the scan, and the rollup groups by the
  // canonical string. The oracle derives each doc's EXPECTED canonical
  // form arithmetically from the generator's semantics — an independent
  // derivation, not a re-run of the same parse — so every normalization
  // branch is value-checked, including group merges across raw variants.
  val q186 = query("q186_url_canonical")((s, dir) => {
    val k = col("doc_id").cast("long")
    val mh = graft.functions.HashFunctions.mix64(k)
    val scheme = when(k % 2 === 0, lit("HTTP")).otherwise(lit("https"))
    val host = format_string("WWW.Site%d.example.COM", mh.bitwiseAND(lit(15L)))
    val port = when(k % 3 === 0, when(k % 2 === 0, lit(":80")).otherwise(lit(":443")))
      .when(k % 3 === 1, lit(":8080")).otherwise(lit(""))
    val path = when(k % 4 === 0, lit(""))
      .when(k % 4 === 1, format_string("/a/b%d/", k % 7))
      .otherwise(format_string("/a/b%d", k % 7))
    val query = when(k % 5 === 1, lit("?utm_source=x&b=2&a=1"))
      .when(k % 5 === 2, lit("?b=2&a=1"))
      .when(k % 5 === 3, lit("?a=1&utm_campaign=z"))
      .when(k % 5 === 4, lit("?fbclid=abc"))
      .otherwise(lit(""))
    val frag = when(k % 2 === 1, lit("#frag")).otherwise(lit(""))
    val raw = concat(scheme, lit("://"), host, port, path, query, frag)
    Tables.documents(s, dir)
      .select(col("doc_id").cast("long").as("doc_id"), raw.as("url"))
      .select(col("doc_id"),
        graft.functions.UrlFunctions.canonicalizeUrl(col("url")).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_urls"), min(col("doc_id")).as("first_doc"))
      .orderBy("canonical_url")
  })({
    val mh = DuckHash.mix64Inline("CAST(k AS UBIGINT)")
    s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS k FROM documents),
       |c AS (SELECT k,
       |  (CASE WHEN k % 2 = 0 THEN 'http' ELSE 'https' END)
       |  || '://www.site' || CAST(($mh) & 15 AS VARCHAR) || '.example.com'
       |  || (CASE WHEN k % 3 = 1 THEN ':8080' ELSE '' END)
       |  || (CASE WHEN k % 4 = 0 THEN '/' ELSE '/a/b' || CAST(k % 7 AS VARCHAR) END)
       |  || (CASE WHEN k % 5 IN (1, 2) THEN '?a=1&b=2'
       |           WHEN k % 5 = 3 THEN '?a=1' ELSE '' END) AS cu
       |  FROM d)
       |SELECT cu AS canonical_url, count(*) AS n_urls, min(k) AS first_doc
       |FROM c GROUP BY cu ORDER BY cu""".stripMargin
  })

  // ---------------------------------------------------------------- q188
  // BPE tokenizer TRAINING (BpeTrainer — Sennrich et al. 2016, word-level
  // formulation): 6 merge rounds over the corpus's [a-z]+ word vocabulary.
  // Each round = one pair-count shuffle + a bounded argmax pull + a
  // codegen'd fold re-encode; statistics are vocab-sized, so the corpus
  // is read exactly once — the shape that trains a tokenizer on 100 TB.
  // This row runs batchSize=1 (exact per-merge counts and masses, the
  // replayable contract); production 50k-merge training uses the
  // trainer's top-B symbol-disjoint batching (rounds ∝ nMerges/B —
  // BpeSpec pins B=1 ≡ unbatched and the disjointness rule).
  // Output = the merge table: winning pair per rank, its frequency-
  // weighted count, and the post-merge symbol mass (whose drop is the
  // compression the merge bought — it also proves the APPLY step, since
  // round t+1's counts depend on round t's re-encode). The oracle replays
  // all 6 rounds in SQL, including the greedy non-overlapping
  // left-to-right rule on self-overlapping runs ("aaa" under (a,a) →
  // "aa a"), via run-length parity selection over match positions.

  // Shared replay of BpeTrainer training rounds 0..n-1 over `documents`:
  // WITH-body CTEs from the word vocab (st0) through st{n}, each round
  // MATERIALIZED (the q129 iteration convention — without it the st-chain
  // re-expands 2^n times). bb{t} holds round t's winning pair. ONE copy
  // serves both BPE oracles (q188 train, q189 encode).
  private def duckBpeCtes(n: Int): String = {
    def iter(t: Int) =
      s"""ex$t AS MATERIALIZED (SELECT word, freq, unnest(range(1, len(syms)+1)) AS i, syms FROM st$t),
         |pp$t AS (SELECT word, freq, i, syms[i] AS l, syms[i+1] AS r FROM ex$t WHERE i < len(syms)),
         |bb$t AS MATERIALIZED (SELECT l, r, sum(freq) AS cnt FROM pp$t GROUP BY l, r ORDER BY cnt DESC, l, r LIMIT 1),
         |mm$t AS (SELECT p.word, p.i FROM pp$t p JOIN bb$t b ON p.l = b.l AND p.r = b.r),
         |gg$t AS (SELECT word, i, i - row_number() OVER (PARTITION BY word ORDER BY i) AS grp FROM mm$t),
         |ss$t AS (SELECT word, i FROM (
         |    SELECT word, i, row_number() OVER (PARTITION BY word, grp ORDER BY i) - 1 AS off FROM gg$t)
         |  WHERE off % 2 = 0),
         |st${t + 1} AS MATERIALIZED (SELECT word, freq, list(sym ORDER BY i) AS syms FROM (
         |    SELECT e.word, e.freq, e.i,
         |      CASE WHEN se.i IS NOT NULL THEN e.syms[e.i] || e.syms[e.i+1] ELSE e.syms[e.i] END AS sym,
         |      sk.i AS skip
         |    FROM ex$t e
         |    LEFT JOIN ss$t se ON se.word = e.word AND se.i = e.i
         |    LEFT JOIN ss$t sk ON sk.word = e.word AND sk.i = e.i - 1)
         |  WHERE skip IS NULL GROUP BY word, freq)"""
    s"""w0 AS (SELECT unnest(
       |    CASE WHEN length(trim(lower(text))) = 0 THEN []
       |         ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS word
       |  FROM documents),
       |st0 AS (SELECT word, CAST(count(*) AS BIGINT) AS freq, string_split(word, '') AS syms
       |  FROM w0 WHERE regexp_matches(word, '^[a-z]+$$') GROUP BY word),
       |${(0 until n).map(iter).mkString(",\n")}""".stripMargin
  }

  val q188 = query("q188_bpe_train")((s, dir) => {
    import s.implicits._
    val vocab = BpeTrainer.wordVocab(Tables.documents(s, dir), "text")
    val (merges, _) = BpeTrainer.train(vocab, nMerges = 6, trackSymbolMass = true)
    merges.map(m => (m.rank.toLong, m.lhs, m.rhs, m.pairFreq, m.nSymsAfter))
      .toDF("merge_rank", "lhs", "rhs", "pair_freq", "n_syms_after")
      .orderBy("merge_rank")
  })({
    val rows = (0 until 6).map { t =>
      s"SELECT CAST($t AS BIGINT) AS merge_rank, l AS lhs, r AS rhs, " +
        s"CAST(cnt AS BIGINT) AS pair_freq, " +
        s"(SELECT CAST(sum(len(syms) * freq) AS BIGINT) FROM st${t + 1}) AS n_syms_after FROM bb$t"
    }.mkString(" UNION ALL ")
    s"""WITH ${duckBpeCtes(6)}
       |SELECT * FROM ($rows) ORDER BY merge_rank""".stripMargin
  })

  // ---------------------------------------------------------------- q189
  // BPE ENCODE with a frozen merge table (BpeTrainer.encodeVocab) — the
  // production side: train 6 merges (q188's rounds), then re-encode the
  // vocabulary FROM FRESH CHAR SPLITS by applying the merges in rank
  // order (map-only chained folds, no shuffle — the pass that tokenizes
  // 100 TB). Output = the top-20 symbol frequency table of the encoded
  // corpus (rank-cut, deterministic under ties). The oracle replays
  // training to st6 and reads the symbol mass there, so any divergence
  // between encode-by-merge-table and the training trajectory — rank
  // order, greedy overlap rule, a stale fold — breaks the hash. The
  // global top-20 window runs over the symbol-vocabulary-sized rollup
  // (bounded), not the corpus.
  val q189 = query("q189_bpe_encode")((s, dir) => {
    val vocab = BpeTrainer.wordVocab(Tables.documents(s, dir), "text")
    val (merges, _) = BpeTrainer.train(vocab, nMerges = 6)
    BpeTrainer.encodeVocab(vocab, merges)
      .select(col("freq"), explode(col("syms")).as("symbol"))
      .groupBy(col("symbol"))
      .agg(sum(col("freq")).as("n_occurrences"))
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("n_occurrences").desc, col("symbol"))).cast("long"))
      .filter(col("rnk") <= 20)
      .orderBy("rnk")
  })(
    s"""WITH ${duckBpeCtes(6)},
       |sy AS (SELECT sym AS symbol, CAST(sum(freq) AS BIGINT) AS n_occurrences
       |  FROM (SELECT freq, unnest(syms) AS sym FROM st6) GROUP BY sym),
       |rk AS (SELECT symbol, n_occurrences,
       |  CAST(row_number() OVER (ORDER BY n_occurrences DESC, symbol) AS BIGINT) AS rnk FROM sy)
       |SELECT symbol, n_occurrences, rnk FROM rk WHERE rnk <= 20 ORDER BY rnk""".stripMargin)

  // ---------------------------------------------------------------- q197
  // Tokenizer FERTILITY per language (tokens-per-word after BPE encoding)
  // — the tokenizer-fairness metric an LLM data team reads before fixing a
  // vocab: a tokenizer trained on a skewed mix fragments under-represented
  // languages into more pieces (higher fertility), inflating their
  // effective sequence length and training cost. Train q188's 6 merges,
  // encode the word VOCABULARY once (bounded, map-only chained folds),
  // then join each document word's piece count back through a broadcast
  // (the corpus-side pass is explode + broadcast-probe + one lang-keyed
  // aggregation — the 100 TB shape). The oracle replays training to st6
  // (duckBpeCtes — the SAME shared chain as q188/q189) and re-derives the
  // per-lang word stream independently, so merge application, the word
  // filter, and the fertility arithmetic are all value-checked.
  val q197 = query("q197_tokenizer_fertility")((s, dir) => {
    val docs = Tables.documents(s, dir)
    val vocab = BpeTrainer.wordVocab(docs, "text")
    val (merges, _) = BpeTrainer.train(vocab, nMerges = 6)
    val pieces = BpeTrainer.encodeVocab(vocab, merges)
      .select(col("word"), size(col("syms")).cast("long").as("__np"))
    val docWords = docs
      .select(col("lang"),
        explode(TextFunctions.tokens(lower(col("text")))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
    docWords
      .join(broadcast(pieces), Seq("word"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("__np")).as("n_tokens"))
      .select(col("lang"), col("n_words"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("n_words").cast("double"))
          .as("fertility"))
      .orderBy("lang")
  })(
    s"""WITH ${duckBpeCtes(6)},
       |pieces AS (SELECT word, CAST(len(syms) AS BIGINT) AS np FROM st6),
       |dw AS (SELECT lang, unnest(
       |    CASE WHEN length(trim(lower(text))) = 0 THEN []
       |         ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS word
       |  FROM documents),
       |fw AS (SELECT lang, word FROM dw WHERE regexp_matches(word, '^[a-z]+$$'))
       |SELECT f.lang, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(p.np) AS BIGINT) AS n_tokens,
       |  CAST(sum(p.np) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS fertility
       |FROM fw f JOIN pieces p ON p.word = f.word
       |GROUP BY f.lang ORDER BY f.lang""".stripMargin)

  // ---------------------------------------------------------------- q198
  // HTML → text extraction (TextFunctions.htmlToText) — the FIRST step of
  // every web-corpus pipeline, upstream of every scrub the catalog already
  // has (line dedup q196, quality q22, lang-id q23, dedup tiers). Each doc
  // synthesizes a full page around its text (the q186/q196 convention)
  // exercising every extraction rule: a <style> block and a <script>
  // containing both a '<' comparison and a literal "</p>" (contents must
  // DROP, and the embedded block tag must not leak a newline), an HTML
  // comment whose contents (prose AND an embedded <p>) must drop without
  // leaking a newline, a <![CDATA[...]]> section that likewise drops with
  // contents, block tags (title/nav/h1/p/div and table cells td/th) that
  // become line structure, inline <em> that must NOT split words,
  // entities including the &amp;amp; single-decode trap (renders as the
  // five characters "&amp;", never double-decodes), NUMERIC character
  // references (decimal &#8217;, hex &#x2019;/&#X2019;, and the
  // &amp;#60; numeric single-decode trap — stays the five characters
  // "&#60;"), &nbsp; and quotes, tag-noise whitespace that must
  // collapse, and a <pre> block whose indentation, tab and internal
  // newline must SURVIVE the global collapse (the PreWhitespaceSentinels
  // kernel). The oracle does NOT replay the regex chain — it derives
  // the EXPECTED text arithmetically from the generator's pieces (title
  // line, nav line, entity lines decoded by hand, table cells, body,
  // byline), so every rule is value-checked against an independent
  // derivation, full-string compare.
  val q198 = query("q198_html_extract")((s, dir) => {
    val k = col("doc_id").cast("long")
    val body = concat_ws(" ", TextFunctions.tokens(col("text")))
    val page = format_string(
      "<!DOCTYPE html><html><head><title>Doc %d</title>" +
        "<style>body{color:#333}</style></head><body>" +
        "<script>var x=1<2; s=\"</p>\";</script>" +
        "<!-- draft note <p>never ships</p> -->" +
        "<nav>Home | About</nav><h1>Doc %d</h1>" +
        "<p>A &amp;amp; B &lt;i&gt; &quot;Q&quot;&nbsp;!</p>" +
        "<p>It&#8217;s &#x2019;quoted&#X2019; &amp;#60;kept&#59;</p>" +
        "<![CDATA[raw <td> bytes]]>" +
        "<table><tr><td>c1</td><th>c2</th></tr></table>" +
        "<pre>  x = 1;\n\ty = 2;</pre>" +
        "<div>%s</div><em>by %s</em></body></html>",
      k, k, body, col("source"))
    Tables.documents(s, dir)
      .select(k.as("doc_id"),
        TextFunctions.htmlToText(page).as("extracted"))
      .select(col("doc_id"), col("extracted"),
        size(split(col("extracted"), "\n")).cast("long").as("n_lines"),
        length(col("extracted")).cast("long").as("n_chars"))
      .orderBy("doc_id")
  })(
    s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS k, source,
       |    array_to_string(
       |      CASE WHEN length(trim(text)) = 0 THEN []
       |           ELSE regexp_split_to_array(trim(text), '\\s+') END, ' ') AS body
       |  FROM documents),
       |e AS (SELECT k, array_to_string(list_filter([
       |    'Doc ' || CAST(k AS VARCHAR),
       |    'Home | About',
       |    'Doc ' || CAST(k AS VARCHAR),
       |    'A &amp; B <i> "Q" !',
       |    'It' || chr(8217) || 's ' || chr(8217) || 'quoted' || chr(8217)
       |      || ' &#60;kept;',
       |    'c1',
       |    'c2',
       |    '  x = 1;' || chr(10) || chr(9) || 'y = 2;',
       |    body,
       |    'by ' || source], x -> x <> ''), chr(10)) AS extracted
       |  FROM d)
       |SELECT k AS doc_id, extracted,
       |  CAST(len(string_split(extracted, chr(10))) AS BIGINT) AS n_lines,
       |  CAST(length(extracted) AS BIGINT) AS n_chars
       |FROM e ORDER BY doc_id""".stripMargin)
}
