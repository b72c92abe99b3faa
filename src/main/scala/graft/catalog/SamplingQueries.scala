package graft
package catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{ConnectedComponents, Dedup, Importance, Sampling}

import Shared._

/** Sampling catalog family: deterministic hash sampling, rebalancing,
  * caps and budgets, splits and data-mixture plans. */
object SamplingQueries extends Family {

  // ---------------------------------------------------------------- q45
  // Deterministic stratified hash sampling (Sampling.stratifiedHashSample):
  // downsample 'en' to 20%, everything else to 60%, keyed on
  // splitmix64(doc_id salted) — map-only, reproducible across re-runs,
  // partitionings, and engines. The oracle replays the identical mix
  // (DuckHash) and thresholds.
  val q45 = query("q45_stratified_sample")((s, dir) =>
    Sampling
      .stratifiedHashSample(
        Tables.documents(s, dir), "doc_id", "lang",
        fractions = Map("en" -> 0.2), default = 0.6, salt = 7L)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id"))({
    import DuckHash._
    // Spark side hashes doc_id + salt*GOLDEN with wrapping signed-long
    // arithmetic; mirror in u64 then compare pmod of the SIGNED value.
    val saltG = (BigInt(7) * Golden).mod(BigInt(1) << 64).toString
    val bucket = s"(((${signed("mh")}) % 1000000 + 1000000) % 1000000)"
    s"""WITH mx0 AS (SELECT doc_id, lang, source,
       |  ${wadd("CAST(doc_id AS UBIGINT)", saltG)} AS sx FROM documents),
       |${mix64Ctes("sx")}
       |SELECT doc_id, lang, source FROM mx4
       |WHERE $bucket < CASE WHEN lang = 'en' THEN 200000 ELSE 600000 END
       |ORDER BY doc_id""".stripMargin
  })

  // ---------------------------------------------------------------- q66
  // Source-mix rebalance (Sampling.rebalanceToSmallest): downsample every
  // language to the smallest language's size with data-derived rates —
  // survive iff bucket·count < Buckets·min_count (pure integer compare,
  // zero rate rounding). The count table and 1-row min broadcast into a
  // map-only filter; the corpus itself never shuffles. The oracle replays
  // the salted splitmix64 and the same integer inequality.
  private val q66Salt = 13L

  val q66 = query("q66_mix_rebalance")((s, dir) =>
    Sampling.rebalanceToSmallest(Tables.documents(s, dir), "doc_id", "lang", salt = q66Salt)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id"))({
    import DuckHash._
    val saltG = (BigInt(q66Salt) * Golden).mod(BigInt(1) << 64).toString
    val bucket = s"(((${signed("mh")}) % 1000000 + 1000000) % 1000000)"
    s"""WITH mx0 AS (SELECT doc_id, lang, source,
       |  ${wadd("CAST(doc_id AS UBIGINT)", saltG)} AS sx FROM documents),
       |${mix64Ctes("sx")},
       |c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
       |t AS (SELECT min(cnt) AS target FROM c)
       |SELECT doc_id, lang, source FROM mx4 JOIN c USING (lang) CROSS JOIN t
       |WHERE $bucket * c.cnt < 1000000 * t.target
       |ORDER BY doc_id""".stripMargin
  })

  // ---------------------------------------------------------------- q70
  // Train/val/test split manifest: deterministic 80/10/10 assignment from
  // the salted splitmix64 bucket (reproducible across engines, re-runs,
  // and partitionings — rand()-based splits are none of those), rolled up
  // to the manifest a dataset release ships. Map-only assignment + one
  // 3-key aggregation; shares are int/int double divisions.
  private val q70Salt = 29L

  val q70 = query("q70_split_manifest")((s, dir) => {
    val b = Sampling.hashBucket(col("doc_id"), q70Salt)
    val d = Tables.documents(s, dir).select(
      when(b < 800000L, "train").when(b < 900000L, "val").otherwise("test").as("split"),
      TextFunctions.tokenCount(col("text")).cast("long").as("__nt"))
    d.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("total_tokens"))
      .withColumn(
        "doc_share",
        col("n_docs").cast("double") /
          sum(col("n_docs")).over(Window.partitionBy()).cast("double"))
      .orderBy("split")
  })({
    import DuckHash._
    val saltG = (BigInt(q70Salt) * Golden).mod(BigInt(1) << 64).toString
    val bucket = s"(((${signed("mh")}) % 1000000 + 1000000) % 1000000)"
    val nTokens = duckNTokens
    s"""WITH mx0 AS (SELECT doc_id, text,
       |  ${wadd("CAST(doc_id AS UBIGINT)", saltG)} AS sx FROM documents),
       |${mix64Ctes("sx")},
       |a AS (SELECT CASE WHEN $bucket < 800000 THEN 'train'
       |                  WHEN $bucket < 900000 THEN 'val'
       |                  ELSE 'test' END AS split,
       |             CAST($nTokens AS BIGINT) AS nt FROM mx4),
       |g AS (SELECT split, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS total_tokens
       |      FROM a GROUP BY split)
       |SELECT split, n_docs, total_tokens,
       | CAST(n_docs AS DOUBLE)/CAST(sum(n_docs) OVER () AS DOUBLE) AS doc_share
       |FROM g ORDER BY split""".stripMargin
  })

  // ---------------------------------------------------------------- q90
  // Target-mixture rebalance (Sampling.rebalanceToTarget): downsample so
  // the surviving corpus matches 2:1:1 en:zh:es — the data-MIXING step of
  // a training pipeline, generalizing q66's equalize-to-smallest. The
  // binding language is kept whole, everything else hash-thins to match;
  // survival is one integer inequality (exact decimals, no rate rounding),
  // map-only over the corpus. The oracle replays the salted hash and the
  // same inequality in HUGEINT; output is the per-language before/after
  // audit with achieved shares.
  private val q90Salt = 29L
  private val q90Weights = Seq(("en", 2L), ("zh", 1L), ("es", 1L))

  val q90 = query("q90_target_mix")((s, dir) => {
    val d = Tables.documents(s, dir)
    val kept = Sampling.rebalanceToTarget(
      d, "doc_id", "lang", q90Weights.toMap, salt = q90Salt)
    val k = kept.groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    val before = d.filter(col("lang").isin(q90Weights.map(_._1): _*))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_before"))
    val tot = k.agg(sum(col("n_kept")).as("__tot"))
    before.join(k, "lang")
      .crossJoin(broadcast(tot))
      .withColumn("kept_share",
        col("n_kept").cast("double") / col("__tot").cast("double"))
      .select("lang", "n_before", "n_kept", "kept_share")
      .orderBy("lang")
  })({
    import DuckHash._
    val lcm = 2L // lcm(2, 1, 1) — keep in lockstep with q90Weights
    val saltG = (BigInt(q90Salt) * Golden).mod(BigInt(1) << 64).toString
    val bucket = s"(((${signed("mh")}) % 1000000 + 1000000) % 1000000)"
    val valuesRows = q90Weights
      .map { case (g, w) => s"('$g', $w, ${lcm / w})" }.mkString(", ")
    s"""WITH mx0 AS (SELECT doc_id, lang,
       |  ${wadd("CAST(doc_id AS UBIGINT)", saltG)} AS sx FROM documents),
       |${mix64Ctes("sx")},
       |w AS (SELECT * FROM (VALUES $valuesRows) AS t(lang, wt, lw)),
       |c AS (SELECT d.lang, any_value(w.wt) AS wt, any_value(w.lw) AS lw, count(*) AS cnt
       |  FROM documents d JOIN w ON d.lang = w.lang GROUP BY d.lang),
       |m AS (SELECT min(cnt * lw) AS bm FROM c),
       |kept AS (SELECT k.lang, count(*) AS n_kept
       |  FROM mx4 k JOIN c ON k.lang = c.lang CROSS JOIN m
       |  WHERE CAST($bucket AS HUGEINT) * $lcm * c.cnt
       |      < CAST(1000000 AS HUGEINT) * c.wt * m.bm
       |  GROUP BY k.lang),
       |tot AS (SELECT CAST(sum(n_kept) AS BIGINT) AS total FROM kept),
       |before_c AS (SELECT lang, count(*) AS n_before FROM documents
       |  WHERE lang IN (${q90Weights.map(w => s"'${w._1}'").mkString(", ")})
       |  GROUP BY lang)
       |SELECT b.lang, b.n_before, k.n_kept,
       | CAST(k.n_kept AS DOUBLE) / CAST(t.total AS DOUBLE) AS kept_share
       |FROM before_c b JOIN kept k ON b.lang = k.lang CROSS JOIN tot t
       |ORDER BY b.lang""".stripMargin
  })

  // ---------------------------------------------------------------- q102
  // Per-group frequency cap (Sampling.capPerGroup): "at most 20 documents
  // per language", selected in salted-hash order — deterministic where
  // rand() is not — and computed as a bounded TopKAgg aggregation (map-side
  // k-heap per group; the exchange carries at most groups × k pairs)
  // instead of a row_number window that would shuffle-sort the corpus.
  // The oracle replays the salted splitmix64 52-bit rank and takes
  // row_number in the same (rank, id) order.
  private val q102Salt = 29L

  val q102 = query("q102_cap_per_group")((s, dir) =>
    Sampling.capPerGroup(
        Tables.documents(s, dir), "lang", "doc_id", k = 20, salt = q102Salt)
      .orderBy("lang", "rnk"))({
    import DuckHash._
    val saltG = (BigInt(q102Salt) * Golden).mod(BigInt(1) << 64).toString
    val m52 = "4503599627370496" // 2^52
    s"""WITH mx0 AS (SELECT lang, doc_id,
       |  ${wadd("CAST(doc_id AS UBIGINT)", saltG)} AS sx FROM documents),
       |${mix64Ctes("sx")},
       |r AS (SELECT lang, doc_id,
       |  ((${signed("mh")} % $m52 + $m52) % $m52) AS hr FROM mx4),
       |rk AS (SELECT lang, doc_id,
       |  row_number() OVER (PARTITION BY lang ORDER BY hr, doc_id) AS rnk FROM r)
       |SELECT lang, doc_id, rnk FROM rk WHERE rnk <= 20 ORDER BY lang, rnk""".stripMargin
  })

  // ---------------------------------------------------------------- q103
  // Per-group volume budget (Sampling.budgetPerGroup): walk each source in
  // salted-hash order and keep documents while the running n_chars total
  // stays within 4000 — "at most B chars per source", the volume sibling of
  // q102's count cap. The kept set is prefix-closed in hash order (growing
  // the budget only adds rows). The cumulative sum genuinely needs ordered
  // per-group traversal, so this is the one sampler that shuffles its
  // input on the group key; the operator doc says to run it AFTER the
  // map-only samplers have cut the corpus.
  private val q103Salt = 31L

  val q103 = query("q103_budget_per_group")((s, dir) =>
    Sampling.budgetPerGroup(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "source", "doc_id", col("n_chars"), budget = 4000L, salt = q103Salt)
      .orderBy("doc_id"))({
    import DuckHash._
    val saltG = (BigInt(q103Salt) * Golden).mod(BigInt(1) << 64).toString
    val m52 = "4503599627370496" // 2^52
    s"""WITH mx0 AS (SELECT doc_id, source, n_chars,
       |  ${wadd("CAST(doc_id AS UBIGINT)", saltG)} AS sx FROM documents),
       |${mix64Ctes("sx")},
       |r AS (SELECT doc_id, source, n_chars,
       |  ((${signed("mh")} % $m52 + $m52) % $m52) AS hr FROM mx4),
       |c AS (SELECT doc_id, source, n_chars,
       |  CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY hr, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cost FROM r)
       |SELECT doc_id, source, n_chars, cum_cost FROM c
       |WHERE cum_cost <= 4000 ORDER BY doc_id""".stripMargin
  })

  // ---------------------------------------------------------------- q108
  // DSIR-style importance selection (Importance.enrichmentScores): pick
  // corpus documents whose token mass concentrates in hashed-unigram
  // buckets over-represented in a target corpus (here: the English
  // documents) — the Xie-et-al. data-selection recipe with the per-bucket
  // log-ratio reduced to an exact integer cross-multiply, so verdicts and
  // counts hash identically across engines. Bucket counts map-side-combine
  // to ≤1024 rows per side, the verdict table broadcasts back onto the
  // token scan, per-doc scoring shuffles one row per document; two corpus
  // scans total (learn distributions, then score) — the DSIR minimum.
  val q108 = query("q108_importance_selection")((s, dir) => {
    val d = Tables.documents(s, dir)
    // learning pass: bucket tables (map-side combined, ≤1024 rows/side),
    // pulled to a 16-long bitmap (the justified IVF-style driver pull);
    // scoring pass: the fused codegen kernel — no explode, no join, the
    // token stream never leaves the scan stage (measured 2.5x the
    // explode + broadcast-join composition at sf0.1)
    val bits = Importance.verdictBits(
      Importance.bucketVerdicts(d, d.filter(col("lang") === "en"), "doc_id", "text"))
    Importance.applyVerdictsFused(d, bits, "doc_id", "text", Seq("lang", "source"))
      .withColumn("__sel", Importance.selected(1L, 2L))
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__sel"), 1L).otherwise(0L)).as("n_selected"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_enriched")).as("enriched_tokens"))
      .orderBy("lang", "source")
  })(
    s"""WITH $duckToksCte,
       |ex AS (SELECT doc_id, unnest(t) AS term FROM tk),
       |hx0 AS (SELECT DISTINCT term FROM ex),
       |${DuckHash.xxhash64Ctes("term")},
       |bt AS (SELECT term, h & 1023 AS b FROM hx12),
       |exb AS (SELECT e.doc_id, bt.b FROM ex e JOIN bt USING (term)),
       |tgt AS (SELECT doc_id FROM documents WHERE lang = 'en'),
       |cr AS (SELECT b, count(*) AS cr FROM exb GROUP BY b),
       |ct AS (SELECT b, count(*) AS ct FROM exb JOIN tgt USING (doc_id) GROUP BY b),
       |tot AS (SELECT (SELECT sum(cr) FROM cr) AS nr,
       |               (SELECT coalesce(sum(ct), 0) FROM ct) AS nt),
       |enb AS (SELECT cr.b,
       |    CAST(coalesce(ct.ct, 0) AS HUGEINT) * nr > CAST(cr.cr AS HUGEINT) * nt AS enriched
       |  FROM cr LEFT JOIN ct USING (b), tot),
       |de AS (SELECT e.doc_id, count(*) AS ne
       |  FROM exb e JOIN enb ON e.b = enb.b AND enb.enriched GROUP BY e.doc_id),
       |per AS (SELECT d.doc_id, d.lang, d.source,
       |    CASE WHEN length(trim(d.text)) = 0 THEN 0
       |         ELSE len(regexp_split_to_array(trim(d.text), '\\s+')) END AS ntok,
       |    coalesce(de.ne, 0) AS ne
       |  FROM documents d LEFT JOIN de USING (doc_id))
       |SELECT lang, source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN ntok > 0 AND 2 * ne >= ntok THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
       |  CAST(sum(ntok) AS BIGINT) AS total_tokens,
       |  CAST(sum(ne) AS BIGINT) AS enriched_tokens
       |FROM per GROUP BY lang, source ORDER BY lang, source""".stripMargin)

  // ---------------------------------------------------------------- q109
  // Leakage-safe train/val/test split (Sampling.leakageSafeSplit): the
  // split unit is the near-dup CLUSTER (MinHash-LSH → connected
  // components), not the document — q70's per-doc hash split lets
  // near-duplicate pairs straddle the train/eval boundary (benchmark
  // contamination); hashing by cluster id makes a straddling pair
  // impossible by construction. The output proves it: every LSH candidate
  // pair is checked against both assignments — cross_pairs_cluster is 0
  // BY CONSTRUCTION while cross_pairs_doclevel counts the leaks the naive
  // split would have shipped. Straddle audit joins are id-keyed and
  // candidate-pair-sized; the two scalar counts broadcast back.
  private val q109Salt = 31L
  val q109 = query("q109_leakage_safe_split")((s, dir) => {
    val d = Tables.documents(s, dir)
    // pairs feed BOTH the component build (which iterates over them) and
    // the straddle audit below — materialize the candidate set once
    // instead of re-running the LSH banding per consumer (at scale this is
    // the persisted candidate-pair table)
    val pairs = Dedup.minHashLshPairs(d, "doc_id", "text",
      k = 3, numHashes = 16, rowsPerBand = 2).localCheckpoint()
    val comp = ConnectedComponents.components(pairs, "doc_a", "doc_b")
    val db = Sampling.hashBucket(col("doc_id"), q109Salt)
    val sp = Sampling.leakageSafeSplit(d, "doc_id", comp, q109Salt,
        trainFrac = 0.8, valFrac = 0.1)
      .withColumn("__dsplit",
        when(db < 800000L, "train").when(db < 900000L, "val").otherwise("test"))
      .select(col("doc_id"), col("split"), col("__dsplit"),
        TextFunctions.tokenCount(col("text")).cast("long").as("__nt"))
    val a = sp.select(col("doc_id").as("doc_a"),
      col("split").as("__sa"), col("__dsplit").as("__da"))
    val b = sp.select(col("doc_id").as("doc_b"),
      col("split").as("__sb"), col("__dsplit").as("__db"))
    val straddle = pairs.join(a, "doc_a").join(b, "doc_b")
      .agg(
        coalesce(sum(when(col("__sa") =!= col("__sb"), 1L).otherwise(0L)), lit(0L))
          .as("cross_pairs_cluster"),
        coalesce(sum(when(col("__da") =!= col("__db"), 1L).otherwise(0L)), lit(0L))
          .as("cross_pairs_doclevel"))
    sp.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("total_tokens"))
      .crossJoin(broadcast(straddle))
      .orderBy("split")
  })({
    import DuckHash._
    val saltG = (BigInt(q109Salt) * Golden).mod(BigInt(1) << 64).toString
    val bucket = s"(((${signed("mh")}) % 1000000 + 1000000) % 1000000)"
    val du = mix64Inline(wadd("CAST(doc_id AS UBIGINT)", saltG))
    val dbucket = s"(((${signed(du)}) % 1000000 + 1000000) % 1000000)"
    s"""WITH RECURSIVE $lshBandedCtes,
       |$lshCandCte,
       |edges AS (SELECT doc_a AS s, doc_b AS d FROM cand
       |          UNION SELECT doc_b, doc_a FROM cand),
       |reach AS (SELECT s, d FROM edges
       |          UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |lbl AS (SELECT s AS node, least(min(d), s) AS cluster FROM reach GROUP BY s),
       |un AS (SELECT d.doc_id, coalesce(l.cluster, d.doc_id) AS unit,
       |    CAST($duckNTokens AS BIGINT) AS nt
       |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.node),
       |sm0 AS (SELECT doc_id, nt, ${wadd("CAST(unit AS UBIGINT)", saltG)} AS sx FROM un),
       |${mix64Ctes("sx", "sm")},
       |spl AS (SELECT doc_id, nt,
       |    CASE WHEN $bucket < 800000 THEN 'train'
       |         WHEN $bucket < 900000 THEN 'val' ELSE 'test' END AS split,
       |    CASE WHEN $dbucket < 800000 THEN 'train'
       |         WHEN $dbucket < 900000 THEN 'val' ELSE 'test' END AS dsplit
       |  FROM sm4),
       |cp AS (SELECT
       |    CAST(coalesce(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END), 0) AS BIGINT)
       |      AS cross_pairs_cluster,
       |    CAST(coalesce(sum(CASE WHEN a.dsplit <> b.dsplit THEN 1 ELSE 0 END), 0) AS BIGINT)
       |      AS cross_pairs_doclevel
       |  FROM cand c JOIN spl a ON c.doc_a = a.doc_id JOIN spl b ON c.doc_b = b.doc_id),
       |g AS (SELECT split, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS total_tokens
       |      FROM spl GROUP BY split)
       |SELECT g.split, g.n_docs, g.total_tokens, cp.cross_pairs_cluster, cp.cross_pairs_doclevel
       |FROM g, cp ORDER BY g.split""".stripMargin
  })

  // ---------------------------------------------------------------- q114
  // Per-language quality gate (Sampling.quantileThresholds): "drop each
  // language's bottom quartile by quality" — the grouped-threshold curation
  // step between a global cutoff (unfair to low-resource languages) and
  // exact per-group percentiles (billion-row sort buffers). Thresholds
  // come from a deterministic ~25% id-hash sample (both engines select the
  // IDENTICAL rows, so the sample-exact quantile is bit-reproducible); the
  // group-count-sized threshold table broadcasts into the gating pass.
  private val q114Salt = 37L
  val q114 = query("q114_quality_gate")((s, dir) => {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        TextFunctions.qualityScore(col("text")).as("q"))
    val thr = Sampling.quantileThresholds(d, "doc_id", "lang", "q",
      q = 0.25, salt = q114Salt)
    // LEFT join + ungated fallback: a language whose ids all hash outside
    // the sample has no threshold row — it must stay in the report (and
    // pass the gate) rather than vanish through an inner join
    d.join(broadcast(thr), Seq("lang"), "left")
      .groupBy(col("lang"), col("threshold"),
        coalesce(col("n_sample"), lit(0L)).as("n_sample"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("threshold").isNull || col("q") >= col("threshold"), 1L)
          .otherwise(0L)).as("n_kept"))
      .select(col("lang"), col("n_docs"), col("n_kept"),
        col("threshold"), col("n_sample"))
      .orderBy("lang")
  })({
    import DuckHash._
    val saltG = (BigInt(q114Salt) * Golden).mod(BigInt(1) << 64).toString
    val mh = mix64Inline(wadd("CAST(doc_id AS UBIGINT)", saltG))
    s"""WITH sc AS (SELECT doc_id, lang, $duckQualityScore AS q FROM documents),
       |thr AS (SELECT lang, quantile_cont(q, 0.25) AS threshold, count(*) AS n_sample
       |  FROM sc WHERE (($mh) & 1023) < 256 GROUP BY lang)
       |SELECT s.lang, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN t.threshold IS NULL OR s.q >= t.threshold
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  t.threshold, CAST(coalesce(t.n_sample, 0) AS BIGINT) AS n_sample
       |FROM sc s LEFT JOIN thr t USING (lang)
       |GROUP BY s.lang, t.threshold, coalesce(t.n_sample, 0) ORDER BY s.lang""".stripMargin
  })

  // ---------------------------------------------------------------- q193
  // Temperature-based source rebalancing (Sampling.temperatureRebalance)
  // — the LLM data-mixing move: kept share per lang ∝ √n (temperature
  // T=2), flattening the natural distribution so rare sources aren't
  // drowned. Weights are ⌊√n⌋ (IEEE sqrt is correctly rounded on every
  // engine — the ONE fractional exponent with an exactly reproducible
  // weight rule; pow's last-ulp libm differences would flip weights);
  // selection is q90's deterministic hash-threshold replay with
  // DATA-DERIVED weights — the oracle recomputes counts → isqrt weights →
  // lcm (list_reduce) → the survival inequality, end to end in SQL.
  private val q193Salt = 31L
  val q193 = query("q193_temperature_mix")((s, dir) => {
    val d = Tables.documents(s, dir)
    val kept = Sampling.temperatureRebalance(d, "doc_id", "lang", salt = q193Salt)
    val k = kept.groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    val before = d.groupBy(col("lang")).agg(count(lit(1)).as("n_before"))
    val tot = k.agg(sum(col("n_kept")).as("__tot"))
    before.join(k, "lang")
      .crossJoin(broadcast(tot))
      .withColumn("kept_share",
        col("n_kept").cast("double") / col("__tot").cast("double"))
      .select("lang", "n_before", "n_kept", "kept_share")
      .orderBy("lang")
  })({
    import DuckHash._
    val saltG = (BigInt(q193Salt) * Golden).mod(BigInt(1) << 64).toString
    val bucket = s"(((${signed("mh")}) % 1000000 + 1000000) % 1000000)"
    s"""WITH mx0 AS (SELECT doc_id, lang,
       |  ${wadd("CAST(doc_id AS UBIGINT)", saltG)} AS sx FROM documents),
       |${mix64Ctes("sx")},
       |c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
       |w AS (SELECT lang, cnt,
       |  GREATEST(CAST(FLOOR(SQRT(CAST(cnt AS DOUBLE))) AS BIGINT), 1) AS wt FROM c),
       |l AS (SELECT list_reduce(list(wt), (a, b) -> lcm(a, b)) AS lcmw FROM w),
       |wl AS (SELECT w.lang, w.cnt, w.wt, l.lcmw, l.lcmw // w.wt AS lw
       |       FROM w CROSS JOIN l),
       |m AS (SELECT min(cnt * lw) AS bm FROM wl),
       |kept AS (SELECT k.lang, count(*) AS n_kept
       |  FROM mx4 k JOIN wl c ON k.lang = c.lang CROSS JOIN m
       |  WHERE CAST($bucket AS HUGEINT) * c.lcmw * c.cnt
       |      < CAST(1000000 AS HUGEINT) * c.wt * m.bm
       |  GROUP BY k.lang),
       |tot AS (SELECT CAST(sum(n_kept) AS BIGINT) AS total FROM kept),
       |before_c AS (SELECT lang, count(*) AS n_before FROM documents GROUP BY lang)
       |SELECT b.lang, b.n_before, k.n_kept,
       | CAST(k.n_kept AS DOUBLE) / CAST(t.total AS DOUBLE) AS kept_share
       |FROM before_c b JOIN kept k ON b.lang = k.lang CROSS JOIN tot t
       |ORDER BY b.lang""".stripMargin
  })

  // ---------------------------------------------------------------- q194
  // Epoch-mix PLAN (Sampling.epochMixPlan) — the UPSAMPLING half of data
  // mixing: per source, how many full epochs plus how many remainder rows
  // hit a target share of a total row budget (the "source X for 3.4
  // epochs" table an LLM data recipe publishes). All-integer: target =
  // ⌊budget·w/Σw⌋, epochs = target div n, remainder = target mod n —
  // bit-identical cross-engine, one bounded aggregation. Weights make en
  // UNDER-sampled (epochs 0) and zh/fr OVER-sampled (epochs > 1), so both
  // regimes are value-checked.
  val q194 = query("q194_epoch_mix_plan")((s, dir) => {
    val d = Tables.documents(s, dir)
    Sampling.epochMixPlan(d, "lang",
        Map("en" -> 1L, "zh" -> 3L, "es" -> 2L, "de" -> 2L, "fr" -> 3L),
        budgetRows = 1000L)
      .orderBy("lang")
  })(
    s"""WITH w AS (SELECT * FROM (VALUES
       |    ('en', 1), ('zh', 3), ('es', 2), ('de', 2), ('fr', 3)) t(lang, wt)),
       |c AS (SELECT d.lang, any_value(w.wt) AS wt, count(*) AS n FROM documents d
       |      JOIN w ON d.lang = w.lang GROUP BY d.lang),
       |p AS (SELECT lang, n, wt, (1000 * wt) // 11 AS target FROM c)
       |SELECT lang, CAST(n AS BIGINT) AS n_rows, CAST(wt AS BIGINT) AS weight,
       |  CAST(target AS BIGINT) AS target_rows,
       |  CAST(target // n AS BIGINT) AS full_epochs,
       |  CAST(target % n AS BIGINT) AS remainder_rows
       |FROM p ORDER BY lang""".stripMargin)
}
