package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Importance-based data selection (DSIR-style): score every corpus
  * document by how much its token mass falls in hashed-unigram buckets
  * that are over-represented in a TARGET corpus relative to the raw
  * corpus — the published recipe (Xie et al., "Data Selection for
  * Language Models via Importance Resampling", NeurIPS 2023) for pulling
  * "looks like the target domain" documents out of a web-scale crawl.
  *
  * Where the paper scores with a log-likelihood ratio over hashed n-gram
  * features, this operator keeps the per-bucket DECISION — is the bucket
  * target-enriched? — and makes it exact integer arithmetic:
  *
  *   enriched(b)  ⇔  cntT(b) · totalR  >  cntR(b) · totalT
  *
  * i.e. the bucket's share of target token mass exceeds its share of raw
  * token mass (cross-multiplied, no division, decimal(38,0) so 1e12-token
  * corpora cannot overflow). A document's score is then the exact rational
  * `n_enriched / n_tokens` — floating-point-free until the caller divides,
  * so results hash identically on any engine. Log-ratio magnitudes are
  * deliberately dropped: they need libm `ln` (not bit-portable) and only
  * reweight WITHIN the kept set, while the keep/drop boundary is dominated
  * by the enrichment sign.
  *
  * Scale shape (the part that must survive 100 TB): the token stream never
  * crosses the wire raw — per-bucket counts are map-side-combined to
  * ≤ 1024 rows per side; the bucket verdict table (1024 rows, one
  * boolean) broadcasts back onto the corpus token scan; per-document
  * scoring is one idCol-keyed partial aggregation (a document's exploded
  * tokens stay in its scan partition, so the shuffle carries one row per
  * document). Two corpus scans total — the DSIR minimum (one to learn the
  * bucket distributions, one to score).
  */
object Importance {

  /** Hashed-unigram buckets, a power of two: the paper's hashed feature
    * space (collisions are part of the method, not a bug). */
  private final val NumBuckets = 1024

  /** Per-document enrichment score against a target corpus.
    *
    * Output: one row per `corpus` document —
    * `(idCol, n_tokens, n_enriched, enrich_frac)` where `n_enriched`
    * counts tokens landing in target-enriched buckets and `enrich_frac`
    * is their fraction (0.0 for empty documents). Tokens are
    * [[TextFunctions.tokens]] (whitespace on trimmed text — the corpus
    * tokenizer shared with TF-IDF/vocabulary), buckets are
    * `xxhash64(token) & 1023`.
    */
  def enrichmentScores(
      corpus: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String): DataFrame =
    applyVerdicts(corpus, bucketVerdicts(corpus, target, idCol, textCol), idCol, textCol)

  private def bucketed(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("__tok"))
      .withColumn("bucket", xxhash64(col("__tok")).bitwiseAND(lit((NumBuckets - 1).toLong)))
      .drop("__tok")

  /** The learned artifact: `(bucket, enriched)` — ≤ 1024 rows,
    * persistable and reusable, so a NEW crawl batch can be scored by
    * [[applyVerdicts]] without rescanning the corpus that trained it (the
    * incremental pattern the cross-corpus dedup band table uses). */
  def bucketVerdicts(
      corpus: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val cntR = bucketed(corpus, idCol, textCol)
      .groupBy(col("bucket")).agg(count(lit(1)).as("__cr"))
    val cntT = bucketed(target, idCol, textCol)
      .groupBy(col("bucket")).agg(count(lit(1)).as("__ct"))
    // Token-mass totals: two 1-row frames, broadcast as a scalar join. The
    // empty-target coalesce makes "no target" degrade to "nothing
    // enriched" instead of null-poisoning the inequality.
    val totals = cntR.agg(sum(col("__cr")).as("__nr"))
      .crossJoin(cntT.agg(coalesce(sum(col("__ct")), lit(0L)).as("__nt")))
    // decimal(38,0) cross-multiply — cnt × total reaches ~1e25 on a
    // 1e12-token corpus, far past 2^63. FULL outer: a bucket present only
    // in the target (cntR = 0, cntT > 0) is maximally enriched by the
    // inequality — a left join from the corpus side would silently drop
    // exactly the buckets most characteristic of a disjoint target.
    cntR
      .join(cntT, Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("__cr", "__ct"))
      .crossJoin(broadcast(totals))
      .select(
        col("bucket"),
        (col("__ct").cast("decimal(38,0)") * col("__nr").cast("decimal(38,0)") >
          col("__cr").cast("decimal(38,0)") * col("__nt").cast("decimal(38,0)"))
          .as("enriched"))
  }

  /** Score any document batch against a [[bucketVerdicts]] table: the
    * verdicts broadcast onto the token scan (map-only over the batch), one
    * idCol-keyed aggregation shuffles a single row per document. Buckets
    * absent from the verdict table (tokens never seen at training time)
    * count as not enriched. */
  def applyVerdicts(
      docs: DataFrame,
      verdicts: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val perDoc = bucketed(docs, idCol, textCol)
      .join(broadcast(verdicts), Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(coalesce(col("enriched"), lit(false)), 1L).otherwise(0L))
          .as("n_enriched"))
    // Left join back: zero-token documents have no exploded rows but must
    // still score (0, 0, 0.0).
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_enriched"), lit(0L)).as("n_enriched"))
      .withColumn("enrich_frac",
        when(col("n_tokens") === 0L, lit(0.0))
          .otherwise(col("n_enriched").cast("double") / col("n_tokens").cast("double")))
  }

  /** Collect a [[bucketVerdicts]] table into the bitmap
    * [[applyVerdictsFused]] wants: 1024/64 = 16 longs — the same justified
    * driver pull as an IVF centroid table. */
  def verdictBits(verdicts: DataFrame): Array[Long] = {
    val bits = new Array[Long](NumBuckets / 64)
    verdicts.filter(col("enriched")).select(col("bucket")).collect().foreach { r =>
      val b = r.getLong(0).toInt
      bits(b >>> 6) |= 1L << (b & 63)
    }
    bits
  }

  /** The hot scoring path: one codegen pass per document against the
    * in-memory verdict bitmap ([[graft.plans.EnrichedTokenCount]]) — no
    * explode, no join, the token stream never leaves the scan stage; the
    * only shuffle left is whatever the caller aggregates afterwards.
    * Bit-equivalent to [[applyVerdicts]] (ExpressionSpec pins it); use the
    * DataFrame form instead when the verdict table should stay
    * distributed. */
  def applyVerdictsFused(
      docs: DataFrame,
      bits: Array[Long],
      idCol: String,
      textCol: String,
      keepCols: Seq[String] = Nil): DataFrame = {
    val packed = graft.plans.GraftFunctions
      .enrichedCount(TextFunctions.tokens(col(textCol)), bits)
    val carried = keepCols.map(col)
    docs
      .select(col(idCol) +: carried :+ packed.as("__p"): _*)
      .select(
        col(idCol) +: carried :+
          shiftright(col("__p"), 32).as("n_tokens") :+
          col("__p").bitwiseAND(lit(0xffffffffL)).as("n_enriched"): _*)
      .withColumn("enrich_frac",
        when(col("n_tokens") === 0L, lit(0.0))
          .otherwise(col("n_enriched").cast("double") / col("n_tokens").cast("double")))
  }

  /** The keep/drop rule on [[enrichmentScores]] output: at least half of
    * the document's tokens in enriched buckets, evaluated as the exact
    * integer inequality `n_enriched · den ≥ n_tokens · num` with
    * num/den = 1/2 (empty documents never selected). */
  def selected: org.apache.spark.sql.Column = {
    val (num, den) = (1L, 2L)
    col("n_tokens") > 0L &&
      col("n_enriched") * lit(den) >= col("n_tokens") * lit(num)
  }
}
