package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus-relative term weighting: per-document term frequencies joined
  * against corpus document frequencies, top-k salient terms per document.
  *
  * The weight is the exact rational tf/df (IEEE double division of two
  * integers — bit-reproducible across engines) rather than the classic
  * tf·ln(N/df): libm `ln` is not guaranteed cross-platform-identical, and
  * for RANKING terms within one document the two orders agree whenever tf
  * ties break by df (ln is monotone in 1/df).
  *
  * Scale shape: two shuffles — (doc, term) partial-aggregated counts
  * (map-side combine absorbs within-doc repetition), then term-keyed df.
  * The df side is vocab-sized, orders of magnitude smaller than the
  * corpus; AQE broadcasts it back when it fits, otherwise the join runs
  * term-partitioned. Nothing is ever collected to the driver.
  */
object TfIdf {

  /** (idCol, term, tf) — one row per distinct term per document. */
  def termCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Terms [[vocabulary]] keeps, and the distinct documents a term needs. */
  final val VocabTopK = 100
  final val VocabMinDf = 2L
  /** Terms [[topTerms]] keeps per document. */
  final val TopTermsK = 3
  /** Pair count below which [[bigramAssociations]] drops a bigram, and the
    * bigrams it reports. */
  final val BigramMinCount = 5L
  final val BigramTopK = 20
  /** Terms [[groupedVocabulary]] keeps per group. */
  final val GroupVocabTopK = 5
  /** Documents [[keywordSearch]] returns. */
  final val SearchTopK = 10

  /** Corpus vocabulary: the [[VocabTopK]] most frequent terms that appear in at
    * least [[VocabMinDf]] distinct documents, ranked by total occurrence count
    * (ties broken by term text). `vocab_id` is the 1-based rank — the
    * stable token id a downstream tokenizer ships with the dataset.
    *
    * Scale shape: one (doc, term) partial aggregation (map-side combine
    * absorbs within-doc repetition BEFORE the shuffle — the raw token
    * stream never crosses the wire), one vocab-sized term aggregation,
    * then a global top-k which Spark executes as TakeOrdered (per-partition
    * heaps + driver merge of k rows, never a full sort). The rank window
    * runs on the k surviving rows only. */
  def vocabulary(
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val byTerm = termCounts(docs, idCol, textCol)
      .groupBy(col("term"))
      .agg(sum(col("tf")).as("term_freq"), count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") >= VocabMinDf)
      .orderBy(col("term_freq").desc, col("term").asc)
      .limit(VocabTopK)
    byTerm
      .withColumn(
        "vocab_id",
        row_number().over(
          Window.orderBy(col("term_freq").desc, col("term").asc)).cast("long"))
      .select(col("vocab_id"), col("term"), col("term_freq"), col("doc_freq"))
  }

  /** Unigram corpus-rarity quality score: for each document, the mean
    * corpus probability of its tokens — the transcendental-free stand-in
    * for unigram-LM perplexity filtering (low `mean_prob` = rare/unusual
    * vocabulary, high = boilerplate built from ubiquitous tokens).
    *
    * mean_prob = (Σ_positions corpus_count(token)) / (n_tokens · total),
    * i.e. the arithmetic mean of p(token) over token positions. Everything
    * up to the final division is exact integer arithmetic, and the single
    * int/int double division is IEEE-identical cross-engine — so the score
    * hash-matches an independent SQL engine bit-for-bit (ln-based
    * surprisal would not: libm `ln` is not cross-platform reproducible).
    *
    * Scale shape: one vocab-keyed aggregation with map-side combine (the
    * raw token stream collapses to (term, count) before the wire), the
    * vocab-sized count table joins back to the exploded stream (AQE
    * broadcasts it when it fits), and the per-doc rollup shuffles on the
    * doc key — all linear. The corpus-total lives in a 1-row frame
    * broadcast into the final projection, never collected to the driver.
    * (n_tokens · total overflows BIGINT once docs × corpus exceed ~9e18
    * token-pairs; past that, compute the division in DECIMAL(38,0).) */
  def tokenRarity(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ex = docs.select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("term"))
    val freq = ex.groupBy(col("term")).agg(count(lit(1)).as("__cnt"))
    val total = freq.agg(sum(col("__cnt")).as("__total"))
    val perDoc = ex
      .join(freq, Seq("term"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__cnt")).as("sum_freq"))
    docs
      .select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .crossJoin(broadcast(total))
      .select(
        col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("sum_freq"), lit(0L)).as("sum_freq"),
        when(coalesce(col("n_tokens"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("sum_freq").cast("double") /
            (col("n_tokens") * col("__total")).cast("double"))
          .as("mean_prob"))
  }

  /** Top-k terms per document by tf/df weight (ties broken by term text,
    * so the result is fully deterministic). */
  def topTerms(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = termCounts(docs, idCol, textCol)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(idCol)
      .orderBy(col("score").desc, col("term").asc)
    tf.join(df, "term")
      .withColumn("score", col("tf").cast("double") / col("df").cast("double"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= TopTermsK)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score"), col("rnk"))
  }

  /** Top-k bigram associations — pointwise-mutual-information collocation
    * mining over the corpus token stream ("New York"-style multiword units,
    * the classic phrase-table / tokenizer-merge input). For each adjacent
    * token pair, the association score is the PMI ratio
    * `p(xy) / (p(x)·p(y)) = c_xy·N / (c_x·c_y)` reported in parts-per-
    * million, truncated by INTEGRAL division — `ln` of the ratio would rank
    * identically (ln is monotone) but is not cross-platform reproducible,
    * while the ppm integer is exact in any engine. Pairs below
    * [[BigramMinCount]] are dropped (PMI of hapax pairs is pure noise — standard practice).
    *
    * Scale shape: bigrams are generated by position-explode over the token
    * array (a plain `sequence` feeds the generate, so it stays in
    * whole-stage codegen; the pair is assembled AFTER the explode) and
    * collapse to (w1, w2) counts with map-side combine — the raw pair
    * stream never crosses the wire un-aggregated. The unigram table is
    * vocab-sized; AQE broadcasts it back onto the filtered pair table for
    * both legs. The grand total N rides a 1-row broadcast. Final top-k is
    * TakeOrdered (per-partition heaps), never a global sort.
    *
    * `assoc_ppm` fits a BIGINT while `10⁶·N / BigramMinCount² < 2^63` — i.e. up
    * to N ≈ 2e11 bigrams at minCount=5; past that raise [[BigramMinCount]] (the
    * statistically sane move anyway) or rescale.
    */
  def bigramAssociations(
      docs: DataFrame,
      textCol: String): DataFrame = {
    val toks = docs.select(TextFunctions.tokens(col(textCol)).as("__toks"))
    val pairs = toks
      .filter(size(col("__toks")) >= 2)
      .select(col("__toks"),
        explode(sequence(lit(1), size(col("__toks")) - 1)).as("__i"))
      .select(
        element_at(col("__toks"), col("__i")).as("w1"),
        element_at(col("__toks"), col("__i") + 1).as("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("pair_freq"))
    // N = total bigram count BEFORE the minCount filter (the probability
    // denominator must see the whole stream), derived from the count table
    // — vocab²-bounded — not by re-scanning the corpus.
    val total = pairs.agg(sum(col("pair_freq")).as("__N"))
    val uni = toks
      .select(explode(col("__toks")).as("__t"))
      .groupBy(col("__t"))
      .agg(count(lit(1)).as("__f"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    pairs
      .filter(col("pair_freq") >= BigramMinCount)
      .join(uni.select(col("__t").as("w1"), col("__f").as("w1_freq")), Seq("w1"))
      .join(uni.select(col("__t").as("w2"), col("__f").as("w2_freq")), Seq("w2"))
      .crossJoin(broadcast(total))
      .withColumn("assoc_ppm",
        call_function("div",
          dec(col("pair_freq")) * dec(col("__N")) * lit(1000000L).cast("decimal(38,0)"),
          dec(col("w1_freq")) * dec(col("w2_freq"))).cast("long"))
      .select(col("w1"), col("w2"), col("pair_freq"),
        col("w1_freq"), col("w2_freq"), col("assoc_ppm"))
      .orderBy(col("assoc_ppm").desc, col("w1"), col("w2"))
      .limit(BigramTopK)
  }

  /** Per-group vocabulary: the [[GroupVocabTopK]] most frequent terms WITHIN each
    * group (a per-language tokenizer vocab), ranked by term count with the
    * term text as tie-break — fully deterministic.
    *
    * Scale shape: the raw token stream collapses to (group, term) counts
    * by map-side combine before the shuffle; the rank-and-filter is the
    * `row_number ≤ k` idiom Spark 3.5+'s `InferWindowGroupLimit` rewrites
    * to a Partial `WindowGroupLimitExec` BELOW the exchange, capping the
    * shuffle at groups × topK per map partition (PlanSpec pins the node).
    * The window route — not [[graft.plans.TopKAgg]] — because the ranked
    * id here is the term STRING and the tie-break must be on its text;
    * the bounded aggregate's id leg is bigint. */
  def groupedVocabulary(
      docs: DataFrame,
      groupCol: String,
      textCol: String): DataFrame = {
    // termCounts keyed by the GROUP instead of the document id — same
    // tokenize-explode-aggregate shape, one definition
    val counts = termCounts(docs, groupCol, textCol)
      .withColumnRenamed("tf", "term_freq")
    counts
      .withColumn("rank",
        row_number().over(
          Window.partitionBy(col(groupCol))
            .orderBy(col("term_freq").desc, col("term").asc)).cast("long"))
      .filter(col("rank") <= GroupVocabTopK)
  }

  /** Keyword retrieval: top-[[SearchTopK]] documents for a bag of query terms, scored
    * by exact-integer tf·idf — `score = Σ tf(t,d) · ((N·1e6) div df(t))`.
    * Integral idf-ppm instead of the classic ln(N/df): same ranking
    * monotonicity per term, but bit-reproducible across engines (no libm),
    * so even the retrieval SCORES are oracle-checkable, not just the hit
    * set. Ties break by ascending document id.
    *
    * Scale shape: the query-term filter lands row-local on the token scan
    * BEFORE any shuffle (postings are built only for the ≤|terms| queried
    * terms, never the full vocabulary), the per-(doc, term) counts
    * map-side combine, the df table is ≤|terms| rows (AQE-broadcast back
    * onto the postings), N rides a 1-row broadcast, and top-k is
    * TakeOrderedAndProject — the corpus is scanned once and never
    * globally sorted. */
  def keywordSearch(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "keywordSearch needs at least one query term")
    val postings = docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("__tf"))
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    val n = docs.agg(count(lit(1)).as("__n"))
    postings
      .join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .select(col(idCol),
        expr("__tf * ((__n * 1000000) div __df)").as("__sc"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit_terms"), sum(col("__sc")).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(SearchTopK)
  }
}
