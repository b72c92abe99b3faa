package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Distributed byte-pair-encoding TRAINER (Sennrich et al. 2016, in the
  * word-level formulation tokenizer libraries use): merge statistics are
  * computed over the distinct-WORD vocabulary weighted by corpus
  * frequency, so per-round cost is ∝ |vocab| × avg word length, never
  * corpus tokens — the property that makes BPE trainable over a 100 TB
  * corpus (the corpus is touched exactly once, by [[wordVocab]]'s single
  * groupBy; even a trillion-token web crawl's [a-z]+ vocab is ~10^8 rows).
  *
  * Determinism: each round's winning pair is (max frequency-weighted
  * count, ties to the lexicographically smallest (lhs, rhs)); merge
  * application is the standard greedy non-overlapping left-to-right pass,
  * expressed as the native codegen kernel [[graft.plans.BpeMergeFold]] —
  * no UDF, so re-encoding stays inside whole-stage codegen. Same corpus → same merge table on
  * any partitioning or engine (the DuckDB oracle replays training round
  * by round, including the greedy overlap rule on runs like "aaa").
  *
  * Scale shape per round: ONE shuffle (the pair-count groupBy), one
  * one-row driver pull (the justified collect), one map-only re-encode.
  * State is `localCheckpoint`'d once per round (the iterative-lineage
  * convention, see [[ConnectedComponents]]) so fold expressions don't
  * stack across rounds.
  */
object BpeTrainer {

  /** Merge rounds [[train]] runs. */
  final val NumMerges = 6

  /** One training round's outcome. */
  final case class Merge(rank: Int, lhs: String, rhs: String, pairFreq: Long, nSymsAfter: Long)

  /** The word vocabulary BPE trains on: lowercase `[a-z]+` whitespace
    * tokens with corpus frequencies — one corpus pass, one shuffle. The
    * charset restriction keeps merge semantics engine-portable (no
    * grapheme-segmentation ambiguity); widen deliberately, not by
    * default. */
  def wordVocab(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(TextFunctions.tokens(lower(col(textCol)))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))

  /** Split a word into single-character symbols. */
  private def charSyms(word: Column): Column =
    filter(split(word, ""), s => s =!= "")

  /** Adjacent (lhs, rhs) symbol pairs of a word. */
  private def adjacentPairs(syms: Column): Column =
    filter(
      zip_with(syms, slice(syms, lit(2), greatest(size(syms) - 1, lit(0))),
        (l, r) => struct(l.as("l"), r.as("r"))),
      p => p.getField("r").isNotNull)

  /** ENCODE with a frozen merge table — the production side of BPE (train
    * once on a sample epoch, encode every corpus snapshot after): char-
    * split each word and apply the merges in rank order, each one the same
    * greedy left-to-right pass as training. Map-only (the merge table
    * ships once per task inside ONE kernel expression, no shuffle, no
    * per-merge plan nodes) — encoding 100 TB is embarrassingly parallel,
    * and a 32k-merge production table is one expression whose cost is
    * merges × word length, not 32k nested projections. */
  def encodeVocab(vocab: DataFrame, merges: Seq[Merge]): DataFrame = {
    val syms =
      if (merges.isEmpty) charSyms(col("word"))
      else graft.plans.GraftFunctions.bpeMergeFold(
        charSyms(col("word")),
        merges.sortBy(_.rank).map(m => (m.lhs, m.rhs)))
    vocab.select(
      col("word"), col("freq").cast("long").as("freq"), syms.as("syms"))
  }

  /** Train [[NumMerges]] rounds over a (word, freq) vocabulary, one merge per
    * round: the argmax pair. Returns the merge table (ranked, with each
    * merge's frequency-weighted pair count and — when `trackSymbolMass` —
    * the post-merge frequency-weighted symbol count, the quantity whose
    * drop IS the compression the merge bought) and the final encoded
    * vocabulary (word, freq, syms). Stops early if every word is a single
    * symbol. */
  def train(
      vocab: DataFrame,
      trackSymbolMass: Boolean = false): (Seq[Merge], DataFrame) = {
    var state = vocab
      .select(col("word"), col("freq").cast("long").as("freq"),
        charSyms(col("word")).as("syms"))
      .localCheckpoint()
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    var exhausted = false
    while (rank < NumMerges && !exhausted) {
      val top = state
        .select(col("freq"), explode(adjacentPairs(col("syms"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        // Apply the merge as ONE kernel pass, one checkpoint per round.
        state = state
          .withColumn("syms", graft.plans.GraftFunctions.bpeMergeFold(col("syms"), Seq((a, b))))
          .localCheckpoint()
        val mass =
          if (trackSymbolMass)
            state.agg(sum(size(col("syms")).cast("long") * col("freq"))).collect()(0).getLong(0)
          else -1L
        merges += Merge(rank, a, b, top(0).getLong(2), mass)
        rank += 1
      }
    }
    (merges.result(), state)
  }
}
