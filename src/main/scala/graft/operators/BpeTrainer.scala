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
  * bounded driver pull (≤ 8·batchSize rows — bytes; the justified
  * collect), one map-only re-encode (all of the round's merges chained in
  * a single projection). State is `localCheckpoint`'d once per round (the
  * iterative-lineage convention, see [[ConnectedComponents]]) so fold
  * expressions don't stack across rounds. `batchSize` (top-B
  * symbol-disjoint merges per round — see [[train]]) divides the round
  * count: 50k production merges at B=256 is ~200 rounds over the
  * vocab-sized state, not 50k.
  */
object BpeTrainer {

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

  /** Train `nMerges` rounds over a (word, freq) vocabulary. Returns the
    * merge table (ranked, with each merge's frequency-weighted pair count
    * and — when `trackSymbolMass` — the post-round frequency-weighted
    * symbol count, the quantity whose drop IS the compression the round
    * bought) and the final encoded vocabulary (word, freq, syms). Stops
    * early if every word is a single symbol.
    *
    * `batchSize` applies the standard top-B-per-round batching trick
    * (the move that makes 30k–50k-merge production training feasible:
    * rounds — and with them the per-round pair-count shuffle, the driver
    * pull, and the checkpoint — drop ∝ nMerges/B). Per round the top
    * `batchSize` SYMBOL-DISJOINT pairs are selected in rank order: a pair
    * is skipped if it shares a symbol with any pair already picked this
    * round, or contains a symbol a picked pair CREATES (its
    * concatenation). Under that rule every selected pair's measured count
    * is exact — merging (a,b) only perturbs pairs containing a or b — so
    * batched selection sees the same statistics sequential selection
    * would, and application in rank order is well-defined. batchSize=1 is
    * byte-identical to unbatched training (argmax each round; BpeSpec
    * pins the equivalence); with batchSize>1 the recorded `nSymsAfter`
    * is the post-ROUND mass on every merge of the round (per-merge mass
    * would reintroduce the per-merge action the batching removes). */
  def train(
      vocab: DataFrame,
      nMerges: Int,
      trackSymbolMass: Boolean = false,
      batchSize: Int = 1): (Seq[Merge], DataFrame) = {
    val (m, s, _) = trainRounds(vocab, nMerges, trackSymbolMass, batchSize)
    (m, s)
  }

  /** [[train]] plus the number of batched ROUNDS actually executed — the
    * quantity the top-B batching contract promises is ≈ nMerges/batchSize
    * (conflict skips can stretch it slightly). Exposed for the scale
    * rehearsal recorded in `BPE_SCALE_sf1.json` (by the `graft.BpeScale`
    * main, last present at commit 6325750:
    * `git show 6325750:src/main/scala/graft/BpeScale.scala`); the
    * training semantics are [[train]]'s, verbatim. */
  def trainRounds(
      vocab: DataFrame,
      nMerges: Int,
      trackSymbolMass: Boolean = false,
      batchSize: Int = 1): (Seq[Merge], DataFrame, Int) = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    var state = vocab
      .select(col("word"), col("freq").cast("long").as("freq"),
        charSyms(col("word")).as("syms"))
      .localCheckpoint()
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    var rounds = 0
    var exhausted = false
    while (rank < nMerges && !exhausted) {
      val want = math.min(batchSize, nMerges - rank)
      // Pull a bounded candidate prefix (8× oversample covers conflict
      // skips; a short pick just means the round advances with fewer
      // merges — correctness never depends on the oversample factor).
      val top = state
        .select(col("freq"), explode(adjacentPairs(col("syms"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(if (want == 1) 1 else 8 * want)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        rounds += 1
        // Greedy symbol-disjoint selection in rank order; `used` also
        // carries each pick's concatenation so no later pick can touch a
        // symbol this round creates.
        val used = scala.collection.mutable.Set[String]()
        val picked = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
        val it = top.iterator
        while (picked.size < want && it.hasNext) {
          val row = it.next()
          val (a, b) = (row.getString(0), row.getString(1))
          if (!used(a) && !used(b)) {
            picked += ((a, b, row.getLong(2)))
            used += a; used += b; used += (a + b)
          }
        }
        // Apply the round's merges in rank order as ONE kernel pass —
        // one re-encode, one checkpoint per ROUND.
        state = state
          .withColumn("syms", graft.plans.GraftFunctions.bpeMergeFold(
            col("syms"), picked.toSeq.map { case (a, b, _) => (a, b) }))
          .localCheckpoint()
        val mass =
          if (trackSymbolMass)
            state.agg(sum(size(col("syms")).cast("long") * col("freq"))).collect()(0).getLong(0)
          else -1L
        picked.foreach { case (a, b, cnt) =>
          merges += Merge(rank, a, b, cnt, mass)
          rank += 1
        }
      }
    }
    (merges.result(), state, rounds)
  }
}
