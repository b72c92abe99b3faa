package graft

import org.apache.spark.sql.functions._
import graft.operators.BpeTrainer

class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def finalSyms(df: org.apache.spark.sql.DataFrame): Map[String, Seq[String]] =
    df.select($"word", $"syms").collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap

  test("wordVocab lowercases, keeps [a-z]+ only, counts corpus frequency") {
    val docs = Seq(
      (1L, "The cat  sat"),
      (2L, "cat cat-dog 42 x9 THE")
    ).toDF("doc_id", "text")
    val v = BpeTrainer.wordVocab(docs, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // "cat-dog", "42", "x9" rejected by the charset filter
    assert(v == Map("the" -> 2L, "cat" -> 2L, "sat" -> 1L))
  }

  test("one merge round picks the max-frequency pair, ties lexicographic") {
    // pairs: (l,o) freq 2+3=5 via "low"(2)+"lower"(3)... hand-build instead:
    val vocab = Seq(("ab", 3L), ("bc", 3L), ("cd", 2L)).toDF("word", "freq")
    // (a,b)=3 and (b,c)=3 tie — lexicographically smaller (a,b) must win
    // round 0; (b,c) and (c,d) follow, then every word is one symbol
    val (merges, state) = BpeTrainer.train(vocab)
    assert(merges.map(m => (m.lhs, m.rhs, m.pairFreq)) ==
      Seq(("a", "b", 3L), ("b", "c", 3L), ("c", "d", 2L)))
    val syms = finalSyms(state)
    assert(syms("ab") == Seq("ab"))
    assert(syms("bc") == Seq("bc"))
  }

  test("greedy left-to-right apply never merges overlapping occurrences") {
    val vocab = Seq(("aaa", 5L), ("aaaa", 1L)).toDF("word", "freq")
    val (merges, state) = BpeTrainer.train(vocab)
    // pair count is per-occurrence: "aaa" has 2 adjacent (a,a), "aaaa" has
    // 3. Round 0 leaves "aaa" as aa·a and "aaaa" as aa·aa (never a·aa·a),
    // which rounds 1 and 2 then count: (aa,a) 5 times, (aa,aa) once.
    assert(merges.map(m => (m.lhs, m.rhs, m.pairFreq)) ==
      Seq(("a", "a", 5L * 2 + 1L * 3), ("aa", "a", 5L), ("aa", "aa", 1L)))
    val syms = finalSyms(state)
    assert(syms("aaa") == Seq("aaa"), s"got ${syms("aaa")}")
    assert(syms("aaaa") == Seq("aaaa"), s"got ${syms("aaaa")}")
  }

  test("multi-round training matches the hand-computed Sennrich example") {
    // classic shape: {low:5, lower:2, newest:6, widest:3}
    val vocab = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
      .toDF("word", "freq")
    val (merges, state) = BpeTrainer.train(vocab, trackSymbolMass = true)
    // round 0: (e,s) 6+3=9 wins; round 1: (es,t) 9; round 2: (l,o) 7;
    // round 3: (lo,w) 7; rounds 4 and 5: the 6-way ties (e,w) < (n,e) <
    // (w,est), then (ew,est) < (n,ew), break lexicographically
    assert(merges.map(m => (m.lhs, m.rhs, m.pairFreq)) == Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("l", "o", 7L), ("lo", "w", 7L),
      ("e", "w", 6L), ("ew", "est", 6L)))
    // symbol mass drops by the merged occurrence count each round
    val mass0 = 5L * 3 + 2L * 5 + 6L * 6 + 3L * 6 // chars × freq = 79
    assert(merges.map(_.nSymsAfter) ==
      Seq(mass0 - 9, mass0 - 18, mass0 - 25, mass0 - 32, mass0 - 38, mass0 - 44))
    val syms = finalSyms(state)
    assert(syms("low") == Seq("low"))
    assert(syms("lower") == Seq("low", "e", "r"))
    assert(syms("newest") == Seq("n", "ewest"))
    assert(syms("widest") == Seq("w", "i", "d", "est"))
  }

  test("training stops early when every word is a single symbol") {
    val vocab = Seq(("ab", 1L)).toDF("word", "freq")
    val (merges, state) = BpeTrainer.train(vocab)
    assert(merges.size == 1)
    assert(finalSyms(state)("ab") == Seq("ab"))
  }

  test("encodeVocab with the trained merge table reproduces the training-final state") {
    val vocab = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
      .toDF("word", "freq")
    val (merges, trained) = BpeTrainer.train(vocab)
    val encoded = BpeTrainer.encodeVocab(vocab, merges)
    assert(finalSyms(encoded) == finalSyms(trained))
    // rank order matters: applying merges shuffled must NOT be relied on —
    // encodeVocab sorts by rank internally, so a shuffled input still works
    val shuffled = BpeTrainer.encodeVocab(vocab, merges.reverse)
    assert(finalSyms(shuffled) == finalSyms(trained))
  }

  test("merge table is invariant under vocab repartitioning") {
    val vocab = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
      .toDF("word", "freq")
    val a = BpeTrainer.train(vocab)._1
    val b = BpeTrainer.train(vocab.repartition(13))._1
    assert(a == b)
  }
}
