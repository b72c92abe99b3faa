package graft

import graft.operators.TfIdf

class TfIdfSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "apple apple banana common"),
    (2L, "banana cherry common"),
    (3L, "cherry cherry cherry common")
  ).toDF("doc_id", "text")

  test("termCounts: per-document term frequencies") {
    val tc = TfIdf.termCounts(docs, "doc_id", "text")
      .as[(Long, String, Long)].collect().toSet
    assert(tc((1L, "apple", 2L)))
    assert(tc((3L, "cherry", 3L)))
    assert(tc((1L, "common", 1L)))
  }

  test("keywordSearch: exact idf-ppm scores, rare term dominates, ties by id") {
    // N=3; query {apple, common}: df(apple)=1 → idf 3_000_000,
    // df(common)=3 → idf 1_000_000
    val hits = TfIdf.keywordSearch(docs, "doc_id", "text", Seq("apple", "common"))
      .as[(Long, Long, Long)].collect().toSeq
    // doc1: tf(apple)=2·3M + tf(common)=1·1M = 7M; docs 2,3: 1M each, id order
    assert(hits == Seq((1L, 2L, 7000000L), (2L, 1L, 1000000L), (3L, 1L, 1000000L)))
    // k truncates after the deterministic (score desc, id asc) order
    val many = (1L to 12L).map(i => (i, "common")).toDF("doc_id", "text")
    val top = TfIdf.keywordSearch(many, "doc_id", "text", Seq("common"))
      .as[(Long, Long, Long)].collect().map(_._1).toSeq
    assert(top == (1L to TfIdf.SearchTopK.toLong))
    // a query term absent from the corpus contributes nothing (no null df)
    val ghost = TfIdf.keywordSearch(docs, "doc_id", "text", Seq("zzz", "apple"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(ghost == Seq((1L, 1L, 6000000L)))
  }

  test("tokenRarity: exact mean corpus probability, empty docs report 0") {
    val d = Seq(
      (1L, "apple apple banana common"),
      (2L, "banana cherry common"),
      (3L, "cherry cherry cherry common"),
      (4L, "   ") // no tokens
    ).toDF("doc_id", "text")
    // corpus counts: apple 2, banana 2, cherry 4, common 3 → total 11
    val out = TfIdf.tokenRarity(d, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect()
    assert(out(0) == ((1L, 4L, 9L, 9.0 / 44.0)))  // 2+2+2+3 over 4·11
    assert(out(1) == ((2L, 3L, 9L, 9.0 / 33.0)))  // 2+4+3 over 3·11
    assert(out(2) == ((3L, 4L, 15L, 15.0 / 44.0))) // 4·3+3 over 4·11
    assert(out(3) == ((4L, 0L, 0L, 0.0)))
  }

  test("topTerms: rare high-tf terms outrank ubiquitous ones") {
    val top1 = TfIdf.topTerms(docs, "doc_id", "text")
      .filter($"rnk" === 1)
      .select("doc_id", "term", "tf", "df")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // doc 1: apple tf=2 df=1 (score 2.0) beats banana (0.5) and common (1/3)
    assert(top1(1L) == ((1L, "apple", 2L, 1L)))
    // doc 3: cherry tf=3 df=2 (1.5) beats common tf=1 df=3
    assert(top1(3L) == ((3L, "cherry", 3L, 2L)))
  }

  test("vocabulary: min_df prunes, rank orders by corpus frequency") {
    val v = TfIdf.vocabulary(docs, "doc_id", "text")
      .as[(Long, String, Long, Long)].collect().toSeq
    // apple (df=1) pruned; common tf=3 df=3, cherry tf=4 df=2, banana tf=2 df=2
    assert(v == Seq(
      (1L, "cherry", 4L, 2L),
      (2L, "common", 3L, 3L),
      (3L, "banana", 2L, 2L)))
  }

  test("vocabulary: topK truncates after ranking") {
    // 103 terms in both docs: "top" 6 times, t000..t101 twice each
    val text = ("top top top" +: (0 to 101).map(i => f"t$i%03d")).mkString(" ")
    val wide = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
    val v = TfIdf.vocabulary(wide, "doc_id", "text")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(v.size == TfIdf.VocabTopK)
    assert(v.head == ((1L, "top", 6L, 2L)))
    assert(v.last == ((100L, "t098", 2L, 2L)))
  }

  test("topTerms: score ties break by term text (deterministic)") {
    val d = Seq((1L, "zeta alpha")).toDF("doc_id", "text")
    val terms = TfIdf.topTerms(d, "doc_id", "text")
      .orderBy("rnk").select("term").as[String].collect().toSeq
    assert(terms == Seq("alpha", "zeta")) // tf=1, df=1 each → tie → lexicographic
  }

  test("groupedVocabulary ranks each group's terms with text tie-break") {
    val d = Seq(
      (1L, "en", "cat cat dog"),
      (2L, "en", "cat bird bird"),
      (3L, "de", "hund hund katze")
    ).toDF("doc_id", "lang", "text")
    val out = TfIdf.groupedVocabulary(d, "lang", "text")
      .orderBy("lang", "rank")
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("term"),
        r.getAs[Long]("term_freq"), r.getAs[Long]("rank")))
    assert(out.toSeq == Seq(
      ("de", "hund", 2L, 1L), ("de", "katze", 1L, 2L),
      ("en", "cat", 3L, 1L), ("en", "bird", 2L, 2L), ("en", "dog", 1L, 3L)))
  }

  test("bigramAssociations: exact ppm scores, minCount filter, truncation") {
    // pairs ab:6 cd:5 dc:5 ba:4 bc:2, N = 22 ; unigrams a:6 b:6 c:7 d:5
    val d = Seq((1L, "a b a b a b a b a b c"), (2L, "a b c d c d c d c d c d c"))
      .toDF("doc_id", "text")
    val top = TfIdf.bigramAssociations(d, "text")
      .collect()
      .map(r => (r.getAs[String]("w1"), r.getAs[String]("w2"),
        r.getAs[Long]("pair_freq"), r.getAs[Long]("w1_freq"),
        r.getAs[Long]("w2_freq"), r.getAs[Long]("assoc_ppm")))
    // ba and bc fall below minCount = 5. ab: 6·22·1e6 / (6·6) =
    // 3_666_666.67 → TRUNCATES to 3_666_666 (integral division, never
    // rounds — the cross-engine-stable choice); cd and dc tie at
    // 5·22·1e6 / (7·5) = 3_142_857 and order by w1
    assert(top.toSeq == Seq(
      ("a", "b", 6L, 6L, 6L, 3666666L),
      ("c", "d", 5L, 7L, 5L, 3142857L),
      ("d", "c", 5L, 5L, 7L, 3142857L)))
  }

  test("bigramAssociations: deterministic tie-break and top-k limit") {
    // 21 docs "xNN yNN" ×5: each xy pair 5 times, each yx 4 — all xy
    // pairs score identically, so ties order by w1 asc and x20 falls off
    val d = (0 until 21).map(i => (i.toLong, Seq.fill(5)(f"x$i%02d y$i%02d").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TfIdf.bigramAssociations(d, "text")
      .select("w1", "w2").as[(String, String)].collect().toSeq
    assert(out == (0 until TfIdf.BigramTopK).map(i => (f"x$i%02d", f"y$i%02d")))
  }
}
