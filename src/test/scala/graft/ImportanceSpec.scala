package graft

import graft.operators.Importance

class ImportanceSpec extends SparkSpec {
  import spark.implicits._

  // Tokens "alpha" and "beta" land in distinct xxhash64 buckets at 1024
  // (deterministic — the hash is seeded, not random).
  private def corpus = Seq(
    (1L, "alpha alpha alpha alpha"),
    (2L, "beta beta beta beta"),
    (3L, "alpha beta alpha beta"),
    (4L, "   ")
  ).toDF("doc_id", "text")

  test("enrichmentScores marks target-heavy buckets and scores per doc") {
    val target = corpus.filter($"doc_id" === 1L)
    // cnt(alpha): corpus 6, target 4; cnt(beta): corpus 6, target 0;
    // totals R=12, T=4 → alpha: 4*12 > 6*4 enriched; beta: 0 > 24 no.
    val out = Importance.enrichmentScores(corpus, target, "doc_id", "text")
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_enriched"), r.getAs[Double]("enrich_frac")))
    assert(out.toSeq == Seq(
      (1L, 4L, 4L, 1.0),
      (2L, 4L, 0L, 0.0),
      (3L, 4L, 2L, 0.5),
      (4L, 0L, 0L, 0.0)))
  }

  test("selected applies the exact rational threshold, excludes empty docs") {
    val target = corpus.filter($"doc_id" === 1L)
    val kept = Importance.enrichmentScores(corpus, target, "doc_id", "text")
      .filter(Importance.selected) // enrich_frac >= 1/2
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L))
  }

  test("persisted verdicts score a new batch without the training corpus") {
    val target = corpus.filter($"doc_id" === 1L)
    val verdicts = Importance.bucketVerdicts(corpus, target, "doc_id", "text")
    // new crawl batch: alpha-heavy doc selects, unseen-token doc does not
    // (buckets absent from the verdict table count as not enriched)
    val batch = Seq(
      (100L, "alpha alpha"),
      (101L, "omega omega omega")
    ).toDF("doc_id", "text")
    val out = Importance.applyVerdicts(batch, verdicts, "doc_id", "text")
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_enriched")))
    assert(out.toSeq == Seq((100L, 2L, 2L), (101L, 3L, 0L)))
  }

  test("a target-only bucket is enriched (disjoint target)") {
    // target tokens never appear in the scored corpus: cntR=0, cntT>0 ⇒
    // maximally enriched by the cross-multiply — a left join from the
    // corpus side would silently drop exactly these buckets
    val trainCorpus = Seq((1L, "alpha alpha"), (2L, "beta beta")).toDF("doc_id", "text")
    val target = Seq((9L, "omega omega")).toDF("doc_id", "text")
    val verdicts = Importance.bucketVerdicts(trainCorpus, target, "doc_id", "text")
    val batch = Seq((100L, "omega omega omega")).toDF("doc_id", "text")
    val out = Importance.applyVerdicts(batch, verdicts, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_enriched")))
    assert(out.toSeq == Seq((3L, 3L)))
    // fused path agrees
    val bits = Importance.verdictBits(verdicts)
    val fused = Importance.applyVerdictsFused(batch, bits, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_enriched")))
    assert(fused.toSeq == Seq((3L, 3L)))
  }

  test("empty target enriches nothing") {
    val target = corpus.filter($"doc_id" === -1L)
    val out = Importance.enrichmentScores(corpus, target, "doc_id", "text")
    assert(out.filter($"n_enriched" > 0L).count() == 0L)
  }
}
