package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (2L, "THE  Quick Brown fox jumps over the lazy dog"), // normalized dup of 0
    (3L, "the quick brown fox jumps over the sleepy dog"), // near dup (1 token)
    (4L, "completely different content about spark engines and parquet files")
  ).toDF("doc_id", "text")

  test("exact dedup groups normalized duplicates, keeps min id") {
    val g = Dedup.exactGroups(docs, "doc_id", "text").orderBy("keep_id").collect()
    assert(g.length == 3)
    assert(g(0).getAs[Long]("keep_id") == 0L && g(0).getAs[Long]("n_docs") == 3L)
    val kept = Dedup.dropExactDuplicates(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(0L, 3L, 4L))
  }

  test("ngram jaccard pairs rank near-duplicates high") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, minShared = 2)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
    val dupPair = pairs.find(p => p._1 == 0L && p._2 == 1L)
    assert(dupPair.exists(_._3 == 1.0)) // identical docs → jaccard 1
    val nearPair = pairs.find(p => p._1 == 0L && p._2 == 3L)
    assert(nearPair.exists(p => p._3 > 0.3 && p._3 < 1.0))
    assert(!pairs.exists(p => p._2 == 4L)) // unrelated doc shares < 2 shingles
  }

  test("editOnePairs finds sub/ins/del variants, rejects distance-2, keeps dist-0") {
    val names = Seq(
      (0L, "acme corp"),   // base
      (1L, "acme korp"),   // substitution → dist 1
      (2L, "acme corps"),  // insertion → dist 1
      (3L, "acme cor"),    // deletion → dist 1
      (4L, "acme corp"),   // identical string, distinct id → dist 0
      (5L, "ab"),          // "ab"/"ba" share deletion keys but dist 2
      (6L, "ba"),
      (7L, "unrelated co") // no neighbor
    ).toDF("id", "name")
    val got = Dedup.editOnePairs(names, "id", "name")
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
    assert(got.contains((0L, 1L, 1)) && got.contains((0L, 2L, 1)) &&
      got.contains((0L, 3L, 1)) && got.contains((0L, 4L, 0)))
    assert(!got.exists(p => p._1 == 5L && p._2 == 6L)) // verify kills ab/ba
    assert(!got.exists(p => p._1 == 7L || p._2 == 7L))
    // dist-1 variants of EACH OTHER via the shared base ("acme korp" vs
    // "acme corps" is dist 2 — must be absent even though both pair with 0)
    assert(!got.contains((1L, 2L, 1)) && !got.contains((1L, 2L, 2)))
  }

  test("editOnePairs position trick agrees with true Levenshtein on random strings") {
    // independent DP edit distance, driver-side
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(42)
    val strs = (0L until 80L).map(i =>
      (i, (0 until rnd.nextInt(5)).map(_ => ('a' + rnd.nextInt(2)).toChar).mkString))
    val expected = (for {
      (ia, sa) <- strs; (ib, sb) <- strs
      if ia < ib && lev(sa, sb) <= 1
    } yield (ia, ib, lev(sa, sb))).toSet
    val got = Dedup.editOnePairs(strs.toDF("id", "name"), "id", "name", maxKeyFreq = 0L)
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
    assert(got == expected)
  }

  test("prefixFilterJaccardJoin scale-relative guard: silent on healthy ratio, fires on a hot bucket") {
    // healthy: distinct texts, tiny buckets — well under 4 pairs/entry
    val ok = Seq.tabulate(12)(i => (i.toLong, s"alpha$i beta$i gamma$i delta$i"))
      .toDF("id", "text")
    assert(Dedup.prefixFilterJaccardJoin(ok, "id", "text", 7, 10,
      maxPairsPerEntry = 4L).count() == 0L)
    // hot: every doc shares the same rare tokens — one bucket holds all 12
    // docs, mass 12*11/2 = 66 over ~24 entries > 2 pairs/entry
    val hot = Seq.tabulate(12)(i => (i.toLong, "alpha beta gamma delta"))
      .toDF("id", "text")
    val e = intercept[Exception] {
      Dedup.prefixFilterJaccardJoin(hot, "id", "text", 7, 10,
        maxPairsPerEntry = 2L).count()
    }
    assert(e.getMessage.contains("exceed the cap"), e.getMessage)
  }

  test("editOnePairs hot-key prune drops pairs only reachable through pruned keys") {
    val rows = (0L to 9L).map(i => (i, s"x$i")).toDF("id", "name")
    // every "x<d>" emits deletion key "x": freq 10 → pruned at maxKeyFreq=5,
    // and the single-char key "<d>" survives but matches nothing
    val pruned = Dedup.editOnePairs(rows, "id", "name", maxKeyFreq = 5L).count()
    assert(pruned == 0L)
    val unpruned = Dedup.editOnePairs(rows, "id", "name", maxKeyFreq = 0L).count()
    assert(unpruned == 45L) // all C(10,2) pairs are substitutions at pos 2
  }

  test("editOnePairs hot-key salting is lossless: salted == unsalted, pair-for-pair") {
    // Adversarial fixture: one scorching key family (every "k<d><d>" shares
    // deletion keys at freq ≫ hotKeyFreq) plus a cold tail — pairs must
    // be identical whether the hot tier joins on (key, salt) or the plain
    // key, including each pair's min-dist label.
    val rnd = new scala.util.Random(7)
    val rows = (0L until 120L).map(i =>
      (i, if (i < 60) f"k${rnd.nextInt(30)}%02d" else s"cold-$i-${rnd.nextInt(4)}"))
      .toDF("id", "name")
    def run(salts: Int, hotAt: Long) =
      Dedup.editOnePairs(rows, "id", "name", maxKeyFreq = 0L,
          hotKeyFreq = hotAt, hotSalts = salts)
        .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
    val unsalted = run(salts = 1, hotAt = 0L)
    assert(run(salts = 8, hotAt = 4L) == unsalted)   // nearly everything hot
    assert(run(salts = 3, hotAt = 64L) == unsalted)  // default-ish split
    assert(unsalted.nonEmpty)
  }

  test("minhash signatures are identical for identical texts, close for near-dups") {
    val sig = docs.select(col("doc_id"), Dedup.minHashSignature(col("text"), 3, 64).as("sig"))
    val est = sig.as("a").join(sig.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        Dedup.minHashJaccardEstimate(col("a.sig"), col("b.sig")).as("est")
      )
      .collect().map(r => ((r.getAs[Long]("da"), r.getAs[Long]("db")), r.getAs[Double]("est"))).toMap
    assert(est((0L, 1L)) == 1.0)
    assert(est((0L, 3L)) > 0.4)
    assert(est((0L, 4L)) < 0.2)
  }

  test("cross-corpus LSH dedup flags incoming near-dups of the reference only") {
    val reference = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content about spark engines and parquet files")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (11L, "the quick brown fox jumps over the lazy dog"), // dup of ref 0
      (13L, "unrelated new material regarding streaming watermarks and state"),
      (15L, "unrelated new material regarding streaming watermarks and state") // dup WITHIN incoming
    ).toDF("doc_id", "text")
    val pairs = Dedup
      .minHashLshPairsAgainst(incoming, reference, "doc_id", "text", k = 3, numHashes = 16, rowsPerBand = 2)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((11L, 0L)))
    // intra-incoming duplicates are NOT this operator's job
    assert(!pairs.exists(p => p._1 == 13L || p._1 == 15L))
  }

  test("duplicatedSpanStats counts cross-doc windows only") {
    val d = Seq(
      (0L, "a b c d e f"), //      3 spans at w=4; "a b c d" shared with doc 1
      (1L, "x a b c d y"), //      3 spans; shares "a b c d"
      (2L, "p q r"), //            shorter than w → 0 spans
      (3L, "m n o p m n o p") //   "m n o p" repeats WITHIN the doc only
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpanStats(d, "doc_id", "text", w = 4)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect()
    assert(out(0) == ((0L, 3L, 1L, 1.0 / 3.0)))
    assert(out(1) == ((1L, 3L, 1L, 1.0 / 3.0)))
    assert(out(2) == ((2L, 0L, 0L, 0.0)))
    // intra-doc repetition is NOT duplicated span material (needs ≥2 docs)
    assert(out(3) == ((3L, 5L, 0L, 0.0)))
  }

  test("maximalDuplicatedSpans merges consecutive duplicated windows into maximal runs") {
    val d = Seq(
      (0L, "a b c d e x"), //  shares the 5-token run "a b c d e" with doc 1
      (1L, "z a b c d e"),
      (2L, "p q r s t u")  //  nothing shared
    ).toDF("doc_id", "text")
    val out = Dedup.maximalDuplicatedSpans(d, "doc_id", "text", w = 3)
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long)].collect().toSeq
    // w=3 windows of "a b c d e": positions 0,1,2 in doc 0 / 1,2,3 in
    // doc 1 — each a single run of 3 windows = one maximal 5-token span
    assert(out == Seq((0L, 0L, 5L), (1L, 1L, 5L)))
  }

  test("maximalDuplicatedSpans reports disjoint runs separately") {
    val d = Seq(
      (0L, "a b c x y z d e f"), // shares "a b c" and "d e f", split by x y z
      (1L, "a b c q q q d e f")
    ).toDF("doc_id", "text")
    val out = Dedup.maximalDuplicatedSpans(d, "doc_id", "text", w = 3)
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((0L, 0L, 3L), (0L, 6L, 3L), (1L, 0L, 3L), (1L, 6L, 3L)))
  }

  test("minhash LSH banding surfaces duplicate and near-duplicate candidates") {
    // rowsPerBand=2 → 32 bands: collision prob ≈ 1-(1-j²)³² ≈ 0.996 at
    // j=0.4, so the near-dup pair is found with near-certainty while the
    // j≈0 unrelated pair stays out.
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text", k = 3, numHashes = 64, rowsPerBand = 2)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 3L)))
    assert(!pairs.contains((0L, 4L)))
  }

  test("simhash: zero hamming for identical, small for near-dup") {
    val sk = docs.select(col("doc_id"), Dedup.simHash64(col("text")).as("sk"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("sk")).toMap
    assert(sk(0L) == sk(1L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sk(0L), sk(3L)) <= 16)
    assert(ham(sk(0L), sk(4L)) > 16)
  }

  test("contaminationFlags counts distinct shingles shared with the eval set") {
    import org.apache.spark.sql.functions._
    val evalSet = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val corpus = Seq(
      // contains "the quick brown fox jumps" and 2 more eval 5-grams → 3 hits
      (1L, "prefix the quick brown fox jumps over the end"),
      (2L, "completely different words entirely here now"), // clean
      (3L, "short doc") // < 5 tokens → no shingles → clean
    ).toDF("doc_id", "text")
    val out = Dedup
      .contaminationFlags(corpus, evalSet, "doc_id", "text", k = 5, minShared = 1)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_overlap"), r.getAs[Boolean]("contaminated")))
    assert(out.toSeq == Seq((1L, 3L, true), (2L, 0L, false), (3L, 0L, false)))
  }

  test("bestSurvivorLosers keeps each cluster's highest score, min id on ties") {
    // clusters: {1,2,3} (scores 0.2, 0.9, 0.5 → keep 2) and
    // {10,11} (tied scores → keep min id 10); doc 20 is in no cluster
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("node", "cluster")
    val scored = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.5), (10L, 0.7), (11L, 0.7), (20L, 0.1)
    ).toDF("doc_id", "score")
    val losers = Dedup.bestSurvivorLosers(comp, scored, "doc_id", "score")
      .as[Long].collect().toSet
    assert(losers == Set(1L, 3L, 11L))
  }

  test("bestSurvivorLosers keeps a cluster whole when every score is null") {
    val comp = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L)).toDF("node", "cluster")
    val scored = Seq(
      (1L, None: Option[Double]), (2L, None), // cluster 1: no electable best
      (10L, Some(0.9)), (11L, Some(0.1))
    ).toDF("doc_id", "score")
    val losers = Dedup.bestSurvivorLosers(comp, scored, "doc_id", "score")
      .as[Long].collect().toSet
    // conservative: cluster 1 loses nobody; cluster 10 elects 10, loses 11
    assert(losers == Set(11L))
  }

  // Driver-side brute force the prefix-filter join must equal EXACTLY:
  // every (a, b, inter, union) over all pairs with J >= tauNum/tauDen.
  private def bruteJaccard(
      rows: Seq[(Long, String)], tauNum: Int, tauDen: Int,
      k: Int = 1): Set[(Long, Long, Long, Long)] = {
    val sets = rows.map { case (id, t) =>
      val toks = t.trim.split("\\s+").filter(_.nonEmpty).toSeq
      id -> (if (k == 1) toks.toSet
             else toks.sliding(k).filter(_.size == k).map(_.mkString(" ")).toSet)
    }.filter(_._2.nonEmpty)
    (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      inter = (sa & sb).size.toLong
      union = (sa | sb).size.toLong
      if inter * tauDen >= union * tauNum
    } yield (ia, ib, inter, union)).toSet
  }

  /** A guard cap far above any pair mass these fixtures reach: the tests
    * that pass it check results, not the guard. */
  private val NoTripCap = 1L << 20

  private def runPrefixJoin(
      rows: Seq[(Long, String)], tauNum: Int, tauDen: Int,
      k: Int = 1): Set[(Long, Long, Long, Long)] =
    Dedup.prefixFilterJaccardJoin(
        rows.toDF("doc_id", "text"), "doc_id", "text", tauNum, tauDen,
        maxPairsPerEntry = NoTripCap, shingleK = k)
      .select("doc_a", "doc_b", "n_inter", "n_union")
      .as[(Long, Long, Long, Long)].collect().toSet

  test("prefixFilterJaccardJoin equals brute force, incl. exact-boundary pairs") {
    // A/B sit at J = 7/10 EXACTLY (inter 7, union 10): the pair a binary-double
    // threshold (ceil(0.7*10) = 8 under IEEE) silently drops.
    val a = (0L, "t1 t2 t3 t4 t5 t6 t7 onlyA")
    val b = (1L, "t1 t2 t3 t4 t5 t6 t7 onlyB1 onlyB2")
    val fixture = Seq(
      a, b,
      (2L, "t1 t2 t3 t4 t5 t6 t7 onlyA"), // exact dup of 0 → J = 1
      (3L, "zed"),                         // singleton set
      (4L, "zed"),                         // identical singleton → J = 1
      (5L, "   "),                         // empty after trim → matches nothing
      (6L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10") // disjoint from everything
    )
    val got = runPrefixJoin(fixture, 7, 10)
    assert(got == bruteJaccard(fixture, 7, 10))
    assert(got.contains((0L, 1L, 7L, 10L))) // the boundary pair survived
    assert(got.contains((3L, 4L, 1L, 1L)))
    assert(!got.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("prefixFilterJaccardJoin equals brute force on a randomized corpus") {
    val rng = new scala.util.Random(42)
    val vocab = (0 until 30).map(i => s"w$i")
    val rows = (0L until 40L).map { id =>
      val n = 1 + rng.nextInt(12)
      id -> Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    }
    for ((tn, td) <- Seq((1, 2), (3, 5), (9, 10), (1, 1)))
      assert(runPrefixJoin(rows, tn, td) == bruteJaccard(rows, tn, td),
        s"mismatch at tau=$tn/$td")
    // shingle mode: sequence-sensitive sets, docs shorter than k drop out
    for ((tn, td) <- Seq((1, 2), (7, 10)))
      assert(runPrefixJoin(rows, tn, td, k = 3) == bruteJaccard(rows, tn, td, k = 3),
        s"shingle mismatch at tau=$tn/$td")
  }

  test("prefixFilterJaccardJoin blowup guard: trips on boilerplate, silent in-bound") {
    // Pathological corpus: every doc is the SAME text, so with tau=1/2 the
    // rarest prefix tokens are shared by all 40 docs — same-prefix pair
    // mass goes quadratic (the failure mode the guard exists for).
    // 40 docs × 4-token prefix ⇒ Σ n(n−1)/2 = 4·780 = 3120 pairs over 160
    // indexed entries = 19.5 pairs/entry, above a cap of 4.
    val boiler = (0L until 40L).map(id => (id, "the same boilerplate text every doc"))
    val e = intercept[Exception] {
      Dedup.prefixFilterJaccardJoin(
          boiler.toDF("doc_id", "text"), "doc_id", "text", 1, 2,
          maxPairsPerEntry = 4L)
        .count()
    }
    assert(e.getMessage.contains("maxPairsPerEntry=4"),
      s"expected the driver-side eager guard's CandidateCapExceededException, " +
        s"got: ${e.getMessage.take(200)}")
    assert(e.isInstanceOf[graft.operators.CandidateCapExceededException],
      s"expected CandidateCapExceededException, got ${e.getClass.getName}")

    // Cap above the mass → the guard stays silent and results are exact.
    val rng = new scala.util.Random(7)
    val vocab = (0 until 30).map(i => s"w$i")
    val rows = (0L until 40L).map { id =>
      id -> Seq.fill(1 + rng.nextInt(12))(vocab(rng.nextInt(vocab.size))).mkString(" ")
    }
    val guarded = Dedup.prefixFilterJaccardJoin(
        rows.toDF("doc_id", "text"), "doc_id", "text", 3, 5,
        maxPairsPerEntry = NoTripCap)
      .select("doc_a", "doc_b", "n_inter", "n_union")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(guarded == bruteJaccard(rows, 3, 5))
  }

  test("prefixFilterJaccardJoin rejects a non-positive maxPairsPerEntry, naming it") {
    val docs = Seq((0L, "a b c"), (1L, "a b c")).toDF("doc_id", "text")
    for (cap <- Seq(0L, -1L)) {
      val e = intercept[IllegalArgumentException] {
        Dedup.prefixFilterJaccardJoin(docs, "doc_id", "text", 7, 10, maxPairsPerEntry = cap)
      }
      assert(e.getMessage.contains(s"maxPairsPerEntry must be > 0, got $cap"), e.getMessage)
    }
  }

  test("dropDuplicatedLines: cross-doc lines drop, within-doc repeats and unique lines survive") {
    val docs = Seq(
      // "banner" appears in docs 1,2,3 (>= minDocs=3) -> removed everywhere
      (1L, "banner\nalpha one\nbanner"), // repeated WITHIN doc 1 too
      (2L, "banner\nbeta two"),
      (3L, "banner\ngamma three"),
      // "echo" appears twice but only WITHIN doc 4 -> ONE distinct doc,
      // NOT boilerplate (countDistinct, not count)
      (4L, "echo\necho\ndelta four"),
      // blank lines are ignored for counting and never block reassembly
      (5L, "\nzeta five\n"),
      // every line boilerplate -> cleaned_text must be ""
      (6L, "banner"),
      // ALL lines blank -> still one output row, (0, 0, "")
      (7L, "\n  \n")).toDF("doc_id", "text")
    // doc 6 makes "banner" 4 distinct docs; threshold 3
    val got = Dedup.dropDuplicatedLines(docs, "doc_id", "text", minDocs = 3L)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 3L, 2L, "alpha one"),
      (2L, 2L, 1L, "beta two"),
      (3L, 2L, 1L, "gamma three"),
      (4L, 3L, 0L, "echo\necho\ndelta four"),
      (5L, 1L, 0L, "zeta five"),
      (6L, 1L, 1L, ""),
      (7L, 0L, 0L, "")))
  }

  test("dropDuplicatedLines preserves original line order in reassembly") {
    // 12 docs share "x"; each doc interleaves unique lines around it —
    // surviving lines must come back in ORIGINAL positions, not sorted text
    val docs = (0L until 12L).map { i =>
      (i, s"z$i first\nx\na$i middle\nx\nm$i last")
    }.toDF("doc_id", "text")
    val got = Dedup.dropDuplicatedLines(docs, "doc_id", "text", minDocs = 10L)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect()
    assert(got.forall { case (i, n, r, t) =>
      n == 5L && r == 2L && t == s"z$i first\na$i middle\nm$i last"
    })
  }

  test("bestSurvivorLosers rejects non-integral ids loudly") {
    val comp = Seq(("a", "a")).toDF("node", "cluster")
    val scored = Seq(("a", 1.0)).toDF("doc_id", "score")
    val e = intercept[IllegalArgumentException] {
      Dedup.bestSurvivorLosers(comp, scored, "doc_id", "score")
    }
    assert(e.getMessage.contains("integral id"))
  }
}
