package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.functions.TextFunctions
import graft.operators.Sampling

/** Property-style invariants, asserted in BULK: scalacheck generates a few
  * hundred adversarial rows once (fixed seed — reproducible), and every
  * invariant is checked over all rows in a single Spark job (per-case jobs
  * would be prohibitively slow). JVM-side hash properties run over dense
  * samples instead of generated cases for the same reason.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  // ---- pure-JVM hash properties -----------------------------------------

  import graft.HashRef.mix64

  test("mix64 is collision-free over a 100k sample") {
    val xs = (0L until 100000L).map(x => mix64(x * 2654435761L + 17))
    assert(xs.distinct.length == xs.length)
  }

  test("column mix64 agrees with the JVM form (codegen vs reference)") {
    val ids = (-500L until 500L).map(i => i * 7919L).toDF("x")
    val bad = ids
      .select(col("x"), graft.functions.HashFunctions.mix64(col("x")).as("h"))
      .as[(Long, Long)].collect()
      .filter { case (x, h) => h != mix64(x) }
    assert(bad.isEmpty, s"column/JVM mix64 disagree on ${bad.take(3).toSeq}")
  }

  // ---- bulk dataframe properties ----------------------------------------

  private val adversarialText: Gen[String] = {
    val token = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)), Gen.const("the"), Gen.const("..."),
      Gen.const("一龫"), Gen.const(""), Gen.const("  "),
      Gen.const("a\tb"), Gen.const("!?;:"))
    Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, token).map(_.mkString(" ")))
  }

  private lazy val textDf = {
    val rows = Gen.listOfN(300, adversarialText)
      .apply(Gen.Parameters.default, org.scalacheck.rng.Seed(42L)).get
    rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  test("text metric invariants hold on adversarial inputs (one bulk job)") {
    val m = textDf.select(
      TextFunctions.tokenCount(col("text")).as("nt"),
      size(TextFunctions.tokens(col("text"))).as("nt2"),
      TextFunctions.punctRatio(col("text")).as("pr"),
      TextFunctions.stopwordRatio(col("text")).as("sr"),
      TextFunctions.qualityScore(col("text")).as("q"),
      TextFunctions.dupTokenFraction(TextFunctions.tokens(col("text"))).as("df_"),
      TextFunctions.topTokenFraction(TextFunctions.tokens(col("text"))).as("tf_"))
    val bad = m.filter(
      col("nt") =!= col("nt2") ||
        col("pr") < 0 || col("pr") > 1 || col("sr") < 0 || col("sr") > 1 ||
        col("q") < 0 || col("q") > 1.0000001 ||
        col("df_") < 0 || col("df_") > 1 || col("tf_") < 0 || col("tf_") > 1 ||
        col("pr").isNull || col("sr").isNull || col("q").isNull)
    assert(bad.count() == 0)
  }

  test("hash samples nest: fraction f1 <= f2 implies sample(f1) subset-of sample(f2)") {
    val ids = (0L until 5000L).toDF("id")
    def sample(fraction: Double) =
      ids.filter(Sampling.hashBucket(col("id"), 5L) < lit(math.round(fraction * Sampling.Buckets)))
    val s20 = sample(0.2)
    val s50 = sample(0.5)
    val s80 = sample(0.8)
    assert(s20.exceptAll(s50).count() == 0)
    assert(s50.exceptAll(s80).count() == 0)
    // and the rate lands near its target (hash uniformity smoke check)
    val n20 = s20.count().toDouble / 5000
    assert(n20 > 0.15 && n20 < 0.25, s"rate $n20 far from 0.2")
  }

  test("minhash jaccard estimates stay in [0,1]; equal shingle sets give exactly 1.0") {
    val d = textDf.filter(TextFunctions.tokenCount(col("text")) >= 3)
    val sig = d.select(col("doc_id"),
      graft.operators.Dedup.minHashSignature(col("text")).as("sig"),
      sort_array(TextFunctions.distinctShingles(col("text"))).as("sh"))
    val est = sig.as("a").join(sig.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(
        graft.operators.Dedup.minHashJaccardEstimate(col("a.sig"), col("b.sig")).as("est"),
        (col("a.sh") === col("b.sh")).as("same"))
    assert(est.filter(col("est") < 0 || col("est") > 1).count() == 0)
    assert(est.filter(col("same") && col("est") =!= 1.0).count() == 0)
  }

  test("HLL invariants in bulk: duplicate-insensitive, monotone under union, slice-merge exact") {
    import graft.operators.Sketches
    val keys = Gen.listOfN(800, Gen.chooseNum(Long.MinValue, Long.MaxValue))
      .apply(Gen.Parameters.default, org.scalacheck.rng.Seed(7L)).get
    val df = keys.zipWithIndex.map { case (k, i) => ("g", k, i % 4) }.toDF("g", "k", "slice")
    def est(d: org.apache.spark.sql.DataFrame) =
      Sketches.hllDistinct(d, Seq("g"), col("k")).select("est_distinct").as[Double].head()
    // duplicate-insensitivity: unioning the data with itself changes nothing
    assert(est(df) == est(df.unionAll(df)))
    // slice-merge law on random slices
    val merged = Sketches.hllEstimateFromRegisters(
      Sketches.hllMerge(
        Sketches.hllRegisters(df, Seq("g", "slice"), col("k")).drop("slice"),
        Seq("g")), Seq("g")).select("est_distinct").as[Double].head()
    assert(merged == est(df))
    // registers only grow when data is added (estimate monotone non-decreasing)
    val half = df.filter(col("slice") < 2)
    assert(est(half) <= est(df))
  }

  test("bloom bulk property: every member passes, across random key sets") {
    import graft.operators.BloomPrefilter
    val keys = Gen.listOfN(400, Gen.chooseNum(Long.MinValue, Long.MaxValue))
      .apply(Gen.Parameters.default, org.scalacheck.rng.Seed(11L)).get.distinct
    val kdf = keys.map(Tuple1(_)).toDF("id")
    val table = BloomPrefilter.buildTable(kdf, col("id"))
    val flagged = BloomPrefilter.prefilter(kdf, col("id"), table)
    assert(flagged.filter(!col("bloom_pass")).count() == 0) // no false negatives, ever
  }

  test("snapshotDiff of upsertLatest agrees with the change batch (randomized)") {
    import graft.operators.Merge
    val rnd = new scala.util.Random(42)
    // base: keys 0..199 at version 1; updates: random keys, half overlapping
    // (some with SAME value → unchanged), half brand-new at version 2
    val base = (0L until 200L).map(k => (k, 1L, k * 10.0, k)).toDF("id", "ver", "v", "tie")
    val updates = (0 until 120).map { i =>
      val k = rnd.nextInt(300).toLong
      val sameValue = k < 200 && rnd.nextBoolean()
      (k, if (sameValue) 1L else 2L, if (sameValue) k * 10.0 else k * 10.0 + 1.0, 1000L + i)
    }.toDF("id", "ver", "v", "tie")
    val upserted = Merge.upsertLatest(base, updates, Seq("id"), "ver", "tie")
    val diff = Merge.snapshotDiff(base, upserted, Seq("id"), Seq("v"))
      .as[(Long, String)].collect().toMap
    val baseKeys = (0L until 200L).toSet
    val valueChanging = updates.filter(col("ver") === 2L)
      .select("id").as[Long].collect().toSet
    // every key the upsert could add is 'added'; value-changing updates of
    // existing keys are 'changed'; everything else is 'unchanged'; an
    // upsert can never remove
    diff.foreach { case (k, status) =>
      val expected =
        if (!baseKeys.contains(k)) "added"
        else if (valueChanging.contains(k)) "changed"
        else "unchanged"
      assert(status == expected, s"key $k: $status != $expected")
    }
    assert(!diff.values.exists(_ == "removed"))
  }
}
