package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine/cosineExact compute correct values on known vectors") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f), 0.0),
      (Array(1.0f, 2.0f), Array(2.0f, 4.0f), 1.0),
      (Array(1.0f, 0.0f), Array(1.0f, 1.0f), 1.0 / math.sqrt(2))
    ).toDF("a", "b", "expected")
    df.select(
      VectorRef.cosine($"a", $"b").as("c"),
      VectorFunctions.cosineExact($"a", $"b").as("ce"),
      $"expected"
    ).collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(2)) < 1e-12)
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-12)
    }
  }

  test("knnExact returns the true top-k by cosine") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(-1.0f, 0.0f)),
      (4L, Array(0.7f, 0.7f))
    ).toDF("vec_id", "embedding")
    val knn = Similarity.knnExact(vecs, vecs.filter($"vec_id" === 0L), "vec_id", "embedding", k = 2)
      .orderBy("rank")
      .collect().map(r => r.getAs[Long]("neighbor_id"))
    assert(knn.toSeq == Seq(1L, 4L))
  }

  test("LSH ANN achieves reasonable recall vs exact KNN on deterministic data") {
    // deterministic pseudo-random corpus (seeded by id — no Random state)
    val n = 200
    val dim = 16
    val corpus = (0 until n).map { i =>
      val v = Array.tabulate(dim)(d => (math.sin(i * 31 + d * 7).toFloat))
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 5)
    val k = 5
    val exact = Similarity.knnExact(corpus, queries, "vec_id", "embedding", k)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.knnLsh(corpus, queries, "vec_id", "embedding", k)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"LSH recall too low: $recall")
  }

  test("nearDupPairs finds planted high-similarity pairs") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.01f, 0.0f)), // near-dup of 0
      (2L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(vecs, "vec_id", "embedding", threshold = 0.95)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("ivfTrain converges to the planted cluster structure and assignment is total") {
    // 4 well-separated clusters of 25 vectors each around axis-aligned means
    val dim = 8
    def vec(cl: Int, i: Int): Array[Float] =
      Array.tabulate(dim)(d => (if (d == cl * 2) 10.0 else 0.0).toFloat + (math.sin(i * 31 + d * 7) * 0.1).toFloat)
    // interleaved ids (vec_id % 4 == planted cluster): deterministic seeding
    // takes the 4 smallest ids, giving one seed per planted cluster — the
    // farthest-point-style seeding a real pipeline would arrange
    val rows = for (cl <- 0 until 4; i <- 0 until 25) yield (i * 4L + cl, vec(cl, i))
    val df = rows.toDF("vec_id", "embedding")
    val cents = Similarity.ivfTrain(df, "vec_id", "embedding", k = 4, iters = 2)
    assert(cents.length == 4)
    val assigned = Similarity.ivfAssign(df, "embedding", cents)
    // assignment is total and deterministic
    assert(assigned.filter(col("cluster").isNull).count() == 0)
    val a1 = assigned.select("vec_id", "cluster").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val a2 = Similarity.ivfAssign(df, "embedding", cents)
      .select("vec_id", "cluster").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a1 == a2)
    // all 25 members of a planted cluster land together
    (0 until 4).foreach { cl =>
      val labels = (0 until 25).map(i => a1(i * 4L + cl)).toSet
      assert(labels.size == 1, s"planted cluster $cl split across ${labels.size} IVF cells")
    }
  }

  test("knnIvf achieves high recall vs exact KNN with all clusters probed") {
    val n = 100
    val dim = 16
    val corpus = (0 until n).map { i =>
      (i.toLong, Array.tabulate(dim)(d => math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 5)
    val exact = Similarity.knnExact(corpus, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // nProbe = kClusters → IVF scans everything → recall must be exact
    val full = Similarity.knnIvf(corpus, queries, "vec_id", "embedding", k = 5,
        kClusters = 4, nProbe = 4, iters = 1)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact)
    // partial probing keeps useful recall on this corpus
    val partial = Similarity.knnIvf(corpus, queries, "vec_id", "embedding", k = 5,
        kClusters = 4, nProbe = 2, iters = 1)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(partial).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF nProbe=2 recall too low: $recall")
  }

  test("pqTrain/pqEncode recover planted per-subspace structure, codes dense and stable") {
    // 2 subspaces × 2 dims; each subspace independently draws one of 3
    // well-separated patterns — PQ must give the same code to rows sharing
    // a subspace pattern even when their OTHER subspace differs (the
    // product structure a single whole-vector quantizer can't factor).
    val pat = Array(Array(10.0f, 0.0f), Array(0.0f, 10.0f), Array(-10.0f, -10.0f))
    val rows = (0 until 36).map { i =>
      val (pa, pb) = (i % 3, (i / 3) % 3)
      (i.toLong, (pat(pa) ++ pat(pb)).map(v => v + 0.01f * (i % 7)))
    }
    val df = rows.toDF("vec_id", "embedding")
    val books = Similarity.pqTrain(df, "vec_id", "embedding", dim = 4, m = 2, k = 3, iters = 2)
    assert(books.length == 2 && books.forall(_.length == 3))
    assert(books.forall(_.forall(_.size == 2)))
    val enc = Similarity.pqEncode(df, "embedding", books)
      .select($"vec_id", $"codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    // codes are m-long, in [0, k)
    assert(enc.values.forall(c => c.length == 2 && c.forall(x => x >= 0 && x < 3)))
    // rows with the same planted pattern pair get the same code pair
    val byPattern = rows.groupBy { case (id, _) => ((id % 3).toInt, ((id / 3) % 3).toInt) }
    byPattern.foreach { case (_, members) =>
      val codes = members.map { case (id, _) => enc(id) }.toSet
      assert(codes.size == 1, s"same planted pattern pair mapped to ${codes.size} code pairs")
    }
    // stable across partitioning
    val enc2 = Similarity.pqEncode(df.repartition(7), "embedding", books)
      .select($"vec_id", $"codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(enc == enc2)
  }

  test("knnPq ADC ranking has high recall vs exact squared-L2 top-k") {
    val n = 120
    val dim = 16
    def vec(i: Int): Array[Float] =
      Array.tabulate(dim)(d => math.sin(i * 31 + d * 7).toFloat)
    val corpus = (0 until n).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 5)
    val k = 5
    // exact squared-L2 ground truth, computed locally (test-side oracle)
    val all = (0 until n).map(i => i.toLong -> vec(i)).toMap
    val truth = (0 until 5).flatMap { q =>
      all.toSeq.filter(_._1 != q)
        .map { case (id, v) =>
          val d = v.zip(all(q.toLong)).map { case (a, b) => (a - b).toDouble * (a - b) }.sum
          (id, d)
        }
        .sortBy { case (id, d) => (d, id) }.take(k)
        .map { case (id, _) => (q.toLong, id) }
    }.toSet
    val pq = Similarity.knnPq(corpus, queries, "vec_id", "embedding",
        dim = dim, k = k, m = 4, kCodes = 8, iters = 2)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.intersect(pq).size.toDouble / truth.size
    assert(recall >= 0.5, s"PQ ADC recall too low: $recall")
  }

  test("ivfRecallSweep: monotone in nProbe, exactly 1.0 at full probe") {
    val n = 96
    val dim = 8
    def vec(i: Int): Array[Float] =
      Array.tabulate(dim)(d => math.sin(i * 17 + d * 3).toFloat)
    val corpus = (0 until n).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 6)
    val got = Similarity.ivfRecallSweep(corpus, queries, "vec_id", "embedding",
        k = 5, kClusters = 4, nProbes = Seq(1, 2, 3, 4))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(4)))
    // per query, recall must be non-decreasing in nProbe: more candidates
    // under the SAME (truth) metric can only add true neighbors to top-k
    got.groupBy(_._2).foreach { case (q, rows) =>
      val byNp = rows.sortBy(_._1).map(_._3)
      assert(byNp.zip(byNp.tail).forall { case (a, b) => a <= b },
        s"query $q recall not monotone: ${byNp.toSeq}")
    }
    // full probe = whole corpus under the truth metric → recall exactly 1
    assert(got.filter(_._1 == 4).forall(_._3 == 1.0))
    // and at least one partial-probe row is a real (non-trivial) point
    assert(got.exists(r => r._1 < 4 && r._3 < 1.0),
      "fixture degenerate: partial probes all perfect")
  }

  test("knnExactL2 matches a local brute-force squared-L2 top-k exactly") {
    val n = 60
    val dim = 8
    def vec(i: Int): Array[Float] =
      Array.tabulate(dim)(d => math.cos(i * 13 + d * 5).toFloat)
    val corpus = (0 until n).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 4)
    val k = 5
    // local oracle: quantize to 6 decimal places like DECIMAL(18,6)
    def q6(x: Float) = BigDecimal(x.toDouble).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val all = (0 until n).map(i => i.toLong -> vec(i)).toMap
    val want = (0 until 4).flatMap { qi =>
      all.toSeq.filter(_._1 != qi)
        .map { case (id, v) =>
          val d = v.zip(all(qi.toLong)).map { case (a, b) =>
            val diff = q6(a) - q6(b); diff * diff
          }.sum
          (id, d)
        }
        .sortBy { case (id, d) => (d, id) }.take(k).zipWithIndex
        .map { case ((id, _), r) => (qi.toLong, id, r + 1) }
    }.toSet
    val got = Similarity.knnExactL2(corpus, queries, "vec_id", "embedding", k)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want)
  }

  test("knnIvfPq: full probing recovers good recall, partial probing stays useful, deterministic") {
    val n = 120
    val dim = 16
    def vec(i: Int): Array[Float] =
      Array.tabulate(dim)(d => math.sin(i * 31 + d * 7).toFloat)
    val corpus = (0 until n).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 5)
    val k = 5
    val all = (0 until n).map(i => i.toLong -> vec(i)).toMap
    val truth = (0 until 5).flatMap { q =>
      all.toSeq.filter(_._1 != q)
        .map { case (id, v) =>
          (id, v.zip(all(q.toLong)).map { case (a, b) => (a - b).toDouble * (a - b) }.sum)
        }
        .sortBy { case (id, d) => (d, id) }.take(k)
        .map { case (id, _) => (q.toLong, id) }
    }.toSet
    def run(nProbe: Int) = Similarity.knnIvfPq(corpus, queries, "vec_id", "embedding",
        dim = dim, k = k, kClusters = 4, nProbe = nProbe, m = 4, kCodes = 8, iters = 1)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = run(nProbe = 4)
    val fullRecall = truth.intersect(full).size.toDouble / truth.size
    assert(fullRecall >= 0.5, s"IVFPQ full-probe recall too low: $fullRecall")
    val partial = run(nProbe = 2)
    val partialRecall = truth.intersect(partial).size.toDouble / truth.size
    assert(partialRecall >= 0.3, s"IVFPQ nProbe=2 recall too low: $partialRecall")
    assert(run(nProbe = 2) == partial, "IVFPQ search must be deterministic")
  }

  test("pqTrain rejects a declared dim that disagrees with the data") {
    val df = Seq((0L, Array(1.0f, 2.0f)), (1L, Array(2.0f, 1.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.pqTrain(df, "vec_id", "embedding", dim = 4, m = 2, k = 2)
    }
    intercept[IllegalArgumentException] {
      Similarity.pqTrain(df, "vec_id", "embedding", dim = 2, m = 3, k = 2)
    }
  }

  test("knnPq/knnIvfPq reject ragged QUERY vectors loudly") {
    // Corpus is clean 4-wide; the query set is NOT a subset of the corpus
    // and carries a 3-wide vector — unchecked, its LUT would null-pad and
    // nulls-first ascending ranking would put garbage at the top.
    val corpus = (0L until 8L).map(i =>
      (i, Array(i.toFloat, (i * 2).toFloat, (i % 3).toFloat, 1.0f)))
      .toDF("vec_id", "embedding")
    val ragged = Seq(
      (100L, Array(1.0f, 2.0f, 3.0f, 4.0f)),
      (101L, Array(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Similarity.knnPq(corpus, ragged, "vec_id", "embedding",
        dim = 4, k = 2, m = 2, kCodes = 2)
    }
    assert(e1.getMessage.contains("knnPq queries"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.knnIvfPq(corpus, ragged, "vec_id", "embedding",
        dim = 4, k = 2, kClusters = 2, nProbe = 1, m = 2, kCodes = 2)
    }
    assert(e2.getMessage.contains("knnIvfPq queries"))
    // Clean external queries still work end-to-end (guard is not overtight).
    val clean = Seq((100L, Array(1.0f, 2.0f, 3.0f, 4.0f))).toDF("vec_id", "embedding")
    assert(Similarity.knnPq(corpus, clean, "vec_id", "embedding",
      dim = 4, k = 2, m = 2, kCodes = 2).count() == 2L)
  }

  test("centroids computes exact element means per group") {
    val df = Seq(
      ("a", Array(1.0f, 2.0f)),
      ("a", Array(3.0f, 6.0f)),
      ("b", Array(10.0f, 0.0f))
    ).toDF("k", "v")
    val out = Similarity.centroids(df, "k", "v")
      .collect().map(r => r.getString(0) -> r.getAs[scala.collection.Seq[Double]]("centroid").toSeq).toMap
    assert(out("a") == Seq(2.0, 4.0))
    assert(out("b") == Seq(10.0, 0.0))
  }

  test("semDedup drops the higher-id member of a near-identical pair, within clusters only") {
    // ids 0,1 seed two clusters: {0,2,3} near (1,0) and {1,4} near (0,1).
    // 2 is near-identical to 0 (drop 2, keep 0); 3 is distinct enough to
    // survive; 4 is near-identical to 1 (drop 4).
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.999f, 0.01f)),
      (3L, Array(0.8f, 0.6f)),
      (4L, Array(0.01f, 0.999f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(vecs, "vec_id", "embedding",
        threshold = 0.99, kClusters = 2, iters = 1)
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("dropped")).toMap
    assert(out == Map(0L -> false, 1L -> false, 2L -> true, 3L -> false, 4L -> true))
  }

  test("semDedup blowup guard: trips when a fixture k meets grown data, silent in-bound") {
    // 40 near-identical vectors collapse into ONE cluster at kClusters=2:
    // pairs/vector ≈ 19.5, so a cap of 8 must trip driver-side (before
    // any pair join runs) and name the k ∝ N contract.
    val vecs = (0L until 40L)
      .map(i => (i, Array(1.0f, (i % 3) * 1e-4f))).toDF("vec_id", "embedding")
    val e = intercept[graft.operators.CandidateCapExceededException] {
      Similarity.semDedup(vecs, "vec_id", "embedding",
        threshold = 0.99, kClusters = 2, iters = 1, maxPairsPerVector = 8L)
    }
    assert(e.getMessage.contains("k ∝ N"), e.getMessage)
    // same data, cap above the measured mass → identical results to uncapped
    val uncapped = Similarity.semDedup(vecs, "vec_id", "embedding",
        threshold = 0.99, kClusters = 2, iters = 1)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("dropped")).toSet
    val capped = Similarity.semDedup(vecs, "vec_id", "embedding",
        threshold = 0.99, kClusters = 2, iters = 1, maxPairsPerVector = 64L)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("dropped")).toSet
    assert(capped == uncapped)
  }

  test("ivfAssign kernel: bit-identical to the k-way least-struct form; exact ties to smaller label") {
    import graft.functions.VectorFunctions
    val rng = new scala.util.Random(11)
    val vecs = (0L until 300L)
      .map(i => (i, Array.fill(8)((rng.nextDouble() * 2 - 1).toFloat)))
      .toDF("vec_id", "embedding")
    val cents: Array[(Long, Seq[Double])] =
      (0 until 12).map(c => (c * 7L, Seq.fill(8)(rng.nextDouble() * 2 - 1))).toArray
    val viaKernel = Similarity.ivfAssign(vecs, "embedding", cents)
      .select("vec_id", "cluster").as[(Long, Long)].collect().toMap
    // the replaced plan shape, reconstructed inline (k-way least over
    // per-centroid struct(l2SqExact, label) literals)
    val dcs = cents.map { case (label, cv) =>
      struct(VectorFunctions.l2SqExact(col("embedding"), typedLit(cv)).as("d"),
        lit(label).as("c"))
    }
    val viaStructs = vecs
      .withColumn("cluster", least(dcs.toSeq: _*).getField("c"))
      .select("vec_id", "cluster").as[(Long, Long)].collect().toMap
    assert(viaKernel == viaStructs)
    // two IDENTICAL centroids: every distance ties exactly -> smaller label
    val tie = Similarity.ivfAssign(vecs, "embedding",
        Array((5L, Seq.fill(8)(0.25)), (3L, Seq.fill(8)(0.25))))
      .select("cluster").distinct().as[Long].collect().toSeq
    assert(tie == Seq(3L))
  }

  test("ivfArgmin codegen: two kernel calls compile into ONE generated function") {
    // ADVICE r11: a fixed `Object r` local in doGenCode meant two
    // graft_ivf_argmin expressions fused into the same whole-stage-codegen
    // function declared the variable twice — a Janino compile failure and a
    // silent interpreted fallback. GenerateUnsafeProjection compiles the
    // expressions directly (no fallback layer), so a duplicate local fails
    // THIS test rather than silently de-optimizing production plans. Every
    // row kernel under graft.plans is one more input: two instances of each
    // compile into the same projection, and each output must equal the
    // kernel's own interpreted eval on the same row — plain inputs, null
    // elements, and null inputs.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    import graft.plans._
    val (l1, c1) = IvfArgminL2.quantize(Array((1L, Seq(0.0, 0.0, 0.0)), (2L, Seq(1.0, 1.0, 1.0))))
    val (l2, c2) = IvfArgminL2.quantize(Array((7L, Seq(0.9, 0.9, 0.9)), (9L, Seq(-1.0, -1.0, -1.0))))
    def ref(i: Int, t: DataType) = BoundReference(i, t, nullable = true)
    val dv = ref(0, ArrayType(DoubleType))
    val (fa, fb) = (ref(1, ArrayType(FloatType)), ref(2, ArrayType(FloatType)))
    val (sx, sy) = (ref(3, ArrayType(StringType)), ref(4, ArrayType(StringType)))
    val hs = ref(5, ArrayType(LongType))
    val str = ref(6, StringType)
    val kernels: Seq[Expression] = Seq(
      IvfArgminL2(dv, l1, c1), IvfArgminL2(dv, l2, c2),
      ExactVecScaled(fa, fb, dot = true), ExactVecScaled(dv, fa, dot = false),
      CosineSimilarity(fa, fb), CosineSimilarity(fb, fa),
      SortedIntersectCount(sx, sy), SortedIntersectCount(sy, sx),
      BpeMergeFold(sx, Seq(("a", "b"), ("ab", "c"))), BpeMergeFold(sy, Seq(("b", "c"))),
      EnrichedTokenCount(sx, Vector(0x5555555555555555L)), EnrichedTokenCount(sy, Vector(-1L, 0L)),
      MinHashSig(hs, 4), MinHashSig(hs, 8),
      NfcNormalize(str), NfcNormalize(str),
      HtmlEntityDecode(str), HtmlEntityDecode(str),
      PreWhitespaceSentinels(str), PreWhitespaceSentinels(str))
    val proj = GenerateUnsafeProjection.generate(kernels)
    def arr(xs: Any*) = new GenericArrayData(xs.toArray)
    def strs(xs: String*) = arr(xs.map(x => if (x == null) null else UTF8String.fromString(x)): _*)
    val rows = Seq(
      InternalRow(arr(0.8, 0.8, 0.8), arr(1.0f, 2.0f, 3.0f), arr(0.5f, -1.0f, 2.0f),
        strs("a", "b", "c", "d"), strs("b", "c", "e"), arr(1L, 2L, 3L),
        UTF8String.fromString("cafe\u0301 &amp; <pre>a b\tc</pre> d  e")),
      InternalRow(arr(0.8, null, 0.8), arr(1.0f, null, 3.0f), arr(0.5f, -1.0f, null),
        strs("a", null, "c"), strs("a", "c", null), arr(1L, null, 3L), null),
      InternalRow(null, null, null, null, null, null, null))
    def plain(v: Any, t: DataType): Any = (v, t) match {
      case (a: ArrayData, ArrayType(et, _)) => a.toObjectArray(et).toSeq
      case _ => v
    }
    rows.foreach { row =>
      val out = proj(row)
      kernels.zipWithIndex.foreach { case (e, i) =>
        val got = if (out.isNullAt(i)) null else plain(out.get(i, e.dataType), e.dataType)
        assert(got == plain(e.eval(row), e.dataType), s"${e.prettyName} (output $i) on $row")
      }
    }
    val out = proj(rows.head)
    assert(out.getLong(0) == 2L && out.getLong(1) == 7L)
  }

  test("ivfArgmin magnitude guard: out-of-contract coordinates fail loudly, not wrap") {
    // ADVICE r11: the scaled-long accumulator wraps at coordinate magnitude
    // ~sqrt(2^63/dim)/2e6 (≈1518 at dim=2, ≈48 at dim=1000) — far below the
    // old doc's ~1e5 claim. Both the centroid build (quantize) and the
    // per-row path (argmin) must throw instead of returning a wrong argmin.
    import org.apache.spark.sql.catalyst.util.ArrayData
    import graft.plans.IvfArgminL2
    val lim2 = IvfArgminL2.magLimit(2) / 1e6 // ≈ 1518 coordinate units at dim=2
    assert(lim2 > 1000 && lim2 < 3000)
    intercept[ArithmeticException] {
      IvfArgminL2.quantize(Array((0L, Seq(lim2 * 2, 0.0))))
    }
    val (labels, rows) = IvfArgminL2.quantize(Array((0L, Seq(0.0, 0.0))))
    intercept[ArithmeticException] {
      IvfArgminL2.argmin(
        ArrayData.toArrayData(Array(lim2 * 2, 0.0)), false, labels, rows)
    }
    // in-contract magnitudes still assign
    assert(IvfArgminL2.argmin(
      ArrayData.toArrayData(Array(lim2 / 2, 0.0)), false, labels, rows) == 0L)
  }

  test("u64Mod: Column, JVM twin, and BigInteger unsigned mod all agree") {
    import graft.functions.HashFunctions
    val two64 = BigInt(1) << 64
    val hs = Seq(0L, 1L, -1L, Long.MinValue, Long.MaxValue,
      -7046029254386353131L, 42L, -999999937L)
    val ns = Seq(3L, 499L, 4999L, 2147483629L)
    for (n <- ns) {
      val viaCol = hs.toDF("h")
        .select(HashFunctions.u64Mod(col("h"), lit(n)).as("m"))
        .as[Long].collect().toSeq
      val expected = hs.map { h =>
        val u = if (h < 0) BigInt(h) + two64 else BigInt(h)
        (u mod BigInt(n)).toLong
      }
      assert(viaCol == expected, s"n=$n")
      assert(hs.map(HashFunctions.u64ModLong(_, n)) == expected, s"jvm n=$n")
    }
  }

  test("hardNegatives: never self, hardest-of-k matches brute force, deterministic") {
    import graft.functions.HashFunctions
    val rng = new scala.util.Random(5)
    val n = 20
    val vecs = (0L until n.toLong).map(id =>
      (id, Array.fill(8)(rng.nextFloat() - 0.5f))).toDF("vec_id", "embedding")
    val out = Similarity.hardNegatives(vecs, "vec_id", "embedding", k = 4)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("hard_neg_id"),
        r.getAs[Double]("cosine"), r.getAs[Long]("n_cand"))).sortBy(_._1)
    assert(out.length == n)
    assert(out.forall { case (a, b, _, _) => a != b }, "self-negative leaked")
    assert(out.forall { case (_, b, _, _) => b >= 0 && b < n }, "negative id out of range")
    assert(out.forall(_._4 <= 4L))
    // replay the arithmetic sample + exact argmax in plain Scala
    val raw = vecs.collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toSeq).toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      def q(x: Float) = BigDecimal(x.toDouble).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      val dot = a.zip(b).map { case (x, y) => q(x) * q(y) }.sum
      val na = a.map(x => q(x) * q(x)).sum
      val nb = b.map(x => q(x) * q(x)).sum
      dot.toDouble / math.sqrt((na * nb).toDouble)
    }
    for ((a, b, c, nc) <- out) {
      val cands = (0 until 4).map { j =>
        val m = HashFunctions.u64ModLong(HashFunctions.mix64Long(a * 4 + j), n - 1L)
        if (m >= a) m + 1 else m
      }.distinct
      assert(nc == cands.size.toLong)
      val best = cands.map(id => (cos(raw(a), raw(id)), id))
        .maxBy { case (cv, id) => (cv, -id) }
      assert(b == best._2, s"anchor $a: got $b expected ${best._2}")
      assert(math.abs(c - best._1) < 1e-9)
    }
  }

  test("hardNegatives rejects non-contiguous ids loudly") {
    val vecs = Seq((0L, Array(1.0f)), (2L, Array(0.5f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.hardNegatives(vecs, "vec_id", "embedding").count()
    }
    assert(e.getMessage.contains("contiguous"), e.getMessage.take(200))
  }
}
