package graft

import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions

class ExpressionSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (0L, Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f)),
    (1L, Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
    (2L, Array(0.5f, 0.5f), Array(0.5f, 0.5f))
  ).toDF("id", "a", "b")

  test("CosineSimilarity matches the higher-order-function cosine") {
    val rows = vecs.select(
      GraftFunctions.cosineFast($"a", $"b").as("fast"),
      VectorRef.cosine($"a", $"b").as("hof")
    ).collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("CosineSimilarity participates in codegen (no CodegenFallback)") {
    val plan = vecs.select(GraftFunctions.cosineFast($"a", $"b"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CodegenFallback"))
  }

  test("graft_cosine is SQL-callable after registration") {
    GraftFunctions.register(spark)
    vecs.createOrReplaceTempView("vecs_test")
    val got = spark.sql("SELECT id, graft_cosine(a, b) AS c FROM vecs_test ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(math.abs(got(0)._2 - 10.0 / 14.0) < 1e-12) // dot 10, norms sqrt(14) each
    assert(got(1)._2 == 0.0)
    assert(math.abs(got(2)._2 - 1.0) < 1e-12)
  }

  test("MinHashSig matches the aggregate/zip_with composition") {
    import graft.functions.{HashFunctions, TextFunctions}
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "pack my box with five dozen liquor jugs"),
      (2L, "a a a"), // fewer tokens than shingle size → empty shingle set
      (3L, "")
    ).toDF("id", "text")
    val hashes = transform(
      TextFunctions.distinctShingles($"text", 3),
      s => HashFunctions.tokenHash(s))
    val seeds = sequence(lit(0), lit(15))
    val composed = aggregate(
      hashes,
      array_repeat(lit(Long.MaxValue), 16),
      (acc, h) => zip_with(acc, seeds, (m, s) => least(m, HashFunctions.seeded(h, s))))
    val rows = docs.select(
      GraftFunctions.minHashSig(hashes, 16).as("fast"),
      composed.as("hof")
    ).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("MinHashSig interpreted eval agrees with the DataFrame (codegen) path") {
    val hs = Array(42L, -7L, 123456789L)
    val e = graft.plans.MinHashSig(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        hs, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
      numHashes = 8)
    val interp = e.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq
    val viaDf = Seq(Tuple1(hs)).toDF("h")
      .select(GraftFunctions.minHashSig($"h", 8))
      .head().getSeq[Long](0)
    assert(interp == viaDf)
  }

  test("graft_minhash is SQL-callable after registration") {
    GraftFunctions.register(spark)
    val got = spark.sql(
      "SELECT graft_minhash(array(CAST(1 AS BIGINT), CAST(2 AS BIGINT)), 4) AS s")
      .head().getSeq[Long](0)
    assert(got.length == 4)
    assert(got.forall(_ != Long.MaxValue))
  }

  test("MinHashSig participates in codegen (no CodegenFallback)") {
    val plan = Seq(Tuple1(Array(1L, 2L))).toDF("h")
      .select(GraftFunctions.minHashSig($"h", 4))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CodegenFallback"))
  }

  test("interpreted eval agrees with codegen result") {
    // force interpreted path through the expression's nullSafeEval
    val e = graft.plans.CosineSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1.0f, 2.0f), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(2.0f, 4.0f), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    )
    val v = e.eval(null).asInstanceOf[Double]
    assert(math.abs(v - 1.0) < 1e-12)
  }

  test("EnrichedTokenCount matches the explode + xxhash64 composition") {
    import graft.functions.TextFunctions
    // adversarial corpus: multi-byte CJK, empty/whitespace-only text,
    // repeated tokens — the bucket mask and hash must agree with the
    // built-in xxhash64 on every token
    val docs = Seq(
      (0L, "the quick brown fox the fox"),
      (1L, "电信 数据 管道 电信"),
      (2L, "   "),
      (3L, "solo")
    ).toDF("id", "text")
    val numBuckets = 1024
    // enrich the buckets of 'fox' and '电信' via the composition itself
    val enrichedTokens = Seq("fox", "电信")
    val bitRows = docs.sparkSession.createDataset(enrichedTokens)(
        org.apache.spark.sql.Encoders.STRING)
      .select((xxhash64(col("value")).bitwiseAND(lit((numBuckets - 1).toLong))).as("b"))
      .collect().map(_.getLong(0))
    val bits = new Array[Long](numBuckets / 64)
    bitRows.foreach(b => bits((b >>> 6).toInt) |= 1L << (b & 63))
    val packed = graft.plans.GraftFunctions
      .enrichedCount(TextFunctions.tokens($"text"), bits)
    val fused = docs
      .select($"id", shiftright(packed, 32).as("nt"),
        packed.bitwiseAND(lit(0xffffffffL)).as("ne"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // composition: explode tokens, hash with the BUILT-IN xxhash64, test
    // membership of the enriched bucket set
    val bucketSet = bitRows.toSet
    val composed = docs
      .select($"id", explode_outer(TextFunctions.tokens($"text")).as("tok"))
      .select($"id",
        when($"tok".isNull, 0L).otherwise(1L).as("t"),
        when($"tok".isNotNull &&
          xxhash64($"tok").bitwiseAND(lit((numBuckets - 1).toLong))
            .isInCollection(bucketSet), 1L).otherwise(0L).as("e"))
      .groupBy($"id").agg(sum($"t").as("nt"), sum($"e").as("ne"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(fused.toSeq == composed.toSeq)
    assert(fused.find(_._1 == 0L).get == (0L, 6L, 2L)) // 'fox' twice
    assert(fused.find(_._1 == 1L).get == (1L, 4L, 2L)) // '电信' twice
    assert(fused.find(_._1 == 2L).get == (2L, 0L, 0L))
  }

  test("EnrichedTokenCount interpreted eval agrees with the codegen path") {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val bits = new Array[Long](16)
    // set the bucket of "fox" computed through the SAME hash the kernel uses
    val fox = (org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUTF8String(UTF8String.fromString("fox"), 42L) & 1023L).toInt
    bits(fox >>> 6) |= 1L << (fox & 63)
    val e = graft.plans.EnrichedTokenCount(
      BoundReference(0, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType), nullable = true), bits.toIndexedSeq)
    val row = InternalRow(new GenericArrayData(Array[Any](
      UTF8String.fromString("fox"), UTF8String.fromString("dog"), null)))
    val packed = e.eval(row).asInstanceOf[Long]
    assert((packed >> 32) == 2L && (packed & 0xffffffffL) == 1L)
    // codegen agreement comes from the DataFrame test above (WSCG path);
    // also pin that the kernel stays inside codegen
    val docs = Seq(Tuple1("fox dog")).toDF("text")
    val plan = docs.select(graft.plans.GraftFunctions.enrichedCount(
        graft.functions.TextFunctions.tokens($"text"), bits))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CodegenFallback"), plan.take(2000))
  }

  test("SortedIntersectCount matches size(array_intersect) on sorted sets") {
    val df = Seq(
      (Seq("a", "b", "c", "f"), Seq("b", "c", "d")),
      (Seq("a"), Seq("a")),
      (Seq("a", "z"), Seq("b", "y")),
      (Seq.empty[String], Seq("a")),
      (Seq("aa", "ab", "b"), Seq("ab", "b", "ba"))
    ).toDF("x", "y")
    val rows = df.select(
      GraftFunctions.sortedIntersectCount($"x", $"y").as("merge"),
      size(array_intersect($"x", $"y")).cast("long").as("builtin")
    ).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("SortedIntersectCount: null arrays are null, null elements stop the walk") {
    val withNullArr = Seq((Some(Seq("a")), None: Option[Seq[String]])).toDF("x", "y")
      .select(GraftFunctions.sortedIntersectCount($"x", $"y")).collect()(0)
    assert(withNullArr.isNullAt(0))
    // nulls sort last (array_sort convention); walk must not match them
    val withNullElem = Seq((Seq[String]("a", null), Seq[String]("a", null))).toDF("x", "y")
      .select(GraftFunctions.sortedIntersectCount($"x", $"y")).collect()(0)
    assert(withNullElem.getLong(0) == 1L)
  }

  test("SortedIntersectCount interpreted eval agrees with the codegen path") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val e = graft.plans.SortedIntersectCount(
      Literal.create(Seq("a", "b", "c"), ArrayType(StringType)),
      Literal.create(Seq("b", "c", "d"), ArrayType(StringType)))
    assert(e.eval(null).asInstanceOf[Long] == 2L)
  }

  test("SortedIntersectCount participates in codegen (no CodegenFallback)") {
    val plan = Seq((Seq("a"), Seq("a"))).toDF("x", "y")
      .select(GraftFunctions.sortedIntersectCount($"x", $"y"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CodegenFallback"), plan.take(2000))
  }

  test("BpeMergeFold applies merges greedily left-to-right, in rank order") {
    val df = Seq(
      Seq("a", "a", "a"),          // greedy overlap rule: (a,a) -> [aa, a]
      Seq("a", "b", "a", "b"),     // both occurrences merge in one pass
      Seq("b", "a"),               // no match
      Seq.empty[String]
    ).toDF("s")
    val got = df.select(
        GraftFunctions.bpeMergeFold($"s", Seq(("a", "a"))).as("one"),
        // rank order: (a,b) first creates "ab", then (ab,ab) sees the NEW
        // symbols from pass one
        GraftFunctions.bpeMergeFold($"s", Seq(("a", "b"), ("ab", "ab"))).as("two"))
      .collect().map(r => (r.getSeq[String](0), r.getSeq[String](1))).toSeq
    assert(got == Seq(
      (Seq("aa", "a"), Seq("a", "a", "a")),
      (Seq("a", "b", "a", "b"), Seq("abab")),
      (Seq("b", "a"), Seq("b", "a")),
      (Seq.empty[String], Seq.empty[String])))
  }

  test("BpeMergeFold: null array is null, null elements never match and copy through") {
    val nullArr = Seq((Option.empty[Seq[String]], 1)).toDF("s", "k")
      .select(GraftFunctions.bpeMergeFold($"s", Seq(("a", "a")))).collect()(0)
    assert(nullArr.isNullAt(0))
    val withNullElem = Seq(Seq[String]("a", null, "a")).toDF("s")
      .select(GraftFunctions.bpeMergeFold($"s", Seq(("a", "a"))))
      .collect()(0).getSeq[String](0)
    assert(withNullElem == Seq("a", null, "a"))
  }

  test("BpeMergeFold interpreted eval agrees with the codegen path") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val e = graft.plans.BpeMergeFold(
      Literal.create(Seq("a", "a", "a", "b"), ArrayType(StringType)),
      Seq(("a", "a"), ("aa", "a")))
    val got = e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(got.toSeq[org.apache.spark.unsafe.types.UTF8String](StringType)
      .map(s => if (s == null) null else s.toString) == Seq("aaa", "b"))
  }

  test("BpeMergeFold participates in codegen (no CodegenFallback)") {
    val plan = Seq(Seq("a", "a")).toDF("s")
      .select(GraftFunctions.bpeMergeFold($"s", Seq(("a", "a"))))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CodegenFallback"), plan.take(2000))
  }
}
