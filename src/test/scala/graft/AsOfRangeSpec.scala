package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, Rollup, Sampling}
import graft.functions.{HashFunctions, TextFunctions}

/** Specs for the round-3 operators: as-of join, forward range aggregation,
  * deterministic hash sampling, and the repetition quality metrics.
  */
class AsOfRangeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("asOfJoin picks the latest right row at or before each left ts, per key") {
    val left = Seq(
      (1L, "u1", ts("2024-01-01 10:00:00")),
      (2L, "u1", ts("2024-01-01 12:00:00")),
      (3L, "u2", ts("2024-01-01 11:00:00")),
      (4L, "u3", ts("2024-01-01 09:00:00")) // key with no right rows at all
    ).toDF("id", "user", "t")
    val right = Seq(
      ("u1", ts("2024-01-01 09:30:00"), 10.0),
      ("u1", ts("2024-01-01 11:59:59"), 20.0),
      ("u2", ts("2024-01-01 11:00:00"), 30.0), // exactly concurrent: matches
      ("u2", ts("2024-01-01 11:00:01"), 40.0) // in the future: must not match
    ).toDF("user", "t", "v")
    val out = AsOfJoin
      .asOfJoin(left, right, "user", "t", "t", Seq("v"))
      .orderBy("id")
      .collect()
    assert(out.map(_.getAs[Long]("id")).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(out(0).getAs[Double]("asof_v") == 10.0)
    assert(out(1).getAs[Double]("asof_v") == 20.0)
    assert(out(2).getAs[Double]("asof_v") == 30.0)
    assert(out(2).getAs[Timestamp]("asof_ts") == ts("2024-01-01 11:00:00"))
    assert(out(3).isNullAt(out(3).fieldIndex("asof_v")))
    assert(out(3).isNullAt(out(3).fieldIndex("asof_ts")))
  }

  test("asOfJoin preserves every left column and row count") {
    val left = Seq((1L, "u1", ts("2024-01-01 10:00:00"), "extra")).toDF("id", "user", "t", "payload")
    val right = Seq(("u1", ts("2024-01-01 09:00:00"), 1.5)).toDF("user", "t", "v")
    val out = AsOfJoin.asOfJoin(left, right, "user", "t", "t", Seq("v"))
    assert(out.columns.toSeq == Seq("id", "user", "t", "payload", "asof_ts", "asof_v"))
    assert(out.count() == 1)
    assert(out.head.getAs[String]("payload") == "extra")
  }

  test("forwardRangeAgg matches a brute-force range self-join") {
    val rows = Seq(
      (1L, "u1", ts("2024-01-01 10:00:00"), 1.0),
      (2L, "u1", ts("2024-01-01 10:30:00"), 2.0),
      (3L, "u1", ts("2024-01-01 11:00:00"), 4.0), // exactly +1h from id 1: inside (t, t+1h]
      (4L, "u1", ts("2024-01-01 12:30:00"), 8.0),
      (5L, "u2", ts("2024-01-01 10:15:00"), 16.0) // other key: never counted for u1
    ).toDF("id", "user", "t", "v")
    val out = Rollup
      .forwardRangeAgg(rows, "user", "t", "v")
      .orderBy("id")
      .collect()
    val got = out.map(r => (r.getAs[Long]("id"), r.getAs[Long]("n_next"), r.getAs[Double]("sum_next")))
    assert(got.toSeq == Seq(
      (1L, 2L, 6.0), // ids 2 and 3 (boundary inclusive)
      (2L, 1L, 4.0),
      (3L, 0L, 0.0),
      (4L, 0L, 0.0),
      (5L, 0L, 0.0)
    ))
  }

  /** Bernoulli sample at `fraction` through [[Sampling.hashBucket]]. */
  private def hashSample(df: org.apache.spark.sql.DataFrame, fraction: Double, salt: Long) =
    df.filter(Sampling.hashBucket(col("id"), salt) < lit(math.round(fraction * Sampling.Buckets)))

  test("hashSample is deterministic, disjoint under different salts, and near-rate") {
    val df = (0L until 4000L).toDF("id")
    val a = hashSample(df, 0.25, salt = 1L)
    val b = hashSample(df, 0.25, salt = 1L)
    assert(a.collect().map(_.getLong(0)).toSeq == b.collect().map(_.getLong(0)).toSeq)
    val n = a.count()
    assert(n > 4000 * 0.20 && n < 4000 * 0.30, s"rate off: $n/4000")
    // different salt → a (near-)independent draw, not the same subset
    val c = hashSample(df, 0.25, salt = 2L).collect().map(_.getLong(0)).toSet
    val aSet = a.collect().map(_.getLong(0)).toSet
    val overlap = aSet.intersect(c).size.toDouble / n
    assert(overlap < 0.40, s"salted samples nearly identical: $overlap")
  }

  test("stratifiedHashSample applies per-stratum rates") {
    val df = (0L until 3000L).map(i => (i, if (i % 3 == 0) "big" else "small")).toDF("id", "s")
    val out = Sampling
      .stratifiedHashSample(df, "id", "s", Map("big" -> 0.1))
      .groupBy("s").count().collect()
      .map(r => r.getAs[String]("s") -> r.getAs[Long]("count")).toMap
    // big at its mapped 0.1 of 1000, small at the default 0.6 of 2000
    assert(out("big") < 150, s"big: ${out("big")}")
    assert(out("small") > 1050 && out("small") < 1350, s"small: ${out("small")}")
  }

  test("stratified sampling decisions agree with the scalar hash formula") {
    // replicates Sampling.hashBucket row-by-row on the driver
    import graft.HashRef.mix64
    val ids = (0L until 500L)
    val expected = ids.filter { i =>
      val b = math.floorMod(mix64(i + 7L * 0x9E3779B97F4A7C15L), 1000000L)
      b < 600000L
    }
    val got = hashSample(ids.toDF("id"), 0.6, salt = 7L)
      .collect().map(_.getLong(0)).toSeq
    assert(got.sorted == expected.sorted)
  }

  test("repetition metrics on hand-checked docs") {
    val df = Seq(
      (1L, "a a a b"), // 4 tokens, 2 distinct, top=3; bigrams: "a a","a a","a b" → 3, distinct 2
      (2L, "x y z"), // all unique
      (3L, "") // empty → all zeros
    ).toDF("doc_id", "text")
    val toks = TextFunctions.tokens(col("text"))
    val out = df.select(
      col("doc_id"),
      TextFunctions.dupTokenFraction(toks).as("dup"),
      TextFunctions.topTokenFraction(toks).as("top"),
      TextFunctions.dupShingleFraction(toks).as("big")
    ).orderBy("doc_id").collect()
    assert(out(0).getDouble(1) == 0.5) // (4-2)/4
    assert(out(0).getDouble(2) == 0.75) // 3/4
    assert(out(0).getDouble(3) == 1.0 / 3.0) // (3-2)/3
    assert(out(1).getDouble(1) == 0.0 && out(1).getDouble(2) == 1.0 / 3.0 && out(1).getDouble(3) == 0.0)
    assert(out(2).getDouble(1) == 0.0 && out(2).getDouble(2) == 0.0 && out(2).getDouble(3) == 0.0)
  }

  test("approx_count_distinct tier stays within its error bound vs exact (q50/q34)") {
    val df = (0L until 10000L).map(i => (i % 7, i % 2000)).toDF("g", "u")
    val exact = df.groupBy("g").agg(countDistinct(col("u")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approx = df.groupBy("g").agg(approx_count_distinct(col("u")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    exact.foreach { case (g, d) =>
      assert(math.abs(approx(g) - d).toDouble / d < 0.10, s"group $g: $d vs ${approx(g)}")
    }
  }

  // fixture times are MILLISECONDS (Timestamp ctor unit); µs = ms·1000
  private def iv(key: String, id: Long, s: Long, e: Long) = {
    import java.sql.Timestamp
    (key, id, new Timestamp(s), new Timestamp(e))
  }

  test("intervalOverlapJoin: closed endpoints, key separation, multi-cell pairs emit once") {
    import graft.operators.AsOfJoin
    val l = Seq(
      iv("k", 1L, 0L, 100000L),        // overlaps r1/r2, touches r3 at 100000
      iv("k", 2L, 500000L, 600000L),   // overlaps nothing
      iv("k", 3L, 0L, 10000000L),      // spans MANY 7s cells; overlaps r1/r2/r3/r4
      iv("z", 4L, 0L, 100000L)         // other key: must not see k's rights
    ).toDF("key", "l_id", "l_s", "l_e")
    val r = Seq(
      iv("k", 11L, 50000L, 70000L),
      iv("k", 12L, 90000L, 150000L),
      iv("k", 13L, 100000L, 200000L),  // touches l1's end exactly -> closed match
      iv("k", 14L, 9000000L, 9500000L),
      iv("z", 15L, 99000L, 99500L)
    ).toDF("key", "r_id", "r_s", "r_e")
    // 700 s cells: l3 (10,000 s span) registers in ~15 cells — the
    // multi-cell dedup path is genuinely exercised
    val got = AsOfJoin.intervalOverlapJoin(l, r, Seq("key"),
        "l_s", "l_e", "r_s", "r_e", binWidthUs = 700000000L)
      .select("key", "l_id", "r_id").as[(String, Long, Long)].collect().toSeq
    // no duplicate pairs even though l3 shares many cells with each right
    assert(got.size == got.distinct.size, s"duplicated pairs: $got")
    assert(got.toSet == Set(
      ("k", 1L, 11L), ("k", 1L, 12L), ("k", 1L, 13L),
      ("k", 3L, 11L), ("k", 3L, 12L), ("k", 3L, 13L), ("k", 3L, 14L),
      ("z", 4L, 15L)))
  }

  test("intervalOverlapJoin matches brute force across bin widths; reversed interval fails loudly") {
    import graft.operators.AsOfJoin
    val rng = new scala.util.Random(3)
    val ls = (1L to 60L).map { i =>
      val s = rng.nextInt(1000000).toLong; iv(s"k${i % 2}", i, s, s + rng.nextInt(300000))
    }
    val rs = (101L to 160L).map { i =>
      val s = rng.nextInt(1000000).toLong; iv(s"k${i % 2}", i, s, s + rng.nextInt(300000))
    }
    val brute = (for {
      (lk, li, lsrt, lend) <- ls; (rk, ri, rsrt, rend) <- rs
      if lk == rk && lsrt.getTime <= rend.getTime && rsrt.getTime <= lend.getTime
    } yield (lk, li, ri)).toSet
    val lDf = ls.toDF("key", "l_id", "l_s", "l_e")
    val rDf = rs.toDF("key", "r_id", "r_s", "r_e")
    // narrow (≈6 cells/interval), medium, and one-cell-for-everything
    for (w <- Seq(50000000L, 1000000000L, 10000000000000L)) {
      val got = AsOfJoin.intervalOverlapJoin(lDf, rDf, Seq("key"),
          "l_s", "l_e", "r_s", "r_e", binWidthUs = w)
        .select("key", "l_id", "r_id").as[(String, Long, Long)].collect()
      assert(got.length == got.distinct.length, s"dup pairs at width $w")
      assert(got.toSet == brute, s"mismatch at width $w")
    }
    val bad = Seq(iv("k", 1L, 100L, 50L)).toDF("key", "l_id", "l_s", "l_e")
    val e = intercept[Exception] {
      AsOfJoin.intervalOverlapJoin(bad, rDf, Seq("key"),
        "l_s", "l_e", "r_s", "r_e", binWidthUs = 1000L).count()
    }
    assert(e.getMessage.contains("reversed interval"))
  }
}
