package graft

import org.apache.spark.sql.functions._

import graft.operators.{Merge, Sketches}
import graft.plans.GraftFunctions

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  // ---- deterministic HLL ----

  test("hllDistinct estimate lands within the standard error envelope") {
    val n = 5000
    val df = (1 to n).map(i => ("g", i.toLong)).toDF("g", "k")
    val est = Sketches.hllDistinct(df, Seq("g"), col("k"))
      .select("est_distinct").as[Double].head()
    // raw estimator, m=256 → ~6.5% standard error; allow 3 sigma
    assert(math.abs(est - n) / n < 0.20, s"estimate $est too far from $n")
  }

  test("hllDistinct is invariant to partitioning and row order") {
    val df = (1 to 2000).map(i => (if (i % 2 == 0) "a" else "b", (i * 7919).toLong))
      .toDF("g", "k")
    val base = Sketches.hllDistinct(df, Seq("g"), col("k"))
      .orderBy("g").collect().map(r => (r.getString(0), r.getDouble(1)))
    val shuffled = Sketches.hllDistinct(
        df.repartition(13, col("k")).sortWithinPartitions(col("k").desc),
        Seq("g"), col("k"))
      .orderBy("g").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(base.toSeq == shuffled.toSeq) // bit-identical doubles
  }

  test("hllDistinct matches a driver-side replay of the same math") {
    val keys = (1 to 1200).map(i => (i * 104729).toLong)
    val df = keys.map(("g", _)).toDF("g", "k")
    val est = Sketches.hllDistinct(df, Seq("g"), col("k"))
      .select("est_distinct").as[Double].head()

    val m = 256
    val regs = new Array[Int](m)
    keys.foreach { k =>
      val h = HashRef.mix64(k)
      val b = (h & (m - 1)).toInt
      val w = h >>> 8
      val rho = if (w == 0L) 57 else 57 - (64 - java.lang.Long.numberOfLeadingZeros(w))
      if (rho > regs(b)) regs(b) = rho
    }
    val s = regs.map(r => BigInt(1) << (57 - r)).sum
    val expected = Sketches.HllNumerator / s.toDouble
    assert(est == expected) // exact: same integer path, one final division
  }

  test("hllMerge of sliced registers equals the full-data sketch exactly") {
    val df = (1 to 3000).map(i => ("g", (i * 6007).toLong, i % 3)).toDF("g", "k", "slice")
    val sliced = Sketches.hllRegisters(df, Seq("g", "slice"), col("k"))
    val merged = Sketches.hllMerge(sliced.drop("slice"), Seq("g"))
    val estMerged = Sketches.hllEstimateFromRegisters(merged, Seq("g"))
      .select("est_distinct").as[Double].head()
    val estFull = Sketches.hllDistinct(df, Seq("g"), col("k"))
      .select("est_distinct").as[Double].head()
    assert(estMerged == estFull) // register max is the loss-free merge law
  }

  test("sliding-window register composition tracks the exact 7-day distinct (q89 audit)") {
    // The catalog q89 ships the register path ALONE (the exact count over
    // the ×7 (day, user) fan is the very shuffle the composition removes at
    // scale) — so the exact-vs-estimate audit lives here, at fixture scale,
    // over the identical fan + merge + estimate composition.
    import org.apache.spark.sql.functions.{col, count_distinct, explode, expr, lit, sequence}
    val rows = for {
      d <- 1 to 14
      u <- 1 to 4000
      // deterministic ~40% presence per (day, user): windows overlap but differ
      if (((u * 2654435761L + d * 40503L) >>> 3) & 7) < 3
    } yield (java.sql.Timestamp.valueOf(f"2024-03-$d%02d 00:00:00"), u.toLong)
    val ev = rows.toDF("day", "user_id")
    val days = ev.select(col("day").as("target_day")).distinct()
    def fan(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("__off", explode(sequence(lit(0), lit(6))))
      .withColumn("target_day", col("day") + expr("make_interval(0, 0, 0, __off)"))
      .join(days, "target_day")
      .drop("day", "__off")
      .withColumnRenamed("target_day", "day")
    val est = Sketches.hllEstimateFromRegisters(
        Sketches.hllMerge(fan(Sketches.hllRegisters(ev, Seq("day"), col("user_id"))),
          Seq("day")), Seq("day"))
      .collect().map(r => (r.getTimestamp(0), r.getDouble(1))).toMap
    val exact = fan(ev.distinct())
      .groupBy("day").agg(count_distinct(col("user_id")).as("n"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (d, n) =>
      // m=256 raw estimator: ~6.5% standard error; 3 sigma envelope
      assert(math.abs(est(d) - n) / n < 0.20, s"$d: est ${est(d)} vs exact $n")
    }
  }

  test("bitmapSlidingDistinct equals brute-force window distinct, incl. word edges") {
    // ids straddle the 63-bit word boundaries: 0/62 share word 0, 63 opens
    // word 1, 127 spans into word 2, 200 in word 3
    val ev = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 0L),
      (java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), 63L),
      (java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 63L), // dup, same day
      (java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), 64L),
      (java.sql.Timestamp.valueOf("2024-01-03 10:00:00"), 0L),  // repeat across days
      (java.sql.Timestamp.valueOf("2024-01-05 10:00:00"), 127L),
      (java.sql.Timestamp.valueOf("2024-01-09 10:00:00"), 200L) // days 1-2 fall out of its window
    ).toDF("ts", "user_id")
    val got = graft.operators.Sketches
      .bitmapSlidingDistinct(ev, "ts", "user_id")
      .collect()
      .map(r => (r.getAs[java.sql.Date]("day").toString, r.getAs[Long]("n_exact"))).toMap
    // brute force over the same 7-day windows
    assert(got == Map(
      "2024-01-01" -> 2L, // {0,63}
      "2024-01-02" -> 3L, // {0,63,64}
      "2024-01-03" -> 3L, // {0,63,64} (0 repeats)
      "2024-01-05" -> 4L, // {0,63,64,127}
      "2024-01-09" -> 3L  // {0,127,200} (day3's 0 still inside, days 1-2 aged out)
    ))
    // only days present in the data appear — no trailing ghost windows
    assert(!got.contains("2024-01-04") && !got.contains("2024-01-10"))
  }

  // ---- NFC normalization ----

  test("nfcNormalize composes decomposed sequences and preserves NFC text") {
    val decomposed = "Cafe\u0301 du Muse\u0301e" // e + COMBINING ACUTE ACCENT
    val composed = "Caf\u00e9 du Mus\u00e9e"
    val df = Seq((1L, decomposed), (2L, composed), (3L, "plain ascii"), (4L, null))
      .toDF("id", "t")
    val out = df.select(col("id"), GraftFunctions.nfcNormalize(col("t")).as("n"))
      .orderBy("id").as[(Long, String)].collect()
    assert(out(0)._2 == composed) // decomposed → composed
    assert(out(1)._2 == composed) // already NFC → unchanged
    assert(out(2)._2 == "plain ascii")
    assert(out(3)._2 == null) // null propagates
  }

  test("nfcNormalize interpreted and codegen paths agree with the JDK normalizer") {
    // A + RING, e + ACUTE, d + DOT BELOW + DOT ABOVE (combining marks
    // reorder canonically under NFC)
    val s = "A\u030a bc de\u0301f d\u0307\u0323"
    val df = Seq(s).toDF("t")
    val projected = df.select(GraftFunctions.nfcNormalize(col("t"))).as[String].head()
    assert(projected == java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    val kept = df.filter(
      length(GraftFunctions.nfcNormalize(col("t"))) === lit(projected.length)).count()
    assert(kept == 1L)
  }

  test("nfc equality after normalization enables exact dedup of canonical twins") {
    val df = Seq((1L, "r\u00e9sum\u00e9"), (2L, "re\u0301sume\u0301")).toDF("id", "t")
    val distinctRaw = df.select("t").distinct().count()
    val distinctNfc = df.select(GraftFunctions.nfcNormalize(col("t"))).distinct().count()
    assert(distinctRaw == 2L && distinctNfc == 1L)
  }

  // ---- count-min heavy hitters ----

  test("cmsTopK estimates upper-bound exact counts and rank true heavy hitters first") {
    // key 7 appears 300x, key 13 100x, 400 singletons
    val rows = Seq.fill(300)(7L) ++ Seq.fill(100)(13L) ++ (1000L until 1400L)
    val df = rows.map(("g", _)).toDF("g", "k")
    val top = Sketches.cmsTopK(df, Seq("g"), col("k"))
      .orderBy(col("est_count").desc, col("key")).collect()
    assert(top.length == Sketches.CmsTopK)
    assert(top.map(_.getAs[Long]("key")).take(2).toSeq == Seq(7L, 13L))
    top.foreach { r =>
      assert(r.getAs[Long]("est_count") >= r.getAs[Long]("exact_count")) // CMS never undercounts
    }
    assert(top(0).getAs[Long]("exact_count") == 300L)
  }

  test("cmsTopK is deterministic under repartitioning") {
    val rows = (1 to 500).map(i => ("g", (i % 37).toLong))
    val df = rows.toDF("g", "k")
    val a = Sketches.cmsTopK(df, Seq("g"), col("k"))
      .orderBy(col("est_count").desc, col("key")).collect().toSeq
    val b = Sketches.cmsTopK(df.repartition(11, col("k")), Seq("g"), col("k"))
      .orderBy(col("est_count").desc, col("key")).collect().toSeq
    assert(a == b)
  }

  // ---- upsert merge ----

  private def ev(rows: (Long, Long, Int, String)*) =
    rows.toSeq.toDF("event_id", "user_id", "v", "payload")

  test("upsertLatest keeps the newest version per key, updates win ties") {
    val base = ev((10L, 1L, 5, "base-old"), (11L, 2L, 9, "base-keep"), (12L, 3L, 1, "tie-base"))
    val updates = ev((20L, 1L, 7, "upd-new"), (21L, 3L, 1, "tie-upd"))
    val out = Merge.upsertLatest(base, updates, Seq("user_id"), "v", "event_id")
      .orderBy("user_id").as[(Long, Long, Int, String)].collect()
    assert(out.map(_._4).toSeq == Seq("upd-new", "base-keep", "tie-upd"))
  }

  test("upsertLatest re-applying the same batch is a no-op") {
    val base = ev((1L, 1L, 3, "a"), (2L, 2L, 4, "b"))
    val batch = ev((3L, 1L, 5, "a2"))
    val once = Merge.upsertLatest(base, batch, Seq("user_id"), "v", "event_id")
    val twice = Merge.upsertLatest(once, batch, Seq("user_id"), "v", "event_id")
    assert(once.orderBy("user_id").collect().toSeq ==
      twice.orderBy("user_id").collect().toSeq)
  }

  test("upsertLatest rejects mismatched schemas") {
    val base = ev((1L, 1L, 3, "a"))
    val bad = Seq((1L, 1L)).toDF("event_id", "user_id")
    intercept[IllegalArgumentException] {
      Merge.upsertLatest(base, bad, Seq("user_id"), "v", "event_id")
    }
  }

  // ---- CMS join-size estimation ----

  test("cmsJoinSize never undercounts and exact_pairs matches the true join size") {
    // skewed key mix: key 1 × 50, key 2 × 10, keys 100..149 × 1 on side A;
    // key 1 × 3, key 2 × 7, keys 120..129 × 2 on side B
    val a = (Seq.fill(50)(1L) ++ Seq.fill(10)(2L) ++ (100L until 150L)).toDF("k")
    val b = (Seq.fill(3)(1L) ++ Seq.fill(7)(2L) ++
      (120L until 130L) ++ (120L until 130L)).toDF("k")
    val out = Sketches.cmsJoinSize(a, b, col("k"), col("k"))
      .select(
        col("est_pairs").cast("long"), col("exact_pairs").cast("long"), col("overestimates"))
      .as[(Long, Long, Boolean)].head()

    val truth = a.join(b, "k").count()
    assert(truth == 50L * 3 + 10L * 7 + 10L * 2) // 240
    assert(out._2 == truth)
    assert(out._1 >= truth, s"CMS estimate ${out._1} undercounts $truth")
    assert(out._3)
    // 62 distinct keys in 1024 buckets: the min-over-depth estimate should
    // stay close (collision overshoot is bounded, not a blowup)
    assert(out._1 <= 2 * truth, s"estimate ${out._1} implausibly large")
  }

  test("cmsJoinSize on disjoint key sets estimates from shared buckets only") {
    val a = (1L to 40L).toDF("k")
    val b = (1000L to 1040L).toDF("k")
    val out = Sketches.cmsJoinSize(a, b, col("k"), col("k"))
      .select(col("est_pairs").cast("long"), col("exact_pairs").cast("long"))
      .as[(Long, Long)].head()
    assert(out._2 == 0L)
    // only hash collisions contribute; with 40×41 keys in 1024×4 buckets the
    // min over depth rows is a small number, and never negative
    assert(out._1 >= 0L && out._1 <= 20L)
  }
}
