package graft

import org.apache.spark.sql.functions._
import graft.operators.Diagnostics

class DriftSpec extends SparkSpec {
  import spark.implicits._

  private def df(grp: String, vs: Seq[Double]) = vs.map((grp, _)).toDF("g", "v")

  /** `vs` in units of one ksDrift bin: v lands in bin ⌊v⌋. */
  private val binWidth = (Diagnostics.KsHi - Diagnostics.KsLo) / Diagnostics.KsBins
  private def binned(grp: String, vs: Seq[Double]) = df(grp, vs.map(_ * binWidth))

  test("ksDrift is zero for identical samples and maximal for disjoint ones") {
    val a = binned("g", Seq(1.0, 2.0, 3.0, 7.0))
    val same = Diagnostics.ksDrift(a, a, Seq("g"), col("v"))
      .select("n_a", "n_b", "ks_stat").as[(Long, Long, Double)].head()
    assert(same == ((4L, 4L, 0.0)))

    // A entirely in low bins, B entirely in high bins → sup |cdfA - cdfB| = 1
    val apart = Diagnostics.ksDrift(
        binned("g", Seq(0.5, 1.5)), binned("g", Seq(6.5, 7.5)),
        Seq("g"), col("v"))
      .select("ks_stat").as[Double].head()
    assert(apart == 1.0)
  }

  test("ksDrift numerator is the exact cross-multiplied CDF gap") {
    // bins 0..3: A = {0,1,2}, B = {0,3,3}
    // cum A = 1,2,3,3 ; cum B = 1,1,1,3 ; nA=3 nB=3
    // |cumA*nB - cumB*nA| per bin = 0,3,6,0 → ks_num 6, ks = 6/9
    val out = Diagnostics.ksDrift(
        binned("g", Seq(0.5, 1.5, 2.5)), binned("g", Seq(0.5, 3.5, 3.5)),
        Seq("g"), col("v"))
      .select("ks_num", "ks_stat").as[(java.math.BigDecimal, Double)].head()
    assert(out._1.longValueExact == 6L)
    assert(out._2 == 6.0 / 9.0)
  }

  test("ksDrift drops one-sided groups and is independent of partition layout") {
    val a = binned("both", Seq(1.0, 2.0)).union(binned("onlyA", Seq(3.0)))
    val b = binned("both", Seq(5.0, 6.0))
    val out = Diagnostics.ksDrift(a, b, Seq("g"), col("v"))
    assert(out.select("g").as[String].collect().toSeq == Seq("both"))

    val re = Diagnostics.ksDrift(
      a.repartition(7, col("v")), b.repartition(3, col("v")),
      Seq("g"), col("v"))
    assert(re.collect().toSeq == out.collect().toSeq)
  }

  test("ksDrift clamps out-of-range values into the edge bins") {
    // -5 clamps to bin 0, 99 clamps to the top bin: both still counted
    val out = Diagnostics.ksDrift(
        binned("g", Seq(-5.0, 99.0)), binned("g", Seq(0.5, 7.9)),
        Seq("g"), col("v"))
      .select("n_a", "n_b").as[(Long, Long)].head()
    assert(out == ((2L, 2L)))
  }

  // rows with `count` copies of each (group, bucket)
  private def events(counts: Seq[(String, Int, Int)]) =
    counts.flatMap { case (g, b, n) => Seq.fill(n)((g, b)) }.toDF("g", "b")

  test("countAnomalies flags a spike and leaves uniform buckets clean") {
    // 9 buckets of 1 plus one bucket of 5: dev² = 81(x−1)² vs z²-side
    // 36(x−1)² → flagged for any outlier; uniform group never flags.
    val d = events(
      ((1 to 9).map(i => ("spiky", i, 1)) :+ (("spiky", 10, 5))) ++
        (1 to 4).map(i => ("flat", i, 3)))
    val out = Diagnostics.countAnomalies(d, Seq("g"), col("b"))
    val spiky = out.filter(col("g") === "spiky" && col("is_anomalous"))
      .select("bucket", "n_rows").as[(Int, Long)].collect().toSeq
    assert(spiky == Seq((10, 5L)))
    assert(out.filter(col("g") === "flat" && col("is_anomalous")).count() == 0)
  }

  test("countAnomalies boundary is strict: a point at exactly z·σ is clean") {
    // one outlier among n=5 buckets sits at exactly z²=4 — with counts
    // [1,1,1,1,x], dev² = 16(x−1)² and 4·(n·ss−s²) = 16(x−1)² for ANY x:
    // exact integer arithmetic keeps the strict > stable where a
    // stddev-double comparison would flip on rounding.
    val d = events((1 to 4).map(i => ("g", i, 1)) :+ (("g", 5, 42)))
    assert(Diagnostics.countAnomalies(d, Seq("g"), col("b"))
      .filter(col("is_anomalous")).count() == 0)
  }

  test("countAnomalies verdicts are partition-layout independent") {
    val d = events(
      (1 to 9).map(i => ("spiky", i, 1)) :+ (("spiky", 10, 5)))
    val a = Diagnostics.countAnomalies(d, Seq("g"), col("b"))
      .orderBy("bucket").collect().toSeq
    val b = Diagnostics.countAnomalies(d.repartition(7, col("b")), Seq("g"), col("b"))
      .orderBy("bucket").collect().toSeq
    assert(a == b)
  }

  test("slidingAnomalies: local baseline flags what a global test misses, NULL under-baseline") {
    // A level shift: 8 buckets of 2, then 8 buckets of 10, then one 30.
    // Global μ≈7.2 makes the whole second level "high"; the trailing-7
    // baseline flags ONLY the step day, the spike day — and not the
    // steady plateau after the step.
    val d = events(
      (1 to 8).map(i => ("g", i, 2)) ++ (9 to 16).map(i => ("g", i, 10)) :+ (("g", 17, 30)))
    val out = Diagnostics.slidingAnomalies(d, Seq("g"), col("b"))
      .select("bucket", "n_rows", "baseline_n", "is_anomalous")
      .as[(Int, Long, Long, Option[Boolean])].collect().sortBy(_._1).toSeq
    // first 7 buckets: no full baseline -> NULL verdict
    val w = Diagnostics.BaselineWindow
    assert(out.take(w).forall(r => r._4.isEmpty && r._3 < w))
    val flagged = out.collect { case (b, _, _, Some(true)) => b }
    assert(flagged.contains(9) && flagged.contains(17)) // step + spike
    assert(!flagged.exists(b => b >= 13 && b <= 16))    // plateau is clean
  }

  test("slidingAnomalies verdicts are partition-layout independent") {
    val d = events((1 to 12).map(i => ("g", i, if (i == 11) 9 else i % 3 + 1)))
    val a = Diagnostics.slidingAnomalies(d, Seq("g"), col("b"))
      .orderBy("bucket").collect().toSeq
    val b = Diagnostics.slidingAnomalies(
        d.repartition(7, col("b")), Seq("g"), col("b"))
      .orderBy("bucket").collect().toSeq
    assert(a == b)
  }

  test("iqrOutliers: known quartiles, fences, and one-sided outliers") {
    // 0..100 plus two extremes: p25=25, p50=50, p75=75 over the base run →
    // fences at -50/150 once the extremes shift the quartiles slightly;
    // use a clean odd count instead: values 1..11 (p25=3.5, p75=8.5,
    // IQR=5, fences -4/16) plus outliers -10 and 40.
    val d = ((1 to 11).map(_.toDouble) ++ Seq(-10.0, 40.0)).map(("g", _)).toDF("g", "v")
    val r = Diagnostics.iqrOutliers(d, Seq("g"), "v").collect().head
    assert(r.getAs[Long]("n_rows") == 13L)
    assert(r.getAs[Double]("p50") == 6.0)
    assert(r.getAs[Long]("n_below") >= 1L && r.getAs[Long]("n_above") >= 1L)
    // fences are exactly the two-IEEE-op form of the quartiles
    val (p25, p75) = (r.getAs[Double]("p25"), r.getAs[Double]("p75"))
    assert(r.getAs[Double]("lo_fence") == p25 - 1.5 * (p75 - p25))
    assert(r.getAs[Double]("hi_fence") == p75 + 1.5 * (p75 - p25))
  }

  test("latenessAudit: exact lateness vs running watermark, first event on time") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    // user u: arrival order a1..a4 with event times 10:00, 10:30, 10:05
    // (25 min late), 09:58 (32 min late) -> 2 out-of-order, 1 beyond a
    // 30-minute watermark, max 32 min.
    val d = Seq(
      ("u", t("2024-01-01 10:00:00"), 1L, "x"),
      ("u", t("2024-01-01 10:30:00"), 2L, "x"),
      ("u", t("2024-01-01 10:05:00"), 3L, "x"),
      ("u", t("2024-01-01 09:58:00"), 4L, "x"),
      ("v", t("2024-01-01 00:00:00"), 5L, "x") // lone first event: on time
    ).toDF("user_id", "ts", "arr", "event_type")
    val r = Diagnostics.latenessAudit(d, "user_id", "ts",
        Seq(col("arr")), Seq("event_type"))
      .collect().head
    assert(r.getAs[Long]("n_events") == 5L)
    assert(r.getAs[Long]("n_out_of_order") == 2L)
    assert(r.getAs[Long]("n_beyond_watermark") == 1L)
    assert(r.getAs[Long]("max_late_us") == 32L * 60 * 1000000)
    assert(r.getAs[Long]("total_late_us") == (25L + 32L) * 60 * 1000000)
  }

  test("topContributorShare: bounded top-k election, tie-break, integral-id guard") {
    // group g: contributors 1..9 x5, 10x3, 11x3, 12x1 -> top-10 = {1..10}
    // (tie 10/11 at 3 breaks toward the SMALLER id) -> 48 of 52 rows =
    // 923076 ppm
    val rows = (1L to 9L).flatMap(id => Seq.fill(5)(("g", id))) ++ Seq.fill(3)(("g", 10L)) ++
      Seq.fill(3)(("g", 11L)) :+ (("g", 12L))
    val r = Diagnostics.topContributorShare(rows.toDF("grp", "uid"),
      Seq("grp"), "uid").collect().head
    assert(r.getAs[Long]("n_rows") == 52L)
    assert(r.getAs[Long]("n_contributors") == 12L)
    assert(r.getAs[Long]("topk_rows") == 48L)
    assert(r.getAs[Long]("topk_share_ppm") == 923076L)
    intercept[IllegalArgumentException] {
      Diagnostics.topContributorShare(
        Seq(("g", "s")).toDF("grp", "uid"), Seq("grp"), "uid")
    }
  }

  test("interArrivalSpectrum: bit-length buckets, band bounds, first events excluded") {
    import java.sql.Timestamp
    def ts(x: String) = Timestamp.valueOf(x)
    val ev = Seq(
      (1L, "a", 10L, ts("2024-01-01 10:00:00.000")),
      (1L, "a", 11L, ts("2024-01-01 10:00:00.400")), // gap 0s → bucket 0
      (1L, "a", 12L, ts("2024-01-01 10:00:03.400")), // gap 3s → bucket 2 [2,3]
      (1L, "a", 13L, ts("2024-01-01 10:00:11.400")), // gap 8s → bucket 4 [8,15]
      (2L, "a", 20L, ts("2024-01-01 10:00:00")),     // sole event → no gap
      (1L, "b", 30L, ts("2024-01-01 10:00:00")),     // type partitions separate
      (1L, "b", 31L, ts("2024-01-01 10:00:01"))      // gap 1s → bucket 1 [1,1]
    ).toDF("user_id", "event_type", "event_id", "ts")
    val got = Diagnostics.interArrivalSpectrum(
        ev, Seq("user_id", "event_type"), Seq("event_type"), "ts", "event_id")
      .collect()
      .map(r => ((r.getAs[String]("event_type"), r.getAs[Int]("bucket")),
        (r.getAs[Long]("n_gaps"), r.getAs[Long]("gap_lo_s"), r.getAs[Long]("gap_hi_s"))))
      .toMap
    assert(got == Map(
      ("a", 0) -> ((1L, 0L, 0L)),
      ("a", 2) -> ((1L, 2L, 3L)),
      ("a", 4) -> ((1L, 8L, 15L)),
      ("b", 1) -> ((1L, 1L, 1L))))
  }

  test("correlationMatrix: exact moments, perfect/anti correlation, quantization") {
    // y = 2x (corr +1), z = -x + 4 (corr -1); x = 1,2,3 in 0.01 units
    val df = Seq((0.01, 0.02, 0.03), (0.02, 0.04, 0.02), (0.03, 0.06, 0.01))
      .toDF("x", "y", "z")
    val got = Diagnostics.correlationMatrix(df, Seq("x", "y", "z"))
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getAs[Long]("n"), r.getAs[Double]("num"), r.getAs[Double]("den_a"),
          r.getAs[Double]("den_b"), r.getAs[Double]("corr")))).toMap
    // exact integer moments: x units 1,2,3 → num=12, den_x=6, den_y=24
    assert(got(("x", "y")) == ((3L, 12.0, 6.0, 24.0,
      12.0 / (math.sqrt(6.0) * math.sqrt(24.0)))))
    assert(math.abs(got(("x", "y"))._5 - 1.0) < 1e-12)
    assert(math.abs(got(("x", "z"))._5 + 1.0) < 1e-12)
    assert(math.abs(got(("y", "z"))._5 + 1.0) < 1e-12)
    // partition-layout invariance of the exact moments
    val re = Diagnostics.correlationMatrix(df.repartition(7), Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getAs[Double]("num"))).toSet
    assert(re == got.map { case ((a, b), v) => (a, b, v._2) }.toSet)
  }

  test("cooccurrenceAffinity: exact jaccard ppm, ordered pairs, no self-pairs") {
    val df = Seq(
      (1L, "x"), (1L, "y"), (1L, "x"), // duplicate (1,x) must not inflate
      (2L, "x"), (2L, "y"),
      (3L, "x"), (3L, "z")
    ).toDF("unit", "item")
    val got = Diagnostics.cooccurrenceAffinity(df, "unit", "item")
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // x: 3 units, y: 2, z: 1; x∩y = 2 → 2/3; x∩z = 1 → 1/3
    assert(got(("x", "y")) == (3L, 2L, 2L, 666666L))
    assert(got(("x", "z")) == (3L, 1L, 1L, 333333L))
    assert(!got.contains(("y", "z"))) // never co-occur → absent, not zero
    assert(got.keys.forall { case (a, b) => a < b }) // ordered, no self-pairs
  }

  test("embeddingDimStats: exact integer-unit sums, zeros, variance numerator") {
    val d = Seq(
      (1L, Seq(1.0f, 0.0f, 2.5f)),
      (2L, Seq(3.0f, 0.0f, 2.5f))
    ).toDF("vec_id", "embedding")
    val out = Diagnostics.embeddingDimStats(d, "embedding")
      .orderBy("dim")
      .collect()
      .map(r => (r.getAs[Long]("dim"), r.getAs[Long]("n_vecs"),
        r.getAs[Long]("n_zero"),
        r.getAs[Long]("sum_u"),
        r.getAs[Long]("var_num")))
    // dim0: u = 1e6, 3e6 → sum 4e6, var_num = 2·(1e12+9e12) − 16e12 = 4e12
    // dim1: all-zero → n_zero 2, var 0 ; dim2: constant → var 0
    assert(out.toSeq == Seq(
      (0L, 2L, 0L, 4000000L, 4000000000000L),
      (1L, 2L, 2L, 0L, 0L),
      (2L, 2L, 0L, 5000000L, 0L)))
  }
}
