package graft

import graft.operators.Encoding

class EncodingSpec extends SparkSpec {
  import spark.implicits._

  test("looTargetEncode: exact leave-one-out means, singleton yields null") {
    val df = Seq(
      ("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 5.0), // singleton → null encoding
      ("c", 1.0), ("c", 2.0)
    ).toDF("cat", "y")
    val got = Encoding.looTargetEncode(df, "cat", "y")
      .select("cat", "y", "loo_enc")
      .collect()
      .map(r => ((r.getString(0), r.getDouble(1)),
        Option(r.get(2)).map(_.asInstanceOf[Long]))).toMap
    assert(got(("a", 1.0)).contains(2500000L)) // mean(2,3) in 1e-6 units
    assert(got(("a", 2.0)).contains(2000000L))
    assert(got(("a", 3.0)).contains(1500000L))
    assert(got(("b", 5.0)).isEmpty)
    assert(got(("c", 1.0)).contains(2000000L))
    assert(got(("c", 2.0)).contains(1000000L))
  }

  test("looTargetEncode: a row never sees its own target") {
    // two rows with wildly different targets — each encodes to the OTHER's
    // value, never a blend containing its own
    val df = Seq(("g", 0.0), ("g", 100.0)).toDF("cat", "y")
    val got = Encoding.looTargetEncode(df, "cat", "y")
      .select("y", "loo_enc").as[(Double, Long)].collect().toMap
    assert(got(0.0) == 100000000L && got(100.0) == 0L)
  }

  test("looTargetEncode: negative targets fail loudly instead of diverging") {
    val df = Seq(("a", 1.0), ("a", -0.5)).toDF("cat", "y")
    val e = intercept[Exception] {
      Encoding.looTargetEncode(df, "cat", "y").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("negative target")))
  }

  test("looTargetEncode: floor quantization at the scale unit") {
    val df = Seq(("a", 0.0000019), ("a", 0.0000019)).toDF("cat", "y")
    // floor(1.9 units) = 1 unit; each row's LOO mean is the other's 1 unit
    val got = Encoding.looTargetEncode(df, "cat", "y")
      .select("loo_enc").as[Long].collect().toSeq
    assert(got == Seq(1L, 1L))
  }

  test("percentRankPpm: tie ranks, endpoints, singleton group, group independence") {
    val df = Seq(
      ("g", 10.0), ("g", 20.0), ("g", 20.0), ("g", 30.0),
      ("h", 5.0), // singleton -> 0
      ("i", 1.0), ("i", 2.0) // independent scale: endpoints 0 and 1e6
    ).toDF("grp", "v")
    val got = Encoding.percentRankPpm(df, Seq("grp"), "v")
      .select("grp", "v", "pr_ppm").as[(String, Double, Long)].collect().toSet
    assert(got == Set(
      ("g", 10.0, 0L), ("g", 20.0, 333333L), ("g", 20.0, 333333L),
      ("g", 30.0, 1000000L),
      ("h", 5.0, 0L),
      ("i", 1.0, 0L), ("i", 2.0, 1000000L)))
  }

  test("percentRankPpm fails loudly on null features by default, drops on opt-in") {
    // Engines place nulls at opposite ends of an ascending sort (Spark
    // NULLS FIRST, DuckDB NULLS LAST) — with nulls kept, every non-null
    // row's rank would differ cross-engine. Default contract: loud error
    // (never silently fewer rows); dropNulls = true opts into filtering.
    val df = Seq(("g", Some(10.0)), ("g", None), ("g", Some(30.0)))
      .toDF("grp", "v")
    val e = intercept[Exception] {
      Encoding.percentRankPpm(df, Seq("grp"), "v").collect()
    }
    assert(e.getMessage.contains("percentRankPpm"))
    val got = Encoding.percentRankPpm(df, Seq("grp"), "v", dropNulls = true)
      .select("v", "pr_ppm").as[(Option[Double], Long)].collect().toSet
    // Null row gone; the two real rows rank over n=2, unaffected by it.
    assert(got == Set((Some(10.0), 0L), (Some(30.0), 1000000L)))
  }

  test("percentRankPpm is partition-layout independent") {
    import org.apache.spark.sql.functions.col
    val df = (1 to 200).map(i => (s"g${i % 3}", (i * 37 % 50).toDouble)).toDF("grp", "v")
    val a = Encoding.percentRankPpm(df, Seq("grp"), "v")
      .orderBy("grp", "v", "pr_ppm").collect().toSeq
    val b = Encoding.percentRankPpm(df.repartition(13, col("v")), Seq("grp"), "v")
      .orderBy("grp", "v", "pr_ppm").collect().toSeq
    assert(a == b)
  }

  test("percentRankPpmByValue: bit-identical ppm to the per-row form, counted") {
    // Heavy ties + singleton group + all-equal group: every regime where
    // rank()'s first-of-ties convention and the n==1 zero must agree
    // between the per-row window and the distinct-value cumulative sum.
    val df = ((1 to 200).map(i => (s"g${i % 3}", (i * 37 % 7).toDouble)) ++
      Seq(("solo", 5.0), ("flat", 2.0), ("flat", 2.0), ("flat", 2.0)))
      .toDF("grp", "v")
    val perRow = Encoding.percentRankPpm(df, Seq("grp"), "v")
      .groupBy("grp", "v", "pr_ppm").count()
      .select("grp", "v", "pr_ppm", "count")
      .as[(String, Double, Long, Long)].collect().toSet
    val byValue = Encoding.percentRankPpmByValue(df, Seq("grp"), "v")
      .select("grp", "v", "pr_ppm", "n_rows")
      .as[(String, Double, Long, Long)].collect().toSet
    assert(byValue == perRow)
  }

  test("percentRankPpmByValue: loud on nulls") {
    val df = Seq(("g", Some(10.0)), ("g", None), ("g", Some(30.0)))
      .toDF("grp", "v")
    val e = intercept[Exception] {
      Encoding.percentRankPpmByValue(df, Seq("grp"), "v").collect()
    }
    assert(e.getMessage.contains("percentRankPpmByValue"))
  }
}
