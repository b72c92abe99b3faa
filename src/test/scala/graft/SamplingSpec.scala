package graft

import org.apache.spark.sql.functions._
import graft.operators.Sampling

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  test("rebalanceToSmallest keeps the smallest group whole and downsamples the rest") {
    val rows = (0L until 100L).map(i => (i, "big")) ++ (100L until 110L).map(i => (i, "small"))
    val df = rows.toDF("id", "grp")
    val out = Sampling.rebalanceToSmallest(df, "id", "grp", salt = 13L)
      .select("id", "grp").as[(Long, String)].collect()

    // smallest group: bucket·cnt < Buckets·target degenerates to bucket < Buckets → all kept
    assert(out.count(_._2 == "small") == 10)

    // big group: exactly the rows satisfying the integer inequality survive
    val expectedBig = df.filter(col("grp") === "big")
      .filter(Sampling.hashBucket(col("id"), 13L) * 100L < Sampling.Buckets * 10L)
      .select("id").as[Long].collect().toSet
    assert(out.filter(_._2 == "big").map(_._1).toSet == expectedBig)
    // the derived ~10% rate actually thins the group (hash-dependent, but
    // binomial(100, 0.1) stays well inside [1, 30])
    assert(expectedBig.size >= 1 && expectedBig.size <= 30)

    // deterministic: a second run selects the identical rows
    val again = Sampling.rebalanceToSmallest(df, "id", "grp", salt = 13L)
      .select("id").as[Long].collect().toSet
    assert(again == out.map(_._1).toSet)
  }

  test("rebalanceToTarget matches the weight mixture, keeps the binding group whole") {
    // a:2000 b:500 c:300 rows; target 2:1:1 → binding is c (300/1 < 500/1,
    // 2000/2); expected kept ≈ a:600 b:300 c:300
    val df = ((1L to 2000L).map(("a", _)) ++ (10001L to 10500L).map(("b", _)) ++
      (20001L to 20300L).map(("c", _))).toDF("grp", "id")
    val kept = Sampling.rebalanceToTarget(
      df, "id", "grp", Map("a" -> 2L, "b" -> 1L, "c" -> 1L), salt = 5L)
    val byGrp = kept.groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(byGrp("c") == 300L) // binding group never thinned
    assert(math.abs(byGrp("a") - 600L) < 60, s"a kept ${byGrp("a")}")
    assert(math.abs(byGrp("b") - 300L) < 40, s"b kept ${byGrp("b")}")
    // achieved mixture ~2:1:1
    assert(math.abs(byGrp("a").toDouble / byGrp("c") - 2.0) < 0.25)
    // no invented rows, deterministic under repartition
    assert(kept.exceptAll(df).count() == 0)
    val again = Sampling.rebalanceToTarget(
      df.repartition(9, col("id")), "id", "grp",
      Map("a" -> 2L, "b" -> 1L, "c" -> 1L), salt = 5L)
    assert(again.select("id").as[Long].collect().sorted.toSeq ==
      kept.select("id").as[Long].collect().sorted.toSeq)
  }

  test("temperatureRebalance flattens shares toward sqrt(n) and keeps the binding group whole") {
    // a:3600 b:900 c:400 → isqrt weights 60:30:20; binding = min(n/w):
    // c gives 400/20 = 20 (< 900/30 = 30, 3600/60 = 60) → c kept whole,
    // expected kept ≈ a:1200 b:600 c:400 (shares 60:30:20)
    val df = ((1L to 3600L).map(("a", _)) ++ (10001L to 10900L).map(("b", _)) ++
      (20001L to 20400L).map(("c", _))).toDF("grp", "id")
    val kept = Sampling.temperatureRebalance(df, "id", "grp", salt = 7L)
    val byGrp = kept.groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(byGrp("c") == 400L, s"binding group thinned: ${byGrp("c")}")
    assert(math.abs(byGrp("a") - 1200L) < 100, s"a kept ${byGrp("a")}")
    assert(math.abs(byGrp("b") - 600L) < 60, s"b kept ${byGrp("b")}")
    // the whole point: the natural share of a (3600/4900 = 73%) flattens
    // toward its sqrt share (60/110 = 55%)
    val total = byGrp.values.sum.toDouble
    assert(byGrp("a") / total < 0.60 && byGrp("a") / total > 0.50)
    // no invented rows; deterministic under repartitioning
    assert(kept.exceptAll(df).count() == 0)
    val again = Sampling.temperatureRebalance(df.repartition(11, col("id")), "id", "grp", salt = 7L)
    assert(again.select("id").as[Long].collect().sorted.toSeq ==
      kept.select("id").as[Long].collect().sorted.toSeq)
  }

  test("epochMixPlan: integer identities hold, budget undershoot bounded by |groups|") {
    val df = ((1L to 300L).map(("a", _)) ++ (1L to 40L).map(("b", _))).toDF("grp", "id")
    val plan = Sampling.epochMixPlan(df, "grp", Map("a" -> 1L, "b" -> 2L))
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // target = floor(budget*w/sumW) with budget 1000: a -> 333, b -> 666
    assert(plan("a")._4 == 333L && plan("b")._4 == 666L)
    // identity: target = epochs*n + remainder, 0 <= remainder < n
    for ((_, (_, n, _, t, e, r)) <- plan) {
      assert(t == e * n + r)
      assert(r >= 0 && r < n)
    }
    // a: 333 of 300 rows -> 1 full epoch + 33; b: 666 of 40 -> 16 epochs + 26
    assert(plan("a")._5 == 1L && plan("a")._6 == 33L)
    assert(plan("b")._5 == 16L && plan("b")._6 == 26L)
    // floor undershoot bounded by the group count
    val totalTarget = plan.values.map(_._4).sum
    val budget = Sampling.MixBudgetRows
    assert(totalTarget <= budget && budget - totalTarget < 2)
    // guard
    intercept[IllegalArgumentException] {
      Sampling.epochMixPlan(df, "grp", Map("a" -> 0L))
    }
  }

  test("rebalanceToTarget drops unweighted groups and validates weights") {
    val df = Seq(("a", 1L), ("x", 2L)).toDF("grp", "id")
    val kept = Sampling.rebalanceToTarget(df, "id", "grp", Map("a" -> 1L))
    assert(kept.select("grp").as[String].collect().toSeq == Seq("a"))
    intercept[IllegalArgumentException] {
      Sampling.rebalanceToTarget(df, "id", "grp", Map("a" -> 0L))
    }
  }

  test("capPerGroup keeps at most k per group in salted-hash order") {
    val df = ((1L to 200L).map(("big", _)) ++ (1001L to 1020L).map(("mid", _)) ++
      (2001L to 2003L).map(("tiny", _))).toDF("grp", "id")
    val out = Sampling.capPerGroup(df, "grp", "id", salt = 7L)
      .as[(String, Long, Long)].collect()

    val k = Sampling.GroupCap
    val byGrp = out.groupBy(_._1)
    assert(byGrp("big").length == k)
    assert(byGrp("mid").length == k) // exactly at the cap
    assert(byGrp("tiny").length == 3) // under the cap: kept whole
    // ranks are 1..n within each group
    byGrp.values.foreach { rows =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }

    // selection = the k smallest 52-bit salted hashes, rank = hash order
    // (replayed on the driver through the shared HashRef mix64)
    def rank52(id: Long): Long = {
      val h = HashRef.mix64(id + 7L * 0x9E3779B97F4A7C15L)
      val m = h % (1L << 52)
      if (m < 0) m + (1L << 52) else m
    }
    val expectBig = (1L to 200L).sortBy(id => (rank52(id), id)).take(k)
    assert(byGrp("big").sortBy(_._3).map(_._2).toSeq == expectBig)
  }

  test("budgetPerGroup respects the budget and is prefix-closed in hash order") {
    val budget = Sampling.GroupBudget
    val raw = (1L to 50L).map(i => ("s" + (i % 3), i, (10L + i % 7) * 100))
    val df = raw.toDF("grp", "id", "cost")
    val kept = Sampling.budgetPerGroup(df, "grp", "id", col("cost"), salt = 3L)
    val rows = kept.select("grp", "id", "cost", "cum_cost").as[(String, Long, Long, Long)].collect()

    // every kept row's running total is within budget, and per-group sums agree
    assert(rows.forall(_._4 <= budget))
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._3).sum == rs.map(_._4).max)
    }

    // the kept set is each group's salted-hash-order prefix within budget
    // (replayed on the driver through the shared HashRef mix64)
    def rank52(id: Long): Long = {
      val h = HashRef.mix64(id + 3L * 0x9E3779B97F4A7C15L)
      val m = h % (1L << 52)
      if (m < 0) m + (1L << 52) else m
    }
    val expected = raw.groupBy(_._1).values.flatMap { rs =>
      val ordered = rs.sortBy(r => (rank52(r._2), r._2))
      ordered.zip(ordered.scanLeft(0L)(_ + _._3).tail).takeWhile(_._2 <= budget).map(_._1._2)
    }.toSet
    assert(expected.nonEmpty && expected.size < raw.size)
    assert(rows.map(_._2).toSet == expected)

    // a row larger than the remaining budget is skipped along with its suffix
    // (cumulative semantics), never partially counted
    val one = Sampling.budgetPerGroup(
      Seq(("g", 1L, budget + 1)).toDF("grp", "id", "cost"), "grp", "id", col("cost"))
    assert(one.count() == 0)
  }

  test("quantileThresholds at full sample is the exact group percentile") {
    // seven ids that all fall in the 1-in-4 hash sample at salt 1
    val ids = spark.range(1L, 400L)
      .filter(graft.functions.HashFunctions.seeded($"id", lit(1L)).bitwiseAND(lit(1023L)) < 256L)
      .as[Long].collect().take(7)
    assert(ids.length == 7)
    val df = ids.zipWithIndex.map { case (id, i) =>
      (id, if (i < 5) "a" else "b", (i + 1).toDouble)
    }.toSeq.toDF("id", "grp", "v")
    val thr = Sampling.quantileThresholds(df, "id", "grp", "v", salt = 1L)
      .orderBy("grp")
      .collect()
      .map(r => (r.getAs[String]("grp"), r.getAs[Double]("threshold"), r.getAs[Long]("n_sample")))
    // a: values 1..5, p25 = 2.0; b: values 6,7, p25 = 6.25
    assert(thr.toSeq == Seq(("a", 2.0, 5L), ("b", 6.25, 2L)))
  }

  test("quantileThresholds sampling predicate actually thins the input") {
    val df = (1L to 1000L).map(i => (i, "g", i.toDouble)).toDF("id", "grp", "v")
    val n = Sampling.quantileThresholds(df, "id", "grp", "v", salt = 3L)
      .select("n_sample").as[Long].head()
    // ~25% of 1000 with binomial spread
    assert(n > 150 && n < 350, s"sample size $n")
  }

  test("hash-keyed split and thresholds reject non-integral ids loudly") {
    val sdf = Seq(("u1", "g", 1.0)).toDF("id", "grp", "v")
    val e1 = intercept[IllegalArgumentException] {
      Sampling.quantileThresholds(sdf, "id", "grp", "v", salt = 1L)
    }
    assert(e1.getMessage.contains("integral id"))
    val comp = Seq((1L, 1L)).toDF("node", "cluster")
    val e2 = intercept[IllegalArgumentException] {
      Sampling.leakageSafeSplit(sdf, "id", comp, 1L)
    }
    assert(e2.getMessage.contains("integral id"))
  }

  test("leakageSafeSplit assigns a whole dup cluster to one split") {
    val docs = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // two clusters: {1,2,3} labeled 1 and {10,11} labeled 10
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("node", "cluster")
    val sp = Sampling.leakageSafeSplit(docs, "doc_id", comp, salt = 7L)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(sp.size == 200 && sp.values.toSet.subsetOf(Set("train", "val", "test")))
    assert(sp(1L) == sp(2L) && sp(2L) == sp(3L))
    assert(sp(10L) == sp(11L))
    // cluster members follow the CLUSTER id's hash: doc 2 and 3 land where
    // standalone doc 1 (= the cluster label) lands
    assert(sp(2L) == sp(1L))
    // singletons follow their own id's hash — same assignment the plain
    // hash split would give, so the split stays ~80/10/10 overall
    val singleton = docs.filter(col("doc_id") === 50L)
      .withColumn("b", Sampling.hashBucket(col("doc_id"), 7L))
      .select("b").as[Long].head()
    val expected =
      if (singleton < 800000L) "train" else if (singleton < 900000L) "val" else "test"
    assert(sp(50L) == expected)
  }
}
