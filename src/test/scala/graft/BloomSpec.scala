package graft

import org.apache.spark.sql.functions._

import graft.operators.{BloomPrefilter, Diagnostics}

class BloomSpec extends SparkSpec {
  import spark.implicits._

  private def keyed(ids: Seq[Long]) = ids.map(Tuple1(_)).toDF("id")

  test("bloom prefilter never drops a true match (no false negatives)") {
    val keys = keyed((1L to 200L).map(_ * 17))
    val table = BloomPrefilter.buildTable(keys, col("id"))
    val probe = keyed(1L to 5000L)
    val flagged = BloomPrefilter.prefilter(probe, col("id"), table)
    val missed = flagged
      .join(keys.withColumnRenamed("id", "k"), col("id") === col("k"), "left_semi")
      .filter(!col("bloom_pass"))
      .count()
    assert(missed == 0L)
  }

  test("bloom prefilter rejects the vast majority of non-members") {
    val keys = keyed((1L to 200L).map(_ * 17))
    val table = BloomPrefilter.buildTable(keys, col("id"))
    val nonMembers = keyed((100001L to 105000L))
    val falsePos = BloomPrefilter.prefilter(nonMembers, col("id"), table)
      .filter(col("bloom_pass")).count()
    // 200 keys x 2 bits in 65536: p(bit) ~ 0.006, fp ~ 3.7e-5; 5000 probes
    // -> expected 0.19 false positives. Allow a generous margin.
    assert(falsePos <= 5L, s"false positives: $falsePos")
  }

  test("bloom membership decisions are partition-invariant") {
    val keys = keyed((1L to 300L).map(_ * 31))
    val t1 = BloomPrefilter.buildTable(keys, col("id"))
    val t2 = BloomPrefilter.buildTable(keys.repartition(7, col("id")), col("id"))
    // identical word tables bit for bit
    val diff = t1.withColumnRenamed("bits", "b1")
      .join(t2.withColumnRenamed("bits", "b2"), Seq("word"), "full")
      .filter(col("b1").isNull || col("b2").isNull || col("b1") =!= col("b2"))
      .count()
    assert(diff == 0L)
  }

  test("buildTable validates geometry") {
    intercept[IllegalArgumentException] {
      BloomPrefilter.buildTable(keyed(Seq(1L)), col("id"), mBits = 1000)
    }
  }

  test("joinSkewProbe's contribution sum equals the real join output size") {
    val left = Seq(1L, 1L, 1L, 2L, 3L).map(Tuple1(_)).toDF("k")
    val right = Seq(1L, 1L, 2L, 2L, 2L, 4L).map(Tuple1(_)).toDF("k")
    val probe = Diagnostics.joinSkewProbe(left, right, "k").collect()
    val byKey = probe.map(r => r.getAs[Long]("k") -> r.getAs[Long]("est_pairs")).toMap
    assert(byKey == Map(1L -> 6L, 2L -> 3L)) // 3x2, 1x3; keys 3,4 don't meet
    val realJoin = left.join(right, "k").count()
    assert(probe.map(_.getAs[Long]("est_pairs")).sum == realJoin)
  }
}
