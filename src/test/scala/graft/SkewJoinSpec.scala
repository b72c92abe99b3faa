package graft

import org.apache.spark.sql.functions._
import graft.operators.SkewJoin

class SkewJoinSpec extends SparkSpec {
  import spark.implicits._

  // a pathologically hot key: 900 of 1000 fact rows share key 1
  private def fact = spark.range(1000)
    .select(
      $"id".as("row_id"),
      when($"id" < 900, 1L).otherwise($"id" % 50).as("k"),
      ($"id" * 2).cast("double").as("m"))
  private def dim = spark.range(50).select($"id".as("k"), concat(lit("d"), $"id").as("name"))

  test("salted join result equals the plain join") {
    val plain = fact.join(dim, Seq("k"))
      .select($"row_id", $"k", $"m", $"name").orderBy("row_id").collect().toSeq
    val salted = SkewJoin.saltedJoin(fact, dim, "k", $"row_id")
      .select($"row_id", $"k", $"m", $"name").orderBy("row_id").collect().toSeq
    assert(salted == plain && salted.size == 1000)
  }

  test("the exchange partitions on (key, salt): hot key spreads over salts buckets") {
    val salted = SkewJoin.saltedJoin(fact, dim, "k", $"row_id")
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), s"salt column must reach the join:\n$plan")
    assert(plan.contains("ShuffledHashJoin"), s"expected ShuffledHashJoin in:\n$plan")
    // determinism: the salt of each row is a pure function of row_id
    val a = SkewJoin.saltedJoin(fact.repartition(3), dim, "k", $"row_id")
      .orderBy("row_id").collect().toSeq
    val b = SkewJoin.saltedJoin(fact.repartition(11), dim, "k", $"row_id")
      .orderBy("row_id").collect().toSeq
    assert(a == b)
  }
}
