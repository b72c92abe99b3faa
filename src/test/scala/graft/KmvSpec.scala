package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.HashFunctions
import graft.operators.Sketches
import graft.plans.GraftFunctions

class KmvSpec extends SparkSpec {
  import spark.implicits._

  /** Five groups of 600 rows: past the [[Sketches.KmvK]]-row register, so
    * each group's register is a strict sample. */
  private def events = spark.range(3000).select(
    concat(lit("g"), ($"id" % 5).cast("string")).as("g"), $"id",
    (($"id" * 7919) % 1000).cast("double").as("v"))

  test("registers keep exactly the k smallest id-hashes per group") {
    val regs = Sketches.kmvRegisters(events, Seq("g"), $"id", $"v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // driver-side reference: full sort by mix64, take KmvK per group
    val expected = events.collect()
      .map(r => (r.getString(0), HashRef.mix64(r.getLong(1)), r.getDouble(2)))
      .groupBy(_._1).toSeq
      .flatMap { case (_, rows) => rows.sortBy(t => (t._2, t._3)).take(Sketches.KmvK) }
      .toSet
    assert(regs.toSet == expected)
    assert(regs.groupBy(_._1).values.forall(_.length == Sketches.KmvK))
  }

  test("registers are independent of partition layout") {
    val a = Sketches.kmvRegisters(events.coalesce(1), Seq("g"), $"id", $"v")
      .orderBy("g", "kmv_h").collect().toSeq
    val b = Sketches.kmvRegisters(events.repartition(17), Seq("g"), $"id", $"v")
      .orderBy("g", "kmv_h").collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("merge of shard registers equals registers of the combined data") {
    val sharded = events.withColumn("shard", pmod($"id", lit(5L)))
    val shardRegs = Sketches.kmvRegisters(sharded, Seq("g", "shard"), $"id", $"v")
    val merged = Sketches.kmvMerge(shardRegs, Seq("g"))
      .orderBy("g", "kmv_h").collect().toSeq
    val direct = Sketches.kmvRegisters(events, Seq("g"), $"id", $"v")
      .orderBy("g", "kmv_h").collect().toSeq
    assert(merged == direct && merged.nonEmpty)
  }

  test("quantiles over registers approximate exact quantiles") {
    val regs = Sketches.kmvRegisters(events, Seq("g"), $"id", $"v")
    val est = Sketches.kmvQuantiles(regs, Seq("g"), Seq(0.5), Seq("med"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = events.groupBy("g").agg(percentile($"v", lit(0.5)).as("med"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // rank error O(1/sqrt(k)) — generous envelope on the fixture data
    exact.foreach { case (g, ex) =>
      val spread = events.filter($"g" === g).agg(max($"v") - min($"v")).head.getDouble(0)
      assert(math.abs(est(g) - ex) <= 0.25 * spread,
        s"group $g: est=${est(g)} exact=$ex spread=$spread")
    }
  }

  test("small groups keep every row and quantiles become exact") {
    val tiny = Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("a", 3L, 30.0)).toDF("g", "id", "v")
    val regs = Sketches.kmvRegisters(tiny, Seq("g"), $"id", $"v")
    assert(regs.count() == 3)
    val q = Sketches.kmvQuantiles(regs, Seq("g"), Seq(0.5), Seq("med")).head
    assert(q.getDouble(1) == 20.0 && q.getLong(2) == 3L)
  }

  test("aggregation is ObjectHashAggregate with partial combine (no window, no sort of input)") {
    val plan = Sketches.kmvRegisters(events, Seq("g"), $"id", $"v")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"expected ObjectHashAggregate in:\n$plan")
    assert(!plan.contains("Window"), s"window must not appear in:\n$plan")
  }

  test("property: shard-then-merge equals direct registers for any sharding and k") {
    // the operators at KmvK; the SQL kernel graft_kmv(h, v, k) at other k
    val direct = Sketches.kmvRegisters(events, Seq("g"), $"id", $"v")
      .orderBy("g", "kmv_h").collect().toSeq
    GraftFunctions.register(spark)
    def bottom(df: DataFrame, keys: Seq[String], k: Int): DataFrame =
      df.groupBy(keys.map(col): _*)
        .agg(expr(s"graft_kmv(h, v, $k)").as("r"))
        .select(keys.map(col) :+ explode($"r").as("e"): _*)
        .select(keys.map(col) :+ $"e.h".as("h") :+ $"e.v".as("v"): _*)
    val hashed = events.withColumn("h", HashFunctions.mix64($"id"))
    for ((shards, k) <- Seq((2L, 8), (9L, 33), (31L, Sketches.KmvK))) {
      val sharded = events.withColumn("shard", pmod($"id", lit(shards)))
      val merged = Sketches.kmvMerge(
          Sketches.kmvRegisters(sharded, Seq("g", "shard"), $"id", $"v"), Seq("g"))
        .orderBy("g", "kmv_h").collect().toSeq
      assert(merged == direct && merged.nonEmpty, s"shards=$shards")
      val sqlMerged = bottom(bottom(
          hashed.withColumn("shard", pmod($"id", lit(shards))), Seq("g", "shard"), k), Seq("g"), k)
        .orderBy("g", "h").collect().toSeq
      val sqlDirect = bottom(hashed, Seq("g"), k).orderBy("g", "h").collect().toSeq
      assert(sqlMerged == sqlDirect && sqlDirect.length == 5 * k, s"shards=$shards k=$k")
    }
  }

  test("graft_kmv is SQL-callable after registration") {
    GraftFunctions.register(spark)
    Seq((1L, 5.0), (2L, 6.0), (3L, 7.0), (4L, 8.0)).toDF("h", "v")
      .createOrReplaceTempView("kmv_test")
    val got = spark.sql(
      "SELECT graft_kmv(h, v, 2) AS r FROM kmv_test").head.getSeq[org.apache.spark.sql.Row](0)
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L)) // bottom-2 by h, ascending
  }
}
