package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}

class CodegenCacheSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("prepare sizes the generated-class cache to the engine's constant") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Graft.CodegenCacheEntries.toString)
  }

  test("a plan run again after 150 other plans reuses its compiled class") {
    // Each literal is inlined into the generated Java, so every plan
    // compiles its own class. Spark's default cache of 100 entries evicts
    // the first one before it runs again.
    def plan(i: Int) = spark.range(10).select(col("id") * lit(7919L) + lit(1000003L + i))
    val c0 = compiles
    (0 until 150).foreach(i => plan(i).collect())
    assert(compiles - c0 >= 150, "every plan must compile a class of its own")
    val c1 = compiles
    assert(plan(0).collect().map(_.getLong(0)).toSeq == (0L until 10L).map(_ * 7919L + 1000003L))
    assert(compiles == c1, "the first plan's class was evicted and compiled again")
  }
}
