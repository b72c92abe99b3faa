package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{aggregate, lit, sqrt, zip_with}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, sbt forks once). */
object TestSpark {
  lazy val spark: SparkSession = Graft.localSession("graft-test", 4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}

/** JVM reference of [[graft.functions.HashFunctions.mix64]] — ONE copy for
  * every suite that replays hashing on the driver, so the constants cannot
  * drift between test-side reimplementations. */
object HashRef {
  def mix64(z: Long): Long = {
    var x = z + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
}

/** Double-fold cosine over two `array<float>` columns, built from
  * higher-order functions (one sequential left fold per row) — the
  * reference the [[graft.plans.CosineSimilarity]] kernel and the
  * exact-decimal cosine are checked against. */
object VectorRef {
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")), lit(0.0),
      (acc, x) => acc + x)

  def cosine(a: Column, b: Column): Column = dot(a, b) / sqrt(dot(a, a) * dot(b, b))
}
