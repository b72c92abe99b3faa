package graft

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("positiveLong names the variable for malformed or non-positive values") {
    for (raw <- Seq("abc", "0", "-1")) {
      val e = intercept[IllegalArgumentException](
        Harness.positiveLong("SPARK_GRAFT_BENCH_RUNS", Some(raw)))
      assert(e.getMessage.contains("SPARK_GRAFT_BENCH_RUNS"), e.getMessage)
    }
    assert(Harness.positiveLong("SPARK_GRAFT_BENCH_RUNS", Some(" 12 ")).contains(12L))
    assert(Harness.positiveLong("SPARK_GRAFT_BENCH_RUNS", None).isEmpty)
  }

  test("queryFilter trims names, and fails naming the variable on unknown or no names") {
    val known = Set("q01_pricing_summary", "q02_hourly_rollup")
    assert(Harness.queryFilter("SPARK_GRAFT_VERIFY_ONLY", None, known).isEmpty)
    assert(Harness.queryFilter("SPARK_GRAFT_VERIFY_ONLY", Some(" q01_pricing_summary ,,q02_hourly_rollup,"),
      known).contains(known))
    val unknown = intercept[IllegalArgumentException](
      Harness.queryFilter("SPARK_GRAFT_VERIFY_ONLY", Some("q01_pricing_summary,q02_typo,q999"), known))
    assert(unknown.getMessage.contains("SPARK_GRAFT_VERIFY_ONLY"), unknown.getMessage)
    assert(unknown.getMessage.contains("q02_typo, q999"), unknown.getMessage)
    for (raw <- Seq("", " , ,")) {
      val empty = intercept[IllegalArgumentException](
        Harness.queryFilter("SPARK_GRAFT_BENCH_ONLY", Some(raw), known))
      assert(empty.getMessage.contains("SPARK_GRAFT_BENCH_ONLY"), empty.getMessage)
    }
  }

  test("Json.str escapes quotes, backslashes and control characters") {
    assert(Json.str("a\"b\\c\nd\te\u0001") == "\"a\\\"b\\\\c\\nd\\te\\u0001\"")
  }
}
