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

  test("Json.str escapes quotes, backslashes and control characters") {
    assert(Json.str("a\"b\\c\nd\te\u0001") == "\"a\\\"b\\\\c\\nd\\te\\u0001\"")
  }
}
