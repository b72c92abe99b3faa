package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{Catalog, Entry}

/** The catalog contract that needs no Spark session: names, families and
  * oracles as declared. */
class CatalogSpec extends AnyFunSuite {

  private val noPlan: (SparkSession, String) => DataFrame = (_, _) => null

  test("the catalog declares 206 distinct names, and the views agree with it") {
    val names = Catalog.entries.map(_.name)
    assert(names.size == 206)
    assert(names.distinct.size == 206)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
  }

  test("every family declares at least one query under its own name") {
    for (f <- Catalog.families) assert(f.entries.nonEmpty, s"family ${f.name} is empty")
    assert(Catalog.families.map(_.name).distinct.size == Catalog.families.size)
    assert(Catalog.entries.find(_.name == "q141_simjoin_prefix").map(_.family).contains("dedup"))
  }

  test("every oracle is non-empty SQL without a null word") {
    for (e <- Catalog.entries) {
      assert(e.oracle != null && e.oracle.trim.nonEmpty, e.name)
      assert(!"\\bnull\\b".r.findFirstIn(e.oracle).isDefined, s"${e.name}: ${e.oracle}")
    }
  }

  test("a registry with a duplicate name, an empty oracle or a null in the SQL fails to load") {
    val a = Entry("q01_a", "relational", noPlan, "SELECT 1")
    val dup = intercept[IllegalArgumentException](
      Catalog.validated(Seq(a, a.copy(family = "audit", oracle = "SELECT 2"))))
    assert(dup.getMessage.contains("q01_a"), dup.getMessage)
    val helper: String = null
    for (oracle <- Seq(" ", null, s"SELECT x FROM t WHERE y = $helper")) {
      val bad = intercept[IllegalArgumentException](
        Catalog.validated(Seq(a, Entry("q02_b", "relational", noPlan, oracle))))
      assert(bad.getMessage.contains("q02_b"), bad.getMessage)
    }
    assert(Catalog.validated(Seq(a)) == Seq(a))
  }
}
