package graft

import org.apache.spark.sql.functions._
import graft.operators.Audit

class AuditSpec extends SparkSpec {

  test("referentialSweep: orphans, null keys pass, coverage ppm, one row per edge") {
    import spark.implicits._
    val parent = Seq(1L, 2L).toDF("pk")
    val child = Seq(Option(1L), Option(1L), Option(9L), Option.empty[Long])
      .toDF("fk_col")
    val other = Seq(Option(2L), Option(3L)).toDF("fk_col")
    val out = graft.operators.Audit.referentialSweep(Seq(
      graft.operators.Audit.FkEdge("a", child, Seq("fk_col"), parent, Seq("pk")),
      graft.operators.Audit.FkEdge("b", other, Seq("fk_col"), parent, Seq("pk"))))
      .orderBy("fk").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      ("a", 4L, 1L, 1L, 750000L), // 4 rows, 1 null key (passes), 1 orphan (9)
      ("b", 2L, 0L, 1L, 500000L)))
  }

  import spark.implicits._

  test("auditAll fuses constraints per table into one pass and counts violations") {
    val t = Seq((1, 5.0), (2, -1.0), (10001, 3.0)).toDF("cell_id", "metric")
    val out = Audit.auditAll(
      Map("t" -> t),
      Seq(
        Audit.Constraint("cell_range", "t", col("cell_id").between(0, 9999)),
        Audit.Constraint("metric_nonneg", "t", col("metric") >= 0)
      )
    ).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("cell_range" -> 1L, "metric_nonneg" -> 1L))
  }

  test("pkViolations finds duplicate key groups") {
    val df = Seq((1, 1), (1, 1), (1, 2)).toDF("k1", "k2")
    assert(Audit.pkViolations(df, Seq("k1", "k2")).count() == 1L)
  }

  test("fkOrphans finds child keys missing from parent via broadcast anti join") {
    val child = Seq(1, 2, 3, 99).toDF("id")
    val parent = Seq(1, 2, 3).toDF("id")
    assert(Audit.fkOrphans(child, parent, Seq("id")).count() == 1L)
    val plan = Audit.fkOrphans(child, parent, Seq("id")).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"))
  }

  test("kAnonymity: group sizes, risk share, null QI forms its own group") {
    // groups: (n1,s1)x15, (n1,s2)x2, (n2,s1)x1, (NULL,s1)x2 → k-anonymity 1,
    // violating (<10): 3 groups, 5 rows at risk of 20
    val rows = Seq.fill(15)((Option(1), "s1")) ++ Seq.fill(2)((Option(1), "s2")) ++
      Seq((Option(2), "s1")) ++ Seq.fill(2)((Option.empty[Int], "s1"))
    val df = rows.toDF("nat", "seg")
    val r = graft.operators.Audit.kAnonymity(df, Seq("nat", "seg")).collect().head
    assert(r.getAs[Long]("n_rows") == 20L)
    assert(r.getAs[Long]("n_groups") == 4L)
    assert(r.getAs[Long]("k_anonymity") == 1L)
    assert(r.getAs[Long]("n_violating_groups") == 3L)
    assert(r.getAs[Long]("n_rows_at_risk") == 5L)
    assert(r.getAs[Long]("risk_ppm") == 250000L)
  }

  test("valueReconciliation: exact integer-unit deltas, no-child parents, decimal schema") {
    val parent = Seq((1L, 30.25), (2L, 10.00), (3L, 5.55)).toDF("k", "total")
    val child = Seq((1L, 10.10), (1L, 20.15), (2L, 9.99)).toDF("k", "amt")
    val out = graft.operators.Audit.valueReconciliation(
      parent, child, Seq("k"), "total", "amt")
    // sums stay decimal integer-units end-to-end — no double in the schema
    assert(out.schema("delta_units").dataType ==
      org.apache.spark.sql.types.DecimalType(38, 0))
    val got = out.select("k", "n_child_rows", "parent_units", "child_units", "delta_units")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDecimal(2).longValueExact(), r.getDecimal(3).longValueExact(),
        r.getDecimal(4).longValueExact())).toSet
    assert(got == Set(
      (1L, 2L, 302500L, 302500L, 0L),     // exact match
      (2L, 1L, 100000L, 99900L, 100L),    // 1-cent-level delta, exact
      (3L, 0L, 55500L, 0L, 55500L)))      // no children
  }

  test("lDiversity: homogeneous groups flagged, nulls count as a value, guards") {
    // group (1,s1): sensitive {a,a,b} -> l=2 ok; (2,s1): {a,a} -> homogeneous;
    // (3,s1): {a, NULL} -> null IS a value -> l=2 ok
    val rows = Seq(
      (1, "s1", Option("a")), (1, "s1", Option("a")), (1, "s1", Option("b")),
      (2, "s1", Option("a")), (2, "s1", Option("a")),
      (3, "s1", Option("a")), (3, "s1", Option.empty[String]))
    val r = graft.operators.Audit.lDiversity(
      rows.toDF("nat", "seg", "sens"), Seq("nat", "seg"), "sens").collect().head
    assert(r.getAs[Long]("n_rows") == 7L)
    assert(r.getAs[Long]("n_groups") == 3L)
    assert(r.getAs[Long]("l_diversity") == 1L)
    assert(r.getAs[Long]("n_homogeneous_groups") == 1L)
    assert(r.getAs[Long]("n_rows_at_risk") == 2L)
    intercept[IllegalArgumentException] {
      graft.operators.Audit.lDiversity(
        rows.toDF("nat", "seg", "sens"), Seq("nat", "sens"), "sens")
    }
  }

  test("kAnonymity validates inputs") {
    val df = Seq((1, "a")).toDF("x", "y")
    intercept[IllegalArgumentException] {
      graft.operators.Audit.kAnonymity(df, Nil)
    }
  }
}
