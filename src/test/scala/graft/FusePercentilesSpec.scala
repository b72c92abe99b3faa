package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.CreateArray
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Percentile}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._

/** [[graft.plans.FusePercentiles]]: scalar same-column percentiles must fuse
  * into ONE array-form aggregation buffer (values unchanged), and the guard
  * conditions (different columns, distinct, FILTER) must leave plans alone.
  */
class FusePercentilesSpec extends SparkSpec {
  import spark.implicits._

  // deterministic, two uneven groups, non-trivial interpolation points
  private def df: DataFrame =
    (1 to 1000)
      .map(i => (if (i % 3 == 0) "a" else "b", (i * 7 % 97).toDouble, (i * 13 % 89).toDouble))
      .toDF("g", "x", "y")

  /** Percentile aggregate functions in the optimized plan. */
  private def optimizedPercs(q: DataFrame): Seq[Percentile] =
    q.queryExecution.optimizedPlan
      .collect { case a: Aggregate => a }
      .flatMap(_.aggregateExpressions)
      .flatMap(_.collect { case ae: AggregateExpression => ae.aggregateFunction })
      .collect { case p: Percentile => p }

  private def physPercCount(q: DataFrame): Int =
    "percentile\\(".r.findAllIn(q.queryExecution.executedPlan.toString).length

  /** Session without Graft.prepare → without the rule (fresh SessionState,
    * fresh ExperimentalMethods; shares the context and temp-view-free). */
  private lazy val plain = spark.newSession()

  test("Graft.prepare installs the rule once and the graft_* SQL functions") {
    val s = spark.newSession()
    Graft.prepare(s)
    Graft.prepare(s)
    // graft_cosine takes array<float>
    val v = "CAST(array(1, 0) AS array<float>)"
    assert(s.sql(s"SELECT graft_cosine($v, $v)").head().getDouble(0) == 1.0)
    assert(s.experimental.extraOptimizations.count(_ eq graft.plans.FusePercentiles) == 1)
  }

  test("three scalar quartiles fuse to one array-form buffer, values unchanged") {
    val agg = (d: DataFrame) =>
      d.groupBy($"g").agg(
        percentile($"x", lit(0.25)).as("p25"),
        percentile($"x", lit(0.5)).as("p50"),
        percentile($"x", lit(0.75)).as("p75"),
        count(lit(1)).as("n"))
    val fused = agg(df)

    val percs = optimizedPercs(fused)
    assert(percs.nonEmpty, "no Percentile in optimized plan")
    assert(percs.forall(_.percentageExpression.isInstanceOf[CreateArray]),
      s"scalar percentile survived the rule: ${fused.queryExecution.optimizedPlan}")
    assert(percs.map(_.canonicalized).distinct.length == 1,
      "fused percentiles are not semantically equal — physical dedup will not fire")

    // physical: strictly fewer percentile buffers than the un-ruled session
    val plainDf = plain.createDataFrame(df.collect().toSeq.asJava, df.schema)
    val unfusedCount = physPercCount(agg(plainDf))
    val fusedCount = physPercCount(fused)
    assert(fusedCount < unfusedCount,
      s"fused=$fusedCount !< unfused=$unfusedCount")

    // values: fused path ≡ un-ruled path
    val got = fused.orderBy($"g").collect().map(r =>
      (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
    val want = agg(plainDf).orderBy("g").collect().map(r =>
      (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
    assert(got.sameElements(want), s"${got.toSeq} vs ${want.toSeq}")
  }

  test("duplicate percentages share one array slot") {
    val q = df.groupBy($"g").agg(
      percentile($"x", lit(0.5)).as("a"),
      percentile($"x", lit(0.5)).as("b"),
      percentile($"x", lit(0.9)).as("c"))
    val percs = optimizedPercs(q)
    assert(percs.forall(_.percentageExpression.isInstanceOf[CreateArray]))
    // array is deduped to the 2 distinct percentages
    assert(percs.head.percentageExpression.asInstanceOf[CreateArray].children.length == 2)
    val r = q.orderBy($"g").collect()
    assert(r.forall(row => row.getDouble(1) == row.getDouble(2)))
  }

  test("different columns do not fuse with each other") {
    val q = df.groupBy($"g").agg(
      percentile($"x", lit(0.25)).as("x25"),
      percentile($"x", lit(0.75)).as("x75"),
      percentile($"y", lit(0.25)).as("y25"),
      percentile($"y", lit(0.75)).as("y75"))
    val percs = optimizedPercs(q)
    assert(percs.forall(_.percentageExpression.isInstanceOf[CreateArray]))
    assert(percs.map(_.canonicalized).distinct.length == 2,
      "x and y percentiles must stay separate buffers")
  }

  test("DISTINCT and FILTER percentiles are left untouched") {
    df.createOrReplaceTempView("fp_guard")
    try {
      val q = spark.sql(
        """SELECT percentile(DISTINCT x, 0.25) AS d25,
          |       percentile(DISTINCT x, 0.75) AS d75,
          |       percentile(x, 0.25) FILTER (WHERE x > 10) AS f25,
          |       percentile(x, 0.75) FILTER (WHERE x > 10) AS f75
          |FROM fp_guard""".stripMargin)
      assert(optimizedPercs(q).forall(!_.percentageExpression.isInstanceOf[CreateArray]),
        s"guarded percentile got fused: ${q.queryExecution.optimizedPlan}")
      assert(q.collect().length == 1) // still executes correctly
    } finally spark.catalog.dropTempView("fp_guard")
  }

  test("catalog q100 runs through the rule: one fused buffer, five quantiles") {
    val q = SparkEntry.queries("q100_fused_summary")(spark, "/root/testdata/sf0.001")
    val percs = optimizedPercs(q)
    assert(percs.nonEmpty)
    assert(percs.forall(_.percentageExpression.isInstanceOf[CreateArray]))
    assert(percs.map(_.canonicalized).distinct.length == 1,
      "q100's five scalar percentiles must share one buffer")
    assert(percs.head.percentageExpression.asInstanceOf[CreateArray].children.length == 5)
  }

  test("single scalar percentile is a no-op for the rule") {
    val q = df.groupBy($"g").agg(percentile($"x", lit(0.5)).as("p50"))
    assert(optimizedPercs(q).forall(!_.percentageExpression.isInstanceOf[CreateArray]))
  }

  test("randomized percentile sets: fused session ≡ plain session bit-for-bit") {
    // The rule runs on EVERY engine query, so its blast radius warrants a
    // randomized sweep: random columns × random (possibly duplicated)
    // percentages in random order, grouped and global, fused vs un-ruled.
    // Fusion must not move a single bit — same value buffer, same
    // interpolation, only the buffer COUNT changes.
    val rnd = new scala.util.Random(1234)
    val pool = Seq(0.0, 0.1, 0.25, 1.0 / 3.0, 0.5, 0.6180339887, 0.75, 0.9, 1.0)
    val plainDf = plain.createDataFrame(df.collect().toSeq.asJava, df.schema)
    for (trial <- 1 to 6) {
      val aggs = (1 to (1 + rnd.nextInt(3))).flatMap { _ =>
        val c = if (rnd.nextBoolean()) "x" else "y"
        (1 to (1 + rnd.nextInt(4))).map { _ =>
          val p = pool(rnd.nextInt(pool.length))
          (c, p)
        }
      }
      val exprs = aggs.zipWithIndex.map { case ((c, p), i) =>
        percentile(col(c), lit(p)).as(s"p$i")
      } :+ count(lit(1)).as("n")
      val grouped = rnd.nextBoolean()
      def run(d: DataFrame): Array[String] = {
        val r = if (grouped) d.groupBy(col("g")).agg(exprs.head, exprs.tail: _*)
                else d.agg(exprs.head, exprs.tail: _*)
        r.collect().map(_.toSeq.map {
          case d: Double => java.lang.Double.doubleToLongBits(d).toString
          case v => String.valueOf(v)
        }.mkString("|")).sorted
      }
      assert(run(df).sameElements(run(plainDf)),
        s"trial $trial diverged: aggs=$aggs grouped=$grouped")
    }
  }

  private implicit class SeqAsJava[T](s: Seq[T]) {
    def asJava: java.util.List[T] = {
      val l = new java.util.ArrayList[T](s.length)
      s.foreach(l.add)
      l
    }
  }
}
