package graft

/** Smoke + contract checks over the harness-facing catalog. The value-level
  * correctness gate is the DuckDB oracle (scripts/local_verify.py mirrors
  * the driver); here we pin the catalog contract itself. */
class QueriesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("entry() returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("presentation-type convention: catalog outputs only gate-safe types") {
    // The driver's cross-engine hash is representation-sensitive: DuckDB
    // surfaces HUGEINT / DECIMAL(38,x) as float64 while Spark parquet
    // arrives int64 / Decimal, so a decimal (or array/struct/map) output
    // column can NEVER hash-match even when values are bit-equal. Round 6
    // shipped five such queries; this lint closes the door, not just the
    // instances. Accumulate in decimal freely — PRESENT as one of these.
    import org.apache.spark.sql.types._
    def ok(dt: DataType): Boolean = dt match {
      case LongType | IntegerType | DoubleType | StringType | BooleanType |
           TimestampType | TimestampNTZType | DateType => true
      case _ => false
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        fn(spark, sf).schema.fields.collect {
          case f if !ok(f.dataType) => s"$name.${f.name}: ${f.dataType.sql}"
        }
    }
    assert(offenders.isEmpty,
      s"non-gate-safe output types (cast finals to BIGINT/DOUBLE/STRING):\n  " +
        offenders.mkString("\n  "))
  }

  test("every catalog query runs on sf0.001 and most return rows") {
    val counts = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, sf).count()
    }
    val failures = counts.filter(_._2 < 0)
    assert(failures.isEmpty)
    // all but the audit-style queries (which can legitimately be small)
    // should be non-empty on the smoke scale
    val empty = counts.filter(_._2 == 0).map(_._1)
      .filterNot(Set("q10_anti_join", "q25_ngram_jaccard", "q29_embedding_near_dup"))
    assert(empty.isEmpty, s"unexpectedly empty: $empty")
  }
}
