package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-quality audits — the Spark re-expression of the constraints
  * PostgreSQL enforced at insert time in the reference (DDL CHECK/PK/FK,
  * reference `src/database.py:68-99`) plus the post-hoc audit pass
  * `validate_schema_constraints` (reference `src/etl.py:302-328`).
  *
  * Spark has no insert-time constraint engine, so the contract is: clean
  * before write ([[Cleaning]]), audit after. Each audit is a count over a
  * negated predicate — scans parallelize, counts are map-side partial, and
  * several constraints over one table fuse into a single pass via
  * [[auditAll]].
  */
object Audit {

  /** Group size below which [[kAnonymity]] flags a quasi-identifier group,
    * and the distinct sensitive values [[lDiversity]] asks of each group. */
  final val AnonymityK = 10
  final val DiversityL = 2

  /** One declared invariant: violations = COUNT(*) WHERE NOT cond. */
  final case class Constraint(name: String, table: String, cond: Column)

  /** Evaluate every constraint over its table in ONE pass per table
    * (conditional-sum fusion — unlike the reference's query-per-constraint
    * loop, this reads each table once regardless of constraint count).
    *
    * Fully LAZY: each table contributes one aggregate whose single row is
    * unpivoted to (constraint, violations) rows, and the tables' frames are
    * unioned — so the whole audit is ONE plan / ONE action, and Spark runs
    * the per-table scan stages concurrently instead of the driver blocking
    * on a collect per table. */
  def auditAll(tables: Map[String, DataFrame], constraints: Seq[Constraint]): DataFrame = {
    val perTable = constraints.groupBy(_.table).toSeq.sortBy(_._1).map {
      case (table, cs) =>
        val df = tables(table)
        val aggs = cs.map(c => coalesce(sum(when(!c.cond, 1L).otherwise(0L)), lit(0L)).as(c.name))
        val kvs = cs.map(c => struct(lit(c.name).as("constraint"), col(c.name).as("violations")))
        df.agg(aggs.head, aggs.tail: _*)
          .select(explode(array(kvs: _*)).as("kv"))
          .select(col("kv.constraint").as("constraint"), col("kv.violations").as("violations"))
    }
    perTable.reduce(_ unionAll _).orderBy("constraint")
  }

  /** Lazy single-row (constraint, violations) frame for an FK audit —
    * union-composable with [[auditAll]] so a whole audit suite stays one
    * action. */
  def fkOrphanAudit(name: String, child: DataFrame, parent: DataFrame, keys: Seq[String]): DataFrame =
    fkOrphans(child, parent, keys)
      .agg(count(lit(1)).as("violations"))
      .select(lit(name).as("constraint"), col("violations"))

  /** Lazy single-row (constraint, violations) frame for a PK-uniqueness
    * audit. */
  def pkViolationAudit(name: String, df: DataFrame, keys: Seq[String]): DataFrame =
    pkViolations(df, keys)
      .agg(count(lit(1)).as("violations"))
      .select(lit(name).as("constraint"), col("violations"))

  /** PK-uniqueness audit (reference PRIMARY KEY src/database.py:90):
    * duplicate key-group count. */
  def pkViolations(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** FK-coverage audit (reference FKs src/database.py:83,95-96): child rows
    * whose key has no parent — broadcast left-anti join (dims are small;
    * the fact side never shuffles). */
  def fkOrphans(child: DataFrame, parent: DataFrame, keys: Seq[String]): DataFrame =
    child.join(broadcast(parent.select(keys.map(col): _*).distinct()), keys, "left_anti")

  /** One foreign-key edge of a schema: `name` labels the report row;
    * child rows reference `parent` via positional `childKeys → parentKeys`. */
  final case class FkEdge(
      name: String,
      child: DataFrame,
      childKeys: Seq[String],
      parent: DataFrame,
      parentKeys: Seq[String])

  /** Whole-schema referential-integrity sweep: one report row per FK
    * edge with child rows, null-keyed rows, orphans, and coverage ppm.
    * SQL FK semantics (MATCH SIMPLE): a child row with ANY null key
    * trivially satisfies the constraint — counted separately as
    * `null_keys`, never as an orphan.
    *
    * Scale shape: per edge, the parent KEY SET (distinct, keys only)
    * broadcasts into a left join over the child's key columns — the fact
    * side never shuffles, column pruning reaches the scan, and the whole
    * sweep stays ONE lazy union (one action runs every edge; independent
    * edges' jobs share scans where the child repeats). */
  def referentialSweep(edges: Seq[FkEdge]): DataFrame = {
    require(edges.nonEmpty, "sweep needs at least one FK edge")
    edges.map { e =>
      require(e.childKeys.size == e.parentKeys.size && e.childKeys.nonEmpty,
        s"${e.name}: childKeys and parentKeys must align")
      val parentKeys = broadcast(
        e.parent.select(e.parentKeys.zip(e.childKeys).map {
          case (p, c) => col(p).as(c)
        }: _*).distinct().withColumn("__hit", lit(1)))
      val anyNull = e.childKeys.map(col(_).isNull).reduce(_ || _)
      e.child.select(e.childKeys.map(col): _*)
        .join(parentKeys, e.childKeys, "left")
        .agg(
          count(lit(1)).as("child_rows"),
          sum(when(anyNull, 1L).otherwise(0L)).as("null_keys"),
          sum(when(!anyNull && col("__hit").isNull, 1L).otherwise(0L)).as("orphans"))
        .select(lit(e.name).as("fk"), col("child_rows"), col("null_keys"),
          col("orphans"),
          expr("((child_rows - orphans) * 1000000) div child_rows").as("coverage_ppm"))
    }.reduce(_ unionAll _)
  }

  /** k-anonymity audit over a quasi-identifier combination: group sizes
    * under `qiCols`, the dataset's anonymity level (the SMALLEST group —
    * Sweeney's k), and how much of the table sits in groups below the
    * required `k` (re-identifiable under linkage attack through exactly
    * these columns). The privacy screen run before releasing or training
    * on tabular data with demographic-ish columns; the PII redaction
    * tier handles free text, this handles structure.
    *
    * NULL quasi-identifier values form their own group (SQL GROUP BY
    * semantics — shared by the oracle engine): "unknown nation" is
    * itself a linkable attribute value, so counting it as a group is
    * the conservative reading.
    *
    * Scale shape: one map-combined aggregation to the QI group table,
    * then a group-table-sized rollup to a single row — the fact table
    * shuffles once, bounded by |QI value combinations|. Integer ppm, no
    * doubles. Emits `(n_rows, n_groups, k_anonymity, n_violating_groups,
    * n_rows_at_risk, risk_ppm)`. */
  def kAnonymity(df: DataFrame, qiCols: Seq[String]): DataFrame = {
    val k = AnonymityK
    require(qiCols.nonEmpty, "need at least one quasi-identifier column")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .agg(
        sum(col("__n")).as("n_rows"),
        count(lit(1)).as("n_groups"),
        min(col("__n")).as("k_anonymity"),
        sum(when(col("__n") < k, 1L).otherwise(0L)).as("n_violating_groups"),
        sum(when(col("__n") < k, col("__n")).otherwise(0L)).as("n_rows_at_risk"))
      .withColumn("risk_ppm", expr("(n_rows_at_risk * 1000000) div n_rows"))
  }

  /** Header-vs-detail VALUE reconciliation — the value-level sibling of
    * the row-count acceptance checks (ref `src/etl.py:283-291`) and the
    * FK orphan audits: for every parent row, the exact difference
    * between its claimed total and the sum of its child rows' amounts
    * (invoice header vs lines, order total vs items, ledger vs
    * postings). Everything stays in INTEGER UNITS of `10^-4`
    * (`DECIMAL(38, 4) · 10^4` — exactly integral): no double
    * appears anywhere, so sums of deltas are order-independent and
    * bit-identical cross-engine even past double's 53-bit range (the
    * round-5 DECIMAL→DOUBLE lesson). That guarantee assumes the money
    * discipline: input values carry AT MOST 4 fractional decimal
    * digits, so the double→decimal cast is exact — a value with more
    * digits rounds differently across engines (Spark HALF_UP on the
    * shortest representation, DuckDB on the binary value), the exact
    * asymmetry the engine-wide determinism note documents.
    *
    * The child side must already carry the parent's key column names
    * (rename before calling). Parents with NO child rows report
    * `n_child_rows = 0` and `child_units = 0` — a zero-valued order is
    * legitimately consistent; count the no-child case separately.
    *
    * Scale shape: one map-combined child aggregation to parent-key
    * cardinality, one key join against the parent (both sides already
    * key-shaped — at 100 TB this is the co-partitioned join the
    * bucketing tier exists for). Emits every parent column plus
    * `(n_child_rows, parent_units, child_units, delta_units)`. */
  def valueReconciliation(
      parent: DataFrame,
      child: DataFrame,
      keys: Seq[String],
      parentValCol: String,
      childValCol: String): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    def units(c: Column): Column =
      (c.cast(org.apache.spark.sql.types.DecimalType(38, 4)) * 10000L)
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val childSums = child
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_child_rows"),
        sum(units(col(childValCol))).as("child_units"))
    parent
      .join(childSums, keys, "left")
      .withColumn("n_child_rows", coalesce(col("n_child_rows"), lit(0L)))
      .withColumn("child_units",
        coalesce(col("child_units"),
          lit(0).cast(org.apache.spark.sql.types.DecimalType(38, 0))))
      .withColumn("parent_units", units(col(parentValCol)))
      .withColumn("delta_units", col("parent_units") - col("child_units"))
  }

  /** l-diversity audit — [[kAnonymity]]'s companion (Machanavajjhala et
    * al.): a QI group can be large (k-anonymous) yet still leak when
    * every member SHARES the sensitive value, so per QI group this
    * counts DISTINCT sensitive values and reports the dataset's
    * diversity level (the minimum — distinct-l-diversity) plus how much
    * of the table sits in groups below the required `l` (homogeneity
    * attack surface). Null sensitive values count as a value (they are
    * an inference too).
    *
    * Scale shape: one aggregation to (QI, sensitive) pairs (map-side
    * combined — this bounds the shuffle at pair cardinality, not rows,
    * unlike a direct count_distinct fan), one rollup to QI groups, one
    * to the single audit row. */
  def lDiversity(
      df: DataFrame,
      qiCols: Seq[String],
      sensitiveCol: String): DataFrame = {
    val l = DiversityL
    require(qiCols.nonEmpty, "need at least one quasi-identifier column")
    require(!qiCols.contains(sensitiveCol),
      s"sensitive column $sensitiveCol cannot also be a quasi-identifier")
    val g = qiCols.map(col)
    df
      .groupBy(g :+ col(sensitiveCol).as("__s"): _*)
      .agg(count(lit(1)).as("__n"))
      .groupBy(g: _*)
      .agg(sum(col("__n")).as("__rows"), count(lit(1)).as("__l"))
      .agg(
        sum(col("__rows")).as("n_rows"),
        count(lit(1)).as("n_groups"),
        min(col("__l")).as("l_diversity"),
        sum(when(col("__l") < l, 1L).otherwise(0L)).as("n_homogeneous_groups"),
        sum(when(col("__l") < l, col("__rows")).otherwise(0L)).as("n_rows_at_risk"))
      .withColumn("risk_ppm", expr("(n_rows_at_risk * 1000000) div n_rows"))
  }
}
