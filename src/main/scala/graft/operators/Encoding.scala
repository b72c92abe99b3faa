package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Categorical feature encoding against a numeric target — the
  * target-encoding step of a tabular feature pipeline, in the exact
  * integer arithmetic this engine uses everywhere a result must be
  * bit-stable across engines and partitionings.
  */
object Encoding {

  /** Leave-one-out target encoding: each row's category is replaced by
    * the mean target of the OTHER rows in its category —
    * `enc = (Σ_cat − v_row) div (n_cat − 1)` in integer units of
    * 10⁻⁶ — the standard leakage guard (a row never sees its own
    * target; naive mean encoding leaks the label and inflates CV scores).
    * Singleton categories encode NULL (no "others" to average; impute
    * downstream). Targets quantize by `floor`, and the formula requires
    * them NON-NEGATIVE so truncating and flooring division agree (engines
    * disagree on negative integer division) — ENFORCED at runtime: a
    * negative target fails the job via `raise_error` on the scan rather
    * than silently producing engine-divergent encodings.
    *
    * Scale shape: one category-keyed aggregation (map-side combined) into
    * a |categories|-row stats table broadcast back onto the scan — the
    * encode itself is row-local, the corpus never shuffles. */
  def looTargetEncode(
      df: DataFrame,
      catCol: String,
      targetCol: String): DataFrame = {
    val q = df.withColumn("__v",
      expr(s"""CAST(floor(CASE WHEN $targetCol < 0
              |  THEN raise_error('looTargetEncode: negative target — truncating vs flooring division diverge')
              |  ELSE $targetCol END * 1000000) AS BIGINT)""".stripMargin))
    val stats = q.groupBy(col(catCol))
      .agg(sum(col("__v")).as("__s"), count(lit(1)).as("__n"))
    q.join(broadcast(stats), Seq(catCol))
      .withColumn("loo_enc",
        when(col("__n") > 1, expr("(__s - __v) div (__n - 1)")))
      .drop("__v", "__s", "__n")
  }

  /** Rank-normalize a numeric feature within each group:
    * `pr_ppm = (rank − 1)·10⁶ div (n − 1)` with SQL `rank()` (ties share
    * the rank of their first member) — the quantile-normalization /
    * percent-rank transform that makes a feature comparable across
    * groups with different scales, as an exact INTEGER in [0, 10⁶]. No
    * double ever appears: rank and n are integers and the ppm is floor
    * division, so the encoding is bit-identical across engines and
    * partitionings (`percent_rank()` itself returns a double division —
    * fine until two engines round it differently at hash-compare time).
    * Single-row groups encode 0 (no spread to place the row in).
    *
    * NULL features have no rank, and engines disagree on where nulls
    * sort (Spark NULLS FIRST vs DuckDB NULLS LAST in ascending order —
    * the exact cross-engine divergence valueRuns documents for order
    * keys), so keeping them would silently shift every non-null row's
    * rank by the engine's null placement. The encoder's contract is
    * therefore non-null features only, and it is LOUD by default: a null
    * `valueCol` fails the job via `raise_error` inside the rank's order
    * key (the codebase's loud-guard convention — a caller upgrading from
    * a version that silently dropped nulls gets an error naming the fix,
    * never quietly fewer rows). Pass `dropNulls = true` to opt into
    * dropping them instead (row count shrinks by the null count); either
    * way, callers who need the null rows keep them aside and re-join.
    *
    * Scale shape: one rank window per group — a per-group total order is
    * intrinsic to rank normalization, so this is the exact tier; at
    * group sizes where a single sort partition hurts, bin against
    * sampled quantile edges instead (the q76/q87 tier) and accept
    * step-quantized ranks. */
  def percentRankPpm(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      dropNulls: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(col)
    // The guard rides the window's ORDER key, which the sort evaluates for
    // every row — it cannot be pruned away like a dangling check column.
    // Message built with lit(), NOT interpolated into an expr() SQL string:
    // a column name containing a quote is legal in Spark, and splicing it
    // into SQL text would turn the guard into a ParseException.
    val orderKey =
      if (dropNulls) col(valueCol)
      else when(col(valueCol).isNull,
        raise_error(lit(s"percentRankPpm: null $valueCol — engines " +
          "disagree on null rank placement; filter nulls first or pass " +
          "dropNulls = true")).cast(df.schema(valueCol).dataType))
        .otherwise(col(valueCol))
    val w = Window.partitionBy(g: _*).orderBy(orderKey)
    val wg = Window.partitionBy(g: _*)
    (if (dropNulls) df.filter(col(valueCol).isNotNull) else df)
      .withColumn("__rnk", rank().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(wg))
      .withColumn("pr_ppm",
        when(col("__n") === 1L, 0L)
          .otherwise(expr("((__rnk - 1) * 1000000) div (__n - 1)")))
      .drop("__rnk", "__n")
  }

  /** [[percentRankPpm]] collapsed to one row per DISTINCT (group, value):
    * `(groupCols…, valueCol, n_rows, pr_ppm)` — bit-identical ppm to the
    * per-row form (SQL `rank()` gives every tie its group's FIRST rank,
    * which is exactly `1 + Σ counts of strictly smaller values`, a
    * cumulative sum over the distinct-value table).
    *
    * This is the SCALE form for rank-derived aggregates (decile tables,
    * CDF plots, calibration curves): the per-row operator must sort every
    * row of a group inside ONE window partition — parallelism = number of
    * groups, so a 3-flag billion-row table runs its heavy sort 3-wide
    * (measured at sf1: q149's 5.7 s max task under a balanced 1.001
    * hot-stage, the catalog's 4th-worst task_skew at 7.06) — while this
    * form sorts only the DISTINCT values per group (map-combined count
    * first, so the window input shrinks by the duplication factor) and
    * never joins back to the rows: any rank-only downstream aggregate
    * can weight by `n_rows` instead. Same loud null contract as the
    * per-row form. */
  def percentRankPpmByValue(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(col)
    val guarded = df.withColumn(valueCol,
      when(col(valueCol).isNull,
        raise_error(lit(s"percentRankPpmByValue: null $valueCol — engines " +
          "disagree on null rank placement; filter nulls first")).cast(df.schema(valueCol).dataType))
        .otherwise(col(valueCol)))
    val w = Window.partitionBy(g: _*).orderBy(col(valueCol))
    val wg = Window.partitionBy(g: _*)
    guarded
      .groupBy((g :+ col(valueCol)): _*)
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("__rnk",
        coalesce(
          sum(col("n_rows")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)) + 1L)
      .withColumn("__n", sum(col("n_rows")).over(wg))
      .withColumn("pr_ppm",
        when(col("__n") === 1L, 0L)
          .otherwise(expr("((__rnk - 1) * 1000000) div (__n - 1)")))
      .drop("__rnk", "__n")
  }
}
