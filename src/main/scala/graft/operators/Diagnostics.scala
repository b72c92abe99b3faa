package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Pre-flight diagnostics for 100 TB jobs — operators that answer "is this
  * join/aggregation about to blow up?" from the key distributions alone,
  * BEFORE running the expensive job. The reference's analogue is its
  * monitoring surface (reference `docs/MONITORING.md:93-96` connection/cache
  * SLOs); at Spark scale the thing worth watching is shuffle-key skew.
  */
object Diagnostics {

  /** Keys [[joinSkewProbe]] reports. */
  final val SkewTopN = 20
  /** Standard deviations past which [[countAnomalies]] and
    * [[slidingAnomalies]] flag a bucket, and the trailing buckets the
    * latter's baseline spans. */
  final val AnomalyZ = 2
  final val BaselineWindow = 7
  /** Lateness past which [[latenessAudit]] counts an event beyond the
    * watermark: 30 minutes. */
  final val LateThresholdUs = 1800000000L
  /** Contributors [[topContributorShare]] elects per group. */
  final val TopContributors = 10
  /** [[ksDrift]]'s histogram: equal-width bins over [KsLo, KsHi). */
  final val KsBins = 64
  final val KsLo = 0.0
  final val KsHi = 512.0
  /** Fixed-point scale [[correlationMatrix]] quantizes each value with. */
  final val CorrelationScale = 100L

  /** Join-skew probe: per-key row counts on both sides of a prospective
    * equi-join and the key's output contribution `n_left * n_right`,
    * top-[[SkewTopN]] keys by contribution.
    *
    * The contribution sum IS the exact inner-join output size, computed
    * without running the join: two map-side-combined aggregations (shuffle =
    * distinct keys, not rows) and a join of the two count tables. A key
    * whose product dwarfs the rest is the one that strands a 1000-executor
    * stage on one straggler task — the decision input for salting
    * ([[Rollup.saltedSumCount]]'s trick) or AQE skew-join thresholds.
    */
  def joinSkewProbe(
      left: DataFrame,
      right: DataFrame,
      key: String): DataFrame = {
    val l = left.groupBy(col(key)).agg(count(lit(1)).as("n_left"))
    val r = right.groupBy(col(key)).agg(count(lit(1)).as("n_right"))
    l.join(r, Seq(key))
      .withColumn("est_pairs", col("n_left") * col("n_right"))
      .orderBy(col("est_pairs").desc, col(key))
      .limit(SkewTopN)
  }

  /** Distribution drift between two snapshots — the "did this month's crawl
    * shift under me" audit a training-data pipeline runs before mixing a
    * new snapshot in. Per group, a binned two-sample Kolmogorov-Smirnov
    * distance: `max_bin |cdfA - cdfB|`, kept EXACT by cross-multiplying —
    * the numerator `max |cumA·nB - cumB·nA|` is pure integer arithmetic
    * (decimal(38,0): billion-row sides overflow BIGINT products), so two
    * engines and any partitioning agree bit-for-bit; the final
    * `ks_stat = num / (nA·nB)` is one correctly-rounded double division of
    * values exact below 2^53.
    *
    * Values bin by `least(bins-1, greatest(0, floor(((v - lo) / (hi - lo))
    * · bins)))` — fixed literal edges, so binning is reproducible and the
    * operation order is replayable in SQL verbatim.
    *
    * Scale shape: ONE map-side-combined aggregation over the tagged union
    * (shuffle keyed (group, bin), carrying ≤ groups × bins rows regardless
    * of input size), then windows + the final max over that bounded table.
    * No join of the two sides; the corpus rows are read once each.
    * Groups present on only one side are dropped (KS against an empty
    * sample is undefined); emits `(groupCols*, n_a, n_b, ks_num, ks_stat)`.
    */
  /** Per-bucket volume anomalies within each group — the "did traffic in
    * some hour spike" audit (the reference's monitoring surface tracks
    * exactly this class of signal on its dashboards; here it is a query
    * over the event stream instead of a sidecar system). For every
    * `(group, bucket)` count `c`, flags the bucket when `|c − μ_g| > z·σ_g`
    * with μ/σ the group's own bucket-count mean and population stddev.
    *
    * The test is kept EXACT by cross-multiplying out both divisions:
    * with `n` buckets, `s = Σc`, `ss = Σc²`, the flag is
    * `(n·c − s)² > z²·(n·ss − s²)` — pure integer arithmetic
    * (decimal(38,0): at 100 TB the products pass 2^63), so two engines and
    * any partitioning agree bit-for-bit; no double ever enters the verdict.
    *
    * Scale shape: one map-side-combined aggregation to `(group, bucket)`
    * counts (shuffle carries ≤ groups × buckets rows regardless of input),
    * one group-sized stats aggregation broadcast back onto the bucket
    * table. Emits `(groupCols*, bucket, n_rows, is_anomalous)`.
    */
  def countAnomalies(
      df: DataFrame,
      groupCols: Seq[String],
      bucket: Column): DataFrame = {
    val z = AnomalyZ
    val g = groupCols.map(col)
    val counts = df
      .groupBy(g :+ bucket.as("bucket"): _*)
      .agg(count(lit(1)).as("n_rows"))
    val dec = col("n_rows").cast("decimal(38,0)")
    val stats = counts
      .groupBy(g: _*)
      .agg(
        count(lit(1)).cast("decimal(38,0)").as("__n"),
        sum(dec).as("__s"),
        sum(dec * dec).as("__ss"))
    val dev = col("__n") * dec - col("__s")
    counts
      .join(broadcast(stats), groupCols)
      .withColumn("is_anomalous",
        dev * dev > lit(z.toLong * z).cast("decimal(38,0)") *
          (col("__n") * col("__ss") - col("__s") * col("__s")))
      .drop("__n", "__s", "__ss")
  }

  /** Trailing-baseline volume anomalies — [[countAnomalies]] with the
    * baseline LOCALIZED: each `(group, bucket)` count is tested against
    * the mean/stddev of its own trailing [[BaselineWindow]] buckets (previous rows,
    * current excluded), so a level shift three months ago stops poisoning
    * today's verdict and a slow ramp is never flagged the way a global-μ
    * test flags its whole tail. This is the dashboard "spike vs recent
    * baseline" alert as a batch query.
    *
    * Same exactness rule as [[countAnomalies]]: with `w` trailing counts,
    * `s = Σc`, `ss = Σc²`, the flag is `(w·c − s)² > z²·(w·ss − s²)` —
    * cross-multiplied integer arithmetic in decimal(38,0), no double in
    * the verdict, bit-identical on any engine/partitioning. Buckets with
    * fewer than `window` trailing observations verdict NULL (no baseline),
    * not false.
    *
    * Scale shape: the bucket rollup shuffles ≤ groups × buckets rows; the
    * trailing stats are ONE window pass over that bucket table (already
    * tiny), partitioned by group — never a second pass over the corpus,
    * and no broadcast-back join at all. Emits
    * `(groupCols*, bucket, n_rows, baseline_n, is_anomalous)`. */
  def slidingAnomalies(
      df: DataFrame,
      groupCols: Seq[String],
      bucket: Column): DataFrame = {
    val (window, z) = (BaselineWindow, AnomalyZ)
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(col)
    val counts = df
      .groupBy(g :+ bucket.as("bucket"): _*)
      .agg(count(lit(1)).as("n_rows"))
    val dec = col("n_rows").cast("decimal(38,0)")
    val w = Window.partitionBy(g: _*).orderBy(col("bucket"))
      .rowsBetween(-window.toLong, -1L)
    val dev = lit(window.toLong).cast("decimal(38,0)") * dec - col("__s")
    counts
      .withColumn("__bn", count(lit(1)).over(w))
      .withColumn("__s", sum(dec).over(w))
      .withColumn("__ss", sum(dec * dec).over(w))
      .withColumn("is_anomalous",
        when(col("__bn") < window, lit(null).cast("boolean"))
          .otherwise(dev * dev > lit(z.toLong * z).cast("decimal(38,0)") *
            (lit(window.toLong).cast("decimal(38,0)") * col("__ss") -
              col("__s") * col("__s"))))
      .withColumn("baseline_n", col("__bn"))
      .drop("__bn", "__s", "__ss")
  }

  /** Tukey-fence outlier audit per group: quartiles of `valueCol`, the
    * 1.5·IQR fences, and how many rows fall outside each side — the
    * box-plot screen run before trusting a numeric feature (price,
    * length, score) for training or monitoring.
    *
    * Both engines compute the same exact linear-interpolated quartiles
    * (Spark `percentile` ≡ DuckDB `quantile_cont` — the q37/q87
    * agreement), and the fences are the same two IEEE ops on those
    * doubles, so the report hash-matches cross-engine. Exact per-group
    * percentile materializes the group's values in one aggregation
    * buffer — the q37 input-bound caveat: fine for per-category fences
    * (millions of rows per group), use hash-sampled quantiles (q76's
    * tier) when single groups reach billions.
    *
    * Scale shape: ONE aggregation computes quartiles AND array-form
    * min/max/count; the group-cardinality-sized fence table broadcasts
    * back onto the scan for the outside-fence counts. Two passes over
    * the fact by construction (fences must exist before counting against
    * them) — same shape as q87's binning. */
  def iqrOutliers(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String): DataFrame = {
    val g = groupCols.map(col)
    val v = col(valueCol)
    val fences = df
      .groupBy(g: _*)
      .agg(percentile(v, array(lit(0.25), lit(0.5), lit(0.75))).as("__q"))
      .select(g ++ Seq(
        element_at(col("__q"), 1).as("p25"),
        element_at(col("__q"), 2).as("p50"),
        element_at(col("__q"), 3).as("p75")): _*)
      .withColumn("lo_fence", col("p25") - lit(1.5) * (col("p75") - col("p25")))
      .withColumn("hi_fence", col("p75") + lit(1.5) * (col("p75") - col("p25")))
    df.join(broadcast(fences), groupCols)
      .groupBy(g: _*)
      .agg(
        count(lit(1)).as("n_rows"),
        first(col("p25")).as("p25"), first(col("p50")).as("p50"),
        first(col("p75")).as("p75"),
        first(col("lo_fence")).as("lo_fence"), first(col("hi_fence")).as("hi_fence"),
        sum(when(v < col("lo_fence"), 1L).otherwise(0L)).as("n_below"),
        sum(when(v > col("hi_fence"), 1L).otherwise(0L)).as("n_above"))
  }

  /** Watermark-lateness audit: how out-of-order each key's stream really
    * is, in exact microseconds — the measurement that decides a streaming
    * job's watermark delay (too short drops the tail of this
    * distribution, too long holds state for nothing; SURVEY §2.12's
    * watermarks are exactly the knob this audit calibrates). Within each
    * key's stream in `arrivalCol` order, an event's lateness is how far
    * its event-time sits BEHIND the running watermark
    * `max(event time so far)`: `late_us = max(wm_before − ts, 0)`.
    *
    * Everything is integer microseconds (`unix_micros` ≡ DuckDB
    * `epoch_us`) — no rounding, engine-exact. The first event of a key
    * has no watermark and is on time by definition.
    *
    * Scale shape: one window pass partitioned by key in arrival order
    * (the same single-shuffle shape as [[interArrivalSpectrum]]), then a
    * map-combined rollup to `groupCols`. Emits per group: event count,
    * out-of-order count, count beyond [[LateThresholdUs]] (the events a
    * watermark of that delay would DROP), and the max/total lateness.
    *
    * `arrivalCols` must be a TOTAL order within each key (append a unique
    * id as tiebreak): a tie inside the running-max frame would make the
    * verdict depend on physical row order. */
  def latenessAudit(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      arrivalCols: Seq[Column],
      groupCols: Seq[String]): DataFrame = {
    require(arrivalCols.nonEmpty, "need at least one arrival-order column")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol)).orderBy(arrivalCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1L)
    val g = groupCols.map(col)
    df
      .withColumn("__us", unix_micros(col(tsCol)))
      .withColumn("__late",
        greatest(coalesce(max(col("__us")).over(w) - col("__us"), lit(0L)), lit(0L)))
      .groupBy(g: _*)
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("__late") > 0L, 1L).otherwise(0L)).as("n_out_of_order"),
        sum(when(col("__late") > LateThresholdUs, 1L).otherwise(0L)).as("n_beyond_watermark"),
        max(col("__late")).as("max_late_us"),
        sum(col("__late")).as("total_late_us"))
  }

  /** Traffic-concentration audit: per group, what share of rows the top-k
    * contributors account for, in integer ppm — the "is this segment a
    * few power users or a broad base" screen (and, for training data,
    * the "does one crawl host dominate this source" check that decides a
    * per-contributor cap, [[graft.operators.Sampling.capPerGroup]]'s
    * tuning input).
    *
    * The top-k election is the bounded [[graft.plans.TopKAgg]] aggregate
    * — the exchange carries k (count, id) pairs per group, no
    * row_number window, no sort of the contributor table; ties break
    * (count DESC, id ASC), deterministic on any layout. Contributor ids
    * must be integral (TopKAgg's id leg — loud require, the
    * [[graft.operators.Dedup.bestSurvivorLosers]] rule), and NULL ids
    * are skipped by the election — filter or map them first when the
    * null bucket should count as a contributor.
    *
    * Scale shape: one map-combined rollup to (group, contributor)
    * counts, one k-bounded aggregation over it. Emits per group:
    * `(n_rows, n_contributors, topk_rows, topk_share_ppm)`. */
  def topContributorShare(
      df: DataFrame,
      groupCols: Seq[String],
      contributorCol: String): DataFrame = {
    Guards.requireIntegralColumns(df, Seq(contributorCol), "topContributorShare")
    val g = groupCols.map(col)
    df
      .groupBy(g :+ col(contributorCol).as("__id"): _*)
      .agg(count(lit(1)).as("__c"))
      .groupBy(g: _*)
      .agg(
        sum(col("__c")).as("n_rows"),
        count(lit(1)).as("n_contributors"),
        graft.plans.GraftFunctions.topK(
          col("__c").cast("double"), col("__id").cast("long"), TopContributors).as("__t"))
      .withColumn("topk_rows",
        aggregate(col("__t"), lit(0L), (acc, x) => acc + x.getField("ord").cast("long")))
      .withColumn("topk_share_ppm", expr("(topk_rows * 1000000) div n_rows"))
      .drop("__t")
  }

  /** Per-dimension embedding health audit: for every vector dimension, the
    * count, zero-count, exact sum and exact variance numerator of the
    * quantized coordinate — the "dead / collapsed dimension" check a
    * pipeline runs before trusting an embedding column for similarity
    * work (a dimension with `var_num = 0` carries no information; a large
    * `n_zero` fraction marks sparse or truncated encoders).
    *
    * Coordinates quantize to integer units of 1e-6
    * (`CAST(v AS DECIMAL(18,6)) · 10⁶` — the same element quantization as
    * [[graft.functions.VectorFunctions.dotExact]]), so `sum_u`, `ss` and
    * the variance numerator `var_num = n·ss − s²` are EXACT integer
    * arithmetic — order-independent, partitioning-independent, and
    * bit-identical in an independent SQL engine. No double appears in the
    * output; callers derive `var = var_num / (n²·10¹²)` when they want the
    * float.
    *
    * The internal accumulation runs in DECIMAL(38,0); the FINAL `sum_u` /
    * `var_num` present as BIGINT (the catalog's presentation-type
    * convention — cross-engine hashes are representation-sensitive, and
    * DECIMAL(38,0) surfaces differently from DuckDB vs Spark). The cast
    * is guarded: any value past ±9.0e18 fails the job loudly via
    * `raise_error` instead of wrapping. That bounds the audit at roughly
    * n ≤ 3·10³ vectors per dimension in the worst case (|u| = 10⁶
    * everywhere) but in practice far higher — `var_num = n·ss − s²`
    * tracks actual spread, not the worst case (4.6·10¹⁵ at sf0.01's 6k
    * vectors). Past the bound, re-present as strings, don't widen to
    * double.
    *
    * Scale shape: posexplode is a plain generate over the stored array
    * (stays in whole-stage codegen — no higher-order function feeds the
    * explode), and the single aggregation shuffles ≤ `dim` rows per map
    * partition after partial aggregation. Output is dim-sized.
    */
  def embeddingDimStats(emb: DataFrame, vecCol: String): DataFrame = {
    val u = (col("__v").cast("double").cast("decimal(18,6)") * lit(1000000))
      .cast("decimal(38,0)")
    emb
      .select(posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .select(col("dim").cast("long").as("dim"), u.as("__u"))
      .groupBy(col("dim"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("__u") === 0, 1L).otherwise(0L)).as("n_zero"),
        sum(col("__u")).cast("decimal(38,0)").as("sum_u"),
        sum(col("__u") * col("__u")).cast("decimal(38,0)").as("__ss"))
      .select(
        col("dim"), col("n_vecs"), col("n_zero"),
        presentBigint(col("sum_u"), "sum_u"),
        presentBigint(
          (col("n_vecs").cast("decimal(38,0)") * col("__ss") -
            col("sum_u") * col("sum_u")).cast("decimal(38,0)"), "var_num"))
  }

  /** Guarded DECIMAL(38,0) → BIGINT presentation: values past ±9.0e18
    * fail loudly (`raise_error`) instead of wrapping or nulling — the
    * catalog-wide convention that final output columns carry only
    * {long, int, double, string, boolean, timestamp, date}.
    */
  private[graft] def presentBigint(c: Column, name: String): Column =
    when(abs(c) > lit(BigDecimal("9000000000000000000")),
        expr(s"CAST(raise_error('presentBigint: $name exceeds BIGINT " +
          "presentation bound — re-present as string') AS BIGINT)"))
      .otherwise(c.cast("long")).as(name)

  def ksDrift(
      dfA: DataFrame,
      dfB: DataFrame,
      groupCols: Seq[String],
      valueCol: Column): DataFrame = {
    val (bins, lo, hi) = (KsBins, KsLo, KsHi)
    val g = groupCols.map(col)
    def side(df: DataFrame, tag: Int): DataFrame =
      df.select(g :+ valueCol.cast("double").as("__v"): _*).withColumn("__side", lit(tag))
    val binExpr = least(lit(bins - 1), greatest(lit(0),
      floor((col("__v") - lit(lo)) / lit(hi - lo) * lit(bins)).cast("int")))
    val counts = side(dfA, 0).unionByName(side(dfB, 1))
      .withColumn("__bin", binExpr)
      .groupBy(g :+ col("__bin"): _*)
      .agg(
        sum(when(col("__side") === 0, 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__side") === 1, 1L).otherwise(0L)).as("__cb"))
    val wCum = Window.partitionBy(g: _*).orderBy(col("__bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(g: _*)
    counts
      .withColumn("__cuma", sum(col("__ca")).over(wCum))
      .withColumn("__cumb", sum(col("__cb")).over(wCum))
      .withColumn("__na", sum(col("__ca")).over(wAll))
      .withColumn("__nb", sum(col("__cb")).over(wAll))
      .groupBy(g: _*)
      .agg(
        max(col("__na")).as("n_a"),
        max(col("__nb")).as("n_b"),
        max(abs(col("__cuma").cast("decimal(19,0)") * col("__nb") -
          col("__cumb").cast("decimal(19,0)") * col("__na")))
          .cast("decimal(38,0)").as("ks_num"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .withColumn("ks_stat",
        col("ks_num").cast("double") / (col("n_a").cast("double") * col("n_b").cast("double")))
  }

  /** Pairwise Pearson correlation of numeric columns in EXACT arithmetic —
    * the feature-redundancy audit run before trusting columns into a
    * model. Values quantize losslessly to integer units of `1/scale`
    * (pick `scale` to cover the columns' literal decimal precision); the
    * moment sums accumulate in exact decimals (Σx as decimal(29,0),
    * Σx²/Σxy as decimal(38,0)) — associative, order-independent,
    * engine-portable — and only the final correlation divides through
    * IEEE doubles (correctly-rounded sqrt/÷ of exactly-agreed integers,
    * so even the doubles are bit-stable cross-engine).
    *
    * Precision budget: the n·Σxy − Σx·Σy cross-products must fit 38
    * digits — |x·scale|² · rows ≲ 1e38, e.g. 1e12 rows of 1e7-unit
    * values at the cap. Past it Spark's decimal arithmetic yields null
    * (ANSI off), so every derived term is overflow-GUARDED: the query
    * fails loudly telling you to reduce `scale`, never returns a silent
    * null/NaN correlation.
    *
    * Scale shape: ONE map-side-combined global aggregation over the scan
    * — k² agg buffers in a single row, zero shuffle beyond the 1-row
    * final merge — then the pair table expands row-locally from that one
    * row. The single-pass textbook formula n·Σxy − Σx·Σy is SAFE here
    * because the sums are exact integers: catastrophic cancellation is a
    * floating-point disease. */
  def correlationMatrix(
      df: DataFrame,
      cols: Seq[String]): DataFrame = {
    val scale = CorrelationScale
    require(cols.size >= 2, "correlationMatrix needs at least two columns")
    val dec = DecimalType(19, 0)
    // listwise-complete: a row with ANY null column leaves every moment,
    // so n and the sums stay mutually consistent (sum() would silently
    // skip nulls while count() kept the row)
    val q = df.select(cols.map(c =>
      expr(s"CAST(round($c * $scale) AS BIGINT)").cast(dec).as(s"__$c")): _*)
      .na.drop()
    val pairs = for { i <- cols.indices; j <- cols.indices if i < j } yield (cols(i), cols(j))
    val aggExprs =
      (count(lit(1)).cast(dec).as("__n") +:
        cols.flatMap(c => Seq(
          sum(col(s"__$c")).as(s"__s_$c"),
          sum(col(s"__$c") * col(s"__$c")).as(s"__ss_$c")))) ++
        pairs.map { case (a, b) => sum(col(s"__$a") * col(s"__$b")).as(s"__p_${a}_$b") }
    val one = q.agg(aggExprs.head, aggExprs.tail: _*)
    // decimal overflow (past precision 38) nulls silently with ANSI off —
    // surface it as a job failure instead of a null correlation
    def guarded(c: Column): Column =
      when(col("__n") === 0, lit(null).cast(DecimalType(38, 0)))
        .otherwise(coalesce(c,
          expr("CAST(raise_error('correlationMatrix: decimal overflow — reduce scale') AS DECIMAL(38,0))")))
    val rows = pairs.map { case (a, b) =>
      struct(
        lit(a).as("col_a"), lit(b).as("col_b"),
        col("__n").cast("long").as("n"),
        guarded(col("__n") * col(s"__p_${a}_$b") - col(s"__s_$a") * col(s"__s_$b"))
          .cast("double").as("num"),
        guarded(col("__n") * col(s"__ss_$a") - col(s"__s_$a") * col(s"__s_$a"))
          .cast("double").as("den_a"),
        guarded(col("__n") * col(s"__ss_$b") - col(s"__s_$b") * col(s"__s_$b"))
          .cast("double").as("den_b"))
    }
    one.select(explode(array(rows: _*)).as("__r"))
      .select(col("__r.*"))
      .withColumn("corr", col("num") / (sqrt(col("den_a")) * sqrt(col("den_b"))))
  }

  /** Inter-arrival spectrum: the distribution of time gaps between a
    * unit's consecutive events, bucketed into power-of-2 second bands —
    * the cadence fingerprint behind rate-limit tuning, bot detection
    * ("sub-second metronome traffic"), and sessionization-gap choice
    * (q33's 30 minutes should sit in a valley of this histogram).
    *
    * The bucket is the BIT LENGTH of the gap in seconds (`length(bin(g))`
    * — exact integer both engines, no libm log2): bucket b covers
    * [2^(b-1), 2^b), bucket 0 is the sub-second band. Determinism: gaps
    * order by (tsCol, tieCol) — a total order.
    *
    * Scale shape: ONE partition-keyed shuffle+sort for the lag window
    * (the unavoidable sequence pass, shared shape with q112's
    * transitions), then everything is reportCols × ~40 buckets. */
  /** Power-of-two band kernel shared by the gap/lag spectra (q139/q160):
    * bucket 0 holds values ≤ 0, bucket b ≥ 1 holds [2^(b−1), 2^b−1] — the
    * value's bit length, integer arithmetic both engines replay
    * (`length(bin(x))`). */
  def powerBucket(v: Column): Column =
    when(v <= 0, lit(0)).otherwise(length(bin(v))).cast("int")

  def powerBucketLo(b: Column): Column =
    when(b === 0, lit(0L))
      .otherwise(call_function("shiftleft", lit(1L), b - 1))

  def powerBucketHi(b: Column): Column =
    call_function("shiftleft", lit(1L), b) - 1

  def interArrivalSpectrum(
      df: DataFrame,
      partitionCols: Seq[String],
      reportCols: Seq[String],
      tsCol: String,
      tieCol: String): DataFrame = {
    require(partitionCols.nonEmpty, "need at least one partition column")
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    df.select((partitionCols ++ reportCols).distinct.map(col) :+
        col(tsCol) :+ col(tieCol): _*)
      .withColumn("__prev", lag(col(tsCol), 1).over(w))
      .filter(col("__prev").isNotNull)
      .withColumn("__gap",
        expr(s"(unix_micros($tsCol) - unix_micros(__prev)) div 1000000"))
      .withColumn("bucket", powerBucket(col("__gap")))
      .groupBy(reportCols.map(col) :+ col("bucket"): _*)
      .agg(count(lit(1)).as("n_gaps"))
      .withColumn("gap_lo_s", powerBucketLo(col("bucket")))
      .withColumn("gap_hi_s", powerBucketHi(col("bucket")))
  }

  /** Item-affinity matrix: for every pair of items, how many UNITS (users,
    * documents, sessions) carry both, with the exact Jaccard overlap in
    * integer ppm — the "users who do X also do Y" / label-co-occurrence
    * audit. Output is |items|²-bounded, tiny for categorical item domains.
    *
    * Scale shape: (unit, item) pairs collapse to distinct per-unit item
    * SETS in one unit-keyed aggregation (`collect_set` is safe here
    * because the item domain — not the unit count — bounds the set);
    * ordered pairs expand ROW-LOCALLY from each sorted set (never a
    * corpus self-join on unit), and the per-item totals join back
    * broadcast. A high-cardinality item domain needs the self-join form
    * instead — this operator is for categorical domains and says so. */
  def cooccurrenceAffinity(
      df: DataFrame,
      unitCol: String,
      itemCol: String): DataFrame = {
    val sets = df.groupBy(col(unitCol))
      .agg(sort_array(collect_set(col(itemCol))).as("__items"))
    val pairs = sets
      .select(explode(flatten(transform(col("__items"), x =>
        transform(filter(col("__items"), y => y > x), y =>
          struct(x.as("item_a"), y.as("item_b")))))).as("__p"))
      .select(col("__p.item_a"), col("__p.item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_both"))
    val totals = df.select(col(unitCol), col(itemCol)).distinct()
      .groupBy(col(itemCol)).agg(count(lit(1)).as("__n"))
    pairs
      .join(broadcast(totals.select(col(itemCol).as("item_a"), col("__n").as("n_a"))),
        Seq("item_a"))
      .join(broadcast(totals.select(col(itemCol).as("item_b"), col("__n").as("n_b"))),
        Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("n_a"), col("n_b"), col("n_both"),
        expr("(n_both * 1000000) div (n_a + n_b - n_both)").as("jaccard_ppm"))
  }
}
