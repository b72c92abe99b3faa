package graft
package catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.AggFunctions
import graft.operators.{Audit, Diagnostics}

import Shared._

/** Data-quality catalog family: null and describe profiles, constraint
  * and referential audits, privacy audits and the distribution
  * diagnostics (drift, anomalies, correlation, concentration). */
object AuditQueries extends Family {

  // ---------------------------------------------------------------- q05
  // A6 per-column null profile (notebook isnull().sum()) — single pass.
  val q05 = query("q05_null_counts")((s, dir) => {
    val l = Tables.lineitem(s, dir)
    val aggs = l.columns.toSeq.map(c => (count(lit(1)) - count(col(c))).as(c))
    l.agg(aggs.head, aggs.tail: _*)
  })({
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
    "SELECT " + cols.map(c => s"count(*) - count($c) AS $c").mkString(", ") + " FROM lineitem"
  })

  // ---------------------------------------------------------------- q06
  // A5 describe(): count/mean/std/min/max per metric column, melted.
  // Std uses the deterministic sum-of-squares identity (AggFunctions).
  // ONE scan: all 15 aggregates in a single pass, then the one-row result
  // is unpivoted to a row per metric (a per-metric agg + unionAll would
  // read lineitem once per metric).
  val q06 = query("q06_describe_stats")((s, dir) => {
    val l = Tables.lineitem(s, dir)
    val metrics = Seq("l_quantity", "l_extendedprice", "l_discount")
    val aggs = metrics.flatMap { m =>
      Seq(
        count(col(m)).as(s"${m}_n"),
        AggFunctions.avgExact(col(m)).as(s"${m}_mean"),
        AggFunctions.stddevExact(col(m)).as(s"${m}_std"),
        min(col(m)).as(s"${m}_min"),
        max(col(m)).as(s"${m}_max")
      )
    }
    l.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(metrics.map(m =>
        struct(
          lit(m).as("metric"),
          col(s"${m}_n").as("n"),
          col(s"${m}_mean").as("mean"),
          col(s"${m}_std").as("std"),
          col(s"${m}_min").as("min"),
          col(s"${m}_max").as("max"))): _*)).as("kv"))
      .select(col("kv.*"))
      .orderBy("metric")
  })({
    def one(m: String) =
      s"""SELECT '$m' AS metric, count($m) AS n, ${dAvg(m)} AS mean,
         | ${dStd(m)} AS std,
         | min($m) AS min, max($m) AS max FROM lineitem""".stripMargin
    Seq("l_quantity", "l_extendedprice", "l_discount").map(one).mkString("", "\nUNION ALL\n", "\nORDER BY metric")
  })

  // ---------------------------------------------------------------- q17
  // §2.9 constraint audit suite: the reference's 9-invariant validator
  // (src/etl.py:302-328) generalized — CHECK-style predicates fused into
  // one pass per table, plus FK-orphan and PK-uniqueness audits.
  val q17 = query("q17_constraint_audit")((s, dir) => {
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val e = Tables.events(s, dir)
    val checks = Audit.auditAll(
      Map("lineitem" -> l, "orders" -> o, "events" -> e),
      Seq(
        Audit.Constraint("lineitem_quantity_nonneg", "lineitem", col("l_quantity") >= 0),
        Audit.Constraint("lineitem_discount_range", "lineitem", col("l_discount").between(0, 1)),
        Audit.Constraint("lineitem_price_nonneg", "lineitem", col("l_extendedprice") >= 0),
        Audit.Constraint("orders_totalprice_nonneg", "orders", col("o_totalprice") >= 0),
        Audit.Constraint("events_value_nonneg", "events", col("value") >= 0)
      )
    )
    // FK/PK audits as lazy union legs: the entire 7-check suite is ONE plan
    // and ONE action; Spark schedules the independent scan stages
    // concurrently (previously 4+ sequential driver-blocking jobs).
    val fk = Audit.fkOrphanAudit("fk_orders_customer", o,
      Tables.customer(s, dir).withColumnRenamed("c_custkey", "o_custkey"), Seq("o_custkey"))
    val pk = Audit.pkViolationAudit("pk_lineitem_unique", l, Seq("l_orderkey", "l_linenumber"))
    checks.unionAll(fk).unionAll(pk)
      .withColumnRenamed("constraint", "check_name")
      .orderBy("check_name")
  })(
    """SELECT 'events_value_nonneg' AS check_name,
      |  (SELECT count(*) FROM events WHERE NOT ("value" >= 0)) AS violations
      |UNION ALL SELECT 'fk_orders_customer',
      |  (SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
      |UNION ALL SELECT 'lineitem_discount_range',
      |  (SELECT count(*) FROM lineitem WHERE NOT (l_discount BETWEEN 0 AND 1))
      |UNION ALL SELECT 'lineitem_price_nonneg',
      |  (SELECT count(*) FROM lineitem WHERE NOT (l_extendedprice >= 0))
      |UNION ALL SELECT 'lineitem_quantity_nonneg',
      |  (SELECT count(*) FROM lineitem WHERE NOT (l_quantity >= 0))
      |UNION ALL SELECT 'orders_totalprice_nonneg',
      |  (SELECT count(*) FROM orders WHERE NOT (o_totalprice >= 0))
      |UNION ALL SELECT 'pk_lineitem_unique',
      |  (SELECT count(*) FROM (SELECT l_orderkey, l_linenumber FROM lineitem
      |                         GROUP BY 1, 2 HAVING count(*) > 1) t)
      |ORDER BY check_name""".stripMargin)

  // ---------------------------------------------------------------- q67
  // Statistical outlier filter: per-event-type mean/std (exact-decimal
  // moments — the same machinery q06's describe proves bit-exact), then
  // flag events beyond 2σ. The canonical two-pass normalize: the stats
  // table is one row per type and broadcasts back into a map-only scan of
  // the fact; z's double arithmetic runs in fixed operation order (and
  // IEEE sqrt/div are correctly rounded), so both engines agree bitwise.
  val q67 = query("q67_zscore_outliers")((s, dir) => {
    val ev = Tables.events(s, dir).select(col("event_id"), col("event_type"), col("value"))
    val stats = ev.groupBy(col("event_type")).agg(
      AggFunctions.avgExact(col("value")).as("__mean"),
      AggFunctions.stddevExact(col("value")).as("__std"))
    ev.join(broadcast(stats), Seq("event_type"))
      .withColumn("z", (col("value") - col("__mean")) / col("__std"))
      .filter(abs(col("z")) > 2.0)
      .select(col("event_id"), col("event_type"), col("value"), col("z"))
      .orderBy("event_id")
  })({
    val v = "\"value\""
    s"""WITH st AS (SELECT event_type, ${dAvg(v)} AS mean,
       | ${dStd(v)} AS std
       | FROM events GROUP BY event_type)
       |SELECT e.event_id, e.event_type, e.$v, (e.$v - st.mean)/st.std AS z
       |FROM events e JOIN st USING (event_type)
       |WHERE abs((e.$v - st.mean)/st.std) > 2.0
       |ORDER BY e.event_id""".stripMargin
  })

  // ---------------------------------------------------------------- q72
  // Corpus-composition contingency table (lang × source) with
  // observed/expected ratios — the drift check a curation pipeline runs on
  // every refresh. Cell counts plus both marginals; expected and the
  // obs/exp ratio are each ONE division of exact integer products, so the
  // doubles match bit-for-bit. The marginals are group-count-sized and
  // broadcast back; the cell table shuffles once on the (lang, source) key.
  val q72 = query("q72_contingency")((s, dir) => {
    val d = Tables.documents(s, dir)
    val cells = d.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
    val byLang = d.groupBy(col("lang")).agg(count(lit(1)).as("__nl"))
    val bySource = d.groupBy(col("source")).agg(count(lit(1)).as("__ns"))
    val total = d.agg(count(lit(1)).as("__nt"))
    cells
      .join(broadcast(byLang), Seq("lang"))
      .join(broadcast(bySource), Seq("source"))
      .crossJoin(broadcast(total))
      .select(
        col("lang"), col("source"), col("n"),
        ((col("__nl") * col("__ns")).cast("double") / col("__nt").cast("double"))
          .as("expected"),
        ((col("n") * col("__nt")).cast("double") / (col("__nl") * col("__ns")).cast("double"))
          .as("obs_exp_ratio"))
      .orderBy("lang", "source")
  })(
    """WITH cells AS (SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source),
      |bl AS (SELECT lang, count(*) AS nl FROM documents GROUP BY lang),
      |bs AS (SELECT source, count(*) AS ns FROM documents GROUP BY source),
      |t AS (SELECT count(*) AS nt FROM documents)
      |SELECT cells.lang, cells.source, cells.n,
      | CAST(bl.nl * bs.ns AS DOUBLE)/CAST(t.nt AS DOUBLE) AS expected,
      | CAST(cells.n * t.nt AS DOUBLE)/CAST(bl.nl * bs.ns AS DOUBLE) AS obs_exp_ratio
      |FROM cells JOIN bl USING (lang) JOIN bs USING (source) CROSS JOIN t
      |ORDER BY lang, source""".stripMargin)

  // ---------------------------------------------------------------- q80
  // Join-skew probe (Diagnostics.joinSkewProbe): per-key row counts on both
  // sides of a prospective join and the exact output contribution
  // n_left * n_right, top-20 — the pre-flight that spots the straggler key
  // BEFORE a 1000-executor stage strands on it. Two map-side-combined
  // aggregations; shuffle = distinct keys, never rows.
  val q80 = query("q80_join_skew_probe")((s, dir) => {
    val ev = Tables.events(s, dir)
    graft.operators.Diagnostics.joinSkewProbe(
      ev.filter(col("event_type") === "purchase"),
      ev.filter(col("event_type") =!= "purchase"),
      "user_id", topN = 20)
  })(
    """WITH l AS (SELECT user_id, count(*) AS n_left FROM events
      |  WHERE event_type = 'purchase' GROUP BY user_id),
      |r AS (SELECT user_id, count(*) AS n_right FROM events
      |  WHERE event_type <> 'purchase' GROUP BY user_id)
      |SELECT l.user_id, n_left, n_right, n_left * n_right AS est_pairs
      |FROM l JOIN r ON l.user_id = r.user_id
      |ORDER BY est_pairs DESC, l.user_id LIMIT 20""".stripMargin)

  // ---------------------------------------------------------------- q105
  // Snapshot drift audit (Diagnostics.ksDrift): binned two-sample KS
  // distance of `value` per event_type between the first and second half
  // of the month — "did this crawl's distribution shift" before mixing a
  // new snapshot into training data. The numerator max|cumA·nB − cumB·nA|
  // is exact cross-multiplied integer arithmetic (order-independent,
  // engine-independent); the final statistic is one double division. One
  // (group, bin)-keyed map-combined aggregation over the tagged union —
  // the shuffle carries ≤ groups × 64 rows regardless of input size.
  val q105 = query("q105_ks_drift")((s, dir) => {
    val ev = Tables.events(s, dir)
    val split = lit("2024-01-16 00:00:00").cast("timestamp")
    graft.operators.Diagnostics.ksDrift(
        ev.filter(col("ts") < split), ev.filter(col("ts") >= split),
        Seq("event_type"), col("value"), bins = 64, lo = 0.0, hi = 512.0)
      .select(col("event_type"), col("n_a"), col("n_b"),
        col("ks_num").cast("long").as("ks_num"), col("ks_stat"))
      .orderBy("event_type")
  })({
    val ks = "max(abs(cuma * nb - cumb * na))"
    s"""WITH u AS (SELECT event_type,
       |  CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 0 ELSE 1 END AS side,
       |  least(63, greatest(0, CAST(floor(("value" - 0.0) / 512.0 * 64) AS INT))) AS bin
       | FROM events),
       |c AS (SELECT event_type, bin,
       |  sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS ca,
       |  sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cb
       | FROM u GROUP BY event_type, bin),
       |w AS (SELECT event_type,
       |  sum(ca) OVER (PARTITION BY event_type ORDER BY bin
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
       |  sum(cb) OVER (PARTITION BY event_type ORDER BY bin
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
       |  sum(ca) OVER (PARTITION BY event_type) AS na,
       |  sum(cb) OVER (PARTITION BY event_type) AS nb
       | FROM c)
       |SELECT event_type,
       | CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
       | CAST($ks AS BIGINT) AS ks_num,
       | CAST($ks AS DOUBLE) / (CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE)) AS ks_stat
       |FROM w GROUP BY event_type
       |HAVING max(na) > 0 AND max(nb) > 0
       |ORDER BY event_type""".stripMargin
  })

  // ---------------------------------------------------------------- q117
  // Hourly volume anomalies per event type (Diagnostics.countAnomalies):
  // the monitoring-dashboard "traffic spike" signal as a query — flag
  // hours where |c − μ| > 2σ against the type's own hourly distribution.
  // The z-test is cross-multiplied into pure integer arithmetic
  // ((n·c − s)² > 4·(n·ss − s²)), so the verdict is bit-reproducible in
  // any engine — no stddev double ever enters the comparison. Shuffle is
  // bounded by types × hours; the per-type stats table broadcasts back.
  val q117 = query("q117_count_anomalies")((s, dir) =>
    Diagnostics.countAnomalies(Tables.events(s, dir), Seq("event_type"),
        date_trunc("hour", col("ts")), z = 2)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_hours"),
        sum(col("n_rows")).as("n_events"),
        max(col("n_rows")).as("peak_hour_rows"),
        sum(when(col("is_anomalous"), 1L).otherwise(0L)).as("n_anomalous"))
      .orderBy("event_type"))(
    """WITH hc AS (SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |st AS (SELECT event_type, count(*) AS n, sum(c) AS s, sum(c*c) AS ss
      |  FROM hc GROUP BY 1)
      |SELECT hc.event_type,
      |  CAST(st.n AS BIGINT) AS n_hours,
      |  CAST(st.s AS BIGINT) AS n_events,
      |  CAST(max(hc.c) AS BIGINT) AS peak_hour_rows,
      |  CAST(sum(CASE WHEN (st.n*hc.c - st.s)*(st.n*hc.c - st.s)
      |                     > 4*(st.n*st.ss - st.s*st.s)
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous
      |FROM hc JOIN st USING (event_type)
      |GROUP BY hc.event_type, st.n, st.s, st.ss
      |ORDER BY event_type""".stripMargin)

  // ---------------------------------------------------------------- q130
  // Event-type affinity matrix (Diagnostics.cooccurrenceAffinity): for
  // every pair of event types, how many users do both and the exact
  // Jaccard overlap in ppm — the "users who X also Y" co-occurrence audit
  // feeding funnel design (q83) and the transition matrix (q112). One
  // unit-keyed set aggregation, row-local pair expansion (items² bounded
  // by the categorical domain, never a corpus self-join), totals
  // broadcast back.
  val q130 = query("q130_type_affinity")((s, dir) =>
    Diagnostics.cooccurrenceAffinity(Tables.events(s, dir), "user_id", "event_type")
      .orderBy("item_a", "item_b"))(
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |p AS (SELECT a.event_type AS ia, b.event_type AS ib FROM ut a
      |  JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type),
      |nb AS (SELECT ia, ib, count(*) AS n_both FROM p GROUP BY 1, 2),
      |t AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1)
      |SELECT nb.ia AS item_a, nb.ib AS item_b, ta.n AS n_a, tb.n AS n_b,
      |  nb.n_both, (nb.n_both * 1000000) // (ta.n + tb.n - nb.n_both) AS jaccard_ppm
      |FROM nb JOIN t ta ON ta.event_type = nb.ia JOIN t tb ON tb.event_type = nb.ib
      |ORDER BY item_a, item_b""".stripMargin)

  // ---------------------------------------------------------------- q133
  // Feature correlation matrix (Diagnostics.correlationMatrix): pairwise
  // Pearson correlation of lineitem's four numeric measures with all
  // moment sums in exact decimal(38,0) over 1e-2 integer units (the
  // columns' literal precision, so quantization is lossless) — only the
  // final corr divides through correctly-rounded IEEE doubles, so every
  // cell value-checks cross-engine. One map-combined single-row global
  // aggregation; the pair table expands row-locally from it.
  private val q133Cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  val q133 = query("q133_corr_matrix")((s, dir) =>
    Diagnostics.correlationMatrix(Tables.lineitem(s, dir), q133Cols, scale = 100L)
      .orderBy("col_a", "col_b"))({
    val qsel = q133Cols.map(c => s"CAST(round($c * 100) AS HUGEINT) AS $c").mkString(", ")
    val moments = (Seq("CAST(count(*) AS HUGEINT) AS n") ++
      q133Cols.flatMap(c => Seq(s"sum($c) AS s_$c", s"sum($c * $c) AS ss_$c")) ++
      (for { i <- q133Cols.indices; j <- q133Cols.indices if i < j }
        yield s"sum(${q133Cols(i)} * ${q133Cols(j)}) AS p_${q133Cols(i)}_${q133Cols(j)}"))
      .mkString(", ")
    val rows = (for { i <- q133Cols.indices; j <- q133Cols.indices if i < j } yield {
      val (a, b) = (q133Cols(i), q133Cols(j))
      s"""SELECT '$a' AS col_a, '$b' AS col_b, CAST(n AS BIGINT) AS n,
         |  CAST(n * p_${a}_$b - s_$a * s_$b AS DOUBLE) AS num,
         |  CAST(n * ss_$a - s_$a * s_$a AS DOUBLE) AS den_a,
         |  CAST(n * ss_$b - s_$b * s_$b AS DOUBLE) AS den_b,
         |  CAST(n * p_${a}_$b - s_$a * s_$b AS DOUBLE)
         |    / (sqrt(CAST(n * ss_$a - s_$a * s_$a AS DOUBLE))
         |       * sqrt(CAST(n * ss_$b - s_$b * s_$b AS DOUBLE))) AS corr
         |FROM m""".stripMargin
    }).mkString("\nUNION ALL\n")
    s"""WITH q AS (SELECT $qsel FROM lineitem),
       |m AS (SELECT $moments FROM q)
       |$rows
       |ORDER BY col_a, col_b""".stripMargin
  })

  // ---------------------------------------------------------------- q139
  // Inter-arrival spectrum (Diagnostics.interArrivalSpectrum): per event
  // type, the histogram of gaps between a user's consecutive events of
  // that type in power-of-2 second bands (bucket = bit length of the gap
  // — exact on both engines, no log2). One (user, type)-keyed window
  // pass, then types × ~40 buckets. The cadence evidence behind q33's
  // 30-minute session gap.
  val q139 = query("q139_interarrival")((s, dir) =>
    Diagnostics.interArrivalSpectrum(Tables.events(s, dir),
      Seq("user_id", "event_type"), Seq("event_type"), "ts", "event_id")
      .orderBy("event_type", "bucket"))(
    """WITH t AS (SELECT event_type,
      |    (epoch_us(CAST(ts AS TIMESTAMP))
      |     - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP))) // 1000000 AS gap
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)),
      |g AS (SELECT event_type,
      |    CASE WHEN gap <= 0 THEN 0 ELSE length(bin(gap)) END AS bucket
      |  FROM t WHERE gap IS NOT NULL)
      |SELECT event_type, CAST(bucket AS INT) AS bucket, count(*) AS n_gaps,
      |  CAST(CASE WHEN bucket = 0 THEN 0 ELSE (CAST(1 AS BIGINT) << (bucket - 1)) END AS BIGINT) AS gap_lo_s,
      |  CAST((CAST(1 AS BIGINT) << bucket) - 1 AS BIGINT) AS gap_hi_s
      |FROM g GROUP BY event_type, bucket
      |ORDER BY event_type, bucket""".stripMargin)

  // ---------------------------------------------------------------- q140
  // Whole-schema referential-integrity sweep (Audit.referentialSweep):
  // every FK edge of the star schema plus the events→customer edge in
  // ONE lazy union — per edge, child rows / null keys / orphans /
  // coverage ppm. Parent key sets broadcast; fact sides never shuffle;
  // SQL MATCH SIMPLE semantics (null keys pass, counted separately).
  // The schema-level generalization of q10's single anti-join.
  val q140 = query("q140_ri_sweep")((s, dir) => {
    import Audit.FkEdge
    Audit.referentialSweep(Seq(
      FkEdge("orders->customer", Tables.orders(s, dir), Seq("o_custkey"),
        Tables.customer(s, dir), Seq("c_custkey")),
      FkEdge("lineitem->orders", Tables.lineitem(s, dir), Seq("l_orderkey"),
        Tables.orders(s, dir), Seq("o_orderkey")),
      FkEdge("lineitem->part", Tables.lineitem(s, dir), Seq("l_partkey"),
        Tables.part(s, dir), Seq("p_partkey")),
      FkEdge("lineitem->supplier", Tables.lineitem(s, dir), Seq("l_suppkey"),
        Tables.supplier(s, dir), Seq("s_suppkey")),
      FkEdge("customer->nation", Tables.customer(s, dir), Seq("c_nationkey"),
        Tables.nation(s, dir), Seq("n_nationkey")),
      FkEdge("supplier->nation", Tables.supplier(s, dir), Seq("s_nationkey"),
        Tables.nation(s, dir), Seq("n_nationkey")),
      FkEdge("nation->region", Tables.nation(s, dir), Seq("n_regionkey"),
        Tables.region(s, dir), Seq("r_regionkey")),
      FkEdge("events->customer", Tables.events(s, dir), Seq("user_id"),
        Tables.customer(s, dir), Seq("c_custkey"))))
      .orderBy("fk")
  })({
    val edges = Seq(
      ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
      ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
      ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
      ("events->customer", "events", "user_id", "customer", "c_custkey"))
    edges.map { case (name, child, ck, parent, pk) =>
      s"""SELECT '$name' AS fk, count(*) AS child_rows,
         |  CAST(sum(CASE WHEN c.$ck IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_keys,
         |  CAST(sum(CASE WHEN c.$ck IS NOT NULL AND p.$pk IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS orphans,
         |  CAST(((count(*) - sum(CASE WHEN c.$ck IS NOT NULL AND p.$pk IS NULL
         |      THEN 1 ELSE 0 END)) * 1000000) // count(*) AS BIGINT) AS coverage_ppm
         |FROM $child c LEFT JOIN (SELECT DISTINCT $pk FROM $parent) p
         |  ON c.$ck = p.$pk""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY fk"
  })

  // ---------------------------------------------------------------- q142
  // Trailing-baseline daily anomalies (Diagnostics.slidingAnomalies):
  // each (type, day) count tested against its own trailing 7 OBSERVED
  // buckets (zero-event days are absent, so a sparse type's baseline
  // spans however much wall-clock those 7 active days cover) — the
  // "spike vs recent baseline" alert, where q117 tests against the
  // all-time distribution. Verdict is the cross-multiplied integer
  // z-test ((7c − s)² > z²·(7ss − s²)); days with fewer than 7 trailing
  // observations verdict NULL, not false. One bucket rollup + one
  // window pass over the (types × days)-sized table.
  val q142 = query("q142_sliding_anomaly")((s, dir) =>
    Diagnostics.slidingAnomalies(Tables.events(s, dir), Seq("event_type"),
        date_trunc("day", col("ts")), window = 7, z = 2)
      .orderBy("event_type", "bucket"))(
    """WITH c AS (SELECT event_type,
      |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
      |    count(*) AS n_rows
      |  FROM events GROUP BY 1, 2),
      |w AS (SELECT *,
      |    count(*) OVER win AS bn,
      |    sum(n_rows) OVER win AS s,
      |    sum(n_rows * n_rows) OVER win AS ss
      |  FROM c
      |  WINDOW win AS (PARTITION BY event_type ORDER BY bucket
      |                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, bucket, n_rows, bn AS baseline_n,
      |  CASE WHEN bn < 7 THEN NULL
      |       ELSE (7*n_rows - s)*(7*n_rows - s) > 4*(7*ss - s*s) END
      |    AS is_anomalous
      |FROM w ORDER BY event_type, bucket""".stripMargin)

  // ---------------------------------------------------------------- q145
  // Tukey-fence outlier audit (Diagnostics.iqrOutliers): per return
  // flag, exact quartiles of l_extendedprice, the 1.5·IQR fences, and
  // the row counts outside each fence — the box-plot screen on a
  // numeric feature. Quartiles are the exact-interpolation agreement
  // (Spark percentile ≡ quantile_cont) and the fences two IEEE ops on
  // them, so the whole report hash-matches. Fence table broadcasts back
  // for the second pass.
  val q145 = query("q145_iqr_outliers")((s, dir) =>
    Diagnostics.iqrOutliers(Tables.lineitem(s, dir),
        Seq("l_returnflag"), "l_extendedprice")
      .orderBy("l_returnflag"))(
    """WITH f AS (SELECT l_returnflag,
      |    quantile_cont(l_extendedprice, 0.25) AS p25,
      |    quantile_cont(l_extendedprice, 0.5) AS p50,
      |    quantile_cont(l_extendedprice, 0.75) AS p75
      |  FROM lineitem GROUP BY 1),
      |f2 AS (SELECT *, p25 - 1.5*(p75 - p25) AS lo_fence,
      |    p75 + 1.5*(p75 - p25) AS hi_fence FROM f)
      |SELECT l.l_returnflag, count(*) AS n_rows,
      |  any_value(p25) AS p25, any_value(p50) AS p50, any_value(p75) AS p75,
      |  any_value(lo_fence) AS lo_fence, any_value(hi_fence) AS hi_fence,
      |  CAST(sum(CASE WHEN l_extendedprice < lo_fence THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
      |  CAST(sum(CASE WHEN l_extendedprice > hi_fence THEN 1 ELSE 0 END) AS BIGINT) AS n_above
      |FROM lineitem l JOIN f2 ON l.l_returnflag = f2.l_returnflag
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  // ---------------------------------------------------------------- q146
  // Watermark-lateness audit (Diagnostics.latenessAudit): how far events
  // arrive behind their key's running event-time watermark, in exact
  // microseconds — the measurement that sizes a streaming watermark
  // delay (§2.12's knob). The harness events table is perfectly ordered
  // (event_id ≡ ts order), so the delivery disorder is synthesized
  // deterministically: arrival = ts + (mix64(event_id) & (2³²−1)) µs
  // (≤ ~72 min; a power-of-two MASK, because signed pmod and u64 % read
  // a negative hash differently) — the same derive-a-fixture move as
  // q120's CDC chunks; both engines replay the identical jitter.
  // n_beyond_watermark counts events a 30-minute watermark would drop.
  val q146 = query("q146_lateness_audit")((s, dir) =>
    Diagnostics.latenessAudit(
        Tables.events(s, dir)
          .withColumn("__arr",
            unix_micros(col("ts")) +
              graft.functions.HashFunctions.mix64(col("event_id"))
                .bitwiseAND(lit(4294967295L))),
        "user_id", "ts", Seq(col("__arr"), col("event_id")),
        Seq("event_type"), lateThresholdUs = 1800000000L)
      .orderBy("event_type"))({
    val arr = s"epoch_us(ts) + CAST((${DuckHash.mix64Inline("CAST(event_id AS UBIGINT)")}) & 4294967295 AS BIGINT)"
    s"""WITH a AS (SELECT event_type, user_id, event_id, epoch_us(ts) AS us,
       |    $arr AS arr
       |  FROM events),
       |l AS (SELECT event_type,
       |    greatest(coalesce(max(us) OVER (PARTITION BY user_id
       |      ORDER BY arr, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - us, 0), 0) AS late
       |  FROM a)
       |SELECT event_type, count(*) AS n_events,
       |  CAST(sum(CASE WHEN late > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_order,
       |  CAST(sum(CASE WHEN late > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_beyond_watermark,
       |  max(late) AS max_late_us,
       |  CAST(sum(late) AS BIGINT) AS total_late_us
       |FROM l GROUP BY 1 ORDER BY 1""".stripMargin
  })

  // ---------------------------------------------------------------- q150
  // k-anonymity audit (Audit.kAnonymity): group sizes under the
  // (nation, market-segment) quasi-identifier pair, the dataset's
  // anonymity level (min group size), and the share of rows in groups
  // below k=10 — re-identifiable by linkage through exactly those
  // columns. The structured-data privacy screen beside the free-text
  // PII tier (q52). One QI-keyed map-combined aggregation + a
  // group-table rollup to a single row; integer ppm.
  val q150 = query("q150_k_anonymity")((s, dir) =>
    Audit.kAnonymity(Tables.customer(s, dir),
      Seq("c_nationkey", "c_mktsegment"), k = 10))(
    """WITH g AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
      |  FROM customer GROUP BY 1, 2)
      |SELECT CAST(sum(n) AS BIGINT) AS n_rows, count(*) AS n_groups,
      |  min(n) AS k_anonymity,
      |  CAST(sum(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
      |  CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
      |  (CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT) * 1000000)
      |    // CAST(sum(n) AS BIGINT) AS risk_ppm
      |FROM g""".stripMargin)

  // ---------------------------------------------------------------- q155
  // Traffic concentration (Diagnostics.topContributorShare): per event
  // type, the share of events its top-10 users account for, in integer
  // ppm — the power-user/monoculture screen that tunes per-contributor
  // caps (q102). The top-k election is the bounded TopKAgg aggregate (k
  // pairs per group cross the exchange, no row_number window); ties
  // break (count DESC, id ASC) — replayed exactly by the oracle's
  // row_number.
  val q155 = query("q155_concentration")((s, dir) =>
    Diagnostics.topContributorShare(
        // TopKAgg's election skips null ids while SQL row_number ranks the
        // null contributor by its count — both engines exclude nulls
        Tables.events(s, dir).filter(col("user_id").isNotNull),
        Seq("event_type"), "user_id", k = 10)
      .orderBy("event_type"))(
    """WITH c AS (SELECT event_type, user_id, count(*) AS c
      |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
      |    ORDER BY c DESC, user_id ASC) AS rn FROM c)
      |SELECT event_type, CAST(sum(c) AS BIGINT) AS n_rows,
      |  count(*) AS n_contributors,
      |  CAST(sum(CASE WHEN rn <= 10 THEN c ELSE 0 END) AS BIGINT) AS topk_rows,
      |  (CAST(sum(CASE WHEN rn <= 10 THEN c ELSE 0 END) AS BIGINT) * 1000000)
      |    // CAST(sum(c) AS BIGINT) AS topk_share_ppm
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)

  // ---------------------------------------------------------------- q156
  // l-diversity audit (Audit.lDiversity) — q150's companion: a
  // k-anonymous group still leaks when every member shares the
  // sensitive value (homogeneity attack), so per (nation, segment) QI
  // group count DISTINCT account-balance SIGNS (negative/zero/positive
  // as the sensitive attribute) and report the min and the rows in
  // groups below l=2. Shuffle bounded at (QI, sensitive) pair
  // cardinality — never a count_distinct fan over rows.
  val q156 = query("q156_l_diversity")((s, dir) =>
    Audit.lDiversity(
      Tables.customer(s, dir)
        .withColumn("bal_sign", signum(col("c_acctbal")).cast("int")),
      Seq("c_nationkey", "c_mktsegment"), "bal_sign", l = 2))(
    """WITH p AS (SELECT c_nationkey, c_mktsegment,
      |    CAST(sign(c_acctbal) AS INTEGER) AS s, count(*) AS n
      |  FROM customer GROUP BY 1, 2, 3),
      |g AS (SELECT c_nationkey, c_mktsegment,
      |    CAST(sum(n) AS BIGINT) AS rows_g, count(*) AS l
      |  FROM p GROUP BY 1, 2)
      |SELECT CAST(sum(rows_g) AS BIGINT) AS n_rows, count(*) AS n_groups,
      |  min(l) AS l_diversity,
      |  CAST(sum(CASE WHEN l < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_homogeneous_groups,
      |  CAST(sum(CASE WHEN l < 2 THEN rows_g ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
      |  (CAST(sum(CASE WHEN l < 2 THEN rows_g ELSE 0 END) AS BIGINT) * 1000000)
      |    // CAST(sum(rows_g) AS BIGINT) AS risk_ppm
      |FROM g""".stripMargin)

  // ---------------------------------------------------------------- q158
  // Header-vs-detail reconciliation (Audit.valueReconciliation): every
  // order's claimed total against the exact sum of its lineitem amounts,
  // rolled up per status — the value-level acceptance check beside the
  // FK/row-count audits (this synthetic star generates headers and lines
  // independently, so the report shows the full mismatch spectrum, which
  // is exactly what the audit is for). ALL arithmetic in integer units
  // of 10⁻⁴ (decimal·10⁴): no DECIMAL→DOUBLE conversion anywhere (a
  // double is integer-exact only to 2⁵³). The two delta sums accumulate in
  // DECIMAL(38,0) and PRESENT as guarded BIGINT — DECIMAL(38,0) finals
  // surface differently from DuckDB (float64) vs Spark (Decimal), so a
  // decimal output column can never hash-match cross-engine even when
  // values are bit-equal (values fit 2^63 with
  // >10⁴× margin at any plausible per-status delta mass).
  val q158 = query("q158_reconciliation")((s, dir) =>
    Audit.valueReconciliation(
        Tables.orders(s, dir),
        Tables.lineitem(s, dir).select(
          col("l_orderkey").as("o_orderkey"), col("l_extendedprice")),
        Seq("o_orderkey"), "o_totalprice", "l_extendedprice")
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when(col("n_child_rows") === 0L, 1L).otherwise(0L)).as("n_no_items"),
        sum(when(col("delta_units") === 0, 1L).otherwise(0L)).as("n_exact_match"),
        sum(col("delta_units")).as("__sum_dec"),
        max(abs(col("delta_units"))).as("__max_dec"))
      .select(col("o_orderstatus"), col("n_orders"), col("n_no_items"),
        col("n_exact_match"),
        Diagnostics.presentBigint(
          col("__sum_dec").cast("decimal(38,0)"), "sum_delta_units"),
        Diagnostics.presentBigint(
          col("__max_dec").cast("decimal(38,0)"), "max_abs_delta_units"))
      .orderBy("o_orderstatus"))(
    """WITH cs AS (SELECT l_orderkey AS o_orderkey,
      |    count(*) AS nc,
      |    sum(CAST(CAST(l_extendedprice AS DECIMAL(38,4)) * 10000 AS DECIMAL(38,0))) AS cu
      |  FROM lineitem GROUP BY 1),
      |r AS (SELECT o_orderstatus,
      |    coalesce(nc, 0) AS nc,
      |    coalesce(cu, CAST(0 AS DECIMAL(38,0))) AS cu,
      |    CAST(CAST(o_totalprice AS DECIMAL(38,4)) * 10000 AS DECIMAL(38,0)) AS pu
      |  FROM orders LEFT JOIN cs USING (o_orderkey))
      |SELECT o_orderstatus, count(*) AS n_orders,
      |  CAST(sum(CASE WHEN nc = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_no_items,
      |  CAST(sum(CASE WHEN pu = cu THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_match,
      |  CAST(sum(pu - cu) AS BIGINT) AS sum_delta_units,
      |  CAST(max(abs(pu - cu)) AS BIGINT) AS max_abs_delta_units
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)

  // ---------------------------------------------------------------- q163
  // Cross-tab composition audit: the lang × source contingency table
  // with every share in integer ppm — within-row (how a language's docs
  // split across sources), within-column (how a source splits across
  // languages), and of-total — the dataset-card mixture table and the
  // input an independence screen reads (a row_ppm far from the source's
  // overall share marks a lang/source interaction). Window sums over
  // the cell table (|langs|×|sources| rows) — the fact table shuffles
  // once into cells, everything after is cell-cardinality-sized. ppm by
  // integer div, no doubles.
  val q163 = query("q163_crosstab_composition")((s, dir) => {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("__row", sum(col("n_docs")).over(Window.partitionBy(col("lang"))))
      .withColumn("__col", sum(col("n_docs")).over(Window.partitionBy(col("source"))))
      .withColumn("__tot", sum(col("n_docs")).over(Window.partitionBy()))
      .select(col("lang"), col("source"), col("n_docs"),
        expr("(n_docs * 1000000) div __row").as("row_ppm"),
        expr("(n_docs * 1000000) div __col").as("col_ppm"),
        expr("(n_docs * 1000000) div __tot").as("total_ppm"))
      .orderBy("lang", "source")
  })(
    """WITH c AS (SELECT lang, source, count(*) AS n_docs
      |  FROM documents GROUP BY 1, 2)
      |SELECT lang, source, n_docs,
      |  CAST((n_docs * 1000000) // sum(n_docs) OVER (PARTITION BY lang)
      |    AS BIGINT) AS row_ppm,
      |  CAST((n_docs * 1000000) // sum(n_docs) OVER (PARTITION BY source)
      |    AS BIGINT) AS col_ppm,
      |  CAST((n_docs * 1000000) // sum(n_docs) OVER () AS BIGINT) AS total_ppm
      |FROM c ORDER BY lang, source""".stripMargin)
}
