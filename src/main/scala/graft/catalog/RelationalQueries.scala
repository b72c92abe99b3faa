package graft
package catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.AggFunctions
import graft.operators.SkewJoin

import Shared._

/** Relational catalog family: the TPC-H and reference-query shapes —
  * filters, semi/anti joins, star joins, grouping sets, windows, set
  * operations, exact percentiles and pivots over plain DataFrame ops. */
object RelationalQueries extends Family {

  /** Exact-decimal money product: 2-decimal source columns are cast to
    * decimal BEFORE multiplying, so the product is exact in both engines.
    * (Casting a ~1e5-magnitude double product to DECIMAL(38,10) is NOT
    * cross-engine safe: DuckDB's double→decimal conversion multiplies by
    * 10^scale in double precision and can land one unit off Spark's exact
    * BigDecimal rounding.)
    */
  private def discPriceDec: Column =
    (col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(1.0) - col("l_discount")).cast(DecimalType(18, 2))).cast(DecimalType(18, 4))
  private def chargeDec: Column =
    (discPriceDec * (lit(1.0) + col("l_tax")).cast(DecimalType(18, 2))).cast(DecimalType(18, 6))
  private val discPriceDecSql =
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(CAST(1.0 AS DOUBLE) - l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))"
  private val chargeDecSql =
    s"CAST($discPriceDecSql * CAST(CAST(1.0 AS DOUBLE) + l_tax AS DECIMAL(18,2)) AS DECIMAL(18,6))"
  private val revenueSql = s"CAST(sum($discPriceDecSql) AS DOUBLE)"

  // ---------------------------------------------------------------- q01
  // A2-family grouped aggregation (SURVEY §2.7): the TPC-H Q1 shape —
  // scan + filter + 8-way hash aggregate with map-side partials.
  val q01 = query("q01_pricing_summary")((s, dir) => {
    val l = Tables.lineitem(s, dir)
    l.filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        AggFunctions.sumExact(col("l_quantity")).as("sum_qty"),
        AggFunctions.sumExact(col("l_extendedprice")).as("sum_base_price"),
        sum(discPriceDec).cast("double").as("sum_disc_price"),
        sum(chargeDec).cast("double").as("sum_charge"),
        AggFunctions.avgExact(col("l_quantity")).as("avg_qty"),
        AggFunctions.avgExact(col("l_extendedprice")).as("avg_price"),
        AggFunctions.avgExact(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order")
      )
      .orderBy("l_returnflag", "l_linestatus")
  })(
    s"""SELECT l_returnflag, l_linestatus,
       | ${dSum("l_quantity")} AS sum_qty,
       | ${dSum("l_extendedprice")} AS sum_base_price,
       | CAST(sum($discPriceDecSql) AS DOUBLE) AS sum_disc_price,
       | CAST(sum($chargeDecSql) AS DOUBLE) AS sum_charge,
       | ${dAvg("l_quantity")} AS avg_qty,
       | ${dAvg("l_extendedprice")} AS avg_price,
       | ${dAvg("l_discount")} AS avg_disc,
       | count(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin)

  // ---------------------------------------------------------------- q04
  // A4 value_counts (notebook cell 13): group-count, desc.
  val q04 = query("q04_event_counts")((s, dir) =>
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("event_type").asc))(
    """SELECT event_type, count(*) AS n FROM events
      |GROUP BY event_type ORDER BY n DESC, event_type""".stripMargin)

  // ---------------------------------------------------------------- q08
  // F2 range predicates + P6 computed projection; filters reach the scan
  // (PushedFilters) so the 100 TB version prunes at parquet row-group level.
  val q08 = query("q08_range_filter")((s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_partkey").between(100, 1099) && col("l_quantity").between(10, 40))
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_quantity"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_price")
      )
      .orderBy("l_orderkey", "l_linenumber"))(
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
      | l_extendedprice*(CAST(1.0 AS DOUBLE)-l_discount) AS net_price
      |FROM lineitem
      |WHERE l_partkey BETWEEN 100 AND 1099 AND l_quantity BETWEEN 10 AND 40
      |ORDER BY l_orderkey, l_linenumber""".stripMargin)

  // ---------------------------------------------------------------- q09
  // F3/J4 membership via broadcast left-semi join (the Spark form of the
  // reference's isin(valid_provinces), src/etl.py:260-263).
  val q09 = query("q09_semi_join")((s, dir) => {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "left_semi")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")
  })(
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |ORDER BY o_orderkey""".stripMargin)

  // ---------------------------------------------------------------- q10
  // J1 FK-orphan audit as broadcast left-anti join.
  val q10 = query("q10_anti_join")((s, dir) => {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  })(
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
      |ORDER BY c_custkey""".stripMargin)

  // ---------------------------------------------------------------- q11
  // X1/X2/J3 normalization: title-case + literal-map patch (the reference's
  // province_map, src/etl.py:217-225) as a pure expression — no join.
  val q11 = query("q11_normalize_lookup")((s, dir) => {
    val m = map(lit("Middle East"), lit("Mid-East"))
    Tables.region(s, dir)
      .select(
        col("r_regionkey"),
        coalesce(element_at(m, initcap(lower(trim(col("r_name"))))), initcap(lower(trim(col("r_name")))))
          .as("r_name_norm")
      )
      .orderBy("r_regionkey")
  })(
    """WITH t AS (
      |  SELECT r_regionkey,
      |    list_aggregate(list_transform(string_split(lower(trim(r_name)), ' '),
      |                   w -> upper(w[1]) || w[2:]), 'string_agg', ' ') AS titled
      |  FROM region)
      |SELECT r_regionkey,
      |  CASE WHEN titled = 'Middle East' THEN 'Mid-East' ELSE titled END AS r_name_norm
      |FROM t ORDER BY r_regionkey""".stripMargin)

  // ---------------------------------------------------------------- q12
  // 3-way join + grouped agg + top-k (TPC-H Q3 shape): broadcast the
  // filtered customer dim, shuffle-join orders⋈lineitem on orderkey.
  val q12 = query("q12_top_orders")((s, dir) => {
    val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(sum(discPriceDec).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(10)
  })(
    s"""SELECT o_orderkey, o_orderdate,
       | $revenueSql AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |GROUP BY o_orderkey, o_orderdate
       |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)

  // ---------------------------------------------------------------- q13
  // 6-way star join (TPC-H Q5 shape): dims broadcast, facts shuffle once on
  // orderkey; the supplier-nation colocation condition rides the same join.
  val q13 = query("q13_region_revenue")((s, dir) => {
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val su = Tables.supplier(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir).filter(col("r_name").isin("EUROPE", "ASIA"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(su), l("l_suppkey") === su("s_suppkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .filter(c("c_nationkey") === su("s_nationkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .filter(
        o("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          o("o_orderdate") < lit("1999-01-01 00:00:00").cast("timestamp")
      )
      .groupBy(col("n_name"))
      .agg(
        sum(discPriceDec).cast("double").as("revenue"),
        count(lit(1)).as("n_items")
      )
      .orderBy(col("revenue").desc, col("n_name").asc)
  })(
    s"""SELECT n_name,
       | $revenueSql AS revenue,
       | count(*) AS n_items
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name IN ('EUROPE', 'ASIA')
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
       |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)

  // ---------------------------------------------------------------- q14
  // Window top-N per group: one shuffle on the partition key, rank inside.
  val q14 = query("q14_window_top3")((s, dir) => {
    val w = Window.partitionBy("event_type").orderBy(col("value").desc, col("event_id").asc)
    Tables.events(s, dir)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .orderBy("event_type", "rnk")
  })(
    """SELECT event_type, event_id, "value", rnk FROM (
      |  SELECT event_type, event_id, "value",
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY "value" DESC, event_id) AS BIGINT) AS rnk
      |  FROM events) t
      |WHERE rnk <= 3 ORDER BY event_type, rnk""".stripMargin)

  // ---------------------------------------------------------------- q15
  // ROLLUP grouping sets over a dim join (extension beyond the reference —
  // Catalyst expands to a single Expand + hash aggregate).
  val q15 = query("q15_rollup_sales")((s, dir) => {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .rollup(col("n_name"))
      .agg(
        AggFunctions.sumExact(col("o_totalprice")).as("total_sales"),
        count(lit(1)).as("n_orders"),
        grouping(col("n_name")).cast("long").as("is_total")
      )
      .orderBy(col("is_total"), col("n_name").asc_nulls_first)
  })(
    s"""SELECT n_name, ${dSum("o_totalprice")} AS total_sales, count(*) AS n_orders,
       | CAST(grouping(n_name) AS BIGINT) AS is_total
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY ROLLUP(n_name)
       |ORDER BY is_total, n_name NULLS FIRST""".stripMargin)

  // ---------------------------------------------------------------- q16
  // DISTINCT (hash-distinct = groupBy on all columns).
  val q16 = query("q16_distinct_flags")((s, dir) =>
    Tables.lineitem(s, dir)
      .select("l_returnflag", "l_linestatus")
      .distinct()
      .orderBy("l_returnflag", "l_linestatus"))(
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      |ORDER BY l_returnflag, l_linestatus""".stripMargin)

  // ---------------------------------------------------------------- q18
  // EXISTS subquery (TPC-H Q4 shape) — planned as a left-semi join; the
  // correlated condition rides the join, no per-row subquery execution.
  val q18 = query("q18_exists_subquery")((s, dir) => {
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)
    o.join(l, o("o_orderkey") === l("l_orderkey") && l("l_shipdate") > o("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  })(
    """SELECT o_orderpriority, count(*) AS n_orders FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  // ---------------------------------------------------------------- q19
  // Aggregate-then-join with HAVING (TPC-H Q18 shape): the heavy grouped
  // aggregation runs first and its small survivor set joins back to dims.
  val q19 = query("q19_big_orders")((s, dir) => {
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val big = l.groupBy(col("l_orderkey"))
      .agg(AggFunctions.sumExact(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 150.0)
    big.join(o, big("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .select(col("o_orderkey"), col("o_orderdate"), col("c_name"), col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey").asc)
      .limit(20)
  })(
    s"""WITH big AS (
       |  SELECT l_orderkey, ${dSum("l_quantity")} AS total_qty
       |  FROM lineitem GROUP BY l_orderkey
       |  HAVING ${dSum("l_quantity")} > 150.0)
       |SELECT o_orderkey, o_orderdate, c_name, total_qty
       |FROM big JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |ORDER BY total_qty DESC, o_orderkey LIMIT 20""".stripMargin)

  // ---------------------------------------------------------------- q32
  // CUBE grouping sets — one Expand + single hash aggregate.
  val q32 = query("q32_cube_flags")((s, dir) =>
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        AggFunctions.sumExact(col("l_quantity")).as("sum_qty"),
        grouping(col("l_returnflag")).cast("long").as("g_flag"),
        grouping(col("l_linestatus")).cast("long").as("g_status")
      )
      .orderBy(col("g_flag"), col("g_status"),
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first))(
    s"""SELECT l_returnflag, l_linestatus, count(*) AS n, ${dSum("l_quantity")} AS sum_qty,
       | CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
       | CAST(grouping(l_linestatus) AS BIGINT) AS g_status
       |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
       |ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)

  // ---------------------------------------------------------------- q34
  // Exact distinct aggregation (Expand-based two-phase distinct count).
  val q34 = query("q34_distinct_counts")((s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events")
      )
      .orderBy("event_type"))(
    """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)

  // ---------------------------------------------------------------- q35
  // Set operations: INTERSECT / EXCEPT (hash-distinct based).
  val q35 = query("q35_set_ops")((s, dir) => {
    val building = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val withOrders = Tables.orders(s, dir).select(col("o_custkey").as("c_custkey"))
    val i = building.intersect(withOrders).select(lit("building_with_orders").as("op"), col("c_custkey"))
    val e = building.except(withOrders).select(lit("building_no_orders").as("op"), col("c_custkey"))
    i.unionAll(e).orderBy("op", "c_custkey")
  })(
    """SELECT 'building_with_orders' AS op, c_custkey FROM (
      |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |  INTERSECT SELECT o_custkey AS c_custkey FROM orders) t1
      |UNION ALL
      |SELECT 'building_no_orders' AS op, c_custkey FROM (
      |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |  EXCEPT SELECT o_custkey AS c_custkey FROM orders) t2
      |ORDER BY op, c_custkey""".stripMargin)

  // ---------------------------------------------------------------- q36
  // Manual CASE pivot (conditional aggregation) — one pass, no Pivot node.
  val q36 = query("q36_pivot_case")((s, dir) => {
    def per(t: String) = coalesce(
      AggFunctions.sumExact(when(col("event_type") === t, col("value"))),
      lit(0.0)
    ).as(s"${t}_value")
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(per("purchase"), per("click"), per("error"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  })({
    def per(t: String) =
      s"coalesce(CAST(sum(CAST(CASE WHEN event_type = '$t' THEN \"value\" END AS DECIMAL(38,4))) AS DOUBLE), CAST(0.0 AS DOUBLE)) AS ${t}_value"
    s"""SELECT user_id, ${per("purchase")}, ${per("click")}, ${per("error")}, count(*) AS n_events
       |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
  })

  // ---------------------------------------------------------------- q37
  // Exact percentiles (sort-based; both engines interpolate linearly and
  // agree bit-for-bit — verified on the harness data). EXACT TIER ONLY:
  // the buffer holds each group's full value list, which works at oracle
  // scale but cliffs on billion-row groups — q41 is the approx_percentile
  // scale tier of this same query.
  val q37 = query("q37_percentiles")((s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        percentile(col("l_quantity"), lit(0.5)).as("median_qty"),
        // array form: ONE value buffer for both l_extendedprice quantiles
        percentile(col("l_extendedprice"), array(lit(0.25), lit(0.75))).as("__pp"),
        count(lit(1)).as("n")
      )
      .select(
        col("l_returnflag"), col("median_qty"),
        element_at(col("__pp"), 1).as("p25_price"),
        element_at(col("__pp"), 2).as("p75_price"),
        col("n"))
      .orderBy("l_returnflag"))(
    """SELECT l_returnflag,
      | quantile_cont(l_quantity, 0.5) AS median_qty,
      | quantile_cont(l_extendedprice, 0.25) AS p25_price,
      | quantile_cont(l_extendedprice, 0.75) AS p75_price,
      | count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  // ---------------------------------------------------------------- q47
  // Semi-structured extraction: parse the events.props JSON payload at scan
  // time (get_json_object — codegen'd, no UDF) and roll up the extracted
  // field per event type. The everyday "JSON sidecar column" shape; at
  // 100 TB the extraction rides the scan and the aggregate is the only
  // shuffle. Integer sums/extrema stay in BIGINT in both engines.
  val q47 = query("q47_json_extract")((s, dir) => {
    // floor(double)→long on BOTH engines: Spark's non-ANSI string→long cast
    // nulls non-integral values ("1.5") while DuckDB's CAST rounds them to 2,
    // so the string→integer contract must not depend on the data being
    // integral. floor is IEEE-exact in both engines.
    val ev = Tables.events(s, dir)
      .select(col("event_type"),
        floor(get_json_object(col("props"), "$.k").cast("double")).cast("long").as("k"))
    ev.groupBy(col("event_type"))
      .agg(
        count(col("k")).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        (sum(col("k")).cast("double") / count(col("k")).cast("double")).as("avg_k"),
        sum(when(col("k") >= 50, 1L).otherwise(0L)).as("n_high"))
      .orderBy("event_type")
  })(
    """WITH e AS (SELECT event_type,
      |  CAST(floor(CAST(json_extract_string(props, '$.k') AS DOUBLE)) AS BIGINT) AS k FROM events)
      |SELECT event_type,
      | count(k) AS n,
      | CAST(sum(k) AS BIGINT) AS sum_k,
      | min(k) AS min_k,
      | max(k) AS max_k,
      | CAST(sum(k) AS DOUBLE)/CAST(count(k) AS DOUBLE) AS avg_k,
      | CAST(sum(CASE WHEN k >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
      |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin)

  // ---------------------------------------------------------------- q62
  // Per-entity running statistics: 3-event moving average, cumulative sum,
  // and delta-vs-previous over each user's event stream — the feature-
  // engineering window shape. ONE shuffle on user_id and ONE sort serves
  // all four windows (identical partitioning/ordering collapses into a
  // single Window operator). Sums accumulate in DECIMAL(38,4) so the
  // doubles are order-independent and hash-match the oracle.
  val q62 = query("q62_moving_stats")((s, dir) => {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val mov = byUser.rowsBetween(-2, Window.currentRow)
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dec = col("value").cast(DecimalType(38, 4))
    Tables.events(s, dir)
      .select(
        col("event_id"), col("user_id"), col("ts"), col("value"),
        (sum(dec).over(mov).cast("double") /
          count(lit(1)).over(mov).cast("double")).as("mov_avg3"),
        sum(dec).over(cum).cast("double").as("cum_value"),
        (col("value") - lag(col("value"), 1).over(byUser)).as("delta_prev"))
      .orderBy("event_id")
  })(
    """SELECT event_id, user_id, ts, "value",
      | CAST(sum(CAST("value" AS DECIMAL(38,4))) OVER w3 AS DOUBLE)
      |   / CAST(count(*) OVER w3 AS DOUBLE) AS mov_avg3,
      | CAST(sum(CAST("value" AS DECIMAL(38,4))) OVER wc AS DOUBLE) AS cum_value,
      | "value" - lag("value", 1) OVER wo AS delta_prev
      |FROM events
      |WINDOW
      | wo AS (PARTITION BY user_id ORDER BY ts, event_id),
      | w3 AS (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
      | wc AS (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin)

  // ---------------------------------------------------------------- q63
  // Fixed-width histogram of the events value distribution: bin =
  // ⌊value/50⌋ — the profiling shape behind every "describe this column"
  // dashboard. Map-side combine reduces each partition to its bin set
  // before the one tiny shuffle; floor keeps bin edges engine-exact.
  val q63 = query("q63_histogram")((s, dir) =>
    Tables.events(s, dir)
      .select(floor(col("value") / 50.0).as("bin"), col("value"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        AggFunctions.sumExact(col("value")).as("sum_value"))
      .orderBy("bin"))(
    s"""SELECT CAST(floor("value"/50) AS BIGINT) AS bin, count(*) AS n,
       | min("value") AS min_value, max("value") AS max_value,
       | ${dSum("\"value\"")} AS sum_value
       |FROM events GROUP BY bin ORDER BY bin""".stripMargin)

  // ---------------------------------------------------------------- q96
  // Grouped top-k via the native TopKAgg TypedImperativeAggregate — the
  // SCALE tier of q14's row_number window. Same result, radically
  // different plan: the window shuffles and sorts every event row (no
  // partial aggregation exists for windows), while this aggregates
  // map-side with a bounded k-heap per group so the exchange carries at
  // most groups × k pairs. Oracle = q14's SQL verbatim; PlanSpec pins the
  // no-Window/no-global-sort shape.
  val q96 = query("q96_grouped_topk")((s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(graft.plans.GraftFunctions.topK(col("value"), col("event_id"), 3).as("__top"))
      .select(col("event_type"), posexplode(col("__top")))
      .select(
        col("event_type"),
        col("col.id").as("event_id"),
        col("col.ord").as("value"),
        (col("pos") + 1).cast("long").as("rnk"))
      .orderBy("event_type", "rnk"))(q14.oracle)

  // ---------------------------------------------------------------- q97
  // Salted skew join (SkewJoin.saltedJoin): orders⋈customer shuffled on
  // (custkey, mix64(o_orderkey) mod 8) — each customer row replicated 8×,
  // so a pathologically hot customer's orders spread over 8 reducers
  // instead of stalling one. Salting must not change the RESULT: the
  // oracle is the plain join + rollup, and the deterministic salt makes
  // the Spark side re-run identically at any partitioning.
  val q97 = query("q97_salted_join")((s, dir) => {
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey").as("custkey"), col("o_totalprice"))
    val c = Tables.customer(s, dir)
      .select(col("c_custkey").as("custkey"), col("c_nationkey"))
    SkewJoin.saltedJoin(o, c, "custkey", col("o_orderkey"))
      .groupBy(col("c_nationkey"))
      .agg(
        count(lit(1)).as("n_orders"),
        AggFunctions.sumExact(col("o_totalprice")).as("sum_totalprice"))
      .orderBy("c_nationkey")
  })(
    """SELECT c_nationkey, count(*) AS n_orders,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_totalprice
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)

  // ---------------------------------------------------------------- q100
  // Five-number summary written the NAIVE way — five separate scalar
  // percentile calls on the same column. [[graft.plans.FusePercentiles]]
  // (installed by Graft.prepare) rewrites them into ONE
  // array-form value buffer at optimization time, so this costs the same
  // as q37's hand-fused form: one multiset per group instead of five.
  // FusePercentilesSpec pins the fused plan shape; this entry keeps the
  // rule exercised in the oracle-verified + benched path.
  val q100 = query("q100_fused_summary")((s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        percentile(col("l_extendedprice"), lit(0.0)).as("lo_price"),
        percentile(col("l_extendedprice"), lit(0.25)).as("p25_price"),
        percentile(col("l_extendedprice"), lit(0.5)).as("median_price"),
        percentile(col("l_extendedprice"), lit(0.75)).as("p75_price"),
        percentile(col("l_extendedprice"), lit(1.0)).as("hi_price"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus"))(
    """SELECT l_returnflag, l_linestatus,
      | quantile_cont(l_extendedprice, 0.0) AS lo_price,
      | quantile_cont(l_extendedprice, 0.25) AS p25_price,
      | quantile_cont(l_extendedprice, 0.5) AS median_price,
      | quantile_cont(l_extendedprice, 0.75) AS p75_price,
      | quantile_cont(l_extendedprice, 1.0) AS hi_price,
      | count(*) AS n
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin)

  // ---------------------------------------------------------------- q161
  // Ship-lag SLA audit: days from order date to each lineitem's ship
  // date, per order priority — item counts, bounds, the exact mean in
  // milli-days ((Σlag·1000) div n — no double), and how many items blew
  // a 90-day SLA. Calendar-day difference (both engines diff the DATE
  // casts); one broadcast-dimension-free fact join on the order key the
  // tables are already spread on.
  val q161 = query("q161_ship_sla")((s, dir) =>
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("lag_days",
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        min(col("lag_days")).as("min_lag_days"),
        max(col("lag_days")).as("max_lag_days"),
        expr("(sum(lag_days) * 1000) div count(1)").as("mean_lag_millidays"),
        sum(when(col("lag_days") > 90L, 1L).otherwise(0L)).as("n_over_90d"))
      .orderBy("o_orderpriority"))(
    """WITH j AS (SELECT o_orderpriority,
      |    CAST(date_diff('day', CAST(o_orderdate AS DATE),
      |                   CAST(l_shipdate AS DATE)) AS BIGINT) AS lag_days
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      |SELECT o_orderpriority, count(*) AS n_items,
      |  min(lag_days) AS min_lag_days, max(lag_days) AS max_lag_days,
      |  (CAST(sum(lag_days) AS BIGINT) * 1000) // count(*) AS mean_lag_millidays,
      |  CAST(sum(CASE WHEN lag_days > 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_over_90d
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)
}
