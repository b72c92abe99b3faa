package graft
package catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Cleaning, Layout, Merge}

import Shared._

/** Table-maintenance catalog family: cleaning, melts, CSV ingest,
  * CDC merges and SCD2 history, backfill updates and physical layout
  * (z-order tiles, pruning, compaction). */
object TablesQueries extends Family {

  // ---------------------------------------------------------------- q07
  // C1/C2/C3 cleaning semantics (reference src/etl.py:134-153) on events:
  // coerce-or-null cast with fill-0 + negative clamp, per row, no shuffle.
  val q07 = query("q07_clean_coerce")((s, dir) =>
    Tables.events(s, dir)
      .select(
        col("event_id"),
        date_trunc("day", col("ts")).as("day"),
        Cleaning.coerceNumericFill0(regexp_extract(col("props"), "[0-9]+", 0)).as("k_value"),
        Cleaning.clampNonNegative(col("value") - lit(150.0)).as("value_clamped")
      )
      .orderBy("event_id"))(
    """SELECT event_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      | coalesce(TRY_CAST(regexp_extract(props, '[0-9]+') AS DOUBLE), CAST(0.0 AS DOUBLE)) AS k_value,
      | greatest("value" - CAST(150.0 AS DOUBLE), CAST(0.0 AS DOUBLE)) AS value_clamped
      |FROM events ORDER BY event_id""".stripMargin)

  // ---------------------------------------------------------------- q39
  // S3-family wide→long melt (the census unpivot shape, catalog-visible):
  // one stack Generator per row, no shuffle; DuckDB UNPIVOT is the oracle.
  val q39 = query("q39_census_melt")((s, dir) =>
    Cleaning
      .melt(
        Tables.lineitem(s, dir),
        idCols = Seq("l_orderkey", "l_linenumber"),
        valueCols = Seq("l_quantity", "l_extendedprice", "l_discount"),
        varName = "variable", valName = "value")
      .orderBy("l_orderkey", "l_linenumber", "variable"))(
    """SELECT l_orderkey, l_linenumber, variable, "value"
      |FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount FROM lineitem)
      |UNPIVOT ("value" FOR variable IN (l_quantity, l_extendedprice, l_discount))
      |ORDER BY l_orderkey, l_linenumber, variable""".stripMargin)

  // ---------------------------------------------------------------- q78
  // Snapshot upsert / CDC latest-wins merge (Merge.upsertLatest) — the
  // distributed form of the reference's in-place UPDATE backfill (reference
  // src/etl.py:21-29). Even event_ids play the base snapshot, odd ids the
  // change batch; per user the newest (ts, updates-win, event_id) row
  // survives. One shuffle total: the window's hash partition on user_id.
  val q78 = query("q78_upsert_merge")((s, dir) => {
    val ev = Tables.events(s, dir)
    graft.operators.Merge
      .upsertLatest(
        ev.filter(pmod(col("event_id"), lit(2)) === 0),
        ev.filter(pmod(col("event_id"), lit(2)) === 1),
        keys = Seq("user_id"), versionCol = "ts", tieBreak = "event_id")
      .orderBy("user_id")
  })(
    """WITH t AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, "value", props,
      |  CAST(event_id % 2 AS INTEGER) AS src FROM events),
      |r AS (SELECT *, row_number() OVER (
      |  PARTITION BY user_id ORDER BY ts DESC, src DESC, event_id DESC) AS rn FROM t)
      |SELECT event_id, ts, user_id, event_type, "value", props
      |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin)

  // ---------------------------------------------------------------- q99
  // Z-order tiles (Layout.zOrder2): Morton-interleave (partkey, suppkey)
  // and roll up per 2^14-wide z-range tile. Each tile's x/y min-max spans
  // stay small BECAUSE the curve is locality-preserving — the property
  // that makes z-clustered parquet files bbox-prunable (Layout.clusterByZ
  // is the storage-side user; LayoutSpec measures the footprint win). The
  // interleave is pure shift/mask composition, replayed bit-for-bit by
  // the oracle in SQL.
  val q99 = query("q99_zorder_tiles")((s, dir) => {
    val li = Tables.lineitem(s, dir)
    val z = Layout.zOrder2(
      pmod(col("l_partkey"), lit(65536L)), pmod(col("l_suppkey"), lit(65536L)))
    li.select(z.as("__z"), col("l_partkey"), col("l_suppkey"))
      .groupBy(shiftright(col("__z"), 14).as("tile"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("x_min"), max(col("l_partkey")).as("x_max"),
        min(col("l_suppkey")).as("y_min"), max(col("l_suppkey")).as("y_max"))
      .orderBy("tile")
  })({
    def spread(e: String): String = {
      val a = s"($e & 65535)"
      val b = s"(($a | ($a << 8)) & 16711935)" // 0x00FF00FF
      val c = s"(($b | ($b << 4)) & 252645135)" // 0x0F0F0F0F
      val d = s"(($c | ($c << 2)) & 858993459)" // 0x33333333
      s"(($d | ($d << 1)) & 1431655765)" // 0x55555555
    }
    s"""WITH z AS (SELECT
       |  (${spread("(l_partkey % 65536)")} | (${spread("(l_suppkey % 65536)")} << 1)) AS zv,
       |  l_partkey, l_suppkey FROM lineitem)
       |SELECT (zv >> 14) AS tile, count(*) AS n_rows,
       | min(l_partkey) AS x_min, max(l_partkey) AS x_max,
       | min(l_suppkey) AS y_min, max(l_suppkey) AS y_max
       |FROM z GROUP BY tile ORDER BY tile""".stripMargin
  })

  // ---------------------------------------------------------------- q106
  // Layout pruning audit (Layout.pruningAudit): for three bbox probes,
  // what fraction of q99's z-tiles — and how many rows — a min/max
  // footprint reader (parquet row-group skipping) would prune vs scan.
  // The decision artifact for "is re-clustering this table worth it",
  // computed from the footprint table alone; the fact table is read once
  // to build tiles and never again. Boxes broadcast over the tiny tile
  // table; all integer arithmetic.
  val q106 = query("q106_pruning_audit")((s, dir) => {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val z = Layout.zOrder2(
      pmod(col("l_partkey"), lit(65536L)), pmod(col("l_suppkey"), lit(65536L)))
    val tiles = li.select(z.as("__z"), col("l_partkey"), col("l_suppkey"))
      .groupBy(shiftright(col("__z"), 14).as("tile"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("x_min"), max(col("l_partkey")).as("x_max"),
        min(col("l_suppkey")).as("y_min"), max(col("l_suppkey")).as("y_max"))
    val boxes = Seq(
      (1L, 0L, 64L, 0L, 64L),
      (2L, 100L, 300L, 20L, 80L),
      (3L, 0L, 1000000L, 0L, 1000000L)
    ).toDF("box_id", "x_lo", "x_hi", "y_lo", "y_hi")
    Layout.pruningAudit(tiles, boxes).orderBy("box_id")
  })({
    def spread(e: String): String = {
      val a = s"($e & 65535)"
      val b = s"(($a | ($a << 8)) & 16711935)"
      val c = s"(($b | ($b << 4)) & 252645135)"
      val d = s"(($c | ($c << 2)) & 858993459)"
      s"(($d | ($d << 1)) & 1431655765)"
    }
    s"""WITH z AS (SELECT
       |  (${spread("(l_partkey % 65536)")} | (${spread("(l_suppkey % 65536)")} << 1)) AS zv,
       |  l_partkey, l_suppkey FROM lineitem),
       |tiles AS (SELECT (zv >> 14) AS tile, count(*) AS n_rows,
       |  min(l_partkey) AS x_min, max(l_partkey) AS x_max,
       |  min(l_suppkey) AS y_min, max(l_suppkey) AS y_max
       | FROM z GROUP BY tile),
       |boxes AS (SELECT * FROM (VALUES
       |  (1, 0, 64, 0, 64), (2, 100, 300, 20, 80),
       |  (3, 0, 1000000, 0, 1000000)) AS t(box_id, x_lo, x_hi, y_lo, y_hi))
       |SELECT CAST(box_id AS BIGINT) AS box_id,
       | count(*) AS n_tiles,
       | CAST(sum(CASE WHEN x_max < x_lo OR x_min > x_hi OR y_max < y_lo OR y_min > y_hi
       |   THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
       | CAST(sum(n_rows) AS BIGINT) AS rows_total,
       | CAST(sum(CASE WHEN x_max < x_lo OR x_min > x_hi OR y_max < y_lo OR y_min > y_hi
       |   THEN 0 ELSE n_rows END) AS BIGINT) AS rows_scanned
       |FROM tiles CROSS JOIN boxes
       |GROUP BY box_id ORDER BY box_id""".stripMargin
  })

  // ---------------------------------------------------------------- q113
  // Snapshot diff audit (Merge.snapshotDiff): what changed between two
  // versions of a keyed table — here the per-user activity snapshot at
  // mid-month vs month-end (new users = added, users with later events =
  // changed, first-half-only users = unchanged; removals can't occur in an
  // append-only log, and the 0 proves it). Column-wise null-safe equality,
  // not row hashing — exact and engine-portable. One hash shuffle per side
  // into the full outer join; status is row-local; the report aggregates
  // to 4 rows. The CDC-audit twin of q78's upsert.
  val q113 = query("q113_snapshot_diff")((s, dir) => {
    val ev = Tables.events(s, dir)
    val split = lit("2024-01-16 00:00:00").cast("timestamp")
    def snap(df: DataFrame) = df.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(38,4)")).as("total_value"))
    Merge.snapshotDiff(
        snap(ev.filter(col("ts") < split)), snap(ev),
        Seq("user_id"), Seq("n_events", "total_value"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("status")
  })(
    """WITH base AS (SELECT user_id, count(*) AS n, sum(CAST("value" AS DECIMAL(38,4))) AS tv
      |  FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00' GROUP BY user_id),
      |rev AS (SELECT user_id, count(*) AS n, sum(CAST("value" AS DECIMAL(38,4))) AS tv
      |  FROM events GROUP BY user_id),
      |d AS (SELECT coalesce(b.user_id, r.user_id) AS user_id,
      |    CASE WHEN b.user_id IS NULL THEN 'added'
      |         WHEN r.user_id IS NULL THEN 'removed'
      |         WHEN b.n IS NOT DISTINCT FROM r.n AND b.tv IS NOT DISTINCT FROM r.tv
      |           THEN 'unchanged'
      |         ELSE 'changed' END AS status
      |  FROM base b FULL OUTER JOIN rev r ON b.user_id = r.user_id)
      |SELECT status, count(*) AS n_users FROM d GROUP BY status ORDER BY status""".stripMargin)

  // ---------------------------------------------------------------- q138
  // SCD2 history apply (Merge.scd2Apply): the mid-month per-user activity
  // snapshot as an open SCD2 history, month-end totals applied as a
  // change batch — changed users close at the batch timestamp and open a
  // new version, unchanged users keep their open row, second-half-only
  // users insert. The history-keeping member of the CDC family (q78
  // latest-wins, q113 diff); closed rows pass through untouched, the one
  // join is open-rows × batch.
  val q138 = query("q138_scd2_history")((s, dir) => {
    val ev = Tables.events(s, dir)
    val hist = ev.filter(col("ts") < expr("TIMESTAMP '2024-01-16 00:00:00'"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      .withColumn("valid_from", expr("TIMESTAMP '2024-01-01 00:00:00'"))
      .withColumn("valid_to", lit(null).cast("timestamp"))
    val batch = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      .withColumn("ts", expr("TIMESTAMP '2024-02-01 00:00:00'"))
    Merge.scd2Apply(hist, batch, Seq("user_id"), Seq("n_events"), "ts")
      // version bounds as strings: a NULL (open) timestamp would compare
      // NaT != NaT in the pandas-side harness
      .withColumn("valid_from", col("valid_from").cast("string"))
      .withColumn("valid_to", coalesce(col("valid_to").cast("string"), lit("open")))
      .orderBy("user_id", "valid_from")
  })(
    """WITH h AS (SELECT user_id, count(*) AS n_events,
      |    TIMESTAMP '2024-01-01' AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to
      |  FROM events WHERE ts < TIMESTAMP '2024-01-16' GROUP BY user_id),
      |b AS (SELECT user_id, count(*) AS n_events, TIMESTAMP '2024-02-01' AS ts
      |  FROM events GROUP BY user_id),
      |fo AS (SELECT h.user_id, h.n_events, h.valid_from,
      |    CASE WHEN b.user_id IS NOT NULL AND b.n_events IS DISTINCT FROM h.n_events
      |         THEN b.ts END AS valid_to
      |  FROM h LEFT JOIN b USING (user_id)),
      |fb AS (SELECT b.user_id, b.n_events, b.ts AS valid_from,
      |    CAST(NULL AS TIMESTAMP) AS valid_to
      |  FROM b LEFT JOIN h USING (user_id)
      |  WHERE h.user_id IS NULL OR b.n_events IS DISTINCT FROM h.n_events),
      |u AS (SELECT * FROM fo UNION ALL SELECT * FROM fb)
      |SELECT user_id, n_events, CAST(valid_from AS VARCHAR) AS valid_from,
      |  coalesce(CAST(valid_to AS VARCHAR), 'open') AS valid_to
      |FROM u ORDER BY user_id, valid_from""".stripMargin)

  // ---------------------------------------------------------------- q144
  // Small-file compaction plan (Layout.compactionPlan): a synthetic file
  // inventory — one "file" per (order status, ship month) with
  // rows×128 B — greedily packed into 256 KiB compaction groups in month
  // order, planned independently per status partition. The plan is pure
  // integer window arithmetic over the METADATA-sized inventory; the
  // div-packing never splits a file and an oversized file takes its own
  // group.
  val q144 = query("q144_compaction_plan")((s, dir) => {
    val files = Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"),
        date_trunc("month", col("o_orderdate")).as("month"))
      .agg((count(lit(1)) * 128L).as("bytes"))
    graft.operators.Layout.compactionPlan(files, "bytes", Seq("month"),
        targetBytes = 256L * 1024, partitionCols = Seq("o_orderstatus"))
      .orderBy("o_orderstatus", "month")
  })(
    """WITH files AS (SELECT o_orderstatus,
      |    CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
      |    count(*) * 128 AS bytes
      |  FROM orders GROUP BY 1, 2),
      |cum AS (SELECT *,
      |    coalesce(sum(bytes) OVER (PARTITION BY o_orderstatus ORDER BY month
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      |  FROM files)
      |SELECT o_orderstatus, month, bytes,
      |  CAST(cb // 262144 AS BIGINT) AS compaction_group,
      |  CAST(row_number() OVER (PARTITION BY o_orderstatus, cb // 262144
      |    ORDER BY month) AS INTEGER) AS group_seq
      |FROM cum ORDER BY o_orderstatus, month""".stripMargin)

  // ---------------------------------------------------------------- q151
  // Incremental aggregate maintenance (Merge.summarize/mergeSummaries):
  // the (status, year) revenue rollup maintained as base-summary ⊕
  // delta-summary — pre-cutoff facts never rescanned — while the ORACLE
  // recomputes from ALL facts in one pass. Agreement PROVES
  // merge(summarize(A), summarize(B)) ≡ summarize(A ∪ B): the
  // self-decomposability that turns a 100 TB nightly rollup into one
  // delta scan + a summary-sized merge (q82's register-merge
  // discipline, for plain count/sum/min/max). The decimal sum keeps the
  // merge exact under any order; double only at presentation.
  val q151 = query("q151_incremental_agg")((s, dir) => {
    val o = Tables.orders(s, dir)
      .withColumn("o_year", year(col("o_orderdate")))
    val keys = Seq("o_orderstatus", "o_year")
    // MID-year cutoff: base and delta then SHARE every (status, 1997) key,
    // so the gate exercises mergeSummaries' combine arithmetic itself — a
    // year-boundary split would make the summaries key-disjoint and let a
    // broken merge (e.g. min-for-max) pass oracle-green on single rows.
    val cutoff = lit("1997-06-01").cast("timestamp")
    val base = Merge.summarize(
      o.filter(col("o_orderdate") < cutoff), keys, "o_totalprice")
    val delta = Merge.summarize(
      o.filter(col("o_orderdate") >= cutoff), keys, "o_totalprice")
    Merge.mergeSummaries(base, delta, keys)
      .select(col("o_orderstatus"), col("o_year"),
        col("n_rows"), col("sum_v").cast("double").as("sum_total"),
        col("min_v"), col("max_v"))
      .orderBy("o_orderstatus", "o_year")
  })(
    """SELECT o_orderstatus, CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |  count(*) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_total,
      |  min(o_totalprice) AS min_v, max(o_totalprice) AS max_v
      |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  // ---------------------------------------------------------------- q176
  // INGEST-pipeline gate row (IngestHarness): the Milan load path —
  // discover glob → distributed CSV scan → cleaning chain → partitioned
  // idempotent append → ledger — run TWICE over deterministic day-file
  // CSVs synthesized from customer ids, emitting the hourly rollup plus
  // both ingest counts. The oracle replays every cleaning branch from the
  // same ids (bad-datetime drop, null→0 fill, negative clamp, cell-range
  // filter, decimal-exact rollup) and asserts the (2, 0) file counts — the
  // second pass MUST be a ledger no-op, and any duplicate append would
  // double the sums. S1/S6/K1/K4/C1–C3/F1–F2 under the driver's hash at
  // last (previously MilanPipelineSpec-only).
  val q176 = query("q176_ingest_idempotent")((s, dir) =>
    graft.pipeline.IngestHarness.ingestTwiceRollup(
      s, Tables.customer(s, dir).select(col("c_custkey")), fixtureKey = dir))({
    def mh(j: Int) = DuckHash.mix64Inline(s"CAST(k * 8 + $j AS UBIGINT)")
    def met(j: Int) =
      s"""CASE WHEN (${mh(j)}) & 7 = 7 THEN 0.0
         |      ELSE greatest((CAST((${mh(j)}) & 1023 AS BIGINT) - 100) / 10.0, 0.0) END"""
        .stripMargin
    s"""WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer),
       |rows0 AS (SELECT k,
       |    CAST(1 + k % 2 AS INT) AS d, CAST(k % 24 AS INT) AS h,
       |    k % 12000 AS cell_id,
       |    ${met(1)} AS smsin, ${met(2)} AS smsout, ${met(3)} AS callin,
       |    ${met(4)} AS callout, ${met(5)} AS internet
       |  FROM base WHERE k % 97 <> 0 AND k % 12000 <= 9999),
       |r AS (SELECT make_timestamp(2013, 11, d, h, 0, 0) AS hour, cell_id,
       |    smsin, smsout, callin, callout, internet,
       |    smsin + smsout + callin + callout + internet AS activity
       |  FROM rows0)
       |SELECT hour, cell_id,
       |  ${dSum("smsin")} AS total_smsin, ${dSum("smsout")} AS total_smsout,
       |  ${dSum("callin")} AS total_callin, ${dSum("callout")} AS total_callout,
       |  ${dSum("internet")} AS total_internet,
       |  ${dSum("activity")} AS total_activity,
       |  CAST(2 AS BIGINT) AS n_files_first, CAST(0 AS BIGINT) AS n_files_second
       |FROM r GROUP BY hour, cell_id ORDER BY hour, cell_id""".stripMargin
  })

  // ---------------------------------------------------------------- q177
  // MOBILITY ingest gate row — q176's sibling over loadMobility, whose
  // cleaning chain additionally runs pandas-title() case folding, the
  // reference's 7-entry province-normalization map, and the broadcast
  // semi-join against the provinces dimension (J3/X1/X2/J4, reference
  // src/etl.py:232-274). The fixture's provinceName vocabulary is FINITE
  // and cycles by k % 12 (cased variants over apostrophes/hyphens/slashes
  // — exactly where initcap would diverge from pandas title(), plus one
  // name the dimension lacks), so the oracle replays normalization as a
  // 12-way CASE — no title-case logic cross-engine. Mobility metrics are
  // filled-0 but NOT clamped (reference clamps traffic only): the sums
  // value-check that negatives survive. (2, 0) file counts prove the
  // second load was a ledger no-op.
  val q177 = query("q177_mobility_ingest")((s, dir) =>
    graft.pipeline.IngestHarness.mobilityIngestTwiceRollup(
      s, Tables.customer(s, dir).select(col("c_custkey")), fixtureKey = dir))({
    def mh(j: Int) = DuckHash.mix64Inline(s"CAST(k * 8 + $j AS UBIGINT)")
    def met(j: Int) =
      s"""CASE WHEN (${mh(j)}) & 7 = 7 THEN 0.0
         |      ELSE (CAST((${mh(j)}) & 1023 AS BIGINT) - 100) / 10.0 END"""
        .stripMargin
    val caseArms = graft.pipeline.IngestHarness.MobilityCleanNames.zipWithIndex
      .map { case (n, i) => s"WHEN $i THEN '${n.replace("'", "''")}'" }
      .mkString(" ")
    s"""WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer),
       |rows0 AS (SELECT k, CASE k % 12 $caseArms END AS provincia,
       |    ${met(6)} AS c2p, ${met(7)} AS p2c
       |  FROM base
       |  WHERE k % 97 <> 0 AND k % 12000 <= 9999 AND k % 12 <> 9)
       |SELECT provincia, count(*) AS n_rows,
       |  ${dSum("c2p")} AS sum_c2p, ${dSum("p2c")} AS sum_p2c,
       |  CAST(2 AS BIGINT) AS n_files_first, CAST(0 AS BIGINT) AS n_files_second
       |FROM rows0 GROUP BY provincia ORDER BY provincia""".stripMargin
  })

  // ---------------------------------------------------------------- q179
  // Conditional backfill UPDATE under the gate (§2.2 K5, reference
  // src/etl.py:21-29's COALESCE-where-NULL): a fixture table whose `val`
  // is null on a mix64 mask goes through MilanPipeline.backfillColumn —
  // the crash-safe snapshot-rewrite (write new snapshot → two-rename swap)
  // that stands in for parquet's missing in-place UPDATE — and the query
  // returns the POST-backfill table read from disk. The oracle replays
  // the coalesce arithmetic per id: nulls got id/4, non-nulls kept their
  // original value bit-for-bit (a rewrite that perturbed surviving rows
  // would break the hash).
  val q179 = query("q179_backfill_update")((s, dir) => {
    val tableDir = fixtureDir(dir).resolve("backfill_t").toString
    // The fixture dir survives the JVM, so a hard-killed earlier run can
    // leave a mid-swap .backfill_old behind — recover it first (the same
    // crash-safety API a real caller uses; backfillColumn refuses to run
    // over an unfinished swap) instead of bricking every later pass.
    graft.pipeline.MilanPipeline.recoverBackfill(s, tableDir)
    val mh = graft.functions.HashFunctions.mix64(col("c_custkey") * 8 + 9)
    Tables.customer(s, dir)
      .select(col("c_custkey").cast("long").as("id"),
        when(mh.bitwiseAND(lit(3L)) === 0L, lit(null).cast("double"))
          .otherwise((mh.bitwiseAND(lit(1023L)) - 100L).cast("double") / 10.0)
          .as("val"))
      // overwrite: re-invocations rebuild the pre-backfill state in place
      // (see fixtureDir — bounded disk, not a per-pass temp dir)
      .write.mode("overwrite").parquet(tableDir)
    graft.pipeline.MilanPipeline.backfillColumn(
      s, tableDir, "val", col("id").cast("double") / 4.0)
    s.read.parquet(tableDir).orderBy("id")
  })({
    val mh = DuckHash.mix64Inline("CAST(c_custkey * 8 + 9 AS UBIGINT)")
    s"""SELECT CAST(c_custkey AS BIGINT) AS id,
       |  CASE WHEN ($mh) & 3 = 0 THEN CAST(c_custkey AS DOUBLE) / 4.0
       |       ELSE (CAST(($mh) & 1023 AS BIGINT) - 100) / 10.0 END AS "val"
       |FROM customer ORDER BY id""".stripMargin
  })

  // ---------------------------------------------------------------- q183
  // CENSUS wide-CSV + melt under the gate (§2.1 S3 + §2.3 melt; reference
  // notebook cells 9/15): a deterministic 135-column census-shaped CSV
  // (CensusFixture — PROVINCIA + the gappy 134-measure code list verbatim,
  // P63/P67-P127 absent exactly as in the 2011 extract) goes through the
  // REAL distributed CSV scan with the explicit LongType schema (empty
  // fields → null, the pandas int64-with-NaN branch) and the stack()-based
  // wide→long melt. The FULL melted table (|nation|×134 rows, nulls
  // included) sits under the hash, so a measure-list drift, a column
  // misalignment in the scan, a dropped null, or a melt pairing bug all
  // break it; the oracle rebuilds every cell from nation ids × the same
  // code list (the q176 ingest move applied to the census leg). Previously
  // S3 had only fixture-driven spec coverage (CensusSpec).
  val q183 = query("q183_census_melt")((s, dir) => {
    val ids = Tables.nation(s, dir).select(col("n_nationkey").cast("long"))
      .collect().map(_.getLong(0)).toSeq
    val path = graft.sources.GeoJsonFixture.write(
      fixtureDir(dir), "census.csv",
      graft.sources.CensusFixture.censusCsv(ids))
    graft.sources.MilanCsvSource.meltCensus(
        graft.sources.MilanCsvSource.census(s, path))
      .orderBy("provincia", "variable")
  })({
    val codes = graft.sources.MilanCsvSource.censusMeasures
    val lst = codes.map(c => s"'$c'").mkString("[", ",", "]")
    val mh = DuckHash.mix64Inline("CAST(k * 256 + j AS UBIGINT)")
    s"""WITH ids AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
       |cell AS (SELECT k, j, ($mh) AS mh
       |  FROM ids, range(0, ${codes.size}) t(j))
       |SELECT printf('PR%03d', k) AS provincia,
       |  ($lst)[CAST(j + 1 AS INT)] AS variable,
       |  CASE WHEN mh & 15 = 15 THEN NULL
       |       ELSE CAST((mh >> 16) & 4294967295 AS BIGINT) END AS value
       |FROM cell ORDER BY provincia, variable""".stripMargin
  })
}
