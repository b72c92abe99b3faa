package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.AggFunctions
import graft.operators.Sketches

import Shared._

/** Sketch catalog family: approximate summaries — HyperLogLog, count-min,
  * KMV, Bloom filters, sampled percentiles — each beside its exact
  * value or error bound. */
object SketchesQueries extends Family {

  // ---------------------------------------------------------------- q41
  // q37's SCALE tier: approximate per-group percentiles certified by an
  // EXACT RANK CHECK. The brackets come from approx_percentile (GK
  // sketch, accuracy=100 — see AggFunctions.percentileApprox) over the
  // q76 DETERMINISTIC ~10% hash sample — one bounded aggregation whose
  // result is ONE ROW PER RETURN FLAG, pulled to the driver and inlined
  // as literals — and the single remaining full pass counts
  // #{v < bracket} and #{v ≤ bracket} per group in pure codegen. This is
  // the one-full-pass shape an audit should have at 100 TB: the estimate
  // leg sketches the sample, the audit leg is one map-side
  // conditional-count scan, and nothing broadcasts or shuffles beyond a
  // flag-count-sized row set. (An earlier form ran the GK digests over
  // the FULL table and then a second full audit pass — the audit cost
  // twice what it audited; at production scale either leg works, the
  // audit's full pass is the fixed cost either way. The GK digest's
  // value-level rank error against full data remains pinned in
  // PercentileSpec.)
  //
  // Verdict: with ties the bracket element's true rank is any position in
  // [lt+1, le], so the check is interval overlap — lt ≤ (p+ε)·n AND
  // le ≥ (p−ε)·n, integer cross-multiplies, no doubles. ε per flag =
  // 30‰ base (3× the GK nominal 10‰, the merge-degradation convention)
  // + a 3σ binomial sampling term (3000·sqrt(0.25/n_sample)‰, the
  // worst-case p=0.5 normal bound): the tolerance follows the sample
  // size, so the booleans the oracle asserts as TRUE hold
  // deterministically at every SF instead of riding a fixed margin that
  // a small gate SF could breach.
  val q41 = query("q41_percentiles_approx")((s, dir) => {
    val li = Tables.lineitem(s, dir)
    val key = (col("l_orderkey") * lit(8L) + col("l_linenumber")).cast("long")
    // bracket table: one row per flag (bounded — flags are an enum). It
    // joins back BROADCAST instead of collecting to the driver: the audit
    // becomes ONE execution (sample-agg stage → broadcast → audit scan),
    // no driver round trip, no per-run literal re-codegen — the audit scan
    // reads each flag's brackets as plain columns.
    val est = li
      .filter(graft.functions.HashFunctions.mix64(key).bitwiseAND(lit(1023L)) < lit(102L))
      .groupBy(col("l_returnflag"))
      .agg(
        AggFunctions.percentileApprox(col("l_quantity"), 0.5, 100).as("__m"),
        // ARRAY-form: one digest per COLUMN, not per quantile.
        approx_percentile(col("l_extendedprice"),
          array(lit(0.25), lit(0.75)), lit(100)).as("__pp"),
        count(lit(1)).as("__ns"))
      // per-flag tolerance in per-mil: 30 + 3σ binomial sampling term
      .select(col("l_returnflag"), col("__m"),
        element_at(col("__pp"), 1).as("__p25"),
        element_at(col("__pp"), 2).as("__p75"),
        (lit(30L) + ceil(lit(3000.0) * sqrt(lit(0.25) / col("__ns").cast("double")))
          .cast("long")).as("__t"))
    def rankOk(pPerMil: Int, lt: Column, le: Column, n: Column, t: Column) =
      coalesce(
        (lt * 1000L <= (lit(pPerMil.toLong) + t) * n) &&
          (le * 1000L >= (lit(pPerMil.toLong) - t) * n),
        lit(false))
    // left join: a flag the sample somehow missed still audits (as a
    // deterministic FALSE through rankOk's coalesce) instead of vanishing.
    // Deliberate failure surface: a FULLY-empty sample (possible only if
    // the ~10% hash sample drew zero rows — i.e. a near-empty table)
    // likewise yields all-FALSE audit rows, which the oracle flags as a
    // mismatch; there is no in-engine assertion because empty-input runs
    // of an audit must still return a frame (the gate compares, the
    // engine doesn't throw).
    li.join(broadcast(est), Seq("l_returnflag"), "left")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        first(col("__t")).as("__t"),
        count(when(col("l_quantity") < col("__m"), 1)).as("__ltm"),
        count(when(col("l_quantity") <= col("__m"), 1)).as("__lem"),
        count(when(col("l_extendedprice") < col("__p25"), 1)).as("__lt25"),
        count(when(col("l_extendedprice") <= col("__p25"), 1)).as("__le25"),
        count(when(col("l_extendedprice") < col("__p75"), 1)).as("__lt75"),
        count(when(col("l_extendedprice") <= col("__p75"), 1)).as("__le75"))
      .select(
        col("l_returnflag"),
        col("n"),
        rankOk(500, col("__ltm"), col("__lem"), col("n"), col("__t")).as("median_ok"),
        rankOk(250, col("__lt25"), col("__le25"), col("n"), col("__t")).as("p25_ok"),
        rankOk(750, col("__lt75"), col("__le75"), col("n"), col("__t")).as("p75_ok"))
      .orderBy("l_returnflag")
  })(
    """SELECT l_returnflag, count(*) AS n,
      | TRUE AS median_ok, TRUE AS p25_ok, TRUE AS p75_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  // ---------------------------------------------------------------- q50
  // q34's SCALE tier: HyperLogLog++ approximate distinct counting —
  // bounded-memory, associative-merge, the only distinct count that
  // survives billion-cardinality groups. The sketch VALUE is
  // engine-specific, so the catalog row emits the ERROR-BOUND VERDICT:
  // relative error vs the exact count within 0.15 (3× the default 5% rsd)
  // as a boolean the DuckDB oracle asserts TRUE — hash-checkable instead
  // of rows-only. The exact count is the audit column a pure-scale
  // deployment would drop (q34/q75 are the exact/deterministic tiers).
  val q50 = query("q50_distinct_approx")((s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id")).as("__approx"),
        count_distinct(col("user_id")).as("__exact"),
        count(lit(1)).as("n_events"))
      .select(
        col("event_type"),
        col("n_events"),
        (abs(col("__approx").cast("double") / col("__exact").cast("double") - 1.0)
          <= 0.15).as("within_bound"))
      .orderBy("event_type"))(
    """SELECT event_type, count(*) AS n_events, TRUE AS within_bound
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)

  // ---------------------------------------------------------------- q75
  // Deterministic HyperLogLog (Sketches.hllDistinct) next to the exact
  // count: unlike q50's engine-specific HLL++, every step here is integer
  // SplitMix64 arithmetic plus one final IEEE division, so the DuckDB
  // oracle reproduces the ESTIMATE bit-for-bit — a sketch whose decisions
  // can be audited by an independent engine. Shuffle per group is capped at
  // 256 register rows however large the input.
  val q75 = query("q75_hll_distinct")((s, dir) => {
    val ev = Tables.events(s, dir)
    val est = Sketches.hllDistinct(ev, Seq("event_type"), col("user_id"), p = 8)
    val exact = ev.groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("n_exact"))
    est.join(exact, "event_type").orderBy("event_type")
  })({
    import DuckHash._
    s"""WITH mx0 AS (SELECT event_type, CAST(user_id AS UBIGINT) AS u FROM events),
       |${mix64Ctes("u")},
       |hw AS (SELECT event_type, mh & 255 AS bucket, mh >> 8 AS w FROM mx4),
       |$hllSmearRhoCtes,
       |regs AS (SELECT event_type, bucket, max(r) AS reg FROM rho GROUP BY event_type, bucket),
       |${hllEstCte("regs", "event_type", "est", "est_distinct")},
       |exact AS (SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events GROUP BY event_type)
       |SELECT a.event_type, a.est_distinct, e.n_exact
       |FROM est a JOIN exact e ON a.event_type = e.event_type
       |ORDER BY a.event_type""".stripMargin
  })

  // ---------------------------------------------------------------- q76
  // Deterministic hash-sampled percentiles — the oracle-checkable scale
  // tier between exact q37 (full sort, cliffs on billion-row groups) and
  // sketch q41 (bounded memory, engine-specific digest): a ~10% SplitMix64
  // sample (low 10 hash bits < 102) cuts the sorted buffer 10x while both
  // engines select the IDENTICAL sample, so the quantiles — exact on the
  // sample — match bit-for-bit. The sample predicate rides the scan
  // (codegen filter, no UDF, no shuffle added).
  val q76 = query("q76_sampled_percentiles")((s, dir) => {
    val li = Tables.lineitem(s, dir)
    val key = (col("l_orderkey") * lit(8L) + col("l_linenumber")).cast("long")
    li.filter(
        graft.functions.HashFunctions.mix64(key).bitwiseAND(lit(1023L)) < lit(102L))
      .groupBy(col("l_returnflag"))
      .agg(
        percentile(col("l_quantity"), lit(0.5)).as("median_qty"),
        percentile(col("l_extendedprice"), array(lit(0.25), lit(0.75))).as("__pp"),
        count(lit(1)).as("n_sample"))
      .select(
        col("l_returnflag"), col("median_qty"),
        element_at(col("__pp"), 1).as("p25_price"),
        element_at(col("__pp"), 2).as("p75_price"),
        col("n_sample"))
      .orderBy("l_returnflag")
  })({
    val mh = DuckHash.mix64Inline("CAST(l_orderkey*8 + l_linenumber AS UBIGINT)")
    s"""SELECT l_returnflag,
       | quantile_cont(l_quantity, 0.5) AS median_qty,
       | quantile_cont(l_extendedprice, 0.25) AS p25_price,
       | quantile_cont(l_extendedprice, 0.75) AS p75_price,
       | count(*) AS n_sample
       |FROM lineitem WHERE ($mh & 1023) < 102
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  })

  // ---------------------------------------------------------------- q79
  // Count-min-sketch heavy hitters (Sketches.cmsTopK): top users per event
  // type by CMS estimate with the exact count for audit. Like q75, the
  // sketch is seeded-SplitMix64 integer arithmetic end-to-end, so the
  // ESTIMATES (not just the ranking) hash-match the DuckDB replay; the
  // counter table is capped at groups × depth × width rows however large
  // the input — the property that keeps heavy-hitter queries broadcastable
  // at 100 TB.
  val q79 = query("q79_cms_heavy_hitters")((s, dir) =>
    Sketches
      .cmsTopK(Tables.events(s, dir), Seq("event_type"), col("user_id"),
        k = 5, depth = 4, width = 1024)
      .orderBy(col("event_type"), col("est_count").desc, col("key")))({
    import DuckHash._
    s"""WITH b AS (SELECT event_type, user_id, CAST(user_id AS UBIGINT) AS u FROM events),
       |sd AS (SELECT event_type, user_id, u, unnest(range(0, 4)) AS s FROM b),
       |mx0 AS (SELECT event_type, user_id, s,
       |  ${wadd("u", wmul("CAST(s AS UBIGINT)", Golden.toString))} AS x FROM sd),
       |${mix64Ctes("x")},
       |hw AS (SELECT event_type, user_id, s, mh & 1023 AS bucket FROM mx4),
       |counters AS (SELECT event_type, s, bucket, count(*) AS c FROM hw GROUP BY 1, 2, 3),
       |items AS (SELECT DISTINCT event_type, user_id, s, bucket FROM hw),
       |est AS (SELECT i.event_type, i.user_id, min(c.c) AS est_count
       |  FROM items i JOIN counters c
       |    ON i.event_type = c.event_type AND i.s = c.s AND i.bucket = c.bucket
       |  GROUP BY 1, 2),
       |ex AS (SELECT event_type, user_id, count(*) AS exact_count FROM events GROUP BY 1, 2),
       |r AS (SELECT e.event_type, e.user_id AS key, e.est_count, x.exact_count,
       |  row_number() OVER (PARTITION BY e.event_type ORDER BY e.est_count DESC, e.user_id) AS rn
       |  FROM est e JOIN ex x ON e.event_type = x.event_type AND e.user_id = x.user_id)
       |SELECT event_type, key, est_count, exact_count FROM r WHERE rn <= 5
       |ORDER BY event_type, est_count DESC, key""".stripMargin
  })

  // ---------------------------------------------------------------- q81
  // Bloom-filter semi-join pre-filter (BloomPrefilter): lineitem probed
  // against a 256 Ki-bit word table built from expensive orders' keys —
  // the explicit, engine-portable form of runtime row-level filtering.
  // Per returnflag: total rows, bloom survivors, true matches, and the
  // false-positive tail the exact join absorbs. The oracle rebuilds the
  // identical bit table in SQL (SplitMix64 replay + bit_or), so
  // MEMBERSHIP DECISIONS, not just counts, are cross-engine verified.
  val q81 = query("q81_bloom_prefilter")((s, dir) => {
    val expensive = Tables.orders(s, dir)
      .filter(col("o_totalprice") > 450000.0)
      .select(col("o_orderkey")).distinct()
    val table = graft.operators.BloomPrefilter
      .buildTable(expensive, col("o_orderkey"), mBits = 262144, seeds = 2)
    val flagged = graft.operators.BloomPrefilter
      .prefilter(Tables.lineitem(s, dir), col("l_orderkey"), table,
        mBits = 262144, seeds = 2)
    flagged
      .join(broadcast(expensive.withColumn("__true", lit(1))),
        col("l_orderkey") === col("o_orderkey"), "left")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("bloom_pass"), 1L).otherwise(0L)).as("n_bloom_pass"),
        sum(when(col("__true").isNotNull, 1L).otherwise(0L)).as("n_true"),
        sum(when(col("bloom_pass") && col("__true").isNull, 1L).otherwise(0L))
          .as("n_false_pos"))
      .orderBy("l_returnflag")
  })({
    import DuckHash._
    s"""WITH ek AS (SELECT DISTINCT o_orderkey FROM orders WHERE o_totalprice > 450000),
       |allk AS (SELECT DISTINCT l_orderkey AS key FROM lineitem
       |  UNION SELECT o_orderkey FROM ek),
       |sd AS (SELECT key, unnest(range(0, 2)) AS s FROM allk),
       |mx0 AS (SELECT key, s,
       |  ${wadd("CAST(key AS UBIGINT)", wmul("CAST(s AS UBIGINT)", Golden.toString))} AS x FROM sd),
       |${mix64Ctes("x")},
       |hb AS (SELECT key, s, (mh & 262143) >> 6 AS word,
       |  CAST((mh & 262143) % 64 AS INTEGER) AS bit,
       |  CAST(1 AS UBIGINT) << CAST((mh & 262143) % 64 AS INTEGER) AS mask
       |  FROM mx4),
       |bloom AS (SELECT word, bit_or(mask) AS bits
       |  FROM hb JOIN ek ON hb.key = ek.o_orderkey GROUP BY word),
       |probe AS (SELECT li.l_orderkey, li.l_returnflag,
       |    h0.word AS w0, h0.bit AS b0, h1.word AS w1, h1.bit AS b1
       |  FROM lineitem li
       |  JOIN hb h0 ON h0.key = li.l_orderkey AND h0.s = 0
       |  JOIN hb h1 ON h1.key = li.l_orderkey AND h1.s = 1),
       |tested AS (SELECT p.l_orderkey, p.l_returnflag,
       |    (coalesce((bb0.bits >> p.b0) & 1, 0) = 1
       |     AND coalesce((bb1.bits >> p.b1) & 1, 0) = 1) AS pass
       |  FROM probe p
       |  LEFT JOIN bloom bb0 ON bb0.word = p.w0
       |  LEFT JOIN bloom bb1 ON bb1.word = p.w1),
       |wt AS (SELECT t.*, (ek.o_orderkey IS NOT NULL) AS istrue
       |  FROM tested t LEFT JOIN ek ON t.l_orderkey = ek.o_orderkey)
       |SELECT l_returnflag, count(*) AS n_rows,
       | CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
       | CAST(sum(CASE WHEN istrue THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       | CAST(sum(CASE WHEN pass AND NOT istrue THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
       |FROM wt GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  })

  // ---------------------------------------------------------------- q82
  // Sketch mergeability (Sketches.hllRegisters/hllMerge): events split into
  // two slices (event_id parity playing per-day shards), per-slice register
  // tables merged by register-max, then estimated — next to the
  // full-data estimate. The two estimates are EQUAL (merge is loss-free,
  // both columns hash-checked): the property that lets a production
  // pipeline persist m-row register tables per day and answer any later
  // cross-slice distinct question without re-reading the data.
  val q82 = query("q82_hll_merge")((s, dir) => {
    val ev = Tables.events(s, dir)
    val regsByPart = Sketches.hllRegisters(
      ev.withColumn("__part", pmod(col("event_id"), lit(2))),
      Seq("event_type", "__part"), col("user_id"), p = 8)
    val merged = Sketches.hllMerge(regsByPart.drop("__part"), Seq("event_type"))
    val estMerged = Sketches
      .hllEstimateFromRegisters(merged, Seq("event_type"), p = 8)
      .withColumnRenamed("est_distinct", "est_merged")
    val estFull = Sketches.hllDistinct(ev, Seq("event_type"), col("user_id"), p = 8)
      .withColumnRenamed("est_distinct", "est_full")
    estMerged.join(estFull, "event_type").orderBy("event_type")
  })({
    import DuckHash._
    s"""WITH mx0 AS (SELECT event_type, event_id % 2 AS par, CAST(user_id AS UBIGINT) AS u FROM events),
       |${mix64Ctes("u")},
       |hw AS (SELECT event_type, par, mh & 255 AS bucket, mh >> 8 AS w FROM mx4),
       |$hllSmearRhoCtes,
       |regs_par AS (SELECT event_type, par, bucket, max(r) AS reg
       |  FROM rho GROUP BY event_type, par, bucket),
       |merged AS (SELECT event_type, bucket, max(reg) AS reg
       |  FROM regs_par GROUP BY event_type, bucket),
       |full_regs AS (SELECT event_type, bucket, max(r) AS reg
       |  FROM rho GROUP BY event_type, bucket),
       |${hllEstCte("merged", "event_type", "em", "est_merged")},
       |${hllEstCte("full_regs", "event_type", "ef", "est_full")}
       |SELECT em.event_type, em.est_merged, ef.est_full
       |FROM em JOIN ef ON em.event_type = ef.event_type
       |ORDER BY em.event_type""".stripMargin
  })

  // ---------------------------------------------------------------- q85
  // HLL set algebra: audience-overlap estimation from REGISTERS alone —
  // est(A), est(B), est(A∪B) from the union-merged registers, and the
  // inclusion-exclusion intersection estimate est(A)+est(B)−est(A∪B),
  // next to the exact overlap. At scale A and B are persisted register
  // tables from different pipelines; the overlap question costs m-row
  // table math, zero data reads. All four estimates hash-checked.
  val q85 = query("q85_hll_overlap")((s, dir) => {
    val ev = Tables.events(s, dir)
    def users(t: String) = ev.filter(col("event_type") === t)
    val regsA = Sketches.hllRegisters(users("purchase"), Seq(), col("user_id"), p = 8)
    val regsB = Sketches.hllRegisters(users("click"), Seq(), col("user_id"), p = 8)
    def est(regs: DataFrame, name: String) =
      Sketches.hllEstimateFromRegisters(regs, Seq(), p = 8)
        .withColumnRenamed("est_distinct", name)
    val merged = Sketches.hllMerge(regsA.unionByName(regsB), Seq())
    val exact = users("purchase").select(col("user_id")).distinct()
      .join(users("click").select(col("user_id")).distinct(), "user_id")
      .agg(count(lit(1)).as("n_exact_overlap"))
    est(regsA, "est_a")
      .crossJoin(est(regsB, "est_b"))
      .crossJoin(est(merged, "est_union"))
      .crossJoin(exact)
      .withColumn("est_overlap",
        col("est_a") + col("est_b") - col("est_union"))
      .select("est_a", "est_b", "est_union", "est_overlap", "n_exact_overlap")
  })({
    import DuckHash._
    s"""WITH mx0 AS (SELECT CASE WHEN event_type = 'purchase' THEN 'a' ELSE 'b' END AS tag,
       |    CAST(user_id AS UBIGINT) AS u
       |  FROM events WHERE event_type IN ('purchase', 'click')),
       |${mix64Ctes("u")},
       |hw AS (SELECT tag, mh & 255 AS bucket, mh >> 8 AS w FROM mx4),
       |$hllSmearRhoCtes,
       |regs_tag AS (SELECT tag, bucket, max(r) AS reg FROM rho GROUP BY tag, bucket),
       |ra AS (SELECT bucket, reg, 'x' AS g FROM regs_tag WHERE tag = 'a'),
       |rb AS (SELECT bucket, reg, 'x' AS g FROM regs_tag WHERE tag = 'b'),
       |ru AS (SELECT bucket, max(reg) AS reg, 'x' AS g FROM regs_tag GROUP BY bucket),
       |${hllEstCte("ra", "g", "ea", "est_a")},
       |${hllEstCte("rb", "g", "eb", "est_b")},
       |${hllEstCte("ru", "g", "eu", "est_union")},
       |x AS (SELECT count(*) AS n_exact_overlap FROM (
       |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
       |  INTERSECT
       |  SELECT DISTINCT user_id FROM events WHERE event_type = 'click') t)
       |SELECT ea.est_a, eb.est_b, eu.est_union,
       | ea.est_a + eb.est_b - eu.est_union AS est_overlap,
       | x.n_exact_overlap
       |FROM ea, eb, eu, x""".stripMargin
  })

  // ---------------------------------------------------------------- q87
  // Equi-depth histogram: bin edges from the q76 deterministic ~10%
  // hash-sampled quartiles (exact `percentile` materializes the full value
  // multiset in ONE aggregation buffer — a global-sort hazard at 100 TB;
  // the sampled edges bound the buffer at sample size while both engines
  // select the IDENTICAL sample, so the edges still hash-match), then a
  // map-only CASE binning over the full scan — the ANALYZE-statistics
  // shape a cost-based optimizer feeds on. Two passes; the second reuses
  // nothing but three broadcast doubles. Exact-edge parity is the
  // PercentileSpec audit; PlanSpec pins the sample filter under the edge
  // aggregation.
  //
  // Task-skew shape (per-stage profile at sf1): every
  // heavy stage runs 31-32 balanced tasks (hot_stage_skew 1.30); the
  // max task is the exact `percentile`'s single-reducer finalize over
  // the sample — single-buffer BY CONTRACT, because the edges must
  // hash-match DuckDB's quantile_cont on the identical multiset. The
  // buffer is bounded by the SAMPLE (~10% here), and the sample ppm is
  // the scale knob: at 100 TB you shrink the fraction (or switch to the
  // q41 GK-estimate tier and give up bit-parity), you do not
  // parallelize the exact multiset.
  //
  // By value (the q149 move applied to the sampled tier): the sample
  // is pre-aggregated to DISTINCT values with
  // counts — a session-width shuffle — and the exact percentile runs
  // with the FREQUENCY argument over the distinct-value distribution.
  // Bit-parity holds because Percentile's buffer is a value→count map
  // either way (a pre-summed count and row-at-a-time increments build
  // the identical map, and quantile interpolation reads cumulative
  // counts); what changes is the single task's input: distinct sampled
  // values instead of sample rows — the finalize is then capped by
  // CORPUS-DISTINCT values, not sample size. Measured (same-window
  // A/B): sf1 (10:1 value duplication) breakeven, ~1.8 s both
  // forms; sf10 (100:1) row-form 5.6-6.4 s vs by-value 2.7-3.6 s with
  // exact parity — the sampled tier now scales with the value space
  // while the sample fraction stays the memory knob. Skew floor, by
  // the same measurement: sf1 total task-seconds 30.4 → 19.1
  // (−37%) and the finalize tail 1076 → ~860 ms; what remains IS the
  // single-buffer contract above, so the task_skew ratio (one exact
  // finalize vs a now-cheaper mean) is the metric's artifact, with
  // hot_stage_skew ~1.2 balanced.
  val q87 = query("q87_equidepth_histogram")((s, dir) => {
    val li = Tables.lineitem(s, dir)
    val sampleKey = (col("l_orderkey") * lit(8L) + col("l_linenumber")).cast("long")
    val edges = li
      .filter(graft.functions.HashFunctions.mix64(sampleKey)
        .bitwiseAND(lit(1023L)) < lit(102L))
      .groupBy(col("l_extendedprice"))
      .agg(count(lit(1)).as("__freq"))
      .agg(percentile(col("l_extendedprice"),
        array(lit(0.25), lit(0.5), lit(0.75)), col("__freq")).as("__e"))
      .select(
        element_at(col("__e"), 1).as("p25"),
        element_at(col("__e"), 2).as("p50"),
        element_at(col("__e"), 3).as("p75"))
    val x = col("l_extendedprice")
    li.crossJoin(broadcast(edges))
      .withColumn("bin",
        when(x < col("p25"), 0).when(x < col("p50"), 1)
          .when(x < col("p75"), 2).otherwise(3))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_rows"), min(x).as("lo"), max(x).as("hi"))
      .orderBy("bin")
  })({
    val mh = DuckHash.mix64Inline("CAST(l_orderkey*8 + l_linenumber AS UBIGINT)")
    s"""WITH e AS (SELECT quantile_cont(l_extendedprice, 0.25) AS p25,
       |  quantile_cont(l_extendedprice, 0.5) AS p50,
       |  quantile_cont(l_extendedprice, 0.75) AS p75
       |  FROM lineitem WHERE ($mh & 1023) < 102)
       |SELECT CASE WHEN l_extendedprice < p25 THEN 0
       |            WHEN l_extendedprice < p50 THEN 1
       |            WHEN l_extendedprice < p75 THEN 2 ELSE 3 END AS bin,
       | count(*) AS n_rows, min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
       |FROM lineitem, e GROUP BY 1 ORDER BY bin""".stripMargin
  })

  // ---------------------------------------------------------------- q88
  // ANALYZE-style column statistics: per key column, row/null counts and
  // exact + sketched NDV side by side — the stats-collection pass a CBO
  // needs, expressed as ONE melt + one grouped HLL (the 3 columns ride a
  // single scan and a single register shuffle; at 100 TB this is the
  // cheap way to refresh table stats). The deterministic sketch makes the
  // collected stats reproducible across engines; rel_err audits the raw
  // estimator against truth.
  val q88 = query("q88_analyze_stats")((s, dir) => {
    val li = Tables.lineitem(s, dir)
    val melted = li.select(
      explode(map(
        lit("l_orderkey"), col("l_orderkey"),
        lit("l_partkey"), col("l_partkey"),
        lit("l_suppkey"), col("l_suppkey"))).as(Seq("column_name", "v")))
    val est = Sketches.hllDistinct(melted, Seq("column_name"), col("v"), p = 8)
      .withColumnRenamed("est_distinct", "ndv_est")
    val exact = melted.groupBy(col("column_name"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"),
        count_distinct(col("v")).as("ndv_exact"))
    exact.join(est, "column_name")
      .withColumn("rel_err",
        (col("ndv_est") - col("ndv_exact").cast("double")) / col("ndv_exact").cast("double"))
      .orderBy("column_name")
  })({
    import DuckHash._
    s"""WITH m AS (
       |  SELECT 'l_orderkey' AS column_name, l_orderkey AS v FROM lineitem
       |  UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
       |  UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem),
       |mx0 AS (SELECT column_name, CAST(v AS UBIGINT) AS u FROM m),
       |${mix64Ctes("u")},
       |hw AS (SELECT column_name, mh & 255 AS bucket, mh >> 8 AS w FROM mx4),
       |$hllSmearRhoCtes,
       |regs AS (SELECT column_name, bucket, max(r) AS reg FROM rho GROUP BY column_name, bucket),
       |${hllEstCte("regs", "column_name", "est", "ndv_est")},
       |exact AS (SELECT column_name, count(*) AS n_rows,
       |    CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       |    count(DISTINCT v) AS ndv_exact
       |  FROM m GROUP BY column_name)
       |SELECT x.column_name, x.n_rows, x.n_nulls, x.ndv_exact, e.ndv_est,
       | (e.ndv_est - CAST(x.ndv_exact AS DOUBLE)) / CAST(x.ndv_exact AS DOUBLE) AS rel_err
       |FROM exact x JOIN est e ON x.column_name = e.column_name
       |ORDER BY x.column_name""".stripMargin
  })

  // ---------------------------------------------------------------- q89
  // Sliding-window distinct users (trailing 7 days, per day) via HLL
  // register composition: per-day register tables (the persisted artifact
  // of q82) fanned over the window and merged by register-max — the shape
  // that makes sliding-window COUNT DISTINCT tractable at 100 TB. The fan
  // is ≤ 256 register rows × 7 per day, NEVER (day, user) pairs — the
  // exact form would re-shuffle every user per window, which is precisely
  // the cost this composition removes, so the catalog query is the
  // register path ALONE (PlanSpec pins no distinct-count over a user fan;
  // SketchesSpec carries the exact-vs-estimate audit at fixture scale).
  // Window membership, merge, and estimate are all integer-deterministic,
  // so the estimate hash-matches the replay.
  val q89 = query("q89_sliding_distinct")((s, dir) => {
    val ev = Tables.events(s, dir)
      .withColumn("day", date_trunc("day", col("ts")))
    val days = ev.select(col("day").as("target_day")).distinct()
    // Window membership as explode(0..6)+equi-join, NOT a range join: each
    // register row fans to the 7 windows it serves, then joins on the
    // exact target day — hash-partitionable at any scale where a
    // day-range BroadcastNestedLoop would not be.
    val windowRegs = Sketches.hllRegisters(ev, Seq("day"), col("user_id"), p = 8)
      .withColumn("__off", explode(sequence(lit(0), lit(6))))
      .withColumn("target_day", col("day") + expr("make_interval(0, 0, 0, __off)"))
      .join(days, "target_day")
      .drop("day", "__off")
      .withColumnRenamed("target_day", "day")
    Sketches.hllEstimateFromRegisters(
        Sketches.hllMerge(windowRegs, Seq("day")), Seq("day"), p = 8)
      .withColumnRenamed("est_distinct", "est_users_7d")
      .orderBy("day")
  })({
    import DuckHash._
    s"""WITH ev AS (SELECT date_trunc('day', ts) AS day, user_id FROM events),
       |mx0 AS (SELECT day, CAST(user_id AS UBIGINT) AS u FROM ev),
       |${mix64Ctes("u")},
       |hw AS (SELECT day, mh & 255 AS bucket, mh >> 8 AS w FROM mx4),
       |$hllSmearRhoCtes,
       |day_regs AS (SELECT day, bucket, max(r) AS reg FROM rho GROUP BY day, bucket),
       |days AS (SELECT DISTINCT day AS target_day FROM ev),
       |reg_fan AS (SELECT r.day + o.off * INTERVAL 1 DAY AS target_day, r.bucket, r.reg
       |  FROM day_regs r, (SELECT unnest(range(0, 7)) AS off) o),
       |win_regs AS (SELECT d.target_day AS day, f.bucket, max(f.reg) AS reg
       |  FROM reg_fan f JOIN days d ON f.target_day = d.target_day
       |  GROUP BY 1, 2),
       |${hllEstCte("win_regs", "day", "est", "est_users_7d")}
       |SELECT CAST(day AS TIMESTAMP) AS day, est_users_7d
       |FROM est ORDER BY day""".stripMargin
  })

  // ---------------------------------------------------------------- q98
  // KMV quantile registers (Sketches.kmvRegisters/kmvMerge/kmvQuantiles):
  // per-shard (returnflag, linestatus) bottom-256-by-id-hash registers,
  // MERGED up to returnflag, then quantiles over the merged keep set. The
  // merge is lossless — bottom-k(∪ shards) = bottom-k(∪ shard bottom-ks)
  // — so the oracle computes the global bottom-256 directly and the
  // estimates match bit-for-bit: a fixed-memory, persistable, mergeable
  // quantile artifact that two engines agree on exactly (contrast q41's
  // engine-specific GK digest, which only admits error-bound checks).
  val q98 = query("q98_kmv_quantiles")((s, dir) => {
    val li = Tables.lineitem(s, dir)
    val id = (col("l_orderkey") * lit(8L) + col("l_linenumber")).cast("long")
    val shardRegs = Sketches.kmvRegisters(
      li, Seq("l_returnflag", "l_linestatus"), id, col("l_extendedprice"), k = 256)
    val merged = Sketches.kmvMerge(shardRegs, Seq("l_returnflag"), k = 256)
    Sketches.kmvQuantiles(
        merged, Seq("l_returnflag"),
        Seq(0.25, 0.5, 0.75), Seq("p25_price", "median_price", "p75_price"))
      .orderBy("l_returnflag")
  })({
    val mh = DuckHash.signed(
      DuckHash.mix64Inline("CAST(l_orderkey*8 + l_linenumber AS UBIGINT)"))
    s"""WITH h AS (SELECT l_returnflag, $mh AS hh,
       |  CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem),
       |r AS (SELECT l_returnflag, v,
       |  row_number() OVER (PARTITION BY l_returnflag ORDER BY hh, v) AS rn FROM h)
       |SELECT l_returnflag,
       | quantile_cont(v, 0.25) AS p25_price,
       | quantile_cont(v, 0.5) AS median_price,
       | quantile_cont(v, 0.75) AS p75_price,
       | count(*) AS n_keep
       |FROM r WHERE rn <= 256
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  })

  // ---------------------------------------------------------------- q104
  // Pre-flight join-size estimate from count-min sketches
  // (Sketches.cmsJoinSize): the self-join size of events on user_id — the
  // "can I afford this join" / F2 skew answer — from two depth×width
  // counter tables instead of the distinct-key shuffle q80's exact probe
  // pays. The CMS inner-product estimate never undercounts (collisions
  // only add); min over depth rows bounds the overshoot. The catalog entry
  // casts the counts to BIGINT for the cross-engine hash — the operator's
  // native decimal(38,0) form is the 100 TB artifact; at catalog scale the
  // values fit a long exactly.
  val q104 = query("q104_join_size_estimate")((s, dir) => {
    val ev = Tables.events(s, dir)
    Sketches.cmsJoinSize(ev, ev, col("user_id"), col("user_id"), depth = 4, width = 1024)
      .select(
        col("est_pairs").cast("long").as("est_pairs"),
        col("exact_pairs").cast("long").as("exact_pairs"),
        col("overestimates"))
  })({
    import DuckHash._
    val mod = BigInt(1) << 64
    def sg(i: Int): String = (Golden * i).mod(mod).toString
    val seedTerm =
      s"(CASE s WHEN 0 THEN 0 WHEN 1 THEN ${sg(1)} WHEN 2 THEN ${sg(2)} ELSE ${sg(3)} END)"
    s"""WITH mx0 AS (SELECT s,
       |  ${wadd("CAST(user_id AS UBIGINT)", seedTerm)} AS sx
       |  FROM events CROSS JOIN (SELECT unnest(range(0, 4)) AS s)),
       |${mix64Ctes("sx")},
       |ct AS (SELECT s, CAST(mh AS UBIGINT) % 1024 AS b, count(*) AS c
       |  FROM mx4 GROUP BY s, b),
       |dot AS (SELECT s, sum(CAST(c AS HUGEINT) * c) AS d FROM ct GROUP BY s),
       |est AS (SELECT CAST(min(d) AS BIGINT) AS est_pairs FROM dot),
       |ex AS (SELECT CAST(sum(CAST(n AS HUGEINT) * n) AS BIGINT) AS exact_pairs
       |  FROM (SELECT count(*) AS n FROM events GROUP BY user_id))
       |SELECT est_pairs, exact_pairs, (est_pairs >= exact_pairs) AS overestimates
       |FROM est CROSS JOIN ex""".stripMargin
  })

  // ---------------------------------------------------------------- q137
  // Exact 7-day sliding distinct users (Sketches.bitmapSlidingDistinct):
  // the exact tier beside q89's HLL registers — per-day 64-bit bitmap
  // words, window union = word-wise bit_or, count = popcount sum. The
  // fan-out ships masks (≤ users/64 rows per day) × 7, never the
  // (day, user) pairs the verdict-flagged count_distinct form shipped;
  // no sketch error, bit-exact on both engines (63-bit words: DuckDB
  // checks shift overflow at bit 63, so masks stay sign-free).
  val q137 = query("q137_bitmap_distinct")((s, dir) =>
    Sketches.bitmapSlidingDistinct(Tables.events(s, dir), "ts", "user_id", 7)
      .withColumn("day", col("day").cast("string"))
      .orderBy("day"))(
    """WITH m AS (SELECT CAST(ts AS DATE) AS day, user_id // 63 AS w,
      |    bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INT)) AS mask
      |  FROM events GROUP BY 1, 2),
      |f AS (SELECT day + CAST(k AS INT) AS day, w, mask
      |  FROM m, unnest(range(0, 7)) AS t(k)),
      |pd AS (SELECT DISTINCT day FROM m),
      |u AS (SELECT f.day, f.w, bit_or(f.mask) AS mm
      |  FROM f JOIN pd USING (day) GROUP BY 1, 2)
      |SELECT CAST(day AS VARCHAR) AS day,
      |  CAST(sum(bit_count(mm)) AS BIGINT) AS n_exact
      |FROM u GROUP BY day ORDER BY day""".stripMargin)
}
