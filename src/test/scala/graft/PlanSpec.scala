package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Rollup

/** Physical-plan shape assertions: the properties the 100 TB design rests
  * on (scan-level filter pushdown, column pruning, broadcast dimension
  * joins, top-k without global sort, whole-stage codegen, salted two-stage
  * aggregation) are pinned here so a refactor that silently loses one
  * fails a test instead of a cluster run.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString()

  /** BNL count on the final plan section. The simjoin blowup guard used
    * to plan as a 1-row scalar broadcast (one BNL per self-join leg);
    * since the guard moved driver-side (eager, its measured pair mass now
    * sizes the candidate join's width) the simjoin plans carry NO
    * nested-loop nodes at all — any BNL in them is a real all-pairs
    * regression. Counted on the FINAL plan section only — AQE appends an
    * Initial Plan dump that double-counts. */
  private def bnlCount(p: String): Int =
    "BroadcastNestedLoopJoin".r
      .findAllIn(p.split("== Initial Plan ==").head).length

  test("q08 range filter reaches the parquet scan (PushedFilters)") {
    val p = plan(SparkEntry.queries("q08_range_filter")(spark, sf))
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(p.contains("GreaterThan") || p.contains("GreaterThanOrEqual"), p.take(2000))
  }

  test("q01 projection prunes the lineitem scan to the used columns") {
    val p = plan(SparkEntry.queries("q01_pricing_summary")(spark, sf))
    // ReadSchema must not include the wide comment/address-ish columns
    assert(p.contains("ReadSchema"), p.take(2000))
    assert(!p.contains("l_comment"), "scan reads l_comment but q01 never uses it")
  }

  test("q13 region-revenue joins broadcast every dimension") {
    val p = plan(SparkEntry.queries("q13_region_revenue")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // the fact side must NOT be broadcast: no broadcast exchange feeding
    // a build side with lineitem's scan directly over the fact table
    assert(p.contains("lineitem"), p.take(3000))
  }

  test("q03 top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = plan(SparkEntry.queries("q03_top_users")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q21 text stats run inside whole-stage codegen") {
    // AQE hides codegen spans until the plan is finalized — execute first,
    // then assert on the final adaptive plan.
    // (write.format("noop") would build a NEW QueryExecution; collect()
    // executes THIS one, so its adaptive plan is the one finalized)
    val df = SparkEntry.queries("q21_token_stats")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("isFinalPlan=true"), p.take(500))
    // `*(n)` is the compact-tree marker for a WholeStageCodegen span
    assert(p.contains("*("), p.take(3000))
  }

  test("q57 salted rollup is two aggregations with one exchange between") {
    val p = plan(SparkEntry.queries("q57_salted_rollup")(spark, sf))
    val aggs = "HashAggregate".r.findAllIn(p).size
    // partial+final for each of the two logical stages = 4 HashAggregate
    // nodes; the point is that BOTH stages exist (salt split then merge)
    assert(aggs >= 4, s"expected the two-stage salted shape, got:\n${p.take(3000)}")
  }

  test("salted rollup equals the plain rollup (value-identical)") {
    val ev = Tables.events(spark, sf)
    val salted = Rollup.saltedSumCount(ev, Seq("event_type"), "value")
      .orderBy("event_type").collect().toSeq
    val plain = ev.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(38, 4)))
          .cast("double").as("total_value"))
      .orderBy("event_type").collect().toSeq
    assert(salted == plain)
  }

  test("q62 all four windows share ONE sort and ONE exchange") {
    val p = plan(SparkEntry.queries("q62_moving_stats")(spark, sf))
    // identical partitioning/ordering must collapse into a single Window
    // operator fed by a single hash exchange + sort; a second Exchange
    // means a window spec drifted (e.g. a different orderBy tie-break)
    val windows = "Window".r.findAllIn(p).size
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(windows == 1, s"expected 1 Window operator, got $windows:\n${p.take(3000)}")
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n${p.take(3000)}")
  }

  test("q63 histogram partial-aggregates before its only required shuffle") {
    val p = plan(SparkEntry.queries("q63_histogram")(spark, sf))
    val aggs = "HashAggregate".r.findAllIn(p).size
    // count only ENSURE_REQUIREMENTS hash exchanges: the Tables loader's
    // explicit spread (REPARTITION_BY_NUM) is policy, not a plan smell
    val exchanges = "ENSURE_REQUIREMENTS".r.findAllIn(p).size -
      "rangepartitioning".r.findAllIn(p).size // final orderBy, not a group shuffle
    assert(aggs >= 2, s"expected partial+final aggregation:\n${p.take(3000)}")
    assert(exchanges == 1, s"expected exactly one group-by shuffle, got $exchanges:\n${p.take(3000)}")
  }

  test("q28 exact KNN broadcasts the query side (map-only corpus scan)") {
    val p = plan(SparkEntry.queries("q28_knn_exact")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(3000))
  }

  test("q185 PQ ANN: corpus never shuffles below the top-k — broadcast LUT join only") {
    val p = plan(SparkEntry.queries("q185_pq_ann")(spark, sf))
    // the query-LUT side broadcasts (tiny by construction); the corpus
    // side is encode (map-only) + the ADC fold — the only shuffle is the
    // per-query top-k window
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("q187 IVFPQ: probe join is a broadcast HASH join on cluster, no nested loop") {
    val p = plan(SparkEntry.queries("q187_ivfpq_ann")(spark, sf))
    // candidate pruning rides the cluster equi-join — a nested loop here
    // would mean the coarse tier stopped pruning
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q190 PQ recall certificate: no cartesian, no sort-merge on the corpus legs") {
    val p = plan(SparkEntry.queries("q190_pq_recall")(spark, sf))
    // three legs (exact-L2 truth, PQ, IVFPQ) each broadcast their small
    // side; the hit joins are hash equi-joins on (query_id, neighbor_id).
    // A CartesianProduct or SortMergeJoin would mean a leg's broadcast
    // degraded to a corpus-sized shuffle.
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
  }

  test("q192 nProbe sweep: cluster probe is a hash join; one scoring pass") {
    val p = plan(SparkEntry.queries("q192_nprobe_sweep")(spark, sf))
    val fin = p.split("== Initial Plan ==").head
    assert(!fin.contains("CartesianProduct"), fin.take(4000))
    // the scoring pass joins corpus to probe ranks on `cluster` as a
    // broadcast HASH join; the only nested-loop broadcasts are (a) the
    // exact-truth tier's brute-force scoring join (by design — that IS
    // the truth), and (b) the two bounded nprobe-frame joins
    // (cell_rank <= nprobe, truth x nprobe), each a 4-row broadcast
    assert(fin.contains("BroadcastHashJoin"), fin.take(4000))
    assert(bnlCountPlain(fin) <= 3, fin.take(4000))
    // exactly ONE exact-cosine scoring aggregation feeds all four sweep
    // points: the decimal dot kernel appears once per plan, not per nprobe
    assert(!fin.contains("SortMergeJoin"), fin.take(4000))
  }

  /** Plain BNL count (no guard attribution) on an already-final section. */
  private def bnlCountPlain(fin: String): Int =
    "BroadcastNestedLoopJoin".r.findAllIn(fin).length

  test("q64 span dedup stays linear: no pair join anywhere in the plan") {
    val p = plan(SparkEntry.queries("q64_span_dedup")(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q67 outlier filter broadcasts the per-type stats back to the fact") {
    val p = plan(SparkEntry.queries("q67_zscore_outliers")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("q66 rebalance keeps the corpus map-only (broadcast counts, no data shuffle)") {
    val p = plan(SparkEntry.queries("q66_mix_rebalance")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("q75 HLL shuffles registers, not rows: partial max before the exchange") {
    val p = plan(SparkEntry.queries("q75_hll_distinct")(spark, sf))
    // map-side partial_max collapses each partition to <= m register rows
    // BEFORE the (group, bucket) exchange — the bounded-shuffle property
    assert(p.contains("partial_max"), p.take(3000))
    assert(p.contains("partial_sum"), p.take(3000))
  }

  test("q79 CMS top-k uses WindowGroupLimit and broadcast counter joins") {
    val p = plan(SparkEntry.queries("q79_cms_heavy_hitters")(spark, sf))
    // rank-limit pushdown: per-partition top-k before the window shuffle
    assert(p.contains("WindowGroupLimit"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q81 bloom probing is broadcast joins only — the fact side never shuffles for the filter") {
    val p = plan(SparkEntry.queries("q81_bloom_prefilter")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q86 bloom decontamination has no pair join anywhere") {
    val p = plan(SparkEntry.queries("q86_bloom_decontaminate")(spark, sf))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q89 sliding distinct is register composition only — no distinct-count over a user fan") {
    val p = plan(SparkEntry.queries("q89_sliding_distinct")(spark, sf))
    // the scale-killer this query exists to remove: exact count_distinct
    // over the ×7 (day, user) fan — registers (≤256 rows/day) fan instead
    assert(!p.contains("count(distinct"), p.take(3000))
    assert(p.contains("partial_max"), p.take(3000)) // register max-merge path
  }

  test("q87 histogram edges come from the hash sample, not an exact global percentile") {
    val p = plan(SparkEntry.queries("q87_equidepth_histogram")(spark, sf))
    // the sample mask must gate the percentile aggregation's input — the
    // exact tier's unbounded single-buffer global sort is the q37 audit,
    // not this plan
    assert(p.contains("1023"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(3000)) // 1-row edge table broadcast back over the full scan
  }

  test("q77 NFC normalization runs inside whole-stage codegen") {
    val df = SparkEntry.queries("q77_nfc_normalize")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("isFinalPlan=true"), p.take(500))
    assert(p.contains("*("), p.take(3000)) // WholeStageCodegen span marker
  }

  test("q101 decayed counts: one map-combined aggregation, scalar max broadcast back") {
    val p = plan(SparkEntry.queries("q101_decayed_counts")(spark, sf))
    // partial_sum/partial_count before the group exchange — the weights
    // combine map-side; the ref-date row rides a broadcast, never a shuffle
    assert(p.contains("partial_sum"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("q102 per-group cap is a bounded aggregate, not a row_number window") {
    val p = plan(SparkEntry.queries("q102_cap_per_group")(spark, sf))
    assert(p.contains("ObjectHashAggregate"), p.take(3000))
    assert(!p.contains("WindowGroupLimit"), p.take(3000))
    assert(!p.contains("Window "), p.take(3000))
  }

  test("q104 join-size estimate joins counter tables, never the fact rows") {
    val df = SparkEntry.queries("q104_join_size_estimate")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    // the <= depth*width counter tables meet in broadcast joins after AQE
    // sees their size; the events rows themselves never meet in a join
    assert(p.contains("isFinalPlan=true"), p.take(500))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
  }

  test("q105 KS drift has no join: tagged union into one bounded aggregation") {
    val p = plan(SparkEntry.queries("q105_ks_drift")(spark, sf))
    assert(p.contains("Union"), p.take(3000))
    assert(p.contains("partial_sum"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("q106 pruning audit broadcasts the probe boxes over the tile table") {
    val df = SparkEntry.queries("q106_pruning_audit")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
  }

  test("q107 survivor election is the bounded topk aggregate, not a window") {
    val p = plan(SparkEntry.queries("q107_best_survivor_dedup")(spark, sf))
    assert(p.contains("graft_topk"), p.take(4000))
    // a row_number election would sort every cluster's membership; the
    // k=1 heap carries one (score, id) pair per cluster through the
    // exchange instead
    assert(!p.contains("row_number"), p.take(4000))
  }

  test("q112 transition matrix: one window over events, totals broadcast back") {
    val df = SparkEntry.queries("q112_transition_matrix")(spark, sf)
    df.collect()
    // AQE's toString repeats the tree (final + initial sections) — count
    // nodes in the final section only
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    // exactly one Window node (the lead over the user-keyed sort) — a
    // second window would mean the share is computed by re-sorting the
    // matrix instead of the broadcast totals join
    assert(p.split("\\bWindow \\[").length - 1 == 1, p.take(4000))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
  }

  test("q115 grouped vocab plans a WindowGroupLimit below the exchange") {
    val p = plan(SparkEntry.queries("q115_grouped_vocab")(spark, sf))
    // InferWindowGroupLimit must kick in: the row_number <= k filter
    // becomes a Partial WindowGroupLimitExec on the map side, capping the
    // shuffle at groups x k instead of the full (group, term) table
    assert(p.contains("WindowGroupLimit"), p.take(4000))
  }

  test("q116 semdedup pairs join on the cluster key, never a cross product") {
    val df = SparkEntry.queries("q116_semdedup")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    // the within-cluster self-join must be keyed (hash/sort on cluster) —
    // a BroadcastNestedLoop/Cartesian here would be the n² plan SemDeDup
    // exists to avoid
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
  }

  test("q117 anomaly stats broadcast back onto the bucket table") {
    val p = plan(SparkEntry.queries("q117_count_anomalies")(spark, sf))
    // the per-type stats table is groups-sized — it must broadcast, and
    // the verdict must be pure integer arithmetic (no stddev in the plan)
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("stddev"), p.take(3000))
  }

  test("q118 bigram PMI: TakeOrdered top-k, count-table joins never shuffle pair rows twice") {
    val df = SparkEntry.queries("q118_bigram_pmi")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("TakeOrderedAndProject"), p.take(4000))
    // the unigram legs are vocab-sized: AQE must land broadcast joins,
    // never a cartesian (and the pair stream partial-aggregates map-side)
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(p.contains("partial_count") || p.contains("partial_sum"), p.take(4000))
  }

  test("q119 dim stats is one bounded aggregation: partial combine, single group shuffle") {
    val p = plan(SparkEntry.queries("q119_dim_stats")(spark, sf))
    val exchanges = "ENSURE_REQUIREMENTS".r.findAllIn(p).size -
      "rangepartitioning".r.findAllIn(p).size // final orderBy, not a group shuffle
    assert(exchanges == 1, s"expected exactly one group shuffle, got $exchanges:\n${p.take(3000)}")
    assert(p.contains("partial_sum"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("q120 CDC chunking is map-only into fingerprint aggregation: no join, no window") {
    val p = plan(SparkEntry.queries("q120_cdc_chunks")(spark, sf))
    assert(!p.contains("Join"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("partial_count") || p.contains("partial_sum"), p.take(3000))
  }

  test("q121 cross-source matrix: band-keyed candidate join, never a cross product") {
    val df = SparkEntry.queries("q121_cross_source_dups")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
  }

  test("q122 recall audit broadcasts the query side on both legs") {
    val df = SparkEntry.queries("q122_ann_recall")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    // exact leg: broadcast query block over the corpus scan; IVF leg:
    // broadcast probe table on the cluster key — the corpus never shuffles
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
  }

  test("q123 padding waste is one map-combined aggregation, no join") {
    val p = plan(SparkEntry.queries("q123_padding_waste")(spark, sf))
    val exchanges = "ENSURE_REQUIREMENTS".r.findAllIn(p).size -
      "rangepartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly one group shuffle, got $exchanges:\n${p.take(3000)}")
    assert(p.contains("partial_sum"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("q124 vocab growth: both rollups partial-aggregate; window runs on the bucket table") {
    val p = plan(SparkEntry.queries("q124_vocab_growth")(spark, sf))
    assert(p.contains("partial_count") || p.contains("partial_min"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q125 rule taxonomy is a codegen CASE chain — no join anywhere") {
    val p = plan(SparkEntry.queries("q125_rule_taxonomy")(spark, sf))
    assert(!p.contains("Join"), p.take(3000))
    val exchanges = "ENSURE_REQUIREMENTS".r.findAllIn(p).size -
      "rangepartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected one group shuffle, got $exchanges:\n${p.take(3000)}")
  }

  test("q126 calibration joins candidates to signatures keyed — never a cross product") {
    val df = SparkEntry.queries("q126_minhash_calibration")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
  }

  test("q108 importance scoring broadcasts the bucket verdict table") {
    import spark.implicits._
    // pin the SCORING path in isolation: the learning side joins two
    // ≤numBuckets count tables (full outer — bounded either way); what
    // must never happen is a shuffled join of the token stream, so score
    // against a pre-built verdict table as an incremental batch would
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    val verdicts = Seq((0L, true), (1L, false)).toDF("bucket", "enriched")
    val df = graft.operators.Importance
      .applyVerdicts(docs, verdicts, "doc_id", "text")
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
  }

  test("q132 session paths: top-k via TakeOrdered, no cartesian anywhere") {
    val p = plan(SparkEntry.queries("q132_session_paths")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q133 correlation matrix: join-free — moments in one aggregation") {
    val p = plan(SparkEntry.queries("q133_corr_matrix")(spark, sf))
    // the pair table expands row-locally from the single-row aggregate:
    // any join node would mean the corpus was scanned more than once
    assert(!p.contains("Join"), p.take(3000))
  }

  test("q137 bitmap distinct: no distinct-expand, no count_distinct") {
    val p = plan(SparkEntry.queries("q137_bitmap_distinct")(spark, sf))
    // the whole point vs the flagged q89 exact side: masks aggregate via
    // bit_or, never a distinct over the (day, user) fan
    assert(!p.toLowerCase.contains("count(distinct"), p.take(3000))
    assert(!p.contains("Expand"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q139 inter-arrival spectrum is window + aggregation, join-free") {
    val p = plan(SparkEntry.queries("q139_interarrival")(spark, sf))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("q140 RI sweep: every parent side broadcasts, facts never shuffle-join") {
    val p = plan(SparkEntry.queries("q140_ri_sweep")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q127 edit blocking: key-equi joins only, no distance DP in the plan") {
    val df = SparkEntry.queries("q127_edit_blocking")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    // candidates come from the deletion-key join — any nested-loop node
    // would be the n² distance matrix the operator exists to avoid, and
    // the position trick means NO levenshtein expression anywhere
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    assert(!p.toLowerCase.contains("levenshtein"), p.take(4000))
  }

  test("q128 keyword search: term filter below the aggregation, TakeOrdered top-k") {
    val p = plan(SparkEntry.queries("q128_keyword_search")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    // df and N tables are terms-sized/1-row — broadcast, never sort-merge
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("q130 affinity: row-local pair expansion, no corpus self-join") {
    val p = plan(SparkEntry.queries("q130_type_affinity")(spark, sf))
    // pairs explode from per-unit sets; totals broadcast back — the only
    // joins are broadcast, and nothing nested-loops
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q141 prefix-filter simjoin: equi-joins only, generate stays in codegen") {
    val df = SparkEntry.queries("q141_simjoin_prefix")(spark, sf)
    df.collect() // AQE finalizes the plan (q21 precedent)
    val p = df.queryExecution.executedPlan.toString()
    // candidates come ONLY from the prefix-token equi-join; any
    // nested-loop/cartesian node would be the all-pairs comparison the
    // prefix filter exists to avoid (the blowup guard is driver-side
    // eager now, so the plan is nested-loop-FREE)
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(bnlCount(p) == 0, p.take(4000))
    // the shingle explode must ride whole-stage codegen (the position-
    // sequence staging rule): every Generate line must carry the `*(n)`
    // span marker — a bare Generate is the 10x interpreted fallback the
    // explode-over-transform form regresses to
    // AQE prints the pre-codegen "Initial Plan" section after the final
    // plan — only the FINAL section carries the `*(n)` markers
    val finalPlan = p.split("== Initial Plan ==").head
    val gens = finalPlan.linesIterator.filter(_.contains("Generate")).toSeq
    assert(gens.nonEmpty, finalPlan.take(4000))
    assert(gens.forall(_.contains("*(")),
      s"Generate outside whole-stage codegen:\n${gens.mkString("\n")}")
  }

  test("q142 sliding anomalies: one bucket rollup + one window, join-free") {
    val p = plan(SparkEntry.queries("q142_sliding_anomaly")(spark, sf))
    assert(!p.contains("Join"), p.take(3000))
    assert(p.contains("Window"), p.take(3000))
  }

  test("q143 forward fill: spine explodes from bounds, no nested loop, no cartesian") {
    val p = plan(SparkEntry.queries("q143_forward_fill")(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    assert(p.contains("Generate"), p.take(4000)) // sequence() spine
  }

  test("q144 compaction plan: pure window arithmetic over the inventory, join-free") {
    val p = plan(SparkEntry.queries("q144_compaction_plan")(spark, sf))
    assert(!p.contains("Join"), p.take(3000))
    assert(p.contains("Window"), p.take(3000))
  }

  test("q152 interval join: binned HASH join — the range condition never plans a nested loop") {
    val p = plan(SparkEntry.queries("q152_interval_join")(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
  }

  test("q153/q155/q156 profiling rollups are join-free aggregation chains") {
    for (q <- Seq("q153_group_mode", "q155_concentration", "q156_l_diversity")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("Join"), s"$q: ${p.take(2000)}")
    }
  }

  test("q157 seasonality: calendar and totals broadcast, never sort-merge") {
    val p = plan(SparkEntry.queries("q157_seasonality")(spark, sf))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q158 reconciliation: child side pre-aggregates below the key join") {
    val p = plan(SparkEntry.queries("q158_reconciliation")(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // the lineitem side must reach the join as per-order sums — an
    // aggregate KEYED ON the order key must exist in the plan (the final
    // status rollup alone would not produce one), or the join is
    // shuffling raw fact rows
    assert(p.contains("keys=[o_orderkey"), p.take(3000))
  }

  test("q159 entity resolution composes without any nested loop") {
    val p = plan(SparkEntry.queries("q159_entity_resolution")(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    assert(!p.toLowerCase.contains("levenshtein"), p.take(4000))
  }

  test("q147 triangle counts: wedge closure is an equi-join, never a nested loop") {
    val p = plan(SparkEntry.queries("q147_triangle_counts")(spark, sf))
    // the closure probe matches the canonical a<b edge list on both wedge
    // legs — an OR over orientations would plan a BroadcastNestedLoopJoin
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
  }

  test("q165 recall audit: one full-outer pair join, no nested loop") {
    val p = plan(SparkEntry.queries("q165_lsh_recall_audit")(spark, sf))
    // the expensive legs (exact simjoin, LSH banding) meet in exactly one
    // FullOuter equi-join on the pair key; a second evaluation of either
    // leg (the left-join + recount formulation) would show a second
    // FullOuter/aggregate pair or a nested loop. The truth leg's blowup
    // guard is driver-side eager — no scalar broadcast in the plan.
    assert("FullOuter".r.findAllIn(p).length == 1, p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(bnlCount(p) == 0, p.take(4000))
  }

  test("q167 cross-source matrix: label joins stay hash joins, explode in codegen") {
    val p = plan(SparkEntry.queries("q167_cross_source_dup")(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(4000))
    // exact-tier blowup guard is driver-side eager — nested-loop-free plan
    assert(bnlCount(p) == 0, p.take(4000))
    // the 2-row endpoint explode is a plain CreateArray generate — a
    // higher-order-function input would knock it out of codegen
    assert(p.contains("Generate explode"), p.take(4000))
  }

  test("q196 line dedup: no cartesian, no nested loop, line explode in codegen") {
    val p = plan(SparkEntry.queries("q196_line_dedup")(spark, sf))
    // boilerplate detection is aggregation + anti-probe — never pairwise
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    assert(p.contains("Generate"), p.take(4000)) // the posexplode of lines
  }

  test("q197 tokenizer fertility: document words probe the encoded vocab via broadcast") {
    val df = SparkEntry.queries("q197_tokenizer_fertility")(spark, sf)
    df.collect() // AQE finalizes the plan (q21 precedent)
    val p = df.queryExecution.executedPlan.toString()
    val fin = p.split("== Initial Plan ==").head
    // the corpus-side word stream must meet the bounded piece table as a
    // broadcast hash join — a sort-merge there shuffles the corpus on a
    // string key for nothing
    assert(fin.contains("BroadcastHashJoin"), fin.take(4000))
    assert(!fin.contains("SortMergeJoin"), fin.take(4000))
    assert(!fin.contains("CartesianProduct"), fin.take(4000))
  }

  test("q198 html extraction: join-free scan-riding projection") {
    val p = plan(SparkEntry.queries("q198_html_extract")(spark, sf))
    // extraction is a per-row regex chain — any join or aggregate before
    // the presentation sort means it stopped riding the scan
    assert(!p.contains("Join"), p.take(3000))
    assert(!p.contains("HashAggregate"), p.take(3000))
  }

  test("q205 planted recall: index legs broadcast back onto the truth table, no cartesian") {
    val p = plan(SparkEntry.queries("q205_planted_recall")(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(4000))
    // the three top-k legs are output-sized (|queries|*k rows) — they must
    // meet the truth table as broadcast hash joins, never a sort-merge
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
  }

  test("q168 codec round-trip is shuffle-free up to the final presentation sort") {
    val df = SparkEntry.queries("q168_codec_roundtrip")(spark, sf)
    val p = plan(df)
    // row-local kernel: above the MapPartitions the ONLY exchange is the
    // orderBy's range partitioning — an aggregation-style shuffle there
    // would mean the codec kernel stopped being map-only. (The hash
    // exchange BELOW it is Tables.spread's load-time fact repartition,
    // which is what parallelizes the kernel off the single-rowgroup
    // source parquet.)
    val above = p.substring(0, p.indexOf("MapPartitions"))
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(above).toList
    assert(exchanges.length == 1 && exchanges.head.contains("rangepartitioning"),
      s"expected exactly one range exchange above the kernel, got $exchanges\n" +
        p.take(3000))
  }
}
