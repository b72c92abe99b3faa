package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.Harness

/** Connected components over candidate-pair edges — the step that turns
  * near-dup PAIRS (MinHash-LSH, SimHash, embedding buckets) into duplicate
  * CLUSTERS, so survivor selection can keep exactly one document per
  * transitive group (a←→b, b←→c ⇒ {a,b,c} is ONE cluster even though (a,c)
  * never collided in any band).
  *
  * Two paths, chosen by the edge count observed while the canonical edge
  * set is checkpointed (no separate sizing job):
  *  - a graph whose edges fit the driver budget ([[driverEdgeBudget]]) is
  *    collected ONCE and labelled on the driver with union-find; the labels
  *    come back as a local DataFrame. A pair graph from near-dup candidates
  *    is usually this small, and the distributed loop would spend its time
  *    on per-round driver barriers, not data.
  *  - a larger graph runs alternating large-star / small-star (Kiveris et
  *    al., "Connected Components in MapReduce and Beyond", SoCC'14), which
  *    converges in O(log² n) rounds (O(log n) in practice), each round two
  *    key-partitioned shuffles of the CURRENT edge set. On this path
  *    nothing is collected to the driver and no step materializes a
  *    neighborhood list (per-key min + join-back instead of collect_set),
  *    so one 10⁹-node component costs the same per-round shuffle volume as
  *    a billion small ones — the skew ceiling is the hottest single key's
  *    edge count, which AQE splits.
  *
  * Iteration hygiene for Spark: each round ends in `localCheckpoint`
  * (truncates the lineage — without it the plan doubles every round and
  * the driver dies of analysis time long before the executors break a
  * sweat) and convergence (star form) is observed from INSIDE each
  * round's plan via an `observe()` metric on the large-star aggregation,
  * so a round is exactly ONE driver action — no separate probe job.
  */
object ConnectedComponents {

  /** Star-contraction rounds the distributed loop may run before it
    * fails: component diameter grows ~2^rounds. */
  final val MaxIter = 32

  // Observation names must be unique per registration; Bench re-runs
  // components() many times per JVM, so loop-index names would collide.
  private val obsSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  private def observation(prefix: String): Observation =
    new Observation(s"${prefix}_${obsSeq.incrementAndGet()}")

  /** An observed count or max; a plan that ran over no partitions (an
    * empty edge set) reports no metrics at all, which reads as 0. */
  private def observed(o: Observation, name: String): Long =
    o.get.get(name).fold(0L)(_.asInstanceOf[Long])

  /** Label every node of the pair graph with the smallest node id
    * reachable from it.
    *
    * @param pairs edges, two id columns (any orientation, dups fine)
    * @param aCol  left id column name
    * @param bCol  right id column name
    * @return (node, cluster) — one row per distinct node, cluster = min
    *         id of its component; roots label themselves.
    */
  def components(
      pairs: DataFrame,
      aCol: String,
      bCol: String): DataFrame =
    components(pairs, aCol, bCol, driverEdgeBudget(pairs.sparkSession))

  /** [[components]] with the driver budget given in edges: a graph with
    * more canonical edges than `driverBudget` runs the distributed loop, so
    * a negative budget forces it (specs compare the two paths). */
  private[graft] def components(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      driverBudget: Long): DataFrame = {
    // Integral ids only — a silent cast("long") would turn string/UUID ids
    // into null, drop every edge at the u≠v filter, and report ZERO
    // duplicate clusters. Fail loudly instead; callers with string ids
    // should pre-hash them (xxhash64) to a stable long key.
    Guards.requireIntegralColumns(pairs, Seq(aCol, bCol), "components()")
    val a = col(aCol).cast("long")
    val b = col(bCol).cast("long")

    // Canonical undirected representation: every edge stored once as
    // hi → lo. Both star steps preserve this orientation (they only ever
    // point nodes at something ≤ a neighborhood minimum).
    // The checkpoint also pins the (possibly expensive) pair-generation
    // plan: EVERYTHING downstream — the driver collect, or the iterations,
    // convergence probes and final node list — reads the materialized
    // edges, so the upstream pipeline (e.g. a full MinHash-LSH pass)
    // executes exactly once. The checkpoint action also observes the edge
    // count, which picks the path and sizes the loop: no sizing job.
    val sized = observation("cc_edges")
    val ckInit = pairs
      .select(greatest(a, b).as("u"), least(a, b).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .observe(sized, count(lit(1)).as("n"))
      .localCheckpoint()
    val nEdges = observed(sized, "n")
    if (nEdges <= driverBudget) labelOnDriver(ckInit)
    else starLoop(ckInit, nEdges)
  }

  /** Peak driver bytes per collected edge on the driver path: the collected
    * rows, the sorted node index and the boxed (node, cluster) result rows
    * of up to two nodes per edge, all live at once. */
  private final val DriverBytesPerEdge = 512L
  /** Serialized result bytes per edge that a collect returns (an UnsafeRow
    * of two longs plus its length), counted against maxResultSize. */
  private final val CollectedBytesPerEdge = 32L

  /** Edges one query may collect and label on the driver: half of its share
    * of the driver heap when [[Harness.VerifyParallelism]] queries (as many
    * as graft.Verify runs at once) do so at once, capped by what
    * `spark.driver.maxResultSize` (0 = unlimited) lets a collect return. */
  private def driverEdgeBudget(spark: SparkSession): Long = {
    val byHeap = Runtime.getRuntime.maxMemory / Harness.VerifyParallelism / 2 / DriverBytesPerEdge
    val maxResult = spark.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    if (maxResult > 0) math.min(byHeap, maxResult / CollectedBytesPerEdge) else byHeap
  }

  /** Driver path: collect the canonical edges once and union them, always
    * linking the larger root under the smaller, so every root is its
    * component's minimum. Nodes are indexed by rank in the sorted id list,
    * so the parent array is dense and "smaller root" is "smaller index". */
  private def labelOnDriver(edges: DataFrame): DataFrame = {
    val (us, vs) = {
      val rows = edges.collect()
      (rows.map(_.getLong(0)), rows.map(_.getLong(1)))
    }
    val ids = {
      val all = us ++ vs
      java.util.Arrays.sort(all)
      var n = 0
      for (i <- all.indices if i == 0 || all(i) != all(i - 1)) { all(n) = all(i); n += 1 }
      java.util.Arrays.copyOf(all, n)
    }
    val parent = Array.tabulate(ids.length)(identity)
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    for (k <- us.indices) {
      val ru = find(java.util.Arrays.binarySearch(ids, us(k)))
      val rv = find(java.util.Arrays.binarySearch(ids, vs(k)))
      if (ru < rv) parent(rv) = ru else if (rv < ru) parent(ru) = rv
    }
    // the distributed path's schema: node and cluster both come from the
    // canonical edge columns, nullable if either of them is
    val nullable = edges.schema.fields.exists(_.nullable)
    val schema = StructType(Seq(
      StructField("node", LongType, nullable), StructField("cluster", LongType, nullable)))
    val rows = new java.util.ArrayList[Row](ids.length)
    for (i <- ids.indices) rows.add(Row(ids(i), ids(find(i))))
    // one partition: the labels already sit on the driver, and a single
    // partition satisfies any distribution a caller's aggregate or sort
    // asks for, so those add no exchange (and no job) on top of them
    edges.sparkSession.createDataFrame(rows, schema).coalesce(1)
  }

  /** Distributed path over the checkpointed canonical edges. */
  private def starLoop(ckInit: DataFrame, nEdges: Long): DataFrame = {
    // Right-size loop parallelism to the OBSERVED edge count: every star
    // round runs 2 shuffles + 2 convergence probes, and on a
    // small-to-medium pair graph those are 32 near-empty tasks each. One
    // partition per ~100k edges, min 1 (the kCore rule). Applied to the
    // INITIAL edge set only, by measurement (the kCore finding): later
    // rounds re-shuffle to session width and AQE right-sizes their
    // near-empty reads, while both per-round re-apply variants bench
    // worse — pre-checkpoint serializes the round's own shuffle-read
    // compute, post-checkpoint imbalances consumers with fat merged blocks
    // at no wall win. Round 1 is the only round whose input arrives
    // un-shuffled, so it is where explicit sizing pays.
    val nParts = math.max(1L, math.min(
      ckInit.rdd.getNumPartitions.toLong, nEdges / 100000L + 1L)).toInt
    var edges =
      if (nParts < ckInit.rdd.getNumPartitions) ckInit.coalesce(nParts)
      else ckInit

    // large-star: per center u over the FULL neighborhood (symmetrize
    // first), m = min(N(u) ∪ {u}); re-point every larger neighbor at m.
    //
    // The round's convergence probe rides THIS aggregation as an observe()
    // metric (one action per round, not checkpoint+probe):
    // sym carries a direction tag, so the groupBy(u) that computes each
    // neighborhood minimum also knows u's out-degree (Σ tag) and in-degree
    // (count − Σ tag) in the INPUT edge set — and star form is exactly
    // "no u has out-degree > 1, and no u is both source and target"
    // (the two conditions the old isStarForm probed with two separate
    // driver actions). CollectMetrics is row-level over the aggregated
    // groups, costs no exchange, and the tag adds 4 bytes/row to an
    // exchange the round already pays. The trade (measured, see
    // OPTIMIZATION_r14): the probe now certifies the round's INPUT, so
    // convergence of round n's output is observed while round n+1
    // executes — one extra (cheapest, star-form) round replaces ~n probe
    // actions plus the final round's two full-scan probes.
    def largeStarObserved(e: DataFrame, obs: Observation): DataFrame = {
      val sym = e.select(col("u"), col("v"), lit(1L).as("__o"))
        .union(e.select(col("v").as("u"), col("u").as("v"), lit(0L).as("__o")))
      val magg = sym.groupBy("u").agg(
        min(col("v")).as("mv"),
        sum(col("__o")).as("__od"),
        count(lit(1)).as("__deg"))
      val m = magg
        .observe(obs, coalesce(max(when(
          col("__od") > 1 ||
            (col("__od") >= 1 && col("__deg") - col("__od") >= 1),
          1L).otherwise(0L)), lit(0L)).as("viol"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      sym.join(m, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // small-star on hi → lo edges: m = min smaller-neighbor; connect the
    // other smaller neighbors and the center itself to m.
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy("u").agg(min(col("v")).as("m"))
      val relinked = e.join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
      val center = m.select(col("u"), col("m").as("v"))
      relinked.union(center)
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // Convergence = STAR FORM (every u has exactly one out-edge and no
    // edge target is itself a source; Kiveris et al. prove the iteration's
    // only fixed point is the star partition), observed from INSIDE each
    // round's plan: largeStarObserved's groupBy(u) sees the round input's
    // out/in-degrees, so the round's single checkpoint action doubles as
    // the convergence probe of the edge set it consumed. Because a star
    // set is a fixed point, the loop may run one final round whose input
    // was already star-form — that round's output IS its input, the
    // cheapest edge set of the whole loop — in exchange for deleting every
    // separate probe action (the old isStarForm: one aggregate + one
    // semi-join job per round). The loop allows MaxIter+1 iterations so
    // that convergence AT round MaxIter is still observable.
    var converged = false
    var iter = 0
    while (!converged && iter <= MaxIter) {
      val obs = observation("cc_conv")
      val next = smallStar(largeStarObserved(edges, obs)).localCheckpoint()
      if (observed(obs, "viol") == 0L) converged = true
      else { edges = next; iter += 1 }
    }
    // Non-converged labels are intermediate parents, not component minima —
    // survivor selection on them silently under-deduplicates. Fail loudly:
    // component diameter grows ~2^rounds, so a legitimate MaxIter bump is
    // tiny, while hitting the default 32 means something is wrong.
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $MaxIter rounds; " +
          "raise MaxIter (rounds needed ≈ log2 of the largest component's diameter)")

    // At convergence the edge set is a union of stars (child → root).
    // Roots have no outgoing edge — they label themselves. Nodes come from
    // the CHECKPOINTED initial edges, not the raw pairs plan (self-pairs
    // (x,x) carry no merge information, so dropping them with the u≠v
    // filter loses nothing).
    val nodes = ckInit.select(col("u").as("node"))
      .union(ckInit.select(col("v").as("node"))).distinct()
    nodes
      .join(edges.select(col("u").as("node"), col("v").as("root")), Seq("node"), "left")
      .select(col("node"), coalesce(col("root"), col("node")).as("cluster"))
  }

  /** Per-cluster summary: size and id span. The downstream keep-list is
    * `filter(node === cluster)` on [[components]]' output — no extra pass. */
  def clusterSizes(labels: DataFrame): DataFrame =
    labels
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"), max(col("node")).as("max_node"))
}
