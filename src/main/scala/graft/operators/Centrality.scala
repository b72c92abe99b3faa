package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph centrality over candidate-pair graphs (near-dup LSH pairs,
  * entity-blocking pairs): which documents are the HUBS of a duplication
  * neighborhood — boilerplate templates, licence headers, mirrored feeds —
  * as opposed to [[ConnectedComponents]]' "which documents are connected
  * at all". A curation pipeline ranks clusters by hub centrality to find
  * the template sources worth a human look.
  *
  * PageRank in pure INTEGER arithmetic: ranks carry in fixed-point units
  * of 1e-12 and each out-contribution is the integral division
  * `(rank · 85) div (100 · degree)` (damping 0.85) — floor division of
  * non-negative longs, associative sums, so the result is bit-identical
  * across partitionings, retries, and engines, where the textbook
  * double-arithmetic PageRank depends on partition merge order. Mass is
  * not exactly conserved (each division floors, dangling mass drops) —
  * irrelevant for RANKING, which is what the operator is for.
  *
  * Scale shape: the adjacency (mirrored edges + degree) is built once —
  * one edge-keyed aggregation and one self-keyed join — and checkpointed,
  * so every iteration is ONE join of the rank table against the adjacency
  * on `src` plus one `dst`-keyed sum: shuffle ∝ edges per round, never
  * edges². Rank tables are node-sized.
  *
  * Lineage hygiene differs from [[ConnectedComponents]]: a FIXED
  * iteration count means the plan depth is statically bounded (linear in
  * iterations, no self-referential growth), so the rank chain executes
  * as one lazy pipeline — each eager `localCheckpoint` costs a full
  * materialization, pure overhead at small iteration counts (measured ~2x
  * on the 5-round catalog query).
  */
object Centrality {

  // Observation names must be unique per registration; the bench re-runs
  // kCore many times per JVM, so a loop-index name alone would collide.
  private val obsSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  private def requireIntegralNodes(df: DataFrame, cols: Seq[String], op: String): Unit =
    Guards.requireIntegralColumns(df, cols, op)

  /** Power-iteration rounds of [[pageRank]]. */
  final val PageRankIterations = 5

  /** PageRank over an UNDIRECTED graph given as distinct (srcCol, dstCol)
    * pairs (each pair listed once, e.g. `doc_a < doc_b`; the mirror
    * direction is added internally). Every node of the graph appears in
    * the output with its fixed-point rank (`rank` ≈ stationary share ×
    * 10¹² × nodes). Overflow bound: a node's rank stays below Long.Max/85
    * as long as total graph mass (nodes × 10¹²) does. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // materialize the INPUT edge list before fanning it out: the mirror
    // union + degree join + adjacency reference it 4 times, and an
    // unmaterialized edge pipeline (e.g. the LSH candidate build) would
    // re-run once per reference inside the adj checkpoint's job —
    // measured 2.4x on the q129 catalog query
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).localCheckpoint()
    val und = e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
    val deg = und.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
    val adj = und.join(deg, Seq("src")).localCheckpoint()
    val scale = 1000000000000L
    val base = scale / 100L * 15L // the (1 − 0.85) teleport share of a unit rank
    var r = deg.select(col("src").as("node"), lit(scale).as("rank"))
    for (_ <- 1 to PageRankIterations) {
      r = adj.join(r, adj("src") === r("node"))
        .select(col("dst"), expr("(rank * 85) div (100 * __deg)").as("__c"))
        .groupBy(col("dst"))
        .agg(sum(col("__c")).as("__s"))
        .select(col("dst").as("node"), (lit(base) + col("__s")).as("rank"))
    }
    r
  }

  /** Exact per-node triangle counts over an undirected graph given as
    * distinct `(srcCol, dstCol)` pairs (each edge once; orientation in
    * the input is irrelevant). Triangles measure neighborhood DENSITY
    * where [[pageRank]] measures reach — on a near-dup candidate graph a
    * high triangle count marks a mutually-similar clique (one template,
    * many copies) as opposed to a hub-and-spokes pattern (one document
    * that vaguely resembles many unrelated ones); the
    * clique-vs-star distinction decides "delete all but one" vs "inspect
    * the hub".
    *
    * Algorithm: degree-orientation wedge counting (the standard
    * distributed formulation — Suri & Vassilvitskii 2011's MapReduce
    * triangle counting). Each edge re-orients from its lower-degree
    * endpoint to its higher-degree one (ties break by node id, giving a
    * total order, hence a DAG); wedges are built only at each node's
    * oriented OUT-neighbors, and a wedge `u→v, u→w` closes iff oriented
    * edge `v→w` exists (checked with one semi-ish inner join against the
    * oriented edge list). Orientation bounds the per-node wedge fan-out
    * by O(√m) regardless of raw degree — the skew guard that makes the
    * wedge join survive power-law graphs at scale; without it one
    * celebrity node generates deg² wedges.
    *
    * Each triangle closes exactly one wedge (at its unique DAG "apex"),
    * so counts are exact; per-node counts then credit all three corners
    * via a row-local 3-way explode of the closed wedge — never a second
    * pass over the graph. Output: `(node, n_triangles)` for every node
    * with at least one triangle. All shuffles key on nodes or edges;
    * nothing is ever nodes². */
  def triangleCounts(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    requireIntegralNodes(edges, Seq(srcCol, dstCol), "triangleCounts")
    // canonical edge list materialized ONCE: the plan references it nine
    // times (mirror, degrees, both wedge legs, the closure probe) and an
    // unmaterialized edge pipeline would re-run per reference — measured
    // ~4x end-to-end on the q147 catalog query's LSH graph
    val e = edges.select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
      .localCheckpoint()
    val und = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
    val deg = und.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
    // orient by (deg, node): strict total order -> DAG
    val oriented = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      .filter(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")))
      .select(col("a").as("src"), col("b").as("dst"))
    // wedges at the apex: two distinct out-edges of the same node
    val wedges = oriented.as("x")
      .join(oriented.as("y"), col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .select(col("x.src").as("apex"), col("x.dst").as("v"), col("y.dst").as("w"))
    // a wedge closes iff undirected edge {v,w} exists; the wedge already
    // has v < w, so probe the CANONICAL a<b edge list with a pure
    // equi-join (matching the oriented list would need an OR over both
    // directions -- a nested-loop join, the exact shape orientation exists
    // to avoid)
    val closed = wedges
      .join(e, col("v") === col("a") && col("w") === col("b"))
      .select(col("apex"), col("v"), col("w"))
    closed
      .select(explode(array(col("apex"), col("v"), col("w"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Degree every node of [[kCore]]'s core keeps. */
  final val CoreK = 30

  /** [[CoreK]]-core decomposition over distinct canonical (a < b) edges,
    * the output contract of the similarity joins that feed it: the
    * maximal subgraph in which EVERY node keeps
    * degree ≥ k, by iterated peeling (Seidman 1983; the distributed
    * formulation is the standard degree-filter fixpoint). On a near-dup
    * candidate graph the k-core is the "hard kernel" of mutual
    * duplication — the subgraph that survives however many fringe
    * documents are deleted — where [[triangleCounts]] scores local
    * density and [[ConnectedComponents]] mere reachability; curation
    * triage works core-outward.
    *
    * Each round: per-node degree (one aggregation of the mirrored edge
    * list), drop sub-k nodes from both endpoints (two semi-joins), stop
    * when no edge was removed. Rounds are data-dependent (≤ the peel
    * depth of the graph, tiny in practice — a path graph is the 2-core
    * worst case); every round's shuffles are edge-keyed, never nodes²,
    * and `localCheckpoint` truncates lineage per round (the
    * [[ConnectedComponents]] hygiene rule — each round already runs an
    * action for the convergence count, so the checkpoint costs no extra
    * job). Exceeding 30 peel rounds throws loudly rather than returning a
    * not-yet-fixpoint subgraph as if it were the core.
    *
    * Output: `(node, degree)` for every core member, with its degree
    * INSIDE the core. Empty when no k-core exists. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val k = CoreK
    requireIntegralNodes(edges, Seq(srcCol, dstCol), "kCore")
    // Loop state is the canonical a<b list the input already is,
    // materialized once per round (the expensive edge pipeline — q148
    // feeds the exact similarity join here — runs exactly once, inside
    // the first checkpoint). Carrying half the rows through the
    // per-round semi-joins and checkpoint writes measured ~25% off the
    // q148 peel.
    var e = edges.select(
        col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .localCheckpoint()
    // Per-node degree in ONE read of the checkpointed canonical list
    // (explode both endpoints) — the mirror union read it twice.
    def degrees(ce: DataFrame): DataFrame =
      ce.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("__d"))
    val nEdges = e.count()
    // Right-size the loop's parallelism to the MEASURED edge count (known
    // for free from the initial materialization count): the peel's
    // per-round cost on a small-to-medium graph is task overhead, not
    // compute — shuffles × 32 partitions × N rounds of near-empty tasks.
    // One partition per ~100k edges (min 1) keeps big graphs parallel and
    // makes small-graph rounds single-task. Applied to ROUND 1 ONLY, by
    // measurement: each rebuild's semi-joins re-shuffle to
    // spark.sql.shuffle.partitions, so later rounds run at session width
    // regardless — but BOTH re-apply variants benched worse at sf1.
    // Pre-checkpoint, the coalesce merges the join's shuffle partitions
    // at read time and serializes the peel compute (~2.5x wall at
    // sf0.1); post-checkpoint, the fat merged blocks imbalance the
    // consumers' map stages with no wall win. AQE already right-sizes
    // the later rounds' near-empty shuffle reads; round 1 — the only
    // round whose input arrives UN-shuffled from the caller's
    // checkpoint — is where explicit sizing pays.
    val nParts = math.max(1L, math.min(
      e.rdd.getNumPartitions.toLong, nEdges / 100000L + 1L)).toInt
    if (nParts < e.rdd.getNumPartitions) e = e.coalesce(nParts)
    // Convergence is decided on the DEGREE table (zero sub-k nodes), not
    // by re-counting the edge list after a rebuild: the fixpoint round
    // then costs one aggregation — no no-op semi-join, no fixpoint-round
    // checkpoint of an unchanged edge list — and its degree table IS the
    // output (the edge set didn't change), so the old trailing degrees(e)
    // pass disappears too. The per-round degree checkpoint is node-sized;
    // the edge checkpoint runs only in rounds that actually dropped
    // something. The sub-k node count rides the degree checkpoint itself
    // as an observe() metric (CollectMetrics is a row-level aggregate over
    // the materialization the checkpoint already pays for), so each round
    // runs ONE driver action for degree+convergence instead of
    // checkpoint-then-count — this family's wall was measured to go to
    // per-round driver barriers, not compute.
    var iter = 0
    while (true) {
      iter += 1
      if (iter > 31)
        throw new IllegalStateException(
          "k-core did not reach its fixpoint in 30 peel rounds " +
            "(rounds needed = the graph's peel depth)")
      val obs = new org.apache.spark.sql.Observation(
        s"kcore_conv_${obsSeq.incrementAndGet()}")
      val deg = degrees(e)
        .observe(obs,
          coalesce(sum(when(col("__d") < k, 1L)), lit(0L)).as("n_drop"))
        .localCheckpoint()
      val nDrop = obs.get("n_drop").asInstanceOf[Long]
      if (nDrop == 0L)
        return deg.select(col("node"), col("__d").as("degree"))
      val keep = deg.filter(col("__d") >= k).select(col("node"))
      e = e
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .localCheckpoint()
    }
    throw new IllegalStateException("unreachable")
  }
}
