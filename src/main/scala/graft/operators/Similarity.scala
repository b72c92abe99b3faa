package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Approximate & exact nearest-neighbor search over an embedding column
  * (`ArrayType(FloatType)`).
  *
  * Scale shape: the query set is broadcast (it is the small side by
  * construction); scoring is a map-only pass over the corpus — no corpus
  * shuffle — followed by a per-query top-k. The LSH variant cuts the scored
  * candidate set by bucketing both sides on random-hyperplane signatures
  * first, trading recall for a ~2^bits reduction in pairs.
  */
object Similarity {

  /** Neighbours every approximate search and the exact L2 tier return
    * per query. */
  final val Neighbors = 5
  /** IVF coarse-quantizer cells, and the nearest cells each query probes. */
  final val IvfCells = 8
  final val IvfProbes = 2
  /** Embedding width the PQ searches index, its contiguous subspaces, and
    * the codes of each subspace's codebook. */
  final val PqDim = 64
  final val PqSubspaces = 4
  final val PqCodes = 8

  /** Exact brute-force cosine top-k, scored with order-independent decimal
    * accumulation (bit-reproducible across engines and partitionings — the
    * tier the DuckDB oracle checks).
    */
  def knnExact(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String
  ): DataFrame = {
    // Norms are per-VECTOR, computed once on each side before the pair
    // join (computing them per pair triples the decimal work — measured
    // 2.5x).
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        VectorFunctions.norm2Exact(col(vecCol)).as("qn")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      VectorFunctions.norm2Exact(col(vecCol)).as("cn"))
    val cos = VectorFunctions.dotExact(col("qv"), col("cv")) / sqrt(col("qn") * col("cn"))
    val scored = c
      .join(q, col("query_id") =!= col("neighbor_id")) // broadcast NL join, map-only
      .select(col("query_id"), col("neighbor_id"), cos.as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Neighbors)
  }

  /** Exact brute-force squared-L2 top-k — the GROUND-TRUTH tier for the PQ
    * recall certificates (catalog q190): scored with the same quantized-
    * decimal arithmetic ([[VectorFunctions.l2SqExactDec]], elements at
    * DECIMAL(18,6), exact order-independent sum) that [[knnPq]]/[[knnIvfPq]]
    * APPROXIMATE, so recall@k is measured against the true neighbors under
    * the index's own metric, bit-reproducibly cross-engine. Ranking happens
    * on the DECIMAL (a double collapse could re-order near-ties off the
    * oracle's decimal order); the presented distance is double.
    *
    * Scale shape: identical to [[knnExact]] — queries broadcast (the small
    * side by construction), map-only scoring over the corpus, per-query
    * top-k the only shuffle (output-sized). The certificate runs it over a
    * bounded query SAMPLE, never all queries. */
  def knnExactL2(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val scored = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .join(q, col("query_id") =!= col("neighbor_id")) // broadcast NL join, map-only
      .select(col("query_id"), col("neighbor_id"),
        VectorFunctions.l2SqExactDec(col("qv"), col("cv")).as("__l2dec"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("__l2dec").asc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Neighbors)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("__l2dec").cast("double").as("l2_sq"))
  }

  /** Cosine above which [[nearDupPairs]] reports a pair. */
  final val NearDupThreshold = 0.25

  /** Near-duplicate pairs with cosine above [[NearDupThreshold]] within the corpus:
    * the exact quadratic comparison over every `id_a < id_b` pair (recall
    * = 1), scored with order-independent decimal accumulation
    * (bit-reproducible across engines and partitionings). Viable only on
    * small or pre-blocked subsets; at corpus scale, block first (as
    * [[semDedup]] does with its clusters).
    */
  def nearDupPairs(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val threshold = NearDupThreshold
    // Norms are per-VECTOR, computed once per side before the pair join
    // (computing them per pair triples the decimal work — measured 2.5x).
    val a = corpus.select(col(idCol).as("id_a"), col(vecCol).as("va"))
      .withColumn("na", VectorFunctions.norm2Exact(col("va")))
    val b = corpus.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
      .withColumn("nb", VectorFunctions.norm2Exact(col("vb")))
    // Two-phase scoring: the fused double kernel prefilters at a safety
    // margin (double vs exact agree to ~1e-6 on unit-scale embeddings, the
    // margin is 100x that), then ONLY survivors pay the ~20x-cost exact
    // decimal re-score whose value the threshold decision and output use.
    // Result is identical to exact-scoring every pair.
    val margin = 1e-4
    a.join(b, col("id_a") < col("id_b"))
      .filter(graft.plans.GraftFunctions.cosineFast(col("va"), col("vb")) > threshold - margin)
      .select(col("id_a"), col("id_b"),
        (VectorFunctions.dotExact(col("va"), col("vb")) / sqrt(col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") > threshold)
  }

  /** Per-group embedding centroids with EXACT (order-independent decimal)
    * element means — the building block for IVF-style partitioned ANN and
    * cluster-level corpus statistics. One posexplode + one shuffle on
    * (group, dim) with map-side partial aggregation; the result is
    * bit-identical across partitionings. */
  def centroids(df: DataFrame, keyCol: String, vecCol: String): DataFrame = {
    import graft.functions.AggFunctions
    df.select(col(keyCol).as("key"), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col("key"), col("dim"))
      .agg(AggFunctions.avgExact(col("x"), 6).as("m"))
      .groupBy(col("key"))
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
      .select(col("key").as(keyCol), transform(col("dm"), e => e.getField("m")).as("centroid"))
  }

  // --- IVF (inverted-file) ANN --------------------------------------------

  /** Train an IVF coarse quantizer: deterministic seeding (the
    * [[IvfCells]] vectors with smallest ids become the initial centroids,
    * labeled by seed id) followed by one Lloyd step — assignment by exact decimal
    * squared-L2 ([[VectorFunctions.l2SqExact]], ties to the smaller cluster
    * label), means by exact decimal accumulation ([[centroids]]). Fully
    * deterministic: the same corpus yields the same quantizer on any
    * partitioning, cluster size, or engine (the DuckDB oracle replays it).
    *
    * Scale shape: centroids are collected to the driver (k × dim doubles —
    * the standard k-means broadcast), so ASSIGNMENT IS MAP-SIDE: every row
    * computes its k distances in one projection, no shuffle. The only
    * shuffle is the (cluster, dim) mean aggregation.
    * Returns (cluster: Long, centroid: Seq[Double]) — [[IvfCells]] rows.
    */
  def ivfTrain(corpus: DataFrame, idCol: String, vecCol: String): Array[(Long, Seq[Double])] = {
    val seeds: Array[(Long, Seq[Double])] = corpus
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .orderBy(col(idCol))
      .limit(IvfCells)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    centroids(ivfAssign(corpus, vecCol, seeds), "cluster", vecCol)
      .select(col("cluster").cast("long"), col("centroid"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
  }

  /** Add a `cluster` column: the label of the nearest centroid (exact
    * decimal squared-L2, ties to the smaller label). Map-only — the
    * centroid matrix ships once per task inside the
    * [[graft.plans.IvfArgminL2]] kernel (the previous k-way `least`
    * over per-centroid struct literals inlined k × dim coordinates into
    * the plan — codegen-explosive past k ≈ 64, while SemDeDup's scale
    * contract is k ∝ N). Same quantized arithmetic, and the distance
    * compare is now EXACT end-to-end (the struct form compared after a
    * final double cast), matching the DuckDB oracle's decimal compare
    * strictly better. */
  def ivfAssign(
      corpus: DataFrame,
      vecCol: String,
      cents: Array[(Long, Seq[Double])]): DataFrame = {
    val (labels, rows) = graft.plans.IvfArgminL2.quantize(cents)
    corpus.withColumn("cluster",
      graft.plans.GraftFunctions.ivfArgmin(col(vecCol), labels, rows))
  }

  /** IVF-Flat ANN search: train (or accept) a coarse quantizer, probe each
    * query's [[IvfProbes]] nearest clusters, exact-cosine-score only the
    * vectors in probed clusters, per-query top-[[Neighbors]].
    *
    * Scale shape: corpus assignment is map-side (see [[ivfTrain]]); the
    * exploded (query × probe) table is tiny and broadcast, so candidate
    * selection is a map-only broadcast join on `cluster` — the corpus never
    * shuffles, and the scored pair count drops by ~(k/nProbe)x vs
    * brute-force. Recall < 1 (a true neighbor may live in an unprobed
    * cluster); more probes trade cost for recall. Candidates are
    * scored with decimal-exact cosine (bit-reproducible, oracle tier). */
  def knnIvf(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      pretrained: Option[Array[(Long, Seq[Double])]] = None): DataFrame = {
    // `pretrained` lets a caller that ALREADY trained this quantizer on the
    // same corpus (training is fully deterministic, so the arrays are
    // bit-identical) share it instead of paying the ivfTrain collect
    // chain again (q205 runs knnIvf and knnIvfPq over one corpus).
    val cents = pretrained.getOrElse(ivfTrain(corpus, idCol, vecCol))
    val assigned = ivfAssign(corpus, vecCol, cents)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), col("cluster"))
    val probes = broadcast(
      probeExploded(queries, idCol, vecCol, cents)
        .select(col("query_id"), col("qv"), col("cluster")))
    val cos = VectorFunctions.cosineExact(col("qv"), col("cv"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    assigned
      .join(probes, Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cos.as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Neighbors)
  }

  /** Per-query coarse-probe expansion shared by the IVF-family searches:
    * one row per (query, probed cell) — the query's [[IvfProbes]] nearest
    * centroids by exact-decimal L2, ties to the smaller label (sorting the
    * (dist, label) structs). Returns (query_id, qv, cluster), NOT yet
    * broadcast — callers project what they need first. */
  private def probeExploded(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Array[(Long, Seq[Double])]): DataFrame = {
    val dcArr = array(cents.map { case (label, cv) =>
      struct(
        VectorFunctions.l2SqExact(col(vecCol), typedLit(cv)).as("d"),
        lit(label).as("c"))
    }.toSeq: _*)
    queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        slice(array_sort(dcArr), 1, IvfProbes).as("pr"))
      .select(col("query_id"), col("qv"), explode(col("pr")).as("p"))
      .select(col("query_id"), col("qv"), col("p.c").as("cluster"))
  }

  /** Recall@k as a FUNCTION of nProbe for the IVF index — the tuning curve
    * a production-ANN user reads before fixing nProbe (one recall point,
    * like catalog q122's, says nothing about the knee). Computed in ONE
    * scoring pass: every corpus vector is scored once against each query
    * carrying `cell_rank` = the position of the vector's cell in that
    * query's probe order; recall at nProbe=p is then derived by ranking
    * the subset with cell_rank ≤ p — no re-scoring per sweep point. At
    * nProbe = [[IvfCells]] the candidate set is the whole corpus under the
    * truth metric, so that row's recall is 1.0 BY CONSTRUCTION — a
    * built-in self-check (SimilaritySpec also pins monotonicity in p).
    *
    * Scale shape: the sweep runs over the bounded recall-audit query
    * SAMPLE (never all queries); the full-probe scoring pass is the same
    * size as the exact-truth pass the audit pays anyway, centroids and
    * the nProbe frame broadcast, and the only shuffles are the per-
    * (nprobe, query) top-k — output-sized. */
  def ivfRecallSweep(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      nProbes: Seq[Int]): DataFrame = {
    require(nProbes.nonEmpty && nProbes.forall(p => p >= 1 && p <= IvfCells),
      s"nProbes must be within [1, $IvfCells], got $nProbes")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = ivfTrain(corpus, idCol, vecCol)
    val dcArr = array(cents.map { case (label, cv) =>
      struct(
        VectorFunctions.l2SqExact(col(vecCol), typedLit(cv)).as("d"),
        lit(label).as("c"))
    }.toSeq: _*)
    // per-query FULL probe order (cell_rank r = r-th nearest centroid,
    // ties to the smaller label — same order knnIvf's probe slice uses)
    val probeRank = broadcast(
      queries
        .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
          posexplode(array_sort(dcArr)).as(Seq("__p", "__dc")))
        .select(col("query_id"), col("qv"),
          (col("__p") + 1).as("cell_rank"), col("__dc").getField("c").as("cluster"))
        .withColumn("qn", VectorFunctions.norm2Exact(col("qv"))))
    val assigned = ivfAssign(corpus, vecCol, cents)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), col("cluster"))
      .withColumn("cn", VectorFunctions.norm2Exact(col("cv")))
    val scored = assigned
      .join(probeRank, Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cell_rank"),
        (VectorFunctions.dotExact(col("qv"), col("cv")) /
          sqrt(col("qn") * col("cn"))).as("cosine"))
    val np = broadcast(nProbes.toDF("nprobe"))
    val w = Window.partitionBy("nprobe", "query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val ranked = scored
      .join(np, col("cell_rank") <= col("nprobe"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Neighbors)
      .select(col("nprobe"), col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
    val truth = knnExact(corpus, queries, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    truth
      .join(np, lit(true))
      // ranked is output-sized (|queries|·k·|nProbes| rows) — broadcast it
      // back onto the truth×nprobe table, never sort-merge bounded frames
      .join(broadcast(ranked), Seq("nprobe", "query_id", "neighbor_id"), "left")
      .groupBy(col("nprobe"), col("query_id"))
      .agg(
        count(lit(1)).as("k"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .select(col("nprobe"), col("query_id"), col("k"), col("n_hits"),
        (col("n_hits").cast("double") / col("k").cast("double")).as("recall"))
      .orderBy("nprobe", "query_id")
  }

  // --- PQ (product-quantization) ANN --------------------------------------

  /** EVERY row's width, not a sample: one ragged vector would slice short,
    * null-pad the zip_with against the centroid/codebook literal, and —
    * because Spark sorts nulls FIRST ascending — silently rank garbage
    * candidates at the top of an ADC result. One min/max aggregate over
    * the input (training corpora are sample-sized at scale, query sets are
    * broadcast-sized by construction — the action is cheap on both). */
  private def requireVectorWidth(df: DataFrame, vecCol: String, ctx: String): Unit = {
    val dim = PqDim
    val w = df.agg(
      min(size(col(vecCol))).as("lo"), max(size(col(vecCol))).as("hi")).collect()(0)
    require(!w.isNullAt(0) && w.getInt(0) == dim && w.getInt(1) == dim,
      s"$ctx: vector widths [${if (w.isNullAt(0)) "∅" else w.getInt(0)}, " +
        s"${if (w.isNullAt(1)) "∅" else w.getInt(1)}] != declared dim $dim " +
        "(a short slice would silently quantize/score a truncated vector)")
  }

  /** The m×k ADC lookup table for one vector: luts[s][c] = exact-decimal
    * squared L2 from the vector's subspace-s slice to codebook entry c.
    * Shared by [[knnPq]] (raw vectors) and [[knnIvfPq]] (cell residuals) —
    * the element_at(+1) indexing convention in [[adcRank]] is its dual. */
  private def pqLut(books: Array[Array[Seq[Double]]])(vec: Column): Column =
    array(books.zipWithIndex.map { case (book, s) =>
      val sub = PqDim / PqSubspaces
      val sv = slice(vec, s * sub + 1, sub)
      array(book.map(cv => VectorFunctions.l2SqExactDec(sv, typedLit(cv))).toSeq: _*)
    }.toSeq: _*)

  /** ADC scoring + per-query top-k over joined (codes, luts) pairs: the
    * candidate's distance is the exact-decimal LUT sum over its codes
    * (order-independent, bit-reproducible), ranked (adc asc, neighbor
    * asc), decimal→double only at presentation. Both PQ searches end
    * here — a tie-break or indexing change lands in one place. */
  private def adcRank(pairs: DataFrame): DataFrame = {
    val adc = VectorFunctions.sumExactDec(
      zip_with(col("codes"), col("luts"),
        (c, lutRow) => element_at(lutRow, c.cast("int") + 1)))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc"), col("neighbor_id").asc)
    pairs
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), adc.as("adc"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Neighbors)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("adc").cast("double").as("adc_dist"))
  }

  /** Train PQ codebooks: the [[PqDim]]-wide vector is split into
    * [[PqSubspaces]] contiguous subspaces, and each subspace gets its own
    * [[PqCodes]]-centroid quantizer via the SAME deterministic Lloyd step as
    * [[ivfTrain]] (seeds = the PqCodes smallest ids' sub-vectors, exact-decimal
    * assignment and means, ties to the smaller label). Returns, per subspace, the codebook
    * as sub-centroids indexed by dense CODE 0..k'-1 in ascending label
    * order (k' < k only if a Lloyd round empties a cluster), so encode and
    * LUT lookups index the same array even across holes.
    *
    * Scale shape: PQ training is sample-sized by practice (codebooks are
    * m·k·(dim/m) doubles — train on a bounded deterministic sample, e.g.
    * [[Sampling]]'s splitmix64 stratum, never the full corpus; the catalog
    * fixture trains on the whole table because the table IS sample-sized).
    * Encoding and search never shuffle the corpus (see [[knnPq]]).
    */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String): Array[Array[Seq[Double]]] = {
    val (m, sub) = (PqSubspaces, PqDim / PqSubspaces)
    // Subspace quantizers are INDEPENDENT (each sees only its own slice) but
    // share the SAME input rows, so the m per-subspace Lloyd chains fuse into
    // one driver loop over shared jobs: ONE TakeOrdered collect seeds all m
    // codebooks (slice the k smallest-id full vectors driver-side — the same
    // values the per-subspace seed collects returned), and each Lloyd round
    // is ONE aggregation keyed (subspace, cluster, dimInSub) instead of m
    // independent (cluster, dim) jobs. 2m(+1 width) driver-synchronous
    // jobs collapse to 3, and the corpus pass is read ONCE instead of m
    // times. Arithmetic is unchanged group for
    // group — assignment by the same IvfArgminL2 kernel over the same slice
    // expression, means by the same DECIMAL(38,6)-sum/count — so codebooks
    // are bit-identical to the per-subspace chains (oracle replays agree).
    // The width guard keeps its own full-scan aggregate but overlaps the
    // seed TakeOrdered (independent jobs; failure ordering is unaffected —
    // both must complete before any result is used).
    @volatile var seeds: Array[(Long, Seq[Double])] = null
    Concurrency.inParallel(Seq[() => Unit](
      () => requireVectorWidth(corpus, vecCol, "pqTrain"),
      () => seeds = corpus
        .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
        .orderBy(col(idCol))
        .limit(PqCodes)
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))))
    val clusterCols = (0 until m).map { s =>
      val (labels, rows) = graft.plans.IvfArgminL2.quantize(
        seeds.map { case (id, v) => (id, v.slice(s * sub, (s + 1) * sub)) })
      graft.plans.GraftFunctions.ivfArgmin(
        slice(col(vecCol), s * sub + 1, sub), labels, rows)
    }
    val means = corpus
      .select(array(clusterCols: _*).as("__cl"), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .select(
        (col("dim") / lit(sub)).cast("int").as("s"),
        element_at(col("__cl"), (col("dim") / lit(sub)).cast("int") + 1).as("cluster"),
        (col("dim") % lit(sub)).as("d"),
        col("x"))
      .groupBy(col("s"), col("cluster"), col("d"))
      .agg(graft.functions.AggFunctions.avgExact(col("x"), 6).as("m"))
      .collect()
    Array.tabulate(m) { s =>
      means.iterator
        .filter(r => !r.isNullAt(0) && r.getInt(0) == s)
        .toArray
        .groupBy(r => if (r.isNullAt(1)) null.asInstanceOf[java.lang.Long]
                      else java.lang.Long.valueOf(r.getLong(1)))
        .collect { case (lbl, rows) if lbl != null =>
          (lbl.longValue, rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq)
        }
        .toArray
        .sortBy(_._1)
        .map(_._2)
    }
  }

  /** Encode each vector as `m` dense codes in column `codes` — the 0-based index of the
    * nearest sub-centroid per subspace (exact-decimal L2, ties to the
    * smaller code). Map-only: codebooks arrive as literals, one projection,
    * no shuffle — the 100 TB encode pass is embarrassingly parallel and
    * shrinks each vector from 4·dim bytes to m codes. */
  def pqEncode(
      corpus: DataFrame,
      vecCol: String,
      books: Array[Array[Seq[Double]]]): DataFrame = {
    val sub = books(0)(0).size
    // Each subspace's code IS a nearest-centroid assignment over the
    // codebook — exactly the IvfArgminL2 kernel with labels 0..k'−1 (same
    // exact scaled-long L2, same tie-to-smaller-label rule the old
    // `least(struct(l2SqExactDec, code))` implemented, compared without the
    // per-candidate Decimal allocations). The corpus-wide encode pass was
    // the hottest stage of every PQ consumer; the codebook ships once per
    // task as a reference object instead of k × sub plan literals.
    val codeExprs = books.zipWithIndex.map { case (book, s) =>
      val (labels, rows) = graft.plans.IvfArgminL2.quantize(
        book.zipWithIndex.map { case (cv, c) => (c.toLong, cv) }.toArray)
      // cast back to int: codes were (and stay) array<int> — labels here are
      // dense 0..k'−1 by construction, far inside int range
      graft.plans.GraftFunctions.ivfArgmin(
        slice(col(vecCol), s * sub + 1, sub), labels, rows).cast("int")
    }
    corpus.withColumn("codes", array(codeExprs.toSeq: _*))
  }

  /** PQ ANN search via asymmetric distance computation (ADC, Jégou et al.
    * 2011): corpus vectors are quantized to [[PqSubspaces]] codes; each query
    * precomputes an m×k LUT of exact-decimal squared distances from its
    * sub-vectors to every sub-centroid, and a candidate's approximate
    * distance is the LUT sum over its codes — m array lookups + m decimal
    * adds per pair instead of dim multiplies, on codes instead of floats.
    *
    * Scale shape: queries + LUTs broadcast (the small side by
    * construction); the corpus-side pass is encode (map-only) → per-pair
    * LUT fold (map-only) → per-query top-k (the only shuffle, output-
    * sized). Plain-PQ scores every code like [[knnExact]] scores every
    * vector — the candidate-PRUNING tier is [[knnIvf]]'s coarse quantizer;
    * compose them for the FAISS IVFPQ shape. The ADC total stays decimal
    * until presentation, so ranking is bit-reproducible cross-engine.
    */
  def knnPq(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String): DataFrame = {
    val books = pqTrain(corpus, idCol, vecCol)
    // Queries are NOT necessarily a subset of the trained corpus — a
    // ragged query vector would null-pad its LUT and rank garbage first
    // (nulls sort ascending-first); check its width like the corpus's.
    requireVectorWidth(queries, vecCol, "knnPq queries")
    val enc = pqEncode(corpus, vecCol, books)
      .select(col(idCol).as("neighbor_id"), col("codes"))
    val q = broadcast(
      queries.select(col(idCol).as("query_id"),
        pqLut(books)(col(vecCol)).as("luts")))
    // broadcast NL join, map-only
    adcRank(enc.join(q, col("query_id") =!= col("neighbor_id")))
  }

  /** IVFPQ — the FAISS production-ANN composition (Jégou et al. 2011):
    * the IVF coarse quantizer prunes CANDIDATES (probe [[IvfProbes]] nearest
    * cells per query), PQ codes built on RESIDUALS (vector − its cell's
    * centroid — residuals cluster far tighter than raw vectors, so the
    * same k codes quantize much finer) compress MEMORY, and ADC scores
    * only probed candidates.
    *
    * Scale shape: one coarse assignment pass (map-only, centroids
    * broadcast), one residual-encode pass (map-only), search = broadcast
    * probe join on `cluster` + LUT fold + per-query top-k — the corpus
    * never shuffles, scored pairs drop ~(kClusters/nProbe)×, and the
    * index holds m codes/vector. LUTs are per (query, probed cell)
    * because residuals are cell-relative — nProbe·m·k decimal entries per
    * query, still broadcast-sized. Everything stays exact-decimal until
    * presentation (bit-reproducible ranking cross-engine).
    */
  def knnIvfPq(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      pretrained: Option[Array[(Long, Seq[Double])]] = None): DataFrame = {
    // Same contract as knnIvf's `pretrained`: a deterministic retrain of the
    // quantizer on the same corpus may be shared.
    val cents = pretrained.getOrElse(ivfTrain(corpus, idCol, vecCol))
    // Same contract as knnPq: a ragged query would null-pad both its probe
    // distances and its per-cell residual LUTs.
    requireVectorWidth(queries, vecCol, "knnIvfPq queries")
    val centMap = typedLit(cents.map { case (l, cv) => l -> cv }.toMap)
    def residual(v: Column, cluster: Column): Column =
      zip_with(v, element_at(centMap, cluster),
        (x, c) => x.cast("double") - c)
    // Materialize the assignment+residual ONCE: pqTrain drives two
    // actions over it and pqEncode one more — lazily each would re-run the
    // kClusters×dim exact-decimal distance argmin per action (measured 14 s
    // vs 3 s at sf0.1). At production scale this frame is the TRAINING
    // sample (see pqTrain's scaladoc), so the checkpoint stays bounded;
    // the full-corpus encode pass reads it once.
    val assigned = ivfAssign(corpus, vecCol, cents)
      .withColumn("__resid", residual(col(vecCol), col("cluster")))
      .localCheckpoint()
    val books = pqTrain(assigned, idCol, "__resid")
    val enc = pqEncode(assigned, "__resid", books)
      .select(col(idCol).as("neighbor_id"), col("cluster"), col("codes"))
    // Per-query probe list (the knnIvf move) + per-(query, cell) LUTs over
    // the query's residual AGAINST THAT CELL (the IVFPQ subtlety).
    val probes = broadcast(
      probeExploded(queries, idCol, vecCol, cents)
        .select(col("query_id"), col("cluster"),
          pqLut(books)(residual(col("qv"), col("cluster"))).as("luts")))
    adcRank(enc.join(probes, Seq("cluster")))
  }

  /** Sign bits per [[knnLsh]] signature (8 bits: 256 buckets per table). */
  final val LshPlanes = 8
  /** One signature table per seed; a pair is a candidate when it shares a
    * bucket in any table, so each extra table raises recall. */
  val LshSeeds: Seq[Int] = Seq(17, 41, 97)

  /** Random-hyperplane LSH ANN: bucket corpus and queries on [[LshPlanes]]
    * sign bits, score only within matching buckets, then per-query top-k.
    * Recall < 1; the [[LshSeeds]] signature tables are probed together.
    * Candidates are scored with order-independent decimal accumulation
    * (bit-reproducible across engines — the tier the DuckDB oracle checks).
    */
  def knnLsh(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String
  ): DataFrame = {
    // One projection computes every seed's signature, then posexplode —
    // a union over seeds would re-scan the frame once per seed. Norms are
    // computed once per vector, before bucketing.
    def bucketed(df: DataFrame, id: String): DataFrame = {
      val base = df.select(col(idCol).as(id), col(vecCol).as(s"${id}_v"),
        VectorFunctions.norm2Exact(col(vecCol)).as(s"${id}_n"))
      val keep = Seq(col(id), col(s"${id}_v"), col(s"${id}_n"))
      base.select(
        keep :+ explode(array(LshSeeds.map(s =>
          struct(
            lit(s).as("tbl"),
            VectorFunctions
              .packBits(VectorFunctions.hyperplaneSignBits(col(s"${id}_v"), s))
              .as("bucket"))): _*)).as("tb"): _*
      ).select(keep :+ col("tb.tbl").as("tbl") :+ col("tb.bucket").as("bucket"): _*)
    }

    val cb = bucketed(corpus, "neighbor_id")
    val qb = broadcast(bucketed(queries, "query_id"))
    val cos = VectorFunctions.dotExact(col("query_id_v"), col("neighbor_id_v")) /
      sqrt(col("query_id_n") * col("neighbor_id_n"))
    val candidates = cb
      .join(qb, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cos.as("cosine"))
      .distinct()
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    candidates.withColumn("rank", row_number().over(w)).filter(col("rank") <= Neighbors)
  }

  /** Cosine at or above which [[semDedup]] drops the higher id. */
  final val SemDedupThreshold = 0.35
  /** [[semDedup]]'s bound on within-cluster pairs per vector. */
  final val MaxPairsPerVector = 4096L

  /** SemDeDup-style semantic pruning (Abbas et al. 2023, "SemDeDup: data-
    * efficient learning at web-scale through semantic deduplication"):
    * cluster embeddings with the IVF coarse quantizer, then WITHIN each
    * cluster drop every vector that has a near-identical lower-id neighbor
    * (exact-decimal cosine ≥ [[SemDedupThreshold]]) — the greedy min-id-survivor
    * simplification of the paper's rule, fully deterministic.
    *
    * Scale shape: this is the reason SemDeDup clusters first — the
    * pairwise comparison is bucket-bounded (Σ n_c² instead of n², a
    * kClusters-fold cut for balanced clusters), and the self-join keys on
    * `cluster`, so each bucket's pairs stay in its partition. Assignment
    * is map-side (centroids broadcast, see [[ivfTrain]]).
    *
    * THE SCALE CONTRACT IS k ∝ N. Σ n_c² only beats n² while per-cluster
    * populations stay bounded — the paper trains cluster counts
    * proportional to the corpus (110k clusters for LAION), keeping n_c
    * (and so pairs-per-vector) CONSTANT as data grows. The fixed
    * [[IvfCells]] is a fixture size: an sf10 rehearsal measured k=8 over
    * 200k vectors at Σ n_c²/2 ≈ 2.5 BILLION exact-cosine pairs — a
    * silent >600 s timeout. [[MaxPairsPerVector]] is the
    * scale-relative blowup guard against exactly that: it measures the
    * real pair mass Σ n_c·(n_c−1)/2 with ONE k-row aggregation at
    * operator-call time (the operator is already eager — ivfTrain
    * collects centroids) and fails loudly driver-side as
    * [[CandidateCapExceededException]] BEFORE the pair join is planned,
    * naming the measured ratio and the fix (raise the cell count with the
    * corpus). Scale-invariant under k ∝ N, still trips when a fixture k
    * meets grown data.
    *
    * Returns one row per corpus vector: `(cluster, idCol, dropped)` —
    * aggregate for the audit, anti-join the dropped ids for the pruned
    * corpus. */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val threshold = SemDedupThreshold
    val assigned = ivfAssign(corpus, vecCol, ivfTrain(corpus, idCol, vecCol))
      .select(col("cluster"), col(idCol), col(vecCol))
    val row = assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("__n"))
      .agg(
        coalesce(sum(col("__n").cast("decimal(38,0)") *
          (col("__n") - 1).cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")),
        coalesce(sum(col("__n").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")))
      .collect()(0)
    val p2 = BigDecimal(row.getDecimal(0)) // Σ n(n−1) = 2·pairs
    val nVec = BigDecimal(row.getDecimal(1))
    if (p2 > nVec * BigDecimal(MaxPairsPerVector) * 2)
      throw new CandidateCapExceededException(
        s"semDedup: within-cluster pairs ${(p2 / 2).toBigInt} over " +
          s"${nVec.toBigInt} vectors exceed maxPairsPerVector=" +
          s"$MaxPairsPerVector with kClusters=$IvfCells — SemDeDup's " +
          "scale contract is k ∝ N (keep pairs-per-vector constant); " +
          "raise kClusters with the corpus")
    // Per-vector norms computed ONCE per side before the pair join, and
    // two-phase scoring (the nearDupPairs recipe): the fused double kernel
    // prefilters at a safety margin, only survivors pay the exact decimal
    // re-score that decides the verdict — identical verdicts, measured 6x
    // on the within-cluster pair table.
    val withN = assigned
      .withColumn("__n", VectorFunctions.norm2Exact(col(vecCol)))
    val a = withN.select(col("cluster"), col(idCol).as("__ia"),
      col(vecCol).as("__va"), col("__n").as("__na"))
    val b = withN.select(col("cluster"), col(idCol).as("__ib"),
      col(vecCol).as("__vb"), col("__n").as("__nb"))
    // ordered within-cluster pairs: x is dropped iff a LOWER-id y in the
    // same cluster scores >= threshold (the min-id chain representative
    // survives)
    val dropped = a
      .join(b, Seq("cluster"))
      .filter(col("__ia") > col("__ib"))
      .filter(graft.plans.GraftFunctions.cosineFast(col("__va"), col("__vb")) >=
        threshold - 1e-4)
      .filter(VectorFunctions.dotExact(col("__va"), col("__vb")) /
        sqrt(col("__na") * col("__nb")) >= threshold)
      .select(col("__ia").as(idCol))
      .distinct()
    assigned
      .join(dropped.withColumn("__d", lit(true)), Seq(idCol), "left")
      .select(col("cluster"), col(idCol),
        coalesce(col("__d"), lit(false)).as("dropped"))
  }

  /** Negatives [[hardNegatives]] samples per vector. */
  final val HardNegativeDraws = 4

  /** Deterministic hard-negative mining for contrastive training: every
    * vector samples [[HardNegativeDraws]] pseudo-random negatives and keeps the HARDEST —
    * the sampled non-match most similar to the anchor, the pair a
    * contrastive loss learns the most from (random negatives are mostly
    * trivial; hardest-of-k is the standard cheap upgrade before true ANN
    * mining).
    *
    * Sampling is pure arithmetic, reproducible anywhere: negative j of
    * anchor `a` is `m = mix64(a·k + j) mod_u64 (N−1)`, skip-self mapped
    * to `m ≥ a ? m+1 : m` — uniform over the other N−1 ids with no
    * rejection loop, no RNG state, no shuffle to draw the sample
    * (contrast `rand()`: layout-dependent, gone on resume). Requires
    * CONTIGUOUS ids 0..N−1 and fails loudly otherwise (`raise_error` in
    * the 1-row stats frame — checked before any work runs). The unsigned
    * mod matters: signed `pmod` diverges from an independent engine's
    * u64 `%` on negative hashes (2⁶⁴ mod n ≠ 0), see
    * [[graft.functions.HashFunctions.u64Mod]].
    *
    * Scale shape: candidate generation is map-only (k rows per anchor,
    * the corpus itself never shuffles to sample); the two id-keyed joins
    * pull vectors for k·N pairs; scoring is the row-local exact-decimal
    * cosine; the argmax is a struct-max aggregation (no window sort).
    * Output: (vec_id, hard_neg_id, cosine, n_cand) — n_cand < k marks
    * hash collisions among the k draws (pairs are deduped first).
    */
  def hardNegatives(
      emb: DataFrame,
      idCol: String,
      vecCol: String): DataFrame = {
    import graft.functions.HashFunctions
    val k = HardNegativeDraws
    // The guard must prove ids are EXACTLY {0..N−1}: distinct-count equal
    // to count closes the duplicate-id-plus-gap loophole (ids {0,1,1,3}
    // satisfy min/max/count alone, then gap-mapped candidates silently
    // vanish in the join while the duplicated anchor double-counts), and
    // N ≥ 2 keeps the modulus positive (N = 1 would be `mod 0`: null in
    // non-ANSI Spark but an ERROR in the oracle — a silent cross-engine
    // divergence instead of this loud one). The upper bound enforces
    // u64Mod's documented precondition 0 < n < 2^31 on the modulus N−1:
    // past it the 32-bit-halves decomposition overflows SILENTLY and the
    // sample diverges from any true-unsigned-mod replay — exactly the
    // cross-engine drift this guard exists to make loud.
    val stats = emb
      .agg(count(lit(1)).as("__c"),
        countDistinct(col(idCol)).as("__d"),
        min(col(idCol)).cast("long").as("__mn"),
        max(col(idCol)).cast("long").as("__mx"))
      .select(
        when(col("__c") < 2L || col("__d") =!= col("__c") ||
            col("__mn") =!= 0L || col("__mx") =!= col("__c") - 1L,
          expr("CAST(raise_error('hardNegatives: need >= 2 vectors with " +
            "distinct contiguous ids 0..N-1 — reindex first') AS BIGINT)"))
          .when(col("__c") > 2147483648L,
            expr("CAST(raise_error('hardNegatives: N-1 exceeds u64Mod range " +
              "(need N-1 < 2^31) — shard or reindex the corpus first') AS BIGINT)"))
          .otherwise(col("__c")).as("__n"))
    val cand = emb.select(col(idCol).cast("long").as("vec_id"))
      .crossJoin(broadcast(stats))
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(k - 1))).as("__j"), col("__n"))
      .select(col("vec_id"),
        HashFunctions.u64Mod(
          HashFunctions.mix64(col("vec_id") * k + col("__j")),
          col("__n") - 1L).as("__m"))
      .select(col("vec_id"),
        when(col("__m") >= col("vec_id"), col("__m") + 1L)
          .otherwise(col("__m")).as("neg_id"))
      .distinct()
    val anchors = emb.select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("__va"))
    val negs = emb.select(col(idCol).cast("long").as("neg_id"), col(vecCol).as("__vb"))
    cand.join(anchors, Seq("vec_id")).join(negs, Seq("neg_id"))
      .select(col("vec_id"), col("neg_id"),
        VectorFunctions.cosineExact(col("__va"), col("__vb")).as("__cos"))
      // struct-max argmax: highest cosine, smallest neg_id on ties (the
      // negated id makes "larger struct" mean "smaller id")
      .groupBy(col("vec_id"))
      .agg(
        max(struct(col("__cos").as("c"), (col("neg_id") * -1L).as("ni"))).as("__best"),
        count(lit(1)).as("n_cand"))
      .select(col("vec_id"),
        (col("__best.ni") * -1L).as("hard_neg_id"),
        col("__best.c").as("cosine"),
        col("n_cand"))
  }
}
