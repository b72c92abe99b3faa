package graft
package catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.{Diagnostics, Similarity}

import Shared._

/** Vector catalog family: exact and approximate nearest-neighbour search
  * (LSH, IVF, PQ), recall certificates and embedding audits. */
object VectorsQueries extends Family {

  // ---------------------------------------------------------------- q28
  // Exact KNN: brute-force cosine top-k, decimal-exact scoring (broadcast
  // queries, map-only scan, per-query top-k window).
  val q28 = query("q28_knn_exact")((s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity
      .knnExact(e, e.filter(col("vec_id") < 10), "vec_id", "embedding")
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rnk"), col("cosine"))
      .orderBy("query_id", "rnk")
  })(
    """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
      |p AS (SELECT q.qid, c.vec_id AS nid, unnest(q.qv) AS qe, unnest(c.embedding) AS ce
      |      FROM q JOIN embeddings c ON c.vec_id <> q.qid),
      |d AS (SELECT qid, nid,
      |  CAST(sum(CAST(CAST(qe AS DOUBLE) AS DECIMAL(18,6)) * CAST(CAST(ce AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) AS dot,
      |  CAST(sum(CAST(CAST(qe AS DOUBLE) AS DECIMAL(18,6)) * CAST(CAST(qe AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) AS nq,
      |  CAST(sum(CAST(CAST(ce AS DOUBLE) AS DECIMAL(18,6)) * CAST(CAST(ce AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) AS nc
      |  FROM p GROUP BY qid, nid),
      |s AS (SELECT qid AS query_id, nid AS neighbor_id, dot/sqrt(nq*nc) AS cosine FROM d),
      |r AS (SELECT query_id, neighbor_id, cosine,
      |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
      |      FROM s)
      |SELECT query_id, neighbor_id, rnk, cosine FROM r WHERE rnk <= 5
      |ORDER BY query_id, rnk""".stripMargin)

  // ---------------------------------------------------------------- q29
  // Embedding-cosine near-dup pairs above a threshold: nearDupPairs'
  // exact-recall quadratic comparison on a blocked 200-vector subset.
  val q29 = query("q29_embedding_near_dup")((s, dir) => {
    val e = Tables.embeddings(s, dir).filter(col("vec_id") < 200)
    Similarity
      .nearDupPairs(e, "vec_id", "embedding")
      .orderBy("id_a", "id_b")
  })(
    """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
      |p AS (SELECT a.vec_id AS ida, b.vec_id AS idb, unnest(a.embedding) AS ae, unnest(b.embedding) AS be
      |      FROM e a JOIN e b ON a.vec_id < b.vec_id),
      |d AS (SELECT ida, idb,
      |  CAST(sum(CAST(CAST(ae AS DOUBLE) AS DECIMAL(18,6)) * CAST(CAST(be AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) AS dot,
      |  CAST(sum(CAST(CAST(ae AS DOUBLE) AS DECIMAL(18,6)) * CAST(CAST(ae AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) AS na,
      |  CAST(sum(CAST(CAST(be AS DOUBLE) AS DECIMAL(18,6)) * CAST(CAST(be AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) AS nb
      |  FROM p GROUP BY ida, idb)
      |SELECT ida AS id_a, idb AS id_b, dot/sqrt(na*nb) AS cosine
      |FROM d WHERE dot/sqrt(na*nb) > 0.25
      |ORDER BY id_a, id_b""".stripMargin)

  // ---------------------------------------------------------------- q30
  // LSH ANN (random hyperplanes, multi-table probing), exact-decimal
  // candidate scoring. The oracle replays the WHOLE pipeline in DuckDB:
  // hyperplane weights from the same splitmix64 mix (DuckHash), the same
  // ordered double fold for projections (list_reduce mirrors Spark's
  // sequential `aggregate`), bucket equi-join, then q28-style decimal
  // cosine — so bucketing AND ranking are value-checked. Recall vs exact
  // KNN is additionally asserted in ScalaTest.
  val q30 = query("q30_ann_lsh")((s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity
      .knnLsh(e, e.filter(col("vec_id") < 10), "vec_id", "embedding")
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rnk"), col("cosine"))
      .orderBy("query_id", "rnk")
  })({
    // w(seed, plane, dim) = splitmix64(p*1000003 + d + seed*2654435761) as
    // signed double / 2^63 — VectorFunctions.hyperplaneSignBits verbatim.
    // Weights are PRECOMPUTED once per (table, plane) as an ordered list
    // (same per-element values, so the ordered projection fold is
    // bit-identical) instead of re-deriving the mix per corpus vector —
    // ~500x fewer splitmix64 evaluations, 94s -> 1s oracle runtime.
    val mixed = DuckHash.signed(
      DuckHash.mix64Inline("CAST(p*1000003 + dd + tbl*2654435761 AS UBIGINT)"))
    val seeds = Similarity.LshSeeds.mkString("[", ", ", "]")
    s"""WITH dims AS (SELECT len(embedding) AS dim FROM embeddings LIMIT 1),
       |wl AS (SELECT tbl, p, list(wv ORDER BY dd) AS w
       |  FROM (SELECT tbl, p, dd, ($mixed / 9.223372036854776e18) AS wv
       |        FROM (SELECT unnest($seeds) AS tbl),
       |             (SELECT unnest(range(0, ${Similarity.LshPlanes})) AS p),
       |             (SELECT unnest(range(0, (SELECT dim FROM dims))) AS dd))
       |  GROUP BY tbl, p),
       |b0 AS (SELECT vec_id, embedding, unnest($seeds) AS tbl FROM embeddings),
       |pr AS (SELECT b0.vec_id, b0.tbl, wl.p,
       |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |          list_transform(range(0, len(embedding)), dd ->
       |            CAST(embedding[dd+1] AS DOUBLE) * w[dd+1])),
       |          (acc, x) -> acc + x) AS proj
       |      FROM b0 JOIN wl ON b0.tbl = wl.tbl),
       |b AS (SELECT vec_id, tbl,
       |        list_reduce(list_prepend(CAST(0 AS BIGINT),
       |          list(CASE WHEN proj >= 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END ORDER BY p)),
       |          (acc, bb) -> acc * 2 + bb) AS bucket
       |      FROM pr GROUP BY vec_id, tbl),
       |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM b q JOIN b c ON q.tbl = c.tbl AND q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 10),
       |p AS (SELECT cand.query_id, cand.neighbor_id,
       |        unnest(qe.embedding) AS qe, unnest(ce.embedding) AS ce
       |      FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
       |                JOIN embeddings ce ON ce.vec_id = cand.neighbor_id),
       |d AS (SELECT query_id, neighbor_id,
       |  CAST(sum(CAST(CAST(qe AS DOUBLE) AS DECIMAL(18,6)) * CAST(CAST(ce AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) AS dot,
       |  CAST(sum(CAST(CAST(qe AS DOUBLE) AS DECIMAL(18,6)) * CAST(CAST(qe AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) AS nq,
       |  CAST(sum(CAST(CAST(ce AS DOUBLE) AS DECIMAL(18,6)) * CAST(CAST(ce AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) AS nc
       |  FROM p GROUP BY query_id, neighbor_id),
       |r AS (SELECT query_id, neighbor_id, dot/sqrt(nq*nc) AS cosine,
       |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY dot/sqrt(nq*nc) DESC, neighbor_id) AS BIGINT) AS rnk
       |      FROM d)
       |SELECT query_id, neighbor_id, rnk, cosine FROM r WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin
  })

  // ---------------------------------------------------------------- q48
  // IVF-Flat ANN (Similarity.knnIvf): deterministic k-means coarse
  // quantizer (seeds = 8 smallest ids, one exact-decimal Lloyd iteration),
  // probe the 2 nearest clusters per query, exact-cosine top-5. The
  // map-side-assignment / broadcast-probe structure is the IVF scale path
  // (corpus never shuffles for search); the oracle replays the entire
  // train+assign+probe+score pipeline in SQL, so the quantizer itself —
  // not just the final ranking — is value-checked.

  // Quantize an element like VectorFunctions (double → DECIMAL(18,6));
  // decimal distance like l2SqExact: diff re-bounded to (18,6), squared,
  // summed exactly. Ordering ties break on the smaller cluster label —
  // same contract as the Spark `least`-over-structs argmin.
  private def duckQz(x: String) = s"CAST(CAST($x AS DOUBLE) AS DECIMAL(18,6))"
  private def duckDsq(a: String, b: String) =
    s"sum(CAST(CAST(${duckQz(a)} - ${duckQz(b)} AS DECIMAL(18,6)) * CAST(${duckQz(a)} - ${duckQz(b)} AS DECIMAL(18,6)) AS DECIMAL(36,12)))"

  // Shared replay of Similarity.ivfTrain (8 cells, one Lloyd step) + ivfAssign over
  // `embeddings`: CTE chain ending at `a1(vec_id, cluster)` — the final
  // assignment. ONE copy serves every IVF-based oracle (q48 ANN, q116
  // SemDeDup); a second hand copy could silently drift from the Spark side.
  private val duckIvfA1Ctes: String =
    s"""c0 AS (SELECT vec_id AS cluster, embedding AS cv FROM embeddings WHERE vec_id < 8),
       |p0 AS (SELECT e.vec_id, c.cluster, unnest(e.embedding) AS xe, unnest(c.cv) AS ce
       |       FROM embeddings e CROSS JOIN c0 c),
       |d0 AS (SELECT vec_id, cluster, ${duckDsq("xe", "ce")} AS dist FROM p0 GROUP BY vec_id, cluster),
       |a0 AS (SELECT vec_id, cluster FROM (
       |        SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
       |        FROM d0) WHERE rn = 1),
       |u AS (SELECT vec_id, unnest(embedding) AS x, unnest(range(0, len(embedding))) AS dim
       |      FROM embeddings),
       |m1 AS (SELECT a0.cluster, u.dim,
       |        CAST(sum(CAST(CAST(u.x AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)/count(*) AS m
       |       FROM u JOIN a0 USING (vec_id) GROUP BY a0.cluster, u.dim),
       |c1 AS (SELECT cluster, list(m ORDER BY dim) AS cv FROM m1 GROUP BY cluster),
       |p1 AS (SELECT e.vec_id, c.cluster, unnest(e.embedding) AS xe, unnest(c.cv) AS ce
       |       FROM embeddings e CROSS JOIN c1 c),
       |d1 AS (SELECT vec_id, cluster, ${duckDsq("xe", "ce")} AS dist FROM p1 GROUP BY vec_id, cluster),
       |a1 AS (SELECT vec_id, cluster FROM (
       |        SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
       |        FROM d1) WHERE rn = 1)""".stripMargin

  val q48 = query("q48_ivf_ann")((s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity
      .knnIvf(e, e.filter(col("vec_id") < 5), "vec_id", "embedding")
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rnk"), col("cosine"))
      .orderBy("query_id", "rnk")
  })({
    def qz(x: String) = duckQz(x)
    s"""WITH $duckIvfA1Ctes,
       |probes AS (SELECT vec_id AS query_id, cluster FROM (
       |        SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
       |        FROM d1 WHERE vec_id < 5) WHERE rn <= 2),
       |cand AS (SELECT p.query_id, a1.vec_id AS neighbor_id
       |         FROM probes p JOIN a1 ON a1.cluster = p.cluster AND a1.vec_id <> p.query_id),
       |pr AS (SELECT c.query_id, c.neighbor_id, unnest(q.embedding) AS qe, unnest(n.embedding) AS ne
       |       FROM cand c JOIN embeddings q ON q.vec_id = c.query_id
       |                   JOIN embeddings n ON n.vec_id = c.neighbor_id),
       |sc AS (SELECT query_id, neighbor_id,
       |        CAST(sum(CAST(${qz("qe")} * ${qz("ne")} AS DECIMAL(36,12))) AS DOUBLE) AS dot,
       |        CAST(sum(CAST(${qz("qe")} * ${qz("qe")} AS DECIMAL(36,12))) AS DOUBLE) AS nq,
       |        CAST(sum(CAST(${qz("ne")} * ${qz("ne")} AS DECIMAL(36,12))) AS DOUBLE) AS nn
       |       FROM pr GROUP BY query_id, neighbor_id),
       |r AS (SELECT query_id, neighbor_id, dot/sqrt(nq*nn) AS cosine,
       |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY dot/sqrt(nq*nn) DESC, neighbor_id) AS BIGINT) AS rnk
       |      FROM sc)
       |SELECT query_id, neighbor_id, rnk, cosine FROM r WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin
  })

  // ---------------------------------------------------------------- q60
  // Int8 embedding quantization audit (VectorFunctions.int8Quantize):
  // per-vector absmax scale, ⌊·⌋-based quantization (round's half-way rule
  // is engine-specific; floor is IEEE-exact everywhere), saturation count
  // and worst reconstruction error. Pure codegen transforms — rides the
  // scan, no shuffle; the 4×-smaller quantized copy is what ships.
  val q60 = query("q60_int8_quantize")((s, dir) => {
    val dv = Tables.embeddings(s, dir)
      .select(
        col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("absmax", VectorFunctions.absMax(col("v")))
      .withColumn("qs", VectorFunctions.int8Quantize(col("v"), col("absmax")))
    dv.select(
      col("vec_id"),
      size(col("v")).cast("long").as("n_dims"),
      col("absmax"),
      aggregate(col("qs"), lit(0L), (acc, q) => acc + q).as("sum_q"),
      size(filter(col("qs"), q => abs(q) === 127)).cast("long").as("n_sat"),
      VectorFunctions.int8MaxError(col("v"), col("qs"), col("absmax")).as("max_err"))
      .orderBy("vec_id")
  })(
    """WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |            FROM embeddings),
      |m AS (SELECT vec_id, v,
      |      coalesce(list_max(list_transform(v, x -> abs(x))), 0.0) AS absmax FROM dv),
      |q AS (SELECT vec_id, v, absmax,
      |  CASE WHEN absmax = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
      |       ELSE list_transform(v, x ->
      |         CAST(greatest(-127, least(127, floor(x/absmax*127))) AS BIGINT)) END AS qs
      |  FROM m)
      |SELECT vec_id,
      | CAST(len(v) AS BIGINT) AS n_dims,
      | absmax,
      | CAST(coalesce(list_sum(qs), 0) AS BIGINT) AS sum_q,
      | CAST(len(list_filter(qs, qq -> abs(qq) = 127)) AS BIGINT) AS n_sat,
      | CASE WHEN absmax = 0 THEN CAST(0.0 AS DOUBLE)
      |      ELSE coalesce(list_max(list_transform(v, x ->
      |        abs(x - CAST(greatest(-127, least(127, floor(x/absmax*127))) AS BIGINT)*absmax/127))), 0.0)
      | END AS max_err
      |FROM q ORDER BY vec_id""".stripMargin)

  // ---------------------------------------------------------------- q71
  // Per-label embedding centroid outliers — the "find mislabeled /
  // off-distribution vectors" curation pass. Array-column aggregation via
  // dimension explode: (label, dim)-keyed sums give the centroid numerator
  // without ever dividing — each vector is scored by ‖n·x − S‖², which is
  // n²·‖x − S/n‖², monotone in the true centroid distance within a label
  // (n is fixed per label). Everything stays in exact decimals (elements
  // quantized to DECIMAL(18,6), the difference recast to DECIMAL(12,6) —
  // exact while |n·x − S| < 10⁶ — before squaring), so the double score is
  // bit-identical cross-engine with zero decimal-division rounding to
  // reconcile. Shuffles: one on (label, dim), one join back (the centroid
  // table is labels × dims — tiny, AQE broadcasts it), one per-vector
  // rollup, and a per-label top-3 window over label-partitioned data.
  val q71 = query("q71_centroid_outliers")((s, dir) => {
    // units of 10⁻⁶ after the integral div — small enough that the BIGINT →
    // DOUBLE conversion is exact in both engines; ONE final IEEE division.
    val d2 = centroidSquares(s, dir)
      .select(col("vec_id"), col("label"),
        (expr("__sum_du2 div 1000000").cast("double") / 1e6).as("dist2_scaled"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("dist2_scaled").desc, col("vec_id"))
    d2.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("vec_id"), col("label"), col("dist2_scaled"), col("rnk"))
      .orderBy("label", "rnk")
  })(
    s"""WITH $duckCentroidCtes,
       |d AS (SELECT vec_id, label,
       |      CAST(CAST(sum_du2 AS HUGEINT) // 1000000 AS DOUBLE)/1000000.0 AS dist2_scaled
       |      FROM sq),
       |r AS (SELECT *, row_number() OVER (PARTITION BY label
       |        ORDER BY dist2_scaled DESC, vec_id) AS rnk FROM d)
       |SELECT vec_id, label, dist2_scaled, CAST(rnk AS BIGINT) AS rnk
       |FROM r WHERE rnk <= 3 ORDER BY label, rnk""".stripMargin)

  // ---------------------------------------------------------------- q116
  // SemDeDup (Similarity.semDedup — Abbas et al. 2023): semantic pruning
  // by clustering embeddings first (the IVF coarse quantizer q48 trains)
  // and comparing pairs only WITHIN clusters — Σ n_c² instead of n², the
  // paper's reason to cluster. A vector drops when a lower-id neighbor in
  // its cluster scores ≥ τ by exact-decimal cosine (min-id survivor,
  // deterministic). τ = 0.35 is fixture-tuned (the synthetic embeddings'
  // near-dups sit near cosine 0.5; real corpora use ~0.95+) — same move as
  // q43's banding parameters. The oracle replays quantizer, assignment,
  // and pairwise verdicts exactly.
  //
  // kClusters=8 is ALSO fixture-tuned, and unlike τ it has a scale
  // hazard: SemDeDup's contract is k ∝ N (constant pairs-per-vector; the
  // paper trains 110k clusters for LAION). An sf10 rehearsal ran
  // this fixture k over 200k vectors into ~2.5 BILLION within-cluster
  // pairs — a silent >600 s timeout. The cap below is the operator's
  // scale-relative guard: ~31 pairs/vector at gate SF, ~1.3k at sf1
  // (both pass), 12.5k at sf10 → the guard fails LOUDLY naming the
  // k ∝ N fix instead of burning the cluster. A production caller
  // scales k and keeps the same cap.
  val q116 = query("q116_semdedup")((s, dir) =>
    Similarity.semDedup(Tables.embeddings(s, dir), "vec_id", "embedding")
      .groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("n_vectors"),
        sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"))
      .orderBy("cluster"))({
    def qz(x: String) = duckQz(x)
    s"""WITH $duckIvfA1Ctes,
       |pp AS (SELECT x.vec_id AS ia, y.vec_id AS ib FROM a1 x JOIN a1 y
       |       ON x.cluster = y.cluster AND x.vec_id > y.vec_id),
       |pe AS (SELECT pp.ia, pp.ib, unnest(a.embedding) AS ae, unnest(b.embedding) AS be
       |       FROM pp JOIN embeddings a ON a.vec_id = pp.ia
       |                JOIN embeddings b ON b.vec_id = pp.ib),
       |sc AS (SELECT ia, ib,
       |        CAST(sum(CAST(${qz("ae")} * ${qz("be")} AS DECIMAL(36,12))) AS DOUBLE) AS dot,
       |        CAST(sum(CAST(${qz("ae")} * ${qz("ae")} AS DECIMAL(36,12))) AS DOUBLE) AS na,
       |        CAST(sum(CAST(${qz("be")} * ${qz("be")} AS DECIMAL(36,12))) AS DOUBLE) AS nb
       |       FROM pe GROUP BY ia, ib),
       |dr AS (SELECT DISTINCT ia AS vec_id FROM sc WHERE dot/sqrt(na*nb) >= 0.35)
       |SELECT a1.cluster, count(*) AS n_vectors,
       |  CAST(sum(CASE WHEN dr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
       |FROM a1 LEFT JOIN dr USING (vec_id)
       |GROUP BY a1.cluster ORDER BY a1.cluster""".stripMargin
  })

  // ---------------------------------------------------------------- q119
  // Embedding dimension health audit (Diagnostics.embeddingDimStats):
  // per-dimension count / zero-count / exact sum / exact variance
  // numerator in integer units of 1e-6 (the dotExact quantization) — the
  // dead-dimension check before trusting a vector column. Output is
  // dim-sized; the only shuffle carries ≤ dim rows after partial agg.
  val q119 = query("q119_dim_stats")((s, dir) =>
    Diagnostics.embeddingDimStats(Tables.embeddings(s, dir), "embedding")
      .orderBy("dim"))(
    """WITH e0 AS (SELECT list_transform(range(1, len(embedding) + 1),
      |    i -> [CAST(i AS DOUBLE), CAST(embedding[i] AS DOUBLE)]) AS pl
      |  FROM embeddings),
      |ex AS (SELECT unnest(pl) AS p FROM e0),
      |q AS (SELECT CAST(p[1] AS BIGINT) - 1 AS dim,
      |  CAST(CAST(CAST(p[2] AS DOUBLE) AS DECIMAL(18,6)) * 1000000 AS HUGEINT) AS u
      |  FROM ex)
      |SELECT dim, CAST(count(*) AS BIGINT) AS n_vecs,
      |  CAST(sum(CASE WHEN u = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
      |  CAST(sum(u) AS BIGINT) AS sum_u,
      |  CAST(count(*) * sum(u*u) - sum(u)*sum(u) AS BIGINT) AS var_num
      |FROM q GROUP BY dim ORDER BY dim""".stripMargin)

  // ---------------------------------------------------------------- q122
  // ANN recall audit: IVF-Flat (q48's exact-tier search, same quantizer)
  // scored against brute-force exact top-k (q28's) — recall@5 per query,
  // the quality gate that decides whether nProbe/kClusters are safe to
  // ship. Both legs are deterministic (exact-decimal cosine, id
  // tie-breaks), so even the RECALL of the approximate index is
  // value-checkable cross-engine — not just bounded. The exact leg is the
  // audit cost you pay on a query SAMPLE, not the corpus.
  val q122 = query("q122_ann_recall")((s, dir) => {
    val e = Tables.embeddings(s, dir)
    val qs = e.filter(col("vec_id") < 10)
    val exact = Similarity
      .knnExact(e, qs, "vec_id", "embedding")
      .select(col("query_id"), col("neighbor_id"))
    val approx = Similarity
      .knnIvf(e, qs, "vec_id", "embedding")
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
    exact
      .join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(
        count(lit(1)).as("k"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .select(col("query_id"), col("k"), col("n_hits"),
        (col("n_hits").cast("double") / col("k").cast("double")).as("recall"))
      .orderBy("query_id")
  })({
    def qz(x: String) = duckQz(x)
    def cosSums(src: String) =
      s"""CAST(sum(CAST(${qz("qe")} * ${qz("ne")} AS DECIMAL(36,12))) AS DOUBLE) AS dot,
         |        CAST(sum(CAST(${qz("qe")} * ${qz("qe")} AS DECIMAL(36,12))) AS DOUBLE) AS nq,
         |        CAST(sum(CAST(${qz("ne")} * ${qz("ne")} AS DECIMAL(36,12))) AS DOUBLE) AS nn
         |       FROM $src GROUP BY query_id, neighbor_id""".stripMargin
    s"""WITH $duckIvfA1Ctes,
       |probes AS (SELECT vec_id AS query_id, cluster FROM (
       |        SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
       |        FROM d1 WHERE vec_id < 10) WHERE rn <= 2),
       |acand AS (SELECT p.query_id, a1.vec_id AS neighbor_id
       |         FROM probes p JOIN a1 ON a1.cluster = p.cluster AND a1.vec_id <> p.query_id),
       |apr AS (SELECT c.query_id, c.neighbor_id, unnest(q.embedding) AS qe, unnest(n.embedding) AS ne
       |       FROM acand c JOIN embeddings q ON q.vec_id = c.query_id
       |                    JOIN embeddings n ON n.vec_id = c.neighbor_id),
       |asums AS (SELECT query_id, neighbor_id,
       |        ${cosSums("apr")}),
       |arnk AS (SELECT query_id, neighbor_id,
       |        row_number() OVER (PARTITION BY query_id ORDER BY dot/sqrt(nq*nn) DESC, neighbor_id) AS rnk
       |      FROM asums),
       |ivf AS (SELECT query_id, neighbor_id FROM arnk WHERE rnk <= 5),
       |epr AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |        unnest(q.embedding) AS qe, unnest(c.embedding) AS ne
       |       FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
       |       WHERE q.vec_id < 10),
       |esums AS (SELECT query_id, neighbor_id,
       |        ${cosSums("epr")}),
       |ernk AS (SELECT query_id, neighbor_id,
       |        row_number() OVER (PARTITION BY query_id ORDER BY dot/sqrt(nq*nn) DESC, neighbor_id) AS rnk
       |      FROM esums),
       |ex AS (SELECT query_id, neighbor_id FROM ernk WHERE rnk <= 5)
       |SELECT ex.query_id, CAST(count(*) AS BIGINT) AS k,
       |  CAST(sum(CASE WHEN ivf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |  CAST(sum(CASE WHEN ivf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS recall
       |FROM ex LEFT JOIN ivf ON ivf.query_id = ex.query_id AND ivf.neighbor_id = ex.neighbor_id
       |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin
  })

  // ---------------------------------------------------------------- q169
  // Deterministic hard-negative mining (Similarity.hardNegatives): every
  // vector samples k=4 arithmetic pseudo-random negatives
  // (mix64(id·k+j) mod_u64 (N−1), skip-self) and keeps the most similar —
  // the contrastive-training pair-construction step, reproducible across
  // runs/layouts/engines because the sample is pure integer arithmetic
  // and the cosine is the exact-decimal q28 form. The oracle replays the
  // u64 mod (true unsigned %, the cross-engine trap pmod fails), the
  // skip-self map, the exact cosine, and the argmax.
  val q169 = query("q169_hard_negatives")((s, dir) =>
    Similarity.hardNegatives(Tables.embeddings(s, dir), "vec_id", "embedding")
      .orderBy("vec_id"))({
    val mh = DuckHash.mix64Inline("CAST(vec_id * 4 + j AS UBIGINT)")
    s"""WITH nn AS (SELECT count(*) AS n FROM embeddings),
       |js AS (SELECT vec_id, unnest(range(0, 4)) AS j FROM embeddings),
       |cand AS (SELECT DISTINCT vec_id,
       |    CASE WHEN m >= vec_id THEN m + 1 ELSE m END AS neg_id
       |  FROM (SELECT vec_id,
       |      CAST(($mh) % CAST((SELECT n FROM nn) - 1 AS UBIGINT) AS BIGINT) AS m
       |    FROM js)),
       |p AS (SELECT c.vec_id, c.neg_id,
       |    unnest(a.embedding) AS ae, unnest(b.embedding) AS be
       |  FROM cand c
       |  JOIN embeddings a ON a.vec_id = c.vec_id
       |  JOIN embeddings b ON b.vec_id = c.neg_id),
       |d AS (SELECT vec_id, neg_id,
       |  CAST(sum(CAST(CAST(ae AS DOUBLE) AS DECIMAL(18,6))
       |    * CAST(CAST(be AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) AS dot,
       |  CAST(sum(CAST(CAST(ae AS DOUBLE) AS DECIMAL(18,6))
       |    * CAST(CAST(ae AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) AS na,
       |  CAST(sum(CAST(CAST(be AS DOUBLE) AS DECIMAL(18,6))
       |    * CAST(CAST(be AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) AS nb
       |  FROM p GROUP BY 1, 2),
       |s AS (SELECT vec_id, neg_id, dot/sqrt(na*nb) AS cosine FROM d),
       |r AS (SELECT vec_id, neg_id, cosine,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neg_id) AS rn,
       |    count(*) OVER (PARTITION BY vec_id) AS n_cand
       |  FROM s)
       |SELECT vec_id, neg_id AS hard_neg_id, cosine,
       |  CAST(n_cand AS BIGINT) AS n_cand
       |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin
  })

  // ---------------------------------------------------------------- q185
  // PQ ANN via asymmetric distance computation (Similarity.knnPq; Jégou
  // et al. 2011) — the memory-side scale path the similarity stack was
  // missing: IVF (q48) prunes CANDIDATES, PQ compresses VECTORS (4·dim
  // bytes → m codes) so a 100 TB corpus's index fits executor memory.
  // m=4 subspaces × 16 dims, k=8 codes each, one exact-decimal Lloyd
  // round per subspace (the q48 quantizer applied per-subspace, dense
  // code relabeling hole-proof by construction), queries 0-4 precompute
  // m×k decimal LUTs, ADC = exact LUT-sum over codes, top-5. The oracle
  // replays the ENTIRE pipeline — per-subspace train, corpus encode,
  // query LUTs, ADC ranking — in SQL, so the codebooks themselves are
  // value-checked, not just the final ranking.

  // q185's full PQ replay (subspace split, per-subspace Lloyd round, dense
  // code relabel, corpus encode, query LUTs, ADC ranking) with every CTE
  // name prefixed by `pfx`, ending at `${pfx}r(query_id, neighbor_id,
  // adc_dist, rnk)`. pfx="" keeps q185's original names; the q190 recall
  // certificate composes it (pfx="p") with the IVFPQ chain in ONE
  // statement — one copy serves both, so they cannot drift.
  private def duckPqChainCtes(pfx: String): String =
    s"""${pfx}su AS (SELECT vec_id, dim // 16 AS s, dim % 16 AS j, x FROM (
       |    SELECT vec_id, unnest(embedding) AS x,
       |      unnest(range(0, len(embedding))) AS dim FROM embeddings)),
       |${pfx}c0 AS (SELECT vec_id AS cluster, s, j, x FROM ${pfx}su WHERE vec_id < 8),
       |${pfx}p0 AS (SELECT e.vec_id, e.s, c.cluster, ${duckDsq("e.x", "c.x")} AS dist
       |       FROM ${pfx}su e JOIN ${pfx}c0 c ON c.s = e.s AND c.j = e.j
       |       GROUP BY e.vec_id, e.s, c.cluster),
       |${pfx}a0 AS (SELECT vec_id, s, cluster FROM (
       |        SELECT vec_id, s, cluster,
       |          row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cluster) AS rn
       |        FROM ${pfx}p0) WHERE rn = 1),
       |${pfx}m1 AS (SELECT a0.s, a0.cluster, su.j,
       |        CAST(sum(CAST(CAST(su.x AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)/count(*) AS cx
       |       FROM ${pfx}su su JOIN ${pfx}a0 a0 ON a0.vec_id = su.vec_id AND a0.s = su.s
       |       GROUP BY a0.s, a0.cluster, su.j),
       |${pfx}cl AS (SELECT s, cluster,
       |        row_number() OVER (PARTITION BY s ORDER BY cluster) - 1 AS code
       |       FROM (SELECT DISTINCT s, cluster FROM ${pfx}m1)),
       |${pfx}c1 AS (SELECT m1.s, cl.code, m1.j, m1.cx
       |       FROM ${pfx}m1 m1 JOIN ${pfx}cl cl ON cl.s = m1.s AND cl.cluster = m1.cluster),
       |${pfx}pe AS (SELECT e.vec_id, e.s, c.code, ${duckDsq("e.x", "c.cx")} AS dist
       |       FROM ${pfx}su e JOIN ${pfx}c1 c ON c.s = e.s AND c.j = e.j
       |       GROUP BY e.vec_id, e.s, c.code),
       |${pfx}a1 AS (SELECT vec_id, s, code FROM (
       |        SELECT vec_id, s, code,
       |          row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rn
       |        FROM ${pfx}pe) WHERE rn = 1),
       |${pfx}lut AS (SELECT vec_id AS query_id, s, code, dist FROM ${pfx}pe WHERE vec_id < 5),
       |${pfx}adc AS (SELECT l.query_id, a1.vec_id AS neighbor_id, sum(l.dist) AS adc
       |        FROM ${pfx}a1 a1 JOIN ${pfx}lut l ON l.s = a1.s AND l.code = a1.code
       |        WHERE a1.vec_id <> l.query_id
       |        GROUP BY l.query_id, a1.vec_id),
       |${pfx}r AS (SELECT query_id, neighbor_id, CAST(adc AS DOUBLE) AS adc_dist,
       |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS BIGINT) AS rnk
       |      FROM ${pfx}adc)""".stripMargin

  val q185 = query("q185_pq_ann")((s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity.knnPq(e, e.filter(col("vec_id") < 5), "vec_id", "embedding")
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rnk"), col("adc_dist"))
      .orderBy("query_id", "rnk")
  })(
    s"""WITH ${duckPqChainCtes("")}
       |SELECT query_id, neighbor_id, rnk, adc_dist FROM r WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin)

  // ---------------------------------------------------------------- q187
  // IVFPQ (Similarity.knnIvfPq) — the FAISS production-ANN composition:
  // q48's coarse quantizer prunes candidates (probe 2 of 8 cells), q185's
  // PQ compresses memory — but trained on RESIDUALS (vector − its cell
  // centroid), the IVFPQ subtlety that makes the same 8 codes quantize
  // far finer; LUTs are per (query, probed cell) because residuals are
  // cell-relative. The oracle composes the SHARED coarse replay
  // (duckIvfA1Ctes — the same fragment q48/q116 check) with a residual
  // PQ replay: residual computation, per-subspace train, corpus encode,
  // per-cell query LUTs, ADC ranking — the full production index
  // value-checked end-to-end.

  // q187's residual-PQ replay over duckIvfA1Ctes' coarse assignment
  // (residuals, per-subspace train on residuals, dense relabel, encode,
  // per-(query, probed cell) LUTs, ADC ranking), ending at `r(query_id,
  // neighbor_id, adc_dist, rnk)`. Shared verbatim by q187 and the q190
  // recall certificate.
  private val duckIvfPqChainCtes: String =
    s"""rv AS (SELECT u.vec_id, u.dim, CAST(u.x AS DOUBLE) - m1.m AS rx
       |       FROM u JOIN a1 USING (vec_id)
       |              JOIN m1 ON m1.cluster = a1.cluster AND m1.dim = u.dim),
       |zs AS (SELECT vec_id, dim // 16 AS s, dim % 16 AS j, rx FROM rv),
       |zc0 AS (SELECT vec_id AS cl0, s, j, rx FROM zs WHERE vec_id < 8),
       |zp0 AS (SELECT e.vec_id, e.s, c.cl0, ${duckDsq("e.rx", "c.rx")} AS dist
       |        FROM zs e JOIN zc0 c ON c.s = e.s AND c.j = e.j
       |        GROUP BY e.vec_id, e.s, c.cl0),
       |za0 AS (SELECT vec_id, s, cl0 FROM (
       |         SELECT vec_id, s, cl0,
       |           row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cl0) AS rn
       |         FROM zp0) WHERE rn = 1),
       |zm1 AS (SELECT za0.s, za0.cl0, zs.j,
       |         CAST(sum(CAST(CAST(zs.rx AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)/count(*) AS cx
       |        FROM zs JOIN za0 ON za0.vec_id = zs.vec_id AND za0.s = zs.s
       |        GROUP BY za0.s, za0.cl0, zs.j),
       |zcl AS (SELECT s, cl0, row_number() OVER (PARTITION BY s ORDER BY cl0) - 1 AS code
       |        FROM (SELECT DISTINCT s, cl0 FROM zm1)),
       |zc1 AS (SELECT zm1.s, zcl.code, zm1.j, zm1.cx
       |        FROM zm1 JOIN zcl ON zcl.s = zm1.s AND zcl.cl0 = zm1.cl0),
       |zpe AS (SELECT e.vec_id, e.s, c.code, ${duckDsq("e.rx", "c.cx")} AS dist
       |        FROM zs e JOIN zc1 c ON c.s = e.s AND c.j = e.j
       |        GROUP BY e.vec_id, e.s, c.code),
       |za1 AS (SELECT vec_id, s, code FROM (
       |         SELECT vec_id, s, code,
       |           row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rn
       |         FROM zpe) WHERE rn = 1),
       |probes AS (SELECT vec_id AS query_id, cluster FROM (
       |         SELECT vec_id, cluster,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
       |         FROM d1 WHERE vec_id < 5) WHERE rn <= 2),
       |qrv AS (SELECT p.query_id, p.cluster, u.dim // 16 AS s, u.dim % 16 AS j,
       |         CAST(u.x AS DOUBLE) - m1.m AS rx
       |        FROM probes p JOIN u ON u.vec_id = p.query_id
       |               JOIN m1 ON m1.cluster = p.cluster AND m1.dim = u.dim),
       |lut AS (SELECT q.query_id, q.cluster, q.s, c.code, ${duckDsq("q.rx", "c.cx")} AS dist
       |        FROM qrv q JOIN zc1 c ON c.s = q.s AND c.j = q.j
       |        GROUP BY q.query_id, q.cluster, q.s, c.code),
       |adc AS (SELECT l.query_id, za1.vec_id AS neighbor_id, sum(l.dist) AS adc
       |        FROM a1 cand
       |          JOIN lut l ON l.cluster = cand.cluster
       |          JOIN za1 ON za1.vec_id = cand.vec_id AND za1.s = l.s AND za1.code = l.code
       |        WHERE cand.vec_id <> l.query_id
       |        GROUP BY l.query_id, za1.vec_id),
       |r AS (SELECT query_id, neighbor_id, CAST(adc AS DOUBLE) AS adc_dist,
       |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS BIGINT) AS rnk
       |      FROM adc)""".stripMargin

  val q187 = query("q187_ivfpq_ann")((s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity.knnIvfPq(e, e.filter(col("vec_id") < 5), "vec_id", "embedding")
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rnk"), col("adc_dist"))
      .orderBy("query_id", "rnk")
  })(
    s"""WITH $duckIvfA1Ctes,
       |$duckIvfPqChainCtes
       |SELECT query_id, neighbor_id, rnk, adc_dist FROM r WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin)

  // ---------------------------------------------------------------- q190
  // PQ-tier RECALL CERTIFICATE (the q122 pattern extended to the
  // production index): join q185's knnPq and q187's knnIvfPq top-5
  // against the exact squared-L2 top-5 (Similarity.knnExactL2 — the same
  // quantized-decimal metric the ADC tiers approximate) and emit
  // recall@5 per query for BOTH codepaths. q185/q187's oracles prove the
  // ADC arithmetic; this row proves the index FINDS TRUE NEIGHBORS — the
  // answer, not just the mechanism (the reference's acceptance-query
  // ethos, reference src/etl.py:283-291). All three legs are
  // deterministic, so the recall table is hash-exact cross-engine. Scale
  // shape: the truth leg runs over the bounded query sample only; the
  // oracle composes the SHARED q185/q187 replay chains — one copy each,
  // immune to drift. Absolute recall is LOW here by construction — the
  // fixture embeddings are uniform random, the geometry PQ is worst at;
  // SimilaritySpec pins high recall on clusterable (planted) data. This
  // row certifies the MEASUREMENT pipeline, not the fixture's score.
  val q190 = query("q190_pq_recall")((s, dir) => {
    val e = Tables.embeddings(s, dir)
    val qs = e.filter(col("vec_id") < 5)
    val truth = Similarity.knnExactL2(e, qs, "vec_id", "embedding")
      .select(col("query_id"), col("neighbor_id"))
    // The PQ and IVFPQ legs each run an eager training chain (collects) at
    // CONSTRUCTION time; they share no state, so build them concurrently —
    // the certificate costs max(leg) instead of sum(legs).
    val Seq(pq, ivfpq) = graft.operators.Concurrency.inParallel(Seq(
      () => Similarity
        .knnPq(e, qs, "vec_id", "embedding")
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__pq")),
      () => Similarity
        .knnIvfPq(e, qs, "vec_id", "embedding")
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__ivfpq"))))
    truth
      // top-k legs are output-sized (|queries|*k rows) — broadcast them
      // back onto the truth table instead of sort-merging 25-row frames
      .join(broadcast(pq), Seq("query_id", "neighbor_id"), "left")
      .join(broadcast(ivfpq), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(
        count(lit(1)).as("k"),
        sum(coalesce(col("__pq"), lit(0L))).as("pq_hits"),
        sum(coalesce(col("__ivfpq"), lit(0L))).as("ivfpq_hits"))
      .select(col("query_id"), col("k"),
        col("pq_hits"),
        (col("pq_hits").cast("double") / col("k").cast("double")).as("pq_recall"),
        col("ivfpq_hits"),
        (col("ivfpq_hits").cast("double") / col("k").cast("double")).as("ivfpq_recall"))
      .orderBy("query_id")
  })(
    s"""WITH $duckIvfA1Ctes,
       |$duckIvfPqChainCtes,
       |${duckPqChainCtes("p")},
       |xq AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
       |xp AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |        unnest(q.embedding) AS qe, unnest(n.embedding) AS ne
       |       FROM xq q JOIN embeddings n ON n.vec_id <> q.vec_id),
       |xd AS (SELECT query_id, neighbor_id, ${duckDsq("qe", "ne")} AS dist
       |       FROM xp GROUP BY query_id, neighbor_id),
       |xt AS (SELECT query_id, neighbor_id FROM (
       |        SELECT query_id, neighbor_id,
       |          row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rn
       |        FROM xd) WHERE rn <= 5),
       |pq5 AS (SELECT query_id, neighbor_id FROM pr WHERE rnk <= 5),
       |vq5 AS (SELECT query_id, neighbor_id FROM r WHERE rnk <= 5)
       |SELECT t.query_id, CAST(count(*) AS BIGINT) AS k,
       |  CAST(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS pq_hits,
       |  CAST(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS pq_recall,
       |  CAST(sum(CASE WHEN v.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ivfpq_hits,
       |  CAST(sum(CASE WHEN v.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS ivfpq_recall
       |FROM xt t
       |LEFT JOIN pq5 p ON p.query_id = t.query_id AND p.neighbor_id = t.neighbor_id
       |LEFT JOIN vq5 v ON v.query_id = t.query_id AND v.neighbor_id = t.neighbor_id
       |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin)

  // ---------------------------------------------------------------- q192
  // Recall@5 vs nProbe SWEEP for the IVF index (Similarity.ivfRecallSweep)
  // — the tuning curve behind q122's single recall point: one scoring
  // pass tags every (query, corpus) pair with the corpus cell's rank in
  // the query's probe order, and recall at nProbe ∈ {1,2,4,8} is derived
  // by ranking the cell_rank ≤ nProbe subset — no re-scoring per sweep
  // point. The nProbe=8 (=kClusters) rows are 1.0 BY CONSTRUCTION (full
  // probe under the truth metric) — a built-in self-check the oracle
  // hash-pins; SimilaritySpec additionally pins monotonicity in nProbe.
  // Scale shape: runs on the bounded audit sample; the scoring pass is
  // the same size as the exact-truth pass the audit pays anyway.
  val q192 = query("q192_nprobe_sweep")((s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity.ivfRecallSweep(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", nProbes = Seq(1, 2, 4, 8))
      .orderBy("nprobe", "query_id")
  })({
    def qz(x: String) = duckQz(x)
    def cosSums(src: String, extra: String) =
      s"""SELECT query_id, neighbor_id$extra,
         |  CAST(sum(CAST(${qz("qe")} * ${qz("ne")} AS DECIMAL(36,12))) AS DOUBLE) AS dot,
         |  CAST(sum(CAST(${qz("qe")} * ${qz("qe")} AS DECIMAL(36,12))) AS DOUBLE) AS nq,
         |  CAST(sum(CAST(${qz("ne")} * ${qz("ne")} AS DECIMAL(36,12))) AS DOUBLE) AS nn
         |FROM $src GROUP BY query_id, neighbor_id$extra""".stripMargin
    s"""WITH $duckIvfA1Ctes,
       |prq AS (SELECT vec_id AS query_id, cluster,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS cell_rank
       |        FROM d1 WHERE vec_id < 10),
       |cand AS (SELECT p.query_id, a1.vec_id AS neighbor_id, p.cell_rank
       |         FROM a1 JOIN prq p ON p.cluster = a1.cluster AND a1.vec_id <> p.query_id),
       |cpr AS (SELECT c.query_id, c.neighbor_id, c.cell_rank,
       |         unnest(q.embedding) AS qe, unnest(n.embedding) AS ne
       |        FROM cand c JOIN embeddings q ON q.vec_id = c.query_id
       |                    JOIN embeddings n ON n.vec_id = c.neighbor_id),
       |csum AS (${cosSums("cpr", ", cell_rank")}),
       |np AS (SELECT * FROM (VALUES (1),(2),(4),(8)) v(nprobe)),
       |rnk AS (SELECT np.nprobe, s.query_id, s.neighbor_id,
       |         row_number() OVER (PARTITION BY np.nprobe, s.query_id
       |           ORDER BY s.dot/sqrt(s.nq*s.nn) DESC, s.neighbor_id) AS rn
       |        FROM csum s JOIN np ON s.cell_rank <= np.nprobe),
       |hit AS (SELECT nprobe, query_id, neighbor_id FROM rnk WHERE rn <= 5),
       |epr AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         unnest(q.embedding) AS qe, unnest(c.embedding) AS ne
       |        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
       |        WHERE q.vec_id < 10),
       |esums AS (${cosSums("epr", "")}),
       |ernk AS (SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY dot/sqrt(nq*nn) DESC, neighbor_id) AS rnk
       |        FROM esums),
       |ex AS (SELECT query_id, neighbor_id FROM ernk WHERE rnk <= 5)
       |SELECT np.nprobe, ex.query_id, CAST(count(*) AS BIGINT) AS k,
       |  CAST(sum(CASE WHEN h.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |  CAST(sum(CASE WHEN h.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS recall
       |FROM ex CROSS JOIN np
       |LEFT JOIN hit h ON h.nprobe = np.nprobe AND h.query_id = ex.query_id
       |  AND h.neighbor_id = ex.neighbor_id
       |GROUP BY np.nprobe, ex.query_id ORDER BY np.nprobe, ex.query_id""".stripMargin
  })

  // ---------------------------------------------------------------- q205
  // PLANTED-STRUCTURE recall certificate — the missing half of q190/q122,
  // which measure recall on uniform-random embeddings where LOW absolute
  // recall is the correct answer (they certify the measurement pipeline,
  // not the index). This row makes the recall NUMBER itself meaningful to
  // the driver: embeddings are synthesized with known product-quantizable
  // cluster structure, and all three index tiers (IVF-Flat, PQ, IVFPQ)
  // must achieve recall@5 = 1.0 on it — value-checked hash-exact against
  // the SAME DuckDB replay chains as q48/q185/q187 (the planted table is
  // a CTE shadowing `embeddings`, so the chains run verbatim).
  //
  // Fixture (SimilaritySpec's planted-cluster convention promoted to a
  // catalog row, sized to the index chain's hard parameters): 384 vectors
  // (ids < 384 so the fixture is SF-invariant), 64 dims = 4 subspaces of
  // 16. Micro-cluster g = id mod 64 has EXACTLY 6 members; its per-
  // subspace patterns c_s (a spike of 10.0 at dim 2·c_s of subspace s,
  // plus ≤0.096 deterministic integer-rational jitter) are chosen so
  // (a) ids 0..7 — the chains' hard-coded seeds — cover all 8 patterns in
  // EVERY subspace (odd multipliers mod 8 are bijections), so one Lloyd
  // round recovers every codebook exactly, and (b) (c_0, c_1) determines
  // g (c1 = (3b + a) mod 8 is injective in a given b), so distinct
  // micro-clusters differ in ≥ 1 subspace by ~200 squared-L2 while mates
  // differ by jitter only. True top-5 of any query = its 5 mates; every
  // tier must rank all 5 above everything else: IVF probes the query's
  // own cell (mates share it) and scores candidates EXACTLY; PQ/IVFPQ
  // ADC error is jitter-scale, 3 orders below the inter-cluster margin.
  // recall < 1.0 here means the INDEX degraded, not the fixture.
  val q205 = query("q205_planted_recall")((s, dir) => {
    val id = col("doc_id").cast("long")
    val bb = id % 8
    val aa = ((id % 64) / 8).cast("long")
    val emb = transform(sequence(lit(0), lit(63)), d => {
      val sub = (d / 16).cast("int")
      val c = when(sub === 0, bb)
        .when(sub === 1, (bb * 3 + aa) % 8)
        .when(sub === 2, (bb * 5 + aa * 3) % 8)
        .otherwise((bb * 7 + aa * 5) % 8)
      (when((d % 16) === c * 2, lit(10.0)).otherwise(lit(0.0))
        + ((id * 31 + d.cast("long") * 7) % 97).cast("double") / 1000.0).cast("float")
    })
    // The planted fixture is 384 rows by construction, yet ~10 training
    // collects re-derived it (parquet scan + the 64-way when-chain
    // transform) per job and re-compiled that tree into every plan.
    // Materialize it ONCE — the knnIvfPq-internal precedent: checkpointing
    // a bounded TRAINING SAMPLE, not a corpus — so every training job and
    // the truth/search legs read 384 in-memory rows from trivially small
    // plans. Values are unchanged (localCheckpoint materializes, never
    // recomputes differently).
    val e = Tables.documents(s, dir)
      .filter(col("doc_id") < 384)
      .select(id.as("vec_id"), emb.as("embedding"))
      .localCheckpoint()
    val qs = e.filter(col("vec_id") < 5)
    val truth = Similarity.knnExactL2(e, qs, "vec_id", "embedding")
      .select(col("query_id"), col("neighbor_id"))
    // The IVF and IVFPQ legs need the SAME deterministic coarse quantizer
    // (same corpus — a bit-identical retrain): train it
    // once and hand it to both instead of paying two ivfTrain collect
    // chains. The remaining eager chains (PQ codebooks ×2) still share no
    // state — build concurrently (q190's move).
    val cents = Similarity.ivfTrain(e, "vec_id", "embedding")
    val Seq(ivf, pq, ivfpq) = graft.operators.Concurrency.inParallel(Seq(
      () => Similarity
        .knnIvf(e, qs, "vec_id", "embedding",
          pretrained = Some(cents))
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__ivf")),
      () => Similarity
        .knnPq(e, qs, "vec_id", "embedding")
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__pq")),
      () => Similarity
        .knnIvfPq(e, qs, "vec_id", "embedding",
          pretrained = Some(cents))
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__ivfpq"))))
    def recallCols(hits: Column, tag: String) = Seq(
      hits.as(s"${tag}_hits"),
      (hits.cast("double") / col("k").cast("double")).as(s"${tag}_recall"),
      (hits.cast("double") / col("k").cast("double") >= 0.999).as(s"${tag}_ok"))
    truth
      .join(broadcast(ivf), Seq("query_id", "neighbor_id"), "left")
      .join(broadcast(pq), Seq("query_id", "neighbor_id"), "left")
      .join(broadcast(ivfpq), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(
        count(lit(1)).as("k"),
        sum(coalesce(col("__ivf"), lit(0L))).as("__ih"),
        sum(coalesce(col("__pq"), lit(0L))).as("__ph"),
        sum(coalesce(col("__ivfpq"), lit(0L))).as("__vh"))
      .select(col("query_id") +: col("k") +:
        (recallCols(col("__ih"), "ivf") ++
          recallCols(col("__ph"), "pq") ++
          recallCols(col("__vh"), "ivfpq")): _*)
      .orderBy("query_id")
  })({
    def qz(x: String) = duckQz(x)
    s"""WITH psrc AS (SELECT CAST(doc_id AS BIGINT) AS vec_id FROM documents WHERE doc_id < 384),
       |embeddings AS (SELECT vec_id, list_transform(range(0, 64), d -> CAST(
       |    CASE WHEN (d % 16) = 2 * (CASE d // 16
       |        WHEN 0 THEN vec_id % 8
       |        WHEN 1 THEN ((vec_id % 8) * 3 + (vec_id % 64) // 8) % 8
       |        WHEN 2 THEN ((vec_id % 8) * 5 + ((vec_id % 64) // 8) * 3) % 8
       |        ELSE ((vec_id % 8) * 7 + ((vec_id % 64) // 8) * 5) % 8 END)
       |      THEN 10.0 ELSE 0.0 END
       |    + CAST((vec_id * 31 + d * 7) % 97 AS DOUBLE) / 1000.0 AS FLOAT)) AS embedding
       |  FROM psrc),
       |$duckIvfA1Ctes,
       |$duckIvfPqChainCtes,
       |${duckPqChainCtes("p")},
       |iq AS (SELECT vec_id AS query_id, cluster FROM (
       |        SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
       |        FROM d1 WHERE vec_id < 5) WHERE rn <= 2),
       |icand AS (SELECT p.query_id, a1.vec_id AS neighbor_id
       |         FROM iq p JOIN a1 ON a1.cluster = p.cluster AND a1.vec_id <> p.query_id),
       |ipr AS (SELECT c.query_id, c.neighbor_id, unnest(q.embedding) AS qe, unnest(n.embedding) AS ne
       |       FROM icand c JOIN embeddings q ON q.vec_id = c.query_id
       |                    JOIN embeddings n ON n.vec_id = c.neighbor_id),
       |isc AS (SELECT query_id, neighbor_id,
       |        CAST(sum(CAST(${qz("qe")} * ${qz("ne")} AS DECIMAL(36,12))) AS DOUBLE) AS dot,
       |        CAST(sum(CAST(${qz("qe")} * ${qz("qe")} AS DECIMAL(36,12))) AS DOUBLE) AS nq,
       |        CAST(sum(CAST(${qz("ne")} * ${qz("ne")} AS DECIMAL(36,12))) AS DOUBLE) AS nn
       |       FROM ipr GROUP BY query_id, neighbor_id),
       |ivf5 AS (SELECT query_id, neighbor_id FROM (
       |        SELECT query_id, neighbor_id,
       |          row_number() OVER (PARTITION BY query_id ORDER BY dot/sqrt(nq*nn) DESC, neighbor_id) AS rnk
       |        FROM isc) WHERE rnk <= 5),
       |xq AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
       |xp AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |        unnest(q.embedding) AS qe, unnest(n.embedding) AS ne
       |       FROM xq q JOIN embeddings n ON n.vec_id <> q.vec_id),
       |xd AS (SELECT query_id, neighbor_id, ${duckDsq("qe", "ne")} AS dist
       |       FROM xp GROUP BY query_id, neighbor_id),
       |xt AS (SELECT query_id, neighbor_id FROM (
       |        SELECT query_id, neighbor_id,
       |          row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rn
       |        FROM xd) WHERE rn <= 5),
       |pq5 AS (SELECT query_id, neighbor_id FROM pr WHERE rnk <= 5),
       |vq5 AS (SELECT query_id, neighbor_id FROM r WHERE rnk <= 5)
       |SELECT t.query_id, CAST(count(*) AS BIGINT) AS k,
       |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ivf_hits,
       |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS ivf_recall,
       |  (CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) >= 0.999) AS ivf_ok,
       |  CAST(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS pq_hits,
       |  CAST(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS pq_recall,
       |  (CAST(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) >= 0.999) AS pq_ok,
       |  CAST(sum(CASE WHEN v.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ivfpq_hits,
       |  CAST(sum(CASE WHEN v.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS ivfpq_recall,
       |  (CAST(sum(CASE WHEN v.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) >= 0.999) AS ivfpq_ok
       |FROM xt t
       |LEFT JOIN ivf5 i ON i.query_id = t.query_id AND i.neighbor_id = t.neighbor_id
       |LEFT JOIN pq5 p ON p.query_id = t.query_id AND p.neighbor_id = t.neighbor_id
       |LEFT JOIN vq5 v ON v.query_id = t.query_id AND v.neighbor_id = t.neighbor_id
       |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin
  })
}
