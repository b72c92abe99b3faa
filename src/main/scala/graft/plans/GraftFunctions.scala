package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Registration surface for the engine's native Catalyst expressions —
  * usable two ways:
  *
  *   - Column API: `GraftFunctions.cosineFast(a, b)`
  *   - SQL: `GraftFunctions.register(spark)` (which [[graft.Graft.prepare]]
  *     calls on every engine session), then
  *     `spark.sql("SELECT graft_cosine(a, b) ...")`
  */
object GraftFunctions {

  /** Fused codegen double cosine — the prefilter of two-phase exact
    * scoring (see [[CosineSimilarity]]). */
  def cosineFast(a: Column, b: Column): Column =
    ColumnBridge.column(
      CosineSimilarity(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** MinHash signature kernel over an `array<bigint>` of shingle hashes
    * (see [[MinHashSig]]), [[graft.operators.Dedup.NumHashes]] long. */
  def minHashSig(hashes: Column): Column =
    ColumnBridge.column(
      MinHashSig(ColumnBridge.expression(hashes), graft.operators.Dedup.NumHashes))

  private val cosineBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 2, "graft_cosine expects exactly 2 arguments")
    CosineSimilarity(children(0), children(1))
  }

  private val minhashBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 2, "graft_minhash expects (hashes, numHashes)")
    val n = children(1) match {
      case e if e.foldable => e.eval(null).asInstanceOf[Number].intValue()
      case _ => throw new IllegalArgumentException(
        "graft_minhash numHashes must be a literal")
    }
    MinHashSig(children(0), n)
  }

  /** Fused importance-scoring kernel (see [[EnrichedTokenCount]]): packed
    * `(n_tokens << 32) | n_enriched` of `tokens` against the verdict
    * bitmap. Column-API only — the bitmap is a driver-side array, not a
    * SQL literal. */
  def enrichedCount(tokens: Column, bits: Array[Long]): Column =
    ColumnBridge.column(
      EnrichedTokenCount(ColumnBridge.expression(tokens), bits.toIndexedSeq))

  /** Unicode NFC normalization (see [[NfcNormalize]]). */
  def nfcNormalize(s: Column): Column =
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(s)))

  /** Merge-walk intersection cardinality of two sorted string-array sets
    * (see [[SortedIntersectCount]]) — the PPJoin verify kernel. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(
      SortedIntersectCount(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Apply a BPE merge table, in rank order, each merge a greedy
    * non-overlapping left-to-right pass (see [[BpeMergeFold]]) — the BPE
    * train/encode kernel. */
  def bpeMergeFold(syms: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(BpeMergeFold(ColumnBridge.expression(syms), merges))

  /** Nearest-centroid label by exact-decimal squared L2, ties to the
    * smaller label (see [[IvfArgminL2]]) — the IVF coarse-assign kernel;
    * the centroid matrix ships once per task as a reference object, so
    * cluster counts scale with the corpus (k ∝ N) instead of with plan
    * size. Column-API only (a matrix parameter is not SQL-expressible,
    * the [[BpeMergeFold]] convention). */
  def ivfArgmin(vec: Column, labels: Array[Long], cents: Array[Array[Long]]): Column =
    ColumnBridge.column(IvfArgminL2(ColumnBridge.expression(vec), labels, cents))

  /** Exact-decimal dot product as DECIMAL(30,12) (see [[ExactVecScaled]])
    * — the oracle-tier pair-scoring kernel behind
    * [[graft.functions.VectorFunctions.dotExact]]. */
  def dotExactDec(a: Column, b: Column): Column =
    ColumnBridge.column(
      ExactVecScaled(ColumnBridge.expression(a), ColumnBridge.expression(b), dot = true))

  /** Exact-decimal squared L2 as DECIMAL(30,12) (see [[ExactVecScaled]]). */
  def l2SqExactDec(a: Column, b: Column): Column =
    ColumnBridge.column(
      ExactVecScaled(ColumnBridge.expression(a), ColumnBridge.expression(b), dot = false))

  private val nfcBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 1, "graft_nfc expects exactly 1 argument")
    NfcNormalize(children.head)
  }

  /** HTML character-reference decode (see [[HtmlEntityDecode]]) — named
    * entities + decimal/hex numeric refs, single-pass single-decode. */
  def htmlUnescape(s: Column): Column =
    ColumnBridge.column(HtmlEntityDecode(ColumnBridge.expression(s)))

  private val htmlUnescapeBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 1, "graft_html_unescape expects exactly 1 argument")
    HtmlEntityDecode(children.head)
  }

  /** `<pre>` whitespace → C0 sentinels (see [[PreWhitespaceSentinels]]) —
    * the protect half of htmlToText's preformatted-block rule; the
    * extractor translates the sentinels back after its global collapse. */
  def preSentinels(s: Column): Column =
    ColumnBridge.column(PreWhitespaceSentinels(ColumnBridge.expression(s)))

  private val preSentinelsBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 1, "graft_pre_sentinels expects exactly 1 argument")
    PreWhitespaceSentinels(children.head)
  }

  /** Grouped top-k aggregate (see [[TopKAgg]]): the k largest `(ord, id)`
    * pairs by (ord DESC, id ASC), in rank order. Use instead of a
    * `row_number` window when only the top k rows per group are needed —
    * partial aggregation keeps the shuffle at groups × k. */
  def topK(ord: Column, id: Column, k: Int): Column =
    ColumnBridge.column(
      TopKAgg(ColumnBridge.expression(ord), ColumnBridge.expression(id), k)
        .toAggregateExpression())

  private val topkBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 3, "graft_topk expects (ord, id, k)")
    val k = children(2) match {
      case e if e.foldable => e.eval(null).asInstanceOf[Number].intValue()
      case _ => throw new IllegalArgumentException(
        "graft_topk k must be a literal")
    }
    TopKAgg(children(0), children(1), k)
  }

  /** Bottom-k-by-hash aggregate (see [[KmvAgg]]): the
    * [[graft.operators.Sketches.KmvK]] pairs with the
    * smallest signed-long hash `h`, payload `v` carried through, sorted by
    * `h` ascending — the register buffer of
    * [[graft.operators.Sketches.kmvRegisters]]. */
  def kmvBottomK(h: Column, v: Column): Column =
    ColumnBridge.column(
      KmvAgg(ColumnBridge.expression(h), ColumnBridge.expression(v), graft.operators.Sketches.KmvK)
        .toAggregateExpression())

  private val kmvBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 3, "graft_kmv expects (h, v, k)")
    val k = children(2) match {
      case e if e.foldable => e.eval(null).asInstanceOf[Number].intValue()
      case _ => throw new IllegalArgumentException(
        "graft_kmv k must be a literal")
    }
    KmvAgg(children(0), children(1), k)
  }

  /** Each SQL function's name, info and builder, built once so that a
    * repeated registration hands the registry the same objects. */
  private val sqlFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq[(String, Class[_], Seq[Expression] => Expression)](
      ("graft_cosine", classOf[CosineSimilarity], cosineBuilder),
      ("graft_minhash", classOf[MinHashSig], minhashBuilder),
      ("graft_nfc", classOf[NfcNormalize], nfcBuilder),
      ("graft_html_unescape", classOf[HtmlEntityDecode], htmlUnescapeBuilder),
      ("graft_pre_sentinels", classOf[PreWhitespaceSentinels], preSentinelsBuilder),
      ("graft_topk", classOf[TopKAgg], topkBuilder),
      ("graft_kmv", classOf[KmvAgg], kmvBuilder),
    ).map { case (name, cls, builder) =>
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)
    }

  /** The one registration path: install the [[FusePercentiles]] optimizer
    * rule and the `graft_*` SQL functions into a running session.
    * Idempotent. The rule's check-and-append holds the session's
    * experimental-methods lock, so concurrent callers (Verify's worker
    * threads all reach [[graft.Graft.prepare]]) append it exactly once;
    * re-registering a function with the same builder replaces it with
    * itself. */
  def register(spark: SparkSession): Unit = {
    val experimental = spark.experimental
    experimental.synchronized {
      if (!experimental.extraOptimizations.contains(FusePercentiles))
        experimental.extraOptimizations = experimental.extraOptimizations :+ FusePercentiles
    }
    val registry = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (id, info, builder) => registry.registerFunction(id, info, builder) }
  }
}

