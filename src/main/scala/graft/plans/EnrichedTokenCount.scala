package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused importance-scoring kernel: given a document's tokens
  * (`array<string>`) and a verdict BITMAP over hashed-unigram buckets
  * (bit b set ⇔ bucket b target-enriched), count in one pass how many
  * tokens land in enriched buckets — the map-only inner loop of
  * [[graft.operators.Importance]] with no explode, no join, no shuffle.
  *
  * Per token: `bucket = xxhash64(token, seed 42) & (64·bits.length − 1)`
  * — the identical hash the built-in `xxhash64` computes (the kernel calls
  * the same [[XXH64]] bytes hasher; ExpressionSpec pins agreement), so the
  * fused path is bit-equivalent to the explode + broadcast-join
  * composition and to the DuckDB oracle replay.
  *
  * Output packs `(n_tokens << 32) | n_enriched` into one BIGINT — both
  * counts bounded by the array length, far under 2^32 — which keeps the
  * expression primitive-typed for whole-stage codegen; unpack with
  * `shiftright`/`& 0xffffffff`. Why a custom Expression (SURVEY.md §7
  * ladder, tier b — same case as [[MinHashSig]]): the built-in route
  * either explodes the token stream (a row per token through the
  * exchange) or walks boxed higher-order-function lambdas outside
  * whole-stage codegen; this loop is primitive, allocation-free past the
  * tokens array, and fuses into the scan stage.
  *
  * `bits.length` must be a power of two (bucket masking); null tokens are
  * skipped; a null array yields null.
  */
case class EnrichedTokenCount(child: Expression, bits: IndexedSeq[Long])
    extends UnaryExpression {

  require(bits.nonEmpty && (bits.length & (bits.length - 1)) == 0,
    s"bits.length must be a power of two, got ${bits.length}")

  // IndexedSeq in the case-class signature gives structural equality (an
  // Array field compares by reference, defeating semanticEquals /
  // subexpression elimination); the hot loop runs over the primitive copy,
  // shipped once per task as a reference object in generated code
  @transient private lazy val bitsArr: Array[Long] = bits.toArray

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_enriched_count requires array<string> input, got ${t.sql}")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_enriched_count"

  override def nullSafeEval(input: Any): Any =
    EnrichedTokenCount.count(input.asInstanceOf[ArrayData], bitsArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bitsRef = ctx.addReferenceObj("enrichedBits", bitsArr, "long[]")
    defineCodeGen(ctx, ev, a => s"graft.plans.EnrichedTokenCount.count($a, $bitsRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): EnrichedTokenCount =
    copy(child = newChild)
}

object EnrichedTokenCount {

  /** Shared by interpreted eval and generated code: the packed
    * `(n_tokens << 32) | n_enriched` of one token array against the bucket
    * bitmap `bits` (its length a power of two). */
  def count(toks: ArrayData, bits: Array[Long]): Long = {
    val mask = bits.length.toLong * 64L - 1L
    val n = toks.numElements()
    var tokens = 0L
    var enriched = 0L
    var j = 0
    while (j < n) {
      if (!toks.isNullAt(j)) {
        tokens += 1L
        val b = (XXH64.hashUTF8String(toks.getUTF8String(j), 42L) & mask).toInt
        if ((bits(b >>> 6) & (1L << (b & 63))) != 0L) enriched += 1L
      }
      j += 1
    }
    (tokens << 32) | enriched
  }
}
