package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Apply a BPE merge table to a symbol array — each merge (lhs, rhs), in
  * rank order, replaces adjacent (lhs, rhs) symbol pairs greedily
  * left-to-right without overlap ("aaa" under (a,a) → "aa a") — as a
  * native codegen expression.
  *
  * Why a custom Expression (SURVEY.md §7 preference ladder, tier b): the
  * `aggregate()` higher-order-function fold this replaces is (a)
  * CodegenFallback — the whole projection drops out of whole-stage codegen
  * — and (b) accidentally QUADRATIC per word per merge: its accumulator
  * concatenates a fresh output array per element. Chained once per merge
  * (the encode path applies every merge), that interpreted O(Σ len²) fold
  * measured 19 s on the sf1 vocabulary; this kernel is one in-place linear
  * walk per merge, inside codegen, and applies the WHOLE table in one
  * projection — so a 32k-merge production table is one expression, not
  * 32k nested plan nodes.
  *
  * Semantics are byte-identical to the sequential fold: merges apply in
  * the given order, each as a full greedy non-overlapping left-to-right
  * pass over the PREVIOUS pass's output. Null elements never match and
  * copy through (the char-split producer never emits them); a null ARRAY
  * yields null.
  */
case class BpeMergeFold(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  require(merges.nonEmpty, "BpeMergeFold: empty merge table")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_bpe_merge_fold requires array<string>, got ${t.sql}")
    }

  override def dataType: DataType = child.dataType

  override def prettyName: String = "graft_bpe_merge_fold"

  // (lhs, rhs, lhs+rhs) as UTF8String triples, shipped once per task via
  // reference objects (codegen) / captured here (interpreted).
  @transient private lazy val lhsArr: Array[UTF8String] =
    merges.map(m => UTF8String.fromString(m._1)).toArray
  @transient private lazy val rhsArr: Array[UTF8String] =
    merges.map(m => UTF8String.fromString(m._2)).toArray
  @transient private lazy val outArr: Array[UTF8String] =
    merges.map(m => UTF8String.fromString(m._1 + m._2)).toArray

  override def nullSafeEval(input: Any): Any =
    BpeMergeFold.fold(input.asInstanceOf[ArrayData], lhsArr, rhsArr, outArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val u = "org.apache.spark.unsafe.types.UTF8String[]"
    val ls = ctx.addReferenceObj("bpeLhs", lhsArr, u)
    val rs = ctx.addReferenceObj("bpeRhs", rhsArr, u)
    val os = ctx.addReferenceObj("bpeOut", outArr, u)
    defineCodeGen(ctx, ev, a => s"graft.plans.BpeMergeFold.fold($a, $ls, $rs, $os)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeMergeFold =
    copy(child = newChild)
}

object BpeMergeFold {

  /** Shared by interpreted eval and generated code: copy the symbols into
    * a working buffer, fold every merge over it in place (output never
    * outgrows input, so write ptr ≤ read ptr), return the folded prefix. */
  def fold(
      a: ArrayData,
      ls: Array[UTF8String],
      rs: Array[UTF8String],
      os: Array[UTF8String]): ArrayData = {
    val n0 = a.numElements()
    val buf = new Array[UTF8String](n0)
    var i = 0
    while (i < n0) {
      buf(i) = if (a.isNullAt(i)) null else a.getUTF8String(i)
      i += 1
    }
    var len = n0
    var m = 0
    while (m < ls.length) {
      val lh = ls(m); val rh = rs(m); val mg = os(m)
      var w = 0
      i = 0
      while (i < len) {
        if (i + 1 < len && buf(i) != null && buf(i + 1) != null &&
            buf(i).equals(lh) && buf(i + 1).equals(rh)) {
          buf(w) = mg; w += 1; i += 2
        } else {
          buf(w) = buf(i); w += 1; i += 1
        }
      }
      len = w
      m += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(buf, len).asInstanceOf[Array[Any]])
  }
}
