package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Intersection CARDINALITY of two lexicographically sorted `array<string>`
  * SETS as a native codegen expression — the verify kernel of the PPJoin
  * exact similarity join ([[graft.operators.Dedup.prefixFilterJaccardJoin]]).
  *
  * Why a custom Expression (SURVEY.md §7 preference ladder, tier b): the
  * built-in `size(array_intersect(a, b))` builds a hash set, probes it, and
  * MATERIALIZES the intersection array per pair — allocation proportional
  * to |A∩B| on every one of the candidate pairs, just to read its length.
  * On a near-dup-dense corpus the verify stage runs this over ~10^6 pairs
  * of ~10^2-token arrays and dominates the whole join (measured 2.3 s of
  * q141's 3.4 s verify leg at sf0.1). Sorted inputs admit a two-pointer
  * merge walk: |A|+|B| binary UTF8String comparisons, zero allocation,
  * inside whole-stage codegen.
  *
  * Contract: both arrays sorted ascending in UTF8String binary order (what
  * `array_sort` produces for strings) and duplicate-free (set semantics —
  * the PPJoin token arrays are relationally distinct by construction). On
  * duplicate inputs the walk counts matched occurrences, not distinct
  * matches. Null elements: `array_sort` places them last; the walk stops at
  * the first null on either side (nulls equal nothing). A null ARRAY on
  * either side yields null (BinaryExpression null-intolerance).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_sorted_intersect_count requires two array<string> arguments, " +
            s"got ${l.sql} and ${r.sql}")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCount.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.SortedIntersectCount.count($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {

  /** Shared by interpreted eval and generated code: the two-pointer merge
    * walk, stopping at the first null on either side. */
  def count(x: ArrayData, y: ArrayData): Long = {
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var cnt = 0L
    while (i < nx && j < ny && !x.isNullAt(i) && !y.isNullAt(j)) {
      val c = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (c == 0) { cnt += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    cnt
  }
}
