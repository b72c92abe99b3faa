package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused cosine similarity over two `array<float>` columns as a native
  * Catalyst expression with whole-stage codegen.
  *
  * Why a custom Expression (SURVEY.md §7 preference ladder, tier b): the
  * built-in composition — `aggregate(zip_with(...))` ×3 for dot and both
  * norms — allocates an intermediate array per pair and walks the vectors
  * three times through boxed lambda calls. Pair scoring is compute-bound
  * (pairs × dimensions multiply-adds), so it earns a fused single-pass loop
  * over the raw column floats: no allocation, no virtual calls, stays
  * inside the surrounding WholeStageCodegen stage.
  *
  * Numerics: plain double accumulation in index order (same contract as
  * [[graft.functions.VectorFunctions.cosine]]). It decides no result: it
  * is the cheap prefilter of the two-phase scoring in
  * [[graft.operators.Similarity.nearDupPairs]] and `semDedup`, whose
  * survivors are re-scored with the decimal-accumulation expressions.
  * Null elements count as 0; zero-norm inputs yield NaN (double division
  * semantics).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_cosine requires two array<float> arguments, got ${l.sql} and ${r.sql}")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.CosineSimilarity.cosine($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {

  /** Shared by interpreted eval and generated code: dot and both norms in
    * one pass over the shorter length. */
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = if (x.isNullAt(i)) 0.0 else x.getFloat(i).toDouble
      val yi = if (y.isNullAt(i)) 0.0 else y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / math.sqrt(nx * ny)
  }
}
