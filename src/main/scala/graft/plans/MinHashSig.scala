package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.functions.HashFunctions

/** MinHash signature kernel: given a document's (distinct) shingle hashes
  * as `array<bigint>`, the element-wise minimum of `numHashes` seeded
  * splitmix64 re-hashes — sig[i] = min over shingles h of
  * mix64(h + (i+1)·GOLDEN), exactly [[graft.functions.HashFunctions.seeded]]
  * folded with `least` (so the DuckDB oracle for q26 is unchanged).
  *
  * Why a custom Expression (SURVEY.md §7 ladder, tier b — same case as
  * [[CosineSimilarity]]): the built-in composition
  * `aggregate(hashes, array_repeat(MaxValue), zip_with(least(seeded)))`
  * allocates a fresh numHashes-long array per SHINGLE and walks it through
  * boxed lambda calls; sketching is per-row compute over shingles ×
  * numHashes mixes, the dominant cost of the MinHash/LSH dedup tier. This
  * kernel runs the whole fold in one primitive long[] with no per-element
  * allocation, inside whole-stage codegen. The fold is
  * [[MinHashSig.signature]], which eval and the generated code both call;
  * its mix is [[graft.functions.HashFunctions.mix64Long]].
  *
  * Null shingle-hash elements are skipped (the `least(m, null) = m`
  * behavior of the composition); an empty array yields all Long.MaxValue;
  * a null array yields null.
  */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression {

  require(numHashes > 0, "numHashes must be positive")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_minhash requires array<bigint> input, got ${t.sql}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_minhash"

  override def nullSafeEval(input: Any): Any =
    MinHashSig.signature(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.MinHashSig.signature($a, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {

  /** Shared by interpreted eval and generated code: sig[i] = min over the
    * non-null hashes h of `seeded(h, i + 1)`. */
  def signature(hs: ArrayData, numHashes: Int): ArrayData = {
    val m = new Array[Long](numHashes)
    java.util.Arrays.fill(m, Long.MaxValue)
    val n = hs.numElements()
    var j = 0
    while (j < n) {
      if (!hs.isNullAt(j)) {
        val h = hs.getLong(j)
        var i = 0
        while (i < numHashes) {
          // seeded(h, i + 1) = mix64(h + (i + 1)·GOLDEN); mix64Long adds one GOLDEN itself
          val v = HashFunctions.mix64Long(h + i.toLong * HashFunctions.Golden)
          if (v < m(i)) m(i) = v
          i += 1
        }
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(m)
  }
}
