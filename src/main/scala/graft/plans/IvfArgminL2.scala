package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Nearest-centroid assignment (exact-decimal squared L2, ties to the
  * smaller label) as ONE native codegen expression over the whole
  * centroid matrix — the IVF coarse-assign kernel.
  *
  * Why a custom Expression (SURVEY.md §7 ladder, tier b): the previous
  * form built a k-way `least` over per-centroid `struct(l2SqExact, label)`
  * columns, inlining every centroid coordinate as a plan literal — plan
  * size and codegen grow as k × dim, workable at the fixture k = 8 but
  * codegen-explosive at paper-scale cluster counts (measured: k = 800
  * × 64 dims = 51k literals, the scaled-k SemDeDup demo crawled in
  * compilation). Here the matrix ships ONCE per task as a reference
  * object (the [[BpeMergeFold]] convention) and the argmin is a tight
  * long-arithmetic loop — k ∝ N cluster counts (SemDeDup's scale
  * contract) become an expression parameter, not a plan-size hazard.
  *
  * EXACT-ARITHMETIC CONTRACT, bit-compatible with the column form it
  * replaces ([[graft.functions.VectorFunctions.l2SqExact]] semantics):
  * every coordinate quantizes to DECIMAL(18,6) — reproduced here as
  * `BigDecimal.valueOf(x).setScale(6, HALF_UP)` scaled longs, the exact
  * rounding Spark's double→decimal cast performs — and distances are
  * Σ (Δq)² in 10⁻¹² units, compared as EXACT longs. (The old k-way
  * `least` compared distances after a final cast to double; the exact
  * compare matches the DuckDB oracle's decimal arithmetic strictly
  * better — they differ only where two distances collide within a
  * double ulp, where the double form was the one diverging from the
  * oracle.) Overflow contract: with 10⁻⁶
  * quantization, Σ over `dim` of (Δq)² stays within Long for coordinate
  * magnitudes up to ~√(2⁶³/dim)/2 × 10⁻⁶ — ≈ 48 at 1,000 dims, ≈ 190 at
  * 64 dims — NOT ~10⁵ as previously claimed. Embeddings are O(1) by the
  * l2SqExact contract, far inside that bound; out-of-contract magnitudes
  * now fail LOUDLY (ArithmeticException from [[IvfArgminL2.argmin]] /
  * [[IvfArgminL2.quantize]]) instead of wrapping to a silent wrong argmin.
  *
  * Nulls: a null vector yields null (UnaryExpression contract); a null
  * ELEMENT or a length mismatch against the centroid dim yields null
  * rather than a garbage nearest — loud in downstream non-null contracts.
  */
case class IvfArgminL2(
    child: Expression,
    labels: Array[Long],
    cents: Array[Array[Long]]) extends UnaryExpression {

  require(labels.nonEmpty && labels.length == cents.length,
    "IvfArgminL2: labels and centroid rows must align and be non-empty")
  require(cents.forall(_.length == cents(0).length),
    "IvfArgminL2: ragged centroid matrix")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_ivf_argmin requires array<float|double>, got ${t.sql}")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_ivf_argmin"

  // lazy: child.dataType is only known post-analysis (the Column-API
  // constructor sees an unresolved attribute)
  @transient private lazy val elemIsFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else IvfArgminL2.argmin(v.asInstanceOf[ArrayData], elemIsFloat, labels, cents)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lbl = ctx.addReferenceObj("ivfLabels", labels, "long[]")
    val cm = ctx.addReferenceObj("ivfCents", cents, "long[][]")
    // freshName, not a fixed local: two graft_ivf_argmin calls fused into
    // one whole-stage-codegen function would otherwise declare `r` twice —
    // a Janino compile failure and a silent interpreted-mode fallback.
    val r = ctx.freshName("ivfArgminRes")
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |Object $r = graft.plans.IvfArgminL2.argmin($a, $elemIsFloat, $lbl, $cm);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = ((Long) $r).longValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): IvfArgminL2 =
    copy(child = newChild)
}

object IvfArgminL2 {

  /** DECIMAL(18,6) quantization as a scaled long — Spark's double→decimal
    * cast rounding (BigDecimal canonical string, HALF_UP at scale 6). */
  def qz6(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  /** Largest scaled-long coordinate magnitude for which the Σ(Δq)²
    * accumulator provably fits a Long at the given dim: worst-case
    * |Δq| ≤ 2·maxAbs, so dim·(2·maxAbs)² ≤ 2⁶³−1. ≈ 4.8×10⁷ scaled units
    * (coordinate ~48) at dim=1000. */
  def magLimit(dim: Int): Long =
    (math.sqrt(Long.MaxValue.toDouble / dim) / 2).toLong

  // lim is hoisted by every caller (one sqrt per CALL, not per element —
  // the argmin runs per row on a 100 TB column). private[plans]: the
  // ExactVecScaled kernel shares the same quantization contract and guard.
  private[plans] def requireMag(q: Long, lim: Long, dim: Int): Unit = {
    if (q > lim || q < -lim)
      throw new ArithmeticException(
        s"graft_ivf_argmin: coordinate magnitude ${q / 1e6} exceeds the " +
          s"exact-arithmetic contract |x| <= ${lim / 1e6} at dim=$dim " +
          "(Long accumulator would wrap); embeddings are O(1) by contract — " +
          "normalize or scale the vectors before IVF assignment")
  }

  /** Quantize a centroid matrix (label, coords) → (labels, scaled rows).
    * Out-of-contract magnitudes fail loudly here, at build time. */
  def quantize(cents: Array[(Long, Seq[Double])]): (Array[Long], Array[Array[Long]]) = {
    val rows = cents.map(_._2.map(qz6).toArray)
    rows.foreach { r =>
      val lim = magLimit(r.length)
      r.foreach(requireMag(_, lim, r.length))
    }
    (cents.map(_._1), rows)
  }

  /** Shared by interpreted eval and generated code. Returns a boxed Long
    * label, or null on a null element / dim mismatch. */
  def argmin(
      a: ArrayData,
      elemIsFloat: Boolean,
      labels: Array[Long],
      cents: Array[Array[Long]]): java.lang.Long = {
    val dim = cents(0).length
    val n = a.numElements()
    if (n != dim) return null
    val q = new Array[Long](n)
    val lim = magLimit(dim)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      q(i) = qz6(if (elemIsFloat) a.getFloat(i).toDouble else a.getDouble(i))
      requireMag(q(i), lim, dim)
      i += 1
    }
    var bestD = Long.MaxValue
    var bestL = Long.MaxValue
    var c = 0
    while (c < cents.length) {
      val row = cents(c)
      var d = 0L
      var j = 0
      while (j < dim) {
        val t = q(j) - row(j)
        d += t * t
        j += 1
      }
      val l = labels(c)
      if (d < bestD || (d == bestD && l < bestL)) { bestD = d; bestL = l }
      c += 1
    }
    java.lang.Long.valueOf(bestL)
  }
}
