package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Dense-vector operations over `ArrayType(FloatType)` embedding columns.
  *
  * Everything here is built from codegen'd higher-order functions
  * (`zip_with` / `aggregate`) — no UDFs, no serialization breaks — so a
  * brute-force similarity scan stays inside whole-stage codegen and scales
  * linearly with executors.
  *
  * Dot products and cosines accumulate in decimal (`dotExact`/
  * `cosineExact`): exact, hence order-independent and bit-identical across
  * engines, as results that must hash-match the DuckDB oracle need. The
  * double-accumulating cosine is the [[graft.plans.CosineSimilarity]]
  * kernel (`GraftFunctions.cosineFast`).
  */
object VectorFunctions {

  // Element quantization (DECIMAL(18,6)) lives in the ExactVecScaled /
  // IvfArgminL2 kernels; only the accumulator type is still composed
  // column-side (sumExactDec).
  // Precision 30, not 38: Spark's decimal addition widens precision by one,
  // and past the 38 cap it TRIMS SCALE in the add result itself (scale 12 →
  // 11) before any re-cast can intervene. (30,12)+(30,12) → (31,12) stays
  // lossless under the cap.
  private val Acc = DecimalType(30, 12)

  /** Elements are quantized to DECIMAL(18,6) (a cast whose rounding both
    * engines agree on to ~1e-10 probability of divergence — unlike casting
    * the ~1e-2 double PRODUCTS to scale 14, where DuckDB's multiply-by-1e14
    * in double precision lands one unit off Spark's exact BigDecimal
    * rounding measurably often). From there everything is exact decimal:
    * products at scale 12, order-independent sum, one cast back to double.
    *
    * The decimal pipeline runs inside the
    * [[graft.plans.ExactVecScaled]] codegen kernel (scaled-long arithmetic,
    * same DECIMAL(18,6)-quantize / scale-12-sum rational, bit-identical
    * result) — the old `aggregate(zip_with(...))` composition was
    * CodegenFallback: a boxed lambda call and ~4 BigDecimal allocations per
    * ELEMENT, on the one genuinely compute-bound per-pair path.
    */
  def dotExact(a: Column, b: Column): Column =
    graft.plans.GraftFunctions.dotExactDec(a, b).cast("double")

  def norm2Exact(a: Column): Column = dotExact(a, a)

  /** Bit-deterministic squared L2 distance: elements quantized to
    * DECIMAL(18,6), differences re-bounded to the element type (embedding
    * coordinates are O(1), so the cast is lossless), squared products
    * summed exactly. The coarse-quantizer metric for IVF. */
  def l2SqExact(a: Column, b: Column): Column =
    l2SqExactDec(a, b).cast("double")

  /** [[l2SqExact]] WITHOUT the final double cast — DECIMAL(30,12) out, for
    * callers that keep accumulating exactly across terms (the PQ ADC sum
    * over per-subspace distances, where a double-fold's addition order
    * would diverge cross-engine). Kernel-backed (see [[dotExact]]). */
  def l2SqExactDec(a: Column, b: Column): Column =
    graft.plans.GraftFunctions.l2SqExactDec(a, b)

  /** Exact-decimal sum of an array of DECIMAL(30,12) terms (order-
    * independent — the reduction any cross-engine-deterministic total over
    * per-part exact distances needs). */
  def sumExactDec(arr: Column): Column =
    aggregate(arr, lit(0).cast(Acc), (acc, x) => (acc + x).cast(Acc))

  /** Bit-deterministic cosine similarity. */
  def cosineExact(a: Column, b: Column): Column =
    dotExact(a, b) / sqrt(norm2Exact(a) * norm2Exact(b))

  /** Sign bits of [[graft.operators.Similarity.LshPlanes]] pseudo-random
    * hyperplane projections — the
    * random-hyperplane LSH family for cosine similarity (Charikar 2002).
    * The "hyperplanes" are derived deterministically per (plane, dimension)
    * from a seeded integer hash, so signatures are reproducible across runs
    * and cluster layouts without shipping a plane matrix. Returns an
    * Array[Int] of 0/1 bits.
    */
  def hyperplaneSignBits(vec: Column, seed: Int): Column =
    transform(
      sequence(lit(0), lit(graft.operators.Similarity.LshPlanes - 1)),
      p => {
        // projection_p = sum_d vec[d] * w(p, d), w in [-1, 1) derived from
        // a 64-bit integer mix of (seed, p, d).
        val proj = aggregate(
          zip_with(
            vec,
            sequence(lit(0), size(vec) - 1),
            (x, d) => {
              val mixed = HashFunctions.mix64(p * lit(1000003L) + d.cast("long") + lit(seed.toLong) * lit(2654435761L))
              // map int64 → [-1, 1)
              x.cast("double") * (mixed.cast("double") / lit(9.223372036854776e18))
            }
          ),
          lit(0.0),
          (acc, x) => acc + x
        )
        when(proj >= 0, 1).otherwise(0)
      }
    )

  /** Pack an array of 0/1 bits into a long bucket id (max 63 bits). */
  def packBits(bits: Column): Column =
    aggregate(bits, lit(0L), (acc, b) => acc * 2 + b.cast("long"))

  /** max |xᵢ| as a double — the per-vector absmax quantization scale.
    * Max is order-independent, so the fold is bit-deterministic no matter
    * how the array arrived. */
  def absMax(vec: Column): Column =
    aggregate(vec, lit(0.0), (acc, x) => greatest(acc, abs(x.cast("double"))))

  /** Symmetric absmax int8 quantization: qᵢ = clamp(⌊xᵢ/absmax·127⌋, ±127)
    * as an Array[Long] (an all-zero vector quantizes to zeros). floor — not
    * round — so both engines agree bit-for-bit (round's half-way rule
    * differs across engines; floor is IEEE-exact everywhere). Pure codegen
    * transform: at 100 TB the quantization rides the scan, the 4×-smaller
    * sink is the payoff. */
  def int8Quantize(vec: Column, absmax: Column): Column =
    transform(
      vec,
      x =>
        when(absmax === 0.0, lit(0L)).otherwise(
          greatest(lit(-127L), least(lit(127L), floor(x.cast("double") / absmax * 127)))))

  /** Largest per-element reconstruction error |xᵢ − qᵢ·absmax/127| of the
    * int8 quantization — the quality gate a pipeline asserts on before
    * committing to the quantized copy. */
  def int8MaxError(vec: Column, quantized: Column, absmax: Column): Column =
    when(absmax === 0.0, lit(0.0)).otherwise(
      aggregate(
        zip_with(vec, quantized,
          (x, q) => abs(x.cast("double") - q.cast("double") * absmax / 127)),
        lit(0.0),
        (acc, e) => greatest(acc, e)))
}
