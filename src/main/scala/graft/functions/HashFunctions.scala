package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic 64-bit hashing built from Column arithmetic (wrapping long
  * ops — the engine runs non-ANSI, see [[graft.Graft.prepare]]) so the whole
  * pipeline stays inside whole-stage codegen. Used by MinHash / SimHash /
  * LSH: reproducible across runs, partitionings, and cluster sizes, which is
  * what makes dedup decisions stable when a 100 TB job is resumed or
  * re-sharded.
  */
object HashFunctions {

  /** SplitMix64's increment, 0x9E3779B97F4A7C15 as a signed long. */
  final val Golden = -7046029254386353131L

  /** SplitMix64 finalizer (public-domain mixing constants). */
  def mix64(x: Column): Column = {
    val z0 = x + lit(Golden)
    val z1 = (z0.bitwiseXOR(shiftrightunsigned(z0, 30))) * lit(-4658895280553007687L) // 0xBF58476D1CE4E5B9
    val z2 = (z1.bitwiseXOR(shiftrightunsigned(z1, 27))) * lit(-7723592293110705685L) // 0x94D049BB133111EB
    z2.bitwiseXOR(shiftrightunsigned(z2, 31))
  }

  /** JVM twin of [[mix64]] for row-local code (mapPartitions codecs, the
    * MinHash kernel, streaming state updates, test goldens) — same
    * SplitMix64 finalizer on a plain Long, so Column-side, JVM-side, and
    * the DuckDB oracle's replay all agree. */
  def mix64Long(x: Long): Long = {
    val z0 = x + Golden
    val z1 = (z0 ^ (z0 >>> 30)) * -4658895280553007687L
    val z2 = (z1 ^ (z1 >>> 27)) * -7723592293110705685L
    z2 ^ (z2 >>> 31)
  }

  /** Seeded re-hash of a base 64-bit hash: family member `seed` of a hash
    * family, h_seed(x) = mix64(x + seed * GOLDEN). */
  def seeded(base: Column, seed: Column): Column =
    mix64(base + seed.cast("long") * lit(Golden))

  /** 64-bit hash of a string token (xxhash64 — codegen'd Spark built-in). */
  def tokenHash(token: Column): Column = xxhash64(token)

  /** UNSIGNED-u64 `h mod n` computed from the signed long `h` —
    * cross-engine-safe residues for non-power-of-two `n` (for powers of
    * two, `& (n-1)` is simpler and used throughout the sketches). A naive
    * signed `pmod(h, n)` does NOT equal DuckDB's `CAST(h AS UBIGINT) % n`
    * when h is negative, because 2⁶⁴ mod n ≠ 0. Decompose into 32-bit
    * halves: (hi·2³² + lo) mod n = ((hi mod n)·(2³² mod n) + lo mod n)
    * mod n — every intermediate < 2⁶², no overflow, all nonneg.
    * Requires 0 < n < 2³¹ (caller-guarded). */
  def u64Mod(h: Column, n: Column): Column = {
    val hi = shiftrightunsigned(h, 32)
    val lo = h.bitwiseAND(lit(0xffffffffL))
    ((hi % n) * (lit(4294967296L) % n) + lo % n) % n
  }

  /** JVM twin of [[u64Mod]] (same decomposition). */
  def u64ModLong(h: Long, n: Long): Long = {
    val hi = h >>> 32
    val lo = h & 0xffffffffL
    ((hi % n) * (4294967296L % n) + lo % n) % n
  }
}
