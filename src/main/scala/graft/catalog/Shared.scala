package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.TextFunctions

/** DuckDB SQL fragments and fixture helpers used by more than one
  * catalog family. [[dSum]], [[dAvg]] and [[dStd]] mirror
  * [[graft.functions.AggFunctions]]' exact aggregates; keep them in
  * lockstep with it. */
private[catalog] object Shared {

  // SQL fragment helpers (DuckDB dialect) mirroring AggFunctions exactly.
  def dSum(e: String, scale: Int = 4) =
    s"CAST(sum(CAST($e AS DECIMAL(38,$scale))) AS DOUBLE)"

  def dAvg(e: String, scale: Int = 4) =
    s"${dSum(e, scale)}/count($e)"

  /** DuckDB mirror of [[AggFunctions.stddevExact]] — keep in LOCKSTEP with
    * it: integer-units squared sum (exact, via HUGEINT — DuckDB executes
    * DECIMAL(18)×DECIMAL(18) in int64 and overflows past ~9.2e18), then
    * the same magnitude-tiered truncation (HUGEINT floor-div ≡ Spark's
    * remainder-subtract on non-negatives; small sums convert exactly) and
    * the same clamped fixed-order closed form. */
  def dStd(e: String, scale: Int = 4) = {
    val unit = math.pow(10, scale).toLong
    val u = s"CAST(CAST(CAST($e AS DECIMAL(18,$scale)) * $unit AS DECIMAL(18,0)) AS HUGEINT)"
    val ssu = s"sum($u * $u)"
    val exactK = s"1e${-2 * scale}"
    val tiers = (3 to 21 by 3).map { d =>
      val thresh = (BigDecimal(9) * BigDecimal(10).pow(15 + d)).toBigInt
      s"WHEN $ssu < $thresh THEN CAST($ssu // ${BigDecimal(10).pow(d).toBigInt} AS DOUBLE) * 1e${d - 2 * scale}"
    }.mkString(" ")
    val last = s"ELSE CAST($ssu // ${BigDecimal(10).pow(24).toBigInt} AS DOUBLE) * 1e${24 - 2 * scale}"
    val ss = s"(CASE WHEN $ssu < 9000000000000000 THEN CAST($ssu AS DOUBLE) * $exactK $tiers $last END)"
    s"sqrt(greatest($ss - ${dSum(e, scale)}*${dSum(e, scale)}/CAST(count($e) AS DOUBLE), CAST(0.0 AS DOUBLE))" +
      s"/(CAST(count($e) AS DOUBLE) - CAST(1.0 AS DOUBLE)))"
  }

  // DuckDB mirrors of TextFunctions' quality expressions (shared by q22 and
  // the composed-curation q73 so the two oracles can never drift apart).
  val duckNTokens =
    "(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)"

  val duckPunctRatio = {
    val punct = "(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))"
    s"CASE WHEN length(text) = 0 THEN CAST(0.0 AS DOUBLE) ELSE CAST($punct AS DOUBLE)/CAST(length(text) AS DOUBLE) END"
  }

  val duckStopCount = {
    val stopList = TextFunctions.StopWords.map(w => s"'$w'").mkString(", ")
    s"""len(list_filter(CASE WHEN length(trim(lower(text))) = 0 THEN []
       |    ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END, t -> t IN ($stopList)))""".stripMargin
  }

  val duckStopRatio =
    s"CASE WHEN $duckNTokens = 0 THEN CAST(0.0 AS DOUBLE) ELSE CAST($duckStopCount AS DOUBLE)/CAST($duckNTokens AS DOUBLE) END"

  val duckQualityScore =
    s"""least(CAST($duckNTokens AS DOUBLE)/CAST(64.0 AS DOUBLE), CAST(1.0 AS DOUBLE))*CAST(0.4 AS DOUBLE)
       |  + least(($duckStopRatio)*CAST(4.0 AS DOUBLE), CAST(1.0 AS DOUBLE))*CAST(0.4 AS DOUBLE)
       |  + least(($duckPunctRatio)*CAST(20.0 AS DOUBLE), CAST(1.0 AS DOUBLE))*CAST(0.2 AS DOUBLE)""".stripMargin

  // The full q43 LSH pipeline as a reusable CTE chain ending in
  // `cand(doc_a, doc_b)` — shared by q43 (pairs) and q58 (connected
  // components over those pairs).
  // lshBandedCtes ends at `banded(doc_id, band, bucket)`; lshCandCte
  // appends the self-join candidate CTE used by q43/q58/q61, and q74
  // appends its own cross-parity join instead.
  val lshBandedCtes: String = {
    import DuckHash._
    // Spark's band fold operates on SIGNED mins with wrapping arithmetic —
    // map each signed signature component back to u64 for the fold.
    val minToU64 =
      "CAST(CASE WHEN mn < 0 THEN CAST(mn AS HUGEINT) + 18446744073709551616 ELSE CAST(mn AS HUGEINT) END AS UBIGINT)"
    val bucketFold =
      s"""list_reduce(list_prepend(CAST(1125899906842597 AS UBIGINT),
         |  list_slice(sigu, band*2+1, band*2+2)),
         |  (acc, hh) -> ${mix64Inline(wadd(wmul("acc", "31"), "hh"))})""".stripMargin
    s"""toks AS (
       |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
       |    ELSE regexp_split_to_array(trim(text), '\\s+') END AS t
       |  FROM documents),
       |shg AS (SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN []
       |    ELSE list_transform(range(0, len(t) - 2), i -> array_to_string(list_slice(t, i+1, i+3), ' ')) END) AS shingles
       |  FROM toks),
       |hx0 AS (SELECT doc_id, unnest(shingles) AS tok FROM shg),
       |${xxhash64Ctes("tok")},
       |mx0 AS (SELECT doc_id,
       |  ${wadd("h", wmul("CAST(seed AS UBIGINT)", Golden.toString))} AS sx,
       |  seed
       |  FROM (SELECT doc_id, h, unnest(range(0, 16)) AS seed FROM hx12)),
       |${mix64Ctes("sx")},
       |mins AS (SELECT doc_id, seed, min(${signed("mh")}) AS mn FROM mx4 GROUP BY doc_id, seed),
       |alldocs AS (SELECT doc_id, unnest(range(0, 16)) AS seed
       |  FROM shg WHERE len(shingles) > 0),
       |sigs AS (SELECT a.doc_id, a.seed, coalesce(m.mn, 9223372036854775807) AS mn
       |  FROM alldocs a LEFT JOIN mins m ON a.doc_id = m.doc_id AND a.seed = m.seed),
       |sigl AS (SELECT doc_id, list($minToU64 ORDER BY seed) AS sigu FROM sigs GROUP BY doc_id),
       |banded AS (SELECT doc_id, band, $bucketFold AS bucket
       |  FROM (SELECT doc_id, sigu, unnest(range(0, 8)) AS band FROM sigl))""".stripMargin
  }

  val lshCandCte =
    """cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)""".stripMargin

  // DuckDB tokenizer CTE body mirroring TextFunctions.tokens exactly
  // (empty trimmed text → empty list, else split on whitespace runs).
  // Parameterized over the carried key column so every oracle shares ONE
  // tokenizer mirror — a second hand copy could silently diverge from the
  // Spark side if the mirror is ever adjusted.
  def duckToksCteFor(keyCol: String) =
    s"""tk AS (SELECT $keyCol,
       |  CASE WHEN length(trim(text)) = 0 THEN []
       |       ELSE regexp_split_to_array(trim(text), '\\s+') END AS t
       |  FROM documents)""".stripMargin

  val duckToksCte = duckToksCteFor("doc_id")

  // Shared centroid-distance pipeline (q71 rank form + q73's normalized
  // gate — Scala and SQL factored ONCE so the four mirrors cannot drift):
  // (vec_id, label, __sum_d2 decimal, __n decimal) where __sum_d2 =
  // Σ_dim (n·x − S)². The diff recast is DECIMAL(18,6) — exact while
  // |n·x − S| < 10¹², i.e. group sizes to ~10¹¹ unit-norm vectors — and a
  // value out of range would error, never silently null (Spark would
  // null a narrower cast and quietly under-score the very outliers being
  // hunted; the oracle errors, so the gate would catch it anyway).
  def centroidSquares(s: SparkSession, dir: String): DataFrame = {
    val dims = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("label"), col("dim"),
        col("v").cast("double").cast(DecimalType(18, 6)).as("vq"))
    val cent = dims.groupBy(col("label"), col("dim"))
      .agg(sum(col("vq")).as("__s"), count(lit(1)).cast(DecimalType(10, 0)).as("__n"))
    // INTEGER-UNITS accumulation. Two engine-specific traps force it:
    // (1) kept at scale 12, the exact sum reaches ~17 significant digits by
    // sf0.1 and the engines' DECIMAL→DOUBLE conversions round the >53-bit
    // value differently (observed 1-ulp mismatches); (2) re-quantizing the
    // decimal mid-pipeline is no better — Spark's decimal downcast rounds
    // HALF_UP while DuckDB's TRUNCATES (observed 1e-6-per-term drift). So:
    // __diff has exactly 6 decimal places (every operand does), hence
    // __diff·10⁶ is exactly integral — sum the integer squares (units of
    // 10⁻¹²) with zero rounding anywhere, and let the query layer divide
    // down with `div` (integral, truncating in BOTH engines) to a
    // magnitude double represents exactly. Exact to ~7000 unit-norm
    // vectors per label; past that, raise the unit div in the query layer.
    dims.join(cent, Seq("label", "dim"))
      .withColumn("__diff", (col("vq") * col("__n") - col("__s")).cast(DecimalType(18, 6)))
      .withColumn("__du", (col("__diff") * lit(1000000)).cast(DecimalType(18, 0)))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("__du") * col("__du")).as("__sum_du2"), max(col("__n")).as("__n"))
  }

  /** DuckDB twin of [[centroidSquares]]: CTE chain ending in
    * `sq(vec_id, label, sum_du2, n)` — sum_du2 in exact 10⁻¹² units. */
  val duckCentroidCtes =
    """p AS (SELECT vec_id, label,
      |  unnest(range(1, len(embedding)+1)) AS dim, unnest(embedding) AS v FROM embeddings),
      |q AS (SELECT vec_id, label, dim, CAST(CAST(v AS DOUBLE) AS DECIMAL(18,6)) AS vq FROM p),
      |c AS (SELECT label, dim, sum(vq) AS s, CAST(count(*) AS DECIMAL(10,0)) AS n
      |      FROM q GROUP BY label, dim),
      |d0 AS (SELECT q.vec_id, q.label, c.n,
      |       CAST(CAST(q.vq * c.n - c.s AS DECIMAL(18,6)) * 1000000 AS DECIMAL(18,0)) AS du
      |       FROM q JOIN c USING (label, dim)),
      |sq AS (SELECT vec_id, label, sum(du*du) AS sum_du2, max(n) AS n
      |       FROM d0 GROUP BY vec_id, label)""".stripMargin

  /** Shared DuckDB HLL fragments (p=8), kept in ONE place so the q75 and
    * q82 oracles cannot drift: smear/rho turns `hw(…carry…, bucket, w)`
    * into `rho(…carry…, bucket, r)`; [[hllEstCte]] evaluates the estimate
    * from a register CTE `(groupCol, bucket, reg)`. */
  val hllSmearRhoCtes: String =
    """sm1 AS (SELECT *, w|(w>>1) AS s1 FROM hw),
      |sm2 AS (SELECT *, s1|(s1>>2) AS s2 FROM sm1),
      |sm3 AS (SELECT *, s2|(s2>>4) AS s3 FROM sm2),
      |sm4 AS (SELECT *, s3|(s3>>8) AS s4 FROM sm3),
      |sm5 AS (SELECT *, s4|(s4>>16) AS s5 FROM sm4),
      |sm6 AS (SELECT *, s5|(s5>>32) AS s6 FROM sm5),
      |rho AS (SELECT * EXCLUDE (w, s1, s2, s3, s4, s5, s6),
      |  CASE WHEN w = 0 THEN 57 ELSE 57 - CAST(bit_count(s6) AS BIGINT) END AS r
      |  FROM sm6)""".stripMargin

  def hllEstCte(
      regsCte: String, groupCol: String, outCte: String, estName: String,
      p: Int = 8): String = {
    // The 255/256/57 literals below (and hllSmearRhoCtes' maxRho) are the
    // p=8 instantiation; a caller at another precision would silently get a
    // wrong estimate, so fail the build instead.
    require(p == 8, s"hllEstCte is hardcoded for p=8 (m=256, maxRho=57); got p=$p")
    val numer = graft.operators.Sketches.hllNumerator(p)
    s"""$outCte AS (SELECT $groupCol,
       |  $numer / CAST(CAST(sum(CAST(1 AS HUGEINT) << CAST(57 - reg AS INTEGER)) AS HUGEINT)
       |    + (256 - count(*)) * (CAST(1 AS HUGEINT) << 57) AS DOUBLE) AS $estName
       |  FROM $regsCte GROUP BY $groupCol)""".stripMargin
  }

  /** Session-stable fixture directory for the queries that must stage a
    * FILE (GeoJSON sources, the backfill table): one deterministic
    * directory per input sf dir, OVERWRITTEN on re-invocation — a gate +
    * bench session calls each query builder many times, and per-pass
    * `createTempDirectory` dirs would accumulate orphaned copies of the
    * fixtures in java.io.tmpdir. Keyed by the sf dir so frames built for
    * different scale factors in one JVM never read each other's files. */
  def fixtureDir(dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      f"graft-fixtures-${math.abs(dir.hashCode)}%08x")
}
