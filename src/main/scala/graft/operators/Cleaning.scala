package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Load-time cleaning operators, reproducing the reference's pandas cleaning
  * chain semantics exactly (reference `src/etl.py:126-178` traffic,
  * `src/etl.py:232-274` mobility; SURVEY.md §2.4-2.5).
  *
  * All pure `DataFrame => DataFrame` / `Column => Column` — fully
  * declarative, so Catalyst pushes the filters into the scan and the whole
  * chain runs in one codegen stage with zero shuffles.
  */
object Cleaning {

  /** C1 — datetime coerce-or-null (pandas `to_datetime(errors='coerce')`,
    * reference src/etl.py:134) in the reference's one format,
    * `yyyy-MM-dd HH:mm:ss`. Non-ANSI `to_timestamp` nulls on failure. */
  def coerceTimestamp(c: Column): Column =
    to_timestamp(c, "yyyy-MM-dd HH:mm:ss")

  /** C2 — numeric coerce-then-fill-0 (pandas `to_numeric(errors='coerce')
    * .fillna(0)`, reference src/etl.py:151). This is the load-time NaN→0
    * rule that makes downstream SUMs match the reference: nulls become
    * genuine zeros before any aggregation. */
  def coerceNumericFill0(c: Column): Column =
    coalesce(c.cast("double"), lit(0.0))

  /** C3 — clamp negatives to 0 (reference src/etl.py:152-153). */
  def clampNonNegative(c: Column): Column = greatest(c, lit(0.0))

  /** P5 — add metric columns missing from the source with a 0.0 default
    * (reference src/etl.py:144-146). */
  def ensureColumns(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, lit(0.0))
    }

  /** F2 — keep rows with cell_id in [0, 9999]
    * (reference src/etl.py:155-156; DDL CHECK src/database.py:69). */
  def cellIdInRange(df: DataFrame): DataFrame =
    df.filter(df("cell_id").between(0, 9999))

  val TrafficMetricCols: Seq[String] =
    Seq("smsin", "smsout", "callin", "callout", "internet")

  /** Full traffic cleaning chain (reference src/etl.py:126-178): parse
    * datetime, drop unparseable, rename CellID→cell_id, ensure metric
    * columns, coerce+fill 0, clamp negatives, range-filter cell ids. */
  def cleanTraffic(raw: DataFrame): DataFrame = {
    val withTs = raw
      .withColumn("datetime", coerceTimestamp(col("datetime")))
      .filter(col("datetime").isNotNull)
      .withColumnRenamed("CellID", "cell_id")
    val withMetrics = ensureColumns(withTs, TrafficMetricCols)
    val cleaned = TrafficMetricCols.foldLeft(withMetrics) { (d, c) =>
      d.withColumn(c, clampNonNegative(coerceNumericFill0(col(c))))
    }
    cellIdInRange(cleaned)
  }

  /** X2/J3 — the reference's 7-entry province-name normalization map
    * (reference src/etl.py:217-225), applied after title-casing. */
  val ProvinceMap: Map[String, String] = Map(
    "Monza E Della Brianza" -> "Monza e della Brianza",
    "Reggio Nell'Emilia" -> "Reggio nell'Emilia",
    "Reggio Di Calabria" -> "Reggio di Calabria",
    "Pesaro E Urbino" -> "Pesaro e Urbino",
    "Massa-Carrara" -> "Massa Carrara",
    "Valle D'Aosta" -> "Aosta",
    "Bolzano/Bozen" -> "Bolzano"
  )

  /** Pandas-`str.title()`-equivalent case folding: uppercase every letter
    * that follows a non-letter, lowercase the rest. NOT the same as Spark's
    * `initcap`, which only capitalizes after whitespace — the reference's
    * province names contain apostrophes/hyphens/slashes ("VALLE D'AOSTA" →
    * title() "Valle D'Aosta" but initcap "Valle D'aosta"), and the
    * 7-entry map keys are title() spellings, so fidelity requires the
    * pandas rule. Implemented as a UDF: the column it runs on is a
    * bounded-vocabulary dimension attribute (~110 distinct values), so the
    * non-codegen row cost is immaterial at any scale. */
  val titleCaseUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { s: String =>
      if (s == null) null
      else {
        val out = new StringBuilder(s.length)
        var prevLetter = false
        s.foreach { ch =>
          val isLetter = ch.isLetter
          out += (if (isLetter && !prevLetter) ch.toUpper else ch.toLower)
          prevLetter = isLetter
        }
        out.result()
      }
    }

  /** X1+X2 — title-case + trim + dictionary normalization
    * (reference src/etl.py:257-258): pandas-equivalent title() then the
    * 7-entry map patch, as a literal map lookup (`element_at` + coalesce) —
    * no join, no shuffle. */
  def normalizeProvince(c: Column): Column = {
    val entries = ProvinceMap.toSeq.sortBy(_._1)
    val m = map(entries.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val titled = titleCaseUdf(trim(c))
    coalesce(element_at(m, titled), titled)
  }

  val MobilityRenames: Map[String, String] = Map(
    "CellID" -> "cell_id",
    "provinceName" -> "provincia",
    "cell2Province" -> "cell2province",
    "Province2cell" -> "province2cell"
  )

  /** Full mobility cleaning chain (reference src/etl.py:232-274): parse/drop
    * datetime, rename, ensure+coerce metrics, normalize provincia, keep only
    * provinces present in the dimension (broadcast left-semi — the Spark
    * form of the reference's `isin(valid_provinces)`), range-filter cells.
    *
    * At scale: `validProvinces` is a 110-row dim — always broadcast; the
    * fact side never shuffles. */
  def cleanMobility(raw: DataFrame, validProvinces: DataFrame): DataFrame = {
    val renamed = MobilityRenames.foldLeft(raw) { case (d, (from, to)) =>
      if (d.columns.contains(from)) d.withColumnRenamed(from, to) else d
    }
    val withTs = renamed
      .withColumn("datetime", coerceTimestamp(col("datetime")))
      .filter(col("datetime").isNotNull)
    val metricCols = Seq("cell2province", "province2cell")
    val withMetrics = metricCols.foldLeft(ensureColumns(withTs, metricCols)) { (d, c) =>
      d.withColumn(c, coerceNumericFill0(col(c)))
    }
    val normalized = withMetrics.withColumn("provincia", normalizeProvince(col("provincia")))
    val kept = normalized.join(
      broadcast(validProvinces.select(col("provincia"))),
      Seq("provincia"),
      "left_semi"
    )
    cellIdInRange(kept)
  }

  /** Generic wide→long melt (pandas `melt` / SQL UNPIVOT): one `stack`
    * Generator per row — no shuffle, no UDF; value columns must share a
    * type. The census S3 melt ([[graft.sources.MilanCsvSource.meltCensus]])
    * is this with (PROVINCIA, the 134 measure codes). */
  def melt(
      df: DataFrame,
      idCols: Seq[String],
      valueCols: Seq[String],
      varName: String = "variable",
      valName: String = "value"
  ): DataFrame = {
    val pairs = valueCols.map(c => s"'$c', `$c`").mkString(", ")
    df.select(
      idCols.map(col) :+
        expr(s"stack(${valueCols.size}, $pairs) AS (`$varName`, `$valName`)"): _*
    )
  }
}
