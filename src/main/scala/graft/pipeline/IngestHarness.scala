package graft.pipeline

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions

/** Driver-gate harness for the Milan INGEST path (SURVEY.md §2.1 S1/S6 +
  * §2.2 K1/K4): synthesizes deterministic Milan-format traffic day-file
  * CSVs from a harness table's ids, runs them through the REAL pipeline —
  * `MilanCsvSource.discover` glob → distributed CSV scan →
  * `Cleaning.cleanTraffic` → partitioned idempotent `writeFacts` → ledger —
  * TWICE, and emits the hourly rollup plus the two ingest counts. A DuckDB
  * oracle replays every branch from the same ids (the q168/q171 move
  * applied to ingest): the bad-datetime drop, the null→0 fill, the
  * negative clamp, the cell-id range filter, the rollup sums — and the
  * (2, 0) file counts prove the second pass was a ledger no-op. Previously
  * this path had only spec coverage (MilanPipelineSpec); this makes
  * load-idempotency visible to the driver's hash.
  *
  * Fixture branches, all pure integer/mix64 arithmetic on id `k`:
  *   - datetime: `2013-11-0{1+(k%2)} {k%24}:{(k·7)%60}:00`, except
  *     `k % 97 == 0` rows carry an unparseable string (C1/F1 drop);
  *   - CellID: `k % 12000` — ids ≥ 10000 exercise the F2 range filter;
  *   - metrics j=1..5: null when `mix64(k·8+j) & 7 == 7` (C2 fill-0),
  *     else `((mix64(k·8+j) & 1023) − 100) / 10` — negative when the
  *     masked value is < 100 (C3 clamp).
  */
object IngestHarness {

  private def metric(j: Int): Column = {
    val mh = HashFunctions.mix64(col("k") * 8 + j)
    when(mh.bitwiseAND(lit(7L)) === 7L, lit(null).cast("double"))
      .otherwise((mh.bitwiseAND(lit(1023L)) - 100L).cast("double") / 10.0)
  }

  /** The synthetic day-file rows, Milan traffic header layout. `nDays`
    * spreads ids over that many 2013-11 day-files (default 2 — the gate
    * fixture's oracle replays `k % 2`; the reference-scale E2E run uses
    * 7, the reference's own file count, BASELINE.md:13-16). */
  private[pipeline] def synthRows(ids: DataFrame, nDays: Int = 2): DataFrame = {
    val day = (col("k") % nDays + 1).cast("int")
    val dt = when(col("k") % 97 === 0, lit("not-a-timestamp"))
      .otherwise(format_string("2013-11-%02d %02d:%02d:00",
        day, (col("k") % 24).cast("int"), ((col("k") * 7) % 60).cast("int")))
    ids
      .select(col("k"), day.as("__day"),
        dt.as("datetime"), (col("k") % 12000).as("CellID"),
        lit(39L).as("countrycode"),
        metric(1).as("smsin"), metric(2).as("smsout"), metric(3).as("callin"),
        metric(4).as("callout"), metric(5).as("internet"))
      .drop("k")
  }

  /** Write the two day-files with Spark (repartition(1) per file — a
    * day-file IS one file by contract), then rename the part files to the
    * reference's day-file naming (`<prefix>-<date>.csv`) that
    * `MilanCsvSource.discover`'s glob expects. */
  private[pipeline] def writeDayFiles(spark: SparkSession, rows: DataFrame, dataDir: Path, prefix: String,
                                      nDays: Int = 2): Unit = {
    (1 to nDays).foreach { d =>
      val stage = dataDir.resolve(s"__stage_$d")
      rows.filter(col("__day") === d).drop("__day")
        .repartition(1)
        .write.option("header", "true").mode("overwrite")
        .csv(stage.toString)
      // Files.list holds an open directory handle — close it (the
      // StreamingHarness Files.walk convention), don't leak one per pass.
      val listing = Files.list(stage)
      val part =
        try listing.iterator().asScala
          .find(_.getFileName.toString.endsWith(".csv"))
          .getOrElse(sys.error(s"ingest fixture: no csv part written under $stage"))
        finally listing.close()
      Files.move(part, dataDir.resolve(f"$prefix%s-2013-11-0$d%d.csv"))
    }
  }

  /** Synthesize from `ids` (one long column named anything), ingest TWICE,
    * return `hourlyTraffic ⨯ (n_files_first, n_files_second)` ordered by
    * (hour, cell_id). EAGER by necessity: the loads run at call time (the
    * ingest counts have no lazy form). The fixture CSVs are deleted after
    * the loads; the warehouse parquet must outlive the call (the returned
    * frame reads it lazily) and lives under java.io.tmpdir for the session.
    */
  def ingestTwiceRollup(
      spark: SparkSession, ids: DataFrame, fixtureKey: String = ""): DataFrame = {
    val (pipe, dataDir) =
      stageFixture(spark, ids, synthRows(_), "sms-call-internet-mi", fixtureKey)
    val first = pipe.loadTraffic(dataDir)
    val second = pipe.loadTraffic(dataDir) // ledger no-op, must be 0
    deleteRecursively(java.nio.file.Paths.get(dataDir))
    pipe.hourlyTraffic
      .withColumn("n_files_first", lit(first.toLong))
      .withColumn("n_files_second", lit(second.toLong))
      .orderBy("hour", "cell_id")
  }

  /** The mobility fixture's provinceName vocabulary, cycled by `k % 12`:
    * cased/mapped variants that drive every branch of
    * `Cleaning.normalizeProvince` — pandas-title() over apostrophes,
    * hyphens, and slashes (where Spark's initcap differs), all seven
    * entries of the reference's normalization map, and one name absent
    * from the dimension ("atlantis") that the semi-join must drop. The
    * vocabulary is FINITE, so the oracle replays normalization as a
    * 12-way CASE on `k % 12` — no title-case logic cross-engine. */
  val MobilityRawNames: Seq[String] = Seq(
    "MILANO", "TORINO", "monza e della brianza", "VALLE D'AOSTA",
    "reggio nell'emilia", "BOLZANO/BOZEN", "massa-carrara",
    "pesaro e urbino", "NAPOLI", "atlantis", "REGGIO DI CALABRIA", "roma")

  /** Normalized forms of [[MobilityRawNames]] (index-aligned; "atlantis"
    * normalizes to "Atlantis" but is NOT in the dimension). */
  val MobilityCleanNames: Seq[String] = Seq(
    "Milano", "Torino", "Monza e della Brianza", "Aosta",
    "Reggio nell'Emilia", "Bolzano", "Massa Carrara",
    "Pesaro e Urbino", "Napoli", "Atlantis", "Reggio di Calabria", "Roma")

  /** The valid-provinces dimension: every normalized name except the
    * deliberately-unknown "Atlantis". */
  def provincesDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    MobilityCleanNames.filterNot(_ == "Atlantis").toDF("provincia")
  }

  private[pipeline] def synthMobilityRows(ids: DataFrame, nDays: Int = 2): DataFrame = {
    val day = (col("k") % nDays + 1).cast("int")
    val dt = when(col("k") % 97 === 0, lit("not-a-timestamp"))
      .otherwise(format_string("2013-11-%02d %02d:%02d:00",
        day, (col("k") % 24).cast("int"), ((col("k") * 7) % 60).cast("int")))
    val nameArr = array(MobilityRawNames.map(lit): _*)
    ids
      .select(col("k"), day.as("__day"),
        dt.as("datetime"), (col("k") % 12000).as("CellID"),
        element_at(nameArr, (col("k") % 12).cast("int") + 1).as("provinceName"),
        metric(6).as("cell2Province"), metric(7).as("Province2cell"))
      .drop("k")
  }

  /** The mobility twin of [[ingestTwiceRollup]] — same double-load ledger
    * proof over `loadMobility`, whose cleaning chain additionally runs
    * title-case + the 7-entry province map + the broadcast semi-join
    * against the provinces dimension (J3/X1/X2/J4, reference
    * src/etl.py:232-274). NOTE mobility metrics are filled-0 but NOT
    * clamped (the reference clamps traffic only) — negatives survive into
    * the sums, and the oracle checks they do. */
  def mobilityIngestTwiceRollup(
      spark: SparkSession, ids: DataFrame, fixtureKey: String = ""): DataFrame = {
    val (pipe, dataDir) =
      stageFixture(spark, ids, synthMobilityRows(_), "mi-to-provinces", fixtureKey)
    val dim = provincesDim(spark)
    val first = pipe.loadMobility(dataDir, dim)
    val second = pipe.loadMobility(dataDir, dim) // ledger no-op, must be 0
    deleteRecursively(java.nio.file.Paths.get(dataDir))
    pipe.mobilityFact
      .groupBy(col("provincia"))
      .agg(count(lit(1)).as("n_rows"),
        graft.functions.AggFunctions.sumExact(col("cell2province")).as("sum_c2p"),
        graft.functions.AggFunctions.sumExact(col("province2cell")).as("sum_p2c"))
      .withColumn("n_files_first", lit(first.toLong))
      .withColumn("n_files_second", lit(second.toLong))
      .orderBy("provincia")
  }

  private def stageFixture(
      spark: SparkSession,
      ids: DataFrame,
      synth: DataFrame => DataFrame,
      prefix: String,
      fixtureKey: String): (MilanPipeline, String) = {
    // Session-stable root, WIPED on entry: the double-load ledger proof
    // needs a fresh warehouse per invocation (first = 2, second = 0 — a
    // reused ledger would read (0, 0)), and per-pass createTempDirectory
    // dirs accumulate orphaned warehouses in tmpdir over a gate + bench
    // session (the catalog.Shared.fixtureDir rationale). Keyed by (prefix,
    // caller key) so the traffic/mobility twins and different sf dirs
    // never wipe each other.
    val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      f"graft-ingest-$prefix%s-${math.abs(fixtureKey.hashCode)}%08x")
    deleteRecursively(tmp)
    Files.createDirectories(tmp)
    val dataDir = Files.createDirectories(tmp.resolve("data"))
    val keyed = ids.select(ids.columns.head).toDF("k")
      .select(col("k").cast("long").as("k"))
    writeDayFiles(spark, synth(keyed), dataDir, prefix)
    (new MilanPipeline(spark, tmp.resolve("wh").toString), dataDir.toString)
  }

  /** Deepest-first recursive delete (no-op if absent; walk stream closed
    * — it holds an open directory handle until closed). The data dir —
    * CSVs AND the __stage_* dirs with their _SUCCESS/.crc droppings — is
    * deleted after the loads; the warehouse parquet must outlive the call
    * (the returned frame reads it lazily). */
  private[pipeline] def deleteRecursively(root: Path): Unit = {
    if (!Files.exists(root)) return
    val walk = Files.walk(root)
    val all =
      try walk.iterator().asScala.toSeq
      finally walk.close()
    all.reverse.foreach(p => Files.deleteIfExists(p))
  }
}
