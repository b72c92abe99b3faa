package graft.pipeline

import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Parquet
import graft.operators.{Audit, Cleaning, Rollup}
import graft.sources.{GeoJsonSource, MilanCsvSource}

/** The reference's end-to-end pipeline (`main.py --all`,
  * reference `main.py:56-94`) re-expressed Spark-first:
  *
  *   1. load & clean traffic/mobility day-files (distributed CSV scan —
  *      the reference loops files through driver memory one at a time),
  *   2. append to parquet fact tables **partitioned by event date** (the
  *      Spark equivalent of the reference's b-tree datetime index:
  *      partition pruning serves the same temporal predicates),
  *   3. maintain the hourly rollup as a view, answer top-cells,
  *   4. run the constraint-audit suite.
  *
  * Idempotency (reference K4 guards, src/etl.py:16-19 etc.): a ledger file
  * per ingested source file; already-ledgered files are skipped. The ledger
  * alone is NOT crash-safe against duplicates (a crash between the data
  * commit and the ledger append would re-ingest the file), so the write
  * itself is idempotent: facts are partitioned by (event_date, src_file)
  * and written with DYNAMIC partition overwrite — re-ingesting a file
  * replaces exactly its own partitions, so a post-crash rerun converges to
  * the same table instead of appending duplicates. The ledger then only
  * short-circuits work, it never guards correctness.
  */
final class MilanPipeline(spark: SparkSession, warehouseDir: String) {

  private val ledgerPath = Paths.get(warehouseDir, "_ingest_ledger")

  private def ledgered: Set[String] =
    if (Files.exists(ledgerPath))
      Files.readAllLines(ledgerPath).asScala.toSet
    else Set.empty

  private def appendLedger(files: Seq[String]): Unit = {
    Files.createDirectories(ledgerPath.getParent)
    Files.write(
      ledgerPath,
      (files.mkString("\n") + "\n").getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND
    )
  }

  private def tablePath(name: String) = s"$warehouseDir/$name"

  /** Idempotent fact write: partition by (event_date, src_file) and
    * dynamically overwrite — only the partitions present in this batch are
    * replaced, so re-running the same source file converges instead of
    * duplicating (see class doc). `src_file` doubles as lineage. Dynamic
    * mode is an option of this one write; the session's own
    * `spark.sql.sources.partitionOverwriteMode` is left as it is. */
  private def writeFacts(cleaned: DataFrame, table: String): Unit = {
    cleaned
      .withColumn("event_date", to_date(col("datetime")))
      .withColumn("src_file", element_at(split(col("source_file"), "/"), -1))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_date", "src_file")
      .mode(SaveMode.Overwrite)
      .parquet(tablePath(table))
  }

  /** Load the geometry dimensions (reference `main.py --geometries`):
    * `milano-grid.geojson` to `dim_grid_milan` and
    * `Italian_provinces.geojson` to `dim_provinces_it`, each overwritten
    * when its file is under `dataDir`. Returns the rows written per table
    * (grid, provinces), 0 for an absent file. */
  def loadGeometries(dataDir: String): (Long, Long) = {
    def load(file: String, table: String, read: String => DataFrame): Long = {
      val path = s"$dataDir/$file"
      if (!Files.exists(Paths.get(path))) 0L
      else {
        read(path).write.mode(SaveMode.Overwrite).parquet(tablePath(table))
        spark.read.parquet(tablePath(table)).count()
      }
    }
    (load("milano-grid.geojson", "dim_grid_milan", GeoJsonSource.gridCells(spark, _)),
      load("Italian_provinces.geojson", "dim_provinces_it", GeoJsonSource.provinces(spark, _)))
  }

  /** Load new traffic day-files. Returns number of files ingested. */
  def loadTraffic(dataDir: String, pattern: String = "sms-call-internet-mi-*.csv",
                  limitFiles: Option[Int] = None): Int = {
    val fresh = MilanCsvSource.discover(dataDir, pattern, limitFiles)
      .filterNot(ledgered.contains)
    if (fresh.isEmpty) return 0
    writeFacts(Cleaning.cleanTraffic(MilanCsvSource.traffic(spark, fresh)), "fact_traffic_milan")
    appendLedger(fresh)
    fresh.size
  }

  /** Load new mobility day-files against the provinces dimension. */
  def loadMobility(dataDir: String, provinces: DataFrame,
                   pattern: String = "mi-to-provinces-*.csv",
                   limitFiles: Option[Int] = None): Int = {
    val fresh = MilanCsvSource.discover(dataDir, pattern, limitFiles)
      .filterNot(ledgered.contains)
    if (fresh.isEmpty) return 0
    writeFacts(
      Cleaning.cleanMobility(MilanCsvSource.mobility(spark, fresh), provinces),
      "fact_mobility_provinces")
    appendLedger(fresh)
    fresh.size
  }

  /** S8 — existence probe for a warehouse fact table (the path-table
    * analogue of the reference's `SELECT 1 FROM pg_database WHERE
    * datname=...`, src/database.py:35-36). For catalog-registered tables
    * use [[catalogTableExists]]. */
  def factTableExists(name: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(tablePath(name))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** S8 — existence probe via the session catalog (metastore-registered
    * tables/views; supports `db.table` names). */
  def catalogTableExists(name: String): Boolean = spark.catalog.tableExists(name)

  def trafficFact: DataFrame = Parquet.read(spark, tablePath("fact_traffic_milan"))

  def mobilityFact: DataFrame = Parquet.read(spark, tablePath("fact_mobility_provinces"))

  /** v_hourly_traffic (reference src/database.py:101-112). */
  def hourlyTraffic: DataFrame = Rollup.hourlyTraffic(trafficFact)

  /** The acceptance query (reference src/etl.py:283-299). */
  def topCells(since: String = "2013-11-01 00:00:00", limit: Int = 10): DataFrame =
    Rollup.topCells(hourlyTraffic, lit(since).cast("timestamp"), limit)

  /** K5 — conditional backfill UPDATE (reference src/etl.py:21-29:
    * `UPDATE grid_cells SET bounds = COALESCE(bounds, ST_AsText(
    * ST_Envelope(geometry))) WHERE bounds IS NULL`): fill NULLs of one
    * column from an expression over the same row. Parquet has no in-place
    * UPDATE, so the operator is a crash-safe snapshot rewrite:
    * read → coalesce → write a NEW snapshot directory → two renames swap it
    * in. A crash before the first rename leaves the table untouched; a
    * crash between the renames leaves the `<table>.backfill_old` snapshot,
    * from which [[MilanPipeline.recoverBackfill]] restores. */
  def backfillColumn(table: String, column: String, fill: Column): Unit =
    MilanPipeline.backfillColumn(spark, tablePath(table), column, fill)

  /** The reference's 9-invariant audit (src/etl.py:302-328) over the loaded
    * facts — single pass per table. */
  def auditConstraints(): DataFrame = {
    val t = trafficFact
    Audit.auditAll(
      Map("fact_traffic_milan" -> t),
      Seq(
        Audit.Constraint("traffic_cell_range", "fact_traffic_milan", col("cell_id").between(0, 9999))
      ) ++ Cleaning.TrafficMetricCols.map(m =>
        Audit.Constraint(s"traffic_${m}_nonneg", "fact_traffic_milan", col(m) >= 0)
      )
    )
  }
}

object MilanPipeline {

  /** See [[MilanPipeline.backfillColumn]]. Standalone so any parquet
    * directory can be backfilled without a pipeline instance. */
  def backfillColumn(spark: SparkSession, tableDir: String, column: String, fill: Column): Unit = {
    import org.apache.hadoop.fs.Path
    val target = new Path(tableDir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(tableDir + ".backfill_tmp")
    val old = new Path(tableDir + ".backfill_old")
    require(!fs.exists(old), s"unfinished backfill at $old — run recoverBackfill first")
    val filled = spark.read.parquet(tableDir).withColumn(column, coalesce(col(column), fill))
    filled.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // swap: the table dir is never in a partially-written state
    if (!fs.rename(target, old)) sys.error(s"backfill swap failed: $target -> $old")
    if (!fs.rename(tmp, target)) sys.error(s"backfill swap failed: $tmp -> $target")
    fs.delete(old, true)
  }

  /** Restore after a crash mid-swap: table dir missing + `.backfill_old`
    * present → the swap didn't finish, move the old snapshot back; BOTH
    * present → the swap finished and only the cleanup delete was lost, so
    * drop the superseded `.backfill_old` (otherwise the leftover blocks
    * every later backfill against a healthy table). Returns true if
    * anything was repaired. */
  def recoverBackfill(spark: SparkSession, tableDir: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val target = new Path(tableDir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new Path(tableDir + ".backfill_old")
    if (!fs.exists(old)) false
    else if (!fs.exists(target)) {
      // loud on failure — a false return here would read as "healthy"
      // while the table exists only under .backfill_old
      if (!fs.rename(old, target)) sys.error(s"recover failed: $old -> $target")
      true
    } else {
      if (!fs.delete(old, true)) sys.error(s"recover failed: delete $old")
      true
    }
  }
}
