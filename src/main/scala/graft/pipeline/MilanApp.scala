package graft.pipeline

import graft.Graft
import graft.sources.GeoJsonSource

/** CLI entry point mirroring the reference driver's flags
  * (reference `main.py:56-94`): `--all` runs every stage; `--geometries`,
  * `--traffic`, `--mobility`, `--test-query`, `--validate` select stages.
  *
  * Usage:
  *   runMain graft.pipeline.MilanApp --data-dir DIR --warehouse DIR [flags]
  */
object MilanApp {

  def main(args: Array[String]): Unit = {
    val opts = parse(args.toList, Map.empty)
    val dataDir = opts.getOrElse("data-dir", sys.error("--data-dir required"))
    val whDir = opts.getOrElse("warehouse", sys.error("--warehouse required"))
    val all = opts.contains("all")

    val spark = Graft.localSession("milan-etl")
    val pipe = new MilanPipeline(spark, whDir)

    if (all || opts.contains("geometries")) {
      val gridPath = s"$dataDir/milano-grid.geojson"
      if (new java.io.File(gridPath).exists()) {
        val cells = GeoJsonSource.gridCells(spark, gridPath)
        cells.write.mode("overwrite").parquet(s"$whDir/dim_grid_milan")
        println(s"[milan] ${cells.count()} grid cells loaded")
      }
      val provPath = s"$dataDir/Italian_provinces.geojson"
      if (new java.io.File(provPath).exists()) {
        val prov = GeoJsonSource.provinces(spark, provPath)
        prov.write.mode("overwrite").parquet(s"$whDir/dim_provinces_it")
        println(s"[milan] ${prov.count()} provinces loaded")
      }
    }
    if (all || opts.contains("traffic")) {
      val n = pipe.loadTraffic(dataDir, limitFiles = opts.get("limit-files").map(_.toInt))
      println(s"[milan] $n traffic files ingested")
    }
    if (all || opts.contains("mobility")) {
      val provinces = spark.read.parquet(s"$whDir/dim_provinces_it")
      val n = pipe.loadMobility(dataDir, provinces, limitFiles = opts.get("limit-files").map(_.toInt))
      println(s"[milan] $n mobility files ingested")
    }
    if (all || opts.contains("test-query")) {
      println("[milan] top cells by average hourly activity:")
      pipe.topCells(limit = opts.get("limit").map(_.toInt).getOrElse(10)).show(truncate = false)
    }
    if (all || opts.contains("validate")) {
      println("[milan] constraint audit:")
      pipe.auditConstraints().show(truncate = false)
    }
    spark.stop()
  }

  @annotation.tailrec
  private def parse(args: List[String], acc: Map[String, String]): Map[String, String] =
    args match {
      case Nil => acc
      case flag :: rest if flag.startsWith("--") =>
        val key = flag.stripPrefix("--")
        rest match {
          case v :: tail if !v.startsWith("--") => parse(tail, acc + (key -> v))
          case _ => parse(rest, acc + (key -> "true"))
        }
      case _ :: rest => parse(rest, acc)
    }
}
