package graft.pipeline

import java.nio.file.{Files, Paths}

import graft.{Graft, Harness, Json}
import graft.sources.{GeoJsonFixture, GeoJsonSource}

/** End-to-end Milan pipeline run record — the reference's
  * E1 (`main.py --all`, reference main.py:56-94) executed as ONE run over
  * synthesized inputs, emitting a committed datasheet (`MILAN_E2E.json`):
  * per-stage wall seconds, row/file counts, the double-load ledger proof,
  * and the constraint audit's violation counts (expected all-zero). The
  * four stages call EXACTLY the code `MilanApp --all` dispatches to
  * (GeoJsonSource loads → MilanPipeline.loadTraffic/loadMobility →
  * topCells → auditConstraints); this main only adds staging of the
  * deterministic fixtures and structured capture of what each stage
  * returns, where MilanApp prints to stdout for a human.
  *
  * Fixtures (all deterministic — the artifact is refreshable bit-for-bit
  * when the pipeline changes):
  *   - grid GeoJSON: [[GeoJsonFixture.gridJson]];
  *   - provinces GeoJSON: [[GeoJsonFixture.provincesJson]] EXCLUDING
  *     `id % 12 == 9` — the "Atlantis" rows — so the dimension lacks
  *     exactly the one mobility vocabulary name whose rows the semi-join
  *     must drop (the E1 unknown-province semantic);
  *   - traffic + mobility day-file CSVs: the gate's own
  *     [[IngestHarness]] synthesizers (every cleaning branch populated:
  *     bad-datetime drop, null→0 fill, negative clamp, cell-range filter,
  *     province normalization).
  *
  * Two shapes:
  *   - default (small): 2 day-files per table over 20k ids, grid 100,
  *     provinces 33 — the seconds-fast refresh fixture (`MILAN_E2E.json`);
  *   - `--full`: the reference's ACTUAL workload shape (notebook cells
  *     3/6/7, BASELINE.md:13-16) — 7 traffic day-files × 1,891,928 rows,
  *     7 mobility day-files × 2,307,306 rows, grid 10,000 cells,
  *     provinces 110 features (`MILAN_E2E_full.json`). This is the run
  *     that proves the composition — ledger skip-scan over 7 files,
  *     dynamic-partition overwrite width at 7 (event_date, src_file)
  *     partitions per table, audit wall — at the reference's own scale.
  *
  * Output path: first non-flag arg, else `MILAN_E2E[_full].json` in
  * [[Harness.defaultOutDir]] (a deliberate refresh passes the repo path
  * explicitly).
  *
  * Usage: runMain graft.pipeline.MilanE2E [--full] [outPath]
  */
object MilanE2E {

  def main(args: Array[String]): Unit = {
    val full = args.contains("--full")
    val outArg = args.filterNot(_ == "--full").headOption
    val spark = Graft.localSession("milan-e2e")

    // Per-user root: it is wiped on entry, so a world-shared path would let
    // two users on one host clobber each other's in-flight runs.
    val root = Paths.get(sys.props("java.io.tmpdir"),
      s"graft-milan-e2e-${sys.props.getOrElse("user.name", "unknown")}")
    IngestHarness.deleteRecursively(root)
    val dataDir = Files.createDirectories(root.resolve("data"))
    val whDir = root.resolve("wh").toString
    val pipe = new MilanPipeline(spark, whDir)

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def j(d: Double): String = Json.fixed(d, 3)

    // ---- stage fixtures (not timed as pipeline work: input synthesis) --
    // Full shape = the reference's measured workload: 1,891,928 traffic /
    // 2,307,306 mobility rows PER day-file (notebook cells 3/6/7), 7
    // day-files each, 10,000 grid cells, 110 province features.
    val nDayFiles = if (full) 7 else 2
    val gridIds = if (full) 0L until 10000L else 0L until 100L
    val provinceIds =
      (0L until (if (full) 120L else 36L)).filter(_ % 12 != 9)
    val trafficIds = if (full) 7L * 1891928L else 20000L
    val mobilityIds = if (full) 7L * 2307306L else 20000L
    GeoJsonFixture.write(dataDir, "milano-grid.geojson",
      GeoJsonFixture.gridJson(gridIds))
    GeoJsonFixture.write(dataDir, "Italian_provinces.geojson",
      GeoJsonFixture.provincesJson(provinceIds))
    IngestHarness.writeDayFiles(spark,
      IngestHarness.synthRows(
        spark.range(0, trafficIds).toDF("k"), nDayFiles),
      dataDir, "sms-call-internet-mi", nDayFiles)
    IngestHarness.writeDayFiles(spark,
      IngestHarness.synthMobilityRows(
        spark.range(0, mobilityIds).toDF("k"), nDayFiles),
      dataDir, "mi-to-provinces", nDayFiles)

    // ---- stage 1: geometries (MilanApp --geometries) -------------------
    val (geo, geoSec) = timed {
      val cells = GeoJsonSource.gridCells(spark, s"$dataDir/milano-grid.geojson")
      cells.write.mode("overwrite").parquet(s"$whDir/dim_grid_milan")
      val prov = GeoJsonSource.provinces(spark, s"$dataDir/Italian_provinces.geojson")
      prov.write.mode("overwrite").parquet(s"$whDir/dim_provinces_it")
      (spark.read.parquet(s"$whDir/dim_grid_milan").count(),
        spark.read.parquet(s"$whDir/dim_provinces_it").count())
    }

    // ---- stage 2: traffic ingest, run TWICE (K4 ledger proof) ----------
    val (traffic, trafficSec) = timed {
      val first = pipe.loadTraffic(dataDir.toString)
      val second = pipe.loadTraffic(dataDir.toString)
      (first, second, pipe.trafficFact.count())
    }

    // ---- stage 3: mobility ingest, run TWICE ---------------------------
    val (mobility, mobilitySec) = timed {
      val dim = spark.read.parquet(s"$whDir/dim_provinces_it")
      val first = pipe.loadMobility(dataDir.toString, dim)
      val second = pipe.loadMobility(dataDir.toString, dim)
      (first, second, pipe.mobilityFact.count())
    }

    // ---- stage 4: acceptance query (MilanApp --test-query) -------------
    val (topRows, querySec) = timed(pipe.topCells(limit = 10).collect().length)

    // ---- stage 5: constraint audit (MilanApp --validate) ---------------
    val (audit, auditSec) = timed {
      pipe.auditConstraints().collect()
        .map(r => r.getAs[String]("constraint") -> r.getAs[Long]("violations"))
        .toSeq.sortBy(_._1)
    }
    val auditJson = audit
      .map { case (c, v) => Json.str(c) + ":" + v }.mkString("{", ",", "}")

    val json =
      s"""{"shape":"${if (full) "full_reference_scale" else "small"}",
         |"fixture":{"grid_ids":${gridIds.size},"province_features":${provinceIds.size},"traffic_ids":$trafficIds,"mobility_ids":$mobilityIds,"day_files_per_table":$nDayFiles},
         |"stages":{
         | "geometries":{"wall_sec":${j(geoSec)},"grid_cells":${geo._1},"provinces":${geo._2}},
         | "traffic":{"wall_sec":${j(trafficSec)},"files_first":${traffic._1},"files_second":${traffic._2},"fact_rows":${traffic._3}},
         | "mobility":{"wall_sec":${j(mobilitySec)},"files_first":${mobility._1},"files_second":${mobility._2},"fact_rows":${mobility._3}},
         | "test_query":{"wall_sec":${j(querySec)},"top_cells_rows":$topRows},
         | "validate":{"wall_sec":${j(auditSec)},"violations":$auditJson}}}"""
        .stripMargin.replace("\n", "")
    println(json)

    val defaultName = if (full) "MILAN_E2E_full.json" else "MILAN_E2E.json"
    val outPath = outArg.map(Paths.get(_))
      .getOrElse(Harness.defaultOutDir.resolve(defaultName))
    Harness.writeFile(outPath, json)
    System.err.println(s"[milan-e2e] wrote $outPath")

    IngestHarness.deleteRecursively(root)
    spark.stop()
  }
}
