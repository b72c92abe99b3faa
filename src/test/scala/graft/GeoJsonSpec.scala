package graft

import java.nio.file.Files

import graft.sources.{GeoJsonFixture, GeoJsonSource}

class GeoJsonSpec extends SparkSpec {

  test("gridCells parses features, reprojects to UTM32N, derives ids and bounds") {
    val dir = Files.createTempDirectory("geojson")
    val f = dir.resolve("milano-grid.geojson")
    // FIXTURES.md §4 shape: 1-based cellId properties, EPSG:4326 Polygons
    Files.writeString(f,
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","properties":{"cellId":1},
        | "geometry":{"type":"Polygon","coordinates":[[[9.0114910,45.3588013],[9.0144914,45.3588009],[9.0144909,45.3566856],[9.0114906,45.3566859],[9.0114910,45.3588013]]]}},
        |{"type":"Feature","properties":{"cellId":2},
        | "geometry":{"type":"Polygon","coordinates":[[[9.0144914,45.3588009],[9.0174918,45.3588005],[9.0174913,45.3566852],[9.0144909,45.3566856],[9.0144914,45.3588009]]]}}
        |]}""".stripMargin)
    val cells = GeoJsonSource.gridCells(spark, f.toString).orderBy("cell_id").collect()
    assert(cells.length == 2)
    // reference off-by-one: cell_id = 0-based index while cellId is 1-based
    assert(cells.map(_.getAs[Int]("cell_id")).toSeq == Seq(0, 1))
    val bounds = cells(0).getAs[String]("bounds").split(",").map(_.toDouble)
    // reprojected coords are UTM metres: ~501k easting, ~5.02M northing
    assert(bounds(0) > 400000 && bounds(0) < 600000)
    assert(bounds(1) > 4900000 && bounds(1) < 5100000)
    assert(bounds(2) > bounds(0) && bounds(3) > bounds(1))
    assert(cells(0).getAs[String]("geometry").startsWith("POLYGON(("))
  }

  test("provinces coerces a population property when present (reference src/etl.py:79-82)") {
    val dir = Files.createTempDirectory("geojson_prov")
    val f = dir.resolve("provinces.geojson")
    Files.writeString(f,
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","properties":{"PROVINCIA":"MILANO","population":123},
        | "geometry":{"type":"MultiPolygon","coordinates":[[[[0,0],[1,0],[1,1],[0,0]]]]}},
        |{"type":"Feature","properties":{"PROVINCIA":"AOSTA","population":null},
        | "geometry":{"type":"MultiPolygon","coordinates":[[[[2,2],[3,2],[3,3],[2,2]]]]}}
        |]}""".stripMargin)
    val rows = GeoJsonSource.provinces(spark, f.toString).orderBy("provincia").collect()
    assert(rows.map(_.getAs[String]("provincia")).toSeq == Seq("AOSTA", "MILANO"))
    // coerce-or-0: present value cast to int, null → 0
    assert(rows.map(_.getAs[Int]("population")).toSeq == Seq(0, 123))
  }

  test("provinces tolerates a schema with only PROVINCIA (no name/population)") {
    val dir = Files.createTempDirectory("geojson_prov2")
    val f = dir.resolve("provinces.geojson")
    // the reference file's actual shape: PROVINCIA only — unconditional
    // references to properties.name would throw AnalysisException here
    Files.writeString(f,
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","properties":{"PROVINCIA":"TORINO"},
        | "geometry":{"type":"MultiPolygon","coordinates":[[[[0,0],[1,0],[1,1],[0,0]]]]}}
        |]}""".stripMargin)
    val rows = GeoJsonSource.provinces(spark, f.toString).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[String]("provincia") == "TORINO")
    assert(rows(0).getAs[Int]("population") == 0)
  }

  test("fixture writes are atomic: a concurrent reader never sees a partial file") {
    // Concurrent catalog queries rewrite the same fixture while others
    // scan it: every read must see one whole file, never a truncated one.
    val dir = Files.createTempDirectory("geojson-atomic")
    val text = GeoJsonFixture.gridJson(0L until 300L)
    val path = java.nio.file.Paths.get(GeoJsonFixture.write(dir, "grid.geojson", text))
    @volatile var stop = false
    val writer = new Thread(() => while (!stop) GeoJsonFixture.write(dir, "grid.geojson", text))
    writer.start()
    var (reads, partial) = (0, 0)
    try {
      val deadline = System.nanoTime() + 1000000000L
      while (System.nanoTime() < deadline) {
        if (Files.readString(path) != text) partial += 1
        reads += 1
      }
    } finally {
      stop = true
      writer.join()
    }
    assert(reads > 0)
    assert(partial == 0, s"$partial of $reads reads saw a partial file")
    val left = Files.list(dir)
    try assert(left.count() == 1L, "a temp file was left beside the fixture")
    finally left.close()
  }
}
