package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}

import graft.functions.HashFunctions

/** Deterministic GeoJSON FeatureCollection fixtures — the `SyntheticGeo`
  * move applied to the FILE format, so the GeoJSON sources (SURVEY.md §2.1
  * S4/S5; reference `src/etl.py:32,69` geopandas `read_file`) run under the
  * driver gate: every coordinate and property derives from table ids by
  * pure integer/mix64 arithmetic landing on exact binary fractions
  * (sixteenths over half-degree grid centers), so the JSON text
  * round-trips bit-exactly through any parser and a SQL oracle rebuilds
  * the same doubles without reading the file.
  *
  * Ids are emitted in ASCENDING order — the fixture's feature order is the
  * id order, which is what lets an oracle reproduce `feature_idx` (the
  * geopandas `gdf.index` surrogate-key semantics, off-by-one vs the
  * 1-based `cellId` property) with a row_number.
  */
object GeoJsonFixture {

  /** Grid FeatureCollection: one diamond Polygon per id, centered on the
    * q173 lon/lat grid (8–10°E × 44–46°N half-degree steps), radius
    * `(1 + (mix64(id) & 3)) / 16` degrees, `cellId` property = id + 1
    * (1-based, like the reference's grid file — the off-by-one that
    * `gridCells`' 0-based `feature_idx` surrogate deliberately ignores).
    * Ids must be non-negative (the grid math uses `%`). */
  def gridJson(ids: Seq[Long]): String = {
    val feats = ids.sorted.map { id =>
      require(id >= 0, s"gridJson: negative id $id")
      val mh = HashFunctions.mix64Long(id)
      val r = (1L + (mh & 3L)).toDouble / 16.0
      val cx = 8.0 + (id % 5) * 0.5
      val cy = 44.0 + ((id / 5) % 5) * 0.5
      val ring = Seq(
        (cx - r, cy), (cx, cy - r), (cx + r, cy), (cx, cy + r), (cx - r, cy))
        .map { case (x, y) => s"[$x,$y]" }.mkString("[", ",", "]")
      s"""{"type":"Feature","properties":{"cellId":${id + 1}},""" +
        s""""geometry":{"type":"Polygon","coordinates":[$ring]}}"""
    }
    s"""{"type":"FeatureCollection","features":[${feats.mkString(",")}]}"""
  }

  /** Provinces FeatureCollection: `PROVINCIA` cycles the mobility fixture
    * vocabulary's CLEAN names by `id % 12` (a dimension file carries
    * already-normalized names); `population` is a STRING property that is
    * valid digits (`mix64(id) >> 8 & 0xFFFF`) except when `mix64(id) & 3
    * == 0`, where it is the unparseable "n/a" — driving the
    * coerce-or-0 int cast (C4, reference src/etl.py:79-82). Geometry is a
    * one-triangle MultiPolygon on the same exact-binary grid. */
  def provincesJson(ids: Seq[Long]): String = {
    val names = graft.pipeline.IngestHarness.MobilityCleanNames
    val feats = ids.sorted.map { id =>
      require(id >= 0, s"provincesJson: negative id $id")
      val mh = HashFunctions.mix64Long(id)
      val pop = if ((mh & 3L) == 0L) "n/a" else ((mh >>> 8) & 0xffffL).toString
      val name = names((id % names.size).toInt)
      val cx = 8.0 + (id % 5) * 0.5
      val cy = 44.0 + ((id / 5) % 5) * 0.5
      val tri = s"[[[$cx,$cy],[${cx + 0.25},$cy],[$cx,${cy + 0.25}],[$cx,$cy]]]"
      s"""{"type":"Feature","properties":{"PROVINCIA":"$name","population":"$pop"},""" +
        s""""geometry":{"type":"MultiPolygon","coordinates":[$tri]}}"""
    }
    s"""{"type":"FeatureCollection","features":[${feats.mkString(",")}]}"""
  }

  /** Write a fixture to `dir/<name>` and return the absolute path.
    * Queries that run at once rewrite the same fixture while others scan
    * it, so the text lands in a hidden temp file beside it first and
    * replaces `<name>` by an atomic move: a reader sees the old file or
    * the new one, never a truncated one. */
  def write(dir: Path, name: String, json: String): String = {
    Files.createDirectories(dir)
    val p = dir.resolve(name)
    val tmp = Files.createTempFile(dir, s".$name", ".tmp")
    try {
      Files.writeString(tmp, json)
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
    p.toAbsolutePath.toString
  }
}
